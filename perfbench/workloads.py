"""The KG-pipeline workloads.

Each workload generates its transcripts from the run's seed with
``fixtures.transcripts.generate_transcripts``, runs one *pass* of the
pipeline stage it measures through public ``duke_spark`` functions, and
checks a pass's outputs against ``expected.py``. A pass writes into its
own output directory; ``spans(name)`` opens a benchmark span around each
call into a module (a no-op context in untraced runs).

Why these two (see README.md for the layer predictions):
  * extract      - linking kernel (gather, GEMM, segmentation); no tree fold
  * canonicalize - one 788-class tree fold per conversation and per entity
The post-extraction stages (resolve, validate, fact support, store) are
traced on extract's output in extract's traced runs only.
"""

from __future__ import annotations

import contextlib
import importlib
import os
import time
from typing import Dict, List

import pandas as pd
import pyarrow.parquet as pq

from perfbench import expected
from perfbench.trace import Tracer, patched, traced

CORES = 3                 # task slots: one vCPU is left to the JVM
NUM_PARTS = 64            # TripleCheckpoint's default, as build_kg uses it
REPLAY_BATCH = 10_000     # config.py's arrow.maxRecordsPerBatch
RESOLVE_THRESHOLD = 0.7   # non-empty merge map on this fixture
# the closed shapes jobs/build_kg.py passes to validate_graph (--validate)
BUILD_KG_SHAPES = {
    "mentions": {"subject_prefix": "conv:", "object_prefix": "ent:"},
    "co_mentioned": {"subject_prefix": "ent:", "object_prefix": "ent:",
                     "irreflexive": True},
    "used_tool": {"subject_prefix": "ent:", "object_prefix": "tool:",
                  "subject_in": ("mentions", "obj")},
}


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory from its footers (no Spark job)."""
    return pq.ParquetDataset(path).read(columns=[]).num_rows


def read_parquet(path: str, columns=None) -> pd.DataFrame:
    return pq.ParquetDataset(path).read(columns=columns).to_pandas()


def trim_turns(pdf: pd.DataFrame, turns: int) -> pd.DataFrame:
    """Shorten the last conversations, never below one turn, until the
    table holds exactly ``turns`` turns, so every seed gives a pass the
    same amount of work and the same number of conversations."""
    sizes = pdf.groupby("conv_id", sort=False).size()
    excess = len(pdf) - turns
    if excess < 0 or excess > int((sizes - 1).sum()):
        raise ValueError(f"{len(pdf)} turns in {len(sizes)} conversations "
                         f"cannot be trimmed to {turns}")
    keep = {}
    for conv, n in reversed(list(sizes.items())):
        if not excess:
            break
        cut = min(excess, n - 1)
        keep[conv] = n - cut
        excess -= cut
    limit = pdf["conv_id"].map(keep).fillna(len(pdf))
    return pdf[pdf["turn_idx"] < limit].reset_index(drop=True)


class Workload:
    name = ""
    gen_kwargs: Dict = {}
    turns = 0  # the generated table is trimmed to this many turns

    def __init__(self, seed: int, work_dir: str, cache_dir: str):
        self.seed = seed
        self.work_dir = work_dir
        self.cache_dir = cache_dir
        self.input_path = os.path.join(work_dir, "input",
                                       "transcripts.parquet")
        self.pdf = None
        self.expected = None

    @property
    def size_tag(self) -> str:
        return "-".join(f"{k}{v}" for k, v in sorted(
            {**self.gen_kwargs, "turns": self.turns}.items()))

    def make_input(self) -> None:
        from duke_spark.fixtures.transcripts import generate_transcripts

        self.pdf = trim_turns(generate_transcripts(seed=self.seed,
                                                   **self.gen_kwargs),
                              self.turns)
        os.makedirs(os.path.dirname(self.input_path), exist_ok=True)
        self.pdf.to_parquet(self.input_path, index=False)

    def input_sizes(self) -> dict:
        return {"convs": int(self.pdf["conv_id"].nunique()),
                "turns": int(len(self.pdf)), **self.gen_kwargs}

    def details(self, outputs: dict) -> dict:
        """Per-pass facts recorded next to the check results."""
        return {}

    def trace_extras(self, spark, ctx_bc, store_dir: str, run_dir: str,
                     spans) -> dict:
        """Traced runs only: extra traced work after the traced pass;
        returns {label: (check failures, counts)}."""
        return {}

    def cache_path(self, ext: str) -> str:
        return os.path.join(self.cache_dir, f"{self.name}-seed{self.seed}"
                            f"-{self.size_tag}.{ext}")

    def staged_transcripts(self, spark, spans):
        from duke_spark.sources.transcripts import read_transcripts

        # as jobs/build_kg.py: spread over the cores, cache, materialize
        with spans("sources.transcripts.read_transcripts"):
            df = read_transcripts(spark, self.input_path)
            df = df.repartition(CORES * 2).persist()
            df.count()
        return df


class Extract(Workload):
    name = "extract"
    gen_kwargs = {"n_convs": 300, "max_turns": 24, "hot_frac": 0.3}
    turns = 4400  # generated over 200 seeds: mean 4867, sd 106, least 4594

    def start_expected(self):
        return expected.oracle_triples(self.input_path, self.work_dir,
                                       self.cache_path("parquet"))

    def run_pass(self, spark, ctx_bc, out_dir: str, spans) -> None:
        from duke_spark.plans.checkpoint import TripleCheckpoint

        tr = self.staged_transcripts(spark, spans)
        with spans("plans.checkpoint.TripleCheckpoint.run"):
            TripleCheckpoint(out_dir, num_parts=NUM_PARTS).run(
                spark, tr, ctx_bc, input_path=self.input_path)
        tr.unpersist()

    def outputs(self, out_dir: str) -> dict:
        return {"triples": read_parquet(os.path.join(out_dir, "triples"),
                                        expected.TRIPLE_COLS)}

    def items(self, outputs: dict) -> dict:
        return {"triples": len(outputs["triples"]),
                "convs": self.input_sizes()["convs"]}

    def check(self, outputs: dict) -> Dict[str, List[str]]:
        return {"triples": expected.check_triples(outputs["triples"],
                                                  self.expected)}

    def details(self, outputs: dict) -> dict:
        return {"triple_digest": expected.full_digest(outputs["triples"])}

    def trace_extras(self, spark, ctx_bc, store_dir: str, run_dir: str,
                     spans) -> dict:
        """The post-extraction stages, once, under spans, over the traced
        pass's triple store. Their layers are measured here, cold,
        because a workload of their own does not fit the benchmark's time
        budget (README.md)."""
        out_dir = os.path.join(run_dir, "post-traced")
        post_stages(spark, ctx_bc, store_dir, out_dir, spans)
        return {"post-traced": check_post_stages(
            out_dir, parquet_rows(os.path.join(store_dir, "triples")))}


class Canonicalize(Workload):
    name = "canonicalize"
    gen_kwargs = {"n_convs": 64, "max_turns": 4, "hot_frac": 0.0}
    turns = 128  # generated over 200 seeds: mean 159, sd 8, least 136

    def start_expected(self):
        return expected.oracle_canonical(self.input_path, self.work_dir,
                                         self.cache_path("json"))

    def run_pass(self, spark, ctx_bc, out_dir: str, spans) -> None:
        from duke_spark.operators.canonical import describe_conversations
        from duke_spark.pipeline import build_kg

        tr = self.staged_transcripts(spark, spans)
        with spans("pipeline.build_kg"):
            kg = build_kg(spark, tr, ctx_bc)
        # the writes evaluate the lazily built plans, so each is timed
        # under the span of the function that built it
        with spans("operators.graph.build_vertices"):
            kg["vertices"].write.parquet(os.path.join(out_dir, "vertices"))
        with spans("operators.graph.build_edges"):
            kg["edges"].write.parquet(os.path.join(out_dir, "edges"))
        with spans("operators.canonical.describe_conversations"):
            describe_conversations(spark, kg["mentions"], ctx_bc) \
                .write.parquet(os.path.join(out_dir, "topics"))
        kg["mentions"].unpersist()
        tr.unpersist()

    def outputs(self, out_dir: str) -> dict:
        return {k: read_parquet(os.path.join(out_dir, k))
                for k in ("vertices", "edges", "topics")}

    def items(self, outputs: dict) -> dict:
        """Triples aggregated into edges; conversations with a topic."""
        return {"triples": int(outputs["edges"]["n"].sum()),
                "convs": len(outputs["topics"])}

    def check(self, outputs: dict) -> Dict[str, List[str]]:
        return expected.check_canonical(outputs["vertices"],
                                        outputs["edges"], outputs["topics"],
                                        self.expected)



def post_stages(spark, ctx_bc, store_dir: str, out_dir: str, spans) -> None:
    """The post-extraction stages of ``jobs/build_kg.py --resolve 0.7
    --resolve-guard --validate --fact-support --partition-triples``, in
    its order, over the triple store in ``store_dir``."""
    from duke_spark.operators.entity_resolution import resolve_kg_entities
    from duke_spark.operators.triples import fact_support
    from duke_spark.operators.validation import validate_graph
    from duke_spark.plans.checkpoint import TripleCheckpoint
    from duke_spark.sources.triple_store import write_triple_store

    def out(name):
        return os.path.join(out_dir, name)

    triples = TripleCheckpoint(store_dir, NUM_PARTS).read_triples(spark)
    with spans("operators.entity_resolution.resolve_kg_entities"):
        mm, resolved = resolve_kg_entities(
            triples, ctx_bc, threshold=RESOLVE_THRESHOLD, type_guard=True)
        n_merged = mm.count()
        mm.write.parquet(out("merge_map"))
        if n_merged:
            resolved.write.parquet(out("triples_resolved"))
        mm.unpersist()
    src = spark.read.parquet(out("triples_resolved")) if n_merged \
        else triples
    with spans("operators.validation.validate_graph"):
        validate_graph(src, BUILD_KG_SHAPES, closed=True) \
            .write.parquet(out("violations"))
    with spans("operators.triples.fact_support"):
        fact_support(src).write.parquet(out("fact_support"))
    with spans("sources.triple_store.write_triple_store"):
        write_triple_store(src, out("triples_by_pred"))


def check_post_stages(out_dir: str, n_input: int):
    """(check failures, counts) for one ``post_stages`` output."""
    resolved = os.path.join(out_dir, "triples_resolved")
    merge_map = read_parquet(os.path.join(out_dir, "merge_map"))
    n_resolved = parquet_rows(resolved) if os.path.isdir(resolved) \
        else n_input
    n_support = int(read_parquet(os.path.join(out_dir, "fact_support"),
                                 ["n_support"])["n_support"].sum())
    fails = expected.check_post(merge_map, n_resolved, n_support, n_input)
    counts = {"merged": len(merge_map),
              "violations": parquet_rows(os.path.join(out_dir,
                                                      "violations")),
              "facts": parquet_rows(os.path.join(out_dir, "fact_support"))}
    if not any(fails.values()):
        expected.self_test("post", {"merge_map": merge_map,
                                    "n_resolved": n_resolved,
                                    "n_support": n_support}, n_input)
    return fails, counts


WORKLOADS = {w.name: w for w in (Extract, Canonicalize)}


def no_span(name: str):
    return contextlib.nullcontext()


# --- traced-pass wrappers -------------------------------------------------

def pass_patches(tracer: Tracer, kernels: Tracer):
    """Spans around the functions ``pipeline.build_kg`` calls, and the
    driver-side tree fold (``canonical_types`` folds each entity on the
    driver; per-conversation and per-label folds run in the workers and
    are counted there, see ``trace.install_worker_fold_counter``).

    Traced runs only: ``linked_mentions`` is persisted and materialized
    inside its own span, so the linking stage is not charged to the first
    consumer (``canonical_types_df``) as it is in untraced passes, where
    ``build_kg``'s persist fills on first use. The work is the same plus
    one count action."""
    def linked(fn):
        def run(*args, **kwargs):
            with tracer.span("operators.mentions.linked_mentions"):
                df = fn(*args, **kwargs).persist()
                df.count()
            return df
        return run

    def span(name):
        return lambda fn: traced(tracer, name, fn)

    # both module attributes hold the same function: bind one wrapper to
    # both, so cloudpickle ships it to workers by reference (trace.traced)
    tree = importlib.import_module("duke_spark.kernel.tree")
    fold = traced(kernels, "kernel.tree.aggregate_tree_scores",
                  tree.aggregate_tree_scores)
    return [
        ("duke_spark.pipeline", "linked_mentions", linked),
        ("duke_spark.pipeline", "canonical_types_df",
         span("operators.canonical.canonical_types_df")),
        ("duke_spark.pipeline", "build_vertices",
         span("operators.graph.build_vertices")),
        ("duke_spark.pipeline", "build_edges",
         span("operators.graph.build_edges")),
        ("duke_spark.kernel.tree", "aggregate_tree_scores",
         lambda fn: fold),
        ("duke_spark.operators.canonical", "aggregate_tree_scores",
         lambda fn: fold),
    ]


# --- kernel replay --------------------------------------------------------

def replay_link_batch(pdf: pd.DataFrame, ctx) -> Dict[str, float]:
    """Run ``link_batch`` + ``triples_batch`` single-threaded in the driver
    over ``pdf`` in 10,000-row batches, with its kernels wrapped."""
    from duke_spark.kernel.vectors import VocabEmbedding
    from duke_spark.operators.linking import link_batch
    from duke_spark.operators.triples import triples_batch

    k = Tracer()
    dim, n_cls = ctx.class_matrix.shape[1], ctx.class_matrix.shape[0]
    patches = [
        ("duke_spark.operators.linking", "tokenize_series",
         lambda fn: traced(k, "kernel.text.tokenize_series", fn)),
        (VocabEmbedding, "embed_groups",
         lambda fn: traced(k, "kernel.vectors.embed_groups", fn,
                           lambda a, kw, r: {"rows": len(r)})),
        ("duke_spark.operators.linking", "score_against_classes",
         lambda fn: traced(k, "kernel.vectors.score_against_classes", fn,
                           lambda a, kw, r: {"flop": 2 * r.shape[0] *
                                             dim * n_cls})),
    ]
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    mentions = unique = 0
    t0 = time.perf_counter()
    with patched(patches):
        for start in range(0, len(pdf), REPLAY_BATCH):
            batch = pdf.iloc[start:start + REPLAY_BATCH][cols]
            with k.span("operators.linking.link_batch"):
                m = link_batch(batch, ctx)
            with k.span("operators.triples.triples_batch"):
                triples_batch(m)
            mentions += len(m)
            unique += m["mention"].nunique()
    wall = time.perf_counter() - t0
    busy, self_s = k.busy_s(), k.self_s()
    lb, tb = "operators.linking.link_batch", "operators.triples.triples_batch"
    out = {f"{n}.busy_s": busy.get(n, 0.0) for n in (
        "kernel.text.tokenize_series", "kernel.vectors.embed_groups",
        "kernel.vectors.score_against_classes", lb, tb)}
    out.update({
        "kernel.vectors.embed_groups.rows":
            k.counters["kernel.vectors.embed_groups.rows"],
        "kernel.vectors.score_against_classes.flop":
            k.counters["kernel.vectors.score_against_classes.flop"],
        f"{lb}.self_s": self_s.get(lb, 0.0),
        f"{lb}.mentions": mentions,
        f"{lb}.unique_mentions": unique,
        # share of the replay loop's wall time inside the named spans
        # (link_batch's children + its self time, and triples_batch)
        "kernel.replay.coverage":
            (busy.get(lb, 0.0) + busy.get(tb, 0.0)) / wall if wall else 0.0,
    })
    return out
