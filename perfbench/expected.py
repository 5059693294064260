"""Expected outputs from the scalar NumPy oracle, and the output checks.

The oracle (``duke_spark.kernel.oracle``) walks one turn at a time, so it
runs in child processes: the triples over conversation chunks in four,
the canonical types and topics in one (the per-entity type needs every
mention). Results are cached per (workload, seed, input size) under the
work directory. The children run outside any timed or set-up section; in
untraced runs they overlap the untimed warm-up pass.

Each check returns a list of failure messages; an empty list passes.
``self_test`` corrupts an expected value and requires the check to fail.
"""

from __future__ import annotations

import json
import os
import pickle
import subprocess
import sys
from typing import Callable, Dict, List

import numpy as np
import pandas as pd

TRIPLE_COLS = ["subj", "pred", "obj", "conv_id", "turn_idx", "score"]
KEY_COLS = TRIPLE_COLS[:5]
# The oracle scores each turn's mentions in one float64 GEMM, the Spark
# kernel each batch's distinct mentions in another; BLAS may sum the
# D=1000 products in a different order for different row counts. The
# bound for reordering a float64 sum of 1000 terms of magnitude <= 1 is
# about 1000 * 2**-52 ~= 2.2e-13; differences seen are ~1e-16.
SCORE_TOL = 1e-12
_CHUNKS = 16  # oracle_triples runs over 16 conversation chunks in 4 children
_PROCS = 4


def _oracle_context():
    from duke_spark.fixtures.scale import scale_arrays
    from duke_spark.kernel.oracle import OracleContext
    from duke_spark.kernel.vectors import VocabEmbedding

    vocab, matrix, tree = scale_arrays()
    return OracleContext(VocabEmbedding(vocab, matrix), tree)


def _triples(ctx, pdf: pd.DataFrame) -> pd.DataFrame:
    from duke_spark.kernel.oracle import oracle_triples

    out = oracle_triples(ctx, pdf)
    out["turn_idx"] = out["turn_idx"].astype("int32")
    return out[TRIPLE_COLS]


def _canonical(ctx, pdf: pd.DataFrame) -> dict:
    """Canonical type per entity, topic and mention count per
    conversation, and the distinct and total triple counts. The topic is
    the tree fold of the conversation's mean mention score vector, as in
    the repo's describe_conversations parity test and its kg_conv_topics
    golden files."""
    from duke_spark.kernel.oracle import (oracle_canonical_types,
                                          oracle_mentions, oracle_triples)
    from duke_spark.kernel.tree import (PRODUCTION_TREE_AGG,
                                        aggregate_tree_scores)

    mentions = oracle_mentions(ctx, pdf)
    topics = {}
    for conv_id, grp in mentions.groupby("conv_id", sort=True):
        mean_vec = np.mean(np.stack(grp["class_scores"].to_list()), axis=0)
        agg = aggregate_tree_scores(ctx.classes, mean_vec, ctx.tree,
                                    PRODUCTION_TREE_AGG)
        topics[conv_id] = [ctx.classes[int(np.argmax(agg))], len(grp)]
    facts = oracle_triples(ctx, pdf)[["subj", "pred", "obj"]]
    return {"canonical": oracle_canonical_types(ctx, mentions),
            "topics": topics, "n_triples": int(len(facts)),
            "n_facts": int(len(facts.drop_duplicates()))}


def _worker(kind: str, input_path: str, index: int, procs: int,
            out_path: str) -> None:
    """Child process: every ``procs``-th chunk of the input, from
    ``index``, for ``triples``; the whole input for ``canonical``."""
    pdf = pd.read_parquet(input_path)
    ctx = _oracle_context()
    if kind == "canonical":
        result = _canonical(ctx, pdf)
    else:
        parts = np.array_split(pdf["conv_id"].unique(), _CHUNKS)
        result = pd.concat([_triples(ctx, pdf[pdf["conv_id"].isin(p)])
                            for p in parts[index::procs]],
                           ignore_index=True)
    with open(out_path, "wb") as f:
        pickle.dump(result, f)


def _cached(kind: str, procs: int, input_path: str, work_dir: str,
            cache_path: str, reduce, save, load) -> Callable[[], object]:
    """Load the cached value, or start ``procs`` oracle children
    (``python -m perfbench.expected``); either way return a function that
    returns the value, waiting for the children and filling the cache
    the first time."""
    if os.path.exists(cache_path):
        value = load(cache_path)
        return lambda: value
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outs = [os.path.join(work_dir, f"oracle-{i}.pkl") for i in range(procs)]
    children = [subprocess.Popen(
        [sys.executable, "-m", "perfbench.expected", kind, input_path,
         str(i), str(procs), outs[i]], cwd=root) for i in range(procs)]

    def finish():
        codes = [c.wait() for c in children]
        if any(codes):
            raise RuntimeError(f"oracle processes exited with {codes}")
        parts = []
        for path in outs:
            with open(path, "rb") as f:  # written by our own children
                parts.append(pickle.load(f))
            os.remove(path)
        value = reduce(parts)
        save(value, cache_path + ".tmp")
        os.replace(cache_path + ".tmp", cache_path)
        return value

    return finish


def oracle_triples(input_path: str, work_dir: str, cache_path: str):
    """``oracle_triples`` of the whole input (in _PROCS children)."""
    return _cached("triples", _PROCS, input_path, work_dir, cache_path,
                   lambda parts: pd.concat(parts, ignore_index=True),
                   lambda v, p: v.to_parquet(p, index=False),
                   pd.read_parquet)


def oracle_canonical(input_path: str, work_dir: str, cache_path: str):
    """``_canonical`` of the whole input, in one child: the per-entity
    types need every mention at once."""
    def save(v, p):
        with open(p, "w") as f:
            json.dump(v, f)

    def load(p):
        with open(p) as f:
            return json.load(f)

    return _cached("canonical", 1, input_path, work_dir, cache_path,
                   lambda parts: parts[0], save, load)


# --- checks -----------------------------------------------------------------

def key_digest(df: pd.DataFrame) -> int:
    """Order-independent digest of the triple keys: the sum modulo 2**64
    of one 64-bit hash per row."""
    keys = df[KEY_COLS].astype({"turn_idx": "int64"})
    return int(pd.util.hash_pandas_object(keys, index=False)
               .to_numpy().sum(dtype=np.uint64))


def full_digest(df: pd.DataFrame) -> str:
    """Order-independent digest of every column at full precision (scores
    by their float64 bits): equal digests mean bit-identical output."""
    d = df[TRIPLE_COLS].astype({"turn_idx": "int64", "score": "float64"})
    return format(int(pd.util.hash_pandas_object(d, index=False)
                      .to_numpy().sum(dtype=np.uint64)), "016x")


def check_triples(got: pd.DataFrame, exp: pd.DataFrame) -> List[str]:
    """Same row count and key multiset as the oracle; scores equal within
    SCORE_TOL row by row after sorting both on every column."""
    fails = []
    if len(got) != len(exp):
        return [f"triple count {len(got)} != oracle {len(exp)}"]
    if key_digest(got) != key_digest(exp):
        fails.append("triple key digest differs from the oracle")
    a = got[TRIPLE_COLS].sort_values(TRIPLE_COLS).reset_index(drop=True)
    b = exp[TRIPLE_COLS].sort_values(TRIPLE_COLS).reset_index(drop=True)
    same_keys = all((a[c].to_numpy() == b[c].to_numpy()).all()
                    for c in KEY_COLS)
    if not same_keys:
        fails.append("sorted triple keys differ from the oracle")
    else:
        diff = float(np.max(np.abs(a["score"].to_numpy() -
                                   b["score"].to_numpy()), initial=0.0))
        if diff > SCORE_TOL:
            fails.append(f"score differs from the oracle by {diff:.3g}")
    return fails


def check_canonical(vertices: pd.DataFrame, edges: pd.DataFrame,
                    topics: pd.DataFrame, exp: dict) -> Dict[str, List[str]]:
    ents = vertices[vertices["kind"] == "ent"]
    got_types = dict(zip(ents["label"], ents["canonical_type"]))
    got_topics = {c: [t, int(n)] for c, t, n in
                  zip(topics["conv_id"], topics["topic"],
                      topics["n_mentions"])}
    out = {"canonical_types": [], "topics": [], "edges": []}
    if got_types != exp["canonical"]:
        bad = sorted(k for k in set(got_types) | set(exp["canonical"])
                     if got_types.get(k) != exp["canonical"].get(k))
        out["canonical_types"].append(
            f"{len(bad)} canonical types differ from the oracle, "
            f"e.g. {bad[:3]}")
    if got_topics != exp["topics"]:
        bad = sorted(k for k in set(got_topics) | set(exp["topics"])
                     if got_topics.get(k) != exp["topics"].get(k))
        out["topics"].append(f"{len(bad)} conversation topics differ from "
                             f"the oracle, e.g. {bad[:3]}")
    if len(edges) != exp["n_facts"] or int(edges["n"].sum()) != \
            exp["n_triples"]:
        out["edges"].append(
            f"edges {len(edges)} rows / {int(edges['n'].sum())} triples, "
            f"oracle {exp['n_facts']} / {exp['n_triples']}")
    return out


def check_post(merge_map: pd.DataFrame, n_resolved: int,
               n_support: int, n_input: int) -> Dict[str, List[str]]:
    out = {"merge_map": [], "fact_support": []}
    if len(merge_map) == 0:
        out["merge_map"].append("no entity merged: the rewrite never ran")
    chained = set(merge_map["canonical"]) & set(merge_map["entity"])
    if chained:
        out["merge_map"].append(f"{len(chained)} canonical ids do not map "
                                f"to themselves, e.g. {sorted(chained)[:3]}")
    if not n_support == n_resolved == n_input:
        out["fact_support"].append(
            f"sum n_support {n_support}, resolved triples {n_resolved}, "
            f"input triples {n_input} differ")
    return out


def self_test(workload: str, outputs: dict, exp) -> None:
    """Corrupt the expected value in one way per check; raise unless the
    check then fails. ``outputs``/``exp`` are a passing pass's inputs to
    the workload's check."""
    def must_fail(label, fails):
        if not any(fails.values() if isinstance(fails, dict) else fails):
            raise AssertionError(f"self-test: check passed with {label}")

    if workload == "extract":
        got = outputs["triples"]
        must_fail("a dropped oracle row", check_triples(got, exp.iloc[1:]))
        bad = exp.copy()
        bad.loc[0, "obj"] = bad.loc[0, "obj"] + "_corrupt"
        must_fail("a renamed oracle object", check_triples(got, bad))
        bad = exp.copy()
        bad.loc[0, "score"] += 1e-9
        must_fail("a shifted oracle score", check_triples(got, bad))
    elif workload == "canonicalize":
        args = (outputs["vertices"], outputs["edges"], outputs["topics"])
        ent = next(iter(exp["canonical"]))
        must_fail("a changed canonical type", check_canonical(
            *args, {**exp, "canonical": {**exp["canonical"],
                                         ent: "corrupt"}}))
        conv = next(iter(exp["topics"]))
        must_fail("a changed topic", check_canonical(
            *args, {**exp, "topics": {**exp["topics"],
                                      conv: ["corrupt", 1]}}))
        must_fail("a changed triple count", check_canonical(
            *args, {**exp, "n_triples": exp["n_triples"] + 1}))
    else:
        mm = outputs["merge_map"]
        must_fail("a changed input count", check_post(
            mm, outputs["n_resolved"], outputs["n_support"], exp + 1))
        row = mm.iloc[:1]
        chained = pd.concat([mm, pd.DataFrame(
            {"entity": row["canonical"], "canonical": row["entity"]})])
        must_fail("a chained merge", check_post(
            chained, outputs["n_resolved"], outputs["n_support"], exp))


if __name__ == "__main__":
    _worker(sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4]),
            sys.argv[5])
