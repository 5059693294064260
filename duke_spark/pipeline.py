"""End-to-end KG construction pipeline (SURVEY §7 step 2-4 spine).

transcripts ──mapInPandas──► linked mentions (persisted) ──► triples
                                    │
                                    ├─► canonicalization (tiny shuffle +
                                    │   one batched driver fold)
                                    └─► vertices/edges (hash aggregates,
                                        broadcast joins)

Physical profile: one narrow UDF stage over the scan + a window shuffle
for triples + two small shuffles (entity/mention counts; edge
aggregation) + one (≤ C × C) driver fold — the shape SURVEY §4 calls
for. Skew: the UDF stage is per-split (hot conversations don't matter
there); grouped stages lean on AQE skew handling, enabled in
config.get_spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from duke_spark.operators.canonical import canonical_types_df
from duke_spark.operators.graph import build_edges, build_vertices
from duke_spark.operators.linking import LinkContext
from duke_spark.operators.mentions import linked_mentions
from duke_spark.operators.triples import triples_from_mentions


def make_context(spark: SparkSession, vocab=None, matrix=None,
                 raw_tree=None):
    """Build + broadcast the LinkContext (fixture defaults)."""
    from duke_spark.fixtures.class_tree import mini_tree
    from duke_spark.fixtures.embedding import embedding_arrays

    if vocab is None or matrix is None:
        vocab, matrix = embedding_arrays()
    if raw_tree is None:
        raw_tree = mini_tree()
    ctx = LinkContext(vocab, matrix, raw_tree)
    return spark.sparkContext.broadcast(ctx)


def build_kg(spark: SparkSession, transcripts: DataFrame, ctx_bc) -> dict:
    """Run the full pipeline; returns dict of DataFrames (lazy where
    possible). Mentions are persisted because three consumers share them
    (the reference's embed-once-reuse pattern, ``Duke/evaluate.py:78-86``);
    triples reuse them, since one window shuffle beats re-scanning and
    re-embedding the input.
    """
    mentions = linked_mentions(transcripts, ctx_bc).persist()
    triples = triples_from_mentions(mentions)
    canonical = canonical_types_df(spark, mentions, ctx_bc)
    vertices = build_vertices(mentions, canonical)
    edges = build_edges(triples)
    return {"mentions": mentions, "triples": triples,
            "canonical": canonical, "vertices": vertices, "edges": edges}
