"""Canonicalization (SURVEY B6): per-entity class-score aggregation up the
ontology tree, production agg parent = mean, children = max
(``Duke/DukeRestListener.py:37-39``).

Scale shape (SURVEY §4): the per-mention score matrix NEVER leaves the
Python workers. Because scoring is linear, the per-entity mean over all
mention occurrences equals the count-weighted mean over DISTINCT mention
strings — so the only shuffle is ``groupBy(entity, mention).count()``
(tiny: bounded by distinct mention text), followed by an
``applyInPandas`` re-score per entity group (≤ C groups) emitting one
C-float row per entity. Entities are ``classes[argmax]``, so at most C
rows reach the driver, where they are folded up the tree as ONE (N, C)
matrix (``kernel.tree.aggregate_tree_scores``; reference:
``Duke/dataset_descriptor.py:99-107`` → ``Duke/class_tree.py:63-91``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duke_spark.kernel.tree import PRODUCTION_TREE_AGG, aggregate_tree_scores
from duke_spark.kernel.vectors import score_against_classes
from duke_spark.operators.linking import LinkContext, score_mentions_batch

_ENTITY_SCORES_SCHEMA = T.StructType([
    T.StructField("entity", T.StringType()),
    T.StructField("n_mentions", T.LongType()),
    T.StructField("mean_scores", T.ArrayType(T.DoubleType())),
])


def entity_mean_scores(mentions: DataFrame, ctx_bc) -> DataFrame:
    """(entity, n_mentions, mean class-score vector) — distributed part."""
    counts = (mentions
              .groupBy("entity", "mention")
              .agg(F.count(F.lit(1)).alias("cnt")))

    def agg_group(pdf: pd.DataFrame) -> pd.DataFrame:
        ctx: LinkContext = ctx_bc.value
        mean_vec = score_mentions_batch(pdf["mention"], pdf["cnt"], ctx)
        return pd.DataFrame({
            "entity": [pdf["entity"].iloc[0]],
            "n_mentions": [int(pdf["cnt"].sum())],
            "mean_scores": [mean_vec.tolist()],
        })

    return counts.groupBy("entity").applyInPandas(
        agg_group, schema=_ENTITY_SCORES_SCHEMA)


def canonical_types(mentions: DataFrame, ctx_bc) -> pd.DataFrame:
    """Collect per-entity mean vectors (≤ C rows) and fold them up the tree
    in one call on the driver; returns pandas (entity, canonical_type,
    n_mentions)."""
    ctx: LinkContext = ctx_bc.value
    pdf = entity_mean_scores(mentions, ctx_bc).toPandas()
    types = []
    if len(pdf):
        agg = aggregate_tree_scores(ctx.classes,
                                    np.stack(pdf["mean_scores"].to_list()),
                                    ctx.levels, PRODUCTION_TREE_AGG)
        types = [ctx.classes[i] for i in np.argmax(agg, axis=1)]
    return (pd.DataFrame({"entity": pdf["entity"], "canonical_type": types,
                          "n_mentions": pdf["n_mentions"]})
            .sort_values("entity").reset_index(drop=True))


def canonical_types_df(spark, mentions: DataFrame, ctx_bc) -> DataFrame:
    """Spark DataFrame form, broadcast-join-able against vertices."""
    pdf = canonical_types(mentions, ctx_bc)
    schema = T.StructType([
        T.StructField("entity", T.StringType()),
        T.StructField("canonical_type", T.StringType()),
        T.StructField("n_mentions", T.LongType()),
    ])
    if len(pdf) == 0:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(pdf, schema)


_CONV_PARTIAL_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("sum_scores", T.ArrayType(T.DoubleType())),
    T.StructField("n", T.LongType()),
])


def _conv_score_partials(mentions: DataFrame, ctx_bc) -> DataFrame:
    """Per-Arrow-batch partial (conv_id, Σ score-vec, n) — the map-side
    combine for all per-conversation scoring (same shape as
    ``describe.source_score_partials``).

    Each distinct mention in the batch is embedded + scored ONCE
    (factorize → one matmul), then fanned out to its (conv, mention)
    occurrence counts with one weighted ``np.add.at``. A mention appearing
    in 10k conversations is therefore scored once per batch it occurs in —
    never once per conversation, which made the old
    groupBy(conv_id).applyInPandas re-score path the slowest bench query.
    Shuffle volume is O(batches × convs-per-batch × C) float64, never
    O(mentions × C)."""
    pruned = mentions.select("conv_id", "mention")

    def run(batches):
        ctx: LinkContext = ctx_bc.value
        for pdf in batches:
            # null mentions must go BEFORE factorize: pd.factorize codes
            # them -1, and the pair decode (puniq % len(uniq_m)) would
            # silently credit their weight to the LAST distinct mention.
            pdf = pdf.dropna(subset=["mention"])
            if len(pdf) == 0:
                continue
            codes_m, uniq_m = pd.factorize(pdf["mention"])
            vecs = ctx.embedding.embed_groups(
                [m.split(" ") for m in uniq_m])
            scores = score_against_classes(
                vecs, ctx.class_matrix).astype(np.float64)
            codes_c, uniq_c = pd.factorize(pdf["conv_id"])
            # collapse to (conv, mention) pairs so the score gather is
            # O(distinct pairs × C), not O(rows × C)
            pair = codes_c.astype(np.int64) * len(uniq_m) + codes_m
            pcodes, puniq = pd.factorize(pair)
            w = np.bincount(pcodes).astype(np.float64)
            pc = puniq // len(uniq_m)
            pm = puniq % len(uniq_m)
            sums = np.zeros((len(uniq_c), scores.shape[1]))
            np.add.at(sums, pc, scores[pm] * w[:, None])
            counts = np.bincount(codes_c, minlength=len(uniq_c))
            yield pd.DataFrame({
                "conv_id": uniq_c,
                "sum_scores": list(sums),
                "n": counts.astype(np.int64),
            })

    return pruned.mapInPandas(run, schema=_CONV_PARTIAL_SCHEMA)


def conversation_class_scores(mentions: DataFrame, ctx_bc) -> DataFrame:
    """Per-conversation mean class-score vector (the distributed analogue of
    Duke's per-source row aggregation, ``Duke/dataset_descriptor.py:73-74``)
    — reused by the flagship 'what is this conversation about?' query.
    Built from batch partials (see ``_conv_score_partials``); the reduce
    only sums C-float arrays, no re-embedding anywhere."""
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("n_mentions", T.LongType()),
        T.StructField("mean_scores", T.ArrayType(T.DoubleType())),
    ])

    def reduce_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sums = np.sum(np.stack(pdf["sum_scores"].to_list()), axis=0)
        n = int(pdf["n"].sum())
        return pd.DataFrame({
            "conv_id": [pdf["conv_id"].iloc[0]],
            "n_mentions": [n],
            "mean_scores": [(sums / n).tolist()],
        })

    return (_conv_score_partials(mentions, ctx_bc)
            .groupBy("conv_id").applyInPandas(reduce_group, schema=schema))


def describe_conversations(spark, mentions: DataFrame, ctx_bc) -> DataFrame:
    """Per-conversation canonical topic — Duke's summary sentence
    (``Duke/dataset_descriptor.py:82-88``) over the mention path.

    Conversations are unbounded, so the tree fold runs in the workers:
    ``conversation_class_scores`` reduces the batch partials to one mean
    vector per conversation, then each Arrow batch of those rows is
    folded as one (N, C) matrix, and only (conv_id, topic) rows leave
    the workers — no per-conversation score vectors on the driver at any
    scale."""
    from duke_spark.kernel.text import pluralize

    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("topic", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("n_mentions", T.LongType()),
    ])

    def run(batches):
        ctx: LinkContext = ctx_bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            agg = aggregate_tree_scores(
                ctx.classes, np.stack(pdf["mean_scores"].to_list()),
                ctx.levels, PRODUCTION_TREE_AGG)
            topics = [ctx.classes[i] for i in np.argmax(agg, axis=1)]
            yield pd.DataFrame({
                "conv_id": pdf["conv_id"],
                "topic": topics,
                "description": [f"This conversation is about "
                                f"{pluralize(t)}." for t in topics],
                "n_mentions": pdf["n_mentions"],
            })

    return conversation_class_scores(mentions, ctx_bc).mapInPandas(
        run, schema=schema)
