"""Contract-strengthening for the four rows-only KG driver queries
(VERDICT r2 #8): the grading driver can only record ``spark_rows`` for
kg_triples_docs / kg_vertices / kg_duke_describe / kg_conv_topics (the
pandas-UDF embedding matmul + tree fold are not SQL-expressible), so
these tests pin FULL VALUE PARITY for the exact driver query callables
on the exact driver data path (``/root/testdata`` parquet through
``_docs_as_transcripts`` and ``_corpus_context``) against the
independent NumPy oracle. The row count the driver sees is then a
verified quantity, not a bare number: any change to it without a
matching oracle change fails here first.
"""

import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry
from duke_spark.fixtures.class_tree import mini_tree
from duke_spark.kernel.oracle import (OracleContext, describe_conversation,
                                      oracle_canonical_types,
                                      oracle_mentions, oracle_topic,
                                      oracle_triples)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def driver_ctx(spark):
    """The driver's own corpus LinkContext → an equivalent OracleContext
    (same vocab/matrix/tree, independent NumPy execution path)."""
    ctx = entry._corpus_context(spark, SF_DIR).value
    return OracleContext(ctx.embedding, mini_tree())


@pytest.fixture(scope="module")
def transcripts_pdf(spark):
    return entry._docs_as_transcripts(spark, SF_DIR).toPandas()


def test_kg_triples_docs_full_parity(spark, driver_ctx, transcripts_pdf):
    got = entry.kg_triples_docs(spark, SF_DIR).toPandas()
    exp = oracle_triples(driver_ctx, transcripts_pdf)
    assert len(got) == len(exp) > 0
    key = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    got["turn_idx"] = got["turn_idx"].astype("int64")
    a = got.sort_values(key).reset_index(drop=True)
    b = exp.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a[key], b[key])
    # the driver query rounds score to 6 dp (golden-oracle float policy);
    # round the raw oracle the same way — f64-accumulated scores agree to
    # ~1e-16, so the rounded values must be exactly equal
    np.testing.assert_allclose(a["score"].to_numpy(),
                               np.round(b["score"].to_numpy(), 6),
                               rtol=0, atol=0)


def test_kg_vertices_full_parity(spark, driver_ctx, transcripts_pdf):
    got = entry.kg_vertices(spark, SF_DIR).toPandas().set_index("id") \
        .sort_index()
    men = oracle_mentions(driver_ctx, transcripts_pdf)
    canon = oracle_canonical_types(driver_ctx, men)

    exp_ids = ({f"ent:{e}" for e in men["entity"].unique()} |
               {f"conv:{c}" for c in men["conv_id"].unique()})
    tools = transcripts_pdf["tool"].dropna().unique() \
        if "tool" in transcripts_pdf else []
    exp_ids |= {f"tool:{t}" for t in tools}
    assert set(got.index) == exp_ids

    for e, grp in men.groupby("entity"):
        row = got.loc[f"ent:{e}"]
        assert row["canonical_type"] == canon[e], e
        # query rounds score to 6 dp (golden-oracle float policy)
        assert row["score"] == pytest.approx(
            round(grp["entity_score"].mean(), 6), abs=1e-12)


def test_kg_duke_describe_full_parity(spark, driver_ctx, transcripts_pdf):
    got = entry.kg_duke_describe(spark, SF_DIR).toPandas() \
        .set_index("conv_id").sort_index()
    n_checked = 0
    for conv_id, conv in transcripts_pdf.groupby("conv_id"):
        exp = describe_conversation(driver_ctx, conv)
        if exp is None:
            assert conv_id not in got.index
            continue
        n_checked += 1
        assert got.loc[conv_id, "description"] == exp["description"], conv_id
        top_exp = exp["top"][0][0]
        assert got.loc[conv_id, "top_class"] == top_exp, conv_id
    assert n_checked == len(got) > 0


def test_kg_conv_topics_full_parity(spark, driver_ctx, transcripts_pdf):
    got = entry.kg_conv_topics(spark, SF_DIR).toPandas() \
        .set_index("conv_id").sort_index()
    men = oracle_mentions(driver_ctx, transcripts_pdf)
    assert set(got.index) == set(men["conv_id"].unique())
    for conv_id, grp in men.groupby("conv_id"):
        mean_vec = np.mean(np.stack(grp["class_scores"].to_list()), axis=0)
        assert got.loc[conv_id, "topic"] == oracle_topic(driver_ctx,
                                                         mean_vec), conv_id
        assert got.loc[conv_id, "n_mentions"] == len(grp), conv_id


def test_kg_typed_pattern_consistent_with_triples_and_vertices(spark):
    """The typed-pattern rollup must equal the same composition
    re-derived in pandas from the (independently parity-tested)
    kg_triples_docs and kg_vertices outputs."""
    got = entry.kg_typed_pattern(spark, SF_DIR).toPandas()
    trip = entry.kg_triples_docs(spark, SF_DIR).toPandas()
    verts = entry.kg_vertices(spark, SF_DIR).toPandas()
    m = (trip[trip["pred"] == "mentions"][["subj", "obj"]]
         .drop_duplicates()
         .merge(verts[["id", "canonical_type"]],
                left_on="obj", right_on="id"))
    exp = (m.groupby(["subj", "canonical_type"])["obj"]
           .nunique().reset_index())
    exp.columns = ["conv", "canonical_type", "n_entities"]
    got_s = got.sort_values(["conv", "canonical_type"]) \
        .reset_index(drop=True)
    exp_s = exp.sort_values(["conv", "canonical_type"]) \
        .reset_index(drop=True)
    assert got_s["conv"].tolist() == exp_s["conv"].tolist()
    assert got_s["canonical_type"].tolist() == \
        exp_s["canonical_type"].tolist()
    assert got_s["n_entities"].tolist() == exp_s["n_entities"].tolist()
