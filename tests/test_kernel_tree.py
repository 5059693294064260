"""Pin the class-tree fold: the oracle ``tree_score`` layered-fold
semantics on hand-built trees, including the production agg config
parent = mean, children = max (`Duke/class_tree.py:63-102`,
`Duke/agg_functions.py:16-23`, `Duke/DukeRestListener.py:37-39`) and the
multi-parent/isolated cases; then the batched kernel
``aggregate_tree_scores`` equal to that oracle with atol=0, and the
level schedule's handling of cycles and asymmetric edges."""

import numpy as np
import pytest

from duke_spark.eval import config_grid
from duke_spark.fixtures.class_tree import mini_tree
from duke_spark.fixtures.embedding import build_embedding
from duke_spark.fixtures.scale import big_tree
from duke_spark.kernel.oracle import tree_score
from duke_spark.kernel.tree import (PRODUCTION_TREE_AGG, TreeAgg, TreeLevels,
                                    aggregate_tree_scores,
                                    normalize_class_tree)

THREE_LEVEL = {
    "root": {"parents": [], "children": ["mid1", "mid2"]},
    "mid1": {"parents": ["root"], "children": ["leaf1", "leaf2"]},
    "mid2": {"parents": ["root"], "children": []},
    "leaf1": {"parents": ["mid1"], "children": []},
    "leaf2": {"parents": ["mid1"], "children": []},
}

SCORES = {"root": 0.1, "mid1": 0.2, "mid2": 0.7, "leaf1": 0.4, "leaf2": 0.6}

AGGS = [PRODUCTION_TREE_AGG, *config_grid().values()]


def test_tree_score_max():
    agg = tree_score(SCORES, THREE_LEVEL, max)
    assert agg["leaf1"] == 0.4
    assert agg["mid1"] == 0.6          # max(0.2, 0.4, 0.6)
    assert agg["mid2"] == 0.7
    assert agg["root"] == 0.7          # max(0.1, 0.6, 0.7)


def test_tree_score_mean():
    agg = tree_score(SCORES, THREE_LEVEL, np.mean)
    assert agg["mid1"] == pytest.approx((0.2 + 0.4 + 0.6) / 3)
    assert agg["root"] == pytest.approx(np.mean([0.1, agg["mid1"], 0.7]))


def test_production_agg():
    # parent = mean, children = max: mean([own, max(children)])
    agg = tree_score(SCORES, THREE_LEVEL, PRODUCTION_TREE_AGG)
    assert agg["mid1"] == pytest.approx(np.mean([0.2, max(0.4, 0.6)]))
    assert agg["mid2"] == 0.7          # leaf: own score
    assert agg["root"] == pytest.approx(np.mean([0.1, max(agg["mid1"], 0.7)]))


def test_parent_children_single_element():
    f = TreeAgg("mean", "max")
    assert f([0.42]) == 0.42
    with pytest.raises(ValueError, match="mean or max"):
        TreeAgg("mean", "sum")


def test_multi_parent_and_isolated():
    tree = mini_tree()
    scores = {c: 0.1 + 0.01 * i for i, c in enumerate(tree)}
    agg = tree_score(scores, tree, PRODUCTION_TREE_AGG)
    assert set(agg) == set(tree)
    # multi-parent node "album" feeds both "work" and "record"
    assert agg["work"] == pytest.approx(np.mean([
        scores["work"],
        max(agg["album"], agg["film"], agg["book"], agg["software"],
            agg["song"]),
    ]))
    assert agg["record"] == pytest.approx(np.mean([scores["record"],
                                                   agg["album"]]))
    # isolated node: own score
    assert agg["device"] == scores["device"]


def test_normalize_class_tree_drops_oov_and_repairs_edges():
    emb = build_embedding()
    tree = mini_tree(include_oov_class=True)
    norm = normalize_class_tree(tree, emb.in_vocab)
    assert "zzyzx thing" not in norm
    assert "zzyzx thing" not in norm["work"]["children"]
    # all in-vocab classes survive
    assert "home run" in norm and "album" in norm


def test_canonical_type_ties_first_wins():
    tree = {"a": {"parents": [], "children": []},
            "b": {"parents": [], "children": []}}
    agg = aggregate_tree_scores(["a", "b"], np.array([0.5, 0.5]), tree)
    assert ["a", "b"][int(np.argmax(agg))] == "a"


def test_level_heights_mini_tree():
    t = mini_tree()
    classes = list(t)
    h = dict(zip(classes, TreeLevels(classes, t).height))
    assert h["player"] == 0 and h["device"] == 0
    assert h["athlete"] == 1
    assert h["person"] == 2
    assert h["agent"] == 3


# --- batched kernel == scalar oracle, exactly ----------------------------

def oracle_rows(classes, tree, scores, agg):
    out = []
    for row in np.atleast_2d(scores):
        folded = tree_score(dict(zip(classes, row.tolist())), tree, agg)
        out.append([folded[c] for c in classes])
    return np.array(out)


def assert_fold_exact(tree, n_rows=5, seed=0):
    """Every config: the (N, C) fold equals the oracle row by row and
    equals the 1-D fold of each row, with atol=0."""
    classes = list(tree)
    rng = np.random.default_rng(seed)
    scores = rng.uniform(0.01, 1.0, (n_rows, len(classes)))
    levels = TreeLevels(classes, tree)
    for agg in AGGS:
        batch = aggregate_tree_scores(classes, scores, levels, agg)
        np.testing.assert_array_equal(
            batch, oracle_rows(classes, tree, scores, agg), err_msg=str(agg))
        for row, got in zip(scores, batch):
            np.testing.assert_array_equal(
                aggregate_tree_scores(classes, row, tree, agg), got)


def test_fold_exact_mini_tree():
    assert_fold_exact(mini_tree())


def test_fold_exact_big_tree():
    assert_fold_exact(big_tree(788), n_rows=3)


def test_fold_exact_wide_fan_out():
    """Fan-outs above 128 take NumPy's recursive pairwise-sum branch."""
    kids = [f"k{i}" for i in range(300)]
    tree = {"root": {"parents": [], "children": kids[:200]},
            "mid": {"parents": [], "children": kids[200:] + ["root"]}}
    tree.update({k: {"parents": [], "children": []} for k in kids})
    for k in kids[:200]:
        tree[k]["parents"].append("root")
    assert_fold_exact(tree)


# --- cycles and asymmetric edges -----------------------------------------

def test_cycle_is_refused():
    tree = {"a": {"parents": ["b"], "children": ["b"]},
            "b": {"parents": ["a"], "children": ["a"]},
            "c": {"parents": [], "children": []}}
    with pytest.raises(ValueError, match="cycle through '[ab]'"):
        TreeLevels(list(tree), tree)
    with pytest.raises(ValueError, match="cycle"):
        tree_score({"a": 0.1, "b": 0.2, "c": 0.3}, tree,
                   PRODUCTION_TREE_AGG)


def test_self_loop_is_refused():
    tree = {"a": {"parents": ["a"], "children": ["a"]}}
    with pytest.raises(ValueError, match="cycle through 'a'"):
        TreeLevels(["a"], tree)


def test_cycle_refused_when_context_is_built():
    from duke_spark.fixtures.embedding import embedding_arrays
    from duke_spark.operators.linking import LinkContext
    tree = mini_tree()
    tree["team"]["children"] = ["organisation"]
    with pytest.raises(ValueError, match="cycle"):
        LinkContext(*embedding_arrays(), tree)


def test_asymmetric_edges_fold():
    """A child whose parents list omits its parent still feeds it, also
    below another parent the oracle's parent walk cannot reach."""
    tree = {"g": {"parents": [], "children": ["p"]},
            "p": {"parents": ["g"], "children": ["c"]},
            "c": {"parents": [], "children": []}}
    assert_fold_exact(tree)
    agg = tree_score({"g": 0.1, "p": 0.2, "c": 0.9}, tree, max)
    assert agg == {"g": 0.9, "p": 0.9, "c": 0.9}
