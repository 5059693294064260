"""Class-tree kernels: OOV normalization + hierarchical score aggregation.

Reference semantics (reimplemented, not copied):
  * tree = ``{class: {"parents": [...], "children": [...]}}`` JSON
    (``Duke/class_tree.py:49-52``);
  * OOV classes dropped, then stripped from every parents/children list
    (``Duke/class_tree.py:36-46``);
  * bottom-up fold: a node is aggregated once all its children are;
    node score = parent([own, children(child_agg_scores)])
    (``Duke/class_tree.py:63-102``, ``Duke/agg_functions.py:16-23``);
  * production agg config: parent = mean, children = max
    (``Duke/DukeRestListener.py:38``, ``Duke/scripts/main.py:12``).

``aggregate_tree_scores`` is the one production fold. It folds a (C,)
vector or an (N, C) matrix with one gather per (tree level, fan-out)
group of a ``TreeLevels`` schedule, so a caller folds a whole batch of
entities, conversations or sources in one call. The scalar dict walk it
must equal bit-for-bit is ``kernel.oracle.tree_score``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Callable, Dict, List, Sequence, Union

import numpy as np

Tree = Dict[str, Dict[str, List[str]]]


def load_tree(path: str) -> Tree:
    with open(path) as f:
        return json.load(f)


def normalize_class_tree(tree: Tree, in_vocab: Callable[[List[str]], bool]) -> Tree:
    """Drop classes whose name has any OOV word, then repair edge lists
    (``Duke/class_tree.py:36-46``). Class names are space-separated."""
    kept = {name: rels for name, rels in tree.items()
            if in_vocab(name.split(" "))}
    names = set(kept)
    return {
        name: {
            "parents": [p for p in rels.get("parents", []) if p in names],
            "children": [c for c in rels.get("children", []) if c in names],
        }
        for name, rels in kept.items()
    }


def get_leaves(tree: Tree) -> List[str]:
    return [n for n, rels in tree.items() if not rels.get("children")]


@dataclass(frozen=True)
class TreeAgg:
    """Composed agg ``parent([own, children(child_scores)])`` with parent
    and children each "mean" or "max" (``Duke/agg_functions.py:16-23``).
    Calling it on one node's ``[own, *child_scores]`` list is the scalar
    form the oracle fold uses; the batched fold reads the two names."""
    parent: str
    children: str

    def __post_init__(self):
        for f in (self.parent, self.children):
            if f not in _SCALAR:
                raise ValueError(f"tree agg must be mean or max, got {f!r}")

    def __call__(self, vector: Sequence[float]) -> float:
        if len(vector) > 1:
            return _SCALAR[self.parent](
                [vector[0], _SCALAR[self.children](vector[1:])])
        return vector[0]


_SCALAR = {"mean": np.mean, "max": max}

PRODUCTION_TREE_AGG = TreeAgg("mean", "max")


class TreeLevels:
    """Bottom-up fold schedule over the ``children`` lists: node heights
    (0 for a leaf, else 1 + the highest child) and, per height and
    fan-out, the node indices with their (n, fan-out) child-index matrix,
    in height order. ``parents`` lists are not read, so a child whose
    ``parents`` omits its parent folds like any other. A cycle (a
    self-loop included) has no bottom-up order and raises ValueError."""

    def __init__(self, classes: Sequence[str], tree: Tree):
        index = {c: i for i, c in enumerate(classes)}
        children = [[index[ch] for ch in tree[c].get("children") or []]
                    for c in classes]
        self.height = [0] * len(classes)
        self.steps = []
        pending = {i for i, ch in enumerate(children) if ch}
        while pending:
            ready = sorted(i for i in pending
                           if pending.isdisjoint(children[i]))
            if not ready:
                # every pending node has a pending child: walk them
                # until a node repeats, which puts it on a cycle
                node, seen = min(pending), set()
                while node not in seen:
                    seen.add(node)
                    node = next(c for c in children[node] if c in pending)
                raise ValueError(
                    f"class tree has a cycle through {classes[node]!r}")
            pending.difference_update(ready)
            by_fan: Dict[int, List[int]] = {}
            for i in ready:
                self.height[i] = 1 + max(self.height[c] for c in children[i])
                by_fan.setdefault(len(children[i]), []).append(i)
            self.steps += [(np.array(nodes),
                            np.array([children[i] for i in nodes]))
                           for nodes in by_fan.values()]


def aggregate_tree_scores(classes: Sequence[str], scores: np.ndarray,
                          tree: Union[Tree, TreeLevels],
                          agg: TreeAgg = PRODUCTION_TREE_AGG) -> np.ndarray:
    """Fold class scores up the tree (``DatasetDescriptor.
    aggregate_tree_scores``, ``Duke/dataset_descriptor.py:99-107``).

    ``scores`` is one (C,) vector or an (N, C) matrix whose columns follow
    ``classes``; the result has the same shape. ``tree`` is the class tree
    or its prebuilt ``TreeLevels`` schedule (``LinkContext.levels``)."""
    levels = tree if isinstance(tree, TreeLevels) else TreeLevels(classes,
                                                                  tree)
    own = np.asarray(scores, dtype=np.float64)
    out = own.copy()
    for nodes, kids in levels.steps:
        # C-contiguous, so the mean reduces each child list in NumPy's
        # pairwise order, exactly as np.mean does on that list alone
        gathered = np.ascontiguousarray(out[..., kids])
        child = (gathered.max(axis=-1) if agg.children == "max"
                 else gathered.mean(axis=-1))
        mine = own[..., nodes]
        out[..., nodes] = (np.maximum(mine, child) if agg.parent == "max"
                           else (mine + child) / 2)
    return out
