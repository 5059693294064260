"""In-memory spans and counters, and the wrappers that record them.

Spans are opened by the benchmark around its own calls into
``duke_spark`` modules. Each span sets the Spark local property
``perfbench.span`` while it is open, so every Spark job launched inside
it carries the span name into the event log (see ``eventlog.py``).

Nothing here changes ``duke_spark``: functions are wrapped by replacing
module attributes for the duration of a ``with patched(...)`` block and
restored afterwards.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import time
from collections import defaultdict
from typing import Callable, Dict, Iterable, List, Optional, Tuple

SPAN_PROPERTY = "perfbench.span"
WORKER_TRACE_ENV = "PERFBENCH_WORKER_TRACE_DIR"


class Tracer:
    """Spans (name, parent, start, end) plus named counters."""

    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: List[dict] = []
        self.counters: Dict[str, float] = defaultdict(float)
        self._stack: List[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"name": name, "parent": parent, "start": time.perf_counter(),
               "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        prev = None
        if self.sc is not None:
            prev = self.sc.getLocalProperty(SPAN_PROPERTY)
            self.sc.setLocalProperty(SPAN_PROPERTY, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_PROPERTY, prev)

    def count(self, name: str, value: float) -> None:
        self.counters[name] += value

    def busy_s(self) -> Dict[str, float]:
        """Total open time per span name."""
        out: Dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def self_s(self) -> Dict[str, float]:
        """Open time per span name minus the time its child spans cover
        (children of one span never overlap: calls are sequential)."""
        out = self.busy_s()
        for s in self.spans:
            if s["parent"] is not None:
                parent = self.spans[s["parent"]]["name"]
                out[parent] -= s["end"] - s["start"]
        return out

    def names_under(self, root: str) -> set:
        """Names of the spans named ``root`` and of their descendants."""
        names, inside = set(), set()
        for i, s in enumerate(self.spans):  # parents precede children
            if s["name"] == root or s["parent"] in inside:
                inside.add(i)
                names.add(s["name"])
        return names

    def calls(self) -> Dict[str, int]:
        out: Dict[str, int] = defaultdict(int)
        for s in self.spans:
            out[s["name"]] += 1
        return dict(out)


def traced(tracer: Tracer, name: str, fn: Callable,
           counts: Optional[Callable] = None) -> Callable:
    """``fn`` inside a span; ``counts(args, kwargs, result)`` returns
    counter increments keyed by suffix (``{"rows": n}`` → ``name.rows``).

    ``functools.wraps`` copies ``__module__`` and ``__qualname__``; when
    the wrapper is also installed at ``fn``'s own module attribute,
    cloudpickle therefore ships it to Spark workers by reference, so a
    worker resolves the name to its own copy instead of this one."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            result = fn(*args, **kwargs)
        if counts is not None:
            for suffix, v in counts(args, kwargs, result).items():
                tracer.count(f"{name}.{suffix}", v)
        return result

    return wrapper


@contextlib.contextmanager
def patched(replacements: Iterable[Tuple[object, str, Callable]]):
    """Temporarily set ``owner.attr = make(original)`` for each
    (owner, attr, make); restores every original on exit. ``owner`` is a
    module or class, or a dotted module name."""
    saved = []
    try:
        for owner, attr, make in replacements:
            if isinstance(owner, str):
                owner = importlib.import_module(owner)
            original = owner.__dict__[attr]
            saved.append((owner, attr, original))
            setattr(owner, attr, make(original))
        yield
    finally:
        for owner, attr, original in reversed(saved):
            setattr(owner, attr, original)


# --- worker side ------------------------------------------------------------
# Spark runs the per-conversation and per-label tree folds in Python
# workers, where driver-side wrappers do not reach. In traced runs the
# PySpark daemon is replaced by ``perfbench.worker_daemon``, which wraps
# the fold before it forks workers; each worker keeps cumulative totals in
# a small per-process file that the driver sums.


def install_worker_fold_counter(trace_dir: str) -> None:
    tree = importlib.import_module("duke_spark.kernel.tree")
    fn = tree.aggregate_tree_scores
    totals = {"calls": 0, "busy_s": 0.0}

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            totals["busy_s"] += time.perf_counter() - t0
            totals["calls"] += 1
            path = os.path.join(trace_dir, f"fold-{os.getpid()}.json")
            with open(path + ".tmp", "w") as f:
                json.dump(totals, f)
            os.replace(path + ".tmp", path)

    tree.aggregate_tree_scores = wrapper


def read_worker_fold_totals(trace_dir: str) -> Dict[str, dict]:
    """Per-worker cumulative fold totals, keyed by file name."""
    out = {}
    for name in os.listdir(trace_dir):
        if name.startswith("fold-") and name.endswith(".json"):
            with open(os.path.join(trace_dir, name)) as f:
                out[name] = json.load(f)
    return out


def worker_fold_delta(before: Dict[str, dict],
                      after: Dict[str, dict]) -> Dict[str, float]:
    """Calls and busy time between two snapshots. A worker that restarted
    under a reused pid has totals below its earlier snapshot; all of its
    current totals are then new."""
    calls, busy = 0, 0.0
    for key, tot in after.items():
        prev = before.get(key, {"calls": 0, "busy_s": 0.0})
        if tot["calls"] < prev["calls"]:
            prev = {"calls": 0, "busy_s": 0.0}
        calls += tot["calls"] - prev["calls"]
        busy += tot["busy_s"] - prev["busy_s"]
    return {"calls": calls, "busy_s": busy}
