"""KG-pipeline benchmark for duke_spark at local[3].

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: extract, canonicalize (see
workloads.py and README.md). One run, in one process:

  1. generate the input from --seed, trimmed to the workload's fixed
     turn count (untimed);
  2. set up: Spark session, then three rounds of building and
     broadcasting the reference-shape LinkContext (D=1000, 788 classes);
     ``setup_s`` = process start to session ready (input generation
     excluded) + the median round, each less what the hypervisor stole
     (``procfs.unstolen_share``);
  3. compute or load the oracle's expected outputs (untimed, cached per
     seed and input size under perfbench/.work/cache);
  4. one untimed warm-up pass (``cold_pass_s``);
  5. timed passes until their summed wall time reaches --seconds, with
     the process tree's RSS sampled from /proc; the throughputs are the
     median over passes of items per unstolen second;
  6. check every pass's outputs against the oracle;
  7. with --trace 1 only: one traced pass (spans, Spark event log, worker
     fold counters), on extract the post-extraction stages over its
     output, and a single-threaded replay of link_batch.

The last stdout line is the result JSON; the line before it holds the
run's provenance (and, traced, the per-span breakdown).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

# the driver-side replay is single-threaded; Spark's workers get the same
# setting from duke_spark.config. Must precede the first NumPy import.
for _var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_var, "1")

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from perfbench import eventlog, expected, procfs, workloads  # noqa: E402
from perfbench.trace import (WORKER_TRACE_ENV, Tracer, patched,  # noqa: E402
                             read_worker_fold_totals, worker_fold_delta)

SETUP_ROUNDS = 3
WORK = os.path.join(BENCH_DIR, ".work")

SPAN_METRICS = {  # span name -> counters reported with its busy time
    "sources.transcripts.read_transcripts": (),
    "plans.checkpoint.TripleCheckpoint.run": (),
    "operators.mentions.linked_mentions": (),
    "operators.canonical.canonical_types_df": (),
    "operators.graph.build_vertices": (),
    "operators.graph.build_edges": (),
    "operators.canonical.describe_conversations": (),
    "operators.entity_resolution.resolve_kg_entities": ("merged",),
    "operators.validation.validate_graph": ("violations",),
    "operators.triples.fact_support": ("facts",),
    "sources.triple_store.write_triple_store": (),
}
REPLAY_METRICS = (
    "kernel.text.tokenize_series.busy_s",
    "kernel.vectors.embed_groups.busy_s", "kernel.vectors.embed_groups.rows",
    "kernel.vectors.score_against_classes.busy_s",
    "kernel.vectors.score_against_classes.flop",
    "operators.linking.link_batch.busy_s",
    "operators.linking.link_batch.self_s",
    "operators.linking.link_batch.mentions",
    "operators.linking.link_batch.unique_mentions",
    "operators.triples.triples_batch.busy_s", "kernel.replay.coverage")
SPARK_COUNTS = ("jobs", "stages", "tasks")


def spark_conf(run_dir: str, trace: bool) -> dict:
    """Keep every file Spark writes inside the run directory: temporary
    files (PySpark's gateway handshake, the JVM's java.io.tmpdir) and the
    JVMs' perf-counter files (-XX:-UsePerfData) would otherwise go to
    /tmp."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # also for the Python workers
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["DUKE_SPARK_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    # the launcher JVM that spark-submit starts to build the command line
    os.environ["SPARK_LAUNCHER_OPTS"] = " ".join(filter(None, (
        os.environ.get("SPARK_LAUNCHER_OPTS"), "-XX:-UsePerfData")))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(eventlog.EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + log_dir
        conf["spark.python.daemon.module"] = "perfbench.worker_daemon"
    return conf


def provenance(args, wl, spark) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    digest = hashlib.sha256()
    src = os.path.join(ROOT, "duke_spark")
    for dirpath, dirnames, files in os.walk(src):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                digest.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    digest.update(f.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                                capture_output=True, text=True,
                                check=True).stdout.strip()
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": procfs.mem_total_kb(),
        "master": f"local[{workloads.CORES}]",
        "versions": {"spark": spark.version, "pyspark": pyspark.__version__,
                     "numpy": numpy.__version__,
                     "pandas": pandas.__version__,
                     "pyarrow": pyarrow.__version__,
                     "python": sys.version.split()[0]},
        "blas_env": {k: os.environ.get(k) for k in (
            "OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS")},
        "input": wl.input_sizes(),
        "git_commit": commit,
        "duke_spark_sha256": digest.hexdigest(),
    }


def stop_spark(spark) -> None:
    """Stop the SparkContext, then the JVM, and wait for every process
    they started (daemon, workers, JVM) to end."""
    from pyspark import SparkContext

    spark.stop()
    jvm = SparkContext._gateway.proc
    helpers = [p for p in procfs.process_tree(os.getpid())
               if p not in (os.getpid(), jvm.pid)]
    SparkContext._gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    jvm.stdin.close()  # the JVM exits when its stdin closes
    jvm.wait(timeout=60)
    # the daemon and workers are the JVM's children: once it exits they
    # leave this process's tree, so wait on their pids
    deadline = time.monotonic() + 30
    while any(procfs.is_live(p) for p in helpers):
        if time.monotonic() > deadline:
            alive = [procfs.command_name(p) for p in helpers
                     if procfs.is_live(p)]
            raise RuntimeError(f"Spark processes still alive: {alive}")
        time.sleep(0.1)
    left = procfs.wait_children_gone(30)
    if left:
        raise RuntimeError(f"child processes still alive: {left}")


def check_passes(wl, pass_dirs, record):
    """Check each pass's outputs; returns (attempted, failed, items)."""
    attempted = failed = 0
    items = {}
    tested = False
    for label, out_dir in pass_dirs:
        if out_dir is None:  # the pass raised
            attempted += 1
            failed += 1
            continue
        outputs = wl.outputs(out_dir)
        fails = wl.check(outputs)
        attempted += len(fails)
        failed += sum(1 for v in fails.values() if v)
        items[label] = wl.items(outputs)
        record[label] = {"fails": {k: v for k, v in fails.items() if v},
                         **wl.details(outputs)}
        if not tested and not any(fails.values()):
            expected.self_test(wl.name, outputs, wl.expected)
            tested = True
        shutil.rmtree(out_dir)
    if not tested:
        record["self_test"] = "not run: no pass passed its checks"
    return attempted, failed, items


def run_pass(wl, spark, ctx_bc, out_dir, spans, record, label):
    t0 = time.perf_counter()
    try:
        wl.run_pass(spark, ctx_bc, out_dir, spans)
    except Exception:  # counted as a failed output; the run goes on
        traceback.print_exc()
        record[label] = {"raised": traceback.format_exc(limit=3)}
        return time.perf_counter() - t0, None
    return time.perf_counter() - t0, out_dir


def traced_pass(wl, spark, ctx_bc, run_dir, trace_dir, tracer, kernels):
    """One pass under the root span "pass", with module spans, the
    driver-side fold wrapper and worker fold counters; returns (wall,
    out_dir, worker fold delta)."""
    before = read_worker_fold_totals(trace_dir)
    out_dir = os.path.join(run_dir, "pass-traced")
    with patched(workloads.pass_patches(tracer, kernels)):
        with tracer.span("pass"):
            wall, out = run_pass(wl, spark, ctx_bc, out_dir, tracer.span,
                                 {}, "traced")
    if out is None:
        raise RuntimeError("the traced pass raised")
    fold = worker_fold_delta(before, read_worker_fold_totals(trace_dir))
    return wall, out, fold


def layer_metrics(tracer, kernels, fold, spark_spans, stages, wall,
                  replay, post_counts) -> dict:
    """Per-layer metrics. Spark totals, skew and slot use cover the spans
    of the traced pass only; the post-stage spans of extract's traced
    runs are reported by busy time and counts."""
    busy = tracer.busy_s()
    in_pass = tracer.names_under("pass")
    m = {}
    for name, counters in SPAN_METRICS.items():
        m[f"{name}.busy_s"] = busy.get(name, 0.0)
        for c in counters:
            m[f"{name}.{c}"] = post_counts.get(c, 0)
    fold_name = "kernel.tree.aggregate_tree_scores"
    m[f"{fold_name}.busy_s"] = kernels.busy_s().get(fold_name, 0.0) + \
        fold["busy_s"]
    m[f"{fold_name}.calls"] = kernels.calls().get(fold_name, 0) + \
        fold["calls"]
    for k in REPLAY_METRICS:
        m[k] = replay[k]
    pass_spans = [v for n, v in spark_spans.items() if n in in_pass]
    for field in eventlog.TASK_FIELDS + SPARK_COUNTS:
        m[f"spark.{field}"] = sum(s[field] for s in pass_spans)
    heaviest = max((s for s in stages if s["span"] in in_pass),
                   key=lambda s: s["run_s"])
    m["spark.task_skew"] = heaviest["skew"]
    m["spark.slot_util"] = m["spark.executor_run_s"] / (workloads.CORES *
                                                         wall)
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)
    start_ticks = procfs.cpu_ticks()

    run_dir = os.path.join(WORK, "run")
    cache_dir = os.path.join(WORK, "cache")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(cache_dir, exist_ok=True)
    wl = workloads.WORKLOADS[args.workload](args.seed, run_dir, cache_dir)
    t0 = time.perf_counter()
    wl.make_input()
    gen_s = time.perf_counter() - t0

    from duke_spark.config import get_spark
    from duke_spark.fixtures.scale import scale_arrays
    from duke_spark.pipeline import make_context

    trace_dir = os.path.join(run_dir, "worker-trace")
    if trace:
        os.makedirs(trace_dir)
        os.environ[WORKER_TRACE_ENV] = trace_dir
    spark = get_spark(f"perfbench-{wl.name}",
                      master=f"local[{workloads.CORES}]",
                      shuffle_partitions=max(8, workloads.CORES),
                      extra_conf=spark_conf(run_dir, trace))
    spark.sparkContext.setLogLevel("ERROR")
    launch_s = procfs.process_age_s() - gen_s
    launch_share = procfs.unstolen_share(start_ticks, procfs.cpu_ticks())
    prov = provenance(args, wl, spark)
    rounds, round_shares = [], []
    for i in range(SETUP_ROUNDS):
        ticks = procfs.cpu_ticks()
        t0 = time.perf_counter()
        vocab, matrix, tree = scale_arrays()
        ctx_bc = make_context(spark, vocab=vocab, matrix=matrix,
                              raw_tree=tree)
        rounds.append(time.perf_counter() - t0)
        round_shares.append(procfs.unstolen_share(ticks, procfs.cpu_ticks()))
        if i < SETUP_ROUNDS - 1:
            ctx_bc.destroy(blocking=True)
    setup_s = launch_s * launch_share + statistics.median(
        r * f for r, f in zip(rounds, round_shares))

    record = {}
    t0 = time.perf_counter()
    finish_expected = wl.start_expected()
    if trace:  # keep cold_pass_s free of the oracle's processes
        wl.expected = finish_expected()
    oracle_s = time.perf_counter() - t0

    passes = []  # (label, out_dir or None)
    cold_pass_s, out = run_pass(wl, spark, ctx_bc,
                                os.path.join(run_dir, "pass-warmup"),
                                workloads.no_span, record, "warmup")
    passes.append(("warmup", out))
    if not trace:
        t0 = time.perf_counter()
        wl.expected = finish_expected()
        oracle_s += time.perf_counter() - t0

    walls, unstolen = {}, {}
    sampler = procfs.PeakRssSampler()
    sampler.start()
    i = 0
    while sum(walls.values()) < args.seconds:
        label = f"pass{i}"
        ticks = procfs.cpu_ticks()
        walls[label], out = run_pass(wl, spark, ctx_bc,
                                     os.path.join(run_dir, label),
                                     workloads.no_span, record, label)
        unstolen[label] = procfs.unstolen_share(ticks, procfs.cpu_ticks())
        passes.append((label, out))
        i += 1
    sampler.stop()

    trace_report = None
    if trace:
        tracer = Tracer(spark.sparkContext)
        kernels = Tracer()
        wall, out, fold = traced_pass(wl, spark, ctx_bc, run_dir, trace_dir,
                                      tracer, kernels)
        extras = wl.trace_extras(spark, ctx_bc, out, run_dir, tracer.span)
        passes.append(("traced", out))
    attempted, failed, items = check_passes(wl, passes, record)

    if trace:
        post_counts = {}
        for label, (fails, counts) in extras.items():
            attempted += len(fails)
            failed += sum(1 for v in fails.values() if v)
            record[label] = {"fails": {k: v for k, v in fails.items() if v},
                             **counts}
            post_counts = counts
        replay = workloads.replay_link_batch(wl.pdf, ctx_bc.value)
        app_id = spark.sparkContext.applicationId
        stop_spark(spark)
        spark_spans, stages = eventlog.parse(eventlog.log_path(
            os.path.join(run_dir, "eventlog"), app_id))
        if not any(s["span"] in tracer.names_under("pass") for s in stages):
            raise eventlog.EventLogError("no stage of the traced pass "
                                         "found in the event log")
        good = [walls[k] for k in walls if k in items]
        metrics = layer_metrics(tracer, kernels, fold, spark_spans, stages,
                                wall, replay, post_counts)
        metrics["cold_pass_s"] = cold_pass_s
        metrics["trace_overhead_s"] = wall - statistics.median(good)
        self_s, calls = tracer.self_s(), tracer.calls()
        trace_report = {"spans": {n: {"busy_s": b, "self_s": self_s[n],
                                      "calls": calls[n],
                                      "spark": spark_spans.get(n)}
                                  for n, b in tracer.busy_s().items()},
                        "worker_folds_in_pass": fold,
                        "stages": stages}
    else:
        stop_spark(spark)
        # per second of the pass's wall time less what the hypervisor stole
        rates = {k: [items[p][k] / (walls[p] * unstolen[p])
                     for p in walls if p in items]
                 for k in ("triples", "convs")}
        metrics = {
            "setup_s": setup_s,
            "triples_per_s": statistics.median(rates["triples"])
            if rates["triples"] else 0.0,
            "convs_per_s": statistics.median(rates["convs"])
            if rates["convs"] else 0.0,
            "peak_rss_mb": sampler.peak_bytes / 2 ** 20,
        }

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    kind = "per_layer" if trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[kind]}
    missing = set(units) ^ set(metrics)
    if missing:
        raise RuntimeError(f"metrics out of step with BENCHMARK.json: "
                           f"{sorted(missing)}")

    info = {"provenance": prov, "setup": {
        "launch_s": launch_s, "rounds_s": rounds, "gen_s": gen_s,
        "oracle_s": oracle_s, "cold_pass_s": cold_pass_s,
        "launch_unstolen_share": launch_share,
        "round_unstolen_shares": round_shares},
        "pass_walls_s": walls, "unstolen_share": unstolen, "passes": record,
        "failed_ratio": failed / attempted if attempted else 1.0,
        "rss_sampler": {"samples": sampler.samples,
                        "peak_mb_by_kind": sampler.peak_by_kind},
        "trace": trace_report}
    print(json.dumps(info, default=str))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
