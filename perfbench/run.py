"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 15 --trace 0

Run it from the repository root: it imports the package from the current
directory and writes only under ``.perfbench_work/`` there (removed at
exit). Every line but the last is a human-readable table: each metric by
name with its unit and sample count, diagnostics included. The last line
is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. See README.md in this directory for what each
workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

from measure import COUNTERS

SETUP_REPS = 3
# Runs keep getting faster for about eight runs as the JVM compiles
# Spark's hot paths, so the timed runs sit on that warm-up curve. Their
# count follows --seconds alone, never the program's speed, so that two
# commits are measured at the same point of the curve: --seconds over
# SECONDS_PER_RUN, rounded, and at least MIN_RUNS (3 for --seconds 15).
SECONDS_PER_RUN, MIN_RUNS = 5.0, 3

# Gated: set-up wall time, and the CPU time one job costs with JIT
# compilation left out. The box is a VM on a shared host whose other
# tenants slow every job by 30% to 2x for minutes at a time, so wall time
# measures them as much as the program; it is a diagnostic here.
END_TO_END = [("setup_s", "s"), ("job_cpu_s", "s")]

LAYERS = ["assembly", "scorer", "normalize", "link", "components", "graph",
          "fusion", "write", "stream", "dedup", "textstats", "curation"]
PER_LAYER = [(f"{layer}.{c}", u) for layer in LAYERS
             for c, u in COUNTERS.items()] + [
    ("assembly.wall_s", "s"), ("assembly.task_skew", "ratio"),
    ("assembly.docs_out", "count"),
    ("scorer.wall_s", "s"), ("scorer.python_s", "s"),
    ("scorer.spans_kept_ratio", "ratio"), ("scorer.quarantined", "count"),
    ("normalize.wall_s", "s"), ("normalize.udf_rows_per_mention", "ratio"),
    ("normalize.nan_share", "ratio"),
    ("link.wall_s", "s"), ("link.candidates", "count"),
    ("link.verified_ratio", "ratio"), ("link.dropped_buckets", "count"),
    ("components.wall_s", "s"), ("components.rounds", "count"),
    ("components.edges_in", "count"),
    ("graph.wall_s", "s"), ("fusion.wall_s", "s"),
    ("fusion.facts_per_mention", "ratio"), ("write.wall_s", "s"),
    ("stream.batch_s", "s"), ("stream.state_mb", "MB"),
    ("stream.files_written", "count"),
    ("dedup.wall_s", "s"), ("dedup.candidates", "count"),
    ("dedup.max_bucket", "count"), ("dedup.dropped_buckets", "count"),
    ("textstats.wall_s", "s"), ("curation.source_scans", "count"),
    ("trace.layer_sum_s", "s"), ("trace.traced_wall_s", "s"),
    ("trace.untraced_wall_s", "s"), ("trace.overhead_s", "s"),
    ("scaling.efficiency_1_to_4", "ratio"),
]
# spans that are not layers of the program
NOT_LAYERS = ("job", "counts")


class Ledger:
    """Operations attempted and failed, and the check results."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.checks = []

    def attempt(self, fn, *args):
        self.attempted += 1
        try:
            return True, fn(*args)
        except Exception:  # a failed job is counted, not fatal
            self.failed += 1
            traceback.print_exc()
            return False, None

    def add_checks(self, results):
        for name, ok, detail in results:
            self.attempted += 1
            self.failed += 0 if ok else 1
            self.checks.append((name, ok, detail))


def table_line(name, value, unit, note=""):
    print(f"  {name:<34} {value:>14.6g} {unit:<7} {note}")


def setup(wl, spark, args, work):
    """Input generation and materialization (repeated, median taken),
    loading into Spark, and one warm-up run -> their durations."""
    gen_s = []
    for i in range(SETUP_REPS):
        d = os.path.join(work, "inputs", f"rep{i}")
        os.makedirs(d)
        t = time.perf_counter()
        wl.materialize(args.seed, d)
        gen_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    wl.load(spark)
    load_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.job(spark, os.path.join(work, "out", "warmup"))
    warmup_s = time.perf_counter() - t
    return {"gen_s": statistics.median(gen_s), "load_s": load_s,
            "warmup_s": warmup_s}


def timed_runs(args) -> int:
    return max(MIN_RUNS, round(args.seconds / SECONDS_PER_RUN))


def timed_loop(wl, spark, args, work, ledger, tree):
    """Run the job timed_runs(args) times -> per run that succeeded its
    wall time, CPU time (JIT compilation excluded), JIT CPU time and host
    steal, and its output digest; and the last output directory."""
    from measure import host_steal_s

    runs, digests, last_out = [], [], None
    for k in range(timed_runs(args)):
        out = os.path.join(work, "out", f"iter{k}")
        c, j, st = tree.tree_cpu_s(), tree.jit_cpu_s(), host_steal_s()
        # the job's driver-side Python runs on this thread
        py, t = time.thread_time(), time.perf_counter()
        ok, _ = ledger.attempt(wl.job, spark, out)
        if not ok:
            continue
        wall, py = time.perf_counter() - t, time.thread_time() - py
        jit = tree.jit_cpu_s() - j
        runs.append({"wall": wall, "cpu": tree.tree_cpu_s() - c - jit + py,
                     "jit": jit, "steal": host_steal_s() - st})
        digests.append(wl.digest(out))
        if last_out is not None:
            shutil.rmtree(last_out, ignore_errors=True)
        last_out = out
    return runs, last_out, digests


def untraced(wl, spark, args, work, setup_parts, session_s, tree, ledger):
    """The timed runs, their output checks, and the end-to-end metrics."""
    from measure import quartile_spread, tail_percentile

    warm_digest = wl.digest(os.path.join(work, "out", "warmup"))
    runs, last_out, digests = timed_loop(wl, spark, args, work, ledger, tree)
    tree.stop()
    if last_out is None:
        ledger.add_checks([("job_completed", False, "no iteration succeeded")])
        return None
    results, diags = wl.check(last_out)
    all_digests = set(digests) | {warm_digest}
    results.append(("output_digest_stable", len(all_digests) == 1,
                    f"{len(all_digests)} distinct over {len(digests)} runs"))
    ledger.add_checks(results)

    def series(key):
        return [r[key] for r in runs]

    def listing(key, fmt="{:.2f}"):
        return "; runs " + " ".join(fmt.format(x) for x in series(key))

    def spread(key):
        return f", spread {quartile_spread(series(key)):.3f}" if n >= 2 else ""

    n = len(runs)
    setup_s = session_s + sum(setup_parts.values())
    metrics = {"setup_s": setup_s, "job_cpu_s": statistics.median(series("cpu"))}
    job_wall = statistics.median(series("wall"))
    n_rows = wl.n_rows
    print(f"{wl.name}: seed {args.seed}, {n_rows} input rows, {n} timed runs")
    table_line("setup_s", setup_s, "s", f"n=1 (session {session_s:.2f}, "
               f"inputs {setup_parts['gen_s']:.2f} median of {SETUP_REPS}, "
               f"load {setup_parts['load_s']:.2f}, "
               f"warm-up {setup_parts['warmup_s']:.2f})")
    table_line("job_cpu_s", metrics["job_cpu_s"], "s", f"median of n={n}"
               f"{spread('cpu')} (driver JVM without its JIT compiler threads, "
               "Python workers, driver-side Python)" + listing("cpu"))
    table_line("job_wall_s", job_wall, "s", f"diagnostic, median of n={n}"
               + spread("wall") + listing("wall"))
    table_line("rows_per_s", n_rows / job_wall, "rows/s",
               f"diagnostic, input rows over the median of n={n}")
    table_line("jit_cpu_s", statistics.median(series("jit")), "s",
               f"diagnostic, median of n={n}" + listing("jit", "{:.1f}"))
    table_line("host_steal_s", sum(series("steal")), "s", "diagnostic, CPU time the "
               "host stole during the timed runs" + listing("steal", "{:.1f}"))
    table_line("peak_rss_mb", tree.peak_mb, "MB", "diagnostic, n=1 (driver JVM + "
               "Python workers; JVM heap growth makes it jump between runs)")
    samples = series("wall")
    tail = tail_percentile(samples)
    tail_note = (f"p{tail[0]:g} of n={n}, {tail[2]} beyond" if tail
                 else f"n/a: n={n}, the rule needs 20")
    table_line("job_tail_s", tail[1] if tail else float("nan"), "s",
               "diagnostic, " + tail_note)
    q = max(1, n // 4)
    table_line("late_early_ratio", statistics.median(samples[-q:])
               / statistics.median(samples[:q]), "ratio",
               f"diagnostic, last {q} over first {q} runs' wall")
    for name, value in diags.items():
        table_line(name, value, "ratio", "diagnostic, checked >= 0.95")
    table_line("failed_ops_frac", ledger.failed / ledger.attempted, "ratio",
               f"diagnostic, {ledger.failed} of {ledger.attempted} ops")
    print(f"  output digest {sorted(all_digests)[0][:16]}")
    return metrics


def traced(wl, spark, args, work, ledger, start_spark):
    """One untraced run as the reference (its output is checked), then
    one run with every layer bounded and materialized, parsed from the
    Spark event log. A failure here raises: the run then prints no
    result."""
    from measure import EventLog, Spans, counters, read_event_log

    import checks
    import workloads

    spans = Spans(spark.sparkContext)
    untraced_out = os.path.join(work, "out", "untraced")
    with spans.layer("job"):
        wl.job(spark, untraced_out)
    untraced_s = spans.self_s("job")
    ledger.attempted += 1
    ledger.add_checks(wl.check(untraced_out)[0])

    t = time.perf_counter()
    with workloads.patched(spans, wl.patches()):
        edges = wl.job(spark, os.path.join(work, "out", "traced"), spans)
    traced_s = time.perf_counter() - t
    ledger.attempted += 1
    layer_sum = spans.self_s(exclude=NOT_LAYERS)
    extra = {}
    with spans.layer("counts"):
        counts = wl.trace_counts(spans)
        if wl.name == "kg_batch":
            src = os.path.join(work, "stream_edges")
            workloads.write_edge_files(edges, src)
    if wl.name == "kg_batch":
        out = os.path.join(work, "out", "stream")
        with spans.layer("stream"):
            durations = workloads.run_stream(spark, src, out)
        ledger.attempted += 1
        # the stream's final graph equals build_kg over the same edges
        ledger.add_checks(checks.check_same_kg(*workloads.stream_outputs(out),
                                               *wl.outputs(untraced_out)))
        extra = workloads.stream_metrics(durations, out)
    spark.catalog.clearCache()
    spark.stop()  # flushes and closes the event log
    profile = EventLog(read_event_log(os.path.join(work, "eventlog"))).profile(spans)
    metrics = {name: 0.0 for name, _ in PER_LAYER}
    for layer in LAYERS:
        metrics.update({f"{layer}.{k}": v for k, v in counters(profile.get(layer)).items()})
    metrics.update(wl.layer_metrics(profile, spans, profile.get("job"), counts))
    metrics.update(extra)
    metrics.update({
        "trace.layer_sum_s": layer_sum, "trace.traced_wall_s": traced_s,
        "trace.untraced_wall_s": untraced_s, "trace.overhead_s": traced_s - untraced_s,
    })
    print(f"{wl.name}: seed {args.seed}, traced run")
    if wl.name == "kg_batch":
        t1 = scaling(wl, work, start_spark)
        metrics["scaling.efficiency_1_to_4"] = (t1 / untraced_s) / 4.0
        print(f"  scaling: T_1 {t1:.2f} s on local[1], T_4 {untraced_s:.2f} s on {workloads.MASTER}")
    units = dict(PER_LAYER)
    for name, value in metrics.items():
        if value:
            table_line(name, float(value), units[name], "n=1")
    table_line("layer sum / untraced wall", layer_sum / untraced_s, "ratio",
               "traced layers' self time against the untraced job")
    return {k: float(v) for k, v in metrics.items()}


def scaling(wl, work, start_spark):
    """Wall time of one job on a local[1] session in the same (warm) JVM,
    for the north rule's N -> 4N efficiency (T_1 / T_4) / 4."""
    spark = start_spark(work, master="local[1]")
    if spark.sparkContext.master != "local[1]":
        raise RuntimeError(f"expected a local[1] session, got {spark.sparkContext.master}")
    wl.load(spark)
    t = time.perf_counter()
    wl.job(spark, os.path.join(work, "out", "local1"))
    t1 = time.perf_counter() - t
    spark.stop()
    return t1


def shutdown_jvm(gateway):
    """Stop the JVM that PySpark launched and wait until it has exited."""
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(1, root)
    try:
        import information_extraction_for_chinese_nlp_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {root}: {exc}",
              file=sys.stderr)
        return 2
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)

    import workloads
    from measure import ProcessTree

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = workloads.WORKLOADS[args.workload]()
    work = os.path.join(root, ".perfbench_work", f"{wl.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ledger = Ledger()
    gateway = None
    try:
        t = time.perf_counter()
        spark = workloads.start_spark(
            work, event_log=os.path.join(work, "eventlog") if args.trace else None)
        session_s = time.perf_counter() - t
        gateway = spark.sparkContext._gateway
        tree = ProcessTree(gateway.proc.pid).start()
        ok, setup_parts = ledger.attempt(setup, wl, spark, args, work)
        if not ok:
            return 1
        if args.trace:
            tree.stop()
            metrics = traced(wl, spark, args, work, ledger, workloads.start_spark)
            units = dict(PER_LAYER)
        else:
            metrics = untraced(wl, spark, args, work, setup_parts, session_s,
                               tree, ledger)
            units = dict(END_TO_END)
            spark.stop()
        for name, ok_, detail in ledger.checks:
            print(f"  check {name:<30} {'ok' if ok_ else 'FAILED'}  ({detail})")
        if metrics is None:
            return 1
        print(json.dumps({
            "correct": ledger.failed == 0,
            "attempted": ledger.attempted,
            "failed": ledger.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        if gateway is not None:
            shutdown_jvm(gateway)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
