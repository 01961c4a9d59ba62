"""ferret_spark benchmark: one workload, one Spark session at local[nproc],
one client in a closed loop.

    python3 perfbench/run.py --workload {index,dedup} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Inputs are generated from the seed into
``.perfbench/`` under the root, which also holds Spark's local dirs and
the event log; the run's directory is removed at exit. Every figure is
printed as ``<workload> <name> <value> <unit>``; the last line of stdout
is one JSON object with the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# the program under test, and the repository scripts the benchmark reuses
REQUIRED = ("ferret_spark/__init__.py", "__spark_entry__.py", "scripts/gen_sf.py",
            "scripts/correctness_local.py")

SETUP_REPS = 3
WORKLOAD_NAMES = ("index", "dedup")
LAYERS = ("session", "build", "ind", "wand", "segments", "index", "pipeline")
E2E = {"setup_s": "s", "timed_s": "s", "bulk_items_per_s": "1/s", "call_p50_ms": "ms"}


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in BENCHMARK.json order."""
    from tracing import STAGE_METRICS

    from workloads import DEDUP_OPS

    names = [
        ("session.start_s", "s"), ("session.warmup_s", "s"), ("session.prime_s", "s"),
        ("session.peak_rss_mb", "MB"),
        ("build.docs_s", "s"), ("build.segments_s", "s"), ("build.merged_s", "s"),
        ("build.term_stats_s", "s"), ("build.meta_s", "s"),
        ("codec.docs_bytes", "B"), ("codec.segments_bytes", "B"),
        ("codec.merged_bytes", "B"), ("codec.term_stats_bytes", "B"),
        ("ind.add_ms", "ms"), ("ind.tier_merge_add_ms", "ms"), ("ind.generations", "count"),
        ("wand.rewrite_ms", "ms"), ("segments.doc_freqs_ms", "ms"), ("segments.open_s", "s"),
        ("wand.plan_ms", "ms"), ("wand.exec_ms", "ms"),
        ("wand.jobs_per_query", "count"), ("wand.tasks_per_query", "count"),
        ("wand.rows_examined_per_hit", "count"),
        ("wand.batch_plan_ms", "ms"), ("wand.batch_exec_ms", "ms"),
        ("wand.batch_rows_examined_per_query", "count"),
        ("index.query_p50_ms", "ms"),
    ]
    names += [(f"pipeline.{op}_s", "s") for op, _key in DEDUP_OPS]
    names += [("pipeline.ngram_cap_drops", "count")]
    unit = {"bytes": "B"}
    for layer in LAYERS:
        for m in STAGE_METRICS:
            names.append((f"{layer}.{m}", unit.get(m.rsplit("_", 1)[1], "ms")))
    names += [("trace.coverage", "ratio"), ("trace.unattributed_ms", "ms")]
    return names


def _configure(work: str, trace: bool) -> None:
    """Spark and temp-file settings this benchmark owns: all temporary
    files stay in the run directory, and a traced run writes an
    uncompressed event log there. Must run before the JVM starts."""
    conf = os.path.join(work, "conf")
    os.makedirs(conf)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    lines = [
        "spark.ui.showConsoleProgress false",
        f"spark.local.dir {tmp}",
        f"spark.sql.warehouse.dir {os.path.join(work, 'warehouse')}",
        f"spark.driver.defaultJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    if trace:
        evlog = os.path.join(work, "eventlog")
        os.makedirs(evlog)
        lines += [
            "spark.eventLog.enabled true",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled true",
            f"spark.eventLog.dir file://{evlog}",
        ]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    cpus = str(os.cpu_count() or 1)
    os.environ.update(
        SPARK_CONF_DIR=conf,
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        SPARK_GRAFT_CPUS=cpus,
        # one local JVM; the defaults (8g heap, 24g direct) are sized for
        # local[32]
        FERRET_DRIVER_MEM="2g",
        FERRET_DIRECT_MEM="2g",
    )
    tempfile.tempdir = tmp


def _setup(wl, tracer):
    """SETUP_REPS x (get_spark + the workload's first call on a tiny input).
    The first repetition launches the JVM; the others stop the session and
    start a fresh one in it. Returns the last session."""
    from ferret_spark.session import get_spark

    spark, start, warm = None, [], []
    for r in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(app_name="perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        tracer.spark = spark
        with tracer.span("session", f"warmup{r}"):
            wl.warm(spark)
        t2 = time.perf_counter()
        start.append(t1 - t0)
        warm.append(t2 - t1)
    totals = [a + b for a, b in zip(start, warm)]
    return spark, statistics.median(totals), statistics.median(start), statistics.median(warm)


def _stop(spark) -> None:
    """Stop the session and wait for the JVM this process launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def _layer_metrics(ctx, tracer, evlog: str, t0: float, rss: float) -> dict:
    import tracing as T

    jobs = T.parse_jobs(evlog)
    stats = T.span_stats(tracer.spans, jobs)
    out = {name: 0.0 for name, _u in per_layer_names()}
    out.update(T.layer_table(tracer.spans, stats, LAYERS))
    out.update(ctx.layer)
    queries = [s for s in tracer.spans if s.layer == "wand" and s.name.startswith("query")]
    if queries:
        n = len(queries)
        out["wand.jobs_per_query"] = sum(stats[s.sid]["jobs"] for s in queries) / n
        out["wand.tasks_per_query"] = sum(stats[s.sid]["tasks"] for s in queries) / n
        hits = sum(s.attrs["hits"] for s in queries)
        out["wand.rows_examined_per_hit"] = (
            sum(stats[s.sid]["records_read"] for s in queries) / max(1, hits)
        )
    batches = [s for s in tracer.spans if s.layer == "wand" and s.name.startswith("batch")]
    if batches:
        out["wand.batch_rows_examined_per_query"] = sum(
            stats[s.sid]["records_read"] for s in batches
        ) / sum(s.attrs["queries"] for s in batches)
    timed = [s for s in tracer.spans if s.start >= t0 and s.end <= ctx.timed_end]
    cov, rest = T.coverage(timed, t0, ctx.timed_end)
    out["trace.coverage"] = cov
    out["trace.unattributed_ms"] = rest
    out["session.start_s"], out["session.warmup_s"], out["session.prime_s"] = ctx.session
    out["session.peak_rss_mb"] = rss
    return out


def _print_overhead(workload: str, traced: dict, untraced_path: str) -> None:
    """Tracing overhead: traced minus untraced end-to-end metric, against
    the untraced run of the same workload, seed and seconds if one ran in
    this checkout."""
    if not os.path.exists(untraced_path):
        print(f"{workload} trace.overhead unavailable: no untraced run of this seed")
        return
    with open(untraced_path) as f:
        base = json.load(f)
    for name, unit in E2E.items():
        print(f"{workload} trace.overhead.{name} {traced[name] - base[name]:+.6g} {unit}")


def _phase(name: str, t0: float) -> None:
    print(f"perfbench: {name} done at {time.perf_counter() - t0:.1f}s", file=sys.stderr)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a ferret_spark checkout, missing {missing}", file=sys.stderr)
        return 2

    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".perfbench"))
    spark = None
    start = time.perf_counter()
    try:
        _configure(work, bool(args.trace))
        import tracing as T
        from workloads import WORKLOADS, Ctx

        wl = WORKLOADS[args.workload](args.seed, args.seconds, work)
        _phase("inputs", start)
        tracer = T.Tracer(None, bool(args.trace))
        spark, setup_s, start_s, warm_s = _setup(wl, tracer)
        _phase("setup", start)
        p0 = time.perf_counter()
        with tracer.span("session", "prime"):
            wl.prime(spark)
        prime_s = time.perf_counter() - p0
        _phase("prime", start)
        ctx = Ctx(spark, tracer, work, session=(start_s, warm_s, prime_s))
        t0 = time.time()
        wl.run(ctx)
        _phase(f"timed {ctx.timed_end - t0:.1f}s + checks", start)
        if args.trace and hasattr(wl, "declarative"):
            wl.declarative(ctx)
        rss = tracer.peak_rss_mb
        _stop(spark)
        spark = None
        _phase("stop", start)
        ctx.put("setup_s", setup_s, "s")
        e2e = dict(ctx.e2e, setup_s=setup_s)
        chk = ctx.checks
        ctx.put("ops_attempted", chk.attempted, "count")
        ctx.put("ops_failed", chk.failed, "count")
        ctx.put("error_rate", chk.failed / max(1, chk.attempted), "ratio")
        ctx.put("oracle_match_ratio", 1 - chk.failed / max(1, chk.attempted), "ratio")
        for name, (v, unit) in ctx.table.items():
            print(f"{args.workload} {name} {v:.6g} {unit}")
        untraced = os.path.join(
            ROOT, ".perfbench", "untraced", f"{args.workload}-{args.seed}-{args.seconds}.json"
        )
        if args.trace:
            layer = _layer_metrics(ctx, tracer, os.path.join(work, "eventlog"), t0, rss)
            metrics = {n: {"value": layer[n], "unit": u} for n, u in per_layer_names()}
            for name, m in metrics.items():
                print(f"{args.workload} {name} {m['value']:.6g} {m['unit']}")
            _print_overhead(args.workload, e2e, untraced)
        else:
            metrics = {n: {"value": e2e[n], "unit": u} for n, u in E2E.items()}
            os.makedirs(os.path.dirname(untraced), exist_ok=True)
            with open(untraced, "w") as f:
                json.dump(e2e, f)
        if chk.notes:
            print(f"{args.workload} mismatched: {' '.join(chk.notes)}", file=sys.stderr)
        print(json.dumps({
            "correct": chk.failed == 0,
            "attempted": chk.attempted,
            "failed": chk.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
