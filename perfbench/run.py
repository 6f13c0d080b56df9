#!/usr/bin/env python3
"""Benchmark of the SAX engine and the document-dedup operators.

    python3 perfbench/run.py --workload search_dedup --seed 1 --seconds 10 --trace 0

Runs one workload in a fresh Spark process on ``local[<cpus>]`` over inputs
generated from ``--seed``, checks every output against its DuckDB oracle
and prints one JSON line as the last line of stdout. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` the per-layer metrics, and writes the
span records to ``.perfbench_out/`` (never to stdout). See README.md.
"""

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

from gen import Sizes, generate  # noqa: E402
from spans import (  # noqa: E402
    PeakRss, Tracer, child_pids, cpu_count, cpu_ticks, loadavg, log, median, mem_available_mb,
    steal_share, tail,
)

SIZES = {
    "bench": {
        "search_dedup": Sizes(series=192, points=64, docs=300, doc_tokens=40, probes=2),
        "sax_stream": Sizes(series=60, points=64, docs=0, doc_tokens=0, stream_files=4),
    },
    "smoke": {
        "search_dedup": Sizes(series=16, points=32, docs=40, doc_tokens=20, probes=1),
        "sax_stream": Sizes(series=16, points=32, docs=0, doc_tokens=0, stream_files=2),
    },
}

# cold_pass_s and pass_s are per-layer: an end-to-end metric must repeat
# within a tenth across seeds, and on a 4-core host their quartiles lie
# 0.2-0.3 of the median apart, from drift of the host's speed (README.md,
# Steadiness)
END_TO_END = {"setup_s": "s"}
PER_LAYER = {
    "cold_pass_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
    "driver.build_s": "s",
    "driver.eager_jobs": "count",
    "driver.drain_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.jobs": "count",
    "executor.stages": "count",
    "executor.tasks": "count",
    "executor.peak_memory_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "spill.bytes": "bytes",
    "cache.persists": "count",
    "cache.storage_bytes": "bytes",
    "sources.scan_s": "s",
    "sources.index_write_s": "s",
    "sources.index_files": "count",
    "sources.probe_read_ms": "ms",
    "sources.probe_files_read": "count",
    "windows.drain_s": "s",
    "windows.rows_out": "count",
    "search.drain_s": "s",
    "search.candidates": "count",
    "search.prune_ratio": "ratio",
    "search.refine_keep_ratio": "ratio",
    "index_build_s": "s",
    "probe_p50_ms": "ms",
    "probe_tail_ms": "ms",
    "stream_events_per_s": "events/s",
    "batch_p50_ms": "ms",
    "batch_tail_ms": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.commit_ms_p50": "ms",
    "stream.planning_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.state_rows": "count",
    "stream.state_bytes": "bytes",
    "stream.state_commit_ms_p50": "ms",
    "stream.late_rows_dropped": "count",
    "error_rate": "ratio",
    "trace.overhead_s": "s",
    "trace.span_coverage": "ratio",
}
# a run must end well inside the 180 s a single run is allowed
DEADLINE_S = 120.0


def driver_memory_mb() -> int:
    """A quarter of the memory the host has free, between 1 and 4 GiB: the
    host is shared, and the workloads' working sets are a few hundred MB."""
    return min(4096, max(1024, mem_available_mb() // 4))


def start_spark(run_dir: str, cpus: int, mem_mb: int, workload: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    conf = {
        # the session settings bench.py runs the registry with
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.driver.memory": f"{mem_mb}m",
        "spark.driver.extraJavaOptions": (
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing "
            f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        ),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # everything a run writes stays under its own directory
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(f"perfbench-{workload}")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until every
    process this run started (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        # also when a terminated run broke the gateway mid-call
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while child_pids().get(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def span_coverage(spans: list[dict], pass_s: float) -> float:
    """Share of the traced pass that named layer spans account for. A
    builder call, a persist release and a stream stop count whole (the
    driver layer). A drain counts only as far as Spark accounts for it:
    the wall time of its jobs plus its Catalyst optimization and planning,
    or for a stream the summed ``triggerExecution`` of its micro-batches.
    What is left is unattributed: result conversion, Py4J calls and gaps
    between jobs."""
    named = 0.0
    for s in spans:
        d = s["end"] - s["start"]
        if s["phase"] == "drain":
            spark_s = s.get("trigger_s", s.get("job_wall_s", 0.0)
                            + (s.get("optimization_ms", 0.0) + s.get("planning_ms", 0.0)) / 1e3)
            named += min(d, spark_s)
        elif s["phase"] in ("build", "release", "stop"):
            named += d
    return named / pass_s if pass_s else 0.0


def layer_metrics(w, run, res: dict) -> dict:
    """Aggregate the traced pass's spans into the per-layer metrics; a
    layer the workload does not reach reads 0."""
    tr = run.tracer
    tr.finish()
    spans = [s for s in tr.spans if s["op"] != "index_write"]

    def dur(s):
        return s["end"] - s["start"]

    def total(key, phases=None):
        return sum(s.get(key, 0) for s in spans if phases is None or s["phase"] in phases)

    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update({
        "cold_pass_s": res["cold_pass_s"],
        "pass_s": res["pass_s"],
        "driver.build_s": sum(dur(s) for s in spans if s["phase"] == "build"),
        "driver.eager_jobs": total("jobs", ("build",)),
        "driver.drain_s": sum(dur(s) for s in spans if s["phase"] == "drain"),
        "catalyst.analysis_ms": total("analysis_ms"),
        "catalyst.optimization_ms": total("optimization_ms"),
        "catalyst.planning_ms": total("planning_ms"),
        "executor.run_s": total("run_s"),
        "executor.cpu_s": total("cpu_s"),
        "executor.gc_s": total("gc_s"),
        "executor.jobs": total("jobs"),
        "executor.stages": total("stages"),
        "executor.tasks": total("tasks"),
        "executor.peak_memory_bytes": max([s.get("peak_memory_bytes", 0) for s in spans] or [0]),
        "shuffle.read_bytes": total("shuffle_read_bytes"),
        "shuffle.write_bytes": total("shuffle_write_bytes"),
        "spill.bytes": total("spill_bytes"),
        "cache.persists": total("persists"),
        "cache.storage_bytes": max([s.get("storage_bytes", 0) for s in spans] or [0]),
        # the passes still speed up from one to the next (JIT), so the
        # traced pass is compared with the untraced pass just before it
        "trace.overhead_s": res["traced_pass_s"] - res["warm_passes_s"][-1],
    })
    m["trace.span_coverage"] = span_coverage(tr.spans[slice(*res["traced_spans"])],
                                             res["traced_pass_s"])

    from symtseries_spark.sources import load

    import workloads as W

    t0 = time.perf_counter()
    for table in W.TABLES[w.__name__]:
        load(run.spark, run.data_dir, table).write.format("noop").mode("overwrite").save()
    m["sources.scan_s"] = time.perf_counter() - t0

    if w is W.search_dedup:
        m.update(W.search_layers(run, res))
        m["index_build_s"] = res["index_build_s"]
        m["sources.index_files"] = res["index_files"]
        m["sources.index_write_s"] = sum(
            dur(s) for s in tr.spans if s["op"] == "index_write" and s["phase"] == "drain"
        )
        m["probe_p50_ms"] = median(res["probe_ms"])
        res["probe_tail"] = tail(res["probe_ms"])
        m["probe_tail_ms"] = res["probe_tail"]["value"]
    if w is W.sax_stream:
        s = W.stream_layers(res["batches"])
        res["batch_tail"] = s.pop("batch_tail")
        m.update(s)
        m["batch_tail_ms"] = res["batch_tail"]["value"]
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES["bench"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="bench",
                    help="input size; smoke is the self-test's smallest size")
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cpus, mem_mb = cpu_count(), driver_memory_mb()
    stamp = {"cpus": cpus, "driver_memory_mb": mem_mb, "loadavg_start": loadavg()}
    ticks = cpu_ticks()
    log(f"{args.workload} seed={args.seed} trace={args.trace} {stamp}")
    sys_tmp = tempfile.gettempdir()
    tmp_before = len(os.listdir(sys_tmp))
    runs_root = os.path.join(ROOT, ".perfbench_runs")
    run_dir = os.path.join(runs_root, f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    # Python workers import the package too, whatever the working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)

    spark = None
    rss = PeakRss()
    try:
        with rss:
            import duckdb

            import workloads as W

            spark = start_spark(run_dir, cpus, mem_mb, args.workload)
            setup_s = time.perf_counter() - T_PROCESS
            tables_before = sorted(t.name for t in spark.catalog.listTables())
            sizes = SIZES[args.size][args.workload]
            data_dir = os.path.join(run_dir, "in")
            inputs = generate(data_dir, args.seed, sizes, tables=W.TABLES[args.workload])
            log(f"setup {setup_s:.2f}s, inputs {inputs}")
            duck = duckdb.connect()
            duck.execute(f"SET temp_directory='{os.path.join(run_dir, 'duck')}'")
            run = W.Run(
                spark=spark, duck=duck, data_dir=data_dir, run_dir=run_dir, seed=args.seed,
                sizes=sizes, tracer=Tracer(spark, False), seconds=args.seconds,
                trace=bool(args.trace), deadline=time.perf_counter() + DEADLINE_S,
            )
            w = W.WORKLOADS[args.workload]
            res = w(run)
            log("workload done")
            layers = layer_metrics(w, run, res) if args.trace else None
            if layers is not None:
                layers["peak_rss_mb"] = rss.peak_mb
                log("layer metrics done")
            tables_after = sorted(t.name for t in spark.catalog.listTables())
            duck.close()
        if tables_after != tables_before:
            run.attempted += 1
            run.fail("catalog", f"tables before {tables_before}, after {tables_after}")
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            if os.path.isdir(runs_root) and not os.listdir(runs_root):
                os.rmdir(runs_root)
    tmp_after = len(os.listdir(sys_tmp))
    if tmp_after != tmp_before:
        run.attempted += 1
        run.fail("tmp", f"{sys_tmp} entries before {tmp_before}, after {tmp_after}")

    log("stopped and cleaned")
    stamp["loadavg_end"] = loadavg()
    stamp["cpu_steal_share"] = steal_share(ticks, cpu_ticks())
    if args.trace:
        layers["error_rate"] = run.failed / run.attempted
        values, units = layers, PER_LAYER
    else:
        values = {"setup_s": setup_s}
        units = END_TO_END
    record = {
        **stamp, "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "size": args.size, "inputs": inputs, "attempted": run.attempted,
        "failed": run.failed, "failures": run.failures, "metrics": values,
        "setup_s": setup_s, "peak_rss_mb": rss.peak_mb,
        "result": {k: v for k, v in res.items() if k not in ("batches",)},
        "op_times": run.op_times, "batches": res.get("batches", []),
        "spans": run.tracer.spans,
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-c{cpus}-seed{args.seed}-trace{args.trace}-{args.size}.json"
    with open(os.path.join(out_dir, name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    log(f"done: {json.dumps(values)} stamp={stamp}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
