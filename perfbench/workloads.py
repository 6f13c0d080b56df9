"""The two benchmark workloads.

Each workload gets a ``Run`` (session, generated inputs, tracer, counters)
and executes passes over its operation mix. Every operation's output is
checked against a DuckDB oracle outside the timed region; a raise or a
mismatch counts as a failed operation and is never retried.

* ``search_dedup``: the batch engine. SAX scan -> window -> encode ->
  prune -> refine, the at-rest iSAX index (one write, then probes), and a
  document-dedup query that runs no SAX code.
* ``sax_stream``: the same encoding done incrementally by the two stream
  operators, one staged file per trigger.
"""

from __future__ import annotations

import json
import os
import random
import time
import traceback
import uuid
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as E
from pyspark.sql import functions as F
from symtseries_spark import oracle as oc
from symtseries_spark import pykernel as pk
from symtseries_spark.cache import release_persisted
from symtseries_spark.operators.search import allpairs_within, mindist_to_pattern
from symtseries_spark.operators.windows import tumbling_sax, tumbling_values
from symtseries_spark.sources import (
    canonicalize_events,
    load,
    read_words_multilevel,
    write_words_multilevel,
)
from symtseries_spark.streaming import sliding_sax_stream, tumbling_sax_event_time

from spans import Tracer, log, median, tail

# The pass mix is the registry queries that fit the run budget: a run,
# fresh JVM included, must average about a minute on a 4-core host. Two
# more docs queries cost 3-13 s each there, mostly in eager driver jobs,
# so they run once, traced, in a traced run only (SIDE_MIX): the
# suffix + rank, fuzzy + graph and cache layers are measured there, but by
# no end-to-end metric. docs_dedup_funnel is left out: its DuckDB oracle
# takes 41 s on 200 generated documents.
SAX_MIX = ("sax_allpairs_refined",)
DOCS_MIX = ("docs_exact_substring_dedup",)
SIDE_MIX = ("docs_longest_dup_span", "docs_fuzzy_clusters")
LATE_SHARE = 0.25  # share of event-time stream rows delayed by one file
ORDER = ["ts", "event_id"]
DIST = E.TUMBLE_DIST
LEVELS = E.ISAX_ML_LEVELS


def mismatch(got: pd.DataFrame, exp: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``exp`` as a multiset of rows (floats to
    1e-9), else a one-line reason."""
    if sorted(got.columns) != sorted(exp.columns):
        return f"columns {sorted(got.columns)} != {sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    if len(got) == 0:
        return "empty output"

    def norm(df: pd.DataFrame) -> pd.DataFrame:
        df = df[sorted(df.columns)].copy()
        for col in df.columns:
            if df[col].dtype == object:
                df[col] = df[col].astype(str)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)

    g, e = norm(got), norm(exp)
    for col in g.columns:
        if pd.api.types.is_float_dtype(g[col]):
            diff = (g[col].astype(float) - e[col].astype(float)).abs().max()
            if not diff < 1e-9:
                return f"{col} differs by {diff}"
        elif (g[col].astype(str) != e[col].astype(str)).any():
            return f"{col} differs"
    return None


@dataclass
class Run:
    spark: object
    duck: object
    data_dir: str
    run_dir: str
    seed: int
    sizes: object
    tracer: Tracer
    seconds: float
    trace: bool
    deadline: float
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)
    op_times: list = field(default_factory=list)

    def fail(self, op: str, why: str) -> None:
        self.failed += 1
        self.failures.append({"op": op, "why": why[-2000:]})
        log(f"FAILED {op}: {why.strip().splitlines()[-1] if why.strip() else why}")

    def check(self, op: str, got: pd.DataFrame, exp: pd.DataFrame) -> None:
        why = mismatch(got, exp)
        if why is not None:
            self.fail(op, f"oracle mismatch: {why}")

    def query(self, op: str, build, exp: pd.DataFrame) -> float:
        """Build ``op``'s DataFrame, drain it to pandas, release tracked
        persists; returns the wall time of those three steps. The oracle
        check runs after the clock stops."""
        self.attempted += 1
        tr = self.tracer
        t0 = time.perf_counter()
        try:
            with tr.span(op, "build"):
                df = build()
            with tr.span(op, "drain") as rec:
                got = df.toPandas()
            if tr.enabled:
                tr.catalyst(rec, df)
                rec["storage_bytes"] = tr.storage_bytes()
            with tr.span(op, "release") as rec:
                n = release_persisted()
                rec["persists"] = n
        except Exception:
            self.fail(op, traceback.format_exc())
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        self.op_times.append((op, dt))
        self.check(op, got, exp)
        return dt


def duck_view(duck, name: str, path: str) -> None:
    duck.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")


def passes(run: Run, one_pass, side=None) -> dict:
    """First (cold) pass, then warm passes until ``run.seconds`` of warm
    time has been spent (at least two). ``pass_s`` is the median of the
    warm passes. A traced run adds one traced pass (numbered -1) after the
    untraced ones, whose spans are ``tracer.spans[slice(*traced_spans)]``,
    then runs ``side`` once, traced."""
    cold = one_pass(0)
    warm: list[float] = []
    while len(warm) < 2 or (sum(warm) < run.seconds and time.perf_counter() < run.deadline):
        warm.append(one_pass(len(warm) + 1))
    out = {"cold_pass_s": cold, "warm_passes_s": warm, "pass_s": median(warm)}
    if run.trace:
        tr = run.tracer
        tr.enabled = True
        first = len(tr.spans)
        out["traced_pass_s"] = one_pass(-1)
        out["traced_spans"] = (first, len(tr.spans))
        if side:
            out["traced_side_s"] = side()
        tr.enabled = False
    return out


# -------------------------------------------------------------- search_dedup


def probe_oracle(pattern: str) -> str:
    """``sax_isax_ml_probe``'s oracle with its pattern replaced."""
    sql = E.oracle_sql()["sax_isax_ml_probe"]
    old, new = E.ISAX_ML_PATTERN2, pattern
    swaps = [
        (
            oc.mindist_pattern_exprs("sax_word", old, c=DIST["c"], n_expr=str(DIST["n"]))["dist"],
            oc.mindist_pattern_exprs("sax_word", new, c=DIST["c"], n_expr=str(DIST["n"]))["dist"],
        ),
        (
            f"'{pk.coarsen(old, DIST['c'], LEVELS[-1])}'",
            f"'{pk.coarsen(new, DIST['c'], LEVELS[-1])}'",
        ),
    ]
    for a, b in swaps:
        if sql.count(a) != 1:
            raise RuntimeError("sax_isax_ml_probe oracle no longer has the expected shape")
        sql = sql.replace(a, b)
    return sql


def probe_df(spark, index: str, pattern: str):
    pruned = read_words_multilevel(spark, index, pattern, c=DIST["c"], levels=LEVELS)
    return (
        mindist_to_pattern(pruned, pattern, c=DIST["c"], n=DIST["n"])
        .select("series_key", "window_id", "sax_word", F.round("mindist", 4).alias("dist"))
        .orderBy("dist", "series_key", "window_id")
        .limit(E.TOPK)
    )


def _dist_words(spark, d: str):
    return tumbling_sax(load(spark, d, "events"), key="user_id", order=ORDER, value="value", **DIST)


def search_dedup(run: Run) -> dict:
    spark, d, duck = run.spark, run.data_dir, run.duck
    duck_view(duck, "events", f"{d}/events.parquet")
    duck_view(duck, "documents", f"{d}/documents.parquet")
    qs, oq = E.queries(), E.oracle_sql()
    mix = SAX_MIX + DOCS_MIX + (SIDE_MIX if run.trace else ())
    exp = {n: duck.execute(oq[n]).df() for n in mix}
    log(f"oracles of {mix} computed")
    index = f"{run.run_dir}/isax_index"

    # the write path, once
    run.attempted += 1
    run.tracer.enabled = run.trace
    t0 = time.perf_counter()
    try:
        with run.tracer.span("index_write", "build"):
            words = _dist_words(spark, d)
        with run.tracer.span("index_write", "drain"):
            write_words_multilevel(words, index, c=DIST["c"], levels=LEVELS)
    except Exception:
        run.fail("index_write", traceback.format_exc())
    index_build_s = time.perf_counter() - t0
    run.tracer.enabled = False
    files = [
        os.path.join(r, f) for r, _, fs in os.walk(index) for f in fs if f.endswith(".parquet")
    ]
    got = duck.execute(
        f"SELECT series_key, window_id, sax_word FROM read_parquet({files!r})"
    ).df()
    run.check("index_write", got, duck.execute(
        "SELECT series_key, window_id, sax_word FROM ("
        + oc.tumbling_words_sql(DIST["n"], DIST["w"], DIST["c"]) + ")"
    ).df())

    # probe patterns: drawn with the seed from the index's own words
    words_in_index = sorted(set(got["sax_word"]))
    patterns = random.Random(run.seed).sample(
        words_in_index, min(run.sizes.probes, len(words_in_index))
    )
    probe_exp = {p: duck.execute(probe_oracle(p)).df() for p in patterns}
    log(f"index written in {index_build_s:.2f}s and checked")
    probe_ms: list[float] = []

    def one_pass(i: int) -> float:
        total = 0.0
        for n in SAX_MIX:
            total += run.query(n, lambda n=n: qs[n](spark, d), exp[n])
        for p in patterns:
            dt = run.query(f"probe:{p}", lambda p=p: probe_df(spark, index, p), probe_exp[p])
            if i > 0:
                probe_ms.append(dt * 1e3)
            total += dt
        for n in DOCS_MIX:
            total += run.query(n, lambda n=n: qs[n](spark, d), exp[n])
        log(f"search_dedup pass {i}: {total:.2f}s")
        return total

    def side() -> float:
        total = sum(run.query(n, lambda n=n: qs[n](spark, d), exp[n]) for n in SIDE_MIX)
        log(f"search_dedup side: {total:.2f}s")
        return total

    out = passes(run, one_pass, side)
    out["index_build_s"] = index_build_s
    out["index_files"] = len(files)
    out["probe_ms"] = probe_ms
    out["patterns"] = patterns
    out["allpairs_kept"] = len(exp["sax_allpairs_refined"])
    return out


def search_layers(run: Run, res: dict) -> dict:
    """Traced-run extras: drains of single layers on their own."""
    spark, d = run.spark, run.data_dir
    tr = run.tracer

    def noop(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    ev = load(spark, d, "events")
    # the windows prefix of sax_allpairs_refined: words and raw values
    prefixes = [
        _dist_words(spark, d),
        tumbling_values(ev, key="user_id", order=ORDER, value="value", n=DIST["n"]),
    ]
    windows_s = sum(noop(df) for df in prefixes)
    windows_rows = sum(df.count() for df in prefixes)

    # prune and refine of sax_allpairs_refined, counted
    words = _dist_words(spark, d).select(
        (F.col("series_key") * 10000 + F.col("window_id")).alias("wkey"), "sax_word"
    )
    n_windows = words.count()
    scale = (DIST["n"] / DIST["w"]) ** 0.5
    candidates = allpairs_within(
        words, w=DIST["w"], c=DIST["c"], delta=(E.REFINE_DELTA + 1e-3) / scale,
        key_col="wkey", word_col="sax_word", n_col=None,
    ).count()
    kept = res["allpairs_kept"]
    all_pairs = n_windows * (n_windows - 1) // 2

    # the read path of one probe on its own
    read_ms, files_read = [], []
    for p in res["patterns"]:
        t0 = time.perf_counter()
        noop(read_words_multilevel(spark, f"{run.run_dir}/isax_index", p, c=DIST["c"], levels=LEVELS))
        read_ms.append((time.perf_counter() - t0) * 1e3)
        sub = os.path.join(
            f"{run.run_dir}/isax_index",
            *[f"isax_l{i}={pk.coarsen(p, DIST['c'], cc)}" for i, cc in enumerate(LEVELS)],
        )
        files_read.append(sum(f.endswith(".parquet") for _, _, fs in os.walk(sub) for f in fs))

    search_drain = sum(
        s["end"] - s["start"] for s in tr.spans
        if s["phase"] == "drain" and s["op"] in SAX_MIX
    )
    return {
        "sources.probe_read_ms": median(read_ms),
        "sources.probe_files_read": median(files_read),
        "windows.drain_s": windows_s,
        "windows.rows_out": windows_rows,
        "search.drain_s": search_drain - windows_s,
        "search.candidates": candidates,
        "search.prune_ratio": candidates / all_pairs if all_pairs else 0.0,
        "search.refine_keep_ratio": kept / candidates if candidates else 0.0,
    }


# ---------------------------------------------------------------- sax_stream


def _iso(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def stage_stream_files(run: Run) -> dict:
    """Split the generated events into ``sizes.stream_files`` event-time
    slices, one parquet file each, with modification times in slice
    order (the file source's arrival order). The event-time stream gets
    a ``LATE_SHARE`` of rows delayed by one file (inside its watermark)
    and one far-future sentinel row that advances the watermark past
    every real window (the no-data batch that follows emits them)."""
    raw = pq.read_table(f"{run.data_dir}/events.parquet").sort_by(
        [("ts", "ascending"), ("event_id", "ascending")]
    )
    n, k = raw.num_rows, run.sizes.stream_files
    slice_of = np.minimum((np.arange(n) * k) // n, k - 1)
    late = (np.random.default_rng(run.seed + 1).random(n) < LATE_SHARE).astype(int)
    sliding_dir, tumbling_dir = f"{run.run_dir}/stream_sliding", f"{run.run_dir}/stream_tumbling"
    os.makedirs(sliding_dir)
    os.makedirs(tumbling_dir)

    def write(table: pa.Table, path: str, i: int) -> None:
        pq.write_table(table, path)
        t = 1_000_000_000 + i
        os.utime(path, (t, t))

    for i in range(k):
        write(raw.filter(pa.array(slice_of == i)), f"{sliding_dir}/b{i:04d}.parquet", i)

    ts_us = raw.column("ts").cast(pa.int64()).to_numpy()
    timed = pa.table({
        "user_id": raw.column("user_id"),
        "event_id": raw.column("event_id"),
        "ts_t": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        "value": raw.column("value"),
    })
    bid = slice_of + late
    nb = int(bid.max()) + 1
    for i in range(nb):
        write(timed.filter(pa.array(bid == i)), f"{tumbling_dir}/b{i:04d}.parquet", i)
    sentinel_days = (E.EVENT_STREAM_SPAN_WINDOWS + 3) * E.EVENT_WINDOW_DAYS
    sentinel = pa.table({
        "user_id": [-1], "event_id": [-1],
        "ts_t": pa.array([int(ts_us.max()) + sentinel_days * 86_400_000_000],
                         pa.timestamp("us", tz="UTC")),
        "value": [0.0],
    }, schema=timed.schema)
    write(sentinel, f"{tumbling_dir}/b{nb:04d}.parquet", nb)
    return {
        "sliding_dir": sliding_dir, "tumbling_dir": tumbling_dir,
        "sliding_files": k, "tumbling_files": nb + 1,
        "late_rows": int(late.sum()), "events": n,
    }


def replay(run: Run, op: str, stream_df, cols: list[str], exp: pd.DataFrame) -> dict:
    """Start ``stream_df`` into a fresh memory sink, process every staged
    file (one per trigger), stop; then check the sink and drop it."""
    run.attempted += 1
    tr, spark = run.tracer, run.spark
    name = f"pb_{op}_{uuid.uuid4().hex[:8]}"
    chk = f"{run.run_dir}/chk_{name}"
    t0 = time.perf_counter()
    progress: list[dict] = []
    q = None
    try:
        with tr.span(op, "build"):
            q = (
                stream_df().writeStream.format("memory").queryName(name)
                .outputMode("append").option("checkpointLocation", chk).start()
            )
        with tr.span(op, "drain") as rec:
            q.processAllAvailable()
            rec["run_id"] = str(q.runId)
        with tr.span(op, "stop"):
            q.stop()
        wall = time.perf_counter() - t0
        progress = [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]
        rec["trigger_s"] = sum(p["durationMs"].get("triggerExecution", 0) for p in progress) / 1e3
        got = spark.table(name).select(*cols).toPandas()
    except Exception:
        run.fail(op, traceback.format_exc())
        if q is not None and q.isActive:
            q.stop()
        return {"wall_s": time.perf_counter() - t0, "progress": progress}
    finally:
        spark.catalog.dropTempView(name)
    run.check(op, got, exp)
    if tr.enabled:
        # the micro-batches ran on the stream's own thread, under its run id
        tr.spans.append({"op": op, "phase": "batches", "group": str(q.runId),
                         "start": t0, "end": t0 + wall})
    for p in progress:
        if p.get("durationMs", {}).get("triggerExecution") is None:
            run.fail(op, f"batch {p.get('batchId')} has no triggerExecution")
    return {"wall_s": wall, "progress": progress}


def sax_stream(run: Run) -> dict:
    spark, duck = run.spark, run.duck
    staged = stage_stream_files(run)
    duck_view(duck, "events", f"{run.data_dir}/events.parquet")
    oq = E.oracle_sql()
    exp_slide = duck.execute(oq["sax_sliding_stream"]).df()
    exp_tumble = duck.execute(oq["sax_event_windows_stream"]).df()
    raw_schema = spark.read.parquet(f"{staged['sliding_dir']}/b0000.parquet").schema
    tumble_schema = spark.read.parquet(f"{staged['tumbling_dir']}/b0000.parquet").schema
    batches: list[dict] = []

    def sliding():
        src = (spark.readStream.schema(raw_schema).option("maxFilesPerTrigger", "1")
               .parquet(staged["sliding_dir"]))
        return sliding_sax_stream(canonicalize_events(src), key="user_id", order=ORDER,
                                  value="value", **E.SLIDE)

    def tumbling():
        src = (spark.readStream.schema(tumble_schema).option("maxFilesPerTrigger", "1")
               .parquet(staged["tumbling_dir"]))
        return tumbling_sax_event_time(
            src, key="user_id", ts="ts_t", value="value",
            duration=f"{E.EVENT_WINDOW_DAYS} days",
            watermark=f"{E.EVENT_STREAM_SPAN_WINDOWS * E.EVENT_WINDOW_DAYS} days",
            **E.EVENT_WINDOW,
        )

    def one_pass(i: int) -> float:
        total = 0.0
        for op, fn, cols, exp in (
            ("sliding_sax_stream", sliding, ["user_id", "event_id", "sax_word"], exp_slide),
            ("tumbling_sax_event_time", tumbling,
             ["series_key", "window_start", "n", "sax_word"], exp_tumble),
        ):
            r = replay(run, op, fn, cols, exp)
            total += r["wall_s"]
            if i > 0:
                batches.extend({"op": op, "pass": i, **p} for p in r["progress"])
        log(f"sax_stream pass {i}: {total:.2f}s")
        return total

    out = passes(run, one_pass)
    out["staged"] = staged
    out["batches"] = batches
    return out


def stream_layers(batches: list[dict]) -> dict:
    def dur(key: str) -> list[float]:
        return [float(b["durationMs"].get(key, 0.0)) for b in batches]

    def state(key: str) -> list[float]:
        return [float(sum(s.get(key, 0) for s in b.get("stateOperators", []))) for b in batches]

    trig = dur("triggerExecution")
    rows = sum(int(b.get("numInputRows", 0)) for b in batches)
    spans: dict = {}
    for b in batches:
        key = (b["op"], b["pass"])
        start = _iso(b["timestamp"])
        end = start + float(b["durationMs"]["triggerExecution"]) / 1e3
        lo, hi = spans.get(key, (start, end))
        spans[key] = (min(lo, start), max(hi, end))
    busy = sum(hi - lo for lo, hi in spans.values())
    last = {}
    for b in batches:
        last[b["op"]] = b
    return {
        "stream_events_per_s": rows / busy if busy else 0.0,
        "batch_p50_ms": median(trig),
        "batch_tail": tail(trig),
        "stream.add_batch_ms_p50": median(dur("addBatch")),
        "stream.commit_ms_p50": median(dur("commitOffsets")),
        "stream.planning_ms_p50": median(dur("queryPlanning")),
        "stream.wal_commit_ms_p50": median(dur("walCommit")),
        "stream.state_rows": sum(
            sum(s.get("numRowsTotal", 0) for s in b.get("stateOperators", [])) for b in last.values()
        ),
        "stream.state_bytes": sum(
            sum(s.get("memoryUsedBytes", 0) for s in b.get("stateOperators", []))
            for b in last.values()
        ),
        "stream.state_commit_ms_p50": median(state("commitTimeMs")),
        "stream.late_rows_dropped": sum(state("numRowsDroppedByWatermark")),
    }


WORKLOADS = {"search_dedup": search_dedup, "sax_stream": sax_stream}
TABLES = {"search_dedup": ("events", "documents"), "sax_stream": ("events",)}
