"""The ``stream_ingest`` workload: event files into a served matview.

One Structured Streaming query watches a landing directory
(``maxFilesPerTrigger=1``), deduplicates on ``(event_id, ts)`` under a
watermark, and folds every micro-batch into an epoch-partitioned
``operators.matview`` store through
``streaming.harness.foreach_batch_mv_refresh``. The input is the first
events, in event-time order, of the test data's sf0.1 ``events`` table,
cut into files of 2 500 events, with a seeded 2 % of each file's events
re-emitted in the next file (inside the watermark delay).

Phases after set-up:

1. cold: the first file, the query's first micro-batch in a fresh JVM;
2. catch-up: a pre-staged backlog lands at once and is drained;
3. live: a separate process lands files at a fixed absolute rate
   (open loop), well below the catch-up rate;
4. reads: full ``mv_read`` three times, ``compact_mv``, one more read.
"""

from __future__ import annotations

import json
import math
import os
import re
import subprocess
import sys
import time

import stream_gen
from common import (
    BENCH_DIR,
    DATA_DIR,
    cpus,
    job_totals,
    jvm_peak_rss_mb,
    median,
    read_event_log,
    tail_percentile,
    union_length,
)

EVENTS_DIR = os.path.join(DATA_DIR, "sf0.1")  # events.parquet, sorted by ts
EVENTS_PER_FILE = 2_500
BACKLOG_FILES = 5
SMOKE_EVENTS_PER_FILE, SMOKE_BACKLOG = 500, 2  # the self-test smoke run
#: Live landing rate (files/s): a data batch and the no-data watermark
#: batch after it take 1.7 to 3 s together on 4 cores, depending on how
#: much CPU the host gives; one file every 4 s keeps the query from
#: queueing, which would make latency grow much faster than the host
#: slows down.
LIVE_RATE = 1 / 4
#: The live tail lasts this many times --seconds.
LIVE_SECONDS_PER_SECOND = 5
DUP_FRACTION = 0.02
MAX_LAG = 1
MV_BUCKETS = 4
GROUP_COLS = ["event_type", "user_id"]
MV_SPEC = [("count", "*", "n_events"), ("sum", "cents", "cents")]
N_SETUPS = 3
#: Full reads before compaction: untimed ones first (the first reads
#: after the query stops are still warming up), then timed ones; one
#: timed read after compaction.
N_WARM_READS, N_READS = 4, 7
WAIT_S = 60.0  # a file not committed this long after it was due counts as failed


def _watermark_delay(events, n_files: int) -> str:
    """MAX_LAG + 1 files' worth of event time: re-emitted events (up to
    MAX_LAG files late) are still inside the delay, so the state
    catches them."""
    import pyarrow.compute as pc

    mm = pc.min_max(events.column("ts"))
    span_s = (mm["max"].as_py() - mm["min"].as_py()).total_seconds()
    return f"{math.ceil((MAX_LAG + 1) * span_s / n_files / 60)} minutes"


_LOG_OFFSET = re.compile(r"logOffset\D*(\d+)")


def _offset(progress) -> int | None:
    """The file-source log offset a micro-batch ended at (PySpark hands
    the offset over as the repr of its JSON object)."""
    m = _LOG_OFFSET.search(str(progress["sources"][0]["endOffset"]))
    return int(m.group(1)) if m else None


def _wait_offset(query, target: int, deadline: float) -> bool:
    """Block until a micro-batch that ends at file-log offset >= target
    has completed; False on deadline or query failure."""
    while time.time() < deadline:
        if query.exception() is not None or not query.isActive:
            return False
        p = query.lastProgress
        if p is not None and p["numInputRows"] > 0 and (_offset(p) or 0) >= target:
            return True
        time.sleep(0.02)
    return False


def run(env, seed: int, seconds: int, tracer, t_process: float, trace: bool, smoke: bool) -> dict:
    import duckdb
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from flink_quickstart_spark import get_spark
    from flink_quickstart_spark.operators.maintenance import data_file_counts, store_data_dir
    from flink_quickstart_spark.operators.matview import compact_mv, mv_build, mv_read
    from flink_quickstart_spark.sources.tables import load_table
    from flink_quickstart_spark.streaming.harness import foreach_batch_mv_refresh

    sys.path.insert(0, os.path.join(os.path.dirname(BENCH_DIR), "tools"))
    from verify_local import normalize

    per_file, n_backlog = (
        (SMOKE_EVENTS_PER_FILE, SMOKE_BACKLOG) if smoke else (EVENTS_PER_FILE, BACKLOG_FILES)
    )
    n_live = max(1, round(LIVE_RATE * LIVE_SECONDS_PER_SECOND * seconds))
    n_files = 1 + n_backlog + n_live
    n_events = per_file * n_files
    stage_dir, land_dir = env.path("work", "stage"), env.path("work", "land")
    mv_path, ckpt = env.path("work", "mv"), env.path("work", "ckpt")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + env.path("eventlog"),
            "spark.eventLog.compress": "false",
        }
    calls: dict[int, tuple[float, float]] = {}  # batch id -> foreachBatch (start, end)

    def start_query(spark, schema, delay):
        refresh = foreach_batch_mv_refresh(mv_path)

        def handle(batch_df, batch_id):
            with tracer.span("streaming.foreach_batch", trace=f"batch{batch_id}") as s:
                with tracer.span("operators.mv_refresh"):
                    refresh(batch_df, batch_id)
            calls[batch_id] = (s["start"], s["end"])

        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(land_dir)
        if isinstance(schema["ts"].dataType, T.TimestampNTZType):
            # the test data's ts is timezone-less; sources.load_table
            # casts it the same way for batch reads
            stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        return (
            stream.withWatermark("ts", delay)
            .dropDuplicates(["event_id", "ts"])
            .withColumn("cents", F.round(F.col("value") * 100).cast("long"))
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", ckpt)
            .start()
        )

    # --- set-up, repeated: inputs, session, table, MV store, query --------
    spark = query = None
    setup_s, load_s, session_start_s = [], [], None
    for i in range(N_SETUPS):
        t0 = t_process if i == 0 else time.time()
        with tracer.span("setup", trace=f"setup{i}"):
            if query is not None:
                query.stop()
            if spark is not None:
                spark.stop()
            env.reset_work()
            calls.clear()
            with tracer.span("inputs.stage"):
                events = pq.read_table(os.path.join(EVENTS_DIR, "events.parquet"))
                if n_events > events.num_rows:
                    raise ValueError(f"{n_files} files need {n_events} events, input has fewer")
                events = events.slice(0, n_events)
                files, n_dup = stream_gen.plan_files(events, seed, n_files, DUP_FRACTION, MAX_LAG)
                delay = _watermark_delay(events, n_files)
                names = stream_gen.stage(files, stage_dir)
                os.makedirs(land_dir)
            with tracer.span("session.start") as ss:
                spark = get_spark(
                    app_name="perfbench-stream", shuffle_partitions=cpus(), extra_conf=conf
                )
                spark.sparkContext.setLogLevel("ERROR")
            with tracer.span("sources.load_table") as ls:
                schema = spark.read.parquet(os.path.join(EVENTS_DIR, "events.parquet")).schema
                events_df = load_table(spark, EVENTS_DIR, "events")
            with tracer.span("operators.mv_build"):
                empty = events_df.limit(0).withColumn("cents", F.lit(0).cast("long"))
                mv_build(empty, mv_path, GROUP_COLS, MV_SPEC, n_buckets=MV_BUCKETS,
                         epoch_partitioned=True)
            with tracer.span("streaming.start"):
                query = start_query(spark, schema, delay)
        setup_s.append(time.time() - t0)
        load_s.append(ls["dur"])
        if session_start_s is None:
            session_start_s = ss["dur"]

    landed: dict[str, tuple[float, float]] = {}  # name -> (due, landed)

    def land_now(batch_names):
        t = time.time()
        stream_gen.land(stage_dir, land_dir, batch_names)
        for n in batch_names:
            landed[n] = (t, t)
        return t

    # --- cold: the first file ---------------------------------------------
    with tracer.span("phase.cold"):
        t_cold = land_now(names[:1])
        _wait_offset(query, 0, t_cold + WAIT_S)

    # --- catch-up: the backlog lands at once ----------------------------------
    backlog = names[1 : 1 + n_backlog]
    with tracer.span("phase.catchup"):
        t_catch = land_now(backlog)
        _wait_offset(query, n_backlog, t_catch + WAIT_S)

    # --- live: a separate process lands files on a fixed schedule ----------
    live = names[1 + n_backlog :]
    t_live = time.time() + 0.5
    schedule = [[n, t_live + j / LIVE_RATE] for j, n in enumerate(live)]
    sched_path, log_path = env.path("work", "schedule.json"), env.path("work", "landed.json")
    with open(sched_path, "w") as fh:
        json.dump(schedule, fh)
    with tracer.span("phase.live"):
        gen = subprocess.Popen(
            [sys.executable, os.path.join(BENCH_DIR, "stream_gen.py"), "land",
             stage_dir, land_dir, sched_path, log_path]
        )
        try:
            _wait_offset(query, n_files - 1, schedule[-1][1] + WAIT_S)
            try:
                gen.wait(timeout=max(1.0, schedule[-1][1] - time.time() + WAIT_S))
            except subprocess.TimeoutExpired:
                pass
        finally:
            if gen.poll() is None:  # late, or the run is unwinding
                gen.kill()
            gen.wait()
    with open(log_path) as fh:
        for n, due, t in json.load(fh):
            landed[n] = (due, t)
    query_error = query.exception()
    progress = list(query.recentProgress)
    query.stop()

    # --- which file each micro-batch committed ----------------------------------
    # With maxFilesPerTrigger=1 and staged mtimes in file order, the data
    # batch that ends at file-log offset k reads file k; the oracle check
    # below catches a skipped or re-ordered file.
    committed: dict[str, float] = {}  # file -> end of its foreachBatch call
    data_batches, nodata = [], []
    for p in progress:
        if p["numInputRows"] > 0:
            data_batches.append(p)
            k = _offset(p)
            if k is not None and k < len(names) and p["batchId"] in calls:
                committed[names[k]] = calls[p["batchId"]][1]
        else:
            nodata.append(p)
    missing = [n for n in names if n not in committed]

    # --- reads ---------------------------------------------------------------------
    failed = len(missing) + (query_error is not None)
    attempted = len(names) + 1
    outputs, compact_s = [], float("nan")
    store_files = sum(data_file_counts(store_data_dir(mv_path, "groups")).values())

    def full_reads(span_name: str, n: int) -> list[float]:
        nonlocal attempted, failed
        durations = []
        for _ in range(n):
            attempted += 1
            try:
                with tracer.span(span_name) as rs:
                    df = mv_read(spark, mv_path)
                    rows = df.collect()
                durations.append(rs["dur"])
                outputs.append((list(df.columns), [tuple(r) for r in rows]))
            except Exception as exc:  # noqa: BLE001 — counted, not fatal
                failed += 1
                print(f"FAIL {span_name}: {type(exc).__name__}: {exc}", flush=True)
        return durations

    full_reads("operators.mv_read_warmup", N_WARM_READS)
    reads = full_reads("operators.mv_read", N_READS)
    attempted += 1
    try:
        with tracer.span("operators.compact_mv") as cs:
            compact_mv(spark, mv_path)
        compact_s = cs["dur"]
    except Exception as exc:  # noqa: BLE001 — counted, not fatal
        failed += 1
        print(f"FAIL compact_mv: {type(exc).__name__}: {exc}", flush=True)
    compacted_reads = full_reads("operators.mv_read_compacted", 1)

    # --- correctness: the MV equals a group-by over the distinct events -------
    con = duckdb.connect()
    cur = con.execute(
        "SELECT event_type, user_id, count(*) AS n_events, "
        "sum(CAST(round(value * 100) AS BIGINT)) AS cents FROM "
        f"(SELECT DISTINCT * FROM read_parquet('{land_dir}/*.parquet')) GROUP BY ALL"
    )
    expected = normalize([d[0] for d in cur.description], cur.fetchall())
    con.close()
    wrong = [o for o in outputs if normalize(*o) != expected]
    attempted += 1
    failed += bool(wrong) or not outputs

    # --- metrics -----------------------------------------------------------------------
    def end_of(n):
        return committed.get(n, float("nan"))

    cold_s = end_of(names[0]) - t_cold
    # drain time as backlog size x the median commit interval: the first
    # micro-batches after the cold one (JIT still settling) and one slow
    # batch (a GC pause) do not move it
    ends = sorted(end_of(n) for n in backlog)
    drain_s = len(backlog) * median([b - a for a, b in zip([t_catch, *ends], ends)])
    latencies = [end_of(n) - landed[n][0] for n in live if n in committed]
    events_backlog = sum(files[names.index(n)].num_rows for n in backlog)
    metrics = {
        "setup_s": median(setup_s),
        "work_s": drain_s,
        "read_s": median(reads) if reads else float("nan"),
        "latency_s": median(latencies) if latencies else float("nan"),
    }
    tail = tail_percentile(latencies)
    lag = max(t - due for due, t in (landed[n] for n in live))
    backlog_max = max(
        sum(1 for m in live if landed[m][1] <= landed[n][1] and end_of(m) > landed[n][1])
        for n in live
    )
    lines = [
        f"files: {n_files} ({n_backlog} backlog, {n_live} live at {LIVE_RATE}/s), "
        f"{n_events} events + {n_dup} re-emitted, watermark {delay}",
        f"set-ups (s): {', '.join(f'{s:.3f}' for s in setup_s)}",
        f"warmup_s {cold_s:.4f} (the first file: landing to the end of its foreachBatch call)",
        f"catch-up: {n_backlog} files, {events_backlog} events in {drain_s:.3f} s "
        f"= drain_events_per_s {events_backlog / drain_s:.1f}",
        f"mv_read_s {metrics['read_s']:.4f}, median of {len(reads)} full reads (s): "
        + ", ".join(f"{r:.3f}" for r in reads),
        f"event latency: p50 {metrics['latency_s']:.4f} s over {len(latencies)} files; "
        + (f"tail p{tail[0]:.1f} {tail[1]:.4f} s" if tail else "too few files for a tail"),
        f"streaming.generator_lag_s {lag:.4f} (max; must stay near 0)",
        f"streaming.backlog_files_max {backlog_max}",
    ]
    if missing:
        lines.append(f"FAIL files not committed: {missing}")
    if query_error is not None:
        lines.append(f"FAIL query: {query_error}")
    if wrong or not outputs:
        lines.append("MISMATCH matview differs from the DuckDB group-by over distinct events")

    layer = {}
    if trace:
        layer["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
        spark.stop()  # flushes the event log
        layer.update(_layers(env, data_batches, nodata, calls, lines))
        layer["session.start_s"] = session_start_s
        layer["sources.load_s"] = median(load_s)
        layer["trace.work_s"] = metrics["work_s"]
        layer["warmup_s"] = cold_s
        lines += [
            f"layer operators.mv_store_files {store_files} (before compaction)",
            f"layer operators.compact_mv_s {compact_s:.4f}",
            f"layer operators.mv_read_compacted_s {median(compacted_reads) if compacted_reads else float('nan'):.4f}",
        ]
    else:
        spark.stop()
    return {
        "metrics": metrics,
        "layer": layer,
        "lines": lines,
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0,
    }


def _layers(env, data_batches, nodata, calls, lines) -> dict:
    """Per data micro-batch medians from progress events and the event log."""
    jobs, stages = read_event_log(env.path("eventlog"))
    by_batch: dict[int, list] = {}
    for j in jobs.values():
        if j.batch is not None:
            by_batch.setdefault(j.batch, []).append(j)
    per_batch = []
    for p in data_batches:
        bj = by_batch.get(p["batchId"], [])
        t = job_totals(bj, stages)
        t["residual_s"] = p["durationMs"]["triggerExecution"] / 1e3 - union_length(
            [(j.submit, j.end) for j in bj]
        )
        per_batch.append(t)

    def bm(name):
        return median([b.get(name, 0.0) for b in per_batch])

    def dm(key, ps=data_batches):
        return median([p["durationMs"].get(key, 0) / 1e3 for p in ps]) if ps else 0.0

    state = [p["stateOperators"][0] for p in data_batches if p["stateOperators"]]
    refresh = [e - s for b, (s, e) in calls.items() if b in {p["batchId"] for p in data_batches}]
    lines += [
        f"layer streaming.trigger_s {dm('triggerExecution'):.4f}",
        f"layer streaming.add_batch_s {dm('addBatch'):.4f}",
        f"layer streaming.wal_commit_s {dm('walCommit'):.4f}",
        f"layer streaming.nodata_batches {len(nodata)}",
        f"layer streaming.nodata_s {dm('triggerExecution', nodata):.4f}",
        f"layer state.rows_total {max(s['numRowsTotal'] for s in state) if state else 0}",
        f"layer state.commit_s {median([s['commitTimeMs'] / 1e3 for s in state]) if state else 0.0:.4f}",
        f"layer operators.mv_refresh_s {median(refresh) if refresh else 0.0:.4f}",
        f"layer operators.mv_refresh_jobs {bm('jobs'):.0f}",
        f"layer exec.gc_s per batch {bm('gc_s'):.4f}",
    ]
    return {
        "catalyst.planning_s": dm("queryPlanning"),
        "exec.jobs": bm("jobs"),
        "exec.stages": bm("stages"),
        "exec.tasks": bm("tasks"),
        "exec.executor_run_s": bm("run_s"),
        "exec.executor_cpu_s": bm("cpu_s"),
        "shuffle.write_bytes": bm("shuffle_write"),
        "shuffle.read_bytes": bm("shuffle_read"),
        "scan.input_bytes": bm("input_bytes"),
        "driver.residual_s": bm("residual_s"),
    }
