"""The ``batch`` workload: a closed loop with one client.

Each pass builds and fully collects every key, the next key starting
when the previous one returned. A cold pass and two warm-up passes run
the keys in registry order; the timed passes each run them in a
seed-shuffled order. The keys are the seven ``bench.py`` headline keys
(Catalyst, scheduling and scan-decode floors) and one operator key on
the Python-worker tier.
"""

from __future__ import annotations

import os
import random
import sys
import time

from common import (
    DATA_DIR,
    REPO_ROOT,
    host_cpu,
    interquartile_mean,
    job_totals,
    jvm_peak_rss_mb,
    median,
    read_event_log,
    tail_percentile,
    union_length,
)

OPERATOR_KEYS = ("q_grouped_map_zscore",)
#: Input: the project's test data at sf0.01 (60 000 lineitem rows); the
#: self-test smoke run uses sf0.001.
SCALE_DIR, SMOKE_SCALE_DIR = "sf0.01", "sf0.001"
N_SETUPS = 3
#: Untimed passes after the cold one: the JIT is still compiling then,
#: and a pass costs 1.3 to 1.6 times the CPU it costs later.
WARM_PASSES = 2
MIN_PASSES = 4


def _keys() -> list[str]:
    from bench import HEADLINE

    return [*HEADLINE, *OPERATOR_KEYS]


def _run_pass(spark, registry, data_dir, order, pass_id, tracer, trace):
    """One pass; returns per-key records (outputs kept for the oracle)."""
    sc = spark.sparkContext
    records = []
    with tracer.span("pass", trace=pass_id) as ps:
        for key in order:
            rec = {"key": key, "group": f"bench:{pass_id}:{key}"}
            if trace:
                sc.setJobGroup(rec["group"], key)
            bs: dict = {}
            acts: dict = {}
            with tracer.span("plans.key", key=key) as ks:
                try:
                    with tracer.span("plans.build") as bs:
                        df = registry.REGISTRY[key].builder(spark, data_dir)
                    if trace:
                        rec["eager_jobs"] = len(sc.statusTracker().getJobIdsForGroup(rec["group"]))
                    with tracer.span("plans.action") as acts:
                        rows = df.collect()
                    rec.update(rows=[tuple(r) for r in rows], cols=list(df.columns))
                    if trace:
                        phases = df._jdf.queryExecution().tracker().phases()
                        for ph in ("analysis", "optimization", "planning"):
                            rec[ph] = phases.apply(ph).durationMs() / 1e3
                except Exception as exc:  # noqa: BLE001 — a failed key is counted, not fatal
                    rec["error"] = f"{type(exc).__name__}: {exc}"
                    print(f"FAIL {key} in pass {pass_id}: {rec['error'][:300]}", flush=True)
            rec.update(wall=ks["dur"], build=bs.get("dur", 0.0), action=acts.get("dur", 0.0))
            records.append(rec)
    if trace:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return records, ps["dur"]


def _oracle_check(data_dir, registry, records) -> list[str]:
    """Exact compare of each key's collected output with its DuckDB
    oracle (same normalization as tools/verify_local.py)."""
    import duckdb

    sys.path.insert(0, os.path.join(REPO_ROOT, "tools"))
    from verify_local import TABLES, normalize

    oracles = registry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    bad = []
    for rec in records:
        key = rec["key"]
        try:
            cur = con.execute(oracles[key])
            ocols, orows = [d[0] for d in cur.description], cur.fetchall()
        except Exception as exc:  # noqa: BLE001
            bad.append(f"{key}: oracle error {type(exc).__name__}: {exc}")
            continue
        if "error" in rec:
            bad.append(f"{key}: no output ({rec['error'][:200]})")
            continue
        if normalize(rec["cols"], rec["rows"]) != normalize(ocols, orows):
            bad.append(f"{key}: output differs from the DuckDB oracle")
    con.close()
    return bad


def run(env, seed: int, seconds: int, tracer, t_process: float, trace: bool, smoke: bool) -> dict:
    from flink_quickstart_spark import get_spark
    from flink_quickstart_spark.plans import load_all, registry
    from flink_quickstart_spark.session import dir_bytes, shuffle_partitions_for_bytes

    load_all()
    keys = _keys()
    data_dir = os.path.join(DATA_DIR, SMOKE_SCALE_DIR if smoke else SCALE_DIR)
    conf = {"spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false"}
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + env.path("eventlog"),
            "spark.eventLog.compress": "false",
        }

    # --- set-up, repeated: session, tables ---------------------------------
    spark, sessions, setup_s, load_s, session_start_s = None, [], [], [], None
    for i in range(N_SETUPS):
        t0 = t_process if i == 0 else time.time()
        with tracer.span("setup", trace=f"setup{i}"):
            if spark is not None:
                spark.stop()
            env.reset_work()
            with tracer.span("session.start") as ss:
                spark = get_spark(
                    app_name="perfbench-batch",
                    shuffle_partitions=shuffle_partitions_for_bytes(dir_bytes(data_dir)),
                    extra_conf=conf,
                )
                spark.sparkContext.setLogLevel("ERROR")
            with tracer.span("sources.load_tables") as ls:
                registry.tables(spark, data_dir)
        # keep every session object alive: the registry's table cache is
        # keyed on id(spark), which must not be reused by a later session
        sessions.append(spark)
        setup_s.append(time.time() - t0)
        load_s.append(ls["dur"])
        if session_start_s is None:
            session_start_s = ss["dur"]

    rng = random.Random(seed)

    def order():
        o = list(keys)
        rng.shuffle(o)
        return o

    # --- cold pass: JIT, codegen, Python workers, fixture/index builds ---
    # It and the warm passes run the keys in registry order, so that what
    # the JIT compiles first does not depend on the seed.
    cold_records, cold_s = _run_pass(spark, registry, data_dir, list(keys), "cold", tracer, trace)
    for w in range(WARM_PASSES):
        _run_pass(spark, registry, data_dir, list(keys), f"warm{w}", tracer, trace)

    # --- timed passes ---------------------------------------------------
    passes, cpu = [], []
    t_start = time.time()
    while len(passes) < MIN_PASSES or time.time() - t_start < seconds:
        c0 = host_cpu()
        records, wall = _run_pass(spark, registry, data_dir, order(), f"p{len(passes)}", tracer, trace)
        c1 = host_cpu()
        cpu.append({k: c1[k] - c0[k] for k in c0})
        passes.append((records, wall))

    timed = [r for records, _ in passes for r in records]
    attempted = len(timed)
    failed = sum("error" in r for r in timed)

    # --- correctness, outside the timed region ----------------------------
    mismatches = _oracle_check(data_dir, registry, passes[-1][0])
    attempted += len(keys)
    failed += len(mismatches)

    ok = [r for r in timed if "error" not in r]
    latencies = [r["wall"] for r in ok]

    def key_medians(field):  # every key's median over the timed passes
        return [median(v) for k in keys if (v := [r[field] for r in ok if r["key"] == k])]

    metrics = {
        "setup_s": median(setup_s),
        # a pass with every key at its median
        "work_s": sum(key_medians("wall")),
        # the result-fetch part of that pass: the collect() calls alone
        "read_s": sum(key_medians("action")),
        # a typical key: the mean of the middle half of the per-key
        # medians. A median over keys or over all executions jumps
        # between keys whose times lie close together.
        "latency_s": interquartile_mean(key_medians("wall")),
    }
    lines = [
        f"keys: {', '.join(keys)}",
        f"set-ups (s): {', '.join(f'{s:.3f}' for s in setup_s)}",
        f"warmup_s {cold_s:.4f} (the cold pass: JIT, codegen, Python workers, fixtures)",
        f"passes: {len(passes)}, pass times (s): {', '.join(f'{w:.3f}' for _, w in passes)}",
        "host CPU per pass, busy/steal (s): "
        + ", ".join(f"{c['busy']:.2f}/{c['steal']:.2f}" for c in cpu),
    ]
    lines.append(
        "per-key median wall over the timed passes (s): "
        + ", ".join(f"{k} {median([r['wall'] for r in ok if r['key'] == k]):.3f}"
                    for k in keys if any(r["key"] == k for r in ok))
    )
    tail = tail_percentile(latencies)
    lines.append(
        f"key latency: interquartile mean over keys {metrics['latency_s']:.4f} s; over all "
        f"{len(latencies)} executions p50 {median(latencies):.4f} s, "
        + (f"tail p{tail[0]:.1f} {tail[1]:.4f} s" if tail else "too few samples for a tail")
    )
    lines += [f"MISMATCH {m}" for m in mismatches]

    layer = {}
    if trace:
        layer["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
        spark.stop()  # flushes the event log
        layer.update(_layers(env, passes, cold_records, keys, lines))
        layer["session.start_s"] = session_start_s
        layer["sources.load_s"] = median(load_s)
        layer["trace.work_s"] = metrics["work_s"]
        layer["warmup_s"] = cold_s
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


def _layers(env, passes, cold_records, keys, lines) -> dict:
    """Per-layer numbers from the event log, the planning tracker and
    the spans. Per-pass values are medians over the timed passes."""
    jobs, stages = read_event_log(env.path("eventlog"))
    by_group: dict[str, list] = {}
    for j in jobs.values():
        by_group.setdefault(j.group, []).append(j)

    per_pass = []
    per_key: dict[str, list[dict]] = {k: [] for k in keys}
    for records, wall in passes:
        tot: dict[str, float] = {"wall": wall}
        job_intervals = []
        for rec in records:
            kj = by_group.get(rec["group"], [])
            kt = job_totals(kj, stages)
            intervals = [(j.submit, j.end) for j in kj]
            job_intervals += intervals
            kt["residual_s"] = rec["wall"] - union_length(intervals)
            kt.update(build_s=rec["build"], action_s=rec["action"], eager_jobs=rec.get("eager_jobs", 0))
            for ph in ("analysis", "optimization", "planning"):
                kt[ph] = rec.get(ph, 0.0)
            per_key[rec["key"]].append(kt)
            for name, v in kt.items():
                tot[name] = tot.get(name, 0.0) + v
        per_pass.append(tot)

    def pm(name):  # median over passes of a per-pass total
        return median([p.get(name, 0.0) for p in per_pass])

    job_counts = [int(p["jobs"]) for p in per_pass]
    lines.append(f"layer exec.jobs per pass: {job_counts} (repeat exactly when deterministic)")
    for name, label in (
        ("catalyst.analysis_s", "analysis"), ("catalyst.optimization_s", "optimization"),
        ("catalyst.planning_s", "planning"), ("plans.eager_jobs", "eager_jobs"),
        ("exec.stages", "stages"), ("exec.gc_s", "gc_s"), ("python.boot_s", "py_boot_s"),
        ("python.run_s", "py_run_s"), ("python.bytes_sent", "py_sent"),
    ):
        lines.append(f"layer {name} per pass: {pm(label):.6g}")
    lines.append("cold pass per key (s): " + ", ".join(f"{r['key']} {r['wall']:.2f}" for r in cold_records))
    for key in keys:
        ks = per_key[key]
        lines.append(
            f"layer plans.{key}: build_s {median([k['build_s'] for k in ks]):.4f} "
            f"action_s {median([k['action_s'] for k in ks]):.4f} "
            f"jobs {median([k['jobs'] for k in ks]):.0f} "
            f"eager_jobs {median([k['eager_jobs'] for k in ks]):.0f} "
            f"residual_s {median([k['residual_s'] for k in ks]):.4f}"
        )
    return {
        "catalyst.planning_s": pm("planning"),
        "exec.jobs": pm("jobs"),
        "exec.stages": pm("stages"),
        "exec.tasks": pm("tasks"),
        "exec.executor_run_s": pm("run_s"),
        "exec.executor_cpu_s": pm("cpu_s"),
        "shuffle.write_bytes": pm("shuffle_write"),
        "shuffle.read_bytes": pm("shuffle_read"),
        "scan.input_bytes": pm("input_bytes"),
        "driver.residual_s": pm("residual_s"),
    }
