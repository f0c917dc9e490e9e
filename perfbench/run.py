"""Benchmark entry point.

    python3 perfbench/run.py --workload batch|stream_ingest --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Prints a human-readable report and, as
the last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. Exits non-zero without a result when the engine package
is not present next to the benchmark.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()  # set-up #1 is timed from here

import argparse  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

from common import (  # noqa: E402
    REPO_ROOT,
    RunEnv,
    Tracer,
    cpus,
    declared_metrics,
    host_cpu,
    loadavg,
    result_line,
    stop_engine,
)

WORKLOADS = ("batch", "stream_ingest")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-tests")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(REPO_ROOT, "flink_quickstart_spark")):
        print(f"engine package flink_quickstart_spark not found under {REPO_ROOT}", file=sys.stderr)
        return 2
    e2e_units, layer_units = declared_metrics()
    # a terminated run unwinds too, so that it stops what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    env = RunEnv(args.workload, args.seed)
    env.activate()
    sys.path.insert(0, REPO_ROOT)
    tracer = Tracer(enabled=bool(args.trace))
    load_start, cpu_start = loadavg(), host_cpu()
    try:
        if args.workload == "batch":
            import batch as workload
        else:
            import stream as workload
        res = workload.run(
            env, args.seed, args.seconds, tracer, T_PROCESS, bool(args.trace), args.smoke
        )
    finally:
        # also when a workload raised: no engine process outlives the run
        stop_engine()
        if args.trace:
            os.makedirs(os.path.join(REPO_ROOT, ".bench_run"), exist_ok=True)
            tracer.dump(
                os.path.join(REPO_ROOT, ".bench_run", f"trace-{args.workload}-s{args.seed}.json")
            )
        env.cleanup()

    from common import versions

    v = versions()
    print(
        f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace} "
        f"local[{cpus()}] nproc {os.cpu_count()} spark {v['spark']} duckdb {v['duckdb']} "
        f"pyarrow {v['pyarrow']} loadavg start {load_start} end {loadavg()}"
    )
    cpu_end = host_cpu()
    busy, steal = (cpu_end[k] - cpu_start[k] for k in ("busy", "steal"))
    print(
        f"host CPU during the run: busy {busy:.1f} s, stolen by the hypervisor {steal:.1f} s "
        f"({100 * steal / max(1e-9, busy + steal):.1f} % of the time this machine's CPUs wanted)"
    )
    for line in res["lines"]:
        print(line)
    if args.trace:
        for name, secs in sorted(tracer.self_times().items()):
            print(f"span self time {name}: {secs:.4f} s")
    ratio = res["failed"] / max(1, res["attempted"])
    print(f"failed_ratio {ratio:.6f} ({res['failed']} of {res['attempted']})")
    for name, unit in e2e_units.items():
        print(f"metric {name} = {res['metrics'][name]:.6f} {unit}")
    metrics, units = (res["layer"], layer_units) if args.trace else (res["metrics"], e2e_units)
    print(result_line(res["correct"], res["attempted"], res["failed"], metrics, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
