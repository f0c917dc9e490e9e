"""Self-tests of the benchmark.

    python -m pytest perfbench/tests -q

The first group needs no JVM. The smoke group runs each workload once
on tiny inputs (about three minutes on 4 cores).
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REPO_ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import stream_gen  # noqa: E402
from common import (  # noqa: E402
    DATA_DIR,
    declared_metrics,
    interquartile_mean,
    tail_percentile,
    union_length,
)


def _events(n: int):
    return pq.read_table(os.path.join(DATA_DIR, "sf0.1", "events.parquet")).slice(0, n)


def _digests(directory: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(directory, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(directory))
    }


def _staged(tmp_path, tag: str, seed: int):
    events = _events(3_000)
    files, n_dup = stream_gen.plan_files(events, seed, n_files=6)
    stream_gen.stage(files, str(tmp_path / tag))
    return files, n_dup, _digests(str(tmp_path / tag))


def test_stream_files_are_a_pure_function_of_seed_and_input(tmp_path):
    files_a, dup_a, digest_a = _staged(tmp_path, "a", seed=7)
    files_b, dup_b, digest_b = _staged(tmp_path, "b", seed=7)
    assert digest_a == digest_b
    assert dup_a == dup_b > 0
    assert all(a.equals(b) for a, b in zip(files_a, files_b))
    _, _, digest_c = _staged(tmp_path, "c", seed=8)
    assert digest_c != digest_a  # another seed re-emits another duplicate set


def test_stream_files_hold_every_event_once_plus_the_duplicates():
    events = _events(2_000)
    files, n_dup = stream_gen.plan_files(events, seed=3, n_files=5)
    ids = [i for f in files for i in f.column("event_id").to_pylist()]
    assert len(ids) == events.num_rows + n_dup
    assert set(ids) == set(events.column("event_id").to_pylist())
    # a duplicate is re-emitted one or two files after its original
    first_seen: dict[int, int] = {}
    for k, f in enumerate(files):
        for i in f.column("event_id").to_pylist():
            if i in first_seen:
                assert 1 <= k - first_seen[i] <= 2
            else:
                first_seen[i] = k


def test_input_tables_match_their_recorded_digests():
    with open(os.path.join(DATA_DIR, "SHA256SUMS")) as fh:
        recorded = dict(reversed(line.split()) for line in fh if line.strip())
    actual = {
        f"{sf}/{name}": digest
        for sf in sorted(os.listdir(DATA_DIR))
        if os.path.isdir(os.path.join(DATA_DIR, sf))
        for name, digest in _digests(os.path.join(DATA_DIR, sf)).items()
    }
    assert actual == recorded


def test_statistics_helpers():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert tail_percentile(list(range(10))) is None
    assert tail_percentile(list(range(20))) is None  # would sit at the median
    pct, value = tail_percentile(list(range(30)))
    assert (round(pct, 1), value) == (66.7, 19)
    assert interquartile_mean([9, 1, 2, 3, 4, 5, 6, 0]) == 3.5  # middle four: 2..5
    assert interquartile_mean([2, 4]) == 3


# --- smoke runs (start Spark) -------------------------------------------------------


def _session_members(sid: int) -> list[int]:
    """Live processes of session ``sid`` (zombies included)."""
    out = []
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError, NotADirectoryError):
            continue
        if int(fields[3]) == sid:
            out.append(int(name))
    return out


def _run(workload: str, trace: int, seconds: int = 2) -> tuple[dict, str]:
    # its own session, so that processes it leaves behind can be found
    with subprocess.Popen(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", str(seconds), "--trace", str(trace), "--smoke"],
        cwd=REPO_ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        start_new_session=True,
    ) as proc:
        stdout, stderr = proc.communicate(timeout=600)
    assert proc.returncode == 0, stderr[-3000:]
    assert _session_members(proc.pid) == [], "the run left processes behind"
    return json.loads(stdout.strip().splitlines()[-1]), stdout


@pytest.fixture(scope="module")
def traced_batch():
    return _run("batch", trace=1)


@pytest.mark.parametrize("workload", ["batch", "stream_ingest"])
def test_smoke_untraced_reports_every_end_to_end_metric(workload):
    result, _ = _run(workload, trace=0)
    e2e, _ = declared_metrics()
    assert set(result["metrics"]) == set(e2e)
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert result["failed"] == 0 and result["correct"] and result["attempted"] > 0


def test_smoke_traced_batch_reports_every_per_layer_metric(traced_batch):
    result, _ = traced_batch
    _, layer = declared_metrics()
    assert set(result["metrics"]) == set(layer)
    assert result["failed"] == 0 and result["correct"]


def test_smoke_traced_stream_reports_every_per_layer_metric():
    result, out = _run("stream_ingest", trace=1)
    _, layer = declared_metrics()
    assert set(result["metrics"]) == set(layer)
    assert result["failed"] == 0 and result["correct"]
    assert "layer streaming.trigger_s" in out


def test_per_pass_job_counts_repeat_exactly(traced_batch):
    _, out = traced_batch
    m = re.search(r"layer exec\.jobs per pass: \[([\d, ]+)\]", out)
    counts = [int(x) for x in m.group(1).split(",")]
    assert len(counts) >= 2 and len(set(counts)) == 1
