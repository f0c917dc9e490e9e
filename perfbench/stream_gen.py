"""Input generator for the ``stream_ingest`` workload.

``plan_files`` splits an event table (sorted by ``ts``) into files of
consecutive event time and re-emits a seeded fraction of each file's
events in one of the next ``max_lag`` files, modelling at-least-once
delivery. It is a pure function of (seed, input table): the same seed
gives the same files and the same duplicate set.

Run as a program, this module is the open-loop landing process: it moves
staged files into the directory the stream watches, each by one atomic
rename at its scheduled absolute time, whatever the engine is doing, and
records when each file actually landed::

    python stream_gen.py land STAGE_DIR LAND_DIR SCHEDULE_JSON LOG_JSON
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Staged files get mtimes BASE_MTIME + index: the file source orders new
#: files by modification time, so landing order is file order.
BASE_MTIME = 1_700_000_000


def plan_files(
    events: pa.Table,
    seed: int,
    n_files: int,
    dup_fraction: float = 0.02,
    max_lag: int = 2,
) -> tuple[list[pa.Table], int]:
    """(files, n_duplicates): ``events`` cut into ``n_files`` slices of
    consecutive rows, plus re-emitted copies appended to later files."""
    rng = np.random.default_rng(seed)
    bounds = np.linspace(0, events.num_rows, n_files + 1).astype(int)
    slices = [events.slice(bounds[i], bounds[i + 1] - bounds[i]) for i in range(n_files)]
    extra: list[list[pa.Table]] = [[] for _ in range(n_files)]
    n_dup = 0
    for i, part in enumerate(slices):
        picked = np.flatnonzero(rng.random(part.num_rows) < dup_fraction)
        lags = rng.integers(1, max_lag + 1, len(picked))
        for lag in range(1, max_lag + 1):
            rows = picked[lags == lag]
            if i + lag < n_files and len(rows):
                extra[i + lag].append(part.take(pa.array(rows)))
                n_dup += len(rows)
    files = [pa.concat_tables([slices[i], *extra[i]]) for i in range(n_files)]
    return files, n_dup


def file_name(index: int) -> str:
    return f"part-{index:05d}.parquet"


def write_table(table: pa.Table, path: str) -> None:
    """One single-row-group parquet file, written atomically."""
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def stage(files: list[pa.Table], stage_dir: str) -> list[str]:
    """Write the planned files (not yet visible to the stream)."""
    os.makedirs(stage_dir, exist_ok=True)
    names = []
    for i, table in enumerate(files):
        path = os.path.join(stage_dir, file_name(i))
        write_table(table, path)
        os.utime(path, (BASE_MTIME + i, BASE_MTIME + i))
        names.append(file_name(i))
    return names


def land(stage_dir: str, land_dir: str, names) -> None:
    """Make staged files visible to the stream (atomic renames)."""
    for name in names:
        os.rename(os.path.join(stage_dir, name), os.path.join(land_dir, name))


def _land_on_schedule(stage_dir: str, land_dir: str, schedule_path: str, log_path: str) -> None:
    with open(schedule_path) as fh:
        schedule = json.load(fh)  # [[name, due_epoch_seconds], ...]
    landed = []
    for name, due in schedule:
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        land(stage_dir, land_dir, [name])
        landed.append([name, due, time.time()])
    tmp = log_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(landed, fh)
    os.replace(tmp, log_path)


if __name__ == "__main__":
    if len(sys.argv) != 6 or sys.argv[1] != "land":
        sys.exit(__doc__)
    _land_on_schedule(*sys.argv[2:])
