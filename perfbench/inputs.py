"""Seeded input generation for the benchmark workloads.

Every input is made here from the workload's seed with numpy/pyarrow only
(no Spark session): ``tools/gen_fixture.generate`` writes an sf0.01-shaped
set of the ten tables, and the serving workload adds a ``videos`` table
derived from the generated events.  The same seed gives byte-identical
files.  The program under test only ever sees the directory written here.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from tools.gen_fixture import generate

RELATED_MAX = 8  # related-video list length is uniform in [0, RELATED_MAX]
DANGLING_FRAC = 0.05  # share of related ids that name no video


def make_inputs(out_dir: str, seed: int, profile: str, videos: bool) -> None:
    """Write the workload's tables under ``out_dir`` (replaced if present)."""
    shutil.rmtree(out_dir, ignore_errors=True)
    # gen_fixture reports on stdout; the benchmark's stdout carries only its
    # result line
    with contextlib.redirect_stdout(sys.stderr):
        generate(out_dir, seed, profile)
    if videos:
        write_videos(out_dir, seed)


def write_videos(sf_dir: str, seed: int) -> None:
    """The serving workload's videos table, one row per generated event.

    Columns follow the reference's video documents: category = event type,
    views = value x 1000 (spreads over the view-histogram buckets), length =
    event micros mod 3000 (spreads over the three length buckets), rate =
    user_id mod 5 + 1, uploader from user_id, and a seeded ``related`` list
    of other video ids with a share of dangling ids.
    """
    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    n = ev.num_rows
    rng = np.random.default_rng([seed, 0x76])
    eid = ev["event_id"].to_numpy()
    ids = np.char.add("v", np.char.zfill(eid.astype(str), 8))
    micros = pc.cast(ev["ts"], pa.int64()).to_numpy()
    n_rel = rng.integers(0, RELATED_MAX + 1, n)
    targets = rng.integers(0, n, int(n_rel.sum()))
    rel_ids = ids[targets]
    dangling = rng.random(len(targets)) < DANGLING_FRAC
    rel_ids[dangling] = np.char.add("x", np.char.zfill(targets[dangling].astype(str), 8))
    offsets = np.concatenate(([0], np.cumsum(n_rel))).astype("int32")
    table = pa.table(
        {
            "video_id": pa.array(ids.tolist(), type=pa.string()),
            "uploader": pa.array([f"u{u}" for u in ev["user_id"].to_numpy()], type=pa.string()),
            "category": ev["event_type"],
            "views": pa.array(np.round(ev["value"].to_numpy() * 1000).astype("int64")),
            "length": pa.array((micros % 3000).astype("float64")),
            "rate": pa.array((ev["user_id"].to_numpy() % 5 + 1).astype("float64")),
            "related": pa.ListArray.from_arrays(pa.array(offsets), pa.array(rel_ids.tolist(), type=pa.string())),
        }
    )
    pq.write_table(table, os.path.join(sf_dir, "videos.parquet"))


def describe(sf_dir: str) -> dict[str, dict[str, int]]:
    """Rows and row groups of every table, read from the parquet footers.
    Every table must be one row group: the workloads depend on one-task
    scans, so a generator that splits a table changes what is measured."""
    out = {}
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            md = pq.ParquetFile(os.path.join(sf_dir, f)).metadata
            if md.num_row_groups != 1:
                raise ValueError(f"{f} has {md.num_row_groups} row groups; the workloads assume one")
            out[f[: -len(".parquet")]] = {"rows": md.num_rows, "row_groups": md.num_row_groups}
    return out
