"""Seeded inputs: the campus_flow store, /write batches and landing CSVs.

Every campus_flow value is a pure function of (seed, building, epoch
second), so the benchmark can check any row a server returns without
keeping a copy of the store.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MEASUREMENT = "campus_flow"
BUILDINGS = "ABCDEF"
FIELDS = [
    "coldInFlowRate",
    "hotInFlowRate",
    "hotOutFlowRate",
    "hotInTemp",
    "hotOutTemp",
    "coldInTemp",
]
BASE_START = int(dt.datetime(2021, 3, 1, tzinfo=dt.timezone.utc).timestamp())
DAY = 86_400
FILES_PER_PARTITION = 2

_MASK = np.uint64(0xFFFFFFFF)


def field_values(seed: int, building: str, t: np.ndarray) -> list[np.ndarray]:
    """The six field columns for epoch seconds ``t`` (int64 array).

    Each value is k/100 for an integer k in [0, 1000): exact under
    every text round trip the wire applies."""
    b = np.uint64(BUILDINGS.index(building) + 1)
    h = (t.astype(np.uint64) * np.uint64(2654435761)
         + b * np.uint64(40503) + np.uint64(seed) * np.uint64(97)) & _MASK
    h = (h * np.uint64(2246822519) + np.uint64(3266489917)) & _MASK
    return [((h >> np.uint64(4 * k)) % np.uint64(1000)).astype(np.int64) / 100.0
            for k in range(len(FIELDS))]


def row_values(seed: int, building: str, t: int) -> list[float]:
    return [float(c[0]) for c in field_values(seed, building, np.array([t]))]


def iso(t: int) -> str:
    return dt.datetime.fromtimestamp(t, dt.timezone.utc).strftime(
        "%Y-%m-%dT%H:%M:%SZ")


def write_store(table_dir: str, seed: int, days: int,
                buildings: str = BUILDINGS) -> int:
    """Land ``days`` days of 1 Hz points per building as hive-partitioned
    parquet (``buildingID=X/date=YYYY-MM-DD``), the layout of an
    out-of-band writer that the engine reads as a plain table dir.
    Returns the number of points written."""
    n = 0
    for b in buildings:
        for d in range(days):
            t0 = BASE_START + d * DAY
            t = np.arange(t0, t0 + DAY, dtype=np.int64)
            cols = field_values(seed, b, t)
            day = dt.datetime.fromtimestamp(t0, dt.timezone.utc).date()
            part = os.path.join(table_dir, MEASUREMENT, f"buildingID={b}",
                                f"date={day.isoformat()}")
            os.makedirs(part, exist_ok=True)
            step = DAY // FILES_PER_PARTITION
            for i in range(FILES_PER_PARTITION):
                sl = slice(i * step, (i + 1) * step)
                table = pa.table(
                    {"time": pa.array(t[sl] * 1_000_000, pa.timestamp("us")),
                     **{f: pa.array(c[sl]) for f, c in zip(FIELDS, cols)}})
                pq.write_table(table, os.path.join(part, f"part-{i:05d}.parquet"))
            n += DAY
    return n


def line_protocol(seed: int, building: str, t0: int, n: int) -> bytes:
    """``n`` consecutive 1 Hz points of one building from ``t0``,
    as a precision=s line-protocol body."""
    t = np.arange(t0, t0 + n, dtype=np.int64)
    cols = field_values(seed, building, t)
    head = f"{MEASUREMENT},buildingID={building} "
    lines = []
    for i, ts in enumerate(t.tolist()):
        fields = ",".join(f"{f}={cols[k][i]!r}" for k, f in enumerate(FIELDS))
        lines.append(f"{head}{fields} {ts}")
    return "\n".join(lines).encode()


# ----------------------------------------------------- residential CSVs

def write_landing(landing: str, rng: random.Random, tag: str, n_files: int,
                  rows: int) -> dict:
    """Land ``n_files`` residential datalogger CSVs (FIXTURES F1 layout)
    into ``landing``: one in eight malformed (garbled metadata, a bad
    data row, or a truncated upload, in turn), one in five of the rest
    QC-flagged, one in ten named ``.CSV``; the seed orders them and
    fills in sites, loggers, times and pulses. Each file is written
    under a temporary name and renamed in, as an uploader would.
    Returns what the loader must do: counts of files it should archive
    and quarantine, and the rows it should load into ``raw_data`` and
    ``qc_data``."""
    n_bad = round(n_files / 8)
    n_qc = round((n_files - n_bad) / 5)
    kinds = ([f"bad{i % 3}" for i in range(n_bad)] + ["qc"] * n_qc
             + ["raw"] * (n_files - n_bad - n_qc))
    upper = set(rng.sample(range(n_files), round(n_files / 10)))
    rng.shuffle(kinds)
    want = {"archived": 0, "quarantined": 0, "raw_data": 0, "qc_data": 0}
    start = BASE_START + rng.randrange(0, 30) * DAY
    for i, kind in enumerate(kinds):
        site = rng.randrange(1, 9999)
        lines = [f"Site #: {site:04d}{'QC' if kind == 'qc' else ''}",
                 f"Datalogger #: {rng.randrange(1, 99):04d}",
                 "Meter #: 0001",
                 "Time,Pulses"]
        t0 = start + rng.randrange(0, DAY)
        stamps = np.datetime_as_string(
            (t0 + 4 * np.arange(rows, dtype=np.int64)).astype("datetime64[s]"))
        pulses = np.random.default_rng(rng.randrange(2**32)).integers(0, 12, rows)
        lines += [f"{ts[:10]} {ts[11:]},{p}" for ts, p in zip(stamps.tolist(), pulses.tolist())]
        if kind == "bad0":
            lines[0] = "Site #: unknown"  # garbled metadata
        elif kind == "bad1":
            lines[4 + rng.randrange(rows)] = "2021-13-45 99:99:99,x"
        elif kind == "bad2":
            lines = lines[:2]  # truncated upload
        if kind.startswith("bad"):
            want["quarantined"] += 1
        else:
            want["archived"] += 1
            want[f"{kind}_data"] += rows
        name = f"{tag}_{i:04d}_{site:04d}{'.CSV' if i in upper else '.csv'}"
        tmp = os.path.join(landing, f".{name}.part")
        with open(tmp, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.replace(tmp, os.path.join(landing, name))
    return want
