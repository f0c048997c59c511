"""Seeded input generator for the traffic workloads.

Builds the PeMS-style CSV the flagship reads, independently of the
program under test: the clean lines follow the synthesis contract that
``dataflow_example_spark.synth`` and the DuckDB oracle share (one reading
per (user_id % 50, second) of ``events``, eid = min(event_id), integer
modulus / dyadic lane values), computed here with pyarrow and plain
Python. The seed picks only what the oracle does not pin: the kinds and
positions of the whole-line rejects, and the cut points of the stream
files. The program receives nothing but the files written here.
"""

from __future__ import annotations

import datetime as dt
import random
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIRECTIONS = ("N", "S", "E", "W")
N_LANES = 8
HEADER = (
    "Timestamp,Station,District,Freeway,Direction,Lane Type,Station Length,"
    "Samples,% Observed,Total Flow,Avg Occupancy,Avg Speed"
)
# whole-line reject kinds -> the traffic_quarantine reason each must get
DIRTY_KINDS = {
    "header": "header_or_empty",
    "empty": "header_or_empty",
    "short48": "too_few_fields",
    "bad_timestamp": "bad_timestamp",
}
BAD_TIMESTAMPS = ("garbage", "2020-01-01T00:00:00", "13/45/2020 25:61:61")


def _seconds(ts: pa.ChunkedArray) -> np.ndarray:
    """Epoch seconds (floor) of an events.ts column in any stored unit."""
    if pa.types.is_timestamp(ts.type):
        per_sec = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[ts.type.unit]
        raw = ts.cast(pa.int64()).to_numpy()
    else:  # nanos stored as a plain int64
        per_sec, raw = 10**9, ts.to_numpy()
    return np.floor_divide(raw, per_sec)


def format_ts(sec: int) -> str:
    """Epoch seconds -> the CSV's ``MM/dd/yyyy HH:mm:ss`` (UTC)."""
    return (dt.datetime(1970, 1, 1) + dt.timedelta(seconds=sec)).strftime(
        "%m/%d/%Y %H:%M:%S"
    )


def readings(events_path: Path) -> dict[str, np.ndarray]:
    """One reading per (station, second), time-sorted: arrays ``station``,
    ``sec`` (epoch seconds) and ``eid`` (min event_id of the group)."""
    ev = pq.read_table(events_path, columns=["event_id", "user_id", "ts"])
    ids = ev.column("event_id").to_numpy()
    users = ev.column("user_id").to_numpy()
    if (ids < 0).any() or (users < 0).any():
        raise ValueError("events ids must be non-negative for this generator")
    tbl = (
        pa.table(
            {
                "station": users % 50,
                "sec": _seconds(ev.column("ts")),
                "event_id": ids,
            }
        )
        .group_by(["station", "sec"])
        .aggregate([("event_id", "min")])
        .sort_by([("sec", "ascending"), ("station", "ascending")])
    )
    return {
        "station": tbl.column("station").to_numpy(),
        "sec": tbl.column("sec").to_numpy(),
        "eid": tbl.column("event_id_min").to_numpy(),
    }


def clean_lines(rd: dict[str, np.ndarray]) -> list[str]:
    """Time-sorted clean CSV lines, one per reading."""
    ts_cache: dict[int, str] = {}
    out = []
    for station, sec, eid in zip(
        rd["station"].tolist(), rd["sec"].tolist(), rd["eid"].tolist()
    ):
        ts = ts_cache.get(sec)
        if ts is None:
            ts = ts_cache[sec] = format_ts(sec)
        fields = [
            ts,
            "S" + str(station).rjust(3, "0"),
            str(eid % 5),
            DIRECTIONS[eid % 4],
            "x,x,x",
            str(eid % 300),
            "x,x,x",
        ]
        for i in range(1, N_LANES + 1):
            fields.append(str((eid * i) % 100))
            fields.append(repr(((eid * 7 + i) % 128) / 128.0))
            fields.append(repr(40.0 + ((eid * 13 + i * 5) % 512) / 8.0))
            fields.append("x,x")
        out.append(",".join(fields))
    return out


def _dirty_line(kind: str, rng: random.Random, clean: list[str]) -> str:
    if kind == "header":
        return HEADER
    if kind == "empty":
        return ""
    donor = clean[rng.randrange(len(clean))].split(",")
    if kind == "short48":
        # the reference's crash case: exactly 48 fields, last one non-empty
        return ",".join(donor[:48])
    donor[0] = rng.choice(BAD_TIMESTAMPS)
    return ",".join(donor)


def with_rejects(
    clean: list[str], share: float, seed: int
) -> tuple[list[str], dict[str, int]]:
    """Insert round(share * len(clean)) whole-line rejects at seeded
    positions. Returns the lines and the expected quarantine count per
    reason."""
    rng = random.Random(seed)
    n = round(share * len(clean))
    kinds = sorted(DIRTY_KINDS)
    inserts = sorted(
        (rng.randrange(len(clean) + 1), rng.choice(kinds)) for _ in range(n)
    )
    expected = dict.fromkeys(sorted(set(DIRTY_KINDS.values())), 0)
    lines: list[str] = []
    prev = 0
    for pos, kind in inserts:
        lines.extend(clean[prev:pos])
        lines.append(_dirty_line(kind, rng, clean))
        expected[DIRTY_KINDS[kind]] += 1
        prev = pos
    lines.extend(clean[prev:])
    return lines, expected


def slice_points(n_lines: int, n_files: int, seed: int) -> list[int]:
    """Seeded cut points splitting n_lines into n_files non-empty files of
    0.9-1.1x the mean size (the last file takes the remainder): wider
    jitter would make the median micro-batch size, and so its latency,
    depend on the seed."""
    rng = random.Random(seed * 7919 + 1)
    mean = n_lines / n_files
    cuts, pos = [], 0
    for _ in range(n_files - 1):
        pos += max(1, round(mean * rng.uniform(0.9, 1.1)))
        cuts.append(min(pos, n_lines - 1))
    return [0, *cuts, n_lines]


def write_lines(path: Path, lines: list[str]) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("\n".join(lines) + "\n")
