"""Output checks: a reference for the flagship and an order-insensitive
row comparison for registry queries.

The flagship's DuckDB oracle (``oracles.ORACLES["traffic_max_lane_flow"]``)
fans every lane row out 60 times inside DuckDB and exhausts a 16 GB host
at sf0.1, so the sf0.1 runs compare against :func:`traffic_reference`, a
numpy implementation of the same contract. The self-test pins that
reference to the DuckDB oracle at sf0.001.

Registry queries compare with the canonical tokens of the repository's
oracle gate (``tools/check_oracles.py``): ints and floats are distinct
tokens, NULL is distinct from NaN, floats compare at 12 significant
digits, rows compare as a multiset. The tokens are the gate's, built a
column at a time, which takes about a quarter of the gate's per-cell
time on these outputs; the self-test checks that the two agree.
"""

from __future__ import annotations

import datetime as dt
import decimal

import numpy as np
import pyarrow as pa

from gen import DIRECTIONS, N_LANES, format_ts

TRAFFIC_COLUMNS = (
    "station_id",
    "direction",
    "freeway",
    "lane_max_flow",
    "lane",
    "avg_occ",
    "avg_speed",
    "total_flow",
    "recorded_timestamp",
    "window_timestamp",
)


def traffic_reference(
    rd: dict[str, np.ndarray], duration_min: int, slide_min: int
) -> pa.Table:
    """Per (sliding window, station), the reading lane with the greatest
    (lane_flow, lane_idx, recorded_timestamp string): the max-by order the
    operator and the oracle share. ``rd`` comes from ``gen.readings``."""
    if duration_min % slide_min:
        raise ValueError("reference needs the duration to be a multiple of the slide")
    station, sec, eid = rd["station"], rd["sec"], rd["eid"]
    lanes = np.arange(1, N_LANES + 1)
    flows = (eid[:, None] * lanes) % 100
    best = np.argmax(flows * (N_LANES + 1) + lanes, axis=1)
    lane = lanes[best]
    flow = flows[np.arange(len(eid)), best]
    # recorded_timestamp compares as a string, so rank the strings
    uniq = np.unique(sec)
    ts_str = np.array([format_ts(s) for s in uniq.tolist()])
    rank_of_uniq = np.empty(len(uniq), dtype=np.int64)
    rank_of_uniq[np.argsort(ts_str, kind="stable")] = np.arange(len(uniq))
    pos = np.searchsorted(uniq, sec)
    key = (flow.astype(np.int64) * (N_LANES + 1) + lane) * len(uniq) + rank_of_uniq[pos]

    slide_s, k = slide_min * 60, duration_min // slide_min
    win = (sec // slide_s)[:, None] - np.arange(k)  # window start, in slides
    win = win.ravel()
    row = np.repeat(np.arange(len(eid)), k)
    wmin = win.min()
    gid = station[row].astype(np.int64) * (win.max() - wmin + 1) + (win - wmin)
    order = np.lexsort((key[row], gid))
    g = gid[order]
    last = np.append(np.flatnonzero(g[1:] != g[:-1]), len(g) - 1)
    pick = order[last]
    j, w = row[pick], win[pick]

    e, ln = eid[j], lane[j]
    return pa.table(
        {
            "station_id": ["S" + str(s).rjust(3, "0") for s in station[j].tolist()],
            "direction": [DIRECTIONS[v] for v in (e % 4).tolist()],
            "freeway": [str(v) for v in (e % 5).tolist()],
            "lane_max_flow": pa.array(flow[j], pa.int32()),
            "lane": ["lane" + str(v) for v in ln.tolist()],
            "avg_occ": ((e * 7 + ln) % 128) / 128.0,
            "avg_speed": 40.0 + ((e * 13 + ln * 5) % 512) / 8.0,
            "total_flow": pa.array(e % 300, pa.int32()),
            "recorded_timestamp": ts_str[pos[j]].tolist(),
            "window_timestamp": pa.array(
                (w * slide_s + duration_min * 60) * 1_000_000, pa.timestamp("us")
            ),
        }
    )


def _traffic_normal(tbl: pa.Table) -> pa.Table:
    cols = []
    for name in TRAFFIC_COLUMNS:
        c = tbl.column(name)
        if pa.types.is_timestamp(c.type):
            c = c.cast(pa.timestamp("us", tz=c.type.tz)).cast(pa.timestamp("us"))
        cols.append(c)
    return pa.table(dict(zip(TRAFFIC_COLUMNS, cols))).sort_by(
        [("station_id", "ascending"), ("window_timestamp", "ascending")]
    )


def compare_traffic(actual: pa.Table, expected: pa.Table) -> list[str]:
    """Problems found comparing two flagship outputs as row multisets
    ((station_id, window_timestamp) is unique in a correct output)."""
    if sorted(actual.column_names) != sorted(TRAFFIC_COLUMNS):
        return [f"columns: {sorted(actual.column_names)}"]
    if actual.num_rows != expected.num_rows:
        return [f"rows: got {actual.num_rows}, expected {expected.num_rows}"]
    a, b = _traffic_normal(actual), _traffic_normal(expected)
    problems = []
    for name in TRAFFIC_COLUMNS:
        x, y = a.column(name), b.column(name)
        if x.type != y.type:
            x = x.cast(y.type)
        if not x.equals(y):
            problems.append(f"column {name} differs")
    return problems


def _canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        return "f:nan" if v != v else f"f:{v:.12g}"
    if isinstance(v, decimal.Decimal):
        return f"d:{v}"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return f"t:{v.isoformat()}"
    if isinstance(v, dt.date):
        return f"t:{v.isoformat()}"
    if isinstance(v, str):
        return f"s:{v}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={_canon(x)}" for k, x in sorted(v.items())) + "}"
    return f"{type(v).__name__}:{v!r}"


def _canon_column(col: pa.ChunkedArray) -> list[str]:
    t = col.type
    if pa.types.is_timestamp(t):
        # naive UTC: tz-aware (Spark) and naive (DuckDB) instants agree
        col = col.cast(pa.timestamp("us", tz=t.tz)).cast(pa.timestamp("us"))
        return ["∅" if v is None else f"t:{v.isoformat()}" for v in col.to_pylist()]
    vals = col.to_pylist()
    if pa.types.is_integer(t):
        return ["∅" if v is None else f"i:{v}" for v in vals]
    if pa.types.is_floating(t):
        return [
            "∅" if v is None else ("f:nan" if v != v else f"f:{v:.12g}")
            for v in vals
        ]
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return ["∅" if v is None else f"s:{v}" for v in vals]
    return [_canon(v) for v in vals]


def canonical_rows(tbl: pa.Table) -> list[tuple[str, ...]]:
    """Sorted rows of canonical tokens over name-sorted columns: the
    gate's ``canon_frame``."""
    names = sorted(tbl.column_names)
    return sorted(zip(*(_canon_column(tbl.column(n)) for n in names)))


def compare_rows(actual: pa.Table, expected: pa.Table) -> list[str]:
    """Problems found comparing two query results as multisets of
    canonical rows over name-sorted columns."""
    names = sorted(actual.column_names)
    if names != sorted(expected.column_names):
        return [f"columns: {names} vs {sorted(expected.column_names)}"]
    if actual.num_rows != expected.num_rows:
        return [f"rows: got {actual.num_rows}, expected {expected.num_rows}"]
    pairs = zip(canonical_rows(actual), canonical_rows(expected))
    bad = sum(x != y for x, y in pairs)
    return [f"{bad} of {actual.num_rows} rows differ"] if bad else []
