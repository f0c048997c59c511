"""Self-test of the benchmark on the sf0.001 tables.

Checks that:

- the flagship reference in ``check.py`` equals the DuckDB oracle;
- the registry comparison in ``check.py`` builds the same canonical rows
  as the repository's oracle gate (``tools/check_oracles.py``);
- every workload, untraced and traced, prints the result line with every
  metric ``BENCHMARK.json`` names, each with its unit, and passes its
  correctness checks;
- an output with one row removed (``--drop-row``) is reported as exactly
  one failed operation;
- without the package under test the benchmark exits non-zero and
  prints no result.

Usage, from the repository root::

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _run(*extra: str, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, str(cwd / "perfbench" / "run.py"), "--seed", "1"]
    cmd += ["--seconds", "1", "--tiny", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def _result(proc: subprocess.CompletedProcess) -> dict:
    if proc.returncode != 0:
        raise AssertionError(f"exit {proc.returncode}: {proc.stderr[-2000:]}")
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    if sorted(out) != ["attempted", "correct", "failed", "metrics"]:
        raise AssertionError(f"result keys: {sorted(out)}")
    return out


def check_reference() -> None:
    import duckdb

    sys.path[:0] = [str(HERE), str(ROOT)]
    import check
    import gen
    from dataflow_example_spark.oracles import ORACLES

    spec = json.loads((HERE / "workloads.json").read_text())
    data = HERE / spec["tiny_data"]
    t = spec["traffic"]
    ref = check.traffic_reference(
        gen.readings(data / "events.parquet"),
        t["window_duration_minutes"],
        t["window_slide_minutes"],
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{data}/events.parquet'")
    oracle = con.execute(ORACLES["traffic_max_lane_flow"]).arrow()
    problems = check.compare_traffic(oracle, ref)
    if problems:
        raise AssertionError(f"reference != DuckDB oracle: {problems}")
    if check.compare_traffic(oracle.slice(1), ref) == []:
        raise AssertionError("a missing row went unnoticed")


def check_tokens() -> None:
    """check.canonical_rows gives the oracle gate's canon_frame on every
    registry oracle's output, with naive and with UTC timestamps."""
    import duckdb
    import pyarrow as pa

    import __spark_entry__ as entry
    import check
    from dataflow_example_spark.tables import TABLES
    from tools.check_oracles import canon_frame

    spec = json.loads((HERE / "workloads.json").read_text())
    data = HERE / spec["tiny_data"]
    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    for n in spec["registry_suite"]["queries"]:
        tbl = con.execute(oracles[n]).arrow()
        utc = pa.table(
            {
                c: col.cast(pa.timestamp(col.type.unit, tz="UTC"))
                if pa.types.is_timestamp(col.type)
                else col
                for c, col in zip(tbl.column_names, tbl.columns)
            }
        )
        for t in (tbl, utc):
            if check.canonical_rows(t) != canon_frame(t):
                raise AssertionError(f"{n}: tokens differ from the oracle gate's")


def check_workload(workload: str, bench: dict) -> None:
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        out = _result(_run("--workload", workload, "--trace", str(trace)))
        if not out["correct"] or out["failed"] or out["attempted"] < 1:
            raise AssertionError(f"{workload} trace={trace}: {out}")
        want = {m["name"]: m["unit"] for m in bench[key]}
        got = {n: m["unit"] for n, m in out["metrics"].items()}
        if got != want:
            raise AssertionError(f"{workload} trace={trace}: metrics {got}")
        for name, m in out["metrics"].items():
            if not isinstance(m["value"], (int, float)):
                raise AssertionError(f"{workload}: {name} = {m['value']!r}")
            if key == "end_to_end" and m["value"] <= 0:
                raise AssertionError(f"{workload}: {name} = {m['value']}")
    out = _result(_run("--workload", workload, "--drop-row"))
    if out["correct"] or out["failed"] != 1:
        raise AssertionError(f"{workload} --drop-row not caught: {out}")


def check_bare_directory() -> None:
    bare = HERE / ".work" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns(".work"))
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    proc = _run("--workload", "flagship_batch", cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        raise AssertionError(f"bare run: exit {proc.returncode}, {proc.stdout!r}")


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    check_reference()
    print("ok  reference == DuckDB oracle")
    check_tokens()
    print("ok  registry tokens == oracle gate's")
    for w in bench["workloads"]:
        check_workload(w["name"], bench)
        print(f"ok  {w['name']}: metrics, checks, --drop-row")
    check_bare_directory()
    print("ok  fails without the package")
    return 0


if __name__ == "__main__":
    sys.exit(main())
