"""Benchmark for the traffic-flow engine, from outside the package.

Three workloads, each run at local[nproc] by one process driving one JVM:

- ``flagship_batch``: a PeMS CSV file -> ``sources.text.read_text`` ->
  ``operators.traffic.traffic_pipeline`` (60/1-minute sliding windows) ->
  ``sinks.warehouse.write_table`` (parquet). One operation is one run.
- ``flagship_stream``: the same lines, time-sorted and cut into files
  that set-up replays with ``sources.injector.inject_file``; one run
  drains them with ``streaming.traffic.traffic_stream`` (one file per
  trigger, payload event time, parquet append sink, availableNow). A
  closed loop: the next micro-batch starts after the previous commits.
  One operation is one micro-batch.
- ``registry_suite``: 23 registry queries over the parquet tables, each
  built and executed with the noop sink, ``cachereg.cleanup()`` between
  queries. One operation is one query.

Usage, from the repository root::

    python3 perfbench/run.py --workload flagship_batch --seed 1 \\
        --seconds 5 --trace 0

Workload definitions (query names, window config, dirty-line share,
stream file count, driver heap) are pinned in ``workloads.json``. Inputs
come from ``gen.py`` and the committed tables under ``data/``; outputs
are checked outside the timed region, and a mismatch counts as a failed
operation. The line before the last is a record of the seed and the
host; the last line is the result::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``:

- ``setup_s``: median of several set-ups in the run, each a session
  (re)start, input generation and, for the stream, injection. Untimed
  warm-up follows: one full run (the registry's correctness pass and
  one more pass);
- ``run_s``: median wall time of one run (one pass for the registry),
  from the first public call to committed output, construction included;
- ``batch_latency_p50_s`` / ``_p90_s``: the ``triggerExecution`` time of
  non-empty micro-batches of the stream; for the other workloads, of
  runs (passes for the registry);
- ``peak_rss_mb``: the JVM's VmHWM.

``--trace 1`` repeats the untraced measurement, then makes one traced
run and reports the per-layer metrics (0 for layers the workload does
not run), ``trace.overhead_s`` (traced minus untraced run) and, for the
batch flagship, the time no Spark job ran. Only the batch flagship's
traced run turns the Spark event log on: the other layers' figures come
from public APIs without the log's disk writes.
Scratch files go to ``perfbench/.work``, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
WORKLOADS = ("flagship_batch", "flagship_stream", "registry_suite")
# prefix cuts of the flagship, in pipeline order
BATCH_LAYERS = (
    "sources.text",
    "operators.traffic.parse",
    "operators.traffic.max_lane_flow",
    "sinks.warehouse",
)
DEADLINE_S = 170

perf = time.perf_counter


def _quantile(xs: list[float], q: float) -> float:
    """Inclusive linear-interpolation quantile (q in [0, 1])."""
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _parquet_rows(path: Path):
    import pyarrow.dataset as ds

    return ds.dataset(str(path), format="parquet").to_table()


class Engine:
    """The Spark session and the JVM behind it."""

    def __init__(self, cores: int):
        self.cores = cores
        self.master = f"local[{cores}]"
        self.spark = None

    def start(self, event_log: Path | None = None):
        """(Re)start the session; the JVM survives a restart."""
        from dataflow_example_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            # a fixed, pre-touched heap: the JVM's resident size then
            # moves only with off-heap memory, not with GC heap sizing
            "spark.driver.extraJavaOptions": (
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch "
                f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": str(event_log),
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark(
            app_name="perfbench", master=self.master, extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()


class Bench:
    """State of one benchmark invocation: inputs, counters, metrics."""

    def __init__(self, args: argparse.Namespace, spec: dict, engine: Engine):
        self.args = args
        self.spec = spec
        self.engine = engine
        self.data = HERE / spec["tiny_data" if args.tiny else "data"]
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.record: dict = {}
        self._drop_pending = args.drop_row
        self._t0 = perf()

    def mark(self, phase: str) -> None:
        """Record when a phase ended, in seconds since start."""
        self.record.setdefault("phases_s", {})[phase] = perf() - self._t0

    # ---------------------------------------------------------- helpers
    def fail(self, what: str, detail) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}: {detail}", file=sys.stderr)

    def drop_row(self, tbl):
        """Remove one row from the first checked output when --drop-row
        asks for it (the self-test's corrupted-output case)."""
        if self._drop_pending and tbl.num_rows:
            self._drop_pending = False
            return tbl.slice(1)
        return tbl

    def session(self, event_log: Path | None = None):
        t0 = perf()
        spark = self.engine.start(event_log)
        if "session.start_s" not in self.layer:
            self.layer["session.start_s"] = perf() - t0
            self.record["host"] = _host(spark)
        return spark

    def timed_setup(self, setup):
        """Run ``setup`` several times; setup_s is the median."""
        times, result = [], None
        for _ in range(self.spec["setup_repeats"]):
            t0 = perf()
            result = setup()
            times.append(perf() - t0)
        self.e2e["setup_s"] = statistics.median(times)
        self.record["setup_samples_s"] = times
        self.mark("setup")
        return result

    def timed_loop(self, op) -> list[float]:
        """Call op(i) until --seconds have passed (at least once)."""
        times: list[float] = []
        end = perf() + self.args.seconds
        while not times or perf() < end:
            self.attempted += 1
            t0 = perf()
            try:
                op(len(times))
            except Exception as ex:  # a failed run is counted, not fatal
                self.fail(f"operation {len(times)}", repr(ex))
            times.append(perf() - t0)
        self.record["op_s"] = times
        self.mark("measure")
        return times

    def traffic_config(self, **kw):
        from dataflow_example_spark.config import TrafficConfig

        t = self.spec["traffic"]
        return TrafficConfig(
            window_duration_minutes=t["window_duration_minutes"],
            window_slide_minutes=t["window_slide_minutes"],
            **kw,
        )

    def traffic_lines(self, data: Path):
        """(readings, lines with seeded rejects, expected quarantine)."""
        import gen

        rd = gen.readings(data / "events.parquet")
        lines, expected = gen.with_rejects(
            gen.clean_lines(rd), self.spec["traffic"]["dirty_share"], self.args.seed
        )
        return rd, lines, expected

    def traffic_reference(self, rd):
        import check

        t = self.spec["traffic"]
        return check.traffic_reference(
            rd, t["window_duration_minutes"], t["window_slide_minutes"]
        )

    def check_traffic(self, what: str, actual, expected) -> None:
        import check

        problems = check.compare_traffic(self.drop_row(actual), expected)
        if problems:
            self.fail(what, problems)

    def latencies(self, samples: list[float]) -> None:
        self.e2e["batch_latency_p50_s"] = _quantile(samples, 0.5)
        self.e2e["batch_latency_p90_s"] = _quantile(samples, 0.9)


# ------------------------------------------------------------ flagship_batch
def flagship_batch(b: Bench) -> None:
    import gen
    from dataflow_example_spark.operators.traffic import (
        traffic_pipeline,
        traffic_quarantine,
    )
    from dataflow_example_spark.sinks.warehouse import write_table
    from dataflow_example_spark.sources.text import read_text

    cfg = b.traffic_config()
    inp = WORK / "input" / "traffic.csv"

    def run(spark, sink: Path) -> None:
        write_table(traffic_pipeline(read_text(spark, str(inp)), cfg), str(sink))

    def setup():
        spark = b.session()
        rd, lines, expected = b.traffic_lines(b.data)
        gen.write_lines(inp, lines)
        return spark, rd, lines, expected

    spark, rd, lines, expected_q = b.timed_setup(setup)
    # one full untimed run: a shorter one leaves the JIT warming up
    # during the first timed runs
    run(spark, WORK / "warm")
    b.mark("warm-up")
    sinks: list[Path] = []

    def op(i: int) -> None:
        sink = WORK / "sink" / f"run{i}"
        sinks.append(sink)
        run(spark, sink)

    times = b.timed_loop(op)
    b.e2e["run_s"] = statistics.median(times)
    b.latencies(times)

    # correctness, outside the timed runs
    ref = b.traffic_reference(rd)
    for sink in sinks:
        if sink.exists():
            b.check_traffic(f"output of {sink.name}", _parquet_rows(sink), ref)
        shutil.rmtree(sink, ignore_errors=True)
    got_q = {
        r["reason"]: r["count"]
        for r in traffic_quarantine(read_text(spark, str(inp)))
        .groupBy("reason")
        .count()
        .collect()
    }
    if got_q != {k: v for k, v in expected_q.items() if v}:
        b.fail("quarantine counts", f"{got_q} != {expected_q}")
    b.mark("check")
    b.e2e["peak_rss_mb"] = b.engine.peak_rss_mb()
    if b.args.trace:
        valid = len(lines) - sum(expected_q.values())
        trace_flagship_batch(b, cfg, inp, valid, got_q)


def trace_flagship_batch(
    b: Bench, cfg, inp: Path, valid_lines: int, quarantine: dict[str, int]
) -> None:
    """Prefix cuts: each public call materialized in turn (noop sink),
    tagged for the event log; a layer's self time is its prefix minus the
    previous one."""
    import eventlog
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from dataflow_example_spark.operators.traffic import (
        extract_flow_info,
        filter_header_and_empties,
        format_maxes,
        max_lane_flow,
        traffic_pipeline,
    )
    from dataflow_example_spark.sinks.warehouse import write_table
    from dataflow_example_spark.sources.text import read_text

    log_dir = WORK / "eventlog"
    spark = b.session(log_dir)
    sc = spark.sparkContext
    construct: dict[str, float] = {}

    def build(upto: int):
        t0 = perf()
        df = read_text(spark, str(inp))
        construct["sources.text"] = perf() - t0
        if upto >= 1:
            t0 = perf()
            df = extract_flow_info(filter_header_and_empties(df))
            construct["operators.traffic.parse"] = perf() - t0
        if upto >= 2:
            t0 = perf()
            df = format_maxes(max_lane_flow(df, cfg))
            construct["operators.traffic.max_lane_flow"] = perf() - t0
        return df

    execs, rows = [], []
    for k, tag in enumerate(BATCH_LAYERS[:-1]):
        df = build(k)
        obs = Observation(tag)
        sc.setJobDescription(tag)
        t0 = perf()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
            "overwrite"
        ).save()
        execs.append(perf() - t0)
        rows.append(obs.get["n"])
    sink = WORK / "sink" / "traced"
    sc.setJobDescription(BATCH_LAYERS[-1])
    t0 = perf()
    write_table(traffic_pipeline(read_text(spark, str(inp)), cfg), str(sink))
    full = perf() - t0
    sc.setJobDescription(None)
    b.engine.spark.stop()
    b.engine.spark = None
    tags = eventlog.tag_metrics(log_dir)

    L = b.layer
    L["trace.overhead_s"] = full - b.e2e["run_s"]
    L["sources.text.construct_s"] = construct["sources.text"]
    L["sources.text.scan_s"] = execs[0]
    L["sources.text.lines"] = rows[0]
    L["operators.traffic.parse.construct_s"] = construct["operators.traffic.parse"]
    L["operators.traffic.parse_s"] = execs[1] - execs[0]
    L["operators.traffic.lane_rows"] = rows[1]
    L["operators.traffic.parse_yield"] = rows[1] / (8 * valid_lines)
    for reason, n in quarantine.items():
        L[f"operators.traffic.quarantine.{reason}"] = n
    L["operators.traffic.max_lane_flow.construct_s"] = construct[
        "operators.traffic.max_lane_flow"
    ]
    L["operators.traffic.max_lane_flow_s"] = execs[2] - execs[1]
    L["operators.traffic.window_rows"] = rows[2]
    L["sinks.warehouse.write_s"] = full - sum(construct.values()) - execs[2]
    L["sinks.warehouse.rows"] = _parquet_rows(sink).num_rows
    L["sinks.warehouse.bytes"] = _dir_bytes(sink)
    prev: dict[str, float] = {}
    for tag in BATCH_LAYERS:
        cum = tags.get(tag, {})
        for m in ("task_cpu_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
            L[f"{tag}.{m}"] = cum.get(m, 0.0) - prev.get(m, 0.0)
        prev = cum
    # time of the traced full run when no Spark job was running
    L["flagship.driver_overhead_s"] = full - tags.get(BATCH_LAYERS[-1], {}).get(
        "job_wall_s", 0.0
    )


# ----------------------------------------------------------- flagship_stream
def flagship_stream(b: Bench) -> None:
    import gen
    from dataflow_example_spark.sources.injector import inject_file
    from dataflow_example_spark.streaming import drain
    from dataflow_example_spark.streaming.traffic import traffic_stream

    s = b.spec["flagship_stream"]
    cfg = b.traffic_config(
        streaming=True,
        streaming_honor_payload_timestamp=True,
        watermark_delay=s["watermark_delay"],
    )
    inject_times: list[float] = []

    def inject(spark, lines: list[str]) -> Path:
        topic, staging = WORK / "topic", WORK / "topic_files"
        shutil.rmtree(topic, ignore_errors=True)
        shutil.rmtree(staging, ignore_errors=True)
        cuts = gen.slice_points(len(lines), s["files"], b.args.seed)
        for f in range(s["files"]):
            src = staging / f"part{f:03d}.csv"
            gen.write_lines(src, lines[cuts[f] : cuts[f + 1]])
            inject_file(spark, str(src), str(topic), chunks=1)
        return topic

    def replay(spark, topic: Path, name: str):
        out, ckpt = WORK / "stream" / name, WORK / "stream" / f"{name}_ckpt"
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
        q = (
            traffic_stream(
                spark, str(topic), cfg, max_files_per_trigger=s["max_files_per_trigger"]
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        drain(q, 150)
        return out, q.recentProgress

    def setup():
        spark = b.session()
        rd, lines, _ = b.traffic_lines(b.data)
        lines = lines[: s["files"] * s["lines_per_file"]]
        t0 = perf()
        topic = inject(spark, lines)
        inject_times.append(perf() - t0)
        return spark, rd, topic

    spark, rd, topic = b.timed_setup(setup)
    replay(spark, topic, "warm")
    b.mark("warm-up")
    runs = []

    def op(i: int) -> None:
        runs.append(replay(spark, topic, f"run{i}"))

    times = b.timed_loop(op)
    b.attempted += sum(
        p.numInputRows > 0 for _, prog in runs for p in prog
    ) - len(times)
    latencies = [
        p.durationMs["triggerExecution"] / 1000.0
        for _, prog in runs
        for p in prog
        if p.numInputRows > 0
    ]
    b.record["batch_ms"] = [
        [(p.numInputRows, p.durationMs["triggerExecution"]) for p in prog]
        for _, prog in runs
    ]
    b.e2e["run_s"] = statistics.median(times)
    b.latencies(latencies or times)

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    ref = b.traffic_reference(rd)
    for out, prog in runs:
        late = sum(st.numRowsDroppedByWatermark for p in prog for st in p.stateOperators)
        if late:
            b.fail(f"stream output {out.name}", f"{late} rows dropped as late")
        # append mode emits exactly the windows closed by the final
        # watermark; the input is time-sorted, so none arrive late
        wm = np.datetime64(prog[-1].eventTime["watermark"][:19], "us")
        expected = ref.filter(
            pc.less_equal(ref["window_timestamp"], pa.scalar(wm, pa.timestamp("us")))
        )
        b.check_traffic(f"stream output {out.name}", _parquet_rows(out), expected)
    b.mark("check")
    b.e2e["peak_rss_mb"] = b.engine.peak_rss_mb()

    if b.args.trace:
        t0 = perf()
        out, prog = replay(spark, topic, "traced")
        traced = perf() - t0
        data = [p for p in prog if p.numInputRows > 0]
        L = b.layer
        L["trace.overhead_s"] = traced - b.e2e["run_s"]
        L["sources.injector.inject_s"] = statistics.median(inject_times)
        L["sources.injector.files"] = sum(
            1 for f in topic.iterdir() if f.is_file() and f.name[0] not in "._"
        )
        for key, name in (
            ("latestOffset", "latest_offset_ms"),
            ("queryPlanning", "query_planning_ms"),
            ("addBatch", "add_batch_ms"),
            ("walCommit", "wal_commit_ms"),
            ("commitOffsets", "commit_offsets_ms"),
        ):
            L[f"streaming.{name}"] = statistics.median(
                p.durationMs.get(key, 0) for p in data
            )
        states = [p.stateOperators[0] for p in data if p.stateOperators]
        L["streaming.state.rows_total"] = max(st.numRowsTotal for st in states)
        L["streaming.state.memory_bytes"] = max(st.memoryUsedBytes for st in states)
        L["streaming.state.update_ms"] = statistics.median(
            st.allUpdatesTimeMs for st in states
        )
        L["streaming.state.commit_ms"] = statistics.median(
            st.commitTimeMs for st in states
        )
        L["streaming.batches"] = len(prog)
        L["streaming.input_rows"] = sum(p.numInputRows for p in prog)
        L["streaming.rows_dropped_by_watermark"] = sum(
            st.numRowsDroppedByWatermark for p in prog for st in p.stateOperators
        )
        L["sinks.parquet_append.rows"] = _parquet_rows(out).num_rows


# ------------------------------------------------------------ registry_suite
def registry_suite(b: Bench) -> None:
    import duckdb

    import __spark_entry__ as entry
    import check
    from dataflow_example_spark.functions.cachereg import cleanup
    from dataflow_example_spark.tables import TABLES

    names = b.spec["registry_suite"]["queries"]
    sf = str(b.data)

    def setup():
        spark = b.session()
        qs, oracles = entry.queries(), entry.oracle_sql()
        missing = [n for n in names if n not in qs or n not in oracles]
        if missing:
            raise SystemExit(f"perfbench: registry lacks {missing}")
        return spark, qs, oracles

    spark, qs, oracles = b.timed_setup(setup)

    def oracle_results() -> dict:
        with duckdb.connect() as con:
            con.execute(
                f"SET memory_limit='2GB'; SET threads={b.engine.cores}; "
                f"SET temp_directory='{WORK / 'duckdb'}'"
            )
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
            return {n: con.execute(oracles[n]).arrow() for n in names}

    # correctness pass, outside the timed runs (it also warms the JVM);
    # the oracles run meanwhile in DuckDB, which releases the GIL
    with ThreadPoolExecutor(max_workers=1) as pool:
        expected = pool.submit(oracle_results)
        results = {}
        for n in names:
            try:
                results[n] = qs[n](spark, sf).toArrow()
            except Exception as ex:
                b.fail(f"query {n}", repr(ex))
            finally:
                cleanup()
        expected = expected.result()
    for n, got in results.items():
        problems = check.compare_rows(b.drop_row(got), expected[n])
        if problems:
            b.fail(f"query {n}", problems)
    b.mark("check")

    def one_pass(split: dict[str, float] | None = None, count=True) -> None:
        for n in names:
            b.attempted += count
            t0 = perf()
            try:
                df = qs[n](spark, sf)
                t1 = perf()
                df.write.format("noop").mode("overwrite").save()
                t2 = perf()
            except Exception as ex:
                b.fail(f"query {n}", repr(ex))
                t1 = t2 = perf()
            cleanup()
            t3 = perf()
            if split is not None:
                split[f"queries.{n}.construct_s"] = t1 - t0
                split[f"queries.{n}.execute_s"] = t2 - t1
                split["functions.cachereg.cleanup_s"] = (
                    split.get("functions.cachereg.cleanup_s", 0.0) + t3 - t2
                )

    # the second pass still runs ~10% slow while the JIT catches up
    one_pass(count=False)
    b.mark("warm-up")
    passes: list[float] = []
    end = perf() + b.args.seconds
    while not passes or perf() < end:
        t0 = perf()
        one_pass()
        passes.append(perf() - t0)
    b.record["op_s"] = passes
    b.e2e["run_s"] = statistics.median(passes)
    # latency over passes: percentiles across 23 unlike queries jump
    # from one query's time to another's
    b.latencies(passes)
    b.e2e["peak_rss_mb"] = b.engine.peak_rss_mb()

    if b.args.trace:
        t0 = perf()
        one_pass(b.layer)
        b.layer["trace.overhead_s"] = perf() - t0 - b.e2e["run_s"]


# ---------------------------------------------------------------------- main
def _host(spark) -> dict:
    sc = spark.sparkContext
    mem_total_kb = next(
        int(line.split()[1])
        for line in Path("/proc/meminfo").read_text().splitlines()
        if line.startswith("MemTotal:")
    )
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "local_dir": spark.conf.get("spark.local.dir", None),
        "SPARK_LOCAL_DIRS": os.environ.get("SPARK_LOCAL_DIRS"),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "mem_total_mb": mem_total_kb / 1024.0,
    }


def _metric_specs(trace: bool) -> list[dict]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return spec["per_layer" if trace else "end_to_end"]


def _pin_environment(spec: dict) -> None:
    """Keep every file the run writes inside the checkout and fix the
    heap, so runs on one host are comparable (before the JVM starts)."""
    for d in ("tmp", "local", "duckdb"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = spec["driver_memory"]
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(WORK / "local")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def _parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--tiny", action="store_true", help="use the sf0.001 tables (self-test)"
    )
    ap.add_argument(
        "--drop-row",
        action="store_true",
        help="remove one row from the first checked output (self-test)",
    )
    return ap.parse_args(argv)


def _on_deadline(signum, frame):
    raise TimeoutError(f"benchmark exceeded {DEADLINE_S}s")


def main(argv: list[str] | None = None) -> int:
    args = _parse_args(argv)
    spec = json.loads((HERE / "workloads.json").read_text())
    metrics = _metric_specs(bool(args.trace))
    sys.path[:0] = [str(HERE), str(ROOT)]
    try:
        import dataflow_example_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: package under test not found: {ex}", file=sys.stderr)
        return 2
    for d in (spec["data"], spec["tiny_data"]):
        if not (HERE / d / "events.parquet").is_file():
            print(f"perfbench: input tables missing under {d}", file=sys.stderr)
            return 2

    shutil.rmtree(WORK, ignore_errors=True)
    _pin_environment(spec)
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)
    engine = Engine(len(os.sched_getaffinity(0)))
    b = Bench(args, spec, engine)
    b.record.update(
        workload=args.workload, seed=args.seed, load_1m_start=os.getloadavg()[0]
    )
    try:
        {
            "flagship_batch": flagship_batch,
            "flagship_stream": flagship_stream,
            "registry_suite": registry_suite,
        }[args.workload](b)
    finally:
        b.mark("work")
        engine.stop()
        b.mark("stop")
        # the stream leaves thousands of state files; deleting them here
        # charges their cost to this run, not to the next one
        shutil.rmtree(WORK, ignore_errors=True)
        b.mark("clean")
        signal.alarm(0)
    b.record["load_1m_end"] = os.getloadavg()[0]
    values = b.layer if args.trace else b.e2e
    print(json.dumps({"record": b.record}))
    print(
        json.dumps(
            {
                "correct": b.failed == 0,
                "attempted": b.attempted,
                "failed": b.failed,
                "metrics": {
                    m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in metrics
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
