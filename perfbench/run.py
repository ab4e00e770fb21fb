"""Benchmark of the ETL library at local[4]: one workload per process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  The process starts one SparkSession
through the library's ``session.get_session``, generates its inputs from
``--seed``, runs one untimed warm-up unit, then a timed closed loop of
units (one client; the next unit starts when the previous one returns).
The number of timed calls (one unit, or for the stream one replay of
several micro-batch units) is ``--seconds`` divided by the workload's
nominal call time, rounded and at least one, so a run does a fixed
amount of work.  Outputs are
checked against the registry's DuckDB oracle after the timed region.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` turns the
Spark event log on, runs the same timed loop, then the same number of
calls again with spans and job groups, then once more untraced, and
reports the per-layer metrics; ``trace.overhead_s`` is the traced
makespan minus the mean of the two untraced ones.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  The line before it
holds the host facts, ``failed_op_ratio`` and ``peak_rss_mb`` (VmHWM of
this process plus its JVM); neither is an end-to-end metric, because the
first is 0 on a correct run and the second swings by a quarter between
identical runs with the JVM's heap sizing (traced runs report it as the
per-layer ``memory.peak_rss_mb``).  A full record (spans
included) is written under ``.perfbench/records/``; the scratch
directory (inputs, warehouse, checkpoints, event log) is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

import spans
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4

END_TO_END = {
    "setup_s": "s",
    "makespan_s": "s",
    "unit_p50_s": "s",
    "rows_per_s": "1/s",
}


def _process_age() -> float:
    """Seconds since this process started (from /proc; 0 if unavailable)."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def per_layer_names(workload: str = "") -> list[str]:
    """Every per-layer metric a traced run reports, in a fixed order.  The
    unlisted ``driver_probes`` workload adds the times of its own rows."""
    names = ["session.start_s", "memory.peak_rss_mb", "ingestion.feed_s", "ingestion.rows",
             "plans.gate_s", "plans.gate_jobs", "sinks.write_s", "sinks.bytes_written", "sinks.files_written",
             "marts.build_s", "marts.eager_jobs", "queries.build_s", "queries.eager_jobs",
             "queries.result_bytes", "catalyst.analysis_ms", "catalyst.optimization_ms",
             "catalyst.planning_ms", "catalyst.plan_nodes"]
    names += ["exec." + n for n in ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms",
              "gc_ms", "task_wait_ms", "core_busy_ratio", "input_rows", "input_bytes",
              "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes")]
    names += sorted(spans._PYTHON_ACCUMS.values())
    names += ["streaming." + n for n in ("batches", "trigger_ms", "add_batch_ms", "planning_ms",
              "commit_ms", "state_rows", "state_mem_bytes", "input_rows")]
    rows = workloads.LLM_ROWS + (workloads.DRIVER_ROWS if workload == "driver_probes" else [])
    names += [f"row.{r}_s" for r in rows]
    names.append("trace.overhead_s")
    return names


def _unit_of(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def result_line(attempted: int, failed: int, metrics: dict) -> str:
    """The last stdout line: one JSON object with exactly these keys."""
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    })


def _region(run, wl, first: int, units: int) -> dict:
    """A timed closed loop of ``units`` units starting at index ``first``."""
    times, rows = [], []
    start = time.perf_counter()
    for k in range(first, first + units):
        run.tracer.unit = k
        t0 = time.perf_counter()
        out = wl.unit(run, k)
        wall = time.perf_counter() - t0
        parts = out.get("units") or [wall]
        times.extend(parts)
        rows.extend([out["rows"] / len(parts)] * len(parts))
    return {"makespan_s": time.perf_counter() - start, "times": times, "rows": rows}


def _session(scratch: str, trace_on: bool):
    from kusuma_metamorph_etl_spark.session import get_session

    conf = {
        "spark.local.dir": os.path.join(scratch, "local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')} -XX:-UsePerfData",
    }
    if trace_on:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(scratch, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    spark = get_session("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    start = time.perf_counter() - _process_age()

    if not os.path.isfile(os.path.join(ROOT, "kusuma_metamorph_etl_spark", "session.py")) or \
            not os.path.isfile(os.path.join(ROOT, "tools", "check_correctness.py")):
        print(f"perfbench: no library checkout at {ROOT}", file=sys.stderr)
        return 2
    # Python workers import the library: they inherit PYTHONPATH from the
    # JVM, which inherits it from here (sys.path edits never reach them).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    scratch = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

    import pyspark

    host = {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": CORES,
        "pyspark": pyspark.__version__,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "load_before": os.getloadavg(),
    }
    wl = workloads.make(args.workload)
    host["sf"] = wl.sf
    units = max(1, round(args.seconds / wl.call_s))
    record: dict = {"host": host, "units": units}
    spark = None
    run = None
    try:
        spark = _session(scratch, bool(args.trace))
        session_s = time.perf_counter() - start
        run = workloads.Run(spark, scratch, args.seed, spans.Tracer())
        record["inputs"] = wl.prepare(run)
        prepared_s = time.perf_counter() - start
        wl.warm_up(run)
        setup_s = time.perf_counter() - start
        record["setup"] = {"session_s": session_s, "inputs_s": prepared_s - session_s,
                           "warm_up_s": setup_s - prepared_s}
        plain = _region(run, wl, 1, units)
        record["unit_times"] = plain["times"]
        if args.trace:
            tracer = run.tracer = spans.Tracer(spark.sparkContext)
            with workloads.instrument(tracer):
                traced = _region(run, wl, 1 + units, units)
            # untraced again after the traced region, so that later units
            # running warmer does not bias the overhead either way
            run.tracer = spans.Tracer()
            after = _region(run, wl, 1 + 2 * units, units)
        record["rss_mb"] = {"python": _hwm_mb("self"),
                            "jvm": _hwm_mb(spark.sparkContext._jvm.ProcessHandle.current().pid())}
        wl.check(run)
    finally:
        if spark is not None:
            _stop(spark)
        events = spans.read_event_log(os.path.join(scratch, "eventlog")) if args.trace else []
        if run is not None:
            run.close()
        shutil.rmtree(scratch, ignore_errors=True)

    host["load_after"] = os.getloadavg()
    unit_p50 = statistics.median(plain["times"])
    if args.trace:
        n = len(traced["times"])
        names = per_layer_names(args.workload)
        metrics = dict.fromkeys(names, 0.0)
        metrics.update(spans.layer_metrics(
            tracer.spans, spans.group_stats(events), n, traced["makespan_s"], CORES
        ))
        metrics["session.start_s"] = session_s
        metrics["memory.peak_rss_mb"] = sum(record["rss_mb"].values())
        if isinstance(wl, workloads.RowList):
            metrics.update({f"row.{r}_s": t for r, t in wl.row_medians().items()})
        untraced = (plain["makespan_s"] + after["makespan_s"]) / 2
        metrics["trace.overhead_s"] = traced["makespan_s"] - untraced
        record["spans"] = tracer.spans
        metrics = {k: {"value": metrics[k], "unit": _unit_of(k)} for k in names}
    else:
        values = {
            "setup_s": setup_s,
            "makespan_s": plain["makespan_s"],
            "unit_p50_s": unit_p50,
            "rows_per_s": statistics.mean(plain["rows"]) / unit_p50,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}

    failed_ratio = run.failed / max(1, run.attempted)
    record.update(metrics=metrics, attempted=run.attempted, failed=run.failed, errors=run.errors)
    out_dir = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for err in run.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    print(json.dumps({
        "host": host,
        "failed_op_ratio": {"value": failed_ratio, "unit": "ratio"},
        "peak_rss_mb": {"value": sum(record["rss_mb"].values()), "unit": "MB", "parts": record["rss_mb"]},
    }))
    print(result_line(run.attempted, run.failed, metrics))
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
