"""The benchmark's four workloads.

Each workload prepares its seeded inputs, runs one *unit* at a time
(closed loop: the next unit starts when the previous one returns), and
checks its outputs against the registry's DuckDB oracle SQL after the
timed region.  Every call into the library goes through a public
function of one of its modules, wrapped in a tracer span.
"""

from __future__ import annotations

import glob
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

import gen

# A unit of a row-list workload is one pass over its rows.
LLM_ROWS = [
    "txt_bpe_roundtrip",
    "txt_unigram_roundtrip",
    "txt_wordpiece_roundtrip",
    "mm_phash_dedup",
    "mm_augment",
    "dedup_semantic",
    "dedup_minhash_lsh",
    "txt_perplexity",
    "mart_llm_dataprep",
]
# Rows whose time is mostly driver-side construction.  Runnable as
# ``--workload driver_probes`` but not listed in BENCHMARK.json: one pass
# plus its warm-up takes about a minute at local[4].
DRIVER_ROWS = [
    "graph_pagerank",
    "graph_triangles",
    "mart_rfm",
    "mart_pretrain_batches",
    "agg_kmv_family",
    "agg_heavy_hitters",
    "sim_maxsim_ann",
]
MARTS = [
    "supplier_performance",
    "product_performance",
    "customer_sales_report",
    "supplier_performance_pipeline",
]
# Which registry oracle checks each nightly output.
_MART_ORACLE = {
    "supplier_performance": "mart_supplier_performance",
    "product_performance": "mart_product_performance",
    "customer_sales_report": "mart_customer_sales_report",
    "supplier_performance_pipeline": "mart_supplier_performance",
}


class Run:
    """What one benchmark process shares across its workload's calls."""

    def __init__(self, spark, scratch: str, seed: int, tracer):
        self.spark = spark
        self.scratch = scratch
        self.tables = os.path.join(scratch, "tables")
        self.seed = seed
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._duck = None

    def attempt(self, label: str, fn):
        """Run one operation; an exception counts as a failed operation."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            traceback.print_exc(file=sys.stderr)
            self.fail(label, f"{type(exc).__name__}: {str(exc)[:300]}")
            return None

    def fail(self, label: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{label}: {why}")

    def plan(self, df, label: str) -> None:
        """Traced runs only: force the frame's physical plan before it is
        written and record its Catalyst phase times and plan size (the
        write plans a QueryExecution of its own, whose tracker the frame
        never sees)."""
        if not self.tracer.on:
            return
        with self.tracer.span(f"plan.{label}", "catalyst") as sp:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            keys = phases.keysIterator()
            counters = {"catalyst.plan_nodes": len(qe.optimizedPlan().treeString().splitlines())}
            while keys.hasNext():
                key = keys.next()
                counters[f"catalyst.{key}_ms"] = phases.apply(key).durationMs()
            sp["counters"] = counters

    def duck(self):
        """DuckDB over the generated tables (the oracle side)."""
        if self._duck is None:
            import duckdb

            self._duck = duckdb.connect()
            for path in glob.glob(os.path.join(self.tables, "*.parquet")):
                name = os.path.basename(path)[: -len(".parquet")]
                self._duck.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return self._duck

    def compare(self, label: str, rows: list[dict], cols: list[str], oracle: str) -> None:
        """Row count, column names and order-insensitive value hash of a
        Spark result against DuckDB running ``oracle``; each comparison is
        one operation."""
        from check_correctness import table_hash

        self.attempted += 1
        rel = self.duck().execute(oracle)
        ocols = [d[0].lower() for d in rel.description]
        orows = [dict(zip(ocols, r)) for r in rel.fetchall()]
        if len(rows) != len(orows):
            self.fail(label, f"rows spark={len(rows)} oracle={len(orows)}")
        elif sorted(cols) != sorted(ocols):
            self.fail(label, f"columns spark={sorted(cols)} oracle={sorted(ocols)}")
        elif table_hash(rows, cols) != table_hash(orows, ocols):
            self.fail(label, "value hash differs from the oracle")

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


def _files(paths) -> dict[str, tuple[int, int]]:
    out = {}
    for root in paths:
        for path in glob.glob(os.path.join(root, "**", "*"), recursive=True):
            name = os.path.basename(path)
            if os.path.isfile(path) and not name.startswith(("_", ".")):
                st = os.stat(path)
                out[path] = (st.st_size, st.st_mtime_ns)
    return out


def _traced(tracer, fn, name: str, layer: str, paths=None):
    """``fn`` inside a span; for a sink, also count the data files it
    created or replaced under the target ``paths(args)``."""

    def wrapped(*args, **kwargs):
        with tracer.span(name, layer) as sp:
            before = _files(paths(args)) if paths else None
            out = fn(*args, **kwargs)
            if paths:
                changed = {p: v for p, v in _files(paths(args)).items() if before.get(p) != v}
                sp["files"] = len(changed)
                sp["bytes"] = sum(size for size, _ in changed.values())
            return out

    return wrapped


@contextmanager
def instrument(tracer):
    """Route the library calls the benchmark cannot wrap at its own call
    sites (made inside ``ingest_feed`` and the mart pipeline) through
    spans, for the traced region only."""
    from kusuma_metamorph_etl_spark import ingestion
    from kusuma_metamorph_etl_spark.marts import pipelines

    saved = [(ingestion, "duplicate_gate"), (ingestion, "dual_write"), (pipelines, "duplicate_gate")]
    originals = [getattr(mod, attr) for mod, attr in saved]
    ingestion.duplicate_gate = _traced(tracer, originals[0], "duplicate_gate", "gate")
    ingestion.dual_write = _traced(tracer, originals[1], "dual_write", "sinks", paths=lambda a: a[1:3])
    pipelines.duplicate_gate = _traced(tracer, originals[2], "duplicate_gate", "gate")
    try:
        yield
    finally:
        for (mod, attr), fn in zip(saved, originals):
            setattr(mod, attr, fn)


class NightlyEtl:
    """The reference's daily job as a backfill: each unit is one run day
    (ingest four dated CSV feeds, then build and write the four marts)."""

    sf = 0.01
    days = 8
    call_s = 7.0

    def prepare(self, run: Run) -> dict:
        self.rows = gen.generate(run.tables, run.seed, self.sf)
        gen.assign_days(run.tables, run.seed, self.days)
        self.feeds_dir = os.path.join(run.scratch, "feeds")
        self.wh = os.path.join(run.scratch, "warehouse")
        self.feeds = gen.write_feeds(run.spark, run.tables, self.feeds_dir, self.days)
        self.done: list[int] = []
        return {"tables": self.rows, "days": self.days}

    def warm_up(self, run: Run) -> None:
        self.unit(run, 0)

    def unit(self, run: Run, k: int) -> dict:
        from kusuma_metamorph_etl_spark.ingestion import FeedSpec, ingest_feed
        from kusuma_metamorph_etl_spark.marts import (
            customer_sales_report,
            product_performance,
            supplier_performance,
        )
        from kusuma_metamorph_etl_spark.marts.pipelines import supplier_performance_pipeline
        from kusuma_metamorph_etl_spark.sources.csv import read_csv
        from kusuma_metamorph_etl_spark.sources.sinks import write_parquet_snapshot

        spark, tracer = run.spark, run.tracer
        day = gen.run_day(k)
        raw = {}
        for feed, key in gen.FEEDS.items():
            meta = self.feeds[feed]
            spec = FeedSpec(
                name=feed,
                target_columns=meta["columns"],
                primary_key=key,
                raw_path=f"{self.wh}/raw/{feed}",
                legacy_path=f"{self.wh}/legacy/{feed}",
            )
            source = read_csv(spark, spec.for_run_date(self.feeds_dir, day), schema=meta["ddl"])
            with tracer.span(f"ingest_feed.{feed}", "ingestion") as sp:
                sp["rows"] = meta["rows"][k]
                run.attempt(f"{day} ingest {feed}", lambda: ingest_feed(source, spec, run_date=day))
            raw[feed] = spark.read.parquet(spec.raw_path)

        sales, products = raw["sales"], raw["products"]
        builds = {
            "supplier_performance": lambda: supplier_performance(
                sales, products, raw["suppliers"], run_date=day, supplier_key_from="sales"
            ),
            "product_performance": lambda: product_performance(sales, products, run_date=day),
            "customer_sales_report": lambda: customer_sales_report(
                sales, products, raw["customers"], run_date=day, run_ts=f"{day} 00:00:00"
            ),
            "supplier_performance_pipeline": lambda: supplier_performance_pipeline(
                products, raw["suppliers"], run_date=day
            ).run(sales),
        }
        write = _traced(tracer, write_parquet_snapshot, "write_parquet_snapshot", "sinks", paths=lambda a: a[1:2])
        for name, build in builds.items():

            def op(name=name, build=build):
                with tracer.span(name, "marts"):
                    df = build()
                run.plan(df, name)
                write(df, f"{self.wh}/marts/{name}")

            run.attempt(f"{day} {name}", op)
        self.done.append(k)
        return {"rows": sum(meta["rows"][k] for meta in self.feeds.values())}

    def check(self, run: Run) -> None:
        from kusuma_metamorph_etl_spark import registry

        oracles = registry.oracle_sql()
        duck = run.duck()
        for name in MARTS:
            df = run.spark.read.parquet(f"{self.wh}/marts/{name}")
            cols = [c.lower() for c in df.columns]
            by_day: dict[str, list[dict]] = {}
            for r in df.collect():
                row = {c.lower(): v for c, v in r.asDict().items()}
                by_day.setdefault(row["day_dt"].isoformat(), []).append(row)
            for k in self.done:
                day = gen.run_day(k).isoformat()
                duck.execute(
                    "CREATE OR REPLACE VIEW lineitem AS SELECT l.* FROM read_parquet("
                    f"'{run.tables}/lineitem.parquet') l JOIN order_days d "
                    f"ON l.l_orderkey = d.o_orderkey WHERE d.day = {k}"
                )
                sql = oracles[_MART_ORACLE[name]].replace(registry.RUN_DATE, day)
                run.compare(f"{day} {name}", by_day.get(day, []), cols, sql)


class RowList:
    """A list of registry rows, each built and forced with a noop write;
    one unit is one pass over the list."""

    sf = 0.01

    def __init__(self, rows: list[str], call_s: float):
        self.row_ids, self.call_s = rows, call_s

    def prepare(self, run: Run) -> dict:
        from kusuma_metamorph_etl_spark import registry

        self.tables_rows = gen.generate(run.tables, run.seed, self.sf)
        self.queries = registry.queries()
        self.row_times: dict[str, list[float]] = {r: [] for r in self.row_ids}
        return {"tables": self.tables_rows}

    def warm_up(self, run: Run) -> None:
        """One untimed pass that collects every row's output for the check
        and records which generated tables each row reads."""
        from pyspark.sql import DataFrameReader

        read = DataFrameReader.parquet
        reads: set[str] = set()

        def spy(reader, *paths, **kw):
            reads.update(os.path.basename(p).split(".")[0] for p in paths)
            return read(reader, *paths, **kw)

        self.outputs = {}
        self.unit_rows = 0
        DataFrameReader.parquet = spy
        try:
            for row in self.row_ids:
                reads.clear()

                def op(row=row):
                    df = self.queries[row](run.spark, run.tables)
                    return [r.asDict() for r in df.collect()], [c.lower() for c in df.columns]

                self.outputs[row] = run.attempt(f"warm-up {row}", op)
                self.unit_rows += sum(self.tables_rows.get(t, 0) for t in reads)
        finally:
            DataFrameReader.parquet = read

    def unit(self, run: Run, k: int) -> dict:
        tracer = run.tracer
        for row in self.row_ids:
            layer = "marts" if row.startswith("mart_") else "queries"

            def op(row=row, layer=layer):
                with tracer.span(row, layer):
                    df = self.queries[row](run.spark, run.tables)
                run.plan(df, row)
                with tracer.span(f"noop_write.{row}", "run"):
                    df.write.mode("overwrite").format("noop").save()

            start = time.perf_counter()
            run.attempt(f"unit {k} {row}", op)
            if not tracer.on:
                self.row_times[row].append(time.perf_counter() - start)
        return {"rows": self.unit_rows}

    def check(self, run: Run) -> None:
        from kusuma_metamorph_etl_spark import registry

        oracles = registry.oracle_sql()
        for row, out in self.outputs.items():
            if out is None:
                continue  # already counted as failed
            rows, cols = out
            if row in oracles:
                run.compare(row, rows, cols, oracles[row])
            else:
                run.attempted += 1
                if not rows:
                    run.fail(row, "empty output")

    def row_medians(self) -> dict[str, float]:
        return {r: statistics.median(t) for r, t in self.row_times.items() if t}


class EventStream:
    """Events replayed ``availableNow`` from time-ordered parquet files,
    one file per micro-batch, through the stateful sessionizer into the
    streaming dual-write sink.  A unit is one micro-batch; each call
    replays the whole directory from a fresh checkpoint."""

    sf = 0.01
    files = 4
    call_s = 8.0

    def prepare(self, run: Run) -> dict:
        self.rows = gen.generate(run.tables, run.seed, self.sf)
        self.src = os.path.join(run.scratch, "stream")
        self.per_file = gen.split_events(run.tables, self.src, self.files)
        self.out = os.path.join(run.scratch, "replays")
        self.done: list[int] = []
        return {"tables": self.rows, "rows_per_file": self.per_file}

    def warm_up(self, run: Run) -> None:
        self.unit(run, 0)

    def unit(self, run: Run, k: int) -> dict:
        from kusuma_metamorph_etl_spark.streaming.sink import stream_dual_write
        from kusuma_metamorph_etl_spark.streaming.stateful import sessionize_stream
        from kusuma_metamorph_etl_spark.streaming.windows import stream_events

        base = f"{self.out}/{k}"
        result = {"rows": 0, "units": []}

        def op():
            events = stream_events(run.spark, self.src, {"maxFilesPerTrigger": "1"})
            with run.tracer.span("stream_dual_write", "streaming") as sp:
                query = stream_dual_write(
                    sessionize_stream(events, gap_seconds=1800),
                    f"{base}/raw",
                    f"{base}/legacy",
                    f"{base}/checkpoint",
                    run_date=gen.run_day(0),
                )
            batches = [p for p in query.recentProgress if p["numInputRows"] > 0]
            result["units"] = [p["durationMs"]["triggerExecution"] / 1000.0 for p in batches]
            result["rows"] = sum(p["numInputRows"] for p in batches)
            sp["counters"] = _stream_counters(batches)
            sp["groups"] = [str(query.runId)]

        run.attempt(f"replay {k}", op)
        self.done.append(k)
        return result

    def check(self, run: Run) -> None:
        from kusuma_metamorph_etl_spark import registry
        from kusuma_metamorph_etl_spark.sources.sinks import DAY_DT, read_legacy

        duck = run.duck()
        duck.execute(
            "CREATE OR REPLACE VIEW events AS SELECT * FROM "
            f"read_parquet('{self.src}/events.parquet/*.parquet')"
        )
        oracle = registry.oracle_sql()["evt_sessionize"]
        for k in self.done:
            legacy = f"{self.out}/{k}/legacy"
            if not os.path.isdir(legacy):
                continue  # the replay itself failed and was counted
            df = read_legacy(run.spark, legacy).drop(DAY_DT)
            rows = [r.asDict() for r in df.collect()]
            run.compare(f"replay {k}", rows, [c.lower() for c in df.columns], oracle)


def _stream_counters(batches) -> dict[str, float]:
    def dur(p, *keys):
        return sum(p["durationMs"].get(k, 0) for k in keys)

    def state(p, key):
        return sum(op[key] for op in p["stateOperators"])

    return {
        "streaming.batches": len(batches),
        "streaming.trigger_ms": sum(dur(p, "triggerExecution") for p in batches),
        "streaming.add_batch_ms": sum(dur(p, "addBatch") for p in batches),
        "streaming.planning_ms": sum(dur(p, "queryPlanning") for p in batches),
        "streaming.commit_ms": sum(dur(p, "walCommit", "commitOffsets") for p in batches),
        "streaming.state_rows": sum(state(p, "numRowsTotal") for p in batches),
        "streaming.state_mem_bytes": sum(state(p, "memoryUsedBytes") for p in batches),
        "streaming.input_rows": sum(p["numInputRows"] for p in batches),
    }


def make(name: str):
    if name == "nightly_etl":
        return NightlyEtl()
    if name == "llm_corpus":
        return RowList(LLM_ROWS, call_s=10.0)
    if name == "driver_probes":
        return RowList(DRIVER_ROWS, call_s=18.0)
    if name == "event_stream":
        return EventStream()
    raise KeyError(name)


WORKLOADS = ("nightly_etl", "llm_corpus", "driver_probes", "event_stream")
