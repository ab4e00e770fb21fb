"""Seeded input generator for the benchmark.

Every input a workload reads is made here from ``seed`` alone: the same
seed (and scale) writes byte-identical files.  The tables follow the
layout of the repository's TPC-H-ish test data: one parquet file per
table, with the same columns and value shapes (a 31-word vocabulary with
planted near-duplicate documents, unit-norm 64-d embeddings, events in
time order).  Two derived layouts feed the workloads that need them:

* :func:`write_feeds` -- the nightly job's dated CSV feeds, one file per
  feed per run day, built through ``marts/tpch_adapter.py``;
* :func:`split_events` -- the events table cut into time-ordered parquet
  files for a file-stream replay.

No parallelism is added that the data lacks: each table is one file, and
each feed day is one CSV.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at sf=1 (the TPC-H ratios the repository's test data uses).
_ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
}
_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_ADJ = "small red hot old new blue cold large".split()
_NOUN = "widget plate ring rod bolt gear anvil gizmo".split()
_PTYPES = "ECONOMY SMALL MEDIUM LARGE PROMO STANDARD".split()
_SEGMENTS = "MACHINERY FURNITURE BUILDING AUTOMOBILE HOUSEHOLD".split()
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = "view click purchase signup error".split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_DAY0 = np.datetime64("1995-01-01", "us")
_SPAN_DAYS = 2400
_DOCS, _EMBEDDINGS, _EMB_DIM = 500, 500, 64
_EVENTS, _USERS = 10_000, 150
_FIRST_RUN_DAY = dt.date(2025, 8, 1)

# Feeds of the nightly job and their primary keys.
FEEDS = {
    "sales": ["SALE_ID"],
    "products": ["PRODUCT_ID"],
    "customers": ["CUSTOMER_ID"],
    "suppliers": ["SUPPLIER_ID"],
}


def _write(table: dict, path: str) -> int:
    t = pa.table(table)
    pq.write_table(t, path)
    return t.num_rows


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng) -> dict:
    texts = []
    for i in range(_DOCS):
        if i > 20 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document, lightly edited
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(rng.choice(_VOCAB, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    return {
        "doc_id": np.arange(_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, _DOCS, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng) -> dict:
    x = rng.standard_normal((_EMBEDDINGS, _EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(_EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, _EMBEDDINGS).astype(np.int32),
    }


def _events(rng) -> dict:
    gaps = rng.exponential(259e6, _EVENTS).astype(np.int64)  # µs, ~4.3 min
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    return {
        "event_id": np.arange(_EVENTS, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, _USERS, _EVENTS).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, _EVENTS),
        "value": np.round(rng.exponential(50.0, _EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, _EVENTS)],
    }


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table for ``seed`` at scale ``sf`` into ``out_dir``.

    Returns the row count of each table.  ``order_days.parquet`` is the
    benchmark's own table: it assigns each order to one of the nightly
    job's run days (equal shares, seeded shuffle).
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(1, int(v * sf)) for k, v in _ROWS_PER_SF.items()}
    rows: dict[str, int] = {}

    def put(name, table):
        rows[name] = _write(table, os.path.join(out_dir, f"{name}.parquet"))

    put("region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS})
    put("nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    put("customer", {
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
    })
    put("supplier", {
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    partkey = np.arange(n["part"], dtype=np.int64)
    put("part", {
        "p_partkey": partkey,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n["part"]), rng.choice(_NOUN, n["part"]))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(_PTYPES, n["part"]),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900.0 + (partkey % 1000) * 0.1, 1),
    })

    n_orders = n["orders"]
    orderdate = _DAY0 + (rng.integers(0, _SPAN_DAYS, n_orders) * 86_400_000_000).astype("timedelta64[us]")
    put("orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": orderdate,
        "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
    })
    lines = rng.integers(1, 8, n_orders)
    n_lines = int(lines.sum())
    # line numbers: distinct per order, drawn from 1..7 (gaps like the test data)
    drawn = np.argsort(rng.random((n_orders, 7)), axis=1) + 1
    taken = np.arange(7) < lines[:, None]
    drawn = np.sort(np.where(taken, drawn, 8), axis=1)
    linenumber = drawn[taken]
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    put("lineitem", {
        "l_orderkey": np.repeat(np.arange(n_orders, dtype=np.int64), lines),
        "l_partkey": rng.integers(0, n["part"], n_lines).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], n_lines).astype(np.int64),
        "l_linenumber": linenumber.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": _DAY0 + (rng.integers(0, _SPAN_DAYS + 30, n_lines) * 86_400_000_000).astype("timedelta64[us]"),
    })
    put("documents", _documents(rng))
    put("embeddings", _embeddings(rng))
    put("events", _events(rng))
    return rows


def assign_days(out_dir: str, seed: int, days: int) -> None:
    """Write ``order_days.parquet``: each order's run day, ``days`` equal
    shares in a seeded order."""
    keys = pq.read_table(os.path.join(out_dir, "orders.parquet"), columns=["o_orderkey"])
    n = keys.num_rows
    day = np.empty(n, dtype=np.int32)
    day[np.random.default_rng(seed + 1).permutation(n)] = np.arange(n) % days
    _write({"o_orderkey": keys.column(0), "day": day}, os.path.join(out_dir, "order_days.parquet"))


def run_day(index: int) -> dt.date:
    return _FIRST_RUN_DAY + dt.timedelta(days=index)


def write_feeds(spark, tables_dir: str, feeds_dir: str, days: int) -> dict[str, dict]:
    """Build the nightly job's four feeds through the TPC-H adapter and
    write each as one CSV per run day under the ``FeedSpec`` layout.

    Returns, per feed, the DDL schema its CSV is read with, the columns
    ingestion keeps, and the rows it holds on each day.  Dimension feeds
    carry a full snapshot daily.
    """
    from kusuma_metamorph_etl_spark.ingestion import FeedSpec
    from kusuma_metamorph_etl_spark.marts import tpch_adapter as adapter
    from kusuma_metamorph_etl_spark.sources.catalog import load_table

    def tbl(name):
        return load_table(spark, tables_dir, name)

    sales = adapter.sales_with_customers(tbl("lineitem"), tbl("orders")).join(
        spark.read.parquet(f"{tables_dir}/order_days.parquet").withColumnRenamed(
            "o_orderkey", "ORDER_ID"
        ),
        on="ORDER_ID",
    )
    frames = {
        "sales": sales,
        "products": adapter.products_from_part(tbl("part")),
        "customers": adapter.customers_from_customer(tbl("customer")),
        "suppliers": adapter.suppliers_from_supplier(tbl("supplier")),
    }
    out: dict[str, dict] = {}
    for feed, frame in frames.items():
        cols = [c for c in frame.columns if c != "day"]
        # lower-case headers: ingestion's name normalization maps them back
        ddl = ", ".join(
            f"{f.name.lower()} {f.dataType.simpleString()}"
            for f in frame.schema.fields
            if f.name in cols
        )
        pdf = frame.toPandas().sort_values(FEEDS[feed])
        per_day = {}
        for d in range(days):
            part = pdf[pdf["day"] == d][cols] if feed == "sales" else pdf[cols]
            path = FeedSpec.dated_source_path(feeds_dir, feed, run_day(d))
            os.makedirs(os.path.dirname(path), exist_ok=True)
            part.rename(columns=str.lower).to_csv(path, index=False, date_format="%Y-%m-%d")
            per_day[d] = len(part)
        out[feed] = {"ddl": ddl, "columns": cols, "rows": per_day}
    return out


def split_events(tables_dir: str, out_dir: str, files: int) -> list[int]:
    """Cut ``events`` into ``files`` time-ordered parquet files under
    ``out_dir/events.parquet/`` (a file-stream source directory); the
    modification times follow the time order, so a replay reads the
    files in event-time order.  Returns the rows per file."""
    t = pq.read_table(os.path.join(tables_dir, "events.parquet"))
    target = os.path.join(out_dir, "events.parquet")
    os.makedirs(target, exist_ok=True)
    bounds = np.linspace(0, t.num_rows, files + 1).astype(int)
    sizes = []
    for i in range(files):
        path = os.path.join(target, f"part-{i:05d}.parquet")
        pq.write_table(t.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        sizes.append(int(bounds[i + 1] - bounds[i]))
    return sizes
