"""sf1.0 scale probe (r12 VERDICT Next #3): empirically ground the
"scale-safe" plan audits that until now argued from plan shape alone.

Builds a 10x sf1.0 dataset from the driver's sf0.1 parquet by
key-shifted replication (``--build``), runs the most expensive headline
rows once per scale in FRESH JVMs (one subprocess per (query, sf) — the
``tools/isolated_reps.py`` protocol), and records per-row
``(sf0.1, sf1.0)`` seconds plus the scaling exponent into the committed
``BENCH_SCALE.json``.

Scale-up semantics (what "10x the data" means here):

* dims (customer/supplier/part) and facts (orders/lineitem/events) get
  10 key-shifted copies — copy ``i`` of a fact references copy ``i`` of
  its dims, so per-key densities (lines per supplier, orders per
  customer, events per user) are PRESERVED; nation/region stay fixed
  like TPC-H itself scales.
* documents: copy 0 is verbatim; copies 1..9 get a deterministic
  per-copy word shuffle (sort words by ``xxhash64(word, pos, copy)``),
  which keeps length/vocabulary distributions but destroys cross-copy
  shingle overlap — each copy keeps its own planted near-dup structure,
  so dedup candidate generation scales linearly in corpus size instead
  of minting artificial 10-cliques of exact duplicates.
* embeddings: copy ``i`` rotates each vector by ``i`` positions — same
  norms and distribution, distinct directions, no artificial ties.

PROTOCOL RULE (stated r16, honored since r15): every NEWLY REGISTERED
bench-relevant row gets its sf1.0 exponent measured IN THE SAME ROUND
it lands (``--record --record-round N <new rows...>``) — a row without
a measured exponent is an unproven scale claim, and deferring the probe
is how unproven claims accumulate.  Consolidation family rows inherit
their members' exponents only when the family body is a pure union of
the retired bodies; anything restructured re-probes.

Usage:

    python tools/scale_probe.py --build           # once: writes .scale/sf1.0
    python tools/scale_probe.py --record          # probe + BENCH_SCALE.json

The scaled dataset lives under ``.scale/sf1.0`` in the checkout (gitignored).
"""

from __future__ import annotations

import argparse
import json
import os
import pathlib
import subprocess
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
SF01 = os.path.abspath(
    os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
)
SF10 = str(REPO / ".scale" / "sf1.0")
FACTOR = 10

# The 10 most expensive rows of the r12 driver bench (BENCH_r12.json
# ranking), the set the r12 verdict names for the probe.
PROBE_ROWS = [
    "graph_pagerank",
    "dedup_cc_minhash",  # r15: exact-edge row retired into its _err gate
    "mm_transcode",
    "mart_customer_sales_report",
    "sim_cosine_topk",
    "agg_quantile_mergeable",
    "dedup_substring",
    "dedup_simhash",
    "dedup_embedding_lsh",
    "mart_supplier_performance",
]

_BUILD = r"""
import sys
from pyspark.sql import functions as F
from kusuma_metamorph_etl_spark.session import get_session

src, dst, factor = sys.argv[1], sys.argv[2], int(sys.argv[3])
spark = get_session()
spark.sparkContext.setLogLevel("ERROR")

def rd(name):
    return spark.read.parquet(f"{src}/{name}.parquet")

def wr(df, name):
    df.write.mode("overwrite").parquet(f"{dst}/{name}.parquet")

def shift(df, col, span, i):
    return df.withColumn(col, F.col(col) + F.lit(i * span))

def span_of(df, col):
    return int(df.agg(F.max(col)).first()[0]) + 1

# fixed dims
for name in ("nation", "region"):
    wr(rd(name), name)

cust, supp, part = rd("customer"), rd("supplier"), rd("part")
orders, li, ev = rd("orders"), rd("lineitem"), rd("events")
docs, emb = rd("documents"), rd("embeddings")
C, S, P = span_of(cust, "c_custkey"), span_of(supp, "s_suppkey"), span_of(part, "p_partkey")
O, E, U = span_of(orders, "o_orderkey"), span_of(ev, "event_id"), span_of(ev, "user_id")
D, V = span_of(docs, "doc_id"), span_of(emb, "vec_id")

def copies(df, fn):
    out = fn(df, 0)
    for i in range(1, factor):
        out = out.unionByName(fn(df, i))
    return out

wr(copies(cust, lambda d, i: shift(d, "c_custkey", C, i)), "customer")
wr(copies(supp, lambda d, i: shift(d, "s_suppkey", S, i)), "supplier")
wr(copies(part, lambda d, i: shift(d, "p_partkey", P, i)), "part")
wr(
    copies(
        orders,
        lambda d, i: shift(shift(d, "o_orderkey", O, i), "o_custkey", C, i),
    ),
    "orders",
)
wr(
    copies(
        li,
        lambda d, i: shift(
            shift(shift(d, "l_orderkey", O, i), "l_suppkey", S, i),
            "l_partkey", P, i,
        ),
    ),
    "lineitem",
)
wr(
    copies(
        ev, lambda d, i: shift(shift(d, "event_id", E, i), "user_id", U, i)
    ),
    "events",
)

def doc_copy(d, i):
    d = shift(d, "doc_id", D, i)
    if i == 0:
        return d
    shuffled = F.expr(
        "array_join(transform(array_sort(transform("
        "  filter(split(text, '\\\\s+'), w -> w <> ''),"
        f"  (w, p) -> struct(xxhash64(w, p, {i}) AS h, w AS w))),"
        "  s -> s.w), ' ')"
    )
    return d.withColumn("text", shuffled).withColumn(
        "n_chars", F.length("text")
    )

wr(copies(docs, doc_copy), "documents")

def emb_copy(d, i):
    d = shift(d, "vec_id", V, i)
    if i == 0:
        return d
    rot = F.expr(
        f"concat(slice(embedding, {i} + 1, size(embedding) - {i}),"
        f" slice(embedding, 1, {i}))"
    )
    return d.withColumn("embedding", rot)

wr(copies(emb, emb_copy), "embeddings")
print("BUILD_DONE")
"""

_CHILD = r"""
import json, sys, time
name, sf_dir, reps = sys.argv[1], sys.argv[2], int(sys.argv[3])
from kusuma_metamorph_etl_spark import registry
from kusuma_metamorph_etl_spark.session import get_session
spark = get_session()
spark.sparkContext.setLogLevel("ERROR")
qs = registry.queries()
qs["agg_groupby_single"](spark, sf_dir).write.mode("overwrite").format("noop").save()
runs = []
for _ in range(reps):
    t0 = time.perf_counter()
    qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
    runs.append(round(time.perf_counter() - t0, 3))
print("PROBE_RESULT " + json.dumps({"query": name, "reps": runs}))
"""

# Streaming probe protocol (r14 VERDICT Next #4 — stream rows cannot run
# through the batch noop-write child above).  Semantics pinned so the
# exponent means the same thing as the batch rows':
#
# * the events table is STAGED into a fixed 8-file layout at BOTH
#   scales, and the availableNow replay runs with maxFilesPerTrigger=2
#   → exactly 4 micro-batches per run at every scale.  10x data thus
#   means 10x ROWS PER BATCH (and, because user_id spans are key-shifted
#   per copy, 10x STATE-STORE ROWS) — batch-count overhead is held
#   constant instead of letting the file layout decide it.
# * timing covers the full availableNow replay: source listing, state
#   store get/put for every user, and the applyInPandasWithState
#   handler.
# * per-batch evidence rides along from the engine's own
#   StreamingQueryProgress (streaming/metrics.py::progress_rows):
#   (batch_id, input rows, state rows total) per micro-batch, recorded
#   into BENCH_SCALE.json next to the seconds so the state axis of the
#   scale-up is visible, not inferred.
_STREAM_CHILD = r"""
import json, shutil, sys, tempfile, time
name, sf_dir, reps = sys.argv[1], sys.argv[2], int(sys.argv[3])
from kusuma_metamorph_etl_spark.session import get_session
from kusuma_metamorph_etl_spark.streaming.stateful import sessionize_stream
from kusuma_metamorph_etl_spark.streaming.windows import stream_events
from kusuma_metamorph_etl_spark.streaming.metrics import progress_rows
spark = get_session()
spark.sparkContext.setLogLevel("ERROR")
stage = tempfile.mkdtemp(prefix="probe_stream_")
try:
    (spark.read.parquet(f"{sf_dir}/events.parquet").repartition(8)
        .write.mode("overwrite").parquet(f"{stage}/events.parquet"))
    runs, progress = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        q = (
            sessionize_stream(
                stream_events(spark, stage,
                              source_options={"maxFilesPerTrigger": "2"}),
                gap_seconds=1800,
            )
            .writeStream.format("noop").outputMode("append")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        runs.append(round(time.perf_counter() - t0, 3))
        progress = [
            {k: r[k] for k in
             ("batch_id", "num_input_rows", "state_rows_total")}
            for r in progress_rows(q, name)
        ]
    print("PROBE_RESULT " + json.dumps(
        {"query": name, "reps": runs, "batches": progress}))
finally:
    shutil.rmtree(stage, ignore_errors=True)
"""

STREAM_ROWS = {"stream_sessionize_stateful": _STREAM_CHILD}


def _run_child(script: str, args: list[str], timeout: int) -> str:
    # Provision the probe JVM like a real executor: the library default
    # (Spark's 1 GB driver heap) is a local-harness artifact — at sf1.0
    # dedup_cc's localCheckpoint blocks alone exceed it, which says
    # nothing about a cluster where those blocks spread across executor
    # storage memory.  Both scales run with the SAME heap so the ratio
    # is apples-to-apples.
    env = dict(os.environ)
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    env["SPARK_GRAFT_DRIVER_MEM"] = "12g"  # session.py routes to submit args
    # `python -c` puts the working directory first on sys.path, so the
    # child imports the engine from this checkout.
    proc = subprocess.run(
        [sys.executable, "-c", script, *args],
        capture_output=True,
        text=True,
        timeout=timeout,
        env=env,
        cwd=REPO,
    )
    if proc.returncode != 0:
        raise RuntimeError(proc.stderr[-3000:])
    return proc.stdout


def build() -> None:
    out = _run_child(_BUILD, [SF01, SF10, str(FACTOR)], timeout=1800)
    assert "BUILD_DONE" in out, out[-2000:]
    print(f"built {SF10}")


def probe(rows: list[str], record: bool, record_round: int = 0) -> dict:
    import math

    results = {}
    for name in rows:
        child = STREAM_ROWS.get(name, _CHILD)
        per_sf = {}
        batches = {}
        for sf_key, sf_dir, reps, timeout in (
            ("sf0.1", SF01, 2, 900),
            ("sf1.0", SF10, 2, 3600),
        ):
            out = _run_child(child, [name, sf_dir, str(reps)], timeout)
            line = next(
                l for l in out.splitlines() if l.startswith("PROBE_RESULT ")
            )
            payload = json.loads(line[len("PROBE_RESULT "):])
            reps_s = payload["reps"]
            per_sf[sf_key] = min(reps_s)
            per_sf[sf_key + "_reps"] = reps_s
            if payload.get("batches"):
                batches[sf_key] = payload["batches"]
        ratio = per_sf["sf1.0"] / per_sf["sf0.1"]
        results[name] = {
            "sf0.1_sec": per_sf["sf0.1"],
            "sf1.0_sec": per_sf["sf1.0"],
            "ratio": round(ratio, 2),
            # t ∝ n^e  →  e = log(t10/t01) / log(10)
            "exponent": round(math.log(ratio) / math.log(FACTOR), 3),
            "reps": {
                "sf0.1": per_sf["sf0.1_reps"],
                "sf1.0": per_sf["sf1.0_reps"],
            },
        }
        if batches:
            results[name]["batches"] = batches
        r = results[name]
        print(
            f"{name}: sf0.1={r['sf0.1_sec']}s sf1.0={r['sf1.0_sec']}s "
            f"ratio={r['ratio']} exponent={r['exponent']}"
        )
    if record:
        path = REPO / "BENCH_SCALE.json"
        book = json.loads(path.read_text()) if path.exists() else {}
        book["protocol"] = (
            "fresh JVM per (query, sf); 1 warm-up + 2 reps, min taken; "
            "sf1.0 = 10x key-shifted replication of sf0.1 "
            "(tools/scale_probe.py docstring has the exact semantics); "
            "exponent = log(t_sf1.0/t_sf0.1)/log(10), 1.0 = linear; "
            "streaming rows: staged 8-file source, maxFilesPerTrigger=2 "
            "=> fixed 4 micro-batches, 10x rows AND 10x state rows per "
            "batch at sf1.0, per-batch (input, state) rows recorded "
            "from StreamingQueryProgress (_STREAM_CHILD note)"
        )
        book.setdefault("runs", {}).setdefault(
            f"r{record_round}", {}
        ).update(results)
        path.write_text(json.dumps(book, indent=1, sort_keys=True) + "\n")
        print(f"recorded in {path}")
    return results


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--build", action="store_true")
    ap.add_argument("--record", action="store_true")
    ap.add_argument(
        "--record-round", type=int, default=0,
        help="round key for --record (runs.r{N} in BENCH_SCALE.json)",
    )
    ap.add_argument("queries", nargs="*", default=None)
    args = ap.parse_args()
    if args.record and not args.record_round:
        ap.error("--record requires --record-round")
    if args.build:
        build()
        if not args.record and not args.queries:
            return 0
    rows = args.queries or PROBE_ROWS
    if not pathlib.Path(SF10).exists():
        print("scaled dataset missing — run with --build first", file=sys.stderr)
        return 1
    probe(rows, record=args.record, record_round=args.record_round)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
