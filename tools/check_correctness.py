"""Local stand-in for the driver's correctness gate.

Runs every registered query at sf0.01 through Spark AND its DuckDB oracle,
then compares row count, lowercase column names, and an order-insensitive
value hash (values normalized: floats rounded to 6 significant decimals,
dates/timestamps ISO-formatted).  Usage:

    python tools/check_correctness.py [query_id ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_CHECK_SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(value):
    import datetime as dt
    from decimal import Decimal

    if value is None:
        return "NULL"
    if isinstance(value, bool):
        return "true" if value else "false"
    if isinstance(value, Decimal):
        value = float(value)
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return f"{value:.6g}"
    if isinstance(value, dt.datetime):
        return value.isoformat()
    if isinstance(value, dt.date):
        return value.isoformat()
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(normalize(v) for v in value) + "]"
    return str(value)


def assert_driver_hashable(schema) -> None:
    """Reject output columns the DRIVER's canonicalizer cannot hash.

    The driver canonicalizes results with a pandas ``sort_values`` over
    every output column; list/dict cells crash it with ``TypeError:
    unhashable type`` (r9: fn_regexp_extract_all, sim_group_centroid).
    The builder's checker used to stringify them instead — the two
    harnesses diverged and two locally-green rows shipped driver-red.
    Complex types are fine INSIDE a query; registered OUTPUT columns
    must be scalar (array_join / long-form grain / element projection).
    """
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    if bad:
        raise TypeError(
            f"driver-unhashable output columns {bad} — serialize before "
            "registering (array_join(col,'|'), a long-form (key,pos,val) "
            "grain, or per-element projection)"
        )


def table_hash(rows, columns):
    # Harness parity with the driver's pandas canon step is enforced at
    # the SCHEMA level by assert_driver_hashable (array/map/struct are
    # exactly the cell types the driver's sort_values crashes on).  A
    # row-level pandas dry-run here was dropped per r10 ADVICE: common
    # pandas versions sort object columns of lists without raising, so
    # it proved nothing the schema gate doesn't, at a full-materialize
    # cost per query.
    ordered = sorted(columns)
    lines = sorted(
        "|".join(normalize(row[c]) for c in ordered) for row in rows
    )
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return digest


def main() -> int:
    import duckdb

    from __spark_entry__ import oracle_sql, queries
    from kusuma_metamorph_etl_spark.session import get_session

    spark = get_session("correctness-check")
    con = duckdb.connect()
    for table in TABLES:
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{SF_DIR}/{table}.parquet')"
        )

    all_queries = queries()
    oracles = oracle_sql()
    selected = sys.argv[1:] or list(all_queries)
    failures = []
    for name in selected:
        try:
            sdf = all_queries[name](spark, SF_DIR)
            if name in oracles:
                # hard gate: the driver will canon+hash this output
                assert_driver_hashable(sdf.schema)
            else:
                # rows-only rows are only counted by the driver; complex
                # output is tolerated but flagged (keep them scalar too)
                try:
                    assert_driver_hashable(sdf.schema)
                except TypeError as exc:
                    print(f"  {name}: WARN {exc}")
            srows = [r.asDict() for r in sdf.collect()]
            scols = [c.lower() for c in sdf.columns]
            if name not in oracles:
                print(f"  {name}: rows-only (no oracle) rows={len(srows)}")
                continue
            orel = con.execute(oracles[name])
            ocols = [d[0].lower() for d in orel.description]
            orows = [dict(zip(ocols, row)) for row in orel.fetchall()]
            problems = []
            if len(srows) != len(orows):
                problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
            if sorted(scols) != sorted(ocols):
                problems.append(f"columns spark={sorted(scols)} duck={sorted(ocols)}")
            else:
                sh = table_hash(srows, scols)
                oh = table_hash(orows, ocols)
                if sh != oh:
                    problems.append("value hash mismatch")
                    shown = 0
                    slines = sorted(
                        "|".join(normalize(r[c]) for c in sorted(scols)) for r in srows
                    )
                    olines = sorted(
                        "|".join(normalize(r[c]) for c in sorted(ocols)) for r in orows
                    )
                    for a, b in zip(slines, olines):
                        if a != b and shown < 3:
                            print(f"    spark: {a}\n    duck : {b}")
                            shown += 1
            if problems:
                failures.append(name)
                print(f"  {name}: FAIL ({'; '.join(problems)})")
            else:
                print(f"  {name}: OK rows={len(srows)}")
        except Exception:
            failures.append(name)
            print(f"  {name}: ERROR")
            traceback.print_exc()
    print(f"\n{len(selected) - len(failures)}/{len(selected)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
