"""Property tests for the quality gates (SURVEY.md §5 test strategy #4):
the duplicate gate fires iff a PK collision exists, errors carry the
offending keys (fixes reference bug B5), and the null/schema contracts
fail fast."""

from __future__ import annotations

import pytest

from kusuma_metamorph_etl_spark.plans.quality import (
    DuplicateKeyError,
    FreshnessError,
    NullPolicyError,
    RowCountError,
    SchemaMismatchError,
    assert_schema,
    duplicate_gate,
    freshness_gate,
    null_policy,
    row_count_gate,
)
from tests.test_skew import _construction_jobs as _jobs_run


def test_duplicate_gate_passes_on_unique_keys(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["id", "v"])
    assert duplicate_gate(df, ["id"]) is df


def test_duplicate_gate_raises_with_offending_keys(spark):
    df = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], ["id", "v"])
    with pytest.raises(DuplicateKeyError) as err:
        duplicate_gate(df, ["id"])
    assert err.value.keys == ["id"]
    assert err.value.samples[0]["id"] == 1
    assert err.value.samples[0]["duplicate_count"] == 2


def test_duplicate_gate_composite_key(spark):
    df = spark.createDataFrame(
        [(1, "x", 1.0), (1, "y", 2.0), (1, "x", 3.0)], ["id", "k", "v"]
    )
    with pytest.raises(DuplicateKeyError):
        duplicate_gate(df, ["id", "k"])
    # The same frame is fine under the wider key.
    duplicate_gate(df, ["id", "k", "v"])


def test_null_policy(spark):
    df = spark.createDataFrame([(1, "a"), (2, None)], ["id", "v"])
    null_policy(df, ["id"])
    with pytest.raises(NullPolicyError):
        null_policy(df, ["id", "v"])


def test_assert_schema(spark):
    df = spark.createDataFrame([(1, "a")], ["id", "v"])
    assert_schema(df, ["id", "v"])
    with pytest.raises(SchemaMismatchError):
        assert_schema(df, ["v", "id"])  # order is part of the contract


def test_row_count_gate(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], ["id"])
    row_count_gate(df, min_rows=1)
    row_count_gate(df, min_rows=3, max_rows=3)
    with pytest.raises(RowCountError):
        row_count_gate(df, min_rows=4)
    with pytest.raises(RowCountError):
        row_count_gate(df, min_rows=1, max_rows=2)
    with pytest.raises(RowCountError):
        row_count_gate(df.filter("id > 99"), min_rows=1)  # empty feed


def test_freshness_gate(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 6, 1, 11, 0))], "id long, ts timestamp"
    )
    freshness_gate(df, "ts", "2 hours", now="2024-06-01 12:00:00")
    with pytest.raises(FreshnessError):
        freshness_gate(df, "ts", "30 minutes", now="2024-06-01 12:00:00")
    with pytest.raises(FreshnessError):  # empty frame is stale by definition
        freshness_gate(df.filter("id > 9"), "ts", "2 hours", now="2024-06-01 12:00:00")
    # a DATE column compares as midnight of its day
    days = spark.createDataFrame([(1, dt.date(2024, 1, 1))], "id long, d date")
    with pytest.raises(FreshnessError):
        freshness_gate(days, "d", "2 days", now="2024-01-10 00:00:00")
    assert freshness_gate(days, "d", "30 days", now="2024-01-10 00:00:00") is days


def test_approx_count_distinct_error_bound(spark, sf_small):
    """The sketch path must stay within ~3x its configured rsd of exact."""
    from pyspark.sql import functions as F

    events = spark.read.parquet(f"{sf_small}/events.parquet")
    merged = (
        events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
        )
        .collect()
    )
    for row in merged:
        rel_err = abs(row["approx"] - row["exact"]) / row["exact"]
        assert rel_err <= 0.06, row


def test_referential_gate_passes_when_clean(spark):
    from kusuma_metamorph_etl_spark.plans.quality import referential_gate

    fact = spark.createDataFrame([(1, 10), (2, 20)], "id long, fk long")
    dim = spark.createDataFrame([(10,), (20,), (30,)], "pk long")
    out = referential_gate(fact, dim, fk="fk", pk="pk")
    assert out.count() == 2  # pass-through


def test_referential_gate_raises_on_orphans(spark):
    from kusuma_metamorph_etl_spark.plans.quality import (
        ReferentialIntegrityError,
        referential_gate,
    )

    fact = spark.createDataFrame([(1, 10), (2, 99)], "id long, fk long")
    dim = spark.createDataFrame([(10,)], "pk long")
    with pytest.raises(ReferentialIntegrityError) as err:
        referential_gate(fact, dim, fk="fk", pk="pk")
    assert "99" in str(err.value)  # offending sample surfaced


def test_referential_gate_null_fk_is_not_orphan(spark):
    from kusuma_metamorph_etl_spark.plans.quality import find_orphans

    fact = spark.createDataFrame([(1, None), (2, 10)], "id long, fk long")
    dim = spark.createDataFrame([(10,)], "pk long")
    assert find_orphans(fact, dim, fk="fk", pk="pk").count() == 0


def test_volume_anomaly_gate(spark):
    from kusuma_metamorph_etl_spark.plans.quality import (
        VolumeAnomalyError,
        volume_anomaly_gate,
    )

    df100 = spark.range(100)
    # steady history around 100 -> 100 passes, 500 trips
    hist = spark.createDataFrame(
        [(c,) for c in (98, 101, 99, 103, 100, 97, 102, 100)], "n_rows long"
    )
    assert volume_anomaly_gate(df100, hist, z=3.0).count() == 100
    with pytest.raises(VolumeAnomalyError) as err:
        volume_anomaly_gate(spark.range(500), hist, z=3.0)
    assert "500" in str(err.value)


def test_volume_anomaly_gate_short_or_constant_history(spark):
    from kusuma_metamorph_etl_spark.plans.quality import (
        VolumeAnomalyError,
        volume_anomaly_gate,
    )

    df = spark.range(500)
    short = spark.createDataFrame([(100,), (101,)], "n_rows long")
    assert volume_anomaly_gate(df, short).count() == 500  # passes open
    const = spark.createDataFrame([(100,)] * 8, "n_rows long")
    assert volume_anomaly_gate(spark.range(100), const).count() == 100
    with pytest.raises(VolumeAnomalyError):
        volume_anomaly_gate(spark.range(101), const)
    # an empty history leaves nothing to judge against: min_history < 1
    # is rejected up front rather than crashing on a null mean
    empty = spark.createDataFrame([], "n_rows long")
    with pytest.raises(ValueError, match="must be >= 1"):
        volume_anomaly_gate(df, empty, min_history=0)


# --------------------------------------------------------- schema drift

def test_schema_drift_gate_passes_matching_contract(spark):
    from kusuma_metamorph_etl_spark.plans.quality import schema_drift_gate

    df = spark.createDataFrame([(1, "x")], ["id", "name"])
    out = schema_drift_gate(df, {"id": "bigint", "name": "string"})
    assert out is df  # metadata-only: same frame back, no plan change


def test_schema_drift_gate_categorizes_drift(spark):
    import pytest

    from kusuma_metamorph_etl_spark.plans.quality import (
        SchemaDriftError,
        schema_drift_gate,
    )

    df = spark.createDataFrame([(1, 2.0)], ["id", "price"])
    with pytest.raises(SchemaDriftError) as e:
        schema_drift_gate(df, {"id": "bigint", "name": "string", "price": "bigint"})
    assert e.value.missing == {"name"}
    assert e.value.type_changed == {"price:bigint->double"}

    # additive column: rejected strict, admitted with allow_added
    df2 = spark.createDataFrame([(1, "x", 0)], ["id", "name", "extra"])
    contract = {"id": "bigint", "name": "string"}
    with pytest.raises(SchemaDriftError) as e2:
        schema_drift_gate(df2, contract)
    assert e2.value.added == {"extra"}
    assert schema_drift_gate(df2, contract, allow_added=True) is df2


class TestExpectations:
    def _df(self, spark):
        return spark.createDataFrame(
            [
                (1, 10.0, "O"),
                (2, 20.0, "F"),
                (2, -5.0, "X"),  # dup id, out-of-range value, bad status
                (None, 999.0, None),  # null id, out-of-range value
            ],
            ["id", "amount", "status"],
        )

    def test_observed_counts_per_check(self, spark):
        from kusuma_metamorph_etl_spark.plans.quality import expectations

        out = {
            (r["check"], r["column"]): (r["observed"], r["passed"])
            for r in expectations(
                self._df(spark),
                [
                    ("not_null", "id"),
                    ("unique", "id"),
                    ("between", "amount", 0, 100),
                    ("in_set", "status", ["O", "F", "P"]),
                    ("matches", "status", "^[A-Z]$"),
                    ("row_count_min", 3),
                ],
            ).collect()
        }
        assert out[("not_null", "id")] == (1, False)
        assert out[("unique", "id")] == (1, False)  # one excess duplicate
        assert out[("between(0,100)", "amount")] == (2, False)
        assert out[("in_set(O,F,P)", "status")] == (1, False)
        assert out[("matches(^[A-Z]$)", "status")] == (0, True)  # nulls skip
        assert out[("row_count_min(3)", "*")] == (4, True)

    def test_all_green_on_clean_data(self, spark):
        from kusuma_metamorph_etl_spark.plans.quality import expectations

        clean = spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"])
        out = expectations(
            clean,
            [("not_null", "id"), ("unique", "id"), ("row_count_min", 1)],
        )
        assert all(r["passed"] for r in out.collect())

    def test_single_aggregation_pass(self, spark):
        """The whole suite must compile to ONE aggregate over the scan —
        no per-check jobs (the plan shows a single Aggregate node chain,
        not a union of scans)."""
        from kusuma_metamorph_etl_spark.plans.quality import expectations

        plan = (
            expectations(
                self._df(spark),
                [("not_null", "id"), ("between", "amount", 0, 100)],
            )
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        assert plan.count("Aggregate") == 1  # one aggregation...
        assert plan.count("LogicalRDD") == 1  # ...over one scan, no union

    def test_unknown_kind_and_empty_list_raise(self, spark):
        from kusuma_metamorph_etl_spark.plans.quality import expectations

        with pytest.raises(ValueError):
            expectations(self._df(spark), [("bogus", "id")])
        with pytest.raises(ValueError):
            expectations(self._df(spark), [])

    def test_predicate_cross_field_check(self, spark):
        from kusuma_metamorph_etl_spark.plans.quality import expectations

        df = spark.createDataFrame(
            [(1, 5), (3, 2), (None, 1)], ["lo", "hi"]
        )
        out = {
            r["check"]: (r["observed"], r["passed"])
            for r in expectations(
                df, [("predicate", "hi_above_lo", "hi >= lo")]
            ).collect()
        }
        # (3,2) violates; (NULL,1) compares to NULL -> violation, not a pass
        assert out["predicate(hi_above_lo)"] == (2, False)


def test_volume_gate_null_history_and_no_early_count(spark):
    """Regression (r8 review): all-NULL history values made mu None and
    the z-score arithmetic raised TypeError; and the full df.count() ran
    even when short history passes the gate open (wasted scan)."""
    from kusuma_metamorph_etl_spark.plans.quality import volume_anomaly_gate

    df = spark.range(0, 100)
    null_hist = spark.createDataFrame(
        [(None,)] * 10, "n long"
    )
    # all-NULL history counts as ZERO usable runs: gate passes open
    assert volume_anomaly_gate(df, null_hist, count_col="n").count() == 100
    short = spark.createDataFrame([(100,), (101,)], "n long")
    assert volume_anomaly_gate(df, short, count_col="n").count() == 100


def test_profile_columns_handles_hostile_names(spark):
    """Regression (r8 review): raw names spliced into stack() broke on
    spaces/quotes with a ParseException."""
    from kusuma_metamorph_etl_spark.plans.quality import profile_columns

    df = spark.createDataFrame(
        [(1, "x"), (2, None)], ["order id", "weird'col"]
    )
    got = {
        r["column"]: (r["n_rows"], r["n_null"], r["n_distinct"])
        for r in profile_columns(df, ["order id", "weird'col"]).collect()
    }
    assert got["order id"] == (2, 0, 2)
    assert got["weird'col"] == (2, 1, 1)


def test_freshness_report_per_group_lag_and_stale(spark):
    from kusuma_metamorph_etl_spark.plans.quality import freshness_report

    df = spark.createDataFrame(
        [
            ("a", "2024-05-30 10:00:00"),
            ("a", "2024-05-20 09:00:00"),
            ("b", "2024-05-01 00:00:00"),
        ],
        "feed string, ts string",
    ).selectExpr("feed", "CAST(ts AS TIMESTAMP) AS ts")
    rows = {
        r.feed: r
        for r in freshness_report(
            df, "ts", ["feed"], as_of="2024-06-01", stale_after_days=7
        ).collect()
    }
    assert rows["a"].lag_days == 2 and rows["a"].stale is False
    assert rows["b"].lag_days == 31 and rows["b"].stale is True
    assert rows["a"].last_seen.isoformat().startswith("2024-05-30T10:00")


def test_reconcile_statuses_and_one_sided_groups(spark):
    """reconcile covers all five statuses: matching group -> ok, count
    drift -> row_mismatch, penny drift -> amount_mismatch, and groups
    present on one side only survive the FULL OUTER join as
    missing/extra_in_target with zero-filled counterparts."""
    from kusuma_metamorph_etl_spark.plans.quality import reconcile

    schema = "grp string, amount double"
    src = spark.createDataFrame(
        [("ok", 10.0), ("ok", 20.0),
         ("rowdrift", 1.0), ("rowdrift", 2.0),
         ("pennies", 5.0),
         ("gone", 9.0)],
        schema,
    )
    tgt = spark.createDataFrame(
        [("ok", 10.0), ("ok", 20.0),
         ("rowdrift", 1.0),
         ("pennies", 5.01),
         ("new", 7.0)],
        schema,
    )
    rows = {
        r.grp: r for r in reconcile(src, tgt, ["grp"], "amount").collect()
    }
    assert rows["ok"].status == "ok" and rows["ok"].rows_ok
    assert rows["rowdrift"].status == "row_mismatch"
    assert (rows["rowdrift"].src_rows, rows["rowdrift"].tgt_rows) == (2, 1)
    assert rows["pennies"].status == "amount_mismatch"
    assert rows["pennies"].rows_ok and not rows["pennies"].amount_ok
    assert rows["gone"].status == "missing_in_target"
    assert (rows["gone"].tgt_rows, rows["gone"].tgt_amount) == (0, 0.0)
    assert rows["new"].status == "extra_in_target"
    assert (rows["new"].src_rows, rows["new"].src_amount) == (0, 0.0)
    assert len(rows) == 5


def test_reconcile_amount_compare_is_decimal_exact(spark):
    """0.1+0.2 style double noise must NOT flag a group: sums compare in
    rounded DECIMAL, not raw doubles."""
    from kusuma_metamorph_etl_spark.plans.quality import reconcile

    schema = "grp string, amount double"
    src = spark.createDataFrame(
        [("g", 0.1), ("g", 0.2), ("g", 0.3)], schema
    )
    tgt = spark.createDataFrame(
        [("g", 0.3), ("g", 0.3)], schema
    )  # same rounded sum (0.60), different row count
    (row,) = reconcile(src, tgt, ["grp"], "amount").collect()
    assert row.amount_ok  # 0.6 == 0.6 in decimal, no float residue
    assert row.status == "row_mismatch"  # counts still differ


def test_reconcile_honors_scale_above_six(spark):
    """r11 ADVICE: scale > 6 used to be silently re-rounded to 6 dp by a
    trailing decimal(38,6) cast, so two amounts differing only in the
    8th decimal compared equal at scale=8."""
    from kusuma_metamorph_etl_spark.plans.quality import reconcile

    schema = "grp string, amount double"
    src = spark.createDataFrame([("g", 1.00000001)], schema)
    tgt = spark.createDataFrame([("g", 1.00000004)], schema)
    (row6,) = reconcile(src, tgt, ["grp"], "amount", scale=6).collect()
    assert row6.amount_ok  # both round to 1.000000 at scale 6
    (row8,) = reconcile(src, tgt, ["grp"], "amount", scale=8).collect()
    assert not row8.amount_ok  # the 1e-8 drift must survive scale=8
    assert row8.status == "amount_mismatch"


def test_gates_accept_dotted_column_names(spark):
    """Column names may keep dots (``normalize_name`` does) or hold a
    backtick: the check table, the duplicate gate and the orphan join
    quote each name as one identifier instead of resolving a struct
    field."""
    from kusuma_metamorph_etl_spark.plans.quality import (
        expectations,
        find_orphans,
        profile_columns,
    )

    df = spark.createDataFrame([(1, "x"), (1, None)], "`a.b` long, `c``d` string")
    assert null_policy(df, ["a.b"]) is df
    with pytest.raises(NullPolicyError):
        null_policy(df, ["c`d"])
    out = {
        (r["check"], r["column"]): r["observed"]
        for r in expectations(
            df, [("not_null", "a.b"), ("unique", "a.b"), ("not_null", "c`d")]
        ).collect()
    }
    assert out == {("not_null", "a.b"): 0, ("unique", "a.b"): 1, ("not_null", "c`d"): 1}
    with pytest.raises(DuplicateKeyError) as err:
        duplicate_gate(df, ["a.b"])
    assert err.value.samples == [{"a.b": 1, "duplicate_count": 2}]
    assert duplicate_gate(df, ["a.b", "c`d"]) is df
    dim = spark.createDataFrame([(2,)], "`k.id` long")
    assert find_orphans(df, dim, fk="a.b", pk="k.id").count() == 2
    assert [tuple(r) for r in profile_columns(df, ["a.b", "c`d"]).collect()] == [
        ("a.b", 2, 0, 1),
        ("c`d", 2, 1, 1),
    ]


def test_empty_key_or_column_list_rejected(spark):
    """An empty key list is a caller error, not one all-rows group; an
    empty profile is a ``ValueError``, not a bare assertion.  An empty
    NOT-NULL list stays a vacuous pass that runs no job."""
    from kusuma_metamorph_etl_spark.plans.quality import profile_columns

    df = spark.createDataFrame([(1,), (2,), (3,)], ["id"])
    with pytest.raises(ValueError, match="empty key list"):
        duplicate_gate(df, [])
    with pytest.raises(ValueError, match="empty column list"):
        profile_columns(df, [])
    assert _jobs_run(spark, lambda: null_policy(df, [])) == (df, 0)


def test_gate_outcomes(spark, caplog):
    """Every failing gate raises its ``GateError`` subclass carrying the
    ``Outcome``: the gate's name, ``passed=False``, what it observed and
    at most ``sample`` violating rows.  A pass is logged at INFO with its
    outcome, and the schema gates run no job either way."""
    import datetime as dt
    import logging
    import pickle

    from kusuma_metamorph_etl_spark.plans.quality import (
        GateError,
        Outcome,
        ReferentialIntegrityError,
        SchemaDriftError,
        VolumeAnomalyError,
        referential_gate,
        schema_drift_gate,
        volume_anomaly_gate,
    )

    df = spark.createDataFrame(
        [(1, None), (1, "a"), (2, None), (2, "b"), (3, None)], "id long, v string"
    )
    ts = spark.createDataFrame([(dt.datetime(2024, 6, 1, 11, 0),)], "ts timestamp")
    hist = spark.createDataFrame([(100,)] * 8, "n_rows long")
    dim = spark.createDataFrame([(9,)], "pk long")
    now = "2024-06-01 12:00:00"
    # gate -> (error, failing call, expected observed or None, sample rows)
    failing = {
        "duplicate_gate": (
            DuplicateKeyError, lambda: duplicate_gate(df, ["id"], sample=1),
            {"keys": ["id"]}, 1,
        ),
        "null_policy": (
            NullPolicyError, lambda: null_policy(df, ["id", "v"], sample=2),
            {"columns": ["id", "v"]}, 2,
        ),
        "referential_gate": (
            ReferentialIntegrityError,
            lambda: referential_gate(df, dim, fk="id", pk="pk", sample=3),
            {"fk": "id", "pk": "pk"}, 3,
        ),
        "row_count_gate": (
            RowCountError, lambda: row_count_gate(df, min_rows=1, max_rows=4),
            {"row_count_min(1):*": 5, "row_count_max(4):*": 5}, 0,
        ),
        "volume_anomaly_gate": (
            VolumeAnomalyError, lambda: volume_anomaly_gate(df, hist),
            {"row_count_min(100):*": 5, "row_count_max(100):*": 5}, 0,
        ),
        "freshness_gate": (
            FreshnessError, lambda: freshness_gate(ts, "ts", "30 minutes", now=now),
            None, 0,
        ),
        "assert_schema": (
            SchemaMismatchError, lambda: assert_schema(df, ["v", "id"]),
            {"expected": ["v", "id"], "actual": ["id", "v"]}, 0,
        ),
        "schema_drift_gate": (
            SchemaDriftError, lambda: schema_drift_gate(df, {"id": "bigint"}),
            {"missing": [], "type_changed": [], "added": ["v"], "admitted": []}, 0,
        ),
    }
    for gate, (error, run, observed, n_sample) in failing.items():
        with pytest.raises(error) as err:
            run()
        assert isinstance(err.value, GateError)
        outcome = err.value.outcome
        assert (outcome.gate, outcome.passed, len(outcome.sample)) == (
            gate, False, n_sample,
        ), gate
        if observed is not None:
            assert outcome.observed == observed, gate
        assert pickle.loads(pickle.dumps(err.value)).outcome == outcome, gate
    with pytest.raises(FreshnessError) as err:
        failing["freshness_gate"][1]()
    seen = err.value.outcome.observed
    assert seen["column"] == "ts" and seen["newest"] < seen["cutoff"]

    def caught(run):
        try:
            run()
        except GateError as exc:
            return exc

    # the schema gates read only df.schema, pass or fail
    for gate in ("assert_schema", "schema_drift_gate"):
        exc, jobs = _jobs_run(spark, lambda: caught(failing[gate][1]))
        assert (exc.outcome.gate, jobs) == (gate, 0)
    admitted = _jobs_run(spark, lambda: schema_drift_gate(df, {"id": "bigint"}, True))
    assert admitted == (df, 0)

    caplog.clear()
    with caplog.at_level(logging.INFO, logger="kusuma_metamorph_etl_spark.plans.quality"):
        assert duplicate_gate(df, ["id", "v"]) is df
    (record,) = caplog.records
    assert record.levelno == logging.INFO
    assert record.outcome == Outcome("duplicate_gate", True, {"keys": ["id", "v"]})
