"""SCD2 merge tests: change closes the old version and opens a new one,
absent keys stay open, new keys insert, re-running the same batch is a
no-op (idempotence), and nulls compare null-safely."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.operators.scd import OPEN_END, scd2_init, scd2_merge

KEY = ["id"]
ATTRS = ["city", "tier"]


def _by_version(df):
    return {
        (r["id"], str(r["valid_from"])): (
            r["city"],
            r["tier"],
            str(r["valid_to"]),
            r["is_current"],
        )
        for r in df.collect()
    }


@pytest.fixture(scope="module")
def dim(spark):
    snap = spark.createDataFrame(
        [(1, "London", "Gold"), (2, "NYC", "Silver"), (3, None, "Bronze")],
        "id long, city string, tier string",
    )
    return scd2_init(snap, "2024-01-01")


def test_init_all_current(dim):
    rows = dim.collect()
    assert all(r["is_current"] and str(r["valid_to"]) == OPEN_END for r in rows)


def test_merge_change_new_absent_and_null(spark, dim):
    updates = spark.createDataFrame(
        # id 1 changes city; id 3 unchanged (null city null-safe); id 4 new.
        [(1, "Paris", "Gold"), (3, None, "Bronze"), (4, "Tokyo", "Gold")],
        "id long, city string, tier string",
    )
    out = scd2_merge(dim, updates, KEY, ATTRS, "2024-02-01")
    v = _by_version(out)

    # id 1: old version closed at the effective date, new open version.
    assert v[(1, "2024-01-01")] == ("London", "Gold", "2024-02-01", False)
    assert v[(1, "2024-02-01")] == ("Paris", "Gold", OPEN_END, True)
    # id 2 absent from the batch: untouched, still open.
    assert v[(2, "2024-01-01")] == ("NYC", "Silver", OPEN_END, True)
    # id 3 present but identical (incl. null city): no new version.
    assert v[(3, "2024-01-01")] == (None, "Bronze", OPEN_END, True)
    assert (3, "2024-02-01") not in v
    # id 4: brand new key inserted open.
    assert v[(4, "2024-02-01")] == ("Tokyo", "Gold", OPEN_END, True)

    # Exactly one current row per key.
    per_key = (
        out.filter(F.col("is_current")).groupBy("id").count().collect()
    )
    assert all(r["count"] == 1 for r in per_key)


@pytest.mark.slow
def test_merge_idempotent(spark, dim):
    updates = spark.createDataFrame(
        [(1, "Paris", "Gold")], "id long, city string, tier string"
    )
    once = scd2_merge(dim, updates, KEY, ATTRS, "2024-02-01")
    twice = scd2_merge(once, updates, KEY, ATTRS, "2024-02-01")
    assert _by_version(twice) == _by_version(once)


class TestCdcApply:
    def _snap(self, spark):
        return spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k long, name string, bal double",
        )

    def test_latest_change_wins_and_ops_apply(self, spark):
        from kusuma_metamorph_etl_spark.operators.scd import cdc_apply

        changes = spark.createDataFrame(
            [
                (1, "a1", 11.0, 100, "U"),   # older update to k=1
                (1, "a2", 12.0, 200, "U"),   # newer update wins
                (2, "b", 20.0, 150, "D"),    # delete k=2
                (4, "d", 40.0, 120, "I"),    # insert new key
                (5, "e", 50.0, 110, "I"),    # insert then delete -> gone
                (5, "e", 50.0, 130, "D"),
            ],
            "k long, name string, bal double, seq long, op string",
        )
        out = cdc_apply(self._snap(spark), changes, key=["k"])
        got = {r["k"]: (r["name"], r["bal"]) for r in out.collect()}
        assert got == {1: ("a2", 12.0), 3: ("c", 30.0), 4: ("d", 40.0)}

    def test_missing_payload_column_raises(self, spark):
        import pytest

        from kusuma_metamorph_etl_spark.operators.scd import cdc_apply

        changes = spark.createDataFrame(
            [(1, 9.0, 1, "U")], "k long, bal double, seq long, op string"
        )
        with pytest.raises(ValueError, match="missing snapshot columns"):
            cdc_apply(self._snap(spark), changes, key=["k"])

    def test_rerun_is_idempotent(self, spark):
        """Applying the same compacted log twice lands on the same
        snapshot — the replay-safety CDC consumers rely on."""
        from kusuma_metamorph_etl_spark.operators.scd import cdc_apply

        changes = spark.createDataFrame(
            [(1, "a9", 99.0, 10, "U"), (2, "b", 0.0, 11, "D")],
            "k long, name string, bal double, seq long, op string",
        )
        once = cdc_apply(self._snap(spark), changes, key=["k"])
        twice = cdc_apply(once, changes, key=["k"])
        assert sorted(map(tuple, once.collect())) == sorted(
            map(tuple, twice.collect())
        )


def test_merge_rejects_duplicate_keys_and_empty_attrs(spark, dim):
    """Regression (r8 review): a duplicate key in one batch used to fan
    out through the full join into two conflicting is_current rows
    (permanent corruption); attrs=[] silently dropped every matched key
    from all branches."""
    import pytest

    dup = spark.createDataFrame(
        [(1, "Paris", "Gold"), (1, "Lyon", "Gold")],
        "id long, city string, tier string",
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        scd2_merge(dim, dup, KEY, ATTRS, "2024-02-01")
    # opt-out for pre-compacted pipelines still works
    ok = spark.createDataFrame(
        [(1, "Paris", "Gold")], "id long, city string, tier string"
    )
    out = scd2_merge(dim, ok, KEY, ATTRS, "2024-02-01", check_unique=False)
    assert out.filter("id = 1 AND is_current").count() == 1
    with pytest.raises(ValueError, match="attrs"):
        scd2_merge(dim, ok, KEY, [], "2024-02-01")
