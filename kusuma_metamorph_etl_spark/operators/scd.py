"""Slowly-changing-dimension type 2 merge (no Delta required).

The reference keeps history as daily full snapshots (``legacy.*`` +
``DAY_DT``, ``/root/reference/ETL-Airflow/dags/tasks/ingestion_task.py:
45-66``) — storage grows with table size × days even when nothing
changes.  SCD2 keeps one row per key *version* with an effective-date
range, growing only with actual change volume: the standard upgrade for a
dimension history layer.

Without a transactional table format, MERGE is emulated with pure
DataFrame ops (anti-join + union): one broadcast-able join against the
incoming batch per run.  Idempotence note: re-running the same batch for
the same ``effective_date`` is a no-op because unchanged rows are
detected by attribute comparison.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kusuma_metamorph_etl_spark.plans.share import share

OPEN_END = "9999-12-31"


def scd2_init(
    snapshot: DataFrame,
    effective_date: dt.date | str | None = None,
    *,
    effective_col: str | None = None,
) -> DataFrame:
    """Turn a first snapshot into an SCD2 table: every row current.

    ``effective_date`` stamps every row with one batch-level date;
    ``effective_col`` instead takes each row's own date from that column
    (consumed into ``valid_from`` and dropped).  Exactly one required.
    """
    if (effective_date is None) == (effective_col is None):
        raise ValueError("pass exactly one of effective_date / effective_col")
    val = (
        F.col(effective_col).cast("date")
        if effective_col
        else F.lit(str(effective_date)).cast("date")
    )
    out = (
        snapshot.withColumn("valid_from", val)
        .withColumn("valid_to", F.lit(OPEN_END).cast("date"))
        .withColumn("is_current", F.lit(True))
    )
    return out.drop(effective_col) if effective_col else out


def scd2_merge(
    dim: DataFrame,
    updates: DataFrame,
    key: list[str],
    attrs: list[str],
    effective_date: dt.date | str | None = None,
    *,
    effective_col: str | None = None,
    check_unique: bool = True,
) -> DataFrame:
    """Apply an update batch to an SCD2 dimension.

    * changed keys: the open row closes (``valid_to`` = effective date,
      ``is_current`` = false) and a new open version appends;
    * new keys: insert as open rows;
    * unchanged keys and closed history: pass through untouched.

    The effective date is either one batch-level ``effective_date`` or,
    with ``effective_col``, each update row's own date from that column —
    so a micro-batch mixing keys with different effective dates versions
    each key correctly (exactly one of the two must be passed).

    A key may appear AT MOST ONCE per batch: a duplicate would fan out
    through the full join and leave two conflicting ``is_current`` rows —
    permanent dimension corruption, compounding on every later merge.
    ``check_unique`` (default on) pays one aggregation over the update
    batch (small by nature — it broadcasts) to raise before that happens;
    pipelines that already compact per key (e.g. the streaming SCD2 sink,
    or a ``cdc_apply``-style max_by) pass ``check_unique=False``.

    Plan shape: history rows never shuffle (they only union); the change
    detection is one join of the CURRENT slice against the update batch —
    broadcast the updates when the batch is small (the usual case).
    """
    if (effective_date is None) == (effective_col is None):
        raise ValueError("pass exactly one of effective_date / effective_col")
    if not attrs:
        # attrs=[] would leave `changed` None below; every matched key's
        # NULL-conditioned row then drops from ALL branches — the key
        # silently vanishes from the dimension
        raise ValueError(
            "scd2_merge: attrs must name at least one compared column"
        )
    if check_unique:
        dup = (
            updates.groupBy(*key)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(3)
            .collect()
        )
        if dup:
            sample = [tuple(r[k] for k in key) for r in dup]
            raise ValueError(
                f"scd2_merge: update batch has duplicate keys {sample} — "
                "compact to one row per key first (latest-by-sequence "
                "max_by), or pass check_unique=False if already compacted"
            )
    eff = (
        F.col(f"u.{effective_col}").cast("date")
        if effective_col
        else F.lit(str(effective_date)).cast("date")
    )
    current = dim.filter(F.col("is_current")).withColumn("__c", F.lit(1))
    history = dim.filter(~F.col("is_current"))

    cmp = current.alias("c").join(
        updates.withColumn("__u", F.lit(1)).alias("u"), on=key, how="full"
    )
    # Presence markers — attribute values may legitimately be null, so
    # existence must not be inferred from them.
    exists_c = F.col("c.__c").isNotNull()
    exists_u = F.col("u.__u").isNotNull()
    changed = None
    for a in attrs:
        diff = ~F.col(f"c.{a}").eqNullSafe(F.col(f"u.{a}"))
        changed = diff if changed is None else (changed | diff)

    # Run the dimension x batch full join ONCE: the four output branches
    # each filtered `cmp` directly, so Catalyst re-ran the join (and both
    # input scans) per branch — the r18 before-plan held four copies of
    # the join subtree, 12 scans of the dimension table.  One flat
    # projection resolves the side-qualified attributes, presence
    # markers, change flag and effective date (eff may reference ``u.``,
    # so it must resolve here), then the diff is shared and the branches
    # become narrow filters.  eqNullSafe never yields NULL, so the change
    # flag is always boolean.
    flat = share(cmp.select(
        *[F.col(k) for k in key],
        *[F.col(f"c.{a}").alias(f"__ca_{a}") for a in attrs],
        *[F.col(f"u.{a}").alias(f"__ua_{a}") for a in attrs],
        F.col("c.valid_from").alias("__c_from"),
        exists_c.alias("__ec"),
        exists_u.alias("__eu"),
        changed.alias("__ch"),
        eff.alias("__eff"),
    ))

    u_cols = [*key, *[F.col(f"__ua_{a}").alias(a) for a in attrs]]
    c_cols = [*key, *[F.col(f"__ca_{a}").alias(a) for a in attrs]]
    c_from = F.col("__c_from").alias("valid_from")

    # A full-join row falls into exactly one case:
    case_changed = F.col("__ec") & F.col("__eu") & F.col("__ch")
    closed_now = (
        flat.filter(case_changed)
        .select(*c_cols, c_from, F.col("__eff").alias("valid_to"))
        .withColumn("is_current", F.lit(False))
    )
    new_open = (
        flat.filter(case_changed)
        .select(*u_cols, F.col("__eff").alias("valid_from"))
        .withColumn("valid_to", F.lit(OPEN_END).cast("date"))
        .withColumn("is_current", F.lit(True))
    )
    unchanged = (
        flat.filter(F.col("__ec") & (~F.col("__eu") | ~F.col("__ch")))
        .select(*c_cols, c_from)
        .withColumn("valid_to", F.lit(OPEN_END).cast("date"))
        .withColumn("is_current", F.lit(True))
    )
    inserted = (
        flat.filter(~F.col("__ec") & F.col("__eu"))
        .select(*u_cols, F.col("__eff").alias("valid_from"))
        .withColumn("valid_to", F.lit(OPEN_END).cast("date"))
        .withColumn("is_current", F.lit(True))
    )
    out_cols = [*key, *attrs, "valid_from", "valid_to", "is_current"]
    return (
        history.select(*out_cols)
        .unionByName(closed_now.select(*out_cols))
        .unionByName(unchanged.select(*out_cols))
        .unionByName(new_open.select(*out_cols))
        .unionByName(inserted.select(*out_cols))
    )


def cdc_apply(
    snapshot: DataFrame,
    changes: DataFrame,
    key: list[str],
    seq_col: str = "seq",
    op_col: str = "op",
) -> DataFrame:
    """Apply a CDC change log to a snapshot: the latest change per key
    wins (``seq_col`` orders changes — a log offset, LSN, or timestamp),
    ``op_col`` ∈ {'I', 'U', 'D'} inserts/updates (upsert) or deletes.
    Returns the post-log snapshot with the snapshot's columns.

    The standard lakehouse ingest pattern (Debezium/binlog replication
    without a transactional table format): compact the log, then one
    set-reconciliation against the snapshot.

    Plan shape for 100 TB: log compaction is ONE aggregation — per key,
    ``max_by(struct(payload, op), seq)`` — no window sort, map-side
    partial aggregation does the heavy lifting since change logs are
    key-skewed (hot rows change often, and partial aggs collapse them
    before the shuffle).  Then one anti-join (snapshot minus touched
    keys) and a union of surviving upserts.  Change volume is typically
    ≪ snapshot volume, so the anti-join broadcast-builds on the compacted
    key set.

    Ties on ``seq_col`` within a key are broken arbitrarily — feed a
    unique sequence (offset), not a low-resolution timestamp.
    """
    payload_cols = [c for c in snapshot.columns]
    missing = [c for c in payload_cols if c not in changes.columns]
    if missing:
        raise ValueError(f"changes missing snapshot columns: {missing}")
    latest = changes.groupBy(*key).agg(
        F.max_by(
            F.struct(*[F.col(c) for c in payload_cols if c not in key], F.col(op_col)),
            F.col(seq_col),
        ).alias("__last")
    )
    touched_keys = latest.select(*key)
    survivors = snapshot.join(touched_keys, on=key, how="left_anti")
    upserts = latest.filter(F.col(f"__last.{op_col}") != "D").select(
        *key,
        *[F.col(f"__last.{c}").alias(c) for c in payload_cols if c not in key],
    ).select(*payload_cols)
    return survivors.select(*payload_cols).unionByName(upserts)
