"""Data-quality gates and reports (`dq_duplicate_gate` + friends, SURVEY.md §2.9).

The reference's one runtime check is a fail-fast primary-key gate
(``transform_utils.py:79-92``) whose error loses the offending keys (bug
B5).  Every gate here follows one check contract, the declared-check,
one-aggregation-pass design of Deequ (Schelter et al., VLDB 2018):

* one table — :func:`_compile` defines each check kind once, and
  :func:`expectations` is the report over it;
* two shapes — aggregate checks run as one job through :func:`check`;
  set-level checks (duplicate groups, orphans, null rows) through
  ``_violations``, one job collecting at most ``sample`` violating rows;
* one outcome — every gate logs an :class:`Outcome` at INFO on this
  module's logger and returns its input untouched when it passed, or
  raises a :class:`GateError` subclass carrying it.  The schema gates
  run no job.
"""

from __future__ import annotations

import functools
import logging
import math
import operator
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_log = logging.getLogger(__name__)


@dataclass(frozen=True)
class Outcome:
    """One gate run: its ``observed`` values and up to ``sample`` bad rows."""

    gate: str
    passed: bool
    observed: dict
    sample: tuple = ()


class GateError(Exception):
    """A failed gate; ``outcome`` records what it saw."""

    def __init__(self, outcome: Outcome):
        super().__init__(outcome)  # args=(outcome,), so the error pickles
        self.outcome = outcome

    def __str__(self) -> str:
        o = self.outcome
        sample = f"; sample: {list(o.sample[:5])}" if o.sample else ""
        return f"{o.gate} failed: {o.observed}{sample}"


class DuplicateKeyError(GateError):
    """PK uniqueness violated; ``keys`` and ``samples`` view the outcome."""

    keys = property(lambda self: self.outcome.observed["keys"])
    samples = property(lambda self: list(self.outcome.sample))


class SchemaMismatchError(GateError):
    """Column names or their order differ from the declared contract."""


class NullPolicyError(GateError):
    """A NOT-NULL column holds nulls."""


class RowCountError(GateError):
    """The row count left its declared range."""


class FreshnessError(GateError):
    """The newest timestamp is older than the allowed age."""


class VolumeAnomalyError(GateError):
    """Today's row count is a statistical outlier versus history."""


class ReferentialIntegrityError(GateError):
    """Fact rows reference a key absent from the dimension."""


class SchemaDriftError(GateError):
    """Typed contract violation; the drift sets ``added`` / ``missing`` /
    ``type_changed`` let callers route (page vs auto-evolve) unparsed."""

    added = property(lambda self: set(self.outcome.observed["added"]))
    missing = property(lambda self: set(self.outcome.observed["missing"]))
    type_changed = property(lambda self: set(self.outcome.observed["type_changed"]))


def _col(name: str) -> Column:
    """``name`` quoted as one identifier: a dot is never a struct access."""
    return F.col("`" + name.replace("`", "``") + "`")


def _compile(chk: tuple) -> tuple:
    """One check (kinds listed on :func:`expectations`) → ``(label, column,
    observed_agg, passed, bad)``: ``passed`` maps the observed column to the
    pass condition; ``bad`` is a row-level kind's per-row violation
    predicate (its ``observed_agg`` is ``sum(bad)``), else ``None``."""
    kind, *args = chk
    if kind == "unique":
        (c,) = args
        observed = F.count(_col(c)) - F.countDistinct(_col(c))
        return kind, c, observed, lambda o: o == 0, None
    if kind in ("row_count_min", "row_count_max"):
        (n,) = args
        cmp = operator.ge if kind == "row_count_min" else operator.le
        return f"{kind}({n})", "*", F.count(F.lit(1)), lambda o: cmp(o, int(n)), None
    if kind == "predicate":
        name, sql = args
        label, c = f"predicate({name})", "*"
        bad = ~F.coalesce(F.expr(sql), F.lit(False))
    elif kind == "not_null":
        (c,) = args
        label, bad = kind, _col(c).isNull()
    elif kind == "between":
        c, lo, hi = args
        label, bad = f"between({lo},{hi})", (_col(c) < lo) | (_col(c) > hi)
    elif kind == "in_set":
        c, values = args
        label = "in_set(" + ",".join(map(str, values)) + ")"
        bad = ~_col(c).isin(*values) & _col(c).isNotNull()
    elif kind == "matches":
        c, regex = args
        label, bad = f"matches({regex})", ~_col(c).rlike(regex) & _col(c).isNotNull()
    else:
        raise ValueError(f"unknown expectation kind {kind!r}")
    return label, c, F.sum(bad.cast("long")), lambda o: o == 0, bad


def expectations(df: DataFrame, checks: list[tuple]) -> DataFrame:
    """Declarative expectations suite (Deequ / Great-Expectations shape)
    evaluated in ONE aggregation pass → long-form
    ``(check, column, observed, passed)`` rows.

    ``checks`` is a list of tuples:

    * ``("not_null", col)`` — observed = null count, pass when 0
    * ``("unique", col)`` — observed = rows − distinct (excess), pass 0
    * ``("between", col, lo, hi)`` — observed = out-of-range count
      (nulls don't count; pair with not_null), pass when 0
    * ``("in_set", col, values)`` — observed = non-null rows outside the
      set, pass when 0
    * ``("matches", col, regex)`` — observed = non-null rows NOT matching
      (Java regex, full-match not required), pass when 0
    * ``("predicate", label, sql)`` — CROSS-FIELD invariant: observed =
      rows where the SQL boolean expression is NOT satisfied (false OR
      null — a null comparison is a violation, not a free pass), pass
      when 0.  E.g. ``("predicate", "ship_after_order",
      "ship_date >= order_date")``.  The SQL is used as written.
    * ``("row_count_min", n)`` — observed = row count, pass when ≥ n
    * ``("row_count_max", n)`` — observed = row count, pass when ≤ n

    A REPORT: every check evaluates and nothing raises (:func:`check` is
    the gate over it).  All checks compile into one ``agg`` — one scan,
    one shuffle of partial aggregates — whose single wide row unpivots
    into one row per check.
    """
    if not checks:
        raise ValueError("expectations: empty check list")
    compiled = [_compile(chk) for chk in checks]
    wide = df.agg(*(c[2].alias(f"__c{i}") for i, c in enumerate(compiled)))
    rows = []
    for i, (label, column, _, passed, _) in enumerate(compiled):
        seen = F.coalesce(F.col(f"__c{i}"), F.lit(0)).cast("long")
        rows.append(F.struct(
            F.lit(label).alias("check"), F.lit(column).alias("column"),
            seen.alias("observed"), passed(seen).alias("passed"),
        ))
    return wide.select(F.inline(F.array(*rows)))


def check(df: DataFrame, checks: list[tuple], gate: str) -> Outcome:
    """Aggregate shape: ``checks`` (kinds of :func:`expectations`) in one job
    → an :class:`Outcome` that passes when every check does; ``observed``
    is keyed ``check:column``."""
    # bound: one row per check
    rows = expectations(df, checks).collect()
    observed = {f"{r['check']}:{r['column']}": r["observed"] for r in rows}
    return Outcome(gate, all(r["passed"] for r in rows), observed)


def _violations(gate: str, bad_frame: DataFrame, sample: int, **observed) -> Outcome:
    """Set-level shape: up to ``sample`` rows of ``bad_frame`` in one job (the
    limit stops the scan early) → an :class:`Outcome` that passes on none."""
    # bound: at most `sample` rows
    rows = bad_frame.limit(sample).collect()
    return Outcome(gate, not rows, observed, tuple(r.asDict() for r in rows))


def _enforce(outcome: Outcome, error: type[GateError], df: DataFrame) -> DataFrame:
    """Log ``outcome`` at INFO (as ``record.outcome``); raise or return ``df``."""
    _log.info("%s", outcome, extra={"outcome": outcome})
    if not outcome.passed:
        raise error(outcome)
    return df


def find_duplicates(df: DataFrame, keys: list[str]) -> DataFrame:
    """Groups violating PK uniqueness, with their multiplicities.

    Scale note: a straight per-key ``groupBy(pk)`` count — partial (map-side)
    aggregation makes this one shuffle of already-collapsed groups.
    """
    if not keys:
        raise ValueError("find_duplicates: empty key list")
    return (
        df.groupBy(*map(_col, keys))
        .agg(F.count(F.lit(1)).alias("duplicate_count"))
        .filter(F.col("duplicate_count") > 1)
    )


def duplicate_gate(df: DataFrame, keys: list[str], sample: int = 20) -> DataFrame:
    """Raise :class:`DuplicateKeyError` if ``keys`` are not unique in ``df``.

    Returns ``df`` unchanged so it composes as a pipeline stage.
    """
    dups = find_duplicates(df, keys)
    outcome = _violations("duplicate_gate", dups, sample, keys=list(keys))
    return _enforce(outcome, DuplicateKeyError, df)


def assert_schema(df: DataFrame, expected_columns: list[str]) -> DataFrame:
    """Fail fast when the frame's columns deviate from the declared contract
    (the reference's implicit contract is its rename-normalize step;
    SURVEY.md §1)."""
    seen = {"expected": list(expected_columns), "actual": list(df.columns)}
    outcome = Outcome("assert_schema", seen["expected"] == seen["actual"], seen)
    return _enforce(outcome, SchemaMismatchError, df)


def row_count_gate(
    df: DataFrame, min_rows: int = 1, max_rows: int | None = None
) -> DataFrame:
    """Fail when the frame's row count leaves [min_rows, max_rows] — the
    empty-feed / exploding-feed tripwire a daily pipeline needs before
    overwriting its raw layer.

    Scale note: when only the lower bound matters, ``limit(min_rows)``
    caps the scan instead of counting everything.
    """
    checks = [("row_count_min", min_rows)]
    if max_rows is not None:
        checks.append(("row_count_max", max_rows))
    scanned = df.limit(min_rows) if max_rows is None else df
    return _enforce(check(scanned, checks, "row_count_gate"), RowCountError, df)


def freshness_gate(
    df: DataFrame,
    ts_col: str,
    max_age: str,
    now: str | None = None,
) -> DataFrame:
    """Fail when the newest ``ts_col`` value (a timestamp or a date) is
    older than ``max_age`` (e.g. ``"2 hours"``) relative to ``now``
    (injectable for tests; wall clock otherwise) — the stalled-upstream
    tripwire.  An empty frame is stale.
    """
    now_expr = F.current_timestamp() if now is None else F.lit(now).cast("timestamp")
    cutoff = now_expr - F.expr(f"INTERVAL {max_age}")
    newest = F.max(_col(ts_col))
    fresh = F.coalesce(newest.cast("timestamp") >= cutoff, F.lit(False)).alias("fresh")
    agg = df.select(newest.alias("newest"), cutoff.alias("cutoff"), fresh)
    # bound: one aggregate row
    row = agg.first().asDict()
    outcome = Outcome("freshness_gate", row.pop("fresh"), {"column": ts_col, **row})
    return _enforce(outcome, FreshnessError, df)


def null_policy(df: DataFrame, not_null: list[str], sample: int = 20) -> DataFrame:
    """Raise :class:`NullPolicyError` if any NOT-NULL mart column holds
    nulls (test-strategy property 4, SURVEY.md §5); an empty column list
    passes without a job."""
    bad = (_compile(("not_null", c))[4] for c in not_null)
    offenders = df.filter(functools.reduce(operator.or_, bad, F.lit(False)))
    outcome = _violations("null_policy", offenders, sample, columns=list(not_null))
    return _enforce(outcome, NullPolicyError, df)


def volume_anomaly_gate(
    df: DataFrame,
    history_counts: DataFrame,
    z: float = 3.0,
    count_col: str = "n_rows",
    min_history: int = 7,
) -> DataFrame:
    """Fail when the frame's row count sits more than ``z`` standard
    deviations from the mean of ``history_counts`` (a tiny per-run count
    table the pipeline appends to — e.g. one row per DAY_DT).

    The gate the static ``row_count_gate`` bounds cannot give: a feed
    that doubles or halves is anomalous RELATIVE to its own history even
    when inside absolute limits.  With fewer than ``min_history`` runs
    (at least 1) the gate passes open (a 2-run stddev trips on noise); a
    zero-variance history accepts only an exact repeat.

    Cost: one 3-value aggregate over the (tiny) history table, then one
    :func:`check` of ``mu ± z·sigma`` over ``df`` — no wide operation.
    """
    if min_history < 1:
        raise ValueError(f"min_history must be >= 1, got {min_history}")
    h = _col(count_col)  # one run's row count per history row
    # k counts NON-NULL history values: all-NULL rows would leave mu/sigma
    # None below while k counted them, and df must not be counted before
    # the pass-open check (a wasted full scan when history is too short).
    aggs = F.count(h).alias("k"), F.avg(h).alias("mu"), F.stddev_pop(h).alias("sigma")
    # bound: one row of three history aggregates
    stats = history_counts.agg(*aggs).first()
    if stats["k"] < min_history:  # too short a history to judge: pass open
        outcome = Outcome("volume_anomaly_gate", True, {"history_runs": stats["k"]})
        return _enforce(outcome, VolumeAnomalyError, df)
    lo, hi = stats["mu"] - z * stats["sigma"], stats["mu"] + z * stats["sigma"]
    bounds = [("row_count_min", math.ceil(lo)), ("row_count_max", math.floor(hi))]
    return _enforce(check(df, bounds, "volume_anomaly_gate"), VolumeAnomalyError, df)


def find_orphans(
    fact: DataFrame, dim: DataFrame, fk: str, pk: str | None = None
) -> DataFrame:
    """Fact rows whose foreign key has no match in the dimension (null FKs
    are not orphans — null means 'no reference', not 'bad reference').

    Plan: left_anti against the DISTINCT key projection of the dim — the
    anti-join shuffles keys, never dim payload, and broadcasts when the
    key set is small."""
    keys = dim.select(_col(pk or fk).alias(fk)).distinct()
    return fact.filter(_col(fk).isNotNull()).join(keys, on=fk, how="left_anti")


def referential_gate(
    fact: DataFrame,
    dim: DataFrame,
    fk: str,
    pk: str | None = None,
    sample: int = 20,
) -> DataFrame:
    """Raise :class:`ReferentialIntegrityError` when fact rows reference a
    key absent from the dimension — the FK companion of the reference's
    PK `duplicate_gate` (`transform_utils.py:79-92`); pass-through when
    clean."""
    orphans = find_orphans(fact, dim, fk, pk)
    outcome = _violations("referential_gate", orphans, sample, fk=fk, pk=pk or fk)
    return _enforce(outcome, ReferentialIntegrityError, fact)


def schema_drift_gate(
    df: DataFrame,
    contract: dict[str, str],
    allow_added: bool = False,
) -> DataFrame:
    """Gate a batch against a (column → Spark simpleString type) contract.

    Drift is categorized: ``missing`` (contract column absent) and
    ``type_changed`` (same name, different type) always raise — silently
    NULL-filling a missing metric or narrowing a type corrupts downstream
    marts.  ``added`` columns raise only when ``allow_added`` is False;
    with ``allow_added=True`` additive evolution flows through (the
    ``src_schema_evolution`` read path handles it) and the logged outcome
    names the columns it let in under ``admitted``.  Column ORDER is
    deliberately not part of the contract (select-normalization owns
    order; `assert_schema` is the strict-order variant).

    Pure metadata check — no jobs run, no data is read.
    """
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    added = sorted(set(actual) - set(contract))
    changed = {c: t for c, t in contract.items() if actual.get(c, t) != t}
    observed = {
        "missing": sorted(set(contract) - set(actual)),
        "type_changed": sorted(f"{c}:{t}->{actual[c]}" for c, t in changed.items()),
        "added": [] if allow_added else added,
        "admitted": added if allow_added else [],
    }
    passed = not (observed["missing"] or observed["type_changed"] or observed["added"])
    outcome = Outcome("schema_drift_gate", passed, observed)
    return _enforce(outcome, SchemaDriftError, df)


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """One-pass column profile → long-form ``(column, n_rows, n_null,
    n_distinct)`` — the data-profiling summary quality dashboards ingest
    (null creep and cardinality collapse are the two classic silent
    schema-rot signals; feed these into `volume_anomaly_gate`-style
    history checks to alarm on drift).

    ONE aggregation computes every column's stats (3·k aggregates, one
    shuffle of partial aggregates); the single wide row then unpivots via
    ``stack`` — no per-column jobs, no extra scans.
    """
    if not cols:
        raise ValueError("profile_columns: empty column list")
    # POSITIONAL aliases (__rows_0, …), never name-derived ones, and the
    # name enters the stack only as a literal value: spliced into SQL text
    # it would break on any non-identifier character (space, hyphen, quote).
    aggs, fields = [], [F.lit(len(cols))]
    for i, c in enumerate(cols):
        aggs += [
            F.count(F.lit(1)).alias(f"__rows_{i}"),
            _compile(("not_null", c))[2].alias(f"__null_{i}"),
            F.countDistinct(_col(c)).alias(f"__dist_{i}"),
        ]
        fields += [F.lit(c)] + [F.col(f"__{m}_{i}") for m in ("rows", "null", "dist")]
    profile = F.stack(*fields).alias("column", "n_rows", "n_null", "n_distinct")
    return df.agg(*aggs).select(profile)


def freshness_report(
    df: DataFrame,
    ts_col: str,
    group_cols: list[str],
    as_of: str,
    stale_after_days: int = 7,
) -> DataFrame:
    """Per-group freshness readout — the reporting complement of
    :func:`freshness_gate`'s single global tripwire: ``(group…,
    last_seen, lag_days, stale)`` with ``lag_days`` measured from
    ``as_of`` (injectable snapshot date, same determinism contract as
    the ``RUN_DATE`` queries).  One groupBy, group-cardinality output —
    the feed-health dashboard for a multi-source ingest, where one dead
    upstream hides inside a globally-fresh max(ts)."""
    lag = F.datediff(
        F.lit(as_of).cast("date"), F.to_date(F.max(F.col(ts_col)))
    ).cast("long")
    return df.groupBy(*group_cols).agg(
        F.max(F.col(ts_col)).alias("last_seen"),
        lag.alias("lag_days"),
        (lag > stale_after_days).alias("stale"),
    )


def reconcile(
    source: DataFrame,
    target: DataFrame,
    keys: list[str],
    amount_col: str,
    scale: int = 2,
) -> DataFrame:
    """Source→target load reconciliation: per key-group row counts and
    exact-decimal amount sums compared across the two frames — the
    classic post-load audit every warehouse run ends with (row drift
    from a dropped partition, amount drift from a bad cast or double
    rounding).

    Output grain is the key group: ``(keys…, src_rows, tgt_rows,
    src_amount, tgt_amount, rows_ok, amount_ok, status)`` with status
    ``ok`` / ``row_mismatch`` / ``amount_mismatch`` /
    ``missing_in_target`` / ``extra_in_target``.  Groups present on one
    side only survive via the FULL OUTER join with zero-filled
    counterparts.

    Determinism: amounts sum in DECIMAL(38,6) (exact, combine-order
    independent) and compare after rounding to ``scale`` — never raw
    doubles (SCALE.md "expression-level pitfalls").

    Scale shape: two grouped aggregates with map-side partials (each
    side scans once, shuffles only group-grain rows) + one equi-join on
    the group key — group-grain cost however wide the fact is; never a
    row-level join.  At 100 TB run it per load partition (day) so the
    join stays tiny.
    """
    # one consistent decimal type end-to-end: rounding to scale > 6 and
    # then casting to decimal(38,6) would silently re-round to 6 dp,
    # breaking the compare-after-rounding-to-scale contract
    dec = f"decimal(38,{max(scale, 6)})"

    def grouped(df: DataFrame, side: str) -> DataFrame:
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias(f"{side}_rows"),
            F.round(F.sum(F.col(amount_col).cast(dec)), scale)
            .cast(dec)
            .alias(f"{side}_amount"),
        )

    src, tgt = grouped(source, "src"), grouped(target, "tgt")
    j = src.join(tgt, on=keys, how="full_outer")
    src_rows = F.coalesce(F.col("src_rows"), F.lit(0))
    tgt_rows = F.coalesce(F.col("tgt_rows"), F.lit(0))
    src_amt = F.coalesce(F.col("src_amount"), F.lit(0).cast(dec))
    tgt_amt = F.coalesce(F.col("tgt_amount"), F.lit(0).cast(dec))
    rows_ok = src_rows == tgt_rows
    amount_ok = src_amt == tgt_amt
    status = (
        F.when(F.col("tgt_rows").isNull(), F.lit("missing_in_target"))
        .when(F.col("src_rows").isNull(), F.lit("extra_in_target"))
        .when(~rows_ok, F.lit("row_mismatch"))
        .when(~amount_ok, F.lit("amount_mismatch"))
        .otherwise(F.lit("ok"))
    )
    return j.select(
        *keys,
        src_rows.alias("src_rows"),
        tgt_rows.alias("tgt_rows"),
        src_amt.cast("double").alias("src_amount"),
        tgt_amt.cast("double").alias("tgt_amount"),
        rows_ok.alias("rows_ok"),
        amount_ok.alias("amount_ok"),
        status.alias("status"),
    )
