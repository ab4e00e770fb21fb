"""Custom stateful streaming operators (``applyInPandasWithState``) —
SURVEY.md §2.10 [EXT]: first-occurrence dedup, sessionization and
burst-window dedup on an unbounded stream, each the streaming twin of a
batch operator the oracle checks.

Spark has ``dropDuplicates`` on streams, but its state never expires and
its within-batch winner is arbitrary; these operators keep deterministic
(ts, event_id) order and own their state shape explicitly — the pattern
any bespoke stateful operator follows.

Step contract.  :func:`_keyed_state_stream` owns what the three share:
the input projection, the optional watermark + ``EventTimeTimeout``, TTL
expiry and re-arming, and the one ``applyInPandasWithState`` call.  Each
operator supplies only its per-key ``step(rows, ts_ns, prev)``:

* ``rows`` — the key's rows of this micro-batch, concatenated and sorted
  by (ts, event_id), holding exactly the operator's input columns;
* ``ts_ns`` — their event times as int64 nanoseconds, unit-exact
  whatever resolution Arrow handed pandas;
* ``prev`` — the key's stored state values WITHOUT the deadline, or
  ``None`` for a key never seen or idle past its TTL;

and returns ``(out_rows, state_values)``: the rows to emit (possibly
empty) and the key's new state values.  The scaffold appends the TTL
deadline as the last state field.

State stays O(1) per key and Arrow moves the batches.  At 100 TB/day the
state store is RocksDB-backed and keys expire through the
watermark-driven ``GroupStateTimeout`` that ``state_ttl`` turns on.

Watermark contract (pinned by
``test_stateful_late_stragglers_still_reach_the_handler``): the watermark
Spark requires for ``EventTimeTimeout`` drives the TTL eviction clock
ONLY — unlike streaming aggregations, these operators do NOT pre-filter
late input rows, so a cross-batch out-of-order event still reaches the
step (verified on Spark 4.1: a row 1 h behind the watermark was
processed).  ``late_tolerance`` sets how far the watermark lags the max
observed event time; raising it delays TTL evictions correspondingly (a
key cannot time out until the lagged watermark passes its deadline) and
matters to any DOWNSTREAM watermark-sensitive operator (windowed
aggregation, stream-stream join), which WILL drop rows behind its
watermark.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    import numpy as np
    import pandas as pd

EVENT_COLS = ("user_id", "event_type", "event_id", "ts", "value")
OUTPUT_SCHEMA = (
    "user_id long, event_type string, event_id long, ts timestamp, value double"
)
STATE_SCHEMA = "emitted long, deadline long"
KEYS = ("user_id", "event_type")
SESSION_OUTPUT_SCHEMA = "user_id long, event_id long, ts timestamp, session_idx long"
SESSION_STATE_SCHEMA = "last_ns long, idx long, deadline long"
BURST_STATE_SCHEMA = "last_ns long, deadline long"


def _ttl_millis(state_ttl: str | None) -> int | None:
    """Parse '``<n>`` seconds|minutes|hours|days' into milliseconds.
    Malformed input raises a ValueError NAMING the accepted format
    rather than a bare KeyError or IndexError, which would be cryptic
    for a parameter whose siblings (watermark, late_tolerance) accept
    Spark interval strings.  A negative count is malformed too: it arms
    deadlines behind the watermark, and Spark fails the stream mid-run
    with INVALID_TIMEOUT_TIMESTAMP."""
    if state_ttl is None:
        return None
    unit_ms = {
        "second": 1_000, "seconds": 1_000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
        "day": 86_400_000, "days": 86_400_000,
    }
    parts = state_ttl.split()
    if len(parts) != 2 or not parts[0].isdigit() or parts[1] not in unit_ms:
        raise ValueError(
            f"state_ttl must be '<n> second(s)|minute(s)|hour(s)|day(s)',"
            f" got {state_ttl!r}"
        )
    return int(parts[0]) * unit_ms[parts[1]]


def _ttl_deadline_ms(
    state, chunk_max_ns: int | None, ttl_ms: int, stored_deadline_ms: int = 0
) -> int:
    """TTL eviction deadline:
    ``max(stored deadline, max(watermark, batch max event time) + ttl)``.

    Anchoring on the watermark ALONE is wrong: in the first micro-batch
    the watermark is still unset (epoch 0), so ``watermark + ttl`` arms a
    1970-based deadline and every key seen in batch 1 is evicted the
    moment the watermark first advances — sessions restart and dedup
    re-emits for keys that were never idle.  The batch's own max event
    time is the correct activity clock.

    The ``stored_deadline_ms`` term makes re-arming monotone: a batch
    carrying ONLY late stragglers anchors on ``max(watermark,
    batch_max)``, which can precede the previously stored
    activity-anchored deadline (by up to the watermark lag) — without
    the max a key could be expired sooner than its prior deadline
    promised.  Passing a deadline that already expired is harmless: the
    new anchor is at least the watermark, which exceeds an expired
    deadline, so the fresh term wins."""
    anchor = state.getCurrentWatermarkMs()
    if chunk_max_ns is not None:
        anchor = max(anchor, chunk_max_ns // 1_000_000)
    return max(stored_deadline_ms, anchor + ttl_ms)


def _expired(state, stored_deadline: int, ttl_ms: int | None) -> bool:
    """True when a key's armed TTL deadline already passed before this
    batch's data arrived.  Spark only delivers ``hasTimedOut`` to keys
    with NO data in the trigger, so a key that comes back after idling
    past its TTL reaches the data path with stale state; the handler
    must honor the expiry itself (pinned by
    ``test_stateful_dedup_ttl_forgets_idle_keys``) or dedup suppresses
    an event the contract says re-emits and sessions never restart."""
    return (
        ttl_ms is not None
        and stored_deadline > 0
        and state.getCurrentWatermarkMs() > stored_deadline
    )


def _keyed_state_stream(
    events: DataFrame,
    keys: tuple[str, ...],
    cols: tuple[str, ...],
    step: Callable[[pd.DataFrame, np.ndarray, list | None], tuple],
    out_schema: str,
    state_schema: str,
    mode: str,
    state_ttl: str | None,
    late_tolerance: str,
) -> DataFrame:
    """Group ``events`` by ``keys`` and run ``step`` on each key's rows
    per micro-batch under the module's TTL policy (step contract in the
    module docstring).  ``state_schema`` ends with the ``deadline`` field
    the scaffold owns: 0 without a TTL, else the armed eviction time."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_ms = _ttl_millis(state_ttl)

    def handle(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import pandas as pd

        if state.hasTimedOut:
            state.remove()  # key forgotten; its next event starts afresh
            return
        chunks = [p for p in pdfs if not p.empty]
        prev, stored_deadline = None, 0
        if state.exists:
            *prev, stored_deadline = state.get
        if not chunks:
            if ttl_ms is not None:
                state.setTimeoutTimestamp(
                    _ttl_deadline_ms(state, None, ttl_ms, stored_deadline)
                )
            return
        if _expired(state, stored_deadline, ttl_ms):
            prev = None  # idle past TTL → the key starts afresh
        rows = pd.concat(chunks).sort_values(["ts", "event_id"])
        ts_ns = rows["ts"].to_numpy(dtype="datetime64[ns]").astype("int64")
        deadline = 0
        if ttl_ms is not None:
            deadline = _ttl_deadline_ms(
                state, int(ts_ns.max()), ttl_ms, stored_deadline
            )
            state.setTimeoutTimestamp(deadline)
        out, values = step(rows, ts_ns, prev)
        state.update((*values, deadline))
        if not out.empty:
            yield out

    # applyInPandasWithState ships every input column to the handler
    # (Spark cannot see which columns the Python function reads), so
    # project first: the key shuffle and the Arrow boundary carry only
    # the step's columns, never the fat props payload (guide §4.1).
    src = events.select(*cols)
    timeout_conf = GroupStateTimeout.NoTimeout
    if ttl_ms is not None:
        src = src.withWatermark("ts", late_tolerance)
        timeout_conf = GroupStateTimeout.EventTimeTimeout
    return src.groupBy(*keys).applyInPandasWithState(
        handle, out_schema, state_schema, mode, timeout_conf
    )


def first_event_batch(events: DataFrame) -> DataFrame:
    """Batch twin: deterministic first event per (user_id, event_type),
    ordered by (ts, event_id).  This is the semantics the streaming
    operator must reproduce — and the DuckDB-checkable oracle for it."""
    window = Window.partitionBy(*KEYS).orderBy(F.asc("ts"), F.asc("event_id"))
    return (
        events.withColumn("__rn", F.row_number().over(window))
        .filter(F.col("__rn") == 1)
        .select(*EVENT_COLS)
    )


def first_event_stream(
    events: DataFrame,
    state_ttl: str | None = None,
    late_tolerance: str = "0 seconds",
) -> DataFrame:
    """Streaming first-occurrence dedup via ``applyInPandasWithState``.

    Each micro-batch a key emits its (ts, event_id)-minimal row only if
    its state says nothing was emitted before; the state is one flag.
    Output mode is ``update`` (one row per newly-seen key per batch).

    ``state_ttl`` (e.g. ``"1 hour"``) bounds the state store on unbounded
    keyspaces: the input gets a watermark, the operator runs with
    ``EventTimeTimeout``, and a key idle past the TTL is forgotten — a
    later event for it emits again.  Dedup-within-TTL is the honest
    contract at 100 TB/day; unbounded exact dedup means unbounded state.
    ``late_tolerance`` is the watermark lag (watermark contract in the
    module docstring).
    """

    def first_row(rows, ts_ns, prev):
        return rows.iloc[: 0 if prev else 1], (1,)  # emitted once per key

    return _keyed_state_stream(
        events, KEYS, EVENT_COLS, first_row, OUTPUT_SCHEMA, STATE_SCHEMA,
        "update", state_ttl, late_tolerance,
    )


def sessionize_stream(
    events: DataFrame,
    gap_seconds: int = 1800,
    state_ttl: str | None = None,
    late_tolerance: str = "0 seconds",
) -> DataFrame:
    """Streaming twin of ``operators/events.py::sessionize``: label every
    event on an UNBOUNDED stream with its per-user session index via
    ``applyInPandasWithState``.

    State per user: ``(last event-time ns, current session index)`` — two
    longs, O(1) per key.  Each micro-batch a user's rows continue the gap
    rule from state in (ts, event_id) order; output mode is ``append``
    (every event emitted exactly once, labeled).

    Semantics contract: identical to the batch twin when each user's
    events arrive in event-time order ACROSS micro-batches (within a
    batch, order is restored by the sort).  A disordered event still
    reaches the step — late rows are not pre-filtered (watermark
    contract in the module docstring) — and gets labeled in arrival
    order.  Idle users are forgotten past the TTL and restart at
    session 1.
    """
    gap_ns = gap_seconds * 1_000_000_000

    def gap_rule(rows, ts_ns, prev):
        last_ns, idx = prev or (None, 0)
        labels = []
        for t in ts_ns:
            if last_ns is None or t - last_ns > gap_ns:
                idx += 1
            labels.append(idx)
            last_ns = int(t)
        return rows.assign(session_idx=labels), (last_ns, idx)

    return _keyed_state_stream(
        events, ("user_id",), ("user_id", "event_id", "ts"), gap_rule,
        SESSION_OUTPUT_SCHEMA, SESSION_STATE_SCHEMA, "append", state_ttl,
        late_tolerance,
    )


def dedup_window_stream(
    events: DataFrame,
    window_seconds: int = 600,
    state_ttl: str | None = None,
    late_tolerance: str = "0 seconds",
) -> DataFrame:
    """Streaming twin of ``operators/events.py::dedup_within_window``:
    collapse CHAINED retry bursts — same (user_id, event_type) within
    ``window_seconds`` of the PREVIOUS event (emitted or suppressed) — to
    their first arrival, on an unbounded stream.

    State per key: one long (last seen event-time ns).  The chained rule
    makes state O(1): whether an event opens a new burst depends only on
    the previous event's timestamp, so the stream twin is exact whenever
    each key's events arrive in event-time order across micro-batches
    (within a batch the sort restores order) — the same disorder caveat,
    watermark contract and TTL policy as :func:`sessionize_stream`.
    """
    win_ns = window_seconds * 1_000_000_000

    def burst_keep(rows, ts_ns, prev):
        last_ns = prev[0] if prev else None
        keep = []
        for t in ts_ns:
            keep.append(last_ns is None or t - last_ns > win_ns)
            last_ns = int(t)
        return rows.loc[keep], (last_ns,)

    return _keyed_state_stream(
        events, KEYS, EVENT_COLS, burst_keep, OUTPUT_SCHEMA,
        BURST_STATE_SCHEMA, "append", state_ttl, late_tolerance,
    )
