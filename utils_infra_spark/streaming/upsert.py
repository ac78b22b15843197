"""Keyed-upsert state (SURVEY.md §2.10 T1–T3).

The reference's vessel cache (ais-proxy/server.js:365-619) is a
keyed mutable table: each message partially updates its key's row —
position messages carry kinematics, static messages carry identity
fields — with last-writer-wins per FIELD, newer-event-time-wins, and
a TTL.

Engine shape:
- **batch replay** (``keyed_upsert_batch``): last non-null value per
  field ordered by event time — one window pass, DuckDB-checkable.
- **streaming** (``keyed_upsert_stream``), two operators chosen by
  ``ttl_ms``:

  - without a TTL, a plain streaming aggregation: per field,
    ``max(struct(ts[, tiebreak], value))`` over non-null values, kept
    in the state store by StateStoreRestore/StateStoreSave. ``max`` is
    associative and commutative, so newest-non-null-wins holds for
    any micro-batch split and arrival order, and no Python worker
    runs;
  - with a TTL, ``applyInPandasWithState`` folding rows through
    :func:`merge_group` with a processing-time timeout — Spark's
    built-in aggregations have no processing-time eviction. State
    holds each field's value plus its (ts[, tiebreak]) guard, typed
    like the input columns.

  Each form is the only implementation of its job.

  The CORRECTNESS CONTRACT is batch/stream parity: replaying any
  prefix of the stream through the batch form must equal the
  streaming state (tested in tests/test_streaming.py and
  tests/test_streaming_e2e.py) — this is how a non-SQL-expressible op
  gets verified (SURVEY §7 hard part #1).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructField, StructType


def keyed_upsert_batch(
    df: DataFrame, key: str, ts: str, value_cols: list[str], *, tiebreak: str | None = None
) -> DataFrame:
    """Batch replay of the keyed upsert: per key, latest non-null
    value per field in event-time order.

    ``tiebreak`` (e.g. a message sequence number) extends the
    ordering to (ts, tiebreak) so equal event times resolve the same
    way in the batch window and the streaming merge — without it,
    order among tied timestamps is engine-arbitrary and batch/stream
    parity only holds on streams with strictly increasing ts per
    field. The tiebreak must make the ordering total per key."""
    order = [F.col(ts).asc()] + ([F.col(tiebreak).asc()] if tiebreak else [])
    w = (
        Window.partitionBy(key)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    cols = [F.col(key)] + [F.last(c, ignorenulls=True).over(w).alias(c) for c in value_cols]
    cols.append(F.max(F.col(ts)).over(w).alias(ts))
    return df.select(*cols).dropDuplicates([key])


def merge_group(
    rows: pd.DataFrame,
    state_row: pd.Series | None,
    ts: str,
    value_cols: list[str],
    tiebreak: str | None = None,
) -> pd.Series:
    """Pure merge function: fold a batch of rows (ANY order, across
    ANY micro-batch split) into the state row.

    Per field, the value with the greatest event time among non-null
    observations wins — the state tracks a per-field timestamp
    (``__ts_<col>``) so an old event arriving in a LATER micro-batch
    cannot clobber newer state (reference J2 semantics,
    ais-proxy/server.js:1497-1507). This is what makes stream output
    equal the batch window replay regardless of batch boundaries.
    With ``tiebreak`` the guard compares (ts, tiebreak) pairs — state
    additionally tracks ``__tb_<col>`` — so ties resolve identically
    to the batch window's extended ordering. Kept pure so unit tests
    can fuzz it against the window form.
    """
    sort_cols = [ts] + ([tiebreak] if tiebreak else [])
    rows = rows.sort_values(sort_cols, kind="stable")
    merged = {} if state_row is None else dict(state_row)

    def wins(r, c) -> bool:
        field_ts = merged.get(f"__ts_{c}")
        if field_ts is None or pd.isna(field_ts):
            return True
        if r[ts] != field_ts:
            return r[ts] > field_ts
        if tiebreak is None:
            return True  # >= semantics: later-processed wins on ties
        field_tb = merged.get(f"__tb_{c}")
        return field_tb is None or pd.isna(field_tb) or r[tiebreak] >= field_tb

    for _, r in rows.iterrows():
        for c in value_cols:
            v = r[c]
            if pd.notna(v) and wins(r, c):
                merged[c] = v
                merged[f"__ts_{c}"] = r[ts]
                if tiebreak is not None:
                    merged[f"__tb_{c}"] = r[tiebreak]
        if ts not in merged or pd.isna(merged.get(ts)) or r[ts] > merged[ts]:
            merged[ts] = r[ts]
    return pd.Series(merged)


def keyed_upsert_stream(
    df: DataFrame,
    key: str,
    ts: str,
    value_cols: list[str],
    *,
    output_schema: StructType | str,
    state_schema: StructType | str,
    ttl_ms: int | None = None,
    tiebreak: str | None = None,
):
    """Streaming keyed upsert: one state row per key, per-field
    newest-non-null merge. Use on a streaming DataFrame in ``update``
    output mode; returns the updated-state stream (``output_schema``:
    key, ts and the value columns).

    The operator depends on ``ttl_ms``:

    - ``ttl_ms=None``: a streaming aggregation (StateStoreSave in the
      query progress), no Python stage. Per field the winner is the
      greatest ``(ts[, tiebreak], value)`` among non-null values, so
      value columns must be orderable types (not maps).
      ``state_schema`` is unused.
    - ``ttl_ms`` set: ``applyInPandasWithState`` with a
      processing-time timeout (T2 — the reference's 6 h vessel
      retention). ``state_schema`` lists ts + value columns; the
      per-field guard columns ``__ts_<col>`` (and ``__tb_<col>`` when
      ``tiebreak`` is set) are appended automatically, typed like
      ``ts`` and ``tiebreak`` in ``df``.

    Ties: pass the same ``tiebreak`` to ``keyed_upsert_batch`` and
    both forms resolve equal event times the same way. Without it,
    equal event times resolve to the greatest value on the no-TTL
    form and to the later-processed row on the TTL form — the batch
    window's order among ties is engine-arbitrary either way.

    The two forms keep different state, so a checkpoint from one
    cannot be restored by the other — nor one written by the earlier
    no-TTL ``applyInPandasWithState`` operator.
    """
    if ttl_ms is None:
        order = [F.col(ts)] + ([F.col(tiebreak)] if tiebreak else [])
        newest = [
            F.max(F.when(F.col(c).isNotNull(), F.struct(*order, F.col(c).alias("__v"))))["__v"].alias(c)
            for c in value_cols
        ]
        agg = df.groupBy(key).agg(F.max(ts).alias(ts), *newest)
        if isinstance(output_schema, str):
            output_schema = StructType.fromDDL(output_schema)
        return agg.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in output_schema.fields])

    # per-field newest-wins guards, typed like the columns they copy:
    # a guard declared with any other type would coerce the stored
    # tiebreak on the way into state and corrupt later comparisons
    guards = [StructField(f"__ts_{c}", df.schema[ts].dataType) for c in value_cols]
    if tiebreak is not None:
        guards += [StructField(f"__tb_{c}", df.schema[tiebreak].dataType) for c in value_cols]
    if isinstance(state_schema, str):
        state_schema = StructType.fromDDL(state_schema)
    state_schema = StructType(state_schema.fields + guards)
    state_fields = state_schema.fieldNames()

    def fn(key_tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        prior = pd.Series(dict(zip(state_fields, state.get))) if state.exists else None
        merged = prior
        for pdf in pdfs:
            if len(pdf):
                merged = merge_group(pdf, merged, ts, value_cols, tiebreak)
        if merged is not None:
            state.update(tuple(merged.get(f) for f in state_fields))
            state.setTimeoutDuration(ttl_ms)
            out = {k_col: [k_val] for k_col, k_val in zip([key], key_tuple)}
            out[ts] = [merged.get(ts)]
            for c in value_cols:
                out[c] = [merged.get(c)]
            yield pd.DataFrame(out)

    return df.groupBy(key).applyInPandasWithState(
        fn, outputStructType=output_schema, stateStructType=state_schema, outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def sampled_side_effect(
    batch_df: DataFrame,
    batch_id: int,
    *,
    p: float,
    effect,
    seed: int = 7,
) -> int:
    """T7: probabilistically-gated side effect for ``foreachBatch``
    (ref ais-proxy/server.js:613 — ~1% of messages trigger a state
    snapshot).

    Spark shape: the gate is a SEEDED ``rand(seed) < p`` filter so
    replays of the same micro-batch sample the same rows (a bare
    ``Math.random()`` port would break exactly-once semantics on
    batch retry); ``effect`` receives only the sampled frame. Returns
    the sampled row count. Wire it as::

        stream.writeStream.foreachBatch(
            lambda df, bid: sampled_side_effect(df, bid, p=0.01, effect=fn)
        )
    """
    # localCheckpoint the (tiny) sample so the count action and the
    # effect's own action(s) scan the micro-batch source ONCE, not
    # once each — this is the streaming hot path, every trigger; the
    # checkpoint blocks are freed by id when the trigger is done
    from ..sources.tables import checkpoint_with_ids, unpersist_rdd_ids

    spark = batch_df.sparkSession
    # checkpoint_with_ids attributes the checkpoint's persistent RDD
    # directly off the returned plan, so concurrent streaming queries
    # (or any concurrent persist) need no coordination — the earlier
    # global-set diff could capture ANOTHER query's freshly-persisted
    # checkpoint RDD in its window, and the finally-block below would
    # then have unpersisted blocks that query still needed
    # (unrecoverable, since localCheckpoint truncates lineage).
    sampled, new_ids = checkpoint_with_ids(
        batch_df.where(F.rand(seed + batch_id) < p), eager=True
    )
    try:
        n = sampled.count()
        if n:
            effect(sampled, batch_id)
    finally:
        unpersist_rdd_ids(spark, new_ids)
    return n
