"""Join operators (SURVEY.md §2.4, J1–J10).

Every join in the reference is a hash-map lookup against a small
dimension — the Spark shape is a broadcast hash join (no shuffle of
the fact side). ``enrich_coalesce`` / ``latest_wins`` are the two
composite patterns the reference hand-codes; here they're pure
Column expressions so they survive any scale.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def broadcast_lookup(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """J4 (ref regions.js:23-25 etc.): dim lookup as an explicit
    broadcast join — the fact side never shuffles."""
    return fact.join(F.broadcast(dim), on=on, how=how)


# Job tag of literal_lookup_maps' collect, the one build-time job that
# queries/__init__.py::Query.plan does not count against re-serving.
FOLD_TAG = "utils_infra_spark.literal_fold"


def literal_lookup_maps(
    dim: DataFrame, key: str, value_cols: list[str], *, max_rows: int = 100
) -> dict[str, Column] | None:
    """J4 micro-dim twin (the reference's in-code static mapping
    tables, SURVEY §1.1): collect a ≤``max_rows`` dimension ONCE at
    plan-build time and bake it into the plan as ``create_map``
    literals. Lookup via ``maps[col][fact_key]`` carries LEFT-join
    semantics exactly (missing or null key → NULL) with ZERO join in
    the plan — no broadcast build, no exchange, no join operator; the
    enrichment is a pure whole-stage-codegen projection over the fact
    scan. Below ~100 rows even a broadcast hash join is pure fixed
    overhead per execution (build + exchange setup measured ~0.1 s on
    a 25-row dim), while a 25-entry literal map probe is nanoseconds
    per row at any scale — and the fact side still gets full
    pushdown/pruning since the plan is scan+project.

    Returns None when the dim exceeds ``max_rows`` — callers fall
    back to :func:`broadcast_lookup` (the collect saw at most
    ``max_rows``+1 rows, so the guard never pulls a big dim to the
    driver).

    The collect runs under ``FOLD_TAG``, so the query registry still
    re-serves a plan that folds a ≤``max_rows`` dim into literals.
    """
    sc = dim.sparkSession.sparkContext
    sc.addJobTag(FOLD_TAG)
    try:
        rows = dim.select(key, *dict.fromkeys(value_cols)).limit(max_rows + 1).collect()
    finally:
        sc.removeJobTag(FOLD_TAG)
    if len(rows) > max_rows:
        return None
    # a NULL key never equi-matches in a join either
    rows = [r for r in rows if r[key] is not None]
    if not rows:
        # an argument-less create_map() types as map<void,void> and any
        # probe against it fails analysis — serve the join path instead,
        # which returns the correct empty/all-NULL result
        return None
    if len({r[key] for r in rows}) != len(rows):
        # duplicate keys: create_map raises DUPLICATED_MAP_KEY at
        # runtime under the default dedup policy, and a single-valued
        # map could not reproduce the join's multi-row output anyway
        return None
    vtypes = dict(dim.select(*dict.fromkeys(value_cols)).dtypes)
    maps: dict[str, Column] = {}
    for vc in value_cols:
        entries: list[Column] = []
        for r in rows:
            v = r[vc]
            entries.append(F.lit(r[key]))
            entries.append(F.lit(v) if v is not None else F.lit(None).cast(vtypes[vc]))
        maps[vc] = F.create_map(*entries)
    return maps


def enrich_coalesce(
    base: DataFrame,
    enrich: DataFrame,
    key: str,
    fill_cols: dict[str, str],
    *,
    zero_is_missing: tuple[str, ...] = (),
    provenance: str | None = None,
    provenance_values: tuple[str, str] = ("enriched", "base"),
    provenance_for: str | None = None,
) -> DataFrame:
    """J1 (ref ais-proxy/server.js:594-610): left-join an enrichment
    dim and fill each field only where the base value is missing
    (NULL, or 0 for columns listed in ``zero_is_missing`` — the
    reference's explicit null-vs-0 guard at server.js:601,608).

    fill_cols maps base column -> enrichment column. Optionally emits
    a provenance column recording which side won the fill: by default
    'enriched' if ANY fill column took the enrichment value;
    ``provenance_for`` narrows it to one named fill column (e.g. a
    ``name_source`` column that tracks only the name field).
    """
    e = F.broadcast(enrich.select(key, *dict.fromkeys(fill_cols.values())))
    e = e.select([F.col(key)] + [F.col(c).alias(f"__e_{c}") for c in e.columns if c != key])
    joined = base.join(e, on=key, how="left")
    out_cols: list[Column] = []
    fill_conds: dict[str, Column] = {}
    for c in base.columns:
        if c in fill_cols:
            base_val = F.col(c)
            if c in zero_is_missing:
                base_val = F.nullif(base_val, F.lit(0))
            filled = F.coalesce(base_val, F.col(f"__e_{fill_cols[c]}"))
            out_cols.append(filled.alias(c))
            fill_conds[c] = base_val.isNull() & F.col(f"__e_{fill_cols[c]}").isNotNull()
        else:
            out_cols.append(F.col(c))
    if provenance and fill_conds:
        if provenance_for is not None:
            won = fill_conds[provenance_for]
        else:
            # 'enriched' if ANY fill column was actually filled from
            # the enrichment side (not just the first one declared)
            won = reduce(lambda a, b: a | b, fill_conds.values())
        prov = F.when(won, F.lit(provenance_values[0])).otherwise(F.lit(provenance_values[1]))
        out_cols.append(prov.alias(provenance))
    return joined.select(*out_cols)


def latest_wins(df: DataFrame, key: str | list[str], ts: str, *tie_break: str) -> DataFrame:
    """J2/W1 (ref ais-proxy/server.js:1497-1507, 390-592): batch form
    of newest-timestamp-wins per key. Union all sources first, then
    one keyed reduction. Extra ``tie_break`` columns make the result
    deterministic when timestamps collide.

    Engine shape: ONE hash aggregate — ``max_by(struct(all columns),
    struct(ts, tie_break..., orderable rest...))`` — instead of the
    row_number window this operator used through r7. Same single
    shuffle on the key, but the aggregate gets a map-side partial
    combine (each task reduces its keys to one row before the
    exchange) and no per-partition sort, which makes it skew-safe: a
    hot key arrives as a handful of pre-combined partials, never as
    one giant sorted partition. Measured at sf0.1 (events, 1500
    keys): 0.18 s → 0.09 s warm.

    Value contract vs the window form: identical whenever
    ``(ts, tie_break...)`` totally orders each key's rows (the normal
    case — a unique id in ``tie_break``); Spark's struct comparison
    ranks a NULL field below any value, matching the window's
    ``desc`` NULLS LAST (the ordering key is a struct, which is never
    null itself, so no row is silently dropped). When rows tie on ALL
    of ``(ts, tie_break)`` the ordering falls through to the remaining
    ORDERABLE columns — a deterministic lexicographic pick where
    row_number's choice was partition-order luck. Non-orderable
    payload columns (maps, and anything nesting one) ride in the
    VALUE struct but stay out of the ordering key — the window form
    carried them too, and max(struct(everything)) would reject the
    whole frame with INVALID_ORDERING_TYPE.
    """
    keys = [key] if isinstance(key, str) else key
    keyset = set(keys)
    rest = [c for c in df.columns if c not in keyset and c != ts and c not in tie_break]
    types = dict(df.dtypes)
    orderable_rest = [c for c in rest if "map<" not in types[c]]
    ordk = F.struct(ts, *tie_break, *orderable_rest)
    val = F.struct(*[c for c in df.columns if c not in keyset])
    agg = df.groupBy(*keys).agg(F.max_by(val, ordk).alias("__s"))
    return agg.select(
        *[
            F.col(c) if c in keyset else F.col("__s").getField(c).alias(c)
            for c in df.columns
        ]
    )


def cdc_apply(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    ts: str,
    *tie_break: str,
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """MERGE-INTO / CDC-log apply, done Spark-first without a table
    format: ``changes`` is a keyed operation log (``base``'s columns
    plus ``op_col``); the LATEST operation per key by ``(ts,
    tie_break...)`` wins — an upsert replaces the key's row, a
    ``delete_op`` removes it — and base rows whose key never appears
    in the log pass through untouched. Output schema = base schema.

    Engine shape at 100 TB (the regime CDC lives in: log ≪ base):
    the log first DISTILLS to one row per touched key via
    :func:`latest_wins` (one map-side-combined aggregate over the
    log only); the base then pays a LEFT ANTI join against just the
    touched-key set — broadcast when the distilled log fits (the
    normal case, leaving the base entirely shuffle-free), spill-safe
    co-partitioned anti-join otherwise. The base is never aggregated,
    never windowed, and never carries the log's columns. Compare the
    naive union-then-window form, which shuffles and sorts the WHOLE
    base every batch to re-derive rows that didn't change.

    Edge contracts: a NULL ``op_col`` on the winning row is treated as
    an UPSERT (the null-safe filter below — a plain ``!=`` would
    evaluate NULL and silently DELETE the key, the worst failure mode
    for a malformed log row). Give ``tie_break`` a unique id: on a
    full ``(ts, tie_break)`` tie the winner falls to
    :func:`latest_wins`'s lexicographic payload ordering, in which
    ``op_col`` itself participates (so a tied upsert outranks a tied
    delete, regardless of log order).
    """
    latest = latest_wins(changes, key, ts, *tie_break)
    touched = latest.select(key)
    survivors = latest.where(~F.col(op_col).eqNullSafe(F.lit(delete_op))).select(
        *base.columns
    )
    untouched = base.join(touched, key, "left_anti")
    return untouched.unionByName(survivors)


def upsert_latest(base: DataFrame, updates: DataFrame, key: str, ts: str, *tie_break: str) -> DataFrame:
    """J2+J3 (ref ais-proxy/server.js:1497-1539): merge two keyed
    snapshots — newer timestamp wins per key, rows only in one side
    pass through (insert-if-absent)."""
    cols = base.columns
    return latest_wins(
        base.select(cols).unionByName(updates.select(cols)), key, ts, *tie_break
    )


def semi_join(left: DataFrame, right: DataFrame, on: str | list[str] | Column) -> DataFrame:
    """J7 (ref tak-contacts-ws/index.mjs:123-140): keep left rows with
    a match on the right; right side broadcast when small."""
    return left.join(F.broadcast(right), on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: str | list[str] | Column) -> DataFrame:
    """J8 (ref verify-tlc-localities.js:26-28): left rows WITHOUT a
    match — the reference's missing/extra coverage check."""
    return left.join(F.broadcast(right), on=on, how="left_anti")


def bloom_pruned_join(
    fact: DataFrame,
    dim: DataFrame,
    on: str,
    how: str = "inner",
    *,
    m_bits: int = 65_536,
    k: int = 4,
) -> DataFrame:
    """Semi-join reduction via a broadcast Bloom filter: prune fact
    rows that cannot match BEFORE the fact side shuffles for the real
    join — the classic distributed-join bandwidth saver for the
    regime where the dimension is too big to broadcast outright (so
    Catalyst picks a shuffle join of BOTH sides) but its KEY SET
    compresses into a few-KB..MB filter that broadcasts trivially.

    Plan: build the filter from ``dim``'s keys (explode k positions →
    groupBy word index, a BOUNDED ≤ m/32-row domain, map-side
    combined → one-row ``map<w, word>`` scalar), cross-join-broadcast
    it into the fact scan, test the k bits IN-ROW (pure codegen), and
    only the survivors enter the real equi-join — which then removes
    the Bloom's false positives, so the result is EXACTLY
    ``fact.join(dim, on, how)`` for any m/k (an oracle needs no Bloom
    at all). Same filter-as-scalar shape as bloom_novelty; positions
    come from xxhash64(key, seed j), engine-internal by design since
    the filter never crosses an engine boundary.

    At 100 TB: the fact scan's shuffle shrinks by the fact's
    non-matching fraction (often 10-100x when the dim is a filtered
    subset); the filter build shuffles ≤ m/32 partial words per map
    task. Spark's AQE can inject runtime Bloom pushdown on its own
    when stats line up (spark.sql.optimizer.runtime.bloomFilter.*);
    this operator makes the reduction explicit, deterministic, and
    available to cached/reused subplans the runtime rule skips.

    Restriction: ``how`` must be "inner" or "left_semi" — the prune
    drops non-matching fact rows, which outer joins must keep.
    NULL keys: Spark's xxhash64 hashes a NULL input to a NON-null
    value (seed-dependent constant), so a NULL fact key CAN pass the
    bit test — it is the downstream equi-join that drops it, exactly
    as the plain join would (result unaffected; do NOT consume the
    pruned stream as if NULL-free). NULL dim keys are excluded from
    the filter build here so they cannot set spurious bits.
    """
    if how not in ("inner", "left_semi"):
        raise ValueError(f"bloom_pruned_join: how={how!r} (prune drops non-matches; "
                         "outer joins must keep them)")
    if m_bits % 32:
        raise ValueError(f"m_bits={m_bits} must be a multiple of 32")
    # same reserved-name discipline as interval_coalesce / the skyline
    collide = [c for c in ("__bwmap",) if c in fact.columns or c in dim.columns]
    if collide:
        raise ValueError(
            f"bloom_pruned_join: input columns {collide} collide with "
            "internal names; rename them first"
        )
    pos = [f"pmod(xxhash64({on}, {j}), {m_bits})" for j in range(k)]
    words = (
        dim.where(F.col(on).isNotNull())
        .selectExpr(f"explode(array({', '.join(pos)})) AS pos")
        .selectExpr("pos div 32 AS w", "pos % 32 AS b")
        .groupBy("w")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))) AS word"))
        .agg(F.expr("map_from_entries(collect_list(struct(w, word))) AS __bwmap"))
    )
    tests = " AND ".join(
        f"((coalesce(element_at(__bwmap, {p} div 32), 0L)"
        f" & shiftleft(CAST(1 AS BIGINT), CAST({p} % 32 AS INT))) != 0)"
        for p in pos
    )
    pruned = (
        fact.crossJoin(F.broadcast(words))
        .where(F.expr(tests))
        .drop("__bwmap")
    )
    return pruned.join(dim, on, how)
