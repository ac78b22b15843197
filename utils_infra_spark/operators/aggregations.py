"""Aggregation operators (SURVEY.md §2.5, A1–A10).

All are `groupBy().agg()` chains — Spark executes them as partial
(map-side) aggregation + shuffle-on-key + final merge, which is the
scalable shape: at 100 TB the shuffle carries only the partial
aggregates, not the rows. Exact-arithmetic note: money-like sums cast
to DECIMAL first so results are associative and match any oracle
bit-for-bit regardless of partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Money-like sums use fixed-point arithmetic so results are
# associative: a 32-partition Spark plan and a single-threaded oracle
# agree bit-for-bit (double sums differ in the last ulps across
# partitionings). The obvious `cast(decimal(28,6))` per row goes
# through a BigDecimal string-parse in Spark (~6x slower than double
# sums, measured); instead `fixed_point` quantizes with
# `floor(x*10^s + 0.5)` — pure JVM double math that whole-stage codegen
# inlines — and the sum accumulates in DECIMAL(38,0), so it stays
# exact past 2^63, where a BIGINT sum raises ARITHMETIC_OVERFLOW under
# ANSI. That accumulator is a BigDecimal aggregation buffer, and it is
# not cheap: ROADMAP item 2 measured `pricing_summary` at 0.659 s warm
# against 0.288 s with a BIGINT accumulator (sf0.1, identical values).
# Every fixed-point money sum builds it through `fixed_point`, so a
# cheaper exact accumulator for them is a change to that one function.
# Oracles mirror the exact same FLOOR expression, so both engines
# compute identical integers and identical final doubles.
DEC = "decimal(28,6)"  # retained for per-group (post-agg) exact ratios

_ACC = "decimal(38,0)"


def fixed_point(col: Column, scale: int = 6) -> Column:
    """``floor(x*10^scale + 0.5)`` (half-up-toward-+inf fixed-point
    units) as the DECIMAL(38,0) sum accumulator.

    The same expression (not just the same convention) must appear in
    the oracle SQL — ``FLOOR(x*10^s + 0.5)`` — so the two engines agree
    even at rounding boundaries.
    """
    scaled = col * F.lit(float(10**scale)) if scale else col
    return F.floor(scaled + F.lit(0.5)).cast(_ACC)


def dsum(col: str | Column, alias: str, scale: int = 6) -> Column:
    """Exact fixed-point sum, returned as double.

    Oracle fragment: ``CAST(SUM(CAST(FLOOR((x)*1000000 + 0.5) AS
    BIGINT)) AS DOUBLE)/1000000 AS alias`` (scale=6).
    """
    col = F.col(col) if isinstance(col, str) else col
    return (F.sum(fixed_point(col, scale)).cast("double") / F.lit(float(10**scale))).alias(alias)


def davg(col: str | Column, alias: str, scale: int = 6, qscale: int = 6) -> Column:
    """Order-independent average: fixed-point sum / count, rounded.

    Oracle fragment: ``ROUND(CAST(SUM(CAST(FLOOR((x)*1000000 + 0.5) AS
    BIGINT)) AS DOUBLE)/1000000 / COUNT(x), scale)``.
    """
    col = F.col(col) if isinstance(col, str) else col
    total = F.sum(fixed_point(col, qscale)).cast("double") / F.lit(float(10**qscale))
    return F.round(total / F.count(col), scale).cast("double").alias(alias)


def ratio_pct(numer: Column | str, denom: Column | str, alias: str, dp: int = 4) -> Column:
    """A2 (ref power-outages/server.js:100): percentage with fixed
    decimal places, guarded for zero denominators."""
    numer = F.col(numer) if isinstance(numer, str) else numer
    denom = F.col(denom) if isinstance(denom, str) else denom
    pct = F.round(numer.cast(DEC) * 100 / denom.cast(DEC), dp).cast("double")
    return F.when(denom > 0, pct).alias(alias)


def pivot_counts(df: DataFrame, category: str, values: list[str], *, total_alias: str = "total") -> DataFrame:
    """A4 (ref ais-proxy/server.js:744-768): category counts as one
    wide row via conditional sums — one pass, no pivot shuffle."""
    aggs = [F.sum(F.when(F.col(category) == v, 1).otherwise(0)).alias(v) for v in values]
    aggs.append(F.count(F.lit(1)).alias(total_alias))
    return df.agg(*aggs)


def value_counts(df: DataFrame, col: str, *, count_alias: str = "n") -> DataFrame:
    """A6 (ref scripts/find-missing-types.js:51-78): value histogram,
    most frequent first."""
    return df.groupBy(col).agg(F.count(F.lit(1)).alias(count_alias)).orderBy(F.desc(count_alias), col)


def weighted_quantile(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    *,
    q_num: int = 1,
    q_den: int = 2,
    alias: str = "wquantile",
) -> DataFrame:
    """Exact LOWER weighted q-quantile per group (q = q_num/q_den,
    integer rational so the pick condition stays in exact arithmetic):
    the smallest value v with cumulative weight(≤v) · q_den ≥
    q_num · total weight. ``q_num=1, q_den=2`` is the weighted
    median — see :func:`weighted_median`.

    Contract: ``value_col`` must be integer-typed (quantize money to
    micros first — the fixed-point house rule, so the result is
    hash-identical across engines) and ``weight_col`` integral;
    NULL-value rows and NULL/≤0 weights are dropped (a zero weight
    cannot move a quantile; negative weights have no quantile
    semantics). The lower-quantile convention needs no interpolation,
    so ties and even totals stay exact. ``0 < q_num ≤ q_den``
    required (q in (0, 1]; q=1 is the weighted max).

    Scale shape: one keyed aggregate collapses the corpus to the
    DISTINCT (group, value) table (map-side combined — the shuffle
    carries partial weight sums, never rows); both the cumulative and
    the total window ride the SAME hash partitioning on the group
    key, so one exchange feeds everything. Weights accumulate in
    DECIMAL(38,0), exact past 2^63 — the 100 TB token-count case
    where a BIGINT sum raises ARITHMETIC_OVERFLOW under ANSI.
    The distinct-(group, value) window assumes a BOUNDED value domain
    (quantized money, counts): when distinct ≈ rows (an unbounded
    continuous domain), a group funnels through one window task —
    swap in :func:`weighted_quantile_bracketed`, which bins values
    first and windows over the bounded bin table instead.

    Oracle fragment (same shape in SQL)::

        WITH d AS (SELECT g, v, SUM(CAST(w AS BIGINT)) AS wsum
                   FROM t WHERE v IS NOT NULL AND w > 0 GROUP BY g, v),
             c AS (SELECT g, v,
                          SUM(wsum) OVER (PARTITION BY g ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cum,
                          SUM(wsum) OVER (PARTITION BY g) AS total FROM d)
        SELECT g, MIN(CASE WHEN 2*cum >= total THEN v END) AS wmedian
        FROM c GROUP BY g
    """
    from pyspark.sql import Window

    if not (0 < q_num <= q_den):
        raise ValueError(f"weighted_quantile: need 0 < q_num <= q_den, got {q_num}/{q_den}")
    for c in ("__wsum", "__cum", "__total"):
        if c in df.columns:
            raise ValueError(f"weighted_quantile: input column {c} collides with an internal name")
    w = F.col(weight_col)
    d = (
        df.where(F.col(value_col).isNotNull() & w.isNotNull() & (w > 0))
        .groupBy(*group_cols, value_col)
        .agg(F.sum(w.cast(_ACC)).alias("__wsum"))
    )
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*group_cols)
    c = d.withColumn("__cum", F.sum("__wsum").over(w_cum)).withColumn(
        "__total", F.sum("__wsum").over(w_all)
    )
    pick = F.when(F.col("__cum") * q_den >= F.col("__total") * q_num, F.col(value_col))
    return c.groupBy(*group_cols).agg(F.min(pick).alias(alias))


def weighted_median(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    *,
    alias: str = "wmedian",
) -> DataFrame:
    """Exact LOWER weighted median per group — the q = 1/2 case of
    :func:`weighted_quantile` (see there for contract and scale
    shape): the smallest value v with cumulative weight(≤v) ≥ half
    the group's total weight."""
    return weighted_quantile(df, group_cols, value_col, weight_col, q_num=1, q_den=2, alias=alias)


def weighted_quantile_bracketed(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    *,
    bin_micro: int,
    q_num: int = 1,
    q_den: int = 2,
    micro: bool = False,
) -> DataFrame:
    """Bracketed weighted q-quantile — the 100 TB swap-in for
    :func:`weighted_quantile` on CONTINUOUS value domains (the
    mad_outliers_bracketed treatment applied to weighted quantiles).

    The exact operator windows over the per-group DISTINCT-value
    table; a group whose value domain is unbounded-continuous
    (distinct ≈ rows) funnels that window through one task. This
    variant bins values into fixed-width ``bin_micro`` buckets first,
    so the windows only ever see the aggregated (group, bin) table —
    bounded by the value RANGE over the bin width, never the row
    count — and returns the half-open bracket ``[lo_micro, hi_micro)``
    that PROVABLY contains the exact lower weighted quantile:

    * the exact answer v* is the smallest value whose cumulative
      weight reaches ``q_num/q_den`` of the total; bins are ordered
      intervals, so the first bin whose END-cumulative weight reaches
      the threshold is exactly the bin containing v* (an earlier bin
      reaching it would contain a smaller qualifying value,
      contradicting minimality) — the bracket is exact, its width is
      the caller-chosen ``bin_micro``, independent of data order and
      partitioning.

    Contract shared with :func:`weighted_quantile`: NULL values and
    NULL/≤0 weights are dropped; weights accumulate in DECIMAL(38,0)
    (exact past 2^63). Values quantize to integer micros
    ``floor(v*1e6 + 0.5)`` unless ``micro=True`` (the
    column already IS an integer micro quantity). Negative values bin
    by true floor division (the histogram_quantile_brackets pmod
    spell — both engines' DIV truncates toward zero).

    Output: one row per group — ``*group_cols, bin, lo_micro,
    hi_micro, cum_w, total_w`` (cum_w/total_w as DECIMAL(38,0)).

    100 TB shape: ONE corpus aggregate with map-side combine onto the
    bounded (group, bin) key domain; the cumulative + total windows
    and the argmin ride the tiny bin table. No per-group
    distinct-value window anywhere — plan-pinned by test.
    """
    from pyspark.sql import Window

    if not (0 < q_num <= q_den):
        raise ValueError(
            f"weighted_quantile_bracketed: need 0 < q_num <= q_den, got {q_num}/{q_den}"
        )
    if bin_micro < 1:
        raise ValueError(f"weighted_quantile_bracketed: bin_micro must be >= 1, got {bin_micro}")
    for c in ("__vm", "__bin", "__w", "__w0", "__cum", "__total"):
        if c in df.columns:
            raise ValueError(
                f"weighted_quantile_bracketed: input column {c} collides with an internal name"
            )
    w = F.col(weight_col)
    if micro:
        vm = F.expr(f"CAST(({value_col}) AS BIGINT)")
    else:
        vm = F.expr(f"CAST(FLOOR(({value_col}) * 1000000 + 0.5) AS BIGINT)")
    wlit = F.lit(int(bin_micro))
    pmod = ((vm % wlit) + wlit) % wlit
    bins = (
        df.where(F.col(value_col).isNotNull() & w.isNotNull() & (w > 0))
        .select(*group_cols, (vm - pmod).alias("__vm"), w.alias("__w0"))
        .select(
            *group_cols,
            F.expr(f"__vm DIV {int(bin_micro)}").alias("__bin"),
            "__w0",
        )
        .groupBy(*group_cols, "__bin")
        .agg(F.sum(F.col("__w0").cast(_ACC)).alias("__w"))
    )
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy("__bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*group_cols)
    c = bins.withColumn("__cum", F.sum("__w").over(w_cum)).withColumn(
        "__total", F.sum("__w").over(w_all)
    )
    hit = c.where(F.col("__cum") * q_den >= F.col("__total") * q_num)
    # Aggregation pick, not a join back onto the bin table: bins are
    # unique per group, so MIN over the (bin, cum) struct selects the
    # first qualifying bin AND its cumulative weight in one pass —
    # and, unlike an equi-join on the group columns, keeps NULL group
    # keys (a NULL key never matches a plain join condition). MIN,
    # not FIRST: deterministic by type where FIRST is merge-order-
    # dependent by contract.
    first = hit.groupBy(*group_cols).agg(
        F.min(F.struct(F.col("__bin"), F.col("__cum"))).alias("__pick"),
        F.min("__total").alias("total_w"),
    )
    out = first.select(
        *group_cols,
        F.col("__pick.__bin").alias("bin"),
        F.col("__pick.__cum").alias("cum_w"),
        "total_w",
    )
    return out.select(
        *group_cols,
        "bin",
        (F.col("bin") * int(bin_micro)).alias("lo_micro"),
        ((F.col("bin") + 1) * int(bin_micro)).alias("hi_micro"),
        "cum_w",
        "total_w",
    )
