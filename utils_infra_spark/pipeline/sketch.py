"""Count-min sketch as a mergeable DataFrame structure.

A CMS is the streaming/distributed answer to "approximate counts for
any item, bounded memory": depth d hash rows x width w counters;
estimate = min over rows; error is one-sided (always an
OVERestimate, never under) and bounded by ~2N/w with probability
1 - (1/2)^d (Cormode & Muthukrishnan 2005).

Representation: the sketch IS a DataFrame (row_idx, bucket, cnt) —
at most d*w rows regardless of input size. That makes it:
- mergeable: union two sketches and re-sum per cell (the same
  property that lets 100 TB of per-partition partial sketches reduce
  tree-wise through one tiny shuffle);
- queryable: estimating a batch of items is a broadcast-sized join
  against the sketch, not a scan of the corpus.

Hashing is md5-derived (row-salted prefix, mod width) — the same
cross-engine-deterministic idiom as pipeline/sampling.py, so a
DuckDB oracle reproduces the sketch cell-for-cell. At 100 TB the
corpus scan computes d narrow hash columns (codegen'd JVM md5), the
shuffle carries (row, bucket) partial counts — map-side combine
collapses them to ≤ d*w rows per task before network.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cms_bucket(item: Column | str, row_idx: int, width: int) -> Column:
    """Row-salted bucket id: int(md5('<row>:' + item)[:8], 16) % width.

    Oracle fragment:
    ``CAST('0x' || substr(md5('<row>:' || item), 1, 8) AS BIGINT) % width``.
    """
    item = F.col(item) if isinstance(item, str) else item
    h = F.conv(F.substring(F.md5(F.concat(F.lit(f"{row_idx}:"), item)), 1, 8), 16, 10)
    return (h.cast("bigint") % width).alias("bucket")


def count_min_sketch(
    df: DataFrame, item_col: str, *, width: int = 512, depth: int = 4
) -> DataFrame:
    """Build the sketch: (row_idx int, bucket bigint, cnt bigint).

    One pass: each item fans out to ``depth`` cells inside the scan
    partition (inline array explode — no join, no extra shuffle),
    then a single groupBy over ≤ depth*width distinct cells.
    """
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row_idx"), cms_bucket(item_col, i, width).alias("bucket")
                )
                for i in range(depth)
            ]
        )
    ).alias("c")
    return (
        df.select(F.col(item_col), cells)
        .groupBy(F.col("c.row_idx").alias("row_idx"), F.col("c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two sketches built with the same (width, depth): cell-wise
    sum. CMS(x ∪ y) == merge(CMS(x), CMS(y)) exactly."""
    return (
        a.unionByName(b)
        .groupBy("row_idx", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame, items: DataFrame, item_col: str, *, width: int, depth: int
) -> DataFrame:
    """Point-query a batch of items: est = min over the item's depth
    cells (missing cell ⇒ 0). Adds ``cms_est`` to ``items``.

    The items side explodes to depth probe rows and joins the ≤ d*w-row
    sketch — broadcast the sketch side; the corpus is never touched.
    """
    probes = items.select(
        F.col(item_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("row_idx"), cms_bucket(item_col, i, width).alias("bucket"))
                    for i in range(depth)
                ]
            )
        ).alias("p"),
    ).select(F.col(item_col), F.col("p.row_idx").alias("row_idx"), F.col("p.bucket").alias("bucket"))
    joined = probes.join(F.broadcast(sketch), ["row_idx", "bucket"], "left")
    est = joined.groupBy(item_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_est")
    )
    return items.join(est, item_col)


# ---------------------------------------------------------------- HLL
# Linear-counting values for the HLL small-range branch, m = 64:
# floor(m * ln(m / V) * 1e6 + 0.5) for V = 1..64, precomputed ONCE at
# import with glibc ln and embedded as the SAME literal table in the
# Spark plan and the DuckDB oracle — query time does no transcendental
# math at all, so the branch is bit-identical across engines by
# construction (stronger than the char-LM quantize rule: here even the
# fit-time libm call is shared).
def _hll_lc_micro(m: int) -> list[int]:
    import math

    return [math.floor(m * math.log(m / v) * 1e6 + 0.5) for v in range(1, m + 1)]


HLL_M = 64
_LC_MICRO = _hll_lc_micro(HLL_M)
# 0.709 is the PUBLISHED alpha_64 constant (Flajolet et al. 2007
# Fig. 3); 2^53 is the integer scale of the register sum (below).
# The product is computed ONCE in Python IEEE doubles and embedded as
# one exact-round-trip literal — inline `0.709 * 4096.0 * ...` would
# parse as DECIMAL arithmetic in DuckDB (and overflow DECIMAL(18))
# while Spark folds it differently; a single CAST'd literal is the
# same bit pattern in both engines.
_HLL_NUM = f"CAST({0.709 * 4096.0 * 9007199254740992.0!r} AS DOUBLE)"


def hll_register_expr(value_sql: str) -> tuple[str, str]:
    """SQL fragments ``(idx, rho)`` for one value's HLL update —
    md5-derived so Spark and DuckDB sketch identical registers.

    idx = first two hex nibbles mod 64; rho = 1 + number of leading
    zero BITS in the next 13 nibbles (52 bits), computed from the hex
    string itself (leading '0' chars x 4, plus the first nonzero
    nibble's own leading zeros) — no 52-bit integer parse, so no
    engine-specific conv()/from_hex dependency. rho ranges 1..53
    (53 = all 52 bits zero).
    """
    h = f"md5(CAST({value_sql} AS STRING))"
    nib = lambda i: f"(instr('0123456789abcdef', substr({h}, {i}, 1)) - 1)"
    idx = f"(({nib(1)} * 16 + {nib(2)}) % {HLL_M})"
    hx = f"substr({h}, 3, 13)"
    t = f"trim(LEADING '0' FROM {hx})"
    n1 = f"(instr('0123456789abcdef', substr({t}, 1, 1)) - 1)"
    blen = f"(CASE WHEN {n1} >= 8 THEN 4 WHEN {n1} >= 4 THEN 3 WHEN {n1} >= 2 THEN 2 ELSE 1 END)"
    rho = (
        f"(CASE WHEN {t} = '' THEN 53 "
        f"ELSE 4 * (13 - char_length({t})) + (4 - {blen}) + 1 END)"
    )
    return idx, rho


def hll_sketch(df: DataFrame, key_cols: list[str], value_col: str) -> DataFrame:
    """Per-key HLL registers: ``(keys..., idx, m)`` — at most 64 rows
    per key regardless of input size. Mergeable: union register
    tables and take ``max(m)`` per (keys..., idx) (:func:`hll_merge`)
    — the property that lets per-day/per-partition sketches reduce
    through a bounded shuffle instead of re-scanning the corpus.

    Engine shape at 100 TB: the scan computes two narrow codegen'd
    hash columns; the groupBy keys on (keys x 64) — map-side partial
    max collapses each task's registers before network, so the
    shuffle carries at most ``tasks x keys x 64`` tiny rows.
    """
    idx, rho = hll_register_expr(value_col)
    base = df.where(f"{value_col} IS NOT NULL").selectExpr(
        *key_cols, f"{idx} AS idx", f"{rho} AS rho"
    )
    return base.groupBy(*key_cols, "idx").agg(F.expr("MAX(rho) AS m"))


def hll_merge(registers: DataFrame, key_cols: list[str]) -> DataFrame:
    """Merge register tables (already unioned) down to one sketch per
    key: max per register — associative/commutative, so any tree of
    partial merges yields the identical sketch."""
    return registers.groupBy(*key_cols, "idx").agg(F.expr("MAX(m) AS m"))


def hll_estimate(registers: DataFrame, key_cols: list[str]) -> DataFrame:
    """HLL estimate from a register table, cross-engine deterministic:

    * the harmonic-mean denominator is summed in INTEGER space —
      ``sum(2^(53-m))`` over present registers plus ``2^53`` per
      absent one — exact and order-independent (a float ``sum(2^-m)``
      would round differently under different partial-merge orders:
      ``(1 + 2^-53) + 2^-53 != 1 + (2^-53 + 2^-53)``);
    * the raw estimate is one exact constant multiply and one
      correctly-rounded IEEE division — bit-identical everywhere;
    * the small-range (linear counting) branch, taken when raw <= 2.5m
      and empty registers exist, reads the precomputed ``_LC_MICRO``
      literal table — no query-time ln().

    Emits ``(keys..., hll_estimate)`` (micro-rounded double below
    1e12; above that the raw — already bit-deterministic — double is
    emitted unrounded, because ``FLOOR(raw*1e6+0.5)`` would overflow
    BIGINT at ~9.2e12 and ANSI-error the query in exactly the
    100 TB-cardinality regime the sketch exists for).
    Error is ~1.04/sqrt(64) ≈ 13% relative (Flajolet et al. 2007).
    The large-range (2^32-scale) correction is omitted: it exists for
    32-bit hashes; this sketch draws 52 bits.
    """
    agg = registers.groupBy(*key_cols).agg(
        F.expr("CAST(SUM(SHIFTLEFT(CAST(1 AS BIGINT), 53 - m)) AS BIGINT) AS s_present"),
        F.expr(f"CAST({HLL_M} - COUNT(1) AS INT) AS v_zero"),
    )
    return _hll_finish(
        agg.selectExpr(
            *key_cols,
            "s_present + CAST(v_zero AS BIGINT) * SHIFTLEFT(CAST(1 AS BIGINT), 53) AS __s_int",
            "v_zero AS __v",
        ),
        key_cols,
    )


def _hll_finish(sums: DataFrame, key_cols: list[str]) -> DataFrame:
    """The estimate both HLL forms share: ``(keys..., __s_int, __v)``
    — the integer harmonic sum and the empty-register count — to
    ``(keys..., hll_estimate)``."""
    lc = "array(" + ", ".join(str(v) for v in _LC_MICRO) + ")"
    return sums.selectExpr(
        *key_cols,
        f"{_HLL_NUM} / CAST(__s_int AS DOUBLE) AS __raw",
        "__v",
    ).selectExpr(
        *key_cols,
        # micro-rounding is skipped above 1e12: FLOOR(__raw*1e6+0.5)
        # overflows BIGINT once __raw exceeds ~9.2e12 (reachable — all
        # registers at rho=53 gives raw ≈ 4.1e17), which under ANSI
        # errors the whole query instead of degrading; at that
        # magnitude the 13% sketch error dwarfs micro-rounding, so the
        # raw (already bit-deterministic) double is emitted as-is.
        # Below the threshold the value is byte-identical to the
        # always-rounded form.
        f"CASE WHEN __raw <= {2.5 * HLL_M} AND __v > 0"
        f" THEN CAST(element_at({lc}, __v) AS DOUBLE) / 1000000.0 "
        "WHEN __raw < 1000000000000.0"
        " THEN CAST(CAST(FLOOR(__raw * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE) / 1000000.0 "
        "ELSE __raw END AS hll_estimate",
    )


def hll_distinct(df: DataFrame, key_cols: list[str], value_col: str) -> DataFrame:
    """Sketch + estimate in one call: approximate COUNT(DISTINCT
    value) per key with 64 registers (~13% relative error), fully
    mergeable, two bounded shuffles."""
    return hll_estimate(hll_sketch(df, key_cols, value_col), key_cols)


def hll_distinct_stream(
    stream_df: DataFrame,
    key_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Streaming approximate COUNT(DISTINCT) per key, as a JVM
    streaming aggregation (StateStoreSave in the query progress, no
    Python worker). The register derivation runs in-row on the stream
    (same md5 contract as the batch sketch); per key, the state holds
    the 64-slot register array ``max(CASE WHEN idx = i THEN rho END)``
    — max per register is associative and commutative, so any
    micro-batch split and arrival order reach the same registers.
    Each trigger emits the updated keys' estimates (update mode:
    latest row per key wins downstream) through :func:`_hll_finish`,
    the estimate :func:`hll_estimate` uses, so a stream that has seen
    the same rows as :func:`hll_distinct` emits the identical final
    estimate (pinned by e2e test). State per key is 64 ints,
    independent of stream length. A checkpoint written by the earlier
    ``applyInPandasWithState`` form cannot be restored.
    """
    idx, rho = hll_register_expr(value_col)
    rows = stream_df.where(f"{value_col} IS NOT NULL").selectExpr(
        *key_cols, f"{idx} AS idx", f"{rho} AS rho"
    )
    regs = rows.groupBy(*key_cols).agg(
        F.array(*[F.max(F.when(F.col("idx") == i, F.col("rho"))) for i in range(HLL_M)]).alias("__regs")
    )
    # an empty register is NULL here and counts 2^53 = 2^(53-0)
    sums = regs.selectExpr(
        *key_cols,
        "aggregate(__regs, CAST(0 AS BIGINT),"
        " (acc, m) -> acc + SHIFTLEFT(CAST(1 AS BIGINT), 53 - coalesce(m, 0))) AS __s_int",
        "size(filter(__regs, m -> m IS NULL)) AS __v",
    )
    return _hll_finish(sums, key_cols)


def _normalized_tokens(
    tokens_df: DataFrame, token_col: str, group_col: str | None
) -> tuple[DataFrame, str, str]:
    """(g, tok) projection with NULL tokens/groups excluded; types are
    derived from the input schema (hardcoding `string` would fail or
    silently coerce e.g. bigint id streams)."""
    if group_col is None:
        toks = tokens_df.select(F.lit(0).alias("g"), F.col(token_col).alias("tok"))
        g_type = "int"
    else:
        toks = tokens_df.select(F.col(group_col).alias("g"), F.col(token_col).alias("tok"))
        toks = toks.where(F.col("g").isNotNull())
        g_type = tokens_df.schema[group_col].dataType.simpleString()
    tok_type = tokens_df.schema[token_col].dataType.simpleString()
    return toks.where(F.col("tok").isNotNull()), g_type, tok_type


def _mg_candidates(toks: DataFrame, g_type: str, tok_type: str, ppm: int) -> DataFrame:
    """The bounded candidate summary feeding the verify pass: per-batch
    Misra-Gries with k = ceil(1e6/ppm) counters, merged distributedly
    and compressed twice (per (g, shuffle partition), then per g) —
    at most k (g, tok, w) rows per group for ANY drift, every true
    heavy hitter retained with positive weight (see
    heavy_hitters_exact's docstring for the deficit-bound argument)."""
    # k counters give undercount <= N/(k+1) < N*ppm/1e6 — every true
    # heavy hitter keeps positive weight through any merge tree
    k = -(-1_000_000 // ppm)  # ceil

    def _batch_summaries(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cnt = pdf.groupby(["g", "tok"]).size().reset_index(name="w")
            # per-group MG compress of the batch's exact counts: when a
            # group holds more than k distinct tokens, subtract its
            # (k+1)-th largest count and keep positive remainders
            t = (
                cnt.groupby("g")["w"]
                .apply(lambda s: s.nlargest(k + 1).iloc[-1] if len(s) > k else 0)
                .rename("t")
                .reset_index()
            )
            m = cnt.merge(t, on="g")
            m["w"] = m["w"] - m["t"]
            keep = m[m["w"] > 0][["g", "tok", "w"]]
            if len(keep):
                yield keep

    summaries = toks.mapInPandas(_batch_summaries, schema=f"g {g_type}, tok {tok_type}, w bigint")
    merged = summaries.groupBy("g", "tok").agg(F.sum("w").alias("w"))

    def _compress(df: DataFrame, *part_cols: str) -> DataFrame:
        """One MG subtract-compress round over (g, tok, w): within each
        partition spec, subtract the (k+1)-th largest weight (0 when
        fewer than k+1 tokens) and keep positive remainders — at most
        k survivors per spec, deterministically (the boundary value is
        a property of the weight multiset, not of tie order)."""
        from pyspark.sql import Window as W

        wrk = W.partitionBy(*part_cols).orderBy(F.desc("w"), "tok")
        wall = W.partitionBy(*part_cols)
        ranked = df.withColumn("__rk", F.row_number().over(wrk))
        t = F.max(F.when(F.col("__rk") == k + 1, F.col("w"))).over(wall)
        return (
            ranked.withColumn("__t", F.coalesce(t, F.lit(0)))
            .where(F.col("w") > F.col("__t"))
            .select("g", "tok", (F.col("w") - F.col("__t")).alias("w"))
        )

    # two-level compress: per (g, shuffle partition) — parallel, each
    # slice bounded by what the (g, tok) shuffle landed there — then
    # per g over the <= partitions*k survivors
    lvl1 = _compress(merged.withColumn("__pid", F.spark_partition_id()), "g", "__pid")
    return _compress(lvl1, "g")


def mg_candidates(
    tokens_df: DataFrame,
    token_col: str,
    *,
    threshold_ppm: int,
    group_col: str | None = None,
) -> DataFrame:
    """Public probe of heavy_hitters_exact's pass 1: the merged,
    compressed Misra-Gries candidate summary (g?, token, w). Useful on
    its own as a bounded-memory approximate top list, and in tests to
    pin the drift-independence bound (<= ceil(1e6/ppm) rows per
    group)."""
    toks, g_type, tok_type = _normalized_tokens(tokens_df, token_col, group_col)
    out = _mg_candidates(toks, g_type, tok_type, int(threshold_ppm))
    if group_col is None:
        return out.select(F.col("tok").alias(token_col), "w")
    return out.select(
        F.col("g").alias(group_col), F.col("tok").alias(token_col), "w"
    )


def heavy_hitters_exact(
    tokens_df: DataFrame,
    token_col: str,
    *,
    threshold_ppm: int,
    group_col: str | None = None,
) -> DataFrame:
    """EXACT frequent items above a relative threshold, found without
    a full-domain groupBy — the two-pass sketch-then-verify pattern
    (Misra-Gries 1982 / lossy counting, Manku & Motwani 2002, with an
    exact recount so the answer carries no approximation).

    Returns every token whose count satisfies
    ``cnt * 1_000_000 > N * threshold_ppm`` (strict), with its EXACT
    count — N = total non-null tokens. NULL tokens are excluded from
    both N and the counts. With ``group_col`` the threshold is
    relative to EACH GROUP's total (N_g) and the output gains the
    group column — "top tokens per language" without ever shuffling
    the (group, token) domain; the pigeonhole guarantee holds per
    group because every (g, token) occurrence lands in exactly one
    batch. Rows with a NULL group are excluded (a NULL group key has
    no well-defined total, and engines order NULL groups differently).

    Pass 1 (candidates): each Arrow batch emits its MISRA-GRIES
    SUMMARY with k = ceil(1e6/ppm) counters — the batch's exact counts
    compressed by subtracting the (k+1)-th largest count and keeping
    the positive remainders (Misra & Gries 1982). MG summaries MERGE:
    summing weights per token and compressing again preserves the
    deficit bound (Agarwal, Cormode, Huang, Phillips, Wei & Yi,
    "Mergeable Summaries", PODS 2012), because every compression step
    that subtracts t removes >= (k+1)*t total mass while costing any
    single token at most t — so across ANY tree of merges a token's
    total undercount is <= N/(k+1) < N*ppm/1e6. A true heavy hitter
    (cnt > N*theta) therefore always survives with positive weight:
    the final candidate set is a SUPERSET of the answer, and — unlike
    the r9 raw per-batch-candidate union, which grew with the corpus
    under drifting distributions (locally-heavy date-stamped ids) —
    it is capped at k tokens PER GROUP no matter how the distribution
    drifts. The merge runs as one distributed (g, tok) aggregate, a
    per-(g, shuffle-partition) compress (window over that partition's
    slice — parallel, bounded), then a per-g compress over the
    <= partitions*k survivors; compression composes, so the error
    budget is unchanged. Per-batch value_counts bounds pass-1 memory
    by the batch, not the token domain.

    Pass 2 (verify): ONE corpus scan does both the candidate recount
    and N — a broadcast LEFT join marks candidate rows, the aggregate
    keys on candidate-or-NULL (every non-candidate collapses into the
    single NULL group), and N is a window sum over the aggregated
    (candidates + 1)-row table, never the corpus. The full token
    domain is never shuffled: at 100 TB with billions of distinct
    tokens, a plain groupBy-HAVING shuffles the whole domain; this
    shuffles candidate rows plus one other-bucket row per task.

    Output is EXACTLY the plain groupBy-HAVING answer (the oracle),
    for any partitioning and any batch split — the candidate pass
    only ever over-selects.
    """
    import pandas as pd  # noqa: F401 (Arrow path)

    from pyspark.sql import Window

    ppm = int(threshold_ppm)
    toks, g_type, tok_type = _normalized_tokens(tokens_df, token_col, group_col)
    cands = _mg_candidates(toks, g_type, tok_type, ppm).select("g", "tok")
    marked = toks.join(F.broadcast(cands.withColumn("__c", F.lit(1))), ["g", "tok"], "left")
    per = marked.groupBy(
        "g", F.when(F.col("__c") == 1, F.col("tok")).alias("tok")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    # window over the aggregated table only — (candidates + 1) rows
    # PER GROUP, not the corpus (single-partition warning in the
    # ungrouped case is benign: the table is tiny by construction)
    w = Window.partitionBy("g")
    out = (
        per.withColumn("__n", F.sum("cnt").over(w))
        .where(F.col("tok").isNotNull() & (F.col("cnt") * 1_000_000 > F.col("__n") * ppm))
    )
    if group_col is None:
        return out.select(F.col("tok").alias(token_col), "cnt")
    return out.select(F.col("g").alias(group_col), F.col("tok").alias(token_col), "cnt")


def histogram_quantile_brackets(
    df: DataFrame,
    value_col: str,
    *,
    bin_micro: int,
    qs_ppm: list[int],
    group_by: str | None = None,
    micro: bool = False,
) -> DataFrame:
    """Deterministic MERGEABLE quantiles via a fixed-width histogram —
    the scale path where exact per-group sorts (percentile/ntile) and
    GK sketches (approx_percentile — merge not partition-canonical)
    both fall short. Bin counts are plain integer aggregates: exact,
    order-free, partition-invariant, and mergeable across shards/days,
    so the result is hash-checkable against any engine.

    Spec (integer-exact; negatives are fine — the bin id is a true
    FLOOR division, spelled ``(vm - pmod(vm, w)) DIV w`` with
    ``pmod(vm, w) = ((vm % w) + w) % w``, because both engines' DIV
    and % truncate toward zero / follow the dividend; subtracting the
    POSITIVE remainder lands on the floor multiple even for negative
    values): fixed-point ``vm = floor(v * 1e6 + 0.5)``,
    bin ``floor(vm/w)``; NULL values are excluded from bins AND totals
    (mirror the filter in any oracle — a NULL bin would sort
    differently per engine: Spark NULLS FIRST, DuckDB NULLS LAST); for
    each q (ppm) the answer is the SMALLEST bin whose cumulative count
    reaches ceil(N * q / 1e6) — for integer cum that is
    ``cum * 1e6 >= N * q_ppm``. Returns one row per (group, q):
    ``q_ppm, bin, lo_micro, hi_micro, cum, total`` — the true quantile
    lies in [lo_micro, hi_micro); error is bounded by the bin width,
    chosen by the caller, never by data order.

    100 TB shape: ONE corpus aggregate with map-side combine onto a
    bounded key domain (value_range / bin_micro bins per group); the
    cumulative window and the per-q argmin run over the tiny bin
    table, never the corpus.
    """
    from pyspark.sql import Window

    g = [group_by] if group_by else []
    # micro=True: the column IS already an integer micro quantity (e.g.
    # a derived deviation in 2x-micro space) — skip the fixed-point
    # step so downstream compositions stay in exact integer arithmetic
    # end to end (any oracle mirrors with a plain CAST)
    if micro:
        vm = F.expr(f"CAST(({value_col}) AS BIGINT)")
    else:
        vm = F.expr(f"CAST(FLOOR(({value_col}) * 1000000 + 0.5) AS BIGINT)")
    w_lit = F.lit(int(bin_micro))
    pmod = ((vm % w_lit) + w_lit) % w_lit
    # NULL values are excluded (a NULL has no bin; leaving it in would
    # create a NULL bin the two engines ORDER differently — Spark
    # NULLS FIRST vs DuckDB NULLS LAST — shifting every cumulative
    # count) — mirror the filter in any oracle
    df = df.where(F.expr(f"({value_col}) IS NOT NULL"))
    bins = (
        df.select(*g, (vm - pmod).alias("__bm"))
        .select(*g, F.expr(f"__bm DIV {int(bin_micro)}").alias("bin"))
        .groupBy(*g, "bin")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    w = Window.partitionBy(*g).orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy(*g)
    cum = bins.select(
        *g,
        "bin",
        F.sum("__cnt").over(w).alias("cum"),
        F.sum("__cnt").over(wt).alias("total"),
    )
    qs = F.explode(F.array(*[F.lit(int(q)).cast("bigint") for q in qs_ppm])).alias("q_ppm")
    hit = cum.select(*g, "bin", "cum", "total", qs).where(
        F.col("cum") * 1_000_000 >= F.col("total") * F.col("q_ppm")
    )
    first = hit.groupBy(*g, "q_ppm").agg(
        F.min("bin").alias("bin"), F.first("total").alias("total")
    )
    # re-attach the chosen bin's cumulative count
    out = first.join(cum.select(*g, "bin", "cum"), [*g, "bin"])
    return out.select(
        *g,
        "q_ppm",
        "bin",
        (F.col("bin") * int(bin_micro)).alias("lo_micro"),
        ((F.col("bin") + 1) * int(bin_micro)).alias("hi_micro"),
        "cum",
        "total",
    )
