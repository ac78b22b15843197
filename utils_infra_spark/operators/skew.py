"""Skew-aware aggregation (SURVEY §4 / 100 TB design).

AQE's skew-join splitting handles joins; for aggregations over a
hot-key distribution (one user with 10⁹ events), explicit salting
splits the hot key across ``salt_buckets`` partial groups, then
merges partials — two small shuffles instead of one stalled task.

Only ADDITIVE aggregates distribute over the salt split (sum, count,
min, max); avg must be derived as sum/count by the caller.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

def salt_column(df: DataFrame, salt_buckets: int) -> Column:
    """The deterministic salt used by the two-stage operators:
    ``pmod(xxhash64(whole row), salt_buckets)``. Exposed so tests (and
    callers sizing ``salt_buckets``) can measure the ACTUAL spread of
    a suspected hot key with the exact expression the operator uses —
    a hand-copied salt in a test would silently drift.

    Sizing guidance (measured by
    tests/test_sampling.py::test_salt_spreads_hot_key_across_partials
    on its skew fixture — one user remapped onto ~10% of all events):
    with salt_buckets=8 the hot key's rows land in all 8
    partial groups, i.e. rows with ANY per-row variation (a timestamp,
    an event id) spread uniformly, and the largest task shrinks from
    ~hot-share to ~hot-share/salt_buckets. The only degenerate case is
    byte-identical duplicate rows, which share one bucket by
    construction (retry-safety requires the salt be a pure row
    function) — if the hot key's rows are exact duplicates, include a
    physically-varying column in ``df`` before salting."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets)).cast("int")


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str | Column]],
    *,
    salt_buckets: int = 32,
) -> DataFrame:
    """Two-stage salted groupBy.

    aggs: output_name -> (fn, input_col) with fn ∈ {sum,count,min,max}.
    Stage 1 groups on (keys..., salt) — the hot key spreads over
    ``salt_buckets`` tasks; stage 2 merges partials on the true keys
    (sum of partial sums/counts, min of mins, max of maxes).

    The salt is DETERMINISTIC (whole-row hash, not rand()), for the
    same reason salted_join's is: rand() re-draws on task recompute
    after a fetch failure, so a row can land in a different partial
    group than the one surviving reducers already fetched — counted
    twice or dropped. xxhash64 of the row is stable across retries;
    fully duplicate rows share a bucket, which only narrows the
    spread when the hot key's rows are byte-identical.
    """
    salted = df.withColumn("__salt", salt_column(df, salt_buckets))
    partial_exprs = []
    for name, (fn, col) in aggs.items():
        col = F.col(col) if isinstance(col, str) else col
        if fn == "count":
            partial_exprs.append(F.count(F.lit(1)).alias(f"__p_{name}"))
        elif fn in ("sum", "min", "max"):
            partial_exprs.append(getattr(F, fn)(col).alias(f"__p_{name}"))
        else:
            raise ValueError(f"non-mergeable aggregate for salting: {fn}")
    partial = salted.groupBy(*keys, "__salt").agg(*partial_exprs)

    merge_exprs = []
    for name, (fn, _col) in aggs.items():
        merge_fn = F.sum if fn in ("sum", "count") else getattr(F, fn)
        merge_expr = merge_fn(F.col(f"__p_{name}"))
        if fn == "count":
            merge_expr = merge_expr.cast("long")
        merge_exprs.append(merge_expr.alias(name))
    return partial.groupBy(*keys).agg(*merge_exprs)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    *,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: replicate the dim side ``salt_buckets``
    times and scatter the fact side across the replicas, so one hot
    key's rows spread over ``salt_buckets`` tasks instead of stalling
    one.

    The fact salt is DETERMINISTIC (hash of the whole row, not
    rand()): re-runs and retried tasks land rows in the same bucket,
    which keeps speculative execution and exactly-once sinks honest.
    Cost: dim shuffles ``salt_buckets``× its size — use only when the
    dim is too big to broadcast AND AQE's skew-join split (the
    default remedy, on in session.py) can't help, e.g. when the skew
    is in a single unsplittable key group of a sort-merge join.
    Result is row-identical to the plain join (oracle-checked).
    """
    fact_s = fact.withColumn("__salt", salt_column(fact, salt_buckets))
    dim_r = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = fact_s.join(dim_r, [key, "__salt"], how)
    return out.drop("__salt")
