"""A/B equivalence + timing for the r14 minhash verify change.

OLD (r13): verify side carried a spread() — a 32-way round-robin
exchange of the ENTIRE raw corpus text that fed straight into a
BroadcastExchange (no pre-join compute on that side, so the exchange
bought nothing).
NEW (r14, shipped): identical shape minus that exchange.

HISTORY — a second candidate was measured here and REJECTED: joining
the pair list to raw text twice (id_a, id_b) to delete the
first(CASE) regroup's Sort + two SortAggregates. Row-identical, but
3× SLOWER (0.67 s → 2.19 s warm at sf0.1, idle box): with no
aggregate barrier, PushPredicateThroughJoin folds the jaccard
threshold filter into the second join's condition with the whole
interpreted shingle pipeline inlined from raw text, so every pair
re-tokenizes/re-shingles both texts in the join condition AND in the
projections above it.

This tool rebuilds the OLD (r13) shape inline and asserts row-set
equality with the shipped operator at the given SF_DIR, then times
both the bench way (fresh QueryExecution, toArrow).

Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python tools/ab_minhash_verify.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from utils_infra_spark.pipeline.dedup import (  # noqa: E402
    jaccard,
    minhash_band_keys,
    minhash_near_duplicates,
    shingles_from_tokens_sql,
)
from utils_infra_spark.session import get_spark, tune_for_input  # noqa: E402
from utils_infra_spark.sources.tables import load_table, spread  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def old_shape(df, text_col, id_col, *, k_shingle=3, num_hashes=16, bands=8, threshold=0.5):
    sketch = minhash_band_keys(
        df, text_col, id_col, k_shingle=k_shingle, num_hashes=num_hashes,
        bands=bands, hash_family="xxhash64", drop_empty=False,
    )
    cand = (
        sketch.groupBy("band", "key")
        .agg(F.collect_list("doc_id").alias("ids"))
        .where(F.size("ids") > 1)
        .select(F.explode_outer("ids").alias("id_a"), "ids")
        .select("id_a", F.explode_outer("ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    raw = spread(df.selectExpr(f"{id_col} AS doc_id", f"{text_col} AS __text"), min_bytes=0)
    roles = cand.select("id_a", "id_b", F.explode_outer(F.array("id_a", "id_b")).alias("doc_id"))
    paired = (
        roles.join(raw, "doc_id")
        .selectExpr("id_a", "id_b", "doc_id", r"split(trim(__text), '[ \\t\\n\\x0B\\f\\r]+') AS __toks")
        .selectExpr("id_a", "id_b", "doc_id", f"{shingles_from_tokens_sql('__toks', k_shingle)} AS sh")
        .groupBy("id_a", "id_b")
        .agg(
            F.first(F.when(F.col("doc_id") == F.col("id_a"), F.col("sh")), ignorenulls=True).alias("sh_a"),
            F.first(F.when(F.col("doc_id") == F.col("id_b"), F.col("sh")), ignorenulls=True).alias("sh_b"),
        )
    )
    verified = paired.select(
        "id_a", "id_b", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard")
    )
    return verified.where(F.col("jaccard") >= threshold)


def main() -> None:
    spark = get_spark("ab-minhash")
    tune_for_input(spark, SF_DIR)
    docs = load_table(spark, SF_DIR, "documents")

    old_df = old_shape(docs, "text", "doc_id")
    new_df = minhash_near_duplicates(docs, "text", "doc_id")

    old_rows = sorted(map(tuple, old_df.collect()))
    new_rows = sorted(map(tuple, new_df.collect()))
    assert old_rows == new_rows, (
        f"row mismatch: old={len(old_rows)} new={len(new_rows)}; "
        f"first diff: {next(((a, b) for a, b in zip(old_rows, new_rows) if a != b), None)}"
    )
    print(f"EQUAL: {len(new_rows)} rows identical at {SF_DIR}")

    for name, df in (("old", old_df), ("new", new_df)):
        walls = []
        for _ in range(5):
            t0 = time.perf_counter()
            df.select("*").toArrow()
            walls.append(round(time.perf_counter() - t0, 4))
        print(name, "walls:", walls, "min-warm:", min(walls[1:]))
    spark.stop()


if __name__ == "__main__":
    main()
