"""Invariants for the dataset-preparation operators
(pipeline/sampling.py): split totality/stability, sample determinism,
stratified exactness, chunk reconstruction, contamination logic.
Oracle value parity is covered by test_oracle_parity.py; these pin the
semantic contracts the oracle can't express (stability across
repartitioning, reconstruction round-trips).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from utils_infra_spark.pipeline.sampling import (
    assign_split,
    deterministic_sample,
    ngram_contamination,
    split_threshold,
    stratified_topk,
    token_chunks,
)


def test_split_threshold_bounds():
    assert split_threshold(0.0) == "0000"
    assert split_threshold(0.8) == "cccc"
    assert split_threshold(1.0) == "ffff"  # clamped to the last bucket


def test_assign_split_total_and_stable_under_repartition(spark):
    df = spark.range(5000).withColumnRenamed("id", "doc_id")
    fr = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = df.select("doc_id", assign_split("doc_id", fr)).toPandas()
    # every row labeled, fractions in the right neighborhood
    assert set(a["split"]) == {"train", "val", "test"}
    frac = a["split"].value_counts(normalize=True)
    assert abs(frac["train"] - 0.8) < 0.03
    # identical assignment after an adversarial repartition (rand()
    # with a seed would fail this)
    b = df.repartition(13, "doc_id").select("doc_id", assign_split("doc_id", fr)).toPandas()
    merged = a.merge(b, on="doc_id", suffixes=("_a", "_b"))
    assert (merged["split_a"] == merged["split_b"]).all()


def test_deterministic_sample_is_subset_and_stable(spark):
    df = spark.range(4000).withColumnRenamed("id", "doc_id")
    s1 = set(r.doc_id for r in deterministic_sample(df, "doc_id", 0.1).collect())
    s2 = set(r.doc_id for r in deterministic_sample(df.repartition(7), "doc_id", 0.1).collect())
    assert s1 == s2
    assert 0.07 < len(s1) / 4000 < 0.13
    # nested sampling: a 5% sample is a subset of the 10% sample
    # (threshold-based membership is monotone in the rate)
    s3 = set(r.doc_id for r in deterministic_sample(df, "doc_id", 0.05).collect())
    assert s3 <= s1


def test_stratified_topk_exact_k(spark):
    df = spark.range(300).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).cast("string").alias("lang")
    )
    out = stratified_topk(df, "lang", "doc_id", 7).toPandas()
    assert (out.groupby("lang").size() == 7).all()
    assert (out["rn"] <= 7).all()


def test_token_chunks_reconstruction(spark):
    text = " ".join(f"w{i}" for i in range(95))
    df = spark.createDataFrame([(1, text)], "doc_id: bigint, text: string")
    out = (
        token_chunks(df, "doc_id", "text", chunk_size=40, overlap=10)
        .orderBy("start")
        .collect()
    )
    # starts stride by 30 and cover every token; no start past
    # size - overlap - 1 (a start=90 chunk's 5 tokens would be wholly
    # inside chunk 60's coverage — duplicated training text)
    assert [r.start for r in out] == [0, 30, 60]
    assert [r.n_tokens for r in out] == [40, 40, 35]
    assert max(r.start + r.n_tokens for r in out) == 95  # full coverage
    # each chunk is the exact token window; overlap regions agree
    toks = text.split()
    for r in out:
        assert r.chunk.split() == toks[r.start : r.start + 40]


def test_token_chunks_short_doc_single_chunk(spark):
    df = spark.createDataFrame([(1, "only three words")], "doc_id: bigint, text: string")
    out = token_chunks(df, "doc_id", "text", chunk_size=40, overlap=10).collect()
    assert len(out) == 1
    assert out[0].start == 0 and out[0].n_tokens == 3
    assert out[0].chunk == "only three words"


def test_ngram_contamination_flags_only_overlapping(spark):
    bench = spark.createDataFrame(
        [(100, "a b c d e f g h i j")], "doc_id: bigint, text: string"
    )
    corpus = spark.createDataFrame(
        [
            # contains benchmark 8-grams "a..h", "b..i", "c..j"
            (1, "x a b c d e f g h i j y"),
            # same vocabulary, different order -> no 8-gram collision
            (2, "j i h g f e d c b a j i"),
            # shorter than 8 tokens, no overlap
            (3, "a b c"),
        ],
        "doc_id: bigint, text: string",
    )
    out = {r.doc_id: r.n_collisions for r in ngram_contamination(corpus, bench, "doc_id", "text").collect()}
    assert out == {1: 3}


def test_int8_quantize_error_bound_and_roundtrip(spark):
    from utils_infra_spark.pipeline.similarity import dequant_max_err, int8_quantize

    df = spark.createDataFrame(
        [
            (1, [0.5, -1.0, 0.25, 0.0]),
            (2, [100.0, -100.0, 3.3]),
            (3, [0.0, 0.0, 0.0]),  # all-zero: scale 0, no div-by-zero
        ],
        "vec_id: bigint, embedding: array<float>",
    )
    out = df.select(
        "vec_id",
        "embedding",
        int8_quantize("embedding").alias("qt"),
    ).select(
        "vec_id",
        "qt.scale",
        "qt.q",
        dequant_max_err("embedding", F.col("qt")).alias("err"),
    ).collect()
    by_id = {r.vec_id: r for r in out}
    # max-magnitude element maps to ±127 exactly
    assert by_id[1].q[1] == -127 and by_id[2].q[0] == 127
    for r in out:
        assert all(-127 <= qi <= 127 for qi in r.q)
        # reconstruction error bounded by half a quantization step
        assert r.err <= r.scale / 2 + 1e-12
    assert by_id[3].scale == 0.0 and by_id[3].err == 0.0 and by_id[3].q == [0, 0, 0]


def test_pack_by_cumsum_invariants(spark):
    from utils_infra_spark.pipeline.sampling import pack_by_cumsum

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 4).cast("string").alias("lang"),
        (F.col("id") % 7 * 100 + 50).alias("n_chars"),
    )
    packed = pack_by_cumsum(df, "lang", "doc_id", "n_chars", 1000).toPandas()
    # every row assigned; shard ids contiguous from 0 within each lang
    assert packed["shard"].notna().all()
    for _, grp in packed.groupby("lang"):
        shards = sorted(grp["shard"].unique())
        assert shards == list(range(len(shards)))
        # each shard's pre-assignment fill is under capacity by
        # construction (a shard starts before the boundary), and no
        # shard except possibly the last is near-empty
        fills = grp.groupby("shard")["n_chars"].sum()
        assert (fills.iloc[:-1] >= 500).all()
    # determinism under repartition
    again = pack_by_cumsum(df.repartition(11), "lang", "doc_id", "n_chars", 1000).toPandas()
    m = packed.merge(again, on=["lang", "doc_id"], suffixes=("_a", "_b"))
    assert (m["shard_a"] == m["shard_b"]).all()


def test_salted_join_row_identical_and_spreads_hot_key(spark):
    from utils_infra_spark.operators.skew import salted_join

    # 90% of fact rows hit one hot key; dim has multiple attrs per key
    fact = spark.range(1000).select(
        F.when(F.col("id") < 900, 7).otherwise(F.col("id") % 20).cast("bigint").alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(20).select(F.col("id").alias("k"), (F.col("id") * 10).alias("attr"))
    got = salted_join(fact, dim, "k", salt_buckets=8).toPandas()
    want = fact.join(dim, "k").toPandas()
    key = ["k", "payload", "attr"]
    assert got.sort_values(key).reset_index(drop=True)[key].equals(
        want.sort_values(key).reset_index(drop=True)[key]
    )
    # the hot key's fact rows actually scatter across several buckets
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(8))
    n_buckets = fact.where(F.col("k") == 7).select(salt.alias("s")).distinct().count()
    assert n_buckets >= 6


# Hot-key fixture: one user (a bot or service account) remapped onto
# ~10% of ALL events, the textbook skew that salting exists for.
HOT_USER = 424242


@pytest.fixture(scope="module")
def skewed_sf_dir(spark, sf_dir, tmp_path_factory):
    from utils_infra_spark.sources.tables import load_table

    out = tmp_path_factory.mktemp("skewed_sf")
    ev = load_table(spark, sf_dir, "events")
    skewed = ev.withColumn(
        "user_id",
        F.when(F.pmod("event_id", F.lit(10)) == 0, F.lit(HOT_USER)).otherwise(F.col("user_id")),
    )
    skewed.write.parquet(str(out / "events.parquet"))
    return str(out)


def test_salt_spreads_hot_key_across_partials(spark, skewed_sf_dir):
    """The hot key's rows must land in >= salt_buckets/2 distinct
    partial groups — measured with the operator's OWN salt expression
    (operators/skew.py salt_column), on a (user_id, ts) projection."""
    from utils_infra_spark.operators.skew import salt_column
    from utils_infra_spark.sources.tables import load_table

    buckets = 8
    ev = load_table(spark, skewed_sf_dir, "events")
    hot = ev.where(F.col("user_id") == HOT_USER).select("user_id", "ts")
    assert hot.count() >= 100  # the fixture really made a hot key (~10% of events)
    n_partials = (
        hot.withColumn("__salt", salt_column(hot, buckets)).select("__salt").distinct().count()
    )
    assert n_partials >= buckets // 2, f"hot key spread over only {n_partials}/{buckets} partials"


def test_weighted_sample_monotone_and_stable(spark):
    from utils_infra_spark.pipeline.sampling import weighted_sample

    df = spark.range(3000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 100 / 100.0).alias("w")
    )
    kept = set(r.doc_id for r in weighted_sample(df, "doc_id", F.col("w")).collect())
    # stability under repartition
    again = set(
        r.doc_id for r in weighted_sample(df.repartition(9), "doc_id", F.col("w")).collect()
    )
    assert kept == again
    # weight 0 rows never kept; weight ~1 rows kept ~always
    zero_w = {r.doc_id for r in df.where(F.col("w") == 0).collect()}
    assert not (kept & zero_w)
    hi = {r.doc_id for r in df.where(F.col("w") >= 0.99).collect()}
    assert len(kept & hi) / len(hi) > 0.9
    # monotone: doubling every weight only ADDS rows
    kept2 = set(
        r.doc_id
        for r in weighted_sample(df, "doc_id", F.least(F.col("w") * 2, F.lit(1.0))).collect()
    )
    assert kept <= kept2
    # overall rate ~ mean weight (~0.495)
    assert 0.4 < len(kept) / 3000 < 0.6


def test_mixture_resample_rate_one_keeps_everything(spark, sf_dir):
    # rate >= 1.0 must keep ALL rows — split_threshold caps at "ffff",
    # which would silently drop ids whose md5 prefix IS "ffff"
    from utils_infra_spark.pipeline.sampling import mixture_resample
    from utils_infra_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    kept = mixture_resample(docs, "lang", "doc_id", {}, default_rate=1.0)
    assert kept.count() == docs.count()
    # and per-group rates only affect their own group
    en_only = mixture_resample(docs, "lang", "doc_id", {"en": 0.0}, default_rate=1.0)
    assert en_only.where("lang = 'en'").count() == 0
    assert en_only.where("lang != 'en'").count() == docs.where("lang != 'en'").count()


def test_weighted_sample_weight_one_keeps_all(spark):
    from pyspark.sql import functions as F

    from utils_infra_spark.pipeline.sampling import weighted_sample

    df = spark.range(200000).withColumnRenamed("id", "doc_id")
    kept = weighted_sample(df, "doc_id", F.lit(1.0)).count()
    assert kept == 200000  # 'ffff'-hashing ids must not vanish at weight 1.0


def test_token_chunks_no_fully_contained_tail(spark):
    from utils_infra_spark.pipeline.sampling import token_chunks

    text = " ".join(f"t{i}" for i in range(31))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = token_chunks(df, "doc_id", "text", chunk_size=40, overlap=10).collect()
    # one chunk covers all 31 tokens; a start=30 chunk would be a
    # subset of it (duplicated training text)
    assert [(r.start, r.n_tokens) for r in rows] == [(0, 31)]
    # longer doc still chunks normally and covers every token
    text2 = " ".join(f"t{i}" for i in range(101))
    df2 = spark.createDataFrame([(1, text2)], "doc_id long, text string")
    rows2 = sorted((r.start, r.n_tokens) for r in token_chunks(df2, "doc_id", "text").collect())
    assert rows2 == [(0, 40), (30, 40), (60, 40), (90, 11)]
    assert max(s + n for s, n in rows2) == 101
