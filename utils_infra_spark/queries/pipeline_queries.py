"""LLM-data-pipeline queries: dedup, similarity search, text analysis
(driver north star; SURVEY.md §7 Phase 8) over documents/embeddings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline import text as T
from ..pipeline.dedup import dedup_exact, minhash_near_duplicates, simhash64
from ..pipeline.similarity import brute_force_topk_codegen, bucketed_pairs
from ..sources import load_table
from ..sources.tables import spread
from . import REGISTRY, register


# ---------------------------------------------------------------- dedup
@register(
    "dedup_exact_documents",
    oracle="""
    SELECT sha256(text) AS fp, MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
    FROM documents GROUP BY sha256(text)
    """,
    doc="Exact dedup via content-hash groupBy — shuffle carries digests, not documents.",
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup_exact(docs, "text", "doc_id")


@register(
    "minhash_near_dup_documents",
    oracle=None,  # xxhash64 is engine-specific → rows-only check; exactness is covered by unit tests vs brute-force jaccard
    doc="MinHash+LSH near-dup pairs: shingle→16 minhashes→8 bands→bucket join→exact-Jaccard verify ≥0.5.",
)
def minhash_near_dup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_duplicates(docs, "text", "doc_id", k_shingle=3, num_hashes=16, bands=8, threshold=0.5)


@register(
    "simhash_documents",
    oracle=None,  # xxhash64 bit-voting is engine-specific
    doc="64-bit SimHash signature per document via HOF bit-voting (no UDF).",
)
def simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash64(docs, "text", "doc_id")


@register(
    "simhash_documents_md5",
    oracle="""
    WITH ex AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ),
    nib AS (
      SELECT doc_id,
             instr('0123456789abcdef', substr(md5(tok), 1, 1)) - 1 AS n0,
             instr('0123456789abcdef', substr(md5(tok), 2, 1)) - 1 AS n1,
             instr('0123456789abcdef', substr(md5(tok), 3, 1)) - 1 AS n2,
             instr('0123456789abcdef', substr(md5(tok), 4, 1)) - 1 AS n3
      FROM ex
    ),
    votes AS (
      SELECT doc_id,
             SUM(CASE WHEN (n0 // 1) % 2 = 1 THEN 1 ELSE -1 END) AS v0,
             SUM(CASE WHEN (n0 // 2) % 2 = 1 THEN 1 ELSE -1 END) AS v1,
             SUM(CASE WHEN (n0 // 4) % 2 = 1 THEN 1 ELSE -1 END) AS v2,
             SUM(CASE WHEN (n0 // 8) % 2 = 1 THEN 1 ELSE -1 END) AS v3,
             SUM(CASE WHEN (n1 // 1) % 2 = 1 THEN 1 ELSE -1 END) AS v4,
             SUM(CASE WHEN (n1 // 2) % 2 = 1 THEN 1 ELSE -1 END) AS v5,
             SUM(CASE WHEN (n1 // 4) % 2 = 1 THEN 1 ELSE -1 END) AS v6,
             SUM(CASE WHEN (n1 // 8) % 2 = 1 THEN 1 ELSE -1 END) AS v7,
             SUM(CASE WHEN (n2 // 1) % 2 = 1 THEN 1 ELSE -1 END) AS v8,
             SUM(CASE WHEN (n2 // 2) % 2 = 1 THEN 1 ELSE -1 END) AS v9,
             SUM(CASE WHEN (n2 // 4) % 2 = 1 THEN 1 ELSE -1 END) AS v10,
             SUM(CASE WHEN (n2 // 8) % 2 = 1 THEN 1 ELSE -1 END) AS v11,
             SUM(CASE WHEN (n3 // 1) % 2 = 1 THEN 1 ELSE -1 END) AS v12,
             SUM(CASE WHEN (n3 // 2) % 2 = 1 THEN 1 ELSE -1 END) AS v13,
             SUM(CASE WHEN (n3 // 4) % 2 = 1 THEN 1 ELSE -1 END) AS v14,
             SUM(CASE WHEN (n3 // 8) % 2 = 1 THEN 1 ELSE -1 END) AS v15
      FROM nib GROUP BY doc_id
    )
    SELECT doc_id, CAST(
        (CASE WHEN v0 > 0 THEN 1 ELSE 0 END) + (CASE WHEN v1 > 0 THEN 2 ELSE 0 END)
      + (CASE WHEN v2 > 0 THEN 4 ELSE 0 END) + (CASE WHEN v3 > 0 THEN 8 ELSE 0 END)
      + (CASE WHEN v4 > 0 THEN 16 ELSE 0 END) + (CASE WHEN v5 > 0 THEN 32 ELSE 0 END)
      + (CASE WHEN v6 > 0 THEN 64 ELSE 0 END) + (CASE WHEN v7 > 0 THEN 128 ELSE 0 END)
      + (CASE WHEN v8 > 0 THEN 256 ELSE 0 END) + (CASE WHEN v9 > 0 THEN 512 ELSE 0 END)
      + (CASE WHEN v10 > 0 THEN 1024 ELSE 0 END) + (CASE WHEN v11 > 0 THEN 2048 ELSE 0 END)
      + (CASE WHEN v12 > 0 THEN 4096 ELSE 0 END) + (CASE WHEN v13 > 0 THEN 8192 ELSE 0 END)
      + (CASE WHEN v14 > 0 THEN 16384 ELSE 0 END) + (CASE WHEN v15 > 0 THEN 32768 ELSE 0 END)
      AS BIGINT) AS simhash16
    FROM votes
    """,
    doc="16-bit SimHash, md5 bit source — oracle-checkable twin of the xxhash64 production sketch (same tokenize→vote→sign-pack contract).",
)
def simhash_documents_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.dedup import simhash16_md5

    docs = load_table(spark, sf_dir, "documents")
    return simhash16_md5(docs, "text", "doc_id")


@register(
    "minhash_band_keys_md5",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS t FROM documents
      WHERE text IS NOT NULL AND trim(text) <> ''
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(t) >= 3
                  THEN [array_to_string(t[i:i+2], ' ') FOR i IN range(1, len(t) - 1)]
                  ELSE [array_to_string(t, ' ')] END AS grams
      FROM toks
    ),
    ex AS (SELECT doc_id, unnest(grams) AS g FROM sh),
    sig AS (
      SELECT doc_id,
             MIN(substr(md5('mh0:' || g), 1, 16)) AS h0,
             MIN(substr(md5('mh1:' || g), 1, 16)) AS h1,
             MIN(substr(md5('mh2:' || g), 1, 16)) AS h2,
             MIN(substr(md5('mh3:' || g), 1, 16)) AS h3,
             MIN(substr(md5('mh4:' || g), 1, 16)) AS h4,
             MIN(substr(md5('mh5:' || g), 1, 16)) AS h5,
             MIN(substr(md5('mh6:' || g), 1, 16)) AS h6,
             MIN(substr(md5('mh7:' || g), 1, 16)) AS h7
      FROM ex GROUP BY doc_id
    )
    SELECT doc_id, band, key FROM (
      SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS key FROM sig
      UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig
      UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM sig
      UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM sig
    )
    """,
    doc="MinHash LSH band keys, md5 sketch hash — oracle-checkable twin of the xxhash64 candidate-generation stage (shingle→8 minhashes→4 band keys).",
)
def minhash_band_keys_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.dedup import minhash_band_keys

    docs = load_table(spark, sf_dir, "documents")
    return minhash_band_keys(docs, "text", "doc_id", k_shingle=3, num_hashes=8, bands=4, hash_family="md5")


@register(
    "ngram_jaccard_bucketed",
    oracle="""
    WITH sh AS (
      SELECT doc_id, lang,
             list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]) AS grams
      FROM (SELECT doc_id, lang, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks FROM documents)
      WHERE len(toks) >= 3
    ),
    -- exact candidate restriction: jaccard >= 0.4 > 0 requires a
    -- shared gram, so only same-lang pairs sharing >= 1 gram need
    -- scoring (the plain bucketed cross join was ~2.5M list_intersects
    -- at sf0.1 — too slow for the scale-parity net)
    ex AS (SELECT doc_id, lang, unnest(grams) AS g FROM sh),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ex a JOIN ex b ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b,
             ROUND(CAST(len(list_intersect(sa.grams, sb.grams)) AS DOUBLE) /
                   len(list_distinct(list_concat(sa.grams, sb.grams))), 6) AS jaccard
      FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
    )
    SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.4
    """,
    doc="Exact n-gram Jaccard pairs bucketed by lang (bounded quadratic; the LSH-free exact path).",
)
def ngram_jaccard_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _lang_gram_pairs(load_table(spark, sf_dir, "documents"))


def _lang_gram_pairs(docs: DataFrame) -> DataFrame:
    """Same-lang doc pairs (id_a < id_b) whose distinct token-3-gram
    Jaccard, rounded to 6 places, is >= 0.4: the broadcast self-join of
    ngram_jaccard_bucketed and of near_dup_clusters' first detector."""
    from ..pipeline.dedup import jaccard, shingles_from_tokens

    base = (
        spread(docs.select("doc_id", "lang", "text"))
        .select("doc_id", "lang", F.split(F.trim("text"), "[ \\t\\n\\x0B\\f\\r]+").alias("toks"))
        .select("doc_id", "lang", F.array_distinct(shingles_from_tokens("toks", 3)).alias("grams"), F.size("toks").alias("ntok"))
        .where(F.col("ntok") >= 3)
    )
    a, b = spread(base).alias("a"), F.broadcast(base).alias("b")
    return (
        a.join(b, (F.col("a.lang") == F.col("b.lang")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(jaccard(F.col("a.grams"), F.col("b.grams")), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= 0.4)
    )


# ---------------------------------------------------------------- similarity
@register(
    "embedding_topk_cosine",
    oracle="""
    -- integer-quantized cosine contract (r10): every element is
    -- quantized ONCE to floor(v*1e6 + 0.5) integers; dots and norms
    -- are exact integer sums of those (products <= 64*(0.6e6)^2 ~
    -- 2.3e13 < 2^53, so the double-typed list_dot_product below is
    -- still EXACT integer arithmetic, merge-order-free); only the
    -- final division runs in floating point, on identical integers —
    -- IEEE-identical cross-engine — then floor-quantizes to 1e-6
    -- (floor(x+0.5), not ROUND: half-away-from-zero vs half-up would
    -- differ on negative cosines). Zero-norm and wrong-length vectors
    -- are excluded on both sides (cosine undefined; NaN ranks
    -- differently per engine).
    WITH q AS (
      SELECT vec_id AS query_id,
             list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000 + 0.5)) AS qv
      FROM embeddings WHERE vec_id < 8 AND len(embedding) = 64
    ),
    qn AS (
      SELECT query_id, qv, list_dot_product(qv, qv) AS qn2 FROM q
      WHERE list_dot_product(qv, qv) > 0
    ),
    c AS (
      SELECT vec_id AS cand_id,
             list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000 + 0.5)) AS cv
      FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = 64
    ),
    cn AS (
      SELECT cand_id, cv, list_dot_product(cv, cv) AS cn2 FROM c
      WHERE list_dot_product(cv, cv) > 0
    ),
    scored AS (
      SELECT qn.query_id, cn.cand_id,
             CAST(FLOOR(list_dot_product(qn.qv, cn.cv) / (sqrt(qn.qn2) * sqrt(cn.cn2))
                        * 1000000 + 0.5) AS BIGINT) / 1000000.0 AS cos_sim
      FROM cn, qn WHERE qn.query_id <> cn.cand_id
    )
    SELECT query_id, cand_id, cos_sim, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """,
    doc="Brute-force cosine top-k ANN baseline, ALL-JVM (r10 rewrite of "
    "the Arrow-kernel path, whose two Python crossings were the whole "
    "warm cost): posexplode the candidate vectors, ONE hash aggregate "
    "per candidate computing all 8 query dots as sums over 64-int "
    "literal arrays plus the self-norm (jl_project_long's proven "
    "codegen shape — map-side combine collapses to one row per "
    "candidate before any exchange), then a (partition, query)-keyed "
    "partial top-k so no per-query hot key ever funnels the corpus "
    "through one task. Integer-quantized cosine end to end: exact "
    "integer dots for any partitioning, one IEEE division on identical "
    "integers, floor-quantized at 1e-6.",
)
def embedding_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    return brute_force_topk_codegen(queries, emb, vec_col="embedding", id_col="vec_id", k=5)


@register(
    "embedding_bucketed_pairs",
    oracle="""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS bucket,
             ROUND(list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, bucket, cos_sim FROM pairs WHERE cos_sim >= 0.25
    """,
    doc="IVF-style bucketed near-dup pairs: intra-bucket cosine ≥ 0.25 — the quadratic shrinks nlist× and shuffles on the bucket key.",
)
def embedding_bucketed_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return bucketed_pairs(emb, vec_col="embedding", id_col="vec_id", bucket_col="label", threshold=0.25).select(
        "id_a", "id_b", "bucket", "cos_sim"
    )


@register(
    "label_centroids",
    oracle="""
    SELECT label, CAST(t.i AS INT) AS pos,
           ROUND(AVG(CAST(embedding[CAST(t.i AS INT) + 1] AS DOUBLE)), 6) AS mean_val
    FROM embeddings, range(0, 64) t(i)
    GROUP BY label, t.i
    """,
    doc="IVF coarse-codebook bootstrap: per-label mean vector via posexplode + (key,pos) shuffle — fully parallel at any dim.",
)
def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select("label", F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias("pos", "val"))
    return exploded.groupBy("label", "pos").agg(F.round(F.avg("val"), 6).alias("mean_val"))


# ---------------------------------------------------------------- text analysis
@register(
    "text_stats_documents",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           ROUND(CAST(length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', '', 'g')) AS DOUBLE) /
                 len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')), 6) AS avg_token_len,
           ROUND(CAST(len(list_filter(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+'),
                                       t -> lower(t) IN ('the','a'))) AS DOUBLE) /
                 len(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')), 6) AS stopword_ratio
    FROM documents
    WHERE text IS NOT NULL AND trim(text) <> ''
    """,
    doc="Token counting + quality signals as one codegen projection (length/stopword ratios).",
)
def text_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # explode + groupBy instead of per-row HOF lambdas: lambda HOFs run
    # interpreted (outside codegen); the exploded shape keeps every
    # expression codegen'd and the shuffle carries partial aggregates
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    ex = docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_actual"),
        F.explode(T.tokens("text")).alias("tok"),
    )
    n = F.count(F.lit(1))
    return ex.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_tokens"),
        F.first("n_chars_actual").alias("n_chars_actual"),
        F.round(F.sum(F.length("tok")) / n, 6).alias("avg_token_len"),
        F.round(F.sum(F.when(F.lower("tok").isin("the", "a"), 1).otherwise(0)) / n, 6).alias("stopword_ratio"),
    ).select("doc_id", "n_tokens", "n_chars_actual", "avg_token_len", "stopword_ratio")


@register(
    "token_histogram",
    oracle="""
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS token FROM documents
          WHERE text IS NOT NULL AND trim(text) <> '')
    GROUP BY token ORDER BY n DESC, token
    """,
    doc="Corpus token histogram: explode + count — the map-side partial agg collapses the long tail before shuffle.",
)
def token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    return (
        docs.select(F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "token")
    )


@register(
    "lang_distribution",
    oracle="""
    SELECT lang, COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR((n_chars)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 AS total_chars,
           ROUND(CAST(SUM(CAST(FLOOR((n_chars)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000 / COUNT(n_chars), 4) AS avg_chars
    FROM documents GROUP BY lang
    """,
    doc="Language distribution rollup over the documents corpus.",
)
def lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregations import davg, dsum

    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("n_chars", "total_chars"),
        davg("n_chars", "avg_chars", scale=4),
    )


@register(
    "doc_fingerprints",
    oracle=None,  # rolling xxhash64 fingerprint is engine-specific
    doc="Winnowing-style rolling-hash document fingerprints (HOF-only).",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.select("doc_id", F.split(F.trim("text"), "[ \\t\\n\\x0B\\f\\r]+").alias("toks"), F.col("text")).select(
        "doc_id",
        T.rolling_fingerprint_from_tokens("toks").alias("fingerprint"),
        T.lang_guess("text").alias("lang_guess"),
    )


@register(
    "quality_filter_documents",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS t FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
             CASE WHEN len(t) BETWEEN 10 AND 100000 THEN 0.4 ELSE 0.0 END
             + least(ROUND(CAST(len(list_filter(t, x -> lower(x) IN ('the','a','of','to','is'))) AS DOUBLE) / len(t), 6) * 4, 1.0) * 0.3
             + CASE WHEN ROUND(CAST(length(array_to_string(t, '')) AS DOUBLE) / len(t), 6) BETWEEN 2.5 AND 12.0 THEN 0.3 ELSE 0.0 END
             AS quality
      FROM toks WHERE len(t) > 0
    )
    -- filter on the ROUNDED score, same as the Spark side: a raw
    -- 0.4999996 that rounds to 0.5 must be kept by both engines
    SELECT doc_id, lang, ROUND(quality, 6) AS quality FROM scored WHERE ROUND(quality, 6) >= 0.5
    """,
    doc="Gopher-flavored quality scoring + filter in one projection.",
)
def quality_filter_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    stopwords = ["the", "a", "of", "to", "is"]
    return (
        docs.select("doc_id", "lang", F.round(T.quality_score("text", stopwords), 6).alias("quality"))
        .where(F.col("quality") >= 0.5)
    )


@register(
    "embedding_lsh_ann",
    oracle=None,  # LSH bucket assignment is hash/plane-specific; recall vs brute force is asserted in tests/test_pipeline.py
    doc="Sign-LSH ANN scale path: 8 deterministic hyperplanes bucket vectors; top-k searched within the query's bucket only (candidates drop ~256x).",
)
def embedding_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    import random

    from ..pipeline.similarity import brute_force_topk, sign_lsh_bucket

    rng = random.Random(42)
    planes = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(8)]
    emb = load_table(spark, sf_dir, "embeddings")
    bucketed = emb.withColumn("bucket", sign_lsh_bucket("embedding", planes))
    queries = bucketed.where(F.col("vec_id") < 8)
    # two-level candidate restriction: the semi-join prunes the SCAN
    # to buckets any query occupies, and bucket_col constrains each
    # query's RANKING to its own bucket (not the union of all query
    # buckets — that leak inflated candidate sets per query)
    cand = bucketed.select("vec_id", "embedding", "bucket")
    pruned = cand.join(
        queries.select(F.col("bucket").alias("qb")).distinct(),
        F.col("bucket") == F.col("qb"),
        "semi",
    )
    # the Arrow kernel is the only one with a bucket constraint
    return brute_force_topk(
        queries.select("vec_id", "embedding", "bucket"), pruned, k=5, bucket_col="bucket"
    )


@register(
    "sitrep_summarize",
    oracle=None,  # the model call (even stubbed) is not SQL-expressible; golden outputs are asserted in tests/test_summarize.py
    doc="§2.11 LLM-summarize stage (sitrep lifecycle): F7 fresh filter + retracted-metadata exclusion (ref lambda/sitrep-generator/index.py:252-263) → compact context projection (F16, ref :300-306) → per-layer batched prompt → deterministic stub model → per-layer report rows (ref :397-425).",
)
def sitrep_summarize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import filters
    from ..pipeline.summarize import llm_summarize_by_key
    from .relational import EVENTS_NOW

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(EVENTS_NOW).cast("timestamp") - F.expr("INTERVAL 5 DAYS")
    # retracted-feature analog of is_deleted_quake: a JSON metadata
    # predicate drops ~5% of rows before the model ever sees them
    retracted = F.get_json_object("props", "$.k").cast("int") % 20 == 0
    live = ev.where(filters.fresh("ts", cutoff)).where(~F.coalesce(retracted, F.lit(False)))
    return llm_summarize_by_key(
        live,
        key_col="event_type",
        callsign_col="user_id",
        time_col="ts",
        metadata_col="props",
    ).orderBy("layer")


# ---------------------------------------------------------------- IVF ANN
def _ivf_centroids(nlist: int = 6, dim: int = 64, seed: int = 11) -> list[tuple[int, list[float]]]:
    """Deterministic literal codebook (the IVF contract: nlist ≪ N;
    a trained codebook would come from label_centroids — literals
    keep the oracle SQL-expressible)."""
    import random

    rng = random.Random(seed)
    return [(cid, [rng.gauss(0, 1) for _ in range(dim)]) for cid in range(nlist)]


def _cents_sql(cents: list[tuple[int, list[float]]]) -> str:
    rows = ", ".join(f"({cid}, {vals}::DOUBLE[])" for cid, vals in ((c, list(v)) for c, v in cents))
    return f"cents(cid, cv) AS (VALUES {rows})"


_IVF_DIST = (
    "FLOOR((list_dot_product({v}, {v}) - 2*list_dot_product({v}, {c})"
    " + list_dot_product({c}, {c}))*1000000 + 0.5)"
)


@register(
    "ivf_assign_lists",
    oracle=None,  # filled in below (needs the literal codebook)
    doc="IVF coarse quantization: nearest-centroid assignment (squared-L2 argmin, quantized with the floor rule, ties → smallest cid) as a shuffle-free Arrow projection — oracle reproduces the argmin in SQL over the same literal codebook.",
)
def ivf_assign_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.similarity import ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_assign(emb, _ivf_centroids(), vec_col="embedding", id_col="vec_id")
    return out.select("vec_id", "list_id")


REGISTRY["ivf_assign_lists"].oracle = f"""
    WITH {_cents_sql(_ivf_centroids())},
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    d AS (
      SELECT e.vec_id, c.cid, {_IVF_DIST.format(v="e.v", c="c.cv")} AS dq
      FROM e CROSS JOIN cents c
    )
    SELECT vec_id, CAST(cid AS BIGINT) AS list_id FROM (
      SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dq, cid) AS rn FROM d
    ) WHERE rn = 1
    """


@register(
    "ivf_topk_probes",
    oracle=None,  # filled in below
    doc="IVF ANN search: each query probes its nprobe=2 nearest centroid lists and ranks only candidates assigned there — composition of ivf_assign + the bucket-constrained top-k kernel; full SQL oracle reproduces assignment, probe selection, and ranking.",
)
def ivf_topk_probes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    return ivf_topk(queries, emb, _ivf_centroids(), vec_col="embedding", id_col="vec_id", nprobe=2, k=5)


REGISTRY["ivf_topk_probes"].oracle = f"""
    WITH {_cents_sql(_ivf_centroids())},
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    assign AS (
      SELECT vec_id, cid AS list_id FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_IVF_DIST.format(v="e.v", c="c.cv")}, c.cid) AS rn
        FROM e CROSS JOIN cents c
      ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 8),
    qprobe AS (
      SELECT query_id, cid AS list_id FROM (
        SELECT q.query_id, c.cid,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY {_IVF_DIST.format(v="q.qv", c="c.cv")}, c.cid) AS rn
        FROM q CROSS JOIN cents c
      ) WHERE rn <= 2
    ),
    scored AS (
      SELECT q.query_id, e.vec_id AS cand_id,
             FLOOR(list_dot_product(q.qv, e.v)
                   / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))
                   * 1000000 + 0.5)/1000000 AS cos_sim
      FROM q
      JOIN qprobe p ON p.query_id = q.query_id
      JOIN assign a ON a.list_id = p.list_id
      JOIN e ON e.vec_id = a.vec_id
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, cand_id, cos_sim, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
      FROM scored
    ) WHERE rnk <= 5
    """


@register(
    "top_terms_tfidf",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ), dfx AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY 1
    ), n AS (
      SELECT COUNT(*) AS n FROM documents
    )
    SELECT doc_id, term, tf, df, score, CAST(rn AS INT) AS rn FROM (
      SELECT tf.doc_id, tf.term, tf.tf, dfx.df,
             CAST(tf.tf AS DOUBLE) * n.n / dfx.df AS score,
             row_number() OVER (PARTITION BY tf.doc_id
                                ORDER BY CAST(tf.tf AS DOUBLE) * n.n / dfx.df DESC,
                                         tf.term) AS rn
      FROM tf JOIN dfx ON tf.term = dfx.term CROSS JOIN n
    ) WHERE rn <= 3
    """,
    doc="Top-3 terms per document by tf-idf (rational form tf·N/df — exact integer-ratio "
    "double, no ln() whose last-ulp can differ across libm implementations). Two aggs "
    "over one token explode; the term-document-frequency dictionary joins back by term "
    "(vocabulary-sized — broadcastable at any corpus scale) and N broadcasts as a 1-row "
    "scalar subquery.",
)
def top_terms_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.temporal import scalar_subquery

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split(F.trim("text"), "[ \\t\\n\\x0B\\f\\r]+")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfx = toks.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = scalar_subquery(docs, F.count(F.lit(1)).alias("n"))
    scored = (
        tf.join(F.broadcast(dfx), "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score", F.col("tf").cast("double") * F.col("n") / F.col("df"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "score", F.col("rn").cast("int").alias("rn"))
    )


@register(
    "boilerplate_gram_ratio",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+') AS toks FROM documents
    ), g AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, unnest(CASE WHEN len(toks) >= 3
              THEN list_transform(range(1, len(toks) - 1),
                                  i -> array_to_string(toks[i : i + 2], ' '))
              ELSE [array_to_string(toks, ' ')] END) AS gram
        FROM t)
    ), freq AS (
      SELECT gram FROM g GROUP BY gram HAVING COUNT(*) >= 20
    )
    SELECT g.doc_id,
           COUNT(*) AS n_grams,
           COUNT(freq.gram) AS n_frequent,
           CAST(COUNT(freq.gram) AS DOUBLE) / COUNT(*) AS boilerplate_ratio
    FROM g LEFT JOIN freq ON g.gram = freq.gram
    GROUP BY g.doc_id
    """,
    doc="Boilerplate screen (the line-dedup analog for unstructured text): per document, "
    "the fraction of its distinct 3-grams that are corpus-frequent (appear in ≥20 docs). "
    "The frequent-gram dictionary is corpus-bounded-small and broadcasts; the corpus "
    "side shuffles once to dedup (doc, gram) and once for the per-doc count — text "
    "never moves after tokenization.",
)
def boilerplate_gram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.dedup import shingles_from_tokens

    docs = load_table(spark, sf_dir, "documents")
    g = (
        docs.select("doc_id", F.split(F.trim("text"), "[ \\t\\n\\x0B\\f\\r]+").alias("__toks"))
        .select("doc_id", F.explode(shingles_from_tokens("__toks", 3)).alias("gram"))
        .dropDuplicates(["doc_id", "gram"])
    )
    freq = g.groupBy("gram").agg(F.count(F.lit(1)).alias("gdf")).where(F.col("gdf") >= 20).select("gram")
    flagged = g.join(F.broadcast(freq.withColumn("__hit", F.lit(1))), "gram", "left")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("__hit").alias("n_frequent"),
        (F.count("__hit").cast("double") / F.count(F.lit(1))).alias("boilerplate_ratio"),
    )


@register(
    "inverted_index_postings",
    oracle=r"""
    WITH pairs AS (
      SELECT DISTINCT doc_id, term FROM (
        SELECT doc_id, unnest(regexp_split_to_array(trim(text), '[ \t\n\x0B\f\r]+')) AS term
        FROM documents)
    )
    SELECT term, COUNT(*) AS df,
           array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
    FROM pairs GROUP BY term HAVING COUNT(*) >= 50
    """,
    doc="Inverted-index build: per term, the sorted posting list of containing docs "
    "(df ≥ 50 bounds output to the head of the vocabulary). One shuffle on the term after "
    "the distinct — posting lists are assembled where the term's rows land, the "
    "standard distributed index-build shape; the sorted-array canonical form makes the "
    "list order engine-independent.",
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        docs.select("doc_id", F.explode(F.split(F.trim("text"), "[ \\t\\n\\x0B\\f\\r]+")).alias("term"))
        .dropDuplicates(["doc_id", "term"])
    )
    return (
        pairs.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.transform(F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")),
                ",",
            ).alias("postings"),
        )
        .where(F.col("df") >= 50)
    )


@register(
    "snapshot_diff_documents",
    oracle="""
    WITH v2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 17 = 0 THEN text || ' rev2' ELSE text END AS text
      FROM documents WHERE doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 19 = 0
    ), o AS (
      SELECT doc_id, md5(text) AS old_digest FROM documents
    ), n AS (
      SELECT doc_id, md5(text) AS new_digest FROM v2
    ), d AS (
      SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN old_digest = new_digest THEN 'unchanged'
                  ELSE 'changed' END AS status
      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    )
    SELECT status, COUNT(*) AS n_docs FROM d GROUP BY status
    """,
    doc="Snapshot diff (crawl N vs N+1): classify ids added/removed/changed/unchanged by "
    "comparing content digests — the full-outer join shuffles (id, md5) pairs only, so "
    "diffing two 100 TB snapshots moves gigabytes, not documents. v2 here is derived "
    "from the same table (deletions %13, edits %17, additions %19) so the diff is "
    "oracle-checkable end to end.",
)
def snapshot_diff_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.dedup import dataset_diff

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    v2 = (
        docs.where(F.col("doc_id") % 13 != 0)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 17 == 0, F.concat("text", F.lit(" rev2")))
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionAll(
            docs.where(F.col("doc_id") % 19 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
    )
    diff = dataset_diff(docs, v2, "doc_id", ["text"])
    return diff.groupBy("status").agg(F.count(F.lit(1)).alias("n_docs"))


# ------------------------------------------------------- dup clustering
@register(
    "near_dup_clusters",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id, lang,
             list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]) AS grams
      FROM (SELECT doc_id, lang, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks FROM documents)
      WHERE len(toks) >= 3
    ),
    -- exact candidate restriction (same argument as
    -- ngram_jaccard_bucketed's oracle): jaccard >= 0.4 needs a shared
    -- gram, so only gram-sharing same-lang pairs are scored
    exg AS (SELECT doc_id, lang, unnest(grams) AS g FROM sh),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM exg a JOIN exg b ON a.g = b.g AND a.lang = b.lang AND a.doc_id < b.doc_id
    ),
    jp AS (
      SELECT id_a AS src, id_b AS dst
      FROM cand JOIN sh sa ON sa.doc_id = id_a JOIN sh sb ON sb.doc_id = id_b
      WHERE ROUND(CAST(len(list_intersect(sa.grams, sb.grams)) AS DOUBLE) /
                  len(list_distinct(list_concat(sa.grams, sb.grams))), 6) >= 0.4
    ),
    pp AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM documents a JOIN documents b
        ON a.doc_id < b.doc_id AND substr(a.text, 1, 32) = substr(b.text, 1, 32)
    ),
    edges AS (SELECT src, dst FROM jp UNION SELECT src, dst FROM pp),
    sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    reach(node, comp) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.node
    ),
    cc AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node)
    SELECT d.doc_id,
           COALESCE(cc.comp, d.doc_id) AS cluster_id,
           COUNT(*) OVER (PARTITION BY COALESCE(cc.comp, d.doc_id)) AS cluster_size,
           d.doc_id = COALESCE(cc.comp, d.doc_id) AS is_representative
    FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
    """,
    doc=(
        "Near-dup CLUSTER resolution: union of two pair detectors "
        "(exact n-gram Jaccard >= 0.4 bucketed by lang; shared 32-char "
        "prefix) -> alternating large-star/small-star connected "
        "components -> one representative per cluster. The oracle "
        "computes the same closure with a recursive CTE. 100 TB: each "
        "CC round shuffles ~16 B/edge candidate pairs, never documents; "
        "O(log^2 n) rounds even on chain-shaped dup graphs."
    ),
)
def near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.cluster import cluster_documents

    docs = load_table(spark, sf_dir, "documents")
    jp = _lang_gram_pairs(docs).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    pref = docs.select("doc_id", F.substring("text", 1, 32).alias("pfx"))
    pa, pb = pref.alias("pa"), pref.alias("pb")
    pp = (
        pa.join(pb, (F.col("pa.pfx") == F.col("pb.pfx")) & (F.col("pa.doc_id") < F.col("pb.doc_id")))
        .select(F.col("pa.doc_id").alias("src"), F.col("pb.doc_id").alias("dst"))
    )
    return cluster_documents(docs.select("doc_id"), jp.union(pp), "doc_id")


# ------------------------------------------------------- PII redaction
@register(
    "pii_redact_documents",
    oracle="""
    WITH synth AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com ip 10.' ||
             CAST(doc_id % 200 AS VARCHAR) || '.0.1 tel +64 21 ' ||
             lpad(CAST(doc_id % 10000000 AS VARCHAR), 7, '0') AS pii_text
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
             '\\+?\\d[\\d\\- ]{7,}\\d', '<PHONE>', 'g') AS redacted,
           len(regexp_extract_all(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
           len(regexp_extract_all(pii_text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS n_ip,
           len(regexp_extract_all(
             regexp_replace(
               regexp_replace(pii_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'),
             '\\+?\\d[\\d\\- ]{7,}\\d')) AS n_phone
    FROM synth
    """,
    doc=(
        "PII redaction over the corpus: emails, IPv4s, and phone-like "
        "digit runs replaced with typed placeholders, with per-doc "
        "audit counts. PII is synthesized deterministically from "
        "doc_id (the corpus has none) so the oracle hash-checks the "
        "exact redacted strings. Patterns restricted to the "
        "Java-regex/RE2 common subset; pure regexp_replace — a narrow "
        "codegen'd map over the scan, zero shuffles at any scale."
    ),
)
def pii_redact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.text import pii_counts, redact_pii

    docs = load_table(spark, sf_dir, "documents")
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com ip 10."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".0.1 tel +64 21 "),
        F.lpad((F.col("doc_id") % 10000000).cast("string"), 7, "0"),
    )
    synth = docs.select("doc_id", pii_text.alias("pii_text"))
    return synth.select(
        "doc_id", redact_pii("pii_text").alias("redacted"), *pii_counts("pii_text")
    )


@register(
    "jaccard_prefix_pairs",
    oracle="""
    WITH d AS (
      SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') FOR i IN range(1, len(toks) - 1)]) AS grams
      FROM (SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks FROM documents)
      WHERE len(toks) >= 3
    ),
    -- candidate pairs = pairs sharing >= 1 gram. EXACT, not an
    -- approximation: jaccard(x,y) >= 0.5 > 0 requires a shared gram,
    -- so the equi-gram join loses nothing vs the naive cross join —
    -- it only avoids scoring the O(n^2) pairs whose jaccard is
    -- provably 0 (the naive form needed ~12.5M list_intersects at
    -- sf0.1 and made the scale-parity net infeasible)
    ex AS (SELECT doc_id, unnest(grams) AS g FROM d),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    p AS (
      SELECT id_a, id_b,
             ROUND(CAST(len(list_intersect(da.grams, db.grams)) AS DOUBLE) /
                   len(list_distinct(list_concat(da.grams, db.grams))), 6) AS jaccard
      FROM cand JOIN d da ON da.doc_id = id_a JOIN d db ON db.doc_id = id_b
    )
    SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.5
    """,
    doc=(
        "All-pairs exact Jaccard via PREFIX FILTERING (AllPairs/PPJoin "
        "family): shingles ordered by ascending global document "
        "frequency; only the first n - ceil(t*n) + 1 (rarest) shingles "
        "join, with a length-ratio prune before exact verification. "
        "LOSSLESS — the oracle is the naive quadratic join, and results "
        "are identical by construction. 100 TB: candidate fan-out "
        "concentrates on globally rare shingles instead of boilerplate; "
        "shuffles carry shingles and id pairs, never documents."
    ),
)
def jaccard_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.dedup import prefix_filter_pairs

    docs = load_table(spark, sf_dir, "documents")
    return prefix_filter_pairs(docs, "text", "doc_id", k_shingle=3, threshold=0.5)


# ------------------------------------------------------- count-min sketch
@register(
    "token_counts_cms",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS t FROM documents
    ),
    exact AS (SELECT t, COUNT(*) AS exact_n FROM tok GROUP BY t),
    cells AS (
      SELECT r.i AS row_idx,
             CAST('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || t), 1, 8) AS BIGINT) % 512 AS bucket,
             COUNT(*) AS cnt
      FROM tok, range(0, 4) r(i)
      GROUP BY 1, 2
    ),
    est AS (
      SELECT e.t, MIN(c.cnt) AS cms_est
      FROM exact e
      JOIN range(0, 4) r(i) ON TRUE
      JOIN cells c
        ON c.row_idx = r.i
       AND c.bucket = CAST('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || e.t), 1, 8) AS BIGINT) % 512
      GROUP BY e.t
    )
    SELECT e.t AS token, e.exact_n, s.cms_est, s.cms_est - e.exact_n AS overestimate
    FROM exact e JOIN est s ON s.t = e.t
    """,
    doc=(
        "Count-min sketch (width 512, depth 4) over the corpus token "
        "stream, point-queried for every distinct token and compared "
        "against exact counts. Hashing is md5-derived so the DuckDB "
        "oracle reproduces the sketch cell-for-cell; overestimate >= 0 "
        "always (one-sided CMS error). The sketch is a <= d*w-row "
        "MERGEABLE DataFrame — per-shard partials union+re-sum, so a "
        "100 TB corpus reduces to a few-KB structure through one "
        "map-side-combined shuffle."
    ),
)
def token_counts_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.sketch import cms_estimate, count_min_sketch

    docs = load_table(spark, sf_dir, "documents")
    tok = spread(docs.select("text"), min_bytes=0).select(
        F.explode(F.split(F.trim("text"), "[ \\t\\n\\x0B\\f\\r]+")).alias("token")
    )
    sketch = count_min_sketch(tok, "token", width=512, depth=4)
    exact = tok.groupBy("token").agg(F.count(F.lit(1)).alias("exact_n"))
    out = cms_estimate(sketch, exact, "token", width=512, depth=4)
    return out.select(
        "token", "exact_n", "cms_est", (F.col("cms_est") - F.col("exact_n")).alias("overestimate")
    )


# ------------------------------------------------------- BM25 retrieval
@register(
    "bm25_search",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+') AS toks FROM documents
    ),
    stats AS (
      SELECT COUNT(*) AS n,
             ROUND(CAST(SUM(CAST(FLOOR(len(toks)*1000000 + 0.5) AS BIGINT)) AS DOUBLE)/1000000
                   / COUNT(*), 6) AS avgdl
      FROM d
    ),
    tf AS (
      SELECT doc_id, t AS term, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS t FROM d)
      WHERE t IN ('join', 'scan', 'filter')
      GROUP BY doc_id, t
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    idf AS (
      SELECT term, ROUND(ln((n - df + 0.5) / (df + 0.5) + 1), 6) AS idf
      FROM dfreq, stats
    ),
    contrib AS (
      SELECT tf.doc_id,
             CAST(FLOOR((idf.idf * tf.tf * 2.2 /
                         (tf.tf + 1.2 * (0.25 + 0.75 * len(d.toks) / stats.avgdl)))*1000000 + 0.5)
                  AS BIGINT) AS cq
      FROM tf JOIN idf ON tf.term = idf.term
              JOIN d ON d.doc_id = tf.doc_id, stats
    ),
    scored AS (
      SELECT doc_id, CAST(SUM(cq) AS DOUBLE)/1000000 AS score FROM contrib GROUP BY doc_id
    )
    SELECT doc_id, score, CAST(rnk AS INT) AS rnk FROM (
      SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk FROM scored
    ) WHERE rnk <= 10
    """,
    doc=(
        "BM25 retrieval (k1=1.2, b=0.75) for a fixed term query, top-10. "
        "Scale shape: the corpus scan keeps only query-term tokens "
        "(broadcast literal set) -> (doc, term, tf) aggregate; df/N/avgdl "
        "are tiny broadcast scalars; per-term contributions quantize to "
        "fixed-point BEFORE the per-doc sum so the score is "
        "order-independent (double addition is not associative across "
        "partitionings); idf rounds to 6dp to absorb engine ln() ulps."
    ),
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.aggregations import dsum
    from ..operators.temporal import scalar_subquery

    TERMS = ["join", "scan", "filter"]
    K1, B = 1.2, 0.75
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.split(F.trim("text"), "[ \\t\\n\\x0B\\f\\r]+").alias("toks"))
    dl = d.select("doc_id", F.size("toks").alias("dl"), "toks")
    stats = scalar_subquery(
        dl,
        F.struct(
            F.count(F.lit(1)).alias("n"),
            F.round(dsum("dl", "avgdl") / F.count(F.lit(1)), 6).alias("avgdl"),
        ).alias("s"),
    ).select("s.n", "s.avgdl")
    tf = (
        d.select("doc_id", F.explode("toks").alias("t"))
        .where(F.col("t").isin(TERMS))
        .groupBy("doc_id", F.col("t").alias("term"))
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = dfreq.crossJoin(F.broadcast(stats)).select(
        "term",
        F.round(F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1), 6).alias("idf"),
    )
    contrib = (
        tf.join(F.broadcast(idf), "term")
        .join(dl.select("doc_id", "dl"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(
                (
                    F.col("idf")
                    * F.col("tf")
                    * F.lit(K1 + 1)
                    / (F.col("tf") + F.lit(K1) * (F.lit(1 - B) + F.lit(B) * F.col("dl") / F.col("avgdl")))
                )
                * 1000000.0
                + 0.5
            )
            .cast("bigint")
            .alias("cq"),
        )
    )
    scored = contrib.groupBy("doc_id").agg((F.sum("cq").cast("double") / 1000000.0).alias("score"))
    # Top-10 via orderBy().limit() -> TakeOrderedAndProject: every
    # partition computes a local top-10, the driver merges 10-row
    # heaps — vs a row_number over an UNpartitioned window, which
    # would funnel every scored doc through one task at 100 TB. The
    # rank is derived from the already-limited 10-row frame, where a
    # global window is free.
    top = scored.orderBy(F.desc("score"), "doc_id").limit(10)
    w = Window.orderBy(F.desc("score"), "doc_id")
    return top.select("doc_id", "score", F.row_number().over(w).cast("int").alias("rnk"))

@register(
    "fuzzy_part_name_pairs",
    oracle="""
    WITH p AS (SELECT p_partkey, p_name, split_part(p_name, ' ', 1) AS blk FROM part)
    SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 1
    """,
    doc="Fuzzy record linkage via blocking: first-token blocking key bounds the "
    "candidate pairs (equi-join, never all-pairs), then exact edit distance "
    "verifies intra-block - the classic blocking+verify shape that scales to "
    "100 TB because pair count is O(sum of block sizes squared), tunable by "
    "key choice, with the shuffle carrying only (block, id, name).",
)
def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    p = part.selectExpr("p_partkey", "p_name", "split_part(p_name, ' ', 1) AS blk")
    a = p.selectExpr("p_partkey AS id_a", "p_name AS name_a", "blk")
    b = p.selectExpr("p_partkey AS id_b", "p_name AS name_b", "blk")
    return (
        a.join(b, "blk")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("bigint"))
        .where(F.col("dist") <= 1)
        .select("id_a", "id_b", "name_a", "name_b", "dist")
    )

@register(
    "column_profile_events",
    oracle="""
    WITH cols AS (
      SELECT 'value' AS col, CAST(value AS DOUBLE) AS v FROM events
      UNION ALL SELECT 'user_id', CAST(user_id AS DOUBLE) FROM events
      UNION ALL SELECT 'event_id', CAST(event_id AS DOUBLE) FROM events)
    SELECT col, COUNT(*) AS n_rows, COUNT(*) - COUNT(v) AS n_null,
           COUNT(DISTINCT v) AS n_distinct,
           CAST(MIN(v) AS DOUBLE) AS min_v, CAST(MAX(v) AS DOUBLE) AS max_v
    FROM cols GROUP BY col
    """,
    doc="Single-scan column profiling (data-quality report): stack() unpivots "
    "the numeric columns in ONE pass over the fact table, then one grouped "
    "aggregate computes per-column rows/nulls/distincts/min/max - the "
    "dataset-card profile a training-data pipeline emits per snapshot. At "
    "100 TB this is one scan + one shuffle keyed by column name (bounded "
    "cardinality), vs one job per column for the naive loop.",
)
def column_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cols = ev.selectExpr(
        "stack(3, 'value', CAST(value AS DOUBLE), "
        "'user_id', CAST(user_id AS DOUBLE), "
        "'event_id', CAST(event_id AS DOUBLE)) AS (col, v)"
    )
    return cols.groupBy("col").agg(
        F.expr("COUNT(1) AS n_rows"),
        F.expr("COUNT(1) - COUNT(v) AS n_null"),
        F.expr("COUNT(DISTINCT v) AS n_distinct"),
        F.expr("CAST(MIN(v) AS DOUBLE) AS min_v"),
        F.expr("CAST(MAX(v) AS DOUBLE) AS max_v"),
    )



@register(
    "line_dedup_documents",
    oracle="""
    WITH lx AS (
      SELECT doc_id, string_split(text, chr(10)) AS ls
      FROM documents WHERE text IS NOT NULL
    ),
    lines AS (
      SELECT doc_id, unnest(range(len(ls))) AS line_no, unnest(ls) AS line
      FROM lx
    ),
    ranked AS (
      SELECT doc_id, line_no, line,
             row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
      -- explicit class, not \\s: Java \\s includes U+000B, RE2's does not
      FROM lines WHERE NOT regexp_matches(line, '^[ \\t\\n\\x0B\\f\\r]*$')
    )
    SELECT doc_id,
           string_agg(line, chr(10) ORDER BY line_no) FILTER (WHERE rn = 1) AS clean_text,
           COUNT(*) FILTER (WHERE rn = 1) AS kept_lines,
           COUNT(*) FILTER (WHERE rn > 1) AS dropped_lines
    FROM ranked GROUP BY doc_id
    HAVING COUNT(*) FILTER (WHERE rn = 1) > 0
    """,
    doc="C4/Dolma corpus line dedup: non-blank lines keep only their globally "
    "first occurrence (deterministic (doc_id, line_no) winner via "
    "min(struct) with map-side partial combine — skew-safe, no window), "
    "documents reassembled from the winner rows in order, empty docs "
    "dropped; per-doc totals computed in-row. The 100 TB payload-trimming "
    "variant (shuffle hashes, re-join winners) is documented on the "
    "operator.",
)
def line_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.dedup import line_dedup_corpus

    docs = load_table(spark, sf_dir, "documents")
    return line_dedup_corpus(docs, "text", "doc_id")


@register(
    "paragraph_dedup_documents",
    oracle="""
    WITH lx AS (
      SELECT doc_id, string_split_regex(text, '\\n{2,}') AS ps
      FROM documents WHERE text IS NOT NULL
    ),
    paras AS (
      SELECT doc_id, unnest(range(len(ps))) AS para_no, unnest(ps) AS para
      FROM lx
    ),
    ranked AS (
      SELECT doc_id, para_no, para,
             row_number() OVER (PARTITION BY para ORDER BY doc_id, para_no) AS rn
      -- explicit class, not \\s: Java \\s includes U+000B, RE2's does not
      FROM paras WHERE NOT regexp_matches(para, '^[ \\t\\n\\x0B\\f\\r]*$')
    )
    SELECT doc_id,
           string_agg(para, chr(10) || chr(10) ORDER BY para_no)
             FILTER (WHERE rn = 1) AS clean_text,
           COUNT(*) FILTER (WHERE rn = 1) AS kept_paragraphs,
           COUNT(*) FILTER (WHERE rn > 1) AS dropped_paragraphs
    FROM ranked GROUP BY doc_id
    HAVING COUNT(*) FILTER (WHERE rn = 1) > 0
    """,
    doc="Dolma-style corpus PARAGRAPH dedup: blank-line-separated paragraphs "
    "keep only their globally first occurrence (deterministic (doc_id, "
    "position) winner via the same skew-safe min(struct) aggregate as the "
    "line form — segment_dedup_corpus parameterizes both), documents "
    "reassembled from survivors joined by a blank line, empty docs dropped. "
    "Paragraphs compare RAW (whole-segment equality), same explicit "
    "whitespace class for blankness.",
)
def paragraph_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.dedup import paragraph_dedup_corpus

    docs = load_table(spark, sf_dir, "documents")
    return paragraph_dedup_corpus(docs, "text", "doc_id")


@register(
    "char_lm_quality_documents",
    oracle="""
    WITH nz AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS t
      FROM documents WHERE text IS NOT NULL
        AND length(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) >= 3
    ),
    tris AS (
      -- lateral unnest(range(...)) measured 3x faster than
      -- materializing a per-doc trigram list via list_transform --
      -- the oracle should be DuckDB at its reasonable best, not a
      -- strawman
      SELECT doc_id, substr(t, CAST(u.i AS INT), 3) AS tri
      FROM nz, LATERAL (SELECT unnest(range(1, length(t) - 1)) AS i) u
    ),
    tc AS (SELECT tri, COUNT(*) AS c3 FROM tris GROUP BY tri),
    cc AS (SELECT substr(tri, 1, 2) AS ctx, SUM(c3) AS c2 FROM tc GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT substr(tri, 3, 1)) AS vsz FROM tc),
    -- per-DISTINCT-trigram term quantized ONCE to integer nanonats
    -- (floor(x*1e9 + 0.5)) so the per-doc reduction is pure integer
    -- arithmetic — order-independent across engines and partitionings
    -- (the event_interarrival / BM25 fixed-point rule)
    q AS (
      SELECT tc.tri,
             CAST(FLOOR(-ln((CAST(tc.c3 AS DOUBLE) + 0.5) /
                            (CAST(cc.c2 AS DOUBLE) + 0.5 * CAST(v.vsz AS DOUBLE)))
                        * 1000000000.0 + 0.5) AS BIGINT) AS q
      FROM tc JOIN cc ON substr(tc.tri, 1, 2) = cc.ctx CROSS JOIN v
    )
    SELECT s.doc_id,
           COUNT(*) AS n_trigrams,
           CAST((2*SUM(q.q) + COUNT(*)*1000) // (2*COUNT(*)*1000) AS DOUBLE) / 1000000.0
             AS avg_neg_logp
    FROM tris s JOIN q USING (tri)
    GROUP BY s.doc_id
    """,
    doc="CCNet-style model-based quality score from a SELF-TRAINED char-trigram "
    "LM: add-k-smoothed -ln P(c3|c1c2) per document (nats/char), reduced as an "
    "integer half-up micro-nat mean over per-trigram nanonat terms — "
    "order-independent cross-engine (never round(avg(double))). The fit "
    "collects the bounded model with a corpus pass AT BUILD TIME, so the "
    "registry never re-serves the plan: every plan() call re-fits — a timing "
    "loop can never amortize the fit away while the paired oracle still pays it.",
)
def char_lm_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.char_trigram_lm_scores(docs, "text", "doc_id")


def _bloom_pos_sql(j: int) -> str:
    a = 4 * j + 1
    nib = lambda i: f"(instr('0123456789abcdef', substr(md5(t), {i}, 1)) - 1)"
    return f"({nib(a)} * 4096 + {nib(a + 1)} * 256 + {nib(a + 2)} * 16 + {nib(a + 3)})"


@register(
    "bloom_novelty_documents",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text AS t FROM documents WHERE text IS NOT NULL
    ),
    split AS (SELECT CAST(max(doc_id) // 2 AS BIGINT) AS sid FROM base),
    pos AS (
      SELECT doc_id, t, unnest([{", ".join(_bloom_pos_sql(j) for j in range(4))}]) AS pos
      FROM base
    ),
    cw AS (
      SELECT pos // 32 AS w,
             bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS word
      FROM pos WHERE doc_id <= (SELECT sid FROM split) GROUP BY 1
    ),
    probe AS (
      SELECT p.doc_id, p.t,
             bool_and(coalesce((cw.word & (1::BIGINT << CAST(p.pos % 32 AS INT))) != 0,
                               FALSE)) AS maybe_seen
      FROM pos p LEFT JOIN cw ON p.pos // 32 = cw.w
      WHERE p.doc_id > (SELECT sid FROM split)
      GROUP BY p.doc_id, p.t
    ),
    ct AS (SELECT DISTINCT t FROM base WHERE doc_id <= (SELECT sid FROM split))
    SELECT probe.doc_id, probe.maybe_seen, (ct.t IS NOT NULL) AS exact_seen
    FROM probe LEFT JOIN ct ON probe.t = ct.t
    """,
    doc="Incremental-ingest dedup via an oracle-checkable Bloom filter: corpus "
    "= doc_id <= max/2, increment = the rest; maybe_seen is the Bloom verdict "
    "(m=2^16 bits as 2048 bit_or'd 32-bit words, k=4 md5-slice positions), exact_seen "
    "the ground truth — exact_seen implies maybe_seen (no false negatives), "
    "their gap is the measured FP set. The filter reaches the probe as a "
    "one-row broadcast map scalar, bits tested in-row — no probe-side "
    "explode/agg, and the corpus never shuffles. Every fresh QueryExecution "
    "re-executes the filter build (broadcast subplans are part of the plan).",
)
def bloom_novelty_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.dedup import bloom_novelty

    docs = load_table(spark, sf_dir, "documents")
    # split over NULL-text-filtered rows, matching the oracle's `base`
    # CTE exactly — computing it over ALL rows would diverge from the
    # oracle whenever the max-id document has NULL text
    split = (
        docs.where(F.col("text").isNotNull())
        .agg(F.expr("CAST(max(doc_id) div 2 AS BIGINT)"))
        .first()[0]
    )
    return bloom_novelty(docs, "text", "doc_id", int(split))


@register(
    "dup_span_coverage_documents",
    oracle="""
    WITH tok AS (
      -- tokenization mirrors the operator's contract EXACTLY: split on
      -- the explicit space/tab/LF/VT/FF/CR class (Java's backslash-s
      -- includes U+000B, RE2's does not) and FILTER empty tokens rather
      -- than trim() (trim strips only 0x20, so trailing LF/tab would
      -- mint phantom empty tokens and inflate n_tokens)
      SELECT doc_id,
             list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'),
                         t -> t <> '') AS ts
      FROM documents WHERE text IS NOT NULL
    ),
    base AS (
      SELECT doc_id, ts, len(ts) AS n_tokens FROM tok WHERE len(ts) > 0
    ),
    win AS (
      SELECT doc_id,
             unnest(range(1, n_tokens - 8 + 2)) AS pos,
             unnest(list_transform(range(1, n_tokens - 8 + 2),
                    i -> md5(array_to_string(ts[i : i + 7], ' ')))) AS h
      FROM base WHERE n_tokens >= 8
    ),
    dup AS (SELECT h FROM win GROUP BY h HAVING COUNT(*) >= 2),
    flagged AS (SELECT win.doc_id, win.pos FROM win JOIN dup USING (h)),
    covered AS (
      SELECT doc_id, COUNT(DISTINCT idx) AS dup_covered_tokens
      FROM (SELECT doc_id, unnest(range(pos, pos + 8)) AS idx FROM flagged)
      GROUP BY doc_id
    )
    SELECT base.doc_id, base.n_tokens,
           COALESCE(covered.dup_covered_tokens, 0) AS dup_covered_tokens,
           ROUND(COALESCE(covered.dup_covered_tokens, 0) * 1.0 / base.n_tokens, 6)
             AS dup_token_ratio
    FROM base LEFT JOIN covered USING (doc_id)
    """,
    doc="Exact-substring duplication coverage (Lee et al. 2022 windowed form): "
    "md5-hashed 8-token sliding windows, corpus-duplicated hashes (count>=2), "
    "per-doc distinct covered-token count + ratio. Aggregates + one shuffled "
    "semi-join; shuffles carry hashes and (doc_id, idx) pairs, never text.",
)
def dup_span_coverage_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.dedup import dup_span_coverage

    docs = load_table(spark, sf_dir, "documents")
    return dup_span_coverage(docs, "text", "doc_id", window=8)


@register(
    "gopher_repetition_documents",
    oracle="""
    WITH base AS (SELECT doc_id, text AS t FROM documents WHERE text IS NOT NULL),
    lx AS (
      SELECT doc_id, trim(l) AS line
      FROM base, LATERAL unnest(string_split(t, chr(10))) AS u(l)
      WHERE NOT regexp_matches(l, '^[ \\t\\n\\x0B\\f\\r]*$')
    ),
    lc AS (SELECT doc_id, line, COUNT(*) AS cnt FROM lx GROUP BY 1, 2),
    ls AS (
      SELECT doc_id, SUM(cnt) AS n_lines, COUNT(*) AS n_distinct,
             SUM(cnt * length(line)) AS total_lc,
             SUM(CASE WHEN cnt = 1 THEN length(line) ELSE 0 END) AS single_lc
      FROM lc GROUP BY 1
    ),
    pt AS (
      SELECT doc_id,
             list_filter(string_split_regex(t, '\\n{2,}'),
                         p -> NOT regexp_matches(p, '^[ \\t\\n\\x0B\\f\\r]*$')) AS paras,
             list_filter(string_split_regex(t, '[ \\t\\n\\x0B\\f\\r]+'), x -> x <> '') AS ts
      FROM base
    ),
    pp AS (
      SELECT doc_id, len(paras) AS n_paras,
             len(list_distinct(list_transform(paras, p -> trim(p)))) AS n_distinct_paras,
             length(array_to_string(ts, ' ')) AS tok_chars, ts
      FROM pt
    ),
    gx AS (
      SELECT doc_id, ts[CAST(u.i AS INT)] || ' ' || ts[CAST(u.i AS INT) + 1] AS gram
      FROM pp, LATERAL (SELECT unnest(range(1, len(ts))) AS i) u
      WHERE len(ts) >= 2
    ),
    gc AS (SELECT doc_id, gram, COUNT(*) AS cnt FROM gx GROUP BY 1, 2),
    gtop AS (
      SELECT doc_id, cnt * length(gram) AS top_chars
      FROM (SELECT doc_id, gram, cnt,
                   row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
            FROM gc)
      WHERE rn = 1
    ),
    m AS (
      SELECT ls.doc_id, ls.n_lines,
             (2*(ls.n_lines - ls.n_distinct)*1000000 + ls.n_lines) // (2*ls.n_lines) AS m_line,
             (2*(ls.total_lc - ls.single_lc)*1000000 + ls.total_lc) // (2*ls.total_lc) AS m_lchar,
             (2*(pp.n_paras - pp.n_distinct_paras)*1000000 + pp.n_paras) // (2*pp.n_paras) AS m_para,
             (2*COALESCE(gtop.top_chars, 0)*1000000 + pp.tok_chars) // (2*pp.tok_chars) AS m_gram
      FROM ls JOIN pp USING (doc_id) LEFT JOIN gtop USING (doc_id)
    )
    SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines,
           CAST(m_line AS DOUBLE) / 1000000.0 AS dup_line_frac,
           CAST(m_lchar AS DOUBLE) / 1000000.0 AS dup_line_char_frac,
           CAST(m_para AS DOUBLE) / 1000000.0 AS dup_para_frac,
           CAST(m_gram AS DOUBLE) / 1000000.0 AS top_2gram_char_frac,
           (m_line <= 300000 AND m_lchar <= 200000 AND m_para <= 300000
            AND m_gram <= 200000) AS gopher_pass
    FROM m
    """,
    doc="Gopher repetition rules (Rae et al. 2021 Table A1) as one per-doc "
    "profile: duplicate-line / duplicate-line-char / duplicate-paragraph / "
    "top-2-gram-char fractions plus the keep-drop verdict at the published "
    "thresholds (0.30/0.20/0.30/0.20). All fractions integer-derived and "
    "published via the half-up micro rule; verdict compared in integer "
    "micros. Every grouping key is doc-scoped (no corpus hot key); lines "
    "and 2-grams explode once each, paragraphs/tokens stay in-row.",
)
def gopher_repetition_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.repetition_profile(docs, "text", "doc_id")


@register(
    "semdedup_embeddings",
    oracle=None,  # filled in below (needs the literal codebook)
    doc="SemDeDup (Abbas et al. 2023): semantic dedup over embeddings - IVF "
    "coarse-quantize to semantic clusters, intra-cluster cosine>=0.4 pairs "
    "via the per-bucket Gram kernel, connected components, keep the min-id "
    "representative per component. Pure composition of three proven "
    "operators (ivf_assign + bucketed_pairs + connected_components); "
    "oracle reproduces assignment, quadratic intra-list pairs, and the "
    "closure with a recursive CTE. 100 TB: assignment is a shuffle-free "
    "projection, the quadratic shrinks nlist-fold and shuffles once on the "
    "list key, CC rounds shuffle ~16 B/edge - vectors never pair across "
    "clusters and documents never shuffle at all.",
)
def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.cluster import cluster_documents
    from ..pipeline.similarity import bucketed_pairs, ivf_assign

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = ivf_assign(emb, _ivf_centroids(), vec_col="embedding", id_col="vec_id")
    pairs = bucketed_pairs(
        assigned, vec_col="embedding", id_col="vec_id", bucket_col="list_id", threshold=0.4
    )
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # cluster_documents owns the singleton-coalesce / cluster_size /
    # min-id-representative contract — one implementation, shared with
    # near_dup_clusters, so the tie-break can never drift between them
    return cluster_documents(emb.select("vec_id"), edges, "vec_id")


REGISTRY["semdedup_embeddings"].oracle = f"""
    WITH RECURSIVE {_cents_sql(_ivf_centroids())},
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    d AS (
      SELECT e.vec_id, c.cid, {_IVF_DIST.format(v="e.v", c="c.cv")} AS dq
      FROM e CROSS JOIN cents c
    ),
    asg AS (
      SELECT vec_id, cid AS list_id FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dq, cid) AS rn FROM d
      ) WHERE rn = 1
    ),
    ev AS (SELECT e.vec_id, e.v, asg.list_id FROM e JOIN asg USING (vec_id)),
    -- floor(x*1e6 + 0.5): the kernel's quantization rule (threshold
    -- values are positive, where floor-half-up == ROUND, but the rule
    -- is mirrored verbatim anyway)
    pairs AS (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM ev a JOIN ev b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
      WHERE FLOOR(list_dot_product(a.v, b.v) /
                  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
                  * 1000000 + 0.5) / 1000000 >= 0.4
    ),
    sym AS (SELECT src, dst FROM pairs UNION SELECT dst, src FROM pairs),
    reach(node, comp) AS (
      SELECT src, src FROM sym
      UNION
      SELECT s.dst, r.comp FROM reach r JOIN sym s ON s.src = r.node
    ),
    cc AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY node)
    SELECT e.vec_id,
           COALESCE(cc.comp, e.vec_id) AS cluster_id,
           COUNT(*) OVER (PARTITION BY COALESCE(cc.comp, e.vec_id)) AS cluster_size,
           e.vec_id = COALESCE(cc.comp, e.vec_id) AS is_representative
    FROM e LEFT JOIN cc ON cc.node = e.vec_id
    """


def _kmeans_iter_sql(prev_cents: str, e: str, tag: str, dim: int = 64) -> str:
    """One unrolled Lloyd round in SQL: argmin assignment against
    ``prev_cents`` (the shared floor-quantized distance + ties to the
    smallest cid), then per-(cluster, coordinate) FIXED-POINT means:
    each coordinate quantizes to integer micro-units before the sum
    (exact, order-independent) and the mean rounds half-up via
    FLOOR(S/C + 0.5) on the exact double S/C — NOT integer division,
    whose negative-operand semantics differ between engines (Spark
    DIV truncates toward zero, DuckDB // floors). Emits CTEs
    ``a{tag}`` (vec_id, cid) and ``c{tag}`` (cid, cv) — empty
    clusters drop (no rows, no centroid), identically on both
    engines."""
    d = _IVF_DIST.format(v=f"{e}.v", c="p.cv")
    return f"""
    d{tag} AS (
      SELECT {e}.vec_id, p.cid, {d} AS dq
      FROM {e} CROSS JOIN {prev_cents} p
    ),
    a{tag} AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dq, cid) AS rn
        FROM d{tag}
      ) WHERE rn = 1
    ),
    m{tag} AS (
      SELECT a{tag}.cid, t.i AS pos,
             CAST(FLOOR(CAST(SUM(CAST(FLOOR({e}.v[CAST(t.i AS INT) + 1] * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
                        / COUNT(*) + 0.5) AS BIGINT) AS m
      FROM {e} JOIN a{tag} USING (vec_id), range(0, {dim}) t(i)
      GROUP BY a{tag}.cid, t.i
    ),
    c{tag} AS (
      SELECT cid, list(CAST(m AS DOUBLE) / 1000000.0 ORDER BY pos) AS cv
      FROM m{tag} GROUP BY cid
    )"""


@register(
    "kmeans_refine_assignments",
    oracle=None,  # filled in below (unrolled Lloyd rounds over the literal codebook)
    doc="Iterative k-means (2 Lloyd rounds) done Spark-first: Arrow-kernel "
    "argmin assignment (shuffle-free projection) -> distributed per-"
    "(cluster,coordinate) FIXED-POINT means (posexplode + bounded "
    "(nlist x dim)-key shuffle; coordinates quantize to integer micros "
    "before the sum, so the mean is order-independent) -> nlist x dim "
    "model collected to the driver and fed back as the next round's "
    "literal codebook. The oracle unrolls both rounds in SQL - the whole "
    "iterative algorithm is hash-checkable, not rows-only. The builder "
    "EXECUTES a job per round at plan time, so the registry never re-serves "
    "the plan: a timing loop pays every Lloyd round every run. "
    "100 TB: per round, one scan + one bounded-key shuffle; the model "
    "(nlist x dim x 8 B) rides the closure; empty clusters drop on both "
    "engines.",
)
def kmeans_refine_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.similarity import ivf_assign

    dim = 64
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _ivf_centroids()
    for _ in range(2):
        assigned = ivf_assign(emb, cents, vec_col="embedding", id_col="vec_id")
        rows = (
            assigned.select(
                "list_id",
                F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
                    "pos", "val"
                ),
            )
            .selectExpr("list_id", "pos", "CAST(FLOOR(val * 1000000.0 + 0.5) AS BIGINT) AS q")
            .groupBy("list_id", "pos")
            .agg(
                F.expr(
                    "CAST(FLOOR(CAST(SUM(q) AS DOUBLE) / COUNT(1) + 0.5) AS BIGINT) AS m"
                )
            )
            .collect()
        )
        by: dict[int, dict[int, int]] = {}
        for r in rows:
            by.setdefault(int(r["list_id"]), {})[int(r["pos"])] = int(r["m"])
        # micro-int / 1e6 reproduces the oracle's CAST(m AS DOUBLE)/1000000.0 bit-for-bit
        cents = [(cid, [by[cid][p] / 1e6 for p in range(dim)]) for cid in sorted(by)]
    final = ivf_assign(emb, cents, vec_col="embedding", id_col="vec_id")
    return final.select("vec_id", F.col("list_id").cast("bigint").alias("list_id"))


REGISTRY["kmeans_refine_assignments"].oracle = f"""
    WITH {_cents_sql(_ivf_centroids())},
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    {_kmeans_iter_sql("cents", "e", "1")},
    {_kmeans_iter_sql("c1", "e", "2")},
    df AS (
      SELECT e.vec_id, p.cid, {_IVF_DIST.format(v="e.v", c="p.cv")} AS dq
      FROM e CROSS JOIN c2 p
    )
    SELECT vec_id, CAST(cid AS BIGINT) AS list_id FROM (
      SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dq, cid) AS rn FROM df
    ) WHERE rn = 1
    """


@register(
    "gopher_quality_documents",
    oracle="""
    WITH base AS (
      SELECT doc_id, text AS t,
             list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'),
                         x -> x <> '') AS ts,
             list_filter(string_split(text, chr(10)),
                         l -> NOT regexp_matches(l, '^[ \\t\\n\\x0B\\f\\r]*$')) AS ls
      FROM documents WHERE text IS NOT NULL
    ),
    s AS (
      SELECT doc_id, len(ts) AS n_words,
             list_sum(list_transform(ts, x -> length(x))) AS sum_len,
             len(list_filter(ts, x -> regexp_matches(x, '[A-Za-z]'))) AS alpha_words,
             length(t) - length(replace(t, '#', '')) AS hashes,
             length(t) - length(replace(t, '…', ''))
               + (length(t) - length(replace(t, '...', ''))) // 3 AS edots,
             len(ls) AS n_lines,
             len(list_filter(ls, l -> list_contains(['-', '•', '*'],
                                                    substr(ltrim(l), 1, 1)))) AS bullet_lines,
             len(list_filter(ls, l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…'))
               AS ell_lines,
             len(list_filter(['the','be','to','of','and','that','have','with'],
                             s -> list_contains(list_transform(ts, x -> lower(x)), s)))
               AS stopword_hits
      FROM base WHERE len(ts) >= 1
    ),
    m AS (
      SELECT doc_id, n_words,
             (2*sum_len*1000000 + n_words) // (2*n_words) AS m_mwl,
             (2*hashes*1000000 + n_words) // (2*n_words) AS m_hash,
             (2*edots*1000000 + n_words) // (2*n_words) AS m_edots,
             (2*bullet_lines*1000000 + n_lines) // (2*n_lines) AS m_bullet,
             (2*ell_lines*1000000 + n_lines) // (2*n_lines) AS m_ell,
             (2*alpha_words*1000000 + n_words) // (2*n_words) AS m_alpha,
             stopword_hits
      FROM s
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(m_mwl AS DOUBLE) / 1000000.0 AS mean_word_len,
           CAST(m_hash AS DOUBLE) / 1000000.0 AS hash_word_ratio,
           CAST(m_edots AS DOUBLE) / 1000000.0 AS ellipsis_word_ratio,
           CAST(m_bullet AS DOUBLE) / 1000000.0 AS bullet_line_frac,
           CAST(m_ell AS DOUBLE) / 1000000.0 AS ellipsis_line_frac,
           CAST(m_alpha AS DOUBLE) / 1000000.0 AS alpha_word_frac,
           CAST(stopword_hits AS BIGINT) AS stopword_hits,
           (n_words BETWEEN 50 AND 100000 AND m_mwl BETWEEN 3000000 AND 10000000
            AND m_hash <= 100000 AND m_edots <= 100000
            AND m_bullet <= 900000 AND m_ell <= 300000
            AND m_alpha >= 800000 AND stopword_hits >= 2) AS quality_pass
    FROM m
    """,
    doc="Gopher QUALITY rules (Rae et al. 2021 Table A1, non-repetition half): "
    "word count / mean word length / per-symbol (#, ellipsis) ratios — the "
    "paper drops when EITHER exceeds 0.1 / bullet+ellipsis line "
    "fractions / alpha-word fraction / required-stopword hits plus the "
    "keep-drop verdict at the published thresholds. All fractions "
    "integer-derived, published via the half-up micro rule; verdict compared "
    "in integer micros. ONE narrow in-row projection — zero shuffles, no "
    "corpus-wide key (companion to gopher_repetition_documents).",
)
def gopher_quality_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.quality_profile(docs, "text", "doc_id")


@register(
    "c4_line_filters_documents",
    oracle="""
    WITH base AS (
      SELECT doc_id, text AS t,
             list_transform(string_split(text, chr(10)),
                            l -> regexp_replace(l, '^[ \\t\\f\\r\\x0B]+|[ \\t\\f\\r\\x0B]+$',
                                                '', 'g')) AS ls
      FROM documents WHERE text IS NOT NULL
    ),
    k AS (
      SELECT doc_id, t, ls,
             list_filter(ls, l ->
               len(list_filter(string_split_regex(l, '[ \\t\\x0B\\f\\r]+'),
                               x -> x <> '')) >= 5
               AND right(l, 1) IN ('.', '!', '?', '"')
               AND NOT contains(lower(l), 'javascript')) AS kept
      FROM base
    )
    SELECT doc_id,
           -- DuckDB's array_to_string yields NULL for an empty list
           -- where Spark's array_join yields '' — pin the '' contract
           COALESCE(array_to_string(kept, chr(10)), '') AS clean_text,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS kept_lines,
           CAST(len(ls) - len(kept) AS BIGINT) AS dropped_lines,
           contains(lower(t), 'lorem ipsum') AS has_lorem,
           contains(t, '{') AS has_brace,
           (len(kept) >= 3 AND NOT contains(lower(t), 'lorem ipsum')
            AND NOT contains(t, '{')) AS c4_keep
    FROM k
    """,
    doc="C4 line-level cleaning (Raffel et al. 2020 §2.2): retain lines with "
    ">=5 words ending in terminal punctuation and no 'javascript'; drop docs "
    "mentioning 'lorem ipsum' or containing a brace; require >=3 retained "
    "lines (line-level proxy for C4's sentence rule, documented). Per-line "
    "edge-trim uses an explicit class so CRLF endings cannot defeat the "
    "punctuation test. One narrow in-row projection — zero shuffles.",
)
def c4_line_filters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.c4_line_filter(docs, "text", "doc_id")


def _dsir_bucket_sql(col: str, n_buckets: int) -> str:
    nib = lambda i: f"(instr('0123456789abcdef', substr(md5({col}), {i}, 1)) - 1)"
    return f"(({nib(1)} * 256 + {nib(2)} * 16 + {nib(3)}) % {n_buckets})"


@register(
    "dsir_importance_documents",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, (lang = 'en') AS is_t,
             list_filter(string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'),
                         x -> x <> '') AS ts
      FROM documents WHERE text IS NOT NULL
    ),
    tok AS (
      SELECT doc_id, is_t, {_dsir_bucket_sql("u.w", 1024)} AS b
      FROM base, LATERAL (SELECT unnest(ts) AS w) u
      WHERE len(ts) >= 1
    ),
    bc AS (
      SELECT b, COUNT(*) AS cr, COUNT(*) FILTER (WHERE is_t) AS ct
      FROM tok GROUP BY 1
    ),
    tot AS (SELECT SUM(cr) AS tr, SUM(ct) AS tt FROM bc),
    -- per-bucket log importance ratio quantized ONCE to integer
    -- nanonats (floor(x*1e9 + 0.5)); identical IEEE op order to the
    -- Spark build's driver-side glibc-ln quantization
    q AS (
      SELECT bc.b,
             CAST(FLOOR(ln(((CAST(bc.ct AS DOUBLE) + 0.5) / (CAST(tot.tt AS DOUBLE) + 512.0))
                           / ((CAST(bc.cr AS DOUBLE) + 0.5) / (CAST(tot.tr AS DOUBLE) + 512.0)))
                        * 1000000000.0 + 0.5) AS BIGINT) AS q
      FROM bc CROSS JOIN tot
    )
    SELECT tok.doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(q.q) AS BIGINT) AS dsir_nanonats
    FROM tok JOIN q USING (b)
    GROUP BY tok.doc_id
    """,
    doc="DSIR importance weights (Xie et al. 2023): hashed-unigram (md5 mod "
    "1024 buckets) log ratio of target (lang='en') vs raw distributions, "
    "add-half smoothed, per-bucket terms quantized to integer nanonats "
    "driver-side with glibc ln, per-doc INTEGER sum published raw (no "
    "division — negative integer division is not engine-portable). Fit is "
    "one bounded-key corpus pass collected+broadcast at build, so the "
    "registry never re-serves the plan: every plan() call re-pays the fit.",
)
def dsir_importance_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.dsir_importance_scores(docs, "text", "doc_id")


def _hll_duck_fragments(value_sql: str) -> tuple[str, str]:
    """DuckDB twin of pipeline.sketch.hll_register_expr (VARCHAR cast,
    ltrim instead of TRIM LEADING — semantics identical)."""
    h = f"md5(CAST({value_sql} AS VARCHAR))"
    nib = lambda i: f"(instr('0123456789abcdef', substr({h}, {i}, 1)) - 1)"
    idx = f"(({nib(1)} * 16 + {nib(2)}) % 64)"
    t = f"ltrim(substr({h}, 3, 13), '0')"
    n1 = f"(instr('0123456789abcdef', substr({t}, 1, 1)) - 1)"
    blen = (
        f"(CASE WHEN {n1} >= 8 THEN 4 WHEN {n1} >= 4 THEN 3"
        f" WHEN {n1} >= 2 THEN 2 ELSE 1 END)"
    )
    rho = (
        f"(CASE WHEN {t} = '' THEN 53 "
        f"ELSE 4 * (13 - length({t})) + (4 - {blen}) + 1 END)"
    )
    return idx, rho


def _hll_oracle() -> str:
    from ..pipeline.sketch import _LC_MICRO, _HLL_NUM

    idx, rho = _hll_duck_fragments("user_id")
    lc = "[" + ", ".join(str(v) for v in _LC_MICRO) + "]"
    return f"""
    WITH base AS (
      SELECT event_type, {idx} AS idx, {rho} AS rho
      FROM events WHERE user_id IS NOT NULL
    ),
    reg AS (SELECT event_type, idx, MAX(rho) AS m FROM base GROUP BY 1, 2),
    agg AS (
      SELECT event_type,
             CAST(SUM(1::BIGINT << (53 - m)) AS BIGINT) AS s_present,
             CAST(64 - COUNT(*) AS INT) AS v_zero
      FROM reg GROUP BY 1
    ),
    est AS (
      SELECT event_type, v_zero,
             {_HLL_NUM} / CAST(s_present + CAST(v_zero AS BIGINT) * (1::BIGINT << 53)
                               AS DOUBLE) AS raw
      FROM agg
    )
    SELECT est.event_type,
           CASE WHEN raw <= 160.0 AND v_zero > 0
                  THEN CAST({lc}[v_zero] AS DOUBLE) / 1000000.0
                WHEN raw < 1000000000000.0
                  THEN CAST(CAST(FLOOR(raw * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE)
                       / 1000000.0
                ELSE raw END AS hll_estimate,
           x.exact_distinct
    FROM est JOIN (
      SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ) x USING (event_type)
    """


@register(
    "hll_distinct_users_by_type",
    oracle=_hll_oracle(),
    doc="HyperLogLog approximate COUNT(DISTINCT user_id) per event type "
    "(Flajolet et al. 2007; m=64 registers, published alpha_64=0.709, "
    "small-range linear counting), alongside the exact count for audit. "
    "Cross-engine deterministic BY CONSTRUCTION: md5-derived registers, "
    "INTEGER harmonic-denominator sum (2^(53-m) per register — a float "
    "sum(2^-m) would be partial-merge-order sensitive), one correctly- "
    "rounded IEEE division, and an import-time precomputed linear-counting "
    "literal table shared by both engines — zero query-time ln(). The "
    "sketch is mergeable (max per register): per-day partials reduce "
    "through a keys*64-row shuffle, never a re-scan (the approximate "
    "swap-in for bitmap_distinct_rollup at 100 TB cardinalities).",
)
def hll_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.sketch import hll_distinct

    ev = load_table(spark, sf_dir, "events")
    est = hll_distinct(ev, ["event_type"], "user_id")
    exact = (
        ev.where("user_id IS NOT NULL")
        .groupBy("event_type")
        .agg(F.expr("COUNT(DISTINCT user_id) AS exact_distinct"))
    )
    return est.join(exact, "event_type")


def _jl_oracle(in_dim: int = 64, out_dim: int = 16) -> str:
    from ..pipeline.similarity import jl_signs

    signs = jl_signs(in_dim, out_dim)
    sums = ",\n             ".join(
        "CAST(SUM(([" + ", ".join(str(x) for x in row) + "])[j] * q) AS BIGINT)"
        f" AS p{i}"
        for i, row in enumerate(signs)
    )
    structs = ", ".join(
        "{'out_dim': %d, 'pq': p%d}" % (i, i) for i in range(out_dim)
    )
    return f"""
    WITH q AS (
      SELECT vec_id, u.j,
             CAST(FLOOR(CAST(embedding[CAST(u.j AS INT)] AS DOUBLE)
                        * 1000000000.0 + 0.5) AS BIGINT) AS q
      FROM embeddings, LATERAL (SELECT unnest(range(1, {in_dim + 1})) AS j) u
      WHERE embedding IS NOT NULL AND len(embedding) = {in_dim}
    ),
    w AS (
      SELECT vec_id,
             {sums}
      FROM q GROUP BY vec_id
    )
    SELECT vec_id, CAST(u.r.out_dim AS INT) AS out_dim,
           CAST(u.r.pq AS DOUBLE) / 1000000000.0 AS p
    FROM w, LATERAL (SELECT unnest([{structs}]) AS r) u
    """


@register(
    "embedding_jl_projection",
    oracle=_jl_oracle(),
    doc="Johnson-Lindenstrauss random projection (Achlioptas 2003 ±1 "
    "construction): 64-dim float vectors down to 16 signed-sum coordinates, "
    "long-form (vec_id, out_dim, p). The sign matrix is md5-derived at "
    "import (reproducible from code, no stored state) and embedded in both "
    "engines as literal arrays; each INPUT element quantizes once to "
    "integer nano-units, each coordinate is a ±1-weighted INTEGER sum — "
    "order-independent by construction, fully codegen'd (the 64-term "
    "double-chain draft fell to interpreted past the JIT method limit and "
    "was replaced; see docstring). Explode + ONE map-side-combined hash "
    "aggregate; the 4x-smaller projected table is what downstream "
    "ANN/cluster stages shuffle at 100 TB.",
)
def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.similarity import jl_project_long

    emb = load_table(spark, sf_dir, "embeddings")
    return jl_project_long(emb, vec_col="embedding", id_col="vec_id", in_dim=64, out_dim=16)


@register(
    "boilerplate_line_removal_documents",
    oracle="""
    WITH lx AS (
      SELECT doc_id, source AS src, string_split(text, chr(10)) AS ls
      FROM documents WHERE text IS NOT NULL
    ),
    raw AS (
      SELECT doc_id, src, unnest(range(len(ls))) AS line_no, unnest(ls) AS line
      FROM lx
    ),
    lines AS (
      SELECT * FROM raw WHERE NOT regexp_matches(line, '^[ \\t\\n\\x0B\\f\\r]*$')
    ),
    c AS (SELECT src, line, COUNT(DISTINCT doc_id) AS nd FROM lines GROUP BY 1, 2),
    f AS (
      SELECT l.doc_id, l.line_no, l.line, (c.nd >= 3) AS boiler
      FROM lines l JOIN c USING (src, line)
    )
    SELECT doc_id,
           COALESCE(string_agg(line, chr(10) ORDER BY line_no)
                    FILTER (WHERE NOT boiler), '') AS clean_text,
           COUNT(*) FILTER (WHERE NOT boiler) AS kept_lines,
           COUNT(*) FILTER (WHERE boiler) AS removed_lines
    FROM f GROUP BY doc_id
    """,
    doc="Per-source boilerplate line removal (RefinedWeb/Dolma rule — the "
    "companion to line_dedup's keep-first): a non-blank line appearing in "
    ">=3 DISTINCT docs of the same source is removed from EVERY doc; docs "
    "reassembled in original order, zero-survivor docs kept as audit rows. "
    "Skew-safe: distinct-doc counts via hash aggregate with map-side "
    "partial distinct (no window over the line key); the count table has "
    "one row per distinct line so the join back cannot blow up on a hot "
    "boilerplate line.",
)
def boilerplate_line_removal_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.dedup import boilerplate_line_removal

    docs = load_table(spark, sf_dir, "documents")
    return boilerplate_line_removal(docs, "text", "doc_id", "source", min_docs=3)


@register(
    "control_char_profile_documents",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(length(text) - length(replace(text, chr(65533), '')) AS BIGINT)
             AS replacement_chars,
           CAST(length(text) -
                length(regexp_replace(text, '[\\x00-\\x08\\x0E-\\x1F\\x7F]', '', 'g'))
             AS BIGINT) AS control_chars,
           CAST((2*((length(text) - length(replace(text, chr(65533), '')))
                    + (length(text) -
                       length(regexp_replace(text, '[\\x00-\\x08\\x0E-\\x1F\\x7F]', '', 'g'))))
                 *1000000 + length(text)) // (2*length(text)) AS DOUBLE) / 1000000.0
             AS damage_frac,
           ((length(text) - length(replace(text, chr(65533), ''))) = 0 AND
            (2*((length(text) - length(replace(text, chr(65533), '')))
                + (length(text) -
                   length(regexp_replace(text, '[\\x00-\\x08\\x0E-\\x1F\\x7F]', '', 'g'))))
             *1000000 + length(text)) // (2*length(text)) <= 1000) AS encoding_pass
    FROM documents WHERE text IS NOT NULL AND length(text) >= 1
    """,
    doc="Encoding-damage screen (Dolma/RedPajama mojibake rule): U+FFFD "
    "replacement-char and non-whitespace C0-control/DEL counts per doc, "
    "combined damage fraction (integer half-up micros), keep verdict (no "
    "tombstones, damage <= 0.1%). Counting is replace/regexp length deltas "
    "— one narrow in-row projection, zero shuffles; the control class "
    "deliberately excludes tab/newline/VT/FF/CR (owned by the whitespace "
    "contract) and uses \\\\xNN escapes valid in both Java regex and RE2.",
)
def control_char_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.control_char_profile(docs, "text", "doc_id")


@register(
    "ccnet_perplexity_buckets",
    oracle="""
    WITH nz AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS t
      FROM documents WHERE text IS NOT NULL
        AND length(trim(regexp_replace(lower(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))) >= 3
    ),
    tris AS (
      SELECT doc_id, substr(t, CAST(u.i AS INT), 3) AS tri
      FROM nz, LATERAL (SELECT unnest(range(1, length(t) - 1)) AS i) u
    ),
    tc AS (SELECT tri, COUNT(*) AS c3 FROM tris GROUP BY tri),
    cc AS (SELECT substr(tri, 1, 2) AS ctx, SUM(c3) AS c2 FROM tc GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT substr(tri, 3, 1)) AS vsz FROM tc),
    q AS (
      SELECT tc.tri,
             CAST(FLOOR(-ln((CAST(tc.c3 AS DOUBLE) + 0.5) /
                            (CAST(cc.c2 AS DOUBLE) + 0.5 * CAST(v.vsz AS DOUBLE)))
                        * 1000000000.0 + 0.5) AS BIGINT) AS q
      FROM tc JOIN cc ON substr(tc.tri, 1, 2) = cc.ctx CROSS JOIN v
    ),
    scores AS (
      SELECT s.doc_id,
             CAST((2*SUM(q.q) + COUNT(*)*1000) // (2*COUNT(*)*1000) AS DOUBLE) / 1000000.0
               AS avg_neg_logp
      FROM tris s JOIN q USING (tri)
      GROUP BY s.doc_id
    )
    SELECT d.doc_id, d.lang, s.avg_neg_logp,
           CAST(ntile(3) OVER (PARTITION BY d.lang
                               ORDER BY s.avg_neg_logp, d.doc_id) AS INT) AS ppl_bucket
    FROM scores s JOIN documents d USING (doc_id)
    """,
    doc="The CCNet bucket step (Wenzek et al. 2020 §4.4): per language, split "
    "documents into head/middle/tail thirds (ppl_bucket 1/2/3) by the "
    "self-trained char-LM score — best-predicted third = head, the slice "
    "CCNet keeps for pretraining. Composition of the proven char-LM scorer "
    "with a per-lang ntile (tiebreak doc_id, deterministic cross-engine). "
    "The exact ntile needs a per-language sort — fine here because the "
    "score table is one narrow row per doc; the 100 TB swap-in is "
    "ccnet_buckets_approx (approx_percentile cutoffs per lang, broadcast, "
    "in-row assignment — measured >= 99% bucket agreement at sf0.1). "
    "The char-LM fit runs at build, so the plan is rebuilt per plan() call, "
    "like its parent's.",
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scores = T.char_trigram_lm_scores(docs, "text", "doc_id").select(
        "doc_id", "avg_neg_logp"
    )
    return (
        scores.join(docs.select("doc_id", "lang"), "doc_id")
        .selectExpr(
            "doc_id",
            "lang",
            "avg_neg_logp",
            "CAST(ntile(3) OVER (PARTITION BY lang"
            " ORDER BY avg_neg_logp, doc_id) AS INT) AS ppl_bucket",
        )
    )


@register(
    "ccnet_buckets_approx",
    oracle=None,  # rows-only BY DESIGN: the GK quantile sketch's merge
    # is not partition-order canonical, so a value-hash oracle would be
    # flaky; the exact ntile twin (ccnet_perplexity_buckets) carries
    # the oracle proof of the shared scoring pipeline, and the measured
    # >=99% bucket agreement vs that twin is pinned in
    # tests/test_pipeline.py.
    doc="The CCNet bucket step in its 100 TB shape: per-language "
    "head/middle/tail thirds assigned by approx_percentile CUTOFFS "
    "(bounded aggregate: langs x KB quantile sketch, broadcast back, "
    "one in-row CASE) instead of the exact ntile's per-language global "
    "sort. Same scoring pipeline as ccnet_perplexity_buckets; bucket "
    "agreement vs the exact form measured >= 99% at sf0.1 (GK rank "
    "error n/10000 plus boundary ties). The char-LM fit runs at build, so "
    "the plan is rebuilt per plan() call.",
)
def ccnet_buckets_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.text import bucket_by_cutoffs

    docs = load_table(spark, sf_dir, "documents")
    scores = T.char_trigram_lm_scores(docs, "text", "doc_id").select(
        "doc_id", "avg_neg_logp"
    )
    scored = scores.join(docs.select("doc_id", "lang"), "doc_id").select(
        "doc_id", "lang", "avg_neg_logp"
    )
    return bucket_by_cutoffs(scored, "avg_neg_logp", "lang")


@register(
    "doc_fingerprint_md5",
    oracle="""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '[ \\t\\n\\x0B\\f\\r]+'),
                         t -> t <> '') AS ts
      FROM documents WHERE text IS NOT NULL
    ),
    base AS (SELECT doc_id, ts, len(ts) AS n_tokens FROM tok WHERE len(ts) > 0)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CASE WHEN n_tokens >= 8 THEN
             list_min(list_transform(range(1, n_tokens - 8 + 2),
                      i -> md5(array_to_string(ts[i : i + 7], ' '))))
           ELSE md5(array_to_string(ts, ' ')) END AS fingerprint
    FROM base
    """,
    doc="Winnowing-style document fingerprint, md5 oracle twin of the "
    "rows-only xxhash64 production form (doc_fingerprints): min hash over "
    "8-token sliding windows (whole-doc hash when shorter), dup-span "
    "tokenization contract. Same min-over-windows robustness-to-local-edits "
    "property, engine-neutral hash so the whole contract is hash-checkable. "
    "Pure in-row projection — zero shuffles.",
)
def doc_fingerprint_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ws = r"'[ \\t\\n\\x0B\\f\\r]+'"
    return (
        docs.where("text IS NOT NULL")
        .selectExpr(
            "doc_id",
            rf"filter(split(text, {ws}), t -> t != '') AS __ts",
        )
        .where("size(__ts) > 0")
        .selectExpr(
            "doc_id",
            "CAST(size(__ts) AS BIGINT) AS n_tokens",
            "CASE WHEN size(__ts) >= 8 THEN"
            " array_min(transform(sequence(1, size(__ts) - 7),"
            " i -> md5(concat_ws(' ', slice(__ts, i, 8)))))"
            " ELSE md5(concat_ws(' ', __ts)) END AS fingerprint",
        )
    )


def _pretrain_pipeline_oracle() -> str:
    # compose the PROVEN oracles as nested-WITH CTEs (both engines
    # accept WITH inside a CTE body) — the composed query can never
    # drift from the operators it chains
    g = REGISTRY["gopher_quality_documents"].oracle
    r = REGISTRY["gopher_repetition_documents"].oracle
    c = REGISTRY["c4_line_filters_documents"].oracle
    e = REGISTRY["control_char_profile_documents"].oracle
    return f"""
    WITH gq AS ({g}),
    gr AS ({r}),
    c4 AS ({c}),
    enc AS ({e}),
    dup AS (
      SELECT doc_id,
             doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_exact_dup
      FROM documents WHERE text IS NOT NULL
    ),
    f AS (
      SELECT d.doc_id,
             COALESCE(c4.c4_keep, FALSE) AS c4_keep,
             COALESCE(gq.quality_pass, FALSE) AS quality_pass,
             COALESCE(gr.gopher_pass, FALSE) AS repetition_pass,
             COALESCE(enc.encoding_pass, FALSE) AS encoding_pass,
             dup.is_exact_dup
      FROM documents d
      JOIN dup USING (doc_id)
      LEFT JOIN c4 USING (doc_id)
      LEFT JOIN gq USING (doc_id)
      LEFT JOIN gr USING (doc_id)
      LEFT JOIN enc USING (doc_id)
      WHERE d.text IS NOT NULL
    )
    SELECT doc_id, c4_keep, quality_pass, repetition_pass, encoding_pass,
           is_exact_dup,
           (c4_keep AND quality_pass AND repetition_pass AND encoding_pass
            AND NOT is_exact_dup) AS final_keep
    FROM f
    """


@register(
    "pretrain_pipeline_documents",
    oracle=_pretrain_pipeline_oracle(),
    doc="The full pretraining-data cleaning pipeline as ONE query — the "
    "capstone composition a reference user actually runs: C4 line rules, "
    "Gopher quality + repetition gates, encoding-damage screen, exact-dup "
    "flag (min-doc_id keeper per md5), and the combined final_keep verdict, "
    "one audit row per document. Spark side chains the proven lib "
    "operators; the oracle NESTS the four proven oracles as CTEs, so the "
    "composition can never drift from its parts. Per-stage flags mean a "
    "user can attribute every dropped doc to the gate that cut it. All "
    "five branches share the one documents scan; the only corpus-keyed "
    "shuffle is the md5 digest group (map-side combined).",
)
def pretrain_pipeline_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The three in-row gates (C4, Gopher quality, encoding screen) are
    # pure per-row functions of the text — computing them as separate
    # branches and equi-joining back on doc_id (the r7 shape) cost
    # three avoidable corpus shuffle joins and four avoidable corpus
    # scans at 100 TB. gate_flags fuses them into ONE projection, and
    # the exact-dup digest rides the same scan via extra_cols. The only
    # remaining corpus-keyed work: the digest keeper aggregate (map-side
    # combined) + its join back — skew-safe, NEVER a window over
    # md5(text), whose partitions are unbounded when one document
    # repeats corpus-wide — and the repetition profile join (its
    # doc-scoped aggregates genuinely need their own explode branch).
    # Plan shape pinned by tests/test_plans.py: ≤3 documents scans
    # outside the repetition branch was the old count; now 2 (gates+dig
    # probe, keeper agg input), ≤4 joins total.
    from ..pipeline.text import gate_flags, repetition_profile

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where("text IS NOT NULL")
    g = gate_flags(base, "text", "doc_id", extra_cols={"__dig": "md5(text)"})
    keeper = g.groupBy("__dig").agg(F.expr("MIN(doc_id) AS __keeper"))
    gr = repetition_profile(docs, "text", "doc_id").select("doc_id", "gopher_pass")
    out = (
        g.join(keeper, "__dig")
        .selectExpr(
            "doc_id",
            "c4_keep",
            "quality_pass",
            "encoding_pass",
            "doc_id != __keeper AS is_exact_dup",
        )
        .join(gr, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "c4_keep",
            "quality_pass",
            "COALESCE(gopher_pass, FALSE) AS repetition_pass",
            "encoding_pass",
            "is_exact_dup",
        )
    )
    return out.selectExpr(
        "doc_id",
        "c4_keep",
        "quality_pass",
        "repetition_pass",
        "encoding_pass",
        "is_exact_dup",
        "(c4_keep AND quality_pass AND repetition_pass AND encoding_pass"
        " AND NOT is_exact_dup) AS final_keep",
    )


@register(
    "heavy_hitter_tokens_documents",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
      FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
    ),
    tot AS (SELECT COUNT(*) AS n FROM tok),
    cnt AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok)
    SELECT tok, CAST(cnt AS BIGINT) AS cnt
    FROM cnt, tot WHERE cnt * 1000000 > n * 2000
    """,
    doc="EXACT heavy-hitter tokens (> 0.2% of the corpus token stream) "
    "via the sketch-then-verify pattern: per-Arrow-batch candidate "
    "generation (pigeonhole superset guarantee, <= 1e6/ppm candidates per "
    "batch) then an exact recount of candidates only — a broadcast "
    "semi-join plus a hash aggregate whose key domain is the candidate "
    "set. The full token domain is never shuffled (a plain groupBy-HAVING "
    "shuffles billions of distinct tokens at 100 TB; this shuffles "
    "thousands), yet the answer equals the oracle's exact HAVING bit for "
    "bit for any partitioning/batch split.",
)
def heavy_hitter_tokens_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.sketch import heavy_hitters_exact

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(T.tokens("text")).alias("tok"))
    return heavy_hitters_exact(toks, "tok", threshold_ppm=2000)


@register(
    "langid_trigram_documents",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang,
             lower(regexp_replace(trim(text), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS norm
      FROM documents
    ),
    scorable AS (
      SELECT * FROM base WHERE norm IS NOT NULL AND length(norm) >= 3
    ),
    tris AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, length(norm) - 1),
                                   i -> substr(norm, CAST(i AS INT), 3))) AS tg
      FROM scorable
    ),
    profile AS (
      SELECT predicted_lang, tg FROM (
        SELECT lang AS predicted_lang, tg, COUNT(*) AS cnt,
               row_number() OVER (PARTITION BY lang ORDER BY COUNT(*) DESC, tg ASC) AS rn
        FROM tris GROUP BY lang, tg
      ) WHERE rn <= 40
    ),
    hits AS (
      SELECT doc_id, predicted_lang, COUNT(*) AS hits
      FROM (SELECT DISTINCT doc_id, tg FROM tris) d
      JOIN profile USING (tg)
      GROUP BY doc_id, predicted_lang
    ),
    best AS (
      SELECT doc_id, predicted_lang, hits FROM (
        SELECT doc_id, predicted_lang, hits,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY hits DESC, predicted_lang ASC) AS rn
        FROM hits
      ) WHERE rn = 1
    )
    SELECT b.doc_id, b.lang, best.predicted_lang,
           CAST(COALESCE(best.hits, 0) AS BIGINT) AS hits,
           (b.lang IS NOT DISTINCT FROM best.predicted_lang) AS correct
    FROM base b LEFT JOIN best USING (doc_id)
    """,
    doc="Character-trigram language ID (Cavnar & Trenkle 1994): per-lang "
    "top-40 trigram profiles fit over the normalized corpus, each doc "
    "classified by distinct-trigram overlap, ties deterministic (trigram "
    "then lang string). Profile is langs x 40 rows -> broadcast; trigram "
    "explode is in-row; hit counts aggregate on (doc, lang) with map-side "
    "combine; argmax is a per-doc window (no hot key).",
)
def langid_trigram_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return T.langid_trigram(docs, "text", "lang", "doc_id", top_m=40)


@register(
    "heavy_hitter_tokens_by_lang",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
      FROM documents
      WHERE text IS NOT NULL AND trim(text) <> '' AND lang IS NOT NULL
    ),
    tot AS (SELECT lang, COUNT(*) AS n FROM tok GROUP BY lang),
    cnt AS (SELECT lang, tok, COUNT(*) AS cnt FROM tok GROUP BY lang, tok)
    SELECT cnt.lang, tok, CAST(cnt AS BIGINT) AS cnt
    FROM cnt JOIN tot USING (lang) WHERE cnt * 1000000 > n * 5000
    """,
    doc="PER-GROUP exact heavy hitters: tokens above 0.5% of EACH "
    "LANGUAGE's token stream, found without shuffling the (lang, token) "
    "domain — per-batch grouped candidates (pigeonhole superset holds "
    "per group), one-scan verify keyed on (lang, candidate-or-NULL), "
    "per-group N via a window over the aggregated table. The grouped "
    "form of heavy_hitter_tokens_documents: same machinery, per-stratum "
    "thresholds — the 'top boilerplate tokens per language' question a "
    "corpus pipeline actually asks.",
)
def heavy_hitter_tokens_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.sketch import heavy_hitters_exact

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("lang", F.explode(T.tokens("text")).alias("tok"))
    return heavy_hitters_exact(toks, "tok", threshold_ppm=5000, group_col="lang")


@register(
    "token_keyness_chi2",
    oracle="""
    WITH toks AS (
      SELECT lang, unnest(string_split_regex(trim(text), '[ \\t\\n\\x0B\\f\\r]+')) AS token
      FROM documents WHERE text IS NOT NULL AND trim(text) <> '' AND lang IS NOT NULL
    ),
    c AS (
      SELECT token,
             SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS a,
             SUM(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS b
      FROM toks GROUP BY token
    ),
    t AS (SELECT SUM(a) AS sa, SUM(b) AS sb FROM c),
    k AS (
      SELECT token, a, b,
             (CAST(a AS DOUBLE) * CAST(sb - b AS DOUBLE)
              - CAST(b AS DOUBLE) * CAST(sa - a AS DOUBLE)) AS delta,
             CASE WHEN CAST(a AS HUGEINT) * sb > CAST(b AS HUGEINT) * sa
                  THEN 'en' ELSE 'rest' END AS enriched_in,
             sa, sb
      FROM c, t WHERE a + b >= 20
    )
    SELECT token, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b, enriched_in,
           ROUND((CAST(sa + sb AS DOUBLE) * delta * delta)
                 / (CAST(a + b AS DOUBLE) * CAST(sa + sb - a - b AS DOUBLE)
                    * CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)), 6) AS chi2
    FROM k ORDER BY chi2 DESC, token LIMIT 20
    """,
    doc="Corpus keyness (chi-square association): which tokens are most "
    "DISTINCTIVE of the English slice vs the rest — the Dunning/Rayson corpus- "
    "comparison primitive behind domain-drift monitors and contamination "
    "triage. Chi2 over the 2x2 (token x slice) table from exact integer counts; "
    "the float work is the SAME parenthesized expression on both engines "
    "(identical exact-integer operands, correctly-rounded IEEE ops — no POWER(), "
    "whose libm may not square exactly), and the enrichment DIRECTION is decided "
    "in pure integer space (a*sb vs b*sa). Scale: one token aggregate (map-side "
    "combined, same shuffle class as token_histogram), a one-row totals "
    "broadcast, in-row math, TakeOrdered top-20. Support floor a+b >= 20 keeps "
    "the long tail out of the ranking.",
)
def token_keyness_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents"))
    base = docs.where(
        F.col("text").isNotNull() & (F.trim("text") != "") & F.col("lang").isNotNull()
    )
    toks = base.select("lang", F.explode(T.tokens("text")).alias("token"))
    c = toks.groupBy("token").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("a"),
        F.sum(F.when(F.col("lang") != "en", 1).otherwise(0)).alias("b"),
    )
    t = c.agg(F.sum("a").alias("sa"), F.sum("b").alias("sb"))
    k = (
        c.crossJoin(F.broadcast(t))
        .where(F.col("a") + F.col("b") >= 20)
        .withColumn(
            "delta",
            F.col("a").cast("double") * (F.col("sb") - F.col("b")).cast("double")
            - F.col("b").cast("double") * (F.col("sa") - F.col("a")).cast("double"),
        )
        .withColumn(
            "enriched_in",
            F.when(
                F.col("a").cast("decimal(38,0)") * F.col("sb")
                > F.col("b").cast("decimal(38,0)") * F.col("sa"),
                F.lit("en"),
            ).otherwise(F.lit("rest")),
        )
    )
    chi2 = F.round(
        ((F.col("sa") + F.col("sb")).cast("double") * F.col("delta") * F.col("delta"))
        / (
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("sa") + F.col("sb") - F.col("a") - F.col("b")).cast("double")
            * F.col("sa").cast("double")
            * F.col("sb").cast("double")
        ),
        6,
    )
    return (
        k.select("token", "a", "b", "enriched_in", chi2.alias("chi2"))
        .orderBy(F.desc("chi2"), "token")
        .limit(20)
    )
