"""Unit tests for the LLM-pipeline operators: dedup (exact, MinHash
LSH vs brute-force ground truth, simhash), similarity, text analysis.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from utils_infra_spark.pipeline.dedup import (
    dedup_exact,
    jaccard,
    minhash_near_duplicates,
    shingles,
    simhash64,
)
from utils_infra_spark.pipeline.similarity import brute_force_topk, cosine
from utils_infra_spark.pipeline.text import lang_guess, quality_score, token_count


def docs_df(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different content about spark engines here"),
        (5, "el rapido zorro marron salta sobre el perro perezoso"),
        (6, "short"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_exact(spark):
    out = dedup_exact(docs_df(spark), "text", "doc_id").collect()
    by_id = {r.doc_id: r.dup_count for r in out}
    assert by_id[1] == 2  # docs 1+2 collapse, min id kept
    assert len(out) == 5


def test_shingles_hof(spark):
    df = spark.createDataFrame([(1, "a b c d")], "id int, text string")
    [row] = df.select(shingles("text", 3).alias("s")).collect()
    assert row.s == ["a b c", "b c d"]


def test_shingles_short_text(spark):
    df = spark.createDataFrame([(1, "a b")], "id int, text string")
    [row] = df.select(shingles("text", 3).alias("s")).collect()
    assert row.s == ["a b"]


def test_minhash_finds_near_dups_vs_bruteforce(spark):
    df = docs_df(spark)
    got = {(r.id_a, r.id_b) for r in minhash_near_duplicates(df, "text", "doc_id", threshold=0.5).collect()}
    # brute-force ground truth at the same threshold
    base = df.select(F.col("doc_id").alias("id"), shingles("text", 3).alias("sh"))
    a, b = base.alias("a"), base.alias("b")
    truth = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                jaccard(F.col("a.sh"), F.col("b.sh")).alias("j"))
        .where(F.col("j") >= 0.5)
        .collect()
    }
    assert (1, 2) in got  # exact dup must always collide in every band
    assert got <= truth  # LSH+verify never yields false positives
    assert len(got) >= len(truth) - 1  # recall: at most one borderline miss


def test_simhash_similar_texts_close(spark):
    df = simhash64(docs_df(spark), "text", "doc_id", alias="h")
    h = {r.doc_id: r.h for r in df.collect()}
    assert h[1] == h[2]  # identical text → identical simhash
    ham_near = bin((h[1] ^ h[3]) & 0xFFFFFFFFFFFFFFFF).count("1")
    ham_far = bin((h[1] ^ h[4]) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham_near < ham_far  # one-word edit is closer than disjoint text


def test_brute_force_topk_ranks_by_cosine(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # farthest from 0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk(df.where("vec_id = 0"), df, k=3).orderBy("rnk").collect()
    assert [r.cand_id for r in out] == [1, 2, 3]
    assert out[0].rnk == 1 and out[0].cos_sim > 0.99


def test_brute_force_topk_bucket_col_ranks_within_own_bucket(spark):
    """With bucket_col (the LSH/IVF call sites) each query ranks ONLY
    the candidates of its own bucket: every returned candidate shares
    the query's bucket, and each query's list equals an unbucketed
    top-k over its bucket alone. Neighbouring ids have the closest
    vectors here and sit in different buckets, so a leak would show."""
    import math

    dim = 8
    rows = [
        (i, [math.cos(0.013 * i * (j + 1)) for j in range(dim)], i % 4) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, b int")
    bucket_of = {i: b for i, _, b in rows}
    queries = df.where("vec_id < 8")

    got = {}
    for r in brute_force_topk(queries, df, k=3, bucket_col="b").collect():
        assert bucket_of[r.cand_id] == bucket_of[r.query_id], r
        got.setdefault(r.query_id, set()).add((r.rnk, r.cand_id, r.cos_sim))
    want = {}
    for b in range(4):
        for r in brute_force_topk(
            queries.where(f"b = {b}"), df.where(f"b = {b}"), k=3
        ).collect():
            want.setdefault(r.query_id, set()).add((r.rnk, r.cand_id, r.cos_sim))
    assert set(got) == set(range(8))
    assert got == want


def test_cosine_identity(spark):
    df = spark.createDataFrame([(1,)], "id int").select(
        cosine(F.array(F.lit(1.0), F.lit(2.0)), F.array(F.lit(1.0), F.lit(2.0))).alias("c")
    )
    assert abs(df.first().c - 1.0) < 1e-12


def test_token_count_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "the cat is on the mat and it is a good cat today ok"), (2, ""), (3, "x")],
        "id int, text string",
    )
    out = {r.id: r for r in df.select("id", token_count("text").alias("n"), quality_score("text").alias("q")).collect()}
    assert out[1].n == 14
    assert out[2].n == 0
    assert out[1].q > out[3].q  # long stopword-rich text beats single token


def test_lang_guess(spark):
    df = spark.createDataFrame(
        [(1, "the house of the king is big"), (2, "el rey de la casa es grande"), (3, "zzz qqq")],
        "id int, text string",
    )
    out = {r.id: r.g for r in df.select("id", lang_guess("text").alias("g")).collect()}
    assert out[1] == "en" and out[2] == "es" and out[3] == "und"


def test_sign_lsh_recall_vs_bruteforce(spark, sf_dir):
    """LSH-bucketed ANN must agree with brute force on a decent
    fraction of top-5 neighbors (8 hyperplanes → 256 buckets over
    random vectors: recall is partial BY DESIGN; assert the pipeline
    returns sane, non-empty rankings that overlap the exact answer)."""
    from utils_infra_spark.queries.pipeline_queries import embedding_lsh_ann, embedding_topk_cosine

    approx = embedding_lsh_ann(spark, sf_dir).toPandas()
    exact = embedding_topk_cosine(spark, sf_dir).toPandas()
    assert not approx.empty
    # every query got ranked results from within its bucket
    assert set(approx.query_id) <= set(exact.query_id)
    for qid, grp in approx.groupby("query_id"):
        assert list(grp.sort_values("rnk").rnk) == list(range(1, len(grp) + 1))
    # overlap with exact top-5 exists somewhere (random vectors:
    # same-bucket collision correlates with cosine similarity)
    approx_pairs = set(zip(approx.query_id, approx.cand_id))
    exact_pairs = set(zip(exact.query_id, exact.cand_id))
    assert approx_pairs & exact_pairs


def test_ivf_topk_full_probe_equals_brute_force(spark, sf_dir):
    """Probing every list must recover the exact brute-force answer —
    the IVF recall knob degrades gracefully to exhaustive search."""
    from utils_infra_spark.pipeline.similarity import brute_force_topk, ivf_topk
    from utils_infra_spark.queries.pipeline_queries import _ivf_centroids
    from utils_infra_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 4)
    cents = _ivf_centroids()
    full = ivf_topk(queries, emb, cents, nprobe=len(cents), k=5)
    brute = brute_force_topk(queries, emb, k=5)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, brute.collect()))


def test_ivf_assign_covers_all_vectors_once(spark, sf_dir):
    from utils_infra_spark.pipeline.similarity import ivf_assign
    from utils_infra_spark.queries.pipeline_queries import _ivf_centroids
    from utils_infra_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_assign(emb, _ivf_centroids(), vec_col="embedding", id_col="vec_id")
    assert out.count() == emb.count()  # exactly one list per vector
    assert out.select("list_id").distinct().count() > 1  # codebook actually partitions


def test_redact_pii_edge_cases(spark):
    from utils_infra_spark.pipeline.text import pii_counts, redact_pii

    rows = [
        (1, "mail a.b+c@sub.example.co.nz end"),
        (2, "ip 192.168.001.1 and 8.8.8.8."),
        (3, "call +64 21 123 4567 or 0800-838-383 now"),
        (4, "clean text, no pii at all"),
        (5, "combo x@y.io at 10.0.0.1 tel 021 555 0199"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    out = {r["id"]: r for r in df.select("id", redact_pii("t").alias("r"), *pii_counts("t")).collect()}
    assert out[1]["r"] == "mail <EMAIL> end" and out[1]["n_email"] == 1
    assert out[2]["r"] == "ip <IP> and <IP>." and out[2]["n_ip"] == 2
    assert out[3]["r"] == "call <PHONE> or <PHONE> now" and out[3]["n_phone"] == 2
    assert out[4]["r"] == rows[3][1] and out[4]["n_email"] == out[4]["n_ip"] == out[4]["n_phone"] == 0
    assert out[5]["r"] == "combo <EMAIL> at <IP> tel <PHONE>"


def test_shingles_from_tokens_expected_values(spark):
    # word k-grams in token order; an array shorter than k yields one
    # shingle of all its tokens
    from utils_infra_spark.pipeline.dedup import shingles_from_tokens

    texts = [
        ("a b c d e",),
        ("one two",),          # shorter than k
        ("x",),                # single token
        ("  padded   spaces  here now ",),
        ("exactly three toks",),
    ]
    want = {
        2: [
            ["a b", "b c", "c d", "d e"],
            ["one two"],
            ["x"],
            ["padded spaces", "spaces here", "here now"],
            ["exactly three", "three toks"],
        ],
        3: [
            ["a b c", "b c d", "c d e"],
            ["one two"],
            ["x"],
            ["padded spaces here", "spaces here now"],
            ["exactly three toks"],
        ],
        5: [
            ["a b c d e"],
            ["one two"],
            ["x"],
            ["padded spaces here now"],
            ["exactly three toks"],
        ],
    }
    df = (
        spark.createDataFrame(texts, "text string")
        .selectExpr("text", r"split(trim(text), '\\s+') AS toks")
    )
    for k, expected in want.items():
        got = {r.text: r.sh for r in df.select("text", shingles_from_tokens("toks", k).alias("sh")).collect()}
        assert [got[t] for (t,) in texts] == expected, (k, got)


def test_rolling_fingerprint_empty_doc_is_null(spark):
    """A blank document must yield a NULL fingerprint, not crash the
    job (element_at index 0)."""
    from utils_infra_spark.pipeline.text import rolling_fingerprint_from_tokens, tokens

    df = spark.createDataFrame([(1, "alpha beta gamma delta"), (2, ""), (3, "   ")], "id int, text string")
    toks = df.select("id", tokens("text").alias("toks"))
    out = {r.id: r.fp for r in toks.select("id", rolling_fingerprint_from_tokens("toks").alias("fp")).collect()}
    assert out[1] is not None and out[2] is None and out[3] is None


def test_brute_force_topk_empty_queries(spark):
    from pyspark.sql import functions as F

    emb = docs_df(spark).select(
        F.col("doc_id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.0)).cast("array<float>").alias("embedding"),
    )
    out = brute_force_topk(emb.where("vec_id < 0"), emb, k=3)
    assert out.count() == 0
    assert out.columns == ["query_id", "cand_id", "cos_sim", "rnk"]


def test_minhash_rejects_indivisible_bands(spark):
    import pytest as _pytest

    from utils_infra_spark.pipeline.dedup import minhash_near_duplicates

    with _pytest.raises(ValueError, match="divisible"):
        minhash_near_duplicates(docs_df(spark), "text", "doc_id", num_hashes=20, bands=8)


def test_content_fingerprint_rejects_unknown_algo():
    import pytest as _pytest

    from utils_infra_spark.pipeline.dedup import content_fingerprint

    with _pytest.raises(ValueError, match="unsupported"):
        content_fingerprint("text", algo="sha1")


def test_dataset_diff_null_shift_is_changed(spark):
    """(x, NULL) -> (NULL, x) must classify as changed — concat_ws
    alone skips NULLs and the digests would collide."""
    from utils_infra_spark.pipeline.dedup import dataset_diff

    old = spark.createDataFrame([(1, "x", None)], "id int, a string, b string")
    new = spark.createDataFrame([(1, None, "x")], "id int, a string, b string")
    [row] = dataset_diff(old, new, "id", ["a", "b"]).collect()
    assert row.status == "changed"


def test_url_normalize_and_domain(spark):
    from utils_infra_spark.functions.urls import url_domain, url_host, url_normalize

    df = spark.createDataFrame(
        [
            (1, "HTTPS://WWW.Example.COM:443/a/b/?utm_source=x&q=1#frag"),
            (2, "https://example.com/a/b?q=1"),
            (3, "http://sub.shop.co.nz:8080/p?b=2&a=1"),
            (4, "not a url"),
            (5, "http://example.com"),
        ],
        "id int, url string",
    )
    out = {
        r.id: (r.norm, r.host, r.dom)
        for r in df.select(
            "id",
            url_normalize("url").alias("norm"),
            url_host("url").alias("host"),
            url_domain("url").alias("dom"),
        ).collect()
    }
    # tracker dropped, default port dropped, www/case/fragment/trailing
    # slash normalized -> the two spellings collapse to ONE key
    assert out[1][0] == out[2][0] == "https://example.com/a/b?q=1"
    # non-default port kept, params sorted, second-level domain keeps 3 labels
    assert out[3] == ("http://sub.shop.co.nz:8080/p?a=1&b=2", "sub.shop.co.nz", "shop.co.nz")
    assert out[4] == (None, None, None)
    assert out[5][0] == "http://example.com/"


def test_url_normalize_keeps_resource_selecting_ref(spark):
    """Bare ?ref= selects a RESOURCE on many hosts (branch on code
    forges, page in docs) — the default tracker list must keep it so
    URL-level dedup never collapses distinct pages; stripping it is
    an explicit opt-in."""
    from utils_infra_spark.functions.urls import TRACKING_PARAMS, url_normalize

    df = spark.createDataFrame(
        [
            (1, "https://forge.example/repo/file.py?ref=main"),
            (2, "https://forge.example/repo/file.py?ref=dev"),
            (3, "https://forge.example/repo/file.py?utm_source=x&ref=main"),
        ],
        "id int, url string",
    )
    default = {
        r.id: r.n for r in df.select("id", url_normalize("url").alias("n")).collect()
    }
    # distinct refs stay distinct; trackers still stripped
    assert default[1] != default[2]
    assert default[1] == default[3] == "https://forge.example/repo/file.py?ref=main"
    optin = {
        r.id: r.n
        for r in df.select(
            "id", url_normalize("url", tracking_params=TRACKING_PARAMS + ("ref",)).alias("n")
        ).collect()
    }
    assert optin[1] == optin[2] == optin[3] == "https://forge.example/repo/file.py"


def test_char_entropy_stats(spark):
    from utils_infra_spark.pipeline.text import char_entropy_stats

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, ""), (4, "abcd")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in char_entropy_stats(df, "text", "doc_id").collect()}
    assert out[1].entropy_bits == 0.0 and out[1].n_chars == 4     # constant -> 0 bits
    assert abs(out[2].entropy_bits - 1.0) < 1e-6                  # two equal symbols -> 1 bit
    assert out[3].n_chars == 0 and out[3].entropy_bits == 0.0     # empty doc survives
    assert abs(out[4].entropy_bits - 2.0) < 1e-6                  # four equal symbols -> 2 bits
    assert out[4].distinct_chars == 4


def test_line_dedup_corpus_semantics(spark):
    from utils_infra_spark.pipeline.dedup import line_dedup_corpus

    docs = spark.createDataFrame(
        [
            (1, "alpha\nbeta\n\ngamma"),          # all first occurrences
            (2, "beta\ndelta"),                   # beta dropped (doc 1 won)
            (3, "beta\nalpha"),                   # both dropped -> doc gone
            (4, "  \n\t\n"),                      # only blank lines -> gone
            (5, None),                            # null text -> gone
            (6, "delta\ndelta\nepsilon"),         # intra-doc dup: 2nd delta
                                                  # lost to doc 2's line
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in line_dedup_corpus(docs, "text", "doc_id").collect()}
    assert set(out) == {1, 2, 6}
    assert out[1].clean_text == "alpha\nbeta\ngamma"  # blank line normalized away
    assert out[1].kept_lines == 3 and out[1].dropped_lines == 0
    assert out[2].clean_text == "delta" and out[2].dropped_lines == 1
    # doc 6: both delta copies lost (doc 2 owns the first occurrence),
    # epsilon survives
    assert out[6].clean_text == "epsilon"
    assert out[6].kept_lines == 1 and out[6].dropped_lines == 2


def test_line_dedup_corpus_deterministic_winner(spark):
    """The rank-1 winner is (doc_id, line_no)-ordered, not
    arrival-ordered: reversing the input row order must not change
    which document keeps a shared line."""
    from utils_infra_spark.pipeline.dedup import line_dedup_corpus

    rows = [(1, "shared\nmine"), (2, "shared\nyours")]
    fwd = {r.doc_id: r.clean_text for r in
           line_dedup_corpus(spark.createDataFrame(rows, "doc_id long, text string"),
                             "text", "doc_id").collect()}
    rev = {r.doc_id: r.clean_text for r in
           line_dedup_corpus(spark.createDataFrame(rows[::-1], "doc_id long, text string"),
                             "text", "doc_id").collect()}
    assert fwd == rev == {1: "shared\nmine", 2: "yours"}


def test_char_trigram_lm_scores_hand_computed(spark):
    """Tiny corpus with hand-derivable counts: tc = {aaa:3, aab:1},
    cc = {aa:4}, V = |{a,b}| = 2, so P(aaa) = 3.5/5 and
    P(aab) = 1.5/5 under add-0.5 smoothing. The published score is the
    fixed-point contract: per-trigram nanonat terms floor(x*1e9+0.5),
    integer half-up micro-nat mean, one final float division — NOT
    round(avg(double)), whose partial-sum order is engine-dependent."""
    import math

    from utils_infra_spark.pipeline.text import char_trigram_lm_scores

    def q(p: float) -> int:
        return math.floor(-math.log(p) * 1000000000.0 + 0.5)

    def score(qs: list[int]) -> float:
        n = len(qs)
        return ((2 * sum(qs) + n * 1000) // (2 * n * 1000)) / 1e6

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "aaab"), (3, "x"), (4, None)],  # 3,4: too short/null -> no rows
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in char_trigram_lm_scores(docs, "text", "doc_id").collect()}
    assert set(out) == {1, 2}
    assert out[1].n_trigrams == 2 and out[2].n_trigrams == 2
    q_aaa, q_aab = q(3.5 / 5.0), q(1.5 / 5.0)
    assert out[1].avg_neg_logp == score([q_aaa, q_aaa])
    assert out[2].avg_neg_logp == score([q_aaa, q_aab])
    # the integer path stays within a micro-nat of the float form
    assert abs(out[1].avg_neg_logp - (-math.log(3.5 / 5.0))) < 2e-6
    assert abs(out[2].avg_neg_logp - (-math.log(3.5 / 5.0) - math.log(1.5 / 5.0)) / 2) < 2e-6
    # well-predicted text scores lower than the doc with the rare trigram
    assert out[1].avg_neg_logp < out[2].avg_neg_logp


def test_char_trigram_lm_normalizes_case_and_whitespace(spark):
    from utils_infra_spark.pipeline.text import char_trigram_lm_scores

    docs = spark.createDataFrame(
        [(1, "AB  cd\n\tef"), (2, "ab cd ef")],  # identical after normalization
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in char_trigram_lm_scores(docs, "text", "doc_id").collect()}
    assert rows[1].n_trigrams == rows[2].n_trigrams
    assert rows[1].avg_neg_logp == rows[2].avg_neg_logp


def test_bloom_novelty_flags_and_no_false_negatives(spark):
    from utils_infra_spark.pipeline.dedup import bloom_novelty

    docs = spark.createDataFrame(
        [
            (1, "alpha doc"), (2, "bravo doc"), (3, "charlie doc"), (4, "delta doc"),
            # increment: two exact dups of corpus texts, two novel
            (5, "alpha doc"), (6, "echo doc"), (7, "foxtrot doc"), (8, "bravo doc"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bloom_novelty(docs, "text", "doc_id", 4).collect()}
    assert set(out) == {5, 6, 7, 8}
    assert out[5].exact_seen and out[8].exact_seen
    assert not out[6].exact_seen and not out[7].exact_seen
    # no false negatives, ever
    assert all(r.maybe_seen for r in out.values() if r.exact_seen)
    # with <=16 of 65536 bits set, these fixed md5 positions produce
    # no false positives either (deterministic — pinned, not assumed)
    assert all(r.maybe_seen == r.exact_seen for r in out.values())


def test_dup_span_coverage_semantics(spark):
    from utils_infra_spark.pipeline.dedup import dup_span_coverage

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),            # one window, shared with doc 2
            (2, "a b c d e f g h x"),          # two windows; only the first dups
            (3, "q r s t u v w x y z"),        # no duplicated window
            (4, "short"),                      # under the window size
            (5, " ".join(["p"] * 16)),         # intra-doc repetition counts too
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dup_span_coverage(docs, "text", "doc_id", window=8).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1].dup_covered_tokens == 8 and out[1].dup_token_ratio == 1.0
    # doc 2: tokens 1..8 covered, the trailing 'x' not
    assert out[2].n_tokens == 9 and out[2].dup_covered_tokens == 8
    assert out[2].dup_token_ratio == round(8 / 9, 6)
    assert out[3].dup_covered_tokens == 0 and out[3].dup_token_ratio == 0.0
    assert out[4].n_tokens == 1 and out[4].dup_covered_tokens == 0
    # all 9 of doc 5's windows share one hash -> every token covered
    assert out[5].dup_covered_tokens == 16 and out[5].dup_token_ratio == 1.0


@pytest.mark.parametrize("seed", [7, 13, 99])
def test_line_dedup_invariants_on_random_corpora(spark, seed):
    """Seeded random corpora, three structural invariants:
    (a) a non-blank line never appears twice across the output corpus;
    (b) per doc, kept + dropped = its non-blank input lines;
    (c) reversing input row order changes nothing (winner is value-
        ordered, not arrival-ordered)."""
    import random

    rng = random.Random(seed)
    vocab = [f"line-{i}" for i in range(12)]  # small vocab -> heavy collisions
    rows = [
        (d, "\n".join(rng.choice(vocab) for _ in range(rng.randint(0, 6))))
        for d in range(1, 31)
    ]
    from utils_infra_spark.pipeline.dedup import line_dedup_corpus

    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = line_dedup_corpus(df, "text", "doc_id").collect()

    all_lines = [ln for r in out for ln in r.clean_text.split("\n")]
    assert len(all_lines) == len(set(all_lines))  # (a)

    nonblank = {d: len([x for x in t.split("\n") if x.strip()]) for d, t in rows}
    for r in out:  # (b)
        assert r.kept_lines + r.dropped_lines == nonblank[r.doc_id], r
    assert sum(r.kept_lines for r in out) == len(set(ln for _, t in rows
               for ln in t.split("\n") if ln.strip()))

    rev = line_dedup_corpus(
        spark.createDataFrame(rows[::-1], "doc_id long, text string"), "text", "doc_id"
    ).collect()
    assert sorted(map(tuple, rev)) == sorted(map(tuple, out))  # (c)


def test_repetition_profile_hand_computed(spark):
    """Gopher rules on hand-derivable fixtures, checking the integer
    micro rounding to the digit (values derived in the docstring of
    each assertion)."""
    from utils_infra_spark.pipeline.text import repetition_profile

    docs = spark.createDataFrame(
        [
            # lines [a b, a b, c d]: dup_line 1/3, dup chars 6/9,
            # top 2-gram "a b" x2 (6 chars) over "a b a b c d" (11)
            (1, "a b\na b\nc d"),
            # no repetition, 12 distinct tokens: top gram ties break to
            # the ASC-least gram "eight nine" (10 chars over 62)
            (2, "one two three four five six seven eight nine ten eleven twelve"),
            (3, None),
            (4, " \t\n\x0b "),  # no non-blank line -> excluded
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_profile(docs, "text", "doc_id").collect()}
    assert set(out) == {1, 2}
    r1 = out[1]
    assert r1.n_lines == 3
    assert r1.dup_line_frac == 0.333333       # half-up(1/3 micro)
    assert r1.dup_line_char_frac == 0.666667  # 6 of 9 chars in dup lines
    assert r1.dup_para_frac == 0.0
    assert r1.top_2gram_char_frac == 0.545455  # 2*3 chars over 11
    assert r1.gopher_pass is False             # 0.333333 > 0.30
    r2 = out[2]
    assert r2.n_lines == 1 and r2.dup_line_frac == 0.0
    assert r2.top_2gram_char_frac == 0.16129   # 10/62 -> 161290 micro
    assert r2.gopher_pass is True

    # tied top 2-grams "a b" and "c d" (x2 each): the ASC-least wins,
    # 2*3 chars over 17, whatever the partitioning
    ties = spark.createDataFrame(
        [(i, "a b a b c d c d e") for i in range(20)], "doc_id long, text string"
    )
    one, many = (
        sorted(repetition_profile(d, "text", "doc_id").collect(), key=lambda r: r.doc_id)
        for d in (ties.coalesce(1), ties.repartition(7))
    )
    assert one == many
    assert {r.top_2gram_char_frac for r in one} == {0.352941}


def test_repetition_profile_paragraphs_and_thresholds(spark):
    """Paragraph dedup (split on blank lines) and the 0.20 dup-char
    threshold firing while dup-line stays under 0.30."""
    from utils_infra_spark.pipeline.text import repetition_profile

    para_doc = "para one here\n\npara two here\n\npara one here"
    docs = spark.createDataFrame([(1, para_doc)], "doc_id long, text string")
    [r] = repetition_profile(docs, "text", "doc_id").collect()
    # 3 paragraphs, one repeated -> 1/3
    assert r.dup_para_frac == 0.333333
    # identical lines are also the repeated paragraphs here
    assert r.n_lines == 3 and r.dup_line_frac == 0.333333
    assert r.gopher_pass is False


def test_dup_span_xxhash64_verdict_equality(spark):
    """hash_fn='xxhash64' (the production setting: bigint hashes, 8 B
    shuffle keys) must produce the identical coverage profile as the
    oracle-checkable md5 form — the hash is an implementation detail
    of the dup-set membership, never a semantics change."""
    from utils_infra_spark.pipeline.dedup import dup_span_coverage

    rows = [(i, f"tok{i % 7} " * 12 + f"tail {i}") for i in range(1, 41)]
    rows += [(100 + i, "the same boilerplate sentence repeated verbatim here okay")
             for i in range(1, 6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    md5_form = sorted(map(tuple, dup_span_coverage(docs, "text", "doc_id", window=8).collect()))
    xx_form = sorted(map(tuple, dup_span_coverage(
        docs, "text", "doc_id", window=8, hash_fn="xxhash64").collect()))
    assert md5_form == xx_form
    import pytest as _pytest
    with _pytest.raises(ValueError):
        dup_span_coverage(docs, "text", "doc_id", hash_fn="sha1")


def test_kmeans_refine_moves_assignments(spark, sf_dir):
    """Two Lloyd rounds must actually refine: the final partition
    differs from the round-0 literal-codebook assignment for some
    vectors (the seeded codebook is random gaussians, so means move),
    while every vector stays assigned exactly once."""
    from utils_infra_spark.queries.pipeline_queries import (
        ivf_assign_lists,
        kmeans_refine_assignments,
    )

    base = {r.vec_id: r.list_id for r in ivf_assign_lists(spark, sf_dir).collect()}
    refined = {r.vec_id: r.list_id for r in kmeans_refine_assignments(spark, sf_dir).collect()}
    assert set(base) == set(refined)  # same vectors, exactly once
    moved = sum(1 for v in base if base[v] != refined[v])
    assert moved > 0, "refinement changed nothing — Lloyd rounds are dead code"


def test_ccnet_approx_buckets_agree_with_exact_ntile(spark):
    """The 100 TB bucket path (approx_percentile cutoffs, broadcast,
    in-row assignment) must agree with the exact per-language ntile on
    >= 99% of documents at sf0.1 — GK rank error is n/accuracy plus
    boundary ties, measured 100% on this corpus (5000 docs). Also pins
    that every bucket is populated and near-balanced."""
    import os

    from utils_infra_spark.pipeline.text import (
        bucket_by_cutoffs,
        char_trigram_lm_scores,
    )
    from utils_infra_spark.sources.tables import load_table

    # sf0.1-pinned DELIBERATELY (not the sf_dir fixture): the measured
    # claim is ">= 99% agreement at sf0.1" and the GK rank-error math
    # needs the 5000-doc corpus to mean anything — skip, not fail,
    # where that dataset doesn't exist
    sf = "/root/testdata/sf0.1"
    if not os.path.exists(f"{sf}/documents.parquet"):
        pytest.skip("sf0.1 testdata not present")
    docs = load_table(spark, sf, "documents")
    scored = (
        char_trigram_lm_scores(docs, "text", "doc_id")
        .select("doc_id", "avg_neg_logp")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "avg_neg_logp")
        .persist()
    )
    try:
        exact = scored.selectExpr(
            "doc_id",
            "CAST(ntile(3) OVER (PARTITION BY lang"
            " ORDER BY avg_neg_logp, doc_id) AS INT) AS b_exact",
        )
        approx = bucket_by_cutoffs(scored, "avg_neg_logp", "lang").selectExpr(
            "doc_id", "ppl_bucket AS b_approx"
        )
        r = (
            exact.join(approx, "doc_id")
            .selectExpr(
                "COUNT(1) AS n",
                "SUM(IF(b_exact = b_approx, 1, 0)) AS s",
                "MIN(b_approx) AS lo",
                "MAX(b_approx) AS hi",
            )
            .collect()[0]
        )
        assert r["n"] >= 4000, "sf0.1 corpus expected"
        assert r["s"] / r["n"] >= 0.99, f"agreement {r['s'] / r['n']:.4f}"
        assert (r["lo"], r["hi"]) == (1, 3)
        sizes = {x["b_approx"]: x["count"] for x in approx.groupBy("b_approx").count().collect()}
        assert max(sizes.values()) - min(sizes.values()) <= r["n"] * 0.02
    finally:
        scored.unpersist()


def test_bucket_by_cutoffs_null_partition_kept(spark):
    """A NULL partition key must survive the cutoff join-back (the
    exact ntile twin buckets NULL-lang docs as their own partition; a
    plain equi-join silently dropped them from the output domain)."""
    from utils_infra_spark.pipeline.text import bucket_by_cutoffs

    rows = [(i, "en" if i % 3 else None, float(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, score double")
    out = bucket_by_cutoffs(df, "score", "lang").toPandas()
    assert len(out) == 30
    nulls = out[out.lang.isna()]
    assert len(nulls) == 10
    assert set(nulls.ppl_bucket) == {1, 2, 3}


def test_brute_force_topk_int32_ids(spark):
    """ids narrower than int64 must round-trip the Arrow kernel at the
    input type (numpy widened them to int64, which mapInArrow refuses
    to coerce back — runtime abort before the fix)."""
    from utils_infra_spark.pipeline.similarity import brute_force_topk

    rows = [(i, [float(i % 7)] * 8) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<float>")
    out = brute_force_topk(
        df.where("vec_id < 2"), df, vec_col="embedding", id_col="vec_id", k=3
    ).toPandas()
    assert len(out) == 6
    assert str(out.dtypes["cand_id"]) == "int32"


def test_paragraph_dedup_fixture(spark):
    """Real paragraph structure (the generated corpus is single-line,
    so the registered-query parity never exercises it): a footer
    paragraph shared by three docs survives only in the first, the
    multi-blank-line separator collapses correctly, whitespace-only
    segments are outside the dedup domain, and a doc reduced to
    nothing disappears."""
    from utils_infra_spark.pipeline.dedup import paragraph_dedup_corpus

    footer = "all rights reserved\ncontact us"
    rows = [
        (1, f"unique first body.\n\n{footer}"),
        (2, f"different second body.\n\n\n{footer}"),   # 3 newlines = one separator
        (3, footer),                                    # nothing survives
        (4, "  \n\n\t\n\nlast real paragraph."),        # blank segments dropped
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r["doc_id"]: r for r in paragraph_dedup_corpus(df, "text", "doc_id").collect()}
    assert set(out) == {1, 2, 4}                        # doc 3 emptied, doc 5 null
    assert out[1]["clean_text"] == f"unique first body.\n\n{footer}"
    assert out[1]["kept_paragraphs"] == 2 and out[1]["dropped_paragraphs"] == 0
    assert out[2]["clean_text"] == "different second body."
    assert out[2]["kept_paragraphs"] == 1 and out[2]["dropped_paragraphs"] == 1
    assert out[4]["clean_text"] == "last real paragraph."
    assert out[4]["kept_paragraphs"] == 1 and out[4]["dropped_paragraphs"] == 0


def test_segment_dedup_quote_in_pattern(spark):
    """A split pattern containing a single quote must survive the SQL
    embedding in the totals expression (the DataFrame-API half always
    accepted it; the two halves must agree on the pattern domain)."""
    from utils_infra_spark.pipeline.dedup import segment_dedup_corpus

    rows = [(1, "alpha beta''gamma delta''alpha beta"), (2, "alpha beta''zed")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {
        r["doc_id"]: r
        for r in segment_dedup_corpus(
            df, "text", "doc_id", split_pattern="'{2}", joiner="''", seg="seg"
        ).collect()
    }
    assert out[1]["clean_text"] == "alpha beta''gamma delta"
    assert out[1]["kept_segs"] == 2 and out[1]["dropped_segs"] == 1
    assert out[2]["clean_text"] == "zed"  # 'alpha beta' already seen in doc 1


def test_weighted_topk_sample_exact_k_and_reference(spark):
    """Exactly k per stratum, weights clamped, and the winners match a
    pure-Python A-ES recompute (max-of-w md5 draws) — the operator's
    whole determinism claim in one assertion. Also pins the FLOOR
    weight contract (Spark CAST(double AS INT) truncates while DuckDB
    ROUNDS — the explicit FLOOR is what keeps both engines on the
    same integer weight)."""
    import hashlib

    from utils_infra_spark.pipeline.sampling import weighted_topk_sample

    rows = [(i, "en" if i % 2 else "fr", i * 37 % 1400) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, n_chars bigint")
    out = weighted_topk_sample(
        df, "doc_id", "FLOOR(n_chars / 300)", 10, stratum_col="lang", max_weight=4
    ).collect()
    by_lang: dict[str, list] = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
        assert 1 <= r["weight"] <= 4
    assert {k: len(v) for k, v in by_lang.items()} == {"en": 10, "fr": 10}

    # python reference
    def ref_key(doc_id: int, n_chars: int) -> str:
        w = max(1, min(4, int(n_chars // 300)))
        return max(
            hashlib.md5(f"{doc_id}:{i}".encode()).hexdigest() for i in range(1, w + 1)
        )

    for lang in ("en", "fr"):
        want = sorted(
            ((ref_key(i, c), i) for i, lg, c in rows if lg == lang), reverse=True
        )[:10]
        got = sorted(((r["sample_key"], r["doc_id"]) for r in by_lang[lang]), reverse=True)
        assert got == want, lang


def test_brute_force_topk_codegen_matches_quantized_ground_truth(spark):
    """The all-JVM path must equal a numpy brute force computed over
    the SAME quantized integers (the contract: integer dots, one IEEE
    division, floor quantize at 1e-6)."""
    import math

    import numpy as np

    from utils_infra_spark.pipeline.similarity import brute_force_topk_codegen

    rng = np.random.default_rng(7)
    vecs = rng.normal(0, 0.3, size=(60, 8)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk_codegen(
        df.where("vec_id < 3"), df, k=4, in_dim=8
    ).collect()

    qint = np.array(
        [[math.floor(float(v) * 1_000_000 + 0.5) for v in row] for row in vecs],
        dtype=np.int64,
    )
    want = {}
    for qid in range(3):
        sims = []
        for cid in range(60):
            if cid == qid:
                continue
            d = int(np.dot(qint[qid], qint[cid]))
            qn2, cn2 = int(np.dot(qint[qid], qint[qid])), int(np.dot(qint[cid], qint[cid]))
            cos = math.floor(d / (math.sqrt(qn2) * math.sqrt(cn2)) * 1e6 + 0.5) / 1e6
            sims.append((-cos, cid))
        sims.sort()
        want[qid] = [(cid, -ns) for ns, cid in sims[:4]]
    got = {}
    for r in sorted(out, key=lambda r: (r.query_id, r.rnk)):
        got.setdefault(r.query_id, []).append((r.cand_id, r.cos_sim))
    assert got == want


def test_brute_force_topk_codegen_partition_and_finish_invariance(spark):
    """Identical answer for any partitioning AND for both finishes
    (the size-gated single-level vs the at-scale two-level pre-top-k):
    both rank by the same (cos desc, cand_id asc) criterion."""
    import numpy as np

    from utils_infra_spark.pipeline.similarity import brute_force_topk_codegen
    from utils_infra_spark.session import TINY_INPUT_CONF

    rng = np.random.default_rng(11)
    vecs = rng.normal(0, 0.3, size=(80, 8)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(80)]
    base = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    outs = []
    prior = spark.conf.get(TINY_INPUT_CONF, None)
    try:
        for tiny in ("true", "false"):
            spark.conf.set(TINY_INPUT_CONF, tiny)
            for parts in (1, 13):
                out = brute_force_topk_codegen(
                    base.repartition(parts).where("vec_id < 4"),
                    base.repartition(parts),
                    k=5,
                    in_dim=8,
                )
                outs.append(
                    sorted((r.query_id, r.rnk, r.cand_id, r.cos_sim) for r in out.collect())
                )
    finally:
        if prior is None:
            spark.conf.unset(TINY_INPUT_CONF)
        else:
            spark.conf.set(TINY_INPUT_CONF, prior)
    assert all(o == outs[0] for o in outs[1:]) and len(outs[0]) == 4 * 5


def test_brute_force_topk_codegen_excludes_zero_norm_and_wrong_dim(spark):
    from utils_infra_spark.pipeline.similarity import brute_force_topk_codegen

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.5, 0.5]),
        (2, [0.0, 0.0]),        # zero-norm candidate: excluded
        (3, [1.0, 0.0, 9.9]),   # wrong dim: excluded
        (4, None),              # null vector: excluded
        (5, [0.9, 0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk_codegen(df.where("vec_id <= 2"), df, k=10, in_dim=2).collect()
    # query 2 (zero-norm) emits nothing; candidates 2/3/4 never appear
    assert {r.query_id for r in out} == {0, 1}
    assert not {r.cand_id for r in out} & {2, 3, 4}


def test_brute_force_topk_codegen_empty_queries(spark):
    from utils_infra_spark.pipeline.similarity import brute_force_topk_codegen

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    out = brute_force_topk_codegen(df.where("vec_id < 0"), df, k=3, in_dim=2)
    assert out.count() == 0
    assert out.columns == ["query_id", "cand_id", "cos_sim", "rnk"]
