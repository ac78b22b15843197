"""Connected components (pipeline/cluster.py) vs a pure-Python
union-find reference, over adversarial graph shapes."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from utils_infra_spark.pipeline.cluster import cluster_documents, connected_components


def _union_find(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    return {n: min(m for m in nodes if find(m) == find(n)) for n in nodes}


def _check(spark, edges):
    nodes = sorted({n for e in edges for n in e})
    expected = _union_find(nodes, edges)
    df = spark.createDataFrame([(a, b) for a, b in edges], "src long, dst long")
    got = {r["node"]: r["comp"] for r in connected_components(df).collect()}
    assert got == expected


def test_chain_converges_logarithmically(spark):
    # a 64-node path is the worst case for naive min-label
    # propagation (64 rounds); the alternating algorithm must finish
    # well inside max_iter=25 or raise.
    _check(spark, [(i, i + 1) for i in range(64)])


def test_cliques_and_singleton_edges(spark):
    edges = [(a, b) for a in range(5) for b in range(a + 1, 5)]  # clique 0-4
    edges += [(10, 11), (12, 13), (11, 12)]  # chain merging two pairs
    edges += [(20, 20), (21, 20)]  # self-loop dropped, pair kept
    _check(spark, edges)


def test_duplicate_and_reversed_edges(spark):
    _check(spark, [(1, 2), (2, 1), (1, 2), (3, 2), (2, 3), (5, 4)])


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_random_sparse_graphs(spark, seed):
    rng = random.Random(seed)
    n = 120
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(90)]
    edges = [(a, b) for a, b in edges if a != b]
    _check(spark, edges)


def test_cluster_documents_representatives(spark):
    docs = spark.createDataFrame(
        [(i, f"doc-{i}") for i in range(8)], "doc_id long, text string"
    )
    edges = spark.createDataFrame([(0, 1), (1, 2), (5, 6)], "src long, dst long")
    out = cluster_documents(docs, edges, "doc_id").collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[0]["cluster_id"] == by_id[1]["cluster_id"] == by_id[2]["cluster_id"] == 0
    assert by_id[5]["cluster_id"] == by_id[6]["cluster_id"] == 5
    for i in (3, 4, 7):  # singletons: own cluster, size 1, kept
        assert by_id[i]["cluster_id"] == i and by_id[i]["cluster_size"] == 1
        assert by_id[i]["is_representative"]
    assert by_id[0]["cluster_size"] == 3 and by_id[0]["is_representative"]
    assert not by_id[1]["is_representative"] and not by_id[2]["is_representative"]
    # exactly one representative per cluster
    reps = [r for r in out if r["is_representative"]]
    assert len(reps) == len({r["cluster_id"] for r in out})


def test_empty_edges_all_singletons(spark):
    docs = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    edges = spark.createDataFrame([], "src long, dst long")
    out = cluster_documents(docs, edges, "doc_id").collect()
    assert all(r["cluster_size"] == 1 and r["is_representative"] for r in out)


# ---- prefix-filtered similarity join (pipeline/dedup.py) ----


@pytest.mark.parametrize("threshold", [0.3, 0.5, 0.7])
def test_prefix_filter_equals_quadratic(spark, threshold):
    from pyspark.sql import functions as F

    from utils_infra_spark.pipeline.dedup import jaccard, prefix_filter_pairs, shingles_from_tokens

    rng = random.Random(threshold)
    vocab = [f"w{i}" for i in range(12)]
    rows = []
    for i in range(40):
        n = rng.randrange(4, 15)
        words = [rng.choice(vocab) for _ in range(n)]
        rows.append((i, " ".join(words)))
        if rng.random() < 0.4:  # planted near-dup: small mutation
            mutated = list(words)
            mutated[rng.randrange(n)] = rng.choice(vocab)
            rows.append((1000 + i, " ".join(mutated)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in prefix_filter_pairs(docs, "text", "doc_id", threshold=threshold).collect()
    }
    base = docs.select(
        "doc_id", F.array_distinct(shingles_from_tokens(F.split(F.trim("text"), r"\s+"), 3)).alias("g")
    ).where(F.size(F.split(F.trim("text"), r"\s+")) >= 3)
    a, b = base.alias("a"), base.alias("b")
    exp = {
        (r.id_a, r.id_b, r.jaccard)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(jaccard(F.col("a.g"), F.col("b.g")), 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
        .collect()
    }
    assert got == exp


# ---- count-min sketch (pipeline/sketch.py) ----


def test_cms_never_underestimates_and_merges(spark):
    from pyspark.sql import functions as F

    from utils_infra_spark.pipeline.sketch import cms_estimate, cms_merge, count_min_sketch

    rng = random.Random(5)
    items = [(f"item{rng.randrange(30)}",) for _ in range(2000)]
    df = spark.createDataFrame(items, "t string")
    W, D = 64, 4  # narrow width forces collisions → nonzero overestimates
    sketch = count_min_sketch(df, "t", width=W, depth=D)
    assert sketch.count() <= W * D
    exact = df.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    est = cms_estimate(sketch, exact, "t", width=W, depth=D).collect()
    assert all(r["cms_est"] >= r["n"] for r in est)  # one-sided error
    assert {r["t"] for r in est} == {t for t, in items}

    # mergeability: CMS(a ∪ b) == merge(CMS(a), CMS(b)) cell-for-cell
    half = len(items) // 2
    a = spark.createDataFrame(items[:half], "t string")
    b = spark.createDataFrame(items[half:], "t string")
    merged = {
        (r["row_idx"], r["bucket"]): r["cnt"]
        for r in cms_merge(
            count_min_sketch(a, "t", width=W, depth=D),
            count_min_sketch(b, "t", width=W, depth=D),
        ).collect()
    }
    whole = {(r["row_idx"], r["bucket"]): r["cnt"] for r in sketch.collect()}
    assert merged == whole


def test_cc_frees_superseded_round_checkpoints(spark, persistent_rdd_ids):
    """Dataset.unpersist on a localCheckpoint'd frame is a silent
    no-op (only the SQL CacheManager is consulted), so rounds must be
    freed BY RDD ID — exactly one persistent RDD (the converged edge
    set, the result's lineage) may survive the iteration."""
    from utils_infra_spark.pipeline.cluster import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 200, 2)] + [(i, i + 1) for i in range(1, 199, 2)],
        "src long, dst long",
    )
    # diff ID SETS, not the global count: ContextCleaner can
    # concurrently collect persisted RDDs left by earlier tests (the
    # map holds them weakly), so a count diff is flaky — new ids are
    # what this test owns
    before = persistent_rdd_ids()
    out = connected_components(edges)
    assert out.count() == 200  # one chain -> one component of all 200 nodes
    new = persistent_rdd_ids() - before
    assert len(new) == 1, f"expected only the converged set persisted, got {sorted(new)}"
