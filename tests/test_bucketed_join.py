"""Bucketed-table co-located join (sources/tables.py::write_bucketed).

The 100 TB technique the brief calls out ("bucketing for co-located
joins"): two tables bucketed by the same key into the same bucket
count sort-merge-join with ZERO exchanges — the one-time write-side
shuffle amortizes the per-run shuffle of both fact sides. These tests
pin (a) value equality with the plain join, (b) the zero-Exchange plan
for the bucketed form, (c) the exchanges the plain form pays, and
(d) the silent fallback when bucket counts mismatch — the failure mode
the docstring warns about.
"""

from __future__ import annotations

import re

import pytest

from utils_infra_spark.sources.tables import load_table, write_bucketed


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bucketed(spark, sf_dir, tmp_path_factory):
    """orders + lineitem bucketed by the join key, 8 buckets each."""
    tmp = tmp_path_factory.mktemp("bucketed")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    write_bucketed(orders, "b_orders", ["o_orderkey"], 8, str(tmp / "orders"))
    write_bucketed(li, "b_lineitem", ["l_orderkey"], 8, str(tmp / "lineitem"))
    yield orders, li
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_join_zero_exchange_and_value_equal(spark, sf_dir, bucketed):
    orders, li = bucketed
    bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
    # forbid broadcast so the join strategy under test is the SMJ the
    # 100 TB fact-to-fact case would take
    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bo.join(bl, bo["o_orderkey"] == bl["l_orderkey"]).selectExpr(
            "o_orderkey", "l_quantity", "o_totalprice", "l_extendedprice"
        )
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan  # co-located: scans are pre-bucketed
        assert re.search(r"Bucketed: true", plan), plan
        plain = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).selectExpr(
            "o_orderkey", "l_quantity", "o_totalprice", "l_extendedprice"
        )
        assert "Exchange" in _plan(plain)  # the shuffle bucketing amortizes
        a = sorted(tuple(r) for r in joined.collect())
        b = sorted(tuple(r) for r in plain.collect())
        assert a == b
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)


def test_bucket_count_mismatch_falls_back_to_exchange(spark, sf_dir, bucketed, tmp_path):
    """Mismatched bucket counts silently re-shuffle one side — pin the
    failure mode the write_bucketed docstring warns about, so the
    contract ('identical n_buckets or you pay the exchange') stays
    visibly true."""
    orders, li = bucketed
    write_bucketed(li, "b_lineitem_4", ["l_orderkey"], 4, str(tmp_path / "li4"))
    orig = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bo = spark.table("b_orders")
        bl4 = spark.table("b_lineitem_4")
        joined = bo.join(bl4, bo["o_orderkey"] == bl4["l_orderkey"])
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" in plan  # one side re-bucketed at read time
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", orig)
        spark.sql("DROP TABLE IF EXISTS b_lineitem_4")


def test_groupby_on_bucket_key_skips_exchange(spark, sf_dir, bucketed):
    """Aggregations keyed on the bucket key also ride the bucketing —
    the scan's hash-partitioned output satisfies the aggregate's
    distribution requirement, so per-batch rollups over a bucketed
    corpus pay zero shuffles."""
    bl = spark.table("b_lineitem")
    agg = bl.groupBy("l_orderkey").count()
    plan = _plan(agg)
    assert "Exchange" not in plan, plan


def test_bloom_pruned_join_equals_plain_join(spark):
    """The Bloom prune is a superset filter and the equi-join removes
    its false positives — the result must equal fact.join(dim) exactly
    for any m/k, including tiny filters with heavy FP rates, and NULL
    fact keys must drop (equi-join semantics)."""
    from utils_infra_spark.operators.joins import bloom_pruned_join

    fact = spark.createDataFrame(
        [(i % 97, i) for i in range(2000)] + [(None, 99999)],
        "k bigint, payload bigint",
    )
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(0, 97, 3)], "k bigint, attr string"
    )
    want = sorted(
        (r["k"], r["payload"], r["attr"]) for r in fact.join(dim, "k").collect()
    )
    # m_bits=64 forces many false positives through the prune
    for m_bits in (64, 65_536):
        got = sorted(
            (r["k"], r["payload"], r["attr"])
            for r in bloom_pruned_join(fact, dim, "k", m_bits=m_bits).collect()
        )
        assert got == want, m_bits
    semi = sorted(
        (r["k"], r["payload"])
        for r in bloom_pruned_join(fact, dim, "k", how="left_semi").collect()
    )
    assert semi == sorted((r["k"], r["payload"]) for r in fact.join(dim, "k", "left_semi").collect())


def test_bloom_pruned_join_rejects_outer_and_bad_m(spark):
    import pytest

    from utils_infra_spark.operators.joins import bloom_pruned_join

    fact = spark.createDataFrame([(1, 1)], "k bigint, p bigint")
    dim = spark.createDataFrame([(1, "a")], "k bigint, attr string")
    with pytest.raises(ValueError, match="prune drops non-matches"):
        bloom_pruned_join(fact, dim, "k", how="left")
    with pytest.raises(ValueError, match="multiple of 32"):
        bloom_pruned_join(fact, dim, "k", m_bits=100)


def test_bloom_pruned_join_probe_sits_below_fact_exchange(spark, sf_dir):
    """The point of the prune is bandwidth: the xxhash64 bit-test
    filter must run on the fact scan BEFORE the fact side's join
    exchange, and the filter map must arrive by broadcast."""
    from utils_infra_spark.queries import REGISTRY, _load

    _load()
    plan = (
        REGISTRY["bloom_pruned_urgent_revenue"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "xxhash64" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # ordering assertion (a tree prints parent-first, children after):
    # the Filter carrying the xxhash64 bit test must sit BELOW the
    # l_orderkey equi-join — i.e. its line comes after the join's line
    # — or the prune ran after the join and saved no bandwidth
    lines = plan.splitlines()
    join_line = next(
        i for i, ln in enumerate(lines)
        if ("Join" in ln or "HashJoin" in ln) and "l_orderkey" in ln
        and "xxhash64" not in ln
    )
    # Catalyst may keep the bit test as a Filter or fuse it into the
    # scalar-map BroadcastNestedLoopJoin's condition — either way it
    # must reference the FACT key (the dim-side filter build also
    # contains xxhash64, inside its explode)
    probe_line = next(
        i for i, ln in enumerate(lines)
        if "xxhash64" in ln and ("Filter" in ln or "BroadcastNestedLoopJoin" in ln)
    )
    assert probe_line > join_line, (
        f"bloom probe (line {probe_line}) hoisted above the equi-join "
        f"(line {join_line}):\n{plan[:3000]}"
    )
