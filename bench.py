"""Benchmark runner: times the headline queries over the parquet tables
in $SPARK_GRAFT_SF_DIR (default: the sf0.1 test data) on
local[$SPARK_GRAFT_CPUS], paired against DuckDB, and prints ONE JSON
line:

    SPARK_GRAFT_SF_DIR=<table dir> SPARK_GRAFT_CPUS=4 python bench.py

Method, one live sweep:

* Per headline query, RUNS alternating (Spark, DuckDB) pairs, each
  Spark run immediately followed by one DuckDB run of the query's
  oracle SQL, so host load that changes mid-sweep hits both engines.
* Every Spark run executes a FRESH QueryExecution over the registry's
  prepared logical plan (`plan(...).select("*")`): analysis,
  optimization, physical planning, scans, shuffles and broadcasts are
  re-done per run (pinned by a task-count test in tests/test_plans.py).
  Both engines deliver an Arrow table (`toArrow()` / `.arrow()`), and
  `spark.catalog.clearCache()` drops per-query persisted intermediates
  between runs.
* The registry re-serves a prepared plan only if building it ran no
  Spark job (`Query.plan` checks each build's job tag), so a builder
  that runs jobs while building (bloom's split, the top-k query-vector
  collect, the char-LM fit) is rebuilt and pays them in every run. The
  one exception is the literal micro-dim fold: `literal_lookup_maps`
  folds a dimension of at most 100 rows into map literals once.
* Run 1 is cold: it scans parquet and pays plan build, codegen and JIT.
  Runs 2..RUNS are warm. On tiny input (`tune_for_input` measures it)
  the warm runs scan a block-manager copy of the base tables built
  once up front (sources/tables.py: cache_base_tables); its build time
  is reported, not hidden. DuckDB's warm runs re-read the same parquet
  out of the OS page cache.
* Each query reports the median and IQR of its warm samples on both
  engines. `value` is the sum of the Spark medians and `value_iqr` the
  IQR of the warm pass totals (pass i = the i-th warm run of every
  query). `ratio_warm` is Spark/DuckDB over the frozen r1-r5 oracle
  subset, `ratio_warm_full` over every oracle-backed headline query.

Load average, the cost of a no-op Spark job (`floor_sec`), session
start, input-cache build, cold total and process wall are recorded as
covariates; none of them gates or repeats the run. Every raw sample
lands in the DETAIL file next to this script; stdout carries only the
scalars the harness reads.
"""

from __future__ import annotations

import json
import os
import statistics
import time

_T0 = time.perf_counter()

from utils_infra_spark.queries import REGISTRY, _load  # noqa: E402
from utils_infra_spark.session import get_spark, is_tiny_input, tune_for_input  # noqa: E402
from utils_infra_spark.sources.tables import (  # noqa: E402
    TABLE_NAMES,
    cache_base_tables,
    load_table,
    set_input_mode,
)

# headline set: one per operator family + the heavy pipeline ops
HEADLINE = [
    "pricing_summary",
    "composite_agg_orders",
    "order_revenue_top10",
    "nation_revenue",
    "latest_event_per_user",
    "enrich_customer_nation",
    "top3_orders_per_customer",
    "union_distinct_orders",
    "sliding_window_counts",
    "dsl_filter_events",
    "mercator_tile_cover",
    "point_in_polygon_regions",
    "dedup_exact_documents",
    "minhash_near_dup_documents",
    "embedding_topk_cosine",
    "embedding_bucketed_pairs",
    "text_stats_documents",
    "token_histogram",
    # r6 LLM-pipeline ops; ratio_warm keeps the r1-r5 set above so the
    # gate metric stays comparable across rounds
    "char_lm_quality_documents",
    "line_dedup_documents",
    "bloom_novelty_documents",
]

# the r1-r5 headline names — frozen for the legacy-subset ratio
R5_SET = frozenset(HEADLINE[:18])

RUNS = 8  # (Spark, DuckDB) pairs per query; run 1 is cold
DETAIL = "BENCH_result.json"  # full payload with every raw sample


def median_iqr(xs: list[float]) -> tuple[float, float]:
    """Median and interquartile range (exclusive quartiles: for 7
    samples, Q1 and Q3 are the 2nd and 6th smallest)."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q2, q3 - q1


def summarize(spark_runs: dict[str, list[float]], duck_runs: dict[str, list[float]]) -> dict:
    """The measured part of the payload, from raw per-query samples
    (sample 0 cold, the rest warm). `duck_runs` holds only the
    oracle-backed queries."""
    warm = {k: median_iqr(v[1:]) for k, v in spark_runs.items()}
    duck = {k: median_iqr(v[1:]) for k, v in duck_runs.items()}
    queries = {k: round(m, 3) for k, (m, _) in warm.items()}
    duck_queries = {k: round(m, 4) for k, (m, _) in duck.items()}
    passes = [sum(run) for run in zip(*(v[1:] for v in spark_runs.values()))]

    def ratio(names) -> tuple[float, float, float | None]:
        s = round(sum(queries[k] for k in names), 3)
        d = round(sum(duck_queries[k] for k in names), 3)
        return s, d, round(s / d, 2) if d else None

    spark_r5, duck_r5, ratio_r5 = ratio([k for k in duck_queries if k in R5_SET])
    spark_full, duck_full, ratio_full = ratio(list(duck_queries))
    cold = {k: round(v[0], 3) for k, v in spark_runs.items()}
    return {
        "value": round(sum(m for m, _ in warm.values()), 3),
        "value_iqr": round(median_iqr(passes)[1], 3),
        "queries": queries,
        "queries_iqr": {k: round(i, 3) for k, (_, i) in warm.items()},
        "cold_total": round(sum(cold.values()), 3),
        "cold_queries": cold,
        "spark_oracle_subset_total": spark_r5,
        "duck_total": duck_r5,
        "ratio_warm": ratio_r5,
        "spark_full_total": spark_full,
        "duck_full_total": duck_full,
        "ratio_warm_full": ratio_full,
        "duck_queries": duck_queries,
        "duck_queries_iqr": {k: round(i, 4) for k, (_, i) in duck.items()},
        "spark_runs": spark_runs,
        "duck_runs": duck_runs,
    }


def _time_pairs(spark, sf_dir: str, cached_input: bool) -> tuple[dict, dict]:
    """RUNS alternating (Spark, DuckDB) pairs per headline query; returns
    the raw Spark and DuckDB samples in seconds."""
    import duckdb

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    spark_runs: dict[str, list[float]] = {}
    duck_runs: dict[str, list[float]] = {}
    for name in HEADLINE:
        q = REGISTRY[name]
        for i in range(RUNS):
            set_input_mode("cached" if cached_input and i > 0 else "parquet")
            t0 = time.perf_counter()
            q.plan(spark, sf_dir).select("*").toArrow()
            spark_runs.setdefault(name, []).append(round(time.perf_counter() - t0, 4))
            spark.catalog.clearCache()
            if q.oracle is not None:
                t0 = time.perf_counter()
                con.execute(q.oracle).arrow()
                duck_runs.setdefault(name, []).append(round(time.perf_counter() - t0, 4))
    set_input_mode("parquet")
    con.close()
    return spark_runs, duck_runs


def _floor_sec(spark) -> float:
    """Median warm cost of a 1-task no-op job, run the way the queries
    are (fresh QueryExecution, Arrow delivery): the per-query
    scheduling constant that bounds any Spark result at tiny sf."""
    df = spark.range(1)
    runs = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        df.select("*").toArrow()
        runs.append(time.perf_counter() - t0)
    return round(median_iqr(runs[1:])[0], 4)


# the stdout line: the harness json-parses the LAST 2000 bytes of this
# process's output, so it carries the contract keys plus scalars only;
# per-query dicts other than `queries` and all raw samples live in
# DETAIL, pointed to by `detail`
_LINE_KEYS = (
    "metric",
    "value",
    "value_iqr",
    "unit",
    "queries",
    "sf",
    "cold_total",
    "spark_oracle_subset_total",
    "duck_total",
    "ratio_warm",
    "spark_full_total",
    "duck_full_total",
    "ratio_warm_full",
    "floor_sec",
    "loadavg_1m",
    "session_start_sec",
    "input_bytes",
    "input_cached",
    "input_cache_build_sec",
    "process_wall_sec",
    "tuned_confs",
    "detail",
)
# hard budget with headroom for the driver's 2000-byte tail capture
_LINE_BUDGET = 1900


def compact_line(payload: dict) -> str:
    """The single stdout JSON line. Should the headline set ever push it
    past the budget, per-query medians are dropped (they stay in
    DETAIL): dropping beats an unparseable truncation."""
    line = json.dumps({k: payload[k] for k in _LINE_KEYS if k in payload})
    if len(line) > _LINE_BUDGET:
        slim = {k: payload[k] for k in _LINE_KEYS if k in payload and k != "queries"}
        slim["queries_in"] = DETAIL
        line = json.dumps(slim)
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    t0 = time.perf_counter()
    spark = get_spark("utils-infra-bench")
    session_start_sec = round(time.perf_counter() - t0, 3)
    input_bytes = tune_for_input(spark, sf_dir)
    _load()

    # JVM/codegen warmup, parquet footers and Arrow init, so the first
    # query is not charged for session fixed costs
    spark.range(1000).selectExpr("sum(id)").collect()
    for t in TABLE_NAMES:
        load_table(spark, sf_dir, t).limit(1).collect()
    spark.range(1).select("*").toArrow()

    # tiny input only: the warm runs scan a block-manager copy of the
    # base tables (the buffer-pool analog, docs/SCALE.md); at
    # production sizes this branch never runs and every scan is parquet
    cached_input = input_bytes > 0 and is_tiny_input(spark)
    cache_partitions: dict[str, int] = {}
    cache_build_sec = 0.0
    if cached_input:
        t0 = time.perf_counter()
        cache_partitions = cache_base_tables(spark, sf_dir)
        cache_build_sec = round(time.perf_counter() - t0, 3)

    load_before = os.getloadavg()[0]
    spark_runs, duck_runs = _time_pairs(spark, sf_dir, cached_input)
    load_after = os.getloadavg()[0]

    full = {
        "metric": "headline_queries_total_runtime_warm",
        "unit": "sec",
        "sf": sf,
        **summarize(spark_runs, duck_runs),
        "floor_sec": _floor_sec(spark),
        "loadavg_1m": [round(load_before, 2), round(load_after, 2)],
        "session_start_sec": session_start_sec,
        "input_bytes": input_bytes,
        "input_cached": cached_input,
        "input_cache_build_sec": cache_build_sec,
        "input_cache_partitions": cache_partitions,
        "tuned_confs": {
            k: spark.conf.get(k)
            for k in ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
        },
        "detail": DETAIL,
    }
    # stop Spark first so shutdown chatter cannot land after the line
    spark.stop()
    full["process_wall_sec"] = round(time.perf_counter() - _T0, 3)
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, DETAIL), "w") as f:
        f.write(json.dumps(full) + "\n")
    print(compact_line(full), flush=True)


if __name__ == "__main__":
    main()
