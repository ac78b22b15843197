"""Measured scale curves (docs/SCALE.md): one Spark-vs-DuckDB
measurement of one operator at one input size.

    PYTHONPATH=. python tools/scale_curve.py <curve> <n>

Three tables:

* GENERATORS — seeded synthetic inputs keyed by shape. Each writes one
  parquet table into `/tmp/scale_curve/<generator>_<n>/<table>.parquet`,
  built in a `.tmp` sibling and renamed into place, so an interrupted
  run never leaves a partial input behind and two shapes at the same n
  never share a directory. Inputs are generated on demand and reused.
* CURVES — one per measurement: a generator, a Spark builder
  `(spark, data_dir, n) -> DataFrame`, the DuckDB SQL (None for a
  Spark-only curve) and a check over the two results. Most curves run
  the registered query's builder or its oracle (`REGISTRY[...]`) on the
  generated table; the rest write their SQL here because the registry
  has no query with that shape.
* One timing loop, bench.py's rule: RUNS alternating (Spark, DuckDB)
  pairs, run 1 cold, the check on run 1's results before any timing
  counts, median and IQR over the warm runs. Every Spark run builds a
  fresh DataFrame (plan build included) and delivers Arrow; both
  engines re-read the same parquet files.

The output is one JSON line with the check's facts, every raw sample
and the warm medians, IQRs and Spark/DuckDB median ratio.

The topk_q_* curves measure the |Q| crossover between the all-JVM
codegen top-k and the Arrow matmul kernel: n is the query count, the
candidate corpus is a fixed 2,048 generated vectors (the crossover was
first measured on the sf0.1 test embeddings, 2,000 valid vectors), and
codegen-vs-Arrow is read by comparing the two curves' Spark medians at
the same n.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time
from typing import Callable, NamedTuple

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

from bench import RUNS, median_iqr
from utils_infra_spark.operators.aggregations import weighted_median, weighted_quantile_bracketed
from utils_infra_spark.operators.ranking import global_rank, sorted_neighborhood_pairs
from utils_infra_spark.operators.skyline import pareto_frontier_2d
from utils_infra_spark.operators.temporal import interval_coalesce
from utils_infra_spark.pipeline import similarity
from utils_infra_spark.pipeline.dedup import (
    bloom_novelty,
    boilerplate_line_removal,
    dup_span_coverage,
    minhash_near_duplicates,
)
from utils_infra_spark.pipeline.graph import pagerank
from utils_infra_spark.pipeline.sketch import heavy_hitters_exact
from utils_infra_spark.pipeline.text import (
    c4_line_filter,
    control_char_profile,
    dsir_importance_scores,
    quality_profile,
    repetition_profile,
)
from utils_infra_spark.queries import REGISTRY, _load
from utils_infra_spark.session import get_spark
from utils_infra_spark.sources.tables import load_table

CACHE = "/tmp/scale_curve"

# --------------------------------------------------------------------------
# generators: (spark, out_dir, n) -> None, each writing one parquet dataset


def _docs(spark, out: str, n: int) -> None:
    """~100 tokens/doc from a 10k-word vocab, seed 42, 32 files; every
    100th doc a 5%-mutated copy of the previous one (a real near-dup).
    Generation stops once the docs run out, so no file is empty (an
    empty file carries null-typed columns and breaks schema merging)."""
    files, vocab = 32, 10_000
    os.makedirs(out)
    rng = np.random.default_rng(42)
    words = np.array([f"w{i:04d}" for i in range(vocab)])
    per = (n + files - 1) // files
    doc_id = 0
    prev_tokens = None
    for f in range(files):
        if doc_id >= n:
            break
        ids, texts = [], []
        for _ in range(min(per, n - doc_id)):
            n_tok = int(rng.integers(80, 121))
            toks = words[rng.integers(0, vocab, size=n_tok)]
            if doc_id % 100 == 99 and prev_tokens is not None:
                toks = prev_tokens.copy()
                flip = rng.random(len(toks)) < 0.05
                toks[flip] = words[rng.integers(0, vocab, size=int(flip.sum()))]
            prev_tokens = toks
            ids.append(doc_id)
            texts.append(" ".join(toks))
            doc_id += 1
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}),
            f"{out}/part{f:02d}.parquet",
        )


def _relined(line_count: str, where: str = ""):
    """The `docs` corpus re-lined to 5 tokens per line, so the line
    operators have real line structure."""

    def gen(spark, out: str, n: int) -> None:
        docs = spark.read.parquet(f"{generate(spark, 'docs', n)}/documents.parquet")
        spark.sql(
            f"""
            SELECT doc_id,
                   array_join(transform(sequence(0, {line_count} - 1),
                              i -> array_join(slice(split(text, ' '), i * 5 + 1, 5), ' ')), '\n') AS text
            FROM {{d}} {where}
            """,
            d=docs.select("doc_id", "text"),
        ).write.parquet(out)

    return gen


def _events(spark, out: str, n: int) -> None:
    """n events over n/20 users and 8 zipf-skewed types, seed 42, 32 files."""
    files = 32
    os.makedirs(out)
    rng = np.random.default_rng(42)
    per = (n + files - 1) // files
    written = 0
    for f in range(files):
        if written >= n:
            break
        k = min(per, n - written)
        users = rng.integers(0, max(n // 20, 8), size=k)
        types = rng.choice(
            [f"t{i}" for i in range(8)], size=k, p=[0.4, 0.2, 0.1, 0.1, 0.08, 0.06, 0.04, 0.02]
        )
        pq.write_table(
            pa.table({"event_type": types, "user_id": users.astype("int64")}),
            f"{out}/part-{f:03d}.parquet",
        )
        written += k


def _emb(spark, out: str, n: int) -> None:
    """n standard-normal 64-dim vectors, seed 42, exactly 32 files."""
    files, dim = 32, 64
    if n % files:
        raise SystemExit(f"the emb generator needs n divisible by {files}, got {n}")
    os.makedirs(out)
    rng = np.random.default_rng(42)
    per = n // files
    for f in range(files):
        mat = rng.standard_normal((per, dim)).astype(np.float32)
        flat = pa.array(mat.reshape(-1))
        tbl = pa.table(
            {
                "vec_id": np.arange(f * per, (f + 1) * per, dtype=np.int64),
                "embedding": pa.FixedSizeListArray.from_arrays(flat, dim).cast(pa.list_(pa.float32())),
            }
        )
        pq.write_table(tbl, f"{out}/part{f:02d}.parquet")


def _emb_dups(spark, out: str, n: int) -> None:
    """n 64-dim vectors, seed 7, 16 files: the last 15% copy a random
    earlier vector plus N(0, 0.03) noise (cosine ~0.999)."""
    files, dim = 16, 64
    os.makedirs(out)
    rng = np.random.default_rng(7)
    base = rng.standard_normal((n, dim)).astype(np.float32)
    n_dup = int(n * 0.15)
    src = rng.integers(0, n - n_dup, size=n_dup)
    base[n - n_dup :] = base[src] + rng.normal(0, 0.03, (n_dup, dim)).astype(np.float32)
    per = (n + files - 1) // files
    for f in range(files):
        lo, hi = f * per, min((f + 1) * per, n)
        if lo >= hi:
            break
        pq.write_table(
            pa.table({"vec_id": np.arange(lo, hi, dtype=np.int64), "embedding": list(base[lo:hi])}),
            f"{out}/part-{f:03d}.parquet",
        )


def _edges(redistribute: bool):
    """Power-law-ish graph: node i links to (7i+3) % i and (13i+5) % i.
    It has no dangling node, so the redistribute form points ~1% of
    edges at 100 pure sinks."""

    def gen(spark, out: str, n: int) -> None:
        base = spark.range(1, n).selectExpr(
            "CAST(id AS BIGINT) AS src", "(id * 7 + 3) % id AS dst"
        ).union(spark.range(1, n).selectExpr("CAST(id AS BIGINT) AS src", "(id * 13 + 5) % id AS dst"))
        if redistribute:
            base = base.selectExpr(
                "src",
                f"CASE WHEN src % 100 = 7 THEN CAST({n} + (src DIV 100) % 100 AS BIGINT) ELSE dst END AS dst",
            )
        base.where("src <> dst").distinct().write.parquet(out)

    return gen


def _range(exprs: Callable[[int], list[str]], dedup: list[str] | None = None):
    """One row per id in spark.range(n), projected through `exprs(n)`."""

    def gen(spark, out: str, n: int) -> None:
        df = spark.range(n).selectExpr(*exprs(n))
        (df.dropDuplicates(dedup) if dedup else df).write.parquet(out)

    return gen


_PHRASES = {
    0: ("aa", "the quick brown fox jumps over the lazy dog again and again"),
    1: ("bb", "el rapido zorro marron salta sobre el perro perezoso otra vez"),
    2: ("cc", "der schnelle braune fuchs springt uber den faulen hund nochmal"),
    3: ("dd", "le renard brun rapide saute par dessus le chien paresseux encore"),
}
_LANG_CASES = " ".join(f"WHEN {k} THEN '{lang}|{txt}'" for k, (lang, txt) in _PHRASES.items())

# name -> (table, generator)
GENERATORS: dict[str, tuple[str, Callable]] = {
    "docs": ("documents", _docs),
    "doc_lines": ("documents", _relined("CAST(size(split(text, ' ')) / 5 AS INT)")),
    "doc_lines_ceil": (
        "documents",
        _relined("CAST(CEIL(size(split(text, ' ')) / 5.0) AS INT)", "WHERE size(split(text, ' ')) >= 1"),
    ),
    "events": ("events", _events),
    "emb": ("embeddings", _emb),
    "emb_dups": ("embeddings", _emb_dups),
    "edges_leak": ("edges", _edges(False)),
    "edges_dangling": ("edges", _edges(True)),
    # half the stream is 20 hot tokens, half unique singletons
    "tokens": ("tok", _range(lambda n: [
        "CASE WHEN id % 2 = 0 THEN concat('hot', CAST(conv(substring(md5(CAST(id AS STRING)), 1, 4), 16, 10) % 20 AS STRING)) "
        "ELSE concat('tail', CAST(id AS STRING)) END AS tok"
    ])),
    # ~200 intervals per key, every 7th one long enough to swallow later ones
    "intervals": ("iv", _range(lambda n: [
        "CAST(id AS BIGINT) AS event_id",
        f"CAST(id % {max(n // 200, 1)} AS BIGINT) AS user_id",
        "CAST((id * 2654435761) % 10000 AS BIGINT) AS s",
        "CAST((id * 2654435761) % 10000 + CASE WHEN id % 7 = 0 THEN 40 ELSE 3 END AS BIGINT) AS e",
    ])),
    # 4 synthetic languages, a per-doc salt token
    "langid": ("documents", _range(lambda n: [
        "CAST(id AS BIGINT) AS doc_id",
        f"split(CASE CAST(id % 4 AS INT) {_LANG_CASES} END, '\\\\|')[0] AS lang",
        f"concat(split(CASE CAST(id % 4 AS INT) {_LANG_CASES} END, '\\\\|')[1],"
        " ' tok', CAST(id AS STRING)) AS text",
    ])),
    # continuous, ~all-distinct doubles
    "pareto": ("pts", _range(lambda n: [
        "CAST(id AS BIGINT) AS rid",
        "CAST((id * 2654435761) % 1000000007 AS DOUBLE) / 1000.0 AS x",
        "CAST((id * 40503 + 7) % 999999937 AS DOUBLE) / 1000.0 AS y",
    ])),
    "rank_keys": ("pts", _range(lambda n: [
        "CAST(id AS BIGINT) AS rid",
        "CAST((id * 2654435761) % 1000000007 AS DOUBLE) / 1000.0 AS k",
    ])),
    "wmedian": ("t", _range(lambda n: [
        "CAST(id % 16 AS STRING) AS g",
        "CAST((id * 2654435761) % 1000003 AS BIGINT) AS v",
        "CAST(1 + (id * 40503) % 9 AS BIGINT) AS w",
    ])),
    "wqb": ("t", _range(lambda n: [
        "CAST(id % 8 AS STRING) AS g",
        "CAST((id * 2654435761) % 999999937 AS DOUBLE) / 9973.0 AS v",
        "CAST(1 + (id * 40503) % 9 AS INT) AS w",
    ])),
    # 8 groups, wide value domain, unique id tiebreak
    "grouped_values": ("t", _range(lambda n: [
        "CAST(id % 8 AS STRING) AS g",
        "CAST((id * 2654435761) % 99999989 AS BIGINT) AS v",
        "id",
    ])),
    # zipf-ish token stream split into two corpora
    "keyness": ("t", _range(lambda n: [
        "CONCAT('tok', CAST((id * id + id) % 20011 AS STRING)) AS tok",
        "CAST(id % 2 AS INT) AS corpus",
    ])),
    # ~4 items per basket, zipf-ish item domain
    "baskets": ("t", _range(lambda n: [
        "CAST(id DIV 4 AS BIGINT) AS basket",
        "CAST((id * id + 17 * id) % 5003 AS BIGINT) AS item",
    ], dedup=["basket", "item"])),
    # n events over n/50 users, 7 event kinds
    "motif_events": ("t", _range(lambda n: [
        f"CAST(id % (CAST({n} AS BIGINT) DIV 50) AS BIGINT) AS user_id",
        "id AS seq",
        "CAST((id * 2654435761) % 7 AS STRING) AS ev",
    ])),
}


def data_dir(gen: str, n: int) -> str:
    return os.path.join(CACHE, f"{gen}_{n}")


def generate(spark, gen: str, n: int) -> str:
    """The directory holding generator `gen`'s table at size n, built
    on first use (in a `.tmp` sibling, renamed into place when done)."""
    d = data_dir(gen, n)
    if not os.path.exists(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        table, fn = GENERATORS[gen]
        fn(spark, f"{tmp}/{table}.parquet", n)
        os.rename(tmp, d)
    return d


# --------------------------------------------------------------------------
# checks: (spark_table, duck_table_or_None, n) -> facts dict; raise on mismatch


def _rows(t: pa.Table, cols: list[str]) -> list[tuple]:
    return sorted(zip(*(t.column(c).to_pylist() for c in cols)))


def _equal(what: str, a, b) -> None:
    if a != b:
        raise AssertionError(f"{what}: spark and duckdb differ")


def same_rows(cols: list[str] | None = None):
    """Cross-engine: identical row multisets over `cols` (default: all)."""

    def check(st, dt, n):
        c = cols or sorted(st.column_names)
        s = _rows(st, c)
        _equal("rows", s, _rows(dt, c))
        return {"rows": len(s)}

    return check


def row_count(expect: Callable[[int], int] | None = None):
    """Equal row counts across engines, and `expect(n)` rows if given."""

    def check(st, dt, n):
        if dt is not None:
            _equal("row count", st.num_rows, dt.num_rows)
        if expect is not None:
            _equal(f"row count vs {expect(n)} expected", st.num_rows, expect(n))
        return {"rows": st.num_rows}

    return check


def _near_dup_pairs(st, dt, n):
    # every 100th doc is a mutated copy of the previous one (Jaccard
    # ~0.8); LSH may miss a few of them, and random docs never collide
    planted = n // 100
    if not 0.9 * planted <= st.num_rows <= planted:
        raise AssertionError(f"{st.num_rows} near-dup pairs, {planted} planted")
    return {"rows": st.num_rows, "planted_pairs": planted}


def _hll(st, dt, n):
    s = _rows(st, ["event_type", "hll_estimate"])
    _equal("hll estimates", s, _rows(dt, ["event_type", "hll_estimate"]))
    errs = [abs(r["hll_estimate"] - r["exact_distinct"]) / r["exact_distinct"] for r in st.to_pylist()]
    return {
        "rows": len(s),
        "max_rel_err": round(max(errs), 3),
        "mean_rel_err": round(sum(errs) / len(errs), 3),
    }


def _bloom(st, dt, n):
    facts = same_rows(["doc_id", "maybe_seen", "exact_seen"])(st, dt, n)
    seen = zip(st.column("maybe_seen").to_pylist(), st.column("exact_seen").to_pylist())
    fp = sum(1 for maybe, exact in seen if maybe and not exact)
    # the filter is a fixed 2^16 bits with k=4: fpp = (1 - e^{-k*inserted/m})^k
    inserted = (n - 1) // 2 + 1
    return {**facts, "measured_fpp": round(fp / max(st.num_rows, 1), 4),
            "predicted_fpp": round((1 - math.exp(-4 * inserted / 65536.0)) ** 4, 4)}


def _neighbor_sets(st, dt, n):
    def sets(t):
        out: dict[int, set] = {}
        for q, c in zip(t.column("query_id").to_pylist(), t.column("cand_id").to_pylist()):
            out.setdefault(q, set()).add(c)
        return out

    _equal("top-k neighbor sets", sets(st), sets(dt))
    return {"rows": st.num_rows}


# --------------------------------------------------------------------------
# curves


class Curve(NamedTuple):
    gen: str
    spark: Callable  # (spark, data_dir, n) -> DataFrame
    duck: Callable[[int], str] | None  # n -> DuckDB SQL over the generator's table
    check: Callable  # (spark_table, duck_table_or_None, n) -> facts
    view: str = "*"  # DuckDB view projection over the generated parquet
    rows: int = 0  # fixed corpus size; 0 = n


def _fn(query: str):
    return lambda spark, d, n: REGISTRY[query].fn(spark, d)


def _oracle(query: str):
    return lambda n: REGISTRY[query].oracle


def _pagerank(dangling: str):
    def build(spark, d, n):
        return pagerank(load_table(spark, d, "edges"), iterations=2, dangling=dangling)

    return build


def _pagerank_sql(query: str):
    """The registered oracle's unrolled iterations over the `edges` view
    (its own leading CTEs derive edges from `events`)."""

    def sql(n):
        oracle = REGISTRY[query].oracle
        return "WITH " + oracle[oracle.index("nodes AS") :]

    return sql


def _minhash_pipeline(spark, d, n):
    return minhash_near_duplicates(load_table(spark, d, "documents"), "text", "doc_id", threshold=0.5)


def _dupspan_xx64(spark, d, n):
    return dup_span_coverage(load_table(spark, d, "documents"), "text", "doc_id", window=8, hash_fn="xxhash64")


def _boilerplate(spark, d, n):
    docs = load_table(spark, d, "documents").selectExpr("doc_id", "CAST(doc_id % 4 AS STRING) AS source", "text")
    return boilerplate_line_removal(docs, "text", "doc_id", "source", min_docs=3)


def _bloom_spark(spark, d, n):
    # the oracle splits at max(doc_id) // 2; ids run 0..n-1
    return bloom_novelty(load_table(spark, d, "documents"), "text", "doc_id", (n - 1) // 2)


def _dsir(spark, d, n):
    return dsir_importance_scores(load_table(spark, d, "documents"), "text", "doc_id", target_sql="doc_id % 3 = 0")


def _pretrain_unfused(spark, d, n):
    """The pre-fusion capstone shape: five gate branches equi-joined
    back on doc_id (9 corpus scans, 8 joins)."""
    docs = load_table(spark, d, "documents")
    base = docs.where("text IS NOT NULL")
    c4 = c4_line_filter(docs, "text", "doc_id").select("doc_id", "c4_keep")
    gq = quality_profile(docs, "text", "doc_id").select("doc_id", "quality_pass")
    gr = repetition_profile(docs, "text", "doc_id").select("doc_id", "gopher_pass")
    enc = control_char_profile(docs, "text", "doc_id").select("doc_id", "encoding_pass")
    digs = base.selectExpr("doc_id", "md5(text) AS __dig")
    keeper = digs.groupBy("__dig").agg(F.expr("MIN(doc_id) AS __keeper"))
    dup = digs.join(keeper, "__dig").selectExpr("doc_id", "doc_id != __keeper AS is_exact_dup")
    return (
        base.select("doc_id")
        .join(dup, "doc_id")
        .join(c4, "doc_id", "left")
        .join(gq, "doc_id", "left")
        .join(gr, "doc_id", "left")
        .join(enc, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "COALESCE(c4_keep, FALSE) AS c4_keep",
            "COALESCE(quality_pass, FALSE) AS quality_pass",
            "COALESCE(gopher_pass, FALSE) AS repetition_pass",
            "COALESCE(encoding_pass, FALSE) AS encoding_pass",
            "is_exact_dup",
        )
        .selectExpr(
            "doc_id", "c4_keep", "quality_pass", "repetition_pass", "encoding_pass", "is_exact_dup",
            "(c4_keep AND quality_pass AND repetition_pass AND encoding_pass"
            " AND NOT is_exact_dup) AS final_keep",
        )
    )


# DuckDB analog of the Spark text_stats plan (unnest once, aggregate);
# the registered oracle's per-row list lambdas are timed as textstats_oracle
_TEXTSTATS_UNNEST = """
WITH ex AS (
  SELECT doc_id, length(text) AS n_chars,
         unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(FIRST(n_chars) AS BIGINT) AS n_chars_actual,
       ROUND(SUM(length(tok))*1.0/COUNT(*), 6) AS avg_token_len,
       ROUND(SUM(CASE WHEN lower(tok) IN ('the','a') THEN 1 ELSE 0 END)*1.0/COUNT(*), 6) AS stopword_ratio
FROM ex GROUP BY doc_id
"""


def _topk(kernel: str, queries: Callable[[int], int]):
    def build(spark, d, n):
        emb = load_table(spark, d, "embeddings")
        return getattr(similarity, kernel)(emb.where(f"vec_id < {queries(n)}"), emb, k=5)

    return build


def _topk_sql(queries: Callable[[int], int]):
    """Raw-double cosine top-5, the Arrow kernel's contract (the codegen
    kernel quantizes first, so only the neighbor sets are compared)."""
    return lambda n: f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < {queries(n)}),
c AS (SELECT vec_id AS cand_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
scored AS (
  SELECT q.query_id, c.cand_id,
         ROUND(list_dot_product(q.qv, c.cv) /
               (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS cos_sim
  FROM c, q WHERE q.query_id <> c.cand_id
)
SELECT query_id, cand_id, cos_sim, CAST(rnk AS INT) AS rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, cand_id) AS rnk
  FROM scored
) WHERE rnk <= 5
"""


def _interval(spark, d, n):
    return interval_coalesce(load_table(spark, d, "iv"), "user_id", "s", "e", "event_id")


def _pareto(spark, d, n):
    return pareto_frontier_2d(load_table(spark, d, "pts"), "x", "y").select("rid")


def _global_rank(spark, d, n):
    return global_rank(load_table(spark, d, "pts"), ["k", "rid"], rank_col="rnk").selectExpr("rid", "rnk")


_SNB_WINDOW = 8


def _snb_pairs(spark, d, n):
    pairs = sorted_neighborhood_pairs(
        load_table(spark, d, "pts"), ["k"], "rid", window=_SNB_WINDOW, carry_cols=["rid"]
    )
    return pairs.agg(F.count(F.lit(1)).alias("n"))


_HH_PPM = 2_000


def _heavy_hitters(spark, d, n):
    return heavy_hitters_exact(load_table(spark, d, "tok"), "tok", threshold_ppm=_HH_PPM)


def _wmedian(spark, d, n):
    wm = weighted_median(load_table(spark, d, "t"), ["g"], "v", "w", alias="wm")
    return wm.selectExpr("g", "CAST(wm AS BIGINT) AS wm")


_WQB_BIN = 1_000_000  # 1.0-wide brackets in micro space


def _wqb(spark, d, n):
    wqb = weighted_quantile_bracketed(load_table(spark, d, "t"), ["g"], "v", "w", bin_micro=_WQB_BIN)
    return wqb.selectExpr("g", "CAST(bin AS BIGINT) AS bin")


def _gini(spark, d, n):
    ranked = global_rank(load_table(spark, d, "t"), ["v", "id"], partition_cols=["g"], rank_col="rn")
    return (
        ranked.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
            F.sum((F.col("rn").cast("decimal(38,0)") * F.col("v"))).alias("srv"),
        )
        .selectExpr(
            "g",
            "CAST(n AS BIGINT) AS n",
            "CASE WHEN sv > 0 AND n > 1 THEN "
            "ROUND((2.0 * CAST(srv AS DOUBLE) - CAST((n + 1) * sv AS DOUBLE))"
            " / CAST(n * sv AS DOUBLE), 6) END AS gini",
        )
    )


def _equidepth(spark, d, n):
    rows = load_table(spark, d, "t")
    ranked = global_rank(rows, ["v", "id"], partition_cols=["g"], rank_col="rn")
    totals = rows.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.join(F.broadcast(totals), "g")
        .withColumn("tile", F.expr("((rn - 1) * 8) DIV n"))
        .groupBy("g", "tile")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.min("v").alias("lo"), F.max("v").alias("hi"))
    )


def _keyness(spark, d, n):
    counts = load_table(spark, d, "t").groupBy("tok").agg(
        F.sum(F.expr("CASE WHEN corpus = 0 THEN 1 ELSE 0 END")).alias("a"),
        F.sum(F.expr("CASE WHEN corpus = 1 THEN 1 ELSE 0 END")).alias("b"),
    )
    tot = counts.agg(F.sum("a").alias("ta"), F.sum("b").alias("tb"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .selectExpr(
            "tok",
            "a",
            "b",
            "ROUND(((CAST(a AS DOUBLE) * tb - CAST(b AS DOUBLE) * ta)"
            " * (CAST(a AS DOUBLE) * tb - CAST(b AS DOUBLE) * ta))"
            " / (CAST(ta AS DOUBLE) * tb * (a + b) * (ta + tb - a - b)), 6) AS chi2",
        )
        .orderBy(F.desc("chi2"), "tok")
        .limit(50)
    )


def _pairs_min_support(n: int) -> int:
    return max(2, n // 20000)


def _pairs(spark, d, n):
    rows = load_table(spark, d, "t")
    min_sup = _pairs_min_support(n)
    sup = rows.groupBy("item").agg(F.count(F.lit(1)).alias("s")).where(f"s >= {min_sup}")
    pruned = rows.join(F.broadcast(sup.select("item")), "item", "left_semi")
    a, b = pruned.alias("a"), pruned.alias("b")
    return (
        a.join(b, (F.col("a.basket") == F.col("b.basket")) & (F.col("a.item") < F.col("b.item")))
        .groupBy(F.col("a.item").alias("i1"), F.col("b.item").alias("i2"))
        .agg(F.count(F.lit(1)).alias("pair_sup"))
        .where(f"pair_sup >= {min_sup}")
    )


def _motifs(spark, d, n):
    w = Window.partitionBy("user_id").orderBy("seq")
    tri = load_table(spark, d, "t").select(
        "ev", F.lead("ev", 1).over(w).alias("e2"), F.lead("ev", 2).over(w).alias("e3")
    ).where("e2 IS NOT NULL AND e3 IS NOT NULL")
    return tri.groupBy("ev", "e2", "e3").agg(F.count(F.lit(1)).alias("n")).orderBy(
        F.desc("n"), "ev", "e2", "e3"
    ).limit(50)


def _const(sql: str):
    return lambda n: sql


_TOPK_Q_CORPUS = 2048

CURVES: dict[str, Curve] = {
    # documents (docs generator)
    "minhash_bands": Curve("docs", _fn("minhash_band_keys_md5"), _oracle("minhash_band_keys_md5"),
                           same_rows(["doc_id", "band", "key"])),
    "minhash_pipeline": Curve("docs", _minhash_pipeline, None, _near_dup_pairs),
    "charlm": Curve("docs", _fn("char_lm_quality_documents"), _oracle("char_lm_quality_documents"), same_rows()),
    "textstats": Curve("docs", _fn("text_stats_documents"), _const(_TEXTSTATS_UNNEST), row_count(lambda n: n)),
    "textstats_oracle": Curve("docs", _fn("text_stats_documents"), _oracle("text_stats_documents"),
                              row_count(lambda n: n)),
    "dupspan": Curve("docs", _fn("dup_span_coverage_documents"), _oracle("dup_span_coverage_documents"),
                     same_rows()),
    "dupspan_xx64": Curve("docs", _dupspan_xx64, _oracle("dup_span_coverage_documents"), row_count()),
    "bloom": Curve("docs", _bloom_spark, _oracle("bloom_novelty_documents"), _bloom),
    "dsir": Curve("docs", _dsir, _oracle("dsir_importance_documents"), same_rows(),
                  view="*, CASE WHEN doc_id % 3 = 0 THEN 'en' ELSE 'xx' END AS lang"),
    "linededup": Curve("doc_lines", _fn("line_dedup_documents"), _oracle("line_dedup_documents"), same_rows()),
    "boilerplate": Curve("doc_lines", _boilerplate, _oracle("boilerplate_line_removal_documents"), same_rows(),
                         view="doc_id, CAST(doc_id % 4 AS VARCHAR) AS source, text"),
    "pretrain": Curve("doc_lines_ceil", _fn("pretrain_pipeline_documents"), _oracle("pretrain_pipeline_documents"),
                      same_rows()),
    "pretrain_unfused": Curve("doc_lines_ceil", _pretrain_unfused, _oracle("pretrain_pipeline_documents"),
                              same_rows()),
    "langid": Curve("langid", _fn("langid_trigram_documents"), _oracle("langid_trigram_documents"), same_rows()),
    # events
    "hll": Curve("events", _fn("hll_distinct_users_by_type"), _oracle("hll_distinct_users_by_type"), _hll),
    # embeddings
    "topk": Curve("emb", _topk("brute_force_topk", lambda n: 8), _topk_sql(lambda n: 8), _neighbor_sets),
    "topk_q_codegen": Curve("emb", _topk("brute_force_topk_codegen", lambda n: n), _topk_sql(lambda n: n),
                            _neighbor_sets, rows=_TOPK_Q_CORPUS),
    "topk_q_arrow": Curve("emb", _topk("brute_force_topk", lambda n: n), _topk_sql(lambda n: n),
                          _neighbor_sets, rows=_TOPK_Q_CORPUS),
    "kmeans": Curve("emb_dups", _fn("kmeans_refine_assignments"), _oracle("kmeans_refine_assignments"),
                    same_rows(["vec_id", "list_id"])),
    "semdedup": Curve("emb_dups", _fn("semdedup_embeddings"), _oracle("semdedup_embeddings"), same_rows()),
    # graphs
    "pagerank_leak": Curve("edges_leak", _pagerank("leak"), _pagerank_sql("pagerank_user_type_graph"),
                           same_rows(["node", "rank_fp"])),
    "pagerank_redistribute": Curve("edges_dangling", _pagerank("redistribute"),
                                   _pagerank_sql("pagerank_redistribute_user_type"), same_rows(["node", "rank_fp"])),
    # numeric shapes
    "heavyhitters": Curve("tokens", _heavy_hitters, lambda n: f"""
WITH tot AS (SELECT COUNT(*) AS n FROM tok WHERE tok IS NOT NULL),
cnt AS (SELECT tok, COUNT(*) AS cnt FROM tok WHERE tok IS NOT NULL GROUP BY tok)
SELECT tok, CAST(cnt AS BIGINT) AS cnt FROM cnt, tot WHERE cnt * 1000000 > n * {_HH_PPM}
""", same_rows(["tok", "cnt"])),
    "interval": Curve("intervals", _interval, _const("""
WITH flagged AS (
  SELECT user_id, s, e,
         CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                OR s > MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_span,
         event_id
  FROM iv
),
spans AS (
  SELECT user_id, s, e,
         CAST(SUM(new_span) OVER (PARTITION BY user_id ORDER BY s, e, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span_id
  FROM flagged
)
SELECT user_id, span_id, MIN(s) AS span_start, MAX(e) AS span_end,
       COUNT(*) AS n_intervals
FROM spans GROUP BY user_id, span_id
"""), same_rows()),
    "pareto": Curve("pareto", _pareto, _const("""
WITH xagg AS (SELECT x, MAX(y) AS ymax FROM pts GROUP BY x),
xr AS (
  SELECT x, ymax,
         MAX(ymax) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS prev
  FROM xagg
)
SELECT p.rid FROM pts p JOIN xr USING (x)
WHERE p.y = xr.ymax AND (xr.prev IS NULL OR xr.prev < p.y)
"""), same_rows(["rid"])),
    "rank": Curve("rank_keys", _global_rank,
                  _const("SELECT rid, row_number() OVER (ORDER BY k, rid) AS rnk FROM pts"),
                  same_rows(["rid", "rnk"])),
    "snb_pairs": Curve("rank_keys", _snb_pairs, _const(f"""
WITH r AS (SELECT rid, row_number() OVER (ORDER BY k, rid) AS rnk FROM pts)
SELECT COUNT(*) AS n FROM r a JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + {_SNB_WINDOW}
"""), same_rows(["n"])),
    "wmedian": Curve("wmedian", _wmedian, _const("""
WITH d AS (SELECT g, v, SUM(w) AS wsum FROM t WHERE v IS NOT NULL AND w > 0 GROUP BY g, v),
     c AS (SELECT g, v,
                  SUM(wsum) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum,
                  SUM(wsum) OVER (PARTITION BY g) AS total FROM d)
SELECT g, MIN(CASE WHEN 2*cum >= total THEN v END) AS wm FROM c GROUP BY g
"""), same_rows(["g", "wm"])),
    "wqb": Curve("wqb", _wqb, _const(f"""
WITH d AS (
  SELECT g, CAST(FLOOR(v * 1000000 + 0.5) AS BIGINT) AS vm, w
  FROM t WHERE v IS NOT NULL AND w > 0
), b AS (
  SELECT g, (vm - ((vm % {_WQB_BIN}) + {_WQB_BIN}) % {_WQB_BIN}) // {_WQB_BIN} AS bin, SUM(w) AS ws
  FROM d GROUP BY 1, 2
), c AS (
  SELECT g, bin,
         SUM(ws) OVER (PARTITION BY g ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(ws) OVER (PARTITION BY g) AS total
  FROM b
)
SELECT g, MIN(bin) AS bin FROM c WHERE 2 * cum >= total GROUP BY g
"""), same_rows(["g", "bin"])),
    "gini": Curve("grouped_values", _gini, _const("""
WITH r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v, id) AS rn FROM t),
     s AS (SELECT g, COUNT(*) AS n, SUM(CAST(v AS HUGEINT)) AS sv,
                  SUM(CAST(rn AS HUGEINT) * v) AS srv FROM r GROUP BY g)
SELECT g, CAST(n AS BIGINT) AS n,
       CASE WHEN sv > 0 AND n > 1 THEN
         ROUND((2.0 * CAST(srv AS DOUBLE) - CAST((n + 1) * sv AS DOUBLE))
               / CAST(n * sv AS DOUBLE), 6) END AS gini
FROM s
"""), same_rows(["g", "n", "gini"])),
    "equidepth": Curve("grouped_values", _equidepth, _const("""
WITH r AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v, id) AS rn,
                  COUNT(*) OVER (PARTITION BY g) AS n FROM t)
SELECT g, ((rn - 1) * 8) // n AS tile, COUNT(*) AS n_rows, MIN(v) AS lo, MAX(v) AS hi
FROM r GROUP BY 1, 2
"""), same_rows(["g", "tile", "n_rows", "lo", "hi"])),
    "keyness": Curve("keyness", _keyness, _const("""
WITH c AS (SELECT tok,
                  SUM(CASE WHEN corpus = 0 THEN 1 ELSE 0 END) AS a,
                  SUM(CASE WHEN corpus = 1 THEN 1 ELSE 0 END) AS b
           FROM t GROUP BY tok),
     tt AS (SELECT SUM(a) AS ta, SUM(b) AS tb FROM c)
SELECT tok, CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       ROUND(((CAST(a AS DOUBLE) * tb - CAST(b AS DOUBLE) * ta)
              * (CAST(a AS DOUBLE) * tb - CAST(b AS DOUBLE) * ta))
             / (CAST(ta AS DOUBLE) * tb * (a + b) * (ta + tb - a - b)), 6) AS chi2
FROM c, tt ORDER BY chi2 DESC, tok LIMIT 50
"""), same_rows(["tok", "a", "b", "chi2"])),
    "pairs": Curve("baskets", _pairs, lambda n: f"""
SELECT a.item AS i1, b.item AS i2, COUNT(*) AS pair_sup
FROM t a JOIN t b ON a.basket = b.basket AND a.item < b.item
GROUP BY 1, 2 HAVING COUNT(*) >= {_pairs_min_support(n)}
""", same_rows(["i1", "i2", "pair_sup"])),
    "motifs": Curve("motif_events", _motifs, _const("""
WITH s AS (SELECT user_id, ev,
                  lead(ev, 1) OVER (PARTITION BY user_id ORDER BY seq) AS e2,
                  lead(ev, 2) OVER (PARTITION BY user_id ORDER BY seq) AS e3
           FROM t)
SELECT ev, e2, e3, COUNT(*) AS n FROM s
WHERE e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY 1, 2, 3 ORDER BY n DESC, ev, e2, e3 LIMIT 50
"""), same_rows(["ev", "e2", "e3", "n"])),
}


# --------------------------------------------------------------------------
# the timing loop


def run(spark, name: str, n: int, runs: int = RUNS) -> dict:
    """`runs` alternating (Spark, DuckDB) pairs of curve `name` at size n;
    returns the check's facts plus every raw sample in seconds."""
    _load()
    c = CURVES[name]
    d = generate(spark, c.gen, c.rows or n)
    table = GENERATORS[c.gen][0]
    sql = c.duck(n) if c.duck else None
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW {table} AS SELECT {c.view} FROM read_parquet('{d}/{table}.parquet/*.parquet')"
        )
        spark_runs: list[float] = []
        duck_runs: list[float] = []
        facts: dict = {}
        for i in range(runs):
            t0 = time.perf_counter()
            st = c.spark(spark, d, n).toArrow()
            spark_runs.append(round(time.perf_counter() - t0, 4))
            spark.catalog.clearCache()
            dt = None
            if sql is not None:
                t0 = time.perf_counter()
                dt = con.execute(sql).arrow()
                duck_runs.append(round(time.perf_counter() - t0, 4))
            if i == 0:
                facts = c.check(st, dt, n)
    finally:
        con.close()
    return {"curve": name, "n": n, **facts, "spark_runs": spark_runs, "duck_runs": duck_runs}


def main(argv: list[str]) -> None:
    if len(argv) != 3 or argv[1] not in CURVES or not argv[2].isdigit():
        raise SystemExit("usage: tools/scale_curve.py <curve> <n>\ncurves: " + " ".join(CURVES))
    name, n = argv[1], int(argv[2])
    out = run(get_spark(f"scale-curve-{name}"), name, n)
    for side in ("spark", "duck"):
        if out[f"{side}_runs"]:
            med, iqr = median_iqr(out[f"{side}_runs"][1:])
            out[f"{side}_median"], out[f"{side}_iqr"] = round(med, 4), round(iqr, 4)
    if "duck_median" in out:
        out["ratio"] = round(out["spark_median"] / out["duck_median"], 2)
    print(json.dumps(out))


if __name__ == "__main__":
    main(sys.argv)
