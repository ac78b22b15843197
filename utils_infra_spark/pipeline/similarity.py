"""Embedding similarity search over array<float> columns.

Brute-force cosine top-k is the exactness baseline; the scale path
buckets candidates (IVF-style coarse quantization on broadcast
centroids, or LSH sign-bands) so each probe touches 1/nlist of the
data. Hot-path kernels (top-k scan, bucketed pairs) are Arrow-batched
numpy matmuls — Spark's HOF lambdas are CodegenFallback (interpreted
per element), so `zip_with`+`aggregate` dot products are reserved for
the one-off per-row cases (LSH plane signs) where a join/matmul shape
doesn't apply.

Determinism note: ranking uses the cosine ROUNDED to 6 dp with id as
tie-break, so results are reproducible across engines/partitionings
(float sums are order-sensitive only below that precision here since
per-row expression evaluation order is fixed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DOUBLE = "double"


def _vec(col: Column | str) -> Column:
    col = F.col(col) if isinstance(col, str) else col
    return F.transform(col, lambda x: x.cast(DOUBLE))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate — sequential, deterministic."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    queries: DataFrame,
    candidates: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    round_dp: int = 6,
    bucket_col: str | None = None,
) -> DataFrame:
    """Exact cosine top-k per query: broadcast query matrix, Arrow-
    batched numpy matmul over the candidate scan, per-batch partial
    top-k, then an exact global top-k over the small survivor set.

    With ``bucket_col`` (the LSH/IVF path), each query ranks ONLY
    candidates in its own bucket — the per-pair constraint the ANN
    contract promises; without it a multi-query batch would leak
    other queries' buckets into every candidate set.

    Why not zip_with/aggregate HOFs: Spark's higher-order functions
    are CodegenFallback — every element of every dot product is an
    interpreted expression eval, ~100x slower than a BLAS matmul on
    the same batch. The mapInArrow kernel keeps the candidate scan
    partition-parallel (no join materialization of |Q|x|C| rows at
    all) and ships only per-batch winners — |partitions|x|Q|xk rows —
    into the final exact ranking. That is the shape that survives
    100 TB: candidates stream, queries broadcast, shuffle carries
    survivors only.

    The driver-side collect is of the QUERY side only (few by
    contract — it also broadcast in the join formulation).

    Determinism: cosines are quantized to ``round_dp`` with the same
    floor(x*10^dp + 0.5) rule inside the kernel, and both the batch
    top-k and the global top-k rank by (quantized desc, cand_id asc)
    — identical criteria, so the partial/global split cannot change
    the answer.
    """
    from collections.abc import Iterator

    import numpy as np
    import pyarrow as pa

    qcols = [F.col(id_col), _vec(vec_col)] + ([F.col(bucket_col)] if bucket_col else [])
    qrows = queries.select(*qcols).collect()
    id_type_early = dict(candidates.dtypes)[id_col]
    if not qrows:
        # zero queries → empty result with the contract schema (the
        # kernel path would crash driver-side in np.linalg.norm)
        return candidates.sparkSession.createDataFrame(
            [], f"query_id {id_type_early}, cand_id {id_type_early}, cos_sim double, rnk int"
        )
    qids = [r[0] for r in qrows]
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)
    qbuckets = np.asarray([r[2] for r in qrows]) if bucket_col else None
    scale = float(10**round_dp)
    id_type = dict(candidates.dtypes)[id_col]

    spark = candidates.sparkSession
    bq = spark.sparkContext.broadcast((qids, qmat, qnorm, qbuckets))

    # mapInArrow, not mapInPandas: the hot cost of the pandas kernel
    # was DECODING the vector column — Arrow list → object ndarray of
    # python lists → np.stack, one python hop per row. The Arrow batch
    # exposes the list values as ONE flat float buffer, so the matrix
    # is a zero-copy reshape (measured at sf0.1: score+rank warm
    # median 0.37 s → 0.27 s with the aggregate finish below).
    def score_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        b_qids, b_q, b_qn, b_qb = bq.value
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            # emit ids at the INPUT column's arrow type — numpy would
            # widen int32 ids to int64 and mapInArrow does not coerce
            # back to the declared schema (runtime abort, not a cast)
            idt = rb.schema.field("cand_id").type
            cids = rb.column("cand_id").to_numpy(zero_copy_only=False)
            cv = rb.column("cv")
            if isinstance(cv, pa.ChunkedArray):
                cv = cv.combine_chunks()
            cmat = (
                cv.flatten().to_numpy(zero_copy_only=False).reshape(n, -1)
                .astype(np.float64)
            )
            cnorm = np.linalg.norm(cmat, axis=1)
            cbuckets = (
                rb.column("cb").to_numpy(zero_copy_only=False) if b_qb is not None else None
            )
            # |C|x|Q| cosine block, quantized with the floor rule
            sims = (cmat @ b_q.T) / (cnorm[:, None] * b_qn[None, :])
            simq = np.floor(sims * scale + 0.5) / scale
            out_q, out_c, out_s = [], [], []
            for j, qid in enumerate(b_qids):
                col = simq[:, j]
                keep = cids != qid
                if cbuckets is not None:  # per-pair bucket constraint
                    keep &= cbuckets == b_qb[j]
                order = np.lexsort((cids[keep], -col[keep]))[:k]
                kept_ids = cids[keep][order]
                out_q.append(np.full(len(kept_ids), qid))
                out_c.append(kept_ids)
                out_s.append(col[keep][order])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), idt),
                    pa.array(np.concatenate(out_c), idt),
                    pa.array(np.concatenate(out_s), pa.float64()),
                ],
                names=["query_id", "cand_id", "cos_sim"],
            )

    # deliberately NOT spread(): the numpy kernel chews a whole
    # partition in one matmul, so extra partitions only multiply the
    # per-task Python round-trip (~30 ms each, measured ≈ 1 s at 32
    # tasks — 100x the matmul itself at small inputs). At 100 TB the
    # scan arrives in thousands of splits and parallelism is free.
    # The vector ships RAW (no _vec element-cast): Spark's HOF
    # transform is CodegenFallback — an interpreted eval per element
    # per run — while the kernel's astype(float64) is the same exact
    # widening done by one vectorized numpy pass on the Arrow buffer.
    ccols = [F.col(id_col).alias("cand_id"), F.col(vec_col).alias("cv")] + (
        [F.col(bucket_col).alias("cb")] if bucket_col else []
    )
    c = candidates.select(*ccols)
    partial = c.mapInArrow(
        score_batches, schema=f"query_id {id_type}, cand_id {id_type}, cos_sim double"
    )
    # Finish with ONE hash aggregate instead of a row_number window:
    # the survivor set is |splits|x|Q|xk rows, so collect_list per
    # query is bounded; array_sort on (ns = -cos_sim, cand_id) structs
    # is the IDENTICAL (cos_sim desc, cand_id asc) criterion the
    # kernel's lexsort used, so the partial/global split cannot change
    # the answer. The aggregate gets map-side partial combine; the
    # window form paid a sort on every shuffle partition. (Edge case,
    # deliberate: a NaN cosine — zero-norm vector — now ranks LAST
    # like numpy's lexsort treats it in the kernel, where the window's
    # desc() ranked NaN first; NaN can only surface at all when a
    # batch holds fewer than k finite candidates.)
    return (
        partial.groupBy("query_id")
        .agg(
            F.expr(
                f"slice(array_sort(collect_list(struct(-cos_sim AS ns, cand_id))), 1, {int(k)})"
                " AS tops"
            )
        )
        .selectExpr("query_id", "posexplode(tops) AS (p, t)")
        .selectExpr(
            "query_id",
            "t.cand_id AS cand_id",
            "-t.ns AS cos_sim",
            "CAST(p + 1 AS INT) AS rnk",
        )
    )


def brute_force_topk_codegen(
    queries: DataFrame,
    candidates: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    round_dp: int = 6,
    in_dim: int = 64,
    elem_scale: int = 1_000_000,
) -> DataFrame:
    """All-JVM twin of :func:`brute_force_topk`: the dot products run
    inside whole-stage codegen instead of a Python Arrow kernel — no
    Python worker round-trip at all, which is the entire warm cost of
    the kernel path at bench scale (two Arrow crossings ≈ 100 ms
    against a sub-ms matmul).

    The shape is jl_project_long's proven codegen recipe (NOT per-row
    HOF lambdas, which are CodegenFallback, and NOT one 64-term
    literal chain per query, which blows the JIT method limit into
    interpreted fallback): posexplode the candidate vector to
    (cand_id, j, elem) rows, then ONE hash aggregate per candidate
    computing every query's dot product as
    ``SUM(element_at(<64-int literal array>, j) * elem)`` plus the
    candidate's own norm — map-side partial combine collapses to one
    row per candidate per partition before any exchange.

    Cross-engine contract (integer-quantized cosine, order-free BY
    CONSTRUCTION): every element — query side at build time, candidate
    side in the plan — is quantized ONCE to ``floor(v*elem_scale+0.5)``
    integers; dots and norms are exact integer sums of those (any
    partitioning, any merge order, same bits; products are ≤
    64·(0.6e6)² ≈ 2.3e13 here, exact even in a double-summing oracle
    since < 2^53); only the final ``dot/(√qn·√cn)`` division runs in
    floating point, on identical integers — IEEE-identical in any
    engine — then quantizes to ``round_dp``. Zero-norm vectors are
    EXCLUDED on both sides (cosine undefined; their NaN would rank
    differently per engine), as are vectors whose length ≠ ``in_dim``
    (same row-domain gate and rationale as jl_project_long).

    Top-k finish without a hot-key window (|Q| keys would each funnel
    the corpus through one task): a per-partition
    ``slice(array_sort(collect_list(...)), 1, k)`` aggregate keyed on
    (partition id, query) — each group holds one partition's
    candidates, bounded by the split size — then the identical
    criterion over the ≤ partitions·|Q|·k survivors. Both levels rank
    by (cos desc, cand_id asc), so the partial/global split cannot
    change the answer.

    Use this for BROADCASTABLE query sets scored against the whole
    corpus (the bench headliner's contract). The Arrow-kernel twin
    remains the right call when a bucket constraint rides along or
    |Q| is large enough that |Q| literal arrays bloat the plan
    (hundreds+): there the matmul amortizes the Python crossing.
    """
    import math

    id_type = dict(candidates.dtypes)[id_col]
    qrows = queries.select(F.col(id_col), _vec(vec_col)).collect()
    qint: list[tuple] = []
    for r in qrows:
        if r[1] is None or len(r[1]) != in_dim:
            continue
        qi = [int(math.floor(float(v) * elem_scale + 0.5)) for v in r[1]]
        qn2 = sum(x * x for x in qi)
        if qn2 > 0:
            qint.append((r[0], qi, qn2))
    if not qint:
        return candidates.sparkSession.createDataFrame(
            [], f"query_id {id_type}, cand_id {id_type}, cos_sim double, rnk int"
        )

    ex = (
        candidates.where(f"{vec_col} IS NOT NULL AND size({vec_col}) = {in_dim}")
        .selectExpr(f"{id_col} AS cand_id", f"posexplode({vec_col}) AS (j0, v)")
        .selectExpr(
            "cand_id",
            "j0 + 1 AS j",
            f"CAST(FLOOR(CAST(v AS DOUBLE) * {int(elem_scale)}.0 + 0.5) AS BIGINT) AS q",
        )
    )
    # each query vector enters the plan as ONE pre-folded ArrayType
    # Literal (np.asarray → Literal.create), not a parsed
    # array(<64 ints>) with 64 Literal children: the bench contract
    # re-analyzes a fresh QueryExecution every run, and folding 512
    # literal leaves per run measured ~35% of the per-run planning
    # cost (23 ms → 15 ms warm at |Q|=8; value-identical)
    import numpy as np

    jcol = F.col("j").cast("int")
    aggs = [
        F.sum(F.element_at(F.lit(np.asarray(qi, dtype=np.int64)), jcol) * F.col("q")).alias(
            f"__d{i}"
        )
        for i, (_, qi, _) in enumerate(qint)
    ]
    aggs.append(F.sum(F.col("q") * F.col("q")).alias("__n2"))
    wide = ex.groupBy("cand_id").agg(*aggs).where("__n2 > 0")

    scale10 = 10 ** int(round_dp)
    structs = [
        F.struct(
            F.lit(qid).cast(id_type).alias("query_id"),
            F.expr(
                # FLOOR(double) is already BIGINT in Spark; the outer
                # divide must see DOUBLE on the left or the decimal
                # literal divisor would produce a DECIMAL result
                f"CAST(FLOOR(CAST(__d{i} AS DOUBLE)"
                f" / (SQRT(CAST({qn2} AS DOUBLE)) * SQRT(CAST(__n2 AS DOUBLE)))"
                f" * {scale10}.0 + 0.5) AS DOUBLE) / {scale10}.0"
            ).alias("cos_sim"),
        )
        for i, (qid, _, qn2) in enumerate(qint)
    ]
    longf = (
        wide.select("cand_id", F.explode(F.array(*structs)).alias("t"))
        .select(F.col("t.query_id").alias("query_id"), "cand_id", F.col("t.cos_sim").alias("cos_sim"))
        .where("query_id <> cand_id")
    )
    # size-gated finish (the is_tiny_input pattern, cf. spread()'s
    # exchange over the input cache): on a measured-tiny input the
    # per-partition pre-top-k stage costs a whole extra exchange + stage schedule
    # (~30 ms) to prune a few hundred rows — one aggregate is faster.
    # Untuned / at-scale sessions ALWAYS take the two-level shape:
    # per-(partition, query) partial top-k bounds both the shuffle
    # (partitions·|Q|·k survivor rows) and each group's buffered list
    # (one split's candidates), where the single-level form would
    # collect_list the whole corpus per query. Both levels rank by the
    # identical (cos desc, cand_id asc) criterion, so the split cannot
    # change the answer — a partition-invariance test pins it.
    from utils_infra_spark.session import is_tiny_input

    if is_tiny_input(candidates.sparkSession):
        survivors = longf.select(
            "query_id", F.expr("struct(-cos_sim AS ns, cand_id)").alias("s")
        )
    else:
        survivors = (
            longf.groupBy(F.spark_partition_id().alias("__pid"), "query_id")
            .agg(
                F.expr(
                    f"slice(array_sort(collect_list(struct(-cos_sim AS ns, cand_id))), 1, {int(k)})"
                    " AS tops"
                )
            )
            .select("query_id", F.explode("tops").alias("s"))
        )
    return (
        survivors.groupBy("query_id")
        .agg(F.expr(f"slice(array_sort(collect_list(s)), 1, {int(k)}) AS tops"))
        .selectExpr("query_id", "posexplode(tops) AS (p, t)")
        .selectExpr(
            "query_id",
            "t.cand_id AS cand_id",
            "-t.ns AS cos_sim",
            "CAST(p + 1 AS INT) AS rnk",
        )
    )


def bucketed_pairs(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_col: str = "label",
    threshold: float = 0.9,
    round_dp: int = 6,
) -> DataFrame:
    """Near-duplicate embedding pairs within a coarse bucket
    (IVF-style: only intra-bucket pairs are scored — the quadratic
    term shrinks by nlist×).

    Execution: ONE shuffle of the corpus on the bucket key, then a
    per-bucket numpy Gram matrix (``applyInArrow``) that emits pairs
    over the threshold. No broadcast of any side and no join at all —
    the earlier join formulation either broadcast the corpus (a
    gamble at 100 TB) or capped parallelism at bucket cardinality
    while paying interpreted HOF dot products; the Arrow kernel makes
    the per-bucket quadratic a single BLAS call (~100× an interpreted
    dot) and is scale-safe by construction: parallelism is nlist,
    which at real scale is sized ≫ cores (IVF contract), and a
    bucket's working set is rows×dim×8 B — the same bound the join's
    per-key hash bucket had.

    Determinism: cosines quantize with the floor(x·10^dp + 0.5) rule
    (matches the oracle's ROUND for the non-negative range; pairs are
    emitted in sorted-id order so id_a < id_b by value).
    """
    import numpy as np
    import pyarrow as pa

    scale = float(10**round_dp)
    id_type = dict(df.dtypes)[id_col]
    bucket_type = dict(df.dtypes)[bucket_col]

    # applyInArrow, not applyInPandas: the group's vector column
    # arrives as ONE flat Arrow float buffer (zero-copy reshape into
    # the Gram-matrix operand) instead of a pandas object column of
    # python lists decoded row by row — measured 0.26 s → 0.22 s warm
    # at sf0.1, value-identical (same floor-quantize, same stable
    # id-sort).
    def score_bucket(tbl: pa.Table) -> pa.Table:
        n = tbl.num_rows
        idt = tbl.schema.field("vid").type
        bt = tbl.schema.field("bucket").type
        if n < 2:
            return pa.table(
                {
                    "id_a": pa.array([], idt),
                    "id_b": pa.array([], idt),
                    "bucket": pa.array([], bt),
                    "cos_sim": pa.array([], pa.float64()),
                }
            )
        vid = tbl.column("vid").to_numpy(zero_copy_only=False)
        v = tbl.column("v").combine_chunks()
        mat = v.flatten().to_numpy(zero_copy_only=False).reshape(n, -1).astype(np.float64)
        order = np.argsort(vid, kind="stable")
        ids = vid[order]
        mat = mat[order]
        nrm = np.linalg.norm(mat, axis=1)
        sims = (mat @ mat.T) / (nrm[:, None] * nrm[None, :])
        simq = np.floor(sims * scale + 0.5) / scale
        ia, ib = np.triu_indices(n, k=1)
        keep = simq[ia, ib] >= threshold
        nk = int(keep.sum())
        return pa.table(
            {
                "id_a": pa.array(ids[ia[keep]], idt),
                "id_b": pa.array(ids[ib[keep]], idt),
                "bucket": pa.array([tbl.column("bucket")[0].as_py()] * nk, bt),
                "cos_sim": pa.array(simq[ia[keep], ib[keep]], pa.float64()),
            }
        )

    # raw vector into the Arrow batch — the kernel's astype(float64)
    # is the exact same widening _vec would do, minus the interpreted
    # per-element HOF (see brute_force_topk)
    base = df.select(
        F.col(id_col).alias("vid"), F.col(bucket_col).alias("bucket"), F.col(vec_col).alias("v")
    )
    return base.groupBy("bucket").applyInArrow(
        score_bucket,
        schema=f"id_a {id_type}, id_b {id_type}, bucket {bucket_type}, cos_sim double",
    )


def sign_lsh_bucket(vec: Column | str, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: sign bit per plane, packed to
    a long. Planes are literals (broadcast by closure) — bucket
    assignment is one codegen expression per row; similar vectors
    collide with prob 1 - θ/π per bit."""
    v = _vec(vec)
    bucket = F.lit(0).cast("long")
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(float(x)) for x in p])
        bit = F.when(dot(v, plane) > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long"))
        bucket = bucket.bitwiseOR(bit)
    return bucket


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 6,
    list_alias: str = "list_id",
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest
    centroid (squared-L2 argmin, ties → smallest centroid id).

    The codebook is a driver-side literal (IVF contract: nlist ≪ N —
    it rides the closure, one copy per executor). Distances use the
    ||v||² − 2·v·c + ||c||² expansion quantized to ``round_dp`` with
    the floor rule so a SQL oracle can reproduce the argmin exactly.
    One Arrow-batched matmul per batch; no shuffle at all — the
    assignment is a projection.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    cids = [int(c) for c, _ in centroids]
    cent = np.asarray([v for _, v in centroids], dtype=np.float64)
    cc = (cent * cent).sum(axis=1)
    scale = float(10**round_dp)
    id_type = dict(df.dtypes)[id_col]

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        order = np.argsort(np.asarray(cids))  # tie → smallest cid
        cent_o, cc_o = cent[order], cc[order]
        cids_o = np.asarray(cids)[order]
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
            vv = (mat * mat).sum(axis=1)
            d = vv[:, None] - 2.0 * (mat @ cent_o.T) + cc_o[None, :]
            dq = np.floor(d * scale + 0.5)
            yield pd.DataFrame(
                {"vid": pdf["vid"], "list_id": cids_o[np.argmin(dq, axis=1)].astype(np.int64)}
            )

    narrow = df.select(F.col(id_col).alias("vid"), _vec(vec_col).alias("__v"))
    assigned = narrow.mapInPandas(assign, schema=f"vid {id_type}, list_id bigint")
    return df.join(
        assigned.select(F.col("vid").alias(id_col), F.col("list_id").alias(list_alias)), id_col
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: list[tuple[int, list[float]]],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    nprobe: int = 2,
    k: int = 5,
    round_dp: int = 6,
) -> DataFrame:
    """IVF ANN search: each query probes its ``nprobe`` nearest
    centroid lists and ranks ONLY candidates assigned to those lists.

    Composition (no new kernel): candidates get a ``list_id`` via
    ``ivf_assign`` (projection, no shuffle); the collected query side
    expands to one row per (query, probe) and rides
    ``brute_force_topk``'s bucket-constrained kernel; the final
    global window merges a query's probes into one exact top-k. The
    scan stays partition-parallel; per query the quadratic shrinks by
    ~nlist/nprobe.
    """
    import numpy as np

    cids = [int(c) for c, _ in centroids]
    cent = np.asarray([v for _, v in centroids], dtype=np.float64)
    cc = (cent * cent).sum(axis=1)
    scale = float(10**round_dp)

    assigned = ivf_assign(
        candidates, centroids, vec_col=vec_col, id_col=id_col, round_dp=round_dp
    )

    qrows = queries.select(F.col(id_col), _vec(vec_col)).collect()
    order = np.argsort(np.asarray(cids))
    cent_o, cc_o, cids_o = cent[order], cc[order], np.asarray(cids)[order]
    expanded = []
    for r in qrows:
        v = np.asarray(r[1], dtype=np.float64)
        d = (v * v).sum() - 2.0 * (cent_o @ v) + cc_o
        dq = np.floor(d * scale + 0.5)
        probes = cids_o[np.lexsort((cids_o, dq))[:nprobe]]
        for p in probes:
            expanded.append((r[0], [float(x) for x in v], int(p)))
    spark = candidates.sparkSession
    eq = spark.createDataFrame(
        expanded, f"{id_col} {dict(candidates.dtypes)[id_col]}, {vec_col} array<double>, list_id bigint"
    )
    # the Arrow kernel is the only one with a bucket constraint
    return brute_force_topk(
        eq, assigned, vec_col=vec_col, id_col=id_col, k=k, round_dp=round_dp, bucket_col="list_id"
    )


def int8_quantize(emb: Column | str) -> Column:
    """Symmetric per-vector int8 quantization of an array<float>
    embedding — the 4× storage/bandwidth cut applied before ANN
    indexing at scale (shuffles then carry 1 byte/dim + 1 scale,
    not 4 bytes/dim).

    scale = max|x|/127; q_i = floor(x_i/scale + 0.5) clamped to
    [-127, 127] (explicit floor(+0.5) so the rounding rule is
    engine-independent). Returns struct(scale double, q array<int>);
    an all-zero vector quantizes to scale 0 with q all zeros (no
    division by zero). Every step is elementwise IEEE double math on
    identical inputs, so q and the dequantization error are
    bit-reproducible across engines.
    """
    v = _vec(emb)
    mx = F.array_max(F.transform(v, F.abs))
    scale = mx / F.lit(127.0)
    q = F.when(mx == 0.0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(
            v,
            lambda x: F.greatest(
                F.least(F.floor(x / scale + F.lit(0.5)).cast("int"), F.lit(127)), F.lit(-127)
            ),
        )
    )
    return F.struct(scale.alias("scale"), q.alias("q"))


def dequant_max_err(emb: Column | str, quant: Column) -> Column:
    """Max elementwise |x - q·scale| — the reconstruction-error bound
    per vector (≤ scale/2 by construction; asserted in tests)."""
    v = _vec(emb)
    deq = F.transform(quant["q"], lambda qi: qi.cast(DOUBLE) * quant["scale"])
    return F.array_max(F.zip_with(v, deq, lambda x, d: F.abs(x - d)))


# ------------------------------------------------- JL random projection
def jl_signs(in_dim: int, out_dim: int) -> list[list[int]]:
    """Deterministic ±1 projection matrix (Achlioptas 2003 — the
    database-friendly Johnson-Lindenstrauss construction: iid signs
    preserve pairwise distances within (1±eps) at out_dim =
    O(ln n / eps²), no Gaussians needed). Signs derive from md5 of
    the (row, col) coordinates, so the matrix is reproducible from
    the code alone — any engine, any run, no stored state."""
    import hashlib

    return [
        [
            1 if int(hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()[0], 16) % 2 == 0 else -1
            for j in range(in_dim)
        ]
        for i in range(out_dim)
    ]


def jl_project_long(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    in_dim: int = 64,
    out_dim: int = 16,
) -> DataFrame:
    """Project every vector to ``out_dim`` signed-sum coordinates,
    emitted LONG-FORM ``(id, out_dim, p)`` — one row per output
    coordinate.

    Cross-engine contract (order-independent BY CONSTRUCTION): each
    INPUT element is quantized ONCE to integer nano-units
    (``floor(v*1e9 + 0.5)``); every output coordinate is then a
    ±1-weighted INTEGER sum of those — associative/commutative, so
    neither engine's evaluation order, partial-agg merge order, nor
    partitioning can flip a bit. (The first draft spelled each
    coordinate as a 64-term double chain, exact but 16×64 literal
    expression nodes — past the JIT's huge-method limit, the
    whole-stage codegen fell back to interpreted and ran ~9× slower
    than DuckDB at sf0.1, the exact failure mode docs/SCALE.md
    measured and rejected for the top-k twins. The integer-sum form
    is a plain explode + hash aggregate: fully codegen'd, map-side
    combined.)

    Engine shape at 100 TB: posexplode (in_dim narrow rows per
    vector) → ONE hash aggregate keyed on the vector id computing all
    ``out_dim`` sign-weighted sums at once (map-side partial combine
    collapses to one row per vector before any exchange; the sign
    matrix lives in the plan as ``out_dim`` 64-int literal arrays) →
    in-row stack to long form. The output is 4× smaller vectors,
    which is the point: the projected table is what downstream
    ANN/cluster stages shuffle. Distances are preserved within the JL
    bound (unit tests pin Achlioptas' guarantee empirically).
    """
    signs = jl_signs(in_dim, out_dim)
    # Row-domain gate: EXACTLY in_dim elements, mirrored in the oracle.
    # NULL/empty vectors would silently vanish through posexplode while
    # a range-driven oracle still emits rows; and an OVER-length vector
    # would throw INVALID_ARRAY_INDEX on element_at(signs_row, j) under
    # Spark 4 ANSI while DuckDB's range(1, in_dim+1) silently sums only
    # the first in_dim elements — an engine divergence on malformed
    # input. size = in_dim makes both engines agree on the domain.
    q = df.where(f"{vec_col} IS NOT NULL AND size({vec_col}) = {in_dim}").selectExpr(
        f"{id_col}",
        f"posexplode({vec_col}) AS (j0, v)",
    ).selectExpr(
        id_col,
        "j0 + 1 AS j",
        "CAST(FLOOR(CAST(v AS DOUBLE) * 1000000000.0 + 0.5) AS BIGINT) AS q",
    )
    aggs = [
        F.expr(
            "SUM(element_at(array(" + ", ".join(str(x) for x in row) + "), j) * q)"
            f" AS __p{i}"
        )
        for i, row in enumerate(signs)
    ]
    wide = q.groupBy(id_col).agg(*aggs)
    stack = (
        f"stack({out_dim}, "
        + ", ".join(f"{i}, __p{i}" for i in range(out_dim))
        + ") AS (out_dim, __pq)"
    )
    return wide.selectExpr(id_col, stack).selectExpr(
        id_col,
        "CAST(out_dim AS INT) AS out_dim",
        "CAST(__pq AS DOUBLE) / 1000000000.0 AS p",
    )
