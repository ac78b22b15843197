"""Parquet table loaders for the driver's synthetic star schema.

At 100 TB the fact tables (lineitem / orders / events / documents /
embeddings) are partitioned parquet or Iceberg/Delta; the loaders
here are parquet scans with the schema supplied up front
(:func:`footer_schema`), so Catalyst gets predicate pushdown + column
pruning on every scan (verify with ``df.explain('formatted')`` →
``PushedFilters`` / ``ReadSchema``) and no schema-inference job runs.
Dimension tables (region, nation, supplier, part at small sf) stay
under the broadcast threshold and join map-side.
"""

from __future__ import annotations

import os

from py4j.java_gateway import JavaObject
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from utils_infra_spark.session import is_tiny_input, session_slot

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Session slots (utils_infra_spark.session): "tables" maps
# (sf_dir, name) -> the parquet DataFrame. A DataFrame is an immutable
# logical plan, so handing the same object to every query is safe and
# skips the per-read file listing, footer read and relation analysis
# (~10 ms per table on the driver once the JVM is warm — pure fixed
# overhead that multiplies by tables-per-query × queries-per-session).
# "input" maps (sf_dir, name) -> (DataFrame, persistent RDD ids):
# eager localCheckpoint()s of the repartitioned base tables,
# materialized once into the block manager (the moral
# analog of a buffer pool: INPUT caching, never result/shuffle
# caching; every query over it still runs its full task counts, see
# tests/test_plans.py::test_cached_input_fresh_select_reexecutes).
# localCheckpoint persists at the RDD layer, NOT the SQL CacheManager,
# so `spark.catalog.clearCache()` between bench runs cannot drop it;
# the recorded ids are what uncache_base_tables frees.

# Which copy load_table serves: "parquet" (default — pushdown-friendly
# scans, the only mode that exists at 100 TB) or "cached" (block-
# manager copy, opt-in for warm benchmark runs on tiny inputs where
# the single-row-group parquet layout serializes the scan onto one
# core — docs/SCALE.md). Toggled by bench.py only.
_input_mode: str = "parquet"


def input_mode() -> str:
    return _input_mode


def set_input_mode(mode: str) -> None:
    """Switch load_table between "parquet" and "cached" copies."""
    global _input_mode
    if mode not in ("parquet", "cached"):
        raise ValueError(f"input mode must be 'parquet' or 'cached', got {mode!r}")
    _input_mode = mode


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table; the schema comes from one parquet footer read on
    the driver (:func:`footer_schema`), so the read runs no Spark job.

    Without a schema, ``spark.read.parquet`` infers one with a
    distributed job (``mergeSchemasInParallel``) even for one file:
    ~130 ms per table, and ``Query.plan`` re-serves only plans whose
    build ran no job, so a query that first read a table would be built
    again on its next call.

    Spark 4 rejects TIMESTAMP(NANOS) parquet columns (PARQUET_TYPE_ILLEGAL),
    and the driver's `events.ts` may be nanos — so nanos read as long
    (legacy conf, set here so any session works, before the footer is
    converted) and convert to a microsecond TIMESTAMP, matching DuckDB's
    own ns→us truncation.
    """
    key = (os.path.abspath(sf_dir), name)
    if _input_mode == "cached":
        cached = session_slot(spark, "input").get(key)
        if cached is not None:
            return cached[0]
    per = session_slot(spark, "tables")
    cached = per.get(key)
    if cached is not None:
        return cached
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    reader = spark._jsparkSession.read().schema(footer_schema(spark, path))
    df = DataFrame(reader.format("parquet").load(path), spark)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    per[key] = df
    return df


def footer_schema(spark: SparkSession, path: str) -> JavaObject:
    """The data schema ``spark.read.parquet(path)`` infers (mergeSchema
    off), as a JVM StructType, read from ONE footer on the driver.

    ``path`` is a file or a table directory. The footer is the one
    inference reads: the file itself; for a directory its
    ``_common_metadata`` or ``_metadata`` summary file, else its first
    data file in path order (:func:`_first_data_file`). It is converted
    by Spark's own ``ParquetFileFormat.readSchemaFromFooter`` — which
    prefers the schema a Spark writer stores in the footer's key-value
    metadata — with a converter built from the session's SQL conf
    (``nanosAsLong``, ``binaryAsString``, ``int96AsTimestamp``,
    ``inferTimestampNTZ``). Partition columns are not in any footer:
    the reader's partition discovery adds them.
    """
    jvm = spark._jvm
    state = spark._jsparkSession.sessionState()
    conf = state.newHadoopConf()
    file = jvm.org.apache.hadoop.fs.Path(path)
    fs = file.getFileSystem(conf)
    if fs.getFileStatus(file).isDirectory():
        file = _schema_file(fs, file)
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    metadata = parquet.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    return parquet.ParquetFileFormat.readSchemaFromFooter(
        jvm.org.apache.parquet.hadoop.Footer(file, metadata),
        parquet.ParquetToSparkSchemaConverter(state.conf()),
    )


def _schema_file(fs: JavaObject, root: JavaObject) -> JavaObject:
    """The file of table directory ``root`` whose footer inference
    reads: a summary file at the root, else the first data file."""
    for summary in ("/_common_metadata", "/_metadata"):
        path = root.suffix(summary)
        if fs.exists(path):
            return path
    first = _first_data_file(fs, root)
    if first is None:
        raise FileNotFoundError(f"no parquet data file under {root.toString()}")
    return first


def _first_data_file(fs: JavaObject, directory: JavaObject) -> JavaObject | None:
    """The first file under ``directory`` in full-path order, skipping
    the names Spark's file listing hides (``HadoopFSUtils.
    shouldFilterOutPathName``: a leading ``.``, a leading ``_`` unless
    the name has ``=``, a ``._COPYING_`` suffix) and the summary
    files. A directory sorts as its name plus ``/``, the prefix of
    every path under it, so the depth-first walk meets files in the
    order inference's sorted listing does, and lists only the
    directories on the way to the first file."""
    entries = []
    for status in fs.listStatus(directory):
        path = status.getPath()
        name = path.getName()
        hidden = name.startswith(".") or (name.startswith("_") and "=" not in name) or name.endswith("._COPYING_")
        if not hidden:
            is_dir = status.isDirectory()
            entries.append((name + "/" if is_dir else name, is_dir, path))
    for _key, is_dir, path in sorted(entries, key=lambda e: e[0]):
        if not is_dir:
            return path
        found = _first_data_file(fs, path)
        if found is not None:
            return found
    return None


# cached-copy split sizing: one block-manager partition per this many
# parquet bytes (clamped to [1, defaultParallelism]). Byte-proportional
# so the big JVM-scanned facts fan out across cores while small tables
# — exactly the ones whose consumers are single-matmul Python kernels
# (embeddings/documents) — stay in few partitions, where an extra task
# is a pure per-task Arrow round-trip (~10-30 ms) with no work to
# amortize it. Measured: the 2k-row embeddings table cached at 32
# partitions made the top-k kernel 1.4x SLOWER than the 1-partition
# parquet scan it replaced; at 1 partition it is 1.5x faster.
_CACHE_BYTES_PER_SPLIT = 512 * 1024


def cache_base_tables(
    spark: SparkSession,
    sf_dir: str,
    partitions: int | None = None,
    bytes_per_split: int | None = None,
) -> dict[str, int]:
    """Materialize repartitioned in-memory copies of the base tables.

    The warm-path answer to the measured scan-serialization floor
    (docs/SCALE.md): the driver's tiny-sf parquet is single-row-group,
    so Spark's byte-based split sizing gives the whole file to ONE
    task while an in-process engine parallelizes inside the row group.
    A round-robin ``repartition(defaultParallelism)`` followed by an
    EAGER ``localCheckpoint`` rewrites each table into
    ``defaultParallelism`` block-manager partitions, so every
    subsequent scan is partition-parallel. Honesty boundary: this is
    INPUT caching (what a buffer pool does) — plans over the cached
    copy still analyze, optimize, scan, shuffle, and deliver per run
    with full task counts (pinned by
    tests/test_plans.py::test_cached_input_fresh_select_reexecutes);
    only the parquet-decode step is prepaid, exactly as it is for an
    OS-page-cached DuckDB re-run.

    Split count is byte-proportional — one partition per
    ``bytes_per_split`` of parquet, clamped to [1, ``partitions``]
    (see _CACHE_BYTES_PER_SPLIT). Returns {table: partitions}.
    Idempotent per (session, sf_dir). At 100 TB this is simply never
    called — the gate lives in bench.py's tiny-input branch.
    """
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    if bytes_per_split is None:
        bytes_per_split = _CACHE_BYTES_PER_SPLIT
    per = session_slot(spark, "input")
    placed: dict[str, int] = {}
    for name in TABLE_NAMES:
        key = (os.path.abspath(sf_dir), name)
        if key in per:
            placed[name] = per[key][0].rdd.getNumPartitions()
            continue
        try:
            size = os.path.getsize(os.path.join(sf_dir, f"{name}.parquet"))
        except OSError:
            size = 0
        n = max(1, min(partitions, size // max(1, bytes_per_split)))
        df = load_table(spark, sf_dir, name)
        # checkpoint_with_ids records which persistent RDD this
        # checkpoint created so uncache can free the actual blocks
        # later (df.rdd on the checkpointed frame derives a NEW
        # un-persisted RDD — unpersist on it would be a silent no-op);
        # attribution is read directly off the returned plan, so
        # concurrent checkpoints elsewhere on the context need no
        # coordination. eager=True: this cache exists to PREPAY the
        # scan, so materialize now.
        per[key] = checkpoint_with_ids(df.repartition(n), eager=True)
        placed[name] = n
    return placed


def checkpoint_with_ids(df: DataFrame, *, eager: bool = True) -> tuple[DataFrame, set[int]]:
    """``df.localCheckpoint(eager)`` plus the id(s) of the persistent
    RDD it registered — the handle a later owner-side unpersist needs
    (``Dataset.unpersist`` on a checkpointed frame is a silent no-op:
    it consults only the SQL CacheManager, which localCheckpoint
    bypasses).

    Attribution is DIRECT, not diff-based: ``Dataset.checkpoint``
    returns a frame whose analyzed plan is a ``LogicalRDD`` wrapping
    exactly the RDD that ``localCheckpoint`` persisted, so its id is
    read straight off the plan. That makes concurrent checkpoints on
    the shared SparkContext safe with NO locking. The two designs
    this replaces both lost: a bare before/after diff of the global
    persistent-RDD set could capture a concurrent caller's RDD in the
    window and later wrongly unpersist it (unrecoverable —
    localCheckpoint truncates lineage), and serializing that window
    with a process-wide lock stalled every concurrent caller for the
    checkpoint job's duration (under AQE even the LAZY form
    materializes all upstream exchanges synchronously before
    returning).

    If a future Spark changes the returned plan shape, the id set is
    empty: the caller leaks bounded blocks (visible in Spark's storage
    UI) rather than ever freeing someone else's.
    """
    out = df.localCheckpoint(eager=eager)
    try:
        return out, {int(out._jdf.queryExecution().analyzed().rdd().id())}
    except Exception:
        return out, set()


def unpersist_rdd_ids(spark: SparkSession, ids: set[int]) -> None:
    """Free persisted RDDs by id through the JVM map — the only
    handle that actually releases checkpoint blocks. Shared by every
    checkpoint owner (input cache, streaming side-effect sampling,
    connected components); best-effort by design (a stopped context
    has nothing left to free)."""
    if not ids:
        return
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for rid in jmap.keySet().toArray():
            if rid in ids:
                jmap.get(rid).unpersist(False)
    except Exception:
        pass


def uncache_base_tables(spark: SparkSession) -> None:
    """Drop this session's block-manager copies (test hygiene).

    Unpersists the checkpointed RDDs by the ids recorded at
    materialization time — the only handle that actually frees the
    blocks (``df.rdd.unpersist()`` would act on a freshly derived RDD
    that was never persisted). The session's prepared plans go with
    them: a plan built over the freed copies would fail on its next
    run with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND.
    """
    per = session_slot(spark, "input")
    unpersist_rdd_ids(spark, set().union(*(ids for _, ids in per.values())))
    per.clear()
    session_slot(spark, "plans").clear()


def spread(df: DataFrame, partitions: int | None = None, min_bytes: int | None = None) -> DataFrame:
    """Round-robin repartition before CPU-heavy per-row compute.

    Parquet split sizing is byte-based (maxPartitionBytes), so a small
    file lands in ONE partition even when the projection over it (hash
    signatures, 64-dim dots) is compute-bound — leaving every other
    core idle. One cheap shuffle of the narrow input buys full
    parallelism for the expensive stage. At 100 TB inputs already
    arrive in thousands of splits and this becomes a no-op cost-wise;
    it still guards against few-large-files layouts.

    The shuffle only pays for itself when the input is BOTH too few
    partitions to use the cluster AND big enough that the per-row
    compute dwarfs the exchange latency — so it is gated on input
    bytes (`min_bytes`, default 32 MB ≈ a quarter of one parquet
    split). Below the gate the exchange is pure added latency: the
    whole stage finishes in the time the shuffle alone would take.
    At 100 TB inputs arrive in thousands of splits, the partition
    check short-circuits, and this is a no-op either way.

    Callers whose per-row compute dwarfs row width (vector math,
    per-key fetch fan-out, sketching) pass ``min_bytes=0``: for them
    even a tiny input deserves every core, and the exchange moves
    almost nothing.
    """
    if partitions is None:
        partitions = df.sparkSession.sparkContext.defaultParallelism
    if min_bytes is None:
        min_bytes = _SPREAD_MIN_BYTES
    # The layout probe below (inputFiles + a Py4J RDD materialization)
    # costs ~40-50 ms per FRESH Dataset — builders the registry
    # rebuilds per call (char-LM, DSIR fits) pay it on every rebuild.
    # The answer is a function of the logical plan and the tiny-input
    # measurement within a session, so memoize it by both (~0.5 ms). A
    # table persisted AFTER a memoized probe could flip the right
    # answer — the stale entry costs only parallelism on that one
    # stage, never correctness, and dies with the session's "spread"
    # slot.
    memo = session_slot(df.sparkSession, "spread")
    try:
        memo_key = (df._jdf.queryExecution().analyzed().semanticHash(), partitions, min_bytes, is_tiny_input(df.sparkSession))
    except Exception:
        memo_key = None
    need = memo.get(memo_key)
    if need is None:
        need = _spread_needs_exchange(df, partitions, min_bytes)
        if memo_key is not None:
            memo[memo_key] = need
    return df.repartition(partitions) if need else df


def _spread_needs_exchange(df: DataFrame, partitions: int, min_bytes: int) -> bool:
    """The actual layout probe behind :func:`spread` (see its
    docstring for the decision table)."""
    try:
        files = df.inputFiles()
    except Exception:  # multi-source / non-file plans: keep the exchange
        files = []
    if not files:
        # size-gated callers (min_bytes > 0) in a session whose whole
        # input tune_for_input measured as tiny: the file-size gate
        # can't see a block-manager scan, but the session measurement
        # already answered the same question — below the gate the
        # exchange is pure latency (token_histogram A/B: 1 cached
        # partition 0.15 s vs repartition(32) 0.25 s). Compute-heavy
        # callers pass min_bytes=0 and keep their exchange. Checked
        # FIRST — it is one conf read, while the partition probe below
        # compiles the physical plan and materializes a Py4J RDD.
        if min_bytes > 0 and is_tiny_input(df.sparkSession):
            return False
        # non-file scan (e.g. the block-manager input cache): if the
        # physical plan already carries >= `partitions` partitions the
        # exchange adds nothing — the cached copy was repartitioned at
        # materialization time precisely so this check short-circuits
        try:
            if df.rdd.getNumPartitions() >= partitions:
                return False
        except Exception:
            pass  # streaming/unresolvable plans: keep the exchange
    if files:
        # many-splits layout: already parallel, shuffle adds nothing
        if len(files) >= partitions:
            return False
        total = 0
        for f in files:
            path = f.removeprefix("file:")
            if not path.startswith("/"):
                total = None  # remote store: size unknown, keep the guard
                break
            try:
                total += os.path.getsize(path)
            except OSError:
                total = None
                break
        if total is not None and total < min_bytes:
            return False
    return True


# gate below which spread() skips its exchange (see docstring)
_SPREAD_MIN_BYTES = 32 * 1024 * 1024


def write_bucketed(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    n_buckets: int,
    path: str,
    *,
    sort: bool = True,
) -> None:
    """Persist ``df`` as a BUCKETED external table: rows hash-routed
    into ``n_buckets`` files by ``bucket_cols`` (optionally sorted
    within each bucket), registered under ``name`` in the session
    catalog with the data at ``path``.

    Why this exists (the 100 TB co-located-join contract): two tables
    bucketed by the SAME key into the SAME bucket count join with ZERO
    exchanges — the scan itself reports hash-partitioned output, so
    the sort-merge join reads bucket i of A against bucket i of B
    directly. For a fact-to-fact join run repeatedly (every
    incremental batch against a reference corpus), that converts the
    dominant per-run shuffle of BOTH sides into a one-time write-side
    cost. The write itself shuffles once to route rows (that is the
    shuffle being amortized). Plan shape pinned by
    tests/test_bucketed_join.py.

    Bucket-count rule at scale: pick n_buckets so one bucket of the
    LARGER table fits an executor's sort buffer (~target 128-256 MB
    per bucket file); both tables must use identical n_buckets and
    bucket_cols or Spark silently falls back to exchanging the
    mismatched side.

    Read the table back with ``spark.table(name)``: the bucketing
    metadata lives in the catalog entry, not the parquet files, so a
    plain ``spark.read.parquet(path)`` loses it and re-shuffles.
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort:
        writer = writer.sortBy(*bucket_cols)
    writer.option("path", path).format("parquet").saveAsTable(name)

