"""Deduplication operators for training-data pipelines.

Exact dedup groups on a content hash (the shuffle then carries 32-byte
digests, not documents — at 100 TB that's the difference between
shuffling terabytes and shuffling gigabytes). Near-dup uses
MinHash+LSH: shingle → k minhashes → band → bucket-join, all with
built-in higher-order functions (xxhash64 is JVM-side), so candidate
generation never leaves codegen; only candidate *verification*
touches the shingle arrays again.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def content_fingerprint(text: Column | str, algo: str = "sha256") -> Column:
    """Stable content hash for exact dedup / provenance."""
    text = F.col(text) if isinstance(text, str) else text
    if algo == "md5":
        return F.md5(text)
    if algo != "sha256":
        # a silent fallback would fill a provenance table documented
        # as <algo> with sha256 digests — fail loudly instead
        raise ValueError(f"unsupported fingerprint algo: {algo!r} (md5 or sha256)")
    return F.sha2(text, 256)


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup keeping the smallest id per distinct content.

    Group on the 256-bit digest, not the raw text: the map-side
    partial agg collapses local duplicates before the shuffle, and
    shuffle rows are fixed-width. Collision probability at 100 TB
    (~1e11 docs) is ~1e-55 — safe to treat digest equality as text
    equality.
    """
    fp = content_fingerprint(text_col).alias("fp")
    return (
        df.select(fp, F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def dedup_exact_stream(
    stream_df: DataFrame, text_col: str, ts_col: str, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact dedup: emit each distinct content once.

    `dropDuplicatesWithinWatermark` on the 256-bit digest — the state
    store holds only (digest → max event time) entries and evicts
    them once the watermark passes, so state is bounded by the
    duplicate-arrival horizon, not the stream's lifetime. At 100 TB/d
    ingest the state is ~50 B × distinct-docs-per-horizon, partitioned
    by digest across executors (RocksDB state store in production).
    A duplicate arriving later than ``watermark`` after the original
    re-emits — the deliberate trade for bounded state; route the
    output through the batch `dedup_exact` compaction if end-to-end
    exactness matters more than latency.
    """
    fp = content_fingerprint(text_col).alias("fp")
    return (
        stream_df.select(fp, "*")
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["fp"])
    )


def near_dup_band_survivors_stream(
    stream_df: DataFrame,
    text_col: str,
    id_col: str,
    ts_col: str,
    *,
    state_ttl_ms: int = 600_000,
    k_shingle: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Streaming LSH near-duplicate suppression, stage 1 of 2: per
    document compute its ``bands`` MinHash band keys IN-ROW (HOF
    minhash — no groupBy before the stateful op), explode to
    (id, ts, band, key, n_bands) rows, then per (band, key) emit the
    DETERMINISTIC CLAIMANT — the earliest (ts, doc_id) row of the
    micro-batch — and only when no document claimed that key within
    ``state_ttl_ms`` (one ``applyInPandasWithState`` group per band
    key; the single stateful operator in the graph).

    Why a custom claimant instead of ``dropDuplicatesWithinWatermark``:
    that operator picks its per-key winner by arrival/partition order,
    so two near-dups in the SAME micro-batch could split the wins on
    their shared keys and BOTH fail stage 2's all-bands rule — the
    content would vanish instead of keeping one representative. The
    (ts, doc_id) comparator is global and consistent across keys, so
    one document wins every key it shares, survives, and suppresses
    the other. (Chains suppress transitively within a batch — A beats
    B, B's other keys still outrank C — matching the batch pipeline's
    cluster-one-representative semantics.) Late data gets the same
    treatment as on-time data — state TTL is processing-time, so
    nothing is silently dropped for lateness; an older-than-TTL
    re-arrival re-emits, exactly like ``dedup_exact_stream``'s trade.

    The band keys are VALUE-IDENTICAL to the batch sketch
    (:func:`minhash_band_keys`, xxhash64 family; shared band-entry
    template, pinned by test), so a streaming corpus and a batch
    backfill dedup against the SAME key space.

    Stage 2 is :func:`near_dup_batch_reduce` inside ``foreachBatch``:
    a document survives iff ALL its band rows were emitted (the
    ``n_bands`` column travels with the rows, so the two stages
    cannot disagree about the band count). All of one document's band
    rows share a micro-batch, so the reduce is batch-local.

    Scale contract: suppression fires on ANY band collision inside
    the TTL horizon — no Jaccard verify pass (the colliding original
    may be long evicted), so precision is the LSH false-positive
    curve for (num_hashes, bands). State: one tiny claim row per
    distinct band key in the horizon, partitioned by key across
    executors (RocksDB store in production) — ~bands × docs/horizon
    entries, NOT the corpus.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    rows = band_key_rows_inrow(
        stream_df, text_col, id_col, ts_col, k_shingle=k_shingle, num_hashes=num_hashes, bands=bands
    )

    def fn(key_tuple, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        parts = [p for p in pdfs if len(p)]
        if not parts:
            return
        if state.exists:
            # key already claimed inside the horizon: refresh the TTL
            # (a near-dup flood keeps its representative's claim warm)
            # and emit nothing for this band
            state.update(state.get)
            state.setTimeoutDuration(state_ttl_ms)
            return
        batch = pd.concat(parts) if len(parts) > 1 else parts[0]
        w = batch.sort_values(["ts", "doc_id"]).iloc[0]
        state.update((int(w.doc_id),))
        state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame(
            {
                "doc_id": [int(w.doc_id)],
                "ts": [w.ts],
                "band": [int(key_tuple[0])],
                "key": [int(key_tuple[1])],
                "n_bands": [int(w.n_bands)],
            }
        )

    return rows.groupBy("band", "key").applyInPandasWithState(
        fn,
        outputStructType="doc_id long, ts timestamp, band int, key long, n_bands int",
        stateStructType="owner long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def _band_entries_xxhash(bands: int, rows_per_band: int) -> str:
    """The ONE source of the xxhash64 band-key template — shared by
    the batch sketch (:func:`minhash_band_keys`) and the streaming
    in-row sketch (:func:`band_key_rows_inrow`), whose key spaces must
    stay value-identical; a forked copy editing one seed string would
    silently split them."""
    return ", ".join(
        "named_struct('band', {b}, 'key', xxhash64('band{b}', {parts}))".format(
            b=b, parts=", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band))
        )
        for b in range(bands)
    )


def band_key_rows_inrow(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ts_col: str,
    *,
    k_shingle: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
) -> DataFrame:
    """(doc_id, ts, band, key, n_bands) rows computed IN-ROW (HOF
    minhash, no groupBy) — the streaming-safe form of the sketch
    stage, value-identical to :func:`minhash_band_keys`'s xxhash64
    family (shared band template, pinned by test). Works on batch
    frames too, which is how the parity test compares the two forms.
    Each shingle string is hashed ONCE into an aliased long array and
    the k-hash family re-hashes the longs — inlining xxhash64(s) into
    every interpreted lambda would string-hash each shingle
    num_hashes times (the batch path's documented anti-pattern)."""
    if num_hashes % bands != 0:
        raise ValueError(f"num_hashes ({num_hashes}) must be divisible by bands ({bands})")
    rows_per_band = num_hashes // bands
    staged = (
        df.selectExpr(
            f"{id_col} AS doc_id", f"{ts_col} AS ts", rf"split(trim({text_col}), '[ \\t\\n\\x0B\\f\\r]+') AS __toks"
        )
        .select("doc_id", "ts", shingles_from_tokens("__toks", k_shingle).alias("sh"))
        .selectExpr("doc_id", "ts", "transform(sh, s -> xxhash64(s)) AS hs")
        .selectExpr(
            "doc_id",
            "ts",
            *[
                f"array_min(transform(hs, h -> xxhash64('mh{i}', h))) AS h{i}"
                for i in range(num_hashes)
            ],
        )
    )
    return staged.selectExpr(
        "doc_id", "ts", f"explode(array({_band_entries_xxhash(bands, rows_per_band)})) AS bk"
    ).selectExpr(
        "doc_id", "ts", "bk.band AS band", "bk.key AS key", f"CAST({bands} AS INT) AS n_bands"
    )


def near_dup_batch_reduce(band_rows: DataFrame) -> DataFrame:
    """Stage 2 of streaming near-dup suppression (run INSIDE
    ``foreachBatch`` on :func:`near_dup_band_survivors_stream`'s
    output): a document survives iff ALL its band rows were emitted.
    The expected count rides in the ``n_bands`` column stage 1
    attaches, so the two stages cannot drift apart on configuration
    (an earlier draft took an independent ``bands`` default here — a
    stage-1 tune would then silently suppress every distinct doc).
    Batch-local groupBy — correct because one document's band rows
    always share a micro-batch."""
    return (
        band_rows.groupBy("doc_id")
        .agg(
            F.first("ts").alias("ts"),
            F.count(F.lit(1)).alias("surviving_bands"),
            F.first("n_bands").alias("n_bands"),
        )
        .where(F.col("surviving_bands") == F.col("n_bands"))
        .select("doc_id", "ts")
    )


def shingles_from_tokens(toks: Column | str, k: int = 3) -> Column:
    """Word k-gram shingles from a token-array ATTRIBUTE. Prefer this
    over ``shingles`` in hot paths: pass an aliased token column so
    the tokenizer runs once per row (this expression references
    ``toks`` ~k+3 times)."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(0)))
    return F.when(
        n >= k,
        F.transform(idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)])),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def shingles(text: Column | str, k: int = 3) -> Column:
    """Word k-gram shingles as array<string>, via sequence+transform —
    no explode, no UDF; stays inside one projection. Convenience form;
    re-splits the text per reference — use ``shingles_from_tokens``
    with an aliased token column in compute-heavy plans."""
    text = F.col(text) if isinstance(text, str) else text
    return shingles_from_tokens(F.split(F.trim(text), "[ \\t\\n\\x0B\\f\\r]+"), k)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two shingle arrays (verification step)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k_shingle: int = 3,
    num_hashes: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding.

    Plan shape (scale-first, ZERO caching — one job, nothing left in
    the block manager afterwards):
      1. one pass over the corpus: shingles → one xxhash64 per
         shingle → k derived min-hashes (groupBy doc_id, map-side
         combine) → band keys. The shuffle carries (doc_id, k longs),
         never documents.
      2. candidate pairs WITHOUT a self-join: groupBy (band, key) →
         collect_list(doc_id) → in-row pair expansion via two
         generates. The sketch is consumed ONCE, so nothing needs
         persist()/checkpoint — the round-1 self-join shape read it
         twice and had to cache it, leaking executor memory into the
         rest of the session. Hot buckets cost O(m²) pairs either
         way (inherent to LSH banding); collect_list additionally
         bounds a single bucket's ids to executor memory — ids only,
         ~8 B each.
      3. verify with ONE join against the NARROW RAW corpus: explode
         each pair into (pair, role) rows, join on doc_id, shingle
         ONLY the matched rows, regroup to (sh_a, sh_b), exact
         Jaccard. r13 (stage timeline): the previous shape joined a
         fully-shingled corpus — a second corpus-wide shingle pass
         (~40% of the query's task-time) and a shuffle of k×-wider
         shingle arrays for every document, candidate or not. Joining
         raw text instead moves ~3× fewer bytes and computes shingles
         only for pair-role rows. A doc in p pairs re-shingles p
         times — bounded by the O(pairs) row count LSH banding already
         commits to, and candidate multiplicity is small by
         construction (banding exists to keep pairs ≪ corpus); the
         corpus-wide pass it replaces was O(n) always. `cand` stays
         single-consumption, so nothing needs persist. AQE broadcasts
         the (small) pair side at runtime when stats allow — forcing
         it would gamble at 100 TB. r14: the raw side's spread()
         exchange deleted (it fed straight into a broadcast — pure
         waste); the first(CASE) regroup KEPT deliberately: it is the
         pushdown barrier that stops the jaccard threshold filter
         from being folded into a join condition with the whole
         interpreted shingle pipeline inlined (measured 3× slower —
         see the in-body negative-result note).
    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard ≥ threshold.
    """
    # num_hashes/bands divisibility is validated once, in
    # minhash_band_keys (the shared sketch stage this delegates to)
    # IMPORTANT plan shape: each heavy expression (shingles, signature)
    # is aliased in its OWN projection and consumed via the attribute.
    # Catalyst's CollapseProject keeps these boundaries because the
    # aliases are expensive and multi-referenced; inlining them (one
    # mega-expression) would re-evaluate shingles 16× per row.
    # sketch stage (shingle → k minhashes → band keys) is SHARED with
    # minhash_band_keys — one implementation, so the oracle-backed md5
    # twin and this production path can never drift apart silently.
    # drop_empty=False preserves this operator's contract exactly:
    # null/whitespace-only docs sketch as [''] and can pair with each
    # other (they ARE duplicates), rather than being filtered.
    sketch = minhash_band_keys(
        df,
        text_col,
        id_col,
        k_shingle=k_shingle,
        num_hashes=num_hashes,
        bands=bands,
        hash_family="xxhash64",
        drop_empty=False,
    )

    # pair expansion in-row: ids per bucket, then two generates with
    # a strict < filter — no self-join, so the sketch plan is consumed
    # exactly once and needs no persist()
    cand = (
        sketch.groupBy("band", "key")
        .agg(F.collect_list("doc_id").alias("ids"))
        .where(F.size("ids") > 1)
        .select(F.explode_outer("ids").alias("id_a"), "ids")
        .select("id_a", F.explode_outer("ids").alias("id_b"))
        .where(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )

    # narrow raw text; tokenize into an aliased attribute AFTER the
    # join so only matched (candidate) rows pay it.
    #
    # NO spread() here — the exchange it added was a 32-way (on 32
    # cores) round-robin shuffle of the ENTIRE corpus text that fed
    # straight into a BroadcastExchange: raw does no per-row compute
    # before the join (shingles are post-join), so the exchange
    # bought nothing and cost a full corpus shuffle per run.
    #
    # r14 NEGATIVE RESULT (measured, then reverted): attaching each
    # side's text with its own join — cand ⋈ raw(id_a) ⋈ raw(id_b) —
    # to delete this regroup's Sort + two SortAggregates made the
    # query 3× SLOWER (0.67 s → 2.19 s warm at sf0.1, idle box, a
    # row-set-equal A/B): with no aggregate in between,
    # PushPredicateThroughJoin folds the final jaccard-threshold
    # filter INTO the second join's condition, substituting the whole
    # shingle pipeline (split + interpreted transform() lambdas +
    # array_intersect/union) inlined from raw text — every pair then
    # re-tokenizes/re-shingles BOTH texts in the join condition AND
    # again in the projections above it. The first(CASE) aggregate
    # below is the pushdown BARRIER that keeps the shingle transform
    # evaluated once per role row; keep it.
    raw = df.selectExpr(f"{id_col} AS doc_id", f"{text_col} AS __text")
    roles = cand.select(
        "id_a", "id_b", F.explode_outer(F.array("id_a", "id_b")).alias("doc_id")
    )
    paired = (
        roles.join(raw, "doc_id")
        .selectExpr(
            "id_a", "id_b", "doc_id", r"split(trim(__text), '[ \\t\\n\\x0B\\f\\r]+') AS __toks"
        )
        .select("id_a", "id_b", "doc_id", shingles_from_tokens("__toks", k_shingle).alias("sh"))
        .groupBy("id_a", "id_b")
        .agg(
            F.first(F.when(F.col("doc_id") == F.col("id_a"), F.col("sh")), ignorenulls=True).alias("sh_a"),
            F.first(F.when(F.col("doc_id") == F.col("id_b"), F.col("sh")), ignorenulls=True).alias("sh_b"),
        )
    )
    verified = paired.select(
        "id_a",
        "id_b",
        F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"),
    )
    return verified.where(F.col("jaccard") >= threshold)


def simhash_votes(text: Column | str, bits: int = 64) -> Column:
    """SimHash bit votes as array<long>: per bit b, the sum over
    tokens of ±1 by bit b of xxhash64(token). Expensive — alias it in
    its own projection and feed the ATTRIBUTE to ``simhash_pack`` so
    the vote aggregate is evaluated once per row (see
    minhash_near_duplicates for the plan-shape rationale)."""
    text = F.col(text) if isinstance(text, str) else text
    toks = F.split(F.trim(text), "[ \\t\\n\\x0B\\f\\r]+")
    zero = F.array_repeat(F.lit(0).cast("long"), bits)

    def bits_of(t: Column) -> Column:
        h = F.xxhash64(t)
        return F.array(
            *[
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long")
                for b in range(bits)
            ]
        )

    return F.aggregate(toks, zero, lambda acc, t: F.zip_with(acc, bits_of(t), lambda a, b: a + b))


def simhash_pack(votes: Column | str, bits: int = 64) -> Column:
    """Pack vote signs into one long; bit 63 is the sign bit →
    negative literal. Pass an attribute (aliased column), not an
    inline votes expression — this references ``votes`` ``bits`` times."""
    votes = F.col(votes) if isinstance(votes, str) else votes
    packed = F.lit(0).cast("long")
    for b in range(bits):
        weight = -(1 << 63) if b == 63 else (1 << b)
        packed = packed.bitwiseOR(
            F.when(F.element_at(votes, b + 1) > 0, F.lit(weight).cast("long")).otherwise(F.lit(0).cast("long"))
        )
    return packed


def simhash64(df: DataFrame, text_col: str, id_col: str, *, alias: str = "simhash") -> DataFrame:
    """64-bit SimHash per document, staged as votes-projection →
    pack-projection so the vote aggregate runs once per row."""
    from ..sources.tables import spread

    return (
        spread(df.select(F.col(id_col), F.col(text_col).alias("__text")), min_bytes=0)
        .select(id_col, simhash_votes(F.col("__text")).alias("__votes"))
        .select(id_col, simhash_pack("__votes").alias(alias))
    )


def minhash_band_keys(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k_shingle: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    hash_family: str = "xxhash64",
    drop_empty: bool = True,
) -> DataFrame:
    """LSH band keys per document — the candidate-generation stage of
    :func:`minhash_near_duplicates` (which CONSUMES this function, so
    the two can never drift), exposed with a parameterized sketch hash
    so the contract is cross-engine checkable.

    ``hash_family``:
      * ``"xxhash64"`` — production: JVM-native 64-bit hashing, longs
        end to end.
      * ``"md5"`` — oracle-facing twin: per-shingle hash is the low 64
        bits of md5 as a HEX STRING (``substr(md5('mh<i>:' || s),1,16)``),
        the signature is the string MIN (lexicographic over lowercase
        hex ≡ numeric order on the underlying bits), and the band key
        is md5 over the '|'-joined signature slice. Every step is
        standard md5/substr/min — bit-identical in any engine, so the
        driver can hash-compare against DuckDB.

    ``drop_empty`` filters null/whitespace-only docs before
    sketching (the oracle twin's contract); the near-dup pipeline
    passes False so empty docs sketch as [''] and can pair with each
    other — they ARE duplicates.

    Plan shape either way: explode shingles → hash once into an
    attribute → groupBy(doc_id) with num_hashes MIN aggregates
    (map-side combined; the shuffle carries doc_id + num_hashes
    sketch values, never documents) → in-row band projection →
    explode to (doc_id, band, key). HOF-free on purpose: lambda HOFs
    are CodegenFallback (interpreted per element), making the naive
    transform-per-hash signature ~num_hashes× slower. The xxhash64
    family hashes each shingle string ONCE into attribute `hh` below
    the explode and derives the k-hash family by re-hashing that LONG
    with k seeds (one-hash MinHash; native codegen'd op, no wrapped
    arithmetic for ANSI mode) — inlining xxhash64(shingle) into each
    agg would string-hash every shingle k times. Aggregates are
    expression STRINGS, not Column chains: one Py4J round-trip per
    F.expr vs ~4 per composed Column (measured ~2-4 ms each), so
    driver-side plan construction keeps a ~4× smaller constant.
    explode_OUTER, deliberately: plain explode plants a `size(sh) > 0`
    filter that Catalyst pushes below the spread() exchange, inlining
    the whole shingle expression into the few-partition scan stage —
    measured 6.5 s single-threaded vs 0.4 s spread at sf0.1;
    shingles_from_tokens never returns an empty/null array, so outer
    semantics are identical.
    """
    from ..sources.tables import spread

    if num_hashes % bands != 0:
        raise ValueError(f"num_hashes ({num_hashes}) must be divisible by bands ({bands})")
    if hash_family not in ("xxhash64", "md5"):
        raise ValueError(f"unsupported hash_family: {hash_family!r}")
    rows_per_band = num_hashes // bands
    base = df
    if drop_empty:
        base = base.where(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
    shingled = (
        spread(base.selectExpr(f"{id_col} AS doc_id", f"{text_col} AS __text"), min_bytes=0)
        .selectExpr("doc_id", r"split(trim(__text), '[ \\t\\n\\x0B\\f\\r]+') AS __toks")
        .select("doc_id", shingles_from_tokens("__toks", k_shingle).alias("sh"))
    )
    if hash_family == "md5":
        ex = shingled.select("doc_id", F.explode_outer("sh").alias("shingle"))
        aggs = [
            F.expr(f"min(substr(md5(concat('mh{i}:', shingle)), 1, 16)) AS h{i}")
            for i in range(num_hashes)
        ]
        band_exprs = ", ".join(
            "named_struct('band', {b}, 'key', md5(concat_ws('|', {parts})))".format(
                b=b, parts=", ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band))
            )
            for b in range(bands)
        )
    else:
        ex = shingled.select("doc_id", F.explode_outer("sh").alias("shingle")).select(
            "doc_id", F.xxhash64("shingle").alias("hh")
        )
        aggs = [F.expr(f"min(xxhash64('mh{i}', hh)) AS h{i}") for i in range(num_hashes)]
        band_exprs = _band_entries_xxhash(bands, rows_per_band)
    return (
        ex.groupBy("doc_id")
        .agg(*aggs)
        .select("doc_id", F.expr(f"explode_outer(array({band_exprs}))").alias("bk"))
        .selectExpr("doc_id", "bk.band AS band", "bk.key AS key")
    )


def simhash16_md5(df: DataFrame, text_col: str, id_col: str, *, alias: str = "simhash16") -> DataFrame:
    """16-bit SimHash with an md5-derived bit source — the
    oracle-facing twin of :func:`simhash64` (production keeps 64-bit
    xxhash64 voting; this twin exists so the simhash CONTRACT —
    tokenize → per-token hash bits → ±1 votes → sign-pack — is
    hash-checkable against any engine with md5).

    Bit b of a token's hash is bit ``b % 4`` of hex nibble ``b // 4``
    (nibble 0 = first hex char of md5), decoded engine-neutrally via
    ``instr('0123456789abcdef', c) - 1``. Plan shape matches
    production: explode tokens → one nibble projection → groupBy with
    16 codegen'd SUM votes (map-side combined) → sign-pack projection.
    """
    from ..sources.tables import spread

    ex = (
        spread(
            df.where(F.col(text_col).isNotNull() & (F.trim(F.col(text_col)) != ""))
            .selectExpr(f"{id_col} AS doc_id", f"{text_col} AS __text"),
            min_bytes=0,
        )
        .selectExpr("doc_id", r"explode(split(trim(__text), '[ \\t\\n\\x0B\\f\\r]+')) AS tok")
        .selectExpr(
            "doc_id",
            *[f"instr('0123456789abcdef', substr(md5(tok), {i + 1}, 1)) - 1 AS n{i}" for i in range(4)],
        )
    )
    votes = [
        F.expr(f"sum(CASE WHEN (n{b // 4} div {1 << (b % 4)}) % 2 = 1 THEN 1 ELSE -1 END) AS v{b}")
        for b in range(16)
    ]
    pack = " + ".join(f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))
    return (
        ex.groupBy("doc_id")
        .agg(*votes)
        .selectExpr("doc_id", f"CAST({pack} AS BIGINT) AS {alias}")
    )


def dataset_diff(
    old: DataFrame, new: DataFrame, id_col: str, content_cols: list[str]
) -> DataFrame:
    """Snapshot diff between two dataset versions (crawl N vs N+1):
    classify every id as added / removed / changed / unchanged by
    comparing content DIGESTS, not content — the full-outer join
    shuffles (id, 16-byte md5) pairs only, so diffing two 100 TB
    snapshots moves gigabytes, not the corpora. Returns
    (id, status, old_digest, new_digest).
    """
    # NULLs must hash distinctly from absent/shifted values: bare
    # concat_ws SKIPS null columns, so (x, NULL) and (NULL, x) would
    # collide and a changed row would read 'unchanged'. A \x00 (never
    # in text by contract) marks null explicitly in the digest input.
    marked = [F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in content_cols]
    digest = F.md5(F.concat_ws("\x1f", *marked))
    o = old.select(F.col(id_col).alias("__id"), digest.alias("old_digest"))
    n = new.select(F.col(id_col).alias("__id"), digest.alias("new_digest"))
    joined = o.join(n, "__id", "full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), "added")
        .when(F.col("new_digest").isNull(), "removed")
        .when(F.col("old_digest") == F.col("new_digest"), "unchanged")
        .otherwise("changed")
    )
    return joined.select(F.col("__id").alias(id_col), status.alias("status"), "old_digest", "new_digest")


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k_shingle: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """All-pairs exact-Jaccard join via PREFIX FILTERING (the
    PPJoin/All-Pairs family: Bayardo et al. WWW'07, Xiao et al.
    WWW'08) — LOSSLESS, unlike MinHash-LSH, and sub-quadratic unlike
    the bucketed exact path.

    Principle: order every document's shingle set by ascending global
    document frequency (rarest first, ties by value). If
    jaccard(x, y) >= t, the first ``|x| - ceil(t*|x|) + 1`` shingles
    of x and y (under that shared order) must intersect — so joining
    on PREFIX shingles only finds every qualifying pair, and prefixes
    are by construction the globally RAREST shingles, keeping the
    join's per-key fan-out small where a raw shingle join would
    explode on boilerplate.

    Plan at 100 TB: one df-dictionary aggregation (vocabulary-sized,
    map-side combined), one regroup to per-doc ordered arrays, a
    prefix-shingle equi-join emitting (id_a, id_b) candidates, then
    exact-Jaccard verification on candidate pairs only. Shuffles
    carry shingle strings and id pairs — never documents. The length
    filter ``min(n_a, n_b) >= t * max(n_a, n_b)`` prunes candidates
    before verification.
    """
    toks = F.split(F.trim(F.col(text_col)), "[ \\t\\n\\x0B\\f\\r]+")
    base = (
        df.select(F.col(id_col).alias("__id"), toks.alias("toks"))
        .where(F.size("toks") >= k_shingle)
        .select("__id", F.array_distinct(shingles_from_tokens("toks", k_shingle)).alias("grams"))
        .select("__id", "grams", F.size("grams").alias("n"))
    )
    ex = base.select("__id", "n", F.explode("grams").alias("g"))
    freq = ex.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    ordered = (
        ex.join(freq, "g")
        .groupBy("__id")
        .agg(
            F.expr("transform(array_sort(collect_list(struct(df, g))), s -> s.g)").alias("og"),
            F.first("n").alias("n"),
        )
    )
    # eps inside the ceil: IEEE noise can push t*n a hair ABOVE an
    # exact integer (0.28*25 = 7.000000000000001 → ceil 8), shortening
    # the prefix by one and silently breaking losslessness; subtracting
    # eps can only LENGTHEN the prefix (more candidates — still exact)
    plen = (F.col("n") - F.ceil(F.lit(float(threshold)) * F.col("n") - F.lit(1e-9)) + 1).cast("int")
    prefixes = ordered.select(
        "__id", "n", F.explode(F.slice("og", 1, plen)).alias("g")
    )
    a, b = prefixes.alias("a"), prefixes.alias("b")
    eps = 1e-9
    cands = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.__id") < F.col("b.__id"))
            & (
                F.least(F.col("a.n"), F.col("b.n")).cast("double")
                >= F.lit(float(threshold)) * F.greatest(F.col("a.n"), F.col("b.n")) - F.lit(eps)
            ),
        )
        .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
        .distinct()
    )
    ga = base.select(F.col("__id").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = base.select(F.col("__id").alias("id_b"), F.col("grams").alias("grams_b"))
    return (
        cands.join(ga, "id_a")
        .join(gb, "id_b")
        .select("id_a", "id_b", F.round(jaccard(F.col("grams_a"), F.col("grams_b")), 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def segment_dedup_corpus(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    split_pattern: str = "\n",
    joiner: str = "\n",
    seg: str = "line",
) -> DataFrame:
    """Corpus-level SEGMENT deduplication — the shared engine behind
    :func:`line_dedup_corpus` (segments = lines, the C4 recipe) and
    :func:`paragraph_dedup_corpus` (segments = blank-line-separated
    paragraphs, the Dolma recipe). ``split_pattern`` is a regex valid
    in BOTH Java regex and RE2 (the oracle splits with the same
    pattern); ``joiner`` rejoins survivors; ``seg`` names the output
    count columns (``kept_<seg>s`` / ``dropped_<seg>s``).

    Everything below is written in line terms; it applies verbatim to
    any segment class. Original contract: every
    non-blank line that already occurred ANYWHERE else in the corpus
    is removed, keeping only the globally FIRST occurrence — ordered
    by (doc_id, line_no), so the winner is deterministic under
    retries and engine-independent — then documents are reassembled
    from their surviving lines in original order. Documents left with
    zero surviving lines are dropped.

    Emits ``(doc_id, clean_text, kept_lines, dropped_lines)``.

    Engine shape — aggregations only, NO window over the line key:

    1. winner per distinct line = ``min(struct(doc_id, line_no))`` —
       lexicographic struct min picks the identical row a
       ``row_number() OVER (PARTITION BY line ORDER BY doc_id,
       line_no)`` would, but as an AGGREGATE with MAP-SIDE partial
       combine (Spark compiles struct-min to SortAggregate — each
       task sorts its OWN rows locally; see the inline note). That is
       the skew defense: a boilerplate line occurring 10^7 times
       ("unsubscribe here") collapses to one partial per map task
       before the shuffle, where the window form would sort all 10^7
       occurrences on a single reducer. The exchange carries one
       (line, min-struct) partial per distinct line per task — for
       duplicate-heavy corpora (the operator's whole reason to exist)
       that is a small fraction of the rows.
    2. reassembly groupBy(doc_id) over the winner rows — each winner
       IS a surviving occurrence, so no join back to the corpus is
       needed for the text. Per-group state is one document's lines.
    3. per-doc non-blank totals computed IN-ROW on the one-row-per-doc
       frame (``size(filter(split(...)))`` — no second explode, no
       totals shuffle of line rows) and joined on doc_id to derive
       ``dropped_lines``; the totals side ships one narrow row per
       document.

    At 100 TB the payload-trimming variant of stage 1 aggregates
    ``(xxhash64(line), md5(line))`` instead of raw text and re-joins
    winners (halves shuffle bytes, 2^-128 collision); this form keeps
    exact text so the result is oracle-checkable to the byte.

    Blank/whitespace-only lines are outside the dedup domain and are
    dropped in reassembly (the C4 normalization); a single newline
    joins survivors. Blank detection is a regex test, not trim():
    trim strips only 0x20 spaces in both Spark and DuckDB, so a
    tab-only line would count as content under it. The class is
    EXPLICIT (``[ \\t\\n\\x0B\\f\\r]``), never ``\\s``: Java's ``\\s``
    includes U+000B (vertical tab) while RE2's (DuckDB) does not, so
    ``^\\s*$`` would classify a VT-only line blank on one engine and
    content on the other.
    """
    lines = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), split_pattern)).alias("line_no", "line"),
        )
        .where(~F.col("line").rlike(r"^[ \t\n\x0B\f\r]*$"))
    )
    winners = lines.groupBy("line").agg(F.min(F.struct("doc_id", "line_no")).alias("w"))
    # NOTE on the physical shape: Spark compiles struct-min to
    # SortAggregate (struct agg buffers are not hash-mutable), so each
    # task sorts ITS OWN rows by line before combining — per-partition
    # work, not a hot-key concentration. The load-bearing property is
    # the map-side partial_min: the exchange after it carries one
    # (line, min-struct) partial per distinct line per task, which is
    # what the plan test pins.
    kept = (
        winners.select(F.col("w.doc_id").alias("doc_id"), F.col("w.line_no").alias("line_no"), "line")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                    lambda s: s["line"],
                ),
                joiner,
            ).alias("clean_text"),
            F.count(F.lit(1)).alias(f"kept_{seg}s"),
        )
    )
    # the split pattern reaches SQL as a single-quoted literal: escape
    # backslashes once more for the SQL string layer, plus quotes and
    # newlines so any Java/RE2-valid pattern survives the embedding
    sql_pat = (
        split_pattern.replace("\\", "\\\\").replace("'", "\\'").replace("\n", "\\n")
    )
    totals = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.expr(
            rf"size(filter(split({text_col}, '{sql_pat}'), l -> NOT l RLIKE '^[ \\t\\n\\x0B\\f\\r]*$'))"
        ).alias("__total_segs"),
    )
    return kept.join(totals, "doc_id").select(
        "doc_id",
        "clean_text",
        f"kept_{seg}s",
        (F.col("__total_segs") - F.col(f"kept_{seg}s")).alias(f"dropped_{seg}s"),
    )


def line_dedup_corpus(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """C4/Dolma corpus LINE dedup — see :func:`segment_dedup_corpus`."""
    return segment_dedup_corpus(df, text_col, id_col, split_pattern="\n", joiner="\n", seg="line")


def paragraph_dedup_corpus(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Dolma-style corpus PARAGRAPH dedup: segments are blank-line-
    separated paragraphs (``\\n{2,}``), compared RAW (same
    whole-segment-equality contract as the line form), globally-first
    occurrence wins by (doc_id, position), survivors rejoin with a
    blank line. Same skew-safe min(struct) aggregate shape — a
    boilerplate paragraph repeated corpus-wide collapses to one
    partial per map task."""
    return segment_dedup_corpus(
        df, text_col, id_col, split_pattern=r"\n{2,}", joiner="\n\n", seg="paragraph"
    )


def _hex16(hex_col_sql: str, j: int) -> str:
    """SQL for the j-th 16-bit slice of an ALREADY-COMPUTED md5 hex
    string column (hex chars 4j+1..4j+4), decoded engine-neutrally via
    ``instr('0123456789abcdef', c) - 1`` — the same portable-nibble
    idiom as :func:`simhash16_md5`. Callers hash once into an aliased
    digest column and slice it here, so each row pays one md5."""
    a = 4 * j + 1
    nib = lambda i: f"(instr('0123456789abcdef', substr({hex_col_sql}, {i}, 1)) - 1)"
    return f"({nib(a)} * 4096 + {nib(a + 1)} * 256 + {nib(a + 2)} * 16 + {nib(a + 3)})"


def bloom_novelty(df: DataFrame, text_col: str, id_col: str, split_id: int) -> DataFrame:
    """Incremental-ingest dedup via a Bloom filter: docs with
    ``id <= split_id`` are the existing CORPUS, the rest are the new
    INCREMENT; each increment doc is flagged ``maybe_seen`` (all 4 of
    its Bloom positions set by the corpus — Bloom "probably present")
    and ``exact_seen`` (its text literally occurs in the corpus). A
    Bloom filter never false-negatives, so ``exact_seen ⇒ maybe_seen``
    invariantly; the gap between the two flags is the measured
    false-positive set.

    The filter is m = 2^16 bits as 2048 32-bit words (32, not 64:
    DuckDB overflow-checks ``1 << 63`` on signed BIGINTs, so the
    cross-engine-safe word width caps the shift at 31), k = 4 16-bit
    positions per document taken directly from slices of one md5(text)
    hex digest (:func:`_hex16` — engine-neutral, so the whole
    construction is oracle-checkable bit-for-bit). Build: explode
    corpus positions → groupBy word index (BOUNDED key space, 2048
    rows max) → ``bit_or`` of the position bits, map-side combined.

    Probe (filter-as-scalar): the 2048 built words aggregate into a
    ONE-ROW ``map<w, word>`` (8 KB) that reaches the probe as a
    broadcast scalar cross-join; each increment row computes its k
    positions and tests the bits IN-ROW against the map. No probe-side
    explode, no aggregation, and no driver-side collect — the plan
    stays declarative and the filter build re-executes inside every
    fresh QueryExecution (r6 shipped two broadcast-JOIN builds plus a
    probe-side explode→bool_and agg; this form deletes the probe agg
    and turns the filter join into a scalar — same-session A/B at
    sf0.1: 0.427 s → 0.310 s warm).

    100 TB contract: the build is one corpus scan whose shuffle
    carries ≤ m/64 partial words per map task; the probe side never
    shuffles the corpus text. The fixed 8 KB filter is what keeps the
    probe a broadcast scalar; a corpus of 10^11 digests would need a
    variable m (~10^12 bits) and a probe that routes positions to the
    shard owning each word, neither of which exists here. When the
    increment is a large fraction of the corpus, fall back to the
    exact digest anti-join instead.

    ``exact_seen`` broadcasts the distinct corpus texts, which is only
    sane at verification scale (it is orders of magnitude larger than
    the filter); it exists so the FP measurement stays a one-liner.
    """
    from ..sources.tables import spread

    k = 4  # positions per document; the DuckDB oracle hardcodes the same 4 slices
    # the md5 digest per row is CPU-bound work — spread the narrow
    # input so a single-partition cached scan can't serialize it
    base = spread(
        df.where(F.col(text_col).isNotNull()).selectExpr(
            f"{id_col} AS doc_id", f"{text_col} AS __text"
        ),
        min_bytes=0,
    )
    # r14: hash ONCE per row into an aliased attribute and slice the
    # HEX STRING for every position/nibble. The old form inlined
    # ``md5(__text)`` inside each nibble decode — 4 nibbles × k=4
    # positions = 16 md5 evaluations of the full document per row on
    # both the build and probe sides (Generate/Project children get
    # no cross-expression CSE for this shape). The digest attribute
    # is referenced 16×, so CollapseProject keeps the projection
    # boundary instead of re-inlining it. Same hex slices, same
    # positions, bit-identical filter.
    base = base.selectExpr("doc_id", "__text", "md5(__text) AS __hx")
    pos_sql = [_hex16("__hx", j) for j in range(k)]
    corpus_words = (
        base.where(F.col("doc_id") <= split_id)
        .selectExpr("explode(array(" + ", ".join(pos_sql) + ")) AS pos")
        .selectExpr("pos div 32 AS w", "pos % 32 AS b")
        .groupBy("w")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))) AS word"))
    )
    # the bounded word table collapses to a one-row map (8 KB
    # regardless of corpus size) broadcast to the increment, then
    # pure in-row position computation + bit tests
    words_map = corpus_words.agg(
        F.expr("map_from_entries(collect_list(struct(w, word))) AS __bwmap")
    )
    tests = " AND ".join(
        f"((coalesce(element_at(__bwmap, p{j} div 32), 0L)"
        f" & shiftleft(CAST(1 AS BIGINT), CAST(p{j} % 32 AS INT))) != 0)"
        for j in range(k)
    )
    probes = (
        base.where(F.col("doc_id") > split_id)
        .selectExpr(
            "doc_id", "__text", *[f"{p} AS p{j}" for j, p in enumerate(pos_sql)]
        )
        .crossJoin(F.broadcast(words_map))
        .selectExpr("doc_id", "__text", f"({tests}) AS maybe_seen")
    )
    corpus_texts = base.where(F.col("doc_id") <= split_id).select("__text").distinct()
    return (
        probes.join(
            F.broadcast(corpus_texts.withColumn("__seen", F.lit(True))), "__text", "left"
        )
        .select(
            "doc_id",
            "maybe_seen",
            F.coalesce("__seen", F.lit(False)).alias("exact_seen"),
        )
    )


def dup_span_coverage(
    df: DataFrame, text_col: str, id_col: str, *, window: int = 8, hash_fn: str = "md5"
) -> DataFrame:
    """Exact-substring duplication coverage (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" recipe,
    windowed form): hash every ``window``-token sliding window, find
    windows whose hash occurs MORE THAN ONCE in the corpus (across or
    within documents), and report per document how many of its tokens
    are covered by at least one duplicated window.

    Emits ``(doc_id, n_tokens, dup_covered_tokens, dup_token_ratio)``
    — the per-document signal the ExactSubstr pass thresholds on
    before cutting spans.

    Window hashes default to ``md5(concat_ws(' ', slice(tokens, i,
    w)))`` — engine-neutral, so the whole operator is oracle-checkable
    bit-for-bit. ``hash_fn="xxhash64"`` keeps the identical plan but
    emits 8-byte bigint hashes instead of 32-char hex strings;
    verdict equality of the two forms is pinned by test (collisions
    aside, 2^-64/window-pair). Honest measurement (200k-doc curve
    corpus): the hash choice is CPU-NEUTRAL — stage profiling shows
    the per-window ``concat_ws(slice(...))`` string construction
    dominates (5.96 s of the 6.13 s window stage; md5 adds ~3%), and
    end-to-end md5 12.7 s vs xxhash64 11.8 s warm is within noise.
    The case for xxhash64 is SHUFFLE WIDTH, not CPU: every downstream
    exchange/join key drops 32 B → 8 B, which matters at 100 TB where
    the dup-set shuffle is the operator's dominant network cost. The
    O(n·w) per-position re-concatenation is shared by both forms; a
    true O(n) Rabin-Karp would need an ``F.aggregate`` scan carrying
    rolling state and is future work, relevant only when w grows well
    past ~10 tokens.

    Engine shape — aggregates and one semi-join, hot-key safe:

    1. window rows ``(doc_id, pos, h)`` via in-row ``transform`` over
       ``sequence`` (no shuffle to build);
    2. duplicated-hash set = groupBy(h) HAVING count ≥ 2 — map-side
       partial counts collapse the boilerplate windows that motivate
       the operator;
    3. LEFT SEMI join windows → duplicated set on h (shuffled semi —
       the dup set is corpus-sized in the worst case, so no broadcast
       assumption);
    4. coverage = explode each flagged window to its token indices,
       ``count(DISTINCT idx)`` per doc (overlapping windows double-
       cover; DISTINCT dedups), joined to per-doc totals on doc_id.

    At 100 TB every shuffle carries (hash) or (doc_id, idx) pairs —
    never text beyond stage 1's in-row hashing.
    """
    # tokenization contract, cross-engine by construction: the
    # whitespace class is EXPLICIT ([ \t\n\x0B\f\r]) because Java's
    # \s includes U+000B while RE2's (DuckDB) does not — '\s+' here
    # would diverge the engines on any document containing a vertical
    # tab; and empty tokens are FILTERED rather than trimmed away,
    # because trim() strips only 0x20, so a trailing newline/tab would
    # otherwise mint phantom empty tokens that inflate n_tokens and
    # understate the coverage ratio on both engines at once (where the
    # oracle gate cannot see it).
    toks = (
        df.where(F.col(text_col).isNotNull())
        .selectExpr(
            f"{id_col} AS doc_id",
            rf"filter(split({text_col}, '[ \\t\\n\\x0B\\f\\r]+'), t -> t != '') AS toks",
        )
        .where(F.expr("size(toks) > 0"))
        .select("doc_id", "toks", F.expr("size(toks)").alias("n_tokens"))
    )
    if hash_fn not in ("md5", "xxhash64"):
        raise ValueError(f"dup_span_coverage: unsupported hash_fn {hash_fn!r}")
    win = toks.where(F.col("n_tokens") >= window).select(
        "doc_id",
        "n_tokens",
        F.explode(
            F.expr(
                f"transform(sequence(1, n_tokens - {window} + 1),"
                f" i -> struct(i AS pos, {hash_fn}(concat_ws(' ', slice(toks, i, {window}))) AS h))"
            )
        ).alias("w"),
    ).select("doc_id", "n_tokens", F.col("w.pos").alias("pos"), F.col("w.h").alias("h"))
    dup_hashes = win.groupBy("h").agg(F.count(F.lit(1)).alias("c")).where(F.col("c") >= 2)
    flagged = win.join(dup_hashes.select("h"), "h", "left_semi")
    covered = (
        flagged.select(
            "doc_id", F.explode(F.expr(f"sequence(pos, pos + {window} - 1)")).alias("idx")
        )
        .groupBy("doc_id")
        .agg(F.countDistinct("idx").alias("dup_covered_tokens"))
    )
    totals = toks.select("doc_id", "n_tokens")
    return totals.join(covered, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("dup_covered_tokens", F.lit(0)).alias("dup_covered_tokens"),
        F.round(
            F.coalesce("dup_covered_tokens", F.lit(0)) / F.col("n_tokens"), 6
        ).alias("dup_token_ratio"),
    )


def boilerplate_line_removal(
    df: DataFrame,
    text_col: str,
    id_col: str,
    source_col: str,
    *,
    min_docs: int = 3,
) -> DataFrame:
    """Per-source boilerplate line removal (the RefinedWeb/Dolma
    companion to :func:`line_dedup_corpus`): a non-blank line that
    appears in at least ``min_docs`` DISTINCT documents of the SAME
    source is navigation/footer/legal boilerplate and is removed from
    EVERY document (line_dedup's keep-first rule intentionally keeps
    one copy; boilerplate removal keeps none). Documents are
    reassembled from their surviving lines in original order.

    Emits ``(doc_id, clean_text, kept_lines, removed_lines)`` for
    every document with at least one non-blank line — including ones
    where everything was boilerplate (``clean_text = ''``), so the
    output doubles as an audit table.

    Contracts: EXACT raw-line matching (no trim — leading indentation
    distinguishes lines, same as line_dedup); blank detection via the
    explicit ``[ \\t\\n\\x0B\\f\\r]`` class; ``min_docs`` compares
    COUNT(DISTINCT doc_id), so a line repeated many times inside one
    document is not boilerplate by itself.

    Engine shape at 100 TB — no hot-key liability by construction:

    1. per-(source, line) distinct-doc counts via hash aggregate —
       map-side partial distinct collapses each task's repeats of a
       boilerplate line before the exchange (never a window over the
       line key);
    2. the count table has ONE row per distinct line, so joining it
       back to the line stream cannot blow up on a 10^7-occurrence
       line (the hot side is the probe, not the build); AQE may
       broadcast the count table when small;
    3. reassembly is one groupBy(doc_id) whose state is a single
       document's lines; counts derive in the same aggregate.
    """
    blank = r"'^[ \\t\\n\\x0B\\f\\r]*$'"
    lines = (
        df.where(f"{text_col} IS NOT NULL")
        .selectExpr(
            f"{id_col} AS doc_id",
            f"{source_col} AS __src",
            rf"posexplode(split({text_col}, '\\n')) AS (line_no, line)",
        )
        .where(f"NOT line RLIKE {blank}")
    )
    counts = lines.groupBy("__src", "line").agg(
        F.expr("COUNT(DISTINCT doc_id) AS __nd")
    )
    flagged = lines.join(counts, ["__src", "line"]).selectExpr(
        "doc_id",
        "line_no",
        "line",
        f"(__nd >= {int(min_docs)}) AS __boiler",
    )
    return flagged.groupBy("doc_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "CASE WHEN NOT __boiler THEN struct(line_no, line) END)), s -> s.line), '\\n')"
            " AS clean_text"
        ),
        F.expr("COUNT(CASE WHEN NOT __boiler THEN 1 END) AS kept_lines"),
        F.expr("COUNT(CASE WHEN __boiler THEN 1 END) AS removed_lines"),
    )
