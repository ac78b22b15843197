"""Text analysis for training-data pipelines: token counting, quality
scoring, language-ID heuristic, document fingerprinting.

Everything is built-in Column expressions (split / regexp / HOFs) —
at 100 TB these run as one codegen projection over the documents
scan, no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..session import session_slot


def _sql_escape(s: str) -> str:
    """Escape a Python string for a single-quoted Spark SQL literal:
    backslash and quote are backslash-escaped; control chars go out
    as \\uXXXX (Spark's unescapeSQLString decodes them), so arbitrary
    document-derived trigrams round-trip through SQL text exactly."""
    out = []
    for ch in s:
        if ch == "\\":
            out.append("\\\\")
        elif ch == "'":
            out.append("\\'")
        elif ord(ch) < 0x20 or ord(ch) == 0x7F:
            out.append(f"\\u{ord(ch):04X}")
        else:
            out.append(ch)
    return "".join(out)

# THE whitespace contract, spelled explicitly so both engines read the
# same set: Java \s == [ \t\n\x0B\f\r] but RE2/DuckDB \s excludes
# U+000B (vertical tab) — any \s-based oracle silently diverges on VT
# content. Oracles must use this same class (pipeline_queries.py).
WHITESPACE_CLASS = "[ \\t\\n\\x0B\\f\\r]"

# tiny per-language stopword lists for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "es"],
    "fr": ["le", "la", "de", "et", "est"],
    "de": ["der", "die", "das", "und", "ist"],
}


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (empty string → empty array).

    The separator class is EXPLICIT (``[ \\t\\n\\x0B\\f\\r]+``), never
    ``\\s``: Java's ``\\s`` includes U+000B while RE2's (DuckDB's) does
    not, so a ``\\s``-spelled contract silently diverges the engines on
    vertical-tab content. For Spark the explicit class is bit-identical
    to Java ``\\s`` — this spelling pins the contract so every oracle
    can copy it verbatim (r9 ADVICE; same fix as line_dedup/char_lm).
    """
    text = F.col(text) if isinstance(text, str) else text
    t = F.split(F.trim(text), WHITESPACE_CLASS + "+")
    return F.when(F.trim(text) == "", F.array().cast("array<string>")).otherwise(t)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def avg_token_len(text: Column | str) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, F.round(total / F.size(toks), 6)).otherwise(F.lit(None))


def stopword_ratio(text: Column | str, stopwords: list[str]) -> Column:
    toks = tokens(text)
    sw = F.size(F.filter(toks, lambda t: F.lower(t).isin(*stopwords)))
    return F.when(F.size(toks) > 0, F.round(sw / F.size(toks), 6)).otherwise(F.lit(0.0))


def quality_score(text: Column | str, stopwords: list[str] | None = None) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword
    presence + sane average token length. Deterministic, monotone in
    each signal — a Gopher-rules-flavored filter."""
    sw = stopwords or LANG_MARKERS["en"]
    n = token_count(text)
    len_ok = F.when((n >= 10) & (n <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
    sw_sig = F.least(stopword_ratio(text, sw) * 4, F.lit(1.0)) * 0.3
    atl = avg_token_len(text)
    atl_ok = F.when((atl >= 2.5) & (atl <= 12.0), F.lit(0.3)).otherwise(F.lit(0.0))
    return F.round(len_ok + sw_sig + atl_ok, 6)


def lang_scores(text: Column | str) -> Column:
    """Stopword-hit score per language → map<string,double>."""
    toks = tokens(text)
    entries = []
    for lang, words in LANG_MARKERS.items():
        hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*words)))
        score = F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))
        entries.extend([F.lit(lang), score])
    return F.create_map(*entries)


def lang_guess(text: Column | str) -> Column:
    """argmax over lang_scores; 'und' when nothing scores > 0."""
    toks = tokens(text)
    best_lang = F.lit("und")
    best_score = F.lit(0.0)
    # ordered when-chain: later langs win only with STRICTLY higher score
    for lang, words in LANG_MARKERS.items():
        hits = F.size(F.filter(toks, lambda t: F.lower(t).isin(*words)))
        score = F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))
        best_lang = F.when(score > best_score, F.lit(lang)).otherwise(best_lang)
        best_score = F.greatest(score, best_score)
    return best_lang


def rolling_fingerprint_from_tokens(toks: Column | str, window: int = 8) -> Column:
    """Winnowing-style fingerprint from a token-array ATTRIBUTE (this
    expression references ``toks`` ~window+2 times — alias the token
    column in its own projection so tokenization runs once)."""
    toks = F.col(toks) if isinstance(toks, str) else toks
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - F.lit(window - 1), F.lit(1)))
    win_hash = F.transform(
        idx,
        lambda i: F.xxhash64(F.concat_ws(" ", *[F.element_at(toks, F.least(i + j, n)) for j in range(window)])),
    )
    # empty/whitespace-only document: no windows exist — NULL, not a
    # crash (element_at(toks, least(i, 0)) raises INVALID_INDEX_OF_ZERO)
    return F.when(n > 0, F.array_min(win_hash)).otherwise(F.lit(None).cast("bigint"))


# PII scrubbing patterns. Deliberately restricted to syntax with
# identical semantics in Java regex (Spark, JVM-side regexp_replace)
# and RE2 (the DuckDB oracle): character classes, bounded repetition,
# and \b word boundaries — no lookaround, no backrefs, no alternation
# whose leftmost-first order could diverge.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+?\d[\d\- ]{7,}\d"


def redact_pii(text: Column | str) -> Column:
    """Replace emails, IPv4 addresses, and phone-like digit runs with
    typed placeholders. Order matters and is part of the contract:
    email → ip → phone, so the phone pattern can never eat the digits
    of an address already collapsed to a placeholder. Pure JVM-side
    regexp_replace — codegen'd, no Python in the row path; at 100 TB
    this is a narrow map over the corpus scan (zero shuffles).
    """
    text = F.col(text) if isinstance(text, str) else text
    out = F.regexp_replace(text, PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, PII_IPV4, "<IP>")
    return F.regexp_replace(out, PII_PHONE, "<PHONE>")


def pii_counts(text: Column | str) -> list[Column]:
    """(n_email, n_ip, n_phone) found in the ORIGINAL text — the audit
    columns a redaction job reports alongside the scrubbed corpus."""
    text = F.col(text) if isinstance(text, str) else text
    return [
        F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL), 0)).cast("bigint").alias("n_email"),
        F.size(F.regexp_extract_all(text, F.lit(PII_IPV4), 0)).cast("bigint").alias("n_ip"),
        F.size(
            F.regexp_extract_all(
                F.regexp_replace(F.regexp_replace(text, PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"),
                F.lit(PII_PHONE),
                0,
            )
        )
        .cast("bigint")
        .alias("n_phone"),
    ]


def char_entropy_stats(df, text_col: str, id_col: str):
    """Per-document Shannon entropy over characters (bits/char) — the
    cheap compressibility proxy for corpus quality: near-0 entropy is
    padding/repetition spam, unusually high entropy is binary noise or
    minified blobs; natural language sits in a stable band (~3.5-4.5
    bits for English).

    Scale shape: explode characters (narrow projection over the scan),
    one shuffle on (doc, char) for the histogram — at most
    |alphabet| ≈ 100s of rows per document survive the map-side
    combine — then a bounded shuffle on doc for the final fold using
    H = log2(n) - (Σ c·log2 c)/n. Returns (id, n_chars,
    distinct_chars, entropy_bits) with entropy rounded to 6 dp;
    empty documents get 0.0.
    """
    chars = (
        df.select(F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch"))
        .where(F.col("ch") != "")
        .groupBy(id_col, "ch")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    agg = chars.groupBy(id_col).agg(
        F.sum("cnt").alias("n_chars"),
        F.count(F.lit(1)).alias("distinct_chars"),
        F.sum(F.col("cnt") * F.log2("cnt")).alias("__clogc"),
    )
    scored = agg.select(
        id_col,
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("distinct_chars").cast("bigint").alias("distinct_chars"),
        F.round(F.log2("n_chars") - F.col("__clogc") / F.col("n_chars"), 6).alias("entropy_bits"),
    )
    # keep empty documents with zero stats (left join back on ids)
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_chars", F.lit(0)).alias("n_chars"),
            F.coalesce("distinct_chars", F.lit(0)).alias("distinct_chars"),
            F.coalesce("entropy_bits", F.lit(0.0)).alias("entropy_bits"),
        )
    )


def char_trigram_lm_scores(df, text_col: str, id_col: str, *, add_k: float = 0.5):
    """Model-based quality scoring with a SELF-TRAINED character
    trigram language model — the CCNet recipe (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web
    Crawl Data") with an n-gram LM standing in for their KenLM:
    documents whose characters are poorly predicted by the corpus's
    own statistics (gibberish, encoding damage, boilerplate soup)
    score high and get filtered.

    Per document: normalize (lowercase, collapse whitespace — the
    whitespace class is EXPLICIT ``[ \\t\\n\\x0B\\f\\r]`` because
    Java's ``\\s`` includes U+000B while RE2's does not), emit all
    character trigrams, and score the add-k-smoothed conditional
    probability of each third character given its two-char context,
    where c3/c2 are corpus trigram/context counts and V is the
    distinct-third-character vocabulary. Emits
    ``(doc_id, n_trigrams, avg_neg_logp)`` (nats/char; lower =
    better-predicted text).

    Cross-engine determinism contract (the event_interarrival / BM25
    rule — round in INTEGER space, never round(avg(double))): each
    distinct trigram's term ``-ln((c3+k)/(c2+k*V))`` is quantized
    ONCE to integer nanonats, ``floor(x*1e9 + 0.5)``; the per-doc
    score is then an integer half-up mean in micro-nats,
    ``(2*sum + n*1000) div (2*n*1000)``, with ONE shared float
    division by 1e6 at the end. A plain ``round(avg(...), 6)`` is
    float-summed in engine/partitioning-dependent order and can flip
    the 6-dp boundary (first observed in event_interarrival at
    sf0.1); the integer form is order-independent by construction.
    The quantization itself happens driver-side with ``math.log`` —
    glibc's libm, the same ``ln`` DuckDB's oracle calls on this
    platform — and the 1e-9 quantum guards the residual
    last-ulp class regardless.

    Engine shape at 100 TB: the LM "fit" is one groupBy on a BOUNDED
    key space (≤ charset³ trigrams — the model is KBs-to-MBs no
    matter the corpus size) whose result is collected, enriched
    driver-side (context totals, vocabulary, quantized terms —
    model-sized work), and broadcast back as a single ``(tri, q)``
    scoring table; the per-doc mean shuffles only partial
    (sum, count) pairs of INTEGERS — the scoring pass does no
    transcendental math at all. Exactly one corpus pass to fit + one
    to score.
    """
    import math

    from pyspark import StorageLevel

    from ..sources.tables import spread

    # CPU-heavy per-row work (len(t) trigram substrings per doc) on a
    # small-but-hot input: round-robin the NARROW RAW rows across
    # cores FIRST, then normalize — the regexp+lower must run in the
    # 32-way post-exchange stage. r13 stage-timeline caught the
    # original order (normalize inside the pre-spread projection)
    # executing the regexp in the 1-task cached-scan stage: 0.127 s
    # serialized per fit while 31 cores idled — the exact starvation
    # mode spread() exists for, one projection boundary too early.
    # Corpus-side plan FRAGMENTS (norm / tris / the fit aggregation)
    # are memoized per (session, input-plan semantic hash, columns):
    # they are pure logical plans — ~20 Py4J round-trips of expression
    # building that produce the identical plan on every re-fit. The
    # honesty contract forbids amortizing fit EXECUTION, not Python
    # expression construction: the fit's collect() below runs on every
    # call, and each bench run's clearCache() drops the materialized
    # norm, so every timed run still normalizes, explodes, counts, and
    # scores the corpus in full. The semantic-hash key distinguishes
    # the parquet vs block-manager-cached input variants (different
    # analyzed plans), so a mode flip can never be served the wrong
    # scan; stale-key fragments are evicted (and unpersisted) on miss.
    per = session_slot(df.sparkSession, "char_lm")
    try:
        frag_key = (df._jdf.queryExecution().analyzed().semanticHash(), text_col, id_col)
    except Exception:
        frag_key = None
    frag = per.get(frag_key) if frag_key is not None else None
    if frag is None:
        # NO .where() on t: a `char_length(t) >= 3` filter gets pushed
        # through the Project AND the Repartition (plan-verified),
        # which re-plants the regexp below the exchange — the 1-task
        # stage then pays the full normalize serialized just to
        # evaluate the filter. The length guard lives inside the
        # explode's CASE instead (plain explode of NULL emits no rows
        # — short docs vanish exactly as the filter form dropped them,
        # and InferFiltersFromGenerate does not infer filters from
        # non-attribute generator children, so nothing pushable
        # exists). Spread FIRST on the narrow raw rows so the regexp
        # runs 32-way post-exchange.
        norm = spread(
            df.where(f"{text_col} IS NOT NULL").selectExpr(
                f"{id_col} AS doc_id", f"{text_col} AS __raw"
            ),
            min_bytes=0,
        ).selectExpr(
            "doc_id",
            r"trim(regexp_replace(lower(__raw), '[ \\t\\n\\x0B\\f\\r]+', ' ')) AS t",
        )
        # trigram stream via INDEX explode + post-explode substring:
        # the earlier `explode(transform(sequence(...), i ->
        # substring(t,i,3)))` materialized a per-doc ARRAY of 3-char
        # string objects before exploding it; exploding the int
        # sequence and slicing afterwards keeps the whole stage one
        # codegen pass over (t, i) with no intermediate array
        # allocation — measured 2.1x faster on the fit pass at sf0.1
        # (559 ms -> 261 ms). CASE guard: sequence(1, n) with n < 1
        # would generate DESCENDING (start > stop defaults step -1),
        # so short docs must yield NULL, which plain explode drops.
        tris = norm.selectExpr(
            "doc_id",
            "t",
            "explode(CASE WHEN char_length(t) >= 3 THEN sequence(1, char_length(t) - 2) END) AS i",
        ).selectExpr("doc_id", "substring(t, i, 3) AS tri")
        fit_plan = tris.groupBy("tri").agg(F.count(F.lit(1)).alias("c3"))
        if frag_key is not None:
            for old_norm, _tris, _fit in per.values():
                try:
                    old_norm.unpersist(blocking=False)
                except Exception:
                    pass
            per.clear()
            per[frag_key] = (norm, tris, fit_plan)
    else:
        norm, tris, fit_plan = frag
    # fit and score both consume the normalized docs — persist the
    # NARROW normalized form (one short row per doc) rather than the
    # exploded trigram stream: the normalize (lower + regexp collapse)
    # runs once per fit, each pass re-runs the cheap codegen'd
    # explode, and the block manager never materializes the ~2000x-
    # wider trigram rows (A/B at sf0.1: tris-persist 0.78-0.83 s,
    # norm-persist 0.69-0.74 s, (doc,tri) pair-agg 0.94-1.27 s).
    # Re-asserted EVERY call: the bench's per-run clearCache()
    # unregisters it, and an unregistered norm would make fit and
    # score each recompute the normalize+exchange. Re-persisting an
    # already-cached plan is a CacheManager no-op (logged warning).
    norm.persist(StorageLevel.MEMORY_AND_DISK)
    # FIT: one corpus pass aggregates trigram counts, then the model
    # comes to the driver — it is bounded by charset^3 (tens of KBs)
    # no matter the corpus size, the same small-by-contract collect as
    # similarity.py's query vectors. Deriving context totals, the
    # vocabulary, and the quantized per-trigram terms from the
    # collected counts costs model-sized driver work and spares the
    # cluster THREE re-aggregations of the corpus explode (the naive
    # all-DataFrame form re-ran it for the context counts, the vocab
    # count, and each broadcast build — measured 2x slower end-to-end
    # at sf0.1) — and removes transcendental math from the scoring
    # pass entirely: the executors sum broadcast-looked-up integers.
    # collect(), not toPandas(): on a ≤ charset³-row result the Arrow
    # collect path's fixed serving cost dominates (measured ~500 ms
    # slower per fit at sf0.1, same 377-row model) — plain collect is
    # one Py4J round-trip for a model-sized list. The enrichment is
    # plain-dict Python (r13; pandas groupby/transform machinery on a
    # ~400-row model was pure overhead on the per-fit path)
    _rows = fit_plan.collect()
    ctx_tot: dict[str, int] = {}
    third: set[str] = set()
    for tri, c3 in _rows:
        ctx_tot[tri[:2]] = ctx_tot.get(tri[:2], 0) + c3
        third.add(tri[2:3])
    vsz = len(third)
    # integer-nanonat quantization of each distinct trigram's term;
    # operation order mirrors the oracle SQL exactly:
    # (CAST(c3 AS DOUBLE)+k) / (CAST(c2 AS DOUBLE)+k*V), -ln, *1e9,
    # +0.5, floor — every step an IEEE double op or libm ln
    denom_k = add_k * float(vsz)
    model_rows = [
        (
            tri,
            math.floor(
                -math.log((float(c3) + add_k) / (float(ctx_tot[tri[:2]]) + denom_k)) * 1000000000.0
                + 0.5
            ),
        )
        for tri, c3 in _rows
    ]
    # model upload as a SQL VALUES literal, NOT createDataFrame: the
    # Python-RDD-backed relation createDataFrame builds makes the
    # broadcast build a real cluster job that forks one Python worker
    # PER CORE to serve ~400 rows (r13 stage timeline: a 32-task job
    # with ~10 s of task-time, every run). A VALUES literal parses to
    # a LocalRelation, so the broadcast materializes driver-side with
    # no job and no Python workers. Guarded by the same bound as the
    # collect: the model is ≤ charset³ rows by construction — the
    # fallback createDataFrame path covers a pathological charset
    # where the SQL text would get silly.
    sess2 = tris.sparkSession
    if not model_rows:
        model = F.broadcast(sess2.createDataFrame([], "tri string, q bigint"))
    elif len(model_rows) <= 20000:
        vals = ", ".join(f"('{_sql_escape(tri)}', {q})" for tri, q in model_rows)
        model = F.broadcast(
            sess2.sql(f"SELECT tri, CAST(q AS BIGINT) AS q FROM (VALUES {vals}) AS m(tri, q)")
        )
    else:
        model = F.broadcast(sess2.createDataFrame(model_rows, "tri string, q bigint"))
    # SCORE: the second corpus pass hash-joins the broadcast model and
    # reduces per document — the shuffle carries partial (sum, count)
    # INTEGER pairs per doc only; the half-up micro-nat mean stays in
    # integer space to the last shared float division (see docstring).
    # (A fully in-row variant — one-row broadcast map + `aggregate`
    # HOF folding each doc's trigram sequence, zero shuffles — was
    # measured 2.5x SLOWER at sf0.1: HOF lambdas evaluate interpreted,
    # outside whole-stage codegen, so the explode + codegen'd
    # broadcast-hash-join + partial-sum shape wins despite
    # materializing per-trigram rows.)
    return (
        tris.join(model, "tri")
        .groupBy("doc_id")
        .agg(
            F.expr("COUNT(1) AS n_trigrams"),
            F.expr(
                "CAST((2*SUM(q) + COUNT(1)*1000) DIV (2*COUNT(1)*1000) AS DOUBLE) / 1000000.0"
                " AS avg_neg_logp"
            ),
        )
    )


def repetition_profile(df, text_col: str, id_col: str):
    """Gopher repetition rules (Rae et al. 2021, "Scaling Language
    Models: ... Gopher", Table A1) as ONE oracle-checkable per-document
    profile: duplicate-line fraction, duplicate-line CHARACTER
    fraction, duplicate-paragraph fraction, top-2-gram character
    fraction, and the combined keep/drop verdict at the published
    thresholds (0.30 / 0.20 / 0.30 / 0.20).

    Emits ``(doc_id, n_lines, dup_line_frac, dup_line_char_frac,
    dup_para_frac, top_2gram_char_frac, gopher_pass)`` for every doc
    with at least one non-blank line.

    Contracts (each engine-identical by construction):

    * line/paragraph blankness uses the EXPLICIT whitespace class
      (``[ \\t\\n\\x0B\\f\\r]`` — Java ``\\s`` includes U+000B, RE2's
      does not); kept segments compare TRIMMED (``trim`` strips only
      0x20 in both Spark and DuckDB — and a kept segment always has a
      non-whitespace char, so it never trims to empty);
    * tokenization = the dup-span contract (explicit class split,
      empty tokens filtered);
    * every fraction derives from exact integers and is published via
      the integer half-up micro rule ``(2*a*1e6 + b) div (2*b) / 1e6``
      — never ``round(double)``; the verdict compares the integer
      micros against integer thresholds (300000/200000), immune to
      0.3's float unrepresentability;
    * the top 2-gram tie-breaks (count DESC, gram ASC) via
      row_number, deterministic across engines and partitionings.

    Engine shape at 100 TB — every key is doc-scoped, so no corpus
    hot key exists by construction: one explode of non-blank lines →
    groupBy (doc, line) with map-side partial counts → per-doc
    reduction; paragraphs and token stats stay IN-ROW (array ops, no
    explode); one explode of 2-grams → (doc, gram) counts → per-doc
    row_number window whose partitions are single documents. The
    line-stat shuffle carries (doc, line-text) once; unlike an in-row
    per-line occurrence count (O(lines²) per doc) this form is linear
    and safe for adversarially line-heavy documents.

    Known single-node inefficiency, deliberately kept: the line
    explode, the paragraph/token projection, and the 2-gram explode
    each re-read the text column (3 scans of the cached input; the
    whitespace splitting is recomputed per branch). Fusing them via a
    persisted base (the char-LM pattern) would save ~2× the split
    cost per run — worth doing only if this query ever joins a timed
    headline set; at 100 TB the scans share the columnar source and
    the split cost is per-core work that scales out linearly.
    """
    blank = r"'^[ \\t\\n\\x0B\\f\\r]*$'"
    base = df.where(f"{text_col} IS NOT NULL").selectExpr(
        f"{id_col} AS doc_id", f"{text_col} AS __text"
    )
    lines = base.selectExpr(
        "doc_id",
        rf"explode(filter(split(__text, '\\n'), l -> NOT l RLIKE {blank})) AS l",
    ).selectExpr("doc_id", "trim(l) AS line")
    lc = lines.groupBy("doc_id", "line").agg(F.expr("COUNT(1) AS cnt"))
    ls = lc.groupBy("doc_id").agg(
        F.expr("SUM(cnt) AS n_lines"),
        F.expr("COUNT(1) AS n_distinct"),
        F.expr("SUM(cnt * char_length(line)) AS total_lc"),
        F.expr("SUM(IF(cnt = 1, char_length(line), 0)) AS single_lc"),
    )
    pt = base.selectExpr(
        "doc_id",
        rf"filter(split(__text, '\\n{{2,}}'), p -> NOT p RLIKE {blank}) AS __paras",
        rf"filter(split(__text, '[ \\t\\n\\x0B\\f\\r]+'), t -> t != '') AS __toks",
    ).selectExpr(
        "doc_id",
        "size(__paras) AS n_paras",
        "size(array_distinct(transform(__paras, p -> trim(p)))) AS n_distinct_paras",
        "char_length(array_join(__toks, ' ')) AS tok_chars",
        "__toks",
    )
    grams = pt.where("size(__toks) >= 2").selectExpr(
        "doc_id",
        "explode(transform(sequence(1, size(__toks) - 1),"
        " i -> concat(element_at(__toks, i), ' ', element_at(__toks, i + 1)))) AS gram",
    )
    gc = grams.groupBy("doc_id", "gram").agg(F.expr("COUNT(1) AS cnt"))
    gtop = (
        gc.withColumn(
            "rn",
            F.expr("row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC)"),
        )
        .where("rn = 1")
        .selectExpr("doc_id", "cnt * char_length(gram) AS top_chars")
    )
    return (
        ls.join(pt.select("doc_id", "n_paras", "n_distinct_paras", "tok_chars"), "doc_id")
        .join(gtop, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CAST(n_lines AS BIGINT) AS n_lines",
            "(2*(n_lines - n_distinct)*1000000 + n_lines) DIV (2*n_lines) AS __m_line",
            "(2*(total_lc - single_lc)*1000000 + total_lc) DIV (2*total_lc) AS __m_lchar",
            "(2*(n_paras - n_distinct_paras)*1000000 + n_paras) DIV (2*n_paras) AS __m_para",
            "(2*COALESCE(top_chars, 0)*1000000 + tok_chars) DIV (2*tok_chars) AS __m_gram",
        )
        .selectExpr(
            "doc_id",
            "n_lines",
            "CAST(__m_line AS DOUBLE) / 1000000.0 AS dup_line_frac",
            "CAST(__m_lchar AS DOUBLE) / 1000000.0 AS dup_line_char_frac",
            "CAST(__m_para AS DOUBLE) / 1000000.0 AS dup_para_frac",
            "CAST(__m_gram AS DOUBLE) / 1000000.0 AS top_2gram_char_frac",
            "(__m_line <= 300000 AND __m_lchar <= 200000 AND __m_para <= 300000"
            " AND __m_gram <= 200000) AS gopher_pass",
        )
    )


def quality_profile(df, text_col: str, id_col: str):
    """Gopher QUALITY rules (Rae et al. 2021 Table A1 — the
    non-repetition half; the repetition half is
    :func:`repetition_profile`) as one oracle-checkable per-document
    profile: word count, mean word length, per-symbol-to-word ratios
    (``#`` and ellipsis SEPARATELY — the paper drops when EITHER
    exceeds 0.1, not their sum), bullet-start / ellipsis-end line
    fractions, alphabetic-word fraction, required-stopword hits, and
    the combined keep/drop verdict at the published thresholds
    (50 <= words <= 100000, 3 <= mean len <= 10, each symbol ratio
    <= 0.1, bullet lines <= 0.9, ellipsis lines <= 0.3, alpha words
    >= 0.8, >= 2 of the 8 required stopwords).

    Contracts (engine-identical by construction):

    * tokenization = the dup-span contract: split on the EXPLICIT
      whitespace class ``[ \\t\\n\\x0B\\f\\r]`` (Java ``\\s`` includes
      U+000B, RE2's does not), empty tokens filtered;
    * "alphabetic word" = token containing an ASCII letter
      (``[A-Za-z]`` — deliberately ASCII so Java and RE2 agree
      without Unicode-property divergence; documented bias against
      non-Latin scripts mirrors Gopher's own English-centric rules);
    * ellipsis occurrences are counted via ``replace`` deltas
      (left-to-right non-overlapping in both engines): U+2026 plus
      three-ASCII-dot runs;
    * stopword hits count how many of the 8 published words appear
      as an EXACT lowercased token (punctuation-attached tokens do
      not match — documented);
    * every fraction derives from exact integers and is published via
      the integer half-up micro rule ``(2*a*1e6 + b) div (2*b)`` —
      never ``round(double)``; the verdict compares integer micros
      against integer thresholds.

    Engine shape at 100 TB: the whole profile is ONE narrow in-row
    projection over the documents scan — token and line arrays are
    per-row HOF folds, so there is NO shuffle and no corpus-wide key
    at all; the operator scales embarrassingly. (HOF lambdas run
    interpreted, outside whole-stage codegen — acceptable here
    because the work is per-row and this query is not a timed
    headline; the explode+groupBy alternative buys codegen at the
    price of a corpus-sized shuffle.)
    """
    ws = r"'[ \\t\\n\\x0B\\f\\r]+'"
    blank = r"'^[ \\t\\n\\x0B\\f\\r]*$'"
    stop = "array('the','be','to','of','and','that','have','with')"
    base = df.where(f"{text_col} IS NOT NULL").selectExpr(
        f"{id_col} AS doc_id",
        f"{text_col} AS __t",
        rf"filter(split({text_col}, {ws}), x -> x != '') AS __toks",
        rf"filter(split({text_col}, '\\n'), l -> NOT l RLIKE {blank}) AS __lines",
    )
    stats = base.where("size(__toks) >= 1").selectExpr(
        "doc_id",
        "size(__toks) AS n_words",
        "aggregate(__toks, 0L, (a, x) -> a + char_length(x)) AS __sum_len",
        "size(filter(__toks, x -> x RLIKE '[A-Za-z]')) AS __alpha_words",
        "char_length(__t) - char_length(replace(__t, '#', '')) AS __hashes",
        "char_length(__t) - char_length(replace(__t, '…', ''))"
        " + (char_length(__t) - char_length(replace(__t, '...', ''))) DIV 3 AS __ellipses",
        "size(__lines) AS __n_lines",
        "size(filter(__lines, l -> array_contains(array('-', '•', '*'),"
        " substring(ltrim(l), 1, 1)))) AS __bullet_lines",
        "size(filter(__lines, l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…'))"
        " AS __ellipsis_lines",
        f"size(filter({stop}, s -> exists(__toks, x -> lower(x) = s))) AS stopword_hits",
    )
    return stats.selectExpr(
        "doc_id",
        "n_words",
        "(2*__sum_len*1000000 + n_words) DIV (2*n_words) AS __m_mwl",
        "(2*__hashes*1000000 + n_words) DIV (2*n_words) AS __m_hash",
        "(2*__ellipses*1000000 + n_words) DIV (2*n_words) AS __m_edots",
        "(2*__bullet_lines*1000000 + __n_lines) DIV (2*__n_lines) AS __m_bullet",
        "(2*__ellipsis_lines*1000000 + __n_lines) DIV (2*__n_lines) AS __m_ell",
        "(2*__alpha_words*1000000 + n_words) DIV (2*n_words) AS __m_alpha",
        "stopword_hits",
    ).selectExpr(
        "doc_id",
        "CAST(n_words AS BIGINT) AS n_words",
        "CAST(__m_mwl AS DOUBLE) / 1000000.0 AS mean_word_len",
        "CAST(__m_hash AS DOUBLE) / 1000000.0 AS hash_word_ratio",
        "CAST(__m_edots AS DOUBLE) / 1000000.0 AS ellipsis_word_ratio",
        "CAST(__m_bullet AS DOUBLE) / 1000000.0 AS bullet_line_frac",
        "CAST(__m_ell AS DOUBLE) / 1000000.0 AS ellipsis_line_frac",
        "CAST(__m_alpha AS DOUBLE) / 1000000.0 AS alpha_word_frac",
        "CAST(stopword_hits AS BIGINT) AS stopword_hits",
        "(n_words BETWEEN 50 AND 100000 AND __m_mwl BETWEEN 3000000 AND 10000000"
        " AND __m_hash <= 100000 AND __m_edots <= 100000"
        " AND __m_bullet <= 900000 AND __m_ell <= 300000"
        " AND __m_alpha >= 800000 AND stopword_hits >= 2) AS quality_pass",
    )


def c4_line_filter(df, text_col: str, id_col: str):
    """C4 line-level cleaning (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning…" §2.2): keep only lines that end in
    a terminal punctuation mark (``. ! ? "``), contain at least five
    words, and do not contain the word "javascript"; drop whole
    documents that mention "lorem ipsum" or contain a curly brace;
    require at least three retained lines (the line-level proxy for
    C4's >= 3 sentences — documented deviation: we count retained
    LINES, not parsed sentences).

    Emits ``(doc_id, clean_text, n_lines, kept_lines, dropped_lines,
    has_lorem, has_brace, c4_keep)`` for every non-null document —
    including ones where nothing survives (``clean_text = ''``), so
    the output doubles as an audit table.

    Contracts: line ends are ``\\n``; per-line edge-trim uses an
    explicit ``[ \\t\\f\\r\\x0B]`` class via regexp_replace (plain
    ``trim`` strips only 0x20 and would leave CRLF carriage returns
    to defeat the terminal-punctuation test); the word count uses the
    dup-span tokenization contract; "javascript" / "lorem ipsum"
    matching is lowercased substring containment.

    Engine shape at 100 TB: one narrow in-row projection — split,
    per-line lambda filter, array_join — with NO shuffle and no
    corpus-wide key; scales embarrassingly (same HOF-interpreted
    caveat as :func:`quality_profile`).
    """
    edge = r"'^[ \\t\\f\\r\\x0B]+|[ \\t\\f\\r\\x0B]+$'"
    ws = r"'[ \\t\\x0B\\f\\r]+'"
    keep_l = (
        f"size(filter(split(l, {ws}), x -> x != '')) >= 5"
        " AND right(l, 1) IN ('.', '!', '?', '\"')"
        " AND NOT contains(lower(l), 'javascript')"
    )
    base = df.where(f"{text_col} IS NOT NULL").selectExpr(
        f"{id_col} AS doc_id",
        f"{text_col} AS __t",
        rf"transform(split({text_col}, '\\n'), l -> regexp_replace(l, {edge}, '')) AS __lines",
    )
    # stage the kept array in its OWN projection: the keep predicate
    # is a lambda expression, outside Spark's common-subexpression
    # elimination, so inlining it four times would re-split and
    # re-test every line 4x per document; CollapseProject keeps the
    # boundary because the alias is expensive and multi-referenced
    # (the same staging discipline as minhash's shingled()).
    staged = base.selectExpr(
        "doc_id",
        "__t",
        "size(__lines) AS __n_lines",
        f"filter(__lines, l -> {keep_l}) AS __kept",
    )
    return staged.selectExpr(
        "doc_id",
        "array_join(__kept, '\\n') AS clean_text",
        "CAST(__n_lines AS BIGINT) AS n_lines",
        "CAST(size(__kept) AS BIGINT) AS kept_lines",
        "CAST(__n_lines - size(__kept) AS BIGINT) AS dropped_lines",
        "contains(lower(__t), 'lorem ipsum') AS has_lorem",
        "contains(__t, '{') AS has_brace",
        "(size(__kept) >= 3"
        " AND NOT contains(lower(__t), 'lorem ipsum')"
        " AND NOT contains(__t, '{')) AS c4_keep",
    )


def bucket_by_cutoffs(
    scored,
    score_col: str,
    part_col: str,
    *,
    n_buckets: int = 3,
    accuracy: int = 10000,
):
    """The 100 TB form of the CCNet bucket step (Wenzek et al. 2020
    §4.4): instead of an exact per-language ``ntile`` — which at scale
    is a range-partitioned GLOBAL SORT of every language's scores —
    compute the ``n_buckets - 1`` per-language cutoffs with
    ``approx_percentile`` (one aggregate over a bounded key space:
    languages × a KB-sized quantile sketch each), broadcast the tiny
    cutoff table back, and assign buckets with ONE in-row expression:
    ``1 + count(cutoffs < score)``. Two corpus passes, zero sorts, no
    per-language hot partition.

    Emits the input columns plus ``ppl_bucket``.

    Accuracy/agreement contract (measured, tests/test_pipeline.py): at
    the default ``accuracy=10000`` the Greenwald-Khanna sketch places
    each cutoff within rank error n/10000, so bucket assignment can
    disagree with the exact ntile only for docs whose rank sits within
    ~0.01% of a boundary (plus boundary TIES, which ntile splits by
    doc_id but a value cutoff sends one way) — measured agreement at
    sf0.1 is >= 99%. Unlike the exact form, the sketch merge is not
    partition-order canonical, so this twin is registered rows-only
    (no value-hash oracle) BY DESIGN; the exact ntile twin
    (``ccnet_perplexity_buckets``) carries the oracle proof of the
    shared scoring pipeline.
    """
    qs = ", ".join(str((i + 1)) + f"/{n_buckets}" for i in range(n_buckets - 1))
    cuts = scored.groupBy(part_col).agg(
        F.expr(
            f"approx_percentile({score_col}, array({qs}), {accuracy}) AS __cuts"
        )
    ).withColumnRenamed(part_col, "__part")
    out_cols = [c for c in scored.columns]
    # NULL-SAFE join back: groupBy emits a cutoff row for the NULL
    # partition, and the exact ntile twin buckets NULL-lang docs as
    # their own partition — a plain equi-join would silently drop
    # every NULL-partition row from the output domain
    return (
        scored.join(
            F.broadcast(cuts), F.col(part_col).eqNullSafe(F.col("__part"))
        )
        .selectExpr(
            *out_cols,
            f"CAST(1 + size(filter(__cuts, c -> {score_col} > c)) AS INT)"
            " AS ppl_bucket",
        )
    )


def gate_flags(df, text_col: str, id_col: str, *, extra_cols: dict[str, str] | None = None):
    """The three IN-ROW pipeline gates — C4 line rules
    (:func:`c4_line_filter`), Gopher quality (:func:`quality_profile`),
    encoding-damage screen (:func:`control_char_profile`) — fused into
    ONE projection chain over a single corpus scan, emitting
    ``(doc_id, c4_keep, quality_pass, encoding_pass)``.

    Value contract (pinned by ``tests/test_pipeline.py``): each flag is
    IDENTICAL to the corresponding profile function's verdict column,
    with the profile functions' row-domain filters folded in as FALSE —
    ``quality_profile`` drops zero-token docs and
    ``control_char_profile`` drops empty docs, which the capstone
    COALESCEd to FALSE; here the same docs get FALSE in-row (the guard
    also keeps ANSI happy: the micro-fraction ``DIV`` terms sit in the
    lazily-evaluated ELSE of a CASE, so no divide-by-zero is reachable).
    A token implies a non-blank line under the shared whitespace class,
    so ``n_words >= 1`` guarantees the line-fraction denominators too.

    Why this exists: the end-to-end cleaning pipeline previously
    materialized each gate as its own branch and equi-joined them back
    on doc_id — three corpus-wide shuffle joins and three extra corpus
    scans for columns that are pure per-row functions of the text. At
    100 TB those joins dominate the plan; fused, the gates cost ZERO
    shuffles and ride whatever scan the caller already pays.

    ``extra_cols`` (alias → SQL expr over the RAW input row) lets the
    caller ride additional in-row columns on the same scan — the
    capstone passes ``{"__dig": "md5(text)"}`` so the exact-dup digest
    shares the projection instead of re-scanning the corpus.

    Expression provenance: the staged expressions are copied verbatim
    from the three profile functions (same whitespace/blank/edge
    classes, same integer half-up micro rule, same thresholds); the
    equality test makes any future one-sided edit fail CI.
    """
    ws = r"'[ \\t\\n\\x0B\\f\\r]+'"
    blank = r"'^[ \\t\\n\\x0B\\f\\r]*$'"
    edge = r"'^[ \\t\\f\\r\\x0B]+|[ \\t\\f\\r\\x0B]+$'"
    c4_ws = r"'[ \\t\\x0B\\f\\r]+'"
    stop = "array('the','be','to','of','and','that','have','with')"
    keep_l = (
        f"size(filter(split(l, {c4_ws}), x -> x != '')) >= 5"
        " AND right(l, 1) IN ('.', '!', '?', '\"')"
        " AND NOT contains(lower(l), 'javascript')"
    )
    extras = dict(extra_cols or {})
    stage1 = df.where(f"{text_col} IS NOT NULL").selectExpr(
        f"{id_col} AS doc_id",
        f"{text_col} AS __t",
        rf"filter(split({text_col}, {ws}), x -> x != '') AS __toks",
        rf"filter(split({text_col}, '\\n'), l -> NOT l RLIKE {blank}) AS __qlines",
        rf"filter(transform(split({text_col}, '\\n'),"
        rf" l -> regexp_replace(l, {edge}, '')), l -> {keep_l}) AS __kept",
        *[f"{expr} AS {alias}" for alias, expr in extras.items()],
    )
    stats = stage1.selectExpr(
        "doc_id",
        # --- C4 document-level components
        "size(__kept) AS __c4_kept",
        "contains(lower(__t), 'lorem ipsum') AS __has_lorem",
        "contains(__t, '{') AS __has_brace",
        # --- Gopher quality stats (verbatim from quality_profile)
        "size(__toks) AS __n_words",
        "aggregate(__toks, 0L, (a, x) -> a + char_length(x)) AS __sum_len",
        "size(filter(__toks, x -> x RLIKE '[A-Za-z]')) AS __alpha_words",
        "char_length(__t) - char_length(replace(__t, '#', '')) AS __hashes",
        "char_length(__t) - char_length(replace(__t, '…', ''))"
        " + (char_length(__t) - char_length(replace(__t, '...', ''))) DIV 3 AS __ellipses",
        "size(__qlines) AS __n_lines",
        "size(filter(__qlines, l -> array_contains(array('-', '•', '*'),"
        " substring(ltrim(l), 1, 1)))) AS __bullet_lines",
        "size(filter(__qlines, l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…'))"
        " AS __ellipsis_lines",
        f"size(filter({stop}, s -> exists(__toks, x -> lower(x) = s))) AS __stop_hits",
        # --- encoding screen counts (verbatim from control_char_profile)
        "char_length(__t) AS __n_chars",
        "char_length(__t) - char_length(replace(__t, '�', '')) AS __rep_chars",
        "char_length(__t) - char_length(regexp_replace(__t,"
        r" '[\\x00-\\x08\\x0E-\\x1F\\x7F]', '')) AS __ctrl_chars",
        *extras.keys(),
    )
    return stats.selectExpr(
        "doc_id",
        "(__c4_kept >= 3 AND NOT __has_lorem AND NOT __has_brace) AS c4_keep",
        "CASE WHEN __n_words < 1 THEN FALSE ELSE ("
        " __n_words BETWEEN 50 AND 100000"
        " AND (2*__sum_len*1000000 + __n_words) DIV (2*__n_words)"
        "   BETWEEN 3000000 AND 10000000"
        " AND (2*__hashes*1000000 + __n_words) DIV (2*__n_words) <= 100000"
        " AND (2*__ellipses*1000000 + __n_words) DIV (2*__n_words) <= 100000"
        " AND (2*__bullet_lines*1000000 + __n_lines) DIV (2*__n_lines) <= 900000"
        " AND (2*__ellipsis_lines*1000000 + __n_lines) DIV (2*__n_lines) <= 300000"
        " AND (2*__alpha_words*1000000 + __n_words) DIV (2*__n_words) >= 800000"
        " AND __stop_hits >= 2"
        ") END AS quality_pass",
        "CASE WHEN __n_chars < 1 THEN FALSE ELSE ("
        " __rep_chars = 0 AND"
        " (2*(__rep_chars + __ctrl_chars)*1000000 + __n_chars) DIV (2*__n_chars) <= 1000"
        ") END AS encoding_pass",
        *extras.keys(),
    )


def dsir_importance_scores(df, text_col: str, id_col: str, *, target_sql: str = "lang = 'en'",
                           n_buckets: int = 1024):
    """Data Selection via Importance Resampling (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    score every document by the log importance weight
    ``sum_w ln(p_target(b(w)) / p_raw(b(w)))`` over hashed unigram
    buckets, where the target distribution is fit on the subset
    matching ``target_sql`` (default ``lang = 'en'``) and the raw
    distribution on the whole corpus. High scores = documents that
    look like the target domain; resampling by these weights is the
    published recipe for domain-matched pretraining selection.

    Emits ``(doc_id, n_tokens, dsir_nanonats)`` — the raw INTEGER
    nanonat sum rather than a mean, so no division ever happens on a
    possibly-negative quantity (Spark's ``DIV`` truncates toward
    zero while DuckDB's ``//`` floors, so negative integer division
    is NOT engine-portable; a sum of per-bucket integers is).

    Cross-engine determinism contract (the char-LM rule): both
    bucket probabilities are add-½ smoothed; each bucket's log-ratio
    is quantized ONCE to integer nanonats ``floor(x*1e9 + 0.5)``
    driver-side with ``math.log`` — glibc's libm, the same ``ln``
    the DuckDB oracle calls — with the IEEE op order mirrored
    exactly (two correctly-rounded divisions, one division, ln); the
    per-doc reduction is a pure integer sum, order-independent.

    Engine shape at 100 TB: the "fit" is one corpus pass groupBy on
    a BOUNDED key space (``n_buckets`` rows — the hashed feature
    table is KBs no matter the corpus size) collected and quantized
    driver-side, broadcast back as a ``(bucket, q)`` scoring table;
    the scoring pass hash-joins the broadcast and shuffles only
    per-doc partial integer (sum, count) pairs. Two corpus passes
    total, no transcendental math on executors. Buckets are
    md5-derived (first 3 hex nibbles mod ``n_buckets``) so the
    feature hash is stable across engines, runs, and partitionings.
    """
    import math

    from ..sources.tables import spread

    ws = r"'[ \\t\\n\\x0B\\f\\r]+'"
    base = spread(
        df.where(f"{text_col} IS NOT NULL").selectExpr(
            f"{id_col} AS doc_id",
            f"({target_sql}) AS __is_target",
            rf"filter(split(lower({text_col}), {ws}), x -> x != '') AS __toks",
        ).where("size(__toks) >= 1"),
        min_bytes=0,
    )
    tok = base.selectExpr(
        "doc_id",
        "__is_target",
        "explode(__toks) AS w",
    ).selectExpr(
        "doc_id",
        "__is_target",
        f"CAST(conv(substring(md5(w), 1, 3), 16, 10) AS INT) % {n_buckets} AS b",
    )
    # fit and score both consume the hashed token stream — persist the
    # NARROW (doc_id, bool, int) form so the expensive part (split +
    # explode + one md5 per token) runs once per build, not twice
    # (measured 1.85 s → 1.1 s at 50k docs). Same per-build
    # unpersist-predecessor discipline as the char-LM cache: a REBUILD
    # (the fit runs a job, so the registry rebuilds per plan() call)
    # must never silently serve the previous run's blocks via
    # CacheManager plan-equality matching.
    from pyspark import StorageLevel

    per = session_slot(tok.sparkSession, "dsir")
    prev = per.pop("tok", None)
    if prev is not None:
        try:
            prev.unpersist(blocking=True)
        except Exception:
            pass
    tok = tok.persist(StorageLevel.MEMORY_AND_DISK)
    per["tok"] = tok
    # FIT: one corpus pass over a bounded key space; the model comes
    # to the driver (<= n_buckets rows — small-by-contract) where the
    # log-ratios are quantized with glibc ln and sent back broadcast
    bc = tok.groupBy("b").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(F.expr("IF(__is_target, 1, 0)")).alias("ct"),
    )
    rows = bc.collect()
    tr = float(sum(r["cr"] for r in rows))
    tt = float(sum(r["ct"] for r in rows))
    half_b = 0.5 * float(n_buckets)
    q_rows = [
        (
            int(r["b"]),
            math.floor(
                math.log(
                    ((float(r["ct"]) + 0.5) / (tt + half_b))
                    / ((float(r["cr"]) + 0.5) / (tr + half_b))
                )
                * 1000000000.0
                + 0.5
            ),
        )
        for r in rows
    ]
    model = F.broadcast(df.sparkSession.createDataFrame(q_rows, "b int, q bigint"))
    # SCORE: broadcast hash join + per-doc integer sum — the shuffle
    # carries (doc_id, partial sum, partial count) only
    return (
        tok.join(model, "b")
        .groupBy("doc_id")
        .agg(
            F.expr("COUNT(1) AS n_tokens"),
            F.expr("CAST(SUM(q) AS BIGINT) AS dsir_nanonats"),
        )
    )


def control_char_profile(df, text_col: str, id_col: str):
    """Encoding-damage screen (the Dolma/RedPajama "mojibake" rule):
    per document, counts of U+FFFD replacement characters (the
    tombstone a lossy decode leaves behind) and of non-whitespace C0
    control characters plus DEL (``[\\x00-\\x08\\x0E-\\x1F\\x7F]`` —
    deliberately EXCLUDING tab/newline/VT/FF/CR, which the corpus
    whitespace contract owns), the combined per-char fraction, and a
    keep verdict (no replacement chars, damage fraction <= 0.1%).

    Counting is replace/regexp_replace length deltas — one narrow
    in-row projection, no shuffle, no explode. The U+FFFD literal is
    embedded as the raw character (not an escape) so both engines'
    parsers see the identical codepoint; the control class uses
    two-digit ``\\xNN`` escapes, valid in both Java regex and RE2.
    Fractions follow the integer half-up micro rule.
    """
    rep = "�"
    ctrl = r"'[\\x00-\\x08\\x0E-\\x1F\\x7F]'"
    base = df.where(f"{text_col} IS NOT NULL AND char_length({text_col}) >= 1").selectExpr(
        f"{id_col} AS doc_id",
        f"char_length({text_col}) AS n_chars",
        f"char_length({text_col}) - char_length(replace({text_col}, '{rep}', ''))"
        " AS replacement_chars",
        f"char_length({text_col}) - char_length(regexp_replace({text_col}, {ctrl}, ''))"
        " AS control_chars",
    )
    return base.selectExpr(
        "doc_id",
        "CAST(n_chars AS BIGINT) AS n_chars",
        "CAST(replacement_chars AS BIGINT) AS replacement_chars",
        "CAST(control_chars AS BIGINT) AS control_chars",
        "CAST((2*(replacement_chars + control_chars)*1000000 + n_chars) DIV (2*n_chars)"
        " AS DOUBLE) / 1000000.0 AS damage_frac",
        "(replacement_chars = 0 AND"
        " (2*(replacement_chars + control_chars)*1000000 + n_chars) DIV (2*n_chars) <= 1000)"
        " AS encoding_pass",
    )


def langid_trigram(df, text_col: str, lang_col: str, id_col: str, *, top_m: int = 40):
    """Character-trigram language ID (Cavnar & Trenkle 1994, the
    n-gram profile method), fit and applied in one plan — the real
    langid companion to the lang_guess stopword heuristic above.

    Fit: per language, the ``top_m`` most frequent trigrams of the
    normalized text (lowercased, whitespace collapsed to one space),
    ties broken on the trigram string so the profile is deterministic.
    Classify: each document's DISTINCT trigrams are intersected with
    every profile; the language with the most hits wins (ties break
    on the language string). Docs shorter than 3 normalized chars are
    excluded from both fit and scoring and come back with NULL
    prediction / 0 hits.

    Output: (id, lang, predicted_lang, hits, correct) — correct is a
    null-safe equality so unscorable docs read false, not NULL.

    100 TB shape: the profile is langs x top_m rows — broadcast; the
    trigram explode is in-row; hits aggregate on (doc, lang) is
    bounded by langs per doc with map-side combine; the per-doc
    argmax window partitions on the doc id (no hot key). The fit's
    (lang, trigram) aggregate has a bounded key domain (charset³ per
    language — the same bound the char-LM fit relies on).
    """
    from pyspark.sql import Window

    # EXPLICIT whitespace class, never \s: Java \s matches U+000B,
    # RE2's (DuckDB) does not — the r7 dup-span lesson, same spelling
    # as char_trigram_lm_scores / repetition_profile above
    norm = F.lower(
        F.regexp_replace(F.trim(F.col(text_col)), "[ \\t\\n\\x0B\\f\\r]+", " ")
    )
    base = df.select(
        F.col(id_col).alias("__id"), F.col(lang_col).alias("lang"), norm.alias("__norm")
    )
    scorable = base.where(F.col("__norm").isNotNull() & (F.length("__norm") >= 3))
    tris = scorable.select(
        "__id",
        "lang",
        F.explode(
            F.expr("transform(sequence(1, length(__norm) - 2), i -> substring(__norm, i, 3))")
        ).alias("tg"),
    )
    profile = (
        tris.groupBy(F.col("lang").alias("predicted_lang"), "tg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("__rn", F.row_number().over(
            Window.partitionBy("predicted_lang").orderBy(F.desc("cnt"), F.asc("tg"))
        ))
        .where(F.col("__rn") <= top_m)
        .select("predicted_lang", "tg")
    )
    hits = (
        tris.select("__id", "tg").distinct()
        .join(F.broadcast(profile), "tg")
        .groupBy("__id", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("hits"))
    )
    best = (
        hits.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy("__id").orderBy(F.desc("hits"), F.asc("predicted_lang"))
            ),
        )
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    return (
        base.select("__id", "lang")
        .join(best, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "lang",
            "predicted_lang",
            F.coalesce(F.col("hits"), F.lit(0)).cast("bigint").alias("hits"),
            F.col("lang").eqNullSafe(F.col("predicted_lang")).alias("correct"),
        )
    )
