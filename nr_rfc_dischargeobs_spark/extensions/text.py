"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting (SURVEY.md §2.10).

Everything is a generated expression over ``split``/``regexp``/array lambdas
— JVM-side, whole-stage codegen, no Python.  Ratios divide exact integer
counts, so scores are engine-portable doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import pin

# marker stopwords per language for the n-gram/stopword-hit heuristic;
# deliberately tiny — the operator shape (score → argmax) is the point,
# swap in real frequency tables for production corpora.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ist"),
    "en": ("the", "a", "of", "and", "is", "to"),
    "es": ("el", "la", "los", "de", "y", "es"),
    "fr": ("le", "la", "les", "et", "est", "de"),
    "zh": ("的", "是", "了", "在", "我", "不"),
}


def _tokens(text: Column) -> Column:
    return F.split(F.lower(text), " ")


def n_words_expr(text: Column) -> Column:
    """THE canonical ``n_words`` formula — ``size(split(lower(text), ' '))``
    with empty tokens INCLUDED (so ``''`` counts 1, ``'a  b'`` counts 3),
    exactly what :func:`gopher_rules` emits (its ``F.size(words)`` over the
    staged ``_tokens`` array is this same expression).  Every consumer that
    RECOMPUTES ``n_words`` downstream (the compaction sweeps rewriting
    landed text) must use this helper so stream-produced and recomputed
    values agree on identical text."""
    return F.size(_tokens(text)).cast("long")


def marker_hits_tokens(toks: Column, markers: tuple[str, ...]) -> Column:
    """How many tokens (with multiplicity) are in the marker set — an
    IN-list filter, ~2× cheaper than the per-token arrays_overlap
    formulation it replaces (no array allocation per element)."""
    return F.size(F.filter(toks, lambda w: w.isin(*markers)))


def marker_hits(text: Column, markers: tuple[str, ...]) -> Column:
    """:func:`marker_hits_tokens` over freshly split text.  Callers scoring
    several marker sets should split once and use the tokens variant."""
    return marker_hits_tokens(_tokens(text), markers)


def lang_id(
    docs: DataFrame, text: str = "text", doc_id: str = "doc_id"
) -> DataFrame:
    """Language-ID heuristic: stopword-hit score per language, argmax with
    deterministic alphabetical tie-break (ties → first language code).

    Cost profile (measured at 1M×60-token docs): scan-local and
    shuffle-free — at fleet scale it parallelizes embarrassingly.  The
    score columns are STAGED in their own projection before the
    argmax/tie-break chain consumes them: HOFs are CodegenFallback with
    no common-subexpression elimination, so an inlined spelling
    re-evaluates each language's IN-list filter once per downstream
    reference (the greatest + 5 whens + output = ~7×, measured ~35 s/1M
    before staging); CollapseProject keeps the staged shape because the
    scores are non-cheap and multiply-referenced, and the whole op runs
    3.3 s/1M warm (6.3 s cold — one-time codegen/JIT)."""
    scored = docs.withColumn("__toks", _tokens(F.col(text))).select(
        F.col(doc_id),
        F.col(text),
        *[
            marker_hits_tokens(
                F.col("__toks"), LANG_MARKERS[lang]
            ).alias(f"s_{lang}")
            for lang in sorted(LANG_MARKERS)
        ],
    )
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"s_{lang}") for lang in langs])
    pred = F.lit(None).cast("string")
    # reversed so the FIRST language alphabetically wins ties
    for lang in reversed(langs):
        pred = F.when(F.col(f"s_{lang}") == best, F.lit(lang)).otherwise(pred)
    return scored.select(
        doc_id,
        *[f"s_{lang}" for lang in langs],
        F.when(best > 0, pred).otherwise(F.lit("und")).alias("predicted"),
    )


def quality_scores(
    docs: DataFrame, text: str = "text", doc_id: str = "doc_id"
) -> DataFrame:
    """Quality features: word/char counts, uniqueness ratio, mean word
    length, punctuation count, stopword ratio — the standard pre-training
    filter signals, all exact-count based."""
    toks = _tokens(F.col(text))
    n_words = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_chars = F.length(F.col(text))
    n_punct = F.length(
        F.regexp_replace(F.col(text), r"[^.,;:!?'\"()-]", "")
    )
    stop_hits = marker_hits(F.col(text), LANG_MARKERS["en"])
    return docs.select(
        F.col(doc_id),
        n_words.cast("long").alias("n_words"),
        n_distinct.alias("n_distinct"),
        (n_distinct.cast("double") / n_words).alias("uniq_ratio"),
        ((n_chars - n_words + 1).cast("double") / n_words).alias(
            "mean_word_len"
        ),
        n_punct.alias("n_punct"),
        (stop_hits.cast("double") / n_words).alias("stopword_ratio"),
    )


def token_counts(
    docs: DataFrame, text: str = "text", doc_id: str = "doc_id"
) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (letter runs / digit runs / single other-glyphs) — the usual quick
    estimate of LLM token cost."""
    ws = F.size(F.split(F.col(text), r"\s+"))
    bpe_ish = F.size(
        F.regexp_extract_all(
            F.col(text), F.lit("([A-Za-z]+|[0-9]+|[^A-Za-z0-9 ])"), 0
        )
    )
    return docs.select(
        F.col(doc_id),
        ws.alias("ws_tokens"),
        bpe_ish.alias("re_tokens"),
        F.length(F.col(text)).alias("n_chars"),
    )


def ngram_stats(
    docs: DataFrame,
    n: int = 2,
    top: int = 20,
    text: str = "text",
    doc_id: str = "doc_id",
) -> DataFrame:
    """Corpus-level top-k n-gram frequencies (all occurrences, not
    per-doc-distinct) with a deterministic (count desc, ngram asc) order.

    explode → groupBy → TakeOrdered: the count shuffle moves one row per
    distinct n-gram per map partition (partial aggregation), and the top-k
    is computed per-partition then merged on the driver — no global sort of
    the full n-gram distribution.
    """
    toks = docs.select(_tokens(F.col(text)).alias("__toks")).filter(
        F.size("__toks") >= n
    )
    idx = ", ".join(f"get(__toks, i + {k})" for k in range(n))
    grams = toks.select(
        F.explode(
            F.expr(
                f"transform(sequence(0, size(__toks) - {n}),"
                f" i -> concat_ws(' ', {idx}))"
            )
        ).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("ngram").asc())
        .limit(top)
    )


def facet_stats(
    docs: DataFrame,
    facets: tuple[str, ...] = ("lang", "source"),
    text: str = "text",
) -> DataFrame:
    """Corpus facet aggregation (language × source): doc counts, char
    totals, exact mean token count — the dataset-card rollup.  Facet
    cardinality is tiny, so map-side combine collapses the scan to a few
    rows per task before the shuffle."""
    n_words = F.size(_tokens(F.col(text)))
    return docs.groupBy(*[F.col(f) for f in facets]).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length(F.col(text))).alias("total_chars"),
        (
            F.sum(n_words.cast("long")).cast("double") / F.count(F.lit(1))
        ).alias("avg_tokens"),
    )


def length_profile(
    docs: DataFrame,
    facet: str = "source",
    length_col: str = "n_chars",
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-facet document-length distribution: exact interpolated
    percentiles + count — the dataset-card length histogram.

    Exact ``percentile`` (sort-based, linear interpolation — matches any
    engine bit-for-bit) is the verification path; at fleet scale swap in
    ``percentile_approx`` per facet and keep this as the audit query.
    """
    x = F.col(length_col).cast("double")
    return docs.groupBy(facet).agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[
            F.percentile(x, F.lit(q)).alias(f"p{int(q * 100)}")
            for q in quantiles
        ],
    )


def fingerprint(
    docs: DataFrame,
    text: str = "text",
    doc_id: str = "doc_id",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    r"""Normalized content fingerprint: lowercase, collapse whitespace, strip
    punctuation, md5 — robust to formatting-only edits (the md5-of-normalized
    stand-in for a rolling content hash).

    Normalization keeps UNICODE letters and digits (``\p{L}\p{N}`` —
    identical semantics in Java regex and RE2): the earlier
    ``[^a-z0-9]`` spelling stripped every non-ASCII character, so ALL
    documents in a non-Latin script (zh/ja/ar/…) collapsed onto
    ``md5('')`` and the fingerprint-dedup consumers silently kept one
    document per script — corpus-wide data loss, caught in review."""
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.col(text)), r"[^\p{L}\p{N}\s]", ""),
        r"\s+",
        " ",
    )
    return docs.select(
        F.col(doc_id),
        *[F.col(c) for c in passthrough],
        F.md5(F.trim(norm)).alias("fingerprint"),
    )


def gopher_rules(
    docs: DataFrame,
    text: str = "text",
    doc_id: str = "doc_id",
    min_words: int = 5,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher-style quality gates (Rae et al. 2021, §A1.1 — the public
    heuristic battery every curation pipeline starts from): word-count
    bounds, mean-word-length bounds, symbol-to-word ratio, ellipsis-line
    fraction, alphabetic-word fraction, stopword presence.  One boolean
    flag per rule plus the conjunction, all from generated expressions —
    scan-fused, no shuffle, no Python.

    Thresholds are parameters (the paper's 50-word floor is sized for web
    pages; the default here is lower so tiny test corpora exercise both
    branches).  Ratios divide exact integer counts.
    """
    # materialize the token and line arrays ONCE: six flags consume them,
    # and re-splitting per flag multiplies the dominant cost (measured ~6x
    # at 1M docs — split is the expensive expression here, not the ratios)
    staged = docs.withColumns(
        {
            "__toks": _tokens(F.col(text)),
            "__lines": F.split(F.col(text), r"\n"),
        }
    )
    t = F.col(text)
    words = F.col("__toks")
    # == n_words_expr(t) — staged array reused; keep the two in lockstep
    n_words = F.size(words)
    # total non-whitespace glyphs / word count == mean word length
    mean_wl = (
        F.length(F.regexp_replace(t, r"\s", "")).cast("double") / n_words
    )
    n_hash = F.length(t) - F.length(F.regexp_replace(t, r"#", ""))
    n_ellipsis = (
        F.length(t) - F.length(F.regexp_replace(t, r"\.\.\.", ""))
    ) / 3
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / n_words
    lines = F.col("__lines")
    n_lines = F.size(lines)
    ellipsis_lines = F.size(
        F.filter(lines, lambda ln: ln.endswith("..."))
    )
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    stop_hits = marker_hits_tokens(words, LANG_MARKERS["en"])
    flags = {
        "ok_word_count": (n_words >= min_words) & (n_words <= max_words),
        "ok_mean_word_len": (mean_wl >= min_mean_word_len)
        & (mean_wl <= max_mean_word_len),
        "ok_symbol_ratio": symbol_ratio < max_symbol_ratio,
        "ok_ellipsis_lines": (
            ellipsis_lines.cast("double") / n_lines
        )
        < max_ellipsis_line_frac,
        "ok_alpha_words": (alpha_words.cast("double") / n_words)
        >= min_alpha_word_frac,
        "ok_stopwords": stop_hits >= min_stopword_hits,
    }
    passed = None
    for c in flags.values():
        passed = c if passed is None else (passed & c)
    return staged.select(
        F.col(doc_id),
        *[F.col(c) for c in passthrough],
        n_words.cast("long").alias("n_words"),
        *[c.alias(name) for name, c in flags.items()],
        passed.alias("gopher_pass"),
    )


def repetition_stats(
    docs: DataFrame,
    n: int = 2,
    text: str = "text",
    doc_id: str = "doc_id",
) -> DataFrame:
    """Within-document repetition screen (the duplicate-text family of
    Gopher rules): the fraction of all word n-gram occurrences taken by the
    single most frequent n-gram, plus the duplicate-line fraction.
    Boilerplate and template spam score high; prose scores low.

    Shape: explode all n-gram occurrences → two-level aggregate keyed by
    (doc_id, gram) then doc_id — both shuffles carry partially-combined
    counts, and per-key state is bounded by a single document's vocabulary,
    so the plan is skew-safe at corpus scale.

    Measured alternative, rejected: a zero-shuffle formulation (array_sort
    the grams per row, longest equal-run via an ``aggregate`` fold) runs
    51 s vs this plan's 14 s at 1M docs — Spark evaluates higher-order
    folds interpreted, one struct allocation per element, which swamps the
    shuffle it saves.  If HOF codegen lands upstream, re-measure.
    """
    toks = docs.select(
        F.col(doc_id), _tokens(F.col(text)).alias("__toks")
    ).filter(F.size("__toks") >= n)
    idx = ", ".join(f"get(__toks, i + {k})" for k in range(n))
    grams = toks.select(
        F.col(doc_id),
        F.explode(
            F.expr(
                f"transform(sequence(0, size(__toks) - {n}),"
                f" i -> concat_ws(' ', {idx}))"
            )
        ).alias("gram"),
    )
    per_gram = grams.groupBy(doc_id, "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    rep = per_gram.groupBy(doc_id).agg(
        F.sum("cnt").alias("n_grams"),
        F.max("cnt").alias("top_gram_n"),
        (F.max("cnt").cast("double") / F.sum("cnt")).alias("top_gram_frac"),
    )
    lines = docs.select(
        F.col(doc_id), F.split(F.col(text), r"\n").alias("__lines")
    ).select(
        F.col(doc_id),
        F.size("__lines").cast("long").alias("n_lines"),
        F.size(F.array_distinct(F.col("__lines"))).alias("n_distinct_lines"),
    )
    return rep.join(lines, doc_id, "inner").select(
        F.col(doc_id),
        "n_grams",
        "top_gram_n",
        "top_gram_frac",
        "n_lines",
        (
            (F.col("n_lines") - F.col("n_distinct_lines")).cast("double")
            / F.col("n_lines")
        ).alias("dup_line_frac"),
    )


# PII patterns — Java-regex and RE2-compatible (no lookaround), so the same
# pattern string runs verbatim in Spark and in the DuckDB oracle.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    "phone": (r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "[PHONE]"),
    "ip": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
}


def pii_scrub(
    docs: DataFrame,
    text: str = "text",
    doc_id: str = "doc_id",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """PII detection + redaction (the scrub stage of every corpus release):
    per-doc match counts for each pattern class and the redacted text.

    Counts are taken BEFORE any replacement and patterns are applied in a
    fixed order (email → phone → ip) so overlapping matches resolve
    identically everywhere.  Pure ``regexp_count``/``regexp_replace`` —
    scan-fused, no shuffle, no Python; at 100 TB this runs at scan
    bandwidth like every other row-local text op.
    """
    t = F.col(text)
    counts = [
        F.regexp_count(t, F.lit(pat)).cast("long").alias(f"n_{name}")
        for name, (pat, _) in PII_PATTERNS.items()
    ]
    clean = t
    for _, (pat, tag) in PII_PATTERNS.items():
        clean = F.regexp_replace(clean, pat, tag)
    return docs.select(
        F.col(doc_id),
        *[F.col(c) for c in passthrough],
        *counts,
        clean.alias("clean_text"),
    )


def chunk_windows(
    docs: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 32,
    text: str = "text",
    doc_id: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunking — the RAG/embedding ingestion
    shape: every document becomes ceil(max(n-c,0)/s)+1 windows of
    ``chunk_tokens`` tokens advancing by ``stride``.

    One projection + explode, no shuffle: chunk boundaries are row-local
    arithmetic, so the operator runs at scan bandwidth and parallelizes
    with the corpus.  A short doc yields exactly one (possibly partial)
    chunk, never zero — downstream joins keep every document.  NULL text
    is coalesced to '' first (one empty chunk) so the never-zero contract
    holds for it too, instead of NULL propagating through the split and
    the explode silently dropping the document.
    """
    c, s = chunk_tokens, stride
    toks = docs.select(
        F.col(doc_id),
        F.split(F.coalesce(F.col(text), F.lit("")), r"\s+").alias("__toks"),
    )
    n = F.size("__toks")
    # ONE definition of the last chunk index; the n_chunks output and the
    # sequence bound both derive from it, so they cannot desynchronize
    last_idx_sql = (
        f"if(size(__toks) <= {c}, 0,"
        f" cast(ceil((size(__toks) - {c}) / {s}) as int))"
    )
    n_chunks = F.expr(last_idx_sql) + 1
    chunks = F.expr(
        f"transform(sequence(0, {last_idx_sql}),"
        f" i -> struct(i as chunk_id,"
        f" concat_ws(' ', slice(__toks, i * {s} + 1, {c})) as chunk))"
    )
    return toks.select(
        F.col(doc_id),
        n.cast("long").alias("n_tokens"),
        n_chunks.cast("long").alias("n_chunks"),
        F.explode(chunks).alias("__c"),
    ).select(
        F.col(doc_id),
        "n_tokens",
        "n_chunks",
        F.col("__c.chunk_id").cast("long").alias("chunk_id"),
        F.col("__c.chunk").alias("chunk"),
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text: str = "text",
    doc_id: str = "doc_id",
) -> DataFrame:
    """BM25 document retrieval for a literal query — Robertson/Spärck
    Jones Okapi weighting with the Lucene non-negative idf, at standard
    k1 = 1.2, b = 0.75.  The retrieval primitive the text tier lacked
    next to :func:`top_terms` (which ranks TERMS within a doc, not DOCS
    for a query) — seed-set mining, quality-by-query audits, and
    dedup-slice pulls are all "give me the top-k docs for these words".

    Plan shape (the :func:`quantize_int8_stats` two-phase discipline):
    ONE corpus aggregate computes the global stats row (N, ΣT, per-term
    document frequencies — term tf's are scan-local ``filter(toks, ·)``
    counts against literal terms, no explode, no per-term shuffle); the
    one-row stats broadcast back, and scoring is row-local arithmetic at
    scan bandwidth.  Zero joins other than the broadcast; top-k is a
    distributed TakeOrdered with a doc_id tie-break.  The tokenized
    per-doc tf frame feeds BOTH the stats aggregate and the scoring
    pass, so it is ``pin``ned (released by ``release_plan_caches``) —
    ONE corpus tokenization instead of two; at 100 TB the second
    tokenization pass is the whole bill.

    Exactness: idf₂ = log₂((2N+2)/(2df+1)) enters as a DIFFERENCE OF TWO
    integer-grid log terms (``round(log₂(int)·2²⁰)`` — the
    :func:`token_entropy` discipline; the Lucene +0.5/+1 shift makes the
    ratio > 1, so idf is always positive), and the tf saturation weight
    is one double division of two exact integers (num = 22·T·tf, den =
    10·T·tf + 3·T + 9·dl·N — the k1/b rationals cleared against
    avgdl = T/N; exact as doubles below 2⁵³, i.e. past 10¹² corpus
    tokens).  Per-term contributions round back onto the 2²⁰ grid and
    SUM as BIGINTs, so ``score_g`` is partition- and engine-order-proof.

    Output: top-k ``(doc_id, dl, score_g, score)`` by (score_g desc,
    doc_id) over docs matching ≥ 1 term; ``score = score_g / 2²⁰``.
    """
    terms = sorted(set(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    SCALE = 1 << 20
    grid = lambda c: F.round(  # noqa: E731
        F.log2(c.cast("double")) * SCALE, 0
    ).cast("long")
    base = docs.select(
        F.col(doc_id),
        F.filter(
            _tokens(F.coalesce(F.col(text), F.lit(""))), lambda t: t != ""
        ).alias("__toks"),
    ).select(
        F.col(doc_id),
        F.size("__toks").cast("long").alias("dl"),
        *[
            F.size(
                F.filter(F.col("__toks"), lambda x: x == F.lit(t))
            ).cast("long").alias(f"__tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    base = pin(base)
    stats = base.groupBy().agg(
        F.count(F.lit(1)).alias("__n_docs"),
        F.sum("dl").alias("__total"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
            for i in range(len(terms))
        ],
    )
    n, t_ = F.col("__n_docs"), F.col("__total")
    contribs = []
    for i in range(len(terms)):
        tf = F.col(f"__tf{i}")
        idf = grid(2 * n + 2) - grid(2 * F.col(f"__df{i}") + 1)
        w = (22.0 * t_ * tf) / (10.0 * t_ * tf + 3.0 * t_ + 9.0 * F.col("dl") * n)
        contribs.append(
            F.when(tf > 0, F.round(idf * w, 0).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    total = contribs[0]
    for c in contribs[1:]:
        total = total + c
    return (
        base.crossJoin(F.broadcast(stats))
        .select(F.col(doc_id), F.col("dl"), total.alias("score_g"))
        .filter(F.col("score_g") > 0)
        .orderBy(F.col("score_g").desc(), F.col(doc_id))
        .limit(k)
        .withColumn("score", F.col("score_g").cast("double") / SCALE)
    )


def top_terms(
    docs: DataFrame,
    k: int = 3,
    text: str = "text",
    doc_id: str = "doc_id",
) -> DataFrame:
    """Per-document top-k characteristic terms by a tf·(N/df) score — the
    ratio form of tf-idf.  The log is deliberately dropped: ln() can differ
    in the last ulp between libm implementations, and ranking under the
    monotone transform x→ln(x) is IDENTICAL anyway, so the ratio keeps the
    score engine-exact (integer tf, exact N/df division) without changing
    any ranking a log-based tf-idf would produce for fixed tf.

    Shape: explode words → per-(doc, word) counts (combine-friendly) →
    document frequency per word → join → ranked window per doc.  The df
    table is the corpus vocabulary; it broadcasts while vocab is bounded
    and falls back to a shuffle join beyond the broadcast threshold —
    both plans keep the per-doc state bounded by document length.
    """
    words = docs.select(
        F.col(doc_id), F.explode(_tokens(F.col(text))).alias("word")
    )
    tf = words.groupBy(doc_id, "word").agg(F.count(F.lit(1)).alias("tf"))
    # df = count(1) over tf, NOT countDistinct(doc_id) over words: tf
    # rows are unique (doc, word) by construction, so the plain count is
    # the same integer while skipping the distinct-aggregate's extra
    # partial/merge stage (r13, guide §2.3 — aggregate the narrower,
    # already-deduplicated input)
    df_tbl = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.countDistinct(doc_id).alias("n_docs"))
    scored = tf.join(df_tbl, "word").crossJoin(F.broadcast(n_docs)).select(
        F.col(doc_id),
        "word",
        "tf",
        "df",
        (
            F.col("tf").cast("double")
            * F.col("n_docs").cast("double")
            / F.col("df")
        ).alias("score"),
    )
    w = Window.partitionBy(doc_id).orderBy(
        F.col("score").desc(), F.col("word").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(doc_id, "rank", "word", "tf", "df", "score")
    )


def hash_classifier(
    docs: DataFrame,
    text: str = "text",
    doc_id: str = "doc_id",
    buckets_mod: int = 21,
    salt: str = "clf",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Hashing-trick linear text classifier — the fastText-shaped quality
    gate every web-scale curation stack runs (CCNet / FineWeb-Edu style),
    reduced to its engine shape: hash each token into a weight bucket,
    sum the weights, threshold the mean.

    The weights here are a deterministic function of the bucket hash
    (``(bucket mod 21) − 10`` ∈ [−10, 10]) — the operator ships the
    *shape* (hashed sparse linear model evaluated at scan bandwidth);
    :func:`hash_classifier_trained` is the production swap-in that takes
    an actual trained weight table through the same
    token→bucket→weight path and the same plan.

    Everything is row-local higher-order-function arithmetic over one
    ``split`` — no shuffle, no UDF, no vocabulary join — so the op runs
    at scan bandwidth and parallelizes embarrassingly at 100 TB.  The
    score SUM is an exact BIGINT; the mean is one final double division
    (engine-portable); NULL/empty text fails closed (0 tokens, score 0,
    not positive) like :func:`gopher_rules`.

    Output: (doc_id, n_tokens, weight_sum, score, positive).
    """
    from .sampling import hash_bucket

    toks = F.filter(
        _tokens(F.coalesce(F.col(text), F.lit(""))), lambda t: t != ""
    )
    weight = lambda t: (hash_bucket(t, salt) % buckets_mod).cast(  # noqa: E731
        "long"
    ) - (buckets_mod // 2)
    wsum = F.aggregate(
        F.transform(toks, weight),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # stage the md5-per-token fold and the split ONCE: inlined, wsum
    # evaluated 3× and the tokenizer ~5× per row (no CSE for
    # CodegenFallback HOFs — the repo's measured cost model), tripling
    # the classifier gate's dominant cost
    staged = docs.select(
        F.col(doc_id),
        *[F.col(c) for c in passthrough],
        F.size(toks).cast("long").alias("n_tokens"),
        wsum.alias("weight_sum"),
    )
    score = F.when(
        F.col("n_tokens") > 0,
        F.col("weight_sum").cast("double") / F.col("n_tokens"),
    ).otherwise(F.lit(0.0))
    return staged.select(
        doc_id,
        *passthrough,
        "n_tokens",
        "weight_sum",
        score.alias("score"),
        (score > 0).alias("positive"),
    )


def _check_n_buckets(n_buckets: int) -> None:
    """``hash_bucket`` yields [0, 65536) (a 4-hex-digit md5 prefix —
    ``sampling.hash_bucket``), so a table wider than 2^16 would accept
    weights/counts in buckets that can never fire: fail loudly instead
    of silently truncating the model."""
    if not 1 <= n_buckets <= 1 << 16:
        raise ValueError(
            f"n_buckets {n_buckets} outside [1, 65536]: hash_bucket "
            "produces [0, 65536), so larger tables are unreachable"
        )


def hash_classifier_trained(
    docs: DataFrame,
    weights,
    n_buckets: int = 1 << 16,
    text: str = "text",
    doc_id: str = "doc_id",
    salt: str = "clf",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """:func:`hash_classifier` with TRAINED weights — the production
    swap-in: ``weights`` is the model's weight table, either plain
    ``[(bucket, weight_int), ...]`` rows or a small (bucket, weight)
    DataFrame (collected driver-side — a hashing-trick weight table is
    ``n_buckets`` ints, a MODEL PARAMETER like the PQ codebook, not
    data).  Buckets absent from the table weigh 0, so a sparse table —
    the normal outcome of L1-regularized training — stays sparse.

    The plan is the same scan-bandwidth shape as the deterministic
    variant: token → md5 bucket → weight, all row-local expression
    arithmetic over one ``split`` — no shuffle, no UDF, no vocabulary
    join.  The weight lookup is ``element_at`` into ONE dense literal
    array composed as SQL text (a single server-side parse) — measured
    at the full 2¹⁶ default: 3.6-9.6 s of ONE-TIME plan parse/fold,
    amortized over the corpus scan, vs ~28 s for the ``F.lit(list)``
    spelling whose per-element py4j serialization dominates.  Weights
    are integers by contract
    (fixed-point: scale float model weights by 1e4 upstream), which
    keeps ``weight_sum`` an exact BIGINT — the same engine-portability
    discipline as every score column here.

    Output: (doc_id, n_tokens, weight_sum, score, positive) — identical
    schema to :func:`hash_classifier`, so the two are drop-in
    interchangeable in :func:`~.curate.curate_corpus` and the streaming
    gate.
    """
    from .sampling import hash_bucket

    _check_n_buckets(n_buckets)
    if hasattr(weights, "collect"):  # small weight DataFrame
        weights = [(r[0], r[1]) for r in weights.collect()]
    dense = [0] * n_buckets
    for b, wt in weights:
        if not 0 <= int(b) < n_buckets:
            raise ValueError(f"bucket {b} outside [0, {n_buckets})")
        dense[int(b)] = int(wt)
    warr = F.expr(
        "array(" + ",".join(f"{v}L" for v in dense) + ")"
    )
    toks = F.filter(
        _tokens(F.coalesce(F.col(text), F.lit(""))), lambda t: t != ""
    )
    weight = lambda t: F.element_at(  # noqa: E731
        warr, (hash_bucket(t, salt) % n_buckets).cast("int") + 1
    )
    wsum = F.aggregate(
        F.transform(toks, weight),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # stage the md5-per-token fold and the split ONCE: inlined, wsum
    # evaluated 3× and the tokenizer ~5× per row (no CSE for
    # CodegenFallback HOFs — the repo's measured cost model), tripling
    # the classifier gate's dominant cost
    staged = docs.select(
        F.col(doc_id),
        *[F.col(c) for c in passthrough],
        F.size(toks).cast("long").alias("n_tokens"),
        wsum.alias("weight_sum"),
    )
    score = F.when(
        F.col("n_tokens") > 0,
        F.col("weight_sum").cast("double") / F.col("n_tokens"),
    ).otherwise(F.lit(0.0))
    return staged.select(
        doc_id,
        *passthrough,
        "n_tokens",
        "weight_sum",
        score.alias("score"),
        (score > 0).alias("positive"),
    )


def _bigram_structs(toks: Column) -> Column:
    """(w1, 'w1 w2') structs for consecutive token pairs; empty array for
    docs with fewer than 2 tokens (``F.sequence(1, 0)`` would DESCEND —
    the guard is load-bearing, not cosmetic)."""
    pair = lambda i: F.struct(  # noqa: E731
        F.element_at(toks, i).alias("w1"),
        F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ).alias("bg"),
    )
    return F.when(
        F.size(toks) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(toks) - 1), pair),
    ).otherwise(F.array().cast("array<struct<w1:string,bg:string>>"))


def bigram_lm_scores(
    docs: DataFrame,
    model_docs: DataFrame | None = None,
    n_buckets: int = 4096,
    text: str = "text",
    doc_id: str = "doc_id",
    salt: str = "lm",
) -> DataFrame:
    """Hashed bigram language-model quality score — the perplexity-style
    gate of CCNet/KenLM-based curation (Wenzek et al., LREC 2020),
    re-cut to bounded-memory engine form: instead of an external n-gram
    LM binary, the model is a pair of BUCKET-HASHED count tables
    (bigram and unigram-context), so model size is fixed at
    ``n_buckets`` regardless of corpus vocabulary — the count-min
    posture that makes the operator a pure Spark plan at any scale.

    Score: avg log₂ P̂(w₂|w₁) per bigram with add-one-over-buckets
    smoothing — ``P̂ = (c(bucket(w₁w₂)) + 1) / (c(bucket(w₁)) +
    n_buckets)``.  Natural prose re-uses frequent continuations and
    scores high (less negative); shuffled or mashed text pairs rare
    buckets and scores low.  Hash collisions inflate counts for
    colliding n-grams — the standard hashing-trick tradeoff, dialed by
    ``n_buckets`` exactly like :func:`hash_classifier`'s weight buckets.

    ``model_docs`` is the corpus the counts are TRAINED on — in
    production a clean reference corpus (the CCNet recipe: score web
    text under a Wikipedia-trained model); defaults to ``docs``
    (self-scored perplexity, the bootstrap variant).

    Scale shape: counts are two combine-friendly aggregations whose
    output is ≤ ``n_buckets`` rows each — broadcast back, so SCORING
    never shuffles the corpus; the only corpus-keyed exchange is the
    final per-doc aggregate.  Exactness: each bigram's log term is
    snapped to the integer grid FIRST (``round(log₂(c)·2²⁰)`` of exact
    integer counts — the :func:`token_entropy` discipline), summed as
    BIGINTs, so ``slogp`` is bit-identical across engines and
    partitionings; ``avg_logp2`` is one final double division.  NULL /
    sub-2-token docs fail closed (0 bigrams, score 0).

    Output: (doc_id, n_bigrams, slogp, avg_logp2).
    """
    from .sampling import hash_bucket

    SCALE = 1 << 20
    _check_n_buckets(n_buckets)
    model = model_docs if model_docs is not None else docs

    # ONE implementation of the count aggregations — the pre-trained
    # split trains through the same function, so count semantics can
    # never diverge between the self-trained and trained paths (the
    # bitwise-equivalence test relies on this)
    bcounts, ucounts = bigram_lm_counts(
        model, n_buckets=n_buckets, text=text, salt=salt
    )
    bucket = lambda c: (hash_bucket(c, salt) % n_buckets).cast("int")  # noqa: E731

    grid = lambda c: F.round(  # noqa: E731
        F.log2(c.cast("double")) * SCALE, 0
    ).cast("long")
    # the token array is STAGED before the bigram lambda touches it:
    # HOFs are CodegenFallback with no common-subexpression elimination,
    # so element_at(<full split+filter tree>, i) inside the transform
    # would re-tokenize the document for EVERY bigram (~3 refs/element →
    # O(n²) per doc; measured 10.4 s → 0.9 s exploding 266k bigrams at
    # sf0.1).  CollapseProject leaves the staging in place because the
    # array is non-cheap and multiply-referenced.
    exploded = docs.select(
        F.col(doc_id),
        F.filter(
            _tokens(F.coalesce(F.col(text), F.lit(""))), lambda t: t != ""
        ).alias("__toks"),
    ).select(
        F.col(doc_id),
        F.explode_outer(_bigram_structs(F.col("__toks"))).alias("p"),
    ).select(
        doc_id,
        F.col("p.bg").isNotNull().alias("has"),
        bucket(F.col("p.bg")).alias("bb"),
        bucket(F.col("p.w1")).alias("ub"),
    )
    term = grid(F.coalesce(F.col("cb"), F.lit(0)) + 1) - grid(
        F.coalesce(F.col("cu"), F.lit(0)) + n_buckets
    )
    per = (
        exploded.join(
            F.broadcast(bcounts), exploded["bb"] == bcounts["bucket"], "left"
        )
        .drop("bucket")
        .join(
            F.broadcast(ucounts), exploded["ub"] == ucounts["bucket"], "left"
        )
        .drop("bucket")
        .groupBy(doc_id)
        .agg(
            F.sum(F.col("has").cast("long")).alias("n_bigrams"),
            F.sum(
                F.when(F.col("has"), term).otherwise(F.lit(0))
            ).alias("slogp"),
        )
    )
    avg = (F.col("slogp").cast("double") / SCALE) / F.col("n_bigrams")
    return per.select(
        doc_id,
        "n_bigrams",
        "slogp",
        F.when(F.col("n_bigrams") > 0, avg).otherwise(F.lit(0.0)).alias(
            "avg_logp2"
        ),
    )


def bigram_lm_scores_trained(
    docs: DataFrame,
    bigram_counts,
    unigram_counts,
    n_buckets: int = 4096,
    text: str = "text",
    doc_id: str = "doc_id",
    salt: str = "lm",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """:func:`bigram_lm_scores` under a PRE-TRAINED model — the
    production split (train the counts once on a reference corpus, score
    everything under them) and the STREAMING-safe form: the counts are
    plain ``[(bucket, count), ...]`` rows or small DataFrames (a model
    parameter, like the classifier's weight table), folded in Python
    into two dense literal arrays of PRE-COMPUTED integer-grid log
    terms — so scoring is one md5 + two array lookups per bigram, no
    joins, no aggregating over the corpus, no runtime logarithms.
    Fully row-local ⇒ stateless ⇒ lifts onto Structured Streaming
    unchanged (the :func:`~..streaming.documents.curate_document_stream`
    gate), and bit-identical to the batch operator under the same
    counts (the grid terms round HALF-UP exactly as ``F.round`` does —
    pinned by an equivalence test).

    Output: (doc_id, *passthrough, n_bigrams, slogp, avg_logp2) —
    identical schema to :func:`bigram_lm_scores`.
    """
    import math

    from .sampling import hash_bucket

    SCALE = 1 << 20
    _check_n_buckets(n_buckets)

    def dense(rows, smooth_add: int):
        if hasattr(rows, "collect"):  # small count DataFrame
            rows = [(r[0], r[1]) for r in rows.collect()]
        counts = [0] * n_buckets
        for b, c in rows:
            if not 0 <= int(b) < n_buckets:
                raise ValueError(f"bucket {b} outside [0, {n_buckets})")
            counts[int(b)] = int(c)
        # HALF-UP like F.round (never Python's banker's round) so the
        # precomputed grid equals the batch operator's runtime grid
        return [
            int(math.floor(math.log2(c + smooth_add) * SCALE + 0.5))
            for c in counts
        ]

    tb = F.expr(
        "array(" + ",".join(f"{v}L" for v in dense(bigram_counts, 1)) + ")"
    )
    tu = F.expr(
        "array("
        + ",".join(f"{v}L" for v in dense(unigram_counts, n_buckets))
        + ")"
    )
    bucket1 = lambda c: (hash_bucket(c, salt) % n_buckets).cast("int") + 1  # noqa: E731
    term = lambda p: F.element_at(tb, bucket1(p["bg"])) - F.element_at(  # noqa: E731
        tu, bucket1(p["w1"])
    )
    staged = docs.select(
        F.col(doc_id),
        *[F.col(c) for c in passthrough],
        F.filter(
            _tokens(F.coalesce(F.col(text), F.lit(""))), lambda t: t != ""
        ).alias("__toks"),
    ).select(
        doc_id,
        *passthrough,
        _bigram_structs(F.col("__toks")).alias("__bigrams"),
    )
    slogp = F.aggregate(
        F.col("__bigrams"),
        F.lit(0).cast("long"),
        lambda acc, p: acc + term(p),
    )
    n_bi = F.size(F.col("__bigrams")).cast("long")
    # stage the per-doc fold ONCE (the dsir_log_ratio_trained
    # discipline): slogp — one md5 + lookup per bigram, interpreted, no
    # CSE — feeds both the slogp column and avg_logp2; inlined it would
    # run twice per document of the streaming LM gate
    folded = staged.select(
        doc_id,
        *passthrough,
        n_bi.alias("n_bigrams"),
        slogp.alias("slogp"),
    )
    avg = (F.col("slogp").cast("double") / SCALE) / F.col("n_bigrams")
    return folded.select(
        doc_id,
        *passthrough,
        "n_bigrams",
        "slogp",
        F.when(F.col("n_bigrams") > 0, avg)
        .otherwise(F.lit(0.0))
        .alias("avg_logp2"),
    )


def bigram_lm_counts(
    model_docs: DataFrame,
    n_buckets: int = 4096,
    text: str = "text",
    salt: str = "lm",
) -> tuple[DataFrame, DataFrame]:
    """The training half of the pre-trained split: (bigram_counts,
    unigram_counts) DataFrames of (bucket, count) over ``model_docs`` —
    run once on the reference corpus, collect (≤ ``n_buckets`` rows
    each), and feed :func:`bigram_lm_scores_trained`."""
    from .sampling import hash_bucket

    bucket = lambda c: (hash_bucket(c, salt) % n_buckets).cast("int")  # noqa: E731
    staged = model_docs.select(
        F.filter(
            _tokens(F.coalesce(F.col(text), F.lit(""))), lambda t: t != ""
        ).alias("__toks")
    )
    bcounts = (
        staged.select(F.explode(_bigram_structs(F.col("__toks"))).alias("p"))
        .groupBy(bucket(F.col("p.bg")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    ucounts = (
        staged.select(F.explode(F.col("__toks")).alias("w"))
        .groupBy(bucket(F.col("w")).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    return bcounts, ucounts


def line_dedup(
    docs: DataFrame,
    min_df: int = 2,
    text: str = "text",
    doc_id: str = "doc_id",
    sep: str = "\n",
) -> DataFrame:
    """Cross-document line deduplication — the C4/CCNet boilerplate
    remover (Raffel et al. 2020 drop repeated ≥3-sentence spans; CCNet
    dedups paragraph hashes): a line whose hash appears in ≥ ``min_df``
    DISTINCT documents is removed from EVERY document — navbars, cookie
    banners, license footers, and share-bars are precisely the lines a
    crawl repeats across pages, and exact whole-text duplicates hollow
    out to empty (on a corpus without line structure every doc is one
    line, so the op degenerates to whole-text document-frequency —
    still exercised end-to-end by the registered query's planted
    duplicates).

    Scale shape: explode lines with positions → ONE shuffle keyed by
    line hash for the distinct-doc count (two-phase, partial aggregation
    absorbs repeats map-side; only 16-byte md5 + doc_id cross the wire,
    never text) → the frequent-hash set joins back (AQE broadcasts it
    when small — at web scale boilerplate is heavy-tailed, so with any
    sensible ``min_df`` the frequent set is tiny next to the corpus) →
    one doc-keyed aggregate reassembles the text in original order
    (``array_sort`` over (pos, line) structs — deterministic, pos is
    unique per doc).  Pure integer/string ops, no floats anywhere, so
    the DuckDB twin is exact.

    NULL text behaves as one empty line (which is removed wherever
    ``min_df`` empty-ish docs exist — C4 drops blank lines too).

    Output: (doc_id, n_lines, n_removed, clean_text).
    """
    import re

    # F.split takes a Java REGEX while concat_ws reassembles with the
    # LITERAL separator — escape sep so the two agree for any separator
    # (un-escaped, sep="|" would split between every character and
    # rebuild mangled text)
    lines = docs.select(
        F.col(doc_id),
        F.posexplode(
            F.split(F.coalesce(F.col(text), F.lit("")), re.escape(sep))
        ).alias("pos", "ln"),
    ).withColumn("h", F.md5(F.col("ln")))
    frequent = (
        lines.groupBy("h")
        .agg(F.countDistinct(doc_id).alias("df"))
        .filter(F.col("df") >= min_df)
        .select("h", F.lit(True).alias("__rm"))
    )
    joined = lines.join(frequent, "h", "left")
    kept_struct = F.when(
        F.col("__rm").isNull(), F.struct(F.col("pos"), F.col("ln"))
    )
    return joined.groupBy(doc_id).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("__rm").isNotNull().cast("long")).alias("n_removed"),
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(kept_struct)),
                lambda s: s["ln"],
            ),
        ).alias("clean_text"),
    )


def span_dedup(
    docs: DataFrame,
    n: int = 8,
    text: str = "text",
    doc_id: str = "doc_id",
    spans: str = "gram",
) -> DataFrame:
    """Duplicate-span removal at n-gram granularity — the ExactSubstr
    recipe of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better": remove every LATER occurrence of a repeated
    ≥50-token substring, keep exactly one), re-cut from suffix arrays to
    an engine shape: every token n-gram that occurs more than once in
    the corpus keeps only its FIRST occurrence (lexicographically
    smallest (doc_id, pos) — deterministic in any engine); the tokens of
    every later occurrence are removed and the document is rebuilt from
    the survivors.  Overlapping duplicate spans union naturally (a token
    is removed if ANY covering span is a later occurrence).  ``n`` is
    the granularity dial — the paper's 50-token threshold ≈ ``n=50``;
    smaller n is more aggressive.

    Distinct roles vs the siblings: :func:`line_dedup` removes
    STRUCTURAL boilerplate (cross-doc line hashes, within-doc repeats
    exempt); this removes VERBATIM REPETITION wherever it occurs —
    including self-repeats inside one document — at token granularity
    with no dependence on line structure.

    Scale shape: ONE shuffle keyed by gram hash (16-byte md5 + (doc,
    pos) — text never shuffles) finds first occurrences via an
    order-independent ``MIN(struct(doc, pos))`` with a ``COUNT > 1``
    gate; later occurrences aggregate to a per-doc sorted start list
    (second shuffle, doc-keyed); the rebuild first FOLDS the sorted
    starts into disjoint ``[lo, hi)`` intervals (one ``aggregate`` pass,
    O(spans)), inverts them into kept gaps, and reassembles the document
    from ``slice`` calls over the staged token array — O(tokens + spans)
    per doc, so a pathologically dirty corpus (every doc mostly
    duplicate mass) costs the same scan bandwidth as a clean one.  The
    earlier per-token ``exists(starts, …)`` coverage test was
    O(tokens × spans) per doc and dominated the 1M-doc planted-dup probe
    (68.7 s → see SCALE_PROBE.json ``span_dedup_1m_planted``); the
    interval form is output-identical by construction.  Output text is
    the token stream rejoined with single spaces (tokenizer-granular,
    the :func:`chunk_windows` convention).  Docs with < n tokens carry
    no grams and pass through untouched; NULL text → 0 tokens, empty
    clean_text.

    ``spans`` picks the reported span granularity:

    - ``"gram"`` (default): ``n_spans_removed`` counts removed gram
      OCCURRENCES — a later copy of a 3n-token repeat counts 2n+1.
    - ``"maximal"``: removed positions are chained per (doc,
      first-occurrence) — consecutive starts whose first occurrences
      are also consecutive in the same source doc extend ONE maximal
      repeated substring, so the 3n-token repeat counts 1 (Lee et
      al.'s maximal-match semantics at gram resolution).  Token
      removal and clean_text are identical in both modes; only the
      span count differs.

    Output: (doc_id, n_tokens, n_spans_removed, n_tokens_removed,
    clean_text).
    """
    if spans not in ("gram", "maximal"):
        raise ValueError(f"spans must be 'gram' or 'maximal', got {spans!r}")
    staged = docs.select(
        F.col(doc_id),
        F.filter(
            _tokens(F.coalesce(F.col(text), F.lit(""))), lambda t: t != ""
        ).alias("__toks"),
    )
    # gram key: md5 over the space-joined window, built from unrolled
    # element_at calls.  MEASURED dial (1M×60-token docs, 54M grams,
    # hash+groupBy path): this spelling 17.5 s; slice()+concat_ws 24.4 s
    # (the window copy costs more than 8 interpreted element_at nodes);
    # a 2×xxhash64-of-slice 128-bit pair 22.8 s; unhex(md5(slice))
    # 21.9 s.  HOF lambdas are interpreted, so node count ≠ cost — the
    # array materialization is the expensive part, not the hash.
    gram = lambda toks, i: F.md5(  # noqa: E731
        F.concat_ws(
            " ", *[F.element_at(toks, i + F.lit(j)) for j in range(n)]
        )
    )
    grams = staged.select(
        F.col(doc_id).alias("g_doc"),
        F.explode(
            F.when(
                F.size("__toks") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("__toks") - n + 1),
                    lambda i: F.struct(
                        (i - 1).alias("pos"),
                        gram(F.col("__toks"), i).alias("h"),
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<pos:int,h:string>>"))
        ).alias("g"),
    ).select("g_doc", F.col("g.pos").alias("pos"), F.col("g.h").alias("h"))
    dup_firsts = (
        grams.groupBy("h")
        .agg(
            F.min(
                F.struct(F.col("g_doc").alias("d"), F.col("pos").alias("p"))
            ).alias("first"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .filter(F.col("cnt") > 1)
    )
    # NOT broadcast: the duplicate-hash set is corpus-scale in a dirty
    # corpus; the equality join on h rides the same hash partitioning
    # the groupBy already established (exchange reuse), so no new
    # corpus-side shuffle is introduced
    removed = grams.join(dup_firsts, "h").filter(
        (F.col("g_doc") != F.col("first.d"))
        | (F.col("pos") != F.col("first.p"))
    )
    if spans == "maximal":
        # carry each removed gram's first-occurrence coordinates; the
        # chain fold runs HERE, on the (small) spans aggregate — docs
        # with no dups never pay it, and the shared rebuild below stays
        # identical to gram mode.  A new maximal span starts unless the
        # gram is the +1 continuation of the previous one in BOTH the
        # duplicate doc and its first-occurrence doc (NULL-seeded
        # compare → first element always opens a span).
        chain = F.aggregate(
            F.col("__occ"),
            F.struct(
                F.lit(None).cast("int").alias("pp"),
                F.lit(None).cast("string").alias("pd"),
                F.lit(None).cast("int").alias("pf"),
                F.lit(0).alias("cnt"),
            ),
            lambda acc, o: F.struct(
                o["pos"].alias("pp"),
                o["fd"].alias("pd"),
                o["fp"].alias("pf"),
                (
                    acc["cnt"]
                    + F.when(
                        (o["pos"] == acc["pp"] + 1)
                        & (o["fd"] == acc["pd"])
                        & (o["fp"] == acc["pf"] + 1),
                        F.lit(0),
                    ).otherwise(F.lit(1))
                ).alias("cnt"),
            ),
            lambda acc: acc["cnt"],
        )
        spans_df = (
            removed.groupBy(F.col("g_doc").alias(doc_id))
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("pos"),
                            # doc ids may be any orderable type; the
                            # chain only tests equality — normalize
                            F.col("first.d").cast("string").alias("fd"),
                            F.col("first.p").alias("fp"),
                        )
                    )
                ).alias("__occ")
            )
            .select(
                doc_id,
                F.transform(
                    F.col("__occ"), lambda o: o["pos"]
                ).alias("__starts"),
                chain.alias("__n_spans"),
            )
        )
    else:
        spans_df = removed.groupBy(F.col("g_doc").alias(doc_id)).agg(
            F.array_sort(F.collect_list("pos")).alias("__starts"),
            F.count(F.lit(1)).cast("int").alias("__n_spans"),
        )
    joined = staged.join(spans_df, doc_id, "left").withColumns(
        {
            "__starts": F.coalesce(
                F.col("__starts"), F.array().cast("array<int>")
            ),
            "__n_spans": F.coalesce(F.col("__n_spans"), F.lit(0)),
        }
    )
    starts = F.col("__starts")
    n_spans = F.col("__n_spans").cast("long")
    # fold the (strictly increasing — one gram per (doc, pos)) starts
    # into disjoint [lo, hi) intervals: fixed span length n means a
    # start s <= last.hi always extends to exactly s + n, so the merge
    # never needs a greatest()
    empty_iv = F.array().cast("array<struct<lo:int,hi:int>>")
    intervals = F.aggregate(
        starts,
        empty_iv,
        lambda acc, s: F.when(
            (F.size(acc) == 0) | (s > F.element_at(acc, -1)["hi"]),
            F.concat(
                acc,
                F.array(F.struct(s.alias("lo"), (s + n).alias("hi"))),
            ),
        ).otherwise(
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["lo"].alias("lo"),
                        (s + n).alias("hi"),
                    )
                ),
            )
        ),
    )
    # invert intervals into kept gaps and reassemble from slice() calls
    # — O(tokens + spans); empty gaps are filtered so slice never sees a
    # zero length
    n_tok_i = F.size("__toks")
    gaps = F.filter(
        F.aggregate(
            intervals,
            F.struct(F.lit(0).alias("prev"), empty_iv.alias("gaps")),
            lambda acc, iv: F.struct(
                iv["hi"].alias("prev"),
                F.concat(
                    acc["gaps"],
                    F.array(
                        F.struct(
                            acc["prev"].alias("lo"), iv["lo"].alias("hi")
                        )
                    ),
                ).alias("gaps"),
            ),
            lambda acc: F.concat(
                acc["gaps"],
                F.array(
                    F.struct(
                        acc["prev"].alias("lo"), n_tok_i.alias("hi")
                    )
                ),
            ),
        ),
        lambda g: g["hi"] > g["lo"],
    )
    kept = F.flatten(
        F.transform(
            gaps,
            lambda g: F.slice(
                F.col("__toks"), g["lo"] + 1, g["hi"] - g["lo"]
            ),
        )
    )
    # stage the rebuild chain (interval fold → gap fold → slices) as ONE
    # named column: HOF aggregates are CodegenFallback with no CSE, and
    # the final project references the kept array twice (size +
    # concat_ws) — CollapseProject declines to re-inline a non-cheap
    # expression referenced more than once, so this keeps the chain
    # single-evaluation (the inlined spelling evaluated it twice per
    # row, interpreted)
    rebuilt = joined.select(
        F.col(doc_id),
        n_tok_i.cast("long").alias("__n_tok"),
        n_spans.alias("__n_spans"),
        kept.alias("__kept"),
    )
    n_tok = F.col("__n_tok")
    return rebuilt.select(
        doc_id,
        n_tok.alias("n_tokens"),
        F.col("__n_spans").alias("n_spans_removed"),
        F.when(
            n_tok > 0,
            (n_tok - F.size("__kept").cast("long")),
        ).otherwise(F.lit(0).cast("long")).alias("n_tokens_removed"),
        F.concat_ws(" ", F.col("__kept")).alias("clean_text"),
    )


def token_entropy(
    docs: DataFrame, text: str = "text", doc_id: str = "doc_id"
) -> DataFrame:
    """Per-document unigram Shannon entropy + type/token ratio — the
    gibberish/boilerplate detector that complements :func:`gopher_rules`
    (natural prose sits in a mid-entropy band; keyboard mash scores high,
    template spam scores low, both tails are cut in web-corpus curation).

    Exactness is the interesting part: H = log₂n − (Σ c·log₂c)/n is a
    FLOAT sum over token types, and float addition is not associative —
    two engines (or two partitionings) summing in different orders drift
    in the last bits.  So the per-type term is snapped to the integer
    grid FIRST — ``c · round(log₂(c)·2²⁰)`` — and summed as exact
    BIGINTs (order-independent, the ``functions/exact.py`` discipline);
    both engines compute log₂ of the same small integer to the same IEEE
    double, so the rounded grid value is identical.  The published
    ``entropy`` is then ONE deterministic float expression over two
    exact integers.  Repeated-token counts c are bounded by single-doc
    vocabulary, so the grid error is ≤ n·2⁻²¹ bits — noise for a
    quality gate, and the exact integer ``slog`` ships alongside for
    anyone needing bit-stable comparisons.

    Scale shape: explode → two combine-friendly aggregations keyed
    (doc, token) then (doc) — partial aggregation absorbs the token
    fan-out map-side, the only shuffle is keyed by doc_id.  Empty/NULL
    text fails closed (0 tokens, entropy 0).

    Output: (doc_id, n_tokens, n_types, slog, entropy).
    """
    SCALE = 1 << 20
    toks = F.filter(
        _tokens(F.coalesce(F.col(text), F.lit(""))), lambda t: t != ""
    )
    counts = (
        docs.select(F.col(doc_id), F.explode_outer(toks).alias("__tok"))
        .groupBy(doc_id, "__tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # explode_outer keeps 0-token docs as a NULL token row: count it as
    # zero so the doc survives with n_tokens = 0 (fails closed)
    c = F.when(F.col("__tok").isNull(), F.lit(0)).otherwise(F.col("c"))
    term = c * F.round(F.log2(c.cast("double")) * SCALE, 0).cast("long")
    per = (
        counts.groupBy(doc_id)
        .agg(
            F.sum(c).alias("n_tokens"),
            F.sum((c > 0).cast("long")).alias("n_types"),
            F.sum(F.coalesce(term, F.lit(0))).alias("slog"),
        )
    )
    entropy = F.log2(F.col("n_tokens").cast("double")) - (
        F.col("slog").cast("double") / SCALE
    ) / F.col("n_tokens").cast("double")
    return per.select(
        doc_id,
        "n_tokens",
        "n_types",
        "slog",
        F.when(F.col("n_tokens") > 0, entropy).otherwise(F.lit(0.0)).alias(
            "entropy"
        ),
    )


def hash_classifier_train_nb(
    labeled: DataFrame,
    label: str = "label",
    n_buckets: int = 1 << 16,
    text: str = "text",
    salt: str = "clf",
    weight_scale: int = 10_000,
    alpha_inv: int = 100,
) -> DataFrame:
    """Train the weight table :func:`hash_classifier_trained` consumes —
    in-engine, closed-form: multinomial Naive Bayes log-odds per hashed
    token bucket,

        w_b = round(weight_scale · [log₂ P̂(b | positive)
                                    − log₂ P̂(b | negative)])

    with the same add-(1/``alpha_inv``) smoothing discipline as
    :func:`~.sampling.dsir_log_ratio` (add-ONE collapses tiny corpora
    toward uniform).  Closed-form NB is the standard bootstrap for
    fastText-shaped quality gates: label a seed set (e.g. "target
    domain" vs "random crawl"), train in one aggregation pass, swap the
    table into the scan-bandwidth scorer — no gradient loop, no Python.
    Weights are fixed-point integers (``weight_scale`` = 1e4 by
    contract), so downstream ``weight_sum`` stays an exact BIGINT.

    Scale shape: one explode + one bucket-keyed aggregation (≤
    ``n_buckets`` output rows, map-side combined) + two 1-row totals —
    the corpus never shuffles as text.  Buckets no labeled token ever
    hit carry weight 0 implicitly (absent rows; the dense fold in
    :func:`hash_classifier_trained` fills them).

    Output: (bucket, weight) — rows with weight 0 are dropped (the
    dense table is the consumer's job; sparse rows keep the artifact
    small).
    """
    from .sampling import hash_bucket

    _check_n_buckets(n_buckets)
    if alpha_inv < 1:
        raise ValueError(f"alpha_inv must be >= 1, got {alpha_inv}")
    bucket = (hash_bucket(F.col("w"), salt) % n_buckets).cast("int")
    exploded = labeled.select(
        F.col(label).cast("boolean").alias("__pos"),
        F.explode(
            F.filter(
                _tokens(F.coalesce(F.col(text), F.lit(""))),
                lambda t: t != "",
            )
        ).alias("w"),
    ).select("__pos", bucket.alias("bucket"))
    per = exploded.groupBy("bucket").agg(
        F.sum(F.col("__pos").cast("long")).alias("cpos"),
        F.sum((~F.col("__pos")).cast("long")).alias("cneg"),
    )
    totals = per.agg(
        F.sum("cpos").alias("__np"), F.sum("cneg").alias("__nn")
    )
    a = F.lit(alpha_inv)
    lg = lambda c: F.log2(c.cast("double"))  # noqa: E731
    w = F.round(
        F.lit(float(weight_scale))
        * (
            lg(a * F.col("cpos") + 1)
            - lg(a * F.coalesce(F.col("__np"), F.lit(0)) + n_buckets)
            - lg(a * F.col("cneg") + 1)
            + lg(a * F.coalesce(F.col("__nn"), F.lit(0)) + n_buckets)
        ),
        0,
    ).cast("long")
    return (
        per.crossJoin(F.broadcast(totals))
        .select("bucket", w.alias("weight"))
        .filter(F.col("weight") != 0)
    )


def collocations(
    docs: DataFrame,
    min_count: int = 5,
    k: int = 30,
    text: str = "text",
) -> DataFrame:
    """Corpus collocations by pointwise mutual information — "which word
    pairs co-occur far more than chance?" (Church & Hanks 1990), the
    phrase-mining / multi-word-expression pass of corpus analysis.

    PMI(a,b) = log₂ P(ab) − log₂ P(a) − log₂ P(b) with P(ab) = c_ab/P
    (P = total adjacent pairs) and P(·) = c/N (N = total tokens) expands
    to log₂ terms of SIX exact integers: c_ab, c_a, c_b, N, P.  Each is
    snapped to the repo's integer grid — ``round(log₂(count)·2²⁰)`` of
    an exact BIGINT, which every engine computes identically — and the
    published ``pmi`` is one float expression over the grid sum
    (``pmi_grid``), so ranking and values are bit-stable across engines
    and partitionings (the :func:`token_entropy` discipline).

    Scale shape: exactly TWO corpus scans — one into the pair-count
    aggregate (keyed (a,b)), one into the unigram-count aggregate
    (keyed token), both combine-friendly.  Every other input derives
    from those two vocabulary-scale tables, which are ``pin``ned
    (released by ``release_plan_caches``): N = Σ unigram
    counts, P = Σ pair counts (pairs per doc = tokens − 1, so counting
    bigram rows IS the total), both folded from the caches, never a
    third scan.  The ``min_count`` gate prunes the pair side BEFORE its
    two unigram-count joins (rare pairs — the long tail — never join);
    the 1-row corpus totals broadcast.  Top-k is a bounded ``orderBy …
    limit`` (distributed TakeOrdered, no global sort materialized).

    Output: (w1, w2, pair_count, c1, c2, pmi_grid, pmi), ordered
    pmi_grid DESC, (w1, w2) ASC — deterministic under count ties.
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    if k < 1:
        raise ValueError("k must be >= 1")
    SCALE = 1 << 20
    staged = docs.select(
        F.filter(
            _tokens(F.coalesce(F.col(text), F.lit(""))), lambda t: t != ""
        ).alias("__toks")
    )
    pair = lambda toks, i: F.struct(  # noqa: E731
        F.element_at(toks, i).alias("w1"),
        F.element_at(toks, i + 1).alias("w2"),
    )
    bigrams = staged.select(
        F.explode(
            F.when(
                F.size("__toks") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("__toks") - 1),
                    lambda i: pair(F.col("__toks"), i),
                ),
            ).otherwise(
                F.array().cast("array<struct<w1:string,w2:string>>")
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    unigrams = (
        staged.select(F.explode("__toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs_all = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("pair_count")
    )
    # the two aggregates feed multiple consumers (joins + totals)
    unigrams, pairs_all = pin(unigrams), pin(pairs_all)
    totals = unigrams.agg(F.sum("c").alias("__n"))
    # P = Σ pair counts — folded from the cached pair table, not a
    # third corpus scan (pairs per doc = tokens − 1 by construction)
    pair_totals = pairs_all.agg(F.sum("pair_count").alias("__p"))
    pairs = pairs_all.filter(F.col("pair_count") >= min_count)
    joined = (
        pairs.join(
            unigrams.select(
                F.col("w").alias("w1"), F.col("c").alias("c1")
            ),
            "w1",
        )
        .join(
            unigrams.select(
                F.col("w").alias("w2"), F.col("c").alias("c2")
            ),
            "w2",
        )
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(pair_totals))
    )
    g = lambda c: F.round(  # noqa: E731
        F.log2(c.cast("double")) * SCALE, 0
    ).cast("long")
    pmi_grid = (
        g(F.col("pair_count"))
        - g(F.col("__p"))
        - g(F.col("c1"))
        - g(F.col("c2"))
        + F.lit(2) * g(F.col("__n"))
    )
    out = joined.select(
        "w1",
        "w2",
        "pair_count",
        "c1",
        "c2",
        pmi_grid.alias("pmi_grid"),
        (pmi_grid.cast("double") / SCALE).alias("pmi"),
    )
    return out.orderBy(
        F.col("pmi_grid").desc(), F.col("w1").asc(), F.col("w2").asc()
    ).limit(k)


def collocations_sql(
    source_sql: str, min_count: int = 5, k: int = 30
) -> str:
    """DuckDB twin of :func:`collocations` — same token stream, same
    integer-grid log terms, same ordering.  ``source_sql`` must yield
    one text column aliased ``t``."""
    scale = 1 << 20
    g = lambda c: (  # noqa: E731
        f"CAST(round(log2(CAST({c} AS DOUBLE)) * {scale}, 0) AS BIGINT)"
    )
    grid = (
        f"{g('pair_count')} - {g('tot.p')} - {g('u1.c')}"
        f" - {g('u2.c')} + 2 * {g('tot.n')}"
    )
    return f"""
WITH src AS (
  {source_sql}
), toks AS (
  SELECT doc, tok, pos FROM (
    SELECT doc,
           unnest(sy) AS tok,
           unnest(generate_series(1, len(sy))) AS pos
    FROM (
      SELECT row_number() OVER () AS doc,
             list_filter(string_split(lower(coalesce(t, '')), ' '),
                         x -> x <> '') AS sy
      FROM src
    )
  )
), uni AS (
  SELECT tok AS w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY 1
), pairs_all AS (
  SELECT a.tok AS w1, b.tok AS w2, CAST(COUNT(*) AS BIGINT) AS pair_count
  FROM toks a JOIN toks b ON a.doc = b.doc AND b.pos = a.pos + 1
  GROUP BY 1, 2
), tot AS (
  SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM uni) AS n,
         (SELECT CAST(SUM(pair_count) AS BIGINT) FROM pairs_all) AS p
), pairs AS (
  SELECT * FROM pairs_all WHERE pair_count >= {min_count}
)
SELECT w1, w2, pair_count, u1.c AS c1, u2.c AS c2,
       {grid} AS pmi_grid,
       CAST({grid} AS DOUBLE) / {scale} AS pmi
FROM pairs
JOIN uni u1 ON u1.w = pairs.w1
JOIN uni u2 ON u2.w = pairs.w2
CROSS JOIN tot
ORDER BY pmi_grid DESC, w1 ASC, w2 ASC
LIMIT {k}
"""


def winnow_fingerprints(
    docs: DataFrame,
    n: int = 4,
    w: int = 4,
    text: str = "text",
    doc_id: str = "doc_id",
    _fp_sets: bool = False,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): in every window of ``w``
    consecutive token-``n``-gram hashes, select the minimum (rightmost
    on ties — "robust winnowing"), and keep the distinct (position,
    hash) selections.  The guarantee that makes this the LOCAL
    complement to MinHash: any shared token run of length ≥ w + n − 1
    contributes at least one IDENTICAL fingerprint to both documents,
    at expected density 2/(w+1) — so matches are found positionally
    (plagiarism / clone detection), not just set-similarly, from a
    sketch ~2/(w+1) the gram count.

    Distinct roles vs the siblings: :func:`fingerprint` is one hash per
    doc (exact normalized dedup); MinHash (`dedup.minhash_signatures`)
    sketches the GLOBAL shingle set (whole-doc resemblance, no
    positions); :func:`span_dedup` finds exact repeats corpus-wide but
    keeps nothing positional per doc.  Winnowing is the guaranteed-
    density positional sketch in between.

    Scale shape: scan-fused per-doc arithmetic (token array → gram-hash
    array → per-window rightmost-argmin via slice/reverse/position —
    O(tokens × w) per doc, w is a small dial) ending in one DISTINCT
    keyed (doc, pos, fp); no joins, nothing corpus-wide.  Docs with
    fewer than w + n − 1 tokens carry no full window and emit nothing
    (stated: winnowing is undefined below one window).

    Gram hashes are the first 15 hex chars of md5 over the space-joined
    window — 60-bit BIGINTs any engine reproduces.

    Output: (doc_id, pos, fp) — pos is the 0-based gram position of the
    selected hash.
    """
    if n < 1 or w < 1:
        raise ValueError("n and w must be >= 1")
    staged = docs.select(
        F.col(doc_id),
        F.filter(
            _tokens(F.coalesce(F.col(text), F.lit(""))), lambda t: t != ""
        ).alias("__toks"),
    )
    gram_h = lambda toks, i: F.conv(  # noqa: E731
        F.substring(
            F.md5(
                F.concat_ws(
                    " ",
                    *[F.element_at(toks, i + F.lit(j)) for j in range(n)],
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    grams = staged.select(
        doc_id,
        F.when(
            F.size("__toks") >= n,
            F.transform(
                F.sequence(F.lit(1), F.size("__toks") - n + 1),
                lambda i: gram_h(F.col("__toks"), i),
            ),
        )
        .otherwise(F.array().cast("array<long>"))
        .alias("__h"),
    )
    # The whole selection runs INSIDE the array world, one window pass
    # per doc: explode-then-index spellings re-inline the gram-hash
    # transform into every post-explode reference (CollapseProject +
    # Generate — the projection-collapse trap), recomputing ~57 md5s
    # per WINDOW (measured 76 s at the 1M probe for the window pass
    # alone); here ``__h`` is referenced by exactly one expression
    # chain, the per-doc (pos, fp) dedup is a row-local
    # ``array_distinct`` (identical to the global distinct — doc_id is
    # in the key — so the 22M-row dedup SHUFFLE disappears entirely),
    # and the rightmost-min is unrolled scalar comparisons, no
    # slice/reverse allocations.  Measured 80.5 → 27.0 s at the 1M
    # probe (and the downstream pair join, which consumes the
    # fingerprints twice, 369.5 → 66.1 s with its persist).
    def win(h, i):
        els = [F.element_at(h, i + F.lit(j)) for j in range(w)]
        m = els[0] if w == 1 else F.least(*els)
        idx = F.coalesce(
            *[
                F.when(els[w - 1 - jj] == m, i + F.lit(w - 1 - jj))
                for jj in range(w)
            ]
        )
        return F.struct(
            (idx - 1).cast("int").alias("pos"),
            F.element_at(h, idx).alias("fp"),
        )

    fps_per_doc = F.when(
        F.size("__h") >= w,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("__h") - w + 1),
                lambda i: win(F.col("__h"), i),
            )
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,fp:long>>"))
    if _fp_sets:
        # r13 (guide §2.4): per-doc DISTINCT fp values, deduplicated
        # INSIDE the row array before the explode — doc_id is part of
        # the dedup key, so this is byte-identical to exploding (pos,
        # fp) and running ``.select(doc_id, fp).distinct()`` with the
        # corpus-wide dedup exchange deleted (the same row-local-
        # distinct argument as the (pos, fp) dedup above).
        return grams.select(
            doc_id,
            F.explode(
                F.array_distinct(
                    F.transform(fps_per_doc, lambda s: s["fp"])
                )
            ).alias("fp"),
        )
    return grams.select(
        doc_id, F.explode(fps_per_doc).alias("__f")
    ).select(doc_id, F.col("__f.pos").alias("pos"), F.col("__f.fp").alias("fp"))


def winnow_pairs(
    docs: DataFrame,
    n: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
    text: str = "text",
    doc_id: str = "doc_id",
) -> DataFrame:
    """Document pairs sharing winnowing fingerprints — the candidate
    local-clone report: (doc_a, doc_b, shared_fps), doc_a < doc_b,
    ordered by shared count.

    Scale shape: the join key is the FINGERPRINT (bucketed equality
    join — candidates are Σ|fp bucket|², never all-pairs), and the
    ``max_df`` gate drops fingerprints appearing in more than that many
    documents BEFORE the self-join — a fingerprint shared by half the
    corpus is boilerplate, not clone signal, and its bucket would
    otherwise cost |bucket|² (the same hot-bucket discipline as the LSH
    pair join).  ``min_shared`` then requires corroboration from
    multiple fingerprints per pair.

    INPUT CONTRACT: ``docs`` carries ONE row per ``doc_id``.  The
    per-doc fingerprint dedup runs inside the row (``_fp_sets`` —
    ``array_distinct`` before the explode), which equals the
    historical corpus-wide ``.distinct()`` exactly because doc_id is
    part of the dedup key AND unique per input row; duplicated doc
    rows would emit duplicate (d, fp) rows and inflate ``df`` and
    ``shared_fps``.  Dedup upstream first (every registered caller
    reads the one-row-per-doc documents table).
    """
    if min_shared < 1 or max_df < 1:
        raise ValueError("min_shared and max_df must be >= 1")
    # the (doc, fp) set feeds THREE consumers (df counts + both sides
    # of the self-join): pin it so the winnowing scan runs once
    # (369.5 → 66.1 s at the 1M probe).
    # r13 (guide §2.4): the per-doc fp dedup runs INSIDE the row
    # (``_fp_sets`` — array_distinct before the explode), so the
    # corpus-wide ``.distinct()`` exchange this frame used to pay is
    # deleted; the row set is identical because doc_id is part of the
    # dedup key.
    fps = winnow_fingerprints(
        docs, n=n, w=w, text=text, doc_id=doc_id, _fp_sets=True
    ).select(F.col(doc_id).alias("d"), "fp")
    fps = pin(fps)
    rare = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= max_df)
        .select("fp")
    )
    pruned = fps.join(rare, "fp")
    pairs = (
        pruned.alias("a")
        .join(pruned.alias("b"), "fp")
        .filter(F.col("a.d") < F.col("b.d"))
        .groupBy(
            F.col("a.d").alias("doc_a"), F.col("b.d").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
    return pairs.orderBy(
        F.col("shared_fps").desc(),
        F.col("doc_a").asc(),
        F.col("doc_b").asc(),
    )


def _winnow_fps_cte(n: int, w: int) -> str:
    """Shared CTE chain (src → fps) for the winnowing twins; ``src``
    must yield (doc_id, t).  The hex→BIGINT arithmetic is the ONE
    shared implementation in :mod:`.sketches` — the engine-portability
    contract must not fork."""
    from .sketches import _hexval_sql

    hexv = _hexval_sql("s", 1, 15)
    gram = " || ' ' || ".join(f"sy[i + {j}]" for j in range(n))
    arg = (
        f"i + {w} - list_position(list_reverse(h[i : i + {w} - 1]),"
        f" list_min(h[i : i + {w} - 1]))"
    )
    return f"""toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(coalesce(t, '')), ' '),
                     x -> x <> '') AS sy
  FROM src
), grams AS (
  SELECT doc_id,
         list_transform(
           list_transform(generate_series(1, len(sy) - {n} + 1),
                          i -> substr(md5({gram}), 1, 15)),
           s -> CAST({hexv} AS BIGINT)) AS h
  FROM toks WHERE len(sy) >= {n}
), wins AS (
  SELECT doc_id, h,
         unnest(generate_series(1, len(h) - {w} + 1)) AS i
  FROM grams WHERE len(h) >= {w}
), fps AS (
  SELECT DISTINCT doc_id,
         CAST(({arg}) - 1 AS INT) AS pos,
         CAST(h[{arg}] AS BIGINT) AS fp
  FROM wins
)"""


def winnow_fingerprints_sql(source_sql: str, n: int = 4, w: int = 4) -> str:
    """DuckDB twin of :func:`winnow_fingerprints` — identical 60-bit
    gram hashes, identical rightmost-argmin selection.  ``source_sql``
    must yield (doc_id, t)."""
    return (
        f"WITH src AS (\n  {source_sql}\n), "
        + _winnow_fps_cte(n, w)
        + "\nSELECT doc_id, pos, fp FROM fps"
    )


def winnow_pairs_sql(
    source_sql: str,
    n: int = 4,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
) -> str:
    """DuckDB twin of :func:`winnow_pairs`."""
    return (
        f"WITH src AS (\n  {source_sql}\n), "
        + _winnow_fps_cte(n, w)
        + f""", uniq AS (
  SELECT DISTINCT doc_id AS d, fp FROM fps
), rare AS (
  SELECT fp FROM uniq GROUP BY fp HAVING COUNT(*) <= {max_df}
), pruned AS (
  SELECT d, uniq.fp FROM uniq JOIN rare ON uniq.fp = rare.fp
)
SELECT a.d AS doc_a, b.d AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS shared_fps
FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.d < b.d
GROUP BY 1, 2
HAVING COUNT(*) >= {min_shared}
ORDER BY shared_fps DESC, doc_a, doc_b"""
    )
