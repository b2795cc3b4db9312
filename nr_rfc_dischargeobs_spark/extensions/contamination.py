"""Benchmark contamination detection: which training documents contain
n-grams of a held-out evaluation set (the decontamination step every
serious pre-training pipeline runs before the corpus ships).

Standard n-gram-collision formulation: shingle BOTH sides into word
n-grams (``n`` around 8 — long enough that a collision is evidence of
copying, not of English), hash each shingle, and equi-join corpus shingles
to benchmark shingles.  A corpus doc's contamination score is how many of
its distinct n-grams appear anywhere in the benchmark.

Scale shape (100 TB corpus × small benchmark):
- the join key is ``md5(shingle)`` — 32 bytes travel, never document text;
- the benchmark side is tiny by construction (eval suites are MBs), so the
  join broadcasts: the corpus NEVER shuffles, contamination is one
  map-side pass over the corpus shingles;
- output is per-doc aggregate counts (map-side combine on doc_id), so the
  one real shuffle moves |contaminated docs| rows, not |shingles|.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import shingle_rows, tokens


def ngram_contamination(
    corpus: DataFrame, benchmark: DataFrame, n: int = 8
) -> DataFrame:
    """(doc_id, n_grams, n_contaminated, n_bench_docs, contamination)
    per corpus doc that collides with the benchmark at all.

    ``contamination`` = contaminated distinct n-grams / doc's distinct
    n-grams, exact integer counts divided once.

    The benchmark side is broadcast by an explicit hint (eval suites are
    MBs), and a hint is not governed by ``autoBroadcastJoinThreshold``:
    the join stays a broadcast whatever the threshold says
    (``test_contamination_broadcast_is_a_hint``).
    """
    corpus_sh = shingle_rows(corpus, n=n).select(
        F.col("doc_id"), F.md5(F.col("shingle")).alias("gram")
    )
    bench_sh = (
        shingle_rows(benchmark, n=n)
        .select(
            F.md5(F.col("shingle")).alias("gram"),
            F.col("doc_id").alias("bench_doc_id"),
        )
        .distinct()
    )
    # ONE corpus-shingle pass with NO distinct-expand: the benchmark side
    # pre-groups to one row per gram carrying its bench-doc set (tiny by
    # contract), so the broadcast LEFT join stays 1:1 with the distinct
    # corpus shingles and the aggregate is plain counts plus a set-union
    # of the (rare) hit lists.  Measured warm, min of 3, at 1M docs ×
    # 1k bench × 53M shingles: this plan 5.5 s; two aggregations over the
    # shingle stream joined at the end 9.1 s; LEFT join + 3×countDistinct
    # (expands every row threefold through the aggregate) 9.7 s.  Cold
    # first runs are 3-5× slower for every variant — compare warm only.
    bench_g = bench_sh.groupBy("gram").agg(
        F.collect_set("bench_doc_id").alias("__bdocs")
    )
    tagged = corpus_sh.join(F.broadcast(bench_g), "gram", "left")
    return (
        tagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__bdocs").alias("n_contaminated"),
            F.size(
                F.array_distinct(F.flatten(F.collect_list("__bdocs")))
            ).cast("long").alias("n_bench_docs"),
        )
        .filter(F.col("n_contaminated") > 0)
        .select(
            F.col("doc_id"),
            "n_grams",
            "n_contaminated",
            "n_bench_docs",
            (
                F.col("n_contaminated").cast("double") / F.col("n_grams")
            ).alias("contamination"),
        )
    )


def contamination_spans(
    corpus: DataFrame, benchmark: DataFrame, n: int = 8
) -> DataFrame:
    """The audit trail behind :func:`ngram_contamination`'s scores:
    one row per (corpus n-gram occurrence, implicated benchmark doc) —
    ``(doc_id, bench_doc_id, pos_first, pos_last, gram)`` with 0-based
    token offsets into the corpus document.

    Release-grade decontamination needs evidence, not just a ratio: which
    benchmark document leaked, and exactly where in the training doc —
    enough to excise the span or adjudicate a false positive.  Unlike the
    count path (per-doc DISTINCT shingles), every occurrence reports, so
    a twice-pasted eval question yields two spans.

    Same scale shape as the count path: positioned shingles are generated
    in the corpus scan projection, the benchmark side broadcasts
    pre-grouped (one row per gram carrying its bench-doc list), and the
    inner join emits only the (rare by contract) hits — the corpus never
    shuffles and nothing aggregates.  ``pos_last`` is capped at the last
    token for the partial tail shingle of short documents.
    """
    bench_g = (
        shingle_rows(benchmark, n=n)
        .select(
            F.md5(F.col("shingle")).alias("gram"),
            F.col("doc_id").alias("bench_doc_id"),
        )
        .distinct()
        .groupBy("gram")
        .agg(F.collect_set("bench_doc_id").alias("__bdocs"))
    )
    toks = corpus.select(
        F.col("doc_id"), tokens(F.col("text")).alias("__toks")
    )
    # same indexing discipline as shingle_rows: get() is 0-based and NULL
    # out of range; concat_ws drops NULLs, producing the partial tail
    idx = ", ".join(f"get(__toks, i + {k})" for k in range(n))
    pos_sh = toks.select(
        F.col("doc_id"),
        F.size("__toks").alias("__n_toks"),
        F.explode(
            F.expr(
                f"transform(sequence(0, greatest(size(__toks) - {n}, 0)),"
                f" i -> struct(i as pos, concat_ws(' ', {idx}) as shingle))"
            )
        ).alias("__s"),
    )
    hits = pos_sh.select(
        F.col("doc_id"),
        F.col("__n_toks"),
        F.col("__s.pos").alias("__pos"),
        F.md5(F.col("__s.shingle")).alias("gram"),
    ).join(F.broadcast(bench_g), "gram", "inner")
    return hits.select(
        F.col("doc_id"),
        F.explode("__bdocs").alias("bench_doc_id"),
        F.col("__pos").cast("long").alias("pos_first"),
        F.least(F.col("__pos") + (n - 1), F.col("__n_toks") - 1)
        .cast("long")
        .alias("pos_last"),
        "gram",
    )


def _bloom_positions(md5_hex: Column, m_bits: int, k: int) -> Column:
    """The k Bloom bit positions of one md5 hex digest — position j is
    the base-16 value of hex chars [4j, 4j+4) mod ``m_bits``.  Eight
    independent 16-bit words live in one digest, so k ≤ 8 costs ONE md5
    (the same one-digest hash-family economics as minhash's band mins,
    `dedup.py:minhash_signatures`)."""
    return F.array(
        *[
            (
                F.conv(F.substring(md5_hex, 4 * j + 1, 4), 16, 10)
                .cast("long")
                % m_bits
            ).cast("int")
            for j in range(k)
        ]
    )


def _check_bloom_dials(m_bits: int, k: int) -> None:
    if not (64 <= m_bits <= (1 << 16) and m_bits % 64 == 0):
        raise ValueError("m_bits must be in [64, 65536] and 64-divisible")
    if not 1 <= k <= 8:
        raise ValueError("k must be in [1, 8] (one md5 = eight 16-bit words)")


def bloom_build(
    benchmark: DataFrame, n: int = 8, m_bits: int = 1 << 16, k: int = 3
) -> list[int]:
    """Build the benchmark-side Bloom filter: ``m_bits`` bits packed into
    ``m_bits/64`` int64 words, ready to inline into :func:`bloom_screen`.

    This is the bounded-state form of the decontamination broadcast: the
    exact screen (:func:`ngram_contamination`) ships the benchmark's
    distinct gram set to every executor, which grows with the eval suite;
    the filter is a FIXED ``m_bits/8`` bytes (8 KiB at the 2^16 default)
    no matter how many benchmarks fold in — the shape Dolma-scale
    pipelines use for their "is this n-gram anywhere in eval?" gate.
    The price is a false-positive rate of ~(1-e^(-kn/m))^k, audited
    against the exact join in tests; false NEGATIVES are impossible, so
    the gate never under-flags (the direction that matters for release).

    The aggregation is benchmark-sized, not corpus-sized: distinct gram
    positions → ``bit_or`` per word — at most ``m_bits/64`` rows collect
    (a MODEL PARAMETER like a PQ codebook, not data).
    """
    _check_bloom_dials(m_bits, k)
    words = (
        shingle_rows(benchmark, n=n)
        .select(
            F.explode(
                _bloom_positions(F.md5(F.col("shingle")), m_bits, k)
            ).alias("pos")
        )
        .distinct()
        .groupBy((F.col("pos") / 64).cast("int").alias("word"))
        .agg(
            F.expr("bit_or(shiftleft(1L, pos % 64))").alias("bits")
        )
        .collect()
    )
    dense = [0] * (m_bits // 64)
    for r in words:
        dense[r["word"]] = r["bits"]
    return dense


def bloom_screen(
    corpus: DataFrame,
    bloom_words: list[int],
    n: int = 8,
    m_bits: int = 1 << 16,
    k: int = 3,
) -> DataFrame:
    """Scan-local Bloom decontamination gate: per corpus doc, how many of
    its distinct word n-grams the filter flags as benchmark members.

    Scale shape — this is the whole point of the Bloom form: ZERO joins
    and zero corpus shuffle of any kind.  The filter is a literal int64
    array composed as SQL text (one server-side parse: a 2¹⁶-entry
    literal measured 3.6-9.6 s to fold this way vs ~28 s as
    ``F.lit(list)``, whose py4j serialization is per element), the
    distinct-gram array, its md5 digests, and the k-position arrays are
    each staged in their own projection (HOF lambdas get no CSE —
    staging is the dial, see the span_dedup rebuild), and the membership
    test is pure row-local expression arithmetic: word = arr[pos/64],
    bit = (word >> pos%64) & 1 (arithmetic shift keeps bit 63 correct
    under two's complement).  The
    output aggregate is per-doc columns computed IN the scan projection —
    a 100 TB corpus streams through map tasks and nothing else.

    Output: (doc_id, n_grams, n_flagged, flagged_frac, flagged) for EVERY
    corpus doc — a gate emits a decision per doc; ``n_flagged`` is an
    upper bound on the exact screen's ``n_contaminated`` (no false
    negatives, property-tested).
    """
    _check_bloom_dials(m_bits, k)
    if len(bloom_words) != m_bits // 64:
        raise ValueError(
            f"bloom_words must hold {m_bits // 64} words, got {len(bloom_words)}"
        )
    warr = F.expr("array(" + ",".join(f"{w}L" for w in bloom_words) + ")")
    # NULL text coalesces to '' so size() never returns the legacy -1
    # sentinel — without it a NULL-text doc reported n_grams = -1 and
    # flagged_frac = 1.0, corrupting any downstream aggregate of the
    # promised per-doc decision rows
    toks = corpus.select(
        F.col("doc_id"),
        tokens(F.coalesce(F.col("text"), F.lit(""))).alias("__toks"),
    )
    if n == 1:
        grams = F.array_distinct(F.col("__toks"))
    else:
        idx = ", ".join(f"get(__toks, i + {j})" for j in range(n))
        grams = F.array_distinct(
            F.expr(
                f"transform(sequence(0, greatest(size(__toks) - {n}, 0)),"
                f" i -> concat_ws(' ', {idx}))"
            )
        )
    # degenerate docs (empty/whitespace text) carry no real grams — the
    # all-NULL concat_ws '' gram must not probe the filter (md5('') is a
    # fixed position set every degenerate doc would share)
    grams = F.filter(grams, lambda g: F.trim(g) != "")
    staged = toks.select(
        F.col("doc_id"),
        F.transform(
            grams, lambda g: _bloom_positions(F.md5(g), m_bits, k)
        ).alias("__poss"),
    )
    # F.shiftright only takes a Python-int shift; call_function passes the
    # column-valued bit offset through to the same JVM expression
    bit_set = lambda p: (  # noqa: E731
        F.call_function(
            "shiftright",
            F.element_at(warr, (p / 64).cast("int") + 1),
            (p % 64).cast("int"),
        ).bitwiseAND(F.lit(1).cast("long"))
        == 1
    )
    flagged = F.size(
        F.filter(F.col("__poss"), lambda ps: F.forall(ps, bit_set))
    )
    # stage the k-probe membership scan ONCE: HOFs are CodegenFallback
    # with no CSE, so inlining `flagged` into the three output columns
    # would run the whole filter+forall over every gram's positions 3×
    # per row — the dominant row-local cost of the screen.  A non-cheap
    # column referenced three times downstream survives CollapseProject
    # (the span_dedup staging discipline).
    counted = staged.select(
        F.col("doc_id"),
        F.size("__poss").cast("long").alias("n_grams"),
        flagged.cast("long").alias("__flag"),
    )
    return counted.select(
        F.col("doc_id"),
        "n_grams",
        F.col("__flag").alias("n_flagged"),
        F.when(
            F.col("n_grams") > 0,
            F.col("__flag").cast("double") / F.col("n_grams"),
        )
        .otherwise(F.lit(0.0))
        .alias("flagged_frac"),
        (F.col("__flag") > 0).alias("flagged"),
    )


def bloom_decontamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    m_bits: int = 1 << 16,
    k: int = 3,
) -> DataFrame:
    """:func:`bloom_build` + :func:`bloom_screen` in one call — the
    fixed-memory sibling of :func:`ngram_contamination` for the common
    case where build and screen run in one job."""
    return bloom_screen(
        corpus,
        bloom_build(benchmark, n=n, m_bits=m_bits, k=k),
        n=n,
        m_bits=m_bits,
        k=k,
    )
