"""Corpus curation: the composed LLM-training-data pipeline
(quality gate → exact dedup → MinHash-LSH candidates → Jaccard verify).

One function chains the §2.10 operators the way a production pre-training
pipeline does; every stage is the already-tested operator, so the
composition adds policy, not logic:

1. quality gate — drop docs outside [min_words, max_words] or below the
   uniqueness floor (``text.quality_scores`` signals);
2. exact dedup — one survivor (min doc_id) per normalized fingerprint
   (``text.fingerprint``: formatting-only variants collapse too);
3. near-dup — MinHash band signatures (``dedup``) generate candidate
   pairs, Jaccard ≥ threshold verifies them; the LOWER doc_id of every
   verified pair is the keeper and the higher is dropped.  This per-edge
   min-id rule (not connected components) is deliberate: it is
   order-independent, one SQL window, and strictly conservative —
   anything it keeps, a component-based rule would also keep a
   representative for.

Scale shape: the gate and fingerprints are scan-fused expressions; exact
dedup shuffles 16-byte fingerprints; LSH shuffles (band, signature) keys
with Σ|bucket|² candidate cost; Jaccard verification touches only candidate
pairs.  Document text itself is never shuffled after the shingle explode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import pin
from . import dedup as dd
from . import text as tx


def rule_gate(
    docs: DataFrame,
    min_words: int | None = None,
    max_words: int | None = None,
    min_uniq: float | None = None,
) -> DataFrame:
    """The scan-fused rule gate: every ``docs`` column plus ``n_words``
    and ``uniq_ratio``, filtered to the thresholds — ONE scan, ONE
    tokenization per row.

    r14 (guide §2.4/§4.4 analogue for built-ins): the r13 fused
    spelling computed the gate signals directly in the filter's
    projection, and predicate pushdown + projection collapse then
    re-evaluated the regex tokenizer once per predicate reference
    (~4× per row; no cross-predicate CSE in the collapsed filter).
    Staging the token array behind ``F.shuffle`` — NONDETERMINISTIC by
    declaration, so neither CollapseProject nor PushDownPredicate may
    inline or duplicate it — pins exactly one tokenizer evaluation per
    row.  Every consumer is permutation-invariant (``size``,
    ``size∘array_distinct``), so the values, the kept-row set, and the
    output hashes are bit-identical to both prior spellings; the
    interleaved A/B (idle box, noop sink) measured
    fused 2.97 s / join 3.10 s / this 2.63 s median on the full
    curate_corpus pipeline at sf0.1.  The marker's only optimizer
    effect is local: the gate predicates were never scan-pushable
    (derived columns), and nothing upstream of the gate exists for
    other predicates to push past.

    Raises ``ValueError`` when ``docs`` already has a column the gate
    adds (``n_words``, ``uniq_ratio`` or the private ``__toks``): the
    output would carry two columns of that name.
    """
    clash = sorted(
        {"n_words", "uniq_ratio", "__toks"} & {c.lower() for c in docs.columns}
    )
    if clash:
        raise ValueError(
            f"rule_gate: docs already has column(s) {clash}; rename or drop"
            " them — the gate adds n_words and uniq_ratio itself"
        )
    toks = F.shuffle(tx._tokens(F.col("text")))
    staged = docs.select("*", toks.alias("__toks"))
    n_words_raw = F.size(F.col("__toks"))
    gated = staged.select(
        "*",
        n_words_raw.cast("long").alias("n_words"),
        (
            F.size(F.array_distinct(F.col("__toks"))).cast("double")
            / n_words_raw
        ).alias("uniq_ratio"),
    )
    cond = F.lit(True)
    if min_words is not None:
        cond = cond & (F.col("n_words") >= min_words)
    if max_words is not None:
        cond = cond & (F.col("n_words") <= max_words)
    if min_uniq is not None:
        cond = cond & (F.col("uniq_ratio") >= min_uniq)
    return gated.filter(cond).drop("__toks")


def curate_corpus(
    docs: DataFrame,
    shingle_n: int = 3,
    cache_shingles: bool = False,
) -> DataFrame:
    """Returns the kept documents: (doc_id, n_words, uniq_ratio).

    Deterministic end-to-end: every survivor choice is a min over exact
    integers/hashes, so the output is reproducible across engines,
    partitionings, and retries.
    """
    # r13 (guide §2.4): the gate signals are scan-local expressions over
    # ``text``, so compute them ON the docs scan and filter in place —
    # the previous quality_scores(docs) ⋈ docs spelling read the corpus
    # twice and paid a doc_id-keyed join (measured: 2 scans + 1 BHJ →
    # 1 scan, 0 join).  r14: single-tokenization staging via
    # :func:`rule_gate` (see its docstring for the A/B numbers).
    gated = rule_gate(docs, min_words=10, max_words=5000, min_uniq=0.2)

    # exact: min doc_id per normalized fingerprint.  groupBy-min, not a
    # row_number window: the survivor rule is a plain min, so the partial
    # aggregate combines map-side and only (fingerprint, min_id) rows reach
    # the exchange — a window would shuffle-and-sort EVERY row.  Measured
    # at sf0.1 warm: 2.5 s vs 2.9 s whole-pipeline; the gap widens with
    # duplicate mass.
    fp = tx.fingerprint(gated)
    exact_kept = (
        fp.groupBy("fingerprint")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    survivors = gated.join(exact_kept, "doc_id")
    if cache_shingles:
        # three consumers re-scan this subtree (shingles, and both ends of
        # the final anti-join); same materialize-once trade as the shingle
        # table — at fleet scale both are intermediate TABLES, not caches
        survivors = pin(survivors)

    # near-dup: banded MinHash candidates, Jaccard-verified, drop higher id.
    # Trigram shingles + r=2 bands: unigrams over a small vocabulary give
    # every pair high baseline overlap (candidates ≈ n²); trigrams make
    # overlap track real similarity and r=2 suppresses the rest as s².
    dropped = near_dup_drop_ids(
        survivors,
        shingle_n=shingle_n,
        cache_shingles=cache_shingles,
    )
    kept = survivors.join(dropped, "doc_id", "left_anti")
    return kept.select("doc_id", "n_words", "uniq_ratio")


def near_dup_drop_ids(
    docs: DataFrame,
    bands: int = 4,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
    cache_shingles: bool = False,
) -> DataFrame:
    """The near-dup DROP LIST (one ``doc_id`` column): the higher id of
    every Jaccard-verified MinHash-LSH candidate pair.  Shared by the
    composed batch pipeline (:func:`curate_corpus`) and the periodic
    compaction job over landed streaming output
    (:func:`~..streaming.documents.compact_near_dups`) — one rule, two
    drivers, like every other gate.
    """
    # the shingle table feeds signatures, sizes, and both sides of the
    # intersection join; caching it trades memory for 4 subtree re-scans
    # (at fleet scale, materialize it as a table instead)
    shingles = dd.shingle_rows(docs, n=shingle_n)
    if cache_shingles:
        shingles = pin(shingles)
    # r13 (guide §2.4): the shingle-set sizes ride the signature groupBy
    # (``with_count``) and thread through the LSH pair join as two ints
    # (``carry``) — the separate sizes aggregation over the shingle
    # table and the two re-attach joins on the verifier are deleted.
    # n_sh is count(1) over the SAME distinct-per-doc shingle rows the
    # old sizes aggregation counted, so na/nb and every verdict are
    # bit-identical.
    sigs = dd.minhash_signatures(
        shingles, bands=bands, rows_per_band=rows_per_band, with_count=True,
    )
    candidates = dd.lsh_candidate_pairs(
        sigs, bands=bands, carry=("n_sh",)
    )
    inter = (
        candidates.join(
            shingles.select(
                F.col("doc_id").alias("doc_a"), F.col("shingle")
            ),
            "doc_a",
        )
        .join(
            shingles.select(
                F.col("doc_id").alias("doc_b"), F.col("shingle")
            ),
            ["doc_b", "shingle"],
        )
        .groupBy(
            "doc_a",
            "doc_b",
            F.col("n_sh_a").alias("na"),
            F.col("n_sh_b").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    verified = inter.filter(
        F.col("n_inter").cast("double")
        / (F.col("na") + F.col("nb") - F.col("n_inter"))
        >= jaccard_threshold
    )
    return verified.select(F.col("doc_b").alias("doc_id")).distinct()
