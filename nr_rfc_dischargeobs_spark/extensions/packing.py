"""Sequence packing: assign documents to fixed-token-budget training
sequences (the concat-and-chunk layout every LLM pre-training loader uses —
documents concatenated in a deterministic order and cut into
``budget``-token blocks, so a document may straddle two blocks).

The assignment is pure window arithmetic — a running token total per
*packing shard* — so it is deterministic, engine-portable, and, unlike
greedy first-fit (whose block boundaries depend recursively on every prior
decision), expressible as one cumulative sum:

    start    = Σ tokens of earlier docs in the shard   (exclusive cumsum)
    seq_first = start div budget
    seq_last  = (start + n_tokens - 1) div budget

Scale shape (100 TB): a single global running sum would be one sorted
partition — a non-starter.  Sharding by a portable key-hash first
(``sampling.hash_bucket``) makes each shard an independent packing stream:
the window partitions by shard, every executor packs its shards in
parallel, and the shard count dials partition size (fleet runs use
thousands; the global-order guarantee nobody needs at 100 TB is traded for
linear scalability).  Membership is stable under corpus *re-partitioning*
(order inside a shard is (doc_id), not file order); appends extend each
shard's tail without moving earlier docs' offsets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .sampling import BUCKETS, hash_bucket, hash_bucket_sql

_SALT = "pack"


def span_columns(budget: int) -> tuple[Column, Column, Column]:
    """(seq_first, seq_last, n_seqs) expressions over columns
    ``cum_end`` / ``n_tokens``.

    Integer ``div``, not ``floor(long / int)``: Spark evaluates ``/`` on a
    long as DOUBLE division, so ``floor`` is exact only below 2⁵³, while
    the DuckDB twin's ``//`` is true integer division at any magnitude.
    ``div`` keeps both engines exact to the full int64 range — pinned by
    ``test_pack_span_exact_beyond_2_53``.
    """
    seq_first = F.expr(f"(cum_end - n_tokens) div {budget}")
    # a zero-token doc (NULL text) occupies no block: span = (first, first,
    # 0).  Without the guard, cum_end-1 can be negative at a shard head,
    # where floor division and truncating division disagree.
    empty = F.col("n_tokens") == 0
    seq_last = F.when(empty, seq_first).otherwise(
        F.expr(f"(cum_end - 1) div {budget}")
    )
    n_seqs = (
        F.when(empty, F.lit(0).cast("long"))
        .otherwise(seq_last - seq_first + 1)
    )
    return seq_first, seq_last, n_seqs


def pack_assignments(
    docs: DataFrame, budget: int = 512, shards: int = 8
) -> DataFrame:
    """(doc_id, shard, n_tokens, start_offset, seq_first, seq_last,
    n_seqs) — all exact BIGINTs.  One shuffle on ``shard``.

    ``shards`` is capped at 65536: :func:`sampling.hash_bucket` yields 16
    bits, so a larger count would silently collapse to 65536 effective
    shards.  Non-divisor counts carry the usual tiny modulo bias
    (≤ 1/65536 per shard) — fine for load-spreading, stated here so nobody
    mistakes the buckets for exactly uniform.
    """
    if not 1 <= shards <= BUCKETS:
        raise ValueError(
            f"shards must be in [1, {BUCKETS}]: hash_bucket yields 16 bits,"
            f" so {shards} shards would alias to {BUCKETS}"
        )
    # NULL text packs as zero tokens (occupies no block space) instead of
    # poisoning its row with NULL offsets — mirrored in the SQL twin
    n_tokens = F.coalesce(
        F.size(F.split(F.col("text"), r"\s+")).cast("long"), F.lit(0)
    )
    base = docs.select(
        F.col("doc_id"),
        (hash_bucket(F.col("doc_id"), _SALT) % shards)
        .cast("long")
        .alias("shard"),
        n_tokens.alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.select(
        F.col("doc_id"),
        "shard",
        "n_tokens",
        F.sum("n_tokens").over(w).alias("cum_end"),
    )
    seq_first, seq_last, n_seqs = span_columns(budget)
    return cum.select(
        F.col("doc_id"),
        "shard",
        "n_tokens",
        (F.col("cum_end") - F.col("n_tokens")).alias("start_offset"),
        seq_first.alias("seq_first"),
        seq_last.alias("seq_last"),
        n_seqs.alias("n_seqs"),
    )


def pack_assignments_sql(budget: int = 512, shards: int = 8) -> str:
    """DuckDB twin of :func:`pack_assignments` — same window arithmetic;
    the zero-token CASE keeps both engines off the one negative operand
    (cum_end - 1 at a shard head) where floor and truncation diverge."""
    bucket = hash_bucket_sql("doc_id", _SALT)
    return rf"""
WITH base AS (
  SELECT doc_id,
         {bucket} % {shards} AS shard,
         COALESCE(CAST(len(regexp_split_to_array(text, '\s+')) AS BIGINT),
                  0) AS n_tokens
  FROM documents
), summed AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (
           PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS cum_end
  FROM base
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
       CAST(cum_end - n_tokens AS BIGINT) AS start_offset,
       CAST((cum_end - n_tokens) // {budget} AS BIGINT) AS seq_first,
       CAST(CASE WHEN n_tokens = 0 THEN (cum_end - n_tokens) // {budget}
                 ELSE (cum_end - 1) // {budget} END AS BIGINT) AS seq_last,
       CAST(CASE WHEN n_tokens = 0 THEN 0
                 ELSE (cum_end - 1) // {budget}
                      - (cum_end - n_tokens) // {budget} + 1
            END AS BIGINT) AS n_seqs
FROM summed
"""


def pack_sequence_rows(
    docs: DataFrame, budget: int = 512, shards: int = 8
) -> DataFrame:
    """MATERIALIZE the packed training sequences — the physical rows a
    training loader reads: :func:`pack_assignments` decides where every
    document's tokens land; this emits one row per (shard, seq) with the
    actual ``budget``-token stream (tail sequences run short), documents
    concatenated in the shard's deterministic (doc_id) order and cut at
    block boundaries, straddling docs split across rows.

    Scale shape: the corpus moves exactly TWICE, and both moves are
    inherent to the output — one shuffle to the packing shard (the
    cum-sum window needs shard-local order; the token payload rides
    along because that is where its bytes must end up), then each doc
    explodes into its ≤ n_seqs per-block contributions (row-local slice
    arithmetic, no re-tokenization) and one shuffle keyed (shard, seq)
    assembles blocks with an order-explicit ``array_sort`` on
    start_offset.  No global sort anywhere; parallelism = shard count ×
    blocks.

    Token identity: the same ``split(text, '\\s+')`` stream
    :func:`pack_assignments` counts, so ``Σ n_tokens`` over sequences ==
    Σ over docs, and every sequence except a shard's tail is exactly
    ``budget`` tokens — both pinned in tests.

    Output: (shard, seq, n_tokens, text).
    """
    if not 1 <= shards <= BUCKETS:
        raise ValueError(
            f"shards must be in [1, {BUCKETS}]: hash_bucket yields 16 bits,"
            f" so {shards} shards would alias to {BUCKETS}"
        )
    toks_expr = F.coalesce(
        F.split(F.col("text"), r"\s+"),
        F.array().cast("array<string>"),
    )
    base = docs.select(
        F.col("doc_id"),
        (hash_bucket(F.col("doc_id"), _SALT) % shards)
        .cast("long")
        .alias("shard"),
        toks_expr.alias("__toks"),
    ).withColumn("n_tokens", F.size("__toks").cast("long"))
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.select(
        "shard",
        "__toks",
        "n_tokens",
        F.sum("n_tokens").over(w).alias("cum_end"),
    ).filter(F.col("n_tokens") > 0)
    seq_first, seq_last, _ = span_columns(budget)
    contrib = cum.select(
        "shard",
        (F.col("cum_end") - F.col("n_tokens")).alias("start_offset"),
        "__toks",
        "n_tokens",
        seq_first.alias("__q0"),
        seq_last.alias("__q1"),
    ).select(
        "shard",
        "start_offset",
        F.explode(
            F.expr(
                "transform(sequence(__q0, __q1), q -> struct("
                "q AS seq,"
                f" slice(__toks, cast(greatest(q * {budget}"
                " - start_offset, 0) as int) + 1,"
                f" cast(least((q + 1) * {budget}, start_offset + n_tokens)"
                f" - greatest(q * {budget}, start_offset) as int))"
                " AS piece))"
            )
        ).alias("c"),
    ).select(
        "shard",
        F.col("c.seq").alias("seq"),
        "start_offset",
        F.col("c.piece").alias("piece"),
    )
    assembled = contrib.groupBy("shard", "seq").agg(
        F.flatten(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("start_offset", "piece"))
                ),
                lambda s: s["piece"],
            )
        ).alias("__seq_toks")
    )
    return assembled.select(
        "shard",
        "seq",
        F.size("__seq_toks").cast("long").alias("n_tokens"),
        F.concat_ws(" ", "__seq_toks").alias("text"),
    )
