"""BPE tokenizer induction: learn byte-pair-encoding merge rules from
the corpus (Sennrich et al. 2016, "Neural Machine Translation of Rare
Words with Subword Units") — the tokenizer-fitting step of a training
pipeline, run where the data lives instead of funneling a corpus sample
through a single-node trainer.

Classic BPE is an ITERATIVE, data-dependent algorithm: count adjacent
symbol pairs, merge the most frequent everywhere, repeat.  The engine
shape that keeps it cheap is the classic trainer trick lifted to Spark:

- the corpus is scanned ONCE, into the (token, count) vocabulary
  aggregate — all later work runs on that bounded table (at web scale
  it is millions of rows where the corpus is billions);
- the merge loop runs on the DRIVER over the collected vocabulary
  (one model-scale collect — exactly the working set the reference
  trainer's get_stats holds), so ``n_merges`` costs zero extra Spark
  jobs instead of one sequential job per merge (see ``_train``);
- applying a merge is a scan-local string ``replace``: symbols are
  bracket-wrapped (``hello`` → ``<h><e><l><l><o>``) so the pattern
  ``<a><b>`` → ``<ab>`` matches exactly at symbol boundaries, and
  replace-all's left-to-right non-overlapping semantics ARE greedy
  leftmost BPE application (``<a><a><a>`` with merge (a,a) →
  ``<aa><a>``, exactly one merge).  Both engines implement replace-all
  identically, which is what makes the DuckDB twin hash-exact.

Pair counting follows the reference algorithm: overlapping occurrences
all count (``aaaa`` contributes 3 to (a,a)), ties break deterministically
by (count DESC, left ASC, right ASC) in binary collation.

Cost model: ONE corpus-scale aggregation + one vocabulary-scale
collect, then driver-local training — n_merges no longer multiplies
Spark jobs, so a production 30k-merge run costs the same cluster work
as a 12-merge one.

Tokens are restricted to ``TOKEN_PATTERN`` (lowercase alphanumeric) so
the ``<``/``>`` sentinels can never collide with symbol text — out-of-
alphabet tokens are EXCLUDED from training, the standard pre-tokenizer
posture, not silently mangled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Tokens the merges learn over, in both the Spark and the DuckDB twin.
TOKEN_PATTERN = "[a-z0-9]+"

MERGES_SCHEMA = (
    "rank INT, left_sym STRING, right_sym STRING, merged STRING,"
    " pair_count BIGINT"
)


def _vocab(docs: DataFrame) -> DataFrame:
    """(token, cnt, syms) — the corpus's single scan: whitespace-split,
    lowercase, alphabet-filtered, counted, and bracket-symbolized."""
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("token")
    ).filter(F.col("token").rlike(f"^{TOKEN_PATTERN}$"))
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "syms", F.regexp_replace(F.col("token"), "(.)", "<$1>")
        )
    )


def _apply_merge(state: DataFrame, a: str, b: str) -> DataFrame:
    return state.withColumn(
        "syms",
        F.replace(
            F.col("syms"), F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>")
        ),
    )


def _train(
    docs: DataFrame, n_merges: int
) -> tuple[list[tuple], DataFrame, DataFrame]:
    """Shared loop: returns (merge rows, final symbolized vocabulary,
    the base-vocab frame).

    OPTIMIZATION r13 (guide §1.2 step 1 — fix the distributed
    algorithm): the merge loop runs ON THE DRIVER over the collected
    ``(cnt, syms)`` vocabulary aggregate instead of one Spark job per
    merge.  The per-merge distributed argmax was ``n_merges``
    SEQUENTIAL driver jobs (scan cached vocab → explode pairs →
    shuffle → top-1), each paying full job latency for a one-row
    answer — 23 jobs / ~2.9 s per BPE query at sf0.1, and at any scale
    n_merges round-trips that cannot overlap.  The corpus-scale work —
    tokenize + count into the vocabulary — still runs in Spark (one
    aggregation, map-side combined); what moves to the driver is
    exactly the working set the reference BPE trainer (Sennrich et
    al.'s ``get_stats``/``merge_vocab``) holds in memory: the distinct-
    token table, Θ(|vocab|) strings, bounded by language vocabulary
    growth, not corpus size.  At fleet scale, bound it explicitly with
    a frequency floor on the vocab aggregate before training.

    The local loop replicates the distributed spelling exactly: pair
    extraction is ``syms.strip('<>').split('><')`` (≡ SQL ``trim(BOTH
    '<>')`` + ``split('><')``), overlapping pairs all count, argmax
    ties break (count DESC, left ASC, right ASC) in binary collation
    (ASCII ⊂ both engines' orderings), and the merge applies via
    ``str.replace`` — the same left-to-right non-overlapping semantics
    as ``F.replace``/DuckDB ``replace``.  The returned ``state`` frame
    re-derives the vocab scan lazily with the learned merges as chained
    scan-local replaces — zero extra jobs until a caller evaluates it.
    """
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    vocab = _vocab(docs)
    local = [
        (int(r["cnt"]), r["syms"])
        for r in vocab.select("cnt", "syms").collect()
    ]
    merges: list[tuple] = []
    for r in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for cnt, syms in local:
            parts = syms.strip("<>").split("><")
            for i in range(len(parts) - 1):
                key = (parts[i], parts[i + 1])
                counts[key] = counts.get(key, 0) + cnt
        if not counts:
            break
        (a, b), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((r, a, b, a + b, c))
        pat, rep = f"<{a}><{b}>", f"<{a}{b}>"
        local = [(cnt, syms.replace(pat, rep)) for cnt, syms in local]
    state = vocab
    for _, a, b, _m, _c in merges:
        state = _apply_merge(state, a, b)
    return merges, state, vocab


def bpe_merges(docs: DataFrame, n_merges: int = 12) -> DataFrame:
    """The learned merge table — BPE's model artifact: (rank, left_sym,
    right_sym, merged, pair_count), rank in learning order.  Fewer than
    ``n_merges`` rows when the corpus runs out of adjacent pairs.

    Nothing persists: the vocabulary is collected once and the merge loop runs
    on the driver."""
    merges, _state, _vocab_frame = _train(docs, n_merges)
    return docs.sparkSession.createDataFrame(merges, MERGES_SCHEMA)


def bpe_segment_vocab(docs: DataFrame, n_merges: int = 12) -> DataFrame:
    """Train ``n_merges`` rules and return every vocabulary token's
    resulting segmentation: (token, cnt, n_subwords, segmentation) with
    subwords space-joined — the fertility audit (subwords per token)
    that decides whether the merge budget is big enough."""
    _, state, _vocab_frame = _train(docs, n_merges)
    sy = F.split(F.expr("trim(BOTH '<>' FROM syms)"), "><")
    return state.select(
        "token",
        "cnt",
        F.size(sy).alias("n_subwords"),
        F.array_join(sy, " ").alias("segmentation"),
    )


def _stage_sql(i: int) -> str:
    """One unrolled iteration: pair counts over s{i-1}, deterministic
    argmax, merge applied by the same boundary-exact replace.  The
    apply is a LEFT JOIN (b{i} is 0-or-1 rows): when the corpus runs
    out of pairs before the merge budget, b{i} is EMPTY and the state
    must CARRY FORWARD unchanged — a CROSS JOIN would annihilate the
    vocabulary and make the segmentation twin return zero rows while
    the Spark side returns the full vocabulary (caught by review; the
    merge-table twin was unaffected because empty b{i} rows simply
    drop out of its UNION).

    Every CTE here and in :func:`_base_sql` is ``MATERIALIZED``: each
    stage reads the one before it twice (through p{i} and the join), so
    an inlined chain re-evaluates the base vocabulary ~2^n_merges times
    (sf0.01: 28 s and 43 s for the two twins, 0.1 s materialized)."""
    prev = f"s{i - 1}"
    return f"""p{i} AS MATERIALIZED (
  SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS c FROM (
    SELECT cnt, sy[i] AS a, sy[i + 1] AS b FROM (
      SELECT cnt, sy,
             unnest(generate_series(1, len(sy) - 1)) AS i
      FROM (SELECT cnt,
                   string_split(trim(syms, '<>'), '><') AS sy
            FROM {prev})
      WHERE len(sy) >= 2
    )
  ) GROUP BY 1, 2
), b{i} AS MATERIALIZED (
  SELECT a, b, c FROM p{i} ORDER BY c DESC, a ASC, b ASC LIMIT 1
), s{i} AS MATERIALIZED (
  SELECT token, cnt,
         CASE WHEN b.a IS NULL THEN syms
              ELSE replace(syms, '<' || b.a || '><' || b.b || '>',
                 '<' || b.a || b.b || '>')
         END AS syms
  FROM {prev} LEFT JOIN b{i} b ON TRUE
)"""


def _base_sql(source_sql: str) -> str:
    return f"""WITH src AS MATERIALIZED (
  {source_sql}
), words AS MATERIALIZED (
  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(lower(t), ' ')) AS token FROM src)
  WHERE regexp_matches(token, '^{TOKEN_PATTERN}$')
  GROUP BY 1
), s0 AS MATERIALIZED (
  SELECT token, cnt,
         regexp_replace(token, '(.)', '<\\1>', 'g') AS syms
  FROM words
)"""


def bpe_merges_sql(source_sql: str, n_merges: int = 12) -> str:
    """DuckDB twin of :func:`bpe_merges`: the iterations unroll into
    ``n_merges`` chained CTE stages — same pair counting, same argmax
    collation, same boundary-exact replace.  ``source_sql`` must yield
    one text column aliased ``t``."""
    stages = ",\n".join(_stage_sql(i) for i in range(1, n_merges + 1))
    union = "\nUNION ALL\n".join(
        f"SELECT {i} AS rank, a AS left_sym, b AS right_sym,"
        f" a || b AS merged, c AS pair_count FROM b{i}"
        for i in range(1, n_merges + 1)
    )
    return (
        _base_sql(source_sql)
        + ",\n"
        + stages
        + f"\nSELECT * FROM (\n{union}\n) ORDER BY rank"
    )


def bpe_segment_vocab_sql(source_sql: str, n_merges: int = 12) -> str:
    """DuckDB twin of :func:`bpe_segment_vocab`."""
    stages = ",\n".join(_stage_sql(i) for i in range(1, n_merges + 1))
    return (
        _base_sql(source_sql)
        + ",\n"
        + stages
        + f"""
SELECT token, cnt,
       CAST(len(string_split(trim(syms, '<>'), '><')) AS INT)
         AS n_subwords,
       array_to_string(string_split(trim(syms, '<>'), '><'), ' ')
         AS segmentation
FROM s{n_merges}"""
    )
