"""Deterministic sampling / dataset splits.

Training pipelines need splits that are (a) reproducible across runs,
engines, and partitionings, (b) stable under corpus growth (a doc's split
never changes when other docs arrive), and (c) free of coordination — no
``rand()`` (non-deterministic under retries), no ``row_number`` over a
global sort (a full-shuffle barrier at 100 TB).

``hash_bucket`` maps a key to [0, 65536) via the first 16 bits of
``md5(salt|key)`` — byte-portable to any engine with md5 — and splits are
threshold comparisons on that bucket.  Salting gives independent splits
from the same keys (change the salt, get a fresh assignment).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import pin

HEX = "0123456789abcdef"
BUCKETS = 1 << 16


def hash_bucket(key: Column, salt: str = "split") -> Column:
    """[0, 65536) bucket from md5(salt|key) — pure generated expressions,
    identical in any engine.

    The bucket is the base-16 value of the first four md5 hex digits —
    ONE ``conv`` over ONE ``substring``, referencing the md5 column once.
    The earlier per-nibble instr-arithmetic spelling computed the same
    value but referenced ``h`` four times, and inside higher-order
    functions (CodegenFallback, no common-subexpression elimination) that
    re-evaluated the md5 4× per token — a ~4× win for the hashed
    classifier at 1M×60-token docs (120 s → 24.5-35 s across probe runs;
    the residual is the one genuine md5 per token).  The DuckDB twin keeps the
    nibble arithmetic (same value; it only runs on test-sized inputs).
    """
    h = F.md5(F.concat_ws("|", F.lit(salt), key.cast("string")))
    return F.conv(F.substring(h, 1, 4), 16, 10).cast("int")


def hash_bucket_sql(key_sql: str, salt: str = "split") -> str:
    """The DuckDB-dialect twin of :func:`hash_bucket` (strpos == instr)."""
    h = f"md5('{salt}' || '|' || CAST({key_sql} AS VARCHAR))"
    parts = [
        f"(strpos('{HEX}', substr({h}, {i + 1}, 1)) - 1) * {16 ** (3 - i)}"
        for i in range(4)
    ]
    return "(" + " + ".join(parts) + ")"


def deterministic_split(
    df: DataFrame,
    key: str,
    train_frac: float = 0.9,
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Label each row 'train'/'val' by key hash — scan-fused, shuffle-free,
    stable under appends."""
    threshold = int(train_frac * BUCKETS)
    bucket = hash_bucket(F.col(key), salt)
    return df.withColumn(
        out_col,
        F.when(bucket < threshold, F.lit("train")).otherwise(F.lit("val")),
    )


def stratified_sample(
    df: DataFrame,
    key: str,
    stratum: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    salt: str = "stratified",
) -> DataFrame:
    """Keep each row with its stratum's rate, decided by the row key's hash —
    the training-mix rebalancer (downsample dominant languages/sources,
    keep the rare ones whole).

    Same guarantees as :func:`deterministic_split`: scan-fused expressions,
    no shuffle, no rand(), membership stable under appends and retries —
    a doc's fate depends only on (salt, key, its own stratum).
    """
    bucket = hash_bucket(F.col(key), salt)
    threshold = F.lit(int(default_rate * BUCKETS))
    for value, rate in rates.items():
        threshold = F.when(
            F.col(stratum) == value, F.lit(int(rate * BUCKETS))
        ).otherwise(threshold)
    return df.filter(bucket < threshold)


def token_mix_rates(
    docs: DataFrame,
    targets: dict[str, float],
    budget_tokens: int,
    stratum: str = "lang",
    text: str = "text",
) -> DataFrame:
    """Token-budget mix planning: given target corpus proportions per
    stratum (language, source, quality band) and a total token budget,
    compute the per-stratum sampling rate that hits the mix —
    ``(stratum, n_docs, n_tokens, target_tokens, rate)``.

    The planner every curated pre-training corpus needs (the FineWeb /
    Dolma "mixing" step): measure what you have (one combine-friendly
    aggregation over whitespace token counts — the same count
    ``pack_assignments`` budgets with), state what you want
    (``target_frac × budget``), and the keep-rate is their ratio capped
    at 1 (an under-represented stratum can only be kept whole — flagged
    by ``rate = 1.0`` with ``target_tokens > n_tokens`` — never
    upsampled here; repetition policy is a training-loader decision).
    Strata absent from ``targets`` get rate 0 (excluded from the mix).

    Exactness: per-stratum target token counts are materialized as
    INTEGERS in Python (``int(frac * budget)``) and embedded in both
    engines' plans, so the only float op is one final division —
    deterministic across engines and partitionings.  Feed the rates to
    :func:`stratified_sample` to realize the mix membership-stably.

    Scale shape: one groupBy on the stratum key (map-side combined), a
    CASE expression for the targets — output is |strata| rows, so the
    result itself broadcasts into whatever consumes it.
    """
    n_tok = F.coalesce(
        F.size(F.split(F.col(text), r"\s+")).cast("long"), F.lit(0)
    )
    per = (
        docs.select(F.col(stratum).alias("stratum"), n_tok.alias("__t"))
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__t").alias("n_tokens"),
        )
    )
    target = F.lit(0).cast("long")
    for value, frac in targets.items():
        target = F.when(
            F.col("stratum") == value, F.lit(int(frac * budget_tokens))
        ).otherwise(target)
    return per.select(
        "stratum",
        "n_docs",
        "n_tokens",
        target.alias("target_tokens"),
        F.least(
            F.lit(1.0),
            target.cast("double") / F.col("n_tokens"),
        ).alias("rate"),
    )


def token_mix_rates_sql(
    targets: dict[str, float],
    budget_tokens: int,
    stratum_sql: str = "lang",
    table: str = "documents",
) -> str:
    """DuckDB twin of :func:`token_mix_rates` — same embedded integer
    targets, same single division."""
    cases = " ".join(
        f"WHEN stratum = '{v}' THEN {int(f * budget_tokens)}"
        for v, f in targets.items()
    )
    return rf"""
WITH per AS (
  SELECT {stratum_sql} AS stratum,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(COALESCE(len(regexp_split_to_array(text, '\s+')), 0))
              AS BIGINT) AS n_tokens
  FROM {table} GROUP BY 1
)
SELECT stratum, n_docs, n_tokens,
       CAST(CASE {cases} ELSE 0 END AS BIGINT) AS target_tokens,
       LEAST(1.0, CAST(CASE {cases} ELSE 0 END AS DOUBLE) / n_tokens)
         AS rate
FROM per
"""


def stratified_sample_sql(
    key_sql: str,
    stratum_sql: str,
    rates: dict[str, float],
    default_rate: float = 1.0,
    salt: str = "stratified",
) -> str:
    """DuckDB twin of :func:`stratified_sample`'s filter predicate."""
    cases = " ".join(
        f"WHEN {stratum_sql} = '{v}' THEN {int(r * BUCKETS)}"
        for v, r in rates.items()
    )
    return (
        f"{hash_bucket_sql(key_sql, salt)} < "
        f"(CASE {cases} ELSE {int(default_rate * BUCKETS)} END)"
    )


def shard_plan(
    df: DataFrame,
    key: str,
    shards: int = 64,
    salt: str = "shard",
) -> DataFrame:
    """Deterministic global shuffle + shard layout for training export:
    every row gets a ``(shard, pos)`` address — which output file it
    lands in and where inside it — reproducible across runs, engines,
    and partitionings.

    This is the "global shuffle" a training exporter needs WITHOUT the
    global sort it must never pay: shard = key-hash bucket mod ``shards``
    (rows scatter uniformly, adjacent source rows land apart — exactly
    what shuffling is for), and ``pos`` orders rows *within* one shard by
    the full md5 hex of the order-salted key (ties by key).  The plan is
    ONE shuffle keyed by ``shard`` plus a per-shard local sort — no
    all-shards barrier, no driver state; at fleet scale each shard is one
    writer task (``shards`` sized so a shard fits a task: 100 TB / 64 MB
    targets ⇒ millions of shards — the 65536-bucket ceiling of
    :func:`hash_bucket` is lifted by deriving the shard from 8 hex
    nibbles here, good for 4×10⁹ shards).

    Stability: a row's SHARD never changes under appends (pure key hash);
    ``pos`` is append-stable in distribution but, like any dense index,
    renumbers when earlier-hashed rows arrive — positions are a layout,
    not an identity.

    Output: (key, shard, pos, order_hex).
    """
    from pyspark.sql import Window

    h = F.md5(F.concat_ws("|", F.lit(salt), F.col(key).cast("string")))
    shard = F.lit(0).cast("long")
    for i in range(8):
        nibble = F.instr(F.lit(HEX), F.substring(h, i + 1, 1)) - 1
        shard = shard + nibble.cast("long") * F.lit(16 ** (7 - i)).cast(
            "long"
        )
    order_hex = F.md5(
        F.concat_ws("|", F.lit(salt), F.lit("order"), F.col(key).cast("string"))
    )
    w = Window.partitionBy("shard").orderBy(
        F.col("order_hex").asc(), F.col(key).asc()
    )
    return (
        df.select(
            F.col(key),
            (shard % shards).alias("shard"),
            order_hex.alias("order_hex"),
        )
        .withColumn("pos", F.row_number().over(w) - 1)
        .select(key, "shard", "pos", "order_hex")
    )


def shard_plan_sql(
    key_sql: str, shards: int = 64, salt: str = "shard", table: str = "documents"
) -> str:
    """DuckDB twin of :func:`shard_plan` (same 8-nibble shard, same
    order key)."""
    h = f"md5('{salt}' || '|' || CAST({key_sql} AS VARCHAR))"
    parts = [
        f"CAST(strpos('{HEX}', substr({h}, {i + 1}, 1)) - 1 AS BIGINT)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    ]
    shard = "((" + " + ".join(parts) + f") % {shards})"
    order_hex = (
        f"md5('{salt}' || '|' || 'order' || '|' || CAST({key_sql} AS VARCHAR))"
    )
    return f"""
SELECT {key_sql} AS key, {shard} AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY {shard}
                               ORDER BY {order_hex}, {key_sql}) - 1
            AS INT) AS pos,
       {order_hex} AS order_hex
FROM {table}
""".strip()


def source_caps(
    df: DataFrame,
    key: str = "doc_id",
    stratum: str = "source",
    cap: int = 100,
    salt: str = "cap",
    prerank_buckets: int = 16,
) -> DataFrame:
    """Per-domain quota enforcement (the RefinedWeb / C4 "no domain may
    dominate" rule): keep at most ``cap`` docs per ``stratum``, chosen by
    key-hash order (deterministic, append-biased toward nobody), and
    label every doc kept/dropped for the audit trail.

    The 100 TB shape is the point: a naive per-domain ``row_number``
    sorts EVERY doc of a hot domain on one task.  Here stage 1 pre-ranks
    within (stratum, hash-bucket) — ``prerank_buckets`` parallel slices
    of the domain — and keeps only each slice's top-``cap``; stage 2
    final-ranks the ≤ cap·buckets survivors per domain.  The survivor set
    provably contains the global top-cap (any doc in the true top-cap is
    in its slice's top-cap), so the result is IDENTICAL to the naive
    rank.  Honest bound: stage 1 still sorts |domain|/buckets rows on
    one task — a ×buckets parallelism improvement, not a cap bound (size
    ``prerank_buckets`` to the hottest domain); only stage 2's sort is
    cap·buckets-bounded.
    Dropped docs rejoin with ``kept = false`` via a broadcast-friendly
    left anti shape (the keeper set is |strata|·cap rows).

    Output: (key, stratum, kept, rank) — rank only for kept docs (the
    global per-domain rank of dropped docs is exactly the quantity the
    two-stage plan avoids computing).
    """
    from pyspark.sql import Window

    okey = F.md5(
        F.concat_ws("|", F.lit(salt), F.col(key).cast("string"))
    )
    base = df.select(
        F.col(key),
        F.col(stratum),
        okey.alias("__o"),
        (hash_bucket(F.col(key), salt + "-slice") % prerank_buckets).alias(
            "__b"
        ),
    )
    w1 = Window.partitionBy(stratum, "__b").orderBy(
        F.col("__o").asc(), F.col(key).asc()
    )
    survivors = (
        base.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= cap)
        .drop("__r1", "__b")
    )
    w2 = Window.partitionBy(stratum).orderBy(
        F.col("__o").asc(), F.col(key).asc()
    )
    keepers = (
        survivors.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= cap)
        .select(key, F.col("rank"))
    )
    return (
        base.select(key, stratum)
        .join(keepers, key, "left")
        .select(
            key,
            stratum,
            F.col("rank").isNotNull().alias("kept"),
            "rank",
        )
    )


def cluster_balanced_sample(
    prepared: DataFrame,
    coarse_rows: list[tuple[int, list[int]]],
    cap: int = 100,
    salt: str = "cbal",
    prerank_buckets: int = 16,
) -> DataFrame:
    """Cluster-balanced subsampling — :func:`source_caps`' quota rule
    applied to LEARNED embedding clusters instead of a metadata column
    (the MetaCLIP / DataComp balancing posture: cap each semantic
    cluster so dense head regions — boilerplate-adjacent, template-
    heavy — stop dominating the mix, while tail clusters keep
    everything they have).

    Pure composition of two audited pieces, inheriting both scale
    shapes: :func:`~.similarity.ivf_assign_local` assigns every vector
    to its nearest trained centroid with ZERO exchanges (centroids are
    literal expressions, the corpus never leaves its scan), and
    :func:`source_caps` enforces the per-cluster cap with the two-stage
    hash-ranked plan (no cluster ever sorts on one task).  Selection is
    deterministic and append-stable: membership of an already-kept
    vector can change only if new arrivals hash-rank ahead of it.

    ``coarse_rows`` is the trained coarse quantizer as plain Python
    data (``(list_id, quantized_vector)``) — train it with
    :func:`~.similarity.kmeans_lite` / ``kmeans_parallel_seeds``.

    Output: (vec_id, list_id, kept, rank) — rank only for kept rows.
    """
    from .similarity import ivf_assign_local

    assigned = ivf_assign_local(prepared, coarse_rows).select(
        "vec_id", "list_id"
    )
    return source_caps(
        assigned,
        key="vec_id",
        stratum="list_id",
        cap=cap,
        salt=salt,
        prerank_buckets=prerank_buckets,
    )


def dsir_log_ratio(
    docs: DataFrame,
    target_docs: DataFrame,
    raw_docs: DataFrame | None = None,
    n_buckets: int = 4096,
    alpha_inv: int = 100,
    text: str = "text",
    doc_id: str = "doc_id",
    salt: str = "lm",
    target_pred: Column | None = None,
) -> DataFrame:
    """DSIR importance weights (Xie et al., NeurIPS 2023 — "Data
    Selection for Language Models via Importance Resampling"): score
    every document by the log-likelihood ratio of a TARGET-domain
    bag-of-hashed-ngrams model over a RAW-corpus model,
    ``log ŵ(x) = log p_target(x) − log p_raw(x)``.  Documents that look
    like the target domain (Wikipedia, textbooks, whatever
    ``target_docs`` holds) score high; generic crawl text scores ~0;
    anti-target text scores negative.  This is the published
    importance-weighting recipe for "make the pretraining mix look like
    a quality domain" — the selection half is :func:`dsir_resample`.

    Model form: hashed BIGRAM bag models (the paper's hashed n-gram
    features at n=2), trained through the SAME
    :func:`~.text.bigram_lm_counts` aggregation as the CCNet-style LM
    gate, so count semantics are shared engine-wide.  Per-feature
    probability is add-α smoothed with α = ``1/alpha_inv`` —
    ``(c_b + α) / (N + α·n_buckets)``, spelled on the integer grid as
    ``log₂(alpha_inv·c_b + 1) − log₂(alpha_inv·N + n_buckets)``.  α must
    be SMALL: with add-ONE smoothing and corpora of only a few thousand
    n-grams (N ≪ n_buckets), both models collapse toward uniform and the
    ratio can even INVERT (the raw model, holding more mass, assigns
    rare junk less probability than the near-uniform target model — so
    junk out-scores target text; caught by the selection-bias unit
    test).  α = 1/100 keeps the model counts in charge at every corpus
    size while every log argument stays an exact integer;
    the per-occurrence log term and the per-doc normalization both snap
    to the integer grid (``round(log₂(·)·2²⁰)``) BEFORE summing — the
    :func:`~.text.token_entropy` discipline — so ``logw_scaled`` is
    bit-identical across engines and partitionings.

    Scale shape: two bounded (≤ ``n_buckets``-row) count tables + two
    1-row totals, all broadcast back; scoring never shuffles the corpus
    — the only corpus-keyed exchange is the final per-doc aggregate.
    Docs with 0 bigrams score the 0 sentinel (distinguish via
    ``n_feats``).

    Output: (doc_id, n_feats, logw_scaled, logw) — ``logw`` in log₂
    units (divide the scaled integer sum once).

    ``target_pred`` (r14, guide §2.4 — default ``None`` keeps the
    historical two-aggregation plan): when the target corpus is a
    row-filter of the raw corpus (the common "every Nth doc / this
    source column stands in for the target" setup), pass the predicate
    and BOTH count tables ride ONE tokenize + explode + aggregate over
    ``raw`` — ``cr = count(*)``, ``ct = count_if(pred)`` on the same
    bucket key — deleting a full corpus tokenization pass.  The caller
    must guarantee ``target_docs ≡ raw.filter(target_pred)`` row-for-row
    (``target_docs`` is ignored on this path); buckets with ``ct = 0``
    are dropped from the target table, so both tables carry exactly the
    rows the two-aggregation plan produced and every downstream value is
    bit-identical (pinned in tests/test_r14_pins.py).
    """
    from . import text as _t  # circular-safe: text never imports dsir
    from .text import _bigram_structs, _check_n_buckets, bigram_lm_counts

    SCALE = 1 << 20
    _check_n_buckets(n_buckets)
    if alpha_inv < 1:
        raise ValueError(f"alpha_inv must be >= 1, got {alpha_inv}")
    raw = raw_docs if raw_docs is not None else docs
    bucket = lambda c: (hash_bucket(c, salt) % n_buckets).cast("int")  # noqa: E731
    if target_pred is not None:
        # one corpus pass for both models: same tokenize/explode staging
        # and bucket expression as bigram_lm_counts, with the target
        # membership flag riding each bigram row as one boolean
        both = (
            raw.select(
                target_pred.alias("__t"),
                F.filter(
                    _t._tokens(F.coalesce(F.col(text), F.lit(""))),
                    lambda t: t != "",
                ).alias("__toks"),
            )
            .select(
                "__t",
                F.explode(_bigram_structs(F.col("__toks"))).alias("p"),
            )
            .groupBy(bucket(F.col("p.bg")).alias("bucket"))
            .agg(
                F.count(F.lit(1)).alias("cr"),
                F.sum(F.col("__t").cast("long")).alias("ct"),
            )
        )
        # one materialization feeds all four consumers (two totals +
        # two broadcast score joins)
        both = pin(both)
        bt = both.filter(F.col("ct") > 0).select("bucket", "ct")
        br = both.select("bucket", "cr")
    else:
        bt, _ = bigram_lm_counts(
            target_docs, n_buckets=n_buckets, text=text, salt=salt
        )
        br, _ = bigram_lm_counts(
            raw, n_buckets=n_buckets, text=text, salt=salt
        )
        bt = bt.select(F.col("bucket"), F.col("cb").alias("ct"))
        br = br.select(F.col("bucket"), F.col("cb").alias("cr"))
        # each count table feeds TWO consumers (its 1-row total and
        # the broadcast score join) — without a barrier both re-run the
        # full corpus-scan count aggregation (audited: 5 scans /
        # 8 exchanges → 3 scans / 4 with the pins).  The tables are
        # ≤ n_buckets rows.
        bt, br = pin(bt), pin(br)
    grid = lambda c: F.round(  # noqa: E731
        F.log2(c.cast("double")) * SCALE, 0
    ).cast("long")
    totals = (
        bt.agg(F.sum("ct").alias("__nt"))
        .crossJoin(br.agg(F.sum("cr").alias("__nr")))
        .select(
            (
                grid(
                    F.coalesce(F.col("__nt"), F.lit(0)) * alpha_inv
                    + n_buckets
                )
                - grid(
                    F.coalesce(F.col("__nr"), F.lit(0)) * alpha_inv
                    + n_buckets
                )
            ).alias("__norm")
        )
    )
    exploded = docs.select(
        F.col(doc_id),
        F.filter(
            _t._tokens(F.coalesce(F.col(text), F.lit(""))),
            lambda t: t != "",
        ).alias("__toks"),
    ).select(
        F.col(doc_id),
        F.explode_outer(_bigram_structs(F.col("__toks"))).alias("p"),
    ).select(
        doc_id,
        F.col("p.bg").isNotNull().alias("has"),
        bucket(F.col("p.bg")).alias("bb"),
    )
    term = grid(
        F.coalesce(F.col("ct"), F.lit(0)) * alpha_inv + 1
    ) - grid(F.coalesce(F.col("cr"), F.lit(0)) * alpha_inv + 1)
    per = (
        exploded.join(F.broadcast(bt), exploded["bb"] == bt["bucket"], "left")
        .drop("bucket")
        .join(F.broadcast(br), exploded["bb"] == br["bucket"], "left")
        .drop("bucket")
        .groupBy(doc_id)
        .agg(
            F.sum(F.col("has").cast("long")).alias("n_feats"),
            F.sum(
                F.when(F.col("has"), term).otherwise(F.lit(0))
            ).alias("__s"),
        )
        .crossJoin(F.broadcast(totals))
    )
    logw_scaled = F.col("__s") - F.col("n_feats") * F.col("__norm")
    return per.select(
        doc_id,
        "n_feats",
        F.when(F.col("n_feats") > 0, logw_scaled)
        .otherwise(F.lit(0).cast("long"))
        .alias("logw_scaled"),
        F.when(
            F.col("n_feats") > 0, logw_scaled.cast("double") / SCALE
        ).otherwise(F.lit(0.0)).alias("logw"),
    )


def dsir_resample(
    docs: DataFrame,
    target_docs: DataFrame,
    k: int,
    raw_docs: DataFrame | None = None,
    n_buckets: int = 4096,
    alpha_inv: int = 100,
    text: str = "text",
    doc_id: str = "doc_id",
    salt: str = "lm",
    gumbel_salt: str = "dsir-gumbel",
    target_pred: Column | None = None,
) -> DataFrame:
    """The selection half of DSIR: draw ``k`` documents ∝ their
    importance weights via the Gumbel-top-k trick — rank by
    ``ln ŵ(x) + Gumbel(0,1)`` and keep the top k, which IS sampling
    without replacement proportional to ŵ (Vieira 2014) — with the
    Gumbel noise DETERMINISTIC: ``u = (hash_bucket(doc_id) + 0.5) /
    65536`` (the engine's md5 split machinery, so the draw is
    reproducible across runs, engines, and partitionings — no
    ``rand()``), ``g = −ln(−ln u)``.

    Selection is a distributed top-k (``orderBy … limit k`` →
    TakeOrdered: per-partition heaps, no global sort barrier), tie-broken
    by doc_id.  Docs with 0 features carry weight sentinel 0 and are
    EXCLUDED — unscorable docs must not win lottery seats.

    Output: (doc_id, rank, logw, sel_key) — rank 1..k by descending
    perturbed key.

    ``target_pred`` forwards to :func:`dsir_log_ratio`'s fused-counts
    fast path (one corpus tokenization for both models; see there).
    """
    import math

    from pyspark.sql import Window

    weights = dsir_log_ratio(
        docs,
        target_docs,
        raw_docs,
        n_buckets=n_buckets,
        alpha_inv=alpha_inv,
        text=text,
        doc_id=doc_id,
        salt=salt,
        target_pred=target_pred,
    ).filter(F.col("n_feats") > 0)
    u = (
        hash_bucket(F.col(doc_id).cast("string"), gumbel_salt)
        .cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 16))
    # logw is log2-units; the Gumbel trick needs nats: ln w = logw·ln2
    sel_key = F.col("logw") * F.lit(math.log(2.0)) - F.log(-F.log(u))
    top = (
        weights.withColumn("sel_key", sel_key)
        .orderBy(F.col("sel_key").desc(), F.col(doc_id).asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("sel_key").desc(), F.col(doc_id).asc())
    return top.select(
        doc_id,
        F.row_number().over(w).alias("rank"),
        "logw",
        "sel_key",
    )


def dsir_log_ratio_trained(
    docs: DataFrame,
    target_counts,
    raw_counts,
    n_buckets: int = 4096,
    alpha_inv: int = 100,
    text: str = "text",
    doc_id: str = "doc_id",
    salt: str = "lm",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """:func:`dsir_log_ratio` under PRE-TRAINED models — the production
    split (fit the target and raw hashed-bigram models once, score
    everything under them) and the STREAMING-safe form, exactly the
    :func:`~.text.bigram_lm_scores_trained` recipe: ``target_counts`` /
    ``raw_counts`` are plain ``[(bucket, count), ...]`` rows or small
    DataFrames (model parameters), folded in Python into ONE dense
    literal array of per-bucket integer-grid ratio terms
    (``grid(A·ct+1) − grid(A·cr+1)``) plus a scalar normalization
    constant — scoring is one md5 + one array lookup per bigram, no
    joins, no count aggregations, fully row-local ⇒ stateless ⇒ lifts
    onto Structured Streaming unchanged.  Bit-identical to
    :func:`dsir_log_ratio` under the same counts (Python HALF-UP grid ==
    ``F.round`` grid — pinned by an equivalence test).

    Output: (doc_id, *passthrough, n_feats, logw_scaled, logw) —
    :func:`dsir_log_ratio`'s schema plus passthrough.
    """
    import math

    from .text import _bigram_structs, _check_n_buckets
    from .text import _tokens as _toks_expr

    SCALE = 1 << 20
    _check_n_buckets(n_buckets)
    if alpha_inv < 1:
        raise ValueError(f"alpha_inv must be >= 1, got {alpha_inv}")

    def rows_of(counts):
        if hasattr(counts, "collect"):
            counts = [(r[0], r[1]) for r in counts.collect()]
        return [(int(b), int(c)) for b, c in counts]

    def grid_py(x: int) -> int:
        # HALF-UP like F.round (args are >= 1, so no negative branch)
        return int(math.floor(math.log2(x) * SCALE + 0.5))

    ct_rows, cr_rows = rows_of(target_counts), rows_of(raw_counts)
    for b, _ in ct_rows + cr_rows:
        if not 0 <= b < n_buckets:
            raise ValueError(f"bucket {b} outside [0, {n_buckets})")
    ct = [0] * n_buckets
    cr = [0] * n_buckets
    for b, c in ct_rows:
        ct[b] = c
    for b, c in cr_rows:
        cr[b] = c
    terms = [
        grid_py(alpha_inv * ct[b] + 1) - grid_py(alpha_inv * cr[b] + 1)
        for b in range(n_buckets)
    ]
    norm = grid_py(alpha_inv * sum(c for _, c in ct_rows) + n_buckets) - (
        grid_py(alpha_inv * sum(c for _, c in cr_rows) + n_buckets)
    )
    tarr = F.expr("array(" + ",".join(f"{v}L" for v in terms) + ")")
    bucket1 = (
        lambda c: (hash_bucket(c, salt) % n_buckets).cast("int") + 1
    )  # noqa: E731
    staged = docs.select(
        F.col(doc_id),
        *[F.col(c) for c in passthrough],
        F.filter(
            _toks_expr(F.coalesce(F.col(text), F.lit(""))),
            lambda t: t != "",
        ).alias("__toks"),
    ).select(
        doc_id,
        *passthrough,
        _bigram_structs(F.col("__toks")).alias("__bigrams"),
    )
    s = F.aggregate(
        F.col("__bigrams"),
        F.lit(0).cast("long"),
        lambda acc, p: acc + F.element_at(tarr, bucket1(p["bg"])),
    )
    n_feats = F.size(F.col("__bigrams")).cast("long")
    logw_scaled = s - n_feats * F.lit(norm)
    # stage the per-doc fold ONCE: `logw_scaled` (one md5 + lookup per
    # bigram, interpreted — HOFs have no CSE) feeds BOTH output columns;
    # inlined, the dominant per-row cost of the streaming gate would
    # run twice.  Referenced twice downstream, the staged column
    # survives CollapseProject.
    folded = staged.select(
        doc_id,
        *passthrough,
        n_feats.alias("n_feats"),
        F.when(n_feats > 0, logw_scaled)
        .otherwise(F.lit(0).cast("long"))
        .alias("logw_scaled"),
    )
    return folded.select(
        doc_id,
        *passthrough,
        "n_feats",
        "logw_scaled",
        (F.col("logw_scaled").cast("double") / SCALE).alias("logw"),
    )


def unimax_allocation(
    docs: DataFrame,
    budget_tokens: int,
    max_epochs: int = 4,
    stratum: str = "lang",
    text: str = "text",
) -> DataFrame:
    """UniMax budget allocation (Chung et al., ICLR 2023 — "UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining"): split a total token budget across
    strata (languages) as UNIFORMLY as possible subject to a per-stratum
    repetition cap — no stratum contributes more than ``max_epochs``
    passes over its own data.  This is the principled alternative to
    temperature sampling: head languages stop hogging the mix, tail
    languages are never repeated into memorization.

    Closed form, not iteration: sort strata by capacity
    (``n_tokens × max_epochs``) ascending; a stratum is CAPPED iff its
    capacity fits inside an equal split of what remains after all
    smaller strata take their caps (``c_r·(k−r+1) ≤ B − cum_c_{r−1}`` —
    monotone in r, so the capped set is a prefix); everyone else gets
    the common water level ``(B − Σ capped c) / n_uncapped``.  Once a
    stratum goes uncapped the equal share is invariant
    (``s_{i+1} = (B_i − s_i)/(k−i) = s_i``), which is why one window
    pass suffices.

    Scale shape: one stratum groupBy (map-side combined, |strata| rows)
    and window math over those few rows — the plan is metadata-scale
    after the first aggregate.  If ``budget_tokens ≥ Σ capacity`` every
    stratum is capped and the leftover is reported via the allocation
    sum (the caller's signal to raise ``max_epochs`` or shrink the
    budget).  ``epochs = alloc/n_tokens ≤ max_epochs`` by construction;
    feed ``rate = least(epochs, 1)``-style policies or a repetition
    schedule downstream.

    Output: (stratum, n_tokens, capacity, capped, alloc_tokens, epochs)
    — counts exact BIGINTs, the water level the only division.
    """
    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    if max_epochs < 1:
        raise ValueError(f"max_epochs must be >= 1, got {max_epochs}")
    from pyspark.sql import Window

    n_tok = F.coalesce(
        F.size(F.split(F.col(text), r"\s+")).cast("long"), F.lit(0)
    )
    per = (
        docs.select(F.col(stratum).alias("stratum"), n_tok.alias("__t"))
        .groupBy("stratum")
        .agg(F.sum("__t").alias("n_tokens"))
        .withColumn(
            "capacity", (F.col("n_tokens") * max_epochs).cast("long")
        )
    )
    w = Window.orderBy(F.col("capacity").asc(), F.col("stratum").asc())
    ranked = per.select(
        "stratum",
        "n_tokens",
        "capacity",
        F.row_number().over(w).alias("__r"),
        F.sum("capacity")
        .over(w.rowsBetween(Window.unboundedPreceding, -1))
        .alias("__cum_before"),
        F.count(F.lit(1)).over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__k"),
    ).withColumn("__cum_before", F.coalesce(F.col("__cum_before"), F.lit(0)))
    B = F.lit(budget_tokens).cast("long")
    capped = (
        F.col("capacity") * (F.col("__k") - F.col("__r") + 1)
        <= (B - F.col("__cum_before"))
    )
    flagged = ranked.withColumn("capped", capped)
    level = flagged.agg(
        F.sum(F.when(F.col("capped"), F.col("capacity")).otherwise(0)).alias(
            "__capped_c"
        ),
        F.sum((~F.col("capped")).cast("long")).alias("__n_uncapped"),
    )
    out = flagged.crossJoin(F.broadcast(level))
    water = (
        (B - F.col("__capped_c")).cast("double") / F.col("__n_uncapped")
    )
    alloc = F.when(F.col("capped"), F.col("capacity").cast("double")).otherwise(
        water
    )
    return out.select(
        "stratum",
        "n_tokens",
        "capacity",
        "capped",
        alloc.alias("alloc_tokens"),
        F.when(
            F.col("n_tokens") > 0, alloc / F.col("n_tokens")
        ).otherwise(F.lit(0.0)).alias("epochs"),
    )
