"""Similarity search over embedding columns (``array<float>``).

Two tiers (SURVEY.md §2.10):
- brute-force cosine top-k — the exact baseline: queries × corpus with the
  dot product as a generated expression.  Correct at any k; cost |Q|×|C|,
  so keep |Q| bounded or pre-filter the corpus.
- LSH-bucketed ANN — the scale path: a sign-bit sketch of the leading
  dimensions buckets the corpus; search only within the query's bucket.
  The join key is the bucket (equality), so the shuffle is bucket-sized and
  the corpus side can be pre-partitioned/bucketed by sketch for reuse
  across query batches.

Embeddings are quantized to scaled BIGINTs first (×1e5 — well below float32
noise at unit scale): integer dot products and norms are exact and
order-independent, so cosine scores are bit-identical across engines,
partitionings, and AQE re-plans (``functions/exact.py`` discipline).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import pin

QUANT = 100000

# The one size rule for literal-folded models: pq_codes, ivf_assign_local
# and _adc_lut_cols unroll a model into integer terms (m·k·dsub for a PQ
# codebook, n_lists·dim for a coarse quantizer).  Up to this many terms they
# keep the unrolled tree (registered plans are ≤ 512 terms, so their plan
# text is pinned by it); above it each switches to a spelling whose
# expression tree does not grow with the model (a BLAS kernel, or a
# transform over the literal codebook), with identical values.  At k=256
# the unrolled tree exhausts janino's heap.
_UNROLL_LIMIT = 2048


def quantized(emb: Column, quant: int = QUANT) -> Column:
    """array<float> → array<bigint> at fixed scale (exact in both worlds)."""
    return F.transform(
        emb, lambda x: F.round(x.cast("double") * quant, 0).cast("long")
    )


def sq_norm(q: Column) -> Column:
    """Σ eᵢ² over a quantized array — exact BIGINT fold."""
    return F.aggregate(
        q, F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Exact integer dot product of two quantized arrays.

    With ``dim`` given, the fold is UNROLLED into a flat
    ``a[1]·b[1] + … + a[dim]·b[dim]`` expression: higher-order functions
    are CodegenFallback (interpreted per element), while the unrolled sum
    whole-stage-codegens — measured 44.7 s → 9.0 s scoring 29.7M
    16-dim pairs, bit-identical by construction (same integer ops, same
    order).  The dial has THREE sides:

    - unrolling costs ~1 s of driver-side expression construction per
      plan build (py4j chatter, ~200 calls at dim=64), so pass ``dim``
      only where the dot sits on PAIR-SCALE row counts
      (within-cluster/bucket self-joins — semantic dedup, near-dup
      pairs); bounded top-k batches build more plans than rows they
      score and measured FASTER with the 3-call HOF fold (ivf_topk at
      sf0.1: 0.9 s HOF vs 2.6 s unrolled — all build cost);
    - the unrolled win exists ONLY in codegen-capable stages (the
      equality pair joins are SMJ/BHJ → project, which whole-stage
      codegens).  A broadcast CROSS join (BroadcastNestedLoopJoin — the
      bounded-batch scoring scaffold) cannot whole-stage-codegen, so
      BOTH spellings run interpreted there — and then the giant
      unrolled tree LOSES to the 3-node fold ~6× (measured 35.9 s vs
      6.1 s scoring 12.8M 64-dim pairs).  Never pass ``dim`` into
      :func:`broadcast_scored_pairs`-shaped plans.
    """
    if dim is not None:
        out = F.element_at(a, 1) * F.element_at(b, 1)
        for i in range(1, dim):
            out = out + F.element_at(a, i + 1) * F.element_at(b, i + 1)
        return out
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def cosine(dot_col: Column, na: Column, nb: Column) -> Column:
    """dot/(√na·√nb) — three exact ints in, one deterministic double out."""
    return dot_col.cast("double") / (
        F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))
    )


def prepare(emb: DataFrame) -> DataFrame:
    """(vec_id, q, n): quantized vector + squared norm, computed once."""
    return emb.select(
        F.col("vec_id"), quantized(F.col("embedding")).alias("q")
    ).withColumn("n", sq_norm(F.col("q")))


def brute_force_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors for a BOUNDED query batch.

    Contract: ``queries`` is a bounded batch (a re-rank candidate set, an
    interactive request, a recall-oracle sample — thousands at most), and
    it is explicitly broadcast.  The plan is then ONE pass over the corpus
    — |Q|·|C| score evaluations but zero corpus shuffle, which scales
    linearly in corpus size on any cluster.  This is the exact BASELINE
    and the recall oracle for :func:`lsh_bucketed_topk` / :func:`ivf_topk`
    (see tests); for data-sized query sets use those bucketed paths — an
    unbounded all-pairs product is never the right registered plan.

    Zero-norm vectors (all-zero embeddings) have no cosine direction and
    are EXCLUDED from both sides — otherwise the score is a 0/0 that every
    engine spells differently (Spark NULL, numpy NaN, ANSI error).  The
    same filter lives in :func:`brute_force_topk_arrow` and the DuckDB
    oracle, which is what keeps all three kernels each other's oracle on
    degenerate inputs.
    """
    scored = broadcast_scored_pairs(queries, corpus)
    return _rank_topk(scored, k)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """THE top-k ranking contract — (cosine DESC, neighbor_id ASC),
    row_number, rank ≤ k — shared by every cosine kernel so the
    bit-parity guarantees between them cannot drift through a partial
    edit (this block used to live as four byte-identical copies)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def broadcast_scored_pairs(queries: DataFrame, corpus: DataFrame) -> DataFrame:
    """The shared bounded-batch scoring scaffold: zero-norm exclusion on
    both sides, queries BROADCAST, one corpus pass, every (query,
    neighbor) pair scored — (query_id, neighbor_id, cosine).  The exact
    baseline (:func:`brute_force_topk`) ranks it; the decontamination
    screen (:func:`semantic_contamination`) aggregates it — one posture,
    one place to fix it."""
    q = queries.filter(F.col("n") > 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qv"),
        F.col("n").alias("qn"),
    )
    c = corpus.filter(F.col("n") > 0).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("cv"),
        F.col("n").alias("cn"),
    )
    return c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        cosine(
            dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")
        ).alias("cosine"),
    )


def sign_bucket(q: Column, bits: int = 4) -> Column:
    """Sign-bit sketch of the leading ``bits`` dimensions → bucket id
    [0, 2^bits).  A random-hyperplane LSH specialization (axis-aligned
    planes) — deterministic and engine-portable.
    """
    out = F.lit(0)
    for i in range(bits):
        out = out + F.when(
            F.element_at(q, i + 1) > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return out


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    bits: int = 4,
    probe_hamming: int = 0,
) -> DataFrame:
    """ANN top-k: candidates restricted to the query's sign-sketch bucket.

    Two recall/cost dials:

    - ``bits``: fewer bits → bigger buckets → higher recall AND cost;
      ``bits=0`` is one bucket ≡ exact brute force (tested).
    - ``probe_hamming``: MULTI-PROBE — each query also probes every bucket
      within this Hamming distance of its own (sign sketches of near
      neighbors differ in few bits, so the nearest misses sit in adjacent
      buckets).  ``1`` probes ``1+bits`` buckets and is the standard
      recall rescue at high ``bits``; the corpus side still lives in
      exactly ONE bucket each, so candidate pairs stay unique and the
      corpus never duplicates — only the (small) query side explodes.

    The equality join on ``bucket`` keeps cost Σ|bucket_q|×|bucket_c|.
    """
    probe = sign_bucket(F.col("q"), bits)
    probes = [probe]
    if probe_hamming >= 1:
        probes += [probe.bitwiseXOR(F.lit(1 << i)) for i in range(bits)]
    if probe_hamming >= 2:
        probes += [
            probe.bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(bits)
            for j in range(i + 1, bits)
        ]
    # the same zero-norm exclusion as brute_force_topk — without it a
    # degenerate all-zero vector divides by zero (NULL neighbor rows in
    # sparse buckets; job-killing error under ANSI) and the documented
    # recall-oracle parity with the exact kernel breaks
    q = queries.filter(F.col("n") > 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qv"),
        F.col("n").alias("qn"),
        F.explode(F.array(*probes)).alias("bucket"),
    )
    c = corpus.filter(F.col("n") > 0).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("cv"),
        F.col("n").alias("cn"),
        sign_bucket(F.col("q"), bits).alias("bucket"),
    )
    scored = q.join(c, "bucket").select(
        "query_id",
        "neighbor_id",
        cosine(
            dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")
        ).alias("cosine"),
    )
    return _rank_topk(scored, k)


def ivf_assign(
    prepared: DataFrame, centroids: DataFrame, nprobe: int = 1,
    dim: int | None = None,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest inverted lists.

    ``centroids`` is a small ``prepare`` output (the coarse quantizer —
    k-means-trained in production; any deterministic vector set works and
    keeps this testable).  Squared L2 in quantized space is
    ``n + cn − 2·dot`` — three exact BIGINTs, so assignments and their
    tie-breaks (smaller list id) are engine-portable.  Centroids broadcast;
    the corpus never shuffles for assignment.
    """
    c = centroids.select(
        F.col("vec_id").alias("list_id"),
        F.col("q").alias("cv"),
        F.col("n").alias("cn"),
    )
    scored = prepared.crossJoin(F.broadcast(c)).select(
        "vec_id",
        "q",
        "n",
        "list_id",
        (
            F.col("n") + F.col("cn") - 2 * dot(F.col("q"), F.col("cv"), dim)
        ).alias("d"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("d").asc(), F.col("list_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("vec_id", "q", "n", "list_id")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 3,
    nprobe: int = 2,
) -> DataFrame:
    """IVF ANN top-k: corpus vectors live in exactly one inverted list;
    each query probes its ``nprobe`` nearest lists and ranks only those
    candidates.

    The scale path for embedding search: the corpus is partitioned by
    ``list_id`` once (bucket/partition the stored table by it for reuse),
    per-query cost is Σ|probed lists| instead of |corpus|, and recall is
    tuned by nprobe × number of lists.  Every pair a probe produces is
    unique (one list per corpus vector), so no candidate dedup is needed.
    """
    # zero-norm exclusion as in brute_force_topk (parity + ANSI safety);
    # dim is deliberately NOT forwarded into ivf_assign — its scoring
    # sits in a BroadcastNestedLoopJoin stage where the unrolled dot
    # runs interpreted and loses ~6× to the HOF fold (see `dot`); the
    # dial applies only to the codegen-capable list-equality join below
    q = ivf_assign(queries.filter(F.col("n") > 0), centroids, nprobe).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qv"),
        F.col("n").alias("qn"),
        "list_id",
    )
    c = ivf_assign(corpus.filter(F.col("n") > 0), centroids, 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("q").alias("cv"),
        F.col("n").alias("cn"),
        "list_id",
    )
    # query batches are small next to the corpus: broadcast the probe side
    # so the corpus' inverted lists are scanned in place, never shuffled
    scored = c.join(F.broadcast(q), "list_id").select(
        "query_id",
        "neighbor_id",
        cosine(
            dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")
        ).alias("cosine"),
    )
    return _rank_topk(scored, k)


def lsh_neardup_pairs(
    prepared: DataFrame, threshold: float = 0.3, bits: int = 4
) -> DataFrame:
    """Embedding near-duplicate pairs at corpus scale: candidate pairs are
    restricted to the same sign-sketch bucket (equality self-join on the
    bucket id), then exact-integer cosine filters them.

    Cost is Σ|bucket|² instead of |corpus|² — the same candidate-bounding
    idea as MinHash-LSH for text.  Recall is tuned by ``bits`` (fewer bits
    → bigger buckets → higher recall/cost; ``bits=0`` is one bucket ≡ the
    exact all-pairs result); multi-probe is the standard extension.
    :func:`cosine_neardup_pairs` is the brute-force recall oracle, kept
    for tests and bounded verifier passes only.
    """
    # zero-norm vectors excluded (no cosine direction): previously their
    # NULL score happened to fail the threshold filter in non-ANSI mode,
    # but under ANSI the division kills the job
    nz = prepared.filter(F.col("n") > 0)
    a = nz.select(
        F.col("vec_id").alias("vec_a"),
        F.col("q").alias("qa"),
        F.col("n").alias("na"),
        sign_bucket(F.col("q"), bits).alias("bucket"),
    )
    b = nz.select(
        F.col("vec_id").alias("vec_b"),
        F.col("q").alias("qb"),
        F.col("n").alias("nb"),
        sign_bucket(F.col("q"), bits).alias("bucket"),
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            cosine(
                dot(F.col("qa"), F.col("qb")), F.col("na"), F.col("nb")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def cosine_neardup_pairs(
    prepared: DataFrame, threshold: float = 0.3
) -> DataFrame:
    """Exact all-pairs near-dup — the recall ORACLE for
    :func:`lsh_neardup_pairs`.  O(n²); bounded test/verifier inputs only,
    never a registered corpus-scale plan."""
    nz = prepared.filter(F.col("n") > 0)  # same exclusion as the LSH path
    a = nz.select(
        F.col("vec_id").alias("vec_a"),
        F.col("q").alias("qa"),
        F.col("n").alias("na"),
    )
    b = nz.select(
        F.col("vec_id").alias("vec_b"),
        F.col("q").alias("qb"),
        F.col("n").alias("nb"),
    )
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            cosine(
                dot(F.col("qa"), F.col("qb")), F.col("na"), F.col("nb")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def farthest_first_seeds(
    prepared: DataFrame, k: int
) -> list[tuple[int, list[int]]]:
    """Deterministic farthest-first traversal (Gonzalez 1985 k-center
    2-approximation) — the SEEDING that makes :func:`kmeans_lite` recover
    real cluster structure: start from the smallest vec_id, then k−1
    times pick the vector farthest (exact-BIGINT squared L2) from every
    seed chosen so far.  On data whose clusters are separated by more
    than their diameters — the regime IVF presumes — farthest-first
    provably visits every cluster once before revisiting any, so Lloyd's
    starts with one seed per cluster instead of first-k/random seeding's
    collision-and-merge failure (measured on the 64-cluster probe
    fixture: first-k seeding left average residual norms 18× the
    true-center residuals; farthest-first recovers them).

    Driver-side loop over a SAMPLE-scale frame: each round folds the
    min-distance-to-chosen-set column with one literal-seed distance
    (``least``) and collects one argmax row — k bounded jobs, with
    ``localCheckpoint`` truncating the k-term lineage.  Train on a
    bounded sample (the :func:`pq_train_codebooks` posture); the
    returned ``(vec_id, q)`` rows feed ``kmeans_lite(seeds=…)``.

    Ties break to the smaller vec_id (min over (−d, vec_id) struct), so
    the traversal is engine- and partitioning-independent.
    """
    if k < 1:
        raise ValueError(f"need k >= 1, got {k}")
    first = (
        prepared.select("vec_id", "q", "n")
        .orderBy(F.col("vec_id").asc())
        .limit(1)
        .collect()
    )
    if not first:
        raise ValueError("cannot seed from an empty frame")
    seeds = [(int(first[0]["vec_id"]), [int(v) for v in first[0]["q"]])]
    work = prepared.select("vec_id", "q", "n").withColumn(
        "__mind", F.lit(None).cast("long")
    )
    prev = None
    for _ in range(k - 1):
        sid, sq = seeds[-1]
        sn = sum(v * v for v in sq)
        d_new = (
            f"n + CAST({sn} AS BIGINT) - 2 * aggregate(zip_with(q,"
            f" {_vec_sql(sq)}, (a, b) -> a * b), CAST(0 AS BIGINT),"
            " (acc, x) -> acc + x)"
        )
        # least() skips NULLs, so the first round's NULL __mind needs no
        # coalesce — and the HOF distance appears ONCE: Spark does not
        # CSE higher-order functions, so a coalesce(…, d)/d spelling
        # evaluates the interpreted fold twice per row per round
        work = work.selectExpr(
            "vec_id", "q", "n",
            f"least(__mind, {d_new}) AS __mind",
        ).persist()
        far = (
            work.select(
                F.min_by(
                    F.struct("vec_id", "q"),
                    F.struct(
                        (-F.col("__mind")).alias("nd"),
                        F.col("vec_id").alias("tie"),
                    ),
                ).alias("s")
            )
            .select("s.vec_id", "s.q")
            .collect()[0]
        )
        # persist + release-the-predecessor, NOT localCheckpoint: each
        # round's plan substitutes the cached prior via the CacheManager
        # (effective lineage truncation), and superseded blocks are freed
        # eagerly — a checkpointed frame's unpersist is a no-op, so the
        # checkpoint spelling pinned k copies of the sample until driver
        # GC (the storage-pressure hazard the probe tiers budget against)
        if prev is not None:
            prev.unpersist()
        prev = work
        seeds.append((int(far["vec_id"]), [int(v) for v in far["q"]]))
        # …but cache substitution is ADVISORY: when the planner misses it
        # (observed flakily at k=64), the analyzed plan is the FULL
        # k-round nested least()/HOF chain, and its serialized expression
        # tree overflows the task deserializer's stack.  Every 16 rounds,
        # hard-truncate to a LogicalRDD — a structural bound the planner
        # cannot decline.  Cost: ≤ k/16 pinned sample-scale block sets
        # (freed with the chain on driver GC), against the probe tiers'
        # storage budget a bounded, documented exception.
        if len(seeds) % 16 == 0:
            ck = work.localCheckpoint(eager=True)
            work.unpersist()
            work, prev = ck, None
    if prev is not None:
        prev.unpersist()
    return seeds


def kmeans_lite(
    prepared: DataFrame,
    k: int = 8,
    iters: int = 1,
    seeds: list[tuple[int, list[int]]] | None = None,
    assign: str = "window",
) -> DataFrame:
    """Distributed Lloyd's k-means over quantized embeddings — the coarse
    quantizer trainer for :func:`ivf_topk` (returns a ``prepare``-shaped
    centroid frame).

    Engine-exact by construction, like everything else here:

    - seeds are the first ``k`` vector ids (deterministic, no rand()) —
      or caller-provided ``seeds`` rows (``(vec_id, quantized_vector)``,
      e.g. :func:`farthest_first_seeds`, which turns first-k's
      collision-and-merge failure on clustered data into one-seed-per-
      cluster coverage);
    - assignment distance is the exact-BIGINT ``n + cn − 2·dot``, ties to
      the smaller cluster id;
    - the centroid update re-quantizes each per-dimension mean back onto
      the integer grid (``rescale_ratio``), so every iteration's state is
      integers and two engines (or two partitionings) can never drift.

    Scale shape per iteration: centroids broadcast (k ≤ thousands), the
    corpus never shuffles for assignment (scan + broadcast join + per-vec
    argmin window keyed by vec_id), and the update is one posexplode +
    aggregation keyed by (cluster, dim) — k×dim rows out.  Clusters that
    lose all members drop out (standard Lloyd's degeneracy; the next
    assignment simply uses fewer lists).

    ``assign="local"`` collects the centroids each iteration (k·dim
    ints — a model parameter) and assigns with :func:`ivf_assign_local`:
    no crossJoin, no per-vector window exchange, and the model's size
    picks the kernel (literal argmin up to ``_UNROLL_LIMIT`` terms, the
    BLAS kernel above it).  Identical assignments either way (exact int64
    distances, same smaller-cid tie-break; pinned in tests).  Use it at
    production list counts (k ≈ √n): at k=1024 the window spelling
    pushes a billion candidate rows per iteration through a sort.  The
    window path chains the uncollected centroid plan, which is the
    better shape only at toy k.  The mean update stays native either
    way.
    """
    from ..functions import exact

    if assign not in ("window", "local"):
        raise ValueError(
            f"assign must be 'window' or 'local', got {assign!r}"
        )
    if seeds is not None:
        if len(seeds) != k:
            # fail loudly: silently training len(seeds) clusters while
            # the caller asked for k corrupts every downstream
            # list-count assumption (nprobe ≥ k ≡ full scan, recall
            # arithmetic) without an error anywhere
            raise ValueError(
                f"k={k} but {len(seeds)} seeds were provided — pass"
                " k=len(seeds) (seed count IS the cluster count)"
            )
        spark = prepared.sparkSession
        cents = spark.createDataFrame(
            [
                (int(cid), [int(v) for v in cq], sum(v * v for v in cq))
                for cid, cq in seeds
            ],
            "cid long, cq array<bigint>, cn long",
        )
    else:
        # "first k" means the k SMALLEST ids (bounded TakeOrdered), not
        # `vec_id < k` — the filter spelling silently produced fewer (or
        # zero) seeds on any id space that isn't 0-based contiguous, and
        # an empty seed set cascades into a silently empty ANN index
        cents = (
            prepared.orderBy(F.col("vec_id").asc())
            .limit(k)
            .select(
                F.col("vec_id").alias("cid"),
                F.col("q").alias("cq"),
                F.col("n").alias("cn"),
            )
        )
    for _ in range(iters):
        if assign == "local":
            # r13: collect the k centroids (model scale) and assign in
            # the scan — no crossJoin, no per-vector window exchange
            # (guide §2.4).  Identical assignments: same exact int64
            # distances, same smaller-cid tie-break (the pinned
            # ivf_assign ≡ ivf_assign_local identity).
            cent_rows = [
                (int(r["cid"]), [int(v) for v in r["cq"]])
                for r in cents.select("cid", "cq").collect()
            ]
            assigned = ivf_assign_local(
                prepared.select("vec_id", "q", "n"), cent_rows
            ).select("vec_id", "q", F.col("list_id").alias("cid"))
        else:
            scored = prepared.crossJoin(F.broadcast(cents)).select(
                "vec_id",
                "q",
                (
                    F.col("n") + F.col("cn")
                    - 2 * dot(F.col("q"), F.col("cq"))
                ).alias("d"),
                "cid",
            )
            w = Window.partitionBy("vec_id").orderBy(
                F.col("d").asc(), F.col("cid").asc()
            )
            assigned = (
                scored.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("vec_id", "q", "cid")
            )
        dims = assigned.select(
            "cid", F.posexplode(F.col("q")).alias("pos", "e")
        )
        means = dims.groupBy("cid", "pos").agg(
            exact.rescale_ratio(F.sum("e"), F.count("e"), 1).alias("me")
        )
        cents = (
            means.groupBy("cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "me"))
                ).alias("pm")
            )
            .select(
                "cid",
                F.transform(F.col("pm"), lambda s: s["me"]).alias("cq"),
            )
            .withColumn("cn", sq_norm(F.col("cq")))
        )
    return cents.select(
        F.col("cid").alias("vec_id"),
        F.col("cq").alias("q"),
        F.col("cn").alias("n"),
    )


def _ivf_assign_blas(
    prepared: DataFrame,
    coarse_rows: list[tuple[int, list[int]]],
    nprobe: int = 1,
    with_dist: bool = False,
) -> DataFrame:
    """:func:`ivf_assign_local`'s kernel above ``_UNROLL_LIMIT`` — same
    contract (centroids are a model parameter, the corpus never
    shuffles), same RESULTS (exact int64 distances ``n + cn − 2·dot``,
    ties to the smaller list id — pinned against :func:`ivf_assign` in
    tests).

    At production list counts (n_lists ≈ √n — ~1000 lists at 1M
    vectors, Jégou et al. §V) the literal fold's n_lists·dim-term tree
    no longer compiles, and the broadcast-join window
    (:func:`ivf_assign`) materializes |corpus|·n_lists candidate rows
    through a per-vector sort.  The assignment IS a dense int64 matmul
    (corpus batch × centroid matrix), streamed once through Arrow
    batches — the same BLAS shape as :func:`brute_force_topk_arrow`.
    Registered plans never reach it (their coarse sets are ≤ 512 terms).

    ``with_dist=True`` appends the exact squared-L2 distance ``d`` to
    each emitted (vector, probed-list) row — the seeding loop's cost
    column (:func:`kmeans_parallel_seeds`).

    Output: (vec_id, q, n, list_id[, d]) — :func:`ivf_assign`'s schema,
    ``nprobe`` rows per input vector.
    """
    import numpy as np

    cents = sorted((int(c), [int(v) for v in cq]) for c, cq in coarse_rows)
    if not cents:
        raise ValueError("need at least one coarse centroid")
    cid_arr = np.array([c for c, _ in cents], dtype=np.int64)
    cmat = np.array([cq for _, cq in cents], dtype=np.int64)  # L × d
    cn = (cmat * cmat).sum(axis=1)  # L, exact int64
    t = min(nprobe, len(cents))

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            qmat = np.array(pdf["q"].tolist(), dtype=np.int64)  # b × d
            n = pdf["n"].to_numpy(dtype=np.int64)
            # exact int64 squared L2 per (vector, list); values bounded
            # by dim·(2·QUANT)² ≈ 2.6e12 at d=64 — far inside int64
            d = n[:, None] + cn[None, :] - 2 * (qmat @ cmat.T)
            if t == 1:
                # argmin returns the FIRST minimum — ties to the
                # smaller list id since cents are id-sorted
                top = np.argmin(d, axis=1)[:, None]
            else:
                # stable full argsort, not argpartition: argpartition's
                # tie order is unspecified, and the contract is
                # (d asc, list_id asc) exactly like ivf_assign
                top = np.argsort(d, axis=1, kind="stable")[:, :t]
            out = {
                "vec_id": np.repeat(
                    pdf["vec_id"].to_numpy(dtype=np.int64), t
                ),
                "q": [q for q in pdf["q"] for _ in range(t)],
                "n": np.repeat(n, t),
                "list_id": cid_arr[top].ravel(),
            }
            if with_dist:
                out["d"] = np.take_along_axis(d, top, axis=1).ravel()
            yield pd.DataFrame(out)

    schema = "vec_id long, q array<bigint>, n long, list_id long"
    if with_dist:
        schema += ", d long"
    return prepared.select("vec_id", "q", "n").mapInPandas(assign, schema)


def kmeans_parallel_seeds(
    prepared: DataFrame,
    k: int,
    rounds: int = 5,
) -> list[tuple[int, list[int]]]:
    """Scalable k-means|| seeding (Bahmani et al., VLDB 2012 — the
    k-means++ initialization Spark MLlib itself ships) for LARGE ``k``:
    :func:`farthest_first_seeds` is one driver job per seed, perfect at
    k ≤ ~100 but a thousand sequential jobs at the production
    n_lists ≈ √n coarse tier.  k-means|| replaces the per-seed loop with
    ``rounds`` fixed passes: each round samples every point
    independently with probability ``min(1, ℓ·d²(x,C)/Σd²)`` (ℓ = 2k),
    the ~rounds·ℓ oversampled candidates are weighted by the mass of
    points they serve, and a driver-side weighted Lloyd (numpy — the
    candidate set is model-scale) reduces them to exactly ``k`` seeds.

    Deterministic by construction, like every trainer here: the sampling
    "coin" is ``xxhash64(vec_id, round)`` mapped to [0,1) — no rand(),
    so two runs (or two engines) sample identical candidate sets; the
    driver-side reduction seeds by farthest-first over the candidates
    (ties to the smaller candidate id) and re-quantizes means onto the
    integer grid each iteration.

    Scale shape per round: one :func:`_ivf_assign_blas` pass (corpus ×
    current candidates, BLAS), one scalar aggregate (Σd²), one
    metadata-scale collect of the sampled rows.  The corpus never
    shuffles; driver state is ~rounds·ℓ·dim ints.

    Returns ``k`` ``(i, quantized_vector)`` seeds for
    ``kmeans_lite(seeds=…)``.
    """
    import numpy as np

    if k < 1:
        raise ValueError(f"need k >= 1, got {k}")
    ell = 2 * k
    first = (
        prepared.select("vec_id", "q")
        .orderBy(F.col("vec_id").asc())
        .limit(1)
        .collect()
    )
    if not first:
        raise ValueError("cannot seed from an empty frame")
    cand: list[tuple[int, list[int]]] = [
        (int(first[0]["vec_id"]), [int(v) for v in first[0]["q"]])
    ]
    base = prepared.select("vec_id", "q", "n")
    for r in range(rounds):
        scored = _ivf_assign_blas(base, cand, 1, with_dist=True)
        phi = scored.agg(F.sum("d").alias("s")).collect()[0]["s"]
        if not phi:
            break  # every point IS a candidate already
        # deterministic uniform in [0,1): 31 low bits of the per-round
        # hash (pmod for the sign); p = min(1, ℓ·d²/Σd²)
        picked = scored.filter(
            F.pmod(F.xxhash64(F.col("vec_id"), F.lit(r)), F.lit(1 << 31))
            / F.lit(float(1 << 31))
            < F.least(
                F.lit(1.0),
                F.lit(float(ell)) * F.col("d") / F.lit(float(phi)),
            )
        ).select("vec_id", "q")
        cand.extend(
            (int(row["vec_id"]), [int(v) for v in row["q"]])
            for row in picked.collect()
        )
        # one id can be re-sampled across rounds (its d² shrinks but
        # stays positive) — harmless for distance math, but weights and
        # tie-breaks want unique candidates
        cand = sorted({cid: cq for cid, cq in cand}.items())
    if len(cand) < k:
        raise ValueError(
            f"k-means|| oversampled only {len(cand)} candidates < k={k}"
            " — raise rounds (or the input has fewer than k"
            " distinct ids)"
        )
    # weight each candidate by the points it serves (one BLAS pass)
    wrows = {
        int(row["list_id"]): int(row["w"])
        for row in _ivf_assign_blas(base, cand, 1)
        .groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("w"))
        .collect()
    }
    cmat = np.array([cq for _, cq in cand], dtype=np.int64)
    w = np.array(
        [wrows.get(cid, 0) for cid, _ in cand], dtype=np.float64
    )
    # driver-side weighted Lloyd over the candidate set (model-scale:
    # rounds·ℓ rows).  Seeds: farthest-first over candidates — exact
    # int64 arithmetic, ties to the smaller candidate INDEX (id-sorted),
    # the same Gonzalez coverage argument at candidate scale.
    seed_ix = [0]
    mind = ((cmat - cmat[0]) ** 2).sum(axis=1)
    for _ in range(k - 1):
        nxt = int(np.argmax(mind))  # first max = smaller index on ties
        seed_ix.append(nxt)
        mind = np.minimum(mind, ((cmat - cmat[nxt]) ** 2).sum(axis=1))
    centers = cmat[seed_ix].astype(np.float64)
    for _ in range(5):
        d2 = (
            (cmat * cmat).sum(axis=1)[:, None]
            + (centers * centers).sum(axis=1)[None, :]
            - 2.0 * (cmat.astype(np.float64) @ centers.T)
        )
        a = np.argmin(d2, axis=1)
        for j in range(k):
            mask = a == j
            wm = w[mask]
            if wm.sum() > 0:
                # re-quantize onto the integer grid every iteration —
                # the kmeans_lite discipline (state stays integral)
                centers[j] = np.rint(
                    (cmat[mask] * wm[:, None]).sum(axis=0) / wm.sum()
                )
    return [
        (i, [int(v) for v in centers[i]]) for i in range(k)
    ]


def brute_force_topk_arrow(
    queries: DataFrame, corpus: DataFrame, k: int = 5
) -> DataFrame:
    """:func:`brute_force_topk` on an Arrow-vectorized kernel — same
    contract (bounded query batch, one corpus pass, zero corpus shuffle),
    same RESULTS (bit-identical: the integer dot products are exact in
    both kernels and the cosine division applies the same IEEE ops in the
    same order).  Measured 12× the native kernel at 257 queries × 100k
    corpus × 64 dims (12.5M scores/s at a 1000-query batch, vs the native
    path's ~0.5M); the gap widens with batch size as the matmul amortizes
    the per-batch Arrow transfer.

    Why a Python node is justified here: the score kernel
    is a dense int64 matmul per corpus batch — exactly the shape BLAS
    exists for — and Spark evaluates higher-order ``aggregate`` folds
    interpreted (measured ~0.5M 64-d scores/s on 32 cores vs ~20M+ for
    ``C @ Q.T``).  The batch is Arrow-columnar end-to-end (``mapInPandas``),
    never row-at-a-time, and each batch emits only its partition-local
    top-k per query — |partitions|·|Q|·k rows reach the final merge, not
    |C|·|Q|.  The engine's UDF discipline (PLANS.md) is unchanged: every
    REGISTERED query plan stays native.  The encode and coarse-assignment
    kernels are picked by model size (``_UNROLL_LIMIT``, known on the
    driver); this one stays an explicit call, because the size that
    would pick it — corpus × query batch — costs a Spark job to observe.
    It is the re-rank path for fleet-scale candidate scoring.

    Zero-norm vectors are excluded on both sides, mirroring
    :func:`brute_force_topk` — without the filter this kernel's numpy
    division would emit inf/NaN exactly where the native plan emits NULL,
    breaking the bit-parity claim on degenerate inputs
    (``test_arrow_kernel_zero_norm_parity``).
    """
    import numpy as np

    queries = queries.filter(F.col("n") > 0)
    corpus = corpus.filter(F.col("n") > 0)
    qrows = queries.select("vec_id", "q", "n").collect()  # bounded batch
    if not qrows:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, cosine double"
        )
    qids = np.array([r.vec_id for r in qrows], dtype=np.int64)
    qmat = np.array([r.q for r in qrows], dtype=np.int64)  # m × d
    qnorm = np.sqrt(np.array([r.n for r in qrows], dtype=np.float64))
    m = len(qids)

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            nbr = pdf["vec_id"].to_numpy(dtype=np.int64)
            # pre-sort rows by neighbor id: a STABLE per-column argsort on
            # -score then yields ties in neighbor-asc order — the native
            # kernel's exact (cosine desc, neighbor_id asc) tie-break,
            # fully vectorized (no per-query Python loop)
            row_order = np.argsort(nbr, kind="stable")
            nbr = nbr[row_order]
            cmat = np.array(pdf["q"].tolist(), dtype=np.int64)[row_order]
            cnorm = np.sqrt(
                pdf["n"].to_numpy(dtype=np.float64)[row_order]
            )
            # exact int64 dots, then the SAME division the native kernel
            # plans: double(dot) / (sqrt(cn) * sqrt(qn))
            scores = (cmat @ qmat.T).astype(np.float64) / (
                cnorm[:, None] * qnorm[None, :]
            )
            t = min(k, len(nbr))
            top = np.argsort(-scores, axis=0, kind="stable")[:t]  # t × m
            cols = np.arange(m)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, t),
                    "neighbor_id": nbr[top].T.ravel(),
                    "cosine": scores[top, cols].T.ravel(),
                }
            )

    partial = corpus.select("vec_id", "q", "n").mapInPandas(
        score, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def semantic_dedup(
    prepared: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.3,
    dim: int | None = None,
    salt: int = 1,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al., 2023,
    arXiv:2303.09540): assign every vector to its nearest coarse centroid,
    then compare ONLY within-cluster pairs — a vector is dropped when a
    smaller-id clustermate sits within ``threshold`` cosine of it.

    This is the published scale recipe for embedding dedup: the all-pairs
    |corpus|² comparison becomes Σ|cluster|², and the cluster count k is a
    dial (SemDeDup uses k ≈ 10⁴–10⁵ at web scale so clusters stay
    ~10³-sized).  Plan shape: centroids broadcast, assignment is
    :func:`ivf_assign`'s scan + broadcast join + per-vector argmin
    window, ``pin``ned ONCE (it feeds both sides of the pair join and
    the audit output; it is the IVF index, a stored artifact in
    production), then ONE shuffle keyed by ``cluster_id`` for the
    self-join; per-cluster pair generation is node-local after that.
    Skewed clusters are the known failure mode at fleet scale — the k
    dial is the structural fix (more centroids → smaller clusters), and ``salt`` is the in-plan guard: with
    ``salt = S > 1`` the pair join keys on ``(cluster_id, vec_b mod S)``
    — the b-side of a hot cluster splits across S shuffle partitions
    (largest task |cluster|²/S instead of |cluster|²) while the a-side
    replicates S× (replication is bounded by S · |corpus| rows of
    (id, vector) — scan-scale, not pair-scale).  Every (a, b) pair still
    meets EXACTLY once (a is replicated to all S salt values, b carries
    exactly one), so the output is bit-identical for any S — salt only
    re-cuts the shuffle, never the semantics.  Measured across repeated
    100k-vector / 20%-hot-cluster probes (SCALE_PROBE.json): salt=1
    swings 37.9 s → 89.0 s between runs — AQE's skew split is a
    runtime-estimate decision and sometimes leaves the hot partition's
    tail on few tasks — while salt=8 holds a stable 35-44 s.  That is
    the dial's real value: it makes the worst case DETERMINISTIC
    instead of dependent on AQE's estimate, at the price of S×
    replication of (id, vector) rows (scan-scale).  At the registered
    sf0.1 scale salt=4 is a wash (1.6 s either way), so the registered
    plans run salted and the library default stays salt=1.

    Semantics are one-hop and engine-exact: ``kept = no smaller-id
    clustermate with cosine ≥ threshold``; ``canonical_id`` is the
    smallest such clustermate (the doc a trainer keeps instead), the
    vector itself when kept.  One-hop matches SemDeDup — transitive
    closure is deliberately NOT applied (that is
    :func:`~..extensions.dedup.connected_components`' job on the pair
    graph when needed).  Zero-norm vectors have no cosine direction, so
    they never pair (always kept) — the same degenerate-input rule as
    every other cosine kernel in this module.

    Output: (vec_id, cluster_id, kept boolean, canonical_id).
    """
    # dim stays OUT of ivf_assign: the coarse assignment scores inside a
    # BroadcastNestedLoopJoin stage, where the unrolled dot runs
    # interpreted and loses ~6× to the HOF fold (see `dot`); the dial
    # applies only to the codegen-capable within-cluster pair join below
    # the assignment feeds BOTH sides of the pair join AND the final
    # audit output — three references to an un-materialized subtree
    # would recompute the corpus-wide argmin window three times.  In
    # production the assignment IS a stored artifact (it is the IVF
    # index).  pin() (a persist), not localCheckpoint(): lazy (building
    # the plan stays free — the plan audit explains registered queries
    # without running them), recompute-safe under executor loss, and
    # the physical plan stays visible to PLANS.md (a checkpoint
    # collapses the whole subtree to an opaque ExistingRDD scan).
    assigned = pin(ivf_assign(prepared, centroids, 1))
    a = assigned.filter(F.col("n") > 0).select(
        F.col("vec_id").alias("vec_a"),
        F.col("q").alias("qa"),
        F.col("n").alias("na"),
        F.col("list_id").alias("cluster_id"),
    )
    b = assigned.filter(F.col("n") > 0).select(
        F.col("vec_id").alias("vec_b"),
        F.col("q").alias("qb"),
        F.col("n").alias("nb"),
        F.col("list_id").alias("cluster_id"),
    )
    if salt > 1:
        # salted self-join: b carries its own salt, a replicates to all
        # S values — the join stays a pure equality join on
        # (cluster_id, __salt), so Catalyst still plans a hash join and
        # a hot cluster's pairs spread over S reducers
        b = b.withColumn(
            "__salt", F.pmod(F.col("vec_b"), F.lit(salt)).cast("int")
        )
        a = a.withColumn(
            "__salt",
            F.explode(F.array(*[F.lit(i) for i in range(salt)])),
        )
        joined = a.join(b, ["cluster_id", "__salt"]).drop("__salt")
    else:
        joined = a.join(b, "cluster_id")
    dropped = (
        joined.filter(F.col("vec_a") < F.col("vec_b"))
        .filter(
            cosine(
                dot(F.col("qa"), F.col("qb"), dim), F.col("na"), F.col("nb")
            )
            >= threshold
        )
        .groupBy(F.col("vec_b").alias("vec_id"))
        .agg(F.min("vec_a").alias("canonical_of"))
    )
    return (
        assigned.select("vec_id", F.col("list_id").alias("cluster_id"))
        .join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cluster_id",
            F.col("canonical_of").isNull().alias("kept"),
            F.coalesce(F.col("canonical_of"), F.col("vec_id")).alias(
                "canonical_id"
            ),
        )
    )


def quantize_int8_stats(prepared: DataFrame) -> DataFrame:
    """Scalar int8 quantization audit: quantize each dimension onto a
    symmetric 8-bit grid scaled by that dimension's corpus max-|value|,
    and report the reconstruction error per vector — the go/no-go check
    before shipping a 4×-smaller int8 corpus to the ANN tier.

    Two-phase, both cheap at any scale: (1) per-dimension max|q| is a
    posexplode + 64-row aggregate (map-side combined — bytes per
    partition cross the wire); (2) the 64-value scale array broadcasts
    back and the error math is row-local ``zip_with`` arithmetic at scan
    bandwidth.  The corpus itself never shuffles.

    Exactness: with e, m integers (quantized grid ×1e5), the int8 code is
    ``c = round(e·127/m)`` (one double division, same IEEE op in any
    engine) and the error is kept in the INTEGER domain scaled by 127:
    ``err = e·127 − c·m`` — a BIGINT both engines compute exactly, so
    Σerr² and max|err| are bit-identical (the ``functions/exact.py``
    discipline).  A dimension with m = 0 is constant-zero: its code and
    error are 0 by definition (guards the 0/0).

    Output: (vec_id, n_dims, sse127, max_abs_err127, int8_sq_norm,
    max_abs_code) — the last column pins the grid promise directly:
    |code| ≤ 127 for every dimension (|e| ≤ m ⇒ |round(e·127/m)| ≤ 127).
    """
    dims = prepared.select(F.posexplode(F.col("q")).alias("pos", "e"))
    scales = (
        dims.groupBy("pos")
        .agg(F.max(F.abs(F.col("e"))).alias("m"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(F.transform(F.col("pm"), lambda s: s["m"]).alias("mx"))
    )
    code = lambda e, m: F.when(m == 0, F.lit(0).cast("long")).otherwise(  # noqa: E731
        F.round(e.cast("double") * 127 / m.cast("double"), 0).cast("long")
    )
    err = F.zip_with(
        F.col("q"), F.col("mx"), lambda e, m: e * 127 - code(e, m) * m
    )
    codes = F.zip_with(F.col("q"), F.col("mx"), code)
    isum = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    return prepared.crossJoin(F.broadcast(scales)).select(
        "vec_id",
        F.size(F.col("q")).alias("n_dims"),
        isum(F.transform(err, lambda x: x * x)).alias("sse127"),
        F.array_max(F.transform(err, F.abs)).alias("max_abs_err127"),
        isum(F.transform(codes, lambda x: x * x)).alias("int8_sq_norm"),
        F.array_max(F.transform(codes, F.abs)).alias("max_abs_code"),
    )


def sq8_scales(prepared: DataFrame) -> list[int]:
    """Train the SCALAR quantizer (FAISS ``IndexScalarQuantizer``'s
    ``QT_8bit``-style symmetric variant): per-dimension ``m_i =
    max|e_i|`` over the corpus — the same one-aggregate pass as
    :func:`quantize_int8_stats`'s scale phase, returned as plain
    Python data (dim ints — a model parameter, the
    ``centroid_rows`` posture).  Train once, encode/search many."""
    rows = (
        prepared.select(F.posexplode(F.col("q")).alias("pos", "e"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("e"))).alias("m"))
        .collect()
    )
    out = [0] * len(rows)
    for r in rows:
        out[int(r["pos"])] = int(r["m"])
    return out


def _sq8_scale_arr(scales: list[int]):
    return F.array(*[F.lit(int(m)).cast("long") for m in scales])


def sq8_codes(
    prepared: DataFrame, scales: list[int],
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Encode the corpus onto the per-dimension int8 grid — the
    scalar-quantization counterpart of :func:`pq_codes`: ``c_i =
    round(e_i·127/m_i)`` (the :func:`quantize_int8_stats` spelling —
    one double division, same IEEE op in any engine; ``m_i = 0`` is a
    constant-zero dimension, code 0), stored as ``array<tinyint>``
    (|c| ≤ 127 by construction since |e| ≤ m — the 8× compression is
    the storage layout, not a claim) plus the exact reconstruction
    norm ``r = Σ (c_i·m_i)²`` as a BIGINT column — the stored-norms
    discipline (`rn` in the IVFADC index) so search never recomputes
    it.  Scan-local: the scales fold in as a literal array, the corpus
    never shuffles.  ``keep`` passes extra columns through (the IVF
    composition keeps ``list_id``).

    Output: (vec_id[, *keep], sq8 array<tinyint>, r long)."""
    M = _sq8_scale_arr(scales)
    code = F.zip_with(
        F.col("q"), M,
        lambda e, m: F.when(m == 0, F.lit(0).cast("long")).otherwise(
            F.round(
                e.cast("double") * 127 / m.cast("double"), 0
            ).cast("long")
        ),
    )
    return prepared.select(
        "vec_id",
        *keep,
        F.transform(code, lambda c: c.cast("tinyint")).alias("sq8"),
        F.aggregate(
            F.zip_with(code, M, lambda c, m: (c * m) * (c * m)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("r"),
    )


def sq8_decode(codes: DataFrame, scales: list[int]) -> DataFrame:
    """Reconstruct a :func:`prepare`-shaped frame from SQ8 codes —
    ``q_i = c_i·m_i`` (the reconstruction scaled uniformly by 127,
    which cancels in every cosine), ``n = r``.  The identity oracle:
    :func:`sq8_adc_topk` is pinned bit-identical to
    :func:`brute_force_topk` over this frame."""
    M = _sq8_scale_arr(scales)
    return codes.select(
        "vec_id",
        F.zip_with(
            F.col("sq8"), M, lambda c, m: c.cast("long") * m
        ).alias("q"),
        F.col("r").alias("n"),
    )


def sq8_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    scales: list[int],
    k: int = 3,
) -> DataFrame:
    """Asymmetric top-k over the SCALAR-quantized corpus — the search
    half of the SQ8 tier (FAISS ``IndexScalarQuantizer`` search):
    queries stay exact, the corpus is its 1-byte-per-dim codes + the
    stored reconstruction norm, and the score is
    ``cosine(query, reconstruction)`` computed EXACTLY on the integer
    grid: the numerator ``Σ q_i·c_i·m_i`` and both norms (``qn``,
    stored ``r``) are BIGINTs, so the one double division is the same
    IEEE op in every engine — the oracle discipline every cosine
    kernel here shares.  Versus PQ: no codebook to train and
    per-dimension (not per-subspace) granularity, at 1 byte/dim
    instead of m bytes/vector — the standard first rung of the
    compression ladder, same plan shape as :func:`pq_adc_topk`
    (bounded query batch broadcast, codes scanned once, never
    shuffled).  Zero-norm queries and all-zero reconstructions are
    excluded like every cosine kernel.

    Output: (query_id, neighbor_id, rank, cosine_sq8)."""
    q = queries.filter(F.col("n") > 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qarr"),
        F.col("n").alias("qn"),
    )
    joined = codes.filter(F.col("r") > 0).crossJoin(F.broadcast(q))
    return _sq8_score_rank(joined, scales, k)


def _sq8_score_rank(joined: DataFrame, scales: list[int], k: int) -> DataFrame:
    """The shared SQ8 scoring tail — (query, code) pairs in, ranked
    reconstructed cosine out; :func:`sq8_adc_topk` feeds it the full
    cross product, :func:`ivf_sq8_topk` only the probed lists."""
    M = _sq8_scale_arr(scales)
    w = F.zip_with(F.col("sq8"), M, lambda c, m: c.cast("long") * m)
    ndot = F.aggregate(
        F.zip_with(F.col("qarr"), w, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = joined.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            ndot.cast("double")
            / (F.sqrt(F.col("qn").cast("double"))
               * F.sqrt(F.col("r").cast("double")))
        ).alias("cosine"),
    )
    return _rank_topk(scored, k).withColumnRenamed("cosine", "cosine_sq8")


def ivf_sq8_index(
    prepared: DataFrame,
    coarse_rows: list[tuple[int, list[int]]],
    scales: list[int],
) -> DataFrame:
    """IVF-SQ8 index build — the :func:`ivf_pq_index` posture with the
    scalar quantizer as the code tier: shuffle-free coarse assignment
    (:func:`ivf_assign_local` — centroids folded into literal argmin
    expressions) composed with the scan-local SQ8 encode
    (:func:`sq8_codes` keeping ``list_id``), so the whole build is one
    pass over the corpus with zero exchanges.  Store it
    ``partitionBy("list_id")`` like every inverted index here and
    partition pruning applies before the probe join.

    Output: (vec_id, list_id, sq8 array<tinyint>, r long)."""
    return sq8_codes(
        ivf_assign_local(prepared, coarse_rows), scales,
        keep=("list_id",),
    )


def ivf_sq8_topk(
    queries: DataFrame,
    index: DataFrame,
    coarse_centroids: DataFrame,
    scales: list[int],
    k: int = 3,
    nprobe: int = 2,
    coarse_rows: list[tuple[int, list[int]]] | None = None,
) -> DataFrame:
    """IVF-SQ8 search — FAISS ``IndexIVFScalarQuantizer``: each query
    probes its ``nprobe`` nearest inverted lists (:func:`ivf_assign`
    on the tiny query side, coarse centroids broadcast) and scores
    only those lists' 1-byte/dim codes against the exact query — the
    :func:`ivf_pq_topk` plan shape (index never shuffles, probe side
    broadcast, unique (query, code) pairs by construction) with the
    scalar tier's near-lossless grid (recall ceiling ~0.99@10 at 1M,
    SCALE_PROBE ``sq8_*``) in place of the trained codebook.
    ``nprobe`` ≥ the list count returns :func:`sq8_adc_topk`'s answer
    exactly (the recall-oracle identity, pinned in tests).

    Output: (query_id, neighbor_id, rank, cosine_sq8)."""
    index = _index_barrier(index, "ivf_sq8_topk")
    # probe side (r13): literal-fold top-nprobe when the coarse rows are
    # in hand — same swap as ivf_pq_topk (guide §2.4, no probe exchange)
    q = (
        (
            ivf_assign_local(queries, coarse_rows, nprobe)
            if coarse_rows is not None
            else ivf_assign(queries, coarse_centroids, nprobe, None)
        )
        .filter(F.col("n") > 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qarr"),
            F.col("n").alias("qn"),
            "list_id",
        )
    )
    joined = index.filter(F.col("r") > 0).join(F.broadcast(q), "list_id")
    return _sq8_score_rank(joined, scales, k)


def gram_stats(emb: DataFrame, dim: int, quant: int = 1024) -> DataFrame:
    """Covariance sufficient statistics in ONE corpus pass — the
    second moments a PCA / OPQ-style decorrelating rotation in front of
    PQ is computed from (Jégou et al. §V.A; Ge et al. CVPR 2013).

    Output: one row per dimension pair ``0 ≤ i ≤ j < dim``::

        (i, j, n_vecs, s_i, s_j, s_ij)

    with ``s_i = Σ qᵢ``, ``s_ij = Σ qᵢ·qⱼ`` over the corpus, where ``q``
    is the embedding quantized onto an integer grid (×``quant``).  Every
    statistic is an exact BIGINT — bit-identical under any partitioning,
    engine, or merge order — and the set is MERGEABLE across shards/runs
    by plain addition, so incremental corpora fold in without rescanning
    (the HLL/CMS sketch discipline applied to second moments).

    Scale shape: the pair explode multiplies rows by d(d+1)/2 (2080 at
    d=64) but feeds a map-side-combined groupBy on 2080 keys — partials,
    not exploded rows, cross the wire; the shuffle is O(partitions·d²)
    regardless of corpus size.  The O(n·d²) multiply cost is inherent to
    a covariance.  Overflow budget: |q| ≤ quant·max|v| (~592 at the 1024
    default on unit-norm vectors), so Σ qᵢqⱼ stays in int64 past 10¹³
    vectors.
    """
    q = quantized(F.col("embedding"), quant)
    rows = (
        emb.select(q.alias("__q"))
        .select(F.explode(F.expr(f"sequence(0, {dim - 1})")).alias("i"), "__q")
        .select(
            "i",
            F.expr(f"explode(sequence(i, {dim - 1}))").alias("j"),
            F.expr("get(__q, i)").alias("qi"),
            F.expr("get(__q, j)").alias("qj"),
        )
    )
    return rows.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum("qi").alias("s_i"),
        F.sum("qj").alias("s_j"),
        F.sum(F.col("qi") * F.col("qj")).alias("s_ij"),
    )


def hadamard_rows(dim: int) -> list[list[int]]:
    """The ±1 Sylvester–Hadamard matrix H(dim) as row lists —
    ``h[c][i] = (−1)^popcount(c AND i)``, dim a power of two.  H·Hᵀ =
    dim·I, so H is an ORTHOGONAL rotation up to the uniform scale
    √dim — and cosine is scale-invariant, so rotating every vector by H
    preserves all cosine rankings EXACTLY while mixing every input
    coordinate into every output coordinate.  Two uses: the
    deterministic, engine-exact rotation instance the registered
    rotated-IVFADC query pins (every entry is ±1, so the rotation of a
    quantized vector is exact BIGINT arithmetic any engine reproduces —
    a trained float rotation could not be oracle-checked bit-exactly),
    and the classic structured-rotation trick itself (random-rotation
    LSH preconditioning uses exactly this matrix)."""
    if dim < 1 or dim & (dim - 1):
        raise ValueError(f"Hadamard dimension must be a power of 2, got {dim}")
    return [
        [1 if bin(c & i).count("1") % 2 == 0 else -1 for i in range(dim)]
        for c in range(dim)
    ]


def rotate_quantized(
    prepared: DataFrame, rows: list[list[int]]
) -> DataFrame:
    """Apply an INTEGER rotation matrix to a :func:`prepare` frame —
    ``q'[c] = Σᵢ rows[c][i]·q[i]``, exact BIGINTs end to end (the
    :func:`hadamard_rows` companion; any all-integer matrix works).
    Output is again (vec_id, q, n): the rotated frame drops into the
    IVF/PQ stack exactly like an unrotated one.

    Scan-local and exchange-free: the matrix is a model parameter
    (dim² small ints) folded in as literal arrays — one ``zip_with``
    fold per output coordinate on the integer grid.
    Order-independence is unconditional (BIGINT addition is
    associative), which is what makes a rotated index
    DuckDB-oracle-checkable where a float rotation is only
    fold-order-reproducible."""
    dim = len(rows)
    folds = ", ".join(
        "aggregate(zip_with(q, {r}, (v, s) -> v * s),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)".format(r=_vec_sql(row))
        for row in rows
    )
    if any(len(row) != dim for row in rows):
        raise ValueError("rotation matrix must be square")
    # dimension guard at RUN time (no eager plan-build job): zip_with
    # null-pads a matrix/vector length mismatch, which the downstream
    # n > 0 filters would silently DROP — assert_true turns that into a
    # loud per-row error instead.  Folded INTO the output expression
    # (a standalone guard column would be pruned away unevaluated);
    # one size() per row, negligible.
    out = prepared.selectExpr(
        "vec_id",
        f"CASE WHEN assert_true(size(q) = {dim}, 'rotate_quantized:"
        f" rotation dim {dim} != input vector dim') IS NULL"
        f" THEN array({folds}) END AS q",
    )
    return out.withColumn("n", sq_norm(F.col("q")))


def pq_codes(
    prepared: DataFrame,
    centroid_rows: list[tuple[int, list[int]]],
    m: int = 4,
    dim: int = 64,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """Product-quantization encoding (Jégou et al., TPAMI 2011): split
    each vector into ``m`` subvectors and snap every subvector to its
    nearest sub-centroid — the memory side of large-scale ANN (an
    m-byte code replaces a dim×4-byte vector; IVF-PQ is this plus
    :func:`ivf_assign`).

    ``centroid_rows`` is the trained codebook as PLAIN PYTHON data —
    ``(cid, quantized_vector)`` tuples, k·dim ints.  A codebook is a
    model parameter, not data: collecting it to the driver and inlining
    it as literals is the same metadata-scale exception as the store's
    month keys, and it buys the best possible plan — every distance is
    an UNROLLED integer expression over sliced columns, so encoding runs
    scan-local at scan bandwidth: no join, no shuffle, no HOF.  (The
    declarative alternative — m broadcast joins + argmin windows — is
    :func:`ivf_assign`'s shape; it shuffles nothing either but pays m
    window sorts.  Literal inlining measured cleanly faster and keeps
    the whole encode inside one whole-stage-codegen span.  The price is
    a FIXED ~3 s of plan/codegen compilation for the ~m·k·dsub-term tree
    — invisible at fleet scale, dominant at toy scale: encoding 200k×64-d
    vectors measures ~2 s warm (1.9 s in SCALE_PROBE.json), the same
    wall as 500 vectors.)  Above ``_UNROLL_LIMIT`` terms (production
    k=256 codebooks, where the tree exhausts janino's heap) the same
    encode runs as :func:`_pq_codes_blas`, with identical output.

    Exactness: subvector distances are ``nsub + cn − 2·dot`` over exact
    BIGINTs (cn folded in Python — exact), ties break to the smaller
    centroid id (first-min ``array_position``, cid-sorted array), and
    ``sq_err`` = Σ per-subspace min distances is the exact integer
    reconstruction error (the PQ analogue of
    :func:`quantize_int8_stats`'s audit).

    Output: (vec_id, *passthrough, code_0..code_{m-1}, sq_err) —
    ``passthrough`` names columns of ``prepared`` carried through
    unchanged (e.g. the coarse ``list_id`` when building an IVF-PQ
    index via :func:`ivf_pq_index`).
    """
    cents, dsub = _pq_check(centroid_rows, m, dim)
    if m * len(cents) * dsub > _UNROLL_LIMIT:
        return _pq_codes_blas(prepared, cents, m, dim, passthrough)
    # Expressions are composed as SQL TEXT and parsed server-side in ONE
    # call per output column: building the same ~m·k·dsub-term tree out
    # of Column operators costs thousands of py4j round-trips (measured
    # ~5 s of pure driver time at m=4, k=8, dsub=16).  The argmin is
    # array_position(d_arr, array_min(d_arr)) — first-min index ≡
    # smallest cid on ties (cents are cid-sorted), with a tree linear in
    # k instead of the k-fold duplication a CASE-per-centroid chain pays.
    out_cols = ["vec_id", *passthrough]
    # STAGED projections, deliberately: the naive single-project spelling
    # inlines the 8-distance array THREE times per subspace (argmin
    # position, min, error term) and the 16-term nsub sum EIGHT times per
    # distance — a ~6× bigger tree that blew past janino's method limits
    # in the composed IVF-PQ plan (codegen compile failed, whole stage
    # fell back interpreted, ~6 s of fixed cost per execution).  Staging
    # nsub_s and d_arr_s as named columns keeps each evaluated ONCE:
    # CollapseProject declines to re-inline a non-cheap expression that is
    # referenced more than once, so the staged shape survives
    # optimization (verified by timing and janino silence; values
    # identical by construction).
    # "q" may itself be a passthrough column (the codebook trainer melts
    # codes back against the raw residuals) — never project it twice
    stage0 = list(out_cols) + ([] if "q" in out_cols else ["q"])
    for s in range(m):
        nsub = " + ".join(
            f"element_at(q, {s * dsub + j + 1}) * element_at(q, {s * dsub + j + 1})"
            for j in range(dsub)
        )
        stage0.append(f"({nsub}) AS nsub_{s}")
    stage1 = list(out_cols)
    for s in range(m):
        ds = []
        for cid, cq in cents:
            csub = cq[s * dsub : (s + 1) * dsub]
            cn = sum(v * v for v in csub)
            dot_sql = " + ".join(
                f"element_at(q, {s * dsub + j + 1}) * CAST({int(cv)} AS BIGINT)"
                for j, cv in enumerate(csub)
            )
            ds.append(
                f"(nsub_{s} + CAST({int(cn)} AS BIGINT) - 2 * ({dot_sql}))"
            )
        stage1.append(f"array({', '.join(ds)}) AS d_arr_{s}")
    stage2 = list(out_cols)
    for s in range(m):
        stage2.append(
            f"CAST(array_position(d_arr_{s}, array_min(d_arr_{s})) - 1"
            f" AS INT) AS code_{s}"
        )
    stage2.append(
        " + ".join(f"array_min(d_arr_{s})" for s in range(m)) + " AS sq_err"
    )
    return (
        prepared.selectExpr(*stage0)
        .selectExpr(*stage1)
        .selectExpr(*stage2)
    )


def _pq_codes_blas(
    prepared: DataFrame,
    centroid_rows: list[tuple[int, list[int]]],
    m: int = 4,
    dim: int = 64,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """:func:`pq_codes`' kernel above ``_UNROLL_LIMIT`` — same contract
    (codebook as plain Python data, scan-local encode, zero exchanges),
    same RESULTS (exact int64 subspace distances, first-min/smaller-cid
    tie-break, exact ``sq_err`` — pinned against the native kernel in
    tests).

    Production PQ is k=256 codes per subspace (one byte — Jégou et al.
    §II), and the unrolled m·k·dsub-term distance tree exhausts the
    driver heap in janino there (measured at k=256/m=16 — the
    expression-tree wall, not a data-size wall).  The encode is m dense
    int64 matmuls per batch (corpus-subspace × codebook-subspace) — the
    same BLAS shape as :func:`brute_force_topk_arrow`.  Registered plans
    never reach it (their codebooks are ≤ 512 terms).
    """
    import numpy as np

    cents, dsub = _pq_check(centroid_rows, m, dim)
    cmat = np.array([cq for _, cq in cents], dtype=np.int64)  # k × dim

    in_types = {f.name: f.dataType.simpleString() for f in prepared.schema.fields}
    cols = list(dict.fromkeys(["vec_id", *passthrough, "q"]))

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            qmat = np.array(pdf["q"].tolist(), dtype=np.int64)  # b × dim
            out = {"vec_id": pdf["vec_id"].to_numpy(dtype=np.int64)}
            for c in passthrough:
                out[c] = pdf[c]
            sq = np.zeros(len(pdf), dtype=np.int64)
            for s in range(m):
                qs = qmat[:, s * dsub:(s + 1) * dsub]
                cs = cmat[:, s * dsub:(s + 1) * dsub]
                # exact int64: nsub + cn − 2·dot, the pq_codes identity
                d = (
                    (qs * qs).sum(axis=1)[:, None]
                    + (cs * cs).sum(axis=1)[None, :]
                    - 2 * (qs @ cs.T)
                )
                code = np.argmin(d, axis=1)  # first min = smaller cid
                out[f"code_{s}"] = code.astype(np.int32)
                sq += np.take_along_axis(d, code[:, None], axis=1).ravel()
            out["sq_err"] = sq
            yield pd.DataFrame(out)

    schema = ", ".join(
        ["vec_id long"]
        + [f"{c} {in_types[c]}" for c in passthrough]
        + [f"code_{s} int" for s in range(m)]
        + ["sq_err long"]
    )
    return prepared.select(*cols).mapInPandas(encode, schema)


def _pq_check(
    centroid_rows: list[tuple[int, list[int]]], m: int, dim: int
) -> tuple[list[tuple[int, list[int]]], int]:
    """Shared PQ codebook validation: dim splits into m subspaces and
    cids are contiguous 0..k-1 (LUT position IS the code — true for any
    trained codebook that numbers its centroids; re-number upstream
    otherwise)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    cents = sorted(centroid_rows)
    if [cid for cid, _ in cents] != list(range(len(cents))):
        raise ValueError("codebook cids must be contiguous 0..k-1")
    return cents, dim // m


# plan-node names that make an index input safe to join against without a
# materialization barrier: a stored artifact (scan + pruning predicates) or
# an already-cached frame.  Everything else — in particular an in-plan
# ivf_pq_index() build whose staged encode carries codebook-sized generated
# expressions — would be INLINED under the search's broadcast join by
# Catalyst's projection collapse, and the fused expression tree detonates
# janino codegen (reproduced: >15 min + driver OOM at 472 index rows vs
# ~4 s with a barrier).  The registered plans always pin
# (plans/extensions.py sim_ivf_pq_topk / sim_ivfadc_topk); this guard makes
# the barrier STRUCTURAL so the public API can't be composed into the
# detonating shape by accident (the round-9 test regression).
_SCAN_ONLY_NODES = frozenset(
    {
        "Relation",
        "LogicalRelation",
        "Project",
        "Filter",
        "InMemoryRelation",
        "LocalRelation",
        "LogicalRDD",
    }
)


def _plan_node_names(df: DataFrame) -> list[str]:
    """Node names of the optimized logical plan, one per tree line (the
    stable-enough surface: each optimized-plan node prints as one line
    whose first identifier is the node class's simple name)."""
    import re

    text = df._jdf.queryExecution().optimizedPlan().toString()
    names = []
    for line in text.splitlines():
        m = re.match(r"[A-Za-z][A-Za-z0-9_]*", line.lstrip(" :+-"))
        if m:
            names.append(m.group(0))
    return names


def _index_barrier(index: DataFrame, caller: str) -> DataFrame:
    """Structural materialization barrier for PQ index inputs.

    Pass-through when the index is already cached or is a plain stored
    artifact (scan/project/filter only — keeps ``list_id`` partition
    pruning intact).  Any other shape is pinned and eagerly
    materialized here (pin + count), with a warning naming the
    production posture: build the index ONCE, store it partitioned by
    ``list_id``, and search the stored artifact.  The pinned blocks
    live until ``release_plan_caches()`` — audit-scale for any index
    small enough to be built in-plan."""
    if index.is_cached:
        return index
    if all(n in _SCAN_ONLY_NODES for n in _plan_node_names(index)):
        return index
    import warnings

    warnings.warn(
        f"{caller}: the index input is an unmaterialized complex plan —"
        " persisting it here to keep the staged encode out of the search"
        " join's codegen. Production posture: build the index once, write"
        " it partitioned by list_id, and search the stored artifact"
        " (see plans/sqlfn.py tvf_ivf_pq_search).",
        stacklevel=3,
    )
    index = pin(index)
    index.count()
    return index


def _adc_lut_cols(
    cents: list[tuple[int, list[int]]], m: int, dsub: int
) -> list[str]:
    """Per-subspace ADC lookup tables as SQL text (one server-side parse
    each — the py4j-chatter economics of pq_codes): LUT_s[c] =
    dot(q_sub_s, c_sub), unrolled integer dots against the literal
    codebook.  ONE implementation shared by :func:`pq_adc_topk` and
    :func:`ivf_pq_topk` so the LUT spelling can never drift between
    them."""
    if m * len(cents) * dsub > _UNROLL_LIMIT:
        # large-codebook spelling (k=256 production geometry): the
        # unrolled m·k·dsub-term tree detonates janino past ~16k terms
        # (heap-OOM during whole-stage compile, same wall as the native
        # encode — see _pq_codes_blas).  Spell each LUT as ONE transform
        # over the literal per-subspace codebook (an all-literal array
        # constant-folds to a single Literal): interpreted HOF eval, but
        # the LUT projection runs on the METADATA-SCALE probe side
        # (|Q|·nprobe rows), so per-plan compile cost wins over per-row
        # eval cost by orders of magnitude here.  Values identical —
        # exact int64 either way.  The limit keeps every k ≤ 16
        # historical plan byte-identical (their unrolled text is part of
        # pinned oracle hashes).
        lut_cols = []
        for s in range(m):
            cb_arr = "array({})".format(", ".join(
                _vec_sql(cq[s * dsub:(s + 1) * dsub]) for _, cq in cents
            ))
            lut_cols.append(
                f"transform({cb_arr}, c -> aggregate(zip_with("
                f"slice(q, {s * dsub + 1}, {dsub}), c,"
                " (a, b) -> a * b), CAST(0 AS BIGINT),"
                f" (acc, x) -> acc + x)) AS lut_{s}"
            )
        return lut_cols
    lut_cols = []
    for s in range(m):
        dots = []
        for _, cq in cents:
            csub = cq[s * dsub : (s + 1) * dsub]
            dots.append(
                " + ".join(
                    f"element_at(q, {s * dsub + j + 1})"
                    f" * CAST({int(cv)} AS BIGINT)"
                    for j, cv in enumerate(csub)
                )
            )
        lut_cols.append(
            f"array({', '.join(f'({d})' for d in dots)}) AS lut_{s}"
        )
    return lut_cols


def _adc_score_rank(
    joined: DataFrame,
    cents: list[tuple[int, list[int]]],
    m: int,
    dsub: int,
    k: int,
) -> DataFrame:
    """Shared ADC scoring + ranking over a frame carrying
    (query_id, qn, lut_*, vec_id, code_*): reconstruction norms are
    Python-folded constants looked up by code, the score is the
    reconstructed cosine, ties rank to the smaller neighbor id."""
    rn_consts = [
        F.array(
            *[
                F.lit(
                    sum(
                        v * v
                        for v in cq[s * dsub : (s + 1) * dsub]
                    )
                ).cast("long")
                for _, cq in cents
            ]
        )
        for s in range(m)
    ]
    adot = None
    rn = None
    for s in range(m):
        a = F.element_at(F.col(f"lut_{s}"), F.col(f"code_{s}") + 1)
        r = F.element_at(rn_consts[s], F.col(f"code_{s}") + 1)
        adot = a if adot is None else adot + a
        rn = r if rn is None else rn + r
    scored = (
        joined.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine(adot, F.col("qn"), rn).alias("cosine_adc"),
            rn.alias("__rn"),
        )
        .filter(F.col("__rn") > 0)
        .drop("__rn")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_adc").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_adc")
    )


def pq_adc_topk(
    queries: DataFrame,
    codes: DataFrame,
    centroid_rows: list[tuple[int, list[int]]],
    k: int = 3,
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Asymmetric-distance top-k over a PQ-COMPRESSED corpus (the search
    half of IVF-PQ): queries stay exact, the corpus is only its m-byte
    :func:`pq_codes` rows, and each query scores a code by table lookup —
    ``adot = Σ_s LUT_s[code_s]`` where ``LUT_s[c] = dot(q_sub_s, c_sub)``.

    The scale shape is the PQ promise realized: the corpus side scanned
    is the CODES table (m small ints per vector — 16× less I/O than raw
    64-d floats), it never shuffles (bounded query batch broadcast, one
    pass), and the per-pair work is m array lookups + adds instead of a
    dim-term dot.  The LUTs are computed ONCE per (query, subspace) on
    the tiny query side — unrolled integer dots against the literal
    codebook — and the reconstruction norm is a pure lookup into
    Python-folded constants (Σ_s ‖c_{code_s}‖², exact BIGINTs).

    Approximation contract: scores are cosine(query, RECONSTRUCTED
    corpus vector) — exactly computable (and engine-exact, hence the
    DuckDB oracle), approximate only in that reconstruction quantizes
    the corpus; recall vs exact search is the codebook-quality dial.
    Zero-norm queries and all-zero reconstructions are excluded like
    every other cosine kernel here.

    Output: (query_id, neighbor_id, rank, cosine_adc).
    """
    cents, dsub = _pq_check(centroid_rows, m, dim)
    q = queries.filter(F.col("n") > 0).selectExpr(
        "vec_id AS query_id", "n AS qn", *_adc_lut_cols(cents, m, dsub)
    )
    joined = codes.select(
        "vec_id", *[f"code_{s}" for s in range(m)]
    ).crossJoin(F.broadcast(q))
    return _adc_score_rank(joined, cents, m, dsub, k)


def ivf_assign_local(
    prepared: DataFrame,
    coarse_rows: list[tuple[int, list[int]]],
    nprobe: int = 1,
) -> DataFrame:
    """Shuffle-free coarse assignment — :func:`ivf_assign` with the
    coarse centroids folded into LITERAL expressions (the
    :func:`pq_codes` trick applied to the coarse tier): every distance
    ``n + cn − 2·dot`` is an unrolled integer expression over the
    vector column; at ``nprobe=1`` the argmin is ``array_position(
    d_arr, array_min(d_arr))`` over the id-sorted distance array, and
    at ``nprobe>1`` (r13 — the probe-side spelling) the top-n lists are
    ``slice(array_sort(array(struct(d, list_id))), 1, nprobe)`` then
    one explode — either way the input never leaves its scan: no
    broadcast join, no window, no exchange.  (The window spelling this
    replaces on the probe side shuffled n_queries·n_lists candidate
    rows through a per-query sort — guide §2.4: the per-vector top-n
    over a model-scale candidate set never needed an exchange.)

    ``coarse_rows`` is the trained coarse quantizer as plain Python data
    (``(list_id, quantized_vector)``, k·dim ints — a model parameter,
    the same metadata-scale posture as the PQ codebook).  Tie-break ≡
    :func:`ivf_assign`'s ``(d asc, list_id asc)``: first-min position
    over the list-id-sorted array IS the smallest id among minima, and
    struct ordering under ``array_sort`` is lexicographic (d asc,
    list_id asc) exactly.

    Same staged-projection discipline as :func:`pq_codes`: per-centroid
    distance columns first, the k-entry array second, the selection
    third — keeps every unrolled dot evaluated once and each generated
    method janino-sized.  Above ``_UNROLL_LIMIT`` terms (n_lists·dim —
    production list counts, n_lists ≈ √n) the same assignment runs as
    :func:`_ivf_assign_blas`, with identical output.

    PRECONDITION (matters only outside :func:`prepare` output): every
    input vector must have ≥ dim non-NULL elements.  ``prepare`` pins
    both (fixed dim, quantized ints), under which the distances are
    never NULL and this is bit-equal to the window spelling.  A NULL
    element or a short vector would make some ``d_i`` NULL, and the
    two spellings then DIVERGE: the window orders NULL distances first
    (asc = nulls-first) while ``array_sort`` here orders NULL struct
    fields last.  Callers feeding frames that are not ``prepare``
    output must validate dimensions first.

    Output: (vec_id, q, n, list_id) — :func:`ivf_assign`'s schema,
    ``min(nprobe, k)`` rows per input vector.
    """
    cents = sorted(coarse_rows)
    if cents and len(cents) * len(cents[0][1]) > _UNROLL_LIMIT:
        return _ivf_assign_blas(prepared, cents, nprobe)
    ids = [int(cid) for cid, _ in cents]
    stage1 = ["vec_id", "q", "n"]
    for i, (_, cq) in enumerate(cents):
        cn = sum(int(v) * int(v) for v in cq)
        dot_sql = " + ".join(
            f"element_at(q, {j + 1}) * CAST({int(cv)} AS BIGINT)"
            for j, cv in enumerate(cq)
        )
        stage1.append(
            f"(n + CAST({cn} AS BIGINT) - 2 * ({dot_sql})) AS d_{i}"
        )
    if nprobe <= 1:
        stage2 = [
            "vec_id", "q", "n",
            "array(" + ", ".join(
                f"d_{i}" for i in range(len(cents))
            ) + ") AS d_arr",
        ]
        id_arr = "array(" + ", ".join(
            f"CAST({cid} AS BIGINT)" for cid in ids
        ) + ")"
        stage3 = [
            "vec_id", "q", "n",
            f"element_at({id_arr}, CAST(array_position(d_arr,"
            " array_min(d_arr)) AS INT)) AS list_id",
        ]
        return (
            prepared.selectExpr(*stage1)
            .selectExpr(*stage2)
            .selectExpr(*stage3)
        )
    pair_arr = "array(" + ", ".join(
        f"struct(d_{i} AS d, CAST({cid} AS BIGINT) AS list_id)"
        for i, cid in enumerate(ids)
    ) + ")"
    stage2 = [
        "vec_id", "q", "n",
        f"slice(array_sort({pair_arr}), 1, {int(nprobe)}) AS __probe",
    ]
    return (
        prepared.selectExpr(*stage1)
        .selectExpr(*stage2)
        .select(
            "vec_id", "q", "n",
            F.explode(F.col("__probe")).alias("__p"),
        )
        .select("vec_id", "q", "n", F.col("__p.list_id").alias("list_id"))
    )


def ivf_pq_index(
    prepared: DataFrame,
    coarse_centroids: DataFrame | None,
    centroid_rows: list[tuple[int, list[int]]],
    m: int = 4,
    dim: int = 64,
    assign: str = "window",
    residual: bool = False,
    coarse_rows: list[tuple[int, list[int]]] | None = None,
) -> DataFrame:
    """Build the IVF-PQ INDEX — the stored artifact of production ANN
    (Jégou et al., TPAMI 2011; the FAISS ``IVFx,PQy`` layout): every
    corpus vector is coarse-assigned to exactly one inverted list
    (:func:`ivf_assign`, centroids broadcast) and stored as its m-byte
    PQ code (:func:`pq_codes`, codebook literal-inlined).  Cost shape,
    stated precisely: with the default ``assign="window"``,
    :func:`ivf_assign`'s per-vector argmin is a ``row_number`` window
    partitioned by ``vec_id`` — ONE corpus-keyed exchange of (vec_id,
    q, n, list, d) candidate rows, paid once per index build.
    ``assign="local"`` switches to the fully shuffle-free build
    (:func:`ivf_assign_local`: coarse centroids collected — k rows, a
    model parameter — and assigned in the scan), making the whole build
    scan-local: read the corpus once, write the index, zero exchanges.
    Both spellings produce identical assignments (same exact integer
    distances, same tie-break; pinned in tests) — pick by corpus size:
    the scan-local build wins where the exchange is the bill (A/B at the
    1M probe in SCALE_PROBE.json), the window spelling skips the fixed
    plan/codegen cost at toy scale.  Within the scan-local build, and
    for the PQ encode either way, the model's size picks the kernel:
    unrolled literal expressions up to ``_UNROLL_LIMIT`` terms, a BLAS
    kernel above it (production n_lists ≈ √n and k=256 codebooks).
    Write the result partitioned/bucketed by ``list_id`` and searches
    scan only probed lists.

    ``residual=True`` stores each vector's code over its RESIDUAL
    ``vec − coarse_centroid(list_id)`` instead of the raw vector — the
    IVFADC layout (Jégou et al., TPAMI 2011 §V): residuals concentrate
    around the origin, so a ``centroid_rows`` codebook TRAINED on them
    (:func:`pq_train_codebooks`) spends its k codes on the small
    within-list spread rather than the whole embedding space — the whole
    recall gap between an untrained and a production IVF-PQ index.
    Search residual indexes with :func:`ivfadc_topk` (the scorer must
    add the coarse term back); :func:`ivf_pq_topk` reads raw-coded
    indexes only.  The residual subtraction is one ``zip_with`` against
    a literal list_id→centroid map (coarse centroids are a model
    parameter, k·dim ints) — still scan-local, still zero exchanges in
    ``assign="local"`` mode.

    Output: (vec_id, list_id, code_0..code_{m-1}, sq_err).
    """
    if assign not in ("window", "local"):
        # fail loudly: a typo silently falling back to the window
        # spelling would pay the corpus-keyed exchange the caller
        # believed they avoided — visible only in the cluster bill
        raise ValueError(
            f"assign must be 'window' or 'local', got {assign!r}"
        )
    # ``coarse_rows`` may be passed directly (the coarse quantizer is a
    # model parameter — a streaming foreachBatch encoder, for one, holds
    # it as plain data and has no centroid frame to collect from); with
    # assign="local" it makes ``coarse_centroids`` fully optional
    if coarse_rows is None and (assign == "local" or residual):
        if coarse_centroids is None:
            raise ValueError(
                "pass coarse_centroids or pre-collected coarse_rows"
            )
        coarse_rows = [
            (r["vec_id"], r["q"])
            for r in coarse_centroids.select("vec_id", "q").collect()
        ]
    if assign == "local":
        assigned = ivf_assign_local(prepared, coarse_rows)
    else:
        if coarse_centroids is None:
            raise ValueError(
                'the "window" assignment joins against a centroid FRAME'
                ' — pass coarse_centroids, or use assign="local" with'
                " coarse_rows"
            )
        # assignment dot: HOF fold, never unrolled — the coarse
        # assignment is a broadcast CROSS join (BroadcastNestedLoopJoin,
        # no whole-stage codegen), where the fold beats the unrolled
        # tree ~6× (the third side of the dot dial, see :func:`dot`)
        assigned = ivf_assign(prepared, coarse_centroids, 1, None)
    if residual:
        assigned = residualize(assigned, coarse_rows)
        coded = pq_codes(
            assigned, centroid_rows, m=m, dim=dim, passthrough=("list_id",)
        )
        # store the reconstruction norm rn = ‖coarse(list) + decode(code)‖²
        # as an index COLUMN (what FAISS does for IP/cosine search): it is
        # a pure function of (list_id, codes), computed here scan-local
        # from codebook-sized literals (m·k·dsub + nlists·dim ints), so
        # the SEARCH plan needs no per-(list, code) constants at all — a
        # first cut folded nlists·m·k cross-term literals into the search
        # expression, which is quadratic plan text in the index geometry
        # (32k terms at 64 lists × m=32 × k=16) and stalled codegen for
        # minutes; this spelling keeps both build and search plans linear
        # in the model size
        cents, dsub = _pq_check(centroid_rows, m, dim)
        cb_arrs = [
            "array({})".format(", ".join(
                _vec_sql(cc[s * dsub:(s + 1) * dsub]) for _, cc in cents
            ))
            for s in range(m)
        ]
        res = "concat({})".format(", ".join(
            f"element_at({cb_arrs[s]}, code_{s} + 1)" for s in range(m)
        ))
        cm = _coarse_map_sql(coarse_rows)
        recon = (
            f"zip_with(element_at({cm}, list_id), {res},"
            " (a, b) -> a + b)"
        )
        return coded.selectExpr(
            "*",
            f"aggregate({recon}, CAST(0 AS BIGINT),"
            " (acc, x) -> acc + x * x) AS rn",
        )
    return pq_codes(
        assigned, centroid_rows, m=m, dim=dim, passthrough=("list_id",)
    )


def _vec_sql(vals: list[int]) -> str:
    """A quantized vector as one literal SQL array of exact BIGINTs."""
    return "array({})".format(
        ", ".join(f"CAST({int(v)} AS BIGINT)" for v in vals)
    )


def _coarse_map_sql(coarse_rows: list[tuple[int, list[int]]]) -> str:
    """``map(list_id → quantized centroid vector)`` as SQL text — ONE
    server-side parse regardless of k·dim (the py4j-chatter economics of
    :func:`pq_codes`; a ``F.lit``-per-element spelling costs k·dim
    round-trips)."""
    entries = ", ".join(
        f"CAST({int(cid)} AS BIGINT), {_vec_sql(cq)}"
        for cid, cq in sorted(coarse_rows)
    )
    return f"map({entries})"


def residualize(
    assigned: DataFrame, coarse_rows: list[tuple[int, list[int]]]
) -> DataFrame:
    """(vec_id, q, …, list_id) → (vec_id, list_id, q = vec − centroid):
    the residual every IVFADC stage encodes/trains over.  The coarse
    centroids ride as a literal list_id→vector map, so the subtraction
    is scan-local (no join, no shuffle); both sides are exact quantized
    BIGINTs, so residuals are exact integers any engine reproduces."""
    cm = _coarse_map_sql(coarse_rows)
    return assigned.selectExpr(
        "vec_id",
        "list_id",
        f"zip_with(q, element_at({cm}, list_id), (a, b) -> a - b) AS q",
    )


def pq_train_codebooks(
    residuals: DataFrame,
    k: int = 8,
    m: int = 4,
    dim: int = 64,
    iters: int = 1,
) -> list[tuple[int, list[int]]]:
    """Train the per-subspace PQ codebooks — Lloyd's k-means run
    INDEPENDENTLY in each of the ``m`` subspaces (the training half of
    Jégou et al., TPAMI 2011; what FAISS's ``ProductQuantizer::train``
    does), over a (sampled) frame of :func:`residualize` residuals.
    Returns ``centroid_rows`` in exactly the shape :func:`pq_codes` /
    :func:`ivfadc_topk` consume: synthetic full-dim rows whose subspace-s
    slice of row c is subspace s's trained centroid c — per-subspace
    independence is preserved because every consumer only ever SLICES
    the rows per subspace.

    Engine-exact by the same construction as :func:`kmeans_lite`:

    - seeds are the residuals of the ``k`` SMALLEST vec_ids, renumbered
      0..k−1 in vec_id order (deterministic, no rand());
    - assignment is :func:`pq_codes` itself against the current codebook
      (exact-BIGINT distances, first-min tie-break) — the trainer and
      the encoder can never disagree on a boundary;
    - the update re-quantizes each per-(subspace, code, dim) mean back
      onto the integer grid (``rescale_ratio``), and a code that loses
      all members KEEPS its previous centroid (the classic empty-cluster
      rule, chosen over kmeans_lite's drop-out because PQ codes must
      stay contiguous 0..k−1).

    Scale shape per iteration: one corpus-sample scan (the assignment is
    scan-local literal expressions), one (m·k·dim)-row aggregate, one
    metadata-scale collect (the codebook is a model parameter).  Train
    on a bounded sample at fleet scale — codebook quality saturates far
    below full-corpus coverage (100k–1M rows in practice).

    The assignment's kernel follows :func:`pq_codes`' size rule: the
    unrolled literal tree up to ``_UNROLL_LIMIT`` terms, the BLAS kernel
    above it (the k=256 production geometry).  Assignments are identical
    either way, so the trained integers are too.
    """
    from ..functions import exact

    if k < 1 or iters < 0:
        raise ValueError(f"need k >= 1 and iters >= 0, got k={k} iters={iters}")
    dsub = dim // m
    seed_rows = sorted(
        residuals.select("vec_id", "q").orderBy(F.col("vec_id").asc())
        .limit(k).collect(),
        key=lambda r: r["vec_id"],
    )
    if not seed_rows:
        raise ValueError("cannot seed PQ codebooks from an empty frame")
    codebook = [
        (cid, [int(v) for v in r["q"]]) for cid, r in enumerate(seed_rows)
    ]
    for _ in range(iters):
        coded = pq_codes(
            residuals.select("vec_id", "q"), codebook, m=m, dim=dim,
            passthrough=("q",),
        )
        codes_arr = "array({})".format(
            ", ".join(f"code_{s}" for s in range(m))
        )
        melt = coded.select(
            F.expr(codes_arr).alias("__codes"),
            F.posexplode(F.col("q")).alias("pos", "e"),
        ).selectExpr(
            "pos",
            "e",
            f"element_at(__codes, CAST(pos div {dsub} AS INT) + 1) AS cid",
        )
        means = melt.groupBy("cid", "pos").agg(
            exact.rescale_ratio(F.sum("e"), F.count("e"), 1).alias("me")
        )
        got = {
            (int(r["cid"]), int(r["pos"])): int(r["me"])
            for r in means.collect()
        }
        codebook = [
            (cid, [got.get((cid, p), old[p]) for p in range(dim)])
            for cid, old in codebook
        ]
    return codebook


def _adaptive_assign(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int,
    target: int,
    counts: dict[int, int],
) -> DataFrame:
    """Probe-side assignment with a CANDIDATE-COUNT budget instead of a
    fixed list count: each query walks its distance-ranked (matching)
    lists and keeps probing until the cumulative matching-vector count
    reaches ``target``, with ``nprobe`` as the floor.  ``counts`` is
    the per-list matching occupancy (model scale, ≤ n_lists entries —
    folded in as a literal map).  The whole computation lives on the
    PROBE side: n_queries × n_matched rows through one window, never
    the corpus."""
    c = centroids.select(
        F.col("vec_id").alias("list_id"),
        F.col("q").alias("cv"),
        F.col("n").alias("cn"),
    )
    scored = queries.crossJoin(F.broadcast(c)).select(
        "vec_id",
        "q",
        "n",
        "list_id",
        (F.col("n") + F.col("cn") - 2 * dot(F.col("q"), F.col("cv")))
        .alias("d"),
    )
    cnt_map = F.create_map(
        *[
            F.lit(v).cast("bigint")
            for kv in sorted(counts.items())
            for v in kv
        ]
    )
    wr = Window.partitionBy("vec_id").orderBy(
        F.col("d").asc(), F.col("list_id").asc()
    )
    wcum = wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        scored.withColumn("pr", F.row_number().over(wr))
        .withColumn("cnt", F.element_at(cnt_map, F.col("list_id")))
        .withColumn("cum", F.sum("cnt").over(wcum))
        .filter(
            (F.col("pr") <= nprobe)
            | (F.col("cum") - F.col("cnt") < target)
        )
        .select("vec_id", "q", "n", "list_id")
    )


def ivfadc_topk(
    queries: DataFrame,
    index: DataFrame,
    coarse_centroids: DataFrame,
    centroid_rows: list[tuple[int, list[int]]],
    k: int = 3,
    nprobe: int = 2,
    m: int = 4,
    dim: int = 64,
    where: Column | str | None = None,
    probe_matching_only: bool = False,
    anti: DataFrame | None = None,
    target_candidates: int | None = None,
) -> DataFrame:
    """IVFADC search — :func:`ivf_pq_topk` for a RESIDUAL-encoded index
    (``ivf_pq_index(residual=True)`` + :func:`pq_train_codebooks`): the
    reconstruction is ``coarse_centroid(list) + decode(code)``, so the
    score decomposes as

    - ``adot  = dot(q, coarse_list) + Σ_s LUT_s[code_s]``  (the LUTs are
      the SAME raw-query-vs-codebook tables as plain ADC — dot is linear,
      so the coarse term is one extra per-(query, probed-list) constant);
    - ``rn``  is READ from the index — ``ivf_pq_index(residual=True)``
      stores the exact reconstruction norm per code row (the FAISS
      norms-table discipline), so the search plan carries only
      codebook-sized literals.  (A first cut folded the
      nlists·m·k per-(list, code) cross terms into the search expression
      instead — quadratic plan text in the index geometry, minutes of
      codegen at 64 lists × m=32; storing rn keeps search linear in the
      model size and costs one int64 per corpus row.)

    Scale shape is ivf_pq_topk's, unchanged: the index never shuffles or
    replicates, the probe side is exploded nprobe× and broadcast, the
    per-pair work is m+1 lookups and adds.  Scores are the exactly-
    computable reconstructed cosine (hence the DuckDB oracle); with
    ``nprobe`` ≥ the list count this equals brute-force search over the
    decoded corpus exactly (:func:`ivfadc_decode`, pinned in tests).

    The ``index`` input passes through :func:`_index_barrier`: a stored
    artifact or cached frame is searched as-is (pruning intact); an
    in-plan build is persisted here first so its staged encode can never
    inline under the search join (the round-9 codegen detonation).

    ``where`` is the FILTERED (hybrid) search dial — "top-k WHERE facet
    = X", the question every production vector store answers.  The
    predicate (a Column or SQL string over the index's columns —
    ``vec_id``, ``list_id``, any metadata column the caller joined or
    carried into the index frame before saving) is applied to the
    probed-list scan BEFORE ADC scoring, so a stored-artifact search
    pushes it into the parquet scan (pre-filtering): the result is the
    TRUE top-k among matching vectors — post-filtering an unfiltered
    top-k slate would return fewer than k under any selective
    predicate.  SCALE_PROBE.json records the recall-vs-selectivity
    curve at 1M codes, anchored by the unfiltered run on the same
    index: for a metadata predicate independent of the embedding (the
    production shape), pre-filter recall at equal nprobe is flat at
    moderate selectivity and IMPROVES at high selectivity (measured
    0.263 unfiltered → 0.261 / 0.329 / 0.415 at sel 0.5 / 0.1 / 0.01 —
    the coarse-probe miss rate is selectivity-independent, while a
    sparser matching pool widens exact-score gaps so ADC distortion
    flips fewer ranks).  A predicate CORRELATED with embedding
    position (e.g. one facet = one cluster) changes that calculus —
    measured at 1M: recall collapses to 0.0555 at nprobe=8 because
    queries probe their own neighborhoods and the survivors live
    elsewhere (full probe recovers 0.2969 — pure coarse-miss).
    ``probe_matching_only=True`` is the repair: ONE combine-friendly
    aggregate over the filtered code table (a pruned scan) collects
    the set of lists containing ≥ 1 matching vector — ≤ n_lists longs,
    a model-scale collect at plan-construction time — and each query's
    probe ranking skips lists that cannot contribute candidates, so
    the whole nprobe budget lands on matching lists.  For an
    uncorrelated predicate every list matches and the dial is a no-op
    by construction; leave it off when ``where`` is None (it would
    just pay the aggregate to learn that).

    ``target_candidates`` is the other half of the hybrid-search dial:
    ``probe_matching_only`` fixes WHERE the nprobe budget lands, this
    fixes HOW MUCH budget there is.  Under a selective predicate a
    fixed nprobe scans however few matching vectors happen to live in
    the probed lists — recall degrades exactly when the filter bites
    hardest.  With a target, each query walks its distance-ranked
    MATCHING lists until the cumulative matching count reaches the
    target (``nprobe`` stays the floor), so the scanned-candidate
    budget is roughly constant across selectivities.  Cost model: one
    combine-friendly per-list count aggregate over the filtered code
    table (≤ n_lists rows — the same model-scale plan-build job as
    ``probe_matching_only``, which this implies), then the probe-side
    window; the scan cost is ~target·m bytes per query regardless of
    how selective ``where`` is.

    UNFILTERED, the same dial is nprobe AUTO-TUNE (round 13): with no
    predicate the per-list counts are plain list sizes (same one
    aggregate; for a stored artifact they are also free from the
    ``list_id`` partition stats), and the walk gives "probe until
    ~N candidates are scanned" — the dial a production caller can
    actually set without knowing this corpus's list-occupancy
    distribution.  A fixed nprobe scans wildly different byte counts
    across skewed corpora and across queries (a query near a hot list
    scans 10× a query near cold ones); a candidate target holds
    cost-per-query roughly constant and makes recall tuning portable
    across corpus versions.  ``target ≥ corpus`` degenerates to the
    full probe (≡ exact ADC over all lists) and a tiny target to the
    ``nprobe`` floor — both endpoints pinned in tests.

    ``anti`` is the EXCLUSION side of hybrid search — a (vec_id)
    frame of ids that must not appear (the stored-index tombstone
    table, :func:`~.ann_store.delete_vectors`).  Applied as a
    broadcast anti-join on the probed-list scan BEFORE scoring and
    top-k, same position as ``where``: excluded vectors can neither
    rank nor shorten the slate, and ``probe_matching_only`` sees the
    post-exclusion table (a list emptied by deletions is skipped).
    Broadcast because deletions are small relative to the corpus —
    a corpus-scale exclusion belongs in a rewrite, not a search.

    Output: (query_id, neighbor_id, rank, cosine_adc).
    """
    scored = _ivfadc_scored(
        queries, index, coarse_centroids, centroid_rows, nprobe, m, dim,
        where, probe_matching_only, anti, target_candidates,
    )
    if scored is None:
        return queries.sparkSession.createDataFrame(
            [],
            "query_id long, neighbor_id long, rank int, cosine_adc double",
        )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_adc").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_adc")
    )


def ivfadc_range(
    queries: DataFrame,
    index: DataFrame,
    coarse_centroids: DataFrame,
    centroid_rows: list[tuple[int, list[int]]],
    threshold: float,
    nprobe: int = 2,
    m: int = 4,
    dim: int = 64,
    where: Column | str | None = None,
    probe_matching_only: bool = False,
    anti: DataFrame | None = None,
    target_candidates: int | None = None,
) -> DataFrame:
    """RANGE search over a residual index — FAISS ``range_search``
    for the IVFADC tier: every probed neighbor whose reconstructed
    cosine is ``>= threshold``, instead of the k best.  The radius
    question ("everything closer than tau" — duplicate sweeps, recall
    harvesting, near-dup candidate generation) is answered CHEAPER
    than top-k: the plan is :func:`ivfadc_topk`'s probed pruned scan
    and exact-integer ADC scoring with the rank WINDOW deleted — a
    scan-local predicate replaces the per-query sort exchange, so
    range search adds ZERO exchanges over the probe join and scales
    embarrassingly.  The candidate set is still nprobe-bounded (probed
    lists only — like FAISS, recall depends on nprobe; raise it or
    use ``target_candidates`` to budget coverage), and every hybrid
    dial composes exactly as in :func:`ivfadc_topk`: ``where``
    pre-filters the scan, ``probe_matching_only`` repairs correlated
    predicates, ``anti`` excludes tombstones, ``target_candidates``
    sets the per-query scan budget.

    Output: (query_id, neighbor_id, cosine_adc) — unranked (no rank
    column, by construction: ranking is the cost this operator
    exists to avoid); order is engine-dependent, sort downstream if
    needed.  Pinned in tests: range(tau) row-set == the full-probe
    top-k slate filtered to score >= tau."""
    scored = _ivfadc_scored(
        queries, index, coarse_centroids, centroid_rows, nprobe, m, dim,
        where, probe_matching_only, anti, target_candidates,
    )
    if scored is None:
        return queries.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine_adc double"
        )
    return scored.filter(F.col("cosine_adc") >= float(threshold))


def _ivfadc_scored(
    queries: DataFrame,
    index: DataFrame,
    coarse_centroids: DataFrame,
    centroid_rows: list[tuple[int, list[int]]],
    nprobe: int,
    m: int,
    dim: int,
    where,
    probe_matching_only: bool,
    anti,
    target_candidates,
) -> DataFrame | None:
    """The shared IVFADC probe + ADC-score pipeline (everything in
    :func:`ivfadc_topk`'s contract up to the per-pair ``cosine_adc``
    frame, dials included) — :func:`ivfadc_topk` ranks it,
    :func:`ivfadc_range` thresholds it.  Returns ``None`` when the
    hybrid dials prove no candidate can exist (nothing matches the
    predicate anywhere), so each caller can emit its own typed empty
    frame."""
    cents, dsub = _pq_check(centroid_rows, m, dim)
    if "rn" not in index.columns:
        raise ValueError(
            "ivfadc_topk needs a residual index with the stored rn"
            " column — build it with ivf_pq_index(..., residual=True)"
        )
    index = _index_barrier(index, "ivfadc_topk")
    if where is not None:
        # pre-filter: BEFORE the column prune and the probe join, so the
        # predicate may reference metadata columns that the search
        # itself does not read, and a parquet-backed index scans only
        # matching row groups (PushedFilters)
        index = index.filter(where)
    if anti is not None:
        # AFTER the barrier (an anti-join on top of the scan must not
        # trip the in-plan-build persist) and alongside the where
        # pre-filter: exclusions are part of the candidate set, so
        # probe_matching_only's matched-list aggregate sees them too
        index = index.join(
            F.broadcast(anti.select("vec_id")), "vec_id", "left_anti"
        )
    probe_counts: dict[int, int] | None = None
    if target_candidates is not None:
        # per-list occupancy: under ``where`` the MATCHING counts (the
        # probe_matching_only distinct upgraded to a count); unfiltered
        # the plain list sizes (nprobe auto-tune).  Same pruned scan,
        # same ≤ n_lists output rows, one model-scale plan-build job
        probe_counts = {
            int(r["list_id"]): int(r["cnt"])
            for r in index.groupBy("list_id")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        if not probe_counts:
            return None
        coarse_centroids = coarse_centroids.filter(
            F.col("vec_id").isin(list(probe_counts))
        )
    elif probe_matching_only:
        if where is None:
            raise ValueError(
                "probe_matching_only requires a where predicate — with"
                " no filter every list matches and the dial is a no-op"
            )
        # the lists that can contribute candidates: one combine-friendly
        # distinct over the ALREADY-FILTERED code table (pruned scan),
        # ≤ n_lists longs collected — a model-scale plan-build job.
        # Restricting the coarse frame restricts the probe RANKING:
        # each query's nprobe budget is then spent on its nearest
        # MATCHING lists instead of nearest-overall lists that the
        # filter emptied (the correlated-predicate coarse-miss repair).
        matched = [
            int(r["list_id"])
            for r in index.select("list_id").distinct().collect()
        ]
        if not matched:
            # nothing satisfies the predicate anywhere: the top-k over
            # zero candidates is the empty frame, stated directly — an
            # empty coarse set would otherwise fold into a typeless
            # map() literal and fail analysis
            return None
        coarse_centroids = coarse_centroids.filter(
            F.col("vec_id").isin(matched)
        )
    coarse_rows = sorted(
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in coarse_centroids.select("vec_id", "q").collect()
    )
    cm = _coarse_map_sql(coarse_rows)
    # probe-side assignment: deliberately the WINDOW spelling, NOT the
    # ivf_assign_local literal fold (r13 A/B at sf0.1).  The fold looks
    # cheaper (no BNLJ, no probe exchange) but this function's qdot_c /
    # LUT projections reference ``q`` m·k·dsub more times downstream;
    # without the window's exchange barrier CollapseProject re-inlines
    # the query frame's q EXPRESSION into every one of those references
    # (no CSE), and when q is itself heavy — the rotated-basis
    # search_embeddings path unrolls a 64-term Hadamard per element —
    # the plan detonates: measured 1.9 s → 92 s (rotated) and 2.1 s →
    # 149 s (segments_range) with 100+ MiB task binaries.  The window's
    # exchange materializes q ONCE on a bounded probe batch — that
    # barrier is load-bearing; keep it.
    assigned = (
        ivf_assign(queries, coarse_centroids, nprobe, None)
        if probe_counts is None
        else _adaptive_assign(
            queries, coarse_centroids, nprobe, target_candidates,
            probe_counts,
        )
    )
    q = (
        assigned
        .filter(F.col("n") > 0)
        .selectExpr(
            "vec_id AS query_id", "n AS qn", "list_id",
            f"aggregate(zip_with(q, element_at({cm}, list_id),"
            " (a, b) -> a * b), CAST(0 AS BIGINT),"
            " (acc, x) -> acc + x) AS qdot_c",
            *_adc_lut_cols(cents, m, dsub),
        )
    )
    joined = index.select(
        "vec_id", "list_id", "rn", *[f"code_{s}" for s in range(m)]
    ).join(F.broadcast(q), "list_id")
    lut_sum = " + ".join(
        f"element_at(lut_{s}, code_{s} + 1)" for s in range(m)
    )
    scored = (
        joined.selectExpr(
            "query_id",
            "vec_id AS neighbor_id",
            "qn",
            f"qdot_c + {lut_sum} AS __adot",
            "rn AS __rn",
        )
        .filter(F.col("__rn") > 0)
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("__adot"), F.col("qn"), F.col("__rn")).alias(
                "cosine_adc"
            ),
        )
    )
    return scored


def ivfadc_decode(
    index: DataFrame,
    coarse_rows: list[tuple[int, list[int]]],
    centroid_rows: list[tuple[int, list[int]]],
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Reconstruct every indexed vector from its residual code:
    ``coarse_centroid(list) + concat_s(cb_s[code_s])`` → a
    :func:`prepare`-shaped (vec_id, q, n) frame.  The audit/test aid
    that closes the loop: :func:`ivfadc_topk` at nprobe ≥ nlists must
    equal :func:`brute_force_topk` over THIS frame bit-for-bit (same
    exact-BIGINT dot, same IEEE division)."""
    cents, dsub = _pq_check(centroid_rows, m, dim)
    cb_arrs = [
        "array({})".format(", ".join(
            _vec_sql(cc[s * dsub:(s + 1) * dsub]) for _, cc in cents
        ))
        for s in range(m)
    ]
    res = "concat({})".format(", ".join(
        f"element_at({cb_arrs[s]}, code_{s} + 1)" for s in range(m)
    ))
    cm = _coarse_map_sql(coarse_rows)
    return index.selectExpr(
        "vec_id",
        f"zip_with(element_at({cm}, list_id), {res}, (a, b) -> a + b) AS q",
    ).withColumn("n", sq_norm(F.col("q")))


def ivf_pq_topk(
    queries: DataFrame,
    index: DataFrame,
    coarse_centroids: DataFrame,
    centroid_rows: list[tuple[int, list[int]]],
    k: int = 3,
    nprobe: int = 2,
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ search — the full production ANN shape, composed from the
    audited pieces: each query probes its ``nprobe`` nearest inverted
    lists (:func:`ivf_assign` on the QUERY side only — coarse centroids
    broadcast) and ADC-scores only the :func:`ivf_pq_index` codes in
    those lists.  Per-query corpus work drops from |corpus| rows of
    m-byte codes (:func:`pq_adc_topk`) to Σ|probed lists| — with the
    codes already 16× smaller than raw vectors, this is the
    two-multiplier cost reduction that serves billion-vector corpora.

    Scale shape: the index never shuffles and never replicates — the
    (small) probe side is exploded ``nprobe``× and broadcast, and the
    equality join on ``list_id`` scans inverted lists in place (store
    the index partitioned by ``list_id`` and partition pruning applies
    before the join).  Every (query, code) pair is unique by
    construction (one list per code, distinct probed lists per query),
    so no candidate dedup is needed.

    Scores are the same exactly-computable reconstructed cosine as
    :func:`pq_adc_topk` (hence the DuckDB oracle); the approximation
    axes are codebook quality AND coarse recall (``nprobe`` × list
    count) — with ``nprobe`` ≥ the list count this returns
    :func:`pq_adc_topk`'s answer exactly (the recall-oracle identity,
    pinned in tests).

    The ``index`` input passes through :func:`_index_barrier` (see
    :func:`ivfadc_topk` — same hazard, same guard).

    Output: (query_id, neighbor_id, rank, cosine_adc).
    """
    cents, dsub = _pq_check(centroid_rows, m, dim)
    if "rn" in index.columns:
        # fail loudly: a residual (IVFADC) index decoded as raw-vector
        # codes returns plausible-looking but WRONG cosines — the
        # symmetric guard to ivfadc_topk's missing-rn check
        raise ValueError(
            "this index carries the stored-rn residual (IVFADC) layout"
            " — search it with ivfadc_topk; ivf_pq_topk reads raw-coded"
            " indexes only"
        )
    index = _index_barrier(index, "ivf_pq_topk")
    q = (
        ivf_assign(queries, coarse_centroids, nprobe, None)
        .filter(F.col("n") > 0)
        .selectExpr(
            "vec_id AS query_id", "n AS qn", "list_id",
            *_adc_lut_cols(cents, m, dsub),
        )
    )
    joined = index.select(
        "vec_id", "list_id", *[f"code_{s}" for s in range(m)]
    ).join(F.broadcast(q), "list_id")
    return _adc_score_rank(joined, cents, m, dsub, k)


def ivf_pq_refine(
    candidates: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    kernel: str = "arrow",
) -> DataFrame:
    """Exact re-rank (refine) stage — the final step of the production
    IVF-PQ recipe (Jégou et al., TPAMI 2011 §V; FAISS ``IVFx,PQy``
    with a refine index): the ADC search's top-R *candidates* are
    re-scored against their RAW vectors and the exact top-k is kept.
    ADC cosine is approximate on two axes (codebook quality, coarse
    recall); re-scoring an R ≥ k candidate slate with exact arithmetic
    recovers most of the recall the compression gave up, at the cost of
    touching only |Q|·R raw vectors — never the corpus.

    Scale shape: ``candidates`` is metadata-scale (|Q|·R ids) and is
    BROADCAST into a single corpus scan — the corpus never shuffles and
    only candidate rows survive the join.  The query batch is bounded
    (the same contract as :func:`brute_force_topk`).  The scored set is
    |Q|·R rows, so the final top-k window is audit-scale.

    ``kernel="arrow"`` re-scores with the vectorized Arrow kernel (the
    justified Python node — see :func:`brute_force_topk_arrow`'s BLAS
    rationale).  Unlike the PQ encode and coarse assignment, whose
    kernel the model's size picks (``_UNROLL_LIMIT``), this stays an
    explicit choice: ``kernel="native"`` is the in-engine reference the
    oracle and the parity test read.  It spells the same arithmetic as
    built-in expressions; the two are bit-identical (exact int64 dots, same IEEE
    division — pinned in tests), which is also what makes the DuckDB
    oracle exact.  Zero-norm vectors are excluded on both sides like
    every cosine kernel here.

    Output: (query_id, neighbor_id, rank, cosine) — exact cosine, so a
    refined result is directly comparable to :func:`brute_force_topk`'s.
    """
    if kernel not in ("arrow", "native"):
        raise ValueError(f"kernel must be 'arrow' or 'native', got {kernel!r}")
    # distinct: ``candidates`` from ivf_pq_topk is unique by construction,
    # but this is a public API accepting arbitrary frames — a duplicate
    # (query_id, neighbor_id) row would occupy multiple ranks in the final
    # top-k, silently shrinking effective k.  The slate is metadata-scale
    # (|Q|·R rows), so the dedup exchange is audit-cost.
    cand = candidates.select("query_id", "neighbor_id").distinct()
    gathered = (
        corpus.filter(F.col("n") > 0)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("q").alias("cv"),
            F.col("n").alias("cn"),
        )
        .join(F.broadcast(cand), "neighbor_id")
    )
    if kernel == "native":
        q = queries.filter(F.col("n") > 0).select(
            F.col("vec_id").alias("query_id"),
            F.col("q").alias("qv"),
            F.col("n").alias("qn"),
        )
        scored = gathered.join(F.broadcast(q), "query_id").select(
            "query_id",
            "neighbor_id",
            # HOF fold, not unrolled: candidate slates are bounded
            # (|Q|·R rows), so plan-build cost dominates (see dot())
            cosine(
                dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn")
            ).alias("cosine"),
        )
        return _rank_topk(scored, k)

    import numpy as np

    qrows = queries.filter(F.col("n") > 0).select("vec_id", "q", "n").collect()
    if not qrows:
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, rank int, cosine double"
        )
    qmat = np.array([r.q for r in qrows], dtype=np.int64)  # m × d
    qnorm = np.sqrt(np.array([r.n for r in qrows], dtype=np.float64))
    qpos = {int(r.vec_id): i for i, r in enumerate(qrows)}

    def score(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            # candidates whose query was zero-norm (excluded from the
            # batch) score nothing — same exclusion as the native path
            idx = pdf["query_id"].map(qpos)
            keep = idx.notna().to_numpy()
            if not keep.any():
                continue
            idx = idx.to_numpy()[keep].astype(np.int64)
            qid = pdf["query_id"].to_numpy(dtype=np.int64)[keep]
            nbr = pdf["neighbor_id"].to_numpy(dtype=np.int64)[keep]
            cmat = np.array(pdf["cv"].tolist(), dtype=np.int64)[keep]
            cnorm = np.sqrt(pdf["cn"].to_numpy(dtype=np.float64)[keep])
            # exact int64 row-wise dots (dim·QUANT² ≪ 2⁶³), then the SAME
            # division the native kernel plans: double(dot)/(√qn·√cn)
            dots = np.einsum("ij,ij->i", cmat, qmat[idx]).astype(np.float64)
            yield pd.DataFrame(
                {
                    "query_id": qid,
                    "neighbor_id": nbr,
                    "cosine": dots / (qnorm[idx] * cnorm),
                }
            )

    scored = gathered.mapInPandas(
        score, "query_id long, neighbor_id long, cosine double"
    )
    return _rank_topk(scored, k)


def semantic_contamination(
    benchmark: DataFrame, corpus: DataFrame, threshold: float = 0.3
) -> DataFrame:
    """Embedding-space decontamination screen: for every benchmark (eval)
    vector, how much of the training corpus sits within ``threshold``
    cosine — the semantic complement to
    :func:`~.contamination.ngram_contamination` (paraphrased leakage has
    no shared n-grams but lands next to its source in embedding space;
    release checklists run BOTH screens).

    Same posture as the n-gram screen: the benchmark side is small and
    BROADCAST, the corpus is scanned ONCE and never shuffles; the only
    exchange is the |benchmark|-row final aggregate.  Per benchmark
    vector: how many corpus vectors are within the threshold, the
    closest cosine, and the closest corpus id (the evidence row an
    auditor pulls) — ``max_cosine``/``nearest_id`` come from one
    order-independent ``MIN(struct(−cosine, id))``, so ties break to the
    smaller corpus id in any engine.  Zero-norm vectors are excluded
    from SCORING on both sides, like every cosine kernel here.

    Output contract: EVERY benchmark id gets exactly one row — a
    release-checklist consumer must never have to infer anything from an
    absent row.  A vector with zero scored pairs (zero-norm benchmark
    vector, or an empty / all-zero-norm corpus) reports
    ``n_contaminated = 0`` with NULL ``max_cosine``/``nearest_id`` —
    NULL evidence says "not screened / nothing comparable", while a
    genuinely clean screen has ``n_contaminated = 0`` with a real
    ``max_cosine`` below the threshold.  The two states stay
    distinguishable without a second screen.

    Output: (bench_id, n_contaminated, max_cosine, nearest_id).
    """
    scored = broadcast_scored_pairs(benchmark, corpus).select(
        F.col("query_id").alias("bench_id"), "neighbor_id", "cosine"
    )
    best = F.min(F.struct((-F.col("cosine")).alias("nc"), F.col("neighbor_id")))
    agg = scored.groupBy("bench_id").agg(
        F.sum((F.col("cosine") >= threshold).cast("long")).alias(
            "n_contaminated"
        ),
        (-best["nc"]).alias("max_cosine"),
        best["neighbor_id"].alias("nearest_id"),
    )
    # left-join back from the full benchmark id set: the |benchmark|-row
    # aggregate is broadcast back against the (small) benchmark side, so
    # the completeness guarantee costs one more broadcast hash join on
    # metadata-scale rows, never a corpus-side exchange
    return (
        benchmark.select(F.col("vec_id").alias("bench_id"))
        .join(F.broadcast(agg), "bench_id", "left")
        .select(
            "bench_id",
            F.coalesce(F.col("n_contaminated"), F.lit(0).cast("long")).alias(
                "n_contaminated"
            ),
            "max_cosine",
            "nearest_id",
        )
    )


def ann_recall(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Recall@k audit — the number every ANN deployment must watch:
    per query, what fraction of the EXACT top-k did the approximate
    index return?  ``approx`` and ``exact`` are any two top-k outputs
    over the same query/corpus split (``ivf_topk`` / ``lsh_bucketed``
    / ``ivf_pq_topk`` vs :func:`brute_force_topk` at the same k).
    Rank is deliberately ignored (set recall, the standard metric);
    queries the approximate side missed entirely still emit a row
    (recall 0), queries with no exact neighbors emit nothing — there
    is no ground truth to recall.

    Scale shape: one semi join on (query_id, neighbor_id) + two
    query-keyed aggregates — both sides are already top-k-bounded
    (|Q|·k rows), so this is audit-scale regardless of corpus size.

    Output: (query_id, n_exact, n_hits, recall).
    """
    a = approx.select("query_id", "neighbor_id")
    e = exact.select("query_id", "neighbor_id")
    base = e.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    hits = (
        e.join(a, ["query_id", "neighbor_id"], "semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return base.join(hits, "query_id", "left").select(
        "query_id",
        "n_exact",
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        (
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("double")
            / F.col("n_exact")
        ).alias("recall"),
    )
