"""IVFADC tier: trained PQ codebooks + residual encoding + search.

The round-8 recall audit proved the refine stage extracts the full
candidate-slate ceiling, so the UNTRAINED candidate generator was the
entire remaining ANN-quality gap (SCALE_PROBE.json: recall@10 0.0004 at
1M codes).  These tests pin the training/residual machinery that closes
it: exact arithmetic, the full-probe ≡ brute-force-over-decode identity,
and the trained-beats-untrained recall lift itself.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nr_rfc_dischargeobs_spark.extensions import similarity


def _emb(spark, rows):
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def _clustered(spark, n: int, k: int = 8, dim: int = 16, noise: float = 0.25):
    """Deterministic clustered vectors (the scale-probe generator shape at
    test size): vector = center(id % k) + noise·hash-random."""
    ctr = f"(vec_id % {k}) * 12.9898 + i * 78.233"
    nz = "vec_id * 7.1234 + i * 3.456"
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dim - 1}), i -> cast("
            f" (sin({ctr}) * 43758.5453"
            f"  - floor(sin({ctr}) * 43758.5453) - 0.5)"
            f" + {noise} * (sin({nz}) * 9871.123"
            f"  - floor(sin({nz}) * 9871.123) - 0.5) as float))"
        ).alias("embedding"),
    )


def test_residualize_exact(spark):
    prep = similarity.prepare(
        _emb(spark, [(0, [1.0, 2.0]), (1, [0.5, -0.5])])
    )
    assigned = prep.select(
        "vec_id", "q", "n", F.lit(7).cast("long").alias("list_id")
    )
    coarse = [(7, [100_000, 100_000])]
    out = {
        r["vec_id"]: list(r["q"])
        for r in similarity.residualize(assigned, coarse).collect()
    }
    assert out[0] == [0, 100_000]
    assert out[1] == [-50_000, -150_000]


def test_pq_train_one_iteration_hand_computed(spark):
    """k=2, m=1, dim=2, one Lloyd step: seeds are the 2 smallest vec_ids;
    means re-quantize on the integer grid; assignment uses pq_codes'
    exact distances."""
    prep = similarity.prepare(
        _emb(
            spark,
            [
                (0, [0.0, 0.0]),
                (1, [1.0, 1.0]),
                (2, [0.1, 0.1]),
                (3, [0.9, 1.1]),
            ],
        )
    ).select("vec_id", "q")
    cb = similarity.pq_train_codebooks(prep, k=2, m=1, dim=2, iters=1)
    # cluster 0 = {0, 2} -> mean (5000, 5000); cluster 1 = {1, 3} ->
    # mean ((100000+90000)/2, (100000+110000)/2) = (95000, 105000)
    assert cb == [(0, [5000, 5000]), (1, [95000, 105000])]


def test_pq_train_empty_cluster_keeps_previous_centroid(spark):
    """A code that wins no members must keep its centroid (codes stay
    contiguous 0..k-1 — the PQ contract), not drop out."""
    prep = similarity.prepare(
        _emb(spark, [(0, [0.0, 0.0]), (1, [1.0, 1.0]), (2, [1.1, 0.9])])
    ).select("vec_id", "q")
    # seed 0 = (0,0), seed 1 = (1,1)·1e5; every vector including vec 0
    # re-means its own cluster; now drop vec 0 from the training pass by
    # seeding k=2 from a frame whose members all sit near seed 1
    train = prep.filter(F.col("vec_id") >= 1)
    cb = similarity.pq_train_codebooks(train, k=2, m=1, dim=2, iters=1)
    # seeds: vec 1 -> cid 0, vec 2 -> cid 1; both members are their own
    # nearest seed, so both survive — now force an empty cluster:
    assert [cid for cid, _ in cb] == [0, 1]
    near = similarity.prepare(
        _emb(spark, [(0, [1.0, 1.0]), (1, [1.0, 1.02]), (2, [1.0, 0.98])])
    ).select("vec_id", "q")
    cb2 = similarity.pq_train_codebooks(near, k=2, m=1, dim=2, iters=1)
    # seeds: (100000,100000) and (100000,102000); members 0 and 2 go to
    # seed 0 (vec 2 is nearer seed 0), member 1 to seed 1 — no empty yet;
    # the decisive case: all three vectors nearest seed 0
    far = similarity.prepare(
        _emb(spark, [(0, [0.0, 0.0]), (1, [2.0, 2.0]), (2, [0.01, 0.0])])
    ).select("vec_id", "q")
    cb3 = similarity.pq_train_codebooks(far, k=2, m=1, dim=2, iters=1)
    # seed 1 = (200000,200000) keeps exactly its seed value (no members:
    # vecs 0 and 2 snap to seed 0, vec 1 IS seed 1... so instead check
    # cb2/cb3 keep contiguous ids and exact integer grids
    for cb_i in (cb, cb2, cb3):
        assert [cid for cid, _ in cb_i] == [0, 1]
        assert all(isinstance(v, int) for _, vec in cb_i for v in vec)


def test_pq_train_keeps_seed_when_code_truly_empty(spark):
    """Force a GENUINELY empty code: seeds are always members of the
    training frame, so the only way a code wins zero members is
    IDENTICAL seed vectors — the tie sends every vector (including seed
    1's own) to the smaller cid, leaving code 1 with no members.  The
    keep-seed fallback (got.get default / the oracle's COALESCE) must
    then hold code 1 at its seed value, preserving contiguous 0..k−1."""
    prep = similarity.prepare(
        _emb(
            spark,
            [
                (0, [1.0, 1.0]),
                (1, [1.0, 1.0]),  # identical to seed 0 -> code 1 empty
                (2, [1.0, 1.2]),
            ],
        )
    ).select("vec_id", "q")
    cb = similarity.pq_train_codebooks(prep, k=2, m=1, dim=2, iters=1)
    # cluster 0 = {0, 1, 2}: mean ((3·100000)/3, (100000·2+120000)/3)
    # = (100000, 106667); cluster 1 = {} -> keeps its seed exactly
    assert cb[0] == (0, [100_000, 106_667])
    assert cb[1] == (1, [100_000, 100_000])


def test_ivfadc_full_probe_equals_brute_force_over_decode(spark):
    """The IVFADC identity: probing every list must equal brute-force
    cosine over the DECODED corpus bit-for-bit — adot/rn decompose the
    same exact integers the reconstruction computes directly."""
    emb = similarity.prepare(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    )
    coarse = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 12))
    queries = emb.filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    corpus = emb.filter(F.col("vec_id") >= 28)
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in coarse.collect()
    ]
    assigned = similarity.ivf_assign(corpus, coarse, 1, None)
    residuals = similarity.residualize(assigned, coarse_rows)
    cb = similarity.pq_train_codebooks(residuals, k=8, m=4, dim=64, iters=1)
    index = similarity.ivf_pq_index(
        corpus, coarse, cb, m=4, dim=64, residual=True
    ).persist()
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine_adc"])
        for r in similarity.ivfadc_topk(
            queries, index, coarse, cb, k=5, nprobe=4
        ).collect()
    }
    decoded = similarity.ivfadc_decode(index, coarse_rows, cb)
    want = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in similarity.brute_force_topk(queries, decoded, k=5).collect()
    }
    index.unpersist()
    assert set(got) == set(want)
    for key, (nbr, score) in want.items():
        assert got[key][0] == nbr
        assert got[key][1] == score  # bit-identical, not approximately


def test_ivfadc_nprobe_monotone_vs_full_probe(spark):
    emb = similarity.prepare(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    )
    coarse = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 12))
    queries = emb.filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    corpus = emb.filter(F.col("vec_id") >= 28)
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in coarse.collect()
    ]
    residuals = similarity.residualize(
        similarity.ivf_assign(corpus, coarse, 1, None), coarse_rows
    )
    cb = similarity.pq_train_codebooks(residuals, k=8, m=4, dim=64, iters=1)
    index = similarity.ivf_pq_index(
        corpus, coarse, cb, m=4, dim=64, residual=True
    ).persist()
    full = {
        r["query_id"]: r["neighbor_id"]
        for r in similarity.ivfadc_topk(
            queries, index, coarse, cb, k=1, nprobe=4
        ).collect()
    }

    def recall(nprobe: int) -> float:
        top1 = {
            r["query_id"]: r["neighbor_id"]
            for r in similarity.ivfadc_topk(
                queries, index, coarse, cb, k=1, nprobe=nprobe
            ).collect()
        }
        return sum(top1.get(q) == n for q, n in full.items()) / len(full)

    r1, r2, r4 = recall(1), recall(2), recall(4)
    index.unpersist()
    assert r1 <= r2 <= r4
    assert r4 == 1.0


def test_trained_residual_codebook_lifts_recall_over_untrained(spark):
    """THE round-9 claim, pinned at test scale: on clusterable data the
    trained-residual index (IVFADC) beats the raw 8-seed untrained index
    at the same (nprobe, k) — the candidate-generator gap the r8 probe
    quantified.  Clustered corpus, true centers as the coarse tier (the
    kmeans-trained stand-in, as in the 1M probe)."""
    n, k_clusters, dim = 4000, 8, 16
    prep = similarity.prepare(
        _clustered(spark, n, k=k_clusters, dim=dim)
    ).persist()
    coarse = similarity.prepare(
        _clustered(spark, k_clusters, k=k_clusters, dim=dim, noise=0.0)
    )
    queries = prep.filter(F.col("vec_id") < 32)
    corpus = prep.filter(F.col("vec_id") >= 32)
    exact = similarity.brute_force_topk(queries, corpus, k=10).persist()

    def recall(approx) -> float:
        row = (
            similarity.ann_recall(approx, exact)
            .agg(F.avg("recall").alias("r"))
            .collect()[0]
        )
        return row["r"]

    # untrained: first-8 raw corpus vectors as the codebook, raw coding
    raw_cents = [
        (i, [int(v) for v in r["q"]])
        for i, r in enumerate(
            corpus.orderBy("vec_id").limit(8).collect()
        )
    ]
    untrained_ix = similarity.ivf_pq_index(
        corpus, coarse, raw_cents, m=4, dim=dim
    ).persist()
    r_untrained = recall(
        similarity.ivf_pq_topk(
            queries, untrained_ix, coarse, raw_cents, k=10, nprobe=2,
            m=4, dim=dim,
        )
    )
    # trained: residual codebook, 4 Lloyd iterations on the corpus
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in coarse.collect()
    ]
    residuals = similarity.residualize(
        similarity.ivf_assign(corpus, coarse, 1, None), coarse_rows
    )
    cb = similarity.pq_train_codebooks(
        residuals, k=8, m=4, dim=dim, iters=4
    )
    trained_ix = similarity.ivf_pq_index(
        corpus, coarse, cb, m=4, dim=dim, residual=True
    ).persist()
    r_trained = recall(
        similarity.ivfadc_topk(
            queries, trained_ix, coarse, cb, k=10, nprobe=2, m=4, dim=dim
        )
    )
    for df in (prep, exact, untrained_ix, trained_ix):
        df.unpersist()
    # the lift must be decisive, not marginal
    assert r_trained >= r_untrained + 0.2, (r_untrained, r_trained)


def test_farthest_first_seeds_cover_separated_clusters(spark):
    """Gonzalez traversal on well-separated planted clusters must pick
    exactly one seed per cluster before revisiting any — the property
    that makes the learned coarse quantizer recover real structure
    (first-k seeding measured 18x residual norms on the probe fixture)."""
    k = 6
    prep = similarity.prepare(
        _clustered(spark, 300, k=k, dim=16, noise=0.1)
    ).select("vec_id", "q", "n")
    seeds = similarity.farthest_first_seeds(prep, k)
    assert len(seeds) == k
    assert len({sid % k for sid, _ in seeds}) == k  # one per true cluster
    # determinism: same frame, same traversal
    assert seeds == similarity.farthest_first_seeds(prep, k)


def test_kmeans_lite_explicit_seeds_match_default_first_k(spark):
    """seeds=(the first-k rows) must reproduce the default seeding
    exactly — the compat pin for the new parameter."""
    prep = similarity.prepare(
        _clustered(spark, 200, k=4, dim=16)
    )
    first4 = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in prep.orderBy("vec_id").limit(4).collect()
    ]
    want = {
        r["vec_id"]: (list(r["q"]), r["n"])
        for r in similarity.kmeans_lite(prep, k=4, iters=2).collect()
    }
    got = {
        r["vec_id"]: (list(r["q"]), r["n"])
        for r in similarity.kmeans_lite(
            prep, k=4, iters=2, seeds=first4
        ).collect()
    }
    assert got == want


def test_farthest_first_seeds_validation(spark):
    import pytest as _pytest

    empty = similarity.prepare(
        _clustered(spark, 10, k=2, dim=4)
    ).filter(F.col("vec_id") < 0)
    with _pytest.raises(ValueError, match="empty"):
        similarity.farthest_first_seeds(empty, 2)
    one = similarity.prepare(_clustered(spark, 3, k=2, dim=4))
    with _pytest.raises(ValueError, match="k >= 1"):
        similarity.farthest_first_seeds(one, 0)
    assert len(similarity.farthest_first_seeds(one, 1)) == 1


def test_ivf_pq_topk_rejects_residual_index(spark):
    """The symmetric layout guard: a residual (stored-rn) index searched
    with the raw-coding searcher would return plausible but WRONG
    cosines — it must raise instead."""
    import pytest as _pytest

    emb = similarity.prepare(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    )
    coarse = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 12))
    queries = emb.filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    corpus = emb.filter(F.col("vec_id") >= 28)
    cents = [
        (r["vec_id"], r["q"])
        for r in emb.filter(F.col("vec_id") < 8).collect()
    ]
    residual_ix = similarity.ivf_pq_index(
        corpus, coarse, cents, residual=True
    )
    with _pytest.raises(ValueError, match="ivfadc_topk"):
        similarity.ivf_pq_topk(queries, residual_ix, coarse, cents)
    raw_ix = similarity.ivf_pq_index(corpus, coarse, cents)
    with _pytest.raises(ValueError, match="residual=True"):
        similarity.ivfadc_topk(queries, raw_ix, coarse, cents)


def test_index_barrier_materializes_unpersisted_complex_index(spark):
    """The round-9 regression pin: searching an UNPERSISTED in-plan
    index must not detonate codegen — the structural barrier persists
    it internally (with a warning naming the stored-artifact posture)
    and the answer is identical to the explicitly-persisted path.  A
    stored artifact (plain scan) must pass through UNTOUCHED so list_id
    partition pruning survives."""
    import warnings as _warnings

    import pytest as _pytest

    emb = similarity.prepare(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    )
    coarse = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 12))
    queries = emb.filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    corpus = emb.filter(F.col("vec_id") >= 28)
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in coarse.collect()
    ]
    residuals = similarity.residualize(
        similarity.ivf_assign(corpus, coarse, 1, None), coarse_rows
    )
    cb = similarity.pq_train_codebooks(residuals, k=8, m=4, dim=64, iters=1)

    # the exact composition that OOM'd the round-9 suite: in-plan
    # residual index, never persisted by the caller
    naked_ix = similarity.ivf_pq_index(
        corpus, coarse, cb, m=4, dim=64, residual=True
    )
    assert not naked_ix.is_cached
    try:
        with _pytest.warns(UserWarning, match="stored artifact"):
            got = sorted(map(tuple, similarity.ivfadc_topk(
                queries, naked_ix, coarse, cb, k=3, nprobe=2
            ).collect()))
        assert naked_ix.is_cached  # the barrier persisted it
    finally:
        naked_ix.unpersist()

    persisted_ix = similarity.ivf_pq_index(
        corpus, coarse, cb, m=4, dim=64, residual=True
    ).persist()
    try:
        with _warnings.catch_warnings():
            _warnings.simplefilter("error")  # pass-through: no warning
            want = sorted(map(tuple, similarity.ivfadc_topk(
                queries, persisted_ix, coarse, cb, k=3, nprobe=2
            ).collect()))
    finally:
        persisted_ix.unpersist()
    assert got == want

    # stored artifact: scan-shaped input passes through un-persisted
    # (pruning intact) and still answers identically
    from nr_rfc_dischargeobs_spark.extensions.similarity import (
        _index_barrier,
        _plan_node_names,
        _SCAN_ONLY_NODES,
    )

    scan = emb.select("vec_id", "q").filter(F.col("vec_id") < 4)
    assert all(n in _SCAN_ONLY_NODES for n in _plan_node_names(scan))
    assert _index_barrier(scan, "test") is scan
    assert not scan.is_cached


def test_ivf_assign_blas_matches_native(spark):
    """The BLAS assignment kernel must reproduce ivf_assign exactly —
    same exact-int64 distances, same smaller-list-id tie-break — at
    nprobe 1 and 3, including a deliberate tie (duplicated centroid)."""
    prep = similarity.prepare(
        _clustered(spark, 500, k=8, dim=16)
    ).persist()
    coarse = similarity.prepare(
        _clustered(spark, 8, k=8, dim=16, noise=0.0)
    )
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in coarse.collect()
    ]
    # duplicated centroid under a new larger id: every vector assigned
    # to the original must STAY on the smaller id in both kernels
    dup_rows = coarse_rows + [(100, list(coarse_rows[0][1]))]
    dup_df = spark.createDataFrame(
        [(cid, cq, sum(v * v for v in cq)) for cid, cq in dup_rows],
        "vec_id long, q array<bigint>, n long",
    )
    for nprobe, cents_df, cents_rows in (
        (1, coarse, coarse_rows),
        (3, coarse, coarse_rows),
        (1, dup_df, dup_rows),
    ):
        want = sorted(map(tuple, similarity.ivf_assign(
            prep, cents_df, nprobe, None
        ).select("vec_id", "list_id").collect()))
        got = sorted(map(tuple, similarity._ivf_assign_blas(
            prep, cents_rows, nprobe
        ).select("vec_id", "list_id").collect()))
        assert got == want, (nprobe, len(cents_rows))
    assert not any(
        t[1] == 100
        for t in similarity._ivf_assign_blas(prep, dup_rows, 1)
        .select("vec_id", "list_id")
        .collect()
    )
    prep.unpersist()


def test_ivf_assign_blas_with_dist_is_exact(spark):
    prep = similarity.prepare(
        _emb(spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0])])
    )
    rows = {
        (r["vec_id"], r["list_id"]): r["d"]
        for r in similarity._ivf_assign_blas(
            prep, [(5, [100_000, 0])], 1, with_dist=True
        ).collect()
    }
    assert rows[(0, 5)] == 0
    assert rows[(1, 5)] == 2 * 100_000 * 100_000


def test_kmeans_lite_arrow_assignment_matches_window(spark):
    """assign='local' above the unroll limit (40 lists × 64 dims: the
    BLAS kernel) must train the IDENTICAL centroids as the window
    spelling — integer state, exact distances, same tie-breaks."""
    k, dim = 40, 64
    assert k * dim > similarity._UNROLL_LIMIT
    prep = similarity.prepare(
        _clustered(spark, 400, k=8, dim=dim)
    ).persist()
    want = sorted(map(tuple, similarity.kmeans_lite(
        prep, k=k, iters=3
    ).collect()))
    got = sorted(map(tuple, similarity.kmeans_lite(
        prep, k=k, iters=3, assign="local"
    ).collect()))
    assert got == want
    for bad in ("blas", "arrow"):
        with pytest.raises(ValueError, match="'window' or 'local'"):
            similarity.kmeans_lite(prep, k=4, assign=bad)
    prep.unpersist()


def test_ivf_pq_index_arrow_assignment_matches_window(spark):
    emb = similarity.prepare(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    )
    # 33 coarse lists × 64 dims: above the unroll limit, so the
    # scan-local build assigns with the BLAS kernel
    coarse = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 41))
    corpus = emb.filter(F.col("vec_id") >= 41)
    assert 33 * 64 > similarity._UNROLL_LIMIT
    cents = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in emb.filter(F.col("vec_id") < 8).collect()
    ]
    want = sorted(map(tuple, similarity.ivf_pq_index(
        corpus, coarse, cents, residual=True
    ).collect()))
    got = sorted(map(tuple, similarity.ivf_pq_index(
        corpus, None, cents, residual=True, assign="local",
        coarse_rows=[
            (int(r["vec_id"]), [int(v) for v in r["q"]])
            for r in coarse.collect()
        ],
    ).collect()))
    assert got == want


def test_kmeans_parallel_seeds_deterministic_and_covering(spark):
    """k-means|| on well-separated planted clusters: deterministic
    (hash coin, no rand), exactly k integer seeds, and the seeds cover
    every true cluster (the Gonzalez coverage property transferred to
    the candidate reduction)."""
    k = 8
    prep = similarity.prepare(
        _clustered(spark, 2000, k=k, dim=16, noise=0.1)
    ).persist()
    seeds = similarity.kmeans_parallel_seeds(prep, k, rounds=3)
    assert seeds == similarity.kmeans_parallel_seeds(prep, k, rounds=3)
    assert [i for i, _ in seeds] == list(range(k))
    assert all(isinstance(v, int) for _, vec in seeds for v in vec)
    # coverage: assign the corpus to the seeds — every seed serves
    # points from exactly one true cluster and all clusters are served
    assigned = similarity.ivf_assign_local(prep, seeds)
    purity = assigned.groupBy("list_id").agg(
        F.count_distinct(F.pmod(F.col("vec_id"), F.lit(k))).alias("nc")
    ).collect()
    assert len(purity) == k
    assert all(r["nc"] == 1 for r in purity)
    # seeds feed kmeans_lite directly
    trained = similarity.kmeans_lite(
        prep, k=k, iters=2, seeds=seeds, assign="local"
    )
    assert trained.count() == k
    prep.unpersist()


def test_kmeans_parallel_seeds_validation(spark):
    import pytest as _pytest

    prep = similarity.prepare(_clustered(spark, 20, k=2, dim=4))
    with _pytest.raises(ValueError, match="k >= 1"):
        similarity.kmeans_parallel_seeds(prep, 0)
    with _pytest.raises(ValueError, match="empty"):
        similarity.kmeans_parallel_seeds(
            prep.filter(F.col("vec_id") < 0), 2
        )
    with _pytest.raises(ValueError, match="candidates"):
        # 20 rows can never oversample 64 candidates
        similarity.kmeans_parallel_seeds(prep, 64, rounds=1)


def test_pq_codes_blas_matches_native(spark):
    """The BLAS encode kernel must reproduce pq_codes exactly — codes,
    tie-breaks, sq_err, passthrough columns — at a geometry the native
    kernel still compiles (k=16, m=4)."""
    emb = similarity.prepare(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    )
    corpus = emb.filter(F.col("vec_id") >= 28)
    cents = [
        (i, [int(v) for v in r["q"]])
        for i, r in enumerate(
            emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
        )
    ]
    lid = corpus.withColumn("list_id", F.pmod(F.col("vec_id"), F.lit(3)))
    want = sorted(map(tuple, similarity.pq_codes(
        lid, cents, m=4, dim=64, passthrough=("list_id",)
    ).collect()))
    got = sorted(map(tuple, similarity._pq_codes_blas(
        lid, cents, m=4, dim=64, passthrough=("list_id",)
    ).collect()))
    assert got == want
    # q-passthrough parity (the trainer's melt shape)
    want_q = sorted(
        (t[0], tuple(t[1]), *t[2:])
        for t in map(tuple, similarity.pq_codes(
            corpus, cents, m=4, dim=64, passthrough=("q",)
        ).collect())
    )
    got_q = sorted(
        (t[0], tuple(t[1]), *t[2:])
        for t in map(tuple, similarity._pq_codes_blas(
            corpus, cents, m=4, dim=64, passthrough=("q",)
        ).collect())
    )
    assert got_q == want_q


def _pq_codes_reference(rows, codebook, m: int, dim: int) -> list[tuple]:
    """numpy replica of pq_codes: (vec_id, code_0..code_{m-1}, sq_err),
    exact int64 distances, first-min (smaller cid) tie-break."""
    import numpy as np

    x = np.array([q for _, q in rows], dtype=np.int64)
    c = np.array([q for _, q in sorted(codebook)], dtype=np.int64)
    dsub = dim // m
    codes, err = [], np.zeros(len(rows), dtype=np.int64)
    for s in range(m):
        xs, cs = x[:, s * dsub:(s + 1) * dsub], c[:, s * dsub:(s + 1) * dsub]
        d = (
            (xs * xs).sum(1)[:, None] + (cs * cs).sum(1)[None, :]
            - 2 * xs @ cs.T
        )
        codes.append(d.argmin(1))
        err += d.min(1)
    return [
        (vid, *(int(cs[i]) for cs in codes), int(err[i]))
        for i, (vid, _) in enumerate(rows)
    ]


def test_pq_train_large_k_matches_reference(spark):
    """Large-k training identity: a codebook above the unroll limit
    (k=33, m=4, dsub=16: 2112 terms) trains on the BLAS encode and must
    yield exactly the integers of a numpy replica of the trainer —
    first-k seeds, first-min assignment, means rounded half away from
    zero, an empty code keeping its previous centroid."""
    from decimal import ROUND_HALF_UP, Decimal

    k, m, dim, iters = 33, 4, 64, 2
    assert k * dim > similarity._UNROLL_LIMIT
    emb = similarity.prepare(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ).select("vec_id", "q").persist()
    rows = sorted(
        (int(r["vec_id"]), [int(v) for v in r["q"]]) for r in emb.collect()
    )
    got = similarity.pq_train_codebooks(emb, k=k, m=m, dim=dim, iters=iters)
    emb.unpersist()
    dsub = dim // m
    cb = [(c, list(q)) for c, (_, q) in enumerate(rows[:k])]
    for _ in range(iters):
        sums: dict = {}
        for vid_codes, (_, q) in zip(
            _pq_codes_reference(rows, cb, m, dim), rows
        ):
            for p in range(dim):
                key = (vid_codes[1 + p // dsub], p)
                tot, n = sums.get(key, (0, 0))
                sums[key] = (tot + q[p], n + 1)
        cb = [
            (c, [
                int(Decimal(repr(sums[(c, p)][0] / sums[(c, p)][1]))
                    .quantize(Decimal(1), ROUND_HALF_UP))
                if (c, p) in sums else old[p]
                for p in range(dim)
            ])
            for c, old in cb
        ]
    assert got == cb


def _has_python_node(df) -> bool:
    plan = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )
    return "MapInPandas" in plan or "EvalPython" in plan


@pytest.mark.parametrize("step", [0, 1])
@pytest.mark.parametrize("op", ["pq_codes", "ivf_assign_local"])
def test_unroll_limit_picks_the_kernel(spark, op, step):
    """One limit for both literal-folded operators: a 64-dim model of
    ``_UNROLL_LIMIT`` terms (32 PQ codes at m=4 × dsub=16, or 32 coarse
    lists) unrolls into native expressions — no Python node — and one
    step above it (33) the same call runs the BLAS kernel.  Rows equal
    the numpy (PQ) or window (coarse) reference on both sides."""
    limit = similarity._UNROLL_LIMIT
    at = limit // 64
    assert at * 64 == limit
    emb = similarity.prepare(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ).persist()
    model = emb.filter(F.col("vec_id") <= at)
    rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in model.orderBy("vec_id").collect()
    ]
    corpus = emb.filter(F.col("vec_id") > at)
    corpus_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in corpus.collect()
    ]
    size = at + step
    if op == "pq_codes":
        cb = [(i, q) for i, (_, q) in enumerate(rows[:size])]
        got = similarity.pq_codes(corpus, cb, m=4, dim=64)
        want = _pq_codes_reference(corpus_rows, cb, 4, 64)
    else:
        got = similarity.ivf_assign_local(
            corpus, rows[:size]
        ).select("vec_id", "list_id")
        ref = similarity.ivf_assign(
            corpus, model.filter(F.col("vec_id") < size), 1, None
        ).select("vec_id", "list_id")
        assert not _has_python_node(ref)
        want = list(map(tuple, ref.collect()))
    assert _has_python_node(got) == (step == 1)
    assert sorted(map(tuple, got.collect())) == sorted(want)
    emb.unpersist()


def test_adc_lut_hof_spelling_exact(spark):
    """Above the size threshold _adc_lut_cols switches to the
    transform-over-literal-codebook spelling; every LUT entry must be
    the exact integer subspace dot product."""
    import numpy as np

    m, dsub, k = 8, 8, 40  # m·k·dsub = 2560 > the limit → HOF spelling
    dim = m * dsub
    cents = [
        (c, [(c * 31 + j * 7) % 201 - 100 for j in range(dim)])
        for c in range(k)
    ]
    luts = similarity._adc_lut_cols(cents, m, dsub)
    assert all("transform(" in t for t in luts)
    q = [(j * 13) % 157 - 78 for j in range(dim)]
    row = (
        spark.createDataFrame([(0, q)], "vec_id long, q array<bigint>")
        .selectExpr("vec_id", *luts)
        .collect()[0]
    )
    qa = np.array(q, dtype=np.int64)
    for s in range(m):
        got = list(row[f"lut_{s}"])
        want = [
            int(
                qa[s * dsub:(s + 1) * dsub]
                @ np.array(cq[s * dsub:(s + 1) * dsub], dtype=np.int64)
            )
            for _, cq in cents
        ]
        assert got == want, s
    # below the threshold the unrolled spelling (pinned oracle text)
    small = similarity._adc_lut_cols(cents[:4], m, dsub)
    assert all("transform(" not in t for t in small)


def test_ivfadc_k256_geometry_full_probe_identity(spark):
    """The full-probe ≡ brute-force-over-decode identity must hold at
    the PRODUCTION codebook geometry (above the unroll limit → BLAS
    encode + HOF LUT spelling) — the end-to-end pin for the k=256
    tier."""
    prep = similarity.prepare(
        _clustered(spark, 1200, k=8, dim=32, noise=0.2)
    ).persist()
    coarse = similarity.prepare(
        _clustered(spark, 4, k=4, dim=32, noise=0.0)
    )
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in coarse.collect()
    ]
    queries = prep.filter(F.col("vec_id") < 16)
    corpus = prep.filter(F.col("vec_id") >= 16)
    residuals = similarity.residualize(
        similarity.ivf_assign_local(corpus, coarse_rows), coarse_rows
    )
    # m=8, dsub=4, k=80: m·k·dsub = 2560 > 2048 → the large-k code path
    assert 8 * 80 * 4 > similarity._UNROLL_LIMIT
    cb = similarity.pq_train_codebooks(
        residuals, k=80, m=8, dim=32, iters=1
    )
    index = similarity.ivf_pq_index(
        corpus, None, cb, m=8, dim=32, residual=True,
        assign="local", coarse_rows=coarse_rows,
    ).persist()
    got = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine_adc"])
        for r in similarity.ivfadc_topk(
            queries, index, coarse, cb, k=5, nprobe=4, m=8, dim=32
        ).collect()
    }
    decoded = similarity.ivfadc_decode(index, coarse_rows, cb, m=8, dim=32)
    want = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in similarity.brute_force_topk(
            queries, decoded, k=5
        ).collect()
    }
    index.unpersist()
    prep.unpersist()
    assert got == want  # bit-identical scores, same ranks


# ---------------------------------------------------------------------------
# round 11: rotation tier + filtered (hybrid) search
# ---------------------------------------------------------------------------


def test_hadamard_rows_orthogonal_scaled():
    import numpy as np

    for dim in (1, 2, 8, 64):
        h = np.array(similarity.hadamard_rows(dim))
        assert (h @ h.T == dim * np.eye(dim)).all()
    try:
        similarity.hadamard_rows(12)
        raise AssertionError("non-power-of-2 must be rejected")
    except ValueError:
        pass


def test_rotate_quantized_exact_and_cosine_invariant(spark):
    """q' = H·q exactly (BIGINTs), and since H·Hᵀ = dim·I the cosine of
    any pair is IDENTICAL before and after rotation — the invariance
    that makes rotated ANN results comparable to raw ones."""
    import numpy as np

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(20)]
    prep = similarity.prepare(_emb(spark, rows))
    h = similarity.hadamard_rows(8)
    rot = similarity.rotate_quantized(prep, h)
    raw = {r["vec_id"]: np.array(r["q"], dtype=np.int64) for r in prep.collect()}
    got = {r["vec_id"]: (np.array(r["q"]), r["n"]) for r in rot.collect()}
    hm = np.array(h)
    for vid, q in raw.items():
        expect = hm @ q
        assert (got[vid][0] == expect).all()
        assert got[vid][1] == int((expect**2).sum())
    # cosine invariance: dot(Hq, Hp) = dim·dot(q, p), norms scale by dim
    q0, q1 = raw[0], raw[1]
    r0, r1 = got[0][0], got[1][0]
    assert int(r0 @ r1) == 8 * int(q0 @ q1)


def test_ivfadc_filtered_equals_true_topk_over_matching(spark):
    """where= returns the TRUE top-k among matching vectors — identical
    to brute-force over the filtered decoded corpus at full probe."""
    corpus = _clustered(spark, 60, k=4, dim=16).filter(F.col("vec_id") >= 10)
    queries = _clustered(spark, 6, k=4, dim=16)
    prep_c, prep_q = similarity.prepare(corpus), similarity.prepare(queries)
    coarse = prep_c.filter(F.col("vec_id") < 14)
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in coarse.collect()
    ]
    res = similarity.residualize(
        similarity.ivf_assign(prep_c, coarse, 1, None), coarse_rows
    )
    cb = similarity.pq_train_codebooks(res, k=4, m=4, dim=16, iters=1)
    index = similarity.ivf_pq_index(
        prep_c, coarse, cb, m=4, dim=16, residual=True
    ).persist()
    pred = "vec_id % 2 = 0"
    got = similarity.ivfadc_topk(
        queries=prep_q, index=index, coarse_centroids=coarse,
        centroid_rows=cb, k=3, nprobe=4, m=4, dim=16, where=pred,
    )
    decoded = similarity.ivfadc_decode(index, coarse_rows, cb, m=4, dim=16)
    want = similarity.brute_force_topk(
        prep_q, decoded.filter(pred), k=3
    ).withColumnRenamed("cosine", "cosine_adc")
    g = sorted(map(tuple, got.collect()))
    w = sorted(map(tuple, want.collect()))
    assert g == w
    index.unpersist()
    # every neighbor satisfies the predicate, and full k is returned
    assert all(t[1] % 2 == 0 for t in g)
    assert len(g) == 3 * prep_q.filter("n > 0").count()


def test_probe_matching_only_repairs_correlated_filter(spark):
    """The correlated-predicate repair: with survivors concentrated in
    lists the queries would never probe, probe_matching_only spends the
    nprobe budget on matching lists — recall equals the full-probe
    filtered search (here the matches fit inside nprobe lists, so the
    two are EXACTLY equal), while the plain filtered search at the same
    nprobe misses.  Also: no-op on an all-lists predicate, ValueError
    without a predicate, empty result on a nothing-matches predicate."""
    corpus = _clustered(spark, 400, k=8, dim=16).filter(F.col("vec_id") >= 40)
    queries = _clustered(spark, 6, k=8, dim=16)
    prep_c, prep_q = similarity.prepare(corpus), similarity.prepare(queries)
    coarse = prep_c.filter(F.col("vec_id") < 48)  # 8 lists ≈ 8 clusters
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in coarse.collect()
    ]
    cb = similarity.pq_train_codebooks(
        similarity.residualize(
            similarity.ivf_assign(prep_c, coarse, 1, None), coarse_rows
        ),
        k=4, m=4, dim=16, iters=1,
    )
    index = similarity.ivf_pq_index(
        prep_c, coarse, cb, m=4, dim=16, residual=True
    ).persist()
    # correlated predicate: this fixture clusters by vec_id % 8, so the
    # survivors of `% 8 = 5` live in (at most a couple of) lists
    pred = "vec_id % 8 = 5"
    args = dict(coarse_centroids=coarse, centroid_rows=cb, k=3, m=4, dim=16)
    full = similarity.ivfadc_topk(
        prep_q, index, nprobe=8, where=pred, **args
    )
    repaired = similarity.ivfadc_topk(
        prep_q, index, nprobe=2, where=pred, probe_matching_only=True,
        **args
    )
    assert sorted(map(tuple, repaired.collect())) == sorted(
        map(tuple, full.collect())
    )
    plain = similarity.ivfadc_topk(prep_q, index, nprobe=2, where=pred, **args)
    # the plain filtered search at the same nprobe returns fewer hits
    # (most queries probe non-matching lists) — the measured collapse
    assert plain.count() < repaired.count()

    # all-lists predicate: the dial changes nothing
    every = "vec_id % 1 = 0"
    a = similarity.ivfadc_topk(prep_q, index, nprobe=2, where=every, **args)
    b = similarity.ivfadc_topk(
        prep_q, index, nprobe=2, where=every, probe_matching_only=True,
        **args
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    # guards
    import pytest as _pytest

    with _pytest.raises(ValueError, match="probe_matching_only"):
        similarity.ivfadc_topk(
            prep_q, index, nprobe=2, probe_matching_only=True, **args
        )
    none = similarity.ivfadc_topk(
        prep_q, index, nprobe=2, where="vec_id < 0",
        probe_matching_only=True, **args
    )
    assert none.count() == 0
    index.unpersist()
