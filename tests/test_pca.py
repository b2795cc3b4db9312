"""PCA / OPQ-rotation tier: exact Gram sufficient statistics (native ≡
numpy), driver-side eigendecomposition, scan-local projection,
and the energy-compaction property the rotation exists for."""

from __future__ import annotations

import numpy as np
import pytest

from nr_rfc_dischargeobs_spark.extensions import similarity

DIM, QUANT = 8, 1024


@pytest.fixture(scope="module")
def vectors():
    """40 deterministic correlated vectors: dims 0-3 share a strong
    common factor (so PCA has something to compact), dims 4-7 are
    small independent noise."""
    rng = np.random.RandomState(7)
    t = rng.randn(40, 1)
    base = np.hstack(
        [
            t * np.array([[1.0, 0.9, 0.8, 0.7]]),
            rng.randn(40, 4) * 0.05,
        ]
    )
    return base.astype("float32")


@pytest.fixture(scope="module")
def emb_df(spark, vectors):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vectors)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _half_away(x):
    """HALF-AWAY-FROM-ZERO — Spark F.round()'s semantics; np.rint's
    banker's rounding diverges on exact .5 grid points."""
    return (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype("int64")


def _numpy_gram(vectors):
    q = _half_away(vectors.astype("float64") * QUANT)
    out = {}
    for i in range(DIM):
        for j in range(i, DIM):
            out[(i, j)] = (
                len(q),
                int(q[:, i].sum()),
                int(q[:, j].sum()),
                int((q[:, i] * q[:, j]).sum()),
            )
    return out


def _collect_gram(df):
    return {
        (r["i"], r["j"]): (r["n_vecs"], r["s_i"], r["s_j"], r["s_ij"])
        for r in df.collect()
    }


def test_gram_stats_matches_numpy(emb_df, vectors):
    got = _collect_gram(similarity.gram_stats(emb_df, dim=DIM, quant=QUANT))
    assert got == _numpy_gram(vectors)


def test_gram_stats_half_rounding_on_exact_grid_points(spark):
    """Values landing EXACTLY on .5 grid points (0.5/quant and -2.5/quant
    are float32-representable) must quantize half-AWAY-FROM-ZERO —
    banker's rounding (np.rint) would read 0 and -2 where Spark's round
    reads 1 and -3."""
    half = 0.5 / QUANT
    rows = [
        (0, [half, -5 * half, 0.25, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (1, [3 * half, -half, 0.1, 0.0, 0.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    native = _collect_gram(similarity.gram_stats(df, dim=DIM, quant=QUANT))
    # the values are the away-from-zero ones: Σq over dim 0
    # is 1 + 2 = 3 (banker's would read 0 + 2 = 2), dim 1 is -3 + -1 = -4
    assert native[(0, 0)][1] == 3
    assert native[(1, 1)][1] == -4


def test_gram_stats_merge_across_shards(spark, emb_df, vectors):
    """The statistics are add-mergeable: gram(full) == gram(half A) +
    gram(half B) — the property that lets incremental corpora fold in
    without rescanning history."""
    a = emb_df.filter("vec_id < 20")
    b = emb_df.filter("vec_id >= 20")
    full = _collect_gram(similarity.gram_stats(emb_df, dim=DIM, quant=QUANT))
    ga = _collect_gram(similarity.gram_stats(a, dim=DIM, quant=QUANT))
    gb = _collect_gram(similarity.gram_stats(b, dim=DIM, quant=QUANT))
    merged = {
        k: tuple(x + y for x, y in zip(ga[k], gb[k])) for k in ga
    }
    assert merged == full


def test_pca_rotation_diagonalizes_covariance(emb_df, vectors):
    model = similarity.pca_rotation(
        similarity.gram_stats(emb_df, dim=DIM, quant=QUANT),
        dim=DIM,
        quant=QUANT,
    )
    comps = np.array(model["components"])
    evals = np.array(model["eigenvalues"])
    # orthonormal basis
    assert np.allclose(comps @ comps.T, np.eye(DIM), atol=1e-9)
    # eigenvalues sorted descending, all >= 0 (covariance is PSD)
    assert np.all(np.diff(evals) <= 1e-12) and evals[-1] >= -1e-9
    # diagonalizes the (quantized-grid) covariance
    q = np.rint(vectors.astype("float64") * QUANT) / QUANT
    cov = np.cov(q.T, bias=True)
    d = comps @ cov @ comps.T
    assert np.allclose(d, np.diag(evals), atol=1e-6)
    # sign convention: the largest-|coordinate| entry of each row is +
    for c in comps:
        assert c[np.argmax(np.abs(c))] > 0


def test_pca_project_matches_numpy(emb_df, vectors):
    model = similarity.pca_rotation(
        similarity.gram_stats(emb_df, dim=DIM, quant=QUANT),
        dim=DIM,
        quant=QUANT,
        k=3,
    )
    got = {
        r["vec_id"]: np.array(r["pvec"])
        for r in similarity.pca_project(emb_df, model).collect()
    }
    comps = np.array(model["components"])
    mean = np.array(model["mean"])
    want = (vectors.astype("float64") - mean) @ comps.T
    for i, row in enumerate(want):
        assert np.allclose(got[i], row, atol=1e-5)


def _train_pq_numpy(x, m, k, iters=10):
    """Deterministic per-subspace Lloyd's (init = first k points) — the
    same trainer applied to both corpora so only the basis differs."""
    dim = x.shape[1]
    dsub = dim // m
    cents = []
    for s in range(m):
        sub = x[:, s * dsub : (s + 1) * dsub]
        c = sub[:k].copy()
        for _ in range(iters):
            d = ((sub[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for ci in range(k):
                if (a == ci).any():
                    c[ci] = sub[a == ci].mean(axis=0)
        cents.append(c)
    return cents


def test_opq_allocate_balances_heavy_components():
    """Greedy balanced allocation: with two dominant eigenvalues, each
    subspace block gets exactly one of them (descending PCA order would
    stack both into block 0)."""
    model = {
        "mean": [0.0] * 4,
        "components": [[float(i == j) for j in range(4)] for i in range(4)],
        "eigenvalues": [10.0, 9.0, 0.01, 0.005],
        "n_vecs": 1,
    }
    out = similarity.opq_allocate(model, m=2)
    blocks = [out["eigenvalues"][:2], out["eigenvalues"][2:]]
    assert sorted(b[0] for b in blocks) == [9.0, 10.0]
    # components moved with their eigenvalues
    for ev, comp in zip(out["eigenvalues"], out["components"]):
        i = model["eigenvalues"].index(ev)
        assert comp == model["components"][i]
    with pytest.raises(ValueError, match="divisible"):
        similarity.opq_allocate(model, m=3)


def test_opq_allocate_degenerate_spectrum_does_not_crash():
    """eigh of a floating-point covariance can return tiny NEGATIVE
    eigenvalues on a (near-)constant corpus; allocation must clamp, not
    crash in math.log."""
    model = {
        "mean": [0.0] * 4,
        "components": [[float(i == j) for j in range(4)] for i in range(4)],
        "eigenvalues": [-3e-19, -1e-20, 0.0, -5e-21],
        "n_vecs": 3,
    }
    out = similarity.opq_allocate(model, m=2)
    assert sorted(out["eigenvalues"]) == sorted(model["eigenvalues"])


def test_pca_rotation_empty_corpus_raises_loudly(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty"):
        similarity.pca_rotation(
            similarity.gram_stats(empty, dim=DIM, quant=QUANT), dim=DIM
        )


def _pq_total_err(spark, mat, m, k):
    """Same trainer, same geometry — only the basis differs."""
    q = np.rint(mat * similarity.QUANT).astype("int64")
    cents_np = np.hstack(_train_pq_numpy(q.astype("float64"), m, k))
    cents = [(ci, [int(round(v)) for v in cents_np[ci]]) for ci in range(k)]
    prepared = spark.createDataFrame(
        [
            (i, [int(v) for v in q[i]], int((q[i] ** 2).sum()))
            for i in range(len(q))
        ],
        "vec_id long, q array<long>, n long",
    )
    codes = similarity.pq_codes(prepared, cents, m=m, dim=mat.shape[1])
    return sum(r["sq_err"] for r in codes.collect())


def test_rotation_plus_allocation_reduces_pq_distortion(spark):
    """The OPQ-P story end to end: a rank-2 corpus mixed across all 8
    raw dims forces every raw subspace to quantize a 2-D manifold; the
    PCA rotation + balanced allocation gives each subspace ONE factor —
    a near-1-D problem where k centroids buy k levels — and total PQ
    reconstruction error collapses.  Pure rotation WITHOUT reallocation
    stacks both factors into subspace 0 and is NOT reliably better than
    raw (pinned here loosely: within 2× either way) — the allocation
    step, not the rotation alone, is what pays."""
    m, k = 2, 4
    rng = np.random.RandomState(3)
    t = rng.randn(60, 2) * np.array([3.0, 2.0])
    mix, _ = np.linalg.qr(rng.randn(DIM, DIM))
    x = (
        np.hstack([t, rng.randn(60, DIM - 2) * 0.02]) @ mix.T
    ).astype("float64") / 10.0  # keep |v| inside the embedding-ish range
    emb = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    )
    model = similarity.pca_rotation(
        similarity.gram_stats(emb, dim=DIM, quant=QUANT), dim=DIM, quant=QUANT
    )
    alloc = similarity.opq_allocate(model, m=m)
    proj = lambda mdl: np.array(  # noqa: E731
        [
            r["pvec"]
            for r in similarity.pca_project(emb, mdl).orderBy("vec_id").collect()
        ]
    )
    raw_err = _pq_total_err(spark, x, m, k)
    rot_err = _pq_total_err(spark, proj(model), m, k)
    alloc_err = _pq_total_err(spark, proj(alloc), m, k)
    # measured: alloc 9.84e9, raw 17.1e9, rot-only 24.9e9 on this fixture
    assert alloc_err < raw_err * 0.7, (alloc_err, rot_err, raw_err)
    assert alloc_err < rot_err * 0.5, (alloc_err, rot_err, raw_err)
    assert raw_err * 0.5 < rot_err < raw_err * 2.0, (rot_err, raw_err)


def test_pca_energy_compaction_beats_raw_truncation(emb_df, vectors):
    """The point of the rotation: 1 PCA component captures (here almost
    all) the variance that is spread across 4 correlated raw dims —
    truncating to the top PCA component loses far less energy than
    keeping the single best raw coordinate."""
    model = similarity.pca_rotation(
        similarity.gram_stats(emb_df, dim=DIM, quant=QUANT),
        dim=DIM,
        quant=QUANT,
    )
    evals = np.array(model["eigenvalues"])
    x = vectors.astype("float64") - vectors.mean(axis=0)
    raw_var = (x**2).mean(axis=0)
    assert evals[0] > raw_var.max() * 1.5
    # top-1 PCA keeps >80% of total variance on this correlated fixture
    assert evals[0] / evals.sum() > 0.8
