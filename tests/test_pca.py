"""Exact Gram sufficient statistics: native ≡ numpy, half-away-from-zero
quantization on exact grid points, and add-mergeable across shards."""

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
