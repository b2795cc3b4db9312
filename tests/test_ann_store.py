"""IVFADC artifact manager: save (table + model sidecar), load in a
model-free session, search ≡ the training session's search."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from nr_rfc_dischargeobs_spark.extensions import ann_store, similarity


def _trained_parts(spark):
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
    return coarse, queries, corpus, coarse_rows, cb


def test_save_load_search_round_trip(spark, tmp_path):
    """The full production split: train + save in one 'session', load
    from the sidecar alone (no Python model state), search — results
    identical to searching the in-session index."""
    coarse, queries, corpus, coarse_rows, cb = _trained_parts(spark)
    ix = similarity.ivf_pq_index(
        corpus, coarse, cb, m=4, dim=64, residual=True
    ).persist()
    path = str(tmp_path / "ivfadc_index")
    handle = ann_store.save_ivfadc(ix, path, coarse_rows, cb, m=4, dim=64)
    want = sorted(map(tuple, similarity.ivfadc_topk(
        queries, ix, coarse, cb, k=3, nprobe=2
    ).collect()))
    ix.unpersist()

    # search via the handle save_ivfadc returned...
    got_handle = sorted(map(tuple, handle.search(queries, k=3, nprobe=2)
                            .collect()))
    # ...and via a cold load that reconstructs the model from disk only
    loaded = ann_store.load_ivfadc(path)
    assert loaded.m == 4 and loaded.dim == 64
    assert loaded.coarse_rows == coarse_rows
    assert loaded.centroid_rows == cb
    got_cold = sorted(map(tuple, loaded.search(queries, k=3, nprobe=2)
                          .collect()))
    assert got_handle == want
    assert got_cold == want
    # the table itself stays a plain parquet reader's artifact: the
    # sidecar must not break a direct scan, and list_id must be a
    # partition column (pruning on search)
    direct = spark.read.parquet(path)
    assert "list_id" in direct.columns
    assert direct.count() == corpus.count()


def test_save_rejects_raw_coded_index(spark, tmp_path):
    coarse, _, corpus, coarse_rows, cb = _trained_parts(spark)
    raw = similarity.ivf_pq_index(corpus, coarse, cb, m=4, dim=64)
    with pytest.raises(ValueError, match="residual=True"):
        ann_store.save_ivfadc(
            raw, str(tmp_path / "x"), coarse_rows, cb, m=4, dim=64
        )


def test_load_validation_failures(spark, tmp_path):
    coarse, _, corpus, coarse_rows, cb = _trained_parts(spark)
    ix = similarity.ivf_pq_index(
        corpus, coarse, cb, m=4, dim=64, residual=True
    )
    path = str(tmp_path / "ix")
    ann_store.save_ivfadc(ix, path, coarse_rows, cb, m=4, dim=64)

    # missing sidecar = partial/crashed save → loud, never a search
    os.remove(os.path.join(path, ann_store.MODEL_FILE))
    with pytest.raises(ValueError, match="sidecar"):
        ann_store.load_ivfadc(path)

    # corrupted version / layout / quant grid all refuse loudly
    base = {
        "format_version": ann_store._FORMAT_VERSION,
        "layout": "ivfadc_residual",
        "m": 4, "dim": 64,
        "coarse_rows": [[c, q] for c, q in coarse_rows],
        "centroid_rows": [[c, q] for c, q in cb],
        "quant": similarity.QUANT,
    }
    for field, bad, msg in (
        ("format_version", 99, "version"),
        ("layout", "ivf_raw", "layout"),
        ("quant", 10, "grid"),
    ):
        model = dict(base)
        model[field] = bad
        with open(os.path.join(path, ann_store.MODEL_FILE), "w") as fh:
            json.dump(model, fh)
        with pytest.raises(ValueError, match=msg):
            ann_store.load_ivfadc(path)

    # remote-scheme paths are a stated non-goal for the sidecar IO
    with pytest.raises(ValueError, match="local file"):
        ann_store.load_ivfadc("s3://bucket/ix")


def test_streamed_index_becomes_loadable_artifact(spark, tmp_path):
    """write_ivfadc_model turns an ivfadc_index_stream store into a
    load_ivfadc artifact: cold-load + search over the streamed
    batch_id=N/list_id=K layout equals ivfadc_topk over the same store
    with the in-session model."""
    import json as _json

    from nr_rfc_dischargeobs_spark.streaming import (
        ivfadc_index_stream,
        read_ivfadc_index,
    )

    coarse_rows = [(7, [0, 0, 0, 0])]
    cb = [(0, [0, 0, 0, 0]), (1, [100_000] * 4)]
    landing = tmp_path / "vecs"
    landing.mkdir()
    (landing / "s1.jsonl").write_text(
        "\n".join(
            _json.dumps({"vec_id": i, "embedding": [0.1 * i] * 4})
            for i in range(1, 7)
        )
        + "\n"
    )
    index_dir = str(tmp_path / "index")
    stream = spark.readStream.schema(
        "vec_id BIGINT, embedding ARRAY<FLOAT>"
    ).json(str(landing))
    q = ivfadc_index_stream(
        stream, index_dir, str(tmp_path / "ckpt"), coarse_rows, cb,
        m=2, dim=4,
    )
    q.awaitTermination(120)

    ann_store.write_ivfadc_model(index_dir, coarse_rows, cb, m=2, dim=4)
    loaded = ann_store.load_ivfadc(index_dir)
    assert loaded.m == 2 and loaded.coarse_rows == coarse_rows

    queries = similarity.prepare(
        spark.createDataFrame(
            [(100, [0.35] * 4), (101, [0.05] * 4)],
            ["vec_id", "embedding"],
        )
    )
    got = sorted(map(tuple, loaded.search(queries, k=2, nprobe=1)
                     .collect()))
    want = sorted(map(tuple, similarity.ivfadc_topk(
        queries, read_ivfadc_index(spark, index_dir),
        loaded.coarse_frame(spark), cb, k=2, nprobe=1, m=2, dim=4,
    ).collect()))
    assert got == want
    assert len({t[0] for t in got}) == 2  # both queries answered


def test_store_topk_builds_once_per_fingerprint(spark, monkeypatch):
    """The registered store query trains+writes on the FIRST call per
    input fingerprint and runs only load+search afterwards (the bench
    heavy-tail fix): a second call must not touch save_ivfadc, and a
    fingerprint change must force a rebuild."""
    import nr_rfc_dischargeobs_spark.plans.extensions as plx
    from nr_rfc_dischargeobs_spark.extensions import ann_store

    sf = "/root/testdata/sf0.001"
    first = sorted(map(tuple, plx.sim_ivfadc_store_topk(spark, sf).collect()))
    assert first  # the artifact exists and searches

    def boom(*a, **kw):  # a second call must never rebuild
        raise AssertionError("save_ivfadc called on a fresh artifact")

    monkeypatch.setattr(ann_store, "save_ivfadc", boom)
    again = sorted(map(tuple, plx.sim_ivfadc_store_topk(spark, sf).collect()))
    assert again == first

    # stale fingerprint (input/recipe changed) → rebuild path re-engages
    monkeypatch.setattr(
        plx, "_ivfadc_store_fingerprint", lambda d, variant: "different"
    )
    try:
        plx.sim_ivfadc_store_topk(spark, sf).collect()
        raise AssertionError("expected the rebuild path")
    except AssertionError as ex:
        assert "save_ivfadc called" in str(ex)


def test_ensure_store_builds_once_and_rebuilds_after_a_crash(
    tmp_path, monkeypatch
):
    """The session-store build-once sequence, without Spark: the first
    call builds and commits the fingerprint, a second call does not
    build, and a build that raises leaves no fingerprint, so the next
    call builds again."""
    import tempfile

    import nr_rfc_dischargeobs_spark.plans.extensions as plx

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf = str(tmp_path / "sf")
    built = []

    def build(path):
        os.makedirs(path, exist_ok=True)
        built.append(path)

    path = plx._ensure_store(sf, "store", "base", build)
    assert built == [path] and path.startswith(str(tmp_path))
    assert plx._session_store_fresh(
        path, plx._ivfadc_store_fingerprint(sf, "base")
    )
    assert plx._ensure_store(sf, "store", "base", build) == path
    assert built == [path]

    def crash(path):
        os.makedirs(path, exist_ok=True)
        raise RuntimeError("killed mid-build")

    with pytest.raises(RuntimeError, match="killed mid-build"):
        plx._ensure_store(sf, "del", "tombstoned-mod7", crash)
    crashed = plx._session_store_path(sf, "del")
    assert os.path.isdir(crashed)
    assert not os.path.exists(os.path.join(crashed, plx._IVFADC_FPR_FILE))
    assert plx._ensure_store(sf, "del", "tombstoned-mod7", build) == crashed
    assert built == [path, crashed]


def test_rotated_artifact_round_trip_and_versioning(spark, tmp_path):
    """A rotated artifact carries its rotation in the v2 sidecar; a
    fresh load must rotate raw queries itself (search_embeddings ==
    search over hand-rotated queries), a purge rewrite keeps the
    rotation, and the load guards refuse malformed specs and corrupt
    version-2 sidecars."""
    import json
    import os

    import numpy as np

    from nr_rfc_dischargeobs_spark.extensions import ann_store

    h = similarity.hadamard_rows(4)
    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=4)]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    rot = similarity.rotate_quantized(similarity.prepare(emb), h)
    coarse = rot.filter(F.col("vec_id") < 2)
    corpus = rot.filter(F.col("vec_id") >= 6)
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]]) for r in coarse.collect()
    ]
    res = similarity.residualize(
        similarity.ivf_assign(corpus, coarse, 1, None), coarse_rows
    )
    cb = similarity.pq_train_codebooks(res, k=4, m=2, dim=4, iters=1)
    idx = similarity.ivf_pq_index(corpus, coarse, cb, m=2, dim=4, residual=True)
    path = str(tmp_path / "rotidx")
    ann_store.save_ivfadc(
        idx, path, coarse_rows, cb, m=2, dim=4,
        rotation={"mode": "post_int", "components": h},
    )
    sidecar = json.load(open(os.path.join(path, ann_store.MODEL_FILE)))
    assert sidecar["format_version"] == ann_store._ROTATED_VERSION
    assert sidecar["rotation"]["mode"] == "post_int"

    loaded = ann_store.load_ivfadc(path)
    queries_raw = emb.filter(F.col("vec_id").between(2, 5))
    got = sorted(map(tuple, loaded.search_embeddings(
        queries_raw, k=2, nprobe=2).collect()))
    by_hand = similarity.rotate_quantized(similarity.prepare(queries_raw), h)
    want = sorted(map(tuple, loaded.search(by_hand, k=2, nprobe=2).collect()))
    assert got == want and got

    # a purge rewrites table and sidecar together; the rotation rides
    assert ann_store.delete_vectors(spark, path, "vec_id = 6") == 1
    assert ann_store.compact_deleted(spark, path)["compacted"] is True
    assert ann_store.load_ivfadc(path).rotation == loaded.rotation

    # guards, each read back from an on-disk v2 sidecar: an unknown
    # mode, the retired trained-float "pre" mode, a float matrix in
    # post_int, a ragged matrix, an empty matrix; then a v2 sidecar
    # without a rotation
    for bad, msg in (
        ({"mode": "sideways", "components": h}, "'sideways'"),
        ({"mode": "pre", "components": h, "mean": [0.0] * 4}, "'pre'"),
        ({"mode": "post_int", "components": [[0.5] * 4] * 4}, "integers"),
        ({"mode": "post_int", "components": [[1, -1], [1]]}, "same length"),
        ({"mode": "post_int", "components": []}, "non-empty"),
    ):
        with open(os.path.join(path, ann_store.MODEL_FILE), "w") as fh:
            json.dump({**sidecar, "rotation": bad}, fh)
        with pytest.raises(ValueError, match=msg):
            ann_store.load_ivfadc(path)
    sidecar.pop("rotation")
    json.dump(sidecar, open(os.path.join(path, ann_store.MODEL_FILE), "w"))
    try:
        ann_store.load_ivfadc(path)
        raise AssertionError("v2 sidecar without rotation must refuse")
    except ValueError as ex:
        assert "rotation" in str(ex)


def test_streamed_rotated_admission_matches_batch_build(spark, tmp_path):
    """ivfadc_index_stream(rotation=…) encodes arriving vectors in the
    index's basis: the streamed code rows equal the batch
    ivf_pq_index build over the same (rotated) vectors, and after
    write_ivfadc_model(rotation=…) the store is a loadable ROTATED
    artifact whose search_embeddings answers raw-basis queries."""
    import json as _json

    from nr_rfc_dischargeobs_spark.streaming import (
        ivfadc_index_stream,
        read_ivfadc_index,
    )

    h = similarity.hadamard_rows(4)
    rot = {"mode": "post_int", "components": h}
    emb = spark.createDataFrame(
        [(i, [0.05 * i, -0.02 * i, 0.3, 0.01 * i]) for i in range(1, 9)],
        "vec_id long, embedding array<float>",
    )
    rotated = similarity.rotate_quantized(similarity.prepare(emb), h)
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in rotated.filter(F.col("vec_id") <= 2).collect()
    ]
    cb = similarity.pq_train_codebooks(
        similarity.residualize(
            similarity.ivf_assign_local(rotated, coarse_rows), coarse_rows
        ),
        k=2, m=2, dim=4, iters=1,
    )

    landing = tmp_path / "vecs"
    landing.mkdir()
    rows = emb.collect()
    (landing / "s1.jsonl").write_text(
        "\n".join(
            _json.dumps(
                {"vec_id": r["vec_id"],
                 "embedding": [float(v) for v in r["embedding"]]}
            )
            for r in rows
        )
        + "\n"
    )
    index_dir = str(tmp_path / "index")
    stream = spark.readStream.schema(
        "vec_id BIGINT, embedding ARRAY<FLOAT>"
    ).json(str(landing))
    q = ivfadc_index_stream(
        stream, index_dir, str(tmp_path / "ckpt"), coarse_rows, cb,
        m=2, dim=4, rotation=rot,
    )
    q.awaitTermination(120)

    streamed = {
        r["vec_id"]: (r["list_id"], r["code_0"], r["code_1"], r["rn"])
        for r in read_ivfadc_index(spark, index_dir).collect()
    }
    batch = {
        r["vec_id"]: (r["list_id"], r["code_0"], r["code_1"], r["rn"])
        for r in similarity.ivf_pq_index(
            rotated, None, cb, m=2, dim=4, assign="local",
            residual=True, coarse_rows=coarse_rows,
        ).collect()
    }
    assert streamed == batch  # value-identical admission

    ann_store.write_ivfadc_model(
        index_dir, coarse_rows, cb, m=2, dim=4, rotation=rot
    )
    loaded = ann_store.load_ivfadc(index_dir)
    assert loaded.rotation == ann_store._check_rotation(rot)
    got = loaded.search_embeddings(
        emb.filter(F.col("vec_id") <= 2), k=2, nprobe=1
    ).collect()
    assert got  # raw-basis queries answered through the sidecar rotation


# ---------------------------------------------------------------------------
# multi-segment search (round 12): frozen base + fresh admission segments
# searched as ONE index
# ---------------------------------------------------------------------------


def test_search_segments_parity_with_merged_index(spark, tmp_path):
    """When segments share one model (the admission-segment case: same
    coarse, same codebook), searching them as segments is ROW-IDENTICAL
    to searching a single merged index over the same vectors — the
    per-segment probe ranks the same lists, the codes are the same
    bytes, and the global merge recovers exactly the single-index
    top-k (global top-k ⊆ union of per-segment top-k)."""
    coarse, queries, corpus, coarse_rows, cb = _trained_parts(spark)
    seg_a = corpus.filter(F.col("vec_id") % 2 == 0)
    seg_b = corpus.filter(F.col("vec_id") % 2 == 1)

    paths = []
    for name, part in (("a", seg_a), ("b", seg_b), ("all", corpus)):
        p = str(tmp_path / f"seg_{name}")
        ann_store.save_ivfadc(
            similarity.ivf_pq_index(
                part, coarse, cb, m=4, dim=64, residual=True
            ),
            p, coarse_rows, cb, m=4, dim=64,
        )
        paths.append(p)
    pa, pb, pall = paths

    emb_q = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    got = sorted(map(tuple, ann_store.search_segments(
        spark, [pa, pb], emb_q, k=3, nprobe=2
    ).collect()))
    want = sorted(map(tuple, ann_store.load_ivfadc(pall)
                      .search_embeddings(emb_q, k=3, nprobe=2).collect()))
    assert got == want and len(got) > 0


def test_search_segments_mixed_bases_and_tombstones(spark, tmp_path):
    """Segments may disagree on basis: an UNROTATED base plus a
    Hadamard-ROTATED fresh segment search as one index, each rotating
    the raw queries by its own sidecar; per-segment tombstones apply.
    The merge equals the hand-built union of the per-segment slates."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    prep = similarity.prepare(emb)
    had = similarity.hadamard_rows(64)
    rot_prep = similarity.rotate_quantized(prep, had)

    def build(base, lo, hi, pred, path, rotation=None):
        coarse = base.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        corpus = base.filter(pred)
        coarse_rows = [
            (int(r["vec_id"]), [int(v) for v in r["q"]])
            for r in coarse.select("vec_id", "q").collect()
        ]
        res = similarity.residualize(
            similarity.ivf_assign(corpus, coarse, 1, None), coarse_rows
        )
        cb = similarity.pq_train_codebooks(res, k=8, m=4, dim=64, iters=1)
        ann_store.save_ivfadc(
            similarity.ivf_pq_index(
                corpus, coarse, cb, m=4, dim=64, residual=True
            ),
            path, coarse_rows, cb, m=4, dim=64, rotation=rotation,
        )
        return path

    even = (F.col("vec_id") >= 28) & (F.col("vec_id") % 2 == 0)
    odd = (F.col("vec_id") >= 28) & (F.col("vec_id") % 2 == 1)
    pa = build(prep, 8, 10, even, str(tmp_path / "base"))
    pb = build(rot_prep, 10, 12, odd, str(tmp_path / "fresh"),
               rotation={"mode": "post_int", "components": had})

    # tombstone one segment: a deleted vector disappears from the merge
    emb_q = emb.filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    first = ann_store.search_segments(spark, [pa, pb], emb_q, k=3, nprobe=1)
    victim = int(first.orderBy("query_id", "rank").first()["neighbor_id"])
    assert ann_store.delete_vectors(spark, pa, f"vec_id = {victim}") + \
        ann_store.delete_vectors(spark, pb, f"vec_id = {victim}") == 1

    got = ann_store.search_segments(spark, [pa, pb], emb_q, k=3, nprobe=1)
    rows = got.collect()
    assert victim not in {int(r["neighbor_id"]) for r in rows}
    # slates stay full-length: true top-k among survivors, per query
    per_q = {}
    for r in rows:
        per_q.setdefault(int(r["query_id"]), []).append(int(r["rank"]))
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())

    # hand-built expectation: union of per-segment slates, max-dedup,
    # re-ranked — exactly the documented merge
    ia, ib = ann_store.load_ivfadc(pa), ann_store.load_ivfadc(pb)
    union = ia.search_embeddings(emb_q, k=3, nprobe=1).unionByName(
        ib.search_embeddings(emb_q, k=3, nprobe=1)
    )
    best = union.groupBy("query_id", "neighbor_id").agg(
        F.max("cosine_adc").alias("cosine_adc")
    )
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_adc").desc(), F.col("neighbor_id").asc()
    )
    want = sorted(map(tuple, best.withColumn(
        "rank", F.row_number().over(w)
    ).filter(F.col("rank") <= 3).select(
        "query_id", "neighbor_id", "rank", "cosine_adc"
    ).collect()))
    assert sorted(map(tuple, rows)) == want


def test_search_segments_refuses_mixed_geometry_and_empty(spark, tmp_path):
    coarse, _, corpus, coarse_rows, cb = _trained_parts(spark)
    p64 = str(tmp_path / "m4d64")
    ann_store.save_ivfadc(
        similarity.ivf_pq_index(corpus, coarse, cb, m=4, dim=64,
                                residual=True),
        p64, coarse_rows, cb, m=4, dim=64,
    )
    emb8 = spark.createDataFrame(
        [(i, [float(i + j) for j in range(8)]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    prep8 = similarity.prepare(emb8)
    stale = [(0, [0] * 8), (1, [100000] * 8)]
    res = similarity.residualize(
        similarity.ivf_assign_local(prep8, stale), stale
    )
    cb8 = similarity.pq_train_codebooks(res, k=4, m=2, dim=8, iters=1)
    p8 = str(tmp_path / "m2d8")
    ann_store.save_ivfadc(
        similarity.ivf_pq_index(prep8, None, cb8, m=2, dim=8,
                                residual=True, coarse_rows=stale,
                                assign="local"),
        p8, stale, cb8, m=2, dim=8,
    )
    with pytest.raises(ValueError, match="disagree on \\(m, dim\\)"):
        ann_store.search_segments(spark, [p64, p8], emb8, k=2)
    with pytest.raises(ValueError, match="at least one segment"):
        ann_store.search_segments(spark, [], emb8, k=2)


def test_search_segments_overlap_dedups(spark, tmp_path):
    """A vector present in BOTH segments (re-admission) appears once,
    at its best score — the same path twice is the degenerate case and
    must equal the single-segment search exactly."""
    coarse, queries, corpus, coarse_rows, cb = _trained_parts(spark)
    p = str(tmp_path / "seg")
    ann_store.save_ivfadc(
        similarity.ivf_pq_index(corpus, coarse, cb, m=4, dim=64,
                                residual=True),
        p, coarse_rows, cb, m=4, dim=64,
    )
    emb_q = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    got = sorted(map(tuple, ann_store.search_segments(
        spark, [p, p], emb_q, k=3, nprobe=2
    ).collect()))
    want = sorted(map(tuple, ann_store.load_ivfadc(p)
                      .search_embeddings(emb_q, k=3, nprobe=2).collect()))
    assert got == want


def test_range_search_equals_thresholded_full_slate(spark, tmp_path):
    """ivfadc_range (FAISS range_search): the row-set equals the same
    probe's top-k slate with an unreachable k, filtered to the
    threshold — same candidates, same exact scores, no rank.  The
    plan contains NO window (the per-query sort exchange is the cost
    range search exists to avoid), tombstones are anti-joined on the
    store surface, and a nothing-matches predicate yields the typed
    empty frame."""
    coarse, queries, corpus, coarse_rows, cb = _trained_parts(spark)
    path = str(tmp_path / "ix")
    ann_store.save_ivfadc(
        similarity.ivf_pq_index(corpus, coarse, cb, m=4, dim=64,
                                residual=True),
        path, coarse_rows, cb, m=4, dim=64,
    )
    loaded = ann_store.load_ivfadc(path)
    tau = 0.2
    got = loaded.range_search(queries, tau, nprobe=2)
    # the candidate-side rank window is gone: the only Window left is
    # the probe-side query→list assignment (tiny query set), i.e. one
    # FEWER Window node than the same probe's top-k plan
    def _windows(df):
        return df._jdf.queryExecution().executedPlan().toString().count(
            "Window"
        )
    assert _windows(got) < _windows(loaded.search(queries, k=3, nprobe=2))
    got_rows = sorted(map(tuple, got.collect()))
    big_k = corpus.count()
    want = sorted(
        (int(r["query_id"]), int(r["neighbor_id"]),
         float(r["cosine_adc"]))
        for r in loaded.search(queries, k=big_k, nprobe=2).collect()
        if r["cosine_adc"] >= tau
    )
    assert got_rows == want and got_rows
    assert got.columns == ["query_id", "neighbor_id", "cosine_adc"]

    # tombstones suppress range results like every other surface
    victim = got_rows[0][1]
    assert ann_store.delete_vectors(spark, path, f"vec_id = {victim}") == 1
    after = {int(r["neighbor_id"])
             for r in loaded.range_search(queries, tau, nprobe=2).collect()}
    assert victim not in after and after

    # hybrid dial composes; nothing-matches yields the typed empty
    filt = loaded.range_search(queries, -1.0, nprobe=1,
                               where="vec_id % 3 = 1")
    assert all(int(r["neighbor_id"]) % 3 == 1 for r in filt.collect())
    empty = loaded.range_search(queries, 0.0, nprobe=1, where="vec_id < 0",
                                target_candidates=10)
    assert empty.count() == 0
    assert empty.columns == ["query_id", "neighbor_id", "cosine_adc"]


def test_range_search_segments_matches_thresholded_merge(spark, tmp_path):
    """range_search_segments: the radius question over the frozen-base
    + fresh-segment set.  Row-set equals search_segments with an
    unreachable k filtered to the threshold (per-segment thresholding
    commutes with the max-dedup), the degenerate same-path-twice case
    equals the single-index range search exactly (overlap dedups to
    the best score), tombstones suppress like every surface, and the
    geometry/empty refusals match search_segments'."""
    coarse, queries, corpus, coarse_rows, cb = _trained_parts(spark)
    seg_a = corpus.filter(F.col("vec_id") % 2 == 0)
    seg_b = corpus.filter(F.col("vec_id") % 2 == 1)
    paths = []
    for name, part in (("a", seg_a), ("b", seg_b)):
        p = str(tmp_path / f"rseg_{name}")
        ann_store.save_ivfadc(
            similarity.ivf_pq_index(part, coarse, cb, m=4, dim=64,
                                    residual=True),
            p, coarse_rows, cb, m=4, dim=64,
        )
        paths.append(p)
    pa, pb = paths
    emb_q = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))

    tau = 0.2
    got = ann_store.range_search_segments(
        spark, [pa, pb], emb_q, tau, nprobe=2
    )
    assert got.columns == ["query_id", "neighbor_id", "cosine_adc"]
    got_rows = sorted(map(tuple, got.collect()))
    big_k = corpus.count()
    want = sorted(
        (int(r["query_id"]), int(r["neighbor_id"]), float(r["cosine_adc"]))
        for r in ann_store.search_segments(
            spark, [pa, pb], emb_q, k=big_k, nprobe=2
        ).collect()
        if r["cosine_adc"] >= tau
    )
    assert got_rows == want and got_rows

    # overlap dedups: the same path twice is the degenerate re-admission
    # case and must equal the single-index range search exactly
    single = sorted(map(tuple, ann_store.load_ivfadc(pa)
                        .range_search_embeddings(emb_q, tau, nprobe=2)
                        .collect()))
    twice = sorted(map(tuple, ann_store.range_search_segments(
        spark, [pa, pa], emb_q, tau, nprobe=2
    ).collect()))
    assert twice == single

    # tombstones suppress range results across the segment merge
    victim = got_rows[0][1]
    seg_of = pa if victim % 2 == 0 else pb
    assert ann_store.delete_vectors(spark, seg_of,
                                    f"vec_id = {victim}") == 1
    after = {int(r["neighbor_id"])
             for r in ann_store.range_search_segments(
                 spark, [pa, pb], emb_q, tau, nprobe=2).collect()}
    assert victim not in after and after

    with pytest.raises(ValueError, match="at least one segment"):
        ann_store.range_search_segments(spark, [], emb_q, tau)


# ---------------------------------------------------------------------------
# merge_segments (round 13): the lifecycle closer — fold fresh segments
# back into the frozen base as ONE store
# ---------------------------------------------------------------------------


def test_merge_segments_carry_matches_search_segments(spark, tmp_path):
    """Same-model merge (the admission norm): codes carry bit-exact,
    per-segment tombstones resolve (the base's stale copy of a
    delete-then-reinsert id drops, the fresh copy wins), an id live in
    BOTH segments lands exactly once (later-wins), the merged store is
    tombstone-free, and searching it is row-identical to
    search_segments over the pre-merge set."""
    coarse, queries, corpus, coarse_rows, cb = _trained_parts(spark)
    even = corpus.filter(F.col("vec_id") % 2 == 0)
    odd = corpus.filter(F.col("vec_id") % 2 == 1)
    even_ids = sorted(int(r["vec_id"]) for r in even.select("vec_id")
                      .collect())
    victim, overlap = even_ids[0], even_ids[1]

    base = str(tmp_path / "base")
    ann_store.save_ivfadc(
        similarity.ivf_pq_index(even, coarse, cb, m=4, dim=64,
                                residual=True),
        base, coarse_rows, cb, m=4, dim=64,
    )
    assert ann_store.delete_vectors(spark, base, f"vec_id = {victim}") == 1
    fresh = str(tmp_path / "fresh")
    readmit = corpus.filter(F.col("vec_id").isin([victim, overlap]))
    ann_store.save_ivfadc(
        similarity.ivf_pq_index(odd.unionByName(readmit), coarse, cb,
                                m=4, dim=64, residual=True),
        fresh, coarse_rows, cb, m=4, dim=64,
    )

    emb_q = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    want = sorted(map(tuple, ann_store.search_segments(
        spark, [base, fresh], emb_q, k=3, nprobe=2
    ).collect()))

    dest = str(tmp_path / "merged")
    rep = ann_store.merge_segments(spark, [base, fresh], dest)
    n_corpus = corpus.count()
    assert rep["merged"] is True and rep["segments"] == 2
    assert rep["rows"] == n_corpus  # every id exactly once
    assert rep["carried"] == n_corpus
    assert rep["dropped_deleted"] == 1  # the base's stale victim copy
    assert rep["superseded"] == 1  # the base's overlap copy
    merged = ann_store.load_ivfadc(dest)
    assert ann_store.deleted_ids(spark, dest) is None
    table = merged.frame(spark)
    assert table.count() == table.select("vec_id").distinct().count()
    got = sorted(map(tuple,
                     merged.search_embeddings(emb_q, k=3,
                                              nprobe=2).collect()))
    assert got == want and got


def test_merge_segments_refusals(spark, tmp_path):
    """A segment with its own model refuses to merge (carrying its codes
    into the base's model would be wrong), a different-BASIS segment
    says so in the refusal, and mixed (m, dim) geometry refuses
    outright."""
    coarse, queries, corpus, coarse_rows, cb = _trained_parts(spark)
    even = corpus.filter(F.col("vec_id") % 2 == 0)
    odd = corpus.filter(F.col("vec_id") % 2 == 1)
    base = str(tmp_path / "base")
    ann_store.save_ivfadc(
        similarity.ivf_pq_index(even, coarse, cb, m=4, dim=64,
                                residual=True),
        base, coarse_rows, cb, m=4, dim=64,
    )
    # same basis (raw), DIFFERENT model: own coarse + own codebook
    emb = similarity.prepare(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    )
    ocoarse = emb.filter((F.col("vec_id") >= 28) & (F.col("vec_id") < 32))
    ocoarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in ocoarse.select("vec_id", "q").collect()
    ]
    ocb = similarity.pq_train_codebooks(
        similarity.residualize(
            similarity.ivf_assign(odd, ocoarse, 1, None), ocoarse_rows
        ),
        k=8, m=4, dim=64, iters=1,
    )
    fresh = str(tmp_path / "fresh")
    ann_store.save_ivfadc(
        similarity.ivf_pq_index(odd, ocoarse, ocb, m=4, dim=64,
                                residual=True),
        fresh, ocoarse_rows, ocb, m=4, dim=64,
    )

    with pytest.raises(ValueError, match="different model"):
        ann_store.merge_segments(spark, [base, fresh],
                                 str(tmp_path / "m0"))

    # cross-basis refused (the guard reads only the sidecar rotation
    # specs, so the same codes with a rotation spec attached exercise it)
    had = similarity.hadamard_rows(64)
    rfresh = str(tmp_path / "rfresh")
    ann_store.save_ivfadc(
        similarity.ivf_pq_index(odd, ocoarse, ocb, m=4, dim=64,
                                residual=True),
        rfresh, ocoarse_rows, ocb, m=4, dim=64,
        rotation={"mode": "post_int", "components": had},
    )
    with pytest.raises(ValueError, match="different basis"):
        ann_store.merge_segments(
            spark, [base, rfresh], str(tmp_path / "m3")
        )

    # geometry mismatch refused
    mini = spark.createDataFrame(
        [(i, [0.1 * i, -0.05 * i, 0.2, 0.3]) for i in range(1, 7)],
        "vec_id long, embedding array<float>",
    )
    mprep = similarity.prepare(mini)
    mrows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in mprep.filter(F.col("vec_id") <= 2).collect()
    ]
    mcb = similarity.pq_train_codebooks(
        similarity.residualize(
            similarity.ivf_assign_local(mprep, mrows), mrows
        ),
        k=2, m=2, dim=4, iters=1,
    )
    tiny = str(tmp_path / "tiny")
    ann_store.save_ivfadc(
        similarity.ivf_pq_index(mprep, None, mcb, m=2, dim=4,
                                residual=True, coarse_rows=mrows,
                                assign="local"),
        tiny, mrows, mcb, m=2, dim=4,
    )
    with pytest.raises(ValueError, match="disagree on"):
        ann_store.merge_segments(spark, [base, tiny],
                                 str(tmp_path / "m4"))


def test_merge_segments_in_place_swap_and_dest_guard(spark, tmp_path):
    """dest == base merges IN PLACE through the staged swap: the
    base's _deleted side table vanishes atomically with the rows it
    named, the refreshed sidecar rides the swap, and post-merge search
    over the ONE store equals the pre-merge segment search; a dest
    naming a non-base source refuses."""
    coarse, queries, corpus, coarse_rows, cb = _trained_parts(spark)
    even = corpus.filter(F.col("vec_id") % 2 == 0)
    odd = corpus.filter(F.col("vec_id") % 2 == 1)
    base = str(tmp_path / "base")
    ann_store.save_ivfadc(
        similarity.ivf_pq_index(even, coarse, cb, m=4, dim=64,
                                residual=True),
        base, coarse_rows, cb, m=4, dim=64,
    )
    victim = int(even.select("vec_id").orderBy("vec_id")
                 .first()["vec_id"])
    assert ann_store.delete_vectors(spark, base, f"vec_id = {victim}") == 1
    fresh = str(tmp_path / "fresh")
    ann_store.save_ivfadc(
        similarity.ivf_pq_index(odd, coarse, cb, m=4, dim=64,
                                residual=True),
        fresh, coarse_rows, cb, m=4, dim=64,
    )
    emb_q = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    want = sorted(map(tuple, ann_store.search_segments(
        spark, [base, fresh], emb_q, k=3, nprobe=2
    ).collect()))

    with pytest.raises(ValueError, match="non-base source"):
        ann_store.merge_segments(spark, [base, fresh], fresh)

    rep = ann_store.merge_segments(spark, [base, fresh], base)
    assert rep["rows"] == corpus.count() - 1  # victim stays deleted
    assert ann_store.deleted_ids(spark, base) is None
    assert not os.path.isdir(os.path.join(base, ann_store.TOMBSTONE_DIR))
    got = sorted(map(tuple, ann_store.load_ivfadc(base)
                     .search_embeddings(emb_q, k=3, nprobe=2).collect()))
    assert got == want and got


# ---------------------------------------------------------------------------
# tombstones: delete_vectors / compact_deleted
# ---------------------------------------------------------------------------


def test_delete_vectors_search_parity_with_rebuilt_index(spark, tmp_path):
    """Soft-deleting ids gives the SAME search results as physically
    rebuilding the index without them (same model → remaining codes
    are identical bytes), and the slate stays k-long: true top-k among
    survivors, never a post-filtered short slate."""
    coarse, queries, corpus, coarse_rows, cb = _trained_parts(spark)
    path = str(tmp_path / "ix")
    ann_store.save_ivfadc(
        similarity.ivf_pq_index(corpus, coarse, cb, m=4, dim=64,
                                residual=True),
        path, coarse_rows, cb, m=4, dim=64,
    )
    loaded = ann_store.load_ivfadc(path)
    base = loaded.search(queries, k=3, nprobe=2)
    victims = sorted({int(r["neighbor_id"])
                      for r in base.filter(F.col("rank") == 1).collect()})[:2]
    pred = f"vec_id IN ({victims[0]}, {victims[1]})"
    assert ann_store.delete_vectors(spark, path, pred) == 2

    got = sorted(map(tuple,
                     loaded.search(queries, k=3, nprobe=2).collect()))
    assert not any(int(t[1]) in victims for t in got)

    # physical rebuild without the victims, same model
    survivors = corpus.filter(~F.col("vec_id").isin(victims))
    path2 = str(tmp_path / "rebuilt")
    ann_store.save_ivfadc(
        similarity.ivf_pq_index(survivors, coarse, cb, m=4, dim=64,
                                residual=True),
        path2, coarse_rows, cb, m=4, dim=64,
    )
    want = sorted(map(tuple, ann_store.load_ivfadc(path2)
                      .search(queries, k=3, nprobe=2).collect()))
    assert got == want

    # idempotent re-delete: already-tombstoned ids are anti-joined out
    # BEFORE counting/appending — the return value counts each deletion
    # exactly once across overlapping predicates, and the side table
    # never accumulates duplicate rows
    assert ann_store.delete_vectors(spark, path, pred) == 0
    side = spark.read.parquet(
        os.path.join(path, ann_store.TOMBSTONE_DIR)
    )
    assert side.count() == side.distinct().count() == 2
    again = sorted(map(tuple,
                       loaded.search(queries, k=3, nprobe=2).collect()))
    assert again == want


def test_compact_deleted_purges_rows_and_clears_tombstones(spark, tmp_path):
    coarse, queries, corpus, coarse_rows, cb = _trained_parts(spark)
    path = str(tmp_path / "ix")
    ann_store.save_ivfadc(
        similarity.ivf_pq_index(corpus, coarse, cb, m=4, dim=64,
                                residual=True),
        path, coarse_rows, cb, m=4, dim=64,
    )
    n0 = spark.read.parquet(path).count()
    n_del = ann_store.delete_vectors(spark, path, "vec_id % 5 = 0")
    assert n_del > 0
    before = sorted(map(tuple, ann_store.load_ivfadc(path)
                        .search(queries, k=3, nprobe=2).collect()))

    rep = ann_store.compact_deleted(spark, path)
    assert rep == {"compacted": True, "purged": n_del, "kept": n0 - n_del}
    assert spark.read.parquet(path).count() == n0 - n_del
    assert ann_store.deleted_ids(spark, path) is None
    assert not os.path.isdir(os.path.join(path, ann_store.TOMBSTONE_DIR))
    # search values identical before/after the physical purge
    after = sorted(map(tuple, ann_store.load_ivfadc(path)
                       .search(queries, k=3, nprobe=2).collect()))
    assert after == before
    # nothing left to purge → cheap no-op
    assert ann_store.compact_deleted(spark, path)["compacted"] is False


def test_rotate_quantized_dim_mismatch_fails_loudly(spark):
    """A rotation matrix whose dimension differs from the vectors must
    error at run time, not null-pad into silently dropped rows."""
    prep = similarity.prepare(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(4)
    )
    bad = similarity.hadamard_rows(8)  # 8x8 vs 64-dim vectors
    with pytest.raises(Exception, match="rotate_quantized"):
        similarity.rotate_quantized(prep, bad).collect()


def test_adaptive_target_candidates_dial(spark, tmp_path):
    """The candidate-budget dial's two endpoints pin its semantics:
    an unreachable target probes every matching list (== full-probe
    filtered search), a target of 1 probes exactly the nearest
    matching list (== probe_matching_only at nprobe=1); guards fire
    without a predicate, and a nothing-matches predicate yields the
    typed empty frame."""
    coarse, queries, corpus, coarse_rows, cb = _trained_parts(spark)
    path = str(tmp_path / "ix")
    ann_store.save_ivfadc(
        similarity.ivf_pq_index(corpus, coarse, cb, m=4, dim=64,
                                residual=True),
        path, coarse_rows, cb, m=4, dim=64,
    )
    loaded = ann_store.load_ivfadc(path)
    pred = "vec_id % 3 = 1"

    full = sorted(map(tuple, loaded.search(
        queries, k=3, nprobe=4, where=pred
    ).collect()))
    big = sorted(map(tuple, loaded.search(
        queries, k=3, nprobe=1, where=pred, target_candidates=10**9
    ).collect()))
    assert big == full

    floor = sorted(map(tuple, loaded.search(
        queries, k=3, nprobe=1, where=pred, probe_matching_only=True
    ).collect()))
    tight = sorted(map(tuple, loaded.search(
        queries, k=3, nprobe=1, where=pred, target_candidates=1
    ).collect()))
    assert tight == floor

    # UNFILTERED (round 13), the dial is nprobe auto-tune over plain
    # list sizes — endpoints pin the same two semantics: an unreachable
    # target probes every occupied list (== full probe), target 1
    # probes exactly the nearest occupied list.  Fixture sanity first:
    # with every list occupied, "occupied" and "all" coincide, so the
    # plain-nprobe spellings are the exact oracles.
    occupied = {
        int(r["list_id"])
        for r in loaded.frame(spark).select("list_id").distinct().collect()
    }
    assert occupied == {lid for lid, _ in coarse_rows}
    full_u = sorted(map(tuple, loaded.search(
        queries, k=3, nprobe=len(coarse_rows)
    ).collect()))
    big_u = sorted(map(tuple, loaded.search(
        queries, k=3, nprobe=1, target_candidates=10**9
    ).collect()))
    assert big_u == full_u
    floor_u = sorted(map(tuple, loaded.search(queries, k=3,
                                              nprobe=1).collect()))
    tight_u = sorted(map(tuple, loaded.search(
        queries, k=3, nprobe=1, target_candidates=1
    ).collect()))
    assert tight_u == floor_u

    empty = loaded.search(
        queries, k=3, nprobe=1, where="vec_id < 0", target_candidates=10
    )
    assert empty.count() == 0
    assert empty.columns == ["query_id", "neighbor_id", "rank",
                             "cosine_adc"]


def test_full_lifecycle_stream_admit_segment_search(spark, tmp_path):
    """The COMPLETE production lifecycle, end to end: a streamed store
    is the frozen base segment → admission resumes into a FRESH
    directory → `search_segments` reads base + fresh as one index and
    returns every vector, old and new, from raw queries →
    `merge_segments` folds both into ONE flat store."""
    import json as _json

    from nr_rfc_dischargeobs_spark.streaming import ivfadc_index_stream

    emb_old = spark.createDataFrame(
        [(i, [0.04 * i, -0.03 * i, 0.2, 0.01 * i]) for i in range(1, 13)],
        "vec_id long, embedding array<float>",
    )
    emb_new = spark.createDataFrame(
        [(i, [0.5, 0.04 * i, -0.2, 0.03 * i]) for i in range(20, 28)],
        "vec_id long, embedding array<float>",
    )
    prep_old = similarity.prepare(emb_old)
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in prep_old.filter(F.col("vec_id") <= 2).collect()
    ]
    cb = similarity.pq_train_codebooks(
        similarity.residualize(
            similarity.ivf_assign_local(prep_old, coarse_rows), coarse_rows
        ),
        k=2, m=2, dim=4, iters=1,
    )

    def land_and_stream(frame, landing, index_dir, ckpt):
        landing.mkdir()
        (landing / "batch.jsonl").write_text(
            "\n".join(
                _json.dumps({"vec_id": r["vec_id"],
                             "embedding": [float(v)
                                           for v in r["embedding"]]})
                for r in frame.collect()
            )
            + "\n"
        )
        stream = spark.readStream.schema(
            "vec_id BIGINT, embedding ARRAY<FLOAT>"
        ).json(str(landing))
        ivfadc_index_stream(
            stream, index_dir, ckpt, coarse_rows, cb, m=2, dim=4,
        ).awaitTermination(120)
        ann_store.write_ivfadc_model(
            index_dir, coarse_rows, cb, m=2, dim=4
        )

    base_dir = str(tmp_path / "base")
    land_and_stream(emb_old, tmp_path / "land_old", base_dir,
                    str(tmp_path / "ckpt_old"))

    # admission resumes in a FRESH directory (same model here — the
    # admission-segment norm; a retrained model is the seg-a/seg-b case)
    fresh_dir = str(tmp_path / "fresh")
    land_and_stream(emb_new, tmp_path / "land_new", fresh_dir,
                    str(tmp_path / "ckpt_new"))

    queries = spark.createDataFrame(
        [(100, [0.2, -0.15, 0.2, 0.05]), (101, [0.5, 0.9, -0.2, 0.7])],
        "vec_id long, embedding array<float>",
    )
    got = ann_store.search_segments(
        spark, [base_dir, fresh_dir], queries, k=4, nprobe=2
    )
    rows_ = got.collect()
    seen = {int(r["neighbor_id"]) for r in rows_}
    # both generations are reachable through one search
    assert seen & set(range(1, 13)) and seen & set(range(20, 28))
    # and the merge equals the hand-built union of per-segment slates
    ia, ib = (ann_store.load_ivfadc(base_dir),
              ann_store.load_ivfadc(fresh_dir))
    union = ia.search_embeddings(queries, k=4, nprobe=2).unionByName(
        ib.search_embeddings(queries, k=4, nprobe=2)
    )
    best = union.groupBy("query_id", "neighbor_id").agg(
        F.max("cosine_adc").alias("cosine_adc")
    )
    from pyspark.sql import Window
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_adc").desc(), F.col("neighbor_id").asc()
    )
    want = sorted(map(tuple, best.withColumn(
        "rank", F.row_number().over(w)
    ).filter(F.col("rank") <= 4).select(
        "query_id", "neighbor_id", "rank", "cosine_adc"
    ).collect()))
    assert sorted(map(tuple, rows_)) == want
    # a full-width slate over both lists reaches every stored vector
    wide = ann_store.search_segments(
        spark, [base_dir, fresh_dir], queries, k=20, nprobe=2
    ).filter(F.col("query_id") == 100)
    assert {int(r["neighbor_id"]) for r in wide.collect()} == (
        set(range(1, 13)) | set(range(20, 28))
    )

    # --- r13: the loop CLOSES — merge the fresh segment back into the
    # base.  Both streamed segments share one model, so every row is
    # carried; the streamed batch_id=N/ layout is flattened on the way,
    # and afterwards ONE store serves both generations.
    merged_dir = str(tmp_path / "merged")
    mrep = ann_store.merge_segments(spark, [base_dir, fresh_dir], merged_dir)
    assert mrep["carried"] == 20 and mrep["rows"] == 20
    assert "batch_id" in spark.read.parquet(base_dir).columns
    assert "batch_id" not in spark.read.parquet(merged_dir).columns
    one = ann_store.load_ivfadc(merged_dir).search_embeddings(
        queries, k=4, nprobe=2
    )
    seen_one = {int(r["neighbor_id"]) for r in one.collect()}
    assert seen_one & set(range(1, 13)) and seen_one & set(range(20, 28))


def test_readmission_after_delete_via_fresh_segment(spark, tmp_path):
    """Delete-then-reinsert, the production sequence: a vec_id
    tombstoned in the frozen base and re-admitted into the FRESH
    segment is found again by search_segments — the base's tombstone
    suppresses only the base's (stale) copy, and the fresh segment's
    copy wins the merge.  This is why tombstones are per-store and
    re-insertion goes to a new directory, never back into the frozen
    base's tree."""
    coarse, queries, corpus, coarse_rows, cb = _trained_parts(spark)
    base_path = str(tmp_path / "base")
    ann_store.save_ivfadc(
        similarity.ivf_pq_index(corpus, coarse, cb, m=4, dim=64,
                                residual=True),
        base_path, coarse_rows, cb, m=4, dim=64,
    )
    loaded = ann_store.load_ivfadc(base_path)
    victim = int(
        loaded.search(queries, k=1, nprobe=2).first()["neighbor_id"]
    )
    assert ann_store.delete_vectors(
        spark, base_path, f"vec_id = {victim}"
    ) == 1
    emb_q = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    gone = ann_store.search_segments(spark, [base_path], emb_q, k=3,
                                     nprobe=2)
    assert victim not in {int(r["neighbor_id"]) for r in gone.collect()}

    # re-admit the same vector into a fresh segment (same model — the
    # admission norm)
    fresh_path = str(tmp_path / "fresh")
    readmitted = corpus.filter(F.col("vec_id") == victim)
    ann_store.save_ivfadc(
        similarity.ivf_pq_index(readmitted, coarse, cb, m=4, dim=64,
                                residual=True),
        fresh_path, coarse_rows, cb, m=4, dim=64,
    )
    back = ann_store.search_segments(
        spark, [base_path, fresh_path], emb_q, k=3, nprobe=2
    )
    assert victim in {int(r["neighbor_id"]) for r in back.collect()}
