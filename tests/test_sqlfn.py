"""Pure-SQL TVF surface: every registered SQL table function must return
exactly the rows of the DataFrame operator it mirrors, on the same
corpus.  The driver hash-verifies the operators against their DuckDB
oracles, so row-identity here makes that oracle transitively the TVF's.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from nr_rfc_dischargeobs_spark.extensions import dedup, sampling
from nr_rfc_dischargeobs_spark.extensions import text as textops
from nr_rfc_dischargeobs_spark.plans.sqlfn import register_sql_tvfs


@pytest.fixture()
def docs_view(spark):
    # lang/n_chars present because SQL UDF bodies are analyzed at CREATE
    # time against the current `documents` view — the registered surface
    # assumes the real documents schema (TESTDATA.md)
    texts = [
        (0, "the quick brown fox jumps over the lazy dog again"),
        (1, "a second document with  double spaces and More WORDS"),
        (2, "the quick brown fox jumps over the lazy dog again"),
        (3, None),
        (4, "short"),
        (5, "numbers 123 and punct!?; mix-ed to2kens"),
    ]
    docs = spark.createDataFrame(
        [
            (i, t, "en" if i % 3 else "de", len(t or ""))
            for i, t in texts
        ],
        ["doc_id", "text", "lang", "n_chars"],
    )
    docs.createOrReplaceTempView("documents")
    # embeddings view: the similarity-tier TVF bodies are analyzed at
    # CREATE time, so the view must exist before register_sql_tvfs.
    # ids 0-1 double as SemDeDup seeds; 6 is a zero-norm degenerate;
    # 4 and 5 are near-duplicates of each other (same direction).
    embs = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.2, -0.1]),
            (1, [-0.5, 1.0, 0.0, 0.3]),
            (2, [0.9, 0.1, 0.25, -0.05]),
            (3, [-0.4, 0.9, 0.1, 0.2]),
            (4, [0.7, 0.7, 0.0, 0.0]),
            (5, [0.71, 0.69, 0.01, 0.0]),
            (6, [0.0, 0.0, 0.0, 0.0]),
            (7, [0.2, -0.8, 0.5, 0.1]),
        ],
        ["vec_id", "embedding"],
    )
    embs.createOrReplaceTempView("embeddings")
    register_sql_tvfs(spark)
    return docs


def rows(df):
    return sorted(map(tuple, df.collect()), key=lambda r: tuple(map(str, r)))


def test_tvf_token_counts_matches_operator(spark, docs_view):
    got = spark.sql("SELECT * FROM tvf_text_token_counts()")
    want = textops.token_counts(docs_view)
    assert rows(got) == rows(want)


def test_tvf_exact_clusters_matches_operator(spark, docs_view):
    got = spark.sql("SELECT * FROM tvf_dedup_exact_clusters()")
    want = dedup.exact_clusters(docs_view)
    assert rows(got) == rows(want)
    # the duplicate pair actually clustered, keeper = min doc_id
    fp = [r for r in rows(got) if r[1] == 2]
    assert len(fp) == 1 and fp[0][2] == 0


def test_tvf_sample_split_matches_operator(spark, docs_view):
    got = spark.sql("SELECT * FROM tvf_sample_split(0.5)")
    want = sampling.deterministic_split(
        docs_view.select("doc_id"), "doc_id", train_frac=0.5
    )
    assert rows(got) == rows(want)
    # parameter actually moves the boundary: frac=1.0 → all train
    all_train = spark.sql("SELECT * FROM tvf_sample_split(1.0)")
    assert {r[1] for r in all_train.collect()} == {"train"}


def test_tvf_chunk_windows_matches_operator(spark, docs_view):
    got = spark.sql("SELECT * FROM tvf_text_chunk_windows(4, 2)")
    want = textops.chunk_windows(docs_view, chunk_tokens=4, stride=2)
    assert rows(got) == rows(want)
    # a NULL-text doc still yields exactly one (empty) chunk
    assert [r for r in rows(got) if r[0] == 3]


def test_tvf_word_count_gate_matches_gopher_formula(spark, docs_view):
    got = spark.sql("SELECT * FROM tvf_text_word_count_gate(2, 100)")
    want = (
        docs_view.select(
            "doc_id", textops.n_words_expr(F.col("text")).alias("n_words")
        )
        .filter(F.col("n_words").between(2, 100))
    )
    assert rows(got) == rows(want)
    # the formula is the stream's (empty tokens included): doc 1 has a
    # double space → one empty token counted
    n1 = dict(rows(got))[1]
    assert n1 == 10


def test_tvf_bm25_matches_operator(spark, docs_view):
    """3-term BM25 parity, plus the NULL-slot contract (a NULL term
    matches nothing, so the 2-term call equals the operator on the same
    2 terms)."""
    got = spark.sql("SELECT * FROM tvf_text_bm25('quick', 'words', 'short', 5)")
    want = textops.bm25_topk(docs_view, ["quick", "words", "short"], k=5)
    assert rows(got) == rows(want)
    assert len(rows(got)) > 0
    got2 = spark.sql("SELECT * FROM tvf_text_bm25('quick', 'words', NULL, 5)")
    want2 = textops.bm25_topk(docs_view, ["quick", "words"], k=5)
    assert rows(got2) == rows(want2)


def test_tvf_hist_quantiles_matches_operator(spark, docs_view):
    from nr_rfc_dischargeobs_spark.extensions import sketches

    got = spark.sql("SELECT * FROM tvf_sketch_hist_quantiles(0, 64, 16)")
    want = sketches.histogram_quantiles(
        docs_view, col="n_chars", lo=0, hi=64, bins=16,
        quantiles=(25, 50, 75, 95, 99), facets=("lang",),
    ).select(
        "lang", "q_pct", "bin", "bin_lo", "bin_hi", "cum_count", "n_rows"
    )
    assert rows(got) == rows(want)


def test_tvf_dedup_lsh_pairs_matches_operator(spark, docs_view):
    got = spark.sql("SELECT * FROM tvf_dedup_lsh_pairs(100)")
    sigs = dedup.minhash_signatures(
        dedup.shingle_rows(docs_view, n=1), bands=2
    )
    want = dedup.lsh_candidate_pairs(sigs, bands=2)
    assert rows(got) == rows(want)
    # the exact-duplicate pair must be a candidate (identical signatures)
    assert (0, 2) in {(r[0], r[1]) for r in rows(got)}
    # the parameter prunes: capping below doc 2 removes its pairs
    capped = spark.sql("SELECT * FROM tvf_dedup_lsh_pairs(2)")
    assert all(r[1] < 2 for r in rows(capped))


def test_tvf_sim_cosine_topk_matches_operator(spark, docs_view):
    from nr_rfc_dischargeobs_spark.extensions import similarity

    emb = spark.table("embeddings")
    queries = similarity.prepare(emb.filter(F.col("vec_id") < 2))
    corpus = similarity.prepare(emb.filter(F.col("vec_id") >= 2))
    want = similarity.brute_force_topk(queries, corpus, k=3)
    got = spark.sql("SELECT * FROM tvf_sim_cosine_topk(2, 3)")
    # floats compared exactly: the TVF spells the same quantized integer
    # dot + IEEE division, so parity is bitwise
    assert rows(got) == rows(want)
    # zero-norm corpus vector (id 6) never appears
    assert all(r[1] != 6 for r in rows(got))


def test_tvf_sim_semantic_dedup_matches_operator(spark, docs_view):
    from nr_rfc_dischargeobs_spark.extensions import similarity

    emb = spark.table("embeddings")
    prep = similarity.prepare(emb.filter(F.col("vec_id") < 100))
    cents = similarity.prepare(emb.filter(F.col("vec_id") < 2))
    want = similarity.semantic_dedup(prep, cents, threshold=0.3)
    got = spark.sql("SELECT * FROM tvf_sim_semantic_dedup(100, 2, 0.3)")
    assert rows(got) == rows(want)
    by_id = {r[0]: r for r in rows(got)}
    # the planted near-dup (5 ~ 4) is dropped; its canonical is the
    # SMALLEST in-threshold clustermate (one-hop SemDeDup semantics —
    # at threshold 0.3 that is id 0, not its closest neighbor)
    assert by_id[5][2] is False and by_id[5][3] < 5
    # zero-norm vector is always kept (no cosine direction)
    assert by_id[6][2] is True and by_id[6][3] == 6
    # a tighter threshold keeps more: 5 must then canonicalize to 4
    tight = {
        r[0]: r
        for r in rows(
            spark.sql("SELECT * FROM tvf_sim_semantic_dedup(100, 2, 0.95)")
        )
    }
    assert tight[5][2] is False and tight[5][3] == 4


def test_tvf_ivf_pq_search_matches_operator_on_stored_index(spark, tmp_path):
    """The stored-artifact TVF: build the IVF-PQ index with the operator,
    WRITE it (partitioned by list_id, the production layout), register
    the store view + TVF, and the SQL search must return exactly the
    operator's rows on the SAME artifact — completing the pure-SQL
    surface for the similarity tier."""
    from nr_rfc_dischargeobs_spark.extensions import similarity
    from nr_rfc_dischargeobs_spark.plans.sqlfn import (
        register_ivf_pq_search_tvf,
    )

    emb_raw = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb_raw.createOrReplaceTempView("embeddings")
    prep = similarity.prepare(emb_raw)
    cents = [
        (r["vec_id"], r["q"])
        for r in prep.filter(F.col("vec_id") < 8).collect()
    ]
    coarse = prep.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 12))
    queries = prep.filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    corpus = prep.filter(F.col("vec_id") >= 28)
    ix_path = str(tmp_path / "ivf_pq_index")
    similarity.ivf_pq_index(corpus, coarse, cents).write.partitionBy(
        "list_id"
    ).parquet(ix_path)
    stored = spark.read.parquet(ix_path)
    want = similarity.ivf_pq_topk(
        queries, stored, coarse, cents, k=3, nprobe=2
    )
    assert register_ivf_pq_search_tvf(spark, ix_path) == "tvf_ivf_pq_search"
    got = spark.sql("SELECT * FROM tvf_ivf_pq_search(8, 12, 28, 16, 3, 2)")
    # bitwise parity: the TVF's reconstruction dot and the operator's
    # LUT decomposition sum the same exact integers, then apply the
    # same IEEE division
    assert rows(got) == rows(want)


def test_tvf_ivfadc_search_matches_operator_on_saved_artifact(
    spark, tmp_path
):
    """The TRAINED stored-artifact TVF: train + save with ann_store,
    register from the artifact path alone (model views come from the
    sidecar — no Python training state), and the SQL search must return
    exactly the operator's rows on the same artifact."""
    from nr_rfc_dischargeobs_spark.extensions import ann_store, similarity
    from nr_rfc_dischargeobs_spark.plans.sqlfn import (
        register_ivfadc_search_tvf,
    )

    emb_raw = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb_raw.createOrReplaceTempView("embeddings")
    prep = similarity.prepare(emb_raw)
    coarse = prep.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 12))
    queries = prep.filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    corpus = prep.filter(F.col("vec_id") >= 28)
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in coarse.collect()
    ]
    residuals = similarity.residualize(
        similarity.ivf_assign(corpus, coarse, 1, None), coarse_rows
    )
    cb = similarity.pq_train_codebooks(residuals, k=8, m=4, dim=64, iters=1)
    path = str(tmp_path / "ivfadc_artifact")
    handle = ann_store.save_ivfadc(
        similarity.ivf_pq_index(corpus, coarse, cb, residual=True),
        path, coarse_rows, cb, m=4, dim=64,
    )
    want = handle.search(queries, k=3, nprobe=2)
    assert register_ivfadc_search_tvf(spark, path) == "tvf_ivfadc_search"
    got = spark.sql("SELECT * FROM tvf_ivfadc_search(12, 28, 3, 2)")
    # bitwise parity: the TVF's reconstruction dot sums the same exact
    # integers as the operator's qdot_coarse + LUT decomposition, and
    # rn comes from the same stored column in both
    assert rows(got) == rows(want)

    # the geometry contract refuses loudly instead of mis-decoding
    import pytest as _pytest

    cb2 = similarity.pq_train_codebooks(residuals, k=4, m=2, dim=64, iters=0)
    path2 = str(tmp_path / "ivfadc_m2")
    ann_store.save_ivfadc(
        similarity.ivf_pq_index(
            corpus, coarse, cb2, m=2, dim=64, residual=True
        ),
        path2, coarse_rows, cb2, m=2, dim=64,
    )
    with _pytest.raises(ValueError, match="m=4"):
        register_ivfadc_search_tvf(spark, path2)


def test_tvf_ivfadc_search_filtered_and_rotated(spark, tmp_path):
    """Round 11 dials on the stored-artifact TVF: (1) where= at
    registration pre-filters the store view — SQL results equal
    ivfadc_topk(where=…) exactly; (2) a post_int-rotated artifact
    registers transparently (the rotation view rotates query vectors in
    exact BIGINTs) and matches search_embeddings."""
    from nr_rfc_dischargeobs_spark.extensions import ann_store, similarity
    from nr_rfc_dischargeobs_spark.plans.sqlfn import (
        register_ivfadc_search_tvf,
    )

    emb_raw = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb_raw.createOrReplaceTempView("embeddings")
    h = similarity.hadamard_rows(64)
    rot = {"mode": "post_int", "components": h}
    basis = ann_store.apply_rotation(emb_raw, rot)
    coarse = basis.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 12))
    queries_raw = emb_raw.filter(
        (F.col("vec_id") >= 12) & (F.col("vec_id") < 28)
    )
    corpus = basis.filter(F.col("vec_id") >= 28)
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in coarse.collect()
    ]
    cb = similarity.pq_train_codebooks(
        similarity.residualize(
            similarity.ivf_assign(corpus, coarse, 1, None), coarse_rows
        ),
        k=8, m=4, dim=64, iters=1,
    )
    path = str(tmp_path / "rot_artifact")
    handle = ann_store.save_ivfadc(
        similarity.ivf_pq_index(corpus, coarse, cb, residual=True),
        path, coarse_rows, cb, m=4, dim=64, rotation=rot,
    )

    # rotated, unfiltered: TVF == search_embeddings bit-for-bit
    register_ivfadc_search_tvf(spark, path)
    got = spark.sql("SELECT * FROM tvf_ivfadc_search(12, 28, 3, 2)")
    want = handle.search_embeddings(queries_raw, k=3, nprobe=2)
    assert rows(got) == rows(want)

    # rotated + filtered: predicate in the store view == where= dial
    register_ivfadc_search_tvf(spark, path, where="vec_id % 3 = 1")
    got_f = spark.sql("SELECT * FROM tvf_ivfadc_search(12, 28, 3, 2)")
    want_f = handle.search_embeddings(
        queries_raw, k=3, nprobe=2, where="vec_id % 3 = 1"
    )
    assert rows(got_f) == rows(want_f)
    assert all(r["neighbor_id"] % 3 == 1 for r in got_f.collect())


def test_tvf_ivfadc_search_applies_tombstones(spark, tmp_path):
    """Operator ≡ TVF parity extends to deletions: a tombstoned vec_id
    (ann_store.delete_vectors) is excluded from the TVF's candidate
    set exactly as IvfadcIndex.search anti-joins it."""
    from nr_rfc_dischargeobs_spark.extensions import ann_store, similarity
    from nr_rfc_dischargeobs_spark.plans.sqlfn import (
        register_ivfadc_search_tvf,
    )

    emb_raw = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb_raw.createOrReplaceTempView("embeddings")
    prep = similarity.prepare(emb_raw)
    coarse = prep.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 12))
    queries = prep.filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    corpus = prep.filter(F.col("vec_id") >= 28)
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in coarse.collect()
    ]
    cb = similarity.pq_train_codebooks(
        similarity.residualize(
            similarity.ivf_assign(corpus, coarse, 1, None), coarse_rows
        ),
        k=8, m=4, dim=64, iters=1,
    )
    path = str(tmp_path / "tomb_artifact")
    handle = ann_store.save_ivfadc(
        similarity.ivf_pq_index(corpus, coarse, cb, residual=True),
        path, coarse_rows, cb, m=4, dim=64,
    )
    victim = int(
        handle.search(queries, k=1, nprobe=2).first()["neighbor_id"]
    )
    assert ann_store.delete_vectors(spark, path, f"vec_id = {victim}") == 1

    register_ivfadc_search_tvf(spark, path)
    got = spark.sql("SELECT * FROM tvf_ivfadc_search(12, 28, 3, 2)")
    want = ann_store.load_ivfadc(path).search(queries, k=3, nprobe=2)
    assert rows(got) == rows(want)
    assert victim not in {r["neighbor_id"] for r in got.collect()}


def test_tvf_ivfadc_search_adaptive_target(spark, tmp_path):
    """target_candidates on the SQL surface: the registration-time
    counts view + cumulative probe walk returns exactly what the
    operator's dial returns (floor nprobe from the runtime arg), and
    registration refuses a target without a predicate."""
    import pytest as _pytest

    from nr_rfc_dischargeobs_spark.extensions import ann_store, similarity
    from nr_rfc_dischargeobs_spark.plans.sqlfn import (
        register_ivfadc_search_tvf,
    )

    emb_raw = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb_raw.createOrReplaceTempView("embeddings")
    prep = similarity.prepare(emb_raw)
    coarse = prep.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 12))
    queries = prep.filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    corpus = prep.filter(F.col("vec_id") >= 28)
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in coarse.collect()
    ]
    cb = similarity.pq_train_codebooks(
        similarity.residualize(
            similarity.ivf_assign(corpus, coarse, 1, None), coarse_rows
        ),
        k=8, m=4, dim=64, iters=1,
    )
    path = str(tmp_path / "adaptive_artifact")
    handle = ann_store.save_ivfadc(
        similarity.ivf_pq_index(corpus, coarse, cb, residual=True),
        path, coarse_rows, cb, m=4, dim=64,
    )
    pred = "vec_id % 3 = 1"
    register_ivfadc_search_tvf(
        spark, path, where=pred, target_candidates=60
    )
    got = spark.sql("SELECT * FROM tvf_ivfadc_search(12, 28, 3, 1)")
    want = handle.search(
        queries, k=3, nprobe=1, where=pred, target_candidates=60
    )
    assert rows(got) == rows(want) and len(rows(got)) > 0

    # UNFILTERED target (round 13): nprobe auto-tune from plain list
    # sizes, TVF == operator bit-for-bit
    register_ivfadc_search_tvf(spark, path, target_candidates=60)
    got_u = spark.sql("SELECT * FROM tvf_ivfadc_search(12, 28, 3, 1)")
    want_u = handle.search(queries, k=3, nprobe=1, target_candidates=60)
    assert rows(got_u) == rows(want_u) and len(rows(got_u)) > 0

    # probe_matching_only without the budget walk: the coarse view is
    # restricted to matched lists at registration — operator parity
    register_ivfadc_search_tvf(
        spark, path, where=pred, probe_matching_only=True
    )
    got_m = spark.sql("SELECT * FROM tvf_ivfadc_search(12, 28, 3, 1)")
    want_m = handle.search(
        queries, k=3, nprobe=1, where=pred, probe_matching_only=True
    )
    assert rows(got_m) == rows(want_m) and len(rows(got_m)) > 0

    with _pytest.raises(ValueError, match="probe_matching_only requires"):
        register_ivfadc_search_tvf(spark, path, probe_matching_only=True)


def test_tvf_ivfadc_range_matches_operator(spark, tmp_path):
    """Range search from pure SQL: tvf_ivfadc_range(lo, hi, tau,
    nprobe) — the threshold is a RUNTIME argument, so one registration
    serves every radius — rows identical to IvfadcIndex.range_search
    on the same artifact, with the filtered dial and tombstones
    composing like the search TVF (whose views it shares)."""
    from nr_rfc_dischargeobs_spark.extensions import ann_store, similarity
    from nr_rfc_dischargeobs_spark.plans.sqlfn import (
        register_ivfadc_range_tvf,
    )

    emb_raw = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb_raw.createOrReplaceTempView("embeddings")
    prep = similarity.prepare(emb_raw)
    coarse = prep.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 12))
    queries = prep.filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    corpus = prep.filter(F.col("vec_id") >= 28)
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in coarse.collect()
    ]
    cb = similarity.pq_train_codebooks(
        similarity.residualize(
            similarity.ivf_assign(corpus, coarse, 1, None), coarse_rows
        ),
        k=8, m=4, dim=64, iters=1,
    )
    path = str(tmp_path / "range_artifact")
    handle = ann_store.save_ivfadc(
        similarity.ivf_pq_index(corpus, coarse, cb, residual=True),
        path, coarse_rows, cb, m=4, dim=64,
    )
    assert register_ivfadc_range_tvf(spark, path) == "tvf_ivfadc_range"
    for tau in (0.2, -1.0):
        got = spark.sql(
            f"SELECT * FROM tvf_ivfadc_range(12, 28, {tau}, 2)"
        )
        want = handle.range_search(queries, tau, nprobe=2)
        assert rows(got) == rows(want) and len(rows(got)) > 0

    # tombstones snapshot at registration, exactly like the search TVF
    victim = int(spark.sql(
        "SELECT neighbor_id FROM tvf_ivfadc_range(12, 28, 0.2, 2)"
    ).first()["neighbor_id"])
    assert ann_store.delete_vectors(spark, path, f"vec_id = {victim}") == 1
    register_ivfadc_range_tvf(spark, path)  # re-register → sees them
    got_d = spark.sql("SELECT * FROM tvf_ivfadc_range(12, 28, -1.0, 2)")
    assert victim not in {int(r["neighbor_id"]) for r in got_d.collect()}
    assert rows(got_d) == rows(handle.range_search(queries, -1.0, nprobe=2))

    # the filtered dial binds at registration and composes
    register_ivfadc_range_tvf(spark, path, where="vec_id % 3 = 1")
    got_f = spark.sql("SELECT * FROM tvf_ivfadc_range(12, 28, -1.0, 2)")
    want_f = handle.range_search(queries, -1.0, nprobe=2,
                                 where="vec_id % 3 = 1")
    assert rows(got_f) == rows(want_f) and len(rows(got_f)) > 0


def test_tvf_ivfadc_segments_matches_operator(spark, tmp_path):
    """Multi-segment search from pure SQL: two segments with different
    models and different bases (raw + Hadamard post_int), one with a
    tombstone, searched through tvf_ivfadc_segments_search — rows
    identical to ann_store.search_segments on the same stores, with
    and without the where dial; mixed geometry refuses."""
    import pytest as _pytest

    from nr_rfc_dischargeobs_spark.extensions import ann_store, similarity
    from nr_rfc_dischargeobs_spark.plans.sqlfn import (
        register_ivfadc_segments_tvf,
    )

    emb_raw = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    emb_raw.createOrReplaceTempView("embeddings")
    prep = similarity.prepare(emb_raw)
    had = similarity.hadamard_rows(64)
    rot_prep = similarity.rotate_quantized(prep, had)

    def build(base, lo, hi, pred, path, rotation=None):
        coarse = base.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        )
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
            similarity.ivf_pq_index(corpus, coarse, cb, m=4, dim=64,
                                    residual=True),
            path, coarse_rows, cb, m=4, dim=64, rotation=rotation,
        )
        return path

    even = (F.col("vec_id") >= 28) & (F.col("vec_id") % 2 == 0)
    odd = (F.col("vec_id") >= 28) & (F.col("vec_id") % 2 == 1)
    pa = build(prep, 8, 10, even, str(tmp_path / "sa"))
    pb = build(rot_prep, 10, 12, odd, str(tmp_path / "sb"),
               rotation={"mode": "post_int", "components": had})
    assert ann_store.delete_vectors(spark, pa, "vec_id = 30") == 1

    emb_q = emb_raw.filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    register_ivfadc_segments_tvf(spark, [pa, pb])
    got = spark.sql("SELECT * FROM tvf_ivfadc_segments_search(12, 28, 3, 1)")
    want = ann_store.search_segments(spark, [pa, pb], emb_q, k=3, nprobe=1)
    assert rows(got) == rows(want) and len(rows(got)) > 0

    # the range twin rides the same registration (round 13): operator
    # == TVF on the mixed-basis + tombstoned set, runtime threshold,
    # no rank window
    got_r = spark.sql(
        "SELECT * FROM tvf_ivfadc_segments_range(12, 28, 0.2, 1)"
    )
    want_r = ann_store.range_search_segments(
        spark, [pa, pb], emb_q, 0.2, nprobe=1
    )
    assert rows(got_r) == rows(want_r) and len(rows(got_r)) > 0

    register_ivfadc_segments_tvf(spark, [pa, pb], where="vec_id % 3 = 1")
    got_f = spark.sql(
        "SELECT * FROM tvf_ivfadc_segments_search(12, 28, 3, 1)"
    )
    want_f = ann_store.search_segments(
        spark, [pa, pb], emb_q, k=3, nprobe=1, where="vec_id % 3 = 1"
    )
    assert rows(got_f) == rows(want_f)

    # the FULL hybrid composition (round 13): mixed-basis + tombstoned
    # + filtered + candidate-budgeted, per-segment counts views driving
    # each chain's adaptive walk — operator == TVF bit-for-bit
    register_ivfadc_segments_tvf(
        spark, [pa, pb], where="vec_id % 3 = 1", target_candidates=5
    )
    got_b = spark.sql(
        "SELECT * FROM tvf_ivfadc_segments_search(12, 28, 3, 1)"
    )
    want_b = ann_store.search_segments(
        spark, [pa, pb], emb_q, k=3, nprobe=1, where="vec_id % 3 = 1",
        target_candidates=5,
    )
    assert rows(got_b) == rows(want_b) and len(rows(got_b)) > 0

    # matching-only dial (no budget): per-segment coarse restriction
    register_ivfadc_segments_tvf(
        spark, [pa, pb], where="vec_id % 3 = 1", probe_matching_only=True
    )
    got_m = spark.sql(
        "SELECT * FROM tvf_ivfadc_segments_search(12, 28, 3, 1)"
    )
    want_m = ann_store.search_segments(
        spark, [pa, pb], emb_q, k=3, nprobe=1, where="vec_id % 3 = 1",
        probe_matching_only=True,
    )
    assert rows(got_m) == rows(want_m) and len(rows(got_m)) > 0

    # UNFILTERED budget through segments: per-segment nprobe auto-tune
    register_ivfadc_segments_tvf(spark, [pa, pb], target_candidates=8)
    got_u = spark.sql(
        "SELECT * FROM tvf_ivfadc_segments_search(12, 28, 3, 1)"
    )
    want_u = ann_store.search_segments(
        spark, [pa, pb], emb_q, k=3, nprobe=1, target_candidates=8
    )
    assert rows(got_u) == rows(want_u) and len(rows(got_u)) > 0

    # the range twin under the SAME budgeted registration: each
    # segment's adaptive walk drives the thresholded scan too
    got_ur = spark.sql(
        "SELECT * FROM tvf_ivfadc_segments_range(12, 28, -1.0, 1)"
    )
    want_ur = ann_store.range_search_segments(
        spark, [pa, pb], emb_q, -1.0, nprobe=1, target_candidates=8
    )
    assert rows(got_ur) == rows(want_ur) and len(rows(got_ur)) > 0

    with _pytest.raises(ValueError, match="probe_matching_only requires"):
        register_ivfadc_segments_tvf(spark, [pa, pb],
                                     probe_matching_only=True)
    with _pytest.raises(ValueError, match="at least one segment"):
        register_ivfadc_segments_tvf(spark, [])
