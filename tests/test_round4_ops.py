"""Round-4 operator tests: SemDeDup semantic dedup, int8 quantization
audit, deterministic shard layout, per-source caps, hashed classifier.

Each test pins the ENGINE-EXACT semantics the DuckDB oracle relies on
(tie-breaks, degenerate inputs, two-stage ≡ naive equivalences) — the
sf0.01 hash match proves the twin agrees, these prove the contract is the
one we meant.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from nr_rfc_dischargeobs_spark.extensions import sampling, similarity
from nr_rfc_dischargeobs_spark.extensions import text as textops


def _emb(spark, rows):
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


# ---------------------------------------------------------------- semdedup


def test_semantic_dedup_drops_within_cluster_near_dup(spark):
    # centroids 0/1 sit diagonally off-axis so their cosine to every
    # member stays BELOW the 0.95 threshold (≈0.93) while still winning
    # the cluster assignment; 2~3 are near-identical (cos ≈ 1, cluster 0)
    # → 3 drops with canonical 2, and 4~5 likewise inside cluster 1.
    emb = _emb(
        spark,
        [
            (0, [1.0, 0.4]),
            (1, [0.4, 1.0]),
            (2, [0.9, 0.01]),
            (3, [0.91, 0.01]),
            (4, [0.01, 0.8]),
            (5, [0.01, 0.81]),
        ],
    )
    prep = similarity.prepare(emb)
    cents = similarity.prepare(emb.filter(F.col("vec_id") < 2))
    out = {
        r["vec_id"]: r
        for r in similarity.semantic_dedup(
            prep, cents, threshold=0.95
        ).collect()
    }
    assert len(out) == 6
    assert out[3]["kept"] is False and out[3]["canonical_id"] == 2
    assert out[5]["kept"] is False and out[5]["canonical_id"] == 4
    for kept_id in (0, 1, 2, 4):
        assert out[kept_id]["kept"] is True
        assert out[kept_id]["canonical_id"] == kept_id
    # cluster assignment is part of the audit output
    assert out[2]["cluster_id"] == 0 and out[4]["cluster_id"] == 1


def test_semantic_dedup_is_cluster_local(spark):
    # two identical vectors pulled into DIFFERENT clusters by construction
    # never pair — the SemDeDup trade (recall bounded by the quantizer),
    # pinned here so a future "fix" doesn't silently change semantics.
    emb = _emb(
        spark,
        [
            (0, [1.0, 0.05]),
            (1, [-1.0, 0.05]),
            (2, [0.01, 1.0]),  # nearer +x seed
            (3, [-0.01, 1.0]),  # nearer -x seed, cosine(2,3) ≈ 1
        ],
    )
    prep = similarity.prepare(emb)
    cents = similarity.prepare(emb.filter(F.col("vec_id") < 2))
    out = similarity.semantic_dedup(prep, cents, threshold=0.9)
    assert out.filter(~F.col("kept")).count() == 0


def test_semantic_dedup_salt_is_output_invariant(spark):
    # the hot-cluster salt re-cuts the pair-join shuffle only: every
    # (a, b) pair still meets exactly once, so the audit output is
    # bit-identical for any salt — including S larger than the corpus
    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1), rng.uniform(-1, 1), rng.uniform(-1, 1)])
        for i in range(40)
    ]
    emb = _emb(spark, rows)
    prep = similarity.prepare(emb)
    cents = similarity.prepare(emb.filter(F.col("vec_id") < 3))
    base = sorted(
        map(tuple, similarity.semantic_dedup(prep, cents, 0.8).collect())
    )
    for s in (2, 4, 64):
        salted = sorted(
            map(
                tuple,
                similarity.semantic_dedup(
                    prep, cents, 0.8, salt=s
                ).collect(),
            )
        )
        assert salted == base, f"salt={s} changed the output"


def test_semantic_dedup_salt_keys_the_pair_join(spark):
    # plan guard: with salt > 1 the pair join is still a pure EQUALITY
    # join whose key includes the salt column — a hot cluster's b-side
    # spreads across S hash partitions instead of landing on one task
    emb = _emb(spark, [(i, [1.0, float(i)]) for i in range(6)])
    prep = similarity.prepare(emb)
    cents = similarity.prepare(emb.filter(F.col("vec_id") < 1))
    plan = similarity.semantic_dedup(
        prep, cents, 0.9, salt=4
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "__salt" in plan


def test_semantic_dedup_zero_norm_always_kept(spark):
    emb = _emb(
        spark, [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.0, 0.0])]
    )
    prep = similarity.prepare(emb)
    cents = similarity.prepare(emb.filter(F.col("vec_id") < 1))
    rows = {
        r["vec_id"]: r["kept"]
        for r in similarity.semantic_dedup(prep, cents, 0.1).collect()
    }
    # zero-norm vectors have no direction: never paired, never dropped
    assert rows[1] is True and rows[2] is True


# ---------------------------------------------------------------- int8 audit


def test_quantize_int8_hand_computed(spark):
    emb = _emb(
        spark,
        [(0, [1.0, 0.0]), (1, [0.5, 0.0]), (2, [-1.0, 0.0])],
    )
    out = {
        r["vec_id"]: r
        for r in similarity.quantize_int8_stats(
            similarity.prepare(emb)
        ).collect()
    }
    # dim0 scale m = 1e5.  e=5e4 → code round(63.5)=64 (HALF_UP),
    # err = 5e4·127 − 64·1e5 = −50 000; dim1 is constant zero (m=0 →
    # code 0, err 0 by definition, no 0/0).
    assert out[0]["sse127"] == 0 and out[0]["int8_sq_norm"] == 127 * 127
    assert out[1]["sse127"] == 50_000 * 50_000
    assert out[1]["max_abs_err127"] == 50_000
    assert out[1]["int8_sq_norm"] == 64 * 64
    assert out[2]["sse127"] == 0 and out[2]["max_abs_err127"] == 0
    assert all(r["n_dims"] == 2 for r in out.values())
    assert [out[i]["max_abs_code"] for i in (0, 1, 2)] == [127, 64, 127]


def test_quantize_int8_codes_bounded(spark):
    # |code| ≤ 127 by construction (e ≤ m ⇒ |e·127/m| ≤ 127) — the whole
    # point of the audit is that the int8 grid is actually int8.  The
    # per-dimension max_abs_code column pins it directly per row (an
    # aggregate norm bound could hide a single out-of-range code).
    import math

    emb = _emb(
        spark,
        [(i, [math.sin(i * 1.7), math.cos(i * 0.9)]) for i in range(20)],
    )
    out = similarity.quantize_int8_stats(similarity.prepare(emb))
    assert out.filter(F.col("max_abs_code") > 127).count() == 0
    assert out.filter(F.col("int8_sq_norm") > 2 * 127 * 127).count() == 0


# ---------------------------------------------------------------- shard plan


def test_shard_plan_positions_dense_and_deterministic(spark):
    docs = spark.range(0, 97).withColumnRenamed("id", "doc_id")
    plan = sampling.shard_plan(docs, "doc_id", shards=8)
    assert plan.count() == 97
    # positions within a shard are exactly 0..n-1
    bad = (
        plan.groupBy("shard")
        .agg(
            F.count("*").alias("n"),
            F.max("pos").alias("mx"),
            F.min("pos").alias("mn"),
            F.countDistinct("pos").alias("nd"),
        )
        .filter(
            (F.col("mx") != F.col("n") - 1)
            | (F.col("mn") != 0)
            | (F.col("nd") != F.col("n"))
        )
    )
    assert bad.count() == 0
    # identical assignment regardless of input partitioning
    a = {(r["doc_id"], r["shard"], r["pos"]) for r in plan.collect()}
    b = {
        (r["doc_id"], r["shard"], r["pos"])
        for r in sampling.shard_plan(
            docs.repartition(13), "doc_id", shards=8
        ).collect()
    }
    assert a == b


def test_shard_plan_shard_stable_under_append(spark):
    docs = spark.range(0, 50).withColumnRenamed("id", "doc_id")
    more = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    small = {
        r["doc_id"]: r["shard"]
        for r in sampling.shard_plan(docs, "doc_id", 16).collect()
    }
    big = {
        r["doc_id"]: r["shard"]
        for r in sampling.shard_plan(more, "doc_id", 16).collect()
    }
    # a doc's SHARD never moves when the corpus grows (pure key hash);
    # positions may renumber — that's documented layout, not identity
    assert all(big[k] == v for k, v in small.items())


# ---------------------------------------------------------------- source caps


def test_source_caps_two_stage_equals_naive_rank(spark):
    rows = [(i, "dom%d" % (i % 3)) for i in range(200)]
    docs = spark.createDataFrame(rows, ["doc_id", "source"])
    out = sampling.source_caps(
        docs, cap=10, prerank_buckets=4
    )
    # naive single-window global rank — the semantics the two-stage plan
    # must reproduce exactly
    okey = F.md5(
        F.concat_ws("|", F.lit("cap"), F.col("doc_id").cast("string"))
    )
    w = Window.partitionBy("source").orderBy(okey.asc(), F.col("doc_id"))
    naive = (
        docs.withColumn("r", F.row_number().over(w))
        .select(
            "doc_id",
            "source",
            (F.col("r") <= 10).alias("kept"),
            F.when(F.col("r") <= 10, F.col("r")).alias("rank"),
        )
    )
    got = {
        r["doc_id"]: (r["kept"], r["rank"]) for r in out.collect()
    }
    want = {
        r["doc_id"]: (r["kept"], r["rank"]) for r in naive.collect()
    }
    assert got == want
    assert sum(1 for k, _ in got.values() if k) == 30  # 3 domains × 10


def test_source_caps_small_domain_kept_whole(spark):
    docs = spark.createDataFrame(
        [(1, "tiny"), (2, "tiny")], ["doc_id", "source"]
    )
    out = sampling.source_caps(docs, cap=100)
    assert out.filter(~F.col("kept")).count() == 0


def test_cluster_balanced_sample_caps_head_keeps_tail(spark):
    """Cluster-balanced subsampling: the dense planted cluster truncates
    to the cap, the sparse one keeps everything — and assignment agrees
    with the literal-centroid plan (every vector lands with its planted
    centroid)."""
    from nr_rfc_dischargeobs_spark.extensions import sampling as smp

    # two planted centroids; 20 vectors near (100, 0), 3 near (0, 100)
    vecs = [(i, [100 + (i % 5), int(i % 3)]) for i in range(20)]
    vecs += [(100 + i, [int(i % 2), 100 + i]) for i in range(3)]
    prepared = spark.createDataFrame(
        [(i, q, sum(e * e for e in q)) for i, q in vecs],
        ["vec_id", "q", "n"],
    )
    coarse = [(0, [100, 0]), (1, [0, 100])]
    out = {
        r["vec_id"]: (r["list_id"], r["kept"])
        for r in smp.cluster_balanced_sample(
            prepared, coarse, cap=8
        ).collect()
    }
    assert all(out[i][0] == 0 for i in range(20))
    assert all(out[100 + i] == (1, True) for i in range(3))  # tail whole
    assert sum(1 for lid, kept in out.values() if lid == 0 and kept) == 8


# ---------------------------------------------------------------- classifier


def test_hash_classifier_deterministic_and_fails_closed(spark):
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox"),
            (1, "the quick brown fox"),
            (2, None),
            (3, "   "),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in textops.hash_classifier(docs).collect()}
    # identical text → identical score (pure hash function of tokens)
    assert out[0]["weight_sum"] == out[1]["weight_sum"]
    assert out[0]["score"] == out[1]["score"]
    assert out[0]["n_tokens"] == 4
    # NULL / whitespace-only text fails closed: 0 tokens, score 0, negative
    for d in (2, 3):
        assert out[d]["n_tokens"] == 0
        assert out[d]["weight_sum"] == 0
        assert out[d]["score"] == 0.0
        assert out[d]["positive"] is False
    # per-token weights live in [-10, 10] ⇒ |sum| ≤ 10·n
    assert abs(out[0]["weight_sum"]) <= 10 * out[0]["n_tokens"]


def test_document_stream_classifier_gate_batch_twin(spark):
    """curate_document_stream's optional classifier gate drops low-scoring
    docs on the batch (backfill) driver — and the output schema is
    identical with and without the gate (the stream contract)."""
    from nr_rfc_dischargeobs_spark.streaming import curate_document_stream

    base = (
        "the quick brown fox is happy and ready to work over many fine "
        "days of steady calm weather and warm light"
    )
    docs = spark.createDataFrame(
        [
            (1, base, "en", "crawl", "2024-06-01T10:00:00"),
            (2, base + " extra words on the very end here", "en", "crawl",
             "2024-06-01T10:00:00"),
        ],
        "doc_id long, text string, lang string, source string, "
        "ingest_time string",
    ).withColumn("ingest_time", F.col("ingest_time").cast("timestamp"))

    scores = {
        r["doc_id"]: r["score"]
        for r in textops.hash_classifier(docs).collect()
    }
    assert scores[1] != scores[2], "fixture texts must score apart"
    lo = min(scores, key=scores.get)
    cut = (scores[1] + scores[2]) / 2

    ungated = curate_document_stream(docs)
    gated = curate_document_stream(docs, classifier_min_score=cut)
    assert gated.columns == ungated.columns
    kept = [r["doc_id"] for r in gated.select("doc_id").collect()]
    assert lo not in kept and len(kept) == 1


# ---------------------------------------------------------------- entropy


def test_token_entropy_hand_computed(spark):
    docs = spark.createDataFrame(
        [
            (0, "a a b b"),      # H = 1 bit exactly (2+2 of 4)
            (1, "a a a a"),      # H = 0 (one type)
            (2, "a b c d"),      # H = 2 bits (all distinct → slog = 0)
            (3, None),           # fails closed
            (4, ""),             # fails closed
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in textops.token_entropy(docs).collect()}
    assert len(out) == 5  # 0-token docs survive (explode_outer)
    assert out[0]["entropy"] == 1.0 and out[0]["n_types"] == 2
    assert out[1]["entropy"] == 0.0 and out[1]["n_types"] == 1
    assert out[2]["entropy"] == 2.0 and out[2]["slog"] == 0
    for d in (3, 4):
        assert out[d]["n_tokens"] == 0
        assert out[d]["n_types"] == 0
        assert out[d]["entropy"] == 0.0


def test_token_entropy_partition_invariant(spark):
    # integer-grid slog makes the float result partition-order-proof
    docs = spark.createDataFrame(
        [(i, "w%d w%d w0 w1 w1" % (i % 7, i % 3)) for i in range(100)],
        ["doc_id", "text"],
    )
    a = {r["doc_id"]: r["entropy"]
         for r in textops.token_entropy(docs).collect()}
    b = {r["doc_id"]: r["entropy"]
         for r in textops.token_entropy(docs.repartition(17)).collect()}
    assert a == b


# ---------------------------------------------------------------- pq codes


def test_pq_codes_hand_computed(spark):
    from nr_rfc_dischargeobs_spark.extensions.similarity import (
        pq_codes,
        prepare,
    )

    emb = _emb(
        spark,
        [
            (0, [1.0, 0.0, 0.0, 1.0]),
            (1, [0.0, 1.0, 1.0, 0.0]),
            (2, [0.9, 0.1, 0.2, 0.8]),
        ],
    )
    prep = prepare(emb)
    cents = [
        (r["vec_id"], r["q"])
        for r in prep.filter(F.col("vec_id") < 2).collect()
    ]
    out = {
        r["vec_id"]: r for r in pq_codes(prep, cents, m=2, dim=4).collect()
    }
    # codebook vectors encode to themselves with zero error
    assert (out[0]["code_0"], out[0]["code_1"], out[0]["sq_err"]) == (0, 0, 0)
    assert (out[1]["code_0"], out[1]["code_1"], out[1]["sq_err"]) == (1, 1, 0)
    # [0.9,0.1] is nearer c0's [1,0]; [0.2,0.8] nearer c0's [0,1];
    # err = (0.1²+0.1²)·1e10 + (0.2²+0.2²)·1e10 = 2e8 + 8e8
    assert (out[2]["code_0"], out[2]["code_1"]) == (0, 0)
    assert out[2]["sq_err"] == 200_000_000 + 800_000_000


def test_pq_codes_tie_breaks_to_smaller_cid(spark):
    from nr_rfc_dischargeobs_spark.extensions.similarity import (
        pq_codes,
        prepare,
    )

    emb = _emb(
        spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.5, 0.5])]
    )
    prep = prepare(emb)
    cents = [
        (r["vec_id"], r["q"])
        for r in prep.filter(F.col("vec_id") < 2).collect()
    ]
    row = (
        pq_codes(prep, cents, m=1, dim=2)
        .filter(F.col("vec_id") == 2)
        .collect()[0]
    )
    assert row["code_0"] == 0  # equidistant → first (smallest) cid


def test_pq_adc_equals_exact_when_reconstruction_is_lossless(spark):
    """Corpus vectors that ARE codebook vectors reconstruct losslessly, so
    ADC scores equal exact cosine and the rankings coincide."""
    from nr_rfc_dischargeobs_spark.extensions.similarity import (
        brute_force_topk,
        pq_adc_topk,
        pq_codes,
        prepare,
    )

    base = [
        (0, [1.0, 0.0, 0.0, 0.5]),
        (1, [0.0, 1.0, 0.5, 0.0]),
        (2, [0.5, 0.5, 1.0, 0.0]),
        (3, [0.0, 0.5, 0.0, 1.0]),
    ]
    queries_rows = [(10, [0.9, 0.1, 0.1, 0.4]), (11, [0.1, 0.8, 0.6, 0.1])]
    emb = _emb(spark, base + queries_rows)
    prep = prepare(emb)
    cents = [
        (r["vec_id"], r["q"])
        for r in prep.filter(F.col("vec_id") < 4).collect()
    ]
    corpus = prep.filter(F.col("vec_id") < 4)
    queries = prep.filter(F.col("vec_id") >= 10)
    codes = pq_codes(corpus, cents, m=2, dim=4)
    # lossless: every corpus vector is its own centroid
    assert codes.filter(F.col("sq_err") != 0).count() == 0
    adc = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine_adc"])
        for r in pq_adc_topk(queries, codes, cents, k=4, m=2, dim=4).collect()
    }
    exact = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine"])
        for r in brute_force_topk(queries, corpus, k=4).collect()
    }
    assert set(adc) == set(exact)
    for key, (nbr, score) in exact.items():
        assert adc[key][0] == nbr
        assert abs(adc[key][1] - score) < 1e-12


def test_ivf_pq_full_probe_equals_plain_adc(spark):
    """The recall-oracle identity: probing EVERY list makes IVF-PQ return
    exactly pq_adc_topk's answer — the coarse tier only prunes."""
    import random

    from nr_rfc_dischargeobs_spark.extensions.similarity import (
        ivf_pq_index,
        ivf_pq_topk,
        pq_adc_topk,
        pq_codes,
        prepare,
    )

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(40)
    ]
    prep = prepare(_emb(spark, rows))
    cents = [
        (r["vec_id"], r["q"])
        for r in prep.filter(F.col("vec_id") < 4).collect()
    ]
    coarse = prep.filter((F.col("vec_id") >= 4) & (F.col("vec_id") < 7))
    queries = prep.filter((F.col("vec_id") >= 7) & (F.col("vec_id") < 12))
    corpus = prep.filter(F.col("vec_id") >= 12)
    index = ivf_pq_index(corpus, coarse, cents, m=2, dim=4)
    full = sorted(
        map(
            tuple,
            ivf_pq_topk(
                queries, index, coarse, cents, k=3, nprobe=3, m=2, dim=4
            ).collect(),
        )
    )
    plain = sorted(
        map(
            tuple,
            pq_adc_topk(
                queries, pq_codes(corpus, cents, m=2, dim=4), cents,
                k=3, m=2, dim=4,
            ).collect(),
        )
    )
    assert full == plain


def test_ivf_pq_probes_restrict_candidates(spark):
    """With nprobe=1 every returned neighbor lives in its query's single
    probed list — candidates from unprobed lists never appear."""
    from nr_rfc_dischargeobs_spark.extensions.similarity import (
        ivf_assign,
        ivf_pq_index,
        ivf_pq_topk,
        prepare,
    )

    # two well-separated lists on the first axis; queries sit near one
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),    # codebook
        (1, [0.0, 1.0, 0.0, 0.0]),
        (4, [1.0, 0.1, 0.0, 0.0]),    # coarse centroid A
        (5, [-1.0, 0.1, 0.0, 0.0]),   # coarse centroid B
        (10, [0.9, 0.2, 0.0, 0.0]),   # query near A
        (20, [0.95, 0.05, 0.0, 0.0]),  # corpus in A
        (21, [-0.9, 0.1, 0.0, 0.0]),  # corpus in B
    ]
    prep = prepare(_emb(spark, rows))
    cents = [
        (0, prep.filter(F.col("vec_id") == 0).collect()[0]["q"]),
        (1, prep.filter(F.col("vec_id") == 1).collect()[0]["q"]),
    ]
    coarse = prep.filter(F.col("vec_id").isin(4, 5))
    queries = prep.filter(F.col("vec_id") == 10)
    corpus = prep.filter(F.col("vec_id") >= 20)
    index = ivf_pq_index(corpus, coarse, cents, m=2, dim=4)
    lists = {
        r["vec_id"]: r["list_id"]
        for r in ivf_assign(corpus, coarse, 1).collect()
    }
    assert lists[20] != lists[21], "fixture must separate the lists"
    out = ivf_pq_topk(
        queries, index, coarse, cents, k=5, nprobe=1, m=2, dim=4
    ).collect()
    assert {r["neighbor_id"] for r in out} == {20}  # B never scanned


def test_ivf_pq_local_assign_is_identical_to_window_assign(spark):
    """The shuffle-free index build (assign='local': coarse centroids
    folded into literal argmin expressions) must produce the SAME index
    as the window spelling — identical exact distances, identical
    smaller-list-id tie-break — including on an exact tie (zero vector
    vs two equal-norm centroids) and across the full random fixture."""
    import random

    from nr_rfc_dischargeobs_spark.extensions.similarity import (
        ivf_assign,
        ivf_assign_local,
        ivf_pq_index,
        prepare,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(50)
    ]
    # equal-norm centroid pair: the zero corpus vector (distance = cn on
    # both) ties exactly and must break to the smaller list id in BOTH
    # spellings
    rows[4] = (4, [0.5, -0.25, 0.0, 0.0])
    rows[5] = (5, [-0.25, 0.5, 0.0, 0.0])
    rows.append((50, [0.0, 0.0, 0.0, 0.0]))
    prep = prepare(_emb(spark, rows))
    cents = [
        (r["vec_id"], r["q"])
        for r in prep.filter(F.col("vec_id") < 4).collect()
    ]
    coarse = prep.filter((F.col("vec_id") >= 4) & (F.col("vec_id") < 8))
    corpus = prep.filter(F.col("vec_id") >= 8)
    coarse_rows = [
        (r["vec_id"], r["q"])
        for r in coarse.select("vec_id", "q").collect()
    ]
    win = {
        r["vec_id"]: r["list_id"]
        for r in ivf_assign(corpus, coarse, 1).collect()
    }
    loc = {
        r["vec_id"]: r["list_id"]
        for r in ivf_assign_local(corpus, coarse_rows).collect()
    }
    assert loc == win
    assert win[50] == 4  # the exact tie broke to the smaller list id
    # and the composed index artifacts are row-identical
    a = sorted(
        map(tuple, ivf_pq_index(corpus, coarse, cents, m=2, dim=4).collect())
    )
    b = sorted(
        map(
            tuple,
            ivf_pq_index(
                corpus, coarse, cents, m=2, dim=4, assign="local"
            ).collect(),
        )
    )
    assert a == b
    # the local plan is exchange-free: scan → projections, no shuffle
    plan = (
        ivf_pq_index(corpus, coarse, cents, m=2, dim=4, assign="local")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_ivf_pq_stored_index_round_trip_prunes_partitions(spark, tmp_path):
    """The index docstring's storage contract, proven end-to-end: write
    the index ``partitionBy('list_id')``, search the read-back artifact,
    and (a) the top-k matches the in-memory index bit-for-bit, (b) the
    scan of the stored index carries a dynamic partition-pruning filter
    on list_id — searches read only probed lists off disk."""
    import random

    from nr_rfc_dischargeobs_spark.extensions.similarity import (
        ivf_pq_index,
        ivf_pq_topk,
        prepare,
    )

    rng = random.Random(23)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(60)
    ]
    prep = prepare(_emb(spark, rows))
    cents = [
        (r["vec_id"], r["q"])
        for r in prep.filter(F.col("vec_id") < 4).collect()
    ]
    coarse = prep.filter((F.col("vec_id") >= 4) & (F.col("vec_id") < 8))
    queries = prep.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 12))
    corpus = prep.filter(F.col("vec_id") >= 12)
    index = ivf_pq_index(corpus, coarse, cents, m=2, dim=4)
    path = str(tmp_path / "ivfpq_index")
    index.write.partitionBy("list_id").parquet(path)
    stored = spark.read.parquet(path)
    search = ivf_pq_topk(
        queries, stored, coarse, cents, k=3, nprobe=2, m=2, dim=4
    )
    in_mem = sorted(
        map(
            tuple,
            ivf_pq_topk(
                queries, index, coarse, cents, k=3, nprobe=2, m=2, dim=4
            ).collect(),
        )
    )
    assert sorted(map(tuple, search.collect())) == in_mem
    plan = search._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), (
        "stored-index scan must carry a dynamic partition-pruning filter"
        f" on list_id; got plan:\n{plan[:2000]}"
    )


# ------------------------------------------------- semantic contamination


def test_semantic_contamination_finds_planted_leak(spark):
    from nr_rfc_dischargeobs_spark.extensions.similarity import (
        prepare,
        semantic_contamination,
    )

    emb = _emb(
        spark,
        [
            (0, [1.0, 0.0]),        # benchmark: leaked into corpus as 10
            (1, [0.0, 1.0]),        # benchmark: clean
            (2, [0.0, 0.0]),        # benchmark: zero-norm → excluded
            (10, [0.99, 0.01]),     # near-copy of bench 0
            (11, [-1.0, 0.01]),     # far from both
        ],
    )
    bench = prepare(emb.filter(F.col("vec_id") < 10))
    corpus = prepare(emb.filter(F.col("vec_id") >= 10))
    out = {
        r["bench_id"]: r
        for r in semantic_contamination(bench, corpus, 0.9).collect()
    }
    # EVERY benchmark id reports — the zero-norm vector (2) is excluded
    # from scoring but still gets its row, with NULL evidence columns so
    # "not screened" stays distinguishable from "screened clean"
    assert set(out) == {0, 1, 2}
    assert out[0]["n_contaminated"] == 1
    assert out[0]["nearest_id"] == 10
    assert out[0]["max_cosine"] > 0.99
    assert out[1]["n_contaminated"] == 0
    assert out[1]["max_cosine"] < 0.9
    assert out[2]["n_contaminated"] == 0
    assert out[2]["max_cosine"] is None
    assert out[2]["nearest_id"] is None


def test_semantic_contamination_empty_corpus_reports_all_rows(spark):
    from nr_rfc_dischargeobs_spark.extensions.similarity import (
        prepare,
        semantic_contamination,
    )

    emb = _emb(spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0])])
    bench = prepare(emb)
    corpus = prepare(emb.filter(F.col("vec_id") < 0))  # empty
    out = {
        r["bench_id"]: r
        for r in semantic_contamination(bench, corpus, 0.9).collect()
    }
    assert set(out) == {0, 1}
    assert all(r["n_contaminated"] == 0 for r in out.values())
    assert all(r["max_cosine"] is None for r in out.values())


# ---------------------------------------------------------- bigram LM (r5)


def test_bigram_lm_orders_natural_above_shuffled(spark):
    """Self-trained hashed bigram LM: text that re-uses frequent
    continuations scores higher (less negative) than the same tokens
    shuffled, which scores higher than gibberish; degenerate docs fail
    closed."""
    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat and the cat sat on the mat"),
            (1, "mat the on cat sat mat the and sat cat on the"),
            (2, "zq xv wp lk jh gf"),
            (3, None),
            (4, "single"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r for r in textops.bigram_lm_scores(docs).collect()
    }
    assert set(out) == {0, 1, 2, 3, 4}  # every doc reports
    assert out[0]["avg_logp2"] > out[1]["avg_logp2"] > out[2]["avg_logp2"]
    for d in (3, 4):  # NULL text / one token: no bigrams, fails closed
        assert out[d]["n_bigrams"] == 0
        assert out[d]["slogp"] == 0
        assert out[d]["avg_logp2"] == 0.0


def test_bigram_lm_reference_model_corpus(spark):
    """The CCNet split: score one corpus under counts trained on ANOTHER.
    A doc matching the reference model's phrases outscores one that
    doesn't, even when both are natural text."""
    reference = spark.createDataFrame(
        [(100 + i, "the quick brown fox jumps over the lazy dog")
         for i in range(5)],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps"),
            (1, "purple elephants compute underwater symphonies"),
        ],
        ["doc_id", "text"],
    )
    bc, uc = textops.bigram_lm_counts(reference)
    out = {
        r["doc_id"]: r["avg_logp2"]
        for r in textops.bigram_lm_scores_trained(docs, bc, uc).collect()
    }
    assert out[0] > out[1]


def test_bigram_lm_partition_invariant(spark):
    """slogp is an integer-grid sum — bit-identical across shuffle
    partitionings (the exactness discipline)."""
    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{(i + 1) % 5} w{i % 3} w{(i + 2) % 7} end")
         for i in range(60)],
        ["doc_id", "text"],
    )
    results = []
    for parts in ("2", "17"):
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try:
            results.append(
                sorted(map(tuple, textops.bigram_lm_scores(docs).collect()))
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", "8")
    assert results[0] == results[1]


def test_bigram_lm_plan_broadcasts_counts(spark):
    """Plan guard: both count tables reach the scoring side as BROADCAST
    joins — the corpus is never shuffled for scoring (its only exchange
    is the final per-doc aggregate)."""
    docs = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    plan = (
        textops.bigram_lm_scores(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_bigram_lm_trained_equals_selftrained_bitwise(spark):
    """The pre-trained split must reproduce the batch operator EXACTLY
    when fed its own counts: Python HALF-UP grid terms == F.round grid
    terms, lookups == joins, bit-for-bit."""
    docs = spark.createDataFrame(
        [
            (0, "the cat sat on the mat and the cat sat on the mat"),
            (1, "mat the on cat sat mat the and sat cat on the"),
            (2, "zq xv wp lk jh gf"),
            (3, None),
        ],
        ["doc_id", "text"],
    )
    batch = sorted(map(tuple, textops.bigram_lm_scores(docs).collect()))
    bc, uc = textops.bigram_lm_counts(docs)
    trained = sorted(
        map(
            tuple,
            textops.bigram_lm_scores_trained(docs, bc, uc).collect(),
        )
    )
    assert trained == batch


def test_document_stream_lm_gate_batch_twin(spark):
    """The LM-perplexity gate drops low-scoring docs on the batch
    (backfill) driver and keeps the stream contract: identical output
    schema with and without the gate."""
    from nr_rfc_dischargeobs_spark.streaming import curate_document_stream

    natural = (
        "the river rose through the morning and the gauges tracked the "
        "rise while the forecast centre watched the upstream stations"
    )
    mash = " ".join(f"zx{i}qv wk{i}jh" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, natural, "en", "crawl", "2024-06-01T10:00:00"),
            (2, mash, "en", "crawl", "2024-06-01T10:00:00"),
        ],
        "doc_id long, text string, lang string, source string, "
        "ingest_time string",
    ).withColumn("ingest_time", F.col("ingest_time").cast("timestamp"))
    # train the model on the natural reference only
    ref = spark.createDataFrame(
        [(100 + i, natural) for i in range(3)], ["doc_id", "text"]
    )
    counts = textops.bigram_lm_counts(ref)
    scores = {
        r["doc_id"]: r["avg_logp2"]
        for r in textops.bigram_lm_scores_trained(docs, *counts).collect()
    }
    assert scores[1] > scores[2], "fixture must separate the docs"
    cut = (scores[1] + scores[2]) / 2

    ungated = curate_document_stream(docs, min_words=5)
    gated = curate_document_stream(
        docs, min_words=5, lm_counts=counts, lm_min_score=cut
    )
    assert gated.columns == ungated.columns
    kept = {r["doc_id"] for r in gated.collect()}
    assert kept == {1}


# ------------------------------------------------------ line dedup (r5)


def test_line_dedup_removes_boilerplate_preserves_order(spark):
    """The C4/CCNet boilerplate case: a footer line repeated across docs
    is removed from every doc, unique lines survive in original order,
    and the counts audit the removal."""
    footer = "copyright example corp all rights reserved"
    docs = spark.createDataFrame(
        [
            (0, f"alpha unique line one\n{footer}\nalpha unique line two"),
            (1, f"{footer}\nbeta content here"),
            (2, "gamma only unique lines\nno boilerplate at all"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in textops.line_dedup(docs).collect()}
    assert out[0]["clean_text"] == (
        "alpha unique line one\nalpha unique line two"
    )
    assert out[0]["n_lines"] == 3 and out[0]["n_removed"] == 1
    assert out[1]["clean_text"] == "beta content here"
    assert out[2]["n_removed"] == 0
    assert out[2]["clean_text"] == (
        "gamma only unique lines\nno boilerplate at all"
    )


def test_line_dedup_within_doc_repeats_dont_count(spark):
    """df counts DISTINCT documents: a line repeated many times inside
    ONE doc is not boilerplate and survives."""
    docs = spark.createDataFrame(
        [
            (0, "chorus line\nchorus line\nchorus line"),
            (1, "something else entirely"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in textops.line_dedup(docs).collect()}
    assert out[0]["n_removed"] == 0
    assert out[0]["clean_text"] == "chorus line\nchorus line\nchorus line"


def test_line_dedup_hollows_exact_duplicates_and_min_df_dial(spark):
    docs = spark.createDataFrame(
        [
            (0, "identical whole document"),
            (1, "identical whole document"),
            (2, "identical whole document"),
            (3, None),  # one empty line, unique here
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in textops.line_dedup(docs).collect()}
    for d in (0, 1, 2):
        assert out[d]["clean_text"] == "" and out[d]["n_removed"] == 1
    assert out[3]["n_lines"] == 1 and out[3]["n_removed"] == 0
    # min_df above the duplicate count keeps everything
    out4 = {
        r["doc_id"]: r
        for r in textops.line_dedup(docs, min_df=4).collect()
    }
    assert all(r["n_removed"] == 0 for r in out4.values())


def test_document_stream_lm_gate_fails_closed_on_unscorable(spark):
    """A 0-bigram doc scores the 0.0 sentinel — ABOVE any realistic
    negative threshold — so the gate must drop it explicitly rather than
    let it sail through on the sentinel."""
    from nr_rfc_dischargeobs_spark.streaming import curate_document_stream

    natural = (
        "the river rose through the morning and the gauges tracked the "
        "rise while the forecast centre watched the upstream stations"
    )
    docs = spark.createDataFrame(
        [
            (1, natural, "en", "crawl", "2024-06-01T10:00:00"),
            (2, "solo", "en", "crawl", "2024-06-01T10:00:00"),
        ],
        "doc_id long, text string, lang string, source string, "
        "ingest_time string",
    ).withColumn("ingest_time", F.col("ingest_time").cast("timestamp"))
    ref = spark.createDataFrame(
        [(100 + i, natural) for i in range(3)], ["doc_id", "text"]
    )
    counts = textops.bigram_lm_counts(ref)
    # min_words=1 lets the 1-token doc REACH the LM gate; a negative
    # threshold would pass its 0.0 sentinel without the n_bigrams guard
    kept = {
        r["doc_id"]
        for r in curate_document_stream(
            docs, min_words=1, lm_counts=counts, lm_min_score=-15.0
        ).collect()
    }
    assert kept == {1}


# ------------------------------------------------------ span dedup (r5)


def test_span_dedup_removes_later_occurrences_keeps_first(spark):
    """ExactSubstr semantics: the lexicographically-first (doc_id, pos)
    occurrence of a repeated n-gram survives; every later occurrence
    loses its tokens; overlapping spans union; self-repeats count."""
    docs = spark.createDataFrame(
        [
            (0, "a b c d e unique tail zero"),
            (1, "x y a b c d e other words"),
            (2, "a b c d e a b c d e"),
            (3, None),
            (4, "tiny doc"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r for r in textops.span_dedup(docs, n=5).collect()
    }
    assert out[0]["clean_text"] == "a b c d e unique tail zero"
    assert out[0]["n_tokens_removed"] == 0
    assert out[1]["clean_text"] == "x y other words"
    assert out[1]["n_spans_removed"] == 1
    assert out[1]["n_tokens_removed"] == 5
    # self-repeat: both occurrences are LATER than doc 0's → whole doc
    assert out[2]["clean_text"] == ""
    assert out[2]["n_spans_removed"] == 2
    assert out[2]["n_tokens_removed"] == 10
    # degenerates pass through untouched
    assert out[3]["n_tokens"] == 0 and out[3]["clean_text"] == ""
    assert out[4]["clean_text"] == "tiny doc"


def test_span_dedup_overlap_heavy_interval_rebuild(spark):
    """Overlap-heavy removal: many overlapping duplicate spans must merge
    into disjoint intervals and the slice-based rebuild must keep exactly
    the uncovered tokens — the O(tokens + spans) path exercised where the
    old per-token exists() scan was quadratic."""
    # doc 1 repeats doc 0's 12-token run twice back-to-back with one
    # fresh token between and around: starts 2..9 and 16..23 (n=5)
    run = " ".join(f"r{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (0, run + " only once"),
            (1, "lead in " + run + " gap " + run + " tail out"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in textops.span_dedup(docs, n=5).collect()}
    assert out[0]["n_tokens_removed"] == 0
    assert out[1]["clean_text"] == "lead in gap tail out"
    assert out[1]["n_tokens_removed"] == 24
    # 8 removed gram starts per copy (12 - 5 + 1)
    assert out[1]["n_spans_removed"] == 16
    # maximal mode: identical rebuild, two chained spans
    mx = {
        r["doc_id"]: r
        for r in textops.span_dedup(docs, n=5, spans="maximal").collect()
    }
    assert mx[1]["clean_text"] == "lead in gap tail out"
    assert mx[1]["n_tokens_removed"] == 24
    assert mx[1]["n_spans_removed"] == 2


def test_span_dedup_maximal_counts_long_repeat_as_one_span(spark):
    """A 3n-token repeat is 2n+1 gram occurrences but ONE maximal
    repeated substring — the maximal mode must chain them (Lee et al.
    2022 accounting) while gram mode keeps the raw occurrence count."""
    n = 5
    base = " ".join(f"w{i}" for i in range(3 * n))
    docs = spark.createDataFrame(
        [(0, base + " first home"), (1, "pre amble " + base + " post fix")],
        ["doc_id", "text"],
    )
    gram = {r["doc_id"]: r for r in textops.span_dedup(docs, n=n).collect()}
    mx = {
        r["doc_id"]: r
        for r in textops.span_dedup(docs, n=n, spans="maximal").collect()
    }
    assert gram[1]["n_spans_removed"] == 2 * n + 1
    assert mx[1]["n_spans_removed"] == 1
    for out in (gram, mx):
        assert out[1]["clean_text"] == "pre amble post fix"
        assert out[1]["n_tokens_removed"] == 3 * n
        assert out[0]["n_tokens_removed"] == 0


def test_span_dedup_maximal_breaks_chain_on_different_first_occurrence(
    spark,
):
    """Two adjacent removed runs that trace back to DIFFERENT first
    occurrences are two maximal spans even though their token positions
    are contiguous — the chain requires first-occ continuity, not just
    positional adjacency."""
    a = " ".join(f"a{i}" for i in range(5))
    b = " ".join(f"b{i}" for i in range(5))
    docs = spark.createDataFrame(
        [
            (0, a + " filler one"),
            (1, b + " filler two"),
            (2, a + " " + b),  # both repeats, adjacent, different sources
        ],
        ["doc_id", "text"],
    )
    mx = {
        r["doc_id"]: r
        for r in textops.span_dedup(docs, n=5, spans="maximal").collect()
    }
    assert mx[2]["n_tokens_removed"] == 10
    assert mx[2]["clean_text"] == ""
    assert mx[2]["n_spans_removed"] == 2


def test_span_dedup_no_duplicates_is_identity_on_tokens(spark):
    """A corpus with no repeated n-gram comes back token-identical —
    the removal machinery must not touch unique content."""
    docs = spark.createDataFrame(
        [
            (0, "every doc here is made of distinct words one"),
            (1, "completely different material with other tokens two"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r for r in textops.span_dedup(docs, n=3).collect()
    }
    for d, txt in ((0, "every doc here is made of distinct words one"),
                   (1, "completely different material with other tokens two")):
        assert out[d]["clean_text"] == txt
        assert out[d]["n_spans_removed"] == 0
        assert out[d]["n_tokens_removed"] == 0


# ------------------------------------------------------------ DSIR (r6)


def test_dsir_log_ratio_ranks_target_like_docs_higher(spark):
    """Xie et al. 2023 semantics: docs built from the target domain's
    bigrams must out-score generic docs, which out-score docs made of
    bigrams the target corpus never uses; 0-feature docs carry the 0
    sentinel with n_feats=0."""
    from nr_rfc_dischargeobs_spark.extensions.sampling import dsir_log_ratio

    target_phrase = "the river flows through the green valley"
    anti_phrase = "zz1 zz2 zz3 zz4 zz5 zz6 zz7"
    docs = spark.createDataFrame(
        [
            (0, target_phrase),                    # target corpus member
            (1, target_phrase + " every day"),     # target-like
            (2, "completely unrelated words about machines and code"),
            (3, anti_phrase),                      # raw-only mass below
            (4, anti_phrase),
            (5, anti_phrase),
            (6, None),                             # 0 features
            (7, "single"),                         # 0 bigrams
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dsir_log_ratio(
            docs, docs.filter(F.col("doc_id") == 0)
        ).collect()
    }
    assert out[1]["logw"] > out[2]["logw"] > out[3]["logw"]
    for d in (6, 7):
        assert out[d]["n_feats"] == 0
        assert out[d]["logw"] == 0.0 and out[d]["logw_scaled"] == 0
    # integer-grid identity: logw is exactly the scaled sum divided once
    for d in (1, 2, 3):
        assert out[d]["logw"] == out[d]["logw_scaled"] / (1 << 20)


def test_dsir_resample_is_deterministic_and_weight_monotone(spark):
    """Gumbel-top-k with md5-derived noise: two runs select the SAME
    set in the SAME order; k bounds the draw; 0-feature docs never win
    a seat; and with the same u-bucket the higher weight always ranks
    first (the perturbation is weight-monotone given fixed noise)."""
    from nr_rfc_dischargeobs_spark.extensions.sampling import dsir_resample

    # the weight GAP must dwarf the Gumbel spread (≈14 nats across the
    # 2^16 u-grid) or noise can legitimately seat a junk doc — that's
    # correct DSIR behavior, not a bug; long docs scale the gap with
    # feature count (~29 bigrams × ~1.5 log2 each ≫ 14 nats)
    target_phrase = " ".join(
        ["alpha beta gamma delta epsilon zeta"] * 5
    )
    rows = [(i, target_phrase) for i in range(10)]
    rows += [
        (i, " ".join(f"junk{i}x{j}" for j in range(30)))
        for i in range(10, 30)
    ]
    rows += [(99, None)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    target = docs.filter(F.col("doc_id") < 3)
    a = [tuple(r) for r in dsir_resample(docs, target, k=8).collect()]
    b = [tuple(r) for r in dsir_resample(docs, target, k=8).collect()]
    assert a == b
    assert len(a) == 8
    assert [r[1] for r in a] == list(range(1, 9))
    assert all(r[0] != 99 for r in a)
    # weight dominance: the target-identical docs hold weights so far
    # above the junk that every seat goes to them despite the noise
    assert {r[0] for r in a} <= set(range(10))


def test_dsir_trained_equals_in_plan_bitwise(spark):
    """The pre-trained DSIR split must reproduce dsir_log_ratio EXACTLY
    when fed its own count tables: Python HALF-UP grid terms == F.round
    grid terms, literal-array lookups == broadcast joins, bit-for-bit
    (the streaming-gate contract)."""
    from nr_rfc_dischargeobs_spark.extensions.sampling import (
        dsir_log_ratio,
        dsir_log_ratio_trained,
    )
    from nr_rfc_dischargeobs_spark.extensions.text import bigram_lm_counts

    docs = spark.createDataFrame(
        [
            (0, "the river flows through the green valley today"),
            (1, "the river flows through another state entirely"),
            (2, "zq xv wp lk jh gf cd"),
            (3, None),
            (4, "one"),
        ],
        ["doc_id", "text"],
    )
    target = docs.filter(F.col("doc_id") == 0)
    batch = sorted(map(tuple, dsir_log_ratio(docs, target).collect()))
    bt, _ = bigram_lm_counts(target)
    br, _ = bigram_lm_counts(docs)
    trained = sorted(
        map(tuple, dsir_log_ratio_trained(docs, bt, br).collect())
    )
    assert trained == batch


def test_document_stream_dsir_gate_drops_off_domain(spark):
    """The DSIR relevance gate composes into the curation stack: docs
    far from the target domain drop, target-like docs survive, and
    unscorable docs fail closed."""
    from nr_rfc_dischargeobs_spark.extensions.text import bigram_lm_counts
    from nr_rfc_dischargeobs_spark.streaming import curate_document_stream

    on_domain = (
        "the river flows through the green valley and the river keeps "
        "its steady course across the wide green valley every day"
    )
    off_domain = (
        "completely different machine code with compilers and linkers "
        "and registers that share no bigrams with the target corpus"
    )
    docs = spark.createDataFrame(
        [
            (1, on_domain, "en", "crawl", None),
            (2, off_domain, "en", "crawl", None),
        ],
        "doc_id long, text string, lang string, source string,"
        " ingest_time timestamp",
    )
    ref = spark.createDataFrame([(0, on_domain)], ["doc_id", "text"])
    bt, _ = bigram_lm_counts(ref)
    br, _ = bigram_lm_counts(ref.union(
        spark.createDataFrame([(9, off_domain)], ["doc_id", "text"])
    ))
    kept = {
        r["doc_id"]
        for r in curate_document_stream(
            docs, min_words=5, dsir_counts=(bt, br), dsir_min_logw=0.1
        ).collect()
    }
    assert kept == {1}


# ------------------------------------------------- pack materialization (r6)


def test_pack_sequence_rows_conserves_tokens_and_fills_blocks(spark):
    """The materialized sequences must carry EXACTLY the assignment's
    token stream: Σ n_tokens over sequences == Σ over docs, every
    non-tail sequence in a shard is exactly budget tokens, seq ids are
    dense 0..max per shard, and re-concatenating a shard's sequences
    reproduces its docs' tokens in (doc_id) order."""
    from collections import defaultdict

    from nr_rfc_dischargeobs_spark.extensions import packing
    from nr_rfc_dischargeobs_spark.extensions.sampling import hash_bucket

    docs = spark.createDataFrame(
        [(i, " ".join(f"d{i}t{j}" for j in range(i % 7 + 1)))
         for i in range(25)] + [(99, None)],
        ["doc_id", "text"],
    )
    budget, shards = 5, 3
    rows = sorted(
        map(
            tuple,
            packing.pack_sequence_rows(
                docs, budget=budget, shards=shards
            ).collect(),
        )
    )
    asg = packing.pack_assignments(docs, budget=budget, shards=shards)
    assert (
        sum(r[2] for r in rows)
        == asg.agg(F.sum("n_tokens")).collect()[0][0]
    )
    per_shard = defaultdict(list)
    for sh, seq, n, txt in rows:
        per_shard[sh].append((seq, n, txt))
    shard_of = {
        r["doc_id"]: r["sh"]
        for r in docs.select(
            "doc_id",
            (hash_bucket(F.col("doc_id"), "pack") % shards).alias("sh"),
        ).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    for sh, seqs in per_shard.items():
        seqs.sort()
        assert [s for s, _, _ in seqs] == list(range(len(seqs)))
        assert all(n == budget for _, n, _ in seqs[:-1])
        stream = [
            t
            for d in sorted(texts)
            if shard_of[d] == sh and texts[d]
            for t in texts[d].split(" ")
        ]
        assert " ".join(txt for _, _, txt in seqs) == " ".join(stream)


def test_pack_sequence_rows_is_partitioning_invariant(spark):
    """Same rows regardless of input partitioning — the shard window
    orders by doc_id, never by arrival."""
    from nr_rfc_dischargeobs_spark.extensions import packing

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(3))) for i in range(30)],
        ["doc_id", "text"],
    )
    a = sorted(map(tuple, packing.pack_sequence_rows(
        docs, budget=7, shards=2).collect()))
    b = sorted(map(tuple, packing.pack_sequence_rows(
        docs.repartition(11), budget=7, shards=2).collect()))
    assert a == b


# ------------------------------------------------------------ UniMax (r6)


def test_unimax_water_filling_hand_computed(spark):
    """Chung et al. 2023 semantics on a hand-checkable fixture: strata
    A/B/C with 10/100/1000 tokens, cap 2 epochs, budget 300 → A capped
    at 20, B and C share the 140-token water level; allocations sum to
    the budget; no stratum exceeds max_epochs."""
    from nr_rfc_dischargeobs_spark.extensions.sampling import (
        unimax_allocation,
    )

    rows = (
        [(i, " ".join(["a"] * 10), "A") for i in range(1)]
        + [(10 + i, " ".join(["b"] * 50), "B") for i in range(2)]
        + [(20 + i, " ".join(["c"] * 200), "C") for i in range(5)]
    )
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {
        r["stratum"]: r
        for r in unimax_allocation(
            docs, budget_tokens=300, max_epochs=2
        ).collect()
    }
    assert out["A"]["capped"] and out["A"]["alloc_tokens"] == 20.0
    assert not out["B"]["capped"] and out["B"]["alloc_tokens"] == 140.0
    assert not out["C"]["capped"] and out["C"]["alloc_tokens"] == 140.0
    assert sum(r["alloc_tokens"] for r in out.values()) == 300.0
    for r in out.values():
        assert r["epochs"] <= 2.0 + 1e-12
    assert abs(out["A"]["epochs"] - 2.0) < 1e-12


def test_unimax_all_capped_when_budget_exceeds_capacity(spark):
    """Budget beyond total capacity: every stratum caps at
    n_tokens × max_epochs and the leftover stays unallocated — the
    caller's signal, never a silent epoch-cap violation."""
    from nr_rfc_dischargeobs_spark.extensions.sampling import (
        unimax_allocation,
    )

    docs = spark.createDataFrame(
        [(0, " ".join(["x"] * 10), "A"), (1, " ".join(["y"] * 20), "B")],
        ["doc_id", "text", "lang"],
    )
    out = {
        r["stratum"]: r
        for r in unimax_allocation(
            docs, budget_tokens=10_000, max_epochs=3
        ).collect()
    }
    assert all(r["capped"] for r in out.values())
    assert out["A"]["alloc_tokens"] == 30.0
    assert out["B"]["alloc_tokens"] == 60.0
    assert all(abs(r["epochs"] - 3.0) < 1e-12 for r in out.values())


def test_ann_recall_audit_semantics(spark):
    """Recall@k contract: identical top-k → recall 1; an approx side
    missing a query entirely still reports that query at recall 0;
    rank differences don't matter (set recall); partial overlap counts
    hits exactly."""
    from nr_rfc_dischargeobs_spark.extensions.similarity import ann_recall

    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1), (2, 21, 2), (3, 30, 1)],
        ["query_id", "neighbor_id", "rank"],
    )
    approx = spark.createDataFrame(
        [
            (1, 11, 1), (1, 10, 2),   # same set, swapped ranks
            (2, 20, 1), (2, 99, 2),   # one hit, one miss
            # query 3 entirely missed
            (4, 40, 1),               # spurious query: no ground truth
        ],
        ["query_id", "neighbor_id", "rank"],
    )
    out = {r["query_id"]: r for r in ann_recall(approx, exact).collect()}
    assert set(out) == {1, 2, 3}  # spurious query 4 emits nothing
    assert out[1]["recall"] == 1.0 and out[1]["n_hits"] == 2
    assert out[2]["recall"] == 0.5
    assert out[3]["recall"] == 0.0 and out[3]["n_hits"] == 0


def test_ann_recall_full_probe_ivf_is_perfect(spark):
    """nprobe = list count makes IVF exhaustive, so recall must be
    exactly 1.0 for every query — the audit operator agreeing with the
    recall-oracle identity the search tests pin."""
    import random

    from nr_rfc_dischargeobs_spark.extensions.similarity import (
        ann_recall,
        brute_force_topk,
        ivf_topk,
        prepare,
    )

    rng = random.Random(3)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(40)
    ]
    prep = prepare(_emb(spark, rows))
    cents = prep.filter(F.col("vec_id") < 3)
    queries = prep.filter((F.col("vec_id") >= 3) & (F.col("vec_id") < 8))
    corpus = prep.filter(F.col("vec_id") >= 8)
    rec = ann_recall(
        ivf_topk(queries, corpus, cents, k=3, nprobe=3),
        brute_force_topk(queries, corpus, k=3),
    )
    assert rec.filter(F.col("recall") < 1.0).count() == 0
    assert rec.count() == 5


def test_bloom_decontamination_superset_of_exact(spark):
    """No false negatives: the Bloom screen's n_flagged is >= the exact
    join's n_contaminated for every doc, and the planted-contamination
    doc is flagged."""
    from nr_rfc_dischargeobs_spark.extensions.contamination import (
        bloom_decontamination,
        ngram_contamination,
    )

    passage = "the quick brown fox jumps over the lazy dog tonight"
    bench = spark.createDataFrame(
        [(0, passage), (1, "completely different benchmark question here")],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (10, f"intro words then {passage} and a closing remark"),
            (11, "unrelated clean document about rivers and discharge"),
            (12, "another clean one with its own private vocabulary"),
        ],
        ["doc_id", "text"],
    )
    exact = {
        r["doc_id"]: r["n_contaminated"]
        for r in ngram_contamination(corpus, bench, n=4).collect()
    }
    bloom = {
        r["doc_id"]: r
        for r in bloom_decontamination(
            corpus, bench, n=4, m_bits=1 << 16, k=3
        ).collect()
    }
    assert set(bloom) == {10, 11, 12}  # a gate emits a row per doc
    assert bloom[10]["flagged"] and bloom[10]["n_flagged"] >= exact[10]
    for d, n_cont in exact.items():
        assert bloom[d]["n_flagged"] >= n_cont
    # at m=2^16 with a handful of grams, no false positives either
    assert not bloom[11]["flagged"] and not bloom[12]["flagged"]


def test_bloom_saturated_filter_flags_everything(spark):
    """The degenerate dial: a tiny filter saturates and the fp rate goes
    to 1 — every gram flags.  Pinning the failure mode documents why
    m_bits must be sized to the benchmark (kn/m <= ~0.7/k)."""
    from nr_rfc_dischargeobs_spark.extensions.contamination import (
        bloom_decontamination,
    )

    bench = spark.createDataFrame(
        [(i, f"bench doc number {i} with words {i * 7} {i * 13}")
         for i in range(40)],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [(100, "totally disjoint corpus text nothing shared at all")],
        ["doc_id", "text"],
    )
    out = bloom_decontamination(corpus, bench, n=2, m_bits=64, k=3).collect()
    assert out[0]["flagged_frac"] == 1.0


def test_bloom_dial_validation(spark):
    from nr_rfc_dischargeobs_spark.extensions.contamination import (
        bloom_build,
        bloom_screen,
    )

    df = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="m_bits"):
        bloom_build(df, m_bits=100)
    with pytest.raises(ValueError, match="k must"):
        bloom_build(df, k=9)
    with pytest.raises(ValueError, match="words"):
        bloom_screen(df, [0] * 3, m_bits=1 << 12)


def _py_hll(keys, p=8, salt="hll"):
    """Reference HLL replica — same md5 registers, same integer harmonic
    sum, same estimate arithmetic as extensions.sketches."""
    import hashlib
    import math

    m = 1 << p
    c = p // 4
    regs = {}
    for k in keys:
        h = hashlib.md5(f"{salt}|{k}".encode()).hexdigest()
        reg = int(h[:c], 16)
        tail = int(h[c : c + 12], 16)
        rho = 49 if tail == 0 else 49 - tail.bit_length()
        regs[reg] = max(regs.get(reg, 0), rho)
    isum = sum(1 << (49 - M) for M in regs.values()) + (m - len(regs)) * (
        1 << 49
    )
    alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
        m, 0.7213 / (1 + 1.079 / m)
    )
    raw = alpha * m * m * float(1 << 49) / float(isum)
    zeros = m - len(regs)
    if raw <= 2.5 * m and zeros > 0:
        return m * math.log(m / zeros), len(regs)
    return raw, len(regs)


def test_hll_matches_python_replica(spark):
    """The engine's estimate equals an independent Python replica of the
    same deterministic-register recipe — the cross-engine portability
    claim, tested a third way (Spark vs DuckDB is the oracle; Spark vs
    hashlib is this)."""
    from nr_rfc_dischargeobs_spark.extensions.sketches import hll_cardinality

    rows = [(f"d{i % 3}", f"key-{i % 700}") for i in range(5000)]
    df = spark.createDataFrame(rows, ["facet", "k"])
    out = {
        r["facet"]: r
        for r in hll_cardinality(
            df, key="k", facets=("facet",), p=8, exact_audit=True
        ).collect()
    }
    for facet in ("d0", "d1", "d2"):
        keys = {k for f, k in rows if f == facet}
        est, used = _py_hll(keys)
        assert out[facet]["hll_registers_used"] == used
        assert abs(out[facet]["hll_estimate"] - est) <= 1e-9 * est
        assert out[facet]["exact_distinct"] == len(keys)
        # p=8 → ~1.04/16 relative error; allow 4 sigma
        assert abs(out[facet]["rel_error"]) < 0.26


def test_hll_multiplicity_and_partition_invariance(spark):
    """Duplicated input and different partitioning leave the estimate
    bit-identical — registers are max-merged, the harmonic sum is exact
    integer arithmetic."""
    from nr_rfc_dischargeobs_spark.extensions.sketches import hll_cardinality

    df = spark.createDataFrame(
        [("x", f"key-{i}") for i in range(1000)], ["facet", "k"]
    )
    base = hll_cardinality(df, key="k", facets=("facet",)).collect()[0]
    doubled = hll_cardinality(
        df.union(df).repartition(7), key="k", facets=("facet",)
    ).collect()[0]
    assert doubled["hll_estimate"] == base["hll_estimate"]
    assert doubled["hll_registers_used"] == base["hll_registers_used"]


def test_hll_register_table_merges_across_runs(spark):
    """The persistable register artifact unions by MAX — two half-corpus
    sketches folded together give the same registers as one full-corpus
    sketch (the property that lets a fleet sketch per shard/day and fold
    later)."""
    from nr_rfc_dischargeobs_spark.extensions.sketches import hll_registers

    df = spark.createDataFrame(
        [("x", f"key-{i}") for i in range(2000)], ["facet", "k"]
    )
    half_a = df.filter(F.col("k") < "key-1")  # lexicographic split
    half_b = df.filter(~(F.col("k") < "key-1"))
    merged = (
        hll_registers(half_a, "k", facets=("facet",))
        .union(hll_registers(half_b, "k", facets=("facet",)))
        .groupBy("facet", "register")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    full = hll_registers(df, "k", facets=("facet",))
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_hll_p_validation(spark):
    from nr_rfc_dischargeobs_spark.extensions.sketches import hll_cardinality

    df = spark.createDataFrame([("x", "a")], ["facet", "k"])
    with pytest.raises(ValueError, match="hex-aligned"):
        hll_cardinality(df, key="k", p=10)


def _py_cms(occurrences, candidates, d=4, w=1024, salt="cms"):
    """Reference CMS replica — same md5 lanes, same min-of-counters."""
    import hashlib

    table = {}
    for k in occurrences:
        h = hashlib.md5(f"{salt}|{k}".encode()).hexdigest()
        for j in range(d):
            b = int(h[8 * j : 8 * j + 8], 16) % w
            table[(j, b)] = table.get((j, b), 0) + 1
    out = {}
    for k in candidates:
        h = hashlib.md5(f"{salt}|{k}".encode()).hexdigest()
        out[k] = min(
            table.get((j, int(h[8 * j : 8 * j + 8], 16) % w), 0)
            for j in range(d)
        )
    return out


def test_cms_matches_python_replica_and_never_underestimates(spark):
    """Estimates equal an independent hashlib replica of the same lane
    recipe, and every estimate ≥ the true count (the CMS one-sided
    error bound) — at a deliberately tiny w so collisions actually
    occur and the ≥ is strict somewhere."""
    from nr_rfc_dischargeobs_spark.extensions.sketches import (
        cms_estimate,
        cms_table,
    )

    rows = [(f"key-{i % 97}",) for i in range(3000)]
    df = spark.createDataFrame(rows, ["k"])
    table = cms_table(df, key="k", d=2, w=16)
    est = {
        r["k"]: r["cms_estimate"]
        for r in cms_estimate(
            df.distinct(), table, key="k", d=2, w=16
        ).collect()
    }
    keys = {k for (k,) in rows}
    replica = _py_cms([k for (k,) in rows], keys, d=2, w=16)
    exact = {k: sum(1 for (x,) in rows if x == k) for k in keys}
    assert est == replica
    assert all(est[k] >= exact[k] for k in keys)
    assert any(est[k] > exact[k] for k in keys)  # collisions at w=16


def test_cms_unseen_key_estimates_zero_or_collision(spark):
    """A never-seen key estimates 0 unless every one of its lanes
    collides — at the default w the planted probe comes back 0."""
    from nr_rfc_dischargeobs_spark.extensions.sketches import (
        cms_estimate,
        cms_table,
    )

    df = spark.createDataFrame([(f"key-{i}",) for i in range(50)], ["k"])
    table = cms_table(df, key="k", d=4, w=1024)
    probe = spark.createDataFrame([("never-seen-key",)], ["k"])
    est = cms_estimate(probe, table, key="k", d=4, w=1024).collect()[0]
    assert est["cms_estimate"] == 0


def test_cms_table_merges_across_runs(spark):
    """Two half-corpus tables summed bucket-wise equal the full-corpus
    table — the union property that lets a fleet sketch per shard and
    fold later."""
    from nr_rfc_dischargeobs_spark.extensions.sketches import cms_table

    df = spark.createDataFrame(
        [(i, f"key-{i % 200}") for i in range(2000)], ["i", "k"]
    )
    half_a = df.filter(F.col("i") < 1000)
    half_b = df.filter(F.col("i") >= 1000)
    merged = (
        cms_table(half_a, "k")
        .union(cms_table(half_b, "k"))
        .groupBy("depth", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    full = cms_table(df, "k")
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_cms_dial_validation(spark):
    from nr_rfc_dischargeobs_spark.extensions.sketches import cms_table

    df = spark.createDataFrame([("a",)], ["k"])
    with pytest.raises(ValueError, match="1..4"):
        cms_table(df, key="k", d=5)
    with pytest.raises(ValueError, match="w must"):
        cms_table(df, key="k", w=1)


def test_histogram_quantiles_match_python_replica(spark):
    """Each reported bin is the smallest whose cumulative count crosses
    ceil(q·n/100) — checked against a sorted-list replica, per facet,
    including values outside [lo, hi) (clamped into edge bins)."""
    from nr_rfc_dischargeobs_spark.extensions.sketches import (
        histogram_quantiles,
    )

    import math

    rows = [("a", (i * 7919) % 1200 - 50) for i in range(500)] + [
        ("b", i * 3) for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["facet", "x"])
    lo, hi, bins = 0, 1000, 25
    qs = (25, 50, 75, 95, 99)
    out = {
        (r["facet"], r["q_pct"]): r
        for r in histogram_quantiles(
            df, "x", lo, hi, bins, quantiles=qs, facets=("facet",)
        ).collect()
    }
    for facet in ("a", "b"):
        vals = sorted(
            min(max(x, lo), hi - 1) for f, x in rows if f == facet
        )
        n = len(vals)
        binned = [(v - lo) * bins // (hi - lo) for v in vals]
        for q in qs:
            thr = math.ceil(q * n / 100)
            expected_bin = binned[thr - 1]
            r = out[(facet, q)]
            assert r["bin"] == expected_bin, (facet, q)
            assert r["n_rows"] == n
            assert r["bin_lo"] == lo + expected_bin * (hi - lo) / bins
            # the quantile value really lies inside the reported bin
            assert r["bin_lo"] <= vals[thr - 1] < r["bin_hi"]


def test_histogram_quantiles_partition_invariance(spark):
    """Bit-identical output under any partitioning — pure integer
    arithmetic end-to-end."""
    from nr_rfc_dischargeobs_spark.extensions.sketches import (
        histogram_quantiles,
    )

    df = spark.createDataFrame(
        [("x", (i * 31) % 512) for i in range(400)], ["facet", "v"]
    )
    base = sorted(
        map(
            tuple,
            histogram_quantiles(
                df, "v", 0, 512, 32, facets=("facet",)
            ).collect(),
        )
    )
    shuffled = sorted(
        map(
            tuple,
            histogram_quantiles(
                df.repartition(13), "v", 0, 512, 32, facets=("facet",)
            ).collect(),
        )
    )
    assert base == shuffled


def test_histogram_quantiles_validation(spark):
    from nr_rfc_dischargeobs_spark.extensions.sketches import (
        histogram_quantiles,
    )

    df = spark.createDataFrame([(1,)], ["v"])
    with pytest.raises(ValueError, match="hi must"):
        histogram_quantiles(df, "v", 10, 10, 4)
    with pytest.raises(ValueError, match="bins"):
        histogram_quantiles(df, "v", 0, 10, 0)
    with pytest.raises(ValueError, match="integer percents"):
        histogram_quantiles(df, "v", 0, 10, 4, quantiles=(0,))


def test_collocations_planted_phrase_ranks_first(spark):
    """A planted two-word phrase whose halves appear nowhere else gets
    the top PMI; counts are exact; a high-frequency independent pair
    ranks below it."""
    from nr_rfc_dischargeobs_spark.extensions.text import collocations

    # 'hong kong' always together (6×); 'the of' co-occurs but both
    # words flood the corpus independently
    rows = [(i, "hong kong the of the of the cat of dog the") for i in range(6)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = collocations(docs, min_count=2, k=20).collect()
    top = out[0]
    assert (top["w1"], top["w2"]) == ("hong", "kong")
    assert top["pair_count"] == 6 and top["c1"] == 6 and top["c2"] == 6
    assert top["pmi"] > 0
    # every published pmi is exactly its grid over 2^20
    for r in out:
        assert r["pmi"] == r["pmi_grid"] / (1 << 20)
    # 'the of' qualifies but scores below the planted phrase
    the_of = [r for r in out if (r["w1"], r["w2"]) == ("the", "of")]
    assert the_of and the_of[0]["pmi_grid"] < top["pmi_grid"]


def test_collocations_min_count_and_k_gates(spark):
    from nr_rfc_dischargeobs_spark.extensions.text import collocations

    docs = spark.createDataFrame(
        [(0, "a b a b a b c d")], ["doc_id", "text"]
    )
    out = collocations(docs, min_count=3, k=10).collect()
    # only (a,b) reaches 3; (b,a) has 2, (c,d) 1
    assert [(r["w1"], r["w2"]) for r in out] == [("a", "b")]
    capped = collocations(docs, min_count=1, k=2).collect()
    assert len(capped) == 2


def test_collocations_partition_invariance_and_validation(spark):
    from nr_rfc_dischargeobs_spark.extensions.text import collocations

    import pytest as _pytest

    rows = [(i, f"x{i % 7} y{i % 5} x{i % 7} y{i % 5}") for i in range(60)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    a = [tuple(r) for r in collocations(docs, min_count=2, k=20).collect()]
    b = [
        tuple(r)
        for r in collocations(
            docs.repartition(11), min_count=2, k=20
        ).collect()
    ]
    assert a == b
    with _pytest.raises(ValueError, match="min_count"):
        collocations(docs, min_count=0)
    with _pytest.raises(ValueError, match="k must"):
        collocations(docs, k=0)


def test_histogram_quantiles_excludes_nulls(spark):
    """NULL values are excluded, not clamped — a NULL bin would sort
    NULLS-FIRST in Spark and NULLS-LAST in DuckDB, so exclusion is the
    only cross-engine-deterministic treatment; n_rows counts non-NULLs."""
    from nr_rfc_dischargeobs_spark.extensions.sketches import (
        histogram_quantiles,
    )

    df = spark.createDataFrame(
        [("x", v) for v in [10, 20, 30, None, None]],
        "facet string, v long",
    )
    out = histogram_quantiles(
        df, "v", 0, 40, 4, quantiles=(50,), facets=("facet",)
    ).collect()
    assert len(out) == 1
    assert out[0]["n_rows"] == 3
    assert out[0]["bin"] == 2  # median 20 → bin [20, 30)


def _py_winnow(text, n=4, w=4):
    """Reference robust-winnowing replica: md5-based 60-bit gram hashes,
    rightmost-min per window, distinct (pos, hash)."""
    import hashlib

    toks = [t for t in (text or "").lower().split(" ") if t]
    grams = [
        int(
            hashlib.md5(" ".join(toks[i : i + n]).encode()).hexdigest()[:15],
            16,
        )
        for i in range(len(toks) - n + 1)
    ]
    out = set()
    for i in range(len(grams) - w + 1):
        win = grams[i : i + w]
        m = min(win)
        # rightmost occurrence of the min
        idx = i + w - 1 - win[::-1].index(m)
        out.add((idx, grams[idx]))
    return out


def test_winnow_matches_python_replica(spark):
    from nr_rfc_dischargeobs_spark.extensions.text import (
        winnow_fingerprints,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog again and again",
        "a a a a a a a a",  # all-equal hashes: rightmost tie-break
        "short one",  # below one window: emits nothing
        None,
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    got = {}
    for r in winnow_fingerprints(docs, n=4, w=4).collect():
        got.setdefault(r["doc_id"], set()).add((r["pos"], r["fp"]))
    for i, t in enumerate(texts):
        want = _py_winnow(t, 4, 4)
        assert got.get(i, set()) == want, i
    assert 2 not in got and 3 not in got  # no full window → absent


def test_winnow_guarantee_shared_run_yields_shared_fp(spark):
    """The winnowing guarantee: two docs sharing a run of ≥ w + n − 1
    tokens share at least one identical fingerprint VALUE — checked on
    docs that are otherwise completely disjoint."""
    from pyspark.sql import functions as F  # noqa: F811

    from nr_rfc_dischargeobs_spark.extensions.text import (
        winnow_fingerprints,
        winnow_pairs,
    )

    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 = w + n - 1
    docs = spark.createDataFrame(
        [
            (0, f"one two three four five six {shared} p q r s t u"),
            (1, f"aa bb cc dd ee ff {shared} gg hh ii jj kk ll"),
            (2, "totally unrelated words that never overlap at all here"),
        ],
        ["doc_id", "text"],
    )
    fps = winnow_fingerprints(docs, n=4, w=4)
    a = {r["fp"] for r in fps.filter(F.col("doc_id") == 0).collect()}
    b = {r["fp"] for r in fps.filter(F.col("doc_id") == 1).collect()}
    c = {r["fp"] for r in fps.filter(F.col("doc_id") == 2).collect()}
    assert a & b  # the guarantee
    assert not (a & c) and not (b & c)
    pairs = winnow_pairs(docs, n=4, w=4, min_shared=1).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(0, 1)]


def test_winnow_pairs_max_df_drops_boilerplate(spark):
    """A gram present in EVERY doc is boilerplate — with max_df below
    the corpus size its fingerprint cannot create pairs."""
    from nr_rfc_dischargeobs_spark.extensions.text import winnow_pairs

    footer = "standard footer text repeated everywhere always verbatim"
    docs = spark.createDataFrame(
        [(i, f"unique{i} only{i} words{i} here{i} {footer}")
         for i in range(8)],
        ["doc_id", "text"],
    )
    noisy = winnow_pairs(docs, n=4, w=4, min_shared=1, max_df=50).collect()
    assert noisy  # footer fps pair everything when admitted
    clean = winnow_pairs(docs, n=4, w=4, min_shared=1, max_df=4).collect()
    assert clean == []


def test_winnow_validation(spark):
    from nr_rfc_dischargeobs_spark.extensions.text import (
        winnow_fingerprints,
        winnow_pairs,
    )

    docs = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="n and w"):
        winnow_fingerprints(docs, n=0)
    with pytest.raises(ValueError, match="min_shared"):
        winnow_pairs(docs, min_shared=0)


def test_skew_profile_planted_hot_key(spark):
    """A planted hot key dominates the report with exact ratios; NULL
    counts as a key (the outer-join skew offender)."""
    from nr_rfc_dischargeobs_spark.extensions.diagnostics import (
        skew_profile,
    )

    rows = [("hot",)] * 60 + [(f"k{i}",) for i in range(30)] + [(None,)] * 10
    df = spark.createDataFrame(rows, "key string")
    out = skew_profile(df, "key", top=3).collect()
    top = out[0]
    assert top["key"] == "hot" and top["cnt"] == 60
    assert top["n_rows"] == 100 and top["n_keys"] == 32
    assert top["share"] == 0.6
    assert top["mean_cnt"] == 100 / 32
    assert top["skew_ratio"] == 60 * 32 / 100
    assert out[1]["key"] is None and out[1]["cnt"] == 10
    with pytest.raises(ValueError, match="top"):
        skew_profile(df, "key", top=0)


def test_psi_drift_zero_for_identical_and_positive_for_shift(spark):
    """Identical snapshots score PSI == 0 exactly (every Δp grid term is
    0); a hard shift scores far above the 0.25 rule-of-thumb and counts
    its drifted bins."""
    from nr_rfc_dischargeobs_spark.extensions.diagnostics import psi_drift

    a = spark.createDataFrame(
        [("x", (i * 7) % 100) for i in range(500)], ["facet", "v"]
    )
    same = psi_drift(a, a, "v", 0, 100, 10, facets=("facet",)).collect()[0]
    assert same["psi_grid"] == 0 and same["psi"] == 0.0
    assert same["n_bins_drifted"] == 0
    b = spark.createDataFrame(
        [("x", 90 + (i % 10)) for i in range(500)], ["facet", "v"]
    )
    shifted = psi_drift(a, b, "v", 0, 100, 10, facets=("facet",)).collect()[0]
    assert shifted["psi"] > 0.25
    # the receiving bin gains ~0.9 share (far over the 1/bins = 0.1
    # gate); each emptied bin loses ~0.098 — just UNDER the gate after
    # smoothing, so exactly the one big mover is flagged
    assert shifted["n_bins_drifted"] == 1
    assert shifted["n_a"] == 500 and shifted["n_b"] == 500


def test_psi_drift_partition_invariance_and_validation(spark):
    from nr_rfc_dischargeobs_spark.extensions.diagnostics import psi_drift

    a = spark.createDataFrame(
        [("x", (i * 13) % 64) for i in range(300)], ["facet", "v"]
    )
    b = spark.createDataFrame(
        [("x", (i * 29) % 64) for i in range(200)], ["facet", "v"]
    )
    r1 = psi_drift(a, b, "v", 0, 64, 8, facets=("facet",)).collect()[0]
    r2 = psi_drift(
        a.repartition(13), b.repartition(7), "v", 0, 64, 8,
        facets=("facet",),
    ).collect()[0]
    assert r1["psi_grid"] == r2["psi_grid"]  # exact integer total
    with pytest.raises(ValueError, match="hi"):
        psi_drift(a, b, "v", 5, 5, 4)


def test_hll_global_audit_and_null_keys(spark):
    """Review regressions: (a) exact_audit with no facets must not
    crash on the empty join-key list; (b) NULL keys are excluded on
    both engines' paths — matching COUNT(DISTINCT), not hashed into a
    phantom register."""
    from nr_rfc_dischargeobs_spark.extensions.sketches import (
        hll_cardinality,
    )

    df = spark.createDataFrame(
        [(f"key-{i % 50}",) for i in range(200)] + [(None,)] * 10,
        "k string",
    )
    row = hll_cardinality(df, key="k", exact_audit=True).collect()[0]
    assert row["exact_distinct"] == 50
    no_nulls = hll_cardinality(
        df.filter(F.col("k").isNotNull()), key="k", exact_audit=True
    ).collect()[0]
    assert row["hll_estimate"] == no_nulls["hll_estimate"]
    assert row["hll_registers_used"] == no_nulls["hll_registers_used"]


def test_ivf_pq_index_assign_validation(spark):
    from nr_rfc_dischargeobs_spark.extensions import similarity

    emb = similarity.prepare(
        spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(4)],
            "vec_id long, embedding array<float>",
        )
    )
    for bad in ("locla", "arrow"):
        with pytest.raises(ValueError, match="'window' or 'local'"):
            similarity.ivf_pq_index(
                emb, emb.limit(2), [(0, [1, 1])], assign=bad
            )


def test_ann_paths_exclude_zero_norm_like_exact(spark):
    """Review regression: the LSH and IVF top-k paths must apply the
    same zero-norm exclusion as the exact kernel — an all-zero vector
    previously surfaced as a NULL-cosine neighbor in sparse buckets,
    breaking the recall-oracle parity."""
    from nr_rfc_dischargeobs_spark.extensions import similarity

    rows = [(i, [float(i % 3 + 1), 1.0]) for i in range(8)] + [
        (99, [0.0, 0.0])  # zero-norm
    ]
    prep = similarity.prepare(
        spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    )
    q = prep.filter(F.col("vec_id") < 2)
    c = prep.filter(F.col("vec_id") >= 2)
    for fn in (
        lambda: similarity.lsh_bucketed_topk(q, c, k=10, bits=2),
        lambda: similarity.ivf_topk(q, c, prep.filter(F.col("vec_id") < 1), k=10),
    ):
        out = fn().collect()
        assert out, "non-degenerate neighbors still returned"
        assert all(r["neighbor_id"] != 99 for r in out)
        assert all(r["cosine"] is not None for r in out)


def test_kmeans_lite_seeds_on_noncontiguous_ids(spark):
    """Review regression: seeds are the k SMALLEST ids — a corpus whose
    ids start above k previously produced an EMPTY centroid set and a
    silently empty index."""
    from nr_rfc_dischargeobs_spark.extensions import similarity

    rows = [(1000 + i, [float(i), 1.0]) for i in range(6)]
    prep = similarity.prepare(
        spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    )
    cents = similarity.kmeans_lite(prep, k=3, iters=1)
    assert cents.count() == 3


def test_shingle_rows_degenerate_docs_emit_nothing(spark):
    """Review regression: NULL/empty/whitespace docs manufactured one
    empty-string shingle each (n >= 2), colliding all degenerate docs
    across dedup and contamination."""
    from nr_rfc_dischargeobs_spark.extensions.dedup import shingle_rows

    docs = spark.createDataFrame(
        [(0, None), (1, ""), (2, "   "), (3, "real text with words")],
        "doc_id long, text string",
    )
    out = shingle_rows(docs, n=3).collect()
    assert {r["doc_id"] for r in out} == {3}


def test_connected_components_raises_when_unconverged(spark):
    """Review regression: exhausting max_iter must raise, not return
    intermediate (wrong) labels indistinguishable from a converged
    result."""
    from nr_rfc_dischargeobs_spark.extensions.dedup import (
        connected_components,
    )

    # a 6-link chain needs >2 one-hop rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2)
    ok = connected_components(pairs, max_iter=10)
    assert ok.select("label").distinct().count() == 1


def test_decontam_bloom_oracle_parity_on_degenerate_docs(spark, tmp_path):
    """Review fix pin: the DuckDB oracle must agree with the operator on
    degenerate documents the generated sf corpus never contains —
    empty/whitespace text (whose only gram is all-empty and dropped on
    both sides) and NULL text (the gate still owes a zero decision row),
    on BOTH the corpus and the benchmark side of the 25 split."""
    import duckdb

    from nr_rfc_dischargeobs_spark.plans import extensions as ext_plans

    docs = spark.createDataFrame(
        [
            # benchmark side (doc_id < 25), degenerates included
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, None),
            (2, ""),
            (3, "   "),
            # corpus side (doc_id >= 25)
            (25, "the quick brown fox is here today my friend"),
            (26, None),
            (27, ""),
            (28, "  "),
            (29, "unrelated words only in here nothing shared at all"),
            (30, "a b"),  # short doc: one partial-tail gram
        ],
        "doc_id long, text string",
    )
    sf_dir = tmp_path / "sf"
    sf_dir.mkdir()
    docs.coalesce(1).write.parquet(str(sf_dir / "documents.parquet"))

    got = sorted(
        map(tuple, ext_plans.decontam_bloom(spark, str(sf_dir)).collect())
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet/*.parquet')"
    )
    want = sorted(
        map(tuple, con.execute(ext_plans._decontam_bloom_sql()).fetchall())
    )
    assert got == want
    by_id = {t[0]: t for t in got}
    assert set(by_id) == {25, 26, 27, 28, 29, 30}  # a row per corpus doc
    for d in (26, 27, 28):  # NULL / empty / whitespace → clean zero row
        assert by_id[d][1:] == (0, 0, 0.0, False)
    assert by_id[25][4] is True  # shares 'the quick brown fox'
    assert by_id[29][4] is False


def test_bloom_screen_null_and_empty_text_rows(spark):
    """Review regression: NULL-text docs reported n_grams = -1 and
    flagged_frac = 1.0; they now emit a clean zero decision row."""
    from nr_rfc_dischargeobs_spark.extensions.contamination import (
        bloom_build,
        bloom_screen,
    )

    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    words = bloom_build(bench, n=4)
    corpus = spark.createDataFrame(
        [(1, None), (2, ""), (3, "the quick brown fox is here")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bloom_screen(corpus, words, n=4).collect()}
    for d in (1, 2):
        assert out[d]["n_grams"] == 0
        assert out[d]["n_flagged"] == 0
        assert out[d]["flagged_frac"] == 0.0
        assert out[d]["flagged"] is False
    assert out[3]["n_grams"] > 0


def test_fingerprint_distinguishes_non_latin_scripts(spark):
    """Review regression: the ASCII-only normalization collapsed every
    non-Latin document onto md5('') — fingerprint dedup then silently
    kept one document per script.  Unicode letters/digits now survive
    normalization; formatting-only variants still collide."""
    from nr_rfc_dischargeobs_spark.extensions.text import fingerprint

    docs = spark.createDataFrame(
        [
            (0, "这是第一份文件"),
            (1, "这是完全不同的文件"),
            (2, "Hello,  World!"),
            (3, "hello world"),
        ],
        ["doc_id", "text"],
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in fingerprint(docs).collect()}
    assert fp[0] != fp[1]  # distinct Chinese docs stay distinct
    assert fp[2] == fp[3]  # punctuation/case/whitespace still collapse


# ------------------------------------------------------------- pq refine


def _refine_fixture(spark, n=60, dim=4, seed=13):
    """Shared IVF-PQ split: codebook seeds < 4, coarse 4-6, queries 7-11,
    corpus ≥ 12 — random enough that m=2 PQ compression visibly reorders
    neighbors vs exact cosine (what the refine stage exists to repair)."""
    import random

    from nr_rfc_dischargeobs_spark.extensions.similarity import prepare

    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)]
    prep = prepare(_emb(spark, rows))
    cents = [
        (r["vec_id"], r["q"])
        for r in prep.filter(F.col("vec_id") < 4).collect()
    ]
    coarse = prep.filter((F.col("vec_id") >= 4) & (F.col("vec_id") < 7))
    queries = prep.filter((F.col("vec_id") >= 7) & (F.col("vec_id") < 12))
    corpus = prep.filter(F.col("vec_id") >= 12)
    return prep, cents, coarse, queries, corpus


def test_ivf_pq_refine_arrow_native_bit_parity(spark):
    """The Arrow refine kernel and the native-expression spelling must be
    BIT-identical — exact int64 dots, same IEEE division — on the same
    candidate slate (this parity is also what licenses the DuckDB oracle
    for the registered arrow-kernel query)."""
    from nr_rfc_dischargeobs_spark.extensions.similarity import (
        ivf_pq_index,
        ivf_pq_refine,
        ivf_pq_topk,
    )

    _, cents, coarse, queries, corpus = _refine_fixture(spark)
    index = ivf_pq_index(corpus, coarse, cents, m=2, dim=4)
    cand = ivf_pq_topk(
        queries, index, coarse, cents, k=6, nprobe=2, m=2, dim=4
    )
    arrow = sorted(
        map(
            tuple,
            ivf_pq_refine(cand, queries, corpus, k=3, kernel="arrow").collect(),
        )
    )
    native = sorted(
        map(
            tuple,
            ivf_pq_refine(
                cand, queries, corpus, k=3, kernel="native"
            ).collect(),
        )
    )
    assert arrow == native  # floats compared exactly: bit parity
    assert len(arrow) == 5 * 3


def test_ivf_pq_refine_full_slate_equals_brute_force(spark):
    """With every list probed and the slate as big as the corpus, refine
    degenerates to the exact answer: ADC only GENERATES candidates, the
    re-score decides — so the result must equal brute_force_topk bit for
    bit (the recall-1.0 oracle identity for the refine stage)."""
    from nr_rfc_dischargeobs_spark.extensions.similarity import (
        brute_force_topk,
        ivf_pq_index,
        ivf_pq_refine,
        ivf_pq_topk,
    )

    _, cents, coarse, queries, corpus = _refine_fixture(spark)
    index = ivf_pq_index(corpus, coarse, cents, m=2, dim=4)
    cand = ivf_pq_topk(
        queries, index, coarse, cents, k=100, nprobe=3, m=2, dim=4
    )
    refined = sorted(
        map(
            tuple,
            ivf_pq_refine(cand, queries, corpus, k=3, kernel="arrow").collect(),
        )
    )
    exact = sorted(map(tuple, brute_force_topk(queries, corpus, k=3).collect()))
    assert refined == exact


def test_ivf_pq_refine_lifts_recall(spark):
    """The published reason the stage exists: re-scoring a top-R slate
    exactly recovers recall the PQ compression gave up.  Measured here as
    mean ann_recall@3 vs the brute-force oracle — refined (R=6) must be
    at least the un-refined search's recall at the SAME nprobe, and the
    fixture is lossy enough that the lift is strict."""
    from nr_rfc_dischargeobs_spark.extensions.similarity import (
        ann_recall,
        brute_force_topk,
        ivf_pq_index,
        ivf_pq_refine,
        ivf_pq_topk,
    )

    _, cents, coarse, queries, corpus = _refine_fixture(spark)
    index = ivf_pq_index(corpus, coarse, cents, m=2, dim=4)
    exact = brute_force_topk(queries, corpus, k=3)

    def mean_recall(approx):
        rows = ann_recall(approx, exact).collect()
        return sum(r["recall"] for r in rows) / len(rows)

    unrefined = ivf_pq_topk(
        queries, index, coarse, cents, k=3, nprobe=2, m=2, dim=4
    )
    cand = ivf_pq_topk(
        queries, index, coarse, cents, k=6, nprobe=2, m=2, dim=4
    )
    refined = ivf_pq_refine(cand, queries, corpus, k=3, kernel="arrow")
    r_un, r_ref = mean_recall(unrefined), mean_recall(refined)
    assert r_ref >= r_un
    assert r_ref > r_un, (
        f"fixture not lossy enough to witness the lift ({r_un} -> {r_ref})"
    )


def test_ivf_pq_refine_zero_norm_and_validation(spark):
    """Kernel name is validated loudly; zero-norm queries and candidates
    are excluded from scoring on both kernels (the shared cosine
    contract), so a zero-norm query emits no rows rather than NULL/NaN."""
    import pytest

    from nr_rfc_dischargeobs_spark.extensions.similarity import (
        ivf_pq_refine,
        prepare,
    )

    rows = [
        (1, [0.0, 0.0, 0.0, 0.0]),   # zero-norm query
        (2, [1.0, 0.0, 0.0, 0.0]),   # real query
        (10, [0.9, 0.1, 0.0, 0.0]),  # corpus
        (11, [0.0, 0.0, 0.0, 0.0]),  # zero-norm corpus vector
    ]
    prep = prepare(_emb(spark, rows))
    queries = prep.filter(F.col("vec_id") <= 2)
    corpus = prep.filter(F.col("vec_id") >= 10)
    cand = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 11)], ["query_id", "neighbor_id"]
    )
    with pytest.raises(ValueError, match="kernel"):
        ivf_pq_refine(cand, queries, corpus, k=2, kernel="blas")
    for kernel in ("arrow", "native"):
        out = ivf_pq_refine(cand, queries, corpus, k=2, kernel=kernel).collect()
        assert {(r["query_id"], r["neighbor_id"]) for r in out} == {(2, 10)}


# ---------------------------------------------------------------- sq8 tier


def test_sq8_search_equals_brute_force_over_reconstruction(spark):
    """The SQ8 identity oracle (round 13): sq8_adc_topk is bit-identical
    to brute_force_topk over the decoded reconstruction (codes carry
    the uniform-127 scaling, which cancels in every cosine) — so the
    only approximation is the quantization itself, and the score math
    shares the exact-integer one-division discipline.  Structural
    pins: |code| <= 127 on every dimension (the tinyint layout cannot
    wrap), a constant-zero dimension encodes to 0, and a zero-norm
    reconstruction is excluded like every cosine kernel."""
    import numpy as np

    from nr_rfc_dischargeobs_spark.extensions.similarity import (
        brute_force_topk, prepare, sq8_adc_topk, sq8_codes, sq8_decode,
        sq8_scales,
    )

    rng = np.random.default_rng(11)
    rows = []
    for i in range(40):
        v = rng.uniform(-1, 1, size=8)
        v[5] = 0.0  # dimension 5 is constant zero across the corpus
        rows.append((i, [float(x) for x in v]))
    rows.append((100, [0.0] * 8))  # all-zero corpus vector: excluded
    emb = _emb(spark, rows)
    prep = prepare(emb)
    corpus = prep.filter(F.col("vec_id") >= 10)
    queries = prep.filter(F.col("vec_id") < 10)

    scales = sq8_scales(corpus)
    assert len(scales) == 8 and scales[5] == 0
    codes = sq8_codes(corpus, scales)

    # tinyint layout is safe by construction: |c| <= 127 everywhere,
    # and the constant-zero dimension encodes to 0
    mx = codes.select(
        F.max(F.array_max(
            F.transform(F.col("sq8"), lambda c: F.abs(c.cast("long")))
        )).alias("m")
    ).collect()[0]["m"]
    assert mx <= 127
    assert codes.filter(
        F.element_at(F.col("sq8"), 6).cast("long") != 0
    ).count() == 0

    got = sorted(map(tuple, sq8_adc_topk(queries, codes, scales,
                                         k=5).collect()))
    want = sorted(map(tuple, brute_force_topk(
        queries, sq8_decode(codes, scales), k=5
    ).withColumnRenamed("cosine", "cosine_sq8").collect()))
    assert got == want and got

    # the all-zero vector reconstructs to r = 0 and never ranks
    assert all(r[1] != 100 for r in got)


def test_ivf_sq8_full_probe_equals_flat_sq8(spark):
    """The recall-oracle identity for the IVF-SQ8 composition: probing
    EVERY list returns exactly the flat sq8_adc_topk answer — the
    coarse tier only prunes, the scalar grid is untouched.  And the
    build is the documented one-pass shape: (vec_id, list_id, tinyint
    codes, stored norm)."""
    import numpy as np

    from nr_rfc_dischargeobs_spark.extensions.similarity import (
        ivf_sq8_index, ivf_sq8_topk, prepare, sq8_adc_topk, sq8_scales,
    )

    rng = np.random.default_rng(23)
    rows = [(i, [float(x) for x in rng.uniform(-1, 1, size=8)])
            for i in range(60)]
    emb = _emb(spark, rows)
    prep = prepare(emb)
    coarse = prep.filter(F.col("vec_id") < 4)
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in coarse.select("vec_id", "q").collect()
    ]
    corpus = prep.filter(F.col("vec_id") >= 10)
    queries = prep.filter((F.col("vec_id") >= 4) & (F.col("vec_id") < 10))

    scales = sq8_scales(corpus)
    index = ivf_sq8_index(corpus, coarse_rows, scales)
    assert set(index.columns) == {"vec_id", "list_id", "sq8", "r"}

    full = sorted(map(tuple, ivf_sq8_topk(
        queries, index, coarse, scales, k=5, nprobe=4
    ).collect()))
    flat = sorted(map(tuple, sq8_adc_topk(
        queries, index.drop("list_id"), scales, k=5
    ).collect()))
    assert full == flat and full

    # pruning at nprobe=1: every slate still full (each query finds
    # candidates in its own nearest list), every neighbor comes from
    # the probed list only
    pruned = ivf_sq8_topk(queries, index, coarse, scales, k=2, nprobe=1)
    per_q = {}
    for r in pruned.collect():
        per_q.setdefault(int(r["query_id"]), []).append(int(r["rank"]))
    assert per_q and all(sorted(v) == list(range(1, len(v) + 1))
                         for v in per_q.values())
