"""Extension-operator tests: dedup recall on planted duplicates, similarity
ranking sanity, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_CORRECT
from nr_rfc_dischargeobs_spark.extensions import (
    dedup,
    multimodal,
    similarity,
    text as textops,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        # near dup of 0: appended word keeps trigram Jaccard at 7/8, so a
        # 4-band r=1 LSH miss has probability (1/8)^4 ≈ 2e-4 (a mid-word
        # EDIT would drop trigram Jaccard to 0.4 — collision then a coin
        # flip, and the assertion below luck-dependent)
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "completely different content about spark engines"),
        (4, "The Quick  Brown Fox jumps over the lazy dog!"),  # fmt-only dup
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_clusters_find_planted_dup(corpus):
    clusters = {
        r["keep_doc_id"]: r["n_docs"]
        for r in dedup.exact_clusters(corpus).collect()
    }
    assert clusters[0] == 2  # docs 0 and 1 collapse
    assert clusters[3] == 1


def test_normalized_fingerprint_catches_format_only_dup(corpus):
    fp = {
        r["doc_id"]: r["fingerprint"]
        for r in textops.fingerprint(corpus).collect()
    }
    # lower + strip punct + collapse whitespace makes 4 ≡ 0
    assert fp[0] == fp[4]
    assert fp[0] != fp[3]


def test_normalized_fingerprint_equality(spark):
    df = spark.createDataFrame(
        [(0, "Hello,  World!"), (1, "hello world")], ["doc_id", "text"]
    )
    fp = {r["doc_id"]: r["fingerprint"] for r in textops.fingerprint(df).collect()}
    assert fp[0] == fp[1]


def test_minhash_lsh_recalls_near_dup(corpus):
    sigs = dedup.minhash_signatures(
        dedup.shingle_rows(corpus, n=3), bands=4
    )
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(sigs, bands=4).collect()
    }
    assert (0, 1) in pairs  # exact dup always collides
    assert (0, 2) in pairs  # 1-word-edit near dup shares most shingles
    assert (0, 3) not in pairs  # unrelated doc does not


def test_minhash_wide_family_extends_narrow_prefix(corpus):
    """The numbered-salt family extension must leave the historical ≤8
    slices byte-identical: slice h only reads chars [8h, 8h+8) of the
    concatenation, and the first two md5 calls are unchanged."""
    sh = dedup.shingle_rows(corpus, n=1)
    narrow = {
        r["doc_id"]: [r[f"mh{b}"] for b in range(8)]
        for r in dedup.minhash_signatures(sh, bands=8).collect()
    }
    wide = {
        r["doc_id"]: [r[f"mh{b}"] for b in range(8)]
        for r in dedup.minhash_signatures(sh, bands=16).collect()
    }
    assert narrow == wide
    with pytest.raises(ValueError, match="256"):
        dedup.minhash_signatures(sh, bands=64, rows_per_band=5)


def _planted_pairs(spark, n_pairs: int, shared: int, unique: int):
    """n_pairs doc pairs with |A∩B|=shared, |A|=|B|=shared+unique distinct
    namespaced tokens → Jaccard = shared/(shared+2·unique) per pair, and
    (near-)zero cross-pair overlap."""
    rows = []
    for i in range(n_pairs):
        common = [f"p{i}c{t}" for t in range(shared)]
        rows.append((2 * i, " ".join(common + [f"p{i}a{t}" for t in range(unique)])))
        rows.append((2 * i + 1, " ".join(common + [f"p{i}b{t}" for t in range(unique)])))
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.mark.parametrize("bands,rows_per_band", [(4, 2), (16, 4)])
def test_lsh_candidate_probability_curve(spark, bands, rows_per_band):
    """The banding S-curve 1−(1−s^r)^b on planted Jaccard-0.5 pairs —
    the statistical contract the (b, r) dial rests on, now testable past
    the old bands×r ≤ 8 cap (b=16/r=4 is the production 64-perm point).
    150 planted pairs → binomial sd ≈ 0.04; assert within ±0.12 (3σ)."""
    n_pairs, s = 150, 0.5
    docs = _planted_pairs(spark, n_pairs, shared=30, unique=15)  # J = 0.5
    sigs = dedup.minhash_signatures(
        dedup.shingle_rows(docs, n=1), bands=bands,
        rows_per_band=rows_per_band,
    )
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(sigs, bands=bands).collect()
    }
    hit = sum((2 * i, 2 * i + 1) in got for i in range(n_pairs)) / n_pairs
    want = 1 - (1 - s ** rows_per_band) ** bands
    assert abs(hit - want) < 0.12, (hit, want)


def test_lsh_hot_bucket_gate_drops_boilerplate_keeps_neardups(spark):
    """max_bucket: a viral boilerplate bucket (30 identical docs → one
    (band, sig) bucket in EVERY band) is dropped pre-join; a true
    near-dup pair elsewhere is untouched; and the default (gate off)
    still emits everything."""
    boiler = [(i, "subscribe to our newsletter for updates") for i in range(30)]
    near = [
        (100, "rare unique analytical content about rivers flowing north"),
        (101, "rare unique analytical content about rivers flowing south"),
    ]
    docs = spark.createDataFrame(boiler + near, ["doc_id", "text"])
    sigs = dedup.minhash_signatures(dedup.shingle_rows(docs, n=1), bands=4)
    gated = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(
            sigs, bands=4, max_bucket=10
        ).collect()
    }
    assert (100, 101) in gated
    assert not any(a < 30 and b < 30 for a, b in gated)
    ungated = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(sigs, bands=4).collect()
    }
    assert (0, 1) in ungated and (100, 101) in ungated
    assert len(ungated) == 30 * 29 // 2 + 1


def test_incremental_admission_screens_and_evidence(spark):
    """Cross-corpus admission: an exact copy is rejected with exact AND
    near evidence, a near-dup with near evidence only, a clean doc is
    admitted with both evidence columns NULL — and evidence points at
    the SMALLEST landed collider."""
    corpus = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "the quick brown fox jumps over the lazy dog"),  # dup in corpus
            (12, "completely different content about spark engines"),
        ],
        ["doc_id", "text"],
    )
    incoming = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),  # exact
            (101, "the quick brown fox jumps over the lazy dog tonight"),  # near
            (102, "entirely novel words never seen before anywhere"),  # clean
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["exact_dup_of"], r["near_dup_of"], r["admit"])
        for r in dedup.incremental_admission(
            incoming, corpus, bands=4, rows_per_band=1, n=3
        ).collect()
    }
    assert got[100] == (10, 10, False)  # min collider, not 11
    assert got[101][0] is None and got[101][1] == 10 and not got[101][2]
    assert got[102] == (None, None, True)


def test_jaccard_scores_ordering(corpus):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(corpus, threshold=0.0, n=1).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert 0.5 < pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs or pairs[(0, 3)] < 0.2


def test_simhash_near_dup_closer_than_unrelated(corpus):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(corpus).collect()}
    assert sh[0] == sh[1]  # identical docs → identical simhash

    def hamming(a, b):
        # signed two's-complement longs → 64-bit patterns
        return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")

    assert hamming(sh[0], sh[2]) <= hamming(sh[0], sh[3])
    # 64-bit width: unrelated docs must be FAR apart (a 16-bit hash caps
    # distance at 16, birthday-colliding at corpus scale)
    assert hamming(sh[0], sh[3]) > 16


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat is on the mat and it is happy"),
            (1, "el gato es de la casa y es feliz"),
            (2, "xyzzy plugh qwerty"),
        ],
        ["doc_id", "text"],
    )
    pred = {r["doc_id"]: r["predicted"] for r in textops.lang_id(df).collect()}
    assert pred[0] == "en"
    assert pred[1] == "es"
    assert pred[2] == "und"


def test_brute_force_topk_finds_identical_vector(spark):
    import math

    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (10, [1.0, 0.0, 0.0, 0.0]),  # identical to query 0
        (11, [0.9, 0.1, 0.0, 0.0]),
        (12, [-1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = similarity.prepare(df.filter(F.col("vec_id") == 0))
    c = similarity.prepare(df.filter(F.col("vec_id") >= 10))
    out = similarity.brute_force_topk(q, c, k=3).collect()
    by_rank = {r["rank"]: r for r in out}
    assert by_rank[1]["neighbor_id"] == 10
    assert by_rank[1]["cosine"] == pytest.approx(1.0, abs=1e-6)
    assert by_rank[2]["neighbor_id"] == 11
    assert by_rank[2]["cosine"] == pytest.approx(
        0.9 / math.sqrt(0.82), abs=1e-4
    )
    assert by_rank[3]["cosine"] == pytest.approx(-1.0, abs=1e-6)


def test_lsh_bucket_restricts_candidates(spark):
    vecs = [
        (0, [1.0, 1.0, 1.0, 1.0]),
        (10, [0.9, 0.9, 0.9, 0.9]),  # same bucket (all-positive)
        (11, [-1.0, -1.0, -1.0, -1.0]),  # different bucket
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = similarity.prepare(df.filter(F.col("vec_id") == 0))
    c = similarity.prepare(df.filter(F.col("vec_id") >= 10))
    out = similarity.lsh_bucketed_topk(q, c, k=5, bits=4).collect()
    ids = {r["neighbor_id"] for r in out}
    assert ids == {10}  # 11 pruned by the bucket, never scored


def test_deterministic_split_is_stable_under_appends(spark):
    from nr_rfc_dischargeobs_spark.extensions import sampling

    small = spark.createDataFrame([(i,) for i in range(100)], ["doc_id"])
    big = spark.createDataFrame([(i,) for i in range(300)], ["doc_id"])
    s1 = {
        r["doc_id"]: r["split"]
        for r in sampling.deterministic_split(small, "doc_id").collect()
    }
    s2 = {
        r["doc_id"]: r["split"]
        for r in sampling.deterministic_split(big, "doc_id").collect()
    }
    assert all(s2[k] == v for k, v in s1.items())  # appends never reassign
    frac = sum(1 for v in s2.values() if v == "train") / len(s2)
    assert 0.8 < frac < 1.0  # roughly the requested 0.9


def test_stratified_sample_rates_and_stability(spark):
    from nr_rfc_dischargeobs_spark.extensions import sampling

    rows = [(i, "en" if i % 2 == 0 else "fr") for i in range(400)]
    small = spark.createDataFrame(rows[:200], ["doc_id", "lang"])
    big = spark.createDataFrame(rows, ["doc_id", "lang"])
    rates = {"en": 0.25}
    k1 = {
        r["doc_id"]
        for r in sampling.stratified_sample(
            small, "doc_id", "lang", rates
        ).collect()
    }
    k2 = {
        r["doc_id"]
        for r in sampling.stratified_sample(
            big, "doc_id", "lang", rates
        ).collect()
    }
    assert k1 == {i for i in k2 if i < 200}  # appends never reassign
    en = sum(1 for i in k2 if i % 2 == 0) / 200
    assert 0.15 < en < 0.35  # ~25% of 'en' kept
    assert sum(1 for i in k2 if i % 2 == 1) == 200  # all 'fr' kept


def test_containment_catches_doc_in_doc_that_jaccard_misses(spark):
    """A short doc pasted into a long host: containment(inner→host) = 1.0
    while Jaccard is diluted below any sane threshold — the screen's whole
    reason to exist next to jaccard_pairs."""
    inner = "alpha beta gamma delta epsilon zeta"
    host = (
        "h0 h1 h2 h3 h4 h5 h6 h7 h8 h9 h10 h11 h12 h13 h14 h15 "
        + inner
        + " t0 t1 t2 t3 t4 t5 t6 t7 t8 t9 t10 t11 t12 t13 t14 t15"
    )
    docs = spark.createDataFrame(
        [(1, inner), (2, host), (3, "unrelated words entirely here")],
        ["doc_id", "text"],
    )
    got = {
        (r.inner_id, r.outer_id): r.containment
        for r in dedup.containment_pairs(docs, threshold=0.9, n=3).collect()
    }
    assert got == {(1, 2): 1.0}  # inner⊂host only; host not ⊂ inner
    # and Jaccard on the same pair is diluted far below its threshold
    jac = dedup.jaccard_pairs(docs, threshold=0.3, n=3).collect()
    assert not any({r.doc_a, r.doc_b} == {1, 2} for r in jac)


def test_token_mix_rates_budget_arithmetic(spark):
    """Pinned planner arithmetic: over-represented stratum gets the exact
    target/actual ratio, under-represented is capped at 1.0 (flagged by
    target > actual), unspecified stratum gets rate 0."""
    from nr_rfc_dischargeobs_spark.extensions import sampling

    docs = spark.createDataFrame(
        # en: 4 docs × 10 tokens = 40; fr: 1 doc × 5 = 5; zh: 2 × 10 = 20
        [(i, "en", "w " * 9 + "w") for i in range(4)]
        + [(10, "fr", "a b c d e")]
        + [(20, "zh", "z " * 9 + "z"), (21, "zh", "z " * 9 + "z")],
        ["doc_id", "lang", "text"],
    )
    out = {
        r.stratum: r
        for r in sampling.token_mix_rates(
            docs, targets={"en": 0.5, "fr": 0.25}, budget_tokens=40
        ).collect()
    }
    en = out["en"]  # target 20 of 40 actual → rate exactly 0.5
    assert (en.n_docs, en.n_tokens, en.target_tokens, en.rate) == (4, 40, 20, 0.5)
    fr = out["fr"]  # target 10 > 5 actual → capped at 1.0
    assert (fr.n_tokens, fr.target_tokens, fr.rate) == (5, 10, 1.0)
    zh = out["zh"]  # absent from spec → excluded
    assert (zh.target_tokens, zh.rate) == (0, 0.0)


def test_curate_corpus_gates_dedups_and_near_dedups(spark):
    from nr_rfc_dischargeobs_spark.extensions import curate

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (0, base),                      # kept
            (1, base + "!"),                # exact dup after normalize -> drop
            (2, base + " lambda"),          # near-dup of 0 (jaccard 10/11) -> drop
            (3, "short text"),              # quality gate: < 10 words
            (4, "word " * 20),              # uniq_ratio 1/20 < 0.2 -> drop
            (5, "one two three four five six seven eight nine ten"),  # kept
        ],
        ["doc_id", "text"],
    )
    kept = {r["doc_id"] for r in curate.curate_corpus(docs).collect()}
    assert kept == {0, 5}


def test_ngram_stats_counts_all_occurrences(spark):
    docs = spark.createDataFrame(
        [(0, "a b a b c"), (1, "a b x")], ["doc_id", "text"]
    )
    out = [(r["ngram"], r["n"]) for r in textops.ngram_stats(docs, n=2, top=3).collect()]
    # 'a b' occurs 3 times across docs (twice in doc 0 — occurrences, not
    # per-doc-distinct); ties break alphabetically
    assert out == [("a b", 3), ("b a", 1), ("b c", 1)]


def test_facet_stats_exact_means(spark):
    docs = spark.createDataFrame(
        [(0, "x y", "en", "s1"), (1, "x y z w", "en", "s1"), (2, "q", "fr", "s2")],
        ["doc_id", "text", "lang", "source"],
    )
    got = {
        (r["lang"], r["source"]): (r["n_docs"], r["avg_tokens"])
        for r in textops.facet_stats(docs).collect()
    }
    assert got[("en", "s1")] == (2, 3.0)
    assert got[("fr", "s2")] == (1, 1.0)


def test_lsh_single_bucket_equals_brute_force(spark):
    """bits=0 puts everything in ONE bucket, so the LSH path must reproduce
    exact brute-force top-k — the recall/cost dial's endpoint (the LSH twin
    of test_ivf_full_probe_equals_brute_force)."""
    import random

    rng = random.Random(13)
    vecs = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    q = similarity.prepare(df.filter(F.col("vec_id") < 6))
    c = similarity.prepare(df.filter(F.col("vec_id") >= 6))
    lsh = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.lsh_bucketed_topk(q, c, k=3, bits=0).collect()
    }
    bf = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.brute_force_topk(q, c, k=3).collect()
    }
    assert lsh == bf


def test_lsh_bucketed_topk_recall_on_testdata(spark):
    """Recall of the registered LSH path vs the brute-force oracle on the
    real embeddings table (the discipline the IVF path already has)."""
    emb = similarity.prepare(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    )
    q = emb.filter(F.col("vec_id") < 20)
    c = emb.filter(F.col("vec_id") >= 20)
    bf_top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in similarity.brute_force_topk(q, c, k=1).collect()
    }

    def recall(bits: int, probe_hamming: int) -> float:
        lsh_top1 = {
            r["query_id"]: r["neighbor_id"]
            for r in similarity.lsh_bucketed_topk(
                q, c, k=1, bits=bits, probe_hamming=probe_hamming
            ).collect()
        }
        return sum(
            lsh_top1.get(qid) == n for qid, n in bf_top1.items()
        ) / len(bf_top1)

    # measured on this data: 0.25 / 0.60 / 1.00 — floors with margin, and
    # the multi-probe dial must be monotone
    r0, r1, r2 = recall(4, 0), recall(4, 1), recall(4, 2)
    assert r0 >= 0.2
    assert r1 >= 0.5  # the registered configuration
    assert r2 >= 0.9
    assert r0 <= r1 <= r2


def test_ivf_pq_nprobe_recall_dial_on_testdata(spark):
    """Recall of the composed IVF-PQ path vs the PLAIN-ADC oracle on the
    real embeddings table: the coarse tier only prunes, so recall@1 must
    be monotone in nprobe and reach 1.0 when every list is probed (the
    same dial discipline as the LSH/IVF paths).  The baseline is
    pq_adc_topk, not brute force — the PQ reconstruction error is the
    codebook's property, not the coarse tier's."""
    emb = similarity.prepare(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    )
    cents = [
        (r["vec_id"], r["q"])
        for r in emb.filter(F.col("vec_id") < 8).collect()
    ]
    coarse = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 12))
    q = emb.filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    c = emb.filter(F.col("vec_id") >= 28)
    adc_top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in similarity.pq_adc_topk(
            q, similarity.pq_codes(c, cents), cents, k=1
        ).collect()
    }
    index = similarity.ivf_pq_index(c, coarse, cents)

    def recall(nprobe: int) -> float:
        top1 = {
            r["query_id"]: r["neighbor_id"]
            for r in similarity.ivf_pq_topk(
                q, index, coarse, cents, k=1, nprobe=nprobe
            ).collect()
        }
        return sum(
            top1.get(qid) == n for qid, n in adc_top1.items()
        ) / len(adc_top1)

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 <= r2 <= r4
    assert r2 >= 0.5  # the registered configuration (nprobe=2 of 4)
    assert r4 == 1.0  # all lists probed ≡ plain ADC


def test_lsh_neardup_subset_and_single_bucket_recall(spark):
    """The bucketed near-dup path must (a) emit only true near-dups —
    a subset of the exact all-pairs oracle — and (b) reproduce the oracle
    exactly at bits=0 (one bucket)."""
    emb = similarity.prepare(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").filter(
            F.col("vec_id") < 80
        )
    )
    exact_pairs = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.cosine_neardup_pairs(emb, threshold=0.3).collect()
    }
    lsh_pairs = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.lsh_neardup_pairs(
            emb, threshold=0.3, bits=4
        ).collect()
    }
    assert lsh_pairs <= exact_pairs
    one_bucket = {
        (r["vec_a"], r["vec_b"])
        for r in similarity.lsh_neardup_pairs(
            emb, threshold=0.3, bits=0
        ).collect()
    }
    assert one_bucket == exact_pairs


def test_ivf_full_probe_equals_brute_force(spark):
    """Probing every inverted list must reproduce exact brute-force top-k —
    the recall/cost dial's endpoint."""
    import random

    rng = random.Random(7)
    vecs = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    cent = similarity.prepare(df.filter(F.col("vec_id") < 4))
    q = similarity.prepare(
        df.filter((F.col("vec_id") >= 4) & (F.col("vec_id") < 10))
    )
    c = similarity.prepare(df.filter(F.col("vec_id") >= 10))
    ivf = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.ivf_topk(q, c, cent, k=3, nprobe=4).collect()
    }
    bf = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.brute_force_topk(q, c, k=3).collect()
    }
    assert ivf == bf


def test_ivf_partial_probe_prunes_but_keeps_list_local_hits(spark):
    """nprobe=1: every returned neighbor lives in the query's own nearest
    list — candidates outside probed lists are never scored."""
    vecs = [
        (0, [1.0, 0.0]),   # centroid A
        (1, [-1.0, 0.0]),  # centroid B
        (4, [0.9, 0.1]),   # query, nearest list A
        (10, [0.8, 0.2]),  # corpus in list A
        (11, [-0.9, 0.1]), # corpus in list B — must be pruned
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    cent = similarity.prepare(df.filter(F.col("vec_id") < 2))
    q = similarity.prepare(df.filter(F.col("vec_id") == 4))
    c = similarity.prepare(df.filter(F.col("vec_id") >= 10))
    out = similarity.ivf_topk(q, c, cent, k=5, nprobe=1).collect()
    assert {r["neighbor_id"] for r in out} == {10}


def test_multimodal_decode_is_deterministic(corpus):
    feat_cols = list(multimodal.FEATURE_FIELDS)
    blobs = multimodal.to_blob_table(corpus)
    out1 = {
        r["doc_id"]: tuple(r[c] for c in feat_cols)
        for r in multimodal.decode_features(blobs).collect()
    }
    out2 = {
        r["doc_id"]: tuple(r[c] for c in feat_cols)
        for r in multimodal.decode_features(blobs.repartition(4)).collect()
    }
    assert out1 == out2  # partition-layout independent
    assert len(out1[0]) == multimodal.FEATURE_DIM
    assert out1[0] == out1[1]  # same payload → same features
    assert out1[0] != out1[3]


def test_multimodal_byte_features_kernel():
    """Pin the kernel against hand-computed values, including the edges
    the DuckDB twin must agree on: empty payload, <4-byte header,
    non-ASCII bytes, NULL-as-empty."""
    f = multimodal.byte_features(b"\x01\x02\x03\x04\x05")
    assert f["header_u32"] == 0x01020304
    assert f["byte_sum"] == 15
    assert (f["byte_min"], f["byte_max"]) == (1, 5)
    assert f["n_control"] == 5
    assert f["n_high"] == 0
    assert f["weighted_sum"] == 1 * 1 + 2 * 2 + 3 * 3 + 4 * 4 + 5 * 5
    assert f["even_sum"] == 1 + 3 + 5
    # header zero-pads short payloads (big-endian, left-aligned)
    assert multimodal.byte_features(b"\xff")["header_u32"] == 0xFF000000
    assert multimodal.byte_features(b"")["byte_sum"] == 0
    assert multimodal.byte_features(b"")["header_u32"] == 0
    hi = multimodal.byte_features("é".encode())
    assert hi["n_high"] == 2  # UTF-8 'é' = 0xC3 0xA9, both >= 0x80


def test_multimodal_decode_matches_duckdb_on_edge_payloads(spark, tmp_path):
    """Cross-engine pin for the byte-feature oracle on inputs the driver
    corpus never exercises (it is all-ASCII): multi-byte UTF-8, an empty
    string, a short (<4-byte header) payload, and NULL text must all
    hash-match the DuckDB hex-arithmetic twin row-for-row."""
    import duckdb

    from nr_rfc_dischargeobs_spark.plans import extensions as ext_plans

    docs = spark.createDataFrame(
        [(0, ""), (1, "ab"), (2, "héllo ☃ wörld"), (3, "x"), (4, None)],
        "doc_id long, text string",
    )
    out = multimodal.decode_features(multimodal.to_blob_table(docs))
    got = sorted(map(tuple, out.collect()))

    pq = tmp_path / "d.parquet"
    docs.toPandas().to_parquet(pq)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}')")
    want = sorted(map(tuple, con.execute(
        ext_plans.MM_DECODE_FEATURES_SQL
    ).fetchall()))
    assert got == want


def test_multimodal_real_mode_raises(corpus):
    from py4j.protocol import Py4JJavaError

    blobs = multimodal.to_blob_table(corpus)
    with pytest.raises((NotImplementedError, Exception)) as exc_info:
        multimodal.decode_features(blobs, mode="real").collect()
    assert "NotImplementedError" in str(exc_info.value) or isinstance(
        exc_info.value, NotImplementedError
    )


def test_frame_sample_plan(spark):
    media = spark.createDataFrame([(0, 35), (1, 5)], ["doc_id", "n_frames"])
    out = multimodal.frame_sample_plan(media, every=10).collect()
    frames = {}
    for r in out:
        frames.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert sorted(frames[0]) == [0, 10, 20, 30]
    assert sorted(frames[1]) == [0]


def test_connected_components_transitive_chain(spark):
    from nr_rfc_dischargeobs_spark.extensions import dedup

    # chain 1-2-3 (no direct 1-3 edge) is ONE component; 10-11 another
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11)], ["doc_a", "doc_b"]
    )
    got = {
        r["node"]: r["label"]
        for r in dedup.connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def _union_find_labels(edges_rows):
    """Pure-Python oracle: node → min id of its connected component."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in list(parent)}


@pytest.mark.parametrize(
    "op", ["connected_components", "connected_components_star"]
)
def test_connected_components_match_union_find_on_mixed_forest(spark, op):
    """Each CC operator against a union-find oracle, in one call, on one
    disjoint union of the shapes that break label propagation: long
    chains with the minimum at the far end (and in the middle), stars
    rooted away from their minimum, cliques, pairs joined by a bridge,
    duplicated and reversed edges, self-loop-only nodes, and ids above
    2³².  One item per operator keeps each under the slow-tier line."""
    rows = []
    base = 1000
    for hops in (1, 2, 3, 7, 20):  # chains; the minimum is the LAST node
        ids = [base + hops - i for i in range(hops + 1)]
        rows += list(zip(ids, ids[1:]))
        base += 100
    mid = [base + abs(i - 10) * 2 + (i > 10) for i in range(21)]
    rows += list(zip(mid, mid[1:]))  # 20-hop chain, minimum in the middle
    rows += [(505, leaf) for leaf in (501, 502, 509, 503)]  # star off-min
    rows += [(leaf, 606) for leaf in (607, 601, 608)]  # star, reversed
    clique = [311, 305, 308, 302, 319]
    rows += [(a, b) for a in clique for b in clique if a < b]
    rows += [(21, 22), (23, 24), (22, 23)]  # two pairs merged by a bridge
    rows += [(41, 40), (41, 40), (40, 41), (42, 41), (41, 42)]  # dups
    rows += [(7, 7), (8, 8), (8, 8), (9, 9), (9, 10)]  # self-loops
    big = 1 << 32
    rows += [(big + 9, big + 3), (big + 3, 1 << 40), (big + 1, big + 2)]
    rows += [(big + 5, 77)]  # a >2³² node whose component min is small
    want = _union_find_labels(rows)
    # the oracle itself: 91 nodes; the 20-hop chain ends at its minimum
    assert len(want) == 91 and want[1420] == 1400 and want[big + 5] == 77

    edges = spark.createDataFrame(rows, "doc_a long, doc_b long")
    got = getattr(dedup, op)(edges).collect()
    assert len(got) == len(want)
    assert {r["node"]: r["label"] for r in got} == want


def test_connected_components_build_job_budget(spark):
    """Pin the round shape: building ``dedup_cc_clusters`` at sf0.01
    (the rounds run at build time) fires ≤ 12 Spark jobs, counted from
    the status tracker's job-id high-water mark as
    ``tools/profile_queries.py`` does.  The previous join + aggregate +
    ``limit(1).count()`` loop fired 42–44 (~9 per round); one window
    exchange and one checkpoint job per round fires 12 — the pair plan's
    AQE stages plus 2 jobs per round."""
    from nr_rfc_dischargeobs_spark.plans import extensions as plans, load

    load(spark, SF_CORRECT, "documents")  # the scan memo's schema job
    tracker = spark.sparkContext.statusTracker()

    def high_water() -> int:
        ids = tracker.getJobIdsForGroup(None)
        return max(ids) + 1 if ids else 0

    j0 = high_water()
    df = plans.dedup_cc_clusters(spark, SF_CORRECT)
    jobs = high_water() - j0
    assert jobs <= 12, jobs
    assert df.count() == 70


def test_connected_components_star_matches_min_label(spark):
    """Large-star/small-star returns the SAME labeling as min-label
    propagation on every graph shape that distinguishes the algorithms:
    chains (diameter stress), stars, merged components, and a mixed
    forest."""
    from nr_rfc_dischargeobs_spark.extensions import dedup

    cases = [
        [(2, 1), (2, 3), (10, 11)],  # chain + separate pair
        [(5, 1), (5, 2), (5, 3)],  # star rooted off-min
        [(1, 2), (3, 4), (2, 3)],  # two pairs merged by a bridge
        [(i, i + 1) for i in range(1, 20)],  # 20-node path
        [(7, 3), (3, 9), (9, 1), (20, 21), (22, 21), (40, 41)],
        [(7, 7), (1, 2)],  # self-loop-only node must survive as singleton
        [(5, 5)],  # pure self-loop graph
    ]
    for edges_rows in cases:
        edges = spark.createDataFrame(edges_rows, ["doc_a", "doc_b"])
        want = {
            r["node"]: r["label"]
            for r in dedup.connected_components(edges).collect()
        }
        got = {
            r["node"]: r["label"]
            for r in dedup.connected_components_star(edges).collect()
        }
        assert got == want, edges_rows


def test_connected_components_star_long_path_converges_fast(spark):
    """The reason the variant exists: a 64-node path needs 63 min-label
    hops but must star-converge within the O(log n) bound — run it with
    max_iter=8 (2·log₂ 64 would be 12; the observed count is 5) and
    check the single component."""
    from nr_rfc_dischargeobs_spark.extensions import dedup

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], ["doc_a", "doc_b"]
    )
    got = {
        r["node"]: r["label"]
        for r in dedup.connected_components_star(edges, max_iter=8).collect()
    }
    assert got == {i: 0 for i in range(65)}


def test_kmeans_lite_finds_planted_centroids(spark):
    from nr_rfc_dischargeobs_spark.extensions import similarity

    # two tight groups around (100,0) and (0,100); seeds = first 2 vecs
    vecs = [
        (0, [101, 1]), (2, [99, -1]), (4, [100, 2]),
        (1, [1, 99]), (3, [-1, 101]), (5, [0, 100]),
    ]
    prepared = spark.createDataFrame(
        [(i, q, sum(e * e for e in q)) for i, q in vecs],
        ["vec_id", "q", "n"],
    )
    cents = {
        r["vec_id"]: r["q"]
        for r in similarity.kmeans_lite(prepared, k=2, iters=2).collect()
    }
    assert cents[0] == [100, 1]   # mean of (101,1),(99,-1),(100,2) rounded
    assert cents[1] == [0, 100]   # mean of (1,99),(-1,101),(0,100)


def test_kmeans_trained_ivf_beats_arbitrary_seed_recall(spark):
    """End-to-end quantizer story: IVF with ONE Lloyd's round over seed
    centroids recalls at least as much of brute-force top-1 as IVF on the
    raw seeds — training can only tighten the lists on clustered data."""
    import random

    rng = random.Random(11)
    # three planted blobs in 8-d so training genuinely moves centroids
    def blob(center, n, base):
        return [
            (base + j, [round(c + rng.uniform(-0.05, 0.05), 3) for c in center])
            for j in range(n)
        ]

    centers = [[1, 0, 0, 0, 0, 0, 0, 0],
               [0, 1, 0, 0, 0, 0, 0, 0],
               [0, 0, 1, 0, 0, 0, 0, 0]]
    rows = blob(centers[0], 12, 0) + blob(centers[1], 12, 12) + blob(centers[2], 12, 24)
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    prep = similarity.prepare(df)
    queries = prep.filter(F.col("vec_id") % 12 == 5)
    corpus = prep.filter(F.col("vec_id") % 12 != 5)

    def top1(cents, nprobe):
        return {
            r["query_id"]: r["neighbor_id"]
            for r in similarity.ivf_topk(
                queries, corpus, cents, k=1, nprobe=nprobe
            ).collect()
        }

    bf = {
        r["query_id"]: r["neighbor_id"]
        for r in similarity.brute_force_topk(queries, corpus, k=1).collect()
    }
    seeds = prep.filter(F.col("vec_id") < 3)  # all from blob 0 — bad lists
    trained = similarity.kmeans_lite(prep, k=3, iters=2)
    recall_seed = sum(top1(seeds, 1).get(q) == n for q, n in bf.items())
    recall_trained = sum(top1(trained, 1).get(q) == n for q, n in bf.items())
    assert recall_trained == len(bf)  # trained lists: perfect top-1 recall
    assert recall_trained >= recall_seed


# ---------------------------------------------------------------------------
# rounds 12-13: PNG decode — the de-gated real-codec tier for the pure
# format
# ---------------------------------------------------------------------------


def test_png_pixels_hand_built_decode():
    """Decoder pinned against HAND-ASSEMBLED bytes (not encode_png —
    an encoder bug cannot cancel a decoder bug here): a 2×2 RGB image
    with filter 1 (Sub) on row 0 and filter 2 (Up) on row 1, filtered
    bytes computed by hand per the PNG spec."""
    import struct
    import zlib

    import numpy as np

    from nr_rfc_dischargeobs_spark.extensions.multimodal import (
        PNG_SIG, png_pixels,
    )

    # target image rows (RGB): [(10,20,30),(40,60,80)] / [(15,25,35),(55,75,95)]
    # row0 Sub:   10,20,30, then 40-10,60-20,80-30 = 30,40,50
    # row1 Up:    15-10,25-20,35-30 = 5,5,5, then 55-40,75-60,95-80 = 15,15,15
    raw = bytes([1, 10, 20, 30, 30, 40, 50,
                 2, 5, 5, 5, 15, 15, 15])

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    payload = (
        PNG_SIG
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    px = png_pixels(payload)
    want = np.array([[[10, 20, 30], [40, 60, 80]],
                     [[15, 25, 35], [55, 75, 95]]], dtype=np.uint8)
    assert px is not None and (px == want).all()

    # out-of-profile rejections: grayscale, 16-bit, interlaced
    for ihdr in (
        struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0),   # gray
        struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0),  # 16-bit
        struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 1),   # Adam7
    ):
        bad = (PNG_SIG + chunk(b"IHDR", ihdr)
               + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
        assert png_pixels(bad) is None
    # inflate-length mismatch (claims 2x2 but carries one scanline)
    short = (PNG_SIG
             + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0))
             + chunk(b"IDAT", zlib.compress(raw[:7]))
             + chunk(b"IEND", b""))
    assert png_pixels(short) is None


def test_decode_png_frame_fail_soft_and_features(spark):
    """The mapInPandas stage: valid payloads (every filter type, RGB
    and RGBA) decode to exact features; NULL/garbage/truncated emit
    png_ok=0 with NULL features, one row per input."""
    import numpy as np

    from nr_rfc_dischargeobs_spark.extensions.multimodal import (
        decode_png, encode_png,
    )

    a = (np.arange(6 * 4 * 3, dtype=np.int64) * 37 % 256).astype(
        np.uint8).reshape(6, 4, 3)
    b = (np.arange(5 * 3 * 4, dtype=np.int64) * 91 % 256).astype(
        np.uint8).reshape(5, 3, 4)
    pa, pb = encode_png(a), encode_png(b)
    rows = [
        (0, bytearray(pa), "image/png", len(pa)),
        (1, bytearray(pb), "image/png", len(pb)),
        (2, None, "image/png", None),
        (3, bytearray(b"garbage"), "image/png", 7),
        (4, bytearray(pa[:40]), "image/png", 40),
    ]
    blobs = spark.createDataFrame(
        rows, "doc_id long, blob binary, mime string, n_bytes long"
    )
    got = {r["doc_id"]: r.asDict() for r in decode_png(blobs).collect()}
    assert len(got) == 5

    for did, arr in ((0, a), (1, b)):
        flat = arr.reshape(-1).astype(np.int64)
        r = got[did]
        assert r["png_ok"] == 1
        assert (r["height"], r["width"], r["channels"]) == arr.shape
        assert r["n_pixels"] == arr.shape[0] * arr.shape[1]
        assert r["byte_sum"] == int(flat.sum())
        assert r["weighted_sum"] == int(
            ((np.arange(flat.size, dtype=np.int64) + 1) * flat).sum()
        )
    for did in (2, 3, 4):
        assert got[did]["png_ok"] == 0
        assert got[did]["width"] is None and got[did]["byte_sum"] is None


def test_png_pixels_gray_and_palette_profiles():
    """Profile widening (r12 + r13): 8-bit grayscale round-trips
    through encode_png; palette images decode through the PLTE lookup
    (hand-built bytes); gray+alpha decodes (r13); palette-index
    overflow and missing PLTE refuse."""
    import struct
    import zlib

    import numpy as np

    from nr_rfc_dischargeobs_spark.extensions.multimodal import (
        PNG_SIG, encode_png, png_pixels,
    )

    g = (np.arange(7 * 5, dtype=np.int64) * 53 % 256).astype(
        np.uint8).reshape(7, 5, 1)
    out = png_pixels(encode_png(g))
    assert out is not None and out.shape == (7, 5, 1)
    assert (out == g).all()

    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d)))

    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
    raw = bytes([0, 0, 1, 0, 2, 1])  # rows [0,1] / [2,1], filter 0
    head = chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
    good = (PNG_SIG + head + chunk(b"PLTE", plte)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    px = png_pixels(good)
    want = np.array([[[255, 0, 0], [0, 255, 0]],
                     [[0, 0, 255], [0, 255, 0]]], dtype=np.uint8)
    assert px is not None and (px == want).all()

    overflow = (PNG_SIG + head + chunk(b"PLTE", plte)
                + chunk(b"IDAT", zlib.compress(bytes([0, 0, 9, 0, 2, 1])))
                + chunk(b"IEND", b""))
    assert png_pixels(overflow) is None
    no_plte = (PNG_SIG + head + chunk(b"IDAT", zlib.compress(raw))
               + chunk(b"IEND", b""))
    assert png_pixels(no_plte) is None
    # gray+alpha (color type 4) decodes since r13 — hand-built bytes
    ga_head = chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 4, 0, 0, 0))
    ga = (PNG_SIG + ga_head
          + chunk(b"IDAT",
                  zlib.compress(bytes([0, 10, 20, 10, 20,
                                       0, 30, 40, 30, 40])))
          + chunk(b"IEND", b""))
    ga_px = png_pixels(ga)
    ga_want = np.array([[[10, 20], [10, 20]],
                        [[30, 40], [30, 40]]], dtype=np.uint8)
    assert ga_px is not None and (ga_px == ga_want).all()


def test_png_pixels_16bit_profiles():
    """r13 depth widening: 16-bit gray/gray+alpha/RGB/RGBA round-trip
    through encode_png (big-endian samples; filters on BYTES with the
    bytes-per-pixel left offset, per spec §9) and a hand-built 16-bit
    Sub-filtered image decodes against spec arithmetic; 16-bit palette
    and sub-byte depths refuse."""
    import struct
    import zlib

    import numpy as np

    from nr_rfc_dischargeobs_spark.extensions.multimodal import (
        PNG_SIG, encode_png, png_pixels,
    )

    rng = np.random.default_rng(7)
    for c in (1, 2, 3, 4):
        arr = rng.integers(0, 65536, size=(5, 4, c), dtype=np.uint16)
        out = png_pixels(encode_png(arr))
        assert out is not None and out.dtype == np.uint16
        assert out.shape == (5, 4, c) and (out == arr).all()

    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d)))

    # hand-built 1×2 16-bit grayscale, filter 1 (Sub): the left
    # neighbor for byte x is byte x-2 (bytes per pixel), NOT x-1 —
    # pixel0 = 0x0102 raw; pixel1 bytes = (0x03+0x01, 0x04+0x02)
    head = chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 16, 0, 0, 0, 0))
    img = (PNG_SIG + head
           + chunk(b"IDAT", zlib.compress(bytes([1, 1, 2, 3, 4])))
           + chunk(b"IEND", b""))
    px = png_pixels(img)
    assert px is not None and px.dtype == np.uint16
    assert px.reshape(-1).tolist() == [0x0102, 0x0406]

    # 16-bit palette is out of spec; sub-byte depths stay refused
    pal_head = chunk(b"IHDR", struct.pack(">IIBBBBB", 1, 1, 16, 3, 0, 0, 0))
    pal = (PNG_SIG + pal_head
           + chunk(b"PLTE", bytes([1, 2, 3]))
           + chunk(b"IDAT", zlib.compress(bytes([0, 0, 0])))
           + chunk(b"IEND", b""))
    assert png_pixels(pal) is None
    four_head = chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 1, 4, 0, 0, 0, 0))
    four = (PNG_SIG + four_head
            + chunk(b"IDAT", zlib.compress(bytes([0, 0x12])))
            + chunk(b"IEND", b""))
    assert png_pixels(four) is None


def test_png_pixels_adam7_hand_built():
    """r13 interlace widening: a hand-assembled 5×3 grayscale Adam7
    PNG decodes to the spec's pass lattice — pixel (x, y) = 10·y + x,
    streamed in pass order p1(0,0), p2(4,0), p4(2,0), p5(y=2 thirds),
    p6(odd columns of even rows), p7(row 1), with p3 empty (y0=4 ≥ h)
    contributing ZERO bytes.  A truncated interlaced stream and an
    unknown interlace method refuse; the byte-identical sequential
    image decodes to the same pixels."""
    import struct
    import zlib

    import numpy as np

    from nr_rfc_dischargeobs_spark.extensions.multimodal import (
        PNG_SIG, encode_png, png_pixels,
    )

    def chunk(t, d):
        return (struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d)))

    # pass streams for w=5, h=3, gray depth 8, all filter type 0
    raw = bytes(
        [0, 0]                      # p1: (0,0)
        + [0, 4]                    # p2: (4,0)
        + [0, 2]                    # p4: (2,0)   (p3 empty: y0=4 >= 3)
        + [0, 20, 22, 24]           # p5: (0,2) (2,2) (4,2)
        + [0, 1, 3] + [0, 21, 23]   # p6: odd cols of rows 0 and 2
        + [0, 10, 11, 12, 13, 14]   # p7: the whole of row 1
    )
    head = chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 3, 8, 0, 0, 0, 1))
    img = (PNG_SIG + head + chunk(b"IDAT", zlib.compress(raw))
           + chunk(b"IEND", b""))
    px = png_pixels(img)
    assert px is not None and px.shape == (3, 5, 1)
    want = np.array([[10 * y + x for x in range(5)] for y in range(3)])
    assert (px.reshape(3, 5) == want).all()

    # the same pixels through the encoder's Adam7 path agree
    enc = encode_png(want.astype(np.uint8).reshape(3, 5, 1),
                     interlace=True)
    assert (png_pixels(enc).reshape(3, 5) == want).all()

    # truncated pass stream: total length no longer matches the pass
    # plan → refuse (never a partial image)
    trunc = (PNG_SIG + head + chunk(b"IDAT", zlib.compress(raw[:-1]))
             + chunk(b"IEND", b""))
    assert png_pixels(trunc) is None

    # unknown interlace method refuses
    bad_head = chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 3, 8, 0, 0, 0, 2))
    bad = (PNG_SIG + bad_head + chunk(b"IDAT", zlib.compress(raw))
           + chunk(b"IEND", b""))
    assert png_pixels(bad) is None

    # interlaced PALETTE composes for free: the Adam7 scatter operates
    # on the index bytes BEFORE the PLTE lookup — same 5x3 lattice,
    # index (x, y) = (x + y) % 4 into a 4-entry palette
    idx = np.array([[(x + y) % 4 for x in range(5)] for y in range(3)],
                   dtype=np.uint8)
    plte = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120])
    praw = bytes(
        [0, int(idx[0, 0])] + [0, int(idx[0, 4])] + [0, int(idx[0, 2])]
        + [0] + [int(idx[2, x]) for x in (0, 2, 4)]
        + [0] + [int(idx[0, x]) for x in (1, 3)]
        + [0] + [int(idx[2, x]) for x in (1, 3)]
        + [0] + [int(idx[1, x]) for x in range(5)]
    )
    phead = chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 3, 8, 3, 0, 0, 1))
    pimg = (PNG_SIG + phead + chunk(b"PLTE", plte)
            + chunk(b"IDAT", zlib.compress(praw)) + chunk(b"IEND", b""))
    ppx = png_pixels(pimg)
    pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
    assert ppx is not None and (ppx == pal[idx]).all()


def test_jpeg_header_hand_built_and_refusals():
    """r13 JPEG header tier: a hand-assembled marker stream parses to
    the spec's big-endian fields (SOF2 → progressive, JFIF/Exif
    identifiers detected, fill bytes before markers tolerated,
    standalone RST/TEM markers skipped, SOS ends the walk); missing
    SOI, truncated segment lengths, truncated SOF, and SOF-less
    streams refuse."""
    import struct

    from nr_rfc_dischargeobs_spark.extensions.multimodal import jpeg_header

    def seg(marker, data):
        return bytes([0xFF, marker]) + struct.pack(">H", len(data) + 2) \
            + data

    sof = bytes([12]) + struct.pack(">HH", 480, 640) + bytes([3]) \
        + bytes([1, 0x22, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    img = (
        b"\xff\xd8"
        + b"\xff"                                   # fill byte
        + seg(0xE0, b"JFIF\x00" + bytes(7))
        + seg(0xE1, b"Exif\x00\x00" + bytes(11))
        + b"\xff\x01"                               # standalone TEM
        + seg(0xDB, bytes(65))
        + seg(0xC2, sof)                            # progressive frame
        + seg(0xC4, bytes(17))
        + seg(0xDA, bytes([3, 1, 0, 2, 0, 3, 0, 0, 63, 0]))
        + b"\x12\x34\x56"
        + b"\xff\xd9"
    )
    hdr = jpeg_header(img)
    assert hdr == {
        "width": 640, "height": 480, "channels": 3, "precision": 12,
        "progressive": 1, "n_segments": 5, "has_jfif": 1, "has_exif": 1,
    }

    # baseline SOF0, grayscale, no APPn identifiers
    sof1 = bytes([8]) + struct.pack(">HH", 16, 24) + bytes([1]) \
        + bytes([1, 0x11, 0])
    base = b"\xff\xd8" + seg(0xC0, sof1) + seg(0xDA, bytes([1, 1, 0, 0,
                                                            63, 0]))
    h2 = jpeg_header(base + b"\xff\xd9")
    assert h2["width"] == 24 and h2["height"] == 16
    assert h2["channels"] == 1 and h2["progressive"] == 0
    assert h2["has_jfif"] == 0 and h2["has_exif"] == 0

    assert jpeg_header(b"") is None
    assert jpeg_header(b"\x89PNG\r\n\x1a\n") is None          # not JPEG
    assert jpeg_header(b"\xff\xd8\xff\xd9") is None           # no SOF
    assert jpeg_header(b"\xff\xd8" + seg(0xC0, sof1[:4])) is None  # short SOF
    # segment length pointing past the payload refuses
    bad = b"\xff\xd8\xff\xc0\x00\xff" + bytes(4)
    assert jpeg_header(bad) is None
    # a non-marker byte where a marker must be refuses
    assert jpeg_header(b"\xff\xd8\x00\xc0" + bytes(8)) is None


def test_decode_jpeg_headers_fail_soft(spark):
    """The mapInPandas stage over fixture blobs: parsed payloads carry
    exact metadata, NULL/garbage payloads emit jpeg_ok=0 with NULL
    fields, one row per input — and the fixture generator's blobs
    parse to their generating arithmetic."""
    from nr_rfc_dischargeobs_spark.extensions.multimodal import (
        decode_jpeg_headers, jpeg_fixture_blobs,
    )

    ids = spark.createDataFrame(
        [(d,) for d in range(40)], "doc_id long"
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in decode_jpeg_headers(jpeg_fixture_blobs(ids)).collect()
    }
    assert len(got) == 40
    for d, r in got.items():
        assert r["jpeg_ok"] == 1
        assert r["width"] == (d * 7) % 300 + 16
        assert r["height"] == (d * 11) % 200 + 16
        assert r["channels"] == (1 if d % 5 == 0 else 3)
        assert r["precision"] == 8
        assert r["progressive"] == d % 2
        assert r["n_segments"] == 4 + (1 if d % 3 == 0 else 0)
        assert r["has_jfif"] == 1 and r["has_exif"] == (d % 3 == 0)

    broken = spark.createDataFrame(
        [(0, None, "image/jpeg", None),
         (1, bytearray(b"\xff\xd8\xff\xd9"), "image/jpeg", 4)],
        "doc_id long, blob binary, mime string, n_bytes long",
    )
    rows = {r["doc_id"]: r.asDict()
            for r in decode_jpeg_headers(broken).collect()}
    assert rows[0]["jpeg_ok"] == 0 and rows[0]["width"] is None
    assert rows[1]["jpeg_ok"] == 0 and rows[1]["n_segments"] is None
