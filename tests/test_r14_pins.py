"""r14 parity pins for the default-off fast-path knobs (VERDICT r13 #6/#8).

Each r13 optimization added an opt-in spelling that must be EXACTLY the
historical plan's output when enabled (``with_count``/``carry``,
``_fp_sets``, ``ivf_assign_local(nprobe>1)``).  The oracle rows
exercise the registered configurations only; these pins assert on ≡ off
for each knob directly, so a silent divergence in an unregistered
configuration cannot hide.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nr_rfc_dischargeobs_spark.extensions import dedup, similarity
from nr_rfc_dischargeobs_spark.extensions import text as textops


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "completely different content about spark engines"),
        (4, "the lazy dog sleeps while the quick brown fox jumps over"),
        (5, None),
        (6, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_with_count_parity(corpus):
    """with_count=True adds ONLY the n_sh column; every signature byte
    matches the default spelling, and n_sh equals the true per-doc
    distinct-shingle count."""
    sh = dedup.shingle_rows(corpus, n=3)
    base = {
        r["doc_id"]: tuple(r[f"mh{b}"] for b in range(4))
        for r in dedup.minhash_signatures(sh, bands=4).collect()
    }
    withc = dedup.minhash_signatures(sh, bands=4, with_count=True).collect()
    assert {
        r["doc_id"]: tuple(r[f"mh{b}"] for b in range(4)) for r in withc
    } == base
    true_sizes = {
        r["doc_id"]: r["n"]
        for r in sh.groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n"))
        .collect()
    }
    assert {r["doc_id"]: r["n_sh"] for r in withc} == true_sizes


def test_lsh_carry_parity(corpus):
    """carry=('n_sh',) threads the counts through the pair join without
    changing the pair set, and each carried value matches its doc's."""
    sigs = dedup.minhash_signatures(
        dedup.shingle_rows(corpus, n=3), bands=4, with_count=True
    )
    plain = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.lsh_candidate_pairs(sigs, bands=4).collect()
    }
    carried = dedup.lsh_candidate_pairs(
        sigs, bands=4, carry=("n_sh",)
    ).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in carried} == plain
    sizes = {r["doc_id"]: r["n_sh"] for r in sigs.collect()}
    for r in carried:
        assert r["n_sh_a"] == sizes[r["doc_a"]]
        assert r["n_sh_b"] == sizes[r["doc_b"]]


def test_winnow_fp_sets_parity(corpus):
    """_fp_sets=True (row-local array_distinct, no corpus-wide exchange)
    emits exactly the historical ``.select(doc, fp).distinct()`` rows."""
    historical = (
        textops.winnow_fingerprints(corpus, n=2, w=2)
        .select("doc_id", "fp")
        .distinct()
    )
    fast = textops.winnow_fingerprints(corpus, n=2, w=2, _fp_sets=True)
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, historical.collect())
    )
    # non-trivial case guard: the corpus must actually produce fps
    assert fast.count() > 0


def test_ivf_assign_local_nprobe_parity(spark):
    """nprobe>1 literal-fold probe ≡ the window spelling: same
    (vec_id, list_id) rows, same per-vector probe order semantics."""
    emb = spark.createDataFrame(
        [
            (i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
            for i in range(24)
        ],
        ["vec_id", "embedding"],
    )
    prep = similarity.prepare(emb)
    cents = prep.filter(F.col("vec_id") < 4)
    rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in cents.collect()
    ]
    vecs = prep.filter(F.col("vec_id") >= 4)
    for nprobe in (2, 3):
        window = {
            (r["vec_id"], r["list_id"])
            for r in similarity.ivf_assign(vecs, cents, nprobe).collect()
        }
        local = {
            (r["vec_id"], r["list_id"])
            for r in similarity.ivf_assign_local(vecs, rows, nprobe).collect()
        }
        assert local == window


def test_dsir_target_pred_parity(corpus):
    """The fused-counts fast path (one tokenization for both models) is
    bit-identical to the historical two-aggregation plan, for both the
    weights and the resample surfaces."""
    from nr_rfc_dischargeobs_spark.extensions import sampling

    pred = F.col("doc_id") % 2 == 0
    target = corpus.filter(pred)
    plain_w = sorted(
        map(tuple, sampling.dsir_log_ratio(corpus, target).collect())
    )
    fused_w = sorted(
        map(
            tuple,
            sampling.dsir_log_ratio(
                corpus, None, target_pred=pred
            ).collect(),
        )
    )
    assert fused_w == plain_w
    plain_s = sorted(
        map(tuple, sampling.dsir_resample(corpus, target, k=3).collect())
    )
    fused_s = sorted(
        map(
            tuple,
            sampling.dsir_resample(
                corpus, None, k=3, target_pred=pred
            ).collect(),
        )
    )
    assert fused_s == plain_s


def test_dsir_target_docs_and_target_pred_are_exclusive(corpus):
    """The predicate replaces the target frame: passing both (one would
    be silently ignored) or neither is an input error, for the weights
    and the resample surfaces."""
    from nr_rfc_dischargeobs_spark.extensions import sampling

    pred = F.col("doc_id") % 2 == 0
    target = corpus.filter(pred)
    for target_docs, target_pred in ((target, pred), (None, None)):
        with pytest.raises(ValueError, match="exactly one"):
            sampling.dsir_log_ratio(
                corpus, target_docs, target_pred=target_pred
            )
        with pytest.raises(ValueError, match="exactly one"):
            sampling.dsir_resample(
                corpus, target_docs, k=3, target_pred=target_pred
            )


def test_curate_rule_gate_matches_quality_scores(corpus):
    """rule_gate's single-tokenization spelling keeps the exact
    quality_scores kept-row set and values."""
    from nr_rfc_dischargeobs_spark.extensions import curate

    ref = (
        textops.quality_scores(corpus)
        .filter(
            (F.col("n_words") >= 3)
            & (F.col("n_words") <= 100)
            & (F.col("uniq_ratio") >= 0.2)
        )
        .select("doc_id", "n_words", "uniq_ratio")
    )
    got = curate.rule_gate(
        corpus, min_words=3, max_words=100, min_uniq=0.2
    ).select("doc_id", "n_words", "uniq_ratio")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, ref.collect())
    )


@pytest.mark.parametrize("col", ["n_words", "UNIQ_RATIO", "__toks"])
def test_rule_gate_rejects_a_column_it_would_add(corpus, col):
    """The gate adds n_words/uniq_ratio (and stages a private __toks);
    an input already carrying one must fail loudly, not come back with
    two columns of that name."""
    from nr_rfc_dischargeobs_spark.extensions import curate

    with pytest.raises(ValueError, match="already has column"):
        curate.rule_gate(corpus.withColumn(col, F.lit(1)), min_words=3)


def test_load_memo_shares_one_entry_per_normalized_dir(spark, sf_dir):
    """``dir`` and ``dir/`` (and ``dir/.``) are the same input: one scan
    plan, one memo entry."""
    from nr_rfc_dischargeobs_spark.plans import _SCAN_MEMO, load

    first = load(spark, sf_dir, "region")
    assert load(spark, sf_dir + "/", "region") is first
    assert load(spark, sf_dir + "/.", "region") is first
    # other tests may have memoized other dirs' ``region``: count only
    # entries that name this dir, spelled any way
    key = (os.path.normpath(sf_dir), "region")
    assert [
        k for k in _SCAN_MEMO[spark]
        if (os.path.normpath(k[0]), k[1]) == key
    ] == [key]
