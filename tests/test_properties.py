"""Property-based tests (hypothesis) for contracts the operators document:

- ``round_to_grid`` claims exact parity with pandas ``dt.round('5min')``
  (``operators/conform.py`` cites ``discharge_obs_pd.py:143``) — checked
  against pandas itself on generated timestamps, ties included;
- ``pii_scrub`` claims complete redaction — no pattern class survives in
  ``clean_text``, and counts cover everything planted;
- ``pack_assignments`` claims exact concat-and-chunk arithmetic — checked
  against an independent pure-Python packer on generated corpora.

Each example batches many generated cases into ONE small DataFrame so the
per-example Spark round-trip is paid once, not per case.
"""

from __future__ import annotations

import datetime as dt

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nr_rfc_dischargeobs_spark.extensions import packing, text
from nr_rfc_dischargeobs_spark.operators import conform

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

@given(micros=st.lists(
    st.integers(min_value=1_700_000_000_000_000, max_value=1_760_000_000_000_000),
    min_size=1, max_size=40,
))
@settings(**SETTINGS)
def test_round_to_grid_matches_pandas_round(spark, micros):
    from pyspark.sql import functions as F

    # force exact tie points into every example (the interesting branch)
    micros = micros + [
        micros[0] - micros[0] % 300_000_000 + 150_000_000,
        micros[0] - micros[0] % 600_000_000 + 450_000_000,
    ]
    stamps = [dt.datetime.utcfromtimestamp(us / 1e6) for us in micros]
    df = spark.createDataFrame([(t,) for t in stamps], "ts timestamp")
    got = [
        r.rounded
        for r in df.select(
            conform.round_to_grid(F.col("ts")).alias("rounded")
        ).collect()
    ]
    want = list(pd.Series(stamps).dt.round("5min"))
    assert [pd.Timestamp(g) for g in got] == want


@given(
    fillers=st.lists(
        st.text(alphabet="xyzw", min_size=1, max_size=6),
        min_size=1,
        max_size=8,
    ),
    user=st.text(alphabet="abc123", min_size=1, max_size=8),
    octets=st.tuples(*[st.integers(0, 255)] * 4),
)
@settings(**SETTINGS)
def test_pii_scrub_redaction_is_complete(spark, fillers, user, octets):
    ip = ".".join(str(o) for o in octets)
    doc = " ".join(fillers) + f" {user}@example.com then {ip} end"
    out = text.pii_scrub(
        spark.createDataFrame([(1, doc)], "doc_id long, text string")
    ).collect()[0]
    assert out.n_email >= 1 and out.n_ip >= 1
    assert f"{user}@example.com" not in out.clean_text
    assert f" {ip} " not in out.clean_text
    # scrubbing the scrubbed text finds nothing new — fixpoint
    again = text.pii_scrub(
        spark.createDataFrame(
            [(1, out.clean_text)], "doc_id long, text string"
        )
    ).collect()[0]
    assert (again.n_email, again.n_phone, again.n_ip) == (0, 0, 0)
    assert again.clean_text == out.clean_text


@given(
    token_counts=st.lists(st.integers(1, 50), min_size=1, max_size=60),
    budget=st.integers(8, 128),
)
@settings(**SETTINGS)
def test_pack_assignments_match_pure_python_packer(
    spark, token_counts, budget
):
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate(token_counts)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.shard, r.start_offset, r.seq_first, r.seq_last, r.n_seqs)
        for r in packing.pack_assignments(
            docs, budget=budget, shards=4
        ).collect()
    }
    # independent reference: group by the SAME portable hash shard (read
    # from the result), order by doc_id, run the concat-and-chunk layout
    shard_of = {d: got[d][0] for d in got}
    offsets: dict[int, int] = {}
    for d in sorted(got):
        start = offsets.get(shard_of[d], 0)
        n = token_counts[d]
        expect = (
            shard_of[d],
            start,
            start // budget,
            (start + n - 1) // budget,
            (start + n - 1) // budget - start // budget + 1,
        )
        assert got[d] == expect, d
        offsets[shard_of[d]] = start + n


@given(
    texts=st.lists(
        st.text(alphabet="abc xyz", min_size=0, max_size=60),
        min_size=1,
        max_size=25,
    )
)
@settings(**SETTINGS)
def test_entropy_bounds_and_classifier_score_bound(spark, texts):
    """Two documented invariants under fuzzed corpora: 0 ≤ entropy ≤
    log₂(n_tokens) (Shannon bound, within the 2⁻²⁰ integer-grid slack)
    and |classifier score| ≤ 10 (weights live in [−10, 10])."""
    import math

    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    ent = {r["doc_id"]: r for r in text.token_entropy(docs).collect()}
    for r in ent.values():
        if r["n_tokens"] == 0:
            assert r["entropy"] == 0.0
        else:
            assert -1e-6 <= r["entropy"]
            assert r["entropy"] <= math.log2(r["n_tokens"]) + 1e-6
    clf = text.hash_classifier(docs).collect()
    for r in clf:
        assert abs(r["score"]) <= 10.0
        assert abs(r["weight_sum"]) <= 10 * max(r["n_tokens"], 1)


@given(
    keys=st.lists(
        st.integers(min_value=0, max_value=10_000),
        min_size=1,
        max_size=60,
        unique=True,
    ),
    shards=st.integers(min_value=1, max_value=9),
)
@settings(**SETTINGS)
def test_shard_plan_partition_of_input(spark, keys, shards):
    """The layout is a PARTITION of the input: every key exactly once,
    shards within range, positions dense 0..n-1 per shard."""
    from nr_rfc_dischargeobs_spark.extensions import sampling

    docs = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    rows = sampling.shard_plan(docs, "doc_id", shards).collect()
    assert sorted(r["doc_id"] for r in rows) == sorted(keys)
    per: dict[int, list[int]] = {}
    for r in rows:
        assert 0 <= r["shard"] < shards
        per.setdefault(r["shard"], []).append(r["pos"])
    for poss in per.values():
        assert sorted(poss) == list(range(len(poss)))


@given(
    vecs=st.lists(
        st.lists(
            st.floats(
                min_value=-2.0,
                max_value=2.0,
                allow_nan=False,
                allow_infinity=False,
                width=32,
            ),
            min_size=4,
            max_size=4,
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_quantize_int8_grid_bound_holds_under_fuzz(spark, vecs):
    """|code| ≤ 127 for every dimension of every fuzzed vector — the
    audit column must never report an out-of-grid code."""
    from pyspark.sql import functions as F

    from nr_rfc_dischargeobs_spark.extensions import similarity

    emb = spark.createDataFrame(
        list(enumerate(vecs)), ["vec_id", "embedding"]
    )
    out = similarity.quantize_int8_stats(similarity.prepare(emb))
    assert out.filter(F.col("max_abs_code") > 127).count() == 0
    # the real reconstruction bound: err = e·127 − round(e·127/m)·m is
    # rounding-to-nearest-multiple-of-m, so |err| ≤ m/2 per dimension —
    # compute the per-dim scales m independently and assert against the
    # loosest (largest) one
    qmat = [[round(v * 100000) for v in vec] for vec in vecs]
    m_per_dim = [
        max(abs(q[j]) for q in qmat) for j in range(len(qmat[0]))
    ]
    bound = max(m_per_dim) / 2 + 1  # +1 for the round-half tie step
    assert out.filter(F.col("max_abs_err127") > bound).count() == 0


def _span_dedup_reference(corpus, n):
    """Pure-Python ExactSubstr reference: first (doc_id, pos) occurrence
    of each duplicated n-gram survives, later occurrences lose their
    tokens (overlaps union), docs rebuilt from survivors."""
    toks = {
        d: [t for t in (txt or "").lower().split(" ") if t]
        for d, txt in corpus
    }
    occs = {}
    for d in sorted(toks):
        ts = toks[d]
        for i in range(max(len(ts) - n + 1, 0)):
            occs.setdefault(tuple(ts[i:i + n]), []).append((d, i))
    removed = {}
    for gram, sites in occs.items():
        if len(sites) > 1:
            for d, i in sorted(sites)[1:]:
                removed.setdefault(d, set()).add(i)
    out = {}
    for d, ts in toks.items():
        starts = sorted(removed.get(d, ()))
        covered = set()
        for s in starts:
            covered.update(range(s, s + n))
        kept = [t for i, t in enumerate(ts) if i not in covered]
        # maximal spans: chain starts whose positions AND first-occ
        # coordinates are both consecutive
        firsts = {}
        for gram, sites in occs.items():
            ss = sorted(sites)
            for site in ss[1:]:
                if site[0] == d:
                    firsts[site[1]] = ss[0]
        n_max = 0
        prev = None
        for s in starts:
            f = firsts[s]
            if not (
                prev is not None
                and s == prev[0] + 1
                and f[0] == prev[1][0]
                and f[1] == prev[1][1] + 1
            ):
                n_max += 1
            prev = (s, f)
        out[d] = (
            len(ts), len(starts), n_max,
            len(ts) - len(kept), " ".join(kept),
        )
    return out


@given(
    data=st.data(),
)
@settings(**SETTINGS)
def test_span_dedup_matches_python_reference(spark, data):
    """Both span modes against the brute-force Python oracle on random
    corpora with planted repetition: gram counts, maximal chains, token
    removal, and the rebuilt text all agree exactly — the interval-merge
    rebuild must be semantics-neutral on arbitrary overlap patterns."""
    vocab = ["a", "b", "c", "d"]
    n = data.draw(st.integers(min_value=2, max_value=4), label="n")
    docs = data.draw(
        st.lists(
            st.lists(st.sampled_from(vocab), min_size=0, max_size=18),
            min_size=1,
            max_size=8,
        ),
        label="docs",
    )
    corpus = [(i, " ".join(ts)) for i, ts in enumerate(docs)]
    want = _span_dedup_reference(corpus, n)
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    got_gram = {
        r["doc_id"]: r for r in text.span_dedup(df, n=n).collect()
    }
    got_max = {
        r["doc_id"]: r
        for r in text.span_dedup(df, n=n, spans="maximal").collect()
    }
    for d, (n_tok, n_gram_spans, n_max_spans, n_rm, clean) in want.items():
        g, m = got_gram[d], got_max[d]
        assert g["n_tokens"] == m["n_tokens"] == n_tok
        assert g["n_spans_removed"] == n_gram_spans
        assert m["n_spans_removed"] == n_max_spans
        assert g["n_tokens_removed"] == m["n_tokens_removed"] == n_rm
        assert g["clean_text"] == m["clean_text"] == clean


@settings(max_examples=30, deadline=None)
@given(
    h=st.integers(1, 11),
    w=st.integers(1, 11),
    c=st.sampled_from([1, 2, 3, 4]),
    depth=st.sampled_from([8, 16]),
    seed=st.integers(0, 2**31 - 1),
    interlace=st.booleans(),
)
def test_png_encode_decode_round_trip(h, w, c, depth, seed, interlace):
    """encode_png → png_pixels is the identity for every (h, w,
    gray/gray+alpha/RGB/RGBA) shape at both bit depths and both
    layouts (sequential + Adam7-interlaced — shapes
    under 8 px exercise empty passes) — the property that pins the
    five filter-reversal arms and the pass scatter against their
    forward twins over arbitrary pixel content (the hand-built-byte
    unit tests pin the decoder against the spec independently,
    including the 16-bit bytes-per-pixel offset and the Adam7 pass
    order)."""
    import numpy as np

    from nr_rfc_dischargeobs_spark.extensions.multimodal import (
        encode_png, png_pixels,
    )

    rng = np.random.default_rng(seed)
    if depth == 8:
        arr = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
    else:
        arr = rng.integers(0, 65536, size=(h, w, c), dtype=np.uint16)
    out = png_pixels(encode_png(arr, interlace=interlace))
    assert out is not None and out.shape == (h, w, c)
    assert out.dtype == arr.dtype and (out == arr).all()
