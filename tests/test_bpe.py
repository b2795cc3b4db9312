"""BPE induction tests: the Spark trainer against a from-scratch Python
replica of the reference algorithm (Sennrich et al. 2016 get_stats /
merge loop), plus the semantic corners the string-replace formulation
must honor (greedy leftmost application, overlapping pair counting,
deterministic tie-break, early stop)."""

from __future__ import annotations

import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from nr_rfc_dischargeobs_spark.extensions import bpe


def _py_bpe(texts, n_merges, token_pattern="[a-z0-9]+"):
    """Reference trainer: classic (token,count) dict loop; symbols as
    tuples, overlapping pair counts, greedy leftmost merge, ties by
    (count desc, left asc, right asc)."""
    pat = re.compile(f"^{token_pattern}$")
    vocab: dict[tuple, int] = {}
    for t in texts:
        for tok in (t or "").lower().split(" "):
            if tok and pat.match(tok):
                key = tuple(tok)
                vocab[key] = vocab.get(key, 0) + 1
    merges = []
    for rank in range(1, n_merges + 1):
        stats: dict[tuple, int] = {}
        for syms, cnt in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                stats[p] = stats.get(p, 0) + cnt
        if not stats:
            break
        (a, b), c = min(
            stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, a, b, a + b, c))
        new_vocab: dict[tuple, int] = {}
        for syms, cnt in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == a
                    and syms[i + 1] == b
                ):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + cnt
        vocab = new_vocab
    seg = {}
    for syms, cnt in vocab.items():
        seg["".join(syms)] = (cnt, len(syms), " ".join(syms))
    return merges, seg


def test_bpe_matches_python_replica(spark):
    texts = [
        "the cat sat on the mat",
        "the cats sat",
        "a cat a mat a hat",
        "aaaa aaa the the the",
        "lower lowest low newer newest new",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    got = [tuple(r) for r in bpe.bpe_merges(docs, n_merges=8).collect()]
    want, _ = _py_bpe(texts, 8)
    assert got == want


def test_bpe_segmentation_matches_replica_and_rebuilds_tokens(spark):
    texts = ["banana bandana band an anna", "nan ban anna banana"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    out = {
        r["token"]: (r["cnt"], r["n_subwords"], r["segmentation"])
        for r in bpe.bpe_segment_vocab(docs, n_merges=5).collect()
    }
    _, want = _py_bpe(texts, 5)
    assert out == want
    # subwords concatenate back to the token — nothing lost or invented
    for tok, (_, _, seg) in out.items():
        assert seg.replace(" ", "") == tok


def test_bpe_greedy_leftmost_and_overlap_counting(spark):
    """'aaaa' holds three overlapping (a,a) pairs for COUNTING but only
    two non-overlapping merges for APPLICATION — the exact semantics of
    the reference implementation."""
    docs = spark.createDataFrame([(0, "aaaa")], ["doc_id", "text"])
    m = [tuple(r) for r in bpe.bpe_merges(docs, n_merges=2).collect()]
    assert m[0] == (1, "a", "a", "aa", 3)  # overlap-counted
    seg = bpe.bpe_segment_vocab(docs, n_merges=1).collect()[0]
    assert seg["segmentation"] == "aa aa"  # greedy leftmost, 2 merges
    # second learned merge is then (aa, aa)
    assert m[1] == (2, "aa", "aa", "aaaa", 1)


def test_bpe_tie_break_deterministic(spark):
    """Equal-count pairs resolve by (left asc, right asc) — 'ab' and
    'cd' both appear once; 'ab' wins."""
    docs = spark.createDataFrame([(0, "ab cd")], ["doc_id", "text"])
    m = [tuple(r) for r in bpe.bpe_merges(docs, n_merges=1).collect()]
    assert m == [(1, "a", "b", "ab", 1)]


def test_bpe_stops_when_pairs_exhausted(spark):
    """Asking for more merges than the corpus holds returns a shorter
    table, not an error or padding."""
    docs = spark.createDataFrame([(0, "ab ab cd")], ["doc_id", "text"])
    m = bpe.bpe_merges(docs, n_merges=50).collect()
    # 'ab' then 'cd' — after that every token is one symbol
    assert [r["merged"] for r in m] == ["ab", "cd"]


def test_bpe_alphabet_filter_excludes_tokens(spark):
    """Out-of-alphabet tokens (would collide with the <> sentinels) are
    excluded from training, not mangled."""
    docs = spark.createDataFrame(
        [(0, "ok ok <weird> t@g ok")], ["doc_id", "text"]
    )
    seg = bpe.bpe_segment_vocab(docs, n_merges=1).collect()
    assert {r["token"] for r in seg} == {"ok"}


def test_bpe_validation(spark):
    docs = spark.createDataFrame([(0, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="n_merges"):
        bpe.bpe_merges(docs, n_merges=0)


@given(
    corpora=st.lists(
        st.lists(
            st.text(alphabet="abc", min_size=1, max_size=6),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=5,
    ),
    k=st.integers(min_value=1, max_value=6),
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bpe_hypothesis_replica(spark, corpora, k):
    """Random tiny corpora over a 3-letter alphabet (maximally
    collision- and tie-prone) — merge table and segmentation both match
    the Python replica exactly."""
    texts = [" ".join(ws) for ws in corpora]
    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    got = [
        tuple(r)
        for r in bpe.bpe_merges(docs, n_merges=k).collect()
    ]
    want_m, want_seg = _py_bpe(texts, k)
    assert got == want_m
    got_seg = {
        r["token"]: (r["cnt"], r["n_subwords"], r["segmentation"])
        for r in bpe.bpe_segment_vocab(docs, n_merges=k).collect()
    }
    assert got_seg == want_seg


def test_bpe_segment_sql_survives_merge_exhaustion(spark):
    """When the corpus runs out of pairs before the merge budget, the
    DuckDB segmentation twin must carry the vocabulary forward (a CROSS
    JOIN against the empty argmax stage annihilated it — review
    finding) and stay identical to the Spark side."""
    import duckdb

    texts = [(0, "ab ab cd")]
    docs = spark.createDataFrame(texts, ["doc_id", "text"])
    got = sorted(
        tuple(r)
        for r in bpe.bpe_segment_vocab(docs, n_merges=5).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d AS SELECT 'ab ab cd' AS t"
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            bpe.bpe_segment_vocab_sql("SELECT t FROM d", n_merges=5)
        ).fetchall()
    )
    assert got == want
    assert {r[0] for r in got} == {"ab", "cd"}  # nothing annihilated
    # merge twin agrees too (2 productive merges, then exhaustion)
    m_spark = [
        tuple(r) for r in bpe.bpe_merges(docs, n_merges=5).collect()
    ]
    m_duck = [
        tuple(r)
        for r in con.execute(
            bpe.bpe_merges_sql("SELECT t FROM d", n_merges=5)
        ).fetchall()
    ]
    assert m_spark == m_duck and len(m_spark) == 2
