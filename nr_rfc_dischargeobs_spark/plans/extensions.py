"""Extension-operator plans (SURVEY.md §2.10) on ``documents``/``embeddings``
with DuckDB oracle twins.

Shared determinism rules: md5-based hashing (bytewise portable), integer
counts, and quantized-integer dot products (``extensions/similarity.py``) —
so every score column is bit-identical across engines.
"""

from __future__ import annotations

import contextlib as _contextlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..extensions import (
    bpe,
    contamination,
    diagnostics,
    curate,
    dedup,
    multimodal,
    packing,
    sampling,
    similarity,
    sketches,
    text as textops,
)
# release_plan_caches is re-exported: bench, perfbench and the tools
# import it from here.
from ..session import pin, release_plan_caches  # noqa: F401
from . import load

# ---------------------------------------------------------------- dedup


def dedup_exact_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash clusters with keeper doc."""
    return dedup.exact_clusters(load(spark, sf_dir, "documents"))


DEDUP_EXACT_CLUSTERS_SQL = """
SELECT md5(text) AS fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
"""


def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures over 3-word shingles, 4 bands."""
    sh = dedup.shingle_rows(load(spark, sf_dir, "documents"), n=3)
    return dedup.minhash_signatures(sh, bands=4)


DEDUP_MINHASH_SIGNATURES_SQL = """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split(lower(text), ' ')) - 2, 1) + 1),
           i -> concat_ws(' ', string_split(lower(text), ' ')[i],
                               string_split(lower(text), ' ')[i+1],
                               string_split(lower(text), ' ')[i+2])))) AS shingle
  FROM documents
)
SELECT doc_id,
       MIN(substr(md5(shingle) || md5('x' || shingle), 1, 8)) AS mh0,
       MIN(substr(md5(shingle) || md5('x' || shingle), 9, 8)) AS mh1,
       MIN(substr(md5(shingle) || md5('x' || shingle), 17, 8)) AS mh2,
       MIN(substr(md5(shingle) || md5('x' || shingle), 25, 8)) AS mh3
FROM sh GROUP BY doc_id
"""


def dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs: unigram min-hash, 2 bands (r=1), docs < 100."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    sigs = dedup.minhash_signatures(dedup.shingle_rows(docs, n=1), bands=2)
    return dedup.lsh_candidate_pairs(sigs, bands=2)


DEDUP_LSH_PAIRS_SQL = """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS shingle
  FROM documents WHERE doc_id < 100
), sig AS (
  SELECT doc_id,
         MIN(substr(md5(shingle) || md5('x' || shingle), 1, 8)) AS mh0,
         MIN(substr(md5(shingle) || md5('x' || shingle), 9, 8)) AS mh1
  FROM sh GROUP BY doc_id
), long AS (
  SELECT doc_id, 'mh0' AS band, mh0 AS sig FROM sig
  UNION ALL
  SELECT doc_id, 'mh1' AS band, mh1 AS sig FROM sig
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM long a JOIN long b ON a.band = b.band AND a.sig = b.sig
WHERE a.doc_id < b.doc_id
"""


def dedup_minhash_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-width MinHash banding — b=16, r=4 (64 permutations,
    the standard 0.8-Jaccard operating point; S-curve midpoint
    (1/16)^(1/4) ≈ 0.5) over 3-word shingles: the configuration the old
    bands×r ≤ 8 family cap could not express.  16 md5 calls per distinct
    shingle, one groupBy for all 64 mins."""
    sh = dedup.shingle_rows(load(spark, sf_dir, "documents"), n=3)
    return dedup.minhash_signatures(sh, bands=16, rows_per_band=4)


def _minhash_wide_sql() -> str:
    """b=16/r=4 oracle: the fixed-width-salt md5 family concatenated (16
    calls, 512 hex chars), 64 slice-mins, band sigs = md5 of the 4-row
    concat — generated, not hand-spelled, so b/r changes stay one-line."""
    salts = ["", "x"] + [f"x{j:03d}" for j in range(2, 16)]
    cat = " || ".join(
        f"md5('{s}' || shingle)" if s else "md5(shingle)" for s in salts
    )
    mins = ",\n       ".join(
        f"MIN(substr(__cat, {8 * h + 1}, 8)) AS h{h}" for h in range(64)
    )
    bandsigs = ",\n       ".join(
        "md5(concat_ws('|', {})) AS mh{}".format(
            ", ".join(f"h{4 * b + r}" for r in range(4)), b
        )
        for b in range(16)
    )
    return f"""
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split(lower(text), ' ')) - 2, 1) + 1),
           i -> concat_ws(' ', string_split(lower(text), ' ')[i],
                               string_split(lower(text), ' ')[i+1],
                               string_split(lower(text), ' ')[i+2])))) AS shingle
  FROM documents
), hashed AS (
  SELECT doc_id, {cat} AS __cat FROM sh
), mins AS (
  SELECT doc_id,
       {mins}
  FROM hashed GROUP BY doc_id
)
SELECT doc_id,
       {bandsigs}
FROM mins
"""


DEDUP_MINHASH_WIDE_SQL = _minhash_wide_sql()


def dedup_lsh_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs WITH the hot-bucket gate (max_bucket=20):
    same unigram/2-band banding as ``ext_dedup_lsh_pairs``, but (band,
    sig) buckets holding >20 docs — the boilerplate signatures that
    dominate Σ|bucket|² — are dropped before the self-join.  On this
    corpus the gate removes the 76/73/21-doc buckets and keeps the ≤15s,
    so the two registered queries pin both sides of the dial."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    sigs = dedup.minhash_signatures(dedup.shingle_rows(docs, n=1), bands=2)
    return dedup.lsh_candidate_pairs(sigs, bands=2, max_bucket=20)


DEDUP_LSH_PAIRS_CAPPED_SQL = """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS shingle
  FROM documents WHERE doc_id < 100
), sig AS (
  SELECT doc_id,
         MIN(substr(md5(shingle) || md5('x' || shingle), 1, 8)) AS mh0,
         MIN(substr(md5(shingle) || md5('x' || shingle), 9, 8)) AS mh1
  FROM sh GROUP BY doc_id
), long AS (
  SELECT doc_id, 'mh0' AS band, mh0 AS sig FROM sig
  UNION ALL
  SELECT doc_id, 'mh1' AS band, mh1 AS sig FROM sig
), kept AS (
  SELECT band, sig FROM long GROUP BY 1, 2 HAVING COUNT(*) <= 20
), gated AS (
  SELECT long.doc_id, long.band, long.sig
  FROM long JOIN kept USING (band, sig)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM gated a JOIN gated b ON a.band = b.band AND a.sig = b.sig
WHERE a.doc_id < b.doc_id
"""


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus admission screen: every 5th document plays the
    incoming crawl batch, the rest the landed corpus; each incoming doc
    is admitted iff it has no exact (fingerprint) and no near (any
    shared MinHash band over 3-word shingles, b=4/r=2) duplicate among
    the landed docs — the continuous-ingest posture as a batch plan.
    r=2, not 1: on this corpus r=1 candidates 69 % of the batch
    (baseline 3-gram overlap), while the r=2 S-curve suppresses the
    sub-threshold mass to the 5 genuine near-dup family members."""
    docs = load(spark, sf_dir, "documents")
    return dedup.incremental_admission(
        docs.filter(F.col("doc_id") % 5 == 4),
        docs.filter(F.col("doc_id") % 5 != 4),
        bands=4,
        rows_per_band=2,
        n=3,
    )


# the empty-shingle filter mirrors shingle_rows' trim(shingle) != '' —
# without it a degenerate (empty/whitespace) doc manufactures one ''
# shingle in the oracle only and falsely near-dup-collides with every
# other degenerate doc (the exact hazard shingle_rows' docstring fixed
# on the operator side)
_INC_SHINGLES = """
  SELECT doc_id, shingle FROM (
    SELECT doc_id, unnest(list_distinct(list_transform(
             range(1, greatest(len(string_split(lower(text), ' ')) - 2, 1) + 1),
             i -> concat_ws(' ', string_split(lower(text), ' ')[i],
                                 string_split(lower(text), ' ')[i+1],
                                 string_split(lower(text), ' ')[i+2])))) AS shingle
    FROM {side}
  ) WHERE trim(shingle) <> ''
""".strip()


def _minhash_sig_sql(sh: str, bands: int, rows_per_band: int) -> str:
    """Banded-signature CTE body over a shingle relation ``sh`` —
    GENERATED from (bands, rows_per_band) with the same fixed-width-salt
    md5 family as ``_minhash_wide_sql``, so the hash-family spelling
    lives in one parametric form instead of drifting across hand
    copies."""
    n_hashes = bands * rows_per_band
    n_calls = max(2, -(-n_hashes // 4))
    salts = ["", "x"] + [f"x{j:03d}" for j in range(2, n_calls)]
    cat = " || ".join(
        f"md5('{s}' || shingle)" if s else "md5(shingle)"
        for s in salts[:n_calls]
    )
    mins = ",\n           ".join(
        f"MIN(substr(__cat, {8 * h + 1}, 8)) AS h{h}"
        for h in range(n_hashes)
    )
    if rows_per_band == 1:
        bandsigs = ", ".join(f"h{b} AS mh{b}" for b in range(bands))
    else:
        bandsigs = ",\n         ".join(
            "md5(concat_ws('|', {})) AS mh{}".format(
                ", ".join(
                    f"h{b * rows_per_band + r}" for r in range(rows_per_band)
                ),
                b,
            )
            for b in range(bands)
        )
    return f"""
  SELECT doc_id,
         {bandsigs}
  FROM (
    SELECT doc_id,
           {mins}
    FROM (SELECT doc_id, {cat} AS __cat FROM {sh}) GROUP BY doc_id
  )
""".strip()


_INC_LONG = """
  SELECT doc_id, 'mh0' AS band, mh0 AS sig FROM {sig}
  UNION ALL SELECT doc_id, 'mh1', mh1 FROM {sig}
  UNION ALL SELECT doc_id, 'mh2', mh2 FROM {sig}
  UNION ALL SELECT doc_id, 'mh3', mh3 FROM {sig}
""".strip()

DEDUP_INCREMENTAL_SQL = f"""
WITH newd AS (
  SELECT * FROM documents WHERE doc_id % 5 = 4
), corp AS (
  SELECT * FROM documents WHERE doc_id % 5 <> 4
), fp_c AS (
  SELECT md5(text) AS fingerprint, MIN(doc_id) AS exact_dup_of
  FROM corp GROUP BY 1
), exact AS (
  SELECT nd.doc_id, fp_c.exact_dup_of
  FROM (SELECT doc_id, md5(text) AS fingerprint FROM newd) nd
  LEFT JOIN fp_c USING (fingerprint)
), sh_n AS (
{_INC_SHINGLES.format(side="newd")}
), sh_c AS (
{_INC_SHINGLES.format(side="corp")}
), sig_n AS (
{_minhash_sig_sql("sh_n", bands=4, rows_per_band=2)}
), sig_c AS (
{_minhash_sig_sql("sh_c", bands=4, rows_per_band=2)}
), long_n AS (
{_INC_LONG.format(sig="sig_n")}
), long_c AS (
{_INC_LONG.format(sig="sig_c")}
), near AS (
  SELECT n.doc_id, MIN(c.doc_id) AS near_dup_of
  FROM long_n n JOIN long_c c ON n.band = c.band AND n.sig = c.sig
  GROUP BY 1
)
SELECT d.doc_id, e.exact_dup_of, nr.near_dup_of,
       (e.exact_dup_of IS NULL AND nr.near_dup_of IS NULL) AS admit
FROM newd d
JOIN exact e USING (doc_id)
LEFT JOIN near nr USING (doc_id)
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (16-bit birthday-collides at ~300 docs)."""
    return dedup.simhash64(load(spark, sf_dir, "documents"))


DEDUP_SIMHASH_SQL = """
WITH tok AS (
  SELECT doc_id, md5(unnest(string_split(lower(text), ' '))) AS h
  FROM documents
), bits AS (
  SELECT doc_id, h, CAST(r.bit AS INT) AS bit,
         2 * (((strpos('0123456789abcdef', substr(h, (CAST(r.bit AS INT) // 4) + 1, 1)) - 1)
               // (1 << (CAST(r.bit AS INT) % 4))) % 2) - 1 AS contrib
  FROM tok CROSS JOIN (SELECT unnest(range(64)) AS bit) r
), s AS (
  SELECT doc_id, bit, SUM(contrib) AS s FROM bits GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN
                  CASE WHEN bit = 63 THEN -9223372036854775808
                       ELSE CAST(1 AS BIGINT) << bit END
                ELSE 0 END) AS BIGINT) AS simhash
FROM s GROUP BY doc_id
"""


def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-set Jaccard near-dup pairs ≥ 0.6 over docs < 80."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    return dedup.jaccard_pairs(docs, threshold=0.6, n=1)


DEDUP_JACCARD_PAIRS_SQL = """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS shingle
  FROM documents WHERE doc_id < 80
), sz AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
FROM inter
JOIN sz sa ON doc_a = sa.doc_id
JOIN sz sb ON doc_b = sb.doc_id
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.6
"""


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram containment pairs ≥ 0.4 over docs < 200 — the doc-in-doc
    screen (a pasted-in document scores ≈ 1 here while its Jaccard
    against the host is tiny)."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return dedup.containment_pairs(docs, threshold=0.4, n=3)


DEDUP_CONTAINMENT_SQL = """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks
  FROM documents WHERE doc_id < 200
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(toks) - 2, 1) + 1),
           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))) AS shingle
  FROM t
), sz AS (
  SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS inner_id, b.doc_id AS outer_id, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id != b.doc_id
  GROUP BY 1, 2
)
SELECT inner_id, outer_id,
       CAST(sa.n_sh AS BIGINT) AS n_inner,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(n_inter AS DOUBLE) / sa.n_sh AS containment
FROM inter JOIN sz sa ON inner_id = sa.doc_id
WHERE CAST(n_inter AS DOUBLE) / sa.n_sh >= 0.4
"""


def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the Jaccard ≥ 0.6 pair graph: every doc in
    a duplicate cluster labeled with the cluster's min doc_id (transitive —
    a chain A~B~C is ONE cluster even though A,C never pair directly)."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    edges = dedup.jaccard_pairs(docs, threshold=0.6, n=1)
    return dedup.connected_components(edges).select(
        F.col("node").alias("doc_id"), F.col("label").alias("component_id")
    )


DEDUP_CC_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS (
{DEDUP_JACCARD_PAIRS_SQL.strip().rstrip()}
), e AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
), reach(src, node) AS (
  SELECT DISTINCT a, a FROM e
  UNION
  SELECT r.src, e.b FROM reach r JOIN e ON r.node = e.a
)
SELECT src AS doc_id, MIN(node) AS component_id
FROM reach GROUP BY src
"""


def dedup_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the SAME Jaccard ≥ 0.6 pair graph via
    alternating large-star/small-star (Kiveris et al. SoCC 2014) — the
    O(log n)-rounds scale path for adversarial diameters, pinned to the
    identical labeling (and the identical recursive-CTE oracle) as the
    min-label plan above."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 80)
    edges = dedup.jaccard_pairs(docs, threshold=0.6, n=1)
    return dedup.connected_components_star(edges).select(
        F.col("node").alias("doc_id"), F.col("label").alias("component_id")
    )


DEDUP_CC_STAR_SQL = DEDUP_CC_CLUSTERS_SQL


def dedup_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ 0.3, vec_id < 150) via the
    LSH sign-bucketed path — candidates bounded by Σ|bucket|², never the
    |corpus|² cartesian (``similarity.cosine_neardup_pairs`` remains the
    brute-force recall oracle in tests)."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 150)
    return similarity.lsh_neardup_pairs(
        similarity.prepare(emb), threshold=0.3, bits=4
    )


_UNNEST_Q = """
  SELECT vec_id,
         CAST(ROUND(CAST(unnest(embedding) AS DOUBLE) * 100000, 0) AS BIGINT) AS e,
         unnest(range(64)) AS i
  FROM embeddings WHERE {pred}
""".strip()

# sign-bit sketch of the 4 leading quantized dims — the SQL twin of
# similarity.sign_bucket(bits=4)
_BUCKET_SQL = (
    "(CASE WHEN CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 100000, 0) AS BIGINT) > 0 THEN 1 ELSE 0 END"
    " + CASE WHEN CAST(ROUND(CAST(embedding[2] AS DOUBLE) * 100000, 0) AS BIGINT) > 0 THEN 2 ELSE 0 END"
    " + CASE WHEN CAST(ROUND(CAST(embedding[3] AS DOUBLE) * 100000, 0) AS BIGINT) > 0 THEN 4 ELSE 0 END"
    " + CASE WHEN CAST(ROUND(CAST(embedding[4] AS DOUBLE) * 100000, 0) AS BIGINT) > 0 THEN 8 ELSE 0 END)"
)

DEDUP_EMBEDDING_NEARDUP_SQL = f"""
WITH u AS (
{_UNNEST_Q.format(pred="vec_id < 150")}
), bkt AS (
  SELECT vec_id, {_BUCKET_SQL} AS bucket FROM embeddings WHERE vec_id < 150
), nrm AS (
  SELECT vec_id, SUM(e * e) AS n FROM u GROUP BY 1
), cand AS (
  SELECT ba.vec_id AS vec_a, bb.vec_id AS vec_b
  FROM bkt ba JOIN bkt bb
    ON ba.bucket = bb.bucket AND ba.vec_id < bb.vec_id
), d AS (
  SELECT vec_a, vec_b, SUM(a.e * b.e) AS dot
  FROM cand
  JOIN u a ON vec_a = a.vec_id
  JOIN u b ON vec_b = b.vec_id AND a.i = b.i
  GROUP BY 1, 2
)
SELECT vec_a, vec_b,
       CAST(dot AS DOUBLE) / (sqrt(CAST(na.n AS DOUBLE)) * sqrt(CAST(nb.n AS DOUBLE))) AS cosine
FROM d JOIN nrm na ON vec_a = na.vec_id JOIN nrm nb ON vec_b = nb.vec_id
WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na.n AS DOUBLE)) * sqrt(CAST(nb.n AS DOUBLE))) >= 0.3
"""

# ---------------------------------------------------------------- similarity


def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5: queries vec_id < 10 vs corpus vec_id ≥ 10."""
    emb = load(spark, sf_dir, "embeddings")
    queries = similarity.prepare(emb.filter(F.col("vec_id") < 10))
    corpus = similarity.prepare(emb.filter(F.col("vec_id") >= 10))
    return similarity.brute_force_topk(queries, corpus, k=5)


SIM_COSINE_TOPK_SQL = f"""
WITH uq AS (
{_UNNEST_Q.format(pred="vec_id < 10")}
), uc AS (
{_UNNEST_Q.format(pred="vec_id >= 10")}
), nq AS (SELECT vec_id, SUM(e * e) AS n FROM uq GROUP BY 1),
nc AS (SELECT vec_id, SUM(e * e) AS n FROM uc GROUP BY 1),
d AS (
  SELECT uq.vec_id AS query_id, uc.vec_id AS neighbor_id, SUM(uq.e * uc.e) AS dot
  FROM uq JOIN uc ON uq.i = uc.i GROUP BY 1, 2
), scored AS (
  -- n > 0 mirrors the engine's zero-norm exclusion (no cosine direction)
  SELECT query_id, neighbor_id,
         CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(nc.n AS DOUBLE))) AS cosine
  FROM d JOIN nq ON query_id = nq.vec_id JOIN nc ON neighbor_id = nc.vec_id
  WHERE nq.n > 0 AND nc.n > 0
)
SELECT query_id, neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank,
       cosine
FROM scored
QUALIFY rank <= 5
"""


def sim_lsh_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-3 (sign sketch of 4 leading dims, multi-probe
    at Hamming ≤ 1 — 60% top-1 recall vs 25% single-probe on this data,
    probing 5 of 16 buckets), queries < 20."""
    emb = load(spark, sf_dir, "embeddings")
    queries = similarity.prepare(emb.filter(F.col("vec_id") < 20))
    corpus = similarity.prepare(emb.filter(F.col("vec_id") >= 20))
    return similarity.lsh_bucketed_topk(
        queries, corpus, k=3, bits=4, probe_hamming=1
    )


SIM_LSH_BUCKETED_TOPK_SQL = f"""
WITH bq AS (
  SELECT vec_id, {_BUCKET_SQL} AS bucket FROM embeddings WHERE vec_id < 20
), bc AS (
  SELECT vec_id, {_BUCKET_SQL} AS bucket FROM embeddings WHERE vec_id >= 20
), uq AS (
{_UNNEST_Q.format(pred="vec_id < 20")}
), uc AS (
{_UNNEST_Q.format(pred="vec_id >= 20")}
), nq AS (SELECT vec_id, SUM(e * e) AS n FROM uq GROUP BY 1),
nc AS (SELECT vec_id, SUM(e * e) AS n FROM uc GROUP BY 1),
pairs AS (
  -- multi-probe at Hamming <= 1: the query's own bucket plus each
  -- single-bit flip (xor masks 1,2,4,8) — the twin of
  -- similarity.lsh_bucketed_topk(bits=4, probe_hamming=1)
  SELECT bq.vec_id AS query_id, bc.vec_id AS neighbor_id
  FROM bq JOIN bc ON bc.bucket IN (
    bq.bucket, xor(bq.bucket, 1), xor(bq.bucket, 2),
    xor(bq.bucket, 4), xor(bq.bucket, 8)
  )
), d AS (
  SELECT query_id, neighbor_id, SUM(uq.e * uc.e) AS dot
  FROM pairs
  JOIN uq ON query_id = uq.vec_id
  JOIN uc ON neighbor_id = uc.vec_id AND uq.i = uc.i
  GROUP BY 1, 2
), scored AS (
  SELECT query_id, neighbor_id,
         CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(nc.n AS DOUBLE))) AS cosine
  FROM d JOIN nq ON query_id = nq.vec_id JOIN nc ON neighbor_id = nc.vec_id
)
SELECT query_id, neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank,
       cosine
FROM scored
QUALIFY rank <= 3
"""

def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-3: 8 inverted lists (centroids = vec_id < 8), queries
    8 ≤ vec_id < 28 probing their 2 nearest lists, corpus vec_id ≥ 28."""
    emb = load(spark, sf_dir, "embeddings")
    centroids = similarity.prepare(emb.filter(F.col("vec_id") < 8))
    queries = similarity.prepare(
        emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 28))
    )
    corpus = similarity.prepare(emb.filter(F.col("vec_id") >= 28))
    return similarity.ivf_topk(queries, corpus, centroids, k=3, nprobe=2)


def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 audit of the registered IVF search against the exact
    baseline over the SAME query/corpus split — the per-query number an
    ANN deployment watches (set recall, rank-insensitive)."""
    emb = load(spark, sf_dir, "embeddings")
    centroids = similarity.prepare(emb.filter(F.col("vec_id") < 8))
    queries = similarity.prepare(
        emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 28))
    )
    # r14 (guide §2.2 reuse, VERDICT task 7): the corpus side feeds BOTH
    # the approx search (assignment + probed scoring) and the exact
    # baseline (brute-force scoring) — 5 scans of the embeddings table
    # in the un-shared plan.  Pin the prepared corpus once for the
    # audit; the recall audit is the one operator whose DEFINITION
    # evaluates the same corpus twice, so a shared materialized input is
    # the honest spelling at any scale
    # (audits run on bounded samples in production).
    corpus = pin(similarity.prepare(emb.filter(F.col("vec_id") >= 28)))
    approx = similarity.ivf_topk(queries, corpus, centroids, k=3, nprobe=2)
    exact = similarity.brute_force_topk(queries, corpus, k=3)
    return similarity.ann_recall(approx, exact)


def _sim_ann_recall_sql() -> str:
    """Recall oracle: the registered IVF SQL as the approx side, a
    same-split exact top-3 as ground truth (DuckDB allows CTEs inside
    derived tables, so the existing constant composes verbatim)."""
    exact = f"""
WITH uq AS (
{_UNNEST_Q.format(pred="vec_id >= 8 AND vec_id < 28")}
), uc AS (
{_UNNEST_Q.format(pred="vec_id >= 28")}
), nq AS (SELECT vec_id, SUM(e * e) AS n FROM uq GROUP BY 1),
nc AS (SELECT vec_id, SUM(e * e) AS n FROM uc GROUP BY 1),
d AS (
  SELECT uq.vec_id AS query_id, uc.vec_id AS neighbor_id,
         SUM(uq.e * uc.e) AS dot
  FROM uq JOIN uc ON uq.i = uc.i GROUP BY 1, 2
), scored AS (
  SELECT query_id, neighbor_id,
         CAST(dot AS DOUBLE)
         / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(nc.n AS DOUBLE)))
           AS cosine
  FROM d
  JOIN nq ON query_id = nq.vec_id AND nq.n > 0
  JOIN nc ON neighbor_id = nc.vec_id AND nc.n > 0
)
SELECT query_id, neighbor_id FROM scored
QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id ASC) <= 3
"""
    return f"""
WITH approx AS (
  SELECT query_id, neighbor_id FROM (
{SIM_IVF_TOPK_SQL}
  )
), exact AS (
  SELECT query_id, neighbor_id FROM (
{exact}
  )
), base AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
  FROM exact GROUP BY 1
), h AS (
  SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM exact e
  JOIN approx a
    ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
  GROUP BY 1
)
SELECT base.query_id, base.n_exact,
       COALESCE(h.n_hits, 0) AS n_hits,
       CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / base.n_exact AS recall
FROM base LEFT JOIN h ON base.query_id = h.query_id
"""


def sim_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-quantizer training: one Lloyd's iteration (k=8, first-k
    seeds) then assignment — per-cluster member counts.  The trained
    centroids are what ``ivf_topk`` consumes at scale; training state is
    re-quantized integers, so the oracle reproduces it exactly."""
    prep = similarity.prepare(load(spark, sf_dir, "embeddings"))
    # r13 A/B: the literal-fold spelling (kmeans_lite(assign="local") +
    # ivf_assign_local over the corpus) removes the crossJoin+window
    # exchanges but regenerates a near-64KB codegen method on every
    # bench invocation — measured [1.92, 2.17, 1.82] → [2.96, 3.28,
    # 3.27] s/pass at sf0.1: the compile cost exceeds the exchange it
    # saves at in-plan-train scale.  The window spelling stays; the
    # production tier for large list counts is ivf_assign_arrow (BLAS),
    # per its docstring.
    cents = similarity.kmeans_lite(prep, k=8, iters=1)
    assigned = similarity.ivf_assign(prep, cents, nprobe=1)
    return assigned.groupBy("list_id").agg(
        F.count(F.lit(1)).alias("n_members")
    ).select(F.col("list_id").alias("cluster_id"), "n_members")


SIM_KMEANS_CLUSTERS_SQL = f"""
WITH u AS (
{_UNNEST_Q.format(pred="TRUE")}
), nv AS (SELECT vec_id, SUM(e * e) AS n FROM u GROUP BY 1),
c0 AS (SELECT vec_id AS cid, e, i FROM u
       WHERE vec_id IN (SELECT DISTINCT vec_id FROM u
                        ORDER BY vec_id LIMIT 8)),
cn0 AS (SELECT cid, SUM(e * e) AS cn FROM c0 GROUP BY 1),
d1 AS (
  SELECT u.vec_id, c0.cid, nv.n + cn0.cn - 2 * SUM(u.e * c0.e) AS d
  FROM u JOIN c0 ON u.i = c0.i
  JOIN nv ON u.vec_id = nv.vec_id
  JOIN cn0 ON c0.cid = cn0.cid
  GROUP BY 1, 2, nv.n, cn0.cn
), a1 AS (
  SELECT vec_id, cid FROM d1
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
), c1 AS (
  SELECT a1.cid, u.i,
         CAST(ROUND(CAST(SUM(u.e) * 1 AS DOUBLE) / COUNT(u.e), 0)
              AS BIGINT) AS e
  FROM a1 JOIN u ON a1.vec_id = u.vec_id GROUP BY 1, 2
), cn1 AS (SELECT cid, SUM(e * e) AS cn FROM c1 GROUP BY 1),
d2 AS (
  SELECT u.vec_id, c1.cid, nv.n + cn1.cn - 2 * SUM(u.e * c1.e) AS d
  FROM u JOIN c1 ON u.i = c1.i
  JOIN nv ON u.vec_id = nv.vec_id
  JOIN cn1 ON c1.cid = cn1.cid
  GROUP BY 1, 2, nv.n, cn1.cn
), a2 AS (
  SELECT vec_id, cid FROM d2
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
)
SELECT cid AS cluster_id, COUNT(*) AS n_members FROM a2 GROUP BY cid
"""


SIM_IVF_TOPK_SQL = f"""
WITH ucent AS (
{_UNNEST_Q.format(pred="vec_id < 8")}
), uq AS (
{_UNNEST_Q.format(pred="vec_id >= 8 AND vec_id < 28")}
), uc AS (
{_UNNEST_Q.format(pred="vec_id >= 28")}
), ncent AS (SELECT vec_id, SUM(e * e) AS n FROM ucent GROUP BY 1),
nq AS (SELECT vec_id, SUM(e * e) AS n FROM uq GROUP BY 1),
nc AS (SELECT vec_id, SUM(e * e) AS n FROM uc GROUP BY 1),
qdist AS (
  SELECT uq.vec_id, ucent.vec_id AS list_id,
         nq.n + ncent.n - 2 * SUM(uq.e * ucent.e) AS d
  FROM uq JOIN ucent ON uq.i = ucent.i
  JOIN nq ON uq.vec_id = nq.vec_id
  JOIN ncent ON ucent.vec_id = ncent.vec_id
  GROUP BY 1, 2, nq.n, ncent.n
), qassign AS (
  SELECT vec_id AS query_id, list_id FROM qdist
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, list_id) <= 2
), cdist AS (
  SELECT uc.vec_id, ucent.vec_id AS list_id,
         nc.n + ncent.n - 2 * SUM(uc.e * ucent.e) AS d
  FROM uc JOIN ucent ON uc.i = ucent.i
  JOIN nc ON uc.vec_id = nc.vec_id
  JOIN ncent ON ucent.vec_id = ncent.vec_id
  GROUP BY 1, 2, nc.n, ncent.n
), cassign AS (
  SELECT vec_id AS neighbor_id, list_id FROM cdist
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, list_id) = 1
), pairs AS (
  SELECT query_id, neighbor_id FROM qassign JOIN cassign USING (list_id)
), d AS (
  SELECT query_id, neighbor_id, SUM(uq.e * uc.e) AS dot
  FROM pairs
  JOIN uq ON query_id = uq.vec_id
  JOIN uc ON neighbor_id = uc.vec_id AND uq.i = uc.i
  GROUP BY 1, 2
), scored AS (
  SELECT query_id, neighbor_id,
         CAST(dot AS DOUBLE) / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(nc.n AS DOUBLE))) AS cosine
  FROM d JOIN nq ON query_id = nq.vec_id JOIN nc ON neighbor_id = nc.vec_id
)
SELECT query_id, neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank,
       cosine
FROM scored
QUALIFY rank <= 3
"""

# ---------------------------------------------------------------- text


def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.token_counts(load(spark, sf_dir, "documents"))


TEXT_TOKEN_COUNTS_SQL = r"""
SELECT doc_id,
       len(regexp_split_to_array(text, '\s+')) AS ws_tokens,
       len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9 ])')) AS re_tokens,
       length(text) AS n_chars
FROM documents
"""


def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.quality_scores(load(spark, sf_dir, "documents"))


TEXT_QUALITY_SCORES_SQL = r"""
WITH t AS (
  SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM documents
)
SELECT doc_id,
       len(toks) AS n_words,
       len(list_distinct(toks)) AS n_distinct,
       CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS uniq_ratio,
       CAST(length(text) - len(toks) + 1 AS DOUBLE) / len(toks) AS mean_word_len,
       length(regexp_replace(text, '[^.,;:!?''"()-]', '', 'g')) AS n_punct,
       CAST(len(list_filter(toks, x -> list_contains(['the','a','of','and','is','to'], x))) AS DOUBLE)
         / len(toks) AS stopword_ratio
FROM t
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.lang_id(load(spark, sf_dir, "documents"))


def _lang_score_sql(lang: str) -> str:
    markers = ", ".join(f"'{m}'" for m in textops.LANG_MARKERS[lang])
    return (
        f"len(list_filter(string_split(lower(text), ' '), "
        f"x -> list_contains([{markers}], x)))"
    )


def text_lang_id_sql() -> str:
    langs = sorted(textops.LANG_MARKERS)
    scores = ",\n       ".join(
        f"{_lang_score_sql(lang)} AS s_{lang}" for lang in langs
    )
    best = "GREATEST(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    whens = "\n         ".join(
        f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in langs
    )
    return f"""
WITH scored AS (
  SELECT doc_id,
       {scores}
  FROM documents
)
SELECT doc_id, {", ".join(f"s_{lang}" for lang in langs)},
       CASE WHEN {best} > 0 THEN
         CASE {whens} END
       ELSE 'und' END AS predicted
FROM scored
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textops.fingerprint(load(spark, sf_dir, "documents"))


TEXT_FINGERPRINT_SQL = r"""
SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'),
                               '\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""

def text_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus bigrams, deterministic (count desc, ngram asc) order."""
    return textops.ngram_stats(load(spark, sf_dir, "documents"), n=2, top=20)


TEXT_NGRAM_STATS_SQL = """
WITH t AS (
  SELECT string_split(lower(text), ' ') AS toks FROM documents
), i AS (
  SELECT toks, unnest(range(len(toks) - 1)) AS i FROM t WHERE len(toks) >= 2
)
SELECT toks[i + 1] || ' ' || toks[i + 2] AS ngram, COUNT(*) AS n
FROM i GROUP BY 1 ORDER BY n DESC, ngram ASC LIMIT 20
"""


def text_facet_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language × source facet rollup: docs, chars, exact mean tokens."""
    return textops.facet_stats(load(spark, sf_dir, "documents"))


TEXT_FACET_STATS_SQL = """
SELECT lang, source, COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(SUM(len(string_split(lower(text), ' '))) AS DOUBLE) / COUNT(*)
         AS avg_tokens
FROM documents GROUP BY lang, source
"""

def text_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document-length percentiles (exact interpolation)."""
    return textops.length_profile(load(spark, sf_dir, "documents"))


TEXT_LENGTH_PROFILE_SQL = """
SELECT source, COUNT(*) AS n_docs,
       quantile_cont(CAST(n_chars AS DOUBLE), 0.25) AS p25,
       quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS p50,
       quantile_cont(CAST(n_chars AS DOUBLE), 0.9) AS p90,
       quantile_cont(CAST(n_chars AS DOUBLE), 0.99) AS p99
FROM documents GROUP BY source
"""

def sample_deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90/10 hash split of documents: per-split doc counts and char totals
    (stable under appends, identical in any engine)."""
    split = sampling.deterministic_split(
        load(spark, sf_dir, "documents"), "doc_id", train_frac=0.9
    )
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
    )


SAMPLE_DETERMINISTIC_SPLIT_SQL = f"""
SELECT CASE WHEN {sampling.hash_bucket_sql('doc_id')} < {int(0.9 * sampling.BUCKETS)}
            THEN 'train' ELSE 'val' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars
FROM documents GROUP BY 1
"""

_STRATA_RATES = {"en": 0.25, "zh": 0.5}


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix rebalance: keep 25% of dominant 'en', 50% of 'zh', all
    rare languages — per-language kept counts and char totals."""
    kept = sampling.stratified_sample(
        load(spark, sf_dir, "documents"),
        key="doc_id",
        stratum="lang",
        rates=_STRATA_RATES,
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum(F.length("text")).alias("total_chars"),
    )


SAMPLE_STRATIFIED_SQL = f"""
SELECT lang, COUNT(*) AS n_kept,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars
FROM documents
WHERE {sampling.stratified_sample_sql("doc_id", "lang", _STRATA_RATES)}
GROUP BY lang
"""

# the mix spec the planner query targets: an en-dominant training blend
# with zh deliberately absent (rate 0 — excluded strata path exercised)
_MIX_TARGETS = {"en": 0.5, "de": 0.2, "fr": 0.2, "es": 0.1}
_MIX_BUDGET = 20_000


def mix_token_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mix planning: per-language sampling rates that hit a
    50/20/20/10 en/de/fr/es token blend under a fixed budget (zh absent
    from the spec → rate 0)."""
    return sampling.token_mix_rates(
        load(spark, sf_dir, "documents"),
        targets=_MIX_TARGETS,
        budget_tokens=_MIX_BUDGET,
    )


MIX_TOKEN_RATES_SQL = sampling.token_mix_rates_sql(_MIX_TARGETS, _MIX_BUDGET)

# ---------------------------------------------------------------- curation


def curate_corpus_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline: quality gate → exact dedup →
    MinHash-LSH candidates → Jaccard-verified near-dup drop."""
    return curate.curate_corpus(
        load(spark, sf_dir, "documents"), cache_shingles=True,
    )


CURATE_CORPUS_SQL = r"""
WITH q AS (
  SELECT doc_id, text,
         len(string_split(lower(text), ' ')) AS n_words,
         len(list_distinct(string_split(lower(text), ' '))) AS n_distinct
  FROM documents
), gated AS (
  SELECT doc_id, text, n_words,
         CAST(n_distinct AS DOUBLE) / n_words AS uniq_ratio
  FROM q
  WHERE n_words BETWEEN 10 AND 5000
    AND CAST(n_distinct AS DOUBLE) / n_words >= 0.2
), fp AS (
  SELECT doc_id, text, n_words, uniq_ratio,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^\p{L}\p{N}\s]', '', 'g'),
                                 '\s+', ' ', 'g'))) AS fingerprint
  FROM gated
), ek AS (
  SELECT doc_id, text, n_words, uniq_ratio FROM fp
  QUALIFY ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(string_split(lower(text), ' ')) - 2, 1) + 1),
           i -> concat_ws(' ', string_split(lower(text), ' ')[i],
                               string_split(lower(text), ' ')[i+1],
                               string_split(lower(text), ' ')[i+2])))) AS shingle
  FROM ek
), hmin AS (
  SELECT doc_id,
         MIN(substr(md5(shingle) || md5('x' || shingle), 1, 8)) AS h0,
         MIN(substr(md5(shingle) || md5('x' || shingle), 9, 8)) AS h1,
         MIN(substr(md5(shingle) || md5('x' || shingle), 17, 8)) AS h2,
         MIN(substr(md5(shingle) || md5('x' || shingle), 25, 8)) AS h3,
         MIN(substr(md5(shingle) || md5('x' || shingle), 33, 8)) AS h4,
         MIN(substr(md5(shingle) || md5('x' || shingle), 41, 8)) AS h5,
         MIN(substr(md5(shingle) || md5('x' || shingle), 49, 8)) AS h6,
         MIN(substr(md5(shingle) || md5('x' || shingle), 57, 8)) AS h7
  FROM sh GROUP BY doc_id
), sig AS (
  SELECT doc_id,
         md5(h0 || '|' || h1) AS mh0, md5(h2 || '|' || h3) AS mh1,
         md5(h4 || '|' || h5) AS mh2, md5(h6 || '|' || h7) AS mh3
  FROM hmin
), lng AS (
  SELECT doc_id, 'mh0' AS band, mh0 AS sig FROM sig UNION ALL
  SELECT doc_id, 'mh1', mh1 FROM sig UNION ALL
  SELECT doc_id, 'mh2', mh2 FROM sig UNION ALL
  SELECT doc_id, 'mh3', mh3 FROM sig
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM lng a JOIN lng b ON a.band = b.band AND a.sig = b.sig
  WHERE a.doc_id < b.doc_id
), sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT doc_a, doc_b, COUNT(*) AS n_inter
  FROM cand
  JOIN sh sa ON cand.doc_a = sa.doc_id
  JOIN sh sb ON cand.doc_b = sb.doc_id AND sa.shingle = sb.shingle
  GROUP BY 1, 2
), dropped AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM inter JOIN sz za ON doc_a = za.doc_id JOIN sz zb ON doc_b = zb.doc_id
  WHERE CAST(n_inter AS DOUBLE) / (za.n_sh + zb.n_sh - n_inter) >= 0.8
)
SELECT doc_id, n_words, uniq_ratio FROM ek
WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
"""

# ---------------------------------------------------------------- multimodal


def mm_blob_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload metadata (blob column dropped for comparison — binary
    payloads are exercised in ``mm_decode_features`` and unit tests)."""
    blobs = multimodal.to_blob_table(load(spark, sf_dir, "documents"))
    return blobs.select("doc_id", "mime", "n_bytes")


MM_BLOB_STATS_SQL = """
SELECT doc_id, 'application/octet-stream' AS mime,
       octet_length(encode(text)) AS n_bytes
FROM documents
"""


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plan: every 10th 'frame' using n_chars as clip length."""
    media = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("n_frames")
    )
    return multimodal.frame_sample_plan(media, every=10)


MM_FRAME_SAMPLE_SQL = """
SELECT doc_id, CAST(unnest(range(0, n_chars, 10)) AS BIGINT) AS frame_idx
FROM documents
"""


def mm_resize_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize planning over synthetic image dims (derived deterministically
    from doc metadata): fit 256×256, aspect preserved, integer-exact."""
    media = load(spark, sf_dir, "documents").select(
        "doc_id",
        (640 + F.col("doc_id") % 640).alias("width"),
        (360 + F.col("n_chars") % 360).alias("height"),
    )
    return multimodal.resize_dims(media)


MM_RESIZE_DIMS_SQL = """
WITH media AS (
  SELECT doc_id, 640 + doc_id % 640 AS width, 360 + n_chars % 360 AS height
  FROM documents
)
SELECT doc_id, width, height,
       CASE WHEN width >= height THEN 256
            ELSE GREATEST((width * 256) // height, 1) END AS target_width,
       CASE WHEN width < height THEN 256
            ELSE GREATEST((height * 256) // width, 1) END AS target_height
FROM media
"""


def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode/feature stage: deterministic byte-feature
    kernel (header parse + integer byte statistics) — the one sanctioned
    Python eval node besides A2, now value-hash-oracled by a DuckDB
    hex-arithmetic twin instead of rows-only."""
    blobs = multimodal.to_blob_table(load(spark, sf_dir, "documents"))
    return multimodal.decode_features(blobs, mode="bytes")


# DuckDB twin of extensions/multimodal.byte_features: expand the UTF-8
# payload to one row per byte via hex()/substr() arithmetic, then aggregate
# the identical integer statistics.  LEFT JOIN keeps zero-length payloads
# (zero byte rows) with all-zero features, matching the kernel's n == 0 arm.
MM_DECODE_FEATURES_SQL = """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n_bytes
  FROM documents
), byt AS (
  SELECT doc_id, i,
         (strpos('0123456789ABCDEF', substr(hx, 2*i+1, 1)) - 1) * 16
         + strpos('0123456789ABCDEF', substr(hx, 2*i+2, 1)) - 1 AS byte
  FROM (SELECT doc_id, hx, unnest(range(n_bytes)) AS i FROM b)
), agg AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN i=0 THEN byte*16777216 WHEN i=1 THEN byte*65536
                       WHEN i=2 THEN byte*256 WHEN i=3 THEN byte
                       ELSE 0 END) AS BIGINT) AS header_u32,
         CAST(SUM(byte) AS BIGINT) AS byte_sum,
         CAST(MIN(byte) AS BIGINT) AS byte_min,
         CAST(MAX(byte) AS BIGINT) AS byte_max,
         CAST(SUM(CASE WHEN byte < 32 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_control,
         CAST(SUM(CASE WHEN byte >= 128 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_high,
         CAST(SUM((i + 1) * byte) AS BIGINT) AS weighted_sum,
         CAST(SUM(CASE WHEN i % 2 = 0 THEN byte ELSE 0 END) AS BIGINT)
           AS even_sum
  FROM byt GROUP BY doc_id
)
SELECT b.doc_id AS doc_id, 'application/octet-stream' AS mime,
       CAST(b.n_bytes AS BIGINT) AS n_bytes,
       COALESCE(header_u32, 0) AS header_u32,
       COALESCE(byte_sum, 0) AS byte_sum,
       COALESCE(byte_min, 0) AS byte_min,
       COALESCE(byte_max, 0) AS byte_max,
       COALESCE(n_control, 0) AS n_control,
       COALESCE(n_high, 0) AS n_high,
       COALESCE(weighted_sum, 0) AS weighted_sum,
       COALESCE(even_sum, 0) AS even_sum
FROM b LEFT JOIN agg ON b.doc_id = agg.doc_id
"""


def mm_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode, oracle-hashed end to end (round 12): each
    doc_id becomes a deterministic RGB/RGBA image
    (``multimodal.png_fixture_blobs`` — pixel byte k of doc d is
    ``(d·31 + k·7) mod 256``), encoded to a real PNG with cycling
    scanline filters, then decoded back by the stdlib-only
    :func:`~..extensions.multimodal.png_pixels` kernel
    (``decode_png`` — chunk walk, CRC checks, inflate, all five
    filter reversals) into exact-integer features.  The DuckDB twin
    recomputes those features from the id arithmetic alone, so a
    value-hash match proves the decoder inverted the encoder exactly
    — a channel swap, row flip, or filter slip changes
    ``weighted_sum``.  Compressed payload length is zlib-version-
    dependent, so ``mime``/``n_bytes`` stay out of the compared
    output."""
    ids = load(spark, sf_dir, "documents").select("doc_id")
    feats = multimodal.decode_png(multimodal.png_fixture_blobs(ids))
    return feats.select(
        "doc_id", "png_ok", "width", "height", "channels", "n_pixels",
        "byte_sum", "weighted_sum",
    )


MM_DECODE_PNG_SQL = """
WITH d AS (
  SELECT doc_id,
         doc_id % 5 + 2 AS w,
         doc_id % 3 + 2 AS h,
         CASE WHEN doc_id % 2 = 1 THEN 4 ELSE 3 END AS c
  FROM documents
), v AS (
  SELECT doc_id, w, h, c, k, (doc_id * 31 + k * 7) % 256 AS byte
  FROM (SELECT doc_id, w, h, c, unnest(range(w * h * c)) AS k FROM d)
)
SELECT d.doc_id AS doc_id,
       CAST(1 AS BIGINT) AS png_ok,
       CAST(d.w AS BIGINT) AS width,
       CAST(d.h AS BIGINT) AS height,
       CAST(d.c AS BIGINT) AS channels,
       CAST(d.w * d.h AS BIGINT) AS n_pixels,
       CAST(SUM(v.byte) AS BIGINT) AS byte_sum,
       CAST(SUM((v.k + 1) * v.byte) AS BIGINT) AS weighted_sum
FROM d JOIN v ON d.doc_id = v.doc_id
GROUP BY 1, 3, 4, 5, 6
"""


def mm_decode_png_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WIDENED PNG profile grid under the same end-to-end hash
    (round 13): deterministic images across every supported
    non-palette profile — gray / gray+alpha / RGB / RGBA, bit depth
    16 for every third doc (big-endian samples; scanline filters
    operate on bytes with the bytes-per-pixel left offset) — encoded
    with cycling filters and decoded back by
    :func:`~..extensions.multimodal.png_pixels`.  The DuckDB twin
    recomputes the per-SAMPLE features (``byte_sum``/``weighted_sum``
    are sample sums: bytes at depth 8, 16-bit words at depth 16) from
    the id arithmetic alone, so the hash proves the r13 decoder arms
    — gray+alpha channel interleave, 16-bit byte recombination, the
    2-or-more-byte filter offset — invert the encoder exactly."""
    ids = load(spark, sf_dir, "documents").select("doc_id")
    feats = multimodal.decode_png(
        multimodal.png_fixture_blobs_wide(ids)
    )
    return feats.select(
        "doc_id", "png_ok", "width", "height", "channels", "n_pixels",
        "byte_sum", "weighted_sum",
    )


MM_DECODE_PNG_WIDE_SQL = """
WITH d AS (
  SELECT doc_id,
         doc_id % 5 + 2 AS w,
         doc_id % 3 + 2 AS h,
         doc_id % 4 + 1 AS c,
         CASE WHEN doc_id % 3 = 0 THEN 16 ELSE 8 END AS depth
  FROM documents
), v AS (
  SELECT doc_id, w, h, c, k,
         CASE WHEN depth = 16 THEN (doc_id * 97 + k * 13) % 65536
              ELSE (doc_id * 31 + k * 7) % 256 END AS val
  FROM (SELECT doc_id, w, h, c, depth,
               unnest(range(w * h * c)) AS k FROM d)
)
SELECT d.doc_id AS doc_id,
       CAST(1 AS BIGINT) AS png_ok,
       CAST(d.w AS BIGINT) AS width,
       CAST(d.h AS BIGINT) AS height,
       CAST(d.c AS BIGINT) AS channels,
       CAST(d.w * d.h AS BIGINT) AS n_pixels,
       CAST(SUM(v.val) AS BIGINT) AS byte_sum,
       CAST(SUM((v.k + 1) * v.val) AS BIGINT) AS weighted_sum
FROM d JOIN v ON d.doc_id = v.doc_id
GROUP BY 1, 3, 4, 5, 6
"""


def mm_jpeg_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JPEG HEADER metadata extraction, oracle-hashed end to end
    (round 13): each doc_id becomes a structurally valid, deterministic
    JPEG header region (``multimodal.jpeg_fixture_blobs`` — JFIF APP0,
    an id-length Exif APP1 for every third doc so the walk must use
    the big-endian segment lengths, DQT, SOF0/progressive-SOF2 frame
    header carrying id-derived dimensions, DHT, SOS + entropy filler),
    and :func:`~..extensions.multimodal.jpeg_header` walks the real
    marker stream back into exact-integer metadata — the
    dimensions/components/progressive/Exif answers a curation pipeline
    extracts to filter and route images BEFORE any pixel decode.  The
    DuckDB twin recomputes every field from the id arithmetic alone,
    so the hash proves the parser read the actual byte layout; entropy
    decode stays honestly gated (``multimodal.py`` ``mode="real"``)."""
    ids = load(spark, sf_dir, "documents").select("doc_id")
    feats = multimodal.decode_jpeg_headers(
        multimodal.jpeg_fixture_blobs(ids)
    )
    return feats.select(
        "doc_id", "jpeg_ok", "width", "height", "channels", "precision",
        "progressive", "n_segments", "has_jfif", "has_exif",
    )


MM_JPEG_HEADERS_SQL = """
SELECT doc_id,
       CAST(1 AS BIGINT) AS jpeg_ok,
       CAST((doc_id * 7) % 300 + 16 AS BIGINT) AS width,
       CAST((doc_id * 11) % 200 + 16 AS BIGINT) AS height,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 3 END AS BIGINT)
         AS channels,
       CAST(8 AS BIGINT) AS precision,
       CAST(doc_id % 2 AS BIGINT) AS progressive,
       CAST(4 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS n_segments,
       CAST(1 AS BIGINT) AS has_jfif,
       CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS BIGINT)
         AS has_exif
FROM documents
"""


# -------------------------------------------- curation round-3 additions


def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gates per document: one boolean per rule plus
    the conjunction — the standard pre-training heuristic battery."""
    return textops.gopher_rules(load(spark, sf_dir, "documents"))


TEXT_GOPHER_RULES_SQL = r"""
WITH t AS (
  SELECT doc_id, text, string_split(lower(text), ' ') AS toks,
         string_split(text, chr(10)) AS lns
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_words,
         CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
           / len(toks) AS mean_wl,
         (length(text) - length(replace(text, '#', ''))
          + (length(text) - length(replace(text, '...', ''))) / 3)
           / len(toks) AS symbol_ratio,
         CAST(len(list_filter(lns, x -> ends_with(x, '...'))) AS DOUBLE)
           / len(lns) AS ellipsis_frac,
         CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
           AS DOUBLE) / len(toks) AS alpha_frac,
         len(list_filter(toks,
             x -> list_contains(['the','a','of','and','is','to'], x)))
           AS stop_hits
  FROM t
)
SELECT doc_id, n_words,
       n_words >= 5 AND n_words <= 100000 AS ok_word_count,
       mean_wl >= 3.0 AND mean_wl <= 10.0 AS ok_mean_word_len,
       symbol_ratio < 0.1 AS ok_symbol_ratio,
       ellipsis_frac < 0.3 AS ok_ellipsis_lines,
       alpha_frac >= 0.8 AS ok_alpha_words,
       stop_hits >= 2 AS ok_stopwords,
       (n_words >= 5 AND n_words <= 100000)
         AND (mean_wl >= 3.0 AND mean_wl <= 10.0)
         AND symbol_ratio < 0.1 AND ellipsis_frac < 0.3
         AND alpha_frac >= 0.8 AND stop_hits >= 2 AS gopher_pass
FROM m
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition screen: top-bigram occupancy + duplicate-line
    fraction (the Gopher duplicate-text rule family)."""
    return textops.repetition_stats(load(spark, sf_dir, "documents"), n=2)


TEXT_REPETITION_SQL = """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), i AS (
  SELECT doc_id, toks, unnest(range(len(toks) - 1)) AS i
  FROM t WHERE len(toks) >= 2
), g AS (
  SELECT doc_id, toks[i + 1] || ' ' || toks[i + 2] AS gram FROM i
), c AS (
  SELECT doc_id, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2
), r AS (
  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_grams,
         CAST(MAX(cnt) AS BIGINT) AS top_gram_n,
         CAST(MAX(cnt) AS DOUBLE) / SUM(cnt) AS top_gram_frac
  FROM c GROUP BY 1
), l AS (
  SELECT doc_id, CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
         CAST(len(string_split(text, chr(10)))
              - len(list_distinct(string_split(text, chr(10))))
           AS DOUBLE)
           / len(string_split(text, chr(10))) AS dup_line_frac
  FROM documents
)
SELECT doc_id, n_grams, top_gram_n, top_gram_frac, n_lines, dup_line_frac
FROM r JOIN l USING (doc_id)
"""


def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs (id ≥ 25) that share word
    4-grams with the held-out benchmark slice (id < 25).  n is sized down
    from the production-default 8 so the synthetic corpus exercises the
    operator; the plan shape is n-independent."""
    docs = load(spark, sf_dir, "documents")
    return contamination.ngram_contamination(
        docs.filter(F.col("doc_id") >= 25),
        docs.filter(F.col("doc_id") < 25),
        n=4,
    )


CONTAMINATION_NGRAM_SQL = """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), i AS (
  SELECT doc_id, toks, unnest(range(greatest(len(toks) - 4, 0) + 1)) AS i
  FROM t
), g AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i + 1:i + 4], ' ') AS gram
  FROM i
), bench AS (
  SELECT DISTINCT gram, doc_id AS bench_doc_id FROM g WHERE doc_id < 25
), corpus AS (
  SELECT doc_id, gram FROM g WHERE doc_id >= 25
), totals AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM corpus GROUP BY 1
), hits AS (
  SELECT doc_id,
         CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_contaminated,
         CAST(COUNT(DISTINCT bench_doc_id) AS BIGINT) AS n_bench_docs
  FROM corpus JOIN bench USING (gram) GROUP BY 1
)
SELECT doc_id, n_grams, n_contaminated, n_bench_docs,
       CAST(n_contaminated AS DOUBLE) / n_grams AS contamination
FROM hits JOIN totals USING (doc_id)
"""


def contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination audit trail: for every corpus/benchmark 4-gram
    collision, the implicated benchmark doc and the token-offset span in
    the corpus doc (same corpus/bench split and n as the count query)."""
    docs = load(spark, sf_dir, "documents")
    return contamination.contamination_spans(
        docs.filter(F.col("doc_id") >= 25),
        docs.filter(F.col("doc_id") < 25),
        n=4,
    )


CONTAMINATION_SPANS_SQL = """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), i AS (
  SELECT doc_id, toks, len(toks) AS n_toks,
         unnest(range(greatest(len(toks) - 4, 0) + 1)) AS i
  FROM t
), pos AS (
  SELECT doc_id, n_toks, i AS pos_first,
         md5(array_to_string(toks[i + 1:i + 4], ' ')) AS gram
  FROM i WHERE doc_id >= 25
), bench AS (
  SELECT DISTINCT md5(array_to_string(toks[i + 1:i + 4], ' ')) AS gram,
                  doc_id AS bench_doc_id
  FROM i WHERE doc_id < 25
)
SELECT p.doc_id AS doc_id, b.bench_doc_id AS bench_doc_id,
       CAST(p.pos_first AS BIGINT) AS pos_first,
       CAST(LEAST(p.pos_first + 3, p.n_toks - 1) AS BIGINT) AS pos_last,
       p.gram AS gram
FROM pos p JOIN bench b USING (gram)
"""


def decontam_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination gate: the fixed-memory (8 KiB filter)
    sibling of ``ext_contamination_ngram`` — same corpus/benchmark split
    and n=4, but the benchmark rides as a 2^16-bit literal filter and the
    corpus-side screen is a zero-join, zero-shuffle scan (plus the per-doc
    row emit).  n_flagged ≥ the exact screen's n_contaminated by
    construction (no false negatives)."""
    docs = load(spark, sf_dir, "documents")
    return contamination.bloom_decontamination(
        docs.filter(F.col("doc_id") >= 25),
        docs.filter(F.col("doc_id") < 25),
        n=4,
        m_bits=1 << 16,
        k=3,
    )


def _hex4_sql(h: str, j: int) -> str:
    """DuckDB-dialect base-16 value of md5-hex chars [4j, 4j+4) — the
    nibble-arithmetic twin of ``contamination._bloom_positions``.  ONE
    shared implementation of the hex arithmetic lives in
    ``sketches._hexval_sql``; this is a thin offset adapter, not a
    fork."""
    return sketches._hexval_sql(h, 4 * j + 1, 4)


def _decontam_bloom_sql() -> str:
    """Oracle via the position-set formulation: a gram is Bloom-flagged
    iff ALL k of its bit positions appear in the benchmark's position set
    — exactly the membership semantics of the packed filter, without
    replicating the bit-packing (m = 2^16 makes each 4-hex word its own
    position, so the mod is the identity).

    Degenerate-input parity with the operator (not just the current sf
    corpus): empty/whitespace-only text yields only all-empty grams,
    which the operator's ``trim(g) != ''`` filter drops on BOTH the
    screen and the :func:`~..extensions.contamination.bloom_build` side
    (``shingle_rows`` emits no shingles for degenerate docs) — the
    ``graw``→``g`` trim filter here is that same drop; and the operator
    is a GATE that emits a decision row for EVERY corpus doc including
    NULL-text ones, so the final select left-joins the per-doc
    aggregates back onto the corpus doc list with zero/false defaults.
    """
    pos = [_hex4_sql("h", j) for j in range(3)]
    cpos = "\n  UNION ALL ".join(
        f"SELECT doc_id, h, {p} AS p FROM g WHERE doc_id >= 25" for p in pos
    )
    bpos = "\n  UNION ".join(
        f"SELECT DISTINCT {p} AS p FROM g WHERE doc_id < 25" for p in pos
    )
    return f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
), i AS (
  SELECT doc_id, toks, unnest(range(greatest(len(toks) - 4, 0) + 1)) AS i
  FROM t
), graw AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i + 1:i + 4], ' ') AS s
  FROM i
), g AS (
  SELECT doc_id, md5(s) AS h FROM graw WHERE trim(s) <> ''
), bpos AS (
  {bpos}
), cpos AS (
  {cpos}
), flag AS (
  SELECT c.doc_id, c.h, bool_and(b.p IS NOT NULL) AS hit
  FROM cpos c LEFT JOIN bpos b ON c.p = b.p
  GROUP BY 1, 2
), agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(COUNT(*) FILTER (WHERE hit) AS BIGINT) AS n_flagged
  FROM flag GROUP BY 1
)
SELECT d.doc_id AS doc_id,
       COALESCE(a.n_grams, 0) AS n_grams,
       COALESCE(a.n_flagged, 0) AS n_flagged,
       CASE WHEN COALESCE(a.n_grams, 0) > 0
            THEN CAST(a.n_flagged AS DOUBLE) / a.n_grams
            ELSE 0.0 END AS flagged_frac,
       COALESCE(a.n_flagged, 0) > 0 AS flagged
FROM (SELECT doc_id FROM documents WHERE doc_id >= 25) d
LEFT JOIN agg a USING (doc_id)
"""


def sketch_hll_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary size via the deterministic-HLL sketch
    (p=8, 256 registers), with the exact COUNT(DISTINCT) audit columns
    on — the corpus-health query ("how big is each language's token
    space?") whose exact form is the worst shuffle in the building and
    whose sketch form moves ≤ 256 rows per language."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), " "), lambda t: t != ""
            )
        ).alias("token"),
    )
    return sketches.hll_cardinality(
        toks, key="token", facets=("lang",), p=8, exact_audit=True
    )


SKETCH_HLL_VOCAB_SQL = sketches.hll_cardinality_sql(
    source_sql=(
        "SELECT lang, tok FROM (\n"
        "    SELECT lang, unnest(string_split(lower(text), ' ')) AS tok\n"
        "    FROM documents\n"
        "  ) WHERE tok <> ''"
    ),
    key_sql="tok",
    facet_sql="lang",
    facet_name="lang",
    p=8,
)


def sketch_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency estimation over the corpus token stream: the
    d=4 × w=1024 counter table is built in one bounded aggregation, and
    every candidate token (here the distinct vocabulary — test-scale; at
    fleet scale the candidate set is whatever keys you need answered
    without a full GROUP BY) gets min-of-counters ≥ its true count.
    Exact audit columns prove the one-sided error bound row by row."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), " "), lambda t: t != ""
            )
        ).alias("token")
    )
    table = sketches.cms_table(toks, key="token", d=4, w=1024)
    est = sketches.cms_estimate(
        toks.distinct(), table, key="token", d=4, w=1024
    )
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_count"))
    return est.join(exact, "token").select(
        "token",
        "cms_estimate",
        "exact_count",
        (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
    )


SKETCH_CMS_HEAVY_SQL = sketches.cms_estimate_sql(
    source_sql=(
        "SELECT tok FROM (\n"
        "    SELECT unnest(string_split(lower(text), ' ')) AS tok\n"
        "    FROM documents\n"
        "  ) WHERE tok <> ''"
    ),
    key_sql="tok",
    candidate_sql="tok",
    d=4,
    w=1024,
)


def sketch_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length quantiles (p25/p50/p75/p95/p99) on a
    fixed 64-bin [0, 1024) grid — the length-distribution health check a
    fleet runs per snapshot, exact to 16-char bin resolution with no
    global sort and ≤ 64 shuffled rows per language."""
    docs = load(spark, sf_dir, "documents")
    return sketches.histogram_quantiles(
        docs,
        col="n_chars",
        lo=0,
        hi=1024,
        bins=64,
        quantiles=(25, 50, 75, 95, 99),
        facets=("lang",),
    )


def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 PMI collocations (min pair count 5) over the corpus —
    integer-grid log terms so ranking and values are bit-stable in any
    engine; the min_count gate prunes the pair tail before its joins."""
    return textops.collocations(
        load(spark, sf_dir, "documents"),
        min_count=5,
        k=30,
    )


TEXT_COLLOCATIONS_SQL = textops.collocations_sql(
    "SELECT text AS t FROM documents", min_count=5, k=30
)


def diag_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew report over events.user_id — the top-10 heaviest
    keys with the corpus ratios that decide whether a join on this key
    needs salting before it runs."""
    return diagnostics.skew_profile(
        load(spark, sf_dir, "events"), key="user_id", top=10
    )


DIAG_SKEW_PROFILE_SQL = diagnostics.skew_profile_sql(
    "SELECT user_id FROM events", "user_id", top=10
)


def diag_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift (PSI) of document length per language between
    the even- and odd-doc_id halves of the corpus — the snapshot-vs-
    snapshot monitoring statistic, on the shared clamped fixed grid."""
    docs = load(spark, sf_dir, "documents")
    return diagnostics.psi_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        col="n_chars",
        lo=0,
        hi=1024,
        bins=32,
        facets=("lang",),
    )


DIAG_PSI_DRIFT_SQL = diagnostics.psi_drift_sql(
    "SELECT lang, n_chars FROM documents WHERE doc_id % 2 = 0",
    "SELECT lang, n_chars FROM documents WHERE doc_id % 2 = 1",
    col_sql="n_chars",
    facet_sql="lang",
    lo=0,
    hi=1024,
    bins=32,
    facet_name="lang",
)


def text_winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS) over the corpus: n=4 grams,
    window 4 — the guaranteed-density positional sketch (any shared
    ≥7-token run yields at least one identical fingerprint)."""
    return textops.winnow_fingerprints(
        load(spark, sf_dir, "documents"), n=4, w=4
    )


TEXT_WINNOW_FPS_SQL = textops.winnow_fingerprints_sql(
    "SELECT doc_id, text AS t FROM documents", n=4, w=4
)


def text_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-clone candidate pairs by shared winnowing fingerprints
    (min 2 corroborating fps, boilerplate fps with df > 50 dropped
    before the bucketed self-join)."""
    return textops.winnow_pairs(
        load(spark, sf_dir, "documents"),
        n=4,
        w=4,
        min_shared=2,
        max_df=50,
    )


TEXT_WINNOW_PAIRS_SQL = textops.winnow_pairs_sql(
    "SELECT doc_id, text AS t FROM documents",
    n=4,
    w=4,
    min_shared=2,
    max_df=50,
)


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-rule induction over the corpus (10 merges): the
    tokenizer-fitting step run in-engine — corpus scanned once into the
    vocabulary aggregate, which the driver collects and runs the merge
    loop over.  Plan-build executes that job (the algorithm's own model
    state, a stated exception like the PQ codebook collect)."""
    return bpe.bpe_merges(load(spark, sf_dir, "documents"), n_merges=10)


TEXT_BPE_MERGES_SQL = bpe.bpe_merges_sql(
    "SELECT text AS t FROM documents", n_merges=10
)


def text_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary segmentation under the 10 learned merges — the
    fertility audit (subwords per token) that sizes a merge budget."""
    return bpe.bpe_segment_vocab(load(spark, sf_dir, "documents"), n_merges=10)


TEXT_BPE_SEGMENT_SQL = bpe.bpe_segment_vocab_sql(
    "SELECT text AS t FROM documents", n_merges=10
)


SKETCH_HIST_QUANTILES_SQL = sketches.histogram_quantiles_sql(
    source_sql="SELECT lang, n_chars FROM documents",
    col_sql="n_chars",
    facet_sql="lang",
    lo=0,
    hi=1024,
    bins=64,
    quantiles=(25, 50, 75, 95, 99),
    facet_name="lang",
)


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: every document's (shard, offset,
    block span) under a 256-token budget over 8 packing shards."""
    return packing.pack_assignments(
        load(spark, sf_dir, "documents"), budget=256, shards=8
    )


PACK_SEQUENCES_SQL = packing.pack_assignments_sql(budget=256, shards=8)


def pack_sequence_rows_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed-sequence MATERIALIZATION: the physical (shard, seq) rows a
    training loader reads — documents concatenated in shard order under
    a 256-token budget, straddlers split at block boundaries."""
    return packing.pack_sequence_rows(
        load(spark, sf_dir, "documents"), budget=256, shards=8
    )


_PACK_B = 256
PACK_SEQUENCE_ROWS_SQL = f"""
WITH asg AS (
{packing.pack_assignments_sql(budget=_PACK_B, shards=8)}
), toks AS (
  SELECT doc_id,
         COALESCE(regexp_split_to_array(text, '\\s+'), []) AS ts
  FROM documents
), contrib AS (
  SELECT a.shard, q.q AS seq, a.start_offset,
         array_to_string(
           list_slice(t.ts,
             greatest(q.q * {_PACK_B} - a.start_offset, 0) + 1,
             least((q.q + 1) * {_PACK_B}, a.start_offset + a.n_tokens)
               - a.start_offset),
           ' ') AS piece,
         least((q.q + 1) * {_PACK_B}, a.start_offset + a.n_tokens)
           - greatest(q.q * {_PACK_B}, a.start_offset) AS piece_len
  FROM asg a
  JOIN toks t USING (doc_id)
  CROSS JOIN LATERAL (
    SELECT unnest(range(a.seq_first, a.seq_last + 1)) AS q
  ) q
  WHERE a.n_tokens > 0
)
SELECT shard, CAST(seq AS BIGINT) AS seq,
       CAST(SUM(piece_len) AS BIGINT) AS n_tokens,
       string_agg(piece, ' ' ORDER BY start_offset) AS text
FROM contrib GROUP BY 1, 2
"""


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents salted with deterministic synthetic PII
    (the driver corpus is word-salad; the injected addresses make the
    detectors fire on real matches — same injection in the oracle)."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com at 10.0."),
            F.col("doc_id") % 256,
            F.lit(".7 or 604-555-1234"),
        ).alias("text"),
    )
    return textops.pii_scrub(docs)


TEXT_PII_SCRUB_SQL = r"""
WITH salted AS (
  SELECT doc_id,
         text || ' contact user' || doc_id || '@example.com at 10.0.'
              || (doc_id % 256) || '.7 or 604-555-1234' AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
         AS n_email,
       CAST(len(regexp_extract_all(text,
         '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(text,
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
       regexp_replace(
         regexp_replace(
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]',
             'g'),
           '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '[PHONE]', 'g'),
         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g')
         AS clean_text
FROM salted
"""


def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-shape chunking: 64-token windows, stride 32, per document."""
    return textops.chunk_windows(
        load(spark, sf_dir, "documents"), chunk_tokens=64, stride=32
    )


TEXT_CHUNK_WINDOWS_SQL = r"""
WITH t AS (
  -- COALESCE mirrors the engine: NULL text -> one empty chunk, never zero
  SELECT doc_id, regexp_split_to_array(COALESCE(text, ''), '\s+') AS toks
  FROM documents
), meta AS (
  SELECT doc_id, toks,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(CASE WHEN len(toks) <= 64 THEN 0
              ELSE CAST(ceil((len(toks) - 64) / 32.0) AS BIGINT)
              END + 1 AS BIGINT) AS n_chunks
  FROM t
), i AS (
  SELECT doc_id, toks, n_tokens, n_chunks,
         unnest(range(n_chunks)) AS chunk_id
  FROM meta
)
SELECT doc_id, n_tokens, n_chunks,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       array_to_string(toks[chunk_id * 32 + 1:chunk_id * 32 + 64], ' ')
         AS chunk
FROM i
"""


def text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by the exact tf·(N/df) score."""
    return textops.top_terms(load(spark, sf_dir, "documents"), k=3)


TEXT_TOP_TERMS_SQL = """
WITH words AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
  FROM documents
), tf AS (
  SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf
  FROM words GROUP BY 1, 2
), df AS (
  SELECT word, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM tf GROUP BY 1
), n AS (
  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents
), scored AS (
  SELECT doc_id, word, tf, df,
         CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / df AS score,
         ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY
             CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / df DESC,
             word ASC
         ) AS rank
  FROM tf JOIN df USING (word) CROSS JOIN n
)
SELECT doc_id, CAST(rank AS INT) AS rank, word, tf, df, score
FROM scored WHERE rank <= 3
"""

_BM25_TERMS = ("merge", "vector", "window")
_BM25_K = 10


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for the literal query {merge, vector,
    window} — one corpus aggregate for (N, ΣT, per-term df), stats
    broadcast back, scan-local Okapi scoring on the integer-grid idf,
    distributed TakeOrdered."""
    return textops.bm25_topk(
        load(spark, sf_dir, "documents"), list(_BM25_TERMS), k=_BM25_K,
    )


def _bm25_sql() -> str:
    """DuckDB twin, generated from the same term list so the registered
    query and its oracle can never disagree on the query."""
    tf_cols = ",\n         ".join(
        "CAST(len(list_filter(toks, x -> x = '{t}')) AS BIGINT) AS tf{i}".format(
            t=t.replace("'", "''"), i=i  # SQL-escape: a quoted term must
            # not silently corrupt the generated oracle text
        )
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ",\n         ".join(
        f"SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(_BM25_TERMS))
    )
    contribs = " + ".join(
        f"""CASE WHEN tf{i} > 0 THEN CAST(ROUND(
           (CAST(ROUND(log2(2 * n_docs + 2) * 1048576, 0) AS BIGINT)
            - CAST(ROUND(log2(2 * df{i} + 1) * 1048576, 0) AS BIGINT))
           * ((22.0 * total * tf{i})
              / (10.0 * total * tf{i} + 3.0 * total + 9.0 * dl * n_docs)),
           0) AS BIGINT) ELSE 0 END"""
        for i in range(len(_BM25_TERMS))
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS dl,
         {tf_cols}
  FROM (
    SELECT doc_id,
           list_filter(string_split(lower(COALESCE(text, '')), ' '),
                       x -> x <> '') AS toks
    FROM documents
  )
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS total,
         {df_cols}
  FROM base
), scored AS (
  SELECT doc_id, dl,
         ({contribs}) AS score_g
  FROM base CROSS JOIN stats
)
SELECT doc_id, dl, score_g, CAST(score_g AS DOUBLE) / 1048576 AS score
FROM scored WHERE score_g > 0
ORDER BY score_g DESC, doc_id LIMIT {_BM25_K}
"""


TEXT_BM25_TOPK_SQL = _bm25_sql()


# -------------------------------------------------- round-4 additions:
# semantic dedup, int8 quantization audit, shard layout, domain caps,
# hashed linear classifier


def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over vec_id < 300: coarse-assign to the 8 seed centroids
    (vec_id < 8), drop any vector with a smaller-id clustermate at
    cosine ≥ 0.3, emit the kept/dropped audit with canonical ids.

    salt=4 exercises the hot-cluster guard on the registered plan (same
    output for any salt — the salted join re-cuts the shuffle only)."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    prep = similarity.prepare(emb)
    cents = similarity.prepare(emb.filter(F.col("vec_id") < 8))
    return similarity.semantic_dedup(
        prep, cents, threshold=0.3, dim=64, salt=4,
    )


SIM_SEMANTIC_DEDUP_SQL = f"""
WITH u AS (
{_UNNEST_Q.format(pred="vec_id < 300")}
), nv AS (SELECT vec_id, SUM(e * e) AS n FROM u GROUP BY 1),
c0 AS (SELECT vec_id AS cid, e, i FROM u WHERE vec_id < 8),
cn0 AS (SELECT cid, SUM(e * e) AS cn FROM c0 GROUP BY 1),
d1 AS (
  SELECT u.vec_id, c0.cid, nv.n + cn0.cn - 2 * SUM(u.e * c0.e) AS d
  FROM u JOIN c0 ON u.i = c0.i
  JOIN nv ON u.vec_id = nv.vec_id
  JOIN cn0 ON c0.cid = cn0.cid
  GROUP BY 1, 2, nv.n, cn0.cn
), a1 AS (
  SELECT vec_id, cid FROM d1
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
), pairs AS (
  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, SUM(ux.e * uy.e) AS dot
  FROM a1 x JOIN a1 y ON x.cid = y.cid AND x.vec_id < y.vec_id
  JOIN u ux ON ux.vec_id = x.vec_id
  JOIN u uy ON uy.vec_id = y.vec_id AND ux.i = uy.i
  GROUP BY 1, 2
), near AS (
  SELECT vec_a, vec_b
  FROM pairs
  JOIN nv na ON vec_a = na.vec_id
  JOIN nv nb ON vec_b = nb.vec_id
  WHERE na.n > 0 AND nb.n > 0
    AND CAST(dot AS DOUBLE)
        / (sqrt(CAST(na.n AS DOUBLE)) * sqrt(CAST(nb.n AS DOUBLE))) >= 0.3
), dropped AS (
  SELECT vec_b AS vec_id, MIN(vec_a) AS canon FROM near GROUP BY 1
)
SELECT a1.vec_id, a1.cid AS cluster_id,
       dropped.canon IS NULL AS kept,
       COALESCE(dropped.canon, a1.vec_id) AS canonical_id
FROM a1 LEFT JOIN dropped ON a1.vec_id = dropped.vec_id
"""


def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization audit over the full embedding corpus:
    per-dimension symmetric scales, per-vector integer-exact
    reconstruction error (Σerr², max|err| — scaled by 127)."""
    prep = similarity.prepare(load(spark, sf_dir, "embeddings"))
    return similarity.quantize_int8_stats(prep)


SIM_QUANTIZE_INT8_SQL = f"""
WITH u AS (
{_UNNEST_Q.format(pred="TRUE")}
), mx AS (SELECT i, MAX(abs(e)) AS m FROM u GROUP BY 1),
per AS (
  SELECT u.vec_id, u.e, mx.m,
         CASE WHEN mx.m = 0 THEN 0
              ELSE CAST(ROUND(CAST(u.e AS DOUBLE) * 127
                              / CAST(mx.m AS DOUBLE), 0) AS BIGINT)
         END AS c
  FROM u JOIN mx ON u.i = mx.i
), err AS (
  SELECT vec_id, e * 127 - c * m AS err, c FROM per
)
SELECT vec_id, CAST(COUNT(*) AS INT) AS n_dims,
       CAST(SUM(err * err) AS BIGINT) AS sse127,
       CAST(MAX(abs(err)) AS BIGINT) AS max_abs_err127,
       CAST(SUM(c * c) AS BIGINT) AS int8_sq_norm,
       CAST(MAX(abs(c)) AS BIGINT) AS max_abs_code
FROM err GROUP BY vec_id
"""


def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCALAR-quantized search (round 13) — the FAISS
    ``IndexScalarQuantizer`` rung of the compression ladder, below
    PQ: train per-dimension symmetric scales ``m_i = max|e_i|`` over
    the corpus (one aggregate — the model is dim ints), encode every
    vector to 1-byte-per-dim codes ``c_i = round(e_i·127/m_i)`` with
    the exact reconstruction norm stored alongside
    (:func:`~..extensions.similarity.sq8_codes`), and search with
    exact queries against reconstructions
    (:func:`~..extensions.similarity.sq8_adc_topk`): numerator
    ``Σ q_i·c_i·m_i`` and both norms are BIGINTs, so the score is the
    shared one-double-division discipline and the DuckDB twin runs
    the identical train→encode→search chain.  Pinned in tests:
    bit-identical to brute force over the decoded reconstruction
    (:func:`~..extensions.similarity.sq8_decode`).  No codebook to
    train, per-dimension granularity — the audit row
    (``ext_sim_quantize_int8``) measures this tier's reconstruction
    error; this row runs its search."""
    emb = load(spark, sf_dir, "embeddings")
    prep = similarity.prepare(emb)
    corpus = prep.filter(F.col("vec_id") >= 28)
    queries = prep.filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    scales = similarity.sq8_scales(corpus)
    codes = similarity.sq8_codes(corpus, scales)
    return similarity.sq8_adc_topk(queries, codes, scales, k=3)


SIM_SQ8_TOPK_SQL = f"""
WITH u AS (
{_UNNEST_Q.format(pred="TRUE")}
), mx AS (
  SELECT i, MAX(abs(e)) AS m FROM u WHERE vec_id >= 28 GROUP BY 1
), code AS (
  SELECT u.vec_id, u.i, mx.m,
         CASE WHEN mx.m = 0 THEN 0
              ELSE CAST(ROUND(CAST(u.e AS DOUBLE) * 127
                              / CAST(mx.m AS DOUBLE), 0) AS BIGINT)
         END AS c
  FROM u JOIN mx ON u.i = mx.i WHERE u.vec_id >= 28
), r AS (
  SELECT vec_id, SUM(c * m * c * m) AS r FROM code GROUP BY 1
), uq AS (
  SELECT vec_id, e, i FROM u WHERE vec_id >= 12 AND vec_id < 28
), nq AS (SELECT vec_id, SUM(e * e) AS n FROM uq GROUP BY 1),
nd AS (
  SELECT uq.vec_id AS query_id, code.vec_id AS neighbor_id,
         SUM(uq.e * code.c * code.m) AS ndot
  FROM uq JOIN code ON uq.i = code.i GROUP BY 1, 2
), scored AS (
  SELECT query_id, neighbor_id,
         CAST(ndot AS DOUBLE)
           / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(r.r AS DOUBLE)))
           AS cosine_sq8
  FROM nd JOIN nq ON query_id = nq.vec_id
  JOIN r ON neighbor_id = r.vec_id
  WHERE nq.n > 0 AND r.r > 0
)
SELECT query_id, neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_sq8 DESC, neighbor_id ASC)
            AS INT) AS rank,
       cosine_sq8
FROM scored
QUALIFY rank <= 3
"""


def sim_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 search (round 13) — FAISS ``IndexIVFScalarQuantizer``,
    the coarse tier composed onto the scalar grid: corpus assigned to
    4 inverted lists (coarse = vec_id 8–12, the shuffle-free literal
    argmin build), encoded 1 byte/dim with stored reconstruction norms
    (:func:`~..extensions.similarity.ivf_sq8_index` — one pass, zero
    exchanges), queries probe nprobe=2 of the 4 lists and score only
    those lists' codes
    (:func:`~..extensions.similarity.ivf_sq8_topk`).  Versus the flat
    `ext_sim_sq8_topk` row this adds the Σ|probed lists| pruning —
    FAISS's IVF-SQ — and versus IVF-PQ it trades the trained codebook
    for the near-lossless per-dimension grid (recall ceiling 0.9891@10
    at 1M, SCALE_PROBE ``sq8_*``).  nprobe ≥ list count ≡ the flat
    row exactly (pinned in tests); the DuckDB twin runs the identical
    assign→train→encode→probe→score chain."""
    emb = load(spark, sf_dir, "embeddings")
    prep = similarity.prepare(emb)
    coarse = prep.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 12))
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in coarse.select("vec_id", "q").collect()
    ]
    corpus = prep.filter(F.col("vec_id") >= 28)
    queries = prep.filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    scales = similarity.sq8_scales(corpus)
    index = similarity.ivf_sq8_index(corpus, coarse_rows, scales)
    return similarity.ivf_sq8_topk(
        queries, index, coarse, scales, k=3, nprobe=2,
        coarse_rows=coarse_rows,
    )


SIM_IVF_SQ8_TOPK_SQL = f"""
WITH u AS (
{_UNNEST_Q.format(pred="TRUE")}
), co AS (
  SELECT vec_id AS lid, e AS le, i FROM u
  WHERE vec_id >= 8 AND vec_id < 12
), nco AS (SELECT lid, SUM(le * le) AS ln FROM co GROUP BY 1),
uu AS (SELECT vec_id, e, i FROM u WHERE vec_id >= 28),
nc AS (SELECT vec_id, SUM(e * e) AS n FROM uu GROUP BY 1),
uq AS (SELECT vec_id, e, i FROM u WHERE vec_id >= 12 AND vec_id < 28),
nq AS (SELECT vec_id, SUM(e * e) AS n FROM uq GROUP BY 1),
ca AS (
  SELECT uu.vec_id, co.lid, nc.n + nco.ln - 2 * SUM(uu.e * co.le) AS d
  FROM uu JOIN co ON uu.i = co.i
  JOIN nc ON uu.vec_id = nc.vec_id
  JOIN nco ON co.lid = nco.lid
  GROUP BY 1, 2, nc.n, nco.ln
), corpus_list AS (
  SELECT vec_id, lid FROM ca
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, lid) = 1
), mx AS (
  SELECT i, MAX(abs(e)) AS m FROM uu GROUP BY 1
), code AS (
  SELECT uu.vec_id, uu.i, mx.m,
         CASE WHEN mx.m = 0 THEN 0
              ELSE CAST(ROUND(CAST(uu.e AS DOUBLE) * 127
                              / CAST(mx.m AS DOUBLE), 0) AS BIGINT)
         END AS c
  FROM uu JOIN mx ON uu.i = mx.i
), r AS (
  SELECT vec_id, SUM(c * m * c * m) AS r FROM code GROUP BY 1
), qa AS (
  SELECT uq.vec_id, co.lid, nq.n + nco.ln - 2 * SUM(uq.e * co.le) AS d
  FROM uq JOIN co ON uq.i = co.i
  JOIN nq ON uq.vec_id = nq.vec_id
  JOIN nco ON co.lid = nco.lid
  GROUP BY 1, 2, nq.n, nco.ln
), query_probe AS (
  SELECT vec_id AS query_id, lid FROM qa
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, lid) <= 2
), nd AS (
  SELECT qp.query_id, cl.vec_id AS neighbor_id,
         SUM(uq.e * code.c * code.m) AS ndot
  FROM query_probe qp
  JOIN corpus_list cl ON qp.lid = cl.lid
  JOIN code ON code.vec_id = cl.vec_id
  JOIN uq ON uq.vec_id = qp.query_id AND uq.i = code.i
  GROUP BY 1, 2
), scored AS (
  SELECT nd.query_id, nd.neighbor_id,
         CAST(ndot AS DOUBLE)
           / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(r.r AS DOUBLE)))
           AS cosine_sq8
  FROM nd JOIN nq ON nd.query_id = nq.vec_id
  JOIN r ON nd.neighbor_id = r.vec_id
  WHERE nq.n > 0 AND r.r > 0
)
SELECT query_id, neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_sq8 DESC, neighbor_id ASC)
            AS INT) AS rank,
       cosine_sq8
FROM scored
QUALIFY rank <= 3
"""


def sim_pca_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA / OPQ-rotation training aggregate: exact integer covariance
    sufficient statistics (n, Σqᵢ, Σqᵢqⱼ per dimension pair i ≤ j) over
    the full embedding corpus in ONE pass — the d(d+1)/2-row model input
    ``similarity.pca_rotation`` eigendecomposes into the decorrelating
    rotation applied in front of PQ.  Statistics are add-mergeable
    across shards/runs, so incremental corpora fold in without
    rescanning history."""
    return similarity.gram_stats(
        load(spark, sf_dir, "embeddings"), dim=64, quant=1024
    )


SIM_PCA_GRAM_SQL = """
WITH q AS (
  SELECT list_transform(embedding,
           x -> CAST(ROUND(CAST(x AS DOUBLE) * 1024, 0) AS BIGINT)) AS q
  FROM embeddings
), pairs AS (
  SELECT ii.i, jj.j, q[CAST(ii.i AS INT) + 1] AS qi, q[CAST(jj.j AS INT) + 1] AS qj
  FROM q
  CROSS JOIN (SELECT unnest(range(64)) AS i) ii
  CROSS JOIN (SELECT unnest(range(64)) AS j) jj
  WHERE jj.j >= ii.i
)
SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, COUNT(*) AS n_vecs,
       CAST(SUM(qi) AS BIGINT) AS s_i, CAST(SUM(qj) AS BIGINT) AS s_j,
       CAST(SUM(qi * qj) AS BIGINT) AS s_ij
FROM pairs GROUP BY 1, 2
"""


_LM_B = 4096


def sample_unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax budget allocation across languages: 40k-token budget,
    2-epoch repetition cap — at sf0.01 four languages hit their caps and
    English takes the remaining water level (both branches exercised)."""
    return sampling.unimax_allocation(
        load(spark, sf_dir, "documents"),
        budget_tokens=40_000,
        max_epochs=2,
    )


_UMX_B, _UMX_E = 40_000, 2
SAMPLE_UNIMAX_SQL = rf"""
WITH per AS (
  SELECT lang AS stratum,
         CAST(SUM(COALESCE(len(regexp_split_to_array(text, '\s+')), 0))
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1
), ranked AS (
  SELECT stratum, n_tokens,
         CAST(n_tokens * {_UMX_E} AS BIGINT) AS capacity,
         ROW_NUMBER() OVER w AS r,
         COALESCE(SUM(n_tokens * {_UMX_E}) OVER (
           w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_before,
         COUNT(*) OVER () AS k
  FROM per
  WINDOW w AS (ORDER BY n_tokens * {_UMX_E} ASC, stratum ASC)
), flagged AS (
  SELECT *,
         capacity * (k - r + 1) <= ({_UMX_B} - cum_before) AS capped
  FROM ranked
), level AS (
  SELECT SUM(CASE WHEN capped THEN capacity ELSE 0 END) AS capped_c,
         SUM(CASE WHEN NOT capped THEN 1 ELSE 0 END) AS n_uncapped
  FROM flagged
)
SELECT stratum, n_tokens, capacity, capped,
       CASE WHEN capped THEN CAST(capacity AS DOUBLE)
            ELSE CAST({_UMX_B} - capped_c AS DOUBLE) / n_uncapped
       END AS alloc_tokens,
       CASE WHEN n_tokens > 0 THEN
         (CASE WHEN capped THEN CAST(capacity AS DOUBLE)
               ELSE CAST({_UMX_B} - capped_c AS DOUBLE) / n_uncapped
          END) / n_tokens
       ELSE 0.0 END AS epochs
FROM flagged, level
"""


def sample_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): every document scored
    by the hashed-bigram log-likelihood ratio of a target-domain model
    (every 10th doc stands in for the target corpus) over the raw-corpus
    model — integer-grid log terms, bit-identical across engines."""
    docs = load(spark, sf_dir, "documents")
    # r14: target ≡ raw.filter(pred) here, so both hashed-bigram models
    # ride ONE corpus tokenization (dsir_log_ratio target_pred fast path)
    return sampling.dsir_log_ratio(
        docs,
        docs.filter(F.col("doc_id") % 10 == 0),
        target_pred=F.col("doc_id") % 10 == 0,
    )


def sample_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection: Gumbel-top-k draw of 25 docs ∝ importance weight,
    with the Gumbel noise derived from the deterministic md5 split
    machinery — reproducible sampling without replacement."""
    docs = load(spark, sf_dir, "documents")
    # r14: same fused-counts fast path as sample_dsir_weights
    return sampling.dsir_resample(
        docs,
        docs.filter(F.col("doc_id") % 10 == 0),
        k=25,
        target_pred=F.col("doc_id") % 10 == 0,
    )


_DSIR_A = 100  # alpha_inv: add-(1/100) smoothing on the integer grid
_DSIR_GRID = "CAST(ROUND(log2(CAST({x} AS DOUBLE)) * 1048576, 0) AS BIGINT)"
_DSIR_CTES = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(COALESCE(text, '')), ' '),
                     t -> t != '') AS toks
  FROM documents
), exf AS (
  SELECT doc_id, p.bg AS bg
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(toks), 1)),
                   i -> struct_pack(bg := toks[i] || ' ' || toks[i + 1])))
                 AS p
        FROM toks)
), bt AS (
  SELECT ({sampling.hash_bucket_sql("bg", "lm")} % {_LM_B}) AS bucket,
         COUNT(*) AS ct
  FROM exf WHERE doc_id % 10 = 0 GROUP BY 1
), br AS (
  SELECT ({sampling.hash_bucket_sql("bg", "lm")} % {_LM_B}) AS bucket,
         COUNT(*) AS cr
  FROM exf GROUP BY 1
), tot AS (
  SELECT {_DSIR_GRID.format(
      x=f"(SELECT COALESCE(SUM(ct), 0) FROM bt) * {_DSIR_A} + {_LM_B}")}
       - {_DSIR_GRID.format(
      x=f"(SELECT COALESCE(SUM(cr), 0) FROM br) * {_DSIR_A} + {_LM_B}")}
         AS norm
), scored AS (
  SELECT exf.doc_id,
         {_DSIR_GRID.format(x=f"COALESCE(bt.ct, 0) * {_DSIR_A} + 1")}
         - {_DSIR_GRID.format(x=f"COALESCE(br.cr, 0) * {_DSIR_A} + 1")}
           AS term
  FROM exf
  LEFT JOIN bt
    ON ({sampling.hash_bucket_sql("exf.bg", "lm")} % {_LM_B}) = bt.bucket
  LEFT JOIN br
    ON ({sampling.hash_bucket_sql("exf.bg", "lm")} % {_LM_B}) = br.bucket
), per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
         CAST(SUM(term) AS BIGINT) AS s
  FROM scored GROUP BY 1
), wts AS (
  SELECT d.doc_id,
         COALESCE(per.n_feats, 0) AS n_feats,
         CASE WHEN COALESCE(per.n_feats, 0) > 0
              THEN per.s - per.n_feats * (SELECT norm FROM tot)
              ELSE 0 END AS logw_scaled
  FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
)
"""

SAMPLE_DSIR_WEIGHTS_SQL = f"""{_DSIR_CTES}
SELECT doc_id, n_feats, logw_scaled,
       CASE WHEN n_feats > 0
            THEN CAST(logw_scaled AS DOUBLE) / 1048576
            ELSE 0.0 END AS logw
FROM wts
"""

SAMPLE_DSIR_SELECT_SQL = f"""{_DSIR_CTES}
, sel AS (
  SELECT doc_id,
         CAST(logw_scaled AS DOUBLE) / 1048576 AS logw,
         (CAST(logw_scaled AS DOUBLE) / 1048576) * ln(2)
         - ln(-ln(({sampling.hash_bucket_sql("doc_id", "dsir-gumbel")}
                   + 0.5) / 65536.0)) AS sel_key
  FROM wts WHERE n_feats > 0
), topk AS (
  SELECT doc_id, logw, sel_key
  FROM sel ORDER BY sel_key DESC, doc_id ASC LIMIT 25
)
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY sel_key DESC, doc_id ASC) AS INT)
         AS rank,
       logw, sel_key
FROM topk
"""


def sample_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-export layout: every document addressed to
    one of 64 shards with a stable in-shard position — the global
    shuffle without a global sort."""
    return sampling.shard_plan(
        load(spark, sf_dir, "documents"), key="doc_id", shards=64
    )


SAMPLE_SHARD_PLAN_SQL = sampling.shard_plan_sql(
    "doc_id", shards=64, table="documents"
).replace("SELECT doc_id AS key,", "SELECT doc_id,")


def sample_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota: at most 80 docs per source (hash-ordered,
    deterministic), every doc labeled kept/dropped — two-stage pre-rank
    so no task ever sorts a whole hot domain."""
    return sampling.source_caps(
        load(spark, sf_dir, "documents"),
        key="doc_id",
        stratum="source",
        cap=80,
    )


SAMPLE_SOURCE_CAPS_SQL = f"""
WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY md5('cap' || '|' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS r
  FROM documents
)
SELECT doc_id, source, r <= 80 AS kept,
       CASE WHEN r <= 80 THEN CAST(r AS INT) END AS rank
FROM ranked
"""


def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced subsampling over the embedding corpus: assign
    every vector to its nearest seed centroid (vec_id < 8, the
    semantic-dedup coarse tier) with the zero-exchange literal-centroid
    plan, then cap each cluster at 40 by hash rank — every cluster here
    exceeds the cap and truncates (320 kept / 180 dropped at sf0.01);
    the tail-cluster keep-everything branch is unit-tested."""
    prep = similarity.prepare(load(spark, sf_dir, "embeddings"))
    coarse = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in prep.filter(F.col("vec_id") < 8).collect()
    ]
    return sampling.cluster_balanced_sample(prep, coarse, cap=40)


SAMPLE_CLUSTER_BALANCED_SQL = f"""
WITH u AS (
{_UNNEST_Q.format(pred="TRUE")}
), nv AS (SELECT vec_id, SUM(e * e) AS n FROM u GROUP BY 1),
c0 AS (SELECT vec_id AS cid, e, i FROM u WHERE vec_id < 8),
cn0 AS (SELECT cid, SUM(e * e) AS cn FROM c0 GROUP BY 1),
d1 AS (
  SELECT u.vec_id, c0.cid, nv.n + cn0.cn - 2 * SUM(u.e * c0.e) AS d
  FROM u JOIN c0 ON u.i = c0.i
  JOIN nv ON u.vec_id = nv.vec_id
  JOIN cn0 ON c0.cid = cn0.cid
  GROUP BY 1, 2, nv.n, cn0.cn
), a1 AS (
  SELECT vec_id, cid AS list_id FROM d1
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
), ranked AS (
  SELECT vec_id, list_id,
         ROW_NUMBER() OVER (
           PARTITION BY list_id
           ORDER BY md5('cbal' || '|' || CAST(vec_id AS VARCHAR)), vec_id
         ) AS r
  FROM a1
)
SELECT vec_id, list_id, r <= 40 AS kept,
       CASE WHEN r <= 40 THEN CAST(r AS INT) END AS rank
FROM ranked
"""


def text_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear quality classifier at scan bandwidth: token→weight
    bucket via md5, exact integer weight sum, mean-score threshold."""
    return textops.hash_classifier(load(spark, sf_dir, "documents"))


TEXT_HASH_CLASSIFIER_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(COALESCE(text, '')), ' '),
                     t -> t != '') AS toks
  FROM documents
), w AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(COALESCE(list_sum(list_transform(toks,
             t -> ({sampling.hash_bucket_sql("t", "clf")} % 21) - 10
         )), 0) AS BIGINT) AS weight_sum
  FROM toks
)
SELECT doc_id, n_tokens, weight_sum,
       CASE WHEN n_tokens > 0
            THEN CAST(weight_sum AS DOUBLE) / n_tokens ELSE 0.0
       END AS score,
       CASE WHEN n_tokens > 0
            THEN (CAST(weight_sum AS DOUBLE) / n_tokens) > 0 ELSE FALSE
       END AS positive
FROM w
"""


def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram entropy + type/token ratio via the integer-grid
    log-sum (order-independent — see extensions/text.py)."""
    return textops.token_entropy(load(spark, sf_dir, "documents"))


TEXT_ENTROPY_SQL = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(lower(COALESCE(text, '')), ' '),
                     x -> x != '') AS toks
  FROM documents
), counts AS (
  SELECT doc_id, unnest(toks) AS tok FROM t
), c AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM counts GROUP BY 1, 2
), per AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(c * CAST(ROUND(log2(CAST(c AS DOUBLE)) * 1048576, 0)
                           AS BIGINT)) AS BIGINT) AS slog
  FROM c GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(per.n_tokens, 0) AS n_tokens,
       COALESCE(per.n_types, 0) AS n_types,
       COALESCE(per.slog, 0) AS slog,
       CASE WHEN COALESCE(per.n_tokens, 0) > 0
            THEN log2(CAST(per.n_tokens AS DOUBLE))
                 - (CAST(per.slog AS DOUBLE) / 1048576)
                   / CAST(per.n_tokens AS DOUBLE)
            ELSE 0.0
       END AS entropy
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
"""


def text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed bigram LM quality score, self-trained on the corpus
    (bootstrap variant): bounded 4096-bucket count tables broadcast back,
    integer-grid log terms, one corpus-keyed aggregate."""
    return textops.bigram_lm_scores(
        load(spark, sf_dir, "documents"), n_buckets=4096
    )


TEXT_BIGRAM_LM_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(COALESCE(text, '')), ' '),
                     t -> t != '') AS toks
  FROM documents
), pairs AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(toks), 1)),
             i -> struct_pack(w1 := toks[i],
                              bg := toks[i] || ' ' || toks[i + 1])) AS ps
  FROM toks
), exf AS (
  SELECT doc_id, p.w1 AS w1, p.bg AS bg
  FROM (SELECT doc_id, unnest(ps) AS p FROM pairs)
), bc AS (
  SELECT ({sampling.hash_bucket_sql("bg", "lm")} % {_LM_B}) AS bucket,
         COUNT(*) AS cb
  FROM exf GROUP BY 1
), uc AS (
  SELECT ({sampling.hash_bucket_sql("w", "lm")} % {_LM_B}) AS bucket,
         COUNT(*) AS cu
  FROM (SELECT unnest(toks) AS w FROM toks) GROUP BY 1
), scored AS (
  SELECT exf.doc_id,
         CAST(ROUND(log2(CAST(COALESCE(bc.cb, 0) + 1 AS DOUBLE))
                    * 1048576, 0) AS BIGINT)
         - CAST(ROUND(log2(CAST(COALESCE(uc.cu, 0) + {_LM_B} AS DOUBLE))
                      * 1048576, 0) AS BIGINT) AS term
  FROM exf
  LEFT JOIN bc
    ON ({sampling.hash_bucket_sql("exf.bg", "lm")} % {_LM_B}) = bc.bucket
  LEFT JOIN uc
    ON ({sampling.hash_bucket_sql("exf.w1", "lm")} % {_LM_B}) = uc.bucket
), per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(term) AS BIGINT) AS slogp
  FROM scored GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(per.n_bigrams, 0) AS n_bigrams,
       COALESCE(per.slogp, 0) AS slogp,
       CASE WHEN COALESCE(per.n_bigrams, 0) > 0
            THEN (CAST(per.slogp AS DOUBLE) / 1048576) / per.n_bigrams
            ELSE 0.0 END AS avg_logp2
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
"""


def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document line dedup at min_df=2: on this corpus
    (no newlines) each doc is one line, so planted exact duplicates
    hollow out to empty clean_text — the full explode → df-count →
    join-back → ordered-reassembly machinery runs regardless."""
    return textops.line_dedup(load(spark, sf_dir, "documents"), min_df=2)


TEXT_LINE_DEDUP_SQL = """
WITH t AS (
  SELECT doc_id, string_split(COALESCE(text, ''), chr(10)) AS ls
  FROM documents
), l AS (
  SELECT doc_id, p.pos AS pos, p.ln AS ln
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(ls) + 1),
                   i -> struct_pack(pos := i, ln := ls[i]))) AS p
        FROM t)
), rm AS (
  SELECT md5(ln) AS h FROM l GROUP BY 1
  HAVING COUNT(DISTINCT doc_id) >= 2
)
SELECT l.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN rm.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed,
       COALESCE(string_agg(CASE WHEN rm.h IS NULL THEN l.ln END, chr(10)
                           ORDER BY l.pos), '') AS clean_text
FROM l LEFT JOIN rm ON md5(l.ln) = rm.h
GROUP BY 1
"""


def text_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicate-span removal at 8-gram granularity:
    every later occurrence of a repeated 8-token span loses its tokens,
    first occurrence (smallest (doc_id, pos)) survives."""
    return textops.span_dedup(load(spark, sf_dir, "documents"), n=8)


_SPAN_N = 8
_SPAN_GRAM = ", ".join(f"toks[i + {k}]" for k in range(_SPAN_N))
TEXT_SPAN_DEDUP_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(lower(COALESCE(text, '')), ' '),
                     x -> x != '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, p.pos AS pos, p.h AS h
  FROM (SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(toks) - {_SPAN_N} + 2, 1)),
                   i -> struct_pack(pos := i - 1,
                                    h := md5(concat_ws(' ', {_SPAN_GRAM})))))
                 AS p
        FROM t)
), d AS (
  SELECT h, MIN(struct_pack(d := doc_id, p := pos)) AS first
  FROM g GROUP BY 1 HAVING COUNT(*) > 1
), r AS (
  SELECT g.doc_id, g.pos FROM g JOIN d USING (h)
  WHERE g.doc_id != (d.first).d OR g.pos != (d.first).p
), tok AS (
  SELECT doc_id, q.i AS i, q.tk AS tk
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(toks) + 1),
                   i -> struct_pack(i := i - 1, tk := toks[i]))) AS q
        FROM t)
), marked AS (
  SELECT tok.doc_id, tok.i, tok.tk,
         EXISTS (SELECT 1 FROM r
                 WHERE r.doc_id = tok.doc_id
                   AND tok.i >= r.pos AND tok.i < r.pos + {_SPAN_N}) AS c
  FROM tok
), per AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT)
           AS n_tokens_removed,
         COALESCE(string_agg(CASE WHEN NOT c THEN tk END, ' '
                             ORDER BY i), '') AS clean_text
  FROM marked GROUP BY 1
), sp AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans_removed
  FROM r GROUP BY 1
)
SELECT dd.doc_id,
       COALESCE(per.n_tokens, 0) AS n_tokens,
       COALESCE(sp.n_spans_removed, 0) AS n_spans_removed,
       COALESCE(per.n_tokens_removed, 0) AS n_tokens_removed,
       COALESCE(per.clean_text, '') AS clean_text
FROM documents dd
LEFT JOIN per ON dd.doc_id = per.doc_id
LEFT JOIN sp ON dd.doc_id = sp.doc_id
"""


def text_span_dedup_maximal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr maximal-span variant: same token removal as
    :func:`text_span_dedup`, but removed grams chained per (doc,
    first-occurrence) so ``n_spans_removed`` counts maximal repeated
    substrings (a later copy of one long repeat = ONE span), the Lee et
    al. 2022 accounting at gram resolution."""
    return textops.span_dedup(
        load(spark, sf_dir, "documents"), n=8, spans="maximal"
    )


TEXT_SPAN_DEDUP_MAXIMAL_SQL = f"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split(lower(COALESCE(text, '')), ' '),
                     x -> x != '') AS toks
  FROM documents
), g AS (
  SELECT doc_id, p.pos AS pos, p.h AS h
  FROM (SELECT doc_id,
               unnest(list_transform(
                   range(1, greatest(len(toks) - {_SPAN_N} + 2, 1)),
                   i -> struct_pack(pos := i - 1,
                                    h := md5(concat_ws(' ', {_SPAN_GRAM})))))
                 AS p
        FROM t)
), d AS (
  SELECT h, MIN(struct_pack(d := doc_id, p := pos)) AS first
  FROM g GROUP BY 1 HAVING COUNT(*) > 1
), r AS (
  SELECT g.doc_id, g.pos,
         CAST((d.first).d AS VARCHAR) AS fd, (d.first).p AS fp
  FROM g JOIN d USING (h)
  WHERE g.doc_id != (d.first).d OR g.pos != (d.first).p
), ch AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w = pos - 1
               AND lag(fd) OVER w = fd
               AND lag(fp) OVER w = fp - 1
              THEN 0 ELSE 1 END AS is_new
  FROM r WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), tok AS (
  SELECT doc_id, q.i AS i, q.tk AS tk
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(toks) + 1),
                   i -> struct_pack(i := i - 1, tk := toks[i]))) AS q
        FROM t)
), marked AS (
  SELECT tok.doc_id, tok.i, tok.tk,
         EXISTS (SELECT 1 FROM r
                 WHERE r.doc_id = tok.doc_id
                   AND tok.i >= r.pos AND tok.i < r.pos + {_SPAN_N}) AS c
  FROM tok
), per AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(CASE WHEN c THEN 1 ELSE 0 END) AS BIGINT)
           AS n_tokens_removed,
         COALESCE(string_agg(CASE WHEN NOT c THEN tk END, ' '
                             ORDER BY i), '') AS clean_text
  FROM marked GROUP BY 1
), sp AS (
  SELECT doc_id, CAST(SUM(is_new) AS BIGINT) AS n_spans_removed
  FROM ch GROUP BY 1
)
SELECT dd.doc_id,
       COALESCE(per.n_tokens, 0) AS n_tokens,
       COALESCE(sp.n_spans_removed, 0) AS n_spans_removed,
       COALESCE(per.n_tokens_removed, 0) AS n_tokens_removed,
       COALESCE(per.clean_text, '') AS clean_text
FROM documents dd
LEFT JOIN per ON dd.doc_id = per.doc_id
LEFT JOIN sp ON dd.doc_id = sp.doc_id
"""


def sim_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encode the whole corpus: 4 subspaces × 16 dims, codebook =
    subvectors of the 8 seed vectors (collected driver-side — k·dim ints,
    a model parameter), codes + exact integer reconstruction error.

    STATED EXCEPTION to "building a plan never runs a job": the codebook
    collect above executes one metadata-scale Spark job (8 rows) at plan
    construction — the price of literal-inlined encode expressions (see
    ``similarity.pq_codes``).  In production the codebook is trained
    offline and passed in as plain data, and plan construction is free;
    only this registry path, which derives the codebook from the corpus
    itself, pays a build-time job."""
    prep = similarity.prepare(load(spark, sf_dir, "embeddings"))
    cents = [
        (r["vec_id"], r["q"])
        for r in prep.filter(F.col("vec_id") < 8).collect()
    ]
    return similarity.pq_codes(prep, cents, m=4, dim=64)


SIM_PQ_CODES_SQL = f"""
WITH u AS (
{_UNNEST_Q.format(pred="TRUE")}
), us AS (
  SELECT vec_id, e, i // 16 AS s, i % 16 AS j FROM u
), c AS (
  SELECT vec_id AS cid, e AS ce, i // 16 AS s, i % 16 AS j
  FROM u WHERE vec_id < 8
), nv AS (SELECT vec_id, s, SUM(e * e) AS nsub FROM us GROUP BY 1, 2),
cn AS (SELECT cid, s, SUM(ce * ce) AS cn FROM c GROUP BY 1, 2),
d AS (
  SELECT us.vec_id, us.s, c.cid, nv.nsub + cn.cn - 2 * SUM(us.e * c.ce) AS d
  FROM us JOIN c ON us.s = c.s AND us.j = c.j
  JOIN nv ON us.vec_id = nv.vec_id AND us.s = nv.s
  JOIN cn ON c.cid = cn.cid AND c.s = cn.s
  GROUP BY 1, 2, 3, nv.nsub, cn.cn
), a AS (
  SELECT vec_id, s, cid, d FROM d
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, cid) = 1
)
SELECT vec_id,
       CAST(MAX(CASE WHEN s = 0 THEN cid END) AS INT) AS code_0,
       CAST(MAX(CASE WHEN s = 1 THEN cid END) AS INT) AS code_1,
       CAST(MAX(CASE WHEN s = 2 THEN cid END) AS INT) AS code_2,
       CAST(MAX(CASE WHEN s = 3 THEN cid END) AS INT) AS code_3,
       CAST(SUM(d) AS BIGINT) AS sq_err
FROM a GROUP BY vec_id
"""


def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC search over the PQ-compressed corpus: codebook = seeds
    (vec_id < 8), queries 8 ≤ vec_id < 28 exact, corpus vec_id ≥ 28
    scanned as codes only — top-3 by reconstructed cosine.

    STATED EXCEPTION to "building a plan never runs a job": like
    :func:`sim_pq_codes`, constructing this plan executes ONE
    metadata-scale Spark job — the 8-row codebook collect (a model
    parameter, the same driver-side exception as the store's month
    keys).  ``tools/audit_plans.py`` documents the same carve-out."""
    emb = load(spark, sf_dir, "embeddings")
    prep = similarity.prepare(emb)
    cents = [
        (r["vec_id"], r["q"])
        for r in prep.filter(F.col("vec_id") < 8).collect()
    ]
    queries = prep.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 28))
    # encode-once / search-many is PQ's production contract: the codes
    # table is a stored artifact (pq_codes → write; searches scan it).
    # pin() reproduces that here — the cache substitution keeps the
    # optimizer from re-inlining the encode expression into every ADC
    # reference (un-materialized: 16 s analyze per action); it stays
    # lazy and recompute-safe until release_plan_caches()
    codes = pin(similarity.pq_codes(
        prep.filter(F.col("vec_id") >= 28), cents, m=4, dim=64
    ))
    return similarity.pq_adc_topk(queries, codes, cents, k=3, m=4, dim=64)


SIM_PQ_ADC_TOPK_SQL = f"""
WITH u AS (
{_UNNEST_Q.format(pred="TRUE")}
), us AS (
  SELECT vec_id, e, i // 16 AS s, i % 16 AS j FROM u WHERE vec_id >= 28
), c AS (
  SELECT vec_id AS cid, e AS ce, i // 16 AS s, i % 16 AS j
  FROM u WHERE vec_id < 8
), uq AS (
  SELECT vec_id, e, i // 16 AS s, i % 16 AS j
  FROM u WHERE vec_id >= 8 AND vec_id < 28
), nq AS (SELECT vec_id, SUM(e * e) AS n FROM u
          WHERE vec_id >= 8 AND vec_id < 28 GROUP BY 1),
nv AS (SELECT vec_id, s, SUM(e * e) AS nsub FROM us GROUP BY 1, 2),
cn AS (SELECT cid, s, SUM(ce * ce) AS cn FROM c GROUP BY 1, 2),
d AS (
  SELECT us.vec_id, us.s, c.cid, nv.nsub + cn.cn - 2 * SUM(us.e * c.ce) AS d
  FROM us JOIN c ON us.s = c.s AND us.j = c.j
  JOIN nv ON us.vec_id = nv.vec_id AND us.s = nv.s
  JOIN cn ON c.cid = cn.cid AND c.s = cn.s
  GROUP BY 1, 2, 3, nv.nsub, cn.cn
), code AS (
  SELECT vec_id, s, cid, d FROM d
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, cid) = 1
), lut AS (
  SELECT uq.vec_id AS query_id, c.s, c.cid, SUM(uq.e * c.ce) AS dotpart
  FROM uq JOIN c ON uq.s = c.s AND uq.j = c.j
  GROUP BY 1, 2, 3
), adc AS (
  SELECT lut.query_id, code.vec_id AS neighbor_id,
         SUM(lut.dotpart) AS adot, SUM(cn.cn) AS rn
  FROM code
  JOIN lut ON code.s = lut.s AND code.cid = lut.cid
  JOIN cn ON code.cid = cn.cid AND code.s = cn.s
  GROUP BY 1, 2
), scored AS (
  SELECT query_id, neighbor_id,
         CAST(adot AS DOUBLE)
           / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(rn AS DOUBLE)))
           AS cosine_adc
  FROM adc JOIN nq ON query_id = nq.vec_id
  WHERE nq.n > 0 AND rn > 0
)
SELECT query_id, neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_adc DESC, neighbor_id ASC)
            AS INT) AS rank,
       cosine_adc
FROM scored
QUALIFY rank <= 3
"""


def sim_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search end-to-end: PQ codebook = seeds (vec_id < 8), coarse
    quantizer = 4 lists (8 ≤ vec_id < 12), queries 12 ≤ vec_id < 28
    probing nprobe=2 of the 4 lists, corpus vec_id ≥ 28 stored as
    list-assigned m-byte codes — top-3 by reconstructed cosine over only
    the probed lists.

    Same stated plan-build exception as the other PQ plans: the 8-row
    codebook collect runs one metadata-scale job at construction."""
    emb = load(spark, sf_dir, "embeddings")
    prep = similarity.prepare(emb)
    cents = [
        (r["vec_id"], r["q"])
        for r in prep.filter(F.col("vec_id") < 8).collect()
    ]
    coarse = prep.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 12))
    queries = prep.filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    corpus = prep.filter(F.col("vec_id") >= 28)
    # the index is a STORED artifact in production (build once, search
    # many; write it partitioned by list_id).  pin() reproduces that
    # split here AND is load-bearing for plan compilation: inlining the
    # assignment + staged-encode subtree under the search join
    # regenerates a method janino refuses to compile, and the failed
    # compile re-runs on EVERY execution (~5 s fixed, measured — compile
    # failures are not cached).  The cache barrier keeps the encode and
    # the search in separate, compilable stages: 19.9 s → ~3 s at sf0.01.
    # r13 A/B: the scan-local build (assign="local") composed with the
    # staged PQ encode exceeds janino's 64KB method limit — the compile
    # FAILS (not cached, ~3-5 s re-attempted every execution, then
    # interpreted fallback): measured [3.2, 2.3, 2.1] s/pass (window)
    # vs [11.5, 10.7, 8.9] (local build).  r14 A/B (VERDICT task 5):
    # splitting assignment and encode across a SECOND persist barrier
    # (assign="local" + persist of the assigned frame) does give each
    # stage its own compilable method, but the fold's compile storms
    # recur intermittently across re-executions — measured pass trains
    # [2.6, 2.7, 2.6, 2.1] on one run, then [10.9, 57.9, 2.3, 2.4] and
    # [9.5, 51.0, 16.7, 16.5] on the next two (idle box; the window
    # spelling re-measured 2.0-2.3 s immediately after).  The window
    # spelling stays — it is also what keeps the encode in its own
    # compilable stage.  The probe-side literal fold A/B'd within noise
    # of the window spelling here ([3.0, 3.3, 2.8] vs [3.2, 2.3, 2.1]);
    # the window probe is kept for the same compile-budget reason.
    index = pin(similarity.ivf_pq_index(corpus, coarse, cents, m=4, dim=64))
    return similarity.ivf_pq_topk(
        queries, index, coarse, cents, k=3, nprobe=2, m=4, dim=64
    )


# shared CTE chain for the IVF-PQ searches: everything through the
# ADC-scored candidate set; SIM_IVF_PQ_TOPK_SQL ranks it directly,
# SIM_IVF_PQ_REFINED_SQL re-scores its top-R exactly first
_IVF_PQ_CTES = f"""
WITH u AS (
{_UNNEST_Q.format(pred="TRUE")}
), us AS (
  SELECT vec_id, e, i // 16 AS s, i % 16 AS j FROM u WHERE vec_id >= 28
), c AS (
  SELECT vec_id AS cid, e AS ce, i // 16 AS s, i % 16 AS j
  FROM u WHERE vec_id < 8
), uq AS (
  SELECT vec_id, e, i // 16 AS s, i % 16 AS j
  FROM u WHERE vec_id >= 12 AND vec_id < 28
), nq AS (SELECT vec_id, SUM(e * e) AS n FROM u
          WHERE vec_id >= 12 AND vec_id < 28 GROUP BY 1),
nv AS (SELECT vec_id, s, SUM(e * e) AS nsub FROM us GROUP BY 1, 2),
cn AS (SELECT cid, s, SUM(ce * ce) AS cn FROM c GROUP BY 1, 2),
nc AS (SELECT vec_id, SUM(e * e) AS n FROM u WHERE vec_id >= 28 GROUP BY 1),
co AS (SELECT vec_id AS lid, e AS le, i FROM u
       WHERE vec_id >= 8 AND vec_id < 12),
nco AS (SELECT lid, SUM(le * le) AS ln FROM co GROUP BY 1),
ca AS (
  SELECT uu.vec_id, co.lid, nc.n + nco.ln - 2 * SUM(uu.e * co.le) AS d
  FROM (SELECT vec_id, e, i FROM u WHERE vec_id >= 28) uu
  JOIN co ON uu.i = co.i
  JOIN nc ON uu.vec_id = nc.vec_id
  JOIN nco ON co.lid = nco.lid
  GROUP BY 1, 2, nc.n, nco.ln
), corpus_list AS (
  SELECT vec_id, lid FROM ca
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, lid) = 1
), qa AS (
  SELECT uu.vec_id, co.lid, nq.n + nco.ln - 2 * SUM(uu.e * co.le) AS d
  FROM (SELECT vec_id, e, i FROM u
        WHERE vec_id >= 12 AND vec_id < 28) uu
  JOIN co ON uu.i = co.i
  JOIN nq ON uu.vec_id = nq.vec_id
  JOIN nco ON co.lid = nco.lid
  GROUP BY 1, 2, nq.n, nco.ln
), query_probe AS (
  SELECT vec_id AS query_id, lid FROM qa
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, lid) <= 2
), d AS (
  SELECT us.vec_id, us.s, c.cid, nv.nsub + cn.cn - 2 * SUM(us.e * c.ce) AS d
  FROM us JOIN c ON us.s = c.s AND us.j = c.j
  JOIN nv ON us.vec_id = nv.vec_id AND us.s = nv.s
  JOIN cn ON c.cid = cn.cid AND c.s = cn.s
  GROUP BY 1, 2, 3, nv.nsub, cn.cn
), code AS (
  SELECT vec_id, s, cid, d FROM d
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, cid) = 1
), lut AS (
  SELECT uq.vec_id AS query_id, c.s, c.cid, SUM(uq.e * c.ce) AS dotpart
  FROM uq JOIN c ON uq.s = c.s AND uq.j = c.j
  GROUP BY 1, 2, 3
), adc AS (
  SELECT lut.query_id, code.vec_id AS neighbor_id,
         SUM(lut.dotpart) AS adot, SUM(cn.cn) AS rn
  FROM code
  JOIN corpus_list ON code.vec_id = corpus_list.vec_id
  JOIN query_probe ON corpus_list.lid = query_probe.lid
  JOIN lut ON code.s = lut.s AND code.cid = lut.cid
          AND lut.query_id = query_probe.query_id
  JOIN cn ON code.cid = cn.cid AND code.s = cn.s
  GROUP BY 1, 2
), scored AS (
  SELECT query_id, neighbor_id,
         CAST(adot AS DOUBLE)
           / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(rn AS DOUBLE)))
           AS cosine_adc
  FROM adc JOIN nq ON query_id = nq.vec_id
  WHERE nq.n > 0 AND rn > 0
)
"""

SIM_IVF_PQ_TOPK_SQL = _IVF_PQ_CTES + """
SELECT query_id, neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_adc DESC, neighbor_id ASC)
            AS INT) AS rank,
       cosine_adc
FROM scored
QUALIFY rank <= 3
"""


def sim_ivf_pq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search + exact re-rank (refine): the same index/probe
    split as :func:`sim_ivf_pq_topk`, but the ADC search keeps a top-10
    candidate slate per query and :func:`~..extensions.similarity.
    ivf_pq_refine` re-scores those 10 against their raw vectors with
    the Arrow kernel — final top-3 by EXACT cosine.  This is the full
    production ANN recipe (coarse probe → ADC scan → exact refine);
    recall lift vs the un-refined search is pinned in
    ``tests/test_similarity.py`` and measured at the 1M-code probe in
    SCALE_PROBE.json.

    Same stated plan-build exception as the other PQ plans: the 8-row
    codebook collect (and the refine kernel's bounded 16-row query-batch
    collect) run metadata-scale jobs at construction."""
    emb = load(spark, sf_dir, "embeddings")
    prep = similarity.prepare(emb)
    cents = [
        (r["vec_id"], r["q"])
        for r in prep.filter(F.col("vec_id") < 8).collect()
    ]
    coarse = prep.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 12))
    queries = prep.filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    corpus = prep.filter(F.col("vec_id") >= 28)
    # same load-bearing pin as sim_ivf_pq_topk (janino compile barrier
    # + the stored-artifact posture).
    # r13 A/B: assign="local" + literal-fold probe REVERTED here for the
    # same measured janino 64KB blowout as sim_ivf_pq_topk (bench pass
    # times [3.13, 2.98, 3.08] → [4.29, 3.94, 4.80] with the fold; the
    # failed compile re-runs every execution).  r14 A/B: the split-
    # barrier variant (see sim_ivf_pq_topk above) also REVERTED —
    # intermittent multi-second compile storms ([15.5, 14.8, 59.8,
    # 28.1] on the bad run) dwarf the deleted exchange at this scale.
    index = pin(similarity.ivf_pq_index(corpus, coarse, cents, m=4, dim=64))
    cand = similarity.ivf_pq_topk(
        queries, index, coarse, cents, k=10, nprobe=2, m=4, dim=64
    )
    return similarity.ivf_pq_refine(cand, queries, corpus, k=3, kernel="arrow")


SIM_IVF_PQ_REFINED_SQL = _IVF_PQ_CTES.rstrip() + """, cand AS (
  SELECT query_id, neighbor_id FROM scored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                             ORDER BY cosine_adc DESC, neighbor_id ASC) <= 10
), ex AS (
  SELECT cand.query_id, cand.neighbor_id, SUM(qe.e * ce.e) AS dot
  FROM cand
  JOIN u qe ON qe.vec_id = cand.query_id
  JOIN u ce ON ce.vec_id = cand.neighbor_id AND ce.i = qe.i
  GROUP BY 1, 2
), rescored AS (
  SELECT ex.query_id, ex.neighbor_id,
         CAST(ex.dot AS DOUBLE)
           / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(nc.n AS DOUBLE)))
           AS cosine
  FROM ex JOIN nq ON ex.query_id = nq.vec_id
  JOIN nc ON ex.neighbor_id = nc.vec_id
  WHERE nq.n > 0 AND nc.n > 0
)
SELECT query_id, neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC)
            AS INT) AS rank,
       cosine
FROM rescored
QUALIFY rank <= 3
"""


def _ivfadc_parts(spark: SparkSession, sf_dir: str, iters: int = 1):
    """Shared construction for the TRAINED (IVFADC) plans: coarse = raw
    rows 8–12, queries 12–28, corpus ≥ 28; PQ codebook trained with
    ``iters`` Lloyd steps over CORPUS RESIDUALS, seeded from the 8
    smallest corpus vec_ids (m=4, dsub=16, k=8 — sized so the DuckDB
    oracle can re-derive the whole training pass declaratively).

    Stated plan-build exception, same as the other PQ plans: the coarse
    collect (4 rows) and the training pass (one sampled-aggregate job
    per iteration collecting k·dim ints — a model parameter) run at
    construction."""
    emb = load(spark, sf_dir, "embeddings")
    prep = similarity.prepare(emb)
    coarse = prep.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 12))
    queries = prep.filter((F.col("vec_id") >= 12) & (F.col("vec_id") < 28))
    corpus = prep.filter(F.col("vec_id") >= 28)
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in coarse.select("vec_id", "q").collect()
    ]
    # r13 A/B: the residual-training input deliberately KEEPS the
    # window spelling.  Folding the assignment into the scan
    # (ivf_assign_local) re-inlines the quantize transform + 4 unrolled
    # 64-term dots into every expression pq_train_codebooks evaluates,
    # and the training loop re-evaluates that lineage in every collect
    # job — measured 3.2 s → 27.7 s plan build for ext_sim_ivfadc_topk
    # at sf0.1.  The window's exchange materializes (q, list_id) once
    # and every training job reads the narrow shuffled rows.
    residuals = similarity.residualize(
        similarity.ivf_assign(corpus, coarse, 1, None), coarse_rows
    )
    # r14 A/B: persisting this frame for the training window (the seed
    # collect + one Lloyd iteration each re-evaluate the lineage) was
    # tried and REVERTED — the cache materialization costs more than
    # the ONE evaluation it saves at iters=1 (ext_sim_ivfadc_topk
    # 3.5-4.0 s/pass → 5.2-6.8 with the persist; pq_train_codebook
    # 1.9-2.7 → 2.0-2.5).  At a real training scale (many iterations,
    # bounded sample) materializing the sample is still the right
    # posture — pass a pre-persisted frame to pq_train_codebooks then.
    cb = similarity.pq_train_codebooks(
        residuals, k=8, m=4, dim=64, iters=iters
    )
    return coarse, queries, corpus, coarse_rows, cb


def sim_pq_train_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ-codebook TRAINING pass itself, oracle-checked: one Lloyd
    iteration of per-subspace k-means over corpus residuals (the IVFADC
    training recipe, Jégou et al. TPAMI 2011 §V) — seeds = residuals of
    the 8 smallest corpus ids, exact-BIGINT assignment, re-quantized
    means, empty codes keep their seed.  Output is the trained codebook
    in long form (cid, pos, val): every downstream IVFADC query consumes
    exactly these integers as literals, so a green row here pins the
    entire model-parameter derivation, not just the search."""
    _, _, _, _, cb = _ivfadc_parts(spark, sf_dir, iters=1)
    rows = [
        (int(cid), int(pos), int(vec[pos]))
        for cid, vec in cb
        for pos in range(64)
    ]
    return spark.createDataFrame(rows, "cid int, pos int, val long")


def sim_ivfadc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC search end-to-end — the TRAINED successor of
    ``sim_ivf_pq_topk`` and the round-9 headline: corpus residuals
    (vec − coarse centroid) encoded against a codebook TRAINED on them
    (:func:`~..extensions.similarity.pq_train_codebooks`), searched by
    residual-decomposed ADC (:func:`~..extensions.similarity.
    ivfadc_topk`) at nprobe=2 of 4 lists, top-3 by reconstructed
    cosine.  Same persist barrier as the other PQ plans (stored-artifact
    posture + janino compile isolation)."""
    coarse, queries, corpus, coarse_rows, cb = _ivfadc_parts(
        spark, sf_dir, iters=1
    )
    # r13: scan-local index build (coarse rows already collected by
    # _ivfadc_parts) — the window spelling paid a corpus-keyed exchange
    # inside the persist materialization (guide §2.4)
    index = pin(similarity.ivf_pq_index(
        corpus, coarse, cb, m=4, dim=64, residual=True,
        assign="local", coarse_rows=coarse_rows,
    ))
    return similarity.ivfadc_topk(
        queries, index, coarse, cb, k=3, nprobe=2, m=4, dim=64
    )


# recipe version for the session-scoped IVFADC store: bump whenever the
# build pipeline below (training geometry, encode path, store layout)
# changes, so a stale /tmp artifact from an older build can never be
# searched as if it were current
_IVFADC_STORE_RECIPE = 2
_IVFADC_FPR_FILE = "_build_fingerprint.json"


def _ivfadc_store_fingerprint(sf_dir: str, variant: str = "base") -> str:
    """Identity of the store INPUTS: the embeddings parquet files'
    (name, size, mtime_ns) plus the build-recipe and artifact-format
    versions and the pipeline ``variant`` (base / rotated).  Any
    regenerated test data, code change, or layout bump changes the
    fingerprint and forces a rebuild."""
    import hashlib
    import json as _json
    import os

    from ..extensions import ann_store

    emb_dir = os.path.join(sf_dir, "embeddings.parquet")
    files = []
    if os.path.isdir(emb_dir):
        for name in sorted(os.listdir(emb_dir)):
            st = os.stat(os.path.join(emb_dir, name))
            files.append((name, st.st_size, st.st_mtime_ns))
    elif os.path.exists(emb_dir):
        st = os.stat(emb_dir)
        files.append((os.path.basename(emb_dir), st.st_size, st.st_mtime_ns))
    ident = _json.dumps(
        {
            "sf_dir": sf_dir,
            "files": files,
            # BOTH format constants ride in the identity: the rotated
            # variant writes _ROTATED_VERSION, the base writes
            # _FORMAT_VERSION — fingerprinting both means a bump of
            # either forces a rebuild of every cached variant instead
            # of leaving a stale artifact load_ivfadc would refuse
            "recipe": _IVFADC_STORE_RECIPE,
            "format": [ann_store._FORMAT_VERSION, ann_store._ROTATED_VERSION],
            "variant": variant,
        },
        sort_keys=True,
    )
    return hashlib.md5(ident.encode()).hexdigest()


def _session_store_fresh(path: str, fpr: str) -> bool:
    """True iff ``path`` holds an artifact whose committed fingerprint
    matches ``fpr`` (build once per session / input identity)."""
    import json as _json
    import os

    try:
        with open(os.path.join(path, _IVFADC_FPR_FILE)) as fh:
            return _json.load(fh).get("fingerprint") == fpr
    except (OSError, ValueError):
        return False


def _commit_store_fingerprint(path: str, fpr: str) -> None:
    """Fingerprint committed LAST (the sidecar discipline): a crashed
    build leaves no fingerprint and the next call rebuilds."""
    import json as _json
    import os

    tmp = os.path.join(path, _IVFADC_FPR_FILE + ".part")
    with open(tmp, "w") as fh:
        _json.dump({"fingerprint": fpr}, fh)
    os.replace(tmp, os.path.join(path, _IVFADC_FPR_FILE))


def sim_ivfadc_store_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION IVFADC posture, pinned end to end: train once,
    WRITE the index as a stored artifact partitioned by ``list_id``,
    read it back, search the store.  Same trained pipeline and
    parameters as ``sim_ivfadc_topk``, so the values are identical by
    construction (codes and stored ``rn`` round-trip through parquet
    bit-exactly) — what this row adds is the store/search split itself:
    the search plan is a plain partition-pruned scan (the
    ``_index_barrier`` pass-through shape), never the in-plan build.

    SESSION-SCOPED BUILD (round 11): the artifact is keyed on an input
    fingerprint (:func:`_ivfadc_store_fingerprint` — embeddings file
    identity + recipe/format versions).  The first call per fingerprint
    trains and writes; every later call — the three timed bench passes,
    the correctness re-check — verifies the fingerprint and runs ONLY
    load + search, the marginal cost of the production
    train-once/store/search-many split this row exists to pin.  Output
    is the search result, so the value hash is identical either way;
    the offline-build half stays covered by the first call here and by
    ``tests/test_ann_store.py`` directly."""
    from ..extensions import ann_store

    path = _ensure_base_store(spark, sf_dir)
    queries = similarity.prepare(load(spark, sf_dir, "embeddings")).filter(
        (F.col("vec_id") >= 12) & (F.col("vec_id") < 28)
    )
    return ann_store.load_ivfadc(path).search(queries, k=3, nprobe=2)


def _session_store_path(sf_dir: str, kind: str) -> str:
    """Session-store location for a (sf_dir, variant) pair.  The path
    carries the CURRENT USER (per-user cache: on a shared box two users'
    builds can neither race nor squat each other's directory) plus the
    md5 of ``sf_dir``."""
    import getpass
    import hashlib
    import os
    import tempfile

    user = getpass.getuser()
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    return os.path.join(
        tempfile.gettempdir(), f"nr_rfc_spark_{user}_ivfadc_{kind}_{tag}"
    )


@_contextlib.contextmanager
def _build_lock(path: str):
    """Exclusive advisory lock serializing concurrent session-store
    builds: two bench/pytest processes that race the same fingerprint
    would interleave the non-atomic parquet overwrite + fingerprint
    commit.  flock on a sibling ``.lock`` file (0600 — per-user, like
    the store path itself); the loser re-checks the fingerprint under
    the lock and finds the winner's build."""
    import fcntl
    import os

    fd = os.open(path + ".lock", os.O_CREAT | os.O_RDWR, 0o600)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        fcntl.flock(fd, fcntl.LOCK_UN)
        os.close(fd)


def _ensure_store(
    sf_dir: str, kind: str, variant: str, build: Callable[[str], None]
) -> str:
    """Build once per input fingerprint: the session store ``kind`` of
    ``sf_dir`` is (re)written by ``build(path)`` only when its committed
    fingerprint is missing or stale.  The re-check under
    :func:`_build_lock` lets a racer's finished build win, and the
    fingerprint commits only after ``build`` returns, so a crashed
    build leaves none and the next call rebuilds."""
    path = _session_store_path(sf_dir, kind)
    fpr = _ivfadc_store_fingerprint(sf_dir, variant)
    if not _session_store_fresh(path, fpr):
        with _build_lock(path):
            if not _session_store_fresh(path, fpr):
                build(path)
                _commit_store_fingerprint(path, fpr)
    return path


def _save_base_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Train the base IVFADC pipeline and write its index to ``path``."""
    from ..extensions import ann_store

    coarse, _, corpus, coarse_rows, cb = _ivfadc_parts(spark, sf_dir, iters=1)
    ann_store.save_ivfadc(
        similarity.ivf_pq_index(
            corpus, coarse, cb, m=4, dim=64, residual=True,
            assign="local", coarse_rows=coarse_rows,
        ),
        path, coarse_rows, cb, m=4, dim=64,
    )


def _ensure_base_store(spark: SparkSession, sf_dir: str) -> str:
    """The shared base IVFADC artifact — used by BOTH the store query
    and the filtered-search query (same geometry, same trained model;
    whichever runs first builds)."""
    return _ensure_store(
        sf_dir, "store", "base", lambda p: _save_base_index(spark, sf_dir, p)
    )


# shared CTE chain for the IVFADC plans: coarse assignment → residuals →
# seed codebook → ONE Lloyd step (assign, re-quantized means, keep-seed
# on empty) → trained codebook cb1.  TRAIN_CODEBOOK_SQL reads cb1
# directly; IVFADC_TOPK_SQL continues through encode → probe →
# reconstruction → ADC scoring.
_IVFADC_CTES = f"""
WITH u AS (
{_UNNEST_Q.format(pred="TRUE")}
), co AS (
  SELECT vec_id AS lid, e AS le, i FROM u
  WHERE vec_id >= 8 AND vec_id < 12
), nco AS (SELECT lid, SUM(le * le) AS ln FROM co GROUP BY 1),
uu AS (SELECT vec_id, e, i FROM u WHERE vec_id >= 28),
nc AS (SELECT vec_id, SUM(e * e) AS n FROM uu GROUP BY 1),
uq AS (SELECT vec_id, e, i FROM u WHERE vec_id >= 12 AND vec_id < 28),
nq AS (SELECT vec_id, SUM(e * e) AS n FROM uq GROUP BY 1),
ca AS (
  SELECT uu.vec_id, co.lid, nc.n + nco.ln - 2 * SUM(uu.e * co.le) AS d
  FROM uu JOIN co ON uu.i = co.i
  JOIN nc ON uu.vec_id = nc.vec_id
  JOIN nco ON co.lid = nco.lid
  GROUP BY 1, 2, nc.n, nco.ln
), corpus_list AS (
  SELECT vec_id, lid FROM ca
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, lid) = 1
), res AS (
  SELECT uu.vec_id, uu.i, uu.e - co.le AS e
  FROM uu
  JOIN corpus_list cl ON uu.vec_id = cl.vec_id
  JOIN co ON co.lid = cl.lid AND co.i = uu.i
), rs AS (
  SELECT vec_id, e, i, i // 16 AS s, i % 16 AS j FROM res
), nr AS (SELECT vec_id, s, SUM(e * e) AS nsub FROM rs GROUP BY 1, 2),
sd AS (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid
  FROM (SELECT DISTINCT vec_id FROM res ORDER BY vec_id LIMIT 8)
), cb0 AS (
  SELECT sd.cid, rs.s, rs.j, rs.i, rs.e AS ce
  FROM sd JOIN rs ON sd.vec_id = rs.vec_id
), cn0 AS (SELECT cid, s, SUM(ce * ce) AS cn FROM cb0 GROUP BY 1, 2),
d0 AS (
  SELECT rs.vec_id, rs.s, cb0.cid, nr.nsub + cn0.cn - 2 * SUM(rs.e * cb0.ce) AS d
  FROM rs JOIN cb0 ON rs.s = cb0.s AND rs.j = cb0.j
  JOIN nr ON rs.vec_id = nr.vec_id AND rs.s = nr.s
  JOIN cn0 ON cb0.cid = cn0.cid AND cb0.s = cn0.s
  GROUP BY 1, 2, 3, nr.nsub, cn0.cn
), a0 AS (
  SELECT vec_id, s, cid FROM d0
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, cid) = 1
), m0 AS (
  SELECT a0.s, a0.cid, rs.j,
         CAST(ROUND(CAST(SUM(rs.e) * 1 AS DOUBLE) / COUNT(rs.e), 0)
              AS BIGINT) AS me
  FROM a0 JOIN rs ON a0.vec_id = rs.vec_id AND a0.s = rs.s
  GROUP BY 1, 2, 3
), cb1 AS (
  SELECT cb0.cid, cb0.s, cb0.j, cb0.i, COALESCE(m0.me, cb0.ce) AS ce
  FROM cb0 LEFT JOIN m0
    ON cb0.s = m0.s AND cb0.cid = m0.cid AND cb0.j = m0.j
)
"""

SIM_PQ_TRAIN_CODEBOOK_SQL = _IVFADC_CTES + """
SELECT cid, CAST(i AS INT) AS pos, ce AS val FROM cb1
"""

# search half of the IVFADC SQL, shared by the plain / stored / rotated /
# filtered spellings: encode the corpus against the trained codebook,
# probe nprobe=2 lists per query, reconstruct, ADC-score
_IVFADC_SEARCH_CTES = """, cn1 AS (
  SELECT cid, s, SUM(ce * ce) AS cn FROM cb1 GROUP BY 1, 2
), d1 AS (
  SELECT rs.vec_id, rs.s, cb1.cid, nr.nsub + cn1.cn - 2 * SUM(rs.e * cb1.ce) AS d
  FROM rs JOIN cb1 ON rs.s = cb1.s AND rs.j = cb1.j
  JOIN nr ON rs.vec_id = nr.vec_id AND rs.s = nr.s
  JOIN cn1 ON cb1.cid = cn1.cid AND cb1.s = cn1.s
  GROUP BY 1, 2, 3, nr.nsub, cn1.cn
), code AS (
  SELECT vec_id, s, cid FROM d1
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY d, cid) = 1
), qa AS (
  SELECT uq.vec_id, co.lid, nq.n + nco.ln - 2 * SUM(uq.e * co.le) AS d
  FROM uq JOIN co ON uq.i = co.i
  JOIN nq ON uq.vec_id = nq.vec_id
  JOIN nco ON co.lid = nco.lid
  GROUP BY 1, 2, nq.n, nco.ln
), query_probe AS (
  SELECT vec_id AS query_id, lid FROM qa
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, lid) <= 2
), recon AS (
  SELECT code.vec_id, cb1.i, co.le + cb1.ce AS e
  FROM code
  JOIN cb1 ON code.s = cb1.s AND code.cid = cb1.cid
  JOIN corpus_list cl ON code.vec_id = cl.vec_id
  JOIN co ON co.lid = cl.lid AND co.i = cb1.i
), rn AS (SELECT vec_id, SUM(e * e) AS rn FROM recon GROUP BY 1),
adc AS (
  SELECT qp.query_id, r.vec_id AS neighbor_id, SUM(uq.e * r.e) AS adot
  FROM query_probe qp
  JOIN corpus_list cl ON cl.lid = qp.lid
  JOIN recon r ON r.vec_id = cl.vec_id
  JOIN uq ON uq.vec_id = qp.query_id AND uq.i = r.i
  GROUP BY 1, 2
), scored AS (
  SELECT adc.query_id, adc.neighbor_id,
         CAST(adc.adot AS DOUBLE)
           / (sqrt(CAST(nq.n AS DOUBLE)) * sqrt(CAST(rn.rn AS DOUBLE)))
           AS cosine_adc
  FROM adc
  JOIN nq ON adc.query_id = nq.vec_id
  JOIN rn ON adc.neighbor_id = rn.vec_id
  WHERE nq.n > 0 AND rn.rn > 0
)
SELECT query_id, neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_adc DESC, neighbor_id ASC)
            AS INT) AS rank,
       cosine_adc
FROM scored
{where}QUALIFY rank <= 3
"""

SIM_IVFADC_TOPK_SQL = _IVFADC_CTES.rstrip() + _IVFADC_SEARCH_CTES.format(
    where=""
)

# the stored-artifact search is value-identical to the in-plan search by
# construction (same trained model, codes round-trip through parquet
# bit-exactly) — what the row pins is the Spark-side store/search split
SIM_IVFADC_STORE_TOPK_SQL = SIM_IVFADC_TOPK_SQL


def sim_ivfadc_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED (hybrid) IVFADC search — the metadata predicate
    ``vec_id % 3 = 1`` pushed into the probed-list code scan BEFORE ADC
    scoring (``ivfadc_topk(where=…)``, ``extensions/similarity.py``):
    the result is the TRUE top-3 among matching vectors, not a
    post-filtered (and therefore short) slate.  The production
    vector-store question ("top-k WHERE facet = X"), asked the way
    production asks it: against the STORED artifact (the same
    session-scoped store as ``sim_ivfadc_store_topk`` — shared
    fingerprint, built once by whichever query runs first), where the
    predicate lands in the parquet scan's pushed filters.  Values are
    identical to filtering the in-plan index (same codes bit-exact
    through parquet); recall under selectivity is probed at 1M codes in
    SCALE_PROBE.json."""
    from ..extensions import ann_store

    path = _ensure_base_store(spark, sf_dir)
    queries = similarity.prepare(load(spark, sf_dir, "embeddings")).filter(
        (F.col("vec_id") >= 12) & (F.col("vec_id") < 28)
    )
    return ann_store.load_ivfadc(path).search(
        queries, k=3, nprobe=2, where="vec_id % 3 = 1"
    )


SIM_IVFADC_FILTERED_SQL = _IVFADC_CTES.rstrip() + _IVFADC_SEARCH_CTES.format(
    where="WHERE neighbor_id % 3 = 1\n"
)


# The deterministic rotation instance of the registered rotated-IVFADC
# query: ±1 Sylvester-Hadamard (orthogonal up to the cosine-invariant
# scale √64), applied to the QUANTIZED vectors so every downstream
# integer (assignment, residual, trained codebook, code, rn, ADC dot)
# is exact BIGINT arithmetic DuckDB reproduces.  The trained float OPQ
# rotation rides the SAME code path (rotation mode "pre" /
# ``rotate_prepare``) — its recall lift is pinned at 1M on the
# anisotropic fixture in SCALE_PROBE.json, where bit-exact oracle
# checking is impossible by construction (eigendecomposition floats).
def _had64() -> list[list[int]]:
    return similarity.hadamard_rows(64)


def _ivfadc_rot_parts(spark: SparkSession, sf_dir: str):
    """The ``_ivfadc_parts`` chain run in the ROTATED basis: prepare →
    hadamard rotate → coarse 8–12 / corpus ≥ 28 split → residual
    codebook training.  Same stated plan-build exception."""
    emb = load(spark, sf_dir, "embeddings")
    rot = similarity.rotate_quantized(similarity.prepare(emb), _had64())
    coarse = rot.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 12))
    corpus = rot.filter(F.col("vec_id") >= 28)
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in coarse.select("vec_id", "q").collect()
    ]
    # NOTE (r13): this path deliberately KEEPS the window spelling.  The
    # rotated corpus's q column is itself a 64-term-per-element unrolled
    # Hadamard expression; composing ivf_assign_local's literal fold on
    # top re-inlines that rotation into every distance reference
    # (CollapseProject has no CSE), detonating the plan — measured
    # 138 MiB task binaries and a 315 s store build at sf0.01.  The
    # window's exchange is the barrier that keeps the rotation evaluated
    # once per row.
    residuals = similarity.residualize(
        similarity.ivf_assign(corpus, coarse, 1, None), coarse_rows
    )
    cb = similarity.pq_train_codebooks(residuals, k=8, m=4, dim=64, iters=1)
    return emb, coarse, corpus, coarse_rows, cb


def sim_ivfadc_rotated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ROTATED production ANN chain, end to end (the FAISS
    ``OPQxx,IVFyy,PQzz`` pre-transform composition): rotate the corpus,
    train coarse/PQ in the rotated basis, store the index WITH the
    rotation in its model sidecar (``ann_store`` format v2), then — the
    part that proves the sidecar carries everything — search from RAW
    query embeddings via :meth:`IvfadcIndex.search_embeddings`, which
    must rediscover and apply the rotation itself.  Same session-scoped
    build-once discipline as ``sim_ivfadc_store_topk``: the timed body
    is rotate-queries + load + search, the production marginal cost."""
    from ..extensions import ann_store

    def build(path: str) -> None:
        _, coarse, corpus, coarse_rows, cb = _ivfadc_rot_parts(spark, sf_dir)
        ann_store.save_ivfadc(
            # window assign, NOT "local": corpus q is the unrolled
            # rotation — see _ivfadc_rot_parts
            similarity.ivf_pq_index(
                corpus, coarse, cb, m=4, dim=64, residual=True,
            ),
            path, coarse_rows, cb, m=4, dim=64,
            rotation={"mode": "post_int", "components": _had64()},
        )

    path = _ensure_store(sf_dir, "rot", "rotated-hadamard", build)
    queries_raw = load(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") >= 12) & (F.col("vec_id") < 28)
    )
    return ann_store.load_ivfadc(path).search_embeddings(
        queries_raw, k=3, nprobe=2
    )


def _ivfadc_rot_ctes() -> str:
    """The ``_IVFADC_CTES`` training/search chain re-sourced from the
    Hadamard-rotated stream: ``ur`` rotates the unnested (vec_id, e, i)
    rows — ``e'(c) = Σᵢ e(i)·(−1)^popcount(c AND i)``, exact BIGINTs —
    and every consumer of ``u`` reads ``ur`` instead."""
    import re

    rot = re.sub(r"\bFROM u\b", "FROM ur", _IVFADC_CTES)
    ur = """), ur AS (
  SELECT a.vec_id,
         SUM(a.e * CASE WHEN bit_count(CAST(oc.c AS BIGINT) & a.i) % 2 = 0
                        THEN 1 ELSE -1 END) AS e,
         oc.c AS i
  FROM u a, (SELECT unnest(range(64)) AS c) oc
  GROUP BY a.vec_id, oc.c
), co AS ("""
    return rot.replace("), co AS (", ur, 1)


SIM_IVFADC_ROTATED_SQL = (
    _ivfadc_rot_ctes().rstrip() + _IVFADC_SEARCH_CTES.format(where="")
)


def _ensure_deleted_store(spark: SparkSession, sf_dir: str) -> str:
    """The tombstoned store variant: the base pipeline in its own
    directory with ``vec_id % 7 = 3`` soft-deleted
    (:func:`~..extensions.ann_store.delete_vectors`) as part of the
    build — the fingerprint commits AFTER the delete, so a fresh
    session sees build+delete as one unit."""
    from ..extensions import ann_store

    def build(path: str) -> None:
        _save_base_index(spark, sf_dir, path)
        ann_store.delete_vectors(spark, path, "vec_id % 7 = 3")

    return _ensure_store(sf_dir, "del", "tombstoned-mod7", build)


def sim_ivfadc_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC search over a store with TOMBSTONED vectors — the
    deletion tier (``ann_store.delete_vectors`` → ``_deleted`` side
    table → broadcast anti-join inside ``ivfadc_topk``): every
    ``vec_id % 7 = 3`` corpus vector is soft-deleted, and the search
    returns the TRUE top-3 among survivors — deleted ids can neither
    rank nor shorten the slate.  Values equal the base search with the
    deleted pairs filtered before ranking (scores are per-pair, so
    exclusion commutes with scoring — the oracle's spelling).  The
    physical purge half (``compact_deleted``, rebalance fold-in) is
    covered by tests; this row pins the search-visible semantics."""
    from ..extensions import ann_store

    path = _ensure_deleted_store(spark, sf_dir)
    queries = similarity.prepare(load(spark, sf_dir, "embeddings")).filter(
        (F.col("vec_id") >= 12) & (F.col("vec_id") < 28)
    )
    return ann_store.load_ivfadc(path).search(queries, k=3, nprobe=2)


SIM_IVFADC_DELETED_SQL = _IVFADC_CTES.rstrip() + _IVFADC_SEARCH_CTES.format(
    where="WHERE neighbor_id % 7 != 3\n"
)


def sim_ivfadc_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive-nprobe FILTERED search — the candidate-budget dial
    (``ivfadc_topk(target_candidates=…)``): under the ``vec_id % 3 =
    1`` predicate each query walks its distance-ranked MATCHING lists
    until the cumulative matching count reaches 60 (floor nprobe=1),
    so the scanned-candidate budget holds roughly constant across
    selectivities instead of decaying with the filter.  Same
    session-scoped base store as the other hybrid rows; the oracle
    mirrors the per-query cumulative walk declaratively."""
    from ..extensions import ann_store

    path = _ensure_base_store(spark, sf_dir)
    queries = similarity.prepare(load(spark, sf_dir, "embeddings")).filter(
        (F.col("vec_id") >= 12) & (F.col("vec_id") < 28)
    )
    return ann_store.load_ivfadc(path).search(
        queries, k=3, nprobe=1, where="vec_id % 3 = 1",
        target_candidates=60,
    )


# the adaptive probe replaces the fixed-width query_probe CTE: per-list
# MATCHING counts, a per-query distance-ranked walk with a running sum,
# cut at the 60-candidate target (floor nprobe=1); scored pairs then
# post-filter by the same predicate (scores are per-pair, so candidate
# restriction commutes with scoring — the FILTERED_SQL argument)
_ADAPTIVE_PROBE_CTES = """), mcounts AS (
  SELECT cl.lid, COUNT(*) AS cnt
  FROM corpus_list cl
  WHERE cl.vec_id % 3 = 1
  GROUP BY 1
), qa2 AS (
  SELECT qa.vec_id, qa.lid, mcounts.cnt,
         ROW_NUMBER() OVER (PARTITION BY qa.vec_id
                            ORDER BY qa.d, qa.lid) AS pr
  FROM qa JOIN mcounts ON qa.lid = mcounts.lid
), query_probe AS (
  SELECT vec_id AS query_id, lid FROM (
    SELECT vec_id, lid, pr, cnt,
           SUM(cnt) OVER (PARTITION BY vec_id ORDER BY pr) AS cum
    FROM qa2
  )
  WHERE pr <= 1 OR cum - cnt < 60
), recon AS ("""

SIM_IVFADC_ADAPTIVE_SQL = _IVFADC_CTES.rstrip() + _IVFADC_SEARCH_CTES.format(
    where="WHERE neighbor_id % 3 = 1\n"
).replace(
    """), query_probe AS (
  SELECT vec_id AS query_id, lid FROM qa
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, lid) <= 2
), recon AS (""",
    _ADAPTIVE_PROBE_CTES,
)


# --- multi-segment search (round 12) ---------------------------------------
# Two segments with DIFFERENT models and DIFFERENT bases, searched as
# one index (ann_store.search_segments — the frozen-base + fresh-
# admission posture rebalance_ivfadc's contract creates):
#   segment A: raw basis,      coarse = rows  8-10, corpus = even ids ≥ 28
#   segment B: Hadamard basis, coarse = rows 10-12, corpus = odd  ids ≥ 28
# Each segment trains its own residual PQ codebook; nprobe=1 of 2 lists
# keeps per-segment probe selection live.  The oracle runs the full
# training+search CTE chain TWICE (suffixed _a/_b, segment B through the
# rotated-stream rewrite) and merges with one global rank — equal to the
# engine's per-segment-top-k-then-merge because every global top-k pair
# is inside its own segment's top-k.

_SEG_CTE_NAMES = (
    "u ur co nco uu nc uq nq ca corpus_list res rs nr sd cb0 cn0 d0 a0 m0"
    " cb1 cn1 d1 code qa query_probe recon rn adc scored"
).split()


def _ivfadc_scored_chain(
    suffix: str,
    coarse_pred: str,
    corpus_pred: str,
    nprobe: int,
    rotated: bool = False,
) -> str:
    """The shared IVFADC training+search CTE chain, cut at ``scored``
    (no final SELECT), with the coarse/corpus predicates and probe
    width substituted and every CTE name suffixed — so two chains can
    coexist in one statement."""
    import re

    chain = (_IVFADC_CTES.rstrip() + _IVFADC_SEARCH_CTES).split(
        "\nSELECT query_id,"
    )[0]
    if rotated:
        chain = re.sub(r"\bFROM u\b", "FROM ur", chain)
        ur = """), ur AS (
  SELECT a.vec_id,
         SUM(a.e * CASE WHEN bit_count(CAST(oc.c AS BIGINT) & a.i) % 2 = 0
                        THEN 1 ELSE -1 END) AS e,
         oc.c AS i
  FROM u a, (SELECT unnest(range(64)) AS c) oc
  GROUP BY a.vec_id, oc.c
), co AS ("""
        chain = chain.replace("), co AS (", ur, 1)
    chain = chain.replace("vec_id >= 8 AND vec_id < 12", coarse_pred)
    chain = chain.replace("WHERE vec_id >= 28", f"WHERE {corpus_pred}")
    chain = chain.replace(
        "ORDER BY d, lid) <= 2", f"ORDER BY d, lid) <= {nprobe}"
    )
    for name in _SEG_CTE_NAMES:
        chain = re.sub(rf"\b{name}\b", name + suffix, chain)
    return chain


def _ivfadc_seg_parts(spark: SparkSession, sf_dir: str, seg: str):
    """Per-segment training chain (same stated plan-build exception as
    ``_ivfadc_parts``): segment ``a`` in the raw basis, segment ``b``
    in the Hadamard basis with the rotation spec for its sidecar."""
    emb = load(spark, sf_dir, "embeddings")
    if seg == "a":
        base = similarity.prepare(emb)
        lo, hi, parity, rotation = 8, 10, 0, None
    else:
        base = similarity.rotate_quantized(similarity.prepare(emb), _had64())
        lo, hi, parity = 10, 12, 1
        rotation = {"mode": "post_int", "components": _had64()}
    coarse = base.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
    corpus = base.filter(
        (F.col("vec_id") >= 28) & (F.col("vec_id") % 2 == parity)
    )
    coarse_rows = [
        (int(r["vec_id"]), [int(v) for v in r["q"]])
        for r in coarse.select("vec_id", "q").collect()
    ]
    # window spelling on the training input, both bases (r13 A/B): the
    # literal fold re-inlines the per-element q expression into every
    # training-job evaluation (see _ivfadc_parts — 3.2 s → 27.7 s; in
    # the rotated basis it detonates outright, see _ivfadc_rot_parts)
    residuals = similarity.residualize(
        similarity.ivf_assign(corpus, coarse, 1, None), coarse_rows
    )
    cb = similarity.pq_train_codebooks(residuals, k=8, m=4, dim=64, iters=1)
    return coarse, corpus, coarse_rows, cb, rotation


def _ensure_segment_store(spark: SparkSession, sf_dir: str, seg: str) -> str:
    from ..extensions import ann_store

    def build(path: str) -> None:
        coarse, corpus, coarse_rows, cb, rotation = _ivfadc_seg_parts(
            spark, sf_dir, seg
        )
        ann_store.save_ivfadc(
            # "local" only in the raw basis (seg a) — see
            # _ivfadc_seg_parts for the rotated-basis rationale
            similarity.ivf_pq_index(
                corpus, coarse, cb, m=4, dim=64, residual=True,
                **(
                    {"assign": "local", "coarse_rows": coarse_rows}
                    if rotation is None
                    else {}
                ),
            ),
            path, coarse_rows, cb, m=4, dim=64, rotation=rotation,
        )

    return _ensure_store(sf_dir, f"seg{seg}", f"segment-{seg}", build)


def sim_ivfadc_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-segment ANN search — TWO stored indexes with different
    coarse quantizers, different trained codebooks, and DIFFERENT
    bases (raw + Hadamard-rotated) searched as one
    (:func:`~..extensions.ann_store.search_segments`): each segment
    ranks its own lists with its own coarse, rotates the raw queries
    by its own sidecar, scores its own codes, and one global top-3
    merges the slates.  This is the steady-state posture
    ``rebalance_ivfadc`` creates — a frozen swept base plus a fresh
    admission segment — made a real searchable operator.  Same
    session-scoped build-once discipline as the other store rows: the
    timed body is two loads + the merged search."""
    from ..extensions import ann_store

    pa = _ensure_segment_store(spark, sf_dir, "a")
    pb = _ensure_segment_store(spark, sf_dir, "b")
    queries_raw = load(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") >= 12) & (F.col("vec_id") < 28)
    )
    return ann_store.search_segments(
        spark, [pa, pb], queries_raw, k=3, nprobe=1
    )


SIM_IVFADC_SEGMENTS_SQL = (
    _ivfadc_scored_chain(
        "_a",
        "vec_id >= 8 AND vec_id < 10",
        "vec_id >= 28 AND vec_id % 2 = 0",
        nprobe=1,
    )
    + ",\n"
    + _ivfadc_scored_chain(
        "_b",
        "vec_id >= 10 AND vec_id < 12",
        "vec_id >= 28 AND vec_id % 2 = 1",
        nprobe=1,
        rotated=True,
    ).lstrip().removeprefix("WITH ")
    + """,
seg_union AS (
  SELECT query_id, neighbor_id, cosine_adc FROM scored_a
  UNION ALL
  SELECT query_id, neighbor_id, cosine_adc FROM scored_b
), merged AS (
  SELECT query_id, neighbor_id, MAX(cosine_adc) AS cosine_adc
  FROM seg_union GROUP BY 1, 2
)
SELECT query_id, neighbor_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_adc DESC, neighbor_id ASC)
            AS INT) AS rank,
       cosine_adc
FROM merged
QUALIFY rank <= 3
"""
)


def sim_ivfadc_segments_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE search over the multi-segment store — round 13's two new
    ANN surfaces composed: the radius question (every probed neighbor
    with reconstructed cosine >= 0.2, no rank) asked of the SAME
    mixed-model mixed-basis two-segment set as
    ``ext_sim_ivfadc_segments``
    (:func:`~..extensions.ann_store.range_search_segments`).  Each
    segment answers with its own coarse/rotation/codebook and the
    merge is lighter than top-k's: per-segment thresholding commutes
    with the max-per-(query, neighbor) dedup, and there is NO global
    rank window — the only merge exchange is the dedup groupBy on
    already-thresholded rows.  The oracle runs both training+search
    chains and thresholds the merged MAX instead of ranking it."""
    from ..extensions import ann_store

    pa = _ensure_segment_store(spark, sf_dir, "a")
    pb = _ensure_segment_store(spark, sf_dir, "b")
    queries_raw = load(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") >= 12) & (F.col("vec_id") < 28)
    )
    return ann_store.range_search_segments(
        spark, [pa, pb], queries_raw, 0.2, nprobe=1
    )


SIM_IVFADC_SEGMENTS_RANGE_SQL = (
    SIM_IVFADC_SEGMENTS_SQL.split("\nSELECT query_id, neighbor_id,")[0]
    + """
SELECT query_id, neighbor_id, cosine_adc FROM merged
WHERE cosine_adc >= 0.2
"""
)


# --- segment merge + maintenance + unfiltered budget (round 13) -----------


def _ensure_merged_store(spark: SparkSession, sf_dir: str) -> str:
    """Build-once for the MERGED store: the full segment lifecycle run
    as one unit — base segment (even corpus ids, standard full-corpus
    model) with ``vec_id % 10 = 4`` tombstoned, fresh segment (odd ids
    PLUS the re-admitted % 10 = 4 ids and the still-live % 10 = 6
    overlap ids, same model — the admission norm), then
    :func:`~..extensions.ann_store.merge_segments` folds them into one
    store.  Every resolution rule fires on the way: the base's stale
    tombstoned copies drop, the re-admitted fresh copies win
    (delete-then-reinsert), the % 10 = 6 duplicates land exactly once
    (later-wins), and the merged store starts tombstone-free — so the
    merged table is EXACTLY the full corpus encoded once with the
    shared model, which is what makes the search hash-checkable
    against the plain single-store oracle.  The fingerprint commits
    only after the merge (crash → rebuild)."""
    from ..extensions import ann_store

    def build(path: str) -> None:
        coarse, _, corpus, coarse_rows, cb = _ivfadc_parts(spark, sf_dir, iters=1)
        even = corpus.filter(F.col("vec_id") % 2 == 0)
        readmit = corpus.filter(F.col("vec_id") % 10 == 4)
        overlap = corpus.filter(F.col("vec_id") % 10 == 6)
        fresh_rows = corpus.filter(
            F.col("vec_id") % 2 == 1
        ).unionByName(readmit).unionByName(overlap)
        base_p, fresh_p = path + "_base", path + "_fresh"
        ann_store.save_ivfadc(
            similarity.ivf_pq_index(
                even, coarse, cb, m=4, dim=64, residual=True,
                assign="local", coarse_rows=coarse_rows,
            ),
            base_p, coarse_rows, cb, m=4, dim=64,
        )
        ann_store.delete_vectors(spark, base_p, "vec_id % 10 = 4")
        ann_store.save_ivfadc(
            similarity.ivf_pq_index(
                fresh_rows, coarse, cb, m=4, dim=64, residual=True,
                assign="local", coarse_rows=coarse_rows,
            ),
            fresh_p, coarse_rows, cb, m=4, dim=64,
        )
        ann_store.merge_segments(spark, [base_p, fresh_p], path)

    return _ensure_store(sf_dir, "mrg", "merged-lifecycle", build)


def sim_ivfadc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-merge lifecycle — the CLOSER of the ANN store loop
    (:func:`~..extensions.ann_store.merge_segments`): a frozen base
    segment with tombstones plus a fresh admission segment carrying
    re-admitted and duplicate ids fold back into ONE store, and this
    row searches the merged result.  Because the merge resolves
    everything (stale copies out, latest admission wins, each id
    exactly once, same model carried bit-exact), the merged search is
    value-identical to searching a single index built over the whole
    corpus — the oracle — which is precisely the property a merge
    must have: afterwards, searches read ONE path at single-index
    cost (the 1M probe pins the cost reversion in SCALE_PROBE.json).
    Session-scoped build discipline: the timed body is load +
    search."""
    from ..extensions import ann_store

    path = _ensure_merged_store(spark, sf_dir)
    queries = similarity.prepare(load(spark, sf_dir, "embeddings")).filter(
        (F.col("vec_id") >= 12) & (F.col("vec_id") < 28)
    )
    return ann_store.load_ivfadc(path).search(queries, k=3, nprobe=2)


# merged-search ≡ single-index search over the full corpus (see
# _ensure_merged_store for why that identity is the merge's contract)
SIM_IVFADC_MERGE_SQL = SIM_IVFADC_TOPK_SQL


def _ensure_maintained_store(spark: SparkSession, sf_dir: str) -> str:
    """The tombstoned store variant PURGED: same build + ``vec_id % 7
    = 3`` soft-delete as ``_ensure_deleted_store``, then
    :func:`~..extensions.ann_store.compact_deleted` physically drops
    the rows through the staged swap — build, delete, and purge commit
    as one fingerprinted unit."""
    from ..extensions import ann_store

    def build(path: str) -> None:
        _save_base_index(spark, sf_dir, path)
        ann_store.delete_vectors(spark, path, "vec_id % 7 = 3")
        rep = ann_store.compact_deleted(spark, path)
        if not rep["compacted"]:  # pragma: no cover - build guard
            raise RuntimeError("maintenance store build: nothing purged")

    return _ensure_store(sf_dir, "mnt", "maintained-mod7", build)


def sim_ivfadc_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index MAINTENANCE under the driver's gate: the ``vec_id % 7 =
    3`` tombstones of the deletion tier are PHYSICALLY PURGED
    (:func:`~..extensions.ann_store.compact_deleted` — anti-join
    rewrite through the crash-recoverable staged swap, model sidecar
    unchanged, ``_deleted`` dropped atomically with the rows it
    named), and the search runs over the purged store.  The oracle is
    the SAME exclusion chain as ``ext_sim_ivfadc_deleted`` — proving
    purge-then-search ≡ tombstone-then-search, the identity that makes
    soft deletion safe to defer: the bytes can follow the GDPR flag at
    leisure because search results never depend on WHICH of the two
    states the store is in.  (The rebalance fold-in purge is pinned by
    tests and the 1M lifecycle probe.)"""
    from ..extensions import ann_store

    path = _ensure_maintained_store(spark, sf_dir)
    queries = similarity.prepare(load(spark, sf_dir, "embeddings")).filter(
        (F.col("vec_id") >= 12) & (F.col("vec_id") < 28)
    )
    return ann_store.load_ivfadc(path).search(queries, k=3, nprobe=2)


SIM_IVFADC_MAINTENANCE_SQL = SIM_IVFADC_DELETED_SQL


def sim_ivfadc_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE search over the stored index — FAISS ``range_search`` for
    the IVFADC tier (round 13): every probed neighbor with
    reconstructed cosine >= 0.2, instead of the 3 best.  The radius
    question (duplicate sweeps, recall harvesting, near-dup candidate
    generation) answered CHEAPER than top-k: same probed pruned scan
    and exact-integer ADC scoring, rank window DELETED — a scan-local
    predicate replaces the per-query sort exchange, so the plan adds
    zero exchanges over the probe join.  Same session-scoped base
    store; the oracle is the shared scoring chain with the threshold
    predicate in place of the rank qualifier."""
    from ..extensions import ann_store

    path = _ensure_base_store(spark, sf_dir)
    queries = similarity.prepare(load(spark, sf_dir, "embeddings")).filter(
        (F.col("vec_id") >= 12) & (F.col("vec_id") < 28)
    )
    return ann_store.load_ivfadc(path).range_search(
        queries, 0.2, nprobe=2
    )


SIM_IVFADC_RANGE_SQL = (
    _IVFADC_CTES.rstrip()
    + _IVFADC_SEARCH_CTES.format(where="").split(
        "\nSELECT query_id, neighbor_id,"
    )[0]
    + """
SELECT query_id, neighbor_id, cosine_adc FROM scored
WHERE cosine_adc >= 0.2
"""
)


def sim_ivfadc_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNFILTERED candidate-budget search — nprobe AUTO-TUNE
    (``ivfadc_topk(target_candidates=…)`` with no predicate, round
    13): each query walks its distance-ranked occupied lists until
    ~800 candidates are in scope (floor nprobe=1), so the scanned-byte
    budget per query is set directly instead of via a per-corpus
    nprobe guess — the dial stays calibrated as the corpus grows and
    as list occupancy skews, where a fixed nprobe scans 10× different
    byte counts across queries.  Same session-scoped base store; the
    oracle mirrors the cumulative walk over plain list sizes."""
    from ..extensions import ann_store

    path = _ensure_base_store(spark, sf_dir)
    queries = similarity.prepare(load(spark, sf_dir, "embeddings")).filter(
        (F.col("vec_id") >= 12) & (F.col("vec_id") < 28)
    )
    return ann_store.load_ivfadc(path).search(
        queries, k=3, nprobe=1, target_candidates=800
    )


# the unfiltered walk: per-list sizes (no predicate), ranked by query
# distance, cut at the 800-candidate running total, floor nprobe=1
_BUDGET_PROBE_CTES = """), mcounts AS (
  SELECT cl.lid, COUNT(*) AS cnt
  FROM corpus_list cl
  GROUP BY 1
), qa2 AS (
  SELECT qa.vec_id, qa.lid, mcounts.cnt,
         ROW_NUMBER() OVER (PARTITION BY qa.vec_id
                            ORDER BY qa.d, qa.lid) AS pr
  FROM qa JOIN mcounts ON qa.lid = mcounts.lid
), query_probe AS (
  SELECT vec_id AS query_id, lid FROM (
    SELECT vec_id, lid, pr, cnt,
           SUM(cnt) OVER (PARTITION BY vec_id ORDER BY pr) AS cum
    FROM qa2
  )
  WHERE pr <= 1 OR cum - cnt < 800
), recon AS ("""

SIM_IVFADC_BUDGET_SQL = _IVFADC_CTES.rstrip() + _IVFADC_SEARCH_CTES.format(
    where=""
).replace(
    """), query_probe AS (
  SELECT vec_id AS query_id, lid FROM qa
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, lid) <= 2
), recon AS (""",
    _BUDGET_PROBE_CTES,
)


def contamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space eval-leakage screen: benchmark vec_id < 30
    broadcast against the vec_id ≥ 30 corpus, cosine ≥ 0.3 counted per
    benchmark vector with the nearest corpus id as evidence."""
    emb = load(spark, sf_dir, "embeddings")
    bench = similarity.prepare(emb.filter(F.col("vec_id") < 30))
    corpus = similarity.prepare(emb.filter(F.col("vec_id") >= 30))
    return similarity.semantic_contamination(bench, corpus, threshold=0.3)


CONTAMINATION_SEMANTIC_SQL = f"""
WITH ub AS (
{_UNNEST_Q.format(pred="vec_id < 30")}
), uc AS (
{_UNNEST_Q.format(pred="vec_id >= 30")}
), nb AS (SELECT vec_id, SUM(e * e) AS n FROM ub GROUP BY 1),
nc AS (SELECT vec_id, SUM(e * e) AS n FROM uc GROUP BY 1),
d AS (
  SELECT ub.vec_id AS bench_id, uc.vec_id AS neighbor_id,
         SUM(ub.e * uc.e) AS dot
  FROM ub JOIN uc ON ub.i = uc.i GROUP BY 1, 2
), scored AS (
  SELECT bench_id, neighbor_id,
         CAST(dot AS DOUBLE)
           / (sqrt(CAST(nb.n AS DOUBLE)) * sqrt(CAST(nc.n AS DOUBLE)))
           AS cosine
  FROM d JOIN nb ON bench_id = nb.vec_id JOIN nc ON neighbor_id = nc.vec_id
  WHERE nb.n > 0 AND nc.n > 0
), nearest AS (
  SELECT bench_id, neighbor_id AS nearest_id FROM scored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY bench_id
                             ORDER BY cosine DESC, neighbor_id ASC) = 1
), agg AS (
  SELECT s.bench_id,
         CAST(SUM(CASE WHEN s.cosine >= 0.3 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_contaminated,
         MAX(s.cosine) AS max_cosine,
         MAX(nearest.nearest_id) AS nearest_id
  FROM scored s JOIN nearest ON s.bench_id = nearest.bench_id
  GROUP BY 1
)
-- every benchmark id gets a row: zero scored pairs → n_contaminated = 0
-- with NULL evidence columns (matches the Spark operator's contract)
SELECT b.vec_id AS bench_id,
       COALESCE(agg.n_contaminated, 0) AS n_contaminated,
       agg.max_cosine, agg.nearest_id
FROM (SELECT DISTINCT vec_id FROM embeddings WHERE vec_id < 30) b
LEFT JOIN agg ON b.vec_id = agg.bench_id
"""


def curate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SemDeDup production flow end-to-end: rule-gate the documents,
    join each survivor to its embedding (vec_id ≡ doc_id in the driver
    testdata), coarse-cluster on the 8 smallest surviving ids, drop
    within-cluster semantic near-dups — per-doc audit row out.

    INNER-join semantics, stated: a gated doc with no embedding row
    falls out (at sf0.1 the driver testdata has 5,000 docs but 2,000
    embeddings — 997 of 2,434 gated docs carry one).  That is the
    production contract too: the embedding stage runs first, and
    SemDeDup only sees embedded docs.

    Scale shape: the gate is scan-fused on the documents side; the
    doc↔embedding join is a key-equality join (co-locatable by bucketing
    both tables on the id at fleet scale); everything after is
    :func:`~..extensions.similarity.semantic_dedup`'s audited plan."""
    docs = load(spark, sf_dir, "documents")
    # r14: single-tokenization scan-fused gate (curate.rule_gate — same
    # integers/division as quality_scores, one tokenizer eval per row)
    gated = curate.rule_gate(docs, min_words=25, min_uniq=0.4).select(
        "doc_id", "n_words"
    )
    emb = load(spark, sf_dir, "embeddings")
    prep = similarity.prepare(
        emb.join(gated, emb["vec_id"] == gated["doc_id"]).select(
            "vec_id", "embedding"
        )
    )
    cents = (
        prep.withColumn(
            "__rn",
            F.row_number().over(Window.orderBy(F.col("vec_id").asc())),
        )
        .filter(F.col("__rn") <= 8)
        .drop("__rn")
    )
    out = similarity.semantic_dedup(
        prep, cents, threshold=0.3, dim=64, salt=4,
    )
    return out.join(
        gated, out["vec_id"] == gated["doc_id"]
    ).select(
        "doc_id", "n_words", "cluster_id", "kept", "canonical_id"
    )


CURATE_SEMANTIC_SQL = f"""
WITH q AS (
  SELECT doc_id,
         len(string_split(lower(text), ' ')) AS n_words,
         len(list_distinct(string_split(lower(text), ' '))) AS n_distinct
  FROM documents
), gated AS (
  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words FROM q
  WHERE n_words >= 25
    AND CAST(n_distinct AS DOUBLE) / n_words >= 0.4
), u0 AS (
{_UNNEST_Q.format(pred="TRUE")}
), u AS (
  SELECT u0.* FROM u0 JOIN gated ON u0.vec_id = gated.doc_id
), nv AS (SELECT vec_id, SUM(e * e) AS n FROM u GROUP BY 1),
seeds AS (
  SELECT vec_id FROM nv
  QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= 8
), c0 AS (
  SELECT u.vec_id AS cid, u.e, u.i FROM u JOIN seeds USING (vec_id)
), cn0 AS (SELECT cid, SUM(e * e) AS cn FROM c0 GROUP BY 1),
d1 AS (
  SELECT u.vec_id, c0.cid, nv.n + cn0.cn - 2 * SUM(u.e * c0.e) AS d
  FROM u JOIN c0 ON u.i = c0.i
  JOIN nv ON u.vec_id = nv.vec_id
  JOIN cn0 ON c0.cid = cn0.cid
  GROUP BY 1, 2, nv.n, cn0.cn
), a1 AS (
  SELECT vec_id, cid FROM d1
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) = 1
), pairs AS (
  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b, x.cid,
         SUM(ux.e * uy.e) AS dot
  FROM a1 x JOIN a1 y ON x.cid = y.cid AND x.vec_id < y.vec_id
  JOIN u ux ON ux.vec_id = x.vec_id
  JOIN u uy ON uy.vec_id = y.vec_id AND ux.i = uy.i
  GROUP BY 1, 2, 3
), near AS (
  SELECT vec_a, vec_b
  FROM pairs
  JOIN nv na ON vec_a = na.vec_id
  JOIN nv nb ON vec_b = nb.vec_id
  WHERE na.n > 0 AND nb.n > 0
    AND CAST(dot AS DOUBLE)
        / (sqrt(CAST(na.n AS DOUBLE)) * sqrt(CAST(nb.n AS DOUBLE))) >= 0.3
), dropped AS (
  SELECT vec_b AS vec_id, MIN(vec_a) AS canon FROM near GROUP BY 1
)
SELECT a1.vec_id AS doc_id, gated.n_words, a1.cid AS cluster_id,
       dropped.canon IS NULL AS kept,
       COALESCE(dropped.canon, a1.vec_id) AS canonical_id
FROM a1
JOIN gated ON a1.vec_id = gated.doc_id
LEFT JOIN dropped ON a1.vec_id = dropped.vec_id
"""
