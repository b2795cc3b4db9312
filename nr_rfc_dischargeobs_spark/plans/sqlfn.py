"""Pure-SQL surface: the curation operators as SQL table functions.

:mod:`.catalog` exposes tables and FIXED plans as views; this module adds
the missing piece — PARAMETERIZED operators callable from pure SQL, so the
engine is drivable without Python (Spark 4 SQL UDFs, ``CREATE TEMPORARY
FUNCTION … RETURNS TABLE``).  Each TVF body is the operator's generated-
expression formula spelled in Spark SQL text over the registered
``documents`` view; consistency with the DataFrame operator (whose DuckDB
oracle is hash-verified by the driver) is pinned test-by-test in
``tests/test_sqlfn.py`` — the TVF and the operator must return identical
rows on the same corpus, which makes the driver's oracle transitively the
TVF's oracle.

A SQL UDF body is ANALYZED at CREATE time (Spark's
``CreateSQLFunctionCommand`` resolves the body against the current
catalog), so register the views first — :func:`..catalog.register_tables`
before :func:`register_sql_tvfs`; the text/dedup tier needs ``documents``
and the similarity tier needs ``embeddings``.  Registration stays
session-scoped metadata: nothing EXECUTES until a query calls the
function.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F

# token-window chunking bodies reuse ONE last-chunk-index definition so
# n_chunks and the sequence bound cannot desynchronize (the same
# discipline as extensions.text.chunk_windows)
_CHUNK_LAST_IDX = (
    "if(size(__toks) <= chunk_tokens, 0,"
    " cast(ceil((size(__toks) - chunk_tokens) / stride) as int))"
)

SQL_TVFS: dict[str, str] = {
    # extensions.text.token_counts
    "tvf_text_token_counts": """
CREATE OR REPLACE TEMPORARY FUNCTION tvf_text_token_counts()
RETURNS TABLE (doc_id BIGINT, ws_tokens INT, re_tokens INT, n_chars INT)
RETURN SELECT doc_id,
       size(split(text, '\\\\s+')) AS ws_tokens,
       size(regexp_extract_all(
           text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9 ])', 0)) AS re_tokens,
       length(text) AS n_chars
FROM documents
""",
    # extensions.dedup.exact_clusters
    "tvf_dedup_exact_clusters": """
CREATE OR REPLACE TEMPORARY FUNCTION tvf_dedup_exact_clusters()
RETURNS TABLE (fingerprint STRING, n_docs BIGINT, keep_doc_id BIGINT)
RETURN SELECT md5(text) AS fingerprint,
       count(1) AS n_docs,
       min(doc_id) AS keep_doc_id
FROM documents
GROUP BY md5(text)
""",
    # extensions.sampling.deterministic_split (key = doc_id, salt 'split')
    "tvf_sample_split": """
CREATE OR REPLACE TEMPORARY FUNCTION tvf_sample_split(train_frac DOUBLE)
RETURNS TABLE (doc_id BIGINT, split STRING)
RETURN SELECT doc_id,
       CASE WHEN cast(conv(substring(
                md5(concat_ws('|', 'split', cast(doc_id AS STRING))),
                1, 4), 16, 10) AS INT)
              < cast(floor(train_frac * 65536) AS INT)
            THEN 'train' ELSE 'val' END AS split
FROM documents
""",
    # extensions.text.chunk_windows(chunk_tokens, stride)
    "tvf_text_chunk_windows": f"""
CREATE OR REPLACE TEMPORARY FUNCTION tvf_text_chunk_windows(
    chunk_tokens INT, stride INT)
RETURNS TABLE (doc_id BIGINT, n_tokens BIGINT, n_chunks BIGINT,
               chunk_id BIGINT, chunk STRING)
RETURN SELECT doc_id,
       cast(size(__toks) AS BIGINT) AS n_tokens,
       cast(({_CHUNK_LAST_IDX}) + 1 AS BIGINT) AS n_chunks,
       cast(c.chunk_id AS BIGINT) AS chunk_id,
       c.chunk AS chunk
FROM (SELECT doc_id,
             split(coalesce(text, ''), '\\\\s+') AS __toks
      FROM documents) t
LATERAL VIEW explode(transform(sequence(0, {_CHUNK_LAST_IDX}),
    i -> struct(i AS chunk_id,
                concat_ws(' ', slice(__toks, i * stride + 1,
                                     chunk_tokens)) AS chunk))) ex AS c
""",
    # extensions.sketches.histogram_quantiles over documents.n_chars,
    # facet = lang, quantiles fixed at the health-check five (a SQL UDF
    # cannot take an array parameter portably; the grid dials can)
    "tvf_sketch_hist_quantiles": """
CREATE OR REPLACE TEMPORARY FUNCTION tvf_sketch_hist_quantiles(
    lo INT, hi INT, bins INT)
RETURNS TABLE (lang STRING, q_pct INT, bin BIGINT, bin_lo DOUBLE,
               bin_hi DOUBLE, cum_count BIGINT, n_rows BIGINT)
RETURN SELECT lang, q_pct,
       p.bin AS bin,
       cast(lo AS DOUBLE)
         + p.bin * ((hi - lo) / cast(bins AS DOUBLE)) AS bin_lo,
       cast(lo AS DOUBLE)
         + (p.bin + 1) * ((hi - lo) / cast(bins AS DOUBLE)) AS bin_hi,
       p.cum_count AS cum_count,
       p.n_rows AS n_rows
FROM (
  SELECT lang, q_pct, min(struct(bin, cum_count, n_rows)) AS p
  FROM (
    SELECT lang, bin, cum_count, n_rows, q_pct
    FROM (
      SELECT lang, bin,
             sum(cnt) OVER (PARTITION BY lang ORDER BY bin)
               AS cum_count,
             sum(cnt) OVER (PARTITION BY lang) AS n_rows
      FROM (
        SELECT lang, bin, count(1) AS cnt
        FROM (
          SELECT lang,
                 (least(greatest(cast(n_chars AS BIGINT), lo), hi - 1)
                   - lo) * bins div (hi - lo) AS bin
          FROM documents
          WHERE n_chars IS NOT NULL
        )
        GROUP BY lang, bin
      )
    ) c
    LATERAL VIEW explode(array(25, 50, 75, 95, 99)) q AS q_pct
    WHERE cum_count >= (q_pct * n_rows + 99) div 100
  )
  GROUP BY lang, q_pct
)
""",
    # extensions.dedup: shingle_rows(n=1) → minhash_signatures(bands=2)
    # → lsh_candidate_pairs — the banded-equality-join discipline spelled
    # in SQL (work is Σ|bucket|², never n²)
    "tvf_dedup_lsh_pairs": """
CREATE OR REPLACE TEMPORARY FUNCTION tvf_dedup_lsh_pairs(max_doc_id BIGINT)
RETURNS TABLE (doc_a BIGINT, doc_b BIGINT)
RETURN
WITH sh AS (
  SELECT doc_id, shingle
  FROM (SELECT doc_id,
               explode(array_distinct(split(lower(text), ' '))) AS shingle
        FROM documents WHERE doc_id < max_doc_id)
  WHERE trim(shingle) != ''
), sig AS (
  -- both 8-char min-slices lie inside the FIRST md5's 32 chars, so the
  -- operator's second md5 (which only feeds hashes 4-7 of the up-to-8
  -- family) is dead work at this TVF's fixed bands=2 — one md5 per
  -- shingle, bit-identical results (hashing dominates signature cost;
  -- see minhash_signatures' measured note)
  SELECT doc_id,
         min(substring(md5(shingle), 1, 8)) AS mh0,
         min(substring(md5(shingle), 9, 8)) AS mh1
  FROM sh GROUP BY doc_id
), long AS (
  SELECT doc_id, 'mh0' AS band, mh0 AS sig FROM sig
  UNION ALL
  SELECT doc_id, 'mh1' AS band, mh1 AS sig FROM sig
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM long a JOIN long b ON a.band = b.band AND a.sig = b.sig
WHERE a.doc_id < b.doc_id
""",
    # extensions.similarity.brute_force_topk: queries vec_id < split_id
    # vs corpus >= split_id; exact quantized-int dots, zero-norm excluded
    "tvf_sim_cosine_topk": """
CREATE OR REPLACE TEMPORARY FUNCTION tvf_sim_cosine_topk(
    split_id BIGINT, k INT)
RETURNS TABLE (query_id BIGINT, neighbor_id BIGINT, rank INT,
               cosine DOUBLE)
RETURN
WITH p AS (
  SELECT vec_id,
         transform(embedding,
                   x -> cast(round(cast(x AS DOUBLE) * 100000, 0)
                             AS BIGINT)) AS q
  FROM embeddings
), p2 AS (
  SELECT vec_id, q,
         aggregate(q, cast(0 AS BIGINT), (acc, x) -> acc + x * x) AS n
  FROM p
), qs AS (SELECT vec_id AS query_id, q AS qv, n AS qn
          FROM p2 WHERE vec_id < split_id AND n > 0),
cs AS (SELECT vec_id AS neighbor_id, q AS cv, n AS cn
       FROM p2 WHERE vec_id >= split_id AND n > 0),
scored AS (
  SELECT query_id, neighbor_id,
         cast(aggregate(zip_with(qv, cv, (x, y) -> x * y),
                        cast(0 AS BIGINT), (acc, x) -> acc + x) AS DOUBLE)
           / (sqrt(cast(qn AS DOUBLE)) * sqrt(cast(cn AS DOUBLE)))
           AS cosine
  FROM cs CROSS JOIN qs
)
SELECT query_id, neighbor_id, rank, cosine FROM (
  SELECT query_id, neighbor_id, cosine,
         cast(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id ASC)
              AS INT) AS rank
  FROM scored)
WHERE rank <= k
""",
    # extensions.similarity.semantic_dedup: coarse-assign to the first
    # n_seeds vectors, drop any vector with a smaller-id clustermate at
    # cosine >= threshold (one-hop SemDeDup semantics, zero-norm kept)
    "tvf_sim_semantic_dedup": """
CREATE OR REPLACE TEMPORARY FUNCTION tvf_sim_semantic_dedup(
    max_vec_id BIGINT, n_seeds BIGINT, threshold DOUBLE)
RETURNS TABLE (vec_id BIGINT, cluster_id BIGINT, kept BOOLEAN,
               canonical_id BIGINT)
RETURN
WITH p AS (
  SELECT vec_id,
         transform(embedding,
                   x -> cast(round(cast(x AS DOUBLE) * 100000, 0)
                             AS BIGINT)) AS q
  FROM embeddings WHERE vec_id < max_vec_id
), p2 AS (
  SELECT vec_id, q,
         aggregate(q, cast(0 AS BIGINT), (acc, x) -> acc + x * x) AS n
  FROM p
), cents AS (SELECT vec_id AS cid, q AS cq, n AS cn
             FROM p2 WHERE vec_id < n_seeds),
a1 AS (
  SELECT vec_id, q, n, cid FROM (
    SELECT p2.vec_id, p2.q, p2.n, cents.cid,
           row_number() OVER (
             PARTITION BY p2.vec_id
             ORDER BY p2.n + cents.cn
                      - 2 * aggregate(zip_with(p2.q, cents.cq,
                                               (x, y) -> x * y),
                                      cast(0 AS BIGINT),
                                      (acc, x) -> acc + x) ASC,
                      cents.cid ASC) AS rn
    FROM p2 CROSS JOIN cents)
  WHERE rn = 1
), dropped AS (
  SELECT vec_b AS vec_id, min(vec_a) AS canon FROM (
    SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
    FROM a1 x JOIN a1 y ON x.cid = y.cid AND x.vec_id < y.vec_id
    WHERE x.n > 0 AND y.n > 0
      AND cast(aggregate(zip_with(x.q, y.q, (xx, yy) -> xx * yy),
                         cast(0 AS BIGINT), (acc, xx) -> acc + xx)
               AS DOUBLE)
          / (sqrt(cast(x.n AS DOUBLE)) * sqrt(cast(y.n AS DOUBLE)))
          >= threshold)
  GROUP BY vec_b
)
SELECT a1.vec_id, a1.cid AS cluster_id,
       dropped.canon IS NULL AS kept,
       coalesce(dropped.canon, a1.vec_id) AS canonical_id
FROM a1 LEFT JOIN dropped ON a1.vec_id = dropped.vec_id
""",
    # gopher word-count gate, parameterized (n_words_expr formula)
    "tvf_text_word_count_gate": """
CREATE OR REPLACE TEMPORARY FUNCTION tvf_text_word_count_gate(
    min_words INT, max_words INT)
RETURNS TABLE (doc_id BIGINT, n_words BIGINT)
RETURN SELECT doc_id,
       cast(size(split(lower(text), ' ')) AS BIGINT) AS n_words
FROM documents
WHERE size(split(lower(text), ' ')) BETWEEN min_words AND max_words
""",
    # extensions.text.bm25_topk — ad-hoc BM25 retrieval from pure SQL.
    # Fixed 3-term arity (a SQL UDF cannot take an array parameter
    # portably — the hist_quantiles precedent); pass NULL for unused
    # slots (a NULL term matches nothing: the filter lambda yields NULL,
    # the element drops, tf = 0) and DISTINCT terms (the operator
    # dedupes; a repeated term here would double-count).  Arithmetic is
    # the operator's exactly: integer-grid log2 idf, cleared-rational
    # saturation weight, grid-snapped BIGINT contributions.  The weight
    # constants carry the D suffix: in SQL TEXT a bare 22.0 parses as
    # DECIMAL and decimal division truncates at scale 6 — an off-by-one
    # in the rounded contribution vs the DataFrame operator's doubles
    # (caught by the parity test; DuckDB promotes the same division to
    # DOUBLE, so the oracle never had the trap).
    "tvf_text_bm25": """
CREATE OR REPLACE TEMPORARY FUNCTION tvf_text_bm25(
    t1 STRING, t2 STRING, t3 STRING, k INT)
RETURNS TABLE (doc_id BIGINT, dl BIGINT, score_g BIGINT, score DOUBLE)
RETURN
WITH base AS (
  SELECT doc_id,
         cast(size(__toks) AS BIGINT) AS dl,
         cast(size(filter(__toks, x -> x = t1)) AS BIGINT) AS tf1,
         cast(size(filter(__toks, x -> x = t2)) AS BIGINT) AS tf2,
         cast(size(filter(__toks, x -> x = t3)) AS BIGINT) AS tf3
  FROM (SELECT doc_id,
               filter(split(lower(coalesce(text, '')), ' '),
                      x -> x != '') AS __toks
        FROM documents)
), stats AS (
  SELECT cast(count(*) AS BIGINT) AS n_docs,
         cast(sum(dl) AS BIGINT) AS total,
         sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
         sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2,
         sum(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS df3
  FROM base
), scored AS (
  SELECT doc_id, dl,
         (CASE WHEN tf1 > 0 THEN cast(round(
            (cast(round(log2(2 * n_docs + 2) * 1048576, 0) AS BIGINT)
             - cast(round(log2(2 * df1 + 1) * 1048576, 0) AS BIGINT))
            * ((22.0D * total * tf1)
               / (10.0D * total * tf1 + 3.0D * total + 9.0D * dl * n_docs)),
            0) AS BIGINT) ELSE 0 END
          + CASE WHEN tf2 > 0 THEN cast(round(
            (cast(round(log2(2 * n_docs + 2) * 1048576, 0) AS BIGINT)
             - cast(round(log2(2 * df2 + 1) * 1048576, 0) AS BIGINT))
            * ((22.0D * total * tf2)
               / (10.0D * total * tf2 + 3.0D * total + 9.0D * dl * n_docs)),
            0) AS BIGINT) ELSE 0 END
          + CASE WHEN tf3 > 0 THEN cast(round(
            (cast(round(log2(2 * n_docs + 2) * 1048576, 0) AS BIGINT)
             - cast(round(log2(2 * df3 + 1) * 1048576, 0) AS BIGINT))
            * ((22.0D * total * tf3)
               / (10.0D * total * tf3 + 3.0D * total + 9.0D * dl * n_docs)),
            0) AS BIGINT) ELSE 0 END) AS score_g
  FROM base CROSS JOIN stats
)
SELECT doc_id, dl, score_g, cast(score_g AS DOUBLE) / 1048576 AS score
FROM (
  SELECT *, row_number() OVER (ORDER BY score_g DESC, doc_id) AS __rn
  FROM scored WHERE score_g > 0
) WHERE __rn <= k
""",
}
# ^ bm25 top-k: LIMIT must be a CONSTANT in a SQL UDF body
# (INVALID_LIMIT_LIKE_EXPRESSION on a parameter reference), so the cut
# is a ranked window over the score_g > 0 matches — same rows and order
# contract as the operator's TakeOrdered; the window sorts only docs
# that matched at least one term.


def register_sql_tvfs(spark: SparkSession) -> list[str]:
    """Create every TVF in :data:`SQL_TVFS`; returns the function names.

    Call AFTER the ``documents`` and ``embeddings`` views exist (e.g. via
    :func:`.catalog.register_tables`) — SQL UDF bodies are analyzed at
    CREATE time against the current catalog.
    """
    for ddl in SQL_TVFS.values():
        spark.sql(ddl)
    return list(SQL_TVFS)


# extensions.similarity.ivf_pq_topk over a STORED index artifact — the
# deployment split in pure SQL: the index was built once
# (ivf_pq_index(...).write.partitionBy("list_id")...), this searches it.
# Scoring is the reconstruction spelling (decode each m=4 code to its
# codebook subvectors, exact-integer dot against the probed queries) —
# mathematically identical to the operator's LUT decomposition, hence
# row-identical parity (pinned in tests/test_sqlfn.py).  The codebook,
# coarse, and query tiers derive from `embeddings` exactly as the
# registered `ext_sim_ivf_pq_topk` plan does: codebook = vec_id < cb_hi,
# coarse lists = [cb_hi, coarse_hi), queries = [coarse_hi, query_hi).
# Hardwired to the registered m=4 code layout (code_0..code_3): a SQL
# body is analyzed at CREATE time, so the stored schema is part of the
# function's contract.
IVF_PQ_SEARCH_TVF = """
CREATE OR REPLACE TEMPORARY FUNCTION tvf_ivf_pq_search(
    cb_hi BIGINT, coarse_hi BIGINT, query_hi BIGINT, dsub INT,
    k INT, nprobe INT)
RETURNS TABLE (query_id BIGINT, neighbor_id BIGINT, rank INT,
               cosine_adc DOUBLE)
RETURN
WITH p AS (
  SELECT vec_id,
         transform(embedding,
                   x -> cast(round(cast(x AS DOUBLE) * 100000, 0)
                             AS BIGINT)) AS q
  FROM embeddings
), u AS (
  SELECT vec_id, pos AS i, e FROM p LATERAL VIEW posexplode(q) x AS pos, e
), c AS (
  SELECT vec_id AS cid, e AS ce, i div dsub AS s, i % dsub AS j, i
  FROM u WHERE vec_id < cb_hi
), co AS (
  SELECT vec_id AS lid, e AS le, i FROM u
  WHERE vec_id >= cb_hi AND vec_id < coarse_hi
), nco AS (SELECT lid, sum(le * le) AS ln FROM co GROUP BY lid),
uq AS (SELECT vec_id, e, i FROM u
       WHERE vec_id >= coarse_hi AND vec_id < query_hi),
nq AS (SELECT vec_id, sum(e * e) AS n FROM uq GROUP BY vec_id),
qa AS (
  SELECT uq.vec_id, co.lid, nq.n + nco.ln - 2 * sum(uq.e * co.le) AS d
  FROM uq JOIN co ON uq.i = co.i
  JOIN nq ON uq.vec_id = nq.vec_id
  JOIN nco ON co.lid = nco.lid
  GROUP BY uq.vec_id, co.lid, nq.n, nco.ln
), query_probe AS (
  SELECT vec_id AS query_id, lid FROM (
    SELECT vec_id, lid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, lid) AS rn
    FROM qa)
  WHERE rn <= nprobe
), code AS (
  SELECT vec_id, list_id, s, cid FROM ivf_pq_index_store
  LATERAL VIEW posexplode(array(code_0, code_1, code_2, code_3)) x AS s, cid
), recon AS (
  SELECT code.vec_id, code.list_id, c.i, c.ce AS e
  FROM code JOIN c ON c.s = code.s AND c.cid = code.cid
), rn_ AS (SELECT vec_id, sum(e * e) AS rn FROM recon GROUP BY vec_id),
adc AS (
  SELECT qp.query_id, r.vec_id AS neighbor_id, sum(uq.e * r.e) AS adot
  FROM query_probe qp
  JOIN recon r ON r.list_id = qp.lid
  JOIN uq ON uq.vec_id = qp.query_id AND uq.i = r.i
  GROUP BY qp.query_id, r.vec_id
), scored AS (
  SELECT adc.query_id, adc.neighbor_id,
         cast(adc.adot AS DOUBLE)
           / (sqrt(cast(nq.n AS DOUBLE)) * sqrt(cast(rn_.rn AS DOUBLE)))
           AS cosine_adc
  FROM adc
  JOIN nq ON adc.query_id = nq.vec_id
  JOIN rn_ ON adc.neighbor_id = rn_.vec_id
  WHERE nq.n > 0 AND rn_.rn > 0
)
SELECT query_id, neighbor_id, rank, cosine_adc FROM (
  SELECT query_id, neighbor_id, cosine_adc,
         cast(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine_adc DESC,
                                          neighbor_id ASC) AS INT) AS rank
  FROM scored)
WHERE rank <= k
"""


def register_ivf_pq_search_tvf(spark: SparkSession, index_path: str) -> str:
    """Register ``tvf_ivf_pq_search`` over a STORED IVF-PQ index: points
    the ``ivf_pq_index_store`` view at ``index_path`` (the parquet
    artifact an ``ivf_pq_index(...).write`` produced — partitioned by
    ``list_id`` in production so probes prune partitions), then creates
    the TVF.  Separate from :func:`register_sql_tvfs` because the body
    is analyzed against the store view at CREATE time — the artifact
    must exist first, unlike the corpus-view TVFs."""
    spark.read.parquet(index_path).createOrReplaceTempView(
        "ivf_pq_index_store"
    )
    spark.sql(IVF_PQ_SEARCH_TVF)
    return "tvf_ivf_pq_search"


# extensions.similarity.ivfadc_topk over a SAVED self-describing artifact
# (extensions/ann_store.py) — the TRAINED twin of tvf_ivf_pq_search.  Two
# structural differences, both inherited from the residual layout:
# (1) the model (trained codebook + coarse centroids) is NOT derivable
#     from `embeddings` by slicing — it comes from the artifact's JSON
#     sidecar, materialized as long-form temp views at registration
#     (`ivfadc_model_codebook`: (cid, s, i, ce); `ivfadc_model_coarse`:
#     (lid, i, le));
# (2) the reconstruction is coarse(list) + decode(code) and the
#     reconstruction norm `rn` is READ from the stored table (the FAISS
#     norms-table discipline the operator uses), never recomputed.
# The ADC score Σ q_i·(coarse_i + decode_i) sums the same exact integers
# as the operator's qdot_coarse + Σ LUT decomposition, then applies the
# same IEEE division — hence row-identical parity (tests/test_sqlfn.py).
# Hardwired to the registered m=4 code layout like its sibling (a SQL
# body is analyzed at CREATE time; register_ivfadc_search_tvf refuses
# other geometries loudly).
_FIXED_PROBE = """query_probe AS (
  SELECT vec_id AS query_id, lid FROM (
    SELECT vec_id, lid,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, lid) AS rn
    FROM qa)
  WHERE rn <= nprobe
),"""


def _adaptive_probe(target: int) -> str:
    """The candidate-budget probe block (``ivfadc_topk``'s
    ``target_candidates`` dial spelled in SQL): the
    ``ivfadc_model_list_counts`` view (materialized at registration
    from the filtered, tombstone-excluded store — the same aggregate
    the operator collects at plan build) restricts the probe ranking
    to MATCHING lists and drives the per-query cumulative walk; the
    runtime ``nprobe`` argument stays the floor."""
    return f"""query_probe AS (
  SELECT vec_id AS query_id, lid FROM (
    SELECT vec_id, lid, pr, cnt,
           sum(cnt) OVER (PARTITION BY vec_id ORDER BY pr) AS cum
    FROM (
      SELECT qa.vec_id, qa.lid, lc.cnt,
             row_number() OVER (PARTITION BY qa.vec_id
                                ORDER BY qa.d, qa.lid) AS pr
      FROM qa JOIN ivfadc_model_list_counts lc ON qa.lid = lc.lid))
  WHERE pr <= nprobe OR cum - cnt < {int(target)}
),"""


def _ivfadc_search_tvf_sql(
    rotation: dict | None, target_candidates: int | None = None
) -> str:
    """The ``tvf_ivfadc_search`` body, parameterized by the artifact's
    rotation spec (already ``_check_rotation``-normalized):

    - ``None`` — queries quantize straight from the corpus view.
    - ``post_int`` — one extra CTE rotates the quantized query stream
      through the matrix (materialized as the ``ivfadc_model_rotation``
      view — (c, i, w) triples): ``e'(c) = Σᵢ w(c,i)·e(i)``, exact
      BIGINTs, so TVF-vs-operator parity stays bit-identical even as a
      GROUP BY sum (BIGINT addition is order-independent)."""
    if rotation is None:
        qsrc = """uq AS (
  SELECT vec_id, e, i FROM u
  WHERE vec_id >= query_lo AND vec_id < query_hi
),"""
    else:  # "post_int"
        qsrc = """ur AS (
  SELECT u.vec_id, rot.c AS i, sum(u.e * rot.w) AS e
  FROM u JOIN ivfadc_model_rotation rot ON rot.i = u.i
  GROUP BY u.vec_id, rot.c
), uq AS (
  SELECT vec_id, e, i FROM ur
  WHERE vec_id >= query_lo AND vec_id < query_hi
),"""
    probe = (
        _FIXED_PROBE
        if target_candidates is None
        else _adaptive_probe(target_candidates)
    )
    return IVFADC_SEARCH_TVF_TEMPLATE.replace("__QSRC__", qsrc).replace(
        "__PROBE__", probe
    )


IVFADC_SEARCH_TVF_TEMPLATE = """
CREATE OR REPLACE TEMPORARY FUNCTION tvf_ivfadc_search(
    query_lo BIGINT, query_hi BIGINT, k INT, nprobe INT)
RETURNS TABLE (query_id BIGINT, neighbor_id BIGINT, rank INT,
               cosine_adc DOUBLE)
RETURN
WITH p AS (
  SELECT vec_id,
         transform(embedding,
                   x -> cast(round(cast(x AS DOUBLE) * 100000, 0)
                             AS BIGINT)) AS q
  FROM embeddings
), u AS (
  SELECT vec_id, pos AS i, e FROM p LATERAL VIEW posexplode(q) x AS pos, e
), __QSRC__ nq AS (SELECT vec_id, sum(e * e) AS n FROM uq GROUP BY vec_id),
co AS (SELECT lid, i, le FROM ivfadc_model_coarse),
nco AS (SELECT lid, sum(le * le) AS ln FROM co GROUP BY lid),
qa AS (
  SELECT uq.vec_id, co.lid, nq.n + nco.ln - 2 * sum(uq.e * co.le) AS d
  FROM uq JOIN co ON uq.i = co.i
  JOIN nq ON uq.vec_id = nq.vec_id
  JOIN nco ON co.lid = nco.lid
  GROUP BY uq.vec_id, co.lid, nq.n, nco.ln
), __PROBE__ code AS (
  SELECT vec_id, list_id, s, cid FROM ivfadc_index_store
  LATERAL VIEW posexplode(array(code_0, code_1, code_2, code_3)) x AS s, cid
), recon AS (
  SELECT code.vec_id, code.list_id, c.i, c.ce + co.le AS e
  FROM code
  JOIN ivfadc_model_codebook c ON c.s = code.s AND c.cid = code.cid
  JOIN co ON co.lid = code.list_id AND co.i = c.i
), rn_ AS (SELECT vec_id, rn FROM ivfadc_index_store),
adc AS (
  SELECT qp.query_id, r.vec_id AS neighbor_id, sum(uq.e * r.e) AS adot
  FROM query_probe qp
  JOIN recon r ON r.list_id = qp.lid
  JOIN uq ON uq.vec_id = qp.query_id AND uq.i = r.i
  GROUP BY qp.query_id, r.vec_id
), scored AS (
  SELECT adc.query_id, adc.neighbor_id,
         cast(adc.adot AS DOUBLE)
           / (sqrt(cast(nq.n AS DOUBLE)) * sqrt(cast(rn_.rn AS DOUBLE)))
           AS cosine_adc
  FROM adc
  JOIN nq ON adc.query_id = nq.vec_id
  JOIN rn_ ON adc.neighbor_id = rn_.vec_id
  WHERE nq.n > 0 AND rn_.rn > 0
)
SELECT query_id, neighbor_id, rank, cosine_adc FROM (
  SELECT query_id, neighbor_id, cosine_adc,
         cast(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine_adc DESC,
                                          neighbor_id ASC) AS INT) AS rank
  FROM scored)
WHERE rank <= k
"""

IVFADC_SEARCH_TVF = _ivfadc_search_tvf_sql(None)


def _ivfadc_range_tvf_sql(
    rotation: dict | None, target_candidates: int | None = None
) -> str:
    """``tvf_ivfadc_range`` — the range-search twin of the search TVF
    body: identical probe + scoring chain, with the rank window
    replaced by a runtime threshold predicate.  Unlike ``where``
    (which must bind at registration), the radius ``tau`` IS
    expressible as a runtime argument — the one dial SQL macros can
    take — so one registration serves every threshold."""
    body = _ivfadc_search_tvf_sql(rotation, target_candidates)
    body = body.replace(
        "CREATE OR REPLACE TEMPORARY FUNCTION tvf_ivfadc_search(\n"
        "    query_lo BIGINT, query_hi BIGINT, k INT, nprobe INT)",
        "CREATE OR REPLACE TEMPORARY FUNCTION tvf_ivfadc_range(\n"
        "    query_lo BIGINT, query_hi BIGINT, tau DOUBLE, nprobe INT)",
    )
    body = body.replace(
        "RETURNS TABLE (query_id BIGINT, neighbor_id BIGINT, rank INT,\n"
        "               cosine_adc DOUBLE)",
        "RETURNS TABLE (query_id BIGINT, neighbor_id BIGINT,\n"
        "               cosine_adc DOUBLE)",
    )
    tail = """
SELECT query_id, neighbor_id, rank, cosine_adc FROM (
  SELECT query_id, neighbor_id, cosine_adc,
         cast(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine_adc DESC,
                                          neighbor_id ASC) AS INT) AS rank
  FROM scored)
WHERE rank <= k
"""
    if tail not in body:
        raise AssertionError("search TVF tail changed — update range twin")
    return body.replace(
        tail,
        "\nSELECT query_id, neighbor_id, cosine_adc FROM scored\n"
        "WHERE cosine_adc >= tau\n",
    )


def register_ivfadc_range_tvf(
    spark: SparkSession,
    index_path: str,
    where: str | None = None,
    target_candidates: int | None = None,
    probe_matching_only: bool = False,
) -> str:
    """Register ``tvf_ivfadc_range(query_lo, query_hi, tau, nprobe)``
    over a stored artifact — the pure-SQL spelling of
    :func:`~..extensions.ann_store.IvfadcIndex.range_search` (FAISS
    ``range_search``): every probed neighbor scoring ≥ the RUNTIME
    threshold ``tau``, no rank window.  Delegates view
    materialization (store + model + rotation + tombstones + optional
    counts/matched-coarse) to :func:`register_ivfadc_search_tvf` —
    both TVFs read the same views, so registering range also
    (re)registers search; the dials bind identically.  Operator ≡ TVF
    bit-parity incl. rotated/filtered/tombstoned pinned in tests."""
    from ..extensions import ann_store

    register_ivfadc_search_tvf(
        spark, index_path, where=where,
        target_candidates=target_candidates,
        probe_matching_only=probe_matching_only,
    )
    rotation = ann_store.load_ivfadc(index_path).rotation
    spark.sql(_ivfadc_range_tvf_sql(rotation, target_candidates))
    return "tvf_ivfadc_range"


def register_ivfadc_search_tvf(
    spark: SparkSession,
    index_path: str,
    where: str | None = None,
    target_candidates: int | None = None,
    probe_matching_only: bool = False,
) -> str:
    """Register ``tvf_ivfadc_search`` over a :func:`~..extensions.
    ann_store.save_ivfadc` artifact: loads the MODEL SIDECAR (the
    trained codebook and coarse centroids are model parameters — they
    do not exist in any corpus view), materializes it as long-form temp
    views, points ``ivfadc_index_store`` at the code table, then
    creates the TVF.  The artifact manager feeding the SQL surface IS
    the point: a fresh session needs only the artifact path to search
    from pure SQL.

    ``where`` is the FILTERED-search dial for the SQL surface: a SQL
    body cannot take an arbitrary predicate as a runtime argument, so
    the predicate is applied to the store VIEW at registration — it
    lands in the parquet scan (pre-filter, true top-k among matching),
    exactly like ``ivfadc_topk(where=…)``; registering the same
    artifact under different predicates is cheap (views are metadata).
    ``target_candidates`` materializes the per-list counts view at
    registration and swaps in the adaptive cumulative-walk probe block
    — filtered, that is the hybrid candidate-budget dial; UNFILTERED
    (since round 13) the counts are plain list sizes and the dial is
    nprobe auto-tune ("probe until ~N candidates"), mirroring
    ``ivfadc_topk``.  ``probe_matching_only`` (filtered only) restricts
    the coarse view to matched lists — the operator's coarse-miss
    repair without the budget walk.

    ROTATED (``post_int``) artifacts register transparently: the
    matrix becomes the ``ivfadc_model_rotation`` view and the TVF
    rotates query vectors in exact BIGINT arithmetic."""
    from ..extensions import ann_store

    model = ann_store.load_ivfadc(index_path)
    if model.m != 4:
        raise ValueError(
            f"tvf_ivfadc_search is analyzed against the registered m=4"
            f" code layout (code_0..code_3); this artifact has m={model.m}"
        )
    rotation = model.rotation
    if rotation is not None:
        comps = rotation["components"]
        spark.createDataFrame(
            [
                (c, i, int(w))
                for c, row in enumerate(comps)
                for i, w in enumerate(row)
            ],
            "c int, i int, w long",
        ).createOrReplaceTempView("ivfadc_model_rotation")
    dsub = model.dim // model.m
    spark.createDataFrame(
        [
            (int(cid), i // dsub, i, int(v))
            for cid, cq in model.centroid_rows
            for i, v in enumerate(cq)
        ],
        "cid int, s int, i int, ce long",
    ).createOrReplaceTempView("ivfadc_model_codebook")
    store = spark.read.parquet(index_path)
    if where is not None:
        store = store.filter(where)
    # operator ≡ TVF parity extends to tombstones: deleted vectors are
    # excluded from the candidate set here exactly as
    # IvfadcIndex.search anti-joins them (ann_store.delete_vectors)
    dele = ann_store.deleted_ids(spark, index_path)
    if dele is not None:
        store = store.join(F.broadcast(dele), "vec_id", "left_anti")
    store.createOrReplaceTempView("ivfadc_index_store")
    coarse_rows = model.coarse_rows
    if target_candidates is not None:
        # the operator's plan-build counts aggregate, run at
        # REGISTRATION (the TVF's deploy time) over the same filtered,
        # tombstone-excluded store - <= n_lists rows into a temp view.
        # With a where predicate these are MATCHING counts (the hybrid
        # budget dial); without, plain list sizes (nprobe auto-tune) -
        # same semantics as ivfadc_topk since round 13
        spark.createDataFrame(
            [
                (int(r["list_id"]), int(r["cnt"]))
                for r in store.groupBy("list_id")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .collect()
            ],
            "lid long, cnt long",
        ).createOrReplaceTempView("ivfadc_model_list_counts")
    elif probe_matching_only:
        if where is None:
            raise ValueError(
                "probe_matching_only requires a where predicate — with"
                " no filter every list matches and the dial is a no-op"
            )
        # the operator's coarse-restriction, applied to the coarse VIEW
        # at registration: the qa ranking then spends the nprobe budget
        # on nearest MATCHING lists only (the correlated-predicate
        # coarse-miss repair, ivfadc_topk's probe_matching_only)
        matched = {
            int(r["list_id"])
            for r in store.select("list_id").distinct().collect()
        }
        coarse_rows = [
            (lid, cq) for lid, cq in coarse_rows if int(lid) in matched
        ]
    spark.createDataFrame(
        [
            (int(lid), i, int(v))
            for lid, cq in coarse_rows
            for i, v in enumerate(cq)
        ],
        "lid long, i int, le long",
    ).createOrReplaceTempView("ivfadc_model_coarse")
    spark.sql(_ivfadc_search_tvf_sql(rotation, target_candidates))
    return "tvf_ivfadc_search"


# Multi-segment search from pure SQL — ann_store.search_segments' twin.
# Each segment gets its own store/model views and its own copy of the
# single-store probe+score chain (CTE names suffixed _s{i}, view names
# per segment), then one slate-scale merge: max-per-(query, neighbor)
# dedup + a global rank window — exactly the operator's merge, so
# TVF ≡ operator parity holds row-for-row.  The body is analyzed once
# at CREATE time; n_segments is fixed at registration (SQL bodies
# cannot take a list argument), which matches the deployment shape —
# the segment set changes only when a segment is admitted or merged,
# and re-registering is metadata-cheap.
_SEG_TVF_CTES = (
    "p u ur uq nq co nco qa query_probe code recon rn_ adc scored"
).split()


def _segment_scored_chain(
    i: int, rotation: dict | None, target_candidates: int | None = None
) -> str:
    """The single-store TVF body's WITH-chain, cut at ``scored`` and
    re-addressed to segment ``i``'s views and suffixed CTE names.
    ``target_candidates`` swaps in the adaptive probe block, reading
    segment ``i``'s OWN counts view (each segment budgets its walk
    against its own list occupancies, exactly as ``search_segments``
    threads the dial per segment)."""
    import re

    body = _ivfadc_search_tvf_sql(rotation, target_candidates)
    chain = body.split("RETURN\nWITH ", 1)[1]
    chain = chain.split(
        "\nSELECT query_id, neighbor_id, rank, cosine_adc FROM (", 1
    )[0].rstrip()
    for view, seg_view in (
        ("ivfadc_index_store", f"ivfadc_seg{i}_store"),
        ("ivfadc_model_codebook", f"ivfadc_seg{i}_codebook"),
        ("ivfadc_model_coarse", f"ivfadc_seg{i}_coarse"),
        ("ivfadc_model_rotation", f"ivfadc_seg{i}_rotation"),
        ("ivfadc_model_list_counts", f"ivfadc_seg{i}_counts"),
    ):
        chain = chain.replace(view, seg_view)
    for name in _SEG_TVF_CTES:
        chain = re.sub(rf"\b{name}\b", f"{name}_s{i}", chain)
    return chain


def register_ivfadc_segments_tvf(
    spark: SparkSession,
    index_paths: list[str],
    where: str | None = None,
    probe_matching_only: bool = False,
    target_candidates: int | None = None,
) -> str:
    """Register ``tvf_ivfadc_segments_search(query_lo, query_hi, k,
    nprobe)`` over SEVERAL stored artifacts — the pure-SQL spelling of
    :func:`~..extensions.ann_store.search_segments`: each segment's
    model sidecar becomes its own view set, each segment's chain
    probes its own coarse, applies its own rotation (via the rotation
    view in exact BIGINTs; mixed-basis segment sets are fine),
    excludes its own tombstones, and the merged global top-k dedups
    re-admitted ids at their best score.  Segments must agree on
    ``(m, dim)`` and sit on the registered m=4 layout — refused loudly
    otherwise, same as the operator.

    ALL THREE hybrid dials thread through per segment, exactly as
    :func:`~..extensions.ann_store.search_segments` passes them to
    each :meth:`~..extensions.ann_store.IvfadcIndex.search`: ``where``
    pre-filters every segment's store view (parquet-pushed);
    ``probe_matching_only`` restricts each segment's coarse view to
    ITS OWN matched lists (each segment computes its own matched set
    from its own pruned scan); ``target_candidates`` materializes a
    per-segment counts view at registration and swaps in the adaptive
    cumulative-walk probe block per chain, so each segment budgets
    ~target candidates against its own occupancies (unfiltered, that
    is per-segment nprobe auto-tune).  Operator ≡ TVF bit-parity on
    the mixed-basis + tombstoned + filtered + budgeted composition is
    pinned in tests.

    Also registers ``tvf_ivfadc_segments_range(query_lo, query_hi,
    tau, nprobe)`` over the same views — the pure-SQL spelling of
    :func:`~..extensions.ann_store.range_search_segments` (the rank
    tail replaced by the runtime threshold on the merged max), the
    same way the single-store range TVF rides the search TVF's
    registration.  Both TVFs snapshot tombstones at registration —
    re-register after deletions (see :func:`register_ivfadc_search_tvf`)."""
    from ..extensions import ann_store

    if not index_paths:
        raise ValueError(
            "register_ivfadc_segments_tvf needs at least one segment"
        )
    models = [ann_store.load_ivfadc(p) for p in index_paths]
    geoms = {(mdl.m, mdl.dim) for mdl in models}
    if len(geoms) != 1:
        raise ValueError(
            f"segments disagree on (m, dim): {sorted(geoms)} —"
            " reconstructed-cosine scores across different PQ"
            " geometries are not comparable"
        )
    if models[0].m != 4:
        raise ValueError(
            "tvf_ivfadc_segments_search is analyzed against the"
            f" registered m=4 code layout; these artifacts have"
            f" m={models[0].m}"
        )
    if probe_matching_only and target_candidates is None and where is None:
        raise ValueError(
            "probe_matching_only requires a where predicate — with"
            " no filter every list matches and the dial is a no-op"
        )
    chains, unions = [], []
    for i, (path, mdl) in enumerate(zip(index_paths, models)):
        dsub = mdl.dim // mdl.m
        spark.createDataFrame(
            [
                (int(cid), j // dsub, j, int(v))
                for cid, cq in mdl.centroid_rows
                for j, v in enumerate(cq)
            ],
            "cid int, s int, i int, ce long",
        ).createOrReplaceTempView(f"ivfadc_seg{i}_codebook")
        if mdl.rotation is not None:
            spark.createDataFrame(
                [
                    (c, j, int(w))
                    for c, row in enumerate(mdl.rotation["components"])
                    for j, w in enumerate(row)
                ],
                "c int, i int, w long",
            ).createOrReplaceTempView(f"ivfadc_seg{i}_rotation")
        store = spark.read.parquet(path)
        if where is not None:
            store = store.filter(where)
        dele = ann_store.deleted_ids(spark, path)
        if dele is not None:
            store = store.join(F.broadcast(dele), "vec_id", "left_anti")
        store.createOrReplaceTempView(f"ivfadc_seg{i}_store")
        coarse_rows = mdl.coarse_rows
        if target_candidates is not None:
            # THIS segment's per-list counts over ITS filtered,
            # tombstone-excluded store — ≤ n_lists rows per segment
            spark.createDataFrame(
                [
                    (int(r["list_id"]), int(r["cnt"]))
                    for r in store.groupBy("list_id")
                    .agg(F.count(F.lit(1)).alias("cnt"))
                    .collect()
                ],
                "lid long, cnt long",
            ).createOrReplaceTempView(f"ivfadc_seg{i}_counts")
        elif probe_matching_only:
            matched = {
                int(r["list_id"])
                for r in store.select("list_id").distinct().collect()
            }
            coarse_rows = [
                (lid, cq) for lid, cq in coarse_rows if int(lid) in matched
            ]
        spark.createDataFrame(
            [
                (int(lid), j, int(v))
                for lid, cq in coarse_rows
                for j, v in enumerate(cq)
            ],
            "lid long, i int, le long",
        ).createOrReplaceTempView(f"ivfadc_seg{i}_coarse")
        chains.append(
            _segment_scored_chain(i, mdl.rotation, target_candidates)
        )
        unions.append(
            f"SELECT query_id, neighbor_id, cosine_adc FROM scored_s{i}"
        )
    prefix = (
        "WITH "
        + ",\n".join(chains)
        + ",\nseg_union AS (\n  "
        + "\n  UNION ALL\n  ".join(unions)
        + "\n), merged AS (\n"
        "  SELECT query_id, neighbor_id, max(cosine_adc) AS cosine_adc\n"
        "  FROM seg_union GROUP BY query_id, neighbor_id\n"
        ")\n"
    )
    body = (
        "CREATE OR REPLACE TEMPORARY FUNCTION tvf_ivfadc_segments_search(\n"
        "    query_lo BIGINT, query_hi BIGINT, k INT, nprobe INT)\n"
        "RETURNS TABLE (query_id BIGINT, neighbor_id BIGINT, rank INT,\n"
        "               cosine_adc DOUBLE)\n"
        "RETURN\n" + prefix +
        "SELECT query_id, neighbor_id, rank, cosine_adc FROM (\n"
        "  SELECT query_id, neighbor_id, cosine_adc,\n"
        "         cast(row_number() OVER (PARTITION BY query_id\n"
        "                                 ORDER BY cosine_adc DESC,\n"
        "                                          neighbor_id ASC) AS INT)\n"
        "           AS rank\n"
        "  FROM merged)\n"
        "WHERE rank <= k\n"
    )
    spark.sql(body)
    # the range twin rides the SAME registration (same views, same
    # per-segment chains): the rank tail is replaced by the runtime
    # threshold — the pure-SQL spelling of range_search_segments, with
    # per-segment thresholding folded into the post-merge predicate
    # (equivalent, since any copy >= tau implies the max is)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION tvf_ivfadc_segments_range(\n"
        "    query_lo BIGINT, query_hi BIGINT, tau DOUBLE, nprobe INT)\n"
        "RETURNS TABLE (query_id BIGINT, neighbor_id BIGINT,\n"
        "               cosine_adc DOUBLE)\n"
        "RETURN\n" + prefix +
        "SELECT query_id, neighbor_id, cosine_adc FROM merged\n"
        "WHERE cosine_adc >= tau\n"
    )
    return "tvf_ivfadc_segments_search"
