"""Operational diagnostics: the measurements that DECIDE plan shape.

Two questions every fleet job answers before it burns a cluster:

- "Will this join/groupBy key skew?"  (:func:`skew_profile` — decides
  whether AQE's skew split is enough or a hot key needs a salt
  (``similarity.semantic_dedup(salt=)``) or a per-key cap, BEFORE the
  4-hour straggler teaches the lesson.)
- "Did the corpus drift since the last snapshot?"  (:func:`psi_drift` —
  Population Stability Index over a fixed bin grid, the standard
  monitoring statistic for distribution shift between two snapshots /
  splits / crawl batches.)

Both follow the engine's exactness discipline: counts are exact
BIGINTs, every transcendental term is snapped to an integer grid
BEFORE any summation, so results are bit-stable across engines and
partitionings, and the DuckDB twins hash-match.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# per-factor grid for PSI: the per-bin term is a PRODUCT of two grid
# integers (Δp and the log-ratio), so scales multiply — 2^20 each keeps
# Σ|term| < 2^52 at any realistic bin count while giving ~1e-6
# per-factor resolution (noise for a drift metric)
_PSI_SCALE = 1 << 20


def skew_profile(
    df: DataFrame,
    key: str,
    top: int = 10,
) -> DataFrame:
    """Key-frequency skew report: the ``top`` heaviest keys with the
    corpus-level ratios that decide whether a join on ``key`` needs
    more than AQE's skew split.

    Columns: (key, cnt, share, n_rows, n_keys, mean_cnt, skew_ratio) —
    ``skew_ratio`` is max-key count over mean-key count: ~1 means
    uniform keys (hash partitioning balances), ≥ the cluster's
    parallelism means one task owns the hot key's entire bucket and a
    salted join (`similarity.semantic_dedup`'s salt dial is the
    in-repo example) or AQE skew handling is warranted.

    Scale shape: ONE combine-friendly aggregation keyed by ``key``
    (exact counts — the profile exists to find the keys a sketch would
    smear), a metadata-scale totals fold broadcast back, top-k via
    bounded TakeOrdered.  NULL keys count as a key (NULL is a classic
    skew offender in outer joins — hiding it would defeat the report).

    Output ordered (cnt DESC, key ASC NULLS FIRST) — deterministic
    under count ties.
    """
    if top < 1:
        raise ValueError("top must be >= 1")
    counts = df.groupBy(F.col(key).alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    totals = counts.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("__max_cnt"),
    )
    out = counts.crossJoin(F.broadcast(totals)).select(
        "key",
        "cnt",
        (F.col("cnt").cast("double") / F.col("n_rows")).alias("share"),
        "n_rows",
        "n_keys",
        (F.col("n_rows").cast("double") / F.col("n_keys")).alias(
            "mean_cnt"
        ),
        (
            F.col("__max_cnt") * F.col("n_keys")
        ).cast("double").alias("__num"),
    )
    out = out.withColumn(
        "skew_ratio", F.col("__num") / F.col("n_rows")
    ).drop("__num")
    return out.orderBy(
        F.col("cnt").desc(), F.col("key").asc_nulls_first()
    ).limit(top)


def skew_profile_sql(source_sql: str, key_sql: str, top: int = 10) -> str:
    """DuckDB twin of :func:`skew_profile` — same exact-count
    arithmetic, same ordering.  ``source_sql`` yields the rows,
    ``key_sql`` the key expression."""
    return f"""
WITH src AS (
  {source_sql}
), counts AS (
  SELECT {key_sql} AS key, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM src GROUP BY 1
), tot AS (
  SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
         CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(MAX(cnt) AS BIGINT) AS max_cnt
  FROM counts
)
SELECT key, cnt,
       CAST(cnt AS DOUBLE) / n_rows AS share,
       n_rows, n_keys,
       CAST(n_rows AS DOUBLE) / n_keys AS mean_cnt,
       CAST(max_cnt * n_keys AS DOUBLE) / n_rows AS skew_ratio
FROM counts CROSS JOIN tot
ORDER BY cnt DESC, key ASC NULLS FIRST
LIMIT {top}
"""


def _psi_grid(x: Column) -> Column:
    """round(ln(int)·2^20) — the integer-grid log term (both engines
    compute ln of the same exact integer to the same double, the
    `token_entropy` discipline with ln instead of log₂)."""
    return F.round(F.log(x.cast("double")) * _PSI_SCALE, 0).cast("long")


def psi_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    lo: int,
    hi: int,
    bins: int,
    facets: tuple[str, ...] = (),
) -> DataFrame:
    """Population Stability Index between two snapshots of an integer
    column, per facet, on the same clamped fixed grid as
    `sketches.histogram_quantiles` (NULLs excluded for the same
    cross-engine reason).

    PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i) with Laplace-smoothed shares
    p_i = (ca_i+1)/(n_a+B), q_i = (cb_i+1)/(n_b+B) — smoothing keeps
    empty bins finite and is symmetric, the standard monitoring form.
    Interpretation rule of thumb: < 0.1 stable, 0.1–0.25 drifting,
    > 0.25 shifted.

    Exactness: both factors of each bin term are snapped to the 2^20
    integer grid FIRST — Δp from pure rational double arithmetic over
    exact BIGINTs (bit-identical in any engine), the log-ratio as a
    difference of four integer-log grid terms — and the per-bin
    products are exact BIGINTs summed order-independently.  The
    published ``psi`` is one float over the exact ``psi_grid`` total.

    Scale shape: one combine-friendly (facet, bin) aggregation per
    side (map-side combine bounds each at ``bins`` rows per facet), a
    full-outer bin join at metadata scale, totals broadcast.

    Output: one row per facet group — (facets..., n_a, n_b, psi_grid,
    psi) — plus ``n_bins_drifted`` (bins whose |Δp| ≥ 1/bins, a quick
    where-did-it-move count).
    """
    if hi <= lo:
        raise ValueError("hi must be > lo")
    if bins < 1:
        raise ValueError("bins must be >= 1")
    span = hi - lo

    def binned(df: DataFrame, name: str) -> DataFrame:
        b = F.expr(
            f"(least(greatest(cast({col} as long), {lo}), {hi - 1})"
            f" - {lo}) * {bins} div {span}"
        )
        return (
            df.filter(F.col(col).isNotNull())
            .select(*facets, b.alias("bin"))
            .groupBy(*facets, "bin")
            .agg(F.count(F.lit(1)).alias(name))
        )
    ca = binned(df_a, "ca")
    cb = binned(df_b, "cb")
    joined = ca.join(cb, [*facets, "bin"], "full_outer").select(
        *facets,
        "bin",
        F.coalesce("ca", F.lit(0)).alias("ca"),
        F.coalesce("cb", F.lit(0)).alias("cb"),
    )
    from pyspark.sql import Window

    wall = Window.partitionBy(*[F.col(f) for f in facets])
    tot = joined.select(
        *facets,
        "bin",
        "ca",
        "cb",
        F.sum("ca").over(wall).alias("n_a"),
        F.sum("cb").over(wall).alias("n_b"),
    )
    B = F.lit(bins)
    p = (F.col("ca") + 1).cast("double") / (F.col("n_a") + B)
    q = (F.col("cb") + 1).cast("double") / (F.col("n_b") + B)
    d_grid = F.round((p - q) * _PSI_SCALE, 0).cast("long")
    lr_grid = (
        _psi_grid(F.col("ca") + 1)
        - _psi_grid(F.col("n_a") + B)
        - _psi_grid(F.col("cb") + 1)
        + _psi_grid(F.col("n_b") + B)
    )
    drifted = (
        F.abs(p - q) >= F.lit(1.0) / F.lit(float(bins))
    ).cast("long")
    per_bin = tot.select(
        *facets,
        "n_a",
        "n_b",
        (d_grid * lr_grid).alias("__t"),
        drifted.alias("__d"),
    )
    return per_bin.groupBy(*facets, "n_a", "n_b").agg(
        F.sum("__t").alias("psi_grid"),
        (
            F.sum("__t").cast("double") / F.lit(float(_PSI_SCALE ** 2))
        ).alias("psi"),
        F.sum("__d").alias("n_bins_drifted"),
    )


def psi_drift_sql(
    source_a_sql: str,
    source_b_sql: str,
    col_sql: str,
    facet_sql: str,
    lo: int,
    hi: int,
    bins: int,
    facet_name: str = "facet",
) -> str:
    """DuckDB twin of :func:`psi_drift` (single facet) — same grid
    snapping, same exact-integer term products."""
    span = hi - lo
    s = _PSI_SCALE

    def binned(src: str, name: str) -> str:
        return f"""(
  SELECT facet, bin, CAST(COUNT(*) AS BIGINT) AS {name} FROM (
    SELECT {facet_sql} AS facet,
           (least(greatest(CAST({col_sql} AS BIGINT), {lo}), {hi - 1})
             - {lo}) * {bins} // {span} AS bin
    FROM ({src})
    WHERE {col_sql} IS NOT NULL
  ) GROUP BY 1, 2
)"""

    g = (
        lambda x: f"CAST(round(ln(CAST({x} AS DOUBLE)) * {s}, 0) AS BIGINT)"
    )
    p = f"(CAST(ca + 1 AS DOUBLE) / (n_a + {bins}))"
    q = f"(CAST(cb + 1 AS DOUBLE) / (n_b + {bins}))"
    lr = (
        f"({g('ca + 1')} - {g(f'n_a + {bins}')}"
        f" - {g('cb + 1')} + {g(f'n_b + {bins}')})"
    )
    return f"""
WITH a AS {binned(source_a_sql, 'ca')}, b AS {binned(source_b_sql, 'cb')},
joined AS (
  SELECT COALESCE(a.facet, b.facet) AS facet,
         COALESCE(a.bin, b.bin) AS bin,
         COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
  FROM a FULL OUTER JOIN b ON a.facet = b.facet AND a.bin = b.bin
), tot AS (
  SELECT facet, bin, ca, cb,
         SUM(ca) OVER (PARTITION BY facet) AS n_a,
         SUM(cb) OVER (PARTITION BY facet) AS n_b
  FROM joined
), terms AS (
  SELECT facet, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         CAST(round(({p} - {q}) * {s}, 0) AS BIGINT) * {lr} AS t,
         CASE WHEN abs({p} - {q}) >= 1.0 / {bins} THEN 1 ELSE 0 END AS d
  FROM tot
)
SELECT facet AS {facet_name}, n_a, n_b,
       CAST(SUM(t) AS BIGINT) AS psi_grid,
       CAST(SUM(t) AS DOUBLE) / {s}.0 / {s}.0 AS psi,
       CAST(SUM(d) AS BIGINT) AS n_bins_drifted
FROM terms GROUP BY 1, 2, 3
"""
