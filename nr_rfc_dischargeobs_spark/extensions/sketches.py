"""Bounded-state sketches and summaries: deterministic HyperLogLog,
Count-Min frequency estimation, fixed-grid histogram quantiles.

"How many distinct tokens / URLs / fingerprints per language?" is a
routine corpus-health question, and the exact answer (``COUNT(DISTINCT
key)``) shuffles every distinct key — at 100 TB that is the most
expensive aggregate in the building.  HyperLogLog (Flajolet et al. 2007)
answers it with FIXED state: m = 2^p registers per group, each holding
one small integer, mergeable by ``max`` — which is exactly the shape
Spark's partial aggregation wants: every map task reduces its partition
to ≤ m rows per group before the shuffle, so the exchange moves
O(groups × m) rows no matter how many billions of keys streamed by.

Spark ships ``approx_count_distinct`` (also HLL), but its register hash
is engine-private — no other system can reproduce or MERGE its sketches.
This implementation derives registers from ``md5``, the repo-wide
portability discipline (`sampling.hash_bucket`): any md5-capable engine
— the DuckDB oracle here, or a downstream system consuming persisted
register tables — computes the SAME registers, the same estimate, and
can union sketches across engines.  The register→estimate arithmetic is
kept order-proof the same way `text.token_entropy` is: the harmonic sum
Σ 2^(-M_j) is scaled by 2^49 into an EXACT BIGINT sum (every term a
power of two ≤ 2^49, at most m ≤ 2^16 terms — no float rounding, no
partition-order sensitivity); floats appear only in the final one-row
estimate expression.

Accuracy is the standard ~1.04/√m relative error (±6.5% at the p=8
default); the small-range linear-counting correction applies below
2.5m.  The 48-bit tail makes the large-range correction irrelevant at
any realistic cardinality (collision regime starts near 2^48).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# md5-hex nibble values, shared with the DuckDB twins
HEX = "0123456789abcdef"
_HLL_SALT = "hll"
_CMS_SALT = "cms"

# Flajolet et al.'s bias-corrected alpha_m
_ALPHA_SMALL = {16: 0.673, 32: 0.697, 64: 0.709}

# the rho ceiling: 48 tail bits, all-zero tail => 49
_MAX_RHO = 49
_POW49 = 1 << 49


def _alpha(m: int) -> float:
    return _ALPHA_SMALL.get(m, 0.7213 / (1.0 + 1.079 / m))


def _check_p(p: int) -> None:
    # hex-char-aligned register prefixes keep the hash arithmetic ONE
    # conv() in Spark and plain nibble arithmetic in any SQL twin
    if p not in (4, 8, 12, 16):
        raise ValueError("p must be one of 4, 8, 12, 16 (hex-aligned)")


def hll_register_rho(
    key: Column, p: int = 8, salt: str = _HLL_SALT
) -> tuple[Column, Column]:
    """(register, rho) of one key: register = the first p bits of
    md5(salt|key); rho = 1 + leading-zero count of the next 48 bits
    (via binary-string length — ``conv(v, 10, 2)`` has no leading
    zeros, so bitlen(v) = floor(log2 v) + 1 exactly; all-zero tail
    saturates at 49)."""
    _check_p(p)
    c = p // 4
    h = F.md5(F.concat_ws("|", F.lit(salt), key.cast("string")))
    reg = F.conv(F.substring(h, 1, c), 16, 10).cast("int")
    tail = F.conv(F.substring(h, c + 1, 12), 16, 10).cast("long")
    rho = (
        F.when(tail == 0, F.lit(_MAX_RHO))
        .otherwise(F.lit(_MAX_RHO) - F.length(F.conv(tail, 10, 2)))
        .cast("int")
    )
    return reg, rho


def hll_registers(
    df: DataFrame,
    key: str,
    facets: tuple[str, ...] = (),
    p: int = 8,
    salt: str = _HLL_SALT,
) -> DataFrame:
    """The persistable sketch: (facets..., register, max_rho) — at most
    2^p rows per facet group, mergeable with any other run's registers
    by ``max`` (the HLL union).  This is the artifact a fleet stores
    per shard/day and folds later; :func:`hll_cardinality` is the
    one-shot build-and-estimate over it.

    NULL keys are EXCLUDED (matching ``COUNT(DISTINCT)``, which the
    audit compares against): Spark's ``concat_ws`` would silently skip
    a NULL and hash a phantom salt-only key while the SQL twin's
    ``||`` concatenation would yield a NULL register row — two
    different corruptions; filtering NULLs on both sides is the one
    consistent treatment."""
    reg, rho = hll_register_rho(F.col(key), p=p, salt=salt)
    return (
        df.filter(F.col(key).isNotNull())
        .select(*facets, reg.alias("register"), rho.alias("rho"))
        .groupBy(*facets, "register")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate_cols(m: int) -> tuple[Column, Column]:
    """(int_sum → estimate) expressions over grouped register rows:
    expects columns ``__isum`` (exact scaled harmonic sum) and
    ``__present`` (registers observed).  Shared by the one-shot path
    and any fold over stored register tables."""
    zeros = F.lit(m) - F.col("__present")
    raw = (
        F.lit(_alpha(m) * m * m * float(_POW49)) / F.col("__isum").cast("double")
    )
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0), linear
    ).otherwise(raw)
    return zeros, est


def hll_estimate_from_registers(
    regs: DataFrame,
    p: int = 8,
    facets: tuple[str, ...] = (),
) -> DataFrame:
    """Fold stored register rows — possibly MANY per (facets, register),
    e.g. an append-only streaming sink's per-batch rows — to the
    estimate.  Max-merges duplicates first (the HLL union; idempotent,
    so at-least-once appenders need no dedup), then runs the same exact
    integer harmonic sum as :func:`hll_cardinality`.

    Output: (facets..., hll_m, hll_registers_used, hll_estimate)."""
    _check_p(p)
    m = 1 << p
    unique = regs.groupBy(*facets, "register").agg(
        F.max("max_rho").alias("max_rho")
    )
    folded = unique.groupBy(*facets).agg(
        F.expr(f"sum(shiftleft(1L, {_MAX_RHO} - max_rho))").alias("__psum"),
        F.count(F.lit(1)).alias("__present"),
    )
    folded = folded.withColumn(
        "__isum",
        F.col("__psum") + (F.lit(m) - F.col("__present")) * F.lit(_POW49),
    )
    _, est = hll_estimate_cols(m)
    return folded.select(
        *facets,
        F.lit(m).alias("hll_m"),
        F.col("__present").cast("long").alias("hll_registers_used"),
        est.alias("hll_estimate"),
    )


def hll_cardinality(
    df: DataFrame,
    key: str,
    facets: tuple[str, ...] = (),
    p: int = 8,
    exact_audit: bool = False,
) -> DataFrame:
    """Distinct-``key`` estimate per facet group in bounded state.

    Scale shape: ONE aggregation tree — (facets, register) max(rho)
    with map-side combine bounding every partition's contribution at
    m rows per group, then a facet-level fold whose harmonic sum is the
    exact integer Σ 2^(49-M_j) (absent registers contribute 2^49 each)
    — order-proof by construction, so the estimate is bit-stable under
    any partitioning.  ``exact_audit=True`` adds the true
    COUNT(DISTINCT key) and relative error per group — the audit is
    the expensive exact shuffle, for tests and sf-scale validation
    only; production runs leave it off.

    Output: (facets..., hll_m, hll_registers_used, hll_estimate
    [, exact_distinct, rel_error]).
    """
    _check_p(p)
    m = 1 << p
    regs = hll_registers(df, key, facets=facets, p=p)
    folded = regs.groupBy(*facets).agg(
        F.expr(f"sum(shiftleft(1L, {_MAX_RHO} - max_rho))").alias("__psum"),
        F.count(F.lit(1)).alias("__present"),
    )
    folded = folded.withColumn(
        "__isum",
        F.col("__psum") + (F.lit(m) - F.col("__present")) * F.lit(_POW49),
    )
    _, est = hll_estimate_cols(m)
    out = folded.select(
        *facets,
        F.lit(m).alias("hll_m"),
        F.col("__present").cast("long").alias("hll_registers_used"),
        est.alias("hll_estimate"),
    )
    if not exact_audit:
        return out
    exact = df.groupBy(*facets).agg(
        F.countDistinct(key).alias("exact_distinct")
    )
    # facets=() → both sides are one row, and DataFrame.join with an
    # empty on-list raises IndexError in PySpark 4 (it indexes on[0]);
    # the global-audit call joins by cross product instead
    joined = (
        out.join(exact, list(facets))
        if facets
        else out.crossJoin(exact)
    )
    return joined.select(
        *facets,
        "hll_m",
        "hll_registers_used",
        "hll_estimate",
        "exact_distinct",
        (
            (F.col("hll_estimate") - F.col("exact_distinct"))
            / F.col("exact_distinct")
        ).alias("rel_error"),
    )


def _hexval_sql(h: str, start: int, nchars: int) -> str:
    """DuckDB nibble arithmetic: base-16 value of ``nchars`` hex chars
    of expression ``h`` starting at 1-based ``start`` (same value as
    Spark's conv(substring(...)); test-scale only)."""
    return (
        "("
        + " + ".join(
            f"(strpos('{HEX}', substr({h}, {start + i}, 1)) - 1)"
            f" * {16 ** (nchars - 1 - i)}"
            for i in range(nchars)
        )
        + ")"
    )


def hll_cardinality_sql(
    source_sql: str,
    key_sql: str,
    facet_sql: str,
    facet_name: str = "facet",
    p: int = 8,
) -> str:
    """The DuckDB twin of :func:`hll_cardinality` (exact_audit form,
    single facet) — identical md5 registers, identical integer harmonic
    sum, the same estimate expression text."""
    _check_p(p)
    m = 1 << p
    c = p // 4
    h = f"md5('{_HLL_SALT}' || '|' || CAST({key_sql} AS VARCHAR))"
    reg = _hexval_sql("h", 1, c)
    tail = _hexval_sql("h", c + 1, 12)
    alpha_num = _alpha(m) * m * m * float(_POW49)
    return f"""
WITH src AS (
  {source_sql}
), hashed AS (
  SELECT facet, {h} AS h, {key_sql} AS k
  FROM (SELECT {facet_sql} AS facet, * FROM src)
  WHERE {key_sql} IS NOT NULL
), rr AS (
  SELECT facet, k, {reg} AS register,
         CASE WHEN {tail} = 0 THEN {_MAX_RHO}
              ELSE {_MAX_RHO} - length(bin(CAST({tail} AS BIGINT)))
         END AS rho
  FROM hashed
), regs AS (
  SELECT facet, register, MAX(rho) AS max_rho
  FROM rr GROUP BY 1, 2
), folded AS (
  SELECT facet,
         SUM(1::BIGINT << ({_MAX_RHO} - max_rho))
           + ({m} - COUNT(*)) * (1::BIGINT << {_MAX_RHO}) AS isum,
         COUNT(*) AS present
  FROM regs GROUP BY 1
), ex AS (
  SELECT facet, CAST(COUNT(DISTINCT k) AS BIGINT) AS exact_distinct
  FROM rr GROUP BY 1
)
SELECT f.facet AS {facet_name},
       {m} AS hll_m,
       CAST(f.present AS BIGINT) AS hll_registers_used,
       CASE WHEN {alpha_num!r} / CAST(f.isum AS DOUBLE) <= {2.5 * m}
                 AND ({m} - f.present) > 0
            THEN CAST({m} AS DOUBLE)
                 * ln(CAST({m} AS DOUBLE) / CAST({m} - f.present AS DOUBLE))
            ELSE {alpha_num!r} / CAST(f.isum AS DOUBLE)
       END AS hll_estimate,
       ex.exact_distinct,
       (CASE WHEN {alpha_num!r} / CAST(f.isum AS DOUBLE) <= {2.5 * m}
                  AND ({m} - f.present) > 0
             THEN CAST({m} AS DOUBLE)
                  * ln(CAST({m} AS DOUBLE) / CAST({m} - f.present AS DOUBLE))
             ELSE {alpha_num!r} / CAST(f.isum AS DOUBLE)
        END - ex.exact_distinct) / ex.exact_distinct AS rel_error
FROM folded f JOIN ex USING (facet)
"""


# ---------------------------------------------------------------------------
# Count-Min sketch: bounded-state frequency estimation (Cormode &
# Muthukrishnan 2005).  "How often does THIS key occur corpus-wide?"
# answered from d×w counters instead of a full COUNT GROUP BY key —
# the exact form shuffles every distinct key; the sketch moves at most
# d×w rows per facet group after map-side combine, however many
# billions of occurrences streamed by.  Estimates are upper bounds
# (est ≥ true count, never under), within εN with probability 1−δ at
# w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉.  One genuine md5 per occurrence supplies up
# to four independent 32-bit lanes (the measured hash_classifier
# discipline — d md5 calls would d× the dominant cost).
# ---------------------------------------------------------------------------


def _check_cms(d: int, w: int) -> None:
    if not 1 <= d <= 4:
        raise ValueError("d must be 1..4 (one md5 supplies four 32-bit lanes)")
    if w < 2:
        raise ValueError("w must be >= 2")


def _cms_lanes(d: int, w: int) -> Column:
    """The d (depth, bucket) lane structs off a staged ``__h`` md5
    column — ONE definition of the lane recipe (the cross-engine
    contract), shared by the table build and the estimate side so the
    pairing cannot drift."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("depth"),
                    (
                        F.conv(
                            F.substring("__h", 1 + 8 * j, 8), 16, 10
                        ).cast("long")
                        % w
                    ).alias("bucket"),
                )
                for j in range(d)
            ]
        )
    )


def cms_table(
    df: DataFrame, key: str, d: int = 4, w: int = 1024, salt: str = _CMS_SALT
) -> DataFrame:
    """The persistable sketch: (depth, bucket, cnt) — at most d×w rows,
    mergeable with any other run's table by ``sum`` (the CMS union).
    Lane j's bucket is hex chars [8j, 8j+8) of
    ``md5(salt|key)`` mod w — the md5 is staged as a named column so all
    d lanes read ONE evaluation (CollapseProject keeps a non-cheap
    multi-referenced expression staged)."""
    _check_cms(d, w)
    h = F.md5(F.concat_ws("|", F.lit(salt), F.col(key).cast("string")))
    staged = df.select(h.alias("__h"))
    lanes = staged.select(_cms_lanes(d, w).alias("l"))
    return lanes.groupBy(
        F.col("l.depth").alias("depth"), F.col("l.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def cms_estimate(
    candidates: DataFrame, cms: DataFrame, key: str, d: int = 4, w: int = 1024
) -> DataFrame:
    """Estimated occurrence count of every candidate key: min over the d
    lanes of its bucket counters (absent bucket → 0, so a never-seen key
    estimates 0 — no false negatives on presence).  Scale shape: the
    sketch is ≤ d×w rows and BROADCASTS; candidates never shuffle.
    Output: (key, cms_estimate)."""
    _check_cms(d, w)
    h = F.md5(F.concat_ws("|", F.lit(_CMS_SALT), F.col(key).cast("string")))
    staged = candidates.select(key, h.alias("__h"))
    cand_lanes = staged.select(key, _cms_lanes(d, w).alias("l")).select(
        key, "l.depth", "l.bucket"
    )
    joined = cand_lanes.join(F.broadcast(cms), ["depth", "bucket"], "left")
    return joined.groupBy(key).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cms_estimate")
    )


def cms_estimate_sql(
    source_sql: str,
    key_sql: str,
    candidate_sql: str,
    d: int = 4,
    w: int = 1024,
) -> str:
    """DuckDB twin of :func:`cms_table` + :func:`cms_estimate` —
    identical md5 lanes, identical min-of-counters arithmetic, plus
    the true per-candidate count and the (always ≥ 0) overestimate as
    an audit."""
    _check_cms(d, w)
    lane_rows = ", ".join(
        f"({j}, {_hexval_sql('h', 1 + 8 * j, 8)} % {w})" for j in range(d)
    )
    audit_cols = (
        ",\n       ex.exact_count,\n"
        "       est.cms_estimate - ex.exact_count AS overestimate"
    )
    audit_join = (
        "\nJOIN (SELECT k, CAST(COUNT(*) AS BIGINT) AS exact_count"
        " FROM keyed GROUP BY 1) ex USING (k)"
    )
    return f"""
WITH src AS (
  {source_sql}
), keyed AS (
  SELECT {key_sql} AS k, md5('{_CMS_SALT}' || '|' || CAST({key_sql} AS VARCHAR)) AS h
  FROM src
), lanes AS (
  SELECT k, l.* FROM keyed,
    LATERAL (VALUES {lane_rows}) AS l(depth, bucket)
), cms AS (
  SELECT depth, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lanes GROUP BY 1, 2
), cand AS (
  SELECT k, md5('{_CMS_SALT}' || '|' || CAST(k AS VARCHAR)) AS h
  FROM (SELECT DISTINCT {candidate_sql} AS k FROM src) c
), cand_lanes AS (
  SELECT k, l.* FROM cand,
    LATERAL (VALUES {lane_rows}) AS l(depth, bucket)
), est AS (
  SELECT cl.k, MIN(COALESCE(cms.cnt, 0)) AS cms_estimate
  FROM cand_lanes cl LEFT JOIN cms USING (depth, bucket)
  GROUP BY 1
)
SELECT est.k AS token, est.cms_estimate{audit_cols}
FROM est{audit_join}
"""


# ---------------------------------------------------------------------------
# Fixed-grid histogram quantiles: "what are the p25/p50/p95 of doc
# length / quality score per language?" without a global sort.  The
# exact distributed quantile is a full sort (or Greenwald-Khanna state
# that no second engine reproduces); a fixed [lo, hi) grid of B bins is
# the boring-but-bulletproof alternative — one groupBy on (facet, bin)
# whose map-side combine bounds every partition at B rows per facet,
# then metadata-scale window arithmetic picks the bin where the
# cumulative count crosses ⌈q·n/100⌉.  The answer is exact to bin
# resolution ((hi−lo)/B), deterministic in ANY engine (pure integer
# arithmetic end-to-end — inputs are clamped non-negative before the
# truncating div so Spark's `div` and DuckDB's `//` agree), and the
# per-facet histograms are mergeable by summing bin counts across
# runs/shards.
# ---------------------------------------------------------------------------


def histogram_quantiles(
    df: DataFrame,
    col: str,
    lo: int,
    hi: int,
    bins: int,
    quantiles: tuple[int, ...] = (25, 50, 75, 95),
    facets: tuple[str, ...] = (),
) -> DataFrame:
    """Per-facet quantiles of integer column ``col`` at bin resolution.

    ``quantiles`` are integer percents in [1, 100]; values below ``lo``
    clamp into bin 0, at/above ``hi`` into the last bin (open-grid
    tails, so out-of-range data degrades resolution, never correctness).
    The reported bin satisfies: it is the SMALLEST bin whose cumulative
    count ≥ ⌈q·n/100⌉ — i.e. the true q-th percentile lies inside
    [bin_lo, bin_hi).  NULL values are EXCLUDED (not clamped) — a NULL
    bin would sort NULLS-FIRST in Spark and NULLS-LAST in DuckDB, so
    exclusion is the only cross-engine-deterministic treatment; n_rows
    counts non-NULL rows.

    Output: (facets..., q_pct, bin, bin_lo, bin_hi, cum_count, n_rows).
    """
    if hi <= lo:
        raise ValueError("hi must be > lo")
    if bins < 1:
        raise ValueError("bins must be >= 1")
    if not quantiles or not all(
        isinstance(q, int) and 1 <= q <= 100 for q in quantiles
    ):
        raise ValueError("quantiles must be integer percents in 1..100")
    span = hi - lo
    # truncating integer div on a guaranteed-non-negative numerator:
    # floor semantics in both engines
    bin_c = F.expr(
        f"(least(greatest(cast({col} as long), {lo}), {hi - 1}) - {lo})"
        f" * {bins} div {span}"
    )
    counts = (
        df.filter(F.col(col).isNotNull())
        .select(*facets, bin_c.alias("bin"))
        .groupBy(*facets, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window

    wspec = Window.partitionBy(*[F.col(f) for f in facets]).orderBy("bin")
    wall = Window.partitionBy(*[F.col(f) for f in facets])
    cum = counts.select(
        *facets,
        "bin",
        F.sum("cnt").over(wspec).alias("cum_count"),
        F.sum("cnt").over(wall).alias("n_rows"),
    )
    qs = cum.select(
        *facets,
        "bin",
        "cum_count",
        "n_rows",
        F.explode(F.array(*[F.lit(q) for q in quantiles])).alias("q_pct"),
    ).filter(
        # cum ≥ ceil(q·n/100) — positive-integer ceil via (a + b − 1) div b
        F.col("cum_count")
        >= F.expr("(q_pct * n_rows + 99) div 100")
    )
    picked = qs.groupBy(*facets, "q_pct").agg(
        F.min(F.struct("bin", "cum_count", "n_rows")).alias("__p")
    )
    width = span / bins
    return picked.select(
        *facets,
        "q_pct",
        F.col("__p.bin").alias("bin"),
        (F.lit(float(lo)) + F.col("__p.bin") * F.lit(width)).alias("bin_lo"),
        (
            F.lit(float(lo)) + (F.col("__p.bin") + 1) * F.lit(width)
        ).alias("bin_hi"),
        F.col("__p.cum_count").alias("cum_count"),
        F.col("__p.n_rows").alias("n_rows"),
    )


def histogram_quantiles_sql(
    source_sql: str,
    col_sql: str,
    facet_sql: str,
    lo: int,
    hi: int,
    bins: int,
    quantiles: tuple[int, ...] = (25, 50, 75, 95),
    facet_name: str = "facet",
) -> str:
    """DuckDB twin of :func:`histogram_quantiles` (single facet) — the
    same clamp, the same truncating div on non-negative integers, the
    same ceil threshold."""
    span = hi - lo
    width = span / bins
    qlist = ", ".join(f"({q})" for q in quantiles)
    return f"""
WITH src AS (
  {source_sql}
), binned AS (
  SELECT {facet_sql} AS facet,
         (least(greatest(CAST({col_sql} AS BIGINT), {lo}), {hi - 1}) - {lo})
           * {bins} // {span} AS bin
  FROM src
  WHERE {col_sql} IS NOT NULL
), counts AS (
  SELECT facet, bin, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM binned GROUP BY 1, 2
), cum AS (
  SELECT facet, bin,
         SUM(cnt) OVER (PARTITION BY facet ORDER BY bin) AS cum_count,
         SUM(cnt) OVER (PARTITION BY facet) AS n_rows
  FROM counts
), qs AS (
  SELECT c.facet, q.q_pct, c.bin, c.cum_count, c.n_rows,
         ROW_NUMBER() OVER (
           PARTITION BY c.facet, q.q_pct ORDER BY c.bin
         ) AS rn
  FROM cum c CROSS JOIN (VALUES {qlist}) AS q(q_pct)
  WHERE c.cum_count >= (q.q_pct * c.n_rows + 99) // 100
)
SELECT facet AS {facet_name},
       CAST(q_pct AS INT) AS q_pct,
       bin,
       CAST({float(lo)!r} AS DOUBLE) + bin * CAST({width!r} AS DOUBLE)
         AS bin_lo,
       CAST({float(lo)!r} AS DOUBLE) + (bin + 1) * CAST({width!r} AS DOUBLE)
         AS bin_hi,
       CAST(cum_count AS BIGINT) AS cum_count,
       CAST(n_rows AS BIGINT) AS n_rows
FROM qs WHERE rn = 1
"""
