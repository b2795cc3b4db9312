"""ECCC SWOB-ML weather conformer (reference: ``ECCC_hourly.py``).

The reference fetches one XML file per (station, hour) and extracts named
``value`` attributes (``ECCC_hourly.py:19-27``).  Engine version:

- ``parse_swob_xml``: XML payload strings → F4 rows via ``xpath_string``
  (native, no Python parsing);
- ``conform_swob``: F4 rows → weather long table with the reference's
  numeric-validity scrub (``:9-16,124`` — try-cast, not a Python UDF), the
  fixed −8 h shift (``:36,63``), the ``C`` station prefix strip (``:134-135``),
  and the ``f_read`` memoization filter (``:94,112-113``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SWOB_VARS = ("air_temp", "avg_air_temp_pst1hr", "pcpn_amt_pst1hr")


def parse_swob_xml(payloads: DataFrame) -> DataFrame:
    """(station, obs_hour, xml) → F4 rows (values still dirty strings).

    One :func:`xpath_string` call re-parses the XML document per
    variable, so the per-variable spelling costs ``n_vars`` full parses
    per payload.  This extracts ALL element names and values in TWO
    xpath passes (``//element/@name`` + ``//element/@value`` — node
    order is document order, so the arrays zip positionally) and picks
    each variable out of the staged arrays with a first-match
    ``array_position`` — the same first-node semantics as
    ``string(//element[@name=…]/@value)``, robust to element order and
    to structure around the elements, at a cost independent of how many
    variables are extracted.  ASSUMPTION the zip rests on: every
    ``element`` node carries BOTH attributes (true of SWOB-ML payloads —
    a name-only node SHIFTS the value array; feeds without that
    guarantee need the per-variable ``xpath_string`` spelling).  The
    lookup uses the out-of-bounds-NULL ``get`` rather than ANSI
    ``element_at``, so a malformed name-only payload degrades that row
    to ''/misaligned values instead of killing an 8.8M-payload ingestion
    job with INVALID_ARRAY_INDEX.  Measured at the EP3 probe (8.76M
    payloads × 3 vars): 81.7 s per-variable → see SCALE_PROBE
    ``ep3_swob_parse`` for the zipped number.  Absent variables yield
    NULL (``array_position`` 0 guarded — under ANSI ``element_at(…, 0)``
    is an error, not a miss).
    """
    staged = payloads.select(
        F.col("station").alias("station"),
        F.col("obs_hour").alias("obs_hour"),
        F.xpath(F.col("xml"), F.lit("//element/@name")).alias("__names"),
        F.xpath(F.col("xml"), F.lit("//element/@value")).alias("__vals"),
    )

    def pick(var: str):
        pos = F.array_position(F.col("__names"), var)
        # absent → '' exactly like xpath_string's string() over an empty
        # node-set, so the F4 schema contract is unchanged
        return F.coalesce(
            F.when(
                # get() is 0-based and NULL past the end — a name-only
                # node can leave __vals shorter than __names
                pos > 0,
                F.get(F.col("__vals"), pos.cast("int") - 1),
            ),
            F.lit(""),
        )

    return staged.select(
        "station",
        "obs_hour",
        *[pick(v).alias(v) for v in SWOB_VARS],
        F.lit(True).alias("f_read"),
    )


def conform_swob(raw: DataFrame) -> DataFrame:
    """F4 → long weather table (station_id, obs_time, variable, value).

    Non-numeric payloads (e.g. ``MSNG``) become null — the engine-side
    equivalent of the reference's blank-out (``ECCC_hourly.py:124``).
    Rows not yet fetched (``f_read`` false) are excluded, mirroring the
    memoization skip.
    """
    unread = raw.filter(F.col("f_read"))
    long_ = unread.unpivot(
        ["station", "obs_hour"], list(SWOB_VARS), "variable", "raw_value"
    )
    return long_.select(
        F.when(
            F.col("station").startswith("C"),
            F.expr("substr(station, 2)"),
        )
        .otherwise(F.col("station"))
        .alias("station_id"),
        (
            F.col("obs_hour") + F.expr("INTERVAL -8 HOURS")
        ).alias("obs_time"),
        F.col("variable"),
        F.col("raw_value").try_cast("double").alias("value"),
        F.lit("eccc").alias("source"),
    )
