"""USGS NWIS instantaneous-values fetch glue (reference S2).

Completes the third ingest family end-to-end: the repo already had the
USGS *conformer* (``sources/usgs.py``) and the WSC/provincial landing
fetchers (``sources/fetch.py``); this module is the NWIS client between
them.  Reference behavior being reproduced (``discharge_obs_pd.py:46-61``):

- 2-day lookback window: start = today at 00:00 minus 2 days, end = now,
  both formatted ``%Y-%m-%d`` — the time-range *pushdown* the reference
  sends to the service so only the refresh window travels the wire;
- site list derived from RFC ids by the ``'U' -> '00'`` replacement
  (``:58``);
- instantaneous-values service (``nwis.get_record(..., service='iv')``),
  discharge parameter 00060 (cfs) and stage parameter 00065 (ft).

The reference reaches NWIS through the ``dataretrieval`` package; that is
just sugar over the public WaterServices IV endpoint
(``https://waterservices.usgs.gov/nwis/iv/`` — WaterML-JSON), so this
client speaks the HTTP API directly with the same injectable-``opener``
pattern as ``fetch.py``: tests drive it with canned payloads, no network,
no extra dependency.  Unit conversion / tz shift / DST dedup stay in the
conformer (``conform_usgs``) — this module only lands and shreds JSON.

Scale note (SURVEY.md §1.4): the fetch is driver-side by design — a
handful of sites over a 2-day window is KBs.  The parsed rows enter Spark
via ``iv_dataframe`` and everything downstream (conform → upsert) is the
distributed path; a fleet-scale deployment would instead land NWIS pulls
in object storage and let ``streaming/ingest.py`` pick them up.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.parse
import urllib.request
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession

# ONE transport policy: the landing tier owns the opener (timeout, and
# any future UA/jitter changes); a local copy here would silently drift
from .fetch import _default_opener

IV_BASE = "https://waterservices.usgs.gov/nwis/iv/"
PARAM_DISCHARGE_CFS = "00060"
PARAM_STAGE_FT = "00065"

IV_SCHEMA = (
    "site_no string, datetime timestamp, "
    "discharge_cfs double, stage_ft double"
)


def rfc_to_site(rfc_ids: list[str]) -> list[str]:
    """RFC id → NWIS site code (``discharge_obs_pd.py:58``)."""
    return [s.replace("U", "00") for s in rfc_ids]


def default_window(now: datetime | None = None) -> tuple[str, str]:
    """The reference's 2-day pushdown window (``discharge_obs_pd.py:47-50``):
    midnight two days back through now, as ``%Y-%m-%d`` date strings."""
    current = now or datetime.now()
    start = current.replace(hour=0, minute=0, second=0) - timedelta(days=2)
    return start.strftime("%Y-%m-%d"), current.strftime("%Y-%m-%d")


def iv_url(
    sites: list[str], start_date: str, end_date: str, base: str = IV_BASE
) -> str:
    """WaterServices IV request URL — sites, parameters, and the date range
    all in the query string, so the service filters server-side."""
    q = urllib.parse.urlencode(
        {
            "format": "json",
            "sites": ",".join(sites),
            "parameterCd": ",".join((PARAM_DISCHARGE_CFS, PARAM_STAGE_FT)),
            "startDT": start_date,
            "endDT": end_date,
        }
    )
    return f"{base}?{q}"



def fetch_iv(
    sites: list[str],
    start_date: str | None = None,
    end_date: str | None = None,
    retries: int = 3,
    backoff_seconds: float = 1.0,
    opener=None,
) -> dict:
    """Fetch one IV payload, retrying with linear backoff like
    ``fetch.fetch_to_landing``.  USGS data is the *required* posture
    (reference EP1 has no skip path for it): after ``retries`` failures
    the error propagates."""
    if start_date is None or end_date is None:
        d_start, d_end = default_window()
        start_date = start_date or d_start
        end_date = end_date or d_end
    opener = opener or _default_opener
    url = iv_url(sites, start_date, end_date)
    err: str | None = None
    for attempt in range(1, retries + 1):
        try:
            with opener(url) as r:
                return json.loads(r.read().decode("utf-8"))
        except Exception as ex:  # noqa: BLE001 — re-raised below
            err = f"{type(ex).__name__}: {ex}"
            if attempt < retries:
                time.sleep(backoff_seconds * attempt)
    raise urllib.error.URLError(
        f"NWIS IV fetch failed after {retries} attempts: {url} ({err})"
    )


def iv_records(payload: dict) -> list[dict]:
    """Shred a WaterML-JSON IV payload into wide per-(site, instant) rows
    ``{site_no, datetime, discharge_cfs, stage_ft}`` — the input shape
    ``conform_usgs`` expects (one row per instant, parameter columns wide,
    mirroring ``nwis.get_record``'s unstacked frame).

    NWIS marks missing measurements with the series' ``noDataValue``
    (conventionally -999999); those become NULLs here so the conformer's
    unit math never sees a sentinel.
    """
    by_key: dict[tuple[str, str], dict] = {}
    for series in payload.get("value", {}).get("timeSeries", []):
        site = series["sourceInfo"]["siteCode"][0]["value"]
        param = series["variable"]["variableCode"][0]["value"]
        nodata = series["variable"].get("noDataValue")
        col = {
            PARAM_DISCHARGE_CFS: "discharge_cfs",
            PARAM_STAGE_FT: "stage_ft",
        }.get(param)
        if col is None:
            continue
        for block in series.get("values", []):
            for v in block.get("value", []):
                raw = v.get("value")
                # IV feeds occasionally carry non-numeric placeholders
                # ("Ice", "Eqp", "***") — a NULL observation, like the
                # noDataValue sentinel, not a reason to abort the ingest
                try:
                    val = None if raw in (None, "") else float(raw)
                except (TypeError, ValueError):
                    val = None
                if val is not None and nodata is not None and val == nodata:
                    val = None
                key = (site, v["dateTime"])
                row = by_key.setdefault(
                    key,
                    {
                        "site_no": site,
                        "datetime": v["dateTime"],
                        "discharge_cfs": None,
                        "stage_ft": None,
                    },
                )
                # keep-FIRST per (site, instant, variable): NWIS emits
                # multiple `values` blocks per series (methods,
                # provisional+approved passes), and a later duplicate —
                # including a noDataValue placeholder parsed to None —
                # must not overwrite an earlier real measurement
                if row[col] is None:
                    row[col] = val
    return [by_key[k] for k in sorted(by_key)]


def iv_dataframe(spark: SparkSession, payload: dict) -> DataFrame:
    """Parsed payload → Spark frame with the ``conform_usgs`` input schema.
    NWIS stamps ISO-8601 with a zone offset; parsing to TIMESTAMP under the
    engine's pinned-UTC session normalizes every offset to the same instant
    (the conformer then applies the US/Pacific wall-clock shift)."""
    rows = [
        (
            r["site_no"],
            # 3.10's fromisoformat rejects the 'Z' suffix (3.11+ accepts)
            datetime.fromisoformat(r["datetime"].replace("Z", "+00:00")),
            r["discharge_cfs"],
            r["stage_ft"],
        )
        for r in iv_records(payload)
    ]
    return spark.createDataFrame(rows, IV_SCHEMA)
