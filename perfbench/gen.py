"""Seeded synthetic inputs for the workloads.

Everything the program sees is generated here from ``--seed``; nothing is
read from the network or from outside the checkout.

- :func:`write_sf_tables` writes the ten parquet tables the registered
  queries scan (``plans.TABLES``), shaped like the 0.01-scale test corpus
  of TESTDATA.md: a TPC-H-like star schema, an ``events`` stream, a
  short-text ``documents`` corpus with planted near-duplicates and a
  clustered unit-norm ``embeddings`` table.
- :class:`Network` builds the hourly cron job's inputs: the seeded store,
  landed WSC / provincial rows, the NWIS IV payload served by a local
  opener, and SWOB-ML payloads.  Values are a pure function of (seed,
  station, slot, datatype), so a key's value is the same whichever tick
  re-sends it.  The seeded store holds an earlier revision of each of its
  observations (``+ SEED_REVISION``), so a merge that lets incoming rows
  win over stored ones changes stored values.
"""

from __future__ import annotations

import io
import json
from datetime import datetime, timedelta

from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------- sf tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["red", "blue", "green", "small", "large", "hot", "old", "new"]
P_NOUN = ["widget", "bolt", "ring", "rod", "plate", "gear", "nut", "pipe"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_SHAPE_SEED = 20_240_201


def _write(df: pd.DataFrame, path: str) -> None:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)


def _ts(rng, lo: str, hi: str, n: int) -> pd.Series:
    start = np.datetime64(lo, "s").astype(np.int64)
    stop = np.datetime64(hi, "s").astype(np.int64)
    days = rng.integers(0, (stop - start) // 86400, n)
    return pd.to_datetime(start + days * 86400, unit="s").astype(
        "datetime64[us]"
    )


def write_sf_tables(out_dir: str, seed: int) -> None:
    """Write the ten scanned tables under ``out_dir``, sized like the
    0.01-scale test corpus (TESTDATA.md)."""
    rng = np.random.default_rng(seed)
    n_cust, n_orders, n_line, n_part, n_supp = 1_500, 15_000, 60_000, 2_000, 100
    n_events, n_docs, n_vecs, dim, n_clusters = 10_000, 500, 500, 64, 10

    tables = {
        "region": pd.DataFrame(
            {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}
        ),
        "nation": pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        ),
        "customer": pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        "supplier": pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        "part": pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{P_ADJ[a]} {P_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(P_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
            }
        ),
        "orders": pd.DataFrame(
            {
                "o_orderkey": np.arange(n_orders, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
                "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
                "o_orderdate": _ts(rng, "1995-01-01", "2001-08-02", n_orders),
                "o_orderpriority": rng.choice(PRIORITIES, n_orders),
            }
        ),
    }
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_orders, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
            "l_discount": np.round(rng.integers(0, 11, n_line) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_line) / 100, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _ts(rng, "1995-01-02", "2001-11-05", n_line),
        }
    )
    ev_start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events)) + ev_start
    tables["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": pd.to_datetime(ev_us, unit="us").astype("datetime64[us]"),
            "user_id": rng.integers(0, 150, n_events).astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, n_events),
            "value": np.round(rng.uniform(0.01, 490.02, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    # The corpus's shape (lengths, word positions, planted duplicates) is
    # the same for every seed; the seed only relabels the vocabulary.
    # Jaccard pairs and bigram counts are invariant under relabeling, so
    # connected components sees the same near-duplicate graph, and runs the
    # same number of rounds, on every seed.
    shape = np.random.default_rng(DOC_SHAPE_SEED)
    words = np.array(VOCAB)[rng.permutation(len(VOCAB))]
    texts = [
        " ".join(words[shape.integers(0, len(VOCAB), int(shape.integers(10, 100)))])
        for _ in range(n_docs)
    ]
    # ~5% planted near-duplicates: another document's text plus one token
    for i in np.flatnonzero(shape.random(n_docs) < 0.05):
        texts[i] = texts[int(shape.integers(0, n_docs))] + " dup"
    tables["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    centers = rng.normal(size=(n_clusters, dim))
    labels = rng.integers(0, n_clusters, n_vecs)
    vecs = centers[labels] + 0.6 * rng.normal(size=(n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels.astype(np.int32),
        }
    )
    for name, df in tables.items():
        _write(df, f"{out_dir}/{name}.parquet")


# ------------------------------------------------------------ hydrometric

SLOT_S = 300  # the 5-minute observation grid
SEED_REVISION = 0.5  # the seeded store's values differ from re-sent ones by this
UTC_OFFSET = "-08:00"  # February sits inside PST: no DST in any window


class Network:
    """A seeded station network: ``n_wsc`` WSC, ``n_prov`` provincial and
    ``n_usgs`` USGS stations, each reporting discharge Q and stage H every
    five minutes.  Station ids are the canonical store ids; a station's
    index in :attr:`stations` drives its values.

    Landed source rows are pandas frames (what a fetch tier hands over);
    the caller moves them into Spark through Arrow.  The seeded store is
    written with pyarrow; the expected store contents are a lazy Spark
    frame over ``spark.range``."""

    def __init__(self, seed: int, n_wsc: int, n_prov: int, n_usgs: int):
        self.seed = seed
        self.wsc = [f"08W{i:04d}" for i in range(n_wsc)]
        self.prov = [f"P{i:04d}" for i in range(n_prov)]
        self.usgs = [f"12U{i:03d}" for i in range(n_usgs)]
        self.stations = self.wsc + self.prov + self.usgs

    def value(self, st, slot, datatype: str, sin=np.sin):
        """Observed value in store units (Q in m³/s, H in m) of station
        index ``st`` at 5-minute ``slot``: numpy arrays, or Spark columns
        with ``sin=F.sin``."""
        base, amp = (20.0, 6.0) if datatype == "Q" else (1.5, 0.4)
        phase = (self.seed * 7919) % 1009
        return base + (st % 13) + amp * sin((slot + phase + st * 37) / 97.0)

    # ---- the seeded store and the expected store contents

    def write_store(self, root: str, start: datetime, end: datetime) -> int:
        """Seed a store in the hive layout of ``ObservationStore`` with every
        station's Q and H over [start, end), one file per month × datatype,
        each value ``SEED_REVISION`` above what the landed files send for
        the same key; returns the rows written."""
        st, slot = self._mesh(0, len(self.stations), start, end)
        # UTC-adjusted parquet timestamps read back as Spark TIMESTAMP
        ts = pd.to_datetime(slot * SLOT_S, unit="s").tz_localize("UTC").astype(
            "datetime64[us, UTC]"
        )
        month = ts.year * 100 + ts.month
        ids = np.array(self.stations)[st]
        source = np.where(
            np.char.startswith(ids, "08W"),
            "wsc",
            np.where(np.char.startswith(ids, "P"), "prov", "usgs"),
        )
        for dt_ in ("Q", "H"):
            df = pd.DataFrame({
                "station_id": ids,
                "obs_time": ts,
                "value": np.round(self.value(st, slot, dt_) + SEED_REVISION, 3),
                "qc_level": "raw",
                "source": source,
            })
            for ym, part in df.groupby(month):
                out = Path(root, f"year_month={ym}", f"datatype={dt_}")
                out.mkdir(parents=True)
                _write(part, str(out / "part-00000-seed.parquet"))
        return 2 * len(st)

    def expected(self, spark, start: datetime, seeded_until: datetime, end: datetime):
        """The store key columns and ``value`` of every station × {Q, H} ×
        5-minute slot in [start, end), as a lazy Spark frame.  Slots before
        ``seeded_until`` keep the seeded revision (existing wins); later
        slots hold what the landed files sent: the on-time WSC row (not its
        late re-emit), and USGS values converted back from cfs / ft."""
        from pyspark.sql import functions as F

        n = len(self.stations)
        ids = F.array(*[F.lit(s) for s in self.stations])
        st = F.col("id") % n
        slot = (F.col("id") / n).cast("long") + _slot(start)
        revision = F.when(slot < _slot(seeded_until), SEED_REVISION).otherwise(0.0)
        return spark.range(n * (_slot(end) - _slot(start))).select(
            F.element_at(ids, st.cast("int") + 1).alias("station_id"),
            F.timestamp_seconds(slot * SLOT_S).alias("obs_time"),
            F.explode(F.array(
                F.struct(F.lit("Q").alias("datatype"),
                         self.value(st, slot, "Q", F.sin).alias("value")),
                F.struct(F.lit("H").alias("datatype"),
                         self.value(st, slot, "H", F.sin).alias("value")),
            )).alias("dv"),
            revision.alias("revision"),
        ).select(
            "station_id",
            "obs_time",
            F.col("dv.datatype").alias("datatype"),
            F.lit("raw").alias("qc_level"),
            (F.col("dv.value") + F.col("revision")).alias("value"),
        )

    # ---- landed source rows for one EP1 window [start, end)

    def _mesh(self, first: int, count: int, start: datetime, end: datetime):
        slots = np.arange(_slot(start), _slot(end))
        st = np.repeat(np.arange(first, first + count), len(slots))
        return st, np.tile(slots, count)

    def wsc_landed(self, start: datetime, end: datetime) -> pd.DataFrame:
        """F1 rows: offset timestamps, every 5th slot stamped 61 s late (off
        the grid), and a later re-emit of every 7th slot, 140 s late with
        a different value, which the keep-first dedup must drop."""
        st, slot = self._mesh(0, len(self.wsc), start, end)
        dup = slot % 7 == 0
        st = np.concatenate([st, st[dup]])
        slot = np.concatenate([slot, slot[dup]])
        late = np.concatenate([np.where(slot[: len(dup)] % 5 == 0, 61, 0),
                               np.full(int(dup.sum()), 140)])
        bump = np.where(late == 140, 1.0, 0.0)
        stamp = pd.to_datetime(slot * SLOT_S + late, unit="s").strftime(
            "%Y-%m-%dT%H:%M:%S"
        ) + UTC_OFFSET
        blank = np.full(len(st), "")
        return pd.DataFrame({
            "ID": np.array(self.stations)[st],
            "Date": stamp,
            "water_level_m": np.round(self.value(st, slot, "H") + bump, 3),
            "level_grade": blank,
            "level_symbol": blank,
            "level_qaqc": blank,
            "discharge_cms": np.round(self.value(st, slot, "Q") + bump, 3),
            "discharge_grade": blank,
            "discharge_symbol": blank,
            "discharge_qaqc": blank,
        })

    def prov_landed(self, start: datetime, end: datetime, datatype: str) -> pd.DataFrame:
        """F2 rows of one file (UTC wall clock with a stray leading space),
        starting an hour before the window, plus a station missing from
        the provincial list: the conformer must drop both."""
        st, slot = self._mesh(
            len(self.wsc), len(self.prov), start - timedelta(hours=1), end
        )
        stray_st, stray_slot = self._mesh(len(self.wsc), 1, start, end)
        loc = np.array([s.replace("P", "PROV", 1) for s in self.stations], dtype=object)
        loc = np.concatenate([loc[st], np.full(len(stray_st), "UNLISTED", dtype=object)])
        st = np.concatenate([st, stray_st])
        slot = np.concatenate([slot, stray_slot])
        utc = pd.to_datetime(slot * SLOT_S + 8 * 3600, unit="s")
        blank = np.full(len(st), "")
        return pd.DataFrame({
            "location_id": loc,
            "meta1": blank,
            "meta2": blank,
            "meta3": blank,
            "meta4": blank,
            "datetime_utc": " " + utc.strftime("%Y-%m-%d %H:%M:%S"),
            "meta5": blank,
            "value": np.round(self.value(st, slot, datatype), 3),
        })

    def prov_dim(self) -> pd.DataFrame:
        return pd.DataFrame({
            "ID": [s.replace("P", "PROV", 1) for s in self.prov],
            "ID2": self.prov,
        })

    def usgs_dim(self) -> pd.DataFrame:
        return pd.DataFrame({
            "bc_rfc_id": self.usgs, "name": [f"usgs {s}" for s in self.usgs]
        })

    def nwis_payload(self, start: datetime, end: datetime) -> bytes:
        """WaterML-JSON IV payload for the USGS stations over [start, end),
        values in cfs / ft, stamped with the PST offset."""
        slots = np.arange(_slot(start), _slot(end))
        stamps = list(
            pd.to_datetime(slots * SLOT_S, unit="s").strftime("%Y-%m-%dT%H:%M:%S.000")
            + UTC_OFFSET
        )
        series = []
        first = len(self.wsc) + len(self.prov)
        for st, rfc in enumerate(self.usgs, start=first):
            for code, dt_, factor in (("00060", "Q", 35.3147), ("00065", "H", 3.28084)):
                vals = np.round(self.value(st, slots, dt_) * factor, 4)
                series.append({
                    "sourceInfo": {"siteCode": [{"value": rfc.replace("U", "00")}]},
                    "variable": {
                        "variableCode": [{"value": code}],
                        "noDataValue": -999999.0,
                    },
                    "values": [{"value": [
                        {"value": f"{v:.4f}", "dateTime": d}
                        for v, d in zip(vals, stamps)
                    ]}],
                })
        return json.dumps({"value": {"timeSeries": series}}).encode()

    # ---- SWOB-ML weather payloads for one day (EP3)

    def swob_landed(self, day: datetime, n_stations: int) -> pd.DataFrame:
        """(station, obs_hour, xml) for ``n_stations`` weather stations ×
        24 UTC hours; every 9th air temperature reads ``MSNG``."""
        rows = []
        for i in range(n_stations):
            for h in range(24):
                k = i * 24 + h
                ta = "MSNG" if k % 9 == 0 else f"{-5 + (k * 7 + self.seed) % 150 / 10:.1f}"
                pc = f"{(k * 3 + self.seed) % 40 / 10:.1f}"
                xml = (
                    "<om:result xmlns:om='x'><elements>"
                    f"<element name='air_temp' value='{ta}'/>"
                    f"<element name='avg_air_temp_pst1hr' value='{ta}'/>"
                    f"<element name='pcpn_amt_pst1hr' value='{pc}'/>"
                    "</elements></om:result>"
                )
                rows.append((f"CW{i:03d}", day + timedelta(hours=h), xml))
        return pd.DataFrame(rows, columns=["station", "obs_hour", "xml"])

    @staticmethod
    def swob_expected_ta(n_stations: int) -> int:
        """Non-null air temperatures among one day's SWOB payloads."""
        return sum(1 for k in range(n_stations * 24) if k % 9 != 0)


def opener_for(payload: bytes):
    """A local stand-in for the NWIS HTTP opener: every URL returns the
    canned payload."""
    return lambda url: io.BytesIO(payload)


def _slot(t: datetime) -> int:
    return int((t - datetime(1970, 1, 1)).total_seconds()) // SLOT_S
