"""The workloads.  Each drives the package's public functions the
way a cron job or a resident driver does: one client, closed loop.

A workload has ``setup`` (seed inputs), the name of its ``op``, ``prepare``
(untimed, pure-Python inputs of the next op), ``run`` (one timed op; returns
the causes of any output mismatch) and ``finish`` (end-of-run checks).
Spans name the layer each call goes into; they cost nothing untraced.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta
from pathlib import Path

import pandas as pd

from gen import Network, opener_for, write_sf_tables
from nr_rfc_dischargeobs_spark import schemas

# untimed ops before the timed ones: the first gives the cold time, the
# others let the JIT settle.  After three, the first three timed refreshes
# of query_surface still ran 10-35 % slower than the later ones.
WARMUP_OPS = 5


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(d, n)
                out[p] = os.path.getsize(p)
    return out


def _store_diff(got, want, tol: float = 0.01) -> tuple[int, int, int]:
    """(stored rows, expected rows, bad keys): a key is bad when it is on
    one side only or its stored value is off by more than ``tol``.  Rows are
    compared by key, so a duplicate key in the store shows as a count gap."""
    from pyspark.sql import functions as F

    from nr_rfc_dischargeobs_spark.sources.store import KEY_COLS

    joined = got.select(*KEY_COLS, F.col("value").alias("got")).join(
        want.select(*KEY_COLS, F.col("value").alias("want")), KEY_COLS, "full_outer"
    )
    bad = (
        F.col("got").isNull()
        | F.col("want").isNull()
        | (F.abs(F.col("got") - F.col("want")) > tol)
    )
    row = joined.select(
        F.count(F.col("got")).alias("got"),
        F.count(F.col("want")).alias("want"),
        F.sum(bad.cast("int")).alias("bad"),
    ).first()
    return int(row["got"]), int(row["want"]), int(row["bad"] or 0)


class HourlyIngest:
    """EP1 tick + EP3 leg.  Tick k upserts the 2-day window ending one
    hour after tick k-1's into a store seeded up to ``T0``: 47 of its 48
    hours re-send stored keys (existing wins) and one hour is new, so every
    tick merges the same batch size into the same month and costs the
    same whatever came before."""

    name = "hourly_ingest"
    op = "tick"
    N_WSC, N_PROV, N_USGS = 12, 4, 2
    WEATHER_STATIONS = 30
    STORE_START = datetime(2024, 2, 1)
    T0 = datetime(2024, 2, 6)

    def __init__(self, seed: int):
        self.net = Network(seed, self.N_WSC, self.N_PROV, self.N_USGS)
        self.ticks = 0
        self.store_rows = 0
        self.written: list[tuple[int, int]] = []
        self.obs_per_op = len(self.net.stations) * 2 * 48 * 12  # Q+H, 48 h of 5 min

    def setup(self, spark, tmp: Path, tracer) -> None:
        from nr_rfc_dischargeobs_spark.sources import ObservationStore

        self.spark, self.tracer = spark, tracer
        self.out = tmp / "out"
        self.out.mkdir()
        self.store = ObservationStore(spark, str(tmp / "store"))
        self.net.write_store(self.store.root, self.STORE_START, self.T0)
        # upsert wraps the other two: write_s = upsert - exists - merge_plan
        tracer.wrap(self.store, "upsert", "sources.store.upsert")
        tracer.wrap(self.store, "exists", "sources.store.exists")
        tracer.wrap(self.store, "merged_frame", "sources.store.merge_plan")
        self.prov_dim = spark.createDataFrame(
            self.net.prov_dim(), schemas.PROVINCIAL_STATIONS_SCHEMA
        )
        self.usgs_dim = spark.createDataFrame(
            self.net.usgs_dim(), schemas.USGS_STATIONS_SCHEMA
        )
        self.weather_ids = [f"W{i:03d}" for i in range(self.WEATHER_STATIONS)]
        self.weather_dim = spark.createDataFrame(
            pd.DataFrame({"station_id": self.weather_ids})
        )

    def prepare(self) -> dict:
        """The landed files of the next tick: WSC, provincial Q and H, the
        NWIS payload and the day's SWOB payloads."""
        end = self.T0 + timedelta(hours=self.ticks + 1)
        start = end - timedelta(hours=48)
        day = datetime(end.year, end.month, end.day)
        net = self.net
        return {
            "start": start,
            "end": end,
            "day": day,
            "wsc": net.wsc_landed(start, end),
            "prov": {d: net.prov_landed(start, end, d) for d in ("Q", "H")},
            "nwis": net.nwis_payload(start, end),
            "swob": net.swob_landed(day, self.WEATHER_STATIONS),
        }

    def run(self, inputs) -> list[str]:
        from pyspark.sql import functions as F

        from nr_rfc_dischargeobs_spark import pipelines
        from nr_rfc_dischargeobs_spark.sources import (
            conform_provincial,
            conform_wsc,
        )
        from nr_rfc_dischargeobs_spark.sources.excel import export_frame
        from nr_rfc_dischargeobs_spark.sources.swob import parse_swob_xml

        spark, net, tr = self.spark, self.net, self.tracer
        start, end, day = inputs["start"], inputs["end"], inputs["day"]
        self.ticks += 1
        before = _files(self.store.root) if tr.enabled else {}
        with tr.span("sources.conform.build"):
            lo = F.lit(start - timedelta(seconds=1)).cast("timestamp")
            hi = F.lit(end).cast("timestamp")
            conformed = [
                conform_wsc(spark.createDataFrame(inputs["wsc"], schemas.WSC_SCHEMA))
            ]
            for dt_, pdf in inputs["prov"].items():
                conformed.append(
                    conform_provincial(
                        spark.createDataFrame(pdf, schemas.PROVINCIAL_SCHEMA),
                        self.prov_dim,
                        dt_,
                        window_start=lo,
                        window_end=hi,
                    )
                )
            conformed.append(
                pipelines.usgs_instantaneous_frame(
                    spark,
                    net.usgs,
                    station_dim=self.usgs_dim,
                    start_date=start.strftime("%Y-%m-%d"),
                    end_date=end.strftime("%Y-%m-%d"),
                    opener=opener_for(inputs["nwis"]),
                )
            )
        with tr.span("pipelines.ingest_instantaneous"):
            pipelines.ingest_instantaneous(self.store, conformed)
        if tr.enabled:
            new = {p: b for p, b in _files(self.store.root).items() if p not in before}
            self.written.append((len(new), sum(new.values())))
        bad = []
        # plans are lazy: SWOB parsing runs when weather_wide's export
        # collects, so it is timed under pipelines.weather_wide
        with tr.span("sources.swob.weather"):
            parsed = parse_swob_xml(
                spark.createDataFrame(
                    inputs["swob"], "station string, obs_hour timestamp, xml string"
                )
            )
        with tr.span("pipelines.ingest_weather"):
            weather = pipelines.ingest_weather(
                parsed, self.weather_dim, day.strftime("%Y-%m-%d")
            )
        for var, tag in (("air_temp", "TA"), ("pcpn_amt_pst1hr", "PC")):
            with tr.span("pipelines.weather_wide"):
                pdf = export_frame(
                    pipelines.weather_wide(weather, var, self.weather_ids),
                    ["obs_time"],
                )
                pdf.to_csv(self.out / f"{tag}.csv", index=False)
            if tag == "TA":
                cells = int((pdf[self.weather_ids] != "").sum().sum())
                want = net.swob_expected_ta(self.WEATHER_STATIONS)
                if len(pdf) != 24 or cells != want:
                    bad.append(f"weather TA {len(pdf)} rows/{cells} cells")
        return bad

    def finish(self) -> list[str]:
        """The store must hold exactly every station × {Q, H} × 5-minute
        slot from the seed start to the end of the last tick's window, each
        key once, with the value the generator implies: the seeded revision
        where the store already had the key, the landed value after the
        WSC dedup and the USGS unit conversion where it did not."""
        last = self.T0 + timedelta(hours=self.ticks)
        want = self.net.expected(self.spark, self.STORE_START, self.T0, last)
        got, exp, bad = _store_diff(self.store.read(), want)
        self.store_rows = got
        if got == exp and bad == 0:
            return []
        return [f"store: {got} rows, {exp} expected, {bad} keys missing, "
                "extra or with a wrong value"]

    def store_layer(self) -> dict[str, float]:
        files = _files(self.store.root)
        timed = self.written[WARMUP_OPS:]
        n = max(1, len(timed))
        return {
            "sources.store.files_total": float(len(files)),
            "sources.store.bytes_per_obs": sum(files.values())
            / max(1, self.store_rows),
            "sources.store.files_written_per_op": sum(f for f, _ in timed) / n,
            "sources.store.mb_written_per_op": sum(b for _, b in timed) / n / 1e6,
        }


def family(name: str) -> str:
    """The family pool a registered query belongs to."""
    for prefix, fam in (("ext_sim_", "ext_sim"), ("ext_dedup_", "ext_dedup"),
                        ("ext_", "ext_other"), ("tpch_", "tpch")):
        if name.startswith(prefix):
            return fam
    return "hydro"


POOLS = ["ext_sim", "ext_dedup", "ext_other", "hydro", "tpch"]


class QuerySurface:
    """One op is one refresh of the slice: every query in ``SLICE``, in
    registry order, built from ``_raw_queries()``, counted and followed by
    ``release_plan_caches()``.  The count of every query is checked
    against its DuckDB twin from ``oracle_sql()`` over the same generated
    tables; a mismatch fails the refresh."""

    name = "query_surface"
    # Chosen from the warm times of all registered queries (METHODOLOGY.md):
    # one or more per family pool, weighted towards ext_sim, which is over
    # half of a warm registry pass, and including coarse-quantizer training
    # (k-means), an IVF search and connected components from the slow
    # tail.  A refresh takes ~4 s on 4 cores.
    SLICE = [
        "ext_sim_kmeans_clusters",
        "ext_sim_ivf_topk",
        "ext_dedup_cc_clusters",
        "ext_text_collocations",
        "ext_sample_shard_plan",
        "j3_coalescing_upsert",
        "tpch_q16_parts_supplier_relationship",
    ]
    op = "refresh"

    def __init__(self, seed: int):
        self.seed = seed
        import __spark_entry__ as entry

        self.entry = entry
        raw = entry._raw_queries()
        # registry order
        self.queries = {q: fn for q, fn in raw.items() if q in self.SLICE}
        assert len(self.queries) == len(self.SLICE), "query missing from registry"
        self.obs_per_op = 0
        self.catalyst: dict[str, list[float]] = {}

    def setup(self, spark, tmp: Path, tracer) -> None:
        import duckdb

        self.spark, self.tracer = spark, tracer
        self.sf = str(tmp / "sf")
        os.makedirs(self.sf)
        write_sf_tables(self.sf, self.seed)
        oracle = self.entry.oracle_sql()
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{tmp / 'duckdb'}'")
        for t in ("region nation customer supplier part orders lineitem "
                  "events documents embeddings").split():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf}/{t}.parquet')"
            )
        self.expected = {
            q: con.execute(f"SELECT count(*) FROM ({oracle[q]}) __o").fetchone()[0]
            for q in self.queries
        }
        con.close()

    def prepare(self):
        return None

    def run(self, inputs) -> list[str]:
        bad = []
        for q in self.queries:
            # ``op.<query>`` spans are benchmark glue: their self time goes
            # to the op layer, their children to plans
            with self.tracer.span(f"op.{q}"):
                n = self._query(q)
            if n != self.expected[q]:
                bad.append(f"{q}: {n} rows, DuckDB twin {self.expected[q]}")
        return bad

    def _query(self, q: str) -> int:
        from nr_rfc_dischargeobs_spark.plans.extensions import release_plan_caches

        tr = self.tracer
        try:
            with tr.span("plans.build"):
                df = self.queries[q](self.spark, self.sf)
            if tr.enabled:
                with tr.span("catalyst.phases"):
                    self._phases(df)
            with tr.span("plans.exec"):
                return df.count()
        finally:
            with tr.span("plans.release"):
                release_plan_caches()

    def _phases(self, df) -> None:
        """Force the physical plan of the built frame and read Catalyst's
        own phase tracker (analysis, optimization, planning)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for ph in ("analysis", "optimization", "planning"):
            opt = phases.get(ph)
            ms = opt.get().durationMs() if opt.isDefined() else 0
            self.catalyst.setdefault(ph, []).append(ms / 1e3)

    def finish(self) -> list[str]:
        return []

    def store_layer(self) -> dict[str, float]:
        return dict.fromkeys(
            ("sources.store.files_total", "sources.store.bytes_per_obs",
             "sources.store.files_written_per_op", "sources.store.mb_written_per_op"),
            0.0,
        )


WORKLOADS = {w.name: w for w in (HourlyIngest, QuerySurface)}
