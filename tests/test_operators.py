"""Unit tests for the core operator library on small synthetic frames."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from nr_rfc_dischargeobs_spark.operators import (
    align,
    conform,
    recurrence,
    rollup,
    upsert,
)


def ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


# ---------------------------------------------------------------- conform


def test_round_to_grid_nearest(spark):
    import pandas as pd

    stamps = [
        "2024-01-01 00:02:29",  # below half → down
        "2024-01-01 00:02:30",  # exactly half, even slot → stays DOWN
        "2024-01-01 00:07:30",  # exactly half, odd slot → up to even
        "2024-01-01 00:07:31",  # above half → up
    ]
    df = spark.createDataFrame([(ts(s),) for s in stamps], ["t"])
    out = [r[0] for r in df.select(conform.round_to_grid(F.col("t"))).collect()]
    assert out == [
        ts("2024-01-01 00:00:00"),
        ts("2024-01-01 00:00:00"),
        ts("2024-01-01 00:10:00"),
        ts("2024-01-01 00:10:00"),
    ]
    # bit-for-bit parity with the reference's pandas dt.round('5min')
    # (half-to-even; discharge_obs_pd.py:143)
    want = list(pd.Series(pd.to_datetime(stamps)).dt.round("5min"))
    assert out == [w.to_pydatetime() for w in want]


def test_dedup_keep_first_is_deterministic(spark):
    df = spark.createDataFrame(
        [("s1", 1, 10.0), ("s1", 2, 20.0), ("s1", 3, 30.0), ("s2", 4, 40.0)],
        ["station", "file_order", "value"],
    ).withColumn("slot", F.lit("x"))
    out = conform.dedup_keep_first(df, ["station", "slot"], "file_order")
    rows = {r["station"]: r["value"] for r in out.collect()}
    assert rows == {"s1": 10.0, "s2": 40.0}


def test_unit_conversion_matches_reference_constants(spark):
    df = spark.createDataFrame([(35.3147,), (3.28084,)], ["v"])
    out = df.select(
        conform.convert_units(F.col("v"), conform.CFS_TO_CMS).alias("cms")
    ).collect()
    assert out[0]["cms"] == 1.0


# ---------------------------------------------------------------- rollup


def _obs(spark):
    rows = [
        # station A: hour 0 has 3 obs, hour 1 has 2 obs (final hour)
        ("A", ts("2024-01-01 00:05:00"), 10.0, 1),
        ("A", ts("2024-01-01 00:10:00"), 20.0, 2),
        ("A", ts("2024-01-01 00:15:00"), 30.0, 3),
        ("A", ts("2024-01-01 01:05:00"), 40.0, 4),
        ("A", ts("2024-01-01 01:10:00"), 50.0, 5),
        # station B: single hour
        ("B", ts("2024-01-01 00:59:00"), 7.0, 6),
    ]
    return spark.createDataFrame(rows, ["station", "t", "value", "seq"])


def test_hourly_rollup_mean_and_last(spark):
    out = rollup.hourly_rollup(_obs(spark), "station", "t", "value", "seq")
    d = {(r["station"], r["hour"].hour): r for r in out.collect()}
    assert d[("A", 0)]["avg_value"] == 20.0
    assert d[("A", 0)]["last_value"] == 30.0
    assert d[("A", 1)]["n_obs"] == 2


def test_hourly_final_override_uses_last_not_mean(spark):
    out = rollup.hourly_rollup_with_final_override(
        _obs(spark), "station", "t", "value", "seq"
    )
    d = {(r["station"], r["hour"].hour): r["value"] for r in out.collect()}
    assert d[("A", 0)] == 20.0  # mean (not final hour)
    assert d[("A", 1)] == 50.0  # final hour → last obs, not mean 45.0
    assert d[("B", 0)] == 7.0


def test_daily_rollup_last_day_override(spark):
    hourly = spark.createDataFrame(
        [
            ("A", ts("2024-01-01 00:00:00"), 10.0),
            ("A", ts("2024-01-01 01:00:00"), 20.0),
            ("A", ts("2024-01-02 00:00:00"), 30.0),
            ("A", ts("2024-01-02 01:00:00"), 50.0),  # last day → last value
        ],
        ["station", "hour", "value"],
    )
    out = rollup.daily_rollup_with_last_day_override(hourly, "station")
    d = {r["day"].day: r["value"] for r in out.collect()}
    assert d[1] == 15.0  # mean
    assert d[2] == 50.0  # last-day override: last hourly value, not mean 40


# ---------------------------------------------------------------- upsert


def test_coalesce_upsert_existing_wins(spark):
    existing = spark.createDataFrame(
        [(ts("2024-01-01 00:00:00"), 1.0, None)],
        "t timestamp, s1 double, s2 double",
    )
    incoming = spark.createDataFrame(
        [
            (ts("2024-01-01 00:00:00"), 99.0, 2.0),  # s1 clash: existing wins
            (ts("2024-01-01 00:05:00"), 3.0, 4.0),  # new key: extends
        ],
        ["t", "s1", "s2"],
    )
    out = upsert.coalesce_upsert_wide(existing, incoming, ["t"])
    d = {r["t"]: (r["s1"], r["s2"]) for r in out.collect()}
    assert d[ts("2024-01-01 00:00:00")] == (1.0, 2.0)  # hole filled, 1.0 kept
    assert d[ts("2024-01-01 00:05:00")] == (3.0, 4.0)


def test_coalesce_upsert_incoming_wins_flag(spark):
    existing = spark.createDataFrame([(1, 1.0)], ["k", "v"])
    incoming = spark.createDataFrame([(1, 2.0)], ["k", "v"])
    out = upsert.coalesce_upsert_wide(
        existing, incoming, ["k"], existing_wins=False
    )
    assert out.collect()[0]["v"] == 2.0


def test_time_spine_inclusive_bounds(spark):
    spine = align.time_spine(
        spark, "2024-01-01 00:00:00", "2024-01-01 03:00:00", "1 hour"
    )
    assert spine.count() == 4


def test_ffill_with_bound(spark):
    df = spark.createDataFrame(
        [
            ("A", 1, 10.0),
            ("A", 2, None),
            ("A", 3, None),
            ("B", 1, None),  # leading null stays null
        ],
        ["station", "seq", "value"],
    )
    out = align.ffill(
        df, "station", "seq", "value", out_col="filled",
        bound=F.col("seq") <= 2,
    )
    d = {(r["station"], r["seq"]): r["filled"] for r in out.collect()}
    assert d[("A", 2)] == 10.0
    assert d[("A", 3)] is None  # beyond bound: not filled
    assert d[("B", 1)] is None


# ---------------------------------------------------------------- A2


def test_rising_falling_matches_python_port(spark):
    maxs = [5.0, 6.0, 6.0, 4.0, 7.0, 7.0, 2.0]
    lasts = [5.0, 5.5, 4.5, 3.5, 7.0, 6.0, 1.5]
    hours = [ts(f"2024-01-01 0{i}:00:00") for i in range(7)]
    df = spark.createDataFrame(
        [("S", h, m, l) for h, m, l in zip(hours, maxs, lasts)],
        ["station_id", "hour", "hrly_max", "hrly_last"],
    )
    out = recurrence.rising_falling(df)
    got = [
        r["value"]
        for r in sorted(out.collect(), key=lambda r: r["hour"])
    ]
    want = recurrence.rising_falling_python(maxs, lasts)
    assert got == want
    # the alias bug: step 2 compares against the REWRITTEN 5.5, not max 6.0
    assert want[2] == 4.5


def test_coffee_instant_frame_stations_from_dim(spark):
    """The export pivot's column list comes from the model DIMENSION list:
    dim stations with no data still get their (all-null) column, stations
    absent from the dim list are not exported, and derived formulas apply
    after the recurrence."""
    from nr_rfc_dischargeobs_spark import pipelines

    hours = [ts(f"2024-01-01 0{i}:00:00") for i in range(3)]
    rows = [
        ("S1", h, v, v) for h, v in zip(hours, [1.0, 2.0, 3.0])
    ] + [("S9", h, v, v) for h, v in zip(hours, [5.0, 5.0, 5.0])]
    df = spark.createDataFrame(
        rows, ["station_id", "hour", "hrly_max", "hrly_last"]
    )
    wide = pipelines.coffee_instant_frame(
        df, stations=["S1", "S2"], derived={"D1": "{S1}*2"}
    )
    assert set(wide.columns) == {"hour", "S1", "S2", "D1"}  # S9 not exported
    row = {r["hour"]: r for r in wide.collect()}
    assert row[hours[1]]["S1"] == 2.0
    assert row[hours[1]]["S2"] is None  # dim station without data
    assert row[hours[1]]["D1"] == 4.0


def test_rising_falling_alias_semantics_differ_from_copy(spark):
    # A copy-based (non-alias) implementation would compare max[i] to max[i-1]
    # and yield a different answer on this series — guard against "fixing" it.
    maxs = [10.0, 9.0, 8.5]
    lasts = [10.0, 7.0, 8.0]
    # alias: step1 falls → val=7.0; step2 max 8.5 > 7.0 → keeps 8.5
    assert recurrence.rising_falling_python(maxs, lasts) == [10.0, 7.0, 8.5]


def test_rising_falling_randomized_matches_python_port(spark):
    """Property-style sweep: random walks with NaN holes across many
    stations must match the straight-Python port of the reference loop
    exactly (including NaN-comparison and alias semantics)."""
    import math
    import random

    rng = random.Random(1234)
    rows = []
    want = {}
    for s in range(25):
        sid = f"S{s:02d}"
        n = rng.randint(1, 40)
        maxs, lasts = [], []
        level = rng.uniform(1, 100)
        for i in range(n):
            level += rng.uniform(-10, 10)
            m = round(max(level, 0.01), 2)
            l = round(m - abs(rng.uniform(0, 3)), 2)
            if rng.random() < 0.15:
                m = float("nan")
            if rng.random() < 0.15:
                l = float("nan")
            maxs.append(m)
            lasts.append(l)
            rows.append(
                (sid, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), m, l)
            )
        want[sid] = recurrence.rising_falling_python(maxs, lasts)

    df = spark.createDataFrame(
        rows, ["station_id", "hour", "hrly_max", "hrly_last"]
    )
    out = recurrence.rising_falling(df)
    got = {}
    for r in out.collect():
        got.setdefault(r["station_id"], []).append((r["hour"], r["value"]))
    for sid, series in got.items():
        vals = [v for _, v in sorted(series)]
        expect = want[sid]
        assert len(vals) == len(expect), sid
        for a, b in zip(vals, expect):
            both_nan = (
                a is not None and b is not None
                and math.isnan(a) and math.isnan(b)
            )
            a_nan = a is None or (isinstance(a, float) and math.isnan(a))
            b_nan = b is None or (isinstance(b, float) and math.isnan(b))
            assert both_nan or (a_nan and b_nan) or a == b, (sid, vals, expect)


def _a2_run(rng, kind, n):
    """One station's (maxs, lasts) built to exercise one step kind of the
    scan: ``swap`` (max ≤ prior max, max > prior last), ``identity``
    (last > max, so the next max can sit between them), ``ties`` (a
    three-value pool) and ``holes`` (NULL and NaN on either side)."""
    nan = float("nan")
    if kind == "swap":
        return [5.0] * n, [4.0] * n
    if kind == "identity":
        return [float(i) for i in range(n)], [i + 1.5 for i in range(n)]
    pool = [1.0, 2.0, 3.0] + ([None, nan] if kind == "holes" else [])
    return (
        [rng.choice(pool) for _ in range(n)],
        [rng.choice(pool) for _ in range(n)],
    )


def test_rising_falling_scan_matches_python_port_on_every_step_kind(spark):
    """The window scan against the reference loop, per station, over
    NULL, NaN, ties, ``last > max`` (the identity step) and long runs of
    swaps, spliced so every step kind follows every other.  Compared
    exactly: where the loop yields NaN the operator yields NULL."""
    import math
    import random

    rng = random.Random(2024)
    kinds = ["swap", "identity", "ties", "holes"]
    rows, want = [], {}
    for s in range(120):
        maxs, lasts = [], []
        for _ in range(rng.randint(1, 4)):
            m, l = _a2_run(rng, rng.choice(kinds), rng.randint(1, 30))
            maxs += m
            lasts += l
        sid = f"S{s:03d}"
        rows += [
            (sid, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), m, l)
            for i, (m, l) in enumerate(zip(maxs, lasts))
        ]
        want[sid] = [
            None if v is None or math.isnan(v) else v
            for v in recurrence.rising_falling_python(maxs, lasts)
        ]
    df = spark.createDataFrame(
        rows, "station_id string, hour timestamp, hrly_max double, "
        "hrly_last double",
    )
    got = {}
    for r in recurrence.rising_falling(df).collect():
        got.setdefault(r["station_id"], []).append((r["hour"], r["value"]))
    assert {
        sid: [v for _, v in sorted(series)] for sid, series in got.items()
    } == want


def test_rising_falling_nan_comes_out_null(spark):
    """A NaN output is NULL, never NaN: the contract the Arrow round trip
    of the pandas operator set, kept by the scan."""
    nan = float("nan")
    hours = [ts(f"2024-01-01 0{i}:00:00") for i in range(3)]
    df = spark.createDataFrame(
        [("S", h, m, l) for h, m, l in zip(hours, [nan, 2.0, 1.0],
                                           [nan, 2.0, nan])],
        "station_id string, hour timestamp, hrly_max double, "
        "hrly_last double",
    )
    got = sorted(
        (r["hour"], r["value"])
        for r in recurrence.rising_falling(df).collect()
    )
    # hour 0 keeps its NaN max; hour 2 falls (1 <= 2) onto its NaN last
    assert [v for _, v in got] == [None, 2.0, None]
