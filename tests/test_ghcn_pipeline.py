"""GHCN medallion pipeline parity tests.

Fixtures are generated per FIXTURES.md B1/B2 (short month, -9999
sentinels, out-of-range values, non-required elements, a station with
data but no metadata). The oracle is an INDEPENDENT pure-Python
re-implementation of the parse/convert/pivot semantics — the Spark
pipeline must reproduce it exactly, plus the reference's documented
quirks (π literal, growing-season arithmetic, ROWS-based rolling frames).
"""

from __future__ import annotations

import math
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ghcn_d_etl_project_spark.pipelines.ghcn import (
    ELEMENTS,
    REFERENCE_PI,
    bronze_from_dly,
    gold_ml_features,
    gold_monthly,
    gold_normals,
    gold_yearly,
    read_stations,
    run_pipeline,
    silver_from_bronze,
)

FIX = Path(__file__).resolve().parents[1] / ".tmp" / "ghcn_fixtures"

S1, S2, S3 = "USC0GA00001", "USC0GA00002", "USC0GA00003"
DAYS = {1: 31, 2: 28}


def _value(station: str, month: int, element: str, day: int) -> int:
    """Deterministic raw tenths value for a slot, with planted specials."""
    base = {"TMAX": 250, "TMIN": 80, "PRCP": 40, "SNOW": 10, "SNWD": 5,
            "TOBS": 150, "WT01": 1}[element]
    sid = int(station[-1])
    v = base + sid * 7 + month * 3 + day
    if day % 9 == 0:
        return -9999  # missing sentinel (dropped in bronze)
    if element == "TMAX" and day == 5:
        return 600  # 60.0 C -> out of [-50,50] -> NULL in silver
    if element == "PRCP" and day == 6:
        return 2500  # 250 mm -> out of [0,200] -> NULL in silver
    return v


def _dly_line(station: str, year: int, month: int, element: str) -> str:
    line = f"{station:<11}{year:04d}{month:02d}{element:<4}"
    for day in range(1, 32):
        if day <= DAYS[month]:
            v = _value(station, month, element, day)
        elif element == "TMAX" and month == 2:
            v = 999  # value in an impossible-date slot -> dropped via to_date
        else:
            v = -9999
        line += f"{v:>5}" + " " + " " + "N"
    return line


def _station_line(sid: str, lat: float, lon: float, elev: float,
                  state: str, name: str) -> str:
    line = f"{sid:<11} {lat:>8.4f} {lon:>9.4f} {elev:>6.1f} {state:<2} {name:<30}"
    return line.ljust(81) + "US"


@pytest.fixture(scope="module")
def fixture_paths():
    FIX.mkdir(parents=True, exist_ok=True)
    dly = FIX / "fixture.dly"
    lines = []
    for station in (S1, S2, S3):
        for month in (1, 2):
            for element in ("TMAX", "TMIN", "PRCP", "SNOW", "SNWD", "TOBS", "WT01"):
                lines.append(_dly_line(station, 2021, month, element))
    dly.write_text("\n".join(lines) + "\n")
    stations = FIX / "stations.txt"
    stations.write_text(
        "\n".join(
            [
                _station_line(S1, 33.7, -84.4, 320.0, "GA", "ATLANTA TEST 1"),
                _station_line(S2, 32.1, -81.1, 15.0, "GA", "SAVANNAH TEST 2"),
                # S3 intentionally absent (left-join NULL metadata)
                _station_line("USC0FL00001", 25.8, -80.2, 2.0, "FL", "MIAMI OUT OF STATE"),
            ]
        )
        + "\n"
    )
    return str(dly), str(stations)


def _expected_bronze() -> set[tuple]:
    """Independent python parse: (ID, date-str, ELEMENT, VALUE)."""
    rows = set()
    for station in (S1, S2, S3):
        for month in (1, 2):
            for element in ("TMAX", "TMIN", "PRCP", "SNOW", "SNWD", "TOBS", "WT01"):
                for day in range(1, DAYS[month] + 1):
                    v = _value(station, month, element, day)
                    if v == -9999:
                        continue
                    rows.add((station, f"2021-{month:02d}-{day:02d}", element, v))
    return rows


def _expected_silver() -> dict[tuple, dict]:
    """(ID, date) -> {element: converted-or-None} after bounds nulling."""
    out: dict[tuple, dict] = {}
    for sid, d, el, v in _expected_bronze():
        if el not in ELEMENTS:
            continue
        x: float | None = v / 10.0
        if el in ("TMAX", "TMIN") and not (-50.0 <= x <= 50.0):
            x = None
        if el == "PRCP" and not (0.0 <= x <= 200.0):
            x = None
        out.setdefault((sid, d), {e: None for e in ELEMENTS})[el] = x
    return out


def test_bronze_parity(spark, fixture_paths):
    dly, _ = fixture_paths
    got = {
        (r.ID, str(r.DATE), r.ELEMENT, r.VALUE)
        for r in bronze_from_dly(spark, dly).collect()
    }
    assert got == _expected_bronze()


def test_bronze_drops_impossible_dates(spark, fixture_paths):
    """Feb 29-31 TMAX slots carry values but must vanish via to_date NULL."""
    dly, _ = fixture_paths
    n = (
        bronze_from_dly(spark, dly)
        .filter((F.col("month") == 2) & (F.col("day") > 28))
        .count()
    )
    assert n == 0


def test_silver_parity(spark, fixture_paths):
    dly, stations_path = fixture_paths
    bronze = bronze_from_dly(spark, dly)
    stations = read_stations(spark, stations_path, state="GA")
    silver = silver_from_bronze(bronze, stations)
    want = _expected_silver()
    rows = silver.collect()
    assert len(rows) == len(want)
    for r in rows:
        key = (r.ID, str(r.DATE))
        exp = want[key]
        for e in ELEMENTS:
            assert getattr(r, e) == exp[e], (key, e)
        # quality score: completeness/5, x0.8 on TMAX<TMIN (never here)
        n_present = sum(exp[e] is not None for e in ELEMENTS)
        exp_q = n_present / 5.0
        if (
            exp["TMAX"] is not None
            and exp["TMIN"] is not None
            and exp["TMAX"] < exp["TMIN"]
        ):
            exp_q *= 0.8
        assert r.data_quality_score == pytest.approx(exp_q)
    # S3 has observations but no metadata row -> NULL enrichment
    s3 = [r for r in rows if r.ID == S3]
    assert s3 and all(r.LATITUDE is None and r.NAME is None for r in s3)
    # out-of-state station never enters silver
    assert all(r.ID != "USC0FL00001" for r in rows)


def test_gold_monthly_hand_computed(spark, fixture_paths):
    dly, stations_path = fixture_paths
    p = run_pipeline(spark, dly, stations_path, state="GA")
    row = (
        p["monthly"]
        .filter((F.col("ID") == S1) & (F.col("month") == 1))
        .collect()[0]
    )
    silver = {
        k: v for k, v in _expected_silver().items()
        if k[0] == S1 and k[1].startswith("2021-01")
    }
    tmaxes = [v["TMAX"] for v in silver.values() if v["TMAX"] is not None]
    prcps = [v["PRCP"] for v in silver.values() if v["PRCP"] is not None]
    assert row.record_count == len(silver)
    assert row.avg_tmax == pytest.approx(sum(tmaxes) / len(tmaxes))
    assert row.max_temp == pytest.approx(max(tmaxes))
    assert row.total_precip == pytest.approx(sum(prcps))
    assert row.days_with_precip == sum(1 for x in prcps if x > 0)
    assert row.temperature_range == pytest.approx(row.max_temp - row.min_temp)
    assert row.NAME == "ATLANTA TEST 1"


def test_gold_yearly_quirks(spark, fixture_paths):
    """growing_season_length must be 365 - freezing_days (reference quirk,
    NOT days-in-data) and moisture_index = annual_precip/1000."""
    dly, stations_path = fixture_paths
    p = run_pipeline(spark, dly, stations_path, state="GA")
    for r in p["yearly"].collect():
        assert r.growing_season_length == 365 - r.freezing_days
        assert r.moisture_index == pytest.approx(r.annual_precip / 1000)


def test_gold_normals_classification(spark, fixture_paths):
    dly, stations_path = fixture_paths
    p = run_pipeline(spark, dly, stations_path, state="GA")
    for r in p["normals"].collect():
        # climate_zone keys off normal_temp = avg((TMAX+TMIN)/2) — the
        # per-row midpoint average (only rows with BOTH elements), which is
        # NOT (normal_tmax+normal_tmin)/2 under asymmetric completeness.
        want_zone = (
            "Hot" if r.normal_temp > 20 else
            "Temperate" if r.normal_temp > 10 else
            "Cool" if r.normal_temp > 0 else "Cold"
        )
        assert r.climate_zone == want_zone
        assert r.years_of_data == 1


def test_ml_features_reference_pi(spark, fixture_paths):
    """Seasonal encodings must use the reference's π=3.14159 literal —
    sin(11·2π/12) = -0.5000042... not -0.5 (SURVEY §2.9, logs/04.output:275)."""
    dly, stations_path = fixture_paths
    p = run_pipeline(spark, dly, stations_path, state="GA")
    r = p["ml_features"].filter(F.col("month") == 1).limit(1).collect()[0]
    assert r.month_sin == pytest.approx(math.sin(1 * 2 * REFERENCE_PI / 12), abs=1e-12)
    assert REFERENCE_PI != math.pi


def test_ml_features_rolling_rows_frame(spark, fixture_paths):
    """7-ROW rolling mean (reference W2): with the day-9/18/27 TMAX rows
    missing entirely (sentinel filtered), the frame spans >7 calendar days."""
    dly, stations_path = fixture_paths
    p = run_pipeline(spark, dly, stations_path, state="GA")
    ml = (
        p["ml_features"]
        .filter((F.col("ID") == S1) & (F.col("month") == 1))
        .orderBy("DATE")
        .collect()
    )
    # rows are the silver station-days; compute the expected ROWS(-6,0)
    # mean over the non-null TMAX values in the trailing 7 rows
    tmax_seq = [r.TMAX for r in ml]
    for i, r in enumerate(ml):
        window = [x for x in tmax_seq[max(0, i - 6): i + 1] if x is not None]
        want = sum(window) / len(window) if window else None
        if want is None:
            assert r.tmax_7day_avg is None
        else:
            assert r.tmax_7day_avg == pytest.approx(want)


def test_anomaly_decomposition(spark, fixture_paths):
    """tmax_anomaly = TMAX - avg(TMAX) over (ID, month) — J2 aggregate-
    then-join; anomalies must average to ~0 within each (ID, month)."""
    dly, stations_path = fixture_paths
    p = run_pipeline(spark, dly, stations_path, state="GA")
    checks = (
        p["ml_features"]
        .groupBy("ID", "month")
        .agg(F.avg("tmax_anomaly").alias("mean_anom"))
        .collect()
    )
    for r in checks:
        assert r.mean_anom == pytest.approx(0.0, abs=1e-9)


def test_normal_temp_row_midpoint_semantics(spark):
    """normal_temp is avg((TMAX+TMIN)/2) — only rows with BOTH elements
    contribute (gold_processor.py:146). With asymmetric nulls this differs
    from (avg_tmax+avg_tmin)/2 and the climate_zone must follow the former."""
    import datetime

    rows = [
        # day 1: both present, midpoint (30+10)/2 = 20
        ("S", datetime.date(2021, 1, 1), 2021, 1, 1, 30.0, 10.0, 0.0, 0.0, 0.0, 1.0),
        # day 2: TMAX only -> excluded from normal_temp, counted in normal_tmax
        ("S", datetime.date(2021, 1, 2), 2021, 1, 2, 40.0, None, 0.0, 0.0, 0.0, 0.8),
        # day 3: both present, midpoint (26+18)/2 = 22
        ("S", datetime.date(2021, 1, 3), 2021, 1, 3, 26.0, 18.0, 0.0, 0.0, 0.0, 1.0),
    ]
    silver = spark.createDataFrame(
        rows,
        "ID string, DATE date, year int, month int, day int, TMAX double, "
        "TMIN double, PRCP double, SNOW double, SNWD double, "
        "data_quality_score double",
    ).withColumns(
        {c: F.lit(None).cast("double") for c in ("LATITUDE", "LONGITUDE", "ELEVATION")}
    ).withColumns({c: F.lit(None).cast("string") for c in ("STATE", "NAME")})
    r = gold_normals(silver).collect()[0]
    assert r.normal_temp == pytest.approx(21.0)  # (20+22)/2, day 2 excluded
    midpoint_of_avgs = (r.normal_tmax + r.normal_tmin) / 2  # 32 vs 14 -> 23
    assert midpoint_of_avgs == pytest.approx(23.0)
    assert r.climate_zone == "Hot"  # 21 > 20; the wrong formula also says Hot...
    # ...so pin the boundary too: normal_temp in (10,20] with the wrong
    # formula >20 must classify Temperate, not Hot
    rows2 = [
        ("S", datetime.date(2021, 1, 1), 2021, 1, 1, 25.0, 13.0, 0.0, 0.0, 0.0, 1.0),
        ("S", datetime.date(2021, 1, 2), 2021, 1, 2, 45.0, None, 0.0, 0.0, 0.0, 0.8),
    ]
    silver2 = spark.createDataFrame(
        rows2,
        "ID string, DATE date, year int, month int, day int, TMAX double, "
        "TMIN double, PRCP double, SNOW double, SNWD double, "
        "data_quality_score double",
    ).withColumns(
        {c: F.lit(None).cast("double") for c in ("LATITUDE", "LONGITUDE", "ELEVATION")}
    ).withColumns({c: F.lit(None).cast("string") for c in ("STATE", "NAME")})
    r2 = gold_normals(silver2).collect()[0]
    assert r2.normal_temp == pytest.approx(19.0)   # only day 1 midpoint
    assert (r2.normal_tmax + r2.normal_tmin) / 2 == pytest.approx(24.0)
    assert r2.climate_zone == "Temperate"  # keyed off 19, not 24


def test_run_pipeline_caches_silver_without_a_job(spark, fixture_paths):
    """run_pipeline only composes lazy frames: it marks silver for the
    cache (filled by the first action over it) and runs no Spark job of
    its own, so no size probe scans the raw text before the writes."""
    dly, stations_path = fixture_paths
    sc = spark.sparkContext
    group = "run_pipeline_no_job"
    sc.setJobGroup(group, "run_pipeline must not run a Spark job")
    try:
        p = run_pipeline(spark, dly, stations_path, state="GA")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    try:
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        level = p["silver"].storageLevel
        assert level.useMemory or level.useDisk
    finally:
        p["silver"].unpersist()


def test_ml_features_dense_windows_see_full_calendar(spark):
    """gold_ml_features_dense (r8 composition): a station with a 3-day
    hole gets synthesized rows carrying forward-filled values, and the
    'previous row' lag is now truly 'previous DAY' — the gap-blind ROWS
    quirk the sparse variant reproduces on purpose."""
    import datetime as dt

    from ghcn_d_etl_project_spark.pipelines.ghcn import gold_ml_features_dense

    d = dt.date
    silver = spark.createDataFrame(
        [
            (S1, d(2021, 1, 1), 20.0, 5.0, 0.0),
            (S1, d(2021, 1, 5), 24.0, 9.0, 4.0),  # 3-day hole before this
            (S1, d(2021, 1, 6), 26.0, 11.0, 0.0),
        ],
        "ID string, DATE date, TMAX double, TMIN double, PRCP double",
    )
    out = {r.DATE: r for r in gold_ml_features_dense(silver).collect()}
    assert len(out) == 6  # full calendar 1..6
    # synthesized day 3: ffill from day 1, flagged, staleness 2
    r3 = out[d(2021, 1, 3)]
    assert (r3.is_gap, r3.days_since_obs, r3.TMAX, r3.TMAX_ffill) == (1, 2, None, 20.0)
    # day 5's lag over the DENSE grid is day 4's carried value (20.0),
    # not the sparse variant's previous-ROW value (also 20.0 here but
    # via day 1) — day 6's lag distinguishes: previous DAY = 24.0
    assert out[d(2021, 1, 6)].tmax_lag1 == 24.0
    assert out[d(2021, 1, 5)].tmax_lag1 == 20.0
    # 7-day avg at day 6 covers exactly days 1-6 of the dense grid
    expect = (20.0 + 20.0 + 20.0 + 20.0 + 24.0 + 26.0) / 6
    assert out[d(2021, 1, 6)].tmax_7day_avg == pytest.approx(expect)


def test_nearest_stations_composition(spark, fixture_paths):
    """nearest_stations over the stations fixture: Atlanta and Savannah
    pick each other (~345 km), Miami's closest in-radius neighbor is
    Savannah; distances match an independent haversine."""
    from ghcn_d_etl_project_spark.operators.geo import EARTH_RADIUS_KM
    from ghcn_d_etl_project_spark.pipelines.ghcn import nearest_stations

    _, stations_path = fixture_paths
    stations = read_stations(spark, stations_path)  # no state filter
    out = {r.ID: r for r in nearest_stations(stations, radius_km=800.0).collect()}

    def hav(a, b):
        la1, lo1, la2, lo2 = map(math.radians, (*a, *b))
        x = (
            math.sin((la2 - la1) / 2) ** 2
            + math.cos(la1) * math.cos(la2) * math.sin((lo2 - lo1) / 2) ** 2
        )
        return 2 * EARTH_RADIUS_KM * math.asin(math.sqrt(x))

    atl, sav, mia = (33.7, -84.4), (32.1, -81.1), (25.8, -80.2)
    assert out[S1].neighbor_id == S2
    assert out[S2].neighbor_id == S1
    assert out["USC0FL00001"].neighbor_id == S2
    assert out[S1].distance_km == pytest.approx(hav(atl, sav), abs=1e-9)
    assert out["USC0FL00001"].distance_km == pytest.approx(hav(mia, sav), abs=1e-9)


def test_bronze_date_guards_match_try_to_date(spark, tmp_path):
    """r15: the per-line make_date/last_day/date_add derivation must
    reproduce try_to_date(concat, 'yyyyMMdd') semantics exactly at the
    guard edges — 3-digit years and month 13 yield NULL dates (filtered
    out), valid leap/non-leap month ends survive."""
    def line(year: int, month: int) -> str:
        head = f"{'USC0GA99901':<11}{year:04d}{month:02d}{'TMAX':<4}"
        return head + "".join(f"{100 + d:>5}  N" for d in range(1, 32))

    lines = [
        line(2021, 1),   # valid
        line(2020, 2),   # leap Feb: day 29 kept, day 30 dropped
        line(2021, 13),  # month 13: all dates NULL
        line(999, 1),    # 3-digit year: all dates NULL (yyyyMMdd parity)
    ]
    p = tmp_path / "edge.dly"
    p.write_text("\n".join(lines) + "\n")
    rows = bronze_from_dly(spark, str(p)).collect()
    assert all(r.month in (1, 2) and r.year in (2020, 2021) for r in rows)
    feb = {r.day for r in rows if r.year == 2020 and r.month == 2}
    assert 29 in feb and 30 not in feb
    jan = {r.day for r in rows if r.year == 2021 and r.month == 1}
    assert 31 in jan


def test_double_literal_non_finite_parses(spark):
    """ADVICE r14: non-finite values must render as parseable SQL
    literals (f'{v!r}D' would emit infD/nanD and crash the parser)."""
    import math

    from pyspark.sql import functions as F

    from ghcn_d_etl_project_spark.operators.common import double_literal

    expr = F.expr(
        "array("
        + ", ".join(
            double_literal(v)
            for v in (1.5, float("inf"), float("-inf"), float("nan"))
        )
        + ")"
    )
    [row] = spark.range(1).select(expr.alias("a")).collect()
    assert row.a[0] == 1.5
    assert math.isinf(row.a[1]) and row.a[1] > 0
    assert math.isinf(row.a[2]) and row.a[2] < 0
    assert math.isnan(row.a[3])
