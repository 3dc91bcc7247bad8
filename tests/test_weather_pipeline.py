"""End-to-end weather pipeline tests against the FIXTURES.md F1/F3 variants:
payload edge cases, idempotency, latest-wins, in-batch dupes, multi-location.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dibimbing_case_study_etl_spark.config import PipelineConfig, StorageConfig
from dibimbing_case_study_etl_spark.operators.quality import DataQualityError
from dibimbing_case_study_etl_spark.pipeline.weather import run_pipeline, read_l2


def payload(
    n_hours: int = 48,
    start="2025-10-16T00:00",
    lat=-6.2,
    lon=106.8,
    tz="Asia/Jakarta",
    temps=None,
    times=None,
    include_meta=True,
):
    t0 = dt.datetime.fromisoformat(start)
    times = times if times is not None else [
        (t0 + dt.timedelta(hours=i)).strftime("%Y-%m-%dT%H:%M") for i in range(n_hours)
    ]
    temps = temps if temps is not None else [20.0 + 0.1 * i for i in range(len(times))]
    doc = {"hourly": {"time": times, "temperature_2m": temps}}
    if include_meta:
        doc.update({"latitude": lat, "longitude": lon, "timezone": tz})
    return doc


@pytest.fixture()
def cfg(tmp_path):
    return PipelineConfig(storage=StorageConfig(base_dir=str(tmp_path)))


def test_happy_path_end_to_end(spark, cfg):
    run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(48))
    l2 = read_l2(spark, cfg)
    rows = l2.orderBy("ts").collect()
    assert len(rows) == 48
    r = rows[0]
    # 2025-10-16T00:00 Asia/Jakarta (UTC+7) == 2025-10-15 17:00 UTC
    assert r.ts == dt.datetime(2025, 10, 15, 17, 0)
    assert r.date == dt.date(2025, 10, 16) and r.hour == 0
    assert r.temperature_c == 20.0 and r.source == "open-meteo"
    assert r.load_ds == dt.date(2025, 10, 16)
    # PK uniqueness
    n_keys = l2.select("ts", "latitude", "longitude", "source").distinct().count()
    assert n_keys == 48


def test_nulls_preserved(spark, cfg):
    temps = [20.0, None, 22.0, None]
    run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(times=None, n_hours=4, temps=temps))
    l2 = read_l2(spark, cfg)
    assert l2.filter(F.col("temperature_c").isNull()).count() == 2


def test_len_mismatch_raises(spark, cfg):
    bad = payload(n_hours=4)
    bad["hourly"]["temperature_2m"] = bad["hourly"]["temperature_2m"][:-1]
    with pytest.raises(DataQualityError, match="hourly_arrays_same_length"):
        run_pipeline(spark, cfg, ds="2025-10-16", payload=bad)
    # a missing array is a length mismatch too, not an empty dataset
    del bad["hourly"]["time"]
    with pytest.raises(DataQualityError, match="hourly_arrays_same_length"):
        run_pipeline(spark, cfg, ds="2025-10-16", payload=bad)


def test_empty_arrays_raise(spark, cfg):
    with pytest.raises(DataQualityError, match="empty"):
        run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(times=[], temps=[]))


def test_all_nan_raises(spark, cfg):
    with pytest.raises(DataQualityError, match="entirely null"):
        run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(n_hours=3, temps=[None, None, None]))


def test_missing_meta_falls_back_to_config(spark, cfg):
    cfg.open_meteo.update({"latitude": 1.5, "longitude": 2.5, "timezone": "UTC"})
    run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(n_hours=2, include_meta=False))
    r = read_l2(spark, cfg).first()
    assert r.latitude == 1.5 and r.longitude == 2.5 and r.timezone == "UTC"


def test_rerun_same_ds_idempotent(spark, cfg):
    p = payload(24)
    run_pipeline(spark, cfg, ds="2025-10-16", payload=p)
    first = {(r.ts, r.temperature_c) for r in read_l2(spark, cfg).collect()}
    run_pipeline(spark, cfg, ds="2025-10-16", payload=p)
    second = {(r.ts, r.temperature_c) for r in read_l2(spark, cfg).collect()}
    assert first == second and len(first) == 24


def test_newer_load_ds_wins(spark, cfg):
    run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(24, temps=[10.0] * 24))
    # next day reprocesses the same hours with corrected temperatures
    run_pipeline(spark, cfg, ds="2025-10-17", payload=payload(24, temps=[99.0] * 24))
    l2 = read_l2(spark, cfg)
    assert l2.count() == 24
    temps = {r.temperature_c for r in l2.collect()}
    assert temps == {99.0}
    assert {r.load_ds for r in l2.collect()} == {dt.date(2025, 10, 17)}


def test_intra_batch_duplicates_last_wins(spark, cfg):
    # same hour appears twice in one payload (e.g. ambiguous DST hour):
    # the LAST occurrence in array order must win, matching the reference's
    # sequential row-by-row upsert (`load:140-147`).
    times = ["2025-10-16T00:00", "2025-10-16T01:00", "2025-10-16T00:00"]
    temps = [11.1, 22.2, 33.3]
    run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(times=times, temps=temps))
    l2 = read_l2(spark, cfg)
    assert l2.count() == 2
    first_hour = l2.filter(F.col("hour") == 0).first()
    assert first_hour.temperature_c == 33.3


def test_multi_location_same_ds(spark, cfg):
    run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(4, lat=-6.2, lon=106.8))
    run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(4, lat=52.5, lon=13.4, tz="UTC"))
    l2 = read_l2(spark, cfg)
    assert l2.count() == 8
    assert l2.select("latitude").distinct().count() == 2


def test_dst_gap_and_overlap_pinned(spark, cfg):
    # SURVEY §7: pandas tz_localize(nonexistent="shift_forward",
    # ambiguous="NaT") vs Spark to_utc_timestamp — divergence documented,
    # behavior pinned here: every row lands with a non-null UTC ts.
    times = ["2025-03-09T02:30", "2025-11-02T01:30"]  # US spring gap + fall overlap
    run_pipeline(
        spark, cfg, ds="2025-03-09",
        payload=payload(times=times, temps=[1.0, 2.0], tz="America/New_York"),
    )
    rows = read_l2(spark, cfg).collect()
    assert len(rows) == 2 and all(r.ts is not None for r in rows)


def test_observed_dq_piggybacks_on_write(spark, tmp_path):
    """Observation-based DQ: metrics ride the write action itself (no
    second scan); a clean dataset passes, an injected violation raises."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.operators.quality import (
        DataQualityError,
        assert_observed,
        observe_checks,
    )

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 10).alias("bucket")
    )
    observed, obs = observe_checks(df, {"bucket_in_range": F.col("bucket") < 10})
    observed.write.mode("overwrite").parquet(str(tmp_path / "ok"))
    counts = assert_observed(obs)
    assert counts == {"bucket_in_range": 0, "__n": 100}

    observed2, obs2 = observe_checks(df, {"id_small": F.col("id") < 90})
    observed2.write.mode("overwrite").parquet(str(tmp_path / "bad"))
    with _pytest.raises(DataQualityError, match="10/100"):
        assert_observed(obs2)


def test_read_l2_asof_reproduces_historical_snapshot(spark, cfg):
    """Time-travel read: after three ingest days that re-load the same
    hours with drifting temperatures, read_l2_asof(day2) must equal the
    L2 table captured right after day 2's run — byte-for-byte row
    equality — and as-of the final day must equal the live table."""
    from dibimbing_case_study_etl_spark.pipeline.weather import read_l2_asof

    def day(ds, base):
        return payload(n_hours=6, start="2025-10-16T00:00", temps=[base + i for i in range(6)])

    def snap(df):
        from dibimbing_case_study_etl_spark.schemas import WEATHER_COLUMNS

        # partitioned parquet reads append the partition column last;
        # normalize to the canonical column order before comparing
        return sorted(tuple(r) for r in df.select(*WEATHER_COLUMNS).collect())

    run_pipeline(spark, cfg, ds="2025-10-16", payload=day("2025-10-16", 10.0))
    run_pipeline(spark, cfg, ds="2025-10-17", payload=day("2025-10-17", 20.0))
    snapshot_d2 = snap(read_l2(spark, cfg))
    run_pipeline(spark, cfg, ds="2025-10-18", payload=day("2025-10-18", 30.0))

    # live table moved on (temps now 30-range)...
    live = snap(read_l2(spark, cfg))
    assert live != snapshot_d2
    # ...but the as-of read reconstructs day 2 exactly
    assert snap(read_l2_asof(spark, cfg, "2025-10-17")) == snapshot_d2
    # and as-of the newest day equals the live table
    assert snap(read_l2_asof(spark, cfg, "2025-10-18")) == live


def test_newer_null_overwrites_in_l1_and_l2(spark, cfg):
    """A reload whose temperature is null replaces the older value in both
    layers, as the reference's ``SET temperature_c = EXCLUDED.temperature_c``
    does; a merge that coalesced source and target would keep 10.0."""
    run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(4, temps=[10.0] * 4))
    run_pipeline(spark, cfg, ds="2025-10-17", payload=payload(2, temps=[None, 5.0]))
    for path in (cfg.storage.l1_path, cfg.storage.l2_path):
        got = {
            r.hour: (r.temperature_c, r.load_ds)
            for r in spark.read.parquet(path).collect()
        }
        assert got == {
            0: (None, dt.date(2025, 10, 17)),
            1: (5.0, dt.date(2025, 10, 17)),
            2: (10.0, dt.date(2025, 10, 16)),
            3: (10.0, dt.date(2025, 10, 16)),
        }


def test_second_ingest_day_stays_within_job_budget(spark, cfg):
    """Fixed per-job cost dominates a small ingest day, so the job count of
    one ``run_pipeline`` call is pinned: an ingest day into existing L1/L2
    tables starts at most 16 Spark jobs."""
    sc = spark.sparkContext
    try:
        for ds, start in (("2025-10-16", "2025-10-16T00:00"), ("2025-10-17", "2025-10-17T00:00")):
            sc.setJobGroup(f"budget-{ds}", f"run_pipeline {ds}")
            run_pipeline(spark, cfg, ds=ds, payload=payload(48, start=start))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(read_l2(spark, cfg).collect()) == 72
    jobs = sc.statusTracker().getJobIdsForGroup("budget-2025-10-17")
    assert 0 < len(jobs) <= 16, jobs


def test_dq_failure_writes_nothing(spark, cfg):
    """DQ runs before the staging write: a rejected day leaves no staging
    directory and L1/L2 byte-for-byte as they were."""
    import hashlib
    import os

    from dibimbing_case_study_etl_spark.pipeline.weather import staging_path_for_ds

    def files(path):
        return {
            os.path.relpath(os.path.join(root, f), path): hashlib.sha256(
                open(os.path.join(root, f), "rb").read()
            ).hexdigest()
            for root, _, fs in os.walk(path)
            for f in fs
        }

    run_pipeline(spark, cfg, ds="2025-10-16", payload=payload(24))
    before = {p: files(p) for p in (cfg.storage.l1_path, cfg.storage.l2_path)}
    assert all(before.values())

    bad = payload(24, start="2025-10-16T12:00")
    bad["hourly"]["temperature_2m"] = bad["hourly"]["temperature_2m"][:-1]
    with pytest.raises(DataQualityError, match="hourly_arrays_same_length"):
        run_pipeline(spark, cfg, ds="2025-10-17", payload=bad)

    assert not os.path.exists(staging_path_for_ds(cfg.storage.staging_dir, "2025-10-17"))
    assert {p: files(p) for p in before} == before
