"""The reference pipeline, Spark-first: raw JSON → staging Parquet →
L1 (bronze, upsert) → L2 (silver, window-dedup + upsert).

Stage parity map (SURVEY §2.12 / §3):
- extract   ↔ `scripts/extract_open_meteo_to_minio.py` (driver-side HTTP,
              one JSON object landed per ``ds`` partition)
- normalize ↔ `scripts/normalize_open_meteo_to_parquet.py` (parallel-array
              explode + typing + DQ; here arrays_zip/posexplode instead of
              a driver-side pandas DataFrame — distributed, nothing buffers
              on the driver)
- load L1   ↔ `scripts/load_parquet_to_postgres_l1.py` (upsert, update set
              temperature_c/timezone/load_ds only)
- build L2  ↔ `scripts/sql/l2_tables/upsert_l2_for_ds.sql` (window dedup
              latest-load_ds-wins per PK, upsert all non-key cols)

Orchestration (the reference's Airflow DAG chain, O1–O7) is plain function
composition: each stage returns the path/count the next one consumes —
the XCom/TriggerDagRun machinery collapses into return values.
"""

from __future__ import annotations

import json
import logging
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dibimbing_case_study_etl_spark.config import PipelineConfig
from dibimbing_case_study_etl_spark.operators.merge_upsert import merge_upsert
from dibimbing_case_study_etl_spark.operators.dedup_window import latest_per_key
from dibimbing_case_study_etl_spark.operators.quality import expect
from dibimbing_case_study_etl_spark.schemas import (
    L1_UPDATE_COLS,
    L2_UPDATE_COLS,
    RAW_OPEN_METEO_SCHEMA,
    STAGING_SCHEMA,
    WEATHER_COLUMNS,
    WEATHER_PK,
    WEATHER_SCHEMA,
)

log = logging.getLogger(__name__)

SOURCE_NAME = "open-meteo"


def raw_path_for_ds(raw_dir: str, ds: str) -> str:
    """Hive-style layout, parity with the reference's object-key template
    ``source=open-meteo/ds={ds}`` (`extract:87-91`, `README.md:146-147`)."""
    return os.path.join(raw_dir, f"source={SOURCE_NAME}", f"ds={ds}")


def staging_path_for_ds(staging_dir: str, ds: str) -> str:
    return os.path.join(staging_dir, f"source={SOURCE_NAME}", f"ds={ds}")


def extract_to_raw(payload: dict[str, Any], raw_dir: str, ds: str) -> str:
    """Land the payload verbatim as raw JSON (parity: `extract:144-153`).

    One small document per day — a driver-side write, exactly like the
    reference's single put_object. Local-FS paths only in this build; an
    object-store deployment swaps in a Hadoop-FS write.
    """
    path = raw_path_for_ds(raw_dir, ds)
    os.makedirs(path, exist_ok=True)
    out = os.path.join(path, "payload.json")
    with open(out, "w", encoding="utf-8") as f:
        json.dump(payload, f)
    log.info("extract: landed raw payload ds=%s -> %s", ds, out)
    return out


def normalize_to_staging(
    spark: SparkSession,
    raw_path: str,
    staging_dir: str,
    ds: str,
    fallback: dict[str, Any] | None = None,
) -> str:
    """Raw JSON → 9-column staging Parquet for one ``ds``.

    The reference's pandas mechanics (`normalize:48-101`) become one
    declarative plan: explicit-schema JSON read → parallel-array zip +
    posexplode (F2) → scalar derivations (F3–F8) → DQ (Q1–Q3) → snappy
    parquet. ``date``/``hour`` are derived from the *naive local* time
    string (pandas derives them from the tz-localized timestamp — same
    values); ``ts`` is the UTC instant via to_utc_timestamp.

    Q1–Q3 run as ONE aggregate over the exploded rows, before the write.
    Q1 (array lengths) is computed per document before the explode and
    carried as a row check: ``arrays_zip`` pads the shorter array with
    nulls (a missing array counts as empty), so a mismatch always yields
    rows that carry the violation.
    """
    fallback = fallback or {}
    raw = spark.read.schema(RAW_OPEN_METEO_SCHEMA).json(raw_path, multiLine=True)

    # config fallback for missing payload metadata (`normalize:131-133`)
    tz = F.coalesce(F.col("timezone"), F.lit(fallback.get("timezone")))
    lat = F.coalesce(F.col("latitude"), F.lit(fallback.get("latitude")).cast("double"))
    lon = F.coalesce(F.col("longitude"), F.lit(fallback.get("longitude")).cast("double"))

    zipped = raw.select(
        lat.alias("latitude"),
        lon.alias("longitude"),
        tz.alias("timezone"),
        # Q1: parallel arrays must align (`normalize:55-56`)
        (F.size("hourly.time") == F.size("hourly.temperature_2m")).alias("same_length"),
        F.posexplode(
            F.arrays_zip(
                F.coalesce("hourly.time", F.array().cast("array<string>")).alias("time"),
                F.coalesce(
                    "hourly.temperature_2m", F.array().cast("array<double>")
                ).alias("temperature_2m"),
            )
        ).alias("pos", "h"),
    )
    local_ts = F.to_timestamp(F.col("h.time"))
    df = zipped.select(
        F.to_utc_timestamp(local_ts, F.col("timezone")).alias("ts"),
        F.to_date(local_ts).alias("date"),
        F.hour(local_ts).cast("short").alias("hour"),
        "latitude",
        "longitude",
        "timezone",
        F.col("h.temperature_2m").cast("double").alias("temperature_c"),
        F.lit(ds).cast("date").alias("load_ds"),
        F.lit(SOURCE_NAME).alias("source"),
        "pos",
        "same_length",
    )

    # Q1 + Q2 + Q3 (`normalize:55-56, 93-96`) in one aggregate
    expect(
        df,
        row_checks={"hourly_arrays_same_length": F.col("same_length")},
        require_nonempty=True,
        require_some_nonnull=("temperature_c",),
    )

    out = staging_path_for_ds(staging_dir, ds)
    # `pos` (array position) rides along so L1 can reproduce the reference's
    # "last row in batch order wins" arbitration (`load:140-147`).
    df.select(*WEATHER_COLUMNS, "pos").write.mode("overwrite").parquet(out, compression="snappy")
    log.info("normalize: wrote staging parquet ds=%s -> %s", ds, out)
    return out


def load_staging_to_l1(spark: SparkSession, staging_path: str, l1_path: str) -> None:
    """Staging → L1 bronze upsert (parity: `load:52-61, 124-149`).

    On PK conflict updates only temperature_c/timezone/load_ds (NOT
    date/hour). In-batch duplicates: highest array position wins (the
    reference's sequential execute_values makes the last row win).
    """
    merge_upsert(
        spark,
        target_path=l1_path,
        source=spark.read.schema(STAGING_SCHEMA).parquet(staging_path),
        keys=list(WEATHER_PK),
        update_cols=list(L1_UPDATE_COLS),
        order_by=[F.desc("load_ds"), F.desc("pos")],
        partition_col="date",
    )
    log.info("load_l1: merged %s -> %s", staging_path, l1_path)


def build_l2_for_ds(spark: SparkSession, l1_path: str, l2_path: str, ds: str) -> None:
    """L1 → L2 silver build for one ``ds`` (parity:
    `upsert_l2_for_ds.sql:7-33`): restrict to the day's slice (P2), window
    dedup latest-load_ds-wins per PK (W1), upsert updating ALL non-key
    columns (U2).

    W1 is the dedup ``merge_upsert`` runs on every source: L1's PK is
    unique, so the day's slice holds one row per key already."""
    l1 = spark.read.schema(WEATHER_SCHEMA).parquet(l1_path).select(*WEATHER_COLUMNS)
    day = l1.filter(F.col("load_ds") == F.lit(ds).cast("date"))
    merge_upsert(
        spark,
        target_path=l2_path,
        source=day,
        keys=list(WEATHER_PK),
        update_cols=list(L2_UPDATE_COLS),
        order_by=[F.desc("load_ds")],
        partition_col="date",
    )
    log.info("build_l2: merged ds=%s %s -> %s", ds, l1_path, l2_path)


def run_pipeline(
    spark: SparkSession,
    cfg: PipelineConfig,
    ds: str,
    payload: dict[str, Any] | None = None,
) -> dict[str, str]:
    """Compose all four stages for one ingest day; returns stage artifacts.

    ``payload=None`` fetches from the live API (driver-side, retried);
    tests inject fixture payloads instead.
    """
    if payload is None:
        from dibimbing_case_study_etl_spark.sources.http_api import fetch_open_meteo

        payload = fetch_open_meteo(cfg.open_meteo)

    raw = extract_to_raw(payload, cfg.storage.raw_dir, ds)
    staging = normalize_to_staging(
        spark, raw, cfg.storage.staging_dir, ds, fallback=cfg.open_meteo
    )
    load_staging_to_l1(spark, staging, cfg.storage.l1_path)
    build_l2_for_ds(spark, cfg.storage.l1_path, cfg.storage.l2_path, ds)
    return {"raw": raw, "staging": staging, "l1": cfg.storage.l1_path, "l2": cfg.storage.l2_path}


def read_l2(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    return spark.read.parquet(cfg.storage.l2_path)


def read_l2_asof(spark: SparkSession, cfg: PipelineConfig, as_of_ds: str) -> DataFrame:
    """Reproduce L2 exactly as it stood after the ``as_of_ds`` run — the
    snapshot/time-travel read a lakehouse needs for reproducible training
    runs, without a transactional table format.

    L1/L2 rewrite rows in place, so they cannot answer "as of last
    Tuesday"; the per-``ds`` staging layer is the append-only history that
    can. The reconstruction replays the upsert semantics over all staged
    batches with ``load_ds <= as_of_ds``:

    * ``temperature_c``/``timezone``/``load_ds`` come from the NEWEST
      batch that touched the PK (L1's update-column subset, last-wins);
    * ``date``/``hour`` come from the insert — the winner of the EARLIEST
      batch (they are never updated in L1, and L2 copies them from L1);
    * within one batch the highest array position wins (the reference's
      sequential execute_values order), same as ``load_staging_to_l1``.

    Cost is one scan of the staged history ≤ the cutoff + two windows over
    the same (PK) partitioning — no replay of per-day merges.
    """
    hist = spark.read.parquet(
        os.path.join(cfg.storage.staging_dir, f"source={SOURCE_NAME}", "ds=*")
    ).filter(F.col("load_ds") <= F.lit(as_of_ds).cast("date"))
    newest = latest_per_key(
        hist, keys=list(WEATHER_PK), order_by=[F.desc("load_ds"), F.desc("pos")]
    )
    oldest = latest_per_key(
        hist, keys=list(WEATHER_PK), order_by=[F.asc("load_ds"), F.desc("pos")]
    )
    inserted = oldest.select(*WEATHER_PK, "date", "hour")
    return (
        newest.drop("date", "hour", "pos")
        .join(inserted, list(WEATHER_PK))
        .select(*WEATHER_COLUMNS)
    )
