"""Workload ``weather_backfill``: the paper's daily medallion ETL.

Inputs: seeded Open-Meteo payloads (``payloads.py``) for LOCATIONS
locations over DAYS consecutive ingest days, each a 168-hour forecast, so
most rows of a batch update keys an earlier batch loaded.

Each pass starts from an empty warehouse and makes one
``run_pipeline(spark, cfg, ds, payload=...)`` call per (day, location),
in day order: raw JSON, staging Parquet, L1 upsert, L2 latest-per-key.
The locations share L1 and L2 and keep their own raw and staging zones.
After the backfill the pass reads what it wrote, READS times each of:

* ``slice``: L2 for one location over a 7-day ``date`` range, aggregated
  per date (the two access paths the reference indexes);
* ``asof``: ``read_l2_asof`` for one location at a seeded cutoff day,
  aggregated per date.

Set-up makes WARM_DAYS days of calls and one read of each kind into a
throwaway warehouse. After the timed region every pass's final L2 is
checked row by row, and every read result against the DuckDB oracle.

Traced, each call is replaced by the four stage functions in the order
``run_pipeline`` calls them, with a span around each, and the L1 and L2
directories are walked before and after each upsert.
"""

from __future__ import annotations

import datetime as dt
import os
import statistics
import time

import numpy as np

import payloads
from harness import Outcome, fresh_dir, percentile
from oracle import WeatherOracle

LOCATIONS = 2
DAYS = 3
WARM_DAYS = 1
READS = 3
SLICE_DAYS = 7
STAGES = ("extract", "normalize", "load_l1", "build_l2")
# workload-specific names of the generic end-to-end metrics, printed beside them
ALIASES = {"op_p50_s": "ds_p50_s", "op_p90_s": "ds_p90_s"}


def _config(base: str, loc: payloads.Location):
    from dibimbing_case_study_etl_spark.config import DEFAULT_OPEN_METEO, PipelineConfig, StorageConfig

    storage = StorageConfig(
        base_dir=base,
        raw_dir=os.path.join(base, "raw", loc.name),
        staging_dir=os.path.join(base, "staging", loc.name),
    )
    meta = {"latitude": loc.latitude, "longitude": loc.longitude, "timezone": loc.timezone}
    return PipelineConfig(storage=storage, open_meteo={**DEFAULT_OPEN_METEO, **meta})


def _daily(df):
    from pyspark.sql import functions as F

    return (
        df.groupBy(F.col("date").cast("string").alias("date"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("temperature_c").alias("n_temp"),
            F.sum(F.round(F.col("temperature_c") * 10).cast("long")).alias("t10"),
            F.sum(F.col("hour").cast("long")).alias("hours"),
            F.max("load_ds").cast("string").alias("max_load_ds"),
        )
        .orderBy("date")
    )


def _slice(spark, cfg, loc, first: str, last: str):
    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.pipeline.weather import read_l2

    l2 = read_l2(spark, cfg)
    return _daily(
        l2.filter(
            (F.col("latitude") == loc.latitude)
            & (F.col("longitude") == loc.longitude)
            & F.col("date").between(first, last)
        )
    )


def _asof(spark, cfg, loc, cutoff: str):
    from dibimbing_case_study_etl_spark.pipeline.weather import read_l2_asof

    return _daily(read_l2_asof(spark, cfg, cutoff))


def _l2_rows(spark, cfg) -> list[tuple]:
    from pyspark.sql import functions as F

    from dibimbing_case_study_etl_spark.pipeline.weather import read_l2

    df = read_l2(spark, cfg).select(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
        F.col("date").cast("string"),
        F.col("hour").cast("int"),
        "latitude",
        "longitude",
        "timezone",
        "temperature_c",
        F.col("load_ds").cast("string"),
        "source",
    )
    return sorted(tuple(r) for r in df.collect())


def _data_files(path: str) -> dict[str, tuple[int, int]]:
    """relative path -> (size, mtime) of every data file under ``path``."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                st = os.stat(os.path.join(root, f))
                out[os.path.relpath(os.path.join(root, f), path)] = (st.st_size, st.st_mtime_ns)
    return out


def _disk_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f)) for root, _, files in os.walk(path) for f in files
    )


class _Writes:
    """Partitions and bytes an upsert rewrote, from directory walks."""

    def __init__(self):
        self.partitions = 0
        self.bytes_written = 0
        self.staging_bytes = 0

    def diff(self, before: dict, after: dict) -> None:
        changed = {k for k in after.keys() | before.keys() if before.get(k) != after.get(k)}
        self.partitions += len({k.split(os.sep)[0] for k in changed})
        self.bytes_written += sum(after[k][0] for k in changed if k in after)


def _traced_call(spark, cfg, b, tracer, op: str, writes: _Writes) -> None:
    from dibimbing_case_study_etl_spark.pipeline import weather as wp

    st = cfg.storage
    with tracer.span("extract", op):
        raw = wp.extract_to_raw(b.payload, st.raw_dir, b.ds)
    with tracer.span("normalize", op):
        staging = wp.normalize_to_staging(spark, raw, st.staging_dir, b.ds, fallback=cfg.open_meteo)
    writes.staging_bytes += sum(s for s, _ in _data_files(staging).values())
    before = _data_files(st.l1_path)
    with tracer.span("load_l1", op):
        wp.load_staging_to_l1(spark, staging, st.l1_path)
    writes.diff(before, _data_files(st.l1_path))
    before = _data_files(st.l2_path)
    with tracer.span("build_l2", op):
        wp.build_l2_for_ds(spark, st.l1_path, st.l2_path, b.ds)
    writes.diff(before, _data_files(st.l2_path))


def _read_plan(rng, locs, first_ds: str) -> list[tuple]:
    d0 = dt.date.fromisoformat(first_ds)
    plan = []
    for _ in range(READS):
        loc = locs[int(rng.integers(len(locs)))]
        start = d0 + dt.timedelta(days=int(rng.integers(DAYS)))
        last = start + dt.timedelta(days=SLICE_DAYS - 1)
        plan.append(("slice", loc, start.isoformat(), last.isoformat()))
        loc = locs[int(rng.integers(len(locs)))]
        cutoff = d0 + dt.timedelta(days=int(rng.integers(DAYS)))
        plan.append(("asof", loc, cutoff.isoformat(), None))
    return plan


def _run_read(spark, cfgs, read, tracer, op: str) -> list[tuple]:
    kind, loc, a, b = read
    with tracer.span("build", op):
        df = _slice(spark, cfgs[loc.name], loc, a, b) if kind == "slice" else _asof(spark, cfgs[loc.name], loc, a)
    with tracer.span("action", op):
        return [tuple(r) for r in df.collect()]


def run(ctx) -> Outcome:
    from dibimbing_case_study_etl_spark.pipeline.weather import run_pipeline

    out = Outcome()
    rng = np.random.default_rng(ctx.seed)
    locs = payloads.locations(rng, LOCATIONS)
    first_ds = (dt.date(2025, 1, 1) + dt.timedelta(days=int(rng.integers(0, 300)))).isoformat()
    batches = payloads.backfill(rng, locs, first_ds, DAYS)
    reads = _read_plan(rng, locs, first_ds)
    last_ds = batches[-1].ds

    warm = os.path.join(ctx.work, "warm")
    warm_cfgs = {loc.name: _config(warm, loc) for loc in locs}
    for b in payloads.backfill(rng, locs, "2024-03-01", WARM_DAYS):
        run_pipeline(ctx.spark, warm_cfgs[b.location.name], b.ds, payload=b.payload)
    _slice(ctx.spark, warm_cfgs[locs[0].name], locs[0], "2024-03-01", "2024-03-07").collect()
    _asof(ctx.spark, warm_cfgs[locs[0].name], locs[0], "2024-03-02").collect()

    writes = _Writes()
    ds_s: list[float] = []
    read_s: dict[str, list[float]] = {"slice": [], "asof": []}
    results: list[tuple[str, list]] = []  # (pass dir, read results)
    out.begin_timed(ctx.t_start)
    for p in range(ctx.passes):
        base = fresh_dir(os.path.join(ctx.work, f"pass{p}"))
        cfgs = {loc.name: _config(base, loc) for loc in locs}
        t_pass = time.perf_counter()
        for b in batches:
            op = f"ds:{b.location.name}:{b.ds}#{p}"
            t0 = time.perf_counter()
            try:
                if not ctx.tracer.enabled:
                    run_pipeline(ctx.spark, cfgs[b.location.name], b.ds, payload=b.payload)
                else:
                    _traced_call(ctx.spark, cfgs[b.location.name], b, ctx.tracer, op, writes)
            except Exception as exc:  # noqa: BLE001 — a failed call is a counted failure
                out.fail(f"{op}: raised {exc!r}")
            out.attempted += 1
            ds_s.append(time.perf_counter() - t0)
        got = []
        for i, read in enumerate(reads):
            t0 = time.perf_counter()
            try:
                got.append(_run_read(ctx.spark, cfgs, read, ctx.tracer, f"read:{read[0]}:{i}#{p}"))
            except Exception as exc:  # noqa: BLE001
                got.append(exc)
            read_s[read[0]].append(time.perf_counter() - t0)
        results.append((base, got))
        out.pass_s.append(time.perf_counter() - t_pass)
    out.op_s = ds_s

    oracle = WeatherOracle(batches)
    try:
        expected_l2 = oracle.table(last_ds)
        expected_reads = [
            oracle.daily(last_ds, loc.latitude, loc.longitude, a, b) if kind == "slice"
            else oracle.daily(a, loc.latitude, loc.longitude)
            for kind, loc, a, b in reads
        ]
    finally:
        oracle.close()
    for base, got in results:
        out.attempted += 1 + len(got)
        l2 = _l2_rows(ctx.spark, _config(base, locs[0]))
        if l2 != expected_l2:
            out.fail(f"{base}: final L2 differs from the oracle "
                     f"({len(l2)} rows against {len(expected_l2)})")
        for read, value, want in zip(reads, got, expected_reads):
            if value != want:
                out.fail(f"{read[0]} {read[1].name} {read[2]}..{read[3]}: {value!r} != {want!r}")

    rows_in = payloads.HORIZON_HOURS * len(batches)
    update_share, dup_share = payloads.shares(batches)
    out.report("ingest_rows_per_s", rows_in * len(out.pass_s) / sum(ds_s), "rows/s")
    out.report("stored_bytes_per_row", _disk_bytes(results[-1][0]) / len(expected_l2), "B/row")
    for kind, samples in read_s.items():
        out.report(f"{kind}_p50_s", percentile(samples, 50), "s")
        out.report(f"{kind}_p90_s", percentile(samples, 90), "s")
    out.note(f"locations={','.join(l.name for l in locs)} days={DAYS} first_ds={first_ds} "
             f"calls_per_pass={len(batches)} reads_per_pass={len(reads)} passes={len(out.pass_s)} "
             f"ds_samples={len(ds_s)} read_samples={len(read_s['slice'])}+{len(read_s['asof'])}")
    out.note(f"update_share={update_share:.4f} duplicate_share={dup_share:.4f} "
             f"payload_rows_per_pass={rows_in} final_l2_rows={len(expected_l2)}")
    out.note("run_pipeline walls in call order: " + " ".join(f"{x:.3f}" for x in ds_s))
    out.per_op = {"ds": statistics.median(ds_s)}
    out.extra = {"writes": writes, "reads": reads, "results": results, "locs": locs}
    return out


def layers(out: Outcome, groups: dict, tracer, untraced: dict | None) -> None:
    """Fill the ``pipeline.*``, ``merge_upsert.*`` and ``reads.*`` layers."""
    writes: _Writes = out.extra["writes"]
    n_ds = len(out.op_s)
    stage_s = {s: tracer.seconds(s) / n_ds for s in STAGES}
    stage_total = sum(stage_s.values())
    for s in STAGES:
        out.layer(f"pipeline.{s}_s", stage_s[s], "s")
        out.layer(f"pipeline.{s}_share", stage_s[s] / stage_total, "ratio")
    for s in STAGES[1:]:
        jobs = sum(g["jobs"] for k, g in groups.items() if k.startswith("ds:") and k.endswith(f"/{s}"))
        out.layer(f"pipeline.{s}_jobs_per_ds", jobs / n_ds, "count")
    ds_jobs = sum(g["jobs"] for k, g in groups.items() if k.startswith("ds:"))
    out.layer("pipeline.jobs_per_ds", ds_jobs / n_ds, "count")
    per_call: dict[str, float] = {}
    for sp in tracer.spans:
        if sp.name in STAGES:
            per_call[sp.parent] = per_call.get(sp.parent, 0.0) + sp.seconds
    if untraced:
        gap = untraced["per_op"]["ds"] - statistics.median(per_call.values())
        out.layer("pipeline.stage_gap_s", gap, "s")
        out.note(f"pipeline.stage_gap_s uses the untraced median call of seed {untraced['seed']}")
    else:
        out.note("pipeline.stage_gap_s needs an untraced run of this workload in this checkout first")

    out.layer("merge_upsert.partitions_rewritten_per_ds", writes.partitions / n_ds, "count")
    out.layer("merge_upsert.write_amp", writes.bytes_written / writes.staging_bytes, "ratio")
    last_base = out.extra["results"][-1][0]
    cfg = _config(last_base, out.extra["locs"][0])
    out.layer("merge_upsert.l1_files", len(_data_files(cfg.storage.l1_path)), "count")
    out.layer("merge_upsert.l2_files", len(_data_files(cfg.storage.l2_path)), "count")

    rows_out = {"slice": 0, "asof": 0}
    for _, got in out.extra["results"]:
        for read, value in zip(out.extra["reads"], got):
            if isinstance(value, list):
                rows_out[read[0]] += sum(r[1] for r in value)
    n_reads = len(out.extra["reads"]) * len(out.pass_s)
    files = rows = 0.0
    for kind in ("slice", "asof"):
        g = [v for k, v in groups.items() if k.startswith(f"read:{kind}:")]
        kind_files = sum(v["files_read"] for v in g)
        kind_rows = sum(v["input_records"] for v in g)
        out.layer(f"reads.{kind}.files_scanned", kind_files / (n_reads / 2), "count")
        out.layer(f"reads.{kind}.rows_scanned_per_row_out", kind_rows / rows_out[kind], "ratio")
        files += kind_files
        rows += kind_rows
    out.layer("reads.files_scanned", files / n_reads, "count")
    out.layer("reads.rows_scanned_per_row_out", rows / sum(rows_out.values()), "ratio")
