"""Benchmark of the engine: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Workloads:

* ``query_suite``      the 31 ``bench=True`` registry queries (query_suite.py)
* ``weather_backfill`` the daily weather ETL and reads of its output (weather.py)

The seed makes the inputs; the engine sees only those inputs. Every output
is checked against an oracle after the timed region, and a wrong result
counts as a failed operation.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a separate
run with Spark's event log on, job groups and spans around every call; it
reports the per-layer metrics, and the tracing overhead when an untraced
run of the same workload has been made in this checkout.

Standard output carries a readable report and, as its last line, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. The run exits
with code 2 if the engine package cannot be imported.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# every end-to-end figure a run measures; BENCHMARK.json names the ones
# the result line carries
E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "op_p90_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}
# a run makes one timed pass per PASS_SECONDS of --seconds (at least one), so
# how many samples it takes does not depend on how fast the code runs
PASS_SECONDS = 10.0


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    passes: int
    tracer: object
    t_start: float


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _args(argv, spec: dict):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _exec_layers(out, groups: dict, passes: int) -> None:
    from eventlog import total

    t = total(groups)
    for name in ("jobs", "tasks"):
        out.layer(f"exec.{name}", t[name] / passes, "count")
    for name in ("run_s", "cpu_s", "gc_s", "python_worker_s"):
        out.layer(f"exec.{name}", t[name] / passes, "s")
    for name in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes"):
        out.layer(f"exec.{name}", t[name] / passes, "bytes")
    run_s = max(t["run_s"], 1e-9)
    out.layer("exec.cpu_util", t["cpu_s"] / run_s, "ratio")
    out.layer("exec.gc_share", t["gc_s"] / run_s, "ratio")
    out.layer("exec.python_worker_share", t["python_worker_s"] / run_s, "ratio")


def _line(name: str, value: float, unit: str) -> str:
    return f"  {name:<48} {value:>16.6f} {unit}"


def main(argv=None) -> int:
    spec = _spec()
    args = _args(argv, spec)
    sys.path.insert(0, ROOT)
    try:
        import dibimbing_case_study_etl_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import eventlog
    import harness
    import query_suite
    import weather

    module = {"query_suite": query_suite, "weather_backfill": weather}[args.workload]
    trace = args.trace == 1
    state = os.path.join(ROOT, ".perfbench_work")
    work = harness.fresh_dir(os.path.join(state, "run"))
    mach = harness.machine()
    event_dir = harness.fresh_dir(os.path.join(work, "eventlog")) if trace else None

    spark, session_s = harness.start_session(work, mach, event_dir)
    tracer = harness.Tracer(spark.sparkContext if trace else None)
    try:
        passes = max(1, round(args.seconds / PASS_SECONDS))
        ctx = Context(spark, work, args.seed, passes, tracer, T_START)
        out = module.run(ctx)
        rss_mb = harness.peak_rss_mb()
        calibration_s = harness.calibration_seconds(spark)
        spark_version = spark.version
    finally:
        harness.stop_session(spark)

    e2e = {
        "setup_s": out.setup_s,
        "op_p50_s": harness.percentile(out.op_s, 50),
        "op_p90_s": harness.percentile(out.op_s, 90),
        "pass_s": statistics.median(out.pass_s),
        "peak_rss_mb": rss_mb,
    }
    cache = os.path.join(state, f"untraced_{args.workload}.json")
    untraced = None
    if not trace:
        with open(cache, "w") as f:
            json.dump({"seed": args.seed, "e2e": e2e, "per_op": out.per_op}, f)
    elif os.path.exists(cache):
        with open(cache) as f:
            untraced = json.load(f)

    print(f"perfbench workload={args.workload} seed={args.seed} seconds={args.seconds:g} trace={args.trace}")
    print(f"environment: nproc={mach.nproc} mem_total_gb={mach.mem_total_gb:.1f} "
          f"driver_memory={mach.driver_memory} spark={spark_version} python={platform.python_version()} "
          f"calibration_s={calibration_s:.4f} (bench.py's fixed canary pipeline, best of 2)")
    print(f"end-to-end{' (traced: not comparable with untraced runs)' if trace else ''}:")
    for name, unit in E2E_UNITS.items():
        alias = module.ALIASES.get(name)
        print(_line(f"{name} = {alias}" if alias else name, e2e[name], unit))
    for name, value, unit in out.reported:
        print(_line(name, value, unit))
    print(_line("error_rate", out.failed / out.attempted, "ratio")
          + f"  ({out.failed} of {out.attempted} operations)")

    if trace:
        log = os.listdir(event_dir)
        groups = eventlog.parse(os.path.join(event_dir, log[0]))
        out.layer("session.get_spark_s", session_s, "s")
        _exec_layers(out, groups, len(out.pass_s))
        module.layers(out, groups, tracer, untraced)
        print(f"per-layer ({len(tracer.spans)} spans, {len(groups)} job groups):")
        for name, (value, unit) in out.layers.items():
            print(_line(name, value, unit))
        if untraced:
            print(f"tracing overhead against the last untraced run (seed {untraced['seed']}):")
            for name in E2E_UNITS:
                base = untraced["e2e"][name]
                print(_line(f"overhead.{name}", e2e[name] / base - 1.0, "ratio"))
        # a layer the workload does not run reads 0
        metrics = {
            m["name"]: {"value": out.layers.get(m["name"], (0.0,))[0], "unit": m["unit"]}
            for m in spec["per_layer"]
        }
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}

    for note in out.notes:
        print(f"note: {note}")
    for failure in out.failures:
        print(f"FAILED: {failure}")
    result = {"correct": out.failed == 0, "attempted": out.attempted, "failed": out.failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
