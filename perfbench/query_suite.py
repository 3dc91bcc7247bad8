"""Workload ``query_suite``: the registry's 31 ``bench=True`` queries.

Inputs: the project's sf0.01 test-data set, the ten registry tables as the
correctness gate reads them, kept under ``perfbench/data/sf0.01``. Each
query runs to Spark's no-op sink, the same query set and sink as the
repository's ``bench.py``; the seed sets only the order of the queries
within each pass.

Set-up runs every query once and keeps its result. That run compiles the
query's plans before timing (the warm-up) and is the output checked against
the query's DuckDB oracle after the timed region.

Traced, each query is split into three spans: ``build`` (``QuerySpec.build``,
including any Spark jobs it runs eagerly), ``plan`` (forcing the physical
plan) and ``action`` (the no-op write).
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np

from harness import Outcome

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
PHASES = ("build", "plan", "action")
# workload-specific names of the generic end-to-end metrics, printed beside them
ALIASES = {"pass_s": "suite_s", "op_p50_s": "query_p50_s", "op_p90_s": "query_p90_s"}


def run(ctx) -> Outcome:
    from dibimbing_case_study_etl_spark.queries import load_all
    from dibimbing_case_study_etl_spark.testing import compare_frames, run_oracle

    out = Outcome()
    data = DATA
    specs = {name: spec for name, spec in sorted(load_all().items()) if spec.bench}

    results = {}
    for name, spec in specs.items():
        try:
            results[name] = spec.build(ctx.spark, data).toPandas()
        except Exception as exc:  # noqa: BLE001 — a failed query is a counted failure
            out.fail(f"{name}: check run raised {exc!r}")

    rng = np.random.default_rng(ctx.seed)
    names = list(specs)
    walls: dict[str, list[float]] = {name: [] for name in names}
    out.begin_timed(ctx.t_start)
    for _ in range(ctx.passes):
        t_pass = time.perf_counter()
        for name in rng.permutation(names):
            op = f"q:{name}#{len(out.pass_s)}"
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("build", op):
                    df = specs[name].build(ctx.spark, data)
                with ctx.tracer.span("plan", op):
                    if ctx.tracer.enabled:
                        df._jdf.queryExecution().executedPlan()
                with ctx.tracer.span("action", op):
                    df.write.mode("overwrite").format("noop").save()
            except Exception as exc:  # noqa: BLE001
                out.fail(f"{name}: timed run raised {exc!r}")
            out.attempted += 1
            wall = time.perf_counter() - t0
            walls[name].append(wall)
            out.op_s.append(wall)
        out.pass_s.append(time.perf_counter() - t_pass)

    for name, spec in specs.items():
        out.attempted += 1
        if name in results:
            problems = compare_frames(results[name], run_oracle(spec.oracle, data))
            if problems:
                out.fail(f"{name}: differs from its oracle: {problems[0]}")

    out.note(f"queries={len(names)} passes={len(out.pass_s)} samples={len(out.op_s)} "
             f"data={os.path.relpath(data)}")
    out.per_op = {name: statistics.median(w) for name, w in walls.items()}
    out.note("median wall per query: " + " ".join(f"{n}={w:.3f}" for n, w in out.per_op.items()))
    return out


def layers(out: Outcome, groups: dict, tracer, untraced: dict | None) -> None:
    """Fill the ``queries.*`` layer from the spans and the event log."""
    passes = len(out.pass_s)
    phase_s = {p: tracer.seconds(p) / passes for p in PHASES}
    total = sum(phase_s.values())
    for p in PHASES:
        jobs = sum(g["jobs"] for k, g in groups.items() if k.endswith(f"/{p}"))
        out.layer(f"queries.{p}_s", phase_s[p], "s")
        out.layer(f"queries.{p}_share", phase_s[p] / total, "ratio")
        out.layer(f"queries.{p}_jobs", jobs / passes, "count")
    for name, wall in sorted(out.per_op.items()):
        out.layer(f"query.{name}.wall_s", wall, "s")
    if untraced:
        traced_sum = sum(out.per_op.values())
        base = sum(untraced["per_op"].values())
        out.note(f"per-query build+plan+action (traced) summed {traced_sum:.3f} s "
                 f"against {base:.3f} s untraced per-query wall (seed {untraced['seed']})")
