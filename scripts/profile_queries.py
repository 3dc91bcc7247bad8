#!/usr/bin/env python
"""Profile registry queries one at a time in a warm session: wall seconds
per query (noop sink), best of --passes.

Usage: python scripts/profile_queries.py out.json [name,name,...] [--passes=N]

Defaults to the bench=True headline set. Each query is warmed once at
sf0.001 (plan/codegen warmup, same as bench.py) and then timed --passes
times at $SPARK_GRAFT_SF_DIR (default sf0.1); per-query min is reported.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/profile_queries.json"
    names_arg = sys.argv[2] if len(sys.argv) > 2 and not sys.argv[2].startswith("--") else ""
    passes = 2
    for a in sys.argv[2:]:
        if a.startswith("--passes="):
            passes = int(a.split("=", 1)[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    smoke = os.path.join(os.path.dirname(sf_dir.rstrip("/")) or "/root/testdata", "sf0.001")

    from dibimbing_case_study_etl_spark.queries import load_all
    from dibimbing_case_study_etl_spark.session import get_spark

    registry = load_all()
    names = (
        [n for n in names_arg.split(",") if n]
        if names_arg
        else sorted(n for n, s in registry.items() if s.bench)
    )

    spark = get_spark(app_name="profile-queries")
    sc = spark.sparkContext
    results: dict[str, dict] = {}
    for name in names:
        spec = registry[name]
        sc.setJobDescription(f"warmup:{name}")
        if os.path.isdir(smoke):
            try:
                spec.build(spark, smoke).write.mode("overwrite").format("noop").save()
            except Exception as exc:  # noqa: BLE001
                results[name] = {"error": f"warmup: {type(exc).__name__}: {exc}"}
                continue
        best = None
        samples = []
        for _ in range(passes):
            sc.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            try:
                spec.build(spark, sf_dir).write.mode("overwrite").format("noop").save()
            except Exception as exc:  # noqa: BLE001
                results[name] = {"error": f"{type(exc).__name__}: {exc}"}
                break
            dt = time.perf_counter() - t0
            samples.append(round(dt, 3))
            best = dt if best is None else min(best, dt)
        else:
            results[name] = {"sec": round(best, 3), "samples": samples}
            print(json.dumps({"q": name, **results[name]}), flush=True)
            continue
        print(json.dumps({"q": name, **results[name]}), flush=True)
    with open(out_path, "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
    total = sum(r.get("sec", 0) for r in results.values())
    print(json.dumps({"total_sec": round(total, 3), "n": len(results)}))


if __name__ == "__main__":
    main()
