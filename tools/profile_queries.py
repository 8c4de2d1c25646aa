"""Per-query profiling: split wall time into BUILD (query function call,
which includes eager localCheckpoint jobs + plan construction) and EXEC
(noop-sink write of the returned frame).  The split tells you whether a
slow query pays in eager materialization / planning or in the final plan.
``build_jobs`` counts the Spark jobs the build ran (its job group).

Usage: python tools/profile_queries.py [query ...]   (default: all)
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
       SPARK_GRAFT_PROFILE_RUNS (default 2; reports min)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from peskas_mozambique_data_pipeline_spark import registry
from peskas_mozambique_data_pipeline_spark.session import get_spark


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:] or list(registry.SPARK_QUERIES)
    runs = max(1, int(os.environ.get("SPARK_GRAFT_PROFILE_RUNS", "2")))

    spark = get_spark(app_name="profile")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        try:
            registry._t(spark, sf_dir, t).count()
        except Exception:
            pass

    out = {}
    for name in names:
        fn = registry.SPARK_QUERIES[name]
        rec = {"build": [], "exec": [], "build_jobs": []}
        for run in range(runs):
            group = f"profile:{name}:build:{run}"
            sc.setJobGroup(group, f"profile:{name}:build")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            rec["build_jobs"].append(len(sc.statusTracker().getJobIdsForGroup(group)))
            sc.setJobGroup(f"profile:{name}:exec:{run}", f"profile:{name}:exec")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            rec["build"].append(round(t1 - t0, 3))
            rec["exec"].append(round(t2 - t1, 3))
            import gc

            gc.collect()
        out[name] = {
            "build_min": min(rec["build"]),
            "exec_min": min(rec["exec"]),
            "total_min": round(min(rec["build"]) + min(rec["exec"]), 3),
            "build": rec["build"],
            "exec": rec["exec"],
            "build_jobs": rec["build_jobs"],
        }
        print(
            f"{name:24s} build {out[name]['build_min']:7.3f}  "
            f"exec {out[name]['exec_min']:7.3f}  "
            f"build_jobs {min(rec['build_jobs'])}",
            flush=True,
        )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
