"""Optimization-round instrumentation (r6) — NOT the driver bench.

Times each headline query with construction (eager probe jobs run inside
the QUERIES fn) separated from execution (noop-sink materialization, guide
§1.4), optionally over a subset and with repeats. bench.py stays frozen;
this file exists so OPTIMIZATION_r06.md can cite isolation numbers.

Usage:
  python bench_extra.py [query ...]        # default: full headline list
  BENCH_EXTRA_REPEATS=2 python bench_extra.py dedup_ngram_jaccard
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import HEADLINE  # noqa: E402  (bench.main() only runs as a script)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    repeats = int(os.environ.get("BENCH_EXTRA_REPEATS", "1"))
    names = sys.argv[1:] or HEADLINE

    from knowledge_graph_studio_spark.driver_contract import QUERIES
    from knowledge_graph_studio_spark.session import get_spark

    spark = get_spark("kg-bench-extra", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()

    out: dict[str, dict] = {}
    for name in names:
        fn = QUERIES[name]
        best = None
        for rep in range(repeats):
            group = f"{name}-{rep}"
            spark.sparkContext.setJobGroup(group, f"{name}: construct")
            t0 = time.time()
            df = fn(spark, sf_dir)
            t_con = time.time() - t0
            spark.sparkContext.setJobGroup(group, f"{name}: execute")
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t_exec = time.time() - t1
            n_jobs = len(spark.sparkContext.statusTracker()
                         .getJobIdsForGroup(group))
            spark.sparkContext.setJobGroup(None, None)
            rec = {"construct": round(t_con, 3), "execute": round(t_exec, 3),
                   "total": round(t_con + t_exec, 3), "jobs": n_jobs}
            if best is None or rec["total"] < best["total"]:
                best = rec
        out[name] = best
        print(json.dumps({name: best}), flush=True)

    print(json.dumps({"queries": out, "sf_dir": sf_dir, "cores": cores}))
    spark.stop()


if __name__ == "__main__":
    main()
