"""Profile one warm crawl round: driver-side plan build vs execution.

Usage: python tools/profile_round.py [cores] [amp]

Builds the same inputs as bench.py's frontier job (amp x 100k candidates,
~half pre-seen), then times four reps (caches released between reps):
  - build_s: py4j expression building + Dataset analysis (crawl_round call)
  - exec_s:  the terminal count() action
Prints one JSON line per rep.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CORES = int(sys.argv[1]) if len(sys.argv) > 1 else 16
AMP = int(sys.argv[2]) if len(sys.argv) > 2 else 60

os.environ.setdefault("SPARK_GRAFT_CPUS", str(CORES))


def main() -> None:
    import bench
    from wbx.frontier import crawl_round, release_rank_caches
    from wbx.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark(f"profile-round-{CORES}", cores=CORES)
    base = bench.materialize_frontier_inputs(spark)
    cand = spark.read.parquet(os.path.join(base, "candidates"))
    seen = spark.read.parquet(os.path.join(base, "seen"))
    hosts = spark.range(1200).selectExpr(
        "concat('host', id, '.example.com') AS host", "CAST(500 AS INT) AS budget"
    )
    robots = spark.createDataFrame(
        [
            ("host3.example.com", "deny", "/"),
            ("host7.example.com", "deny", "/p/1"),
            ("host7.example.com", "allow", "/p/11"),
        ],
        schema="host string, rule_type string, path_prefix string",
    )
    n_in = cand.count()
    for rep in range(4):
        t0 = time.time()
        out = crawl_round(cand, seen, hosts, robots, default_budget=500)
        t1 = time.time()
        n = out.count()
        t2 = time.time()
        release_rank_caches()
        spark.catalog.clearCache()
        print(json.dumps({
            "rep": rep, "cores": CORES, "n_in": n_in, "scheduled": n,
            "build_s": round(t1 - t0, 3), "exec_s": round(t2 - t1, 3),
            "total_s": round(t2 - t0, 3),
            "urls_per_sec": round(n_in / (t2 - t0)),
        }), flush=True)
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
