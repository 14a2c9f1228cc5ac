"""Capture .explain('formatted') for the bench-suite queries into
plans/r06/<query>_<tag>.txt (tag = before|after).

Usage: python tools/explain_plans.py <tag> [query ...]

Covers the operator-suite queries bench.py times plus the two headline
jobs (frontier_round over the bench's materialized inputs, warc_parse over
a small synthesized corpus). Driver-side only — plans are built, never
executed (except the tiny fixture materialization the frontier job needs).
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
ONLY = set(sys.argv[2:])
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r06")
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

SUITE = [
    "j1_match_pairs",
    "j2_compare_headers",
    "dedup_exact_all",
    "dedup_minhash_pairs",
    "text_doc_metrics",
    "sim_brute_topk",
    "frontier_unseen",
    "text_repetition",
    "dedup_paragraphs",
]


def main() -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    os.environ.setdefault("WBX_INPUT_PARTITIONS", "64")
    import bench

    spark = bench.get_session()
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry

    qs = entry.queries()
    for name in SUITE:
        if ONLY and name not in ONLY:
            continue
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(OUT_DIR, f"{name}_{TAG}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{TAG}.txt ({plan.count('Exchange')} Exchange refs)")

    if not ONLY or "frontier_round" in ONLY:
        from wbx.frontier import crawl_round

        fbase = bench.materialize_frontier_inputs(spark)
        cand = spark.read.parquet(os.path.join(fbase, "candidates"))
        seen = spark.read.parquet(os.path.join(fbase, "seen"))
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
        out = crawl_round(cand, seen, hosts, robots, default_budget=500)
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(OUT_DIR, f"frontier_round_{TAG}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote frontier_round_{TAG}.txt ({plan.count('Exchange')} Exchange refs)")
        import shutil

        shutil.rmtree(fbase, ignore_errors=True)

    if not ONLY or "warc_parse" in ONLY:
        from pyspark.sql import functions as F

        from wbx.fixtures import synth_warc_files
        from wbx.warcio import scan_files_to_text

        docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).select(
            "doc_id", "text"
        )
        files = synth_warc_files(docs, n_files=4, prefix="plan")
        out = scan_files_to_text(files).filter(F.col("text").isNotNull())
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(OUT_DIR, f"warc_parse_{TAG}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote warc_parse_{TAG}.txt")

    spark.stop()


if __name__ == "__main__":
    main()
