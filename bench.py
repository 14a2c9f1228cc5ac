#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Headline jobs mirror BASELINE.json's metric ("frontier URLs scheduled +
pages parsed per second"):

- frontier_2m   : full crawl round over ~2M candidate URLs amplified from
                  the events table (hot-host skew, 1M-entry seen-set with
                  Bloom prefilter, robots, politeness, global priority rank)
- warc_parse_50k: 50k WARC records synthesized from documents on executors,
                  scanned (content-length strategy) + text-extracted
- plus the J1/J2 relational jobs, dedup (exact/minhash), fingerprint,
  and brute-force ANN — the rest of the operator surface at sf scale.

Every job ends in a count() so timing covers the whole plan execution.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# simulate pre-partitioned input (single-split local parquet otherwise
# serializes every per-row kernel onto one core)
os.environ.setdefault("WBX_INPUT_PARTITIONS", str(2 * CPUS))


def get_session():
    from wbx.session import get_spark

    return get_spark(
        app_name="wbx-bench",
        cores=CPUS,
        shuffle_partitions=CPUS,
        extra_conf={
            # archive rows are fat (MBs of binary); small scan splits keep
            # the mapInArrow parse fanned out without an explicit (and
            # untimed-unrealistic) repartition shuffle of the payload bytes
            "spark.sql.files.maxPartitionBytes": "8m",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _read(spark, name):
    return spark.read.parquet(os.path.join(SF_DIR, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# amplified headline jobs
# ---------------------------------------------------------------------------

# default frontier amplification raised 10 -> 60 (1M -> 6M candidates):
# after the url-staging speedups a 1M-candidate round finishes in ~2-4s at
# 32 cores and the measurement is mostly fixed stage overhead; 6M keeps the
# headline number a steady-state throughput (the JSON reports the candidate
# count, so rounds remain comparable via frontier_urls_per_sec)
AMPLIFY_FRONTIER = int(os.environ.get("SPARK_GRAFT_AMPLIFY_FRONTIER", "60"))
# pages default raised 10 -> 60 (50k -> 300k pages) for the same reason:
# 50k pages finish in ~0.7s at 32 cores, which times stage setup, not the
# parse kernel (the scaling sessions measure 385k pages/s on 16 cores)
AMPLIFY_PAGES = int(os.environ.get("SPARK_GRAFT_AMPLIFY_PAGES", "60"))


def frontier_candidates(spark):
    """events ×AMPLIFY → candidate URLs with a deliberately hot host
    (~10% of all URLs on one domain) to exercise skew handling."""
    from pyspark.sql import functions as F

    # the parquet file is tiny → Spark scans it as ONE split; a real corpus
    # arrives pre-partitioned, so spread the amplified rows across the
    # cluster explicitly (hash on the row identity = deterministic content).
    ev = (
        _read(spark, "events")
        .select("event_id", "user_id", "value")
        .repartition(2 * CPUS, "event_id")
    )
    amp = ev.select(
        "event_id",
        "user_id",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(AMPLIFY_FRONTIER - 1))).alias("i"),
    )
    host_id = F.when(F.pmod(F.col("event_id") + F.col("i"), F.lit(10)) == 0, F.lit(7)).otherwise(
        F.pmod(F.col("user_id") * 37 + F.col("i") * 13 + F.col("event_id"), F.lit(1200))
    )
    url = F.concat(
        F.lit("HTTP://Host"),
        host_id,
        F.lit(".Example.COM:80/p/"),
        F.col("event_id"),
        F.lit("/"),
        F.col("i"),
    )
    priority = F.pmod(F.col("event_id") + F.col("i"), F.lit(100)).cast("double")
    return amp.select(
        url.alias("url"), priority.alias("priority"), "event_id", "i"
    )


def materialize_frontier_inputs(spark) -> str:
    """Land the crawl-round inputs ONCE per bench process, as on a real
    cluster: candidates are a stored table of raw (url, priority) — the
    previous round's expand output — and the seen-set is a stored
    (url_hash, canon_url) key table (the checkpoint contract, see
    wbx.checkpoint)."""
    import tempfile

    from pyspark.sql import functions as F

    from wbx.frontier import with_canonical

    base = tempfile.mkdtemp(prefix="wbx-bench-frontier-")
    cand_src = frontier_candidates(spark)
    cand_src.select("url", "priority").repartition(2 * CPUS).write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "candidates"))
    # seen-set membership by URL-HASH parity, not (event_id + i) parity:
    # the hot-host rows are exactly the (event_id + i) % 10 == 0 rows — all
    # EVEN — so a parity-of-(event_id+i) seen set swallowed every hot-host
    # candidate and the bench's designed skew never reached politeness
    # (discovered round 4: the top host had ~2.6k rows like everyone else).
    # Hash parity is orthogonal to hotness, so ~half the hot host survives
    # the anti-join and the hot-host politeness window is actually exercised.
    seen_keys = with_canonical(
        cand_src.filter(F.pmod(F.xxhash64(F.col("url")), F.lit(2)) == 0)
    ).select("url_hash", "canon_url")
    seen_keys.repartition(2 * CPUS).write.mode("overwrite").parquet(
        os.path.join(base, "seen")
    )
    # SPARK_GRAFT_SEEN_BASE=1: also land the seen set as the compacted
    # bucketed base (CheckpointStore.compact_seen output shape) — the
    # steady-state store layout of a long crawl. Like the Bloom build,
    # compaction is background maintenance paid once per K rounds, so it
    # sits outside the timed round. Default OFF for the
    # headline: at bench scale (3M seen keys, single node) the exchange it
    # removes is a page-cache memcpy while the bucketed join surrenders
    # AQE's runtime re-planning — measured fastest-ever at 4 cores but
    # ~40% slower at 16+ (BENCH/BASELINE.md session P). Its regime is the
    # network-bound cluster at 10^10 seen keys, where the avoided exchange
    # is ~1 TB/round; that property is pinned structurally by the
    # no-exchange plan guard instead.
    if os.environ.get("SPARK_GRAFT_SEEN_BASE", "0") == "1":
        buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
        spark.sql("DROP TABLE IF EXISTS wbx_bench_seen_base")
        (
            seen_keys.repartition(buckets, F.col("url_hash"), F.col("canon_url"))
            .write.mode("overwrite")
            .bucketBy(buckets, "url_hash", "canon_url")
            .sortBy("url_hash", "canon_url")
            .option("path", os.path.join(base, "seen_base"))
            .saveAsTable("wbx_bench_seen_base")
        )
    return base


def bench_frontier(spark, base: str) -> tuple[float, int, int]:
    """One timed crawl round — exactly the engine's work: canonicalize →
    dedup → seen anti-join → robots → politeness → deterministic global
    rank."""
    from wbx.frontier import SeenSet, build_seen_bloom, crawl_round, release_rank_caches

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
    n_in = cand.count()  # warm the scan; not part of the timed round
    # SPARK_GRAFT_BLOOM=1 routes the round through the seen-sketch prefilter
    # (bit-identical output; the sketch is built outside the timer because
    # run_crawl maintains it incrementally). Default off for the headline:
    # the sketch pays in the 10^10-seen regime where it prunes the seen-side
    # probe; at bench scale (3M seen keys) the map-side Arrow check costs
    # more than the anti-join it saves — measured, see BENCH/BASELINE.md.
    # The sketch covers the FULL seen set, base keys included: built from
    # the recent side alone it would miss the base, and the round would
    # schedule seen URLs.
    use_bloom = os.environ.get("SPARK_GRAFT_BLOOM", "0") == "1"
    bloom = None
    if use_bloom:
        bloom = build_seen_bloom(seen, partitions=64).persist()
        bloom.count()
    # compacted-store mode: membership confirms against the bucketed base
    # (zero-exchange join side; see wbx.frontier.filter_unseen_split) with
    # an empty recent-delta side — the steady-state shape of a crawl that
    # compacts every K rounds. Output is bit-identical (split parity tests).
    seen_base = None
    if os.environ.get("SPARK_GRAFT_SEEN_BASE", "0") == "1":
        seen_base = spark.table("wbx_bench_seen_base")
        seen = seen.limit(0)
    t0 = time.time()
    out = crawl_round(
        cand, SeenSet(seen, seen_base, bloom), hosts, robots, default_budget=500
    )
    n_sched = out.count()
    dt = time.time() - t0
    release_rank_caches()
    if bloom is not None:
        bloom.unpersist()
    return dt, n_in, n_sched


def materialize_warc_corpus(spark) -> str:
    """Synthesize the archive corpus ONCE per bench process and land it as
    parquet — on a real cluster the archives sit in object storage; the
    engine's job (and the timed region) is scan + parse + extract, not
    fixture generation. The fixed file count keeps the input byte-identical
    across parallelism levels."""
    import tempfile

    from pyspark.sql import functions as F

    from wbx.fixtures import synth_warc_files

    n_files = int(os.environ.get("SPARK_GRAFT_PAGE_FILES", str(4 * CPUS)))
    docs = _read(spark, "documents").select("doc_id", "text")
    amp = docs.select(
        "text",
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(AMPLIFY_PAGES - 1))).alias("k"),
    ).select("text", (F.col("doc_id") * AMPLIFY_PAGES + F.col("k")).alias("doc_id"))
    files = synth_warc_files(amp, n_files=n_files, prefix="bench")
    path = os.path.join(tempfile.mkdtemp(prefix="wbx-bench-warc-"), "archives")
    files.repartition(n_files, "source_file").write.mode("overwrite").parquet(path)
    return path


def bench_warc_parse(spark, corpus_path: str) -> tuple[float, int]:
    """Scan + byte-exact text extraction via the fused kernel
    (wbx.warcio.scan_files_to_text): one Python stage, payload bytes never
    cross the Arrow boundary. Parity with the two-stage general path is
    pinned by tests/test_warcio.py::TestFusedTextScan."""
    from pyspark.sql import functions as F

    from wbx.warcio import scan_files_to_text

    files = spark.read.parquet(corpus_path)
    files.count()  # warm the page cache; scan itself is the timed region
    t0 = time.time()
    n = (
        scan_files_to_text(files)
        .filter(F.col("text").isNotNull())
        .count()
    )
    dt = time.time() - t0
    return dt, n


def main() -> None:
    spark = get_session()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    qtimes: dict[str, float] = {}
    throughput: dict[str, float] = {}

    reps = int(os.environ.get("SPARK_GRAFT_REPS", "2"))
    jobs = os.environ.get("SPARK_GRAFT_JOBS", "parse,frontier").split(",")

    import shutil

    # headline 1: WARC scan + byte-exact text extraction. Measured FIRST:
    # the frontier round leaves GC/cache debris in the shared local JVM that
    # depresses a subsequent Python-kernel job by ~4× (measured). Inputs are
    # materialized once per process; reps time only the engine work and the
    # min is kept (host CPU-steal noise + first-rep JIT warmup).
    if "parse" in jobs:
        corpus = materialize_warc_corpus(spark)
        runs = []
        for _ in range(reps):
            runs.append(bench_warc_parse(spark, corpus))
            spark.catalog.clearCache()
        shutil.rmtree(os.path.dirname(corpus), ignore_errors=True)
        dt, n_pages = min(runs, key=lambda r: r[0])
        qtimes["warc_parse"] = round(dt, 3)
        throughput["pages_parsed_per_sec"] = round(n_pages / dt)
        throughput["pages_parsed"] = n_pages

    # headline 2: frontier round
    if "frontier" in jobs:
        fbase = materialize_frontier_inputs(spark)
        runs = []
        for _ in range(reps):
            runs.append(bench_frontier(spark, fbase))
            spark.catalog.clearCache()
        shutil.rmtree(fbase, ignore_errors=True)
        dt, n_in, n_sched = min(runs, key=lambda r: r[0])
        qtimes["frontier_round"] = round(dt, 3)
        throughput["frontier_urls_per_sec"] = round(n_in / dt)
        throughput["frontier_candidates"] = n_in
        throughput["frontier_scheduled"] = n_sched

    # operator suite at sf scale (each is count-terminated)
    qs = entry.queries()
    suite = [] if os.environ.get("SPARK_GRAFT_SUITE", "1") == "0" else [
        "j1_match_pairs",
        "j2_compare_headers",
        # r4 registry consolidation (driver caps correctness at 50 queries):
        # dedup_exact -> dedup_exact_all (adds the embeddings branch);
        # text_fingerprint + text_lang_id -> text_doc_metrics (one wide scan)
        "dedup_exact_all",
        "dedup_minhash_pairs",
        "text_doc_metrics",
        "sim_brute_topk",
        "frontier_unseen",
        "text_repetition",
        "dedup_paragraphs",
    ]
    for name in suite:
        # min-of-reps like the headline jobs: a single execution conflates
        # Python-worker/JIT warmup and host CPU-steal windows (measured 3-6×
        # first-run inflation) with steady-state throughput
        times = []
        for _ in range(reps):
            t0 = time.time()
            qs[name](spark, SF_DIR).count()
            times.append(time.time() - t0)
            spark.catalog.clearCache()
        qtimes[name] = round(min(times), 3)

    total = round(sum(qtimes.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    print(
        json.dumps(
            {
                "metric": (
                    "headline suite wall seconds (frontier "
                    f"{throughput.get('frontier_candidates', 0) / 1e6:g}M URLs"
                    f" + {throughput.get('pages_parsed', 0) // 1000}k-page WARC"
                    " parse + operators)"
                ),
                "value": total,
                "unit": "sec",
                "queries": qtimes,
                "sf": sf_val,
                "cpus": CPUS,
                "throughput": throughput,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
