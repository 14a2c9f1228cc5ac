"""Physical-plan regression guards: the 100-TB properties that correctness
tests can't see. Each test pins a plan SHAPE — predicate/projection pushdown
reaching the parquet scan, intended broadcast choices, and the absence of
accidental cartesian products — so an innocent-looking refactor that
degrades the plan fails CI, not the cluster."""

from __future__ import annotations

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def plan_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def _docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


class TestScanPushdown:
    def test_filter_pushed_to_parquet(self, spark):
        df = _docs(spark).filter(F.col("doc_id") < 10).select("doc_id")
        plan = plan_str(df)
        # (no inferred IsNotNull: constraint propagation is off, session.py)
        pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
        assert "LessThan(doc_id,10)" in pushed

    def test_column_pruned_read_schema(self, spark):
        df = _docs(spark).select("doc_id")
        plan = plan_str(df)
        # the scan must read ONLY the projected column, not text/source/etc.
        read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
        assert "doc_id" in read and "text" not in read


class TestWarcScanKernel:
    """Every WARC scan — whole-file, split, index and streaming — runs as
    one mapInArrow kernel; no pandas copy of the scan may come back."""

    @pytest.mark.parametrize(
        "scan",
        [
            "scan_files_to_records",
            "scan_files_to_text",
            "scan_files_to_unparsable",
            "scan_files_to_diagnostics",
            "scan_splits_to_records",
            "scan_splits_to_text",
            "scan_splits_to_unparsable",
            "scan_splits_to_diagnostics",
            "index_gzip_splits",
            "stream_file_records",
            "stream_file_text",
            "stream_split_text",
        ],
    )
    def test_scan_is_map_in_arrow(self, spark, tmp_path, scan):
        from wbx import streaming, warcio
        from wbx.schema import ARCHIVE_SPLITS

        if scan.startswith("stream_"):
            df = getattr(streaming, scan)(spark, str(tmp_path))
        elif scan.startswith("scan_splits_"):
            df = getattr(warcio, scan)(spark.createDataFrame([], ARCHIVE_SPLITS))
        else:
            files = spark.createDataFrame([], "source_file string, content binary")
            df = getattr(warcio, scan)(files)
        plan = plan_str(df)
        assert "MapInArrow" in plan and "MapInPandas" not in plan


class TestJoinStrategies:
    def test_brute_force_topk_broadcasts_query_side(self, spark):
        from wbx import simsearch

        emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        queries = emb.filter("vec_id < 4").selectExpr(
            "vec_id AS query_id", "embedding"
        )
        plan = plan_str(simsearch.brute_force_topk(emb, queries, k=3))
        # the corpus side must NOT shuffle: query side is broadcast
        assert "BroadcastNestedLoopJoin" in plan
        assert "CartesianProduct" not in plan

    def test_lsh_pairs_is_equi_join(self, spark):
        from wbx import textops

        docs = _docs(spark).limit(50)
        sigs = textops.minhash_signatures(docs)
        plan = plan_str(textops.minhash_lsh_pairs(sigs))
        # banding must produce a hash-partitioned equi-join on the bucket
        # keys — never a cartesian/BNLJ explosion
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_frontier_unseen_no_cartesian(self, spark):
        import __spark_entry__ as entry

        plan = plan_str(entry.queries()["frontier_unseen"](spark, SF_DIR))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestAggregates:
    def test_minhash_signatures_per_row_no_exchange(self, spark):
        from pyspark.sql import functions as F

        from wbx import textops

        # r6: document signatures are pure per-row Column algebra — a
        # shingle row set never leaves its document row, so the plan must
        # have NO exchange and NO aggregation at all
        plan = plan_str(textops.minhash_signatures(_docs(spark)))
        assert "Exchange" not in plan
        assert "HashAggregate" not in plan

    def test_minhash_signatures_items_partial_aggregate(self, spark):
        from pyspark.sql import functions as F

        from wbx import textops

        # the exploded-items form (mirror digests etc.) keeps the 64-way
        # map-side-combinable min: partial_min before one exchange of 64
        # longs per id
        items = _docs(spark).select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        plan = plan_str(
            textops.minhash_signatures_items(items, "doc_id", "w")
        )
        assert "partial_min" in plan
        assert plan.count("Exchange") >= 1

    def test_summarize_aggregates_partial(self, spark):
        from wbx import analytics

        counts = analytics.count_by_type(
            _docs(spark).selectExpr("CAST(doc_id AS STRING) AS warc_type")
        )
        plan = plan_str(counts)
        assert "partial_count" in plan


class TestJvmOnlyExpressions:
    def test_textops_stay_jvm_side(self, spark):
        """lang_id/quality/fingerprint/bpe tokens must compile to pure
        Column expressions — no Python workers anywhere in the plan.
        (Higher-order lambdas like reduce/filter are JVM-interpreted but
        codegen-ineligible, so the assertion is the absence of Python eval
        nodes, plus a codegen'd scan.)"""
        from wbx import textops

        df = _docs(spark).select(
            textops.lang_id(F.col("text")),
            textops.quality_score(F.col("text")),
            textops.fingerprint(F.col("text")),
            textops.bpe_token_count(F.col("text")),
        )
        plan = plan_str(df, mode="simple")
        for py_node in ("ArrowEvalPython", "BatchEvalPython", "PythonUDF", "MapInPandas"):
            assert py_node not in plan
        assert "*(1)" in plan  # scan stage is whole-stage-codegen'd

    def test_canonicalize_plan_size_bounded(self, spark):
        """Guards the inline-composition blowup: substituting the ~2k-node
        canonicalize tree into url_host's 8 references produced a 4 MB
        analyzed plan and ~18s of driver-side Catalyst. The staged query
        must stay orders of magnitude below that."""
        import __spark_entry__ as entry

        df = entry.queries()["url_canonicalize"](spark, SF_DIR)
        assert len(df._jdf.queryExecution().analyzed().toString()) < 500_000

    def test_frontier_canonicalize_jvm_side(self, spark):
        """URL canonicalization + hashing (the per-URL hot path at 10^10
        rows) must not fall back to Python."""
        from wbx.frontier import with_canonical

        urls = _docs(spark).selectExpr(
            "concat('HTTP://Host', doc_id % 7, '.Example.COM:80/p/', doc_id) AS url"
        )
        plan = plan_str(with_canonical(urls.select("url")), mode="simple")
        for py_node in ("ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
            assert py_node not in plan


class TestDedupExchangeCarriesNoText:
    def test_dedup_exact_shuffles_no_text(self, spark):
        """Exact dedup must move (digest, id) through its exchanges, never
        the document text (the verdict-r2 anti-pattern: a window over md5
        shuffled full rows). Inspect the FINAL adaptive plan — AQE
        broadcasts the survivor-id side, leaving the probe side exchange-free."""
        from wbx import textops

        out = textops.dedup_exact(_docs(spark))
        out.collect()  # finalize AQE so join strategies are real
        plan = plan_str(out)
        assert "isFinalPlan=true" in plan
        blocks = [
            b
            for b in plan.split("\n\n")
            if b.splitlines() and ") Exchange" in b.splitlines()[0]
        ]
        for b in blocks:
            assert "text#" not in b, b

    def test_ivf_candidate_exchange_carries_no_vectors(self, spark):
        """ivf_topk's candidate generation (list_id equi-join + candidate
        dedup) must shuffle only (list_id, id) / (query_id, id) — vectors
        are fetched back by id AFTER dedup, so each embedding crosses the
        wire at most once per side (the verdict-r3 anti-pattern: _qvec and
        _cvec riding the list_id join and the dropDuplicates exchange)."""
        from wbx import simsearch

        emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
        queries = emb.filter("vec_id < 4").selectExpr(
            "vec_id AS query_id", "embedding"
        )
        out = simsearch.ivf_topk(emb, queries, k=3, n_centroids=4, nprobe=2)
        out.collect()
        plan = plan_str(out)
        blocks = [
            b
            for b in plan.split("\n\n")
            if b.splitlines() and ") Exchange" in b.splitlines()[0]
        ]
        # every exchange partitioned on the candidate keys is vector-free
        for b in blocks:
            head = b.splitlines()[0]
            if "list_id#" in head:
                assert "_cvec#" not in b and "_qvec#" not in b, b
                assert "embedding#" not in b, b
        # late fetch: each side's vector crosses at most one exchange
        assert sum("_cvec#" in b.splitlines()[0] for b in blocks) <= 1
        assert sum("_qvec#" in b.splitlines()[0] for b in blocks) <= 1

    def test_minhash_precollapse_shuffles_no_text(self, spark):
        from wbx import textops
        from pyspark.sql import functions as F

        docs = _docs(spark).filter(F.col("doc_id") < 50)
        out = textops.dedup_minhash(docs, threshold=0.5)
        out.collect()
        plan = plan_str(out)
        # every hash exchange before the shingle explode must be text-free;
        # downstream exchanges carry only ids/hashes by construction
        blocks = [
            b
            for b in plan.split("\n\n")
            if b.splitlines() and ") Exchange" in b.splitlines()[0]
        ]
        for b in blocks:
            assert "text#" not in b, b


def _crawl_fixture(spark):
    cand = spark.createDataFrame(
        [(f"http://H{i % 5}.com:80/p{i}#x", float(i)) for i in range(60)],
        "url string, priority double",
    )
    seen = spark.createDataFrame([], "url_hash long, canon_url string")
    hosts = spark.createDataFrame([("h1.com", 3)], "host string, budget int")
    return cand, seen, hosts


class TestFrontierCodegen:
    def test_crawl_round_compiles_under_forced_codegen(self, spark):
        """The frontier's hot stage must stay inside whole-stage codegen:
        with fallback disabled, a 64 KB-method overflow (the r2 Janino
        regression: constraint propagation inlining canonicalize into an
        inferred IsNotNull filter) fails loudly here instead of silently
        running interpreted on the cluster."""
        from wbx import frontier

        confs = {
            "spark.sql.codegen.fallback": "false",
            "spark.sql.codegen.factoryMode": "CODEGEN_ONLY",
        }
        saved = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            cand, seen, hosts = _crawl_fixture(spark)
            got = frontier.crawl_round(cand, seen, hosts, batch_size=20).collect()
            assert len(got) == 20
        finally:
            frontier.release_rank_caches()
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    def test_constraint_propagation_disabled(self, spark):
        # the session factory must keep this off (see wbx/session.py) —
        # re-enabling it silently reintroduces the interpreted fallback
        assert spark.conf.get("spark.sql.constraintPropagation.enabled") == "false"

    def test_codegen_cache_sized_for_working_set(self, spark):
        # static conf set by the session factory (see wbx/session.py): at
        # Spark's default of 100 a warm archive-query pass recompiled 25-45
        # classes and a run_crawl round 40-85
        assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"

    def test_driver_jvm_runs_raised_c2_thresholds(self, spark):
        # JVM option set by the session factory (see wbx/session.py): at
        # HotSpot's default thresholds a repeated crawl_round kept paying
        # 0.5-2.5 s of C2 compile CPU per op for 10+ warm repeats
        mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        args = set(mx.getInputArguments())
        assert {
            "-XX:Tier4InvocationThreshold=50000",
            "-XX:Tier4MinInvocationThreshold=6000",
            "-XX:Tier4CompileThreshold=150000",
        } <= args

    def test_driver_heap_defaults_to_half_of_host_memory(self, monkeypatch):
        from wbx.session import driver_memory

        monkeypatch.delenv("WBX_DRIVER_MEMORY", raising=False)
        with open("/proc/meminfo") as f:
            kib = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        assert driver_memory() == f"{kib // 2048}m"
        monkeypatch.setenv("WBX_DRIVER_MEMORY", "3g")
        assert driver_memory() == "3g"


class TestCodegenCacheReuse:
    """A warm repeat of a query must reuse Spark's generated classes: each
    recompile costs Janino, class loading and a fresh JIT warm-up. Counts
    come from Spark's codegen metrics (one tick per compiled class)."""

    @staticmethod
    def _compiles(spark) -> int:
        cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        return cm.METRIC_COMPILATION_TIME().getCount()

    def _second_pass_compiles(self, spark, run) -> int:
        run()
        before = self._compiles(spark)
        run()
        return self._compiles(spark) - before

    def test_archive_query_surface_second_pass_compiles_nothing(self, spark, tmp_path):
        from wbx import warcio
        from wbx.analytics import cdx_index, compare_headers, match_pairs, summarize
        from wbx.fixtures import synth_warc_files_rich

        docs = _docs(spark).limit(40)
        revised = docs.filter(F.col("doc_id") % 10 != 0).withColumn(
            "text",
            F.when(
                F.col("doc_id") % 10 == 1, F.concat("text", F.lit(" Revised."))
            ).otherwise(F.col("text")),
        )
        files_a = synth_warc_files_rich(docs, n_files=4).cache()
        files_b = synth_warc_files_rich(revised, n_files=4).cache()
        columns = [
            "source_file", "member_start", "member_end", "record_start",
            "record_end", "headers", "warc_type", "target_uri", "warc_date",
            "content_type", "content_block", "http_status", "http_content_type",
        ]
        outs = []

        def run():
            out = warcio.scan_files_to_text(files_a).filter(
                F.col("warc_type") == "response"
            ).select("target_uri", "text").collect()
            recs_a = warcio.scan_files_to_records(files_a, columns=columns).persist()
            recs_b = warcio.scan_files_to_records(files_b, columns=columns).persist()
            out += [v.collect() for v in summarize(recs_a).values()]
            out += summarize(recs_b)["record_count"].collect()
            out += match_pairs(recs_a).groupBy("pair_type").count().collect()
            out += compare_headers(recs_a, recs_b).groupBy("status").count().collect()
            path = str(tmp_path / f"cdx{len(outs)}")
            cdx_index(recs_a).write.parquet(path)
            out.append(spark.read.parquet(path).count())
            recs_a.unpersist()
            recs_b.unpersist()
            outs.append(out)

        try:
            assert self._second_pass_compiles(spark, run) == 0
        finally:
            files_a.unpersist()
            files_b.unpersist()
        assert outs[0] == outs[1]

    def test_crawl_round_second_call_compiles_nothing(self, spark):
        from wbx import frontier

        cand, seen, hosts = _crawl_fixture(spark)
        try:
            assert self._second_pass_compiles(
                spark,
                lambda: frontier.crawl_round(cand, seen, hosts, batch_size=20).collect(),
            ) == 0
        finally:
            frontier.release_rank_caches()


class TestRankCacheRegistry:
    def test_repeated_rounds_keep_reading_the_rank_cache(self, spark):
        """Identical crawl_round calls share ONE CacheManager entry for the
        rank input; past the registry's FIFO cap, evicting an older twin
        must not unpersist the entry the live round reads (which made every
        later round recompute canonicalize → anti-join → robots →
        politeness once per consumer of the rank input)."""
        from wbx import frontier

        cand, seen, hosts = _crawl_fixture(spark)
        runs = []
        try:
            for _ in range(frontier._RANK_CACHE_CAP + 2):
                batch = frontier.crawl_round(cand, seen, hosts, batch_size=20)
                runs.append(sorted(map(tuple, batch.collect())))
            assert "InMemoryRelation" in plan_str(batch, "extended")
            assert len(frontier._RANK_CACHES) < frontier._RANK_CACHE_CAP
        finally:
            frontier.release_rank_caches()
        assert all(r == runs[0] for r in runs)
        assert len(runs[0]) == 20


class TestRobotsPolitenessJoins:
    def _fixture(self, spark):
        from wbx import frontier

        cand = frontier.with_canonical(
            spark.createDataFrame(
                [(f"http://h{i % 5}.com/p{i}", float(i)) for i in range(40)],
                "url string, priority double",
            )
        )
        robots = spark.createDataFrame(
            [("h1.com", "deny", "/p1")], "host string, rule_type string, path_prefix string"
        )
        hosts = spark.createDataFrame([("h1.com", 2)], "host string, budget int")
        return cand, robots, hosts

    def test_unhinted_plan_correct_and_unforced(self, spark):
        """The robots and budget joins must not FORCE a broadcast (at crawl
        scale these tables are ~#hosts rows and a forced hint OOMs); AQE may
        still pick one at runtime from actual sizes — what matters is that
        the logical plan carries no hint and the results are right."""
        from wbx import frontier

        cand, robots, hosts = self._fixture(spark)
        allowed = frontier.apply_robots(cand, robots)
        polite = frontier.apply_politeness(cand, hosts)
        for df in (allowed, polite):
            assert "ResolvedHint" not in df._jdf.queryExecution().analyzed().toString()
        urls = [r["canon_url"] for r in cand.collect()]
        assert sorted(r["canon_url"] for r in allowed.collect()) == sorted(
            u for u in urls if not u.startswith("http://h1.com/p1")
        )
        per_host = dict(polite.groupBy("host").count().collect())
        assert per_host == {f"h{i}.com": 2 if i == 1 else 8 for i in range(5)}


class TestSessionizePlan:
    def test_single_exchange(self, spark):
        """sessionize must plan ONE shuffle: the window's user_id exchange
        also satisfies the per-session rollup's clustered distribution
        (co-location by a key prefix), so a second exchange appearing here
        means the rollup keys or window partitioning drifted."""
        import datetime as dt
        import re

        from wbx import analytics

        events = spark.createDataFrame(
            [
                (i, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i * 700),
                 i % 3, "view", float(i), None)
                for i in range(30)
            ],
            "event_id long, ts timestamp_ntz, user_id long, event_type string,"
            " value double, props string",
        )
        plan = plan_str(analytics.sessionize(events))
        ex = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        assert len(ex) == 1, plan
        assert "user_id#" in ex[0] and "session_idx" not in ex[0], ex


def _ancestors(plan: str, needle: str) -> list[str]:
    """The lines above the first plan-tree node whose line contains
    ``needle``, nearest first: each is the previous line at a smaller
    indent than the one before it."""
    lines = plan.splitlines()
    depth = [len(ln) - len(ln.lstrip(" :+-")) for ln in lines]
    i = next(k for k, ln in enumerate(lines) if needle in ln)
    out = []
    for k in range(i - 1, -1, -1):
        if depth[k] < depth[i]:
            out.append(lines[k])
            i = k
    return out


class TestBucketedSeenBaseNoExchange:
    """The 10^10-URL membership plan: a seen base compacted as a bucketed
    table on BOTH join keys (CheckpointStore.compact_seen) must anti-join
    with NO exchange on the base side — zero bytes of the
    cumulative seen set cross the wire — and the candidate side must reuse
    its dedup groupBy exchange (same keys, same partition count), so the
    only exchange of the O(batch) candidate rows is the dedup one
    (frontier.filter_unseen_split)."""

    def test_base_side_joins_without_exchange(self, spark, tmp_path):
        from wbx import frontier
        from wbx.checkpoint import CheckpointStore

        seen = (
            spark.range(0, 20000)
            .selectExpr("concat('http://h', id % 40, '.com/p/', id) AS url")
        )
        seen = frontier.with_canonical(
            seen.withColumn("priority", F.lit(1.0))
        ).select("url_hash", "canon_url")
        store = CheckpointStore(str(tmp_path / "cp"))
        store.commit(1, {"seen_delta": seen})
        buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
        marker = store.compact_seen(spark, buckets=buckets)
        assert marker["buckets"] == buckets
        seen_set = store.load_seen_set(spark)

        cand = (
            spark.range(0, 9000, 2)
            .selectExpr(
                "concat('http://h', id % 40, '.com/p/', id) AS url",
                "1.0 AS priority",
            )
        )
        # the crawl_round shape: canonicalize -> dedup groupBy on the join
        # keys -> membership anti-join
        deduped = (
            frontier.with_canonical(cand)
            .groupBy("url_hash", "canon_url")
            .agg(F.max("priority").alias("priority"))
        )
        prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = frontier.filter_unseen_split(
                deduped, seen_set.base, seen_set.recent
            )
            out.count()
            plan = out._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
        # the base scan participates via its bucketing, not a shuffle: a
        # planner that had to shuffle it reports "Bucketed: false
        # (disabled by query planner)" instead
        assert "Bucketed: true" in plan
        # with broadcasts off, two hash exchanges: the candidate dedup
        # shuffle, which both anti-joins reuse, and the recent deltas'.
        # Nothing above the base scan or the dedup aggregate is an
        # exchange: a re-shuffle of the base or of the candidates is the
        # at-scale regression this pins.
        assert plan.count("Exchange hashpartitioning") == 2, plan
        for node in ("Bucketed: true", "HashAggregate"):
            above = _ancestors(plan, node)
            assert not any("Exchange" in ln for ln in above), (node, plan)


class TestRound4Plans:
    def test_cdx_index_single_range_sort(self, spark):
        """cdx_index's only exchange is the final range partitioning (the
        distributed sorted-.cdx); the SURT/timestamp/digest algebra must
        stay per-row."""
        from wbx import warcio
        from wbx.analytics import cdx_index
        from wbx.fixtures import synth_warc_files_rich

        files = synth_warc_files_rich(_docs(spark).limit(20), n_files=2)
        plan = plan_str(
            cdx_index(warcio.scan_files_to_records(files)), "simple"
        )
        # global sort on the index key; AQE materializes its range exchange
        # at runtime, so the guard is: no HASH shuffle anywhere (the
        # SURT/digest algebra is per-row) and no Python in the projection
        assert "Sort [urlkey" in plan and ", true, " in plan
        assert "hashpartitioning" not in plan
        assert "BatchEvalPython" not in plan

    def test_trap_detection_plan_stays_small(self, spark):
        """Regression guard for the staged-kernel predicate-pushdown
        blowup (wbx/graph.py host_edges note): a filter on a staged
        canonicalization OUTPUT multiplies the expression through every
        staging level (observed 6.8 MB plan on 2 rows). The raw-column
        prefilter keeps the whole plan small."""
        from wbx.frontier import detect_url_traps

        pages = spark.createDataFrame(
            [("http://a.example/x/1?p=2",), ("junk",)], "canon_url string"
        )
        plan = plan_str(detect_url_traps(pages, min_urls=1), "simple")
        assert len(plan) < 100_000

    def test_host_edges_plan_stays_small(self, spark):
        from wbx import graph

        pages = spark.createDataFrame(
            [("http://a.example/", b'<a href="http://b.example/">x</a>')],
            "url string, html binary",
        )
        plan = plan_str(graph.host_edges(pages), "simple")
        assert len(plan) < 100_000

    def test_sampling_is_zero_exchange_scan_filter(self, spark):
        from wbx import sampling

        df = _docs(spark).select("doc_id")
        plan = plan_str(
            sampling.hash_sample(df, 0.5, key_col="doc_id"), "simple"
        )
        assert "Exchange" not in plan and "xxhash64" in plan


class TestRound4OperatorPlans:
    """Structural scale guards for the round-4 additions: per-row ops stay
    exchange-free and JVM-side; aggregating ops shuffle exactly once."""

    def test_chunk_documents_no_exchange(self, spark):
        from wbx import textops

        plan = plan_str(
            textops.chunk_documents(_docs(spark), 64, 8), "simple"
        )
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan

    def test_anchor_links_no_exchange_html_pruned(self, spark):
        from wbx import frontier

        pages = spark.createDataFrame(
            [("http://a.com/", b'<a href="/x">1</a>')],
            "url string, html binary",
        )
        df = frontier.extract_anchor_links(pages)
        plan = plan_str(df, "simple")
        assert "Exchange" not in plan
        # the explode emits (url, tag text) — html is pruned before the
        # Generate, so downstream operators never touch page bytes
        formatted = plan_str(df, "formatted")
        gen = [
            ln
            for ln in formatted.splitlines()
            if ln.startswith("Arguments: explode")
        ]
        assert gen and all("html" not in ln for ln in gen)

    def test_anchor_text_summary_volume_agg_stays_hash(self, spark):
        # the volume-bearing reduction (raw anchors -> per-(link,text)
        # counts) must be a HashAggregate with map-side partial counting;
        # the string-key top pick on the reduced set is allowed to be a
        # (map-side-combinable) SortAggregate; html never enters an
        # exchange
        from wbx import frontier

        pages = spark.createDataFrame(
            [("http://e.com/", b'<a href="/x">label</a>')],
            "url string, html binary",
        )
        plan = plan_str(
            frontier.anchor_text_summary(frontier.extract_anchor_texts(pages)),
            "simple",
        )
        lines = plan.splitlines()
        # the volume reduction is the aggregate KEYED on (link, text)
        count_aggs = [
            ln
            for ln in lines
            if "Aggregate" in ln and "keys=[link" in ln and "anchor_text" in ln
        ]
        assert count_aggs and all("HashAggregate" in ln for ln in count_aggs)
        assert any("partial_count" in ln for ln in count_aggs)
        assert any("partial_min" in ln for ln in lines)  # combinable pick
        for ln in lines:
            if "Exchange" in ln:
                assert "html" not in ln

    def test_retry_candidates_single_partial_agg_shuffle(self, spark):
        from wbx import frontier

        log = spark.createDataFrame(
            [("u", "h", 500, 1)], "canon_url string, host string, status int, round int"
        )
        plan = plan_str(frontier.retry_candidates(log), "simple")
        assert plan.count("Exchange") == 1
        assert plan.count("HashAggregate") == 2  # partial + final

    def test_schedule_with_delays_single_window_shuffle(self, spark):
        from wbx import frontier

        batch = spark.createDataFrame(
            [("u", "h", 1)], "canon_url string, host string, fetch_order int"
        )
        delays = spark.createDataFrame(
            [("h", 1.0)], "host string, crawl_delay double"
        )
        plan = plan_str(
            frontier.schedule_with_delays(batch, delays), "simple"
        )
        # the BATCH is exchanged once: the join keys on host, so the host
        # window reuses that partitioning instead of adding an exchange;
        # the only other exchange is the host-cardinality delays table
        # (AQE turns it into a broadcast at runtime)
        assert plan.count("Exchange hashpartitioning") == 2
        assert "hashpartitioning(_dhost" in plan
        assert plan.count("Window") == 1

    def test_sitemap_entries_no_exchange(self, spark):
        from wbx import frontier

        sm = spark.createDataFrame(
            [("s", b"<url><loc>x</loc></url>")], "sitemap_url string, body binary"
        )
        plan = plan_str(frontier.parse_sitemap_entries(sm), "simple")
        assert "Exchange" not in plan

    def test_decode_payload_jvm_side(self, spark):
        from pyspark.sql import functions as F

        from wbx import extract as ex

        df = spark.createDataFrame([(b"x", "utf-8")], "body binary, cs string")
        plan = plan_str(
            df.select(ex.decode_payload(F.col("body"), F.col("cs"))), "simple"
        )
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestPackShardsPlan:
    def test_text_never_shuffles_and_readschema_pruned(self, spark):
        """pack_shards is metadata-only after the scan: text is consumed by
        the token-count projection, so the parquet ReadSchema carries
        (doc_id, text) but every Exchange moves only (id, count, bucket)
        longs — the 100-TB property that makes corpus-wide packing cheap."""
        from wbx import textops
        from wbx.frontier import release_rank_caches

        df = textops.pack_shards(_docs(spark), budget_tokens=5000)
        plan = plan_str(df, "formatted")
        exchanges = [
            ln for ln in plan.splitlines() if "Arguments: hashpartitioning" in ln
        ]
        assert exchanges, "expected the bucket exchange"
        assert all("text" not in ln for ln in exchanges)
        release_rank_caches()


class TestCurateFlagsPlan:
    def test_single_join_gates_fused(self, spark):
        """curate_flags (no benchmark): the rule gates and the classifier
        are per-row expressions fused into the scan — the ONLY join in the
        plan is exact-dedup survivorship, and no exchange carries text."""
        from wbx import textops

        plan = plan_str(textops.curate_flags(_docs(spark)), "simple")
        joins = [
            ln
            for ln in plan.splitlines()
            if "Join" in ln and "ReusedExchange" not in ln
        ]
        assert len(joins) == 1, joins
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        # final adaptive plan: AQE broadcasts the survivor-id side, so no
        # exchange block carries document text (dedup_exact guard pattern)
        out = textops.curate_flags(_docs(spark))
        out.collect()
        final = plan_str(out)
        assert "isFinalPlan=true" in final
        blocks = [
            b
            for b in final.split("\n\n")
            if b.splitlines() and ") Exchange" in b.splitlines()[0]
        ]
        for b in blocks:
            assert "text#" not in b, b
