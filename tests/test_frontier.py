"""Frontier tests: canonicalization, seen-set (bloom = exact), robots,
politeness, deterministic scheduling, and crawl-round parity vs a
single-process oracle simulation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wbx import frontier


def urls_df(spark, urls, priority=1.0):
    return spark.createDataFrame(
        [(u, float(priority)) for u in urls], "url string, priority double"
    )


CANON_CASES = [
    ("HTTP://Example.COM/path", "http://example.com/path"),
    ("https://Example.com:443/x", "https://example.com/x"),
    ("http://example.com:80/x", "http://example.com/x"),
    ("http://example.com:8080/x", "http://example.com:8080/x"),
    ("http://example.com/path#frag", "http://example.com/path"),
    ("http://example.com", "http://example.com/"),
    ("http://example.com#f", "http://example.com/"),
    ("  http://example.com/x  ", "http://example.com/x"),
    ("http://example.com/Path?Q=Mixed#f", "http://example.com/Path?Q=Mixed"),
    ("http://user@EXAMPLE.com/x", "http://user@example.com/x"),
    ("https://example.com:443", "https://example.com/"),
    ("http://example.com/a?b=1#c=2", "http://example.com/a?b=1"),
    # whitespace between path and fragment: defrag must run before trim or
    # the output keeps a trailing space and is not a canonical fixed point
    ("http://example.com/a #frag", "http://example.com/a"),
    ("  spaced out #frag  ", "://spaced out"),
]


class TestCanonicalize:
    @pytest.mark.parametrize("raw,expected", CANON_CASES)
    def test_cases(self, spark, raw, expected):
        df = spark.createDataFrame([(raw,)], "url string")
        got = df.select(frontier.canonicalize_url(F.col("url")).alias("c")).collect()[0]["c"]
        assert got == expected

    def test_staged_form_equivalent_to_expression_form(self, spark):
        # with_canon_url (the codegen-safe multi-project pipeline) must be
        # semantically identical to the single-expression canonicalize_url
        urls = [c[0] for c in CANON_CASES] + [
            "http://user@Sub.Example.com:8080/a/b?q=1#frag",
            "HTTPS://X.COM:443/",
            "https://x.com:4433/",
            "  http://pad.com/x  ",
            "no scheme at all",
            "://already-marked",
            "ftp://files.example.com:21/pub",
            "",
        ]
        df = spark.createDataFrame([(u,) for u in urls], "url string").union(
            spark.createDataFrame([(None,)], "url string")
        )
        staged = {
            r["url"]: r["canon_url"]
            for r in frontier.with_canon_url(df).collect()
        }
        expr = {
            r["url"]: r["c"]
            for r in df.select(
                "url", frontier.canonicalize_url(F.col("url")).alias("c")
            ).collect()
        }
        assert staged == expr

    def test_host_and_path(self, spark):
        df = spark.createDataFrame(
            [("http://user@sub.example.com:8080/a/b?q=1",)], "url string"
        )
        row = df.select(
            frontier.url_host(F.col("url")).alias("h"),
            frontier.url_path(F.col("url")).alias("p"),
        ).collect()[0]
        assert row["h"] == "sub.example.com"
        assert row["p"] == "/a/b"

    def test_path_defaults_to_slash(self, spark):
        df = spark.createDataFrame([("http://example.com/",)], "url string")
        assert (
            df.select(frontier.url_path(F.col("url")).alias("p")).collect()[0]["p"]
            == "/"
        )

    def test_equivalent_urls_collapse(self, spark):
        variants = [
            "http://Example.com:80/x#a",
            "HTTP://example.COM/x",
            "http://example.com/x#b",
        ]
        canon = frontier.with_canonical(urls_df(spark, variants))
        assert canon.select("canon_url").distinct().count() == 1
        assert canon.select("url_hash").distinct().count() == 1


class TestSeenSet:
    def make_sets(self, spark, n=500, seen_mod=3):
        cand = frontier.with_canonical(
            urls_df(spark, [f"http://h{i % 37}.com/p{i}" for i in range(n)])
        )
        seen = cand.filter((F.col("url_hash") % seen_mod) == 0).select(
            "url_hash", "canon_url", F.lit(0).alias("fetched_round")
        )
        return cand, seen

    def test_exact_anti_join(self, spark):
        cand, seen = self.make_sets(spark)
        unseen = frontier.filter_unseen(cand, seen)
        assert unseen.count() == cand.count() - seen.count()
        assert unseen.join(seen, "url_hash", "left_semi").count() == 0

    def test_bloom_path_equals_exact_path(self, spark):
        cand, seen = self.make_sets(spark)
        bloom = frontier.build_seen_bloom(seen, partitions=8)
        via_bloom = sorted(
            r["canon_url"]
            for r in frontier.filter_unseen(
                cand, frontier.SeenSet(seen, sketch=bloom, partitions=8)
            ).collect()
        )
        exact = sorted(r["canon_url"] for r in frontier.filter_unseen(cand, seen).collect())
        assert via_bloom == exact

    def test_copartitioned_mode_bit_identical(self, spark, monkeypatch):
        """The scale-path filter distribution (shuffle join per hash range,
        no driver collect; forced by a zero broadcast threshold) must tag
        exactly like the broadcast leg (the exact-result contract of both
        legs is pinned by the auto-mode test)."""
        cand, seen = self.make_sets(spark)
        bloom = frontier.build_seen_bloom(seen, partitions=8)
        t_b = frontier.bloom_might_contain(cand, bloom, 8)
        monkeypatch.setattr(frontier, "_BLOOM_BROADCAST_MAX_BYTES", 0)
        t_c = frontier.bloom_might_contain(cand, bloom, 8)
        b = sorted((r["canon_url"], r["_maybe_seen"]) for r in t_b.collect())
        c = sorted((r["canon_url"], r["_maybe_seen"]) for r in t_c.collect())
        assert b == c

    def test_bloom_has_no_false_negatives(self, spark):
        cand, seen = self.make_sets(spark, n=1000)
        bloom = frontier.build_seen_bloom(seen, partitions=4)
        tagged = frontier.bloom_might_contain(cand, bloom, 4)
        # every actually-seen candidate must be flagged maybe_seen
        missed = (
            tagged.join(seen.select("url_hash"), "url_hash", "left_semi")
            .filter(~F.col("_maybe_seen"))
            .count()
        )
        assert missed == 0

    def test_empty_seen_set(self, spark):
        cand, _ = self.make_sets(spark, n=50)
        empty = spark.createDataFrame(
            [], "url_hash long, canon_url string, fetched_round int"
        )
        bloom = frontier.build_seen_bloom(empty, partitions=4)
        got = frontier.filter_unseen(
            cand, frontier.SeenSet(empty, sketch=bloom, partitions=4)
        )
        assert got.count() == 50

    def test_auto_mode_bit_identical_both_sides_of_threshold(self, spark):
        # auto = broadcast while the filters fit, copartition beyond; both
        # legs must agree with the exact anti-join
        cand, seen = self.make_sets(spark)
        bloom = frontier.build_seen_bloom(seen, partitions=8)
        exact = sorted(
            r["canon_url"] for r in frontier.filter_unseen(cand, seen).collect()
        )
        sketched = frontier.SeenSet(seen, sketch=bloom, partitions=8)
        via_auto = sorted(
            r["canon_url"] for r in frontier.filter_unseen(cand, sketched).collect()
        )
        assert via_auto == exact
        import wbx.frontier as fr

        saved = fr._BLOOM_BROADCAST_MAX_BYTES
        fr._BLOOM_BROADCAST_MAX_BYTES = 0  # force the copartition leg
        try:
            via_co = sorted(
                r["canon_url"]
                for r in frontier.filter_unseen(cand, sketched).collect()
            )
        finally:
            fr._BLOOM_BROADCAST_MAX_BYTES = saved
        assert via_co == exact

    def test_incremental_bloom_no_false_negatives(self, spark):
        # the crawl loop's maintained sketch: OR-in three disjoint deltas,
        # then every seen key must still tag maybe_seen (no false negatives
        # = the bit that makes the prefilter exact)
        cand, seen = self.make_sets(spark, n=600)
        bloom = frontier.empty_seen_bloom(spark)
        for part in range(3):
            delta = seen.filter(F.pmod(F.abs(F.col("url_hash")), F.lit(3)) == part)
            bloom = frontier.update_seen_bloom(bloom, delta, partitions=8, m=1 << 12)
        exact = sorted(
            r["canon_url"] for r in frontier.filter_unseen(cand, seen).collect()
        )
        sketched = frontier.SeenSet(seen, sketch=bloom, partitions=8)
        via = sorted(
            r["canon_url"] for r in frontier.filter_unseen(cand, sketched).collect()
        )
        assert via == exact
        # the same maintained sketch through the copartition leg, which
        # auto picks at scale: forced, it must filter and tag exactly alike
        import wbx.frontier as fr

        saved = fr._BLOOM_BROADCAST_MAX_BYTES
        fr._BLOOM_BROADCAST_MAX_BYTES = 0
        try:
            via_co = sorted(
                r["canon_url"]
                for r in frontier.filter_unseen(cand, sketched).collect()
            )
            t_c = frontier.bloom_might_contain(cand, bloom, 8)
        finally:
            fr._BLOOM_BROADCAST_MAX_BYTES = saved
        assert via_co == exact
        t_b = frontier.bloom_might_contain(cand, bloom, 8)
        b = sorted((r["canon_url"], r["_maybe_seen"]) for r in t_b.collect())
        c = sorted((r["canon_url"], r["_maybe_seen"]) for r in t_c.collect())
        assert b == c

    def test_incremental_bloom_untouched_partitions_pass_through(self, spark):
        _, seen = self.make_sets(spark, n=200)
        b1 = frontier.update_seen_bloom(
            frontier.empty_seen_bloom(spark), seen, partitions=8, m=1 << 12
        )
        empty_delta = spark.createDataFrame([], "url_hash long, canon_url string")
        b2 = frontier.update_seen_bloom(b1, empty_delta, partitions=8, m=1 << 12)
        a = sorted((r["bloom_part"], r["m"], tuple(r["words"])) for r in b1.collect())
        b = sorted((r["bloom_part"], r["m"], tuple(r["words"])) for r in b2.collect())
        assert a == b


class TestRobots:
    def test_longest_prefix_wins(self, spark):
        cand = frontier.with_canonical(
            urls_df(
                spark,
                [
                    "http://a.com/private/secret",
                    "http://a.com/private/ok/page",
                    "http://a.com/public",
                    "http://b.com/anything",
                ],
            )
        )
        robots = spark.createDataFrame(
            [
                ("a.com", "deny", "/private/"),
                ("a.com", "allow", "/private/ok/"),
                ("b.com", "deny", "/"),
            ],
            "host string, rule_type string, path_prefix string",
        )
        kept = sorted(
            r["canon_url"] for r in frontier.apply_robots(cand, robots).collect()
        )
        assert kept == ["http://a.com/private/ok/page", "http://a.com/public"]

    def test_no_rules_allows(self, spark):
        cand = frontier.with_canonical(urls_df(spark, ["http://x.com/a"]))
        robots = spark.createDataFrame(
            [], "host string, rule_type string, path_prefix string"
        )
        assert frontier.apply_robots(cand, robots).count() == 1


class TestPoliteness:
    def test_budget_caps_per_host(self, spark):
        urls = [f"http://hot.com/{i}" for i in range(20)] + [
            f"http://cold.com/{i}" for i in range(3)
        ]
        cand = frontier.with_canonical(urls_df(spark, urls))
        hosts = spark.createDataFrame(
            [("hot.com", 5)], "host string, budget int"
        )
        kept = frontier.apply_politeness(cand, hosts, default_budget=10)
        by_host = {
            r["host"]: r["n"]
            for r in kept.groupBy("host").agg(F.count("*").alias("n")).collect()
        }
        assert by_host == {"hot.com": 5, "cold.com": 3}

    def test_keeps_highest_priority(self, spark):
        rows = [(f"http://h.com/{i}", float(i)) for i in range(10)]
        cand = frontier.with_canonical(
            spark.createDataFrame(rows, "url string, priority double")
        )
        hosts = spark.createDataFrame([("h.com", 3)], "host string, budget int")
        kept = sorted(
            r["priority"]
            for r in frontier.apply_politeness(cand, hosts).collect()
        )
        assert kept == [7.0, 8.0, 9.0]


def crawl_oracle(urls_with_priority, seen_urls, budgets, default_budget=10, batch_size=None):
    """Single-process reference simulation of one crawl round (FIXTURES.md §8):
    canonicalize → dedup(max priority) → unseen → politeness → priority order."""
    from urllib.parse import urlsplit

    def canon(u):
        u = u.strip()
        u = u.split("#", 1)[0]
        s = urlsplit(u)
        scheme = s.scheme.lower()
        netloc = s.netloc.lower()
        if scheme == "http" and netloc.endswith(":80"):
            netloc = netloc[:-3]
        if scheme == "https" and netloc.endswith(":443"):
            netloc = netloc[:-4]
        path = s.path or "/"
        out = f"{scheme}://{netloc}{path}"
        if s.query:
            out += f"?{s.query}"
        return out

    best = {}
    for u, p in urls_with_priority:
        c = canon(u)
        if c not in best or p > best[c]:
            best[c] = p
    seen = {canon(u) for u in seen_urls}
    items = [(c, p) for c, p in best.items() if c not in seen]

    def host_of(c):
        h = c.split("://", 1)[1].split("/", 1)[0]
        h = h.rsplit("@", 1)[-1]
        return h.rsplit(":", 1)[0] if ":" in h and h.rsplit(":", 1)[1].isdigit() else h

    by_host = {}
    for c, p in sorted(items, key=lambda x: (-x[1], x[0])):
        by_host.setdefault(host_of(c), []).append((c, p))
    kept = []
    for h, lst in by_host.items():
        kept.extend(lst[: budgets.get(h, default_budget)])
    kept.sort(key=lambda x: (-x[1], x[0]))
    if batch_size is not None:
        kept = kept[:batch_size]
    return [c for c, _ in kept]


class TestCrawlRound:
    def fixture_urls(self):
        urls = []
        for i in range(300):
            host = "hot.example.com" if i % 3 == 0 else f"h{i % 23}.com"
            scheme = "HTTP" if i % 7 == 0 else "http"
            port = ":80" if i % 11 == 0 else ""
            frag = "#sec" if i % 5 == 0 else ""
            urls.append((f"{scheme}://{host}{port}/page{i}{frag}", float(i % 13)))
        # duplicates that collapse
        urls.append(("http://hot.example.com/page0", 99.0))
        urls.append(("HTTP://HOT.example.COM:80/page0#x", 1.0))
        return urls

    def test_matches_oracle(self, spark):
        urls = self.fixture_urls()
        seen_urls = [u for u, _ in urls[:40]]
        budgets = {"hot.example.com": 7}
        cand = spark.createDataFrame(urls, "url string, priority double")
        seen = frontier.with_canonical(
            spark.createDataFrame([(u,) for u in seen_urls], "url string")
        ).select("url_hash", "canon_url", F.lit(0).alias("fetched_round"))
        hosts = spark.createDataFrame(
            list(budgets.items()), "host string, budget int"
        )
        batch = frontier.crawl_round(cand, seen, hosts, batch_size=50, default_budget=5)
        got = [r["canon_url"] for r in batch.orderBy("fetch_order").collect()]
        exp = crawl_oracle(urls, seen_urls, budgets, default_budget=5, batch_size=50)
        assert got == exp

    def test_deterministic_across_parallelism(self, spark):
        urls = self.fixture_urls()
        cand = spark.createDataFrame(urls, "url string, priority double")
        seen = spark.createDataFrame(
            [], "url_hash long, canon_url string, fetched_round int"
        )
        hosts = spark.createDataFrame([("hot.example.com", 7)], "host string, budget int")
        runs = []
        for n_part in (2, 13):
            batch = frontier.crawl_round(
                cand.repartition(n_part), seen, hosts, batch_size=40
            )
            runs.append(
                [(r["fetch_order"], r["canon_url"]) for r in batch.orderBy("fetch_order").collect()]
            )
        assert runs[0] == runs[1]

    def test_bloom_backed_round_bit_identical(self, spark):
        # the flagship path (Bloom prefilter) must schedule exactly the
        # same batch as the plain anti-join round
        urls = self.fixture_urls()
        seen_urls = [u for u, _ in urls[:40]]
        cand = spark.createDataFrame(urls, "url string, priority double")
        seen = frontier.with_canonical(
            spark.createDataFrame([(u,) for u in seen_urls], "url string")
        ).select("url_hash", "canon_url", F.lit(0).alias("fetched_round"))
        hosts = spark.createDataFrame([("hot.example.com", 7)], "host string, budget int")
        plain = frontier.crawl_round(cand, seen, hosts, batch_size=50)
        rows_plain = [tuple(r) for r in plain.orderBy("fetch_order").collect()]
        frontier.release_rank_caches()
        bloom = frontier.build_seen_bloom(seen, partitions=8)
        boomed = frontier.crawl_round(
            cand, frontier.SeenSet(seen, sketch=bloom, partitions=8), hosts,
            batch_size=50,
        )
        rows_bloom = [tuple(r) for r in boomed.orderBy("fetch_order").collect()]
        frontier.release_rank_caches()
        assert rows_plain == rows_bloom


class TestGlobalRank:
    def test_rank_equals_total_order_position(self, spark):
        import random

        rng = random.Random(3)
        rows = [(f"http://h/{i}", float(rng.randint(0, 5))) for i in range(200)]
        df = frontier.with_canonical(
            spark.createDataFrame(rows, "url string, priority double")
        )
        ranked = frontier.global_rank(
            df, [("priority", False), ("canon_url", True)]
        )
        got = [
            r["canon_url"]
            for r in ranked.orderBy("fetch_order").collect()
        ]
        # independent expectation: sort collected rows by the same keys
        rows2 = df.select("canon_url", "priority").collect()
        exp = [
            r["canon_url"]
            for r in sorted(rows2, key=lambda r: (-r["priority"], r["canon_url"]))
        ]
        assert got == exp
        frontier.release_rank_caches()

    def test_rank_parallelism_invariant_with_forced_buckets(self, spark):
        """Identical ranks at 1 and 16 input partitions, exercising a real
        multi-boundary bucket split (percentile boundaries on the numeric
        first key) including duplicate priorities across buckets."""
        rows = [(f"http://h/{i:03d}", float(i % 4)) for i in range(300)]
        df = frontier.with_canonical(
            spark.createDataFrame(rows, "url string, priority double")
        )
        keys = [("priority", False), ("canon_url", True)]
        a = frontier.global_rank(df.repartition(1), keys)
        b = frontier.global_rank(df.repartition(16), keys)
        got_a = {r["canon_url"]: r["fetch_order"] for r in a.collect()}
        got_b = {r["canon_url"]: r["fetch_order"] for r in b.collect()}
        frontier.release_rank_caches()
        assert got_a == got_b
        assert sorted(got_a.values()) == list(range(1, 301))

    @pytest.mark.parametrize("first_asc", [True, False])
    def test_string_first_key_sampled_tuple_boundaries(self, spark, first_asc):
        """A non-numeric first key (the CLI's pack_shards on a string
        doc_id) takes the same in-plan sampled boundaries as a numeric one.
        Ranks and exclusive prefix sums at 1 and 16 input partitions must
        equal a driver-side sort and cumsum, with ties on the first key,
        NULLs last in both directions, and real boundaries between the
        buckets."""
        rows = [
            (None if i % 50 == 7 else f"d{i % 97:03d}", i, i % 7 + 1)
            for i in range(400)
        ]
        df = spark.createDataFrame(rows, "doc string, w int, len int")
        keys = [("doc", first_asc), ("w", False)]

        # stable sorts: w DESC within doc, then doc (NULLs last)
        by_w = sorted(rows, key=lambda r: -r[1])
        expected = sorted(
            (r for r in by_w if r[0] is not None),
            key=lambda r: r[0],
            reverse=not first_asc,
        ) + [r for r in by_w if r[0] is None]
        exp_rank, exp_sum, acc = {}, {}, 0
        for pos, r in enumerate(expected, start=1):
            exp_rank[r[1]] = pos
            exp_sum[r[1]] = acc
            acc += r[2]
        for parts in (1, 16):
            staged, _, _ = frontier._bucket_staged(df.repartition(parts), keys)
            buckets = {r["_rbucket"] for r in staged.select("_rbucket").distinct().collect()}
            ranked = frontier.global_rank(df.repartition(parts), keys)
            got_rank = {r["w"]: r["fetch_order"] for r in ranked.collect()}
            summed = frontier.global_prefix_sum(
                df.repartition(parts), keys, "len"
            )
            got_sum = {r["w"]: r["prefix_sum"] for r in summed.collect()}
            frontier.release_rank_caches()
            assert len(buckets) >= 2, (parts, buckets)
            assert got_rank == exp_rank, parts
            assert got_sum == exp_sum, parts

    def test_build_runs_no_spark_job(self, spark, tmp_path):
        """Building crawl_round over pre-read inputs, and global_prefix_sum
        on a string key, runs no Spark job: the rank boundaries are part of
        the plan. Checked with a cold rank cache and again with the cache a
        previous round left behind. A seen set with a Bloom sketch is the
        exception: bloom_might_contain sizes the filters with one
        aggregate, 2 jobs under AQE (its shuffle stage and its result)."""
        sc = spark.sparkContext
        cand = spark.createDataFrame(
            [(f"http://h{i % 7}.com/p{i}", float(i % 11)) for i in range(200)],
            "url string, priority double",
        )
        cand.write.parquet(str(tmp_path / "cand"))
        docs = spark.createDataFrame(
            [(f"d{i:03d}", i % 5 + 1) for i in range(100)], "doc string, len int"
        )
        docs.write.parquet(str(tmp_path / "docs"))
        cand = spark.read.parquet(str(tmp_path / "cand"))
        docs = spark.read.parquet(str(tmp_path / "docs"))
        seen = spark.createDataFrame([], "url_hash long, canon_url string")
        hosts = spark.createDataFrame([("h1.com", 3)], "host string, budget int")
        keys = frontier.with_canonical(cand.filter("priority < 3"))
        frontier.build_seen_bloom(
            keys.select("url_hash", "canon_url"), partitions=8, m=1024
        ).write.parquet(str(tmp_path / "bloom"))
        sketched = frontier.SeenSet(
            seen, sketch=spark.read.parquet(str(tmp_path / "bloom")), partitions=8
        )

        def build_jobs(group, build):
            sc.setJobGroup(group, group)
            try:
                out = build()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return out, len(sc.statusTracker().getJobIdsForGroup(group))

        frontier.release_rank_caches()
        try:
            for state in ("cold", "warm"):
                batch, jobs = build_jobs(
                    f"wbx-build-round-{state}",
                    lambda: frontier.crawl_round(cand, seen, hosts, batch_size=30),
                )
                assert jobs == 0, state
                assert batch.count() == 30
                summed, jobs = build_jobs(
                    f"wbx-build-prefix-{state}",
                    lambda: frontier.global_prefix_sum(docs, [("doc", True)], "len"),
                )
                assert jobs == 0, state
                assert summed.count() == 100
                batch, jobs = build_jobs(
                    f"wbx-build-sketch-{state}",
                    lambda: frontier.crawl_round(cand, sketched, hosts, batch_size=30),
                )
                assert jobs == 2, state
                assert batch.count() == 30
        finally:
            frontier.release_rank_caches()

    @pytest.mark.parametrize(
        "keys",
        [[("priority", False), ("canon_url", True)], [("canon_url", True)]],
        ids=["numeric", "string"],
    )
    def test_bounds_computed_once_per_action(self, spark, keys):
        """The counts branch and the bucket shuffle both read the boundary
        subquery; the final adaptive plan must execute it once and reuse
        it, not run the boundary aggregate per branch."""
        import re

        df = frontier.with_canonical(
            spark.createDataFrame(
                [(f"http://h/{i}", float(i % 13)) for i in range(300)],
                "url string, priority double",
            )
        )
        ranked = frontier.global_rank(df, keys)
        try:
            assert sorted(r["fetch_order"] for r in ranked.collect()) == list(
                range(1, 301)
            )
            final = ranked._jdf.queryExecution().executedPlan().executedPlan().toString()
        finally:
            frontier.release_rank_caches()
        assert "ReusedSubquery" in final
        assert len(set(re.findall(r"Subquery subquery#\d+, \[id=#(\d+)\]", final))) == 1


ROBOTS_TXT = """\
# global section
User-agent: *
Disallow: /private
Allow: /private/ok
Crawl-delay: 2.5

User-agent: wbx-bot
User-agent: otherbot
Disallow: /bot-only

User-agent: somebody-else
Disallow: /
"""


class TestSitemaps:
    def test_robots_sitemap_lines(self, spark):
        body = (
            "User-agent: *\nDisallow: /private\n"
            "Sitemap: https://a.com/sitemap.xml\n"
            "sitemap:https://a.com/sitemap2.xml\n"
            "SITEMAP:   https://a.com/s3.xml\n"
            "# Sitemap: https://a.com/commented.xml is still matched? no -\n"
        )
        df = spark.createDataFrame([("a.com", body)], "host string, body string")
        got = sorted(
            r["sitemap_url"] for r in frontier.robots_sitemaps(df).collect()
        )
        # the directive is line-anchored: the commented line starts with '#'
        assert got == [
            "https://a.com/s3.xml",
            "https://a.com/sitemap.xml",
            "https://a.com/sitemap2.xml",
        ]

    def test_parse_sitemap_locs(self, spark):
        xml = (
            '<?xml version="1.0"?>\n<urlset>'
            "<url><loc>  https://a.com/p/1  </loc></url>"
            "<url><LOC>https://a.com/p/2?x=1&amp;y=2</LOC></url>"
            "<url><loc></loc></url>"
            "</urlset>"
        ).encode() + b"\xff"  # trailing invalid byte: permissive decode
        df = spark.createDataFrame(
            [("https://a.com/sitemap.xml", bytearray(xml))],
            "sitemap_url string, body binary",
        )
        got = sorted(r["loc"] for r in frontier.parse_sitemap(df).collect())
        assert got == [
            "https://a.com/p/1",
            "https://a.com/p/2?x=1&y=2",
        ]

    def test_sitemapindex_recursion_shape(self, spark):
        xml = (
            "<sitemapindex>"
            "<sitemap><loc>https://a.com/s-part1.xml</loc></sitemap>"
            "<sitemap><loc>https://a.com/s-part2.xml</loc></sitemap>"
            "</sitemapindex>"
        ).encode()
        df = spark.createDataFrame(
            [("https://a.com/sitemap.xml", bytearray(xml))],
            "sitemap_url string, body binary",
        )
        got = frontier.parse_sitemap(df).collect()
        assert [r["loc"] for r in got] == [
            "https://a.com/s-part1.xml",
            "https://a.com/s-part2.xml",
        ]
        assert all(r["sitemap_url"] == "https://a.com/sitemap.xml" for r in got)


class TestParseFeed:
    """parse_feed: RSS item / Atom entry links only — the channel-level
    <link> (the site homepage) is never a candidate."""

    def _feed(self, spark, body):
        return spark.createDataFrame(
            [("https://a.com/feed", bytearray(body.encode()))],
            "feed_url string, body binary",
        )

    def test_rss_items_not_channel_link(self, spark):
        xml = (
            "<rss><channel><link>https://a.com/</link>"
            "<item><title>t1</title><link> https://a.com/post/1&amp;v=2 </link></item>"
            "<item><link>https://a.com/post/2</link></item>"
            "<item><title>no-link</title></item>"
            "</channel></rss>"
        )
        got = sorted(r["item_url"] for r in frontier.parse_feed(self._feed(spark, xml)).collect())
        assert got == ["https://a.com/post/1&v=2", "https://a.com/post/2"]

    def test_atom_entries(self, spark):
        xml = (
            '<feed xmlns="http://www.w3.org/2005/Atom">'
            '<link href="https://a.com/"/>'
            '<entry><link href="https://a.com/e/1"/></entry>'
            "<entry><link rel='alternate' href='https://a.com/e/2'/></entry>"
            "<entry><link href=https://a.com/e/3></link></entry>"
            "</feed>"
        )
        got = sorted(r["item_url"] for r in frontier.parse_feed(self._feed(spark, xml)).collect())
        assert got == [
            "https://a.com/e/1",
            "https://a.com/e/2",
            "https://a.com/e/3",
        ]

    def test_atom_entry_skips_non_alternate_links(self, spark):
        # RFC 4287 §4.2.7.2: the entry's page is the link whose rel is
        # absent or "alternate", not the edit/self/enclosure links before it
        xml = (
            '<feed xmlns="http://www.w3.org/2005/Atom">'
            '<entry><link rel="edit" href="https://a.com/e/1/edit"/>'
            "<link rel = 'self' href='https://a.com/e/1.atom'/>"
            '<link rel="enclosure" type="audio/mpeg" href="https://a.com/e/1.mp3"/>'
            '<link rel="alternate" href="https://a.com/e/1"/></entry>'
            '<entry><link rel="edit" href="https://a.com/e/2/edit"/>'
            '<link type="text/html" href="https://a.com/e/2"/></entry>'
            "<entry><link REL = 'Alternate' href='https://a.com/e/3'/></entry>"
            '<entry><link rel="edit" href="https://a.com/e/4/edit"/></entry>'
            '<entry><link rel="self" href="https://a.com/e/5.atom"/><link rel='
            '"http://www.iana.org/assignments/relation/alternate" href="https://a.com/e/5"/>'
            "</entry></feed>"
        )
        got = sorted(r["item_url"] for r in frontier.parse_feed(self._feed(spark, xml)).collect())
        assert got == [
            "https://a.com/e/1",
            "https://a.com/e/2",
            "https://a.com/e/3",
            "https://a.com/e/5",
        ]

    def test_malformed_bytes_safe(self, spark):
        raw = b"<rss><channel><item><link>https://a.com/x</link></item>\xff</channel></rss>"
        df = spark.createDataFrame(
            [("https://a.com/feed", bytearray(raw))],
            "feed_url string, body binary",
        )
        assert [r["item_url"] for r in frontier.parse_feed(df).collect()] == [
            "https://a.com/x"
        ]

    def test_feed_candidates_shape(self, spark):
        items = spark.createDataFrame(
            [("f", "https://a.com/post/1")], "feed_url string, item_url string"
        )
        got = frontier.feed_candidates(items).collect()
        assert [(r["url"], r["priority"]) for r in got] == [
            ("https://a.com/post/1", 0.7)
        ]
        # drops straight into crawl_round's candidate schema
        assert got[0].asDict().keys() == {"url", "priority"}


class TestRobotsParser:
    def _files(self, spark, body=ROBOTS_TXT, host="h.com"):
        return spark.createDataFrame([(host, body)], "host string, body string")

    def test_star_section_rules(self, spark):
        from wbx.frontier import parse_robots_txt

        rules = {
            (r["rule_type"], r["path_prefix"])
            for r in parse_robots_txt(self._files(spark)).collect()
        }
        # '*' matches the global section only (not wbx-bot / somebody-else)
        assert rules == {("deny", "/private"), ("allow", "/private/ok")}

    def test_named_agent_section_shadows_star(self, spark):
        # RFC 9309 §2.2.1: the most specific matching group wins and
        # groups do NOT merge — a named agent with its own section must
        # ignore the '*' rules entirely (round 4 fixed the earlier
        # union-of-groups behavior this test used to pin)
        from wbx.frontier import parse_robots_txt

        rules = {
            (r["rule_type"], r["path_prefix"])
            for r in parse_robots_txt(
                self._files(spark), user_agent="wbx-bot"
            ).collect()
        }
        assert rules == {("deny", "/bot-only")}

    def test_empty_disallow_and_comments_dropped(self, spark):
        from wbx.frontier import parse_robots_txt

        body = "User-agent: *\nDisallow:\n# just a comment\nAllow: /a # trailing\n"
        rules = {
            (r["rule_type"], r["path_prefix"])
            for r in parse_robots_txt(self._files(spark, body)).collect()
        }
        assert rules == {("allow", "/a")}

    def test_crawl_delay_first_wins(self, spark):
        from wbx.frontier import parse_crawl_delays

        body = "User-agent: *\nCrawl-delay: 2.5\nCrawl-delay: 9\n"
        got = parse_crawl_delays(self._files(spark, body)).collect()
        assert [(r["host"], r["crawl_delay"]) for r in got] == [("h.com", 2.5)]

    def test_malformed_crawl_delay_dropped_not_fatal(self, spark):
        # "Crawl-delay: 10s" occurs in real robots.txt; under ANSI mode a
        # plain cast would raise CAST_INVALID_INPUT and kill the job
        from wbx.frontier import parse_crawl_delays

        body = "User-agent: *\nCrawl-delay: 10s\nCrawl-delay: 7\n"
        got = parse_crawl_delays(self._files(spark, body)).collect()
        assert [(r["host"], r["crawl_delay"]) for r in got] == [("h.com", 7.0)]

    def test_all_malformed_crawl_delays_yield_no_row(self, spark):
        from wbx.frontier import parse_crawl_delays

        body = "User-agent: *\nCrawl-delay: fast\n"
        assert parse_crawl_delays(self._files(spark, body)).collect() == []

    def test_parsed_rules_drive_apply_robots(self, spark):
        from wbx.frontier import apply_robots, parse_robots_txt

        rules = parse_robots_txt(self._files(spark))
        frontier = spark.createDataFrame(
            [
                ("http://h.com/private/ok/x", "h.com"),
                ("http://h.com/private/no", "h.com"),
                ("http://h.com/open", "h.com"),
            ],
            "canon_url string, host string",
        )
        kept = sorted(
            r["canon_url"] for r in apply_robots(frontier, rules).collect()
        )
        assert kept == ["http://h.com/open", "http://h.com/private/ok/x"]


class TestCrawlDelayBudgets:
    def test_budget_arithmetic_and_clamps(self, spark):
        from wbx.frontier import budgets_from_crawl_delays

        delays = spark.createDataFrame(
            [("a.com", 2.5), ("b.com", 0.001), ("c.com", 600.0)],
            "host string, crawl_delay double",
        )
        got = {
            r["host"]: r["budget"]
            for r in budgets_from_crawl_delays(
                delays, round_seconds=60.0, max_budget=100
            ).collect()
        }
        assert got == {"a.com": 24, "b.com": 100, "c.com": 1}

    def test_zero_delay_means_no_limit_not_divide_by_zero(self, spark):
        # "Crawl-delay: 0" is valid in the wild; ANSI mode would raise
        # DIVIDE_BY_ZERO on a plain division — it must map to max_budget
        from wbx.frontier import budgets_from_crawl_delays

        delays = spark.createDataFrame(
            [("z.com", 0.0), ("a.com", 2.0)], "host string, crawl_delay double"
        )
        got = {
            r["host"]: r["budget"]
            for r in budgets_from_crawl_delays(
                delays, round_seconds=60.0, max_budget=100
            ).collect()
        }
        assert got == {"z.com": 100, "a.com": 30}


class TestRobotsSectionEdges:
    def test_crawl_delay_is_user_agent_scoped(self, spark):
        # another bot's Crawl-delay must not set our politeness budget
        from wbx.frontier import parse_crawl_delays

        body = (
            "User-agent: BadBot\nCrawl-delay: 3600\n\n"
            "User-agent: *\nCrawl-delay: 1\n"
        )
        files = spark.createDataFrame([("h.com", body)], "host string, body string")
        got = parse_crawl_delays(files).collect()
        assert [(r["host"], r["crawl_delay"]) for r in got] == [("h.com", 1.0)]

    def test_ua_after_non_rule_line_starts_new_group(self, spark):
        # REP grouping: a crawl-delay line ends agent a's group, so agent b's
        # Disallow must NOT leak into agent a's rules
        from wbx.frontier import parse_robots_txt

        body = "User-agent: a\nCrawl-delay: 5\nUser-agent: b\nDisallow: /x\n"
        files = spark.createDataFrame([("h.com", body)], "host string, body string")
        rules_a = parse_robots_txt(files, user_agent="a").collect()
        rules_b = {
            (r["rule_type"], r["path_prefix"])
            for r in parse_robots_txt(files, user_agent="b").collect()
        }
        assert rules_a == []
        assert rules_b == {("deny", "/x")}


class TestDedupUrlLatest:
    def _pages(self, spark, rows):
        return spark.createDataFrame(
            rows, "url string, warc_ts timestamp, html binary, text string, lang string"
        )

    def test_messy_variants_collapse_to_latest(self, spark):
        import datetime as dt

        ts = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
        rows = [
            ("http://ex.com/a", ts(1), b"1", "old", "en"),
            ("HTTP://EX.com:80/a#frag", ts(5), b"2", "new", "en"),
            ("https://other.com/b", ts(2), b"3", "only", "de"),
        ]
        out = frontier.dedup_url_latest(self._pages(spark, rows)).collect()
        got = {r["canon_url"]: r for r in out}
        assert set(got) == {"http://ex.com/a", "https://other.com/b"}
        a = got["http://ex.com/a"]
        assert a["n_snapshots"] == 2
        assert a["text"] == "new" and a["warc_ts"].second == 5
        assert got["https://other.com/b"]["n_snapshots"] == 1

    def test_timestamp_tie_breaks_by_raw_url(self, spark):
        import datetime as dt

        t = dt.datetime(2024, 1, 1)
        rows = [
            ("http://ex.com/a?z=1", t, b"1", "zee", "en"),
            ("http://ex.com/a?z=1#x", t, b"2", "frag", "en"),
        ]
        out = frontier.dedup_url_latest(self._pages(spark, rows)).collect()
        assert len(out) == 1
        # max raw url string: 'http://ex.com/a?z=1#x' > 'http://ex.com/a?z=1'
        assert out[0]["text"] == "frag"

    def test_full_duplicate_capture_keeps_one_row(self, spark):
        """Two captures with identical raw url AND timestamp must not both
        survive: differing content breaks the tie deterministically (min
        capture digest), byte-identical clones collapse to one row."""
        import datetime as dt

        t = dt.datetime(2024, 1, 1)
        rows = [
            ("http://ex.com/a", t, b"1", "one", "en"),
            ("http://ex.com/a", t, b"2", "two", "en"),  # differing content
            ("http://ex.com/b", t, b"3", "same", "en"),
            ("http://ex.com/b", t, b"3", "same", "en"),  # exact clone
        ]
        out = frontier.dedup_url_latest(self._pages(spark, rows)).collect()
        by_canon = {}
        for r in out:
            by_canon.setdefault(r["canon_url"], []).append(r)
        assert {k: len(v) for k, v in by_canon.items()} == {
            "http://ex.com/a": 1,
            "http://ex.com/b": 1,
        }
        assert by_canon["http://ex.com/a"][0]["n_snapshots"] == 2
        # deterministic at any parallelism: repartitioned input, same pick
        out2 = frontier.dedup_url_latest(
            self._pages(spark, rows).repartition(7)
        ).collect()
        assert sorted(r["text"] for r in out2) == sorted(
            r["text"] for r in out
        )

    def test_winner_shuffle_carries_no_payload(self, spark):
        import contextlib
        import datetime as dt
        import io
        import re

        rows = [("http://ex.com/a", dt.datetime(2024, 1, 1), b"x", "t", "en")]
        df = frontier.dedup_url_latest(self._pages(spark, rows))
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plan = buf.getvalue()
        args = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
        assert args, plan
        # the winner aggregation exchange groups by canon_url and must not
        # carry the html/text payload columns
        assert all("html#" not in a and "text#" not in a for a in args), plan


class TestStagingCollisionGuard:
    def test_canon_staging_collision_raises(self, spark):
        df = spark.createDataFrame(
            [("http://ex.com/a", 1)], "url string, _u0 int"
        )
        with pytest.raises(ValueError, match="_u0"):
            frontier.with_canon_url(df)

    def test_host_staging_collision_raises(self, spark):
        df = spark.createDataFrame(
            [("http://ex.com/a", 1)], "canon_url string, _fsep int"
        )
        with pytest.raises(ValueError, match="_fsep"):
            frontier.with_url_host(df)

    def test_repetition_staging_collision_raises(self, spark):
        from wbx import textops

        df = spark.createDataFrame([("hi", 1)], "text string, _rls int")
        with pytest.raises(ValueError, match="_rls"):
            textops.with_repetition_features(df)


class TestStagedHostPathEquivalence:
    def test_staged_forms_match_expression_forms(self, spark):
        """with_url_host / with_url_path (the hot-path staged pipelines)
        must be pointwise identical to the url_host / url_path expression
        forms on every canonicalized CANON_CASES input plus NULL."""
        urls = [u for u, _ in CANON_CASES] + [None]
        df = frontier.with_canon_url(
            spark.createDataFrame([(u,) for u in urls], "url string")
        )
        expr = df.select(
            "canon_url",
            frontier.url_host(F.col("canon_url")).alias("h"),
            frontier.url_path(F.col("canon_url")).alias("p"),
        )
        staged = frontier.with_url_path(
            frontier.with_url_host(df, out="h2"), out="p2"
        ).select("canon_url", "h2", "p2")
        joined = expr.join(staged, ["canon_url"]).collect()
        assert joined, "join produced no rows"
        for r in joined:
            assert r["h"] == r["h2"], (r["canon_url"], r["h"], r["h2"])
            assert r["p"] == r["p2"], (r["canon_url"], r["p"], r["p2"])


class TestExtractLinks:
    def _pages(self, spark, base, html):
        return spark.createDataFrame(
            [(base, html.encode("utf-8"))], "url string, html binary"
        )

    def test_resolution_forms(self, spark):
        html = (
            '<a href="https://other.com/abs">1</a>'
            '<a href="//cdn.com/p">2</a>'
            '<a href="/rooted?q=1">3</a>'
            '<a href="sib.html">4</a>'
            '<a href="https://frag.com/x#sec">5</a>'
        )
        out = {
            r["link"]
            for r in frontier.extract_links(
                self._pages(spark, "https://ex.com/dir/page.html", html)
            ).collect()
        }
        assert out == {
            "https://other.com/abs",
            "https://cdn.com/p",
            "https://ex.com/rooted?q=1",
            "https://ex.com/dir/sib.html",
            "https://frag.com/x",  # fragment cut by the capture pattern
        }

    def test_skipped_schemes_and_empty(self, spark):
        html = (
            '<a href="javascript:void(0)">a</a>'
            '<a href="MAILTO:x@y.z">b</a>'
            '<a href="data:text/plain,hi">c</a>'
            '<a href="#top">d</a>'
            '<a href="">e</a>'
        )
        assert (
            frontier.extract_links(
                self._pages(spark, "https://ex.com/p/", html)
            ).count()
            == 0
        )

    def test_quote_forms(self, spark):
        """Single-quoted and unquoted hrefs are extracted alongside
        double-quoted ones; the three patterns are disjoint (no double
        counting of a quoted href by the unquoted pattern)."""
        html = (
            '<a href="/dq">1</a>'
            "<a href='/sq'>2</a>"
            "<a href=/uq>3</a>"
            "<a href = 'spaced.html'>4</a>"
            "<a href=un/quoted?q=1#frag>5</a>"
        )
        out = [
            r["link"]
            for r in frontier.extract_links(
                self._pages(spark, "https://ex.com/d/p.html", html)
            ).collect()
        ]
        assert sorted(out) == [
            "https://ex.com/d/spaced.html",
            "https://ex.com/d/un/quoted?q=1",
            "https://ex.com/dq",
            "https://ex.com/sq",
            "https://ex.com/uq",
        ]
        assert len(out) == len(set(out))  # disjoint patterns: no dup rows

    def test_malformed_utf8_does_not_crash(self, spark):
        """Real crawled pages contain invalid UTF-8; a strict decode under
        Spark 4 ANSI mode aborts the stage (MALFORMED_CHARACTER_CODING).
        extract_links must decode permissively and still find every link,
        including one whose surrounding text holds the bad bytes."""
        raw = (
            b'<html>\xff\xfe<a href="/ok">x</a>'
            b"<a href='/sq\x80'>y</a>"
            b'<a href="https://abs.com/z">\xc3</a></html>'
        )
        pages = spark.createDataFrame(
            [("https://ex.com/p", bytearray(raw))], "url string, html binary"
        )
        out = sorted(
            r["link"] for r in frontier.extract_links(pages).collect()
        )
        assert out[0] == "https://abs.com/z"
        assert out[1] == "https://ex.com/ok"
        # the href containing the invalid byte survives, bad byte replaced
        assert out[2].startswith("https://ex.com/sq")
        assert "�" in out[2]

    def test_expand_from_html_malformed_utf8(self, spark):
        """The crawl-loop expand step survives malformed bytes end-to-end."""
        pages = spark.createDataFrame(
            [("https://ex.com/p", bytearray(b'\xff<a href="/n">x</a>'))],
            "url string, html binary",
        )
        out = frontier.expand_from_html(pages).collect()
        assert [r["url"] for r in out] == ["https://ex.com/n"]

    def test_pathless_base_resolves_to_host_root(self, spark):
        """A base with no path ('http://ex.com') must resolve relative
        hrefs against the host root, not the bare scheme (which would turn
        the href into the host)."""
        html = '<a href="x.html">1</a><a href="/abs.html">2</a>'
        out = sorted(
            r["link"]
            for r in frontier.extract_links(
                self._pages(spark, "http://ex.com", html)
            ).collect()
        )
        assert out == ["http://ex.com/abs.html", "http://ex.com/x.html"]

    def test_expand_from_html_distinct_candidates(self, spark):
        html = '<a href="/a">1</a><a href="/a">2</a><a href="/b">3</a>'
        out = frontier.expand_from_html(
            self._pages(spark, "https://ex.com/p/x", html)
        ).collect()
        assert sorted(r["url"] for r in out) == [
            "https://ex.com/a",
            "https://ex.com/b",
        ]
        assert all(r["priority"] == 0.0 for r in out)

    def test_closes_the_crawl_loop(self, spark):
        """pages → expand_from_html → crawl_round schedules the discovered
        links (minus the already-seen base)."""
        html = '<a href="/next/1">n</a><a href="/next/2">n</a>'
        pages = self._pages(spark, "http://h1.com/start", html)
        cand = frontier.expand_from_html(pages)
        seen = frontier.with_canonical(
            spark.createDataFrame([("http://h1.com/next/1",)], "url string")
        ).select("url_hash", "canon_url")
        hosts = spark.createDataFrame([("h1.com", 10)], "host string, budget int")
        batch = frontier.crawl_round(cand, seen, hosts).collect()
        frontier.release_rank_caches()
        assert [r["canon_url"] for r in batch] == ["http://h1.com/next/2"]


class TestBlocklist:
    def test_suffix_semantics(self, spark):
        cand = spark.createDataFrame(
            [
                ("ads.example.com", "http://ads.example.com/x"),
                ("sub.ads.example.com", "http://sub.ads.example.com/y"),
                ("example.com", "http://example.com/z"),
                ("notads.example.com", "http://notads.example.com/w"),
                ("clean.org", "http://clean.org/ok"),
            ],
            "host string, canon_url string",
        )
        blocklist = spark.createDataFrame([("ads.example.com",)], "domain string")
        kept = {
            r["host"] for r in frontier.apply_blocklist(cand, blocklist).collect()
        }
        # exact + subdomain blocked; sibling and partial-string hosts kept
        assert kept == {"example.com", "notads.example.com", "clean.org"}

    def test_host_suffixes(self, spark):
        row = (
            spark.createDataFrame([("a.b.co.uk",)], "h string")
            .select(frontier.host_suffixes(F.col("h")).alias("s"))
            .first()
        )
        assert row["s"] == ["a.b.co.uk", "b.co.uk", "co.uk", "uk"]

    def test_url_rows_never_explode(self, spark):
        import contextlib, io, re

        cand = spark.createDataFrame(
            [("h.com", "http://h.com/1")], "host string, canon_url string"
        )
        blocklist = spark.createDataFrame([("x.com",)], "domain string")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            frontier.apply_blocklist(cand, blocklist).explain(mode="formatted")
        plan = buf.getvalue()
        # the Generate (explode) must sit above the distinct-host aggregate,
        # never on the raw candidate scan: exactly one Generate, consuming
        # only the deduped host column
        blocks = re.findall(r"\(\d+\) Generate\n((?:.+\n)+?)\n", plan)
        assert len(blocks) == 1, plan
        assert "canon_url" not in blocks[0], plan
        assert "host" in blocks[0], plan


class TestFilterUnseenSplit:
    """filter_unseen_split: anti-join distributes over the base/recent
    union — every path must be bit-identical to filter_unseen on the
    union. Plan shape (no exchange on the bucketed base) is pinned in
    test_plans.py; this is pure-semantics parity on plain DataFrames."""

    def make_split(self, spark, n=400):
        cand = frontier.with_canonical(
            urls_df(spark, [f"http://h{i % 23}.com/s{i}" for i in range(n)])
        )
        seen = cand.filter((F.col("url_hash") % 3) == 0).select(
            "url_hash", "canon_url"
        )
        base = seen.filter((F.col("url_hash") % 2) == 0)
        recent = seen.filter((F.col("url_hash") % 2) != 0)
        return cand, seen, base, recent

    def test_split_parity_with_union(self, spark):
        cand, seen, base, recent = self.make_split(spark)
        want = sorted(
            r["canon_url"] for r in frontier.filter_unseen(cand, seen).collect()
        )
        got = sorted(
            r["canon_url"]
            for r in frontier.filter_unseen_split(cand, base, recent).collect()
        )
        assert got == want

    def test_none_base_falls_back_to_plain_filter(self, spark):
        cand, seen, _, _ = self.make_split(spark)
        got = sorted(
            r["canon_url"]
            for r in frontier.filter_unseen_split(cand, None, seen).collect()
        )
        want = sorted(
            r["canon_url"] for r in frontier.filter_unseen(cand, seen).collect()
        )
        assert got == want

    def test_empty_recent_and_empty_base(self, spark):
        cand, seen, base, recent = self.make_split(spark)
        empty = spark.createDataFrame([], "url_hash long, canon_url string")
        via_base_only = sorted(
            r["canon_url"]
            for r in frontier.filter_unseen_split(cand, base, empty).collect()
        )
        assert via_base_only == sorted(
            r["canon_url"] for r in frontier.filter_unseen(cand, base).collect()
        )
        via_recent_only = sorted(
            r["canon_url"]
            for r in frontier.filter_unseen_split(cand, empty, recent).collect()
        )
        assert via_recent_only == sorted(
            r["canon_url"] for r in frontier.filter_unseen(cand, recent).collect()
        )

    def test_bloom_confirm_routes_through_split(self, spark):
        cand, seen, base, recent = self.make_split(spark)
        bloom = frontier.build_seen_bloom(seen, partitions=8)
        got = sorted(
            r["canon_url"]
            for r in frontier.filter_unseen(
                cand, frontier.SeenSet(recent, base, bloom, 8)
            ).collect()
        )
        want = sorted(
            r["canon_url"] for r in frontier.filter_unseen(cand, seen).collect()
        )
        assert got == want


class TestCanonicalDedup:
    def _mk(self, spark, rows):
        import datetime

        data = [
            (
                u,
                datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=s),
                h.encode("utf-8", "surrogateescape") if isinstance(h, str) else h,
            )
            for u, s, h in rows
        ]
        return spark.createDataFrame(
            data, "url string, warc_ts timestamp, html binary"
        )

    def test_absolute_and_relative_targets_group(self, spark):
        pages = self._mk(
            spark,
            [
                # two variants declaring the same absolute canonical
                ("https://a.ex/print/1", 1, '<link rel="canonical" href="https://a.ex/art/1">'),
                ("https://a.ex/amp/1", 2, "<link rel='canonical' href='https://a.ex/art/1'>"),
                # href-before-rel, root-relative
                ("https://b.ex/x/y", 3, '<link href="/art/2" rel="canonical">'),
                # no canonical -> own URL
                ("https://c.ex/solo", 4, "<html><body>n</body></html>"),
            ],
        )
        got = {
            r["canon_target"]: (r["url"], r["n_members"])
            for r in frontier.dedup_by_canonical(pages).collect()
        }
        assert got == {
            "https://a.ex/art/1": ("https://a.ex/amp/1", 2),
            "https://b.ex/art/2": ("https://b.ex/x/y", 1),
            "https://c.ex/solo": ("https://c.ex/solo", 1),
        }

    def test_target_spelling_is_canonicalized(self, spark):
        pages = self._mk(
            spark,
            [
                ("https://a.ex/1", 1, '<link rel="canonical" href="HTTP://T.EX:80/p#f">'),
                ("https://a.ex/2", 2, '<link rel="canonical" href="http://t.ex/p">'),
            ],
        )
        rows = frontier.dedup_by_canonical(pages).collect()
        assert len(rows) == 1 and rows[0]["n_members"] == 2

    def test_malformed_utf8_and_bad_schemes_survive(self, spark):
        pages = self._mk(
            spark,
            [
                ("https://a.ex/1", 1, b'\xff\xfe<link rel="canonical" href="https://ok.ex/c">'),
                ("https://a.ex/2", 2, '<link rel="canonical" href="javascript:void(0)">'),
            ],
        )
        got = {r["canon_target"] for r in frontier.dedup_by_canonical(pages).collect()}
        # malformed bytes don't abort; js: scheme falls back to own URL
        assert got == {"https://ok.ex/c", "https://a.ex/2"}

    def test_html_canonical_url_nulls(self, spark):
        pages = self._mk(
            spark,
            [("https://a.ex/1", 1, "<html>no link</html>")],
        )
        rows = frontier.html_canonical_url(pages).collect()
        assert rows[0]["canonical"] is None


class TestResolveRedirects:
    SCHEMA = "url string, status int, location string"

    def _resolve(self, spark, rows, max_hops=3):
        df = spark.createDataFrame(rows, self.SCHEMA)
        return {
            r["url"]: (r["final_url"], r["hops"], r["terminal"])
            for r in frontier.resolve_redirects(df, max_hops=max_hops).collect()
        }

    def test_chain_ok_and_hops(self, spark):
        got = self._resolve(
            spark,
            [
                ("http://a.ex/0", 301, "http://a.ex/1"),
                ("http://a.ex/1", 302, "/2"),  # relative Location
                ("http://a.ex/2", 200, None),
            ],
        )
        assert got["http://a.ex/0"] == ("http://a.ex/2", 2, "ok")
        assert got["http://a.ex/1"] == ("http://a.ex/2", 1, "ok")
        assert got["http://a.ex/2"] == ("http://a.ex/2", 0, "ok")

    def test_capped_at_max_hops(self, spark):
        rows = [
            (f"http://c.ex/{i}", 301, f"http://c.ex/{i + 1}") for i in range(5)
        ] + [("http://c.ex/5", 200, None)]
        got = self._resolve(spark, rows, max_hops=3)
        assert got["http://c.ex/0"] == ("http://c.ex/3", 3, "capped")
        assert got["http://c.ex/2"] == ("http://c.ex/5", 3, "ok")

    def test_dangling_target(self, spark):
        got = self._resolve(
            spark,
            [("http://d.ex/a", 308, "http://d.ex/missing")],
        )
        assert got["http://d.ex/a"] == ("http://d.ex/missing", 1, "dangling")

    def test_loops(self, spark):
        got = self._resolve(
            spark,
            [
                ("http://l.ex/p", 301, "http://l.ex/q"),
                ("http://l.ex/q", 301, "http://l.ex/p"),
                ("http://l.ex/self", 301, "http://l.ex/self"),
            ],
        )
        assert got["http://l.ex/p"] == ("http://l.ex/p", 2, "loop")
        assert got["http://l.ex/q"] == ("http://l.ex/q", 2, "loop")
        assert got["http://l.ex/self"] == ("http://l.ex/self", 1, "loop")

    def test_non_3xx_location_ignored(self, spark):
        got = self._resolve(
            spark,
            [("http://n.ex/a", 200, "http://n.ex/b"), ("http://n.ex/b", 200, None)],
        )
        assert got["http://n.ex/a"] == ("http://n.ex/a", 0, "ok")

    def test_messy_url_spellings_match(self, spark):
        # redirect declared with messy source/target spellings still chains:
        # all matching is on canonical forms
        got = self._resolve(
            spark,
            [
                ("HTTP://M.EX:80/a#frag", 301, "HTTP://M.EX:80/b#x"),
                ("http://m.ex/b", 200, None),
            ],
        )
        assert got["HTTP://M.EX:80/a#frag"] == ("http://m.ex/b", 1, "ok")


class TestRevisitPriority:
    def _history(self, spark):
        from datetime import datetime

        rows = []
        # fast.example/p: changes every fetch (4 obs over 3000s -> 3 changes)
        for i in range(4):
            rows.append(("http://fast.example/p", datetime(2024, 1, 1, 0, i * 16, 40), f"d{i}"))
        # slow.example/p: 4 fetches, same digest -> 0 changes
        for i in range(4):
            rows.append(("http://slow.example/p", datetime(2024, 1, 1, 0, i * 16, 40), "same"))
        # once.example/p: single observation -> rate 0
        rows.append(("http://once.example/p", datetime(2024, 1, 1, 0, 0, 0), "x"))
        return spark.createDataFrame(
            rows, "canon_url string, warc_ts timestamp, digest string"
        )

    def test_change_rate_and_priority(self, spark):
        from wbx.frontier import revisit_priority

        got = {
            r["canon_url"]: r
            for r in revisit_priority(
                self._history(spark), "2024-01-01 01:00:00"
            ).collect()
        }
        fast = got["http://fast.example/p"]
        assert (fast["n_obs"], fast["n_changes"]) == (4, 3)
        span = 3 * 16 * 60  # 2880 s between first and last fetch
        age = 3600 - 3 * 16 * 60 - 40  # now minus last fetch
        assert fast["change_rate"] == pytest.approx(3 / span)
        assert fast["age_secs"] == age
        assert fast["revisit_priority"] == pytest.approx(3 / span * age)
        slow = got["http://slow.example/p"]
        assert slow["n_changes"] == 0 and slow["revisit_priority"] == 0.0
        once = got["http://once.example/p"]
        assert once["n_obs"] == 1 and once["revisit_priority"] == 0.0

    def test_partition_independent(self, spark):
        from wbx.frontier import revisit_priority

        a = sorted(
            map(tuple, revisit_priority(self._history(spark), "2024-01-02 00:00:00").collect())
        )
        b = sorted(
            map(
                tuple,
                revisit_priority(
                    self._history(spark).repartition(7), "2024-01-02 00:00:00"
                ).collect(),
            )
        )
        assert a == b


class TestUrlTraps:
    def test_calendar_trap_detected_static_ignored(self, spark):
        from wbx.frontier import detect_url_traps

        rows = [(f"http://trap.example/cal/{2000 + i}/{i % 12}/{i % 28}",) for i in range(50)]
        rows += [(f"http://ok.example/article/{name}",) for name in ("a", "b", "c")]
        rows += [("not a url",), (None,)]
        pages = spark.createDataFrame(rows, "canon_url string")
        got = {
            (r["host"], r["template"]): r["n_urls"]
            for r in detect_url_traps(pages, min_urls=10).collect()
        }
        assert got == {("trap.example", "/cal/N/N/N"): 50}

    def test_query_string_values_collapse(self, spark):
        from wbx.frontier import detect_url_traps, url_template

        pages = spark.createDataFrame(
            [(f"http://s.example/search?page={i}&sid={i * 7}",) for i in range(20)],
            "canon_url string",
        )
        got = detect_url_traps(pages, min_urls=5).collect()
        assert [(r["host"], r["template"], r["n_urls"]) for r in got] == [
            ("s.example", "/search?page=N&sid=N", 20)
        ]

    def test_duplicate_urls_count_once(self, spark):
        from wbx.frontier import detect_url_traps

        pages = spark.createDataFrame(
            [("http://d.example/p/1",)] * 30 + [("http://d.example/p/2",)],
            "canon_url string",
        )
        assert detect_url_traps(pages, min_urls=3).count() == 0


class TestRobotsWildcard:
    """RFC 9309 patterns in apply_robots: '*' spans, a trailing '$'
    anchors, the most specific match wins and a tie allows."""

    def _frontier(self, spark, paths, host="h.com"):
        return spark.createDataFrame(
            [(f"http://{host}{p}", host, 1.0) for p in paths],
            "canon_url string, host string, priority double",
        )

    def _rules(self, spark, rules, host="h.com"):
        return spark.createDataFrame(
            [(host, t, p) for t, p in rules],
            "host string, rule_type string, path_prefix string",
        )

    def _kept(self, spark, paths, rules):
        out = frontier.apply_robots(
            self._frontier(spark, paths), self._rules(spark, rules)
        )
        return {r["canon_url"].split("h.com")[1] for r in out.collect()}

    def test_star_wildcard(self, spark):
        kept = self._kept(
            spark,
            ["/fish", "/fish.html", "/fishheads/yummy.html", "/catfish", "/peces"],
            [("deny", "/fish*")],
        )
        # Google example: /fish* blocks anything STARTING with /fish
        assert kept == {"/catfish", "/peces"}

    def test_dollar_anchor(self, spark):
        kept = self._kept(
            spark,
            ["/a.php", "/a.php5", "/x/a.php", "/a.php/z"],
            [("deny", "/*.php$")],
        )
        # google example semantics: any path ENDING in .php is blocked
        # (including nested /x/a.php); .php5 and .php/z survive
        assert kept == {"/a.php5", "/a.php/z"}

    def test_most_specific_wins_allow_over_shorter_deny(self, spark):
        kept = self._kept(
            spark,
            ["/p/page", "/p/other", "/q"],
            [("deny", "/p/"), ("allow", "/p/page")],
        )
        assert kept == {"/p/page", "/q"}

    def test_tie_prefers_allow(self, spark):
        kept = self._kept(
            spark, ["/page"], [("deny", "/page"), ("allow", "/page")]
        )
        assert kept == {"/page"}

    def test_regex_specials_are_literal(self, spark):
        kept = self._kept(
            spark,
            ["/a.b/c", "/aXb/c"],
            [("deny", "/a.b/")],
        )
        # '.' must be literal: /aXb must NOT be blocked
        assert kept == {"/aXb/c"}
        # ... also in a wildcard or anchored rule
        assert self._kept(spark, ["/a.b/c", "/aXb/c"], [("deny", "/a.b*")]) == {
            "/aXb/c"
        }
        assert self._kept(spark, ["/a+b", "/aab"], [("deny", "/a+b$")]) == {"/aab"}
        assert self._kept(
            spark, ["/x(1)[2]/y", "/x11/y"], [("deny", "/x(*)[*]/*$")]
        ) == {"/x11/y"}

    def test_query_is_matched(self, spark):
        """Rules match the path plus query: '/*?' blocks every query URL,
        '/s?id=' names one, and '$' anchors after the query."""
        kept = self._kept(
            spark,
            ["/a?x=1", "/s?id=3", "/b", "/c.pdf?v=2", "/c.pdf"],
            [("deny", "/*?"), ("allow", "/*.pdf")],
        )
        assert kept == {"/b", "/c.pdf?v=2", "/c.pdf"}
        kept = self._kept(
            spark, ["/s?id=3", "/s", "/c.pdf?v=2"], [("deny", "/s?id="), ("deny", "/*.pdf$")]
        )
        assert kept == {"/s", "/c.pdf?v=2"}

    def test_glob_edges(self, spark):
        cases = [
            ("/a*$", ["/a", "/ab", "/b"], {"/b"}),  # '*$' anchors nothing
            ("/a$", ["/a", "/ab"], {"/ab"}),  # '$' alone: exact path
            ("*/cache", ["/x/cache/y", "/cache", "/cach"], {"/cach"}),
            ("/a**b", ["/ab", "/axb", "/ba"], {"/ba"}),
            # head and tail may not overlap: /ab*ba$ needs at least /abba
            ("/ab*ba$", ["/aba", "/abba", "/abxba"], {"/aba"}),
            ("/a*b*c$", ["/abc", "/acbc", "/acb", "/abcx"], {"/acb", "/abcx"}),
        ]
        for pattern, paths, expected in cases:
            assert self._kept(spark, paths, [("deny", pattern)]) == expected, pattern

    def test_glob_matches_reference(self, spark):
        """Random patterns over a small alphabet against a Python regex
        translation of RFC 9309 ('*' → '.*', a trailing '$' → end)."""
        import random
        import re

        rng = random.Random(7)
        pairs = []
        for i in range(300):
            pattern = rng.choice("/*") + "".join(
                rng.choice("ab/.?*") for _ in range(rng.randint(0, 5))
            )
            if rng.random() < 0.4:
                pattern += "$"
            path = "/" + "".join(rng.choice("ab/.?") for _ in range(rng.randint(0, 7)))
            pairs.append((f"h{i}.com", pattern, path))

        def ref(pattern, path):
            anchored = pattern.endswith("$")
            body = pattern[:-1] if anchored else pattern
            rx = ".*".join(re.escape(x) for x in body.split("*"))
            return re.match(rx + ("$" if anchored else ""), path) is not None

        f = spark.createDataFrame(
            [(f"http://{h}{p}", h, 1.0) for h, _, p in pairs],
            "canon_url string, host string, priority double",
        )
        rules = spark.createDataFrame(
            [(h, "deny", pat) for h, pat, _ in pairs],
            "host string, rule_type string, path_prefix string",
        )
        kept = {r["host"] for r in frontier.apply_robots(f, rules).collect()}
        expected = {h for h, pat, p in pairs if not ref(pat, p)}
        assert kept == expected

    def test_many_star_rule_is_fast(self, spark):
        """A hostile rule with many stars on a long path that does not
        match: a backtracking regex of it does not finish in minutes; the
        segment search does at most path × pattern length work."""
        import time

        hostile = "/" + "*a" * 16 + "*b"
        long_miss = "/" + "a" * 20000
        t0 = time.perf_counter()
        kept = self._kept(
            spark, [long_miss, long_miss + "b"], [("deny", hostile)]
        )
        assert kept == {long_miss}
        assert time.perf_counter() - t0 < 60

    def test_no_rules_host_allowed(self, spark):
        f = self._frontier(spark, ["/x"], host="other.com")
        out = frontier.apply_robots(f, self._rules(spark, [("deny", "/")]))
        assert out.count() == 1

    def test_crawl_round_wildcard_style(self, spark):
        from wbx.frontier import crawl_round

        cand = spark.createDataFrame(
            [("http://h.com/fish/1", 1.0), ("http://h.com/ok/1", 1.0)],
            "url string, priority double",
        )
        seen = spark.createDataFrame([], "url_hash long, canon_url string")
        hosts = spark.createDataFrame([("h.com", 5)], "host string, budget int")
        robots = self._rules(spark, [("deny", "/fish*")])
        out = crawl_round(cand, seen, hosts, robots)
        assert [r["canon_url"] for r in out.collect()] == ["http://h.com/ok/1"]

    def test_crawl_round_honours_parsed_wildcards(self, spark):
        """Parsed '*' and '$' rules bind the default crawl round: only
        /a.pdfx (not .pdf-anchored) and /ok are scheduled."""
        from wbx.frontier import crawl_round, parse_robots_txt

        files = spark.createDataFrame(
            [("h.com", "User-agent: *\nDisallow: /*.pdf$\nDisallow: /tmp*/cache")],
            "host string, body string",
        )
        paths = ["/a.pdf", "/d/b.pdf", "/a.pdfx", "/tmp1/cache/x", "/ok"]
        cand = spark.createDataFrame(
            [(f"http://h.com{p}", 1.0) for p in paths], "url string, priority double"
        )
        seen = spark.createDataFrame([], "url_hash long, canon_url string")
        hosts = spark.createDataFrame([("h.com", 10)], "host string, budget int")
        out = crawl_round(cand, seen, hosts, parse_robots_txt(files))
        assert sorted(r["canon_url"] for r in out.collect()) == [
            "http://h.com/a.pdfx",
            "http://h.com/ok",
        ]


class TestAnchorLinks:
    """extract_anchor_links: anchor-scoped discovery honoring rel=nofollow
    and the page-level <meta name=robots> nofollow/none directives."""

    def _pages(self, spark, *rows):
        return spark.createDataFrame(
            [(u, h if isinstance(h, (bytes, bytearray)) else h.encode()) for u, h in rows],
            "url string, html binary",
        )

    def _links(self, df, **kw):
        return sorted(
            (r["url"], r["link"])
            for r in frontier.extract_anchor_links(df, **kw).collect()
        )

    def test_rel_nofollow_dropped_all_forms(self, spark):
        html = (
            '<a rel="nofollow" href="/no1">rel-first</a>'
            '<a href="/no2" rel="nofollow">href-first</a>'
            "<a href='/no3' rel='external nofollow noopener'>multi-token</a>"
            "<A HREF=/no4 REL=NOFOLLOW>caps-unquoted</A>"
            '<a href="/yes1" rel="me external">other-rel</a>'
            '<a href="/yes2">no-rel</a>'
        )
        out = self._links(self._pages(spark, ("http://ex.com/d/p", html)))
        assert out == [
            ("http://ex.com/d/p", "http://ex.com/yes1"),
            ("http://ex.com/d/p", "http://ex.com/yes2"),
        ]

    def test_nofollow_token_not_substring(self, spark):
        # "nofollowish" is NOT the nofollow token (\b boundary)
        html = '<a href="/kept" rel="nofollowish">x</a>'
        out = self._links(self._pages(spark, ("http://ex.com/", html)))
        assert out == [("http://ex.com/", "http://ex.com/kept")]

    def test_meta_robots_gates_whole_page(self, spark):
        pages = self._pages(
            spark,
            ("http://nf.com/", '<meta name="robots" content="nofollow"><a href="/x">1</a>'),
            ("http://none.com/", "<meta content='NONE' name=robots><a href='/x'>1</a>"),
            ("http://ni.com/", "<meta name=robots content=noindex><a href=/kept>1</a>"),
            ("http://plain.com/", '<a href="/kept">1</a>'),
        )
        out = self._links(pages)
        assert out == [
            ("http://ni.com/", "http://ni.com/kept"),
            ("http://plain.com/", "http://plain.com/kept"),
        ]
        # knobs off: everything comes back
        out_all = self._links(pages, respect_nofollow=False, respect_meta=False)
        assert len(out_all) == 4

    def test_anchor_scoped_not_link_tags(self, spark):
        html = (
            '<link rel="stylesheet" href="/style.css">'
            '<area href="/map">'
            '<a href="/real">1</a>'
        )
        out = self._links(self._pages(spark, ("http://ex.com/", html)))
        assert out == [("http://ex.com/", "http://ex.com/real")]

    def test_resolution_and_drops_match_extract_links(self, spark):
        html = (
            '<a href="https://abs.com/x">1</a>'
            '<a href="//cdn.com/p">2</a>'
            '<a href="/rooted">3</a>'
            '<a href="sib.html">4</a>'
            '<a href="javascript:void(0)">5</a>'
            '<a href="MAILTO:x@y.z">6</a>'
            '<a href="#frag">7</a>'
        )
        pages = self._pages(spark, ("https://ex.com/dir/page.html", html))
        assert {l for _, l in self._links(pages)} == {
            r["link"] for r in frontier.extract_links(pages).collect()
        }

    def test_malformed_utf8_does_not_crash(self, spark):
        raw = b'<html>\xff\xfe<meta name="robots" content="all"><a href="/ok">x</a></html>'
        pages = self._pages(spark, ("http://ex.com/", raw))
        assert self._links(pages) == [("http://ex.com/", "http://ex.com/ok")]


class TestAnchorTexts:
    """extract_anchor_texts / anchor_text_summary: the per-target anchor
    label signal (leading text node, whitespace-normalized)."""

    def _pages(self, spark, *rows):
        return spark.createDataFrame(
            [(u, h.encode() if isinstance(h, str) else h) for u, h in rows],
            "url string, html binary",
        )

    def test_texts_and_normalization(self, spark):
        html = (
            '<a href="/a">plain</a>'
            '<a href="/b">  runs \n\t of   space  </a>'
            '<a href="/c"><b>markup-first</b> tail</a>'
            '<a href="/d"></a>'
            '<a href="/no" rel="nofollow">dropped</a>'
        )
        out = sorted(
            (r["link"], r["anchor_text"])
            for r in frontier.extract_anchor_texts(
                self._pages(spark, ("http://ex.com/", html))
            ).collect()
        )
        # the declared contract: leading text node only — an anchor whose
        # first child is markup reports ''
        assert out == [
            ("http://ex.com/a", "plain"),
            ("http://ex.com/b", "runs of space"),
            ("http://ex.com/c", ""),
            ("http://ex.com/d", ""),
        ]

    def test_links_agree_with_extract_anchor_links(self, spark):
        html = (
            '<meta name=robots content=none><a href="/x">gated</a>'
        )
        p1 = self._pages(spark, ("http://nf.com/", html))
        assert frontier.extract_anchor_texts(p1).count() == 0
        html2 = '<a href="sib.html">1</a><a href="JAVASCRIPT:x()">2</a>'
        p2 = self._pages(spark, ("https://ex.com/dir/page.html", html2))
        assert {
            r["link"] for r in frontier.extract_anchor_texts(p2).collect()
        } == {r["link"] for r in frontier.extract_anchor_links(p2).collect()}

    def test_truncated_open_tag_has_no_text_row(self, spark):
        # declared divergence: an unclosed open tag still yields a LINK
        # (extract_anchor_links) but has no text node to report here
        p = self._pages(
            spark, ("http://e.com/", '<a href="/ok">t</a><a href="/trunc"')
        )
        assert sorted(
            r["link"] for r in frontier.extract_anchor_links(p).collect()
        ) == ["http://e.com/ok", "http://e.com/trunc"]
        assert [
            (r["link"], r["anchor_text"])
            for r in frontier.extract_anchor_texts(p).collect()
        ] == [("http://e.com/ok", "t")]

    def test_summary_counts_and_tie_breaks(self, spark):
        rows = [
            ("u1", "http://t/1", "home"),
            ("u2", "http://t/1", "home"),
            ("u3", "http://t/1", "start"),
            ("u4", "http://t/2", "b"),
            ("u5", "http://t/2", "a"),  # tie at n=1 -> lexicographic min
        ]
        anchors = spark.createDataFrame(
            rows, "url string, link string, anchor_text string"
        )
        out = {
            r["link"]: (r["n_anchors"], r["n_texts"], r["top_text"])
            for r in frontier.anchor_text_summary(anchors).collect()
        }
        assert out == {
            "http://t/1": (3, 2, "home"),
            "http://t/2": (2, 2, "a"),
        }
        # deterministic at any parallelism
        b = {
            r["link"]: (r["n_anchors"], r["n_texts"], r["top_text"])
            for r in frontier.anchor_text_summary(anchors.repartition(7)).collect()
        }
        assert b == out


class TestDiscoverAlternates:
    """discover_alternates: hreflang language editions + RSS/Atom feed
    autodiscovery from <link rel=alternate> tags."""

    def _pages(self, spark, *rows):
        return spark.createDataFrame(
            [(u, h.encode() if isinstance(h, str) else h) for u, h in rows],
            "url string, html binary",
        )

    def _rows(self, df):
        return sorted(
            (r["rel_type"], r["alt"], r["link"])
            for r in frontier.discover_alternates(df).collect()
        )

    def test_hreflang_forms_and_case(self, spark):
        html = (
            '<link rel="alternate" hreflang="en" href="/en/p">'
            "<link hreflang='DE-de' rel=alternate href='/de/p'>"
            "<link rel=alternate hreflang=fr href=/fr/p>"
            '<link rel="stylesheet" href="/css">'
            '<link rel="alternate" type="text/html" href="/m/p">'
        )
        out = self._rows(self._pages(spark, ("https://ex.com/a/b", html)))
        # attribute orders, all three quoting styles, BCP47 lowercasing;
        # stylesheet and non-feed text/html alternates dropped
        assert out == [
            ("hreflang", "de-de", "https://ex.com/de/p"),
            ("hreflang", "en", "https://ex.com/en/p"),
            ("hreflang", "fr", "https://ex.com/fr/p"),
        ]

    def test_feed_autodiscovery(self, spark):
        html = (
            '<link rel="alternate" type="application/rss+xml" href="feed.xml">'
            "<link type='APPLICATION/ATOM+XML' rel='alternate' href='/atom'>"
            '<link rel="alternate" type="application/json" href="/api">'
        )
        out = self._rows(self._pages(spark, ("https://ex.com/dir/page", html)))
        assert out == [
            ("feed", "application/atom+xml", "https://ex.com/atom"),
            ("feed", "application/rss+xml", "https://ex.com/dir/feed.xml"),
        ]

    def test_malformed_utf8_and_drops(self, spark):
        raw = (
            b'<link rel="alternate" hreflang="en" href="javascript:x()">'
            b"\xff\xfe"
            b'<link rel="alternate" hreflang="sv" href="/sv">'
        )
        out = self._rows(self._pages(spark, ("http://e.com/", raw)))
        assert out == [("hreflang", "sv", "http://e.com/sv")]


class TestPageRobotsDirectives:
    def _one(self, spark, html):
        df = spark.createDataFrame(
            [("u", html.encode())], "url string, html binary"
        )
        r = frontier.page_robots_directives(df).first()
        return (r["noindex"], r["nofollow"])

    def test_token_matrix(self, spark):
        cases = {
            '<meta name="robots" content="noindex, nofollow">': (True, True),
            '<meta name="robots" content="noindex">': (True, False),
            '<meta name="robots" content="nofollow">': (False, True),
            '<meta name="robots" content="none">': (True, True),
            '<meta name="robots" content="all">': (False, False),
            '<meta name="robots" content="index, follow">': (False, False),
            "no meta at all": (False, False),
            # content-first attribute order, mixed case
            "<meta content='NoIndex' name=robots>": (True, False),
            # self-closing, unquoted
            "<meta name=robots content=nofollow/>": (False, True),
            # a DIFFERENT meta must not trigger (name != robots)
            '<meta name="description" content="noindex nofollow">': (False, False),
        }
        for html, want in cases.items():
            assert self._one(spark, html) == want, html

    def test_malformed_utf8(self, spark):
        df = spark.createDataFrame(
            [("u", bytearray(b'\xff<meta name="robots" content="none">'))],
            "url string, html binary",
        )
        r = frontier.page_robots_directives(df).first()
        assert (r["noindex"], r["nofollow"]) == (True, True)


class TestAdaptiveBudgets:
    def test_budget_scales_with_success_rate(self, spark):
        from wbx.frontier import budgets_from_history

        log = spark.createDataFrame(
            # h1: 4/4 ok; h2: 1/4 ok; h3: 0/2 ok (all 503); h4: 3xx counts ok
            [("h1", 200)] * 4
            + [("h2", 200), ("h2", 404), ("h2", 500), ("h2", 503)]
            + [("h3", 503), ("h3", 503)]
            + [("h4", 301), ("h4", 302)],
            "host string, status int",
        )
        out = {r["host"]: r["budget"] for r in budgets_from_history(log, base_budget=100).collect()}
        assert out == {"h1": 100, "h2": 25, "h3": 1, "h4": 100}

    def test_clamps(self, spark):
        from wbx.frontier import budgets_from_history

        log = spark.createDataFrame(
            [("h", 200)], "host string, status int"
        )
        out = budgets_from_history(log, base_budget=5000, max_budget=300).first()
        assert out["budget"] == 300

    def test_combine_takes_conservative_min(self, spark):
        from wbx.frontier import combine_budgets

        a = spark.createDataFrame([("h1", 10), ("h2", 50)], "host string, budget int")
        b = spark.createDataFrame([("h2", 20), ("h3", 7)], "host string, budget int")
        out = {r["host"]: r["budget"] for r in combine_budgets(a, b).collect()}
        assert out == {"h1": 10, "h2": 20, "h3": 7}


class TestScheduleWithDelays:
    def _batch(self, spark):
        rows = [
            ("u%d" % i, "slow.com" if i % 2 == 0 else "fast.com", i + 1)
            for i in range(6)
        ]
        return spark.createDataFrame(
            rows, "canon_url string, host string, fetch_order int"
        )

    def test_eta_spacing(self, spark):
        from wbx.frontier import schedule_with_delays

        delays = spark.createDataFrame(
            [("slow.com", 10.0)], "host string, crawl_delay double"
        )
        out = schedule_with_delays(self._batch(spark), delays).collect()
        by_url = {r["canon_url"]: r for r in out}
        # slow.com rows u0,u2,u4 (orders 1,3,5) → seq 1,2,3 → eta 0,10,20
        assert [by_url["u%d" % i]["eta_s"] for i in (0, 2, 4)] == [0.0, 10.0, 20.0]
        assert [by_url["u%d" % i]["host_seq"] for i in (0, 2, 4)] == [1, 2, 3]
        # fast.com has no delay row → default 0.0
        assert all(by_url["u%d" % i]["eta_s"] == 0.0 for i in (1, 3, 5))

    def test_default_delay_and_determinism(self, spark):
        from wbx.frontier import schedule_with_delays

        delays = spark.createDataFrame([], "host string, crawl_delay double")
        b = self._batch(spark)
        out1 = schedule_with_delays(b, delays, default_delay=2.0)
        assert sorted(
            (r["host"], r["host_seq"], r["eta_s"]) for r in out1.collect()
        ) == sorted(
            (r["host"], r["host_seq"], r["eta_s"])
            for r in schedule_with_delays(b.repartition(7), delays, default_delay=2.0).collect()
        )
        # seq 2 on each host at delay 2 → eta 2.0
        assert {r["eta_s"] for r in out1.filter("host_seq = 2").collect()} == {2.0}


class TestExpandRespectNofollow:
    def test_knob_routes_through_anchor_extraction(self, spark):
        from wbx.frontier import expand_from_html

        pages = spark.createDataFrame(
            [
                (
                    "http://a.com/",
                    b'<a href="/keep">k</a><a rel="nofollow" href="/drop">d</a>'
                    b'<link href="/style.css">',
                )
            ],
            "url string, html binary",
        )
        default = {r["url"] for r in expand_from_html(pages).collect()}
        strict = {
            r["url"]
            for r in expand_from_html(pages, respect_nofollow=True).collect()
        }
        # document-wide scan sees all three hrefs; anchor-scoped REP mode
        # drops the nofollow anchor and the <link> tag
        assert default == {
            "http://a.com/keep",
            "http://a.com/drop",
            "http://a.com/style.css",
        }
        assert strict == {"http://a.com/keep"}


class TestScopeAndRetry:
    def test_scope_to_domains(self, spark):
        from wbx.frontier import scope_to_domains

        f = spark.createDataFrame(
            [
                ("u1", "docs.gov.uk"),
                ("u2", "gov.uk"),
                ("u3", "evil.com"),
                ("u4", "notgov.uk"),
                ("u5", "a.b.example.org"),
            ],
            "canon_url string, host string",
        )
        allow = spark.createDataFrame(
            [("gov.uk",), ("example.org",)], "domain string"
        )
        kept = {r["host"] for r in scope_to_domains(f, allow).collect()}
        # suffix = whole dot-separated labels: notgov.uk is NOT in scope
        assert kept == {"docs.gov.uk", "gov.uk", "a.b.example.org"}

    def test_retry_backoff_schedule(self, spark):
        from wbx.frontier import retry_candidates

        log = spark.createDataFrame(
            [
                # u1: failed once (round 3) -> retry at 3 + 2^1 = 5
                ("u1", 503, 3),
                # u2: failed twice, latest round 4 -> 4 + 2^2 = 8
                ("u2", 500, 2), ("u2", 429, 4),
                # u3: failed then SUCCEEDED -> settled, no retry
                ("u3", 503, 1), ("u3", 200, 2),
                # u4: 404 is not retryable
                ("u4", 404, 1),
                # u5: network error (status 0) counts as retryable
                ("u5", 0, 2),
                # u6: exhausted (4 failures > max_attempts=3)
                ("u6", 500, 1), ("u6", 500, 2), ("u6", 500, 3), ("u6", 500, 4),
                # u7: exactly max_attempts retryable failures — retries
                # exhausted, NOT scheduled a (max_attempts+1)-th time
                ("u7", 500, 1), ("u7", 503, 2), ("u7", 500, 3),
                # u8: one shy of the cap -> still retries
                ("u8", 500, 1), ("u8", 503, 2),
            ],
            "canon_url string, status int, round int",
        )
        out = {
            r["url"]: (r["attempts"], r["retry_after_round"])
            for r in retry_candidates(log, max_attempts=3).collect()
        }
        assert out == {"u1": (1, 5), "u2": (2, 8), "u5": (1, 4), "u8": (2, 6)}

    def test_retry_determinism_across_parallelism(self, spark):
        from wbx.frontier import retry_candidates

        rows = [("u%d" % (i % 50), 500 if i % 3 else 200, i % 7) for i in range(400)]
        log = spark.createDataFrame(rows, "canon_url string, status int, round int")
        a = sorted(map(tuple, retry_candidates(log).collect()))
        b = sorted(map(tuple, retry_candidates(log.repartition(13)).collect()))
        assert a == b


class TestSitemapEntries:
    def _sm(self, spark, xml: bytes):
        return spark.createDataFrame(
            [("https://h.com/sm.xml", bytearray(xml))],
            "sitemap_url string, body binary",
        )

    def test_full_entry_and_defaults(self, spark):
        from wbx.frontier import parse_sitemap_entries, sitemap_candidates

        xml = (
            b"<urlset><url><loc> https://h.com/a&amp;v=1 </loc>"
            b"<lastmod>2024-03-05T10:00:00Z</lastmod>"
            b"<changefreq>DAILY</changefreq><priority>0.8</priority></url>"
            b"<url><loc>https://h.com/b</loc></url>"
            b"<url><lastmod>2024-01-01</lastmod></url>"  # no loc: dropped
            b"<url><loc>https://h.com/c</loc><priority>junk</priority></url>"
            b"</urlset>\xff"  # malformed byte must not crash
        )
        rows = sorted(
            map(tuple, parse_sitemap_entries(self._sm(spark, xml)).collect())
        )
        assert rows == [
            ("https://h.com/sm.xml", "https://h.com/a&v=1", "2024-03-05T10:00:00Z", "daily", 0.8),
            ("https://h.com/sm.xml", "https://h.com/b", None, None, None),
            ("https://h.com/sm.xml", "https://h.com/c", None, None, None),
        ]
        cand = {
            r["url"]: r["priority"]
            for r in sitemap_candidates(
                parse_sitemap_entries(self._sm(spark, xml))
            ).collect()
        }
        assert cand == {
            "https://h.com/a&v=1": 0.8,
            "https://h.com/b": 0.5,
            "https://h.com/c": 0.5,
        }

    def test_priority_clamped(self, spark):
        from wbx.frontier import parse_sitemap_entries, sitemap_candidates

        xml = (
            b"<urlset><url><loc>https://h.com/hi</loc><priority>9.5</priority></url>"
            b"<url><loc>https://h.com/lo</loc><priority>-2</priority></url></urlset>"
        )
        cand = {
            r["url"]: r["priority"]
            for r in sitemap_candidates(
                parse_sitemap_entries(self._sm(spark, xml))
            ).collect()
        }
        assert cand == {"https://h.com/hi": 1.0, "https://h.com/lo": 0.0}

    def test_changefreq_vocabulary(self):
        from wbx.frontier import CHANGEFREQ_SECONDS

        assert CHANGEFREQ_SECONDS["always"] == 0
        assert CHANGEFREQ_SECONDS["daily"] == 86400
        assert "never" not in CHANGEFREQ_SECONDS


class TestNormalizeQuery:
    def _n(self, spark, urls, **kw):
        from wbx.frontier import normalize_query

        df = spark.createDataFrame([(u,) for u in urls], "url string")
        return [
            r["n"]
            for r in df.select(
                normalize_query(F.col("url"), **kw).alias("n")
            ).collect()
        ]

    def test_strip_sort_and_empty_query(self, spark):
        got = self._n(
            spark,
            [
                "http://h/p?b=2&utm_source=x&a=1",
                "http://h/p?utm_campaign=z",
                "http://h/p?gclid=1&A=2",
                "http://h/p",
                "http://h/p?",
                "http://h/p?a&&b=1",
                "http://h/p?UTM_MEDIUM=m&x=1",
            ],
        )
        assert got == [
            "http://h/p?a=1&b=2",
            "http://h/p",
            "http://h/p?A=2",
            "http://h/p",
            "http://h/p",
            "http://h/p?a&b=1",
            "http://h/p?x=1",
        ]

    def test_knobs(self, spark):
        # keep tracking, keep order
        got = self._n(
            spark,
            ["http://h/p?b=1&utm_source=x&a=2"],
            drop_tracking=False,
            sort_params=False,
        )
        assert got == ["http://h/p?b=1&utm_source=x&a=2"]

    def test_idempotent(self, spark):
        from wbx.frontier import normalize_query

        urls = [
            "http://h/p?b=2&utm_source=x&a=1",
            "http://h/p?z=1&y=2&x=3",
            "http://h/p",
        ]
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        once = df.select(normalize_query(F.col("url")).alias("u"))
        twice = once.select(normalize_query(F.col("u")).alias("u"))
        assert [r["u"] for r in once.collect()] == [
            r["u"] for r in twice.collect()
        ]


class TestMirrorDetection:
    def _pages(self, spark):
        rows = []
        # m1 and m2: identical 30-doc content sets (perfect mirrors);
        # m3 shares 15 of 30 with m1 (partial); solo is disjoint
        for i in range(30):
            rows.append(("m1.com", f"shared doc {i}"))
            rows.append(("m2.com", f"shared doc {i}"))
            rows.append(("m3.com", f"shared doc {i}" if i < 15 else f"own {i}"))
            rows.append(("solo.com", f"unique {i}"))
        # duplicate captures must not distort the set comparison
        rows += [("m1.com", "shared doc 0")] * 5
        return spark.createDataFrame(rows, "host string, text string")

    def test_mirror_pairs(self, spark):
        from wbx.frontier import detect_mirrors

        out = {
            (r["host_a"], r["host_b"]): r
            for r in detect_mirrors(self._pages(spark), threshold=0.9).collect()
        }
        assert set(out) == {("m1.com", "m2.com")}
        r = out[("m1.com", "m2.com")]
        assert (r["intersection"], r["n_a"], r["n_b"], r["jaccard"]) == (30, 30, 30, 1.0)

    def test_partial_overlap_found_at_lower_threshold(self, spark):
        from wbx.frontier import detect_mirrors

        # low-similarity pairs need finer banding for recall (32 bands of
        # 2 rows: P(candidate | s=1/3) ≈ 0.98 vs 0.18 at 16×4); fixed
        # seed makes the outcome deterministic either way
        out = {
            (r["host_a"], r["host_b"]): round(r["jaccard"], 3)
            for r in detect_mirrors(
                self._pages(spark), threshold=0.3, bands=32
            ).collect()
        }
        assert out[("m1.com", "m2.com")] == 1.0
        # |m1 ∩ m3| = 15, union = 45 → 1/3
        assert out[("m1.com", "m3.com")] == 0.333
        assert out[("m2.com", "m3.com")] == 0.333
        assert not any("solo.com" in k for k in out)

    def test_deterministic_across_parallelism(self, spark):
        from wbx.frontier import detect_mirrors

        p = self._pages(spark)
        a = sorted(
            map(tuple, detect_mirrors(p, threshold=0.3, bands=32).collect())
        )
        b = sorted(
            map(
                tuple,
                detect_mirrors(
                    p.repartition(17), threshold=0.3, bands=32
                ).collect(),
            )
        )
        assert a == b


class TestDemoteMirrorHosts:
    def _inputs(self, spark):
        pairs = spark.createDataFrame(
            # a~b and b~c: transitive cluster {a,b,c}, rep = a.com (min)
            [("a.com", "b.com"), ("b.com", "c.com"), ("x.com", "y.com")],
            "host_a string, host_b string",
        )
        frontier = spark.createDataFrame(
            [
                ("http://a.com/1", "a.com", 5.0),
                ("http://b.com/1", "b.com", 5.0),
                ("http://c.com/1", "c.com", 5.0),
                ("http://x.com/1", "x.com", 5.0),
                ("http://y.com/1", "y.com", 5.0),
                ("http://z.com/1", "z.com", 5.0),
            ],
            "canon_url string, host string, priority double",
        )
        return frontier, pairs

    def test_drop_keeps_cluster_representative(self, spark):
        from wbx.frontier import demote_mirror_hosts

        frontier, pairs = self._inputs(spark)
        kept = {
            r["host"] for r in demote_mirror_hosts(frontier, pairs).collect()
        }
        assert kept == {"a.com", "x.com", "z.com"}

    def test_deprioritize_keeps_rows(self, spark):
        from wbx.frontier import demote_mirror_hosts

        frontier, pairs = self._inputs(spark)
        out = {
            r["host"]: r["priority"]
            for r in demote_mirror_hosts(
                frontier, pairs, mode="deprioritize", penalty=100.0
            ).collect()
        }
        assert out == {
            "a.com": 5.0,
            "b.com": -95.0,
            "c.com": -95.0,
            "x.com": 5.0,
            "y.com": -95.0,
            "z.com": 5.0,
        }
        import pytest as _pytest

        with _pytest.raises(ValueError):
            demote_mirror_hosts(frontier, pairs, mode="nope")


class TestRobotsUaPrecedence:
    BODY = (
        "User-agent: *\nDisallow: /all\n\n"
        "User-agent: WbxBot\nDisallow: /bot\nAllow: /bot/ok\n\n"
        "User-agent: other\nDisallow: /\n"
    )

    def _rules(self, spark, ua):
        files = spark.createDataFrame(
            [("h.com", self.BODY)], "host string, body string"
        )
        return sorted(
            (r["rule_type"], r["path_prefix"])
            for r in frontier.parse_robots_txt(files, user_agent=ua).collect()
        )

    def test_specific_group_shadows_wildcard(self, spark):
        # REP: the most specific matching group wins — '*' rules ignored
        assert self._rules(spark, "WbxBot") == [
            ("allow", "/bot/ok"),
            ("deny", "/bot"),
        ]

    def test_ua_match_case_insensitive(self, spark):
        assert self._rules(spark, "wbxbot") == [
            ("allow", "/bot/ok"),
            ("deny", "/bot"),
        ]

    def test_unknown_ua_falls_back_to_wildcard(self, spark):
        assert self._rules(spark, "SomeOtherBot") == [("deny", "/all")]

    def test_star_request_unchanged(self, spark):
        assert self._rules(spark, "*") == [("deny", "/all")]


class TestRevalidationHeaders:
    def test_latest_capture_wins_and_formats(self, spark):
        from wbx.frontier import revalidation_headers

        hist = spark.createDataFrame(
            [
                ("u1", "2024-01-01 00:00:01", '"e1"', None),
                ("u1", "2024-03-05 10:00:00", '"e2"', "Tue, 05 Mar 2024 09:59:00 GMT"),
                ("u2", "2024-02-02 02:02:02", None, None),
            ],
            "canon_url string, ts string, etag string, last_modified string",
        ).selectExpr(
            "canon_url", "CAST(ts AS TIMESTAMP) AS warc_ts", "etag", "last_modified"
        )
        out = {r["url"]: r for r in revalidation_headers(hist).collect()}
        assert out["u1"]["if_none_match"] == '"e2"'
        # stored Last-Modified preferred over the capture-time fallback
        assert out["u1"]["if_modified_since"] == "Tue, 05 Mar 2024 09:59:00 GMT"
        assert out["u2"]["if_none_match"] is None
        assert out["u2"]["if_modified_since"] == "Fri, 02 Feb 2024 02:02:02 GMT"

    def test_deterministic_across_parallelism(self, spark):
        from wbx.frontier import revalidation_headers

        rows = [
            ("u%d" % (i % 9), "2024-01-0%d 00:00:0%d" % (1 + i % 7, i % 10),
             '"e%d"' % i, None)
            for i in range(200)
        ]
        hist = spark.createDataFrame(
            rows, "canon_url string, ts string, etag string, last_modified string"
        ).selectExpr(
            "canon_url", "CAST(ts AS TIMESTAMP) AS warc_ts", "etag", "last_modified"
        )
        a = sorted(map(tuple, revalidation_headers(hist).collect()))
        b = sorted(map(tuple, revalidation_headers(hist.repartition(11)).collect()))
        assert a == b
