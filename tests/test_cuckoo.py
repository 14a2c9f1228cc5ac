"""Partitioned cuckoo-filter seen-set: membership, deletion, saturation,
determinism, and the JVM-only probe plan guard (wbx/cuckoo.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from wbx import cuckoo, frontier


def urls_df(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def make_sets(spark, n=1000, seen_mod=3, hosts=37):
    cand = frontier.with_canonical(
        urls_df(spark, [f"http://h{i % hosts}.com/p{i}" for i in range(n)])
    )
    seen = cand.filter((F.col("url_hash") % seen_mod) == 0).select(
        "url_hash", "canon_url"
    )
    return cand, seen


class TestCuckooMembership:
    def test_no_false_negatives(self, spark):
        cand, seen = make_sets(spark, n=1000)
        ck = cuckoo.build_seen_cuckoo(seen, partitions=4)
        tagged = cuckoo.cuckoo_might_contain(cand, ck, 4)
        missed = (
            tagged.join(seen.select("url_hash"), "url_hash", "left_semi")
            .filter(~F.col("_maybe_seen"))
            .count()
        )
        assert missed == 0

    def test_false_positive_rate_bounded(self, spark):
        """16-bit fingerprints: FPP ≈ 8/2^16 ≈ 0.012% — assert well under
        1% on 10k unseen probes."""
        cand, seen = make_sets(spark, n=10_000)
        ck = cuckoo.build_seen_cuckoo(seen, partitions=4)
        tagged = cuckoo.cuckoo_might_contain(cand, ck, 4)
        unseen = tagged.join(seen.select("url_hash"), "url_hash", "left_anti")
        fpos = unseen.filter(F.col("_maybe_seen")).count()
        assert fpos <= unseen.count() * 0.01

    def test_filter_path_equals_exact_path(self, spark):
        cand, seen = make_sets(spark)
        ck = cuckoo.build_seen_cuckoo(seen, partitions=8)
        via = sorted(
            r["canon_url"]
            for r in frontier.filter_unseen(
                cand, frontier.SeenSet(seen, sketch=ck, partitions=8)
            ).collect()
        )
        exact = sorted(
            r["canon_url"] for r in frontier.filter_unseen(cand, seen).collect()
        )
        assert via == exact

    def test_copartitioned_mode_bit_identical(self, spark):
        cand, seen = make_sets(spark)
        ck = cuckoo.build_seen_cuckoo(seen, partitions=8)
        tag = lambda mode: sorted(
            (r["canon_url"], r["_maybe_seen"])
            for r in cuckoo.cuckoo_might_contain(cand, ck, 8, mode=mode).collect()
        )
        assert tag("broadcast") == tag("copartition")

    def test_empty_filter_means_all_unseen(self, spark):
        cand, _ = make_sets(spark, n=50)
        ck = cuckoo.empty_seen_cuckoo(spark)
        tagged = cuckoo.cuckoo_might_contain(cand, ck, 8)
        assert tagged.filter(F.col("_maybe_seen")).count() == 0

    def test_geometry_mismatch_raises(self, spark):
        _, seen = make_sets(spark, n=100)
        ck = cuckoo.build_seen_cuckoo(seen, partitions=4, nbuckets=64)
        with pytest.raises(Exception, match="geometry mismatch"):
            cuckoo.update_seen_cuckoo(ck, seen, 4, nbuckets=128).collect()


class TestCuckooDeletion:
    """The capability that justifies the second sketch: O(1) retraction."""

    def test_deleted_keys_leave_remaining_intact(self, spark):
        cand, seen = make_sets(spark, n=2000)
        ck = cuckoo.build_seen_cuckoo(seen, partitions=8)
        dels = seen.filter((F.col("url_hash") % 2) == 0)
        kept = seen.join(dels, ["url_hash"], "left_anti")
        ck2 = cuckoo.remove_seen_cuckoo(ck, dels, 8)
        tagged = cuckoo.cuckoo_might_contain(cand, ck2, 8)
        # hard contract: keys still in the set never read unseen
        missed = (
            tagged.join(kept.select("url_hash"), "url_hash", "left_semi")
            .filter(~F.col("_maybe_seen"))
            .count()
        )
        assert missed == 0
        # deleted keys read unseen (up to the fp-collision rate: allow <1%)
        stale = (
            tagged.join(dels.select("url_hash"), "url_hash", "left_semi")
            .filter(F.col("_maybe_seen"))
            .count()
        )
        assert stale <= max(1, dels.count() * 0.01)

    def test_delete_then_reinsert_round_trips(self, spark):
        cand, seen = make_sets(spark, n=500)
        ck = cuckoo.build_seen_cuckoo(seen, partitions=4)
        dels = seen.limit(100)
        ck2 = cuckoo.remove_seen_cuckoo(ck, dels, 4)
        geo = ck.select("nbuckets", "fp_bits").head()
        ck3 = cuckoo.update_seen_cuckoo(
            ck2, dels, 4, nbuckets=int(geo["nbuckets"]), fp_bits=int(geo["fp_bits"])
        )
        tagged = cuckoo.cuckoo_might_contain(cand, ck3, 4)
        missed = (
            tagged.join(seen.select("url_hash"), "url_hash", "left_semi")
            .filter(~F.col("_maybe_seen"))
            .count()
        )
        assert missed == 0

    def test_colliding_duplicates_survive_single_delete(self, spark):
        """Two inserts of the same key store two fingerprint copies, so one
        delete leaves the key present (Fan et al. duplicate semantics —
        what makes deletion false-negative-free)."""
        _, seen = make_sets(spark, n=50)
        one = seen.limit(1)
        ck = cuckoo.build_seen_cuckoo(seen, partitions=2, nbuckets=64)
        ck2 = cuckoo.update_seen_cuckoo(ck, one, 2, nbuckets=64)  # duplicate
        ck3 = cuckoo.remove_seen_cuckoo(ck2, one, 2)
        tagged = cuckoo.cuckoo_might_contain(one, ck3, 2)
        assert tagged.filter(~F.col("_maybe_seen")).count() == 0

    def test_delete_untouched_partition_passes_through(self, spark):
        _, seen = make_sets(spark, n=400)
        ck = cuckoo.build_seen_cuckoo(seen, partitions=8).cache()
        one_part = seen.filter(F.pmod(F.col("url_hash"), F.lit(8)) == 0)
        if one_part.count() == 0:
            pytest.skip("no keys landed in partition 0")
        ck2 = cuckoo.remove_seen_cuckoo(ck, one_part, 8)
        before = {r["cuckoo_part"]: r["fps"] for r in ck.collect()}
        after = {r["cuckoo_part"]: r["fps"] for r in ck2.collect()}
        assert set(before) == set(after)
        for p in before:
            if p != 0:
                assert before[p] == after[p]


class TestCuckooSaturation:
    def test_overfull_partition_degrades_to_exact_never_lies(self, spark):
        """Force saturation (8-bucket table, hundreds of keys): the flag
        must be set, every candidate in that partition answers maybe, and
        the composed filter stays bit-identical to the exact path."""
        cand, seen = make_sets(spark, n=800, seen_mod=2)
        ck = cuckoo.build_seen_cuckoo(seen, partitions=1, nbuckets=8).cache()
        assert ck.filter(F.col("saturated")).count() == 1
        tagged = cuckoo.cuckoo_might_contain(cand, ck, 1)
        assert tagged.filter(~F.col("_maybe_seen")).count() == 0
        via = sorted(
            r["canon_url"]
            for r in frontier.filter_unseen(
                cand, frontier.SeenSet(seen, sketch=ck, partitions=1)
            ).collect()
        )
        exact = sorted(
            r["canon_url"] for r in frontier.filter_unseen(cand, seen).collect()
        )
        assert via == exact


class TestCuckooDeterminism:
    def test_same_key_set_same_layout(self, spark):
        """Rebuilding from the same key set yields byte-identical tables
        regardless of arrival order (kernel sorts before inserting) —
        required for Spark task-retry consistency."""
        _, seen = make_sets(spark, n=600)
        a = {
            r["cuckoo_part"]: r["fps"]
            for r in cuckoo.build_seen_cuckoo(seen, partitions=4, nbuckets=256).collect()
        }
        b = {
            r["cuckoo_part"]: r["fps"]
            for r in cuckoo.build_seen_cuckoo(
                seen.repartition(13).sortWithinPartitions(F.desc("canon_url")),
                partitions=4,
                nbuckets=256,
            ).collect()
        }
        assert a == b

    def test_alt_hash_jvm_python_parity(self, spark):
        """The partner-bucket hash is the one piece of arithmetic written
        twice (Column + numpy); pin them bit-identical over the full
        fingerprint domain edge + random sample."""
        fps = np.unique(
            np.concatenate(
                [
                    np.array([1, 2, 255, 256, 65534, 65535], dtype=np.int64),
                    np.linspace(1, 65535, 512).astype(np.int64),
                ]
            )
        )
        df = spark.createDataFrame([(int(v),) for v in fps], "fp long")
        jvm = [
            r["h"]
            for r in df.select(cuckoo._alt_hash_col(F.col("fp")).alias("h"))
            .orderBy("fp")
            .collect()
        ]
        py = cuckoo._alt_hash_np(np.sort(fps)).tolist()
        assert jvm == py


class TestCuckooPlan:
    def test_probe_is_jvm_only_and_broadcast(self, spark):
        """The per-candidate membership path must stay inside codegen:
        no Python eval nodes, and broadcast mode shuffles nothing."""
        cand, seen = make_sets(spark, n=200)
        ck = cuckoo.build_seen_cuckoo(seen, partitions=4).cache()
        ck.count()
        tagged = cuckoo.cuckoo_might_contain(cand.cache(), ck, 4)
        plan = tagged._jdf.queryExecution().executedPlan().toString()
        for py_node in ("ArrowEvalPython", "BatchEvalPython", "PythonUDF"):
            assert py_node not in plan, py_node
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


class TestCuckooCrawlLoop:
    """crawl_round integration: the cuckoo is a drop-in alternative
    seen-sketch with bit-identical scheduling."""

    def fixture_urls(self):
        return [
            (f"http://h{i % 7}.com/p/{i}", float(i % 5)) for i in range(300)
        ] + [(f"http://hot.example.com/x/{i}", 3.0) for i in range(60)]

    def test_cuckoo_backed_round_bit_identical(self, spark):
        urls = self.fixture_urls()
        cand = spark.createDataFrame(urls, "url string, priority double")
        seen = frontier.with_canonical(
            spark.createDataFrame([(u,) for u, _ in urls[:40]], "url string")
        ).select("url_hash", "canon_url", F.lit(0).alias("fetched_round"))
        hosts = spark.createDataFrame(
            [("hot.example.com", 7)], "host string, budget int"
        )
        plain = frontier.crawl_round(cand, seen, hosts, batch_size=50)
        rows_plain = [tuple(r) for r in plain.orderBy("fetch_order").collect()]
        frontier.release_rank_caches()
        ck = cuckoo.build_seen_cuckoo(seen, partitions=8)
        cucked = frontier.crawl_round(
            cand, frontier.SeenSet(seen, sketch=ck, partitions=8), hosts,
            batch_size=50,
        )
        rows_ck = [tuple(r) for r in cucked.orderBy("fetch_order").collect()]
        frontier.release_rank_caches()
        assert rows_plain == rows_ck
