"""Checkpoint/resume tests: atomic snapshot commits, crash tolerance, and
the north_rule resume contract (killed run → resume → identical state)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from wbx.checkpoint import CheckpointStore, run_crawl


def seeds_df(spark):
    return spark.createDataFrame(
        [(f"http://h{i % 5}.com/seed/{i}", float(i % 3)) for i in range(40)],
        "url string, priority double",
    )


def hosts_df(spark):
    return spark.createDataFrame(
        [(f"h{i}.com", 6) for i in range(5)], "host string, budget int"
    )


def make_expand(spark):
    """Deterministic expansion: each fetched URL yields two children derived
    from its url_hash — same batch always produces the same candidates."""

    def expand(batch):
        kids = batch.select(
            F.explode(F.array(F.lit(0), F.lit(1))).alias("k"),
            F.col("url_hash"),
            F.col("host"),
            F.col("priority"),
        )
        return kids.select(
            F.concat(
                F.lit("http://"),
                F.col("host"),
                F.lit("/c/"),
                F.pmod(F.col("url_hash"), F.lit(10000)),
                F.lit("/"),
                F.col("k"),
            ).alias("url"),
            F.pmod(F.col("url_hash") + F.col("k"), F.lit(3)).cast("double").alias("priority"),
        )

    return expand


class TestStore:
    def test_commit_load_roundtrip(self, spark, tmp_path):
        store = CheckpointStore(str(tmp_path / "cp"))
        df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
        store.commit(1, {"t": df})
        assert store.latest_round() == 1
        got = sorted((r["id"], r["v"]) for r in store.load(spark, "t").collect())
        assert got == [(1, "a"), (2, "b")]

    def test_manifest_points_to_last_complete_round(self, spark, tmp_path):
        store = CheckpointStore(str(tmp_path / "cp"))
        df = spark.createDataFrame([(1,)], "id long")
        store.commit(1, {"t": df})
        store.commit(2, {"t": spark.createDataFrame([(2,)], "id long")})
        m = store.manifest()
        assert m["round"] == 2
        assert m["tables"] == ["t"]

    def test_orphan_tmp_ignored_and_cleaned(self, spark, tmp_path):
        store = CheckpointStore(str(tmp_path / "cp"))
        df = spark.createDataFrame([(1,)], "id long")
        store.commit(1, {"t": df})
        # simulate a crash mid-write of round 2
        orphan = tmp_path / "cp" / "rounds" / ".tmp-r000002"
        os.makedirs(orphan / "t")
        (orphan / "t" / "part-junk").write_text("junk")
        assert store.latest_round() == 1  # reader follows manifest only
        store.commit(2, {"t": spark.createDataFrame([(2,)], "id long")})
        assert not orphan.exists()  # GC'd
        assert store.latest_round() == 2

    def test_recommit_crashed_round_is_idempotent(self, spark, tmp_path):
        store = CheckpointStore(str(tmp_path / "cp"))
        df1 = spark.createDataFrame([(1,)], "id long")
        store.commit(1, {"t": df1})
        # round dir published but manifest flip "crashed": manifest says 1
        rdir = tmp_path / "cp" / "rounds" / "r000002"
        os.makedirs(rdir)
        store.commit(2, {"t": spark.createDataFrame([(2,)], "id long")})
        assert store.load(spark, "t", 2).collect()[0]["id"] == 2


class TestResume:
    def collect_state(self, spark, store, rounds):
        logs = []
        for rid in range(1, rounds + 1):
            rows = store.load(spark, "fetch_log", rid).collect()
            logs.extend(
                sorted((r["round"], r["fetch_order"], r["canon_url"]) for r in rows)
            )
        seen = sorted(r["canon_url"] for r in store.load_seen(spark).collect())
        return logs, seen

    def test_killed_run_resumes_to_identical_state(self, spark, tmp_path):
        expand = make_expand(spark)
        hosts = hosts_df(spark)

        # uninterrupted: 3 rounds
        full = CheckpointStore(str(tmp_path / "full"))
        run_crawl(spark, full, seeds_df(spark), expand, hosts, rounds=3)

        # killed after round 2, then resumed with the same arguments
        part = CheckpointStore(str(tmp_path / "part"))
        run_crawl(spark, part, seeds_df(spark), expand, hosts, rounds=2)
        assert part.latest_round() == 2
        part2 = CheckpointStore(str(tmp_path / "part"))  # fresh handle = new process
        run_crawl(spark, part2, seeds_df(spark), expand, hosts, rounds=3)

        assert self.collect_state(spark, full, 3) == self.collect_state(spark, part2, 3)

    def test_resume_is_noop_when_already_complete(self, spark, tmp_path):
        expand = make_expand(spark)
        store = CheckpointStore(str(tmp_path / "cp"))
        run_crawl(spark, store, seeds_df(spark), expand, hosts_df(spark), rounds=2)
        before = json.dumps(store.manifest(), sort_keys=True)
        out = run_crawl(spark, store, seeds_df(spark), expand, hosts_df(spark), rounds=2)
        assert out["final_round"] == 2
        assert json.dumps(store.manifest(), sort_keys=True) == before

    def test_seen_commits_are_append_only_deltas(self, spark, tmp_path):
        """north_rule scale contract: a round commits O(batch) seen rows —
        never a rewrite of the cumulative set — and the deltas are disjoint,
        so commit cost stays constant as the crawl ages."""
        expand = make_expand(spark)
        store = CheckpointStore(str(tmp_path / "cp"))
        run_crawl(spark, store, seeds_df(spark), expand, hosts_df(spark), rounds=4)
        cumulative = 0
        for rid in range(1, 5):
            delta = store.load(spark, "seen_delta", rid).count()
            n_batch = store.load(spark, "fetch_log", rid).count()
            assert delta == n_batch
            cumulative += delta
        assert store.load_seen(spark).count() == cumulative

    def test_metrics_cover_every_round_and_partition_sums(self, spark, tmp_path):
        expand = make_expand(spark)
        store = CheckpointStore(str(tmp_path / "cp"))
        run_crawl(spark, store, seeds_df(spark), expand, hosts_df(spark), rounds=2)
        for rid in (1, 2):
            m = store.load(spark, "metrics", rid)
            sched = m.filter(F.col("metric") == "urls_scheduled").agg(
                F.sum("value")
            ).collect()[0][0]
            n_batch = store.load(spark, "fetch_log", rid).count()
            assert int(sched) == n_batch


class TestBucketedSeenBase:
    """compact_seen + load_seen_set: the shuffle-free
    membership path for the 10^10-URL seen set (frontier.filter_unseen_split).
    Correctness here; the no-exchange plan shape is pinned in test_plans.py."""

    def test_bucketed_compact_preserves_exact_seen_set(self, spark, tmp_path):
        store = CheckpointStore(str(tmp_path / "b1"))
        run_crawl(spark, store, seeds_df(spark), make_expand(spark), hosts_df(spark), rounds=3)
        before = sorted(map(tuple, store.load_seen(spark).collect()))
        marker = store.compact_seen(spark, buckets=8)
        assert marker["compacted_through"] == 3 and marker["buckets"] == 8
        assert marker["rows"] == len(before)
        seen_set = store.load_seen_set(spark)
        assert seen_set.base is not None and seen_set.recent.count() == 0
        assert sorted(map(tuple, seen_set.base.collect())) == before
        # load_seen (the union reader) sees the same set through the base
        assert sorted(map(tuple, store.load_seen(spark).collect())) == before

    def test_split_load_covers_post_compaction_deltas(self, spark, tmp_path):
        store = CheckpointStore(str(tmp_path / "b2"))
        run_crawl(spark, store, seeds_df(spark), make_expand(spark), hosts_df(spark), rounds=2)
        store.compact_seen(spark, buckets=8)
        run_crawl(spark, store, seeds_df(spark), make_expand(spark), hosts_df(spark), rounds=4)
        seen_set = store.load_seen_set(spark)
        got = sorted(map(tuple, seen_set.base.unionByName(seen_set.recent).collect()))
        assert got == sorted(map(tuple, store.load_seen(spark).collect()))
        # rounds 3-4 deltas ride the recent side
        assert seen_set.recent.count() > 0

    def test_split_load_falls_back_without_bucketed_compaction(self, spark, tmp_path):
        store = CheckpointStore(str(tmp_path / "b3"))
        run_crawl(spark, store, seeds_df(spark), make_expand(spark), hosts_df(spark), rounds=2)
        seen_set = store.load_seen_set(spark)
        assert seen_set.base is None
        assert sorted(map(tuple, seen_set.recent.collect())) == sorted(
            map(tuple, store.load_seen(spark).collect())
        )
        # a plain-parquet compaction (the layout older stores wrote, marked
        # buckets: 0) must also use the fallback: its files carry no bucket
        # metadata, yet load_seen reads them back as the full set
        full = sorted(map(tuple, store.load_seen(spark).collect()))
        base_dir = os.path.join(store.base, "rounds", "r000002", "seen_base")
        store.load_seen(spark).repartition(
            8, F.pmod(F.col("url_hash"), F.lit(8))
        ).write.parquet(base_dir)
        with open(os.path.join(store.base, "COMPACTION.json"), "w") as f:
            json.dump(
                {"compacted_through": 2, "path": base_dir, "rows": len(full), "buckets": 0},
                f,
            )
        assert store.attach_seen_base(spark) is None
        seen_set = store.load_seen_set(spark)
        assert seen_set.base is None
        assert sorted(map(tuple, seen_set.recent.collect())) == full
        assert sorted(map(tuple, store.load_seen(spark).collect())) == full

    def test_split_load_history_read_predating_compaction(self, spark, tmp_path):
        store = CheckpointStore(str(tmp_path / "b4"))
        run_crawl(spark, store, seeds_df(spark), make_expand(spark), hosts_df(spark), rounds=3)
        want_r2 = sorted(map(tuple, store.load_seen(spark, 2).collect()))
        store.compact_seen(spark, buckets=8)
        # the round-2 view must NOT see the round-3 base (it holds future keys)
        seen_set = store.load_seen_set(spark, 2)
        assert seen_set.base is None
        assert sorted(map(tuple, seen_set.recent.collect())) == want_r2
        assert sorted(map(tuple, store.load_seen(spark, 2).collect())) == want_r2

    def test_run_crawl_with_compact_every_is_bit_identical(self, spark, tmp_path):
        ref = CheckpointStore(str(tmp_path / "ref"))
        run_crawl(spark, ref, seeds_df(spark), make_expand(spark), hosts_df(spark), rounds=5)
        st = CheckpointStore(str(tmp_path / "cmp"))
        run_crawl(
            spark, st, seeds_df(spark), make_expand(spark), hosts_df(spark),
            rounds=5, compact_every=2,
        )
        assert st._compaction()["buckets"] > 0  # the bucketed path actually ran
        a = sorted(map(tuple, ref.load_seen(spark).collect()))
        b = sorted(map(tuple, st.load_seen(spark).collect()))
        assert a == b
        for rid in range(1, 6):
            fa = sorted(map(tuple, ref.load(spark, "fetch_log", rid).collect()))
            fb = sorted(map(tuple, st.load(spark, "fetch_log", rid).collect()))
            assert fa == fb

    def test_resume_after_bucketed_compaction_identical(self, spark, tmp_path):
        ref = CheckpointStore(str(tmp_path / "ref2"))
        run_crawl(spark, ref, seeds_df(spark), make_expand(spark), hosts_df(spark), rounds=5)
        st = CheckpointStore(str(tmp_path / "cmp2"))
        run_crawl(spark, st, seeds_df(spark), make_expand(spark), hosts_df(spark), rounds=3)
        st.compact_seen(spark, buckets=8)
        # killed here; resume continues on the split membership path
        run_crawl(
            spark, st, seeds_df(spark), make_expand(spark), hosts_df(spark),
            rounds=5, compact_every=2,
        )
        assert sorted(map(tuple, ref.load_seen(spark).collect())) == sorted(
            map(tuple, st.load_seen(spark).collect())
        )
        fa = sorted(map(tuple, ref.load(spark, "fetch_log", 5).collect()))
        fb = sorted(map(tuple, st.load(spark, "fetch_log", 5).collect()))
        assert fa == fb
        # compaction rounds are keyed on the round id, not on where the
        # resumed run started: like an uninterrupted compact_every=2 crawl
        # it compacts at round 4, not 5
        assert st._compaction()["compacted_through"] == 4


def crawl_state(spark, store, rounds):
    """Every round's fetch_log, the seen set and the seen_bloom as of
    round ``rounds``."""
    logs = [
        sorted(map(tuple, store.load(spark, "fetch_log", rid).collect()))
        for rid in range(1, rounds + 1)
    ]
    seen = sorted(map(tuple, store.load_seen(spark, rounds).collect()))
    bloom = sorted(
        (r["bloom_part"], r["m"], tuple(r["words"]))
        for r in store.load(spark, "seen_bloom", rounds).collect()
    )
    return logs, seen, bloom


@pytest.fixture(scope="module")
def ref_store(spark, tmp_path_factory):
    """An uninterrupted 3-round crawl compacting every 2 rounds."""
    store = CheckpointStore(str(tmp_path_factory.mktemp("ref") / "cp"))
    run_crawl(
        spark, store, seeds_df(spark), make_expand(spark), hosts_df(spark),
        rounds=3, compact_every=2,
    )
    return store


class TestResumeFaults:
    """Whatever step a run was killed at, resuming it lands on the
    uninterrupted crawl's fetch logs, seen set and seen_bloom."""

    def crawl(self, spark, store, rounds, **kw):
        run_crawl(
            spark, store, seeds_df(spark), make_expand(spark), hosts_df(spark),
            rounds=rounds, **kw,
        )

    def test_resume_rebuilds_missing_seen_bloom(self, spark, tmp_path, ref_store):
        st = CheckpointStore(str(tmp_path / "cp"))
        self.crawl(spark, st, 2)
        for rid in (1, 2):
            shutil.rmtree(os.path.join(st.base, "rounds", f"r{rid:06d}", "seen_bloom"))
        self.crawl(spark, st, 3)
        assert crawl_state(spark, st, 3) == crawl_state(spark, ref_store, 3)

    def test_crash_before_manifest_swap(self, spark, tmp_path, monkeypatch, ref_store):
        real_replace = os.replace

        def replace(src, dst):
            if dst.endswith("MANIFEST.json"):
                with open(src) as f:
                    if json.load(f)["round"] == 2:
                        raise RuntimeError("killed before the manifest swap")
            real_replace(src, dst)

        st = CheckpointStore(str(tmp_path / "cp"))
        monkeypatch.setattr(os, "replace", replace)
        with pytest.raises(RuntimeError, match="killed"):
            self.crawl(spark, st, 3, compact_every=2)
        monkeypatch.undo()
        # round 2 is on disk but not visible
        assert st.latest_round() == 1
        assert os.path.isdir(os.path.join(st.base, "rounds", "r000002"))
        self.crawl(spark, st, 3, compact_every=2)
        assert crawl_state(spark, st, 3) == crawl_state(spark, ref_store, 3)
        assert st._compaction()["compacted_through"] == 2

    def test_crash_inside_compaction(self, spark, tmp_path, monkeypatch, ref_store):
        real_replace = os.replace

        def replace(src, dst):
            if dst.endswith("COMPACTION.json"):
                raise RuntimeError("killed inside compaction")
            real_replace(src, dst)

        st = CheckpointStore(str(tmp_path / "cp"))
        monkeypatch.setattr(os, "replace", replace)
        with pytest.raises(RuntimeError, match="killed"):
            self.crawl(spark, st, 3, compact_every=2)
        monkeypatch.undo()
        # round 2 committed, its compaction (base files written) unpublished
        assert st.latest_round() == 2 and st._compaction() is None
        assert os.path.isdir(os.path.join(st.base, "rounds", "r000002", "seen_base"))
        # round 3 confirms membership against the deltas; the next
        # compaction is due at round 4
        self.crawl(spark, st, 3, compact_every=2)
        assert crawl_state(spark, st, 3) == crawl_state(spark, ref_store, 3)
        assert st._compaction() is None


class TestCrawlReport:
    def test_report_per_round_health(self, spark, tmp_path):
        from wbx.checkpoint import crawl_report

        store = CheckpointStore(str(tmp_path / "rep"))
        run_crawl(
            spark, store, seeds_df(spark), make_expand(spark),
            hosts_df(spark), rounds=3,
        )
        rows = {r["round"]: r for r in crawl_report(spark, store).collect()}
        assert set(rows) == {1, 2, 3}
        for rid, r in rows.items():
            # scheduled == seen delta (the anti-join invariant), matching
            # the committed fetch_log row count exactly
            n_log = store.load(spark, "fetch_log", rid).count()
            assert r["urls_scheduled"] == r["seen_added"] == n_log
            assert r["n_hosts"] >= 1 and r["top_host"]
            assert 0 < r["top_host_frac"] <= 1.0
            assert 0 < r["max_partition_frac"] <= 1.0
            assert r["n_partitions"] >= 1

    def test_report_keeps_pathological_rounds(self, spark, tmp_path):
        """A round with an EMPTY fetch_log and no seen_added metric —
        exactly the round an operator must see — still gets a report row
        (left joins + coalesced zeros, not inner joins)."""
        from wbx.checkpoint import crawl_report

        store = CheckpointStore(str(tmp_path / "rep2"))
        run_crawl(
            spark, store, seeds_df(spark), make_expand(spark),
            hosts_df(spark), rounds=2,
        )
        dead_metrics = spark.createDataFrame(
            [(3, 0, "urls_scheduled", 0.0)],
            "round int, partition_id int, metric string, value double",
        )
        empty_log = store.load(spark, "fetch_log", 2).limit(0)
        store.commit(3, {"metrics": dead_metrics, "fetch_log": empty_log})
        # round 4: scheduled ZERO urls — per-partition metrics of an empty
        # batch have no rows at all, so only rooting the report on the
        # committed-round manifest keeps it visible
        store.commit(4, {"metrics": dead_metrics.limit(0), "fetch_log": empty_log})
        rows = {r["round"]: r for r in crawl_report(spark, store).collect()}
        assert set(rows) == {1, 2, 3, 4}
        for rid in (3, 4):
            dead = rows[rid]
            assert dead["urls_scheduled"] == 0
            assert dead["seen_added"] == 0
            assert dead["n_hosts"] == 0
            assert dead["top_host"] is None

    def test_report_skips_uncommitted_round_gaps(self, spark, tmp_path):
        """A store with rounds 1 and 3 committed (no round 2) reports
        exactly those rounds — never a fabricated zero row for round 2 —
        and a round directory published past the manifest (a crash before
        the manifest swap) stays invisible."""
        from wbx.checkpoint import crawl_report

        store = CheckpointStore(str(tmp_path / "gaps"))

        def tables(rid, n):
            return {
                "metrics": spark.createDataFrame(
                    [(rid, 0, "urls_scheduled", float(n)), (rid, 0, "seen_added", float(n))],
                    "round int, partition_id int, metric string, value double",
                ),
                "fetch_log": spark.createDataFrame(
                    [(rid, "h0.com", f"http://h0.com/{rid}/{i}") for i in range(n)],
                    "round int, host string, canon_url string",
                ),
            }

        store.commit(1, tables(1, 2))
        store.commit(3, tables(3, 5))
        # round 4 published by a writer that died before the manifest swap
        for name, df in tables(4, 7).items():
            df.write.parquet(os.path.join(store.base, "rounds", "r000004", name))
        rows = {r["round"]: r for r in crawl_report(spark, store).collect()}
        assert set(rows) == {1, 3}
        assert rows[1]["urls_scheduled"] == 2 and rows[3]["urls_scheduled"] == 5
        assert rows[3]["n_hosts"] == 1 and rows[3]["top_host"] == "h0.com"
