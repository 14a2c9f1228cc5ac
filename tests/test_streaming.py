"""Streaming tests: file-source record scan, windowed aggregate parity with
the batch A2, and stateful FIFO pair matching vs the reference oracle."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.helpers import fifo_pairs_oracle
from wbx import streaming
from wbx.warcio import write_warc


def make_record(uri: str, body: bytes) -> bytes:
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" + body
    header = (
        "WARC/1.1\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        "Content-Type: application/http;msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n"
    ).encode()
    return header + b"\r\n" + http


def run_available_now(stream_df, name, output_mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


class TestStreamScan:
    def test_file_stream_scans_records(self, spark, tmp_path):
        import gzip

        from wbx.fixtures import rich_record_bytes
        from wbx.warcio import scan_files_to_records, write_warc_gz

        d = tmp_path / "in"
        os.makedirs(d)
        (d / "a.warc").write_bytes(
            write_warc([make_record(f"https://a/{i}", b"x" * i) for i in range(3)])
        )
        (d / "b.warc").write_bytes(
            write_warc([make_record(f"https://b/{i}", b"y") for i in range(2)])
        )
        # a record-gz archive whose LAST gzip member is not WARC: the batch
        # scan keeps it as an is_warc=false row, so the stream must too
        (d / "c.warc.gz").write_bytes(
            write_warc_gz(
                [rich_record_bytes(1, "one"), rich_record_bytes(2, "two", "request")]
            )
            + gzip.compress(b"not a warc at all", mtime=0)
        )
        recs = streaming.stream_file_records(spark, str(d))
        run_available_now(recs, "recs_mem")
        got = spark.sql(
            "SELECT target_uri, http_status FROM recs_mem "
            "WHERE source_file NOT LIKE '%.gz'"
        ).collect()
        assert len(got) == 5
        assert all(r["http_status"] == 200 for r in got)
        assert sorted(r["target_uri"] for r in got)[:3] == [
            "https://a/0",
            "https://a/1",
            "https://a/2",
        ]

        # full row multiset == the batch scan of the same bytes. headers are
        # compared as JSON of the sorted entries: exceptAll rejects map
        # columns, and the memory sink does not keep map entry order
        def rows(df):
            return df.withColumn(
                "headers", F.to_json(F.array_sort(F.map_entries("headers")))
            )

        stream = rows(spark.table("recs_mem"))
        batch = rows(
            scan_files_to_records(
                spark.read.format("binaryFile")
                .load(str(d))
                .select(F.col("path").alias("source_file"), "content")
            )
        )
        assert stream.count() == batch.count() == 8
        assert stream.exceptAll(batch).count() == 0
        assert batch.exceptAll(stream).count() == 0
        assert stream.filter(~F.col("is_warc")).count() == 1


class TestStreamText:
    def test_fused_text_stream_matches_batch(self, spark, tmp_path):
        import os

        d = tmp_path / "in_text"
        os.makedirs(d)
        (d / "a.warc").write_bytes(
            write_warc([make_record(f"https://a/{i}", f"body {i}".encode()) for i in range(3)])
        )
        stream = streaming.stream_file_text(spark, str(d))
        run_available_now(stream, "text_mem")
        got = sorted(
            (r["target_uri"], r["text"], r["http_status"])
            for r in spark.sql("SELECT target_uri, text, http_status FROM text_mem").collect()
        )
        assert got == [(f"https://a/{i}", f"body {i}", 200) for i in range(3)]


class TestWindowedCounts:
    def test_matches_batch_aggregate(self, spark, tmp_path, sf_smoke):
        d = str(tmp_path / "events")
        ev = spark.read.parquet(os.path.join(sf_smoke, "events.parquet"))
        ev.write.parquet(d)
        stream = spark.readStream.schema(ev.schema).parquet(d)
        agg = streaming.windowed_type_counts(stream, window="10 minutes")
        run_available_now(agg, "win_mem", output_mode="complete")
        got = (
            spark.sql("SELECT event_type, sum(n) AS n FROM win_mem GROUP BY 1")
            .collect()
        )
        expect = {
            r["event_type"]: r["n"]
            for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
        }
        assert {r["event_type"]: r["n"] for r in got} == expect


class TestStatefulPairs:
    def test_fifo_pairs_match_oracle(self, spark, tmp_path):
        rows = []
        # interleaved requests/responses incl. duplicates and lones
        seq = [
            ("u1", "request", 1),
            ("u1", "response", 2),
            ("u1", "request", 3),
            ("u2", "response", 4),   # lone-ish: pairs if a request follows
            ("u1", "response", 5),
            ("u2", "request", 6),
            ("u3", "request", 7),    # lone request
        ]
        for uri, side, start in seq:
            rows.append(("f.warc", start, start + 1, side, uri))
        df = spark.createDataFrame(
            rows,
            "source_file string, record_start long, record_end long, "
            "warc_type string, target_uri string",
        )
        d = str(tmp_path / "recs")
        df.write.parquet(d)
        stream = spark.readStream.schema(df.schema).parquet(d)
        pairs = streaming.stateful_pair_match(stream)
        run_available_now(pairs, "pairs_mem", output_mode="append")
        got = sorted(
            (r["req_start"], r["resp_start"])
            for r in spark.sql("SELECT * FROM pairs_mem").collect()
        )
        oracle_rows = [
            {
                "source_file": "f.warc",
                "record_start": s,
                "warc_type": t,
                "target_uri": u,
            }
            for (u, t, s) in seq
        ]
        expect_pairs, lone_req, lone_resp = fifo_pairs_oracle(oracle_rows)
        assert got == sorted(expect_pairs)
        # lones stay in state (not emitted)
        assert len(got) * 2 + len(lone_req) + len(lone_resp) == len(seq)


class TestStreamSplitText:
    def test_stream_over_splits_matches_batch(self, spark, tmp_path):
        """Split-granular streaming ingest: index an archive into many
        member groups, land the splits as parquet, stream them, and the
        extracted text must equal the batch fused scan of the same file."""
        import gzip

        from wbx import warcio
        from wbx.streaming import stream_split_text

        def rec(i: int) -> bytes:
            http = b"HTTP/1.1 200 OK\r\n\r\nbody %d news" % i
            return (
                b"WARC/1.1\r\nWARC-Type: response\r\n"
                + b"WARC-Target-URI: http://s/%d\r\n" % i
                + b"Content-Type: application/http; msgtype=response\r\n"
                + b"Content-Length: %d\r\n\r\n" % len(http)
                + http
            )
        data = b"".join(gzip.compress(rec(i) + b"\r\n\r\n", 6, mtime=0) for i in range(40))
        arc_dir = tmp_path / "arcs"
        arc_dir.mkdir()
        (arc_dir / "s.warc.gz").write_bytes(data)
        files = spark.createDataFrame(
            [(str(arc_dir / "s.warc.gz"),)], "source_file string"
        )
        splits = warcio.index_gzip_splits(files, target_bytes=512)
        assert splits.count() > 3
        splits_dir = str(tmp_path / "splits")
        splits.write.mode("overwrite").parquet(splits_dir)

        out = stream_split_text(spark, splits_dir)
        q = (
            out.writeStream.format("memory")
            .queryName("split_text_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = (
            spark.sql("SELECT * FROM split_text_stream")
            .toPandas()
            .sort_values("record_start")
            .reset_index(drop=True)
        )
        whole = (
            warcio.scan_files_to_text(
                spark.createDataFrame(
                    [(str(arc_dir / "s.warc.gz"), bytearray(data))],
                    "source_file string, content binary",
                )
            )
            .toPandas()
            .sort_values("record_start")
            .reset_index(drop=True)
        )
        import pandas as pd

        pd.testing.assert_frame_equal(got, whole)


class TestStreamCrawl:
    CAND_SCHEMA = "url string, priority double"

    def _hosts(self, spark):
        return spark.createDataFrame(
            [(f"h{i}.com", 100) for i in range(5)], "host string, budget int"
        )

    def _write_batch(self, spark, d, lo, hi):
        spark.createDataFrame(
            [(f"http://h{i % 5}.com/p/{i}", float(i % 7)) for i in range(lo, hi)],
            self.CAND_SCHEMA,
        ).coalesce(1).write.mode("append").parquet(d)

    def _drain(self, spark, src, store, ckpt):
        from wbx.streaming import stream_crawl

        cand = spark.readStream.schema(self.CAND_SCHEMA).parquet(src)
        q = (
            stream_crawl(cand, store, self._hosts(spark), checkpoint_dir=ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    def test_micro_batches_schedule_rounds_and_dedup_seen(self, spark, tmp_path):
        from wbx.checkpoint import CheckpointStore

        src = str(tmp_path / "cands")
        ckpt = str(tmp_path / "ckpt")
        store = CheckpointStore(str(tmp_path / "store"))

        self._write_batch(spark, src, 0, 10)
        self._drain(spark, src, store, ckpt)
        assert store.latest_round() >= 1
        log1 = store.load(spark, "fetch_log").collect()
        assert {r["canon_url"] for r in log1} == {
            f"http://h{i % 5}.com/p/{i}" for i in range(10)
        }

        # second delivery overlaps the first: 5-9 are already seen and must
        # NOT be re-scheduled; 10-14 are new
        self._write_batch(spark, src, 5, 15)
        self._drain(spark, src, store, ckpt)
        latest = store.latest_round()
        log2 = store.load(spark, "fetch_log", latest).collect()
        assert {r["canon_url"] for r in log2} == {
            f"http://h{i % 5}.com/p/{i}" for i in range(10, 15)
        }
        # cumulative seen-set = union of the disjoint deltas
        seen = store.load_seen(spark)
        assert seen.count() == 15

    def test_authority_priority_on_stream(self, spark, tmp_path):
        """graph.with_authority_priority composes with a streaming
        candidates frame (stateless broadcast join): the scheduled batch
        orders the authority hub's URLs first, and the seen/dedup
        machinery is unaffected."""
        from wbx import graph
        from wbx.checkpoint import CheckpointStore

        # h3.com is the hub — a pure sink, so its rank lead is monotone
        # in the iteration count (a hub WITH a back-edge forms a 2-cycle
        # whose rank oscillates with iteration parity)
        ranks = graph.host_rank(
            spark.createDataFrame(
                [(f"h{i}.com", "h3.com") for i in (0, 1, 2, 4)],
                ["src_host", "dst_host"],
            ),
            iterations=4,
        )
        src = str(tmp_path / "cands_auth")
        ckpt = str(tmp_path / "ckpt_auth")
        store = CheckpointStore(str(tmp_path / "store_auth"))
        self._write_batch(spark, src, 0, 10)

        from wbx.streaming import stream_crawl

        cand = graph.with_authority_priority(
            spark.readStream.schema(self.CAND_SCHEMA).parquet(src),
            ranks,
            url_col="url",
            priority_col="priority",
        )
        q = (
            stream_crawl(cand, store, self._hosts(spark), checkpoint_dir=ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        log = store.load(spark, "fetch_log").collect()
        assert {r["canon_url"] for r in log} == {
            f"http://h{i % 5}.com/p/{i}" for i in range(10)
        }
        by_host = {}
        for r in log:
            by_host.setdefault(r["host"], []).append(r["fetch_order"])
        assert min(by_host["h3.com"]) == min(
            o for os in by_host.values() for o in os
        )

    def test_replayed_epoch_is_skipped(self, spark, tmp_path):
        from wbx.checkpoint import CheckpointStore
        from wbx.streaming import crawl_batch_processor

        store = CheckpointStore(str(tmp_path / "store2"))
        proc = crawl_batch_processor(store, self._hosts(spark))
        batch = spark.createDataFrame(
            [("http://h1.com/a", 1.0), ("http://h2.com/b", 2.0)], self.CAND_SCHEMA
        )
        proc(batch, 7)
        assert store.latest_round() == 1
        n1 = store.load(spark, "fetch_log", 1).count()
        proc(batch, 7)  # redelivery of the same epoch → no new round
        assert store.latest_round() == 1
        assert store.load(spark, "fetch_log", 1).count() == n1
        proc(batch, 8)  # genuinely new epoch: all urls now seen → empty round
        assert store.latest_round() == 2
        assert store.load(spark, "fetch_log", 2).count() == 0

    def test_marker_read_error_propagates(self, spark, tmp_path):
        """A real I/O failure while checking the replay marker must fail
        the batch (Spark retries it), NOT be swallowed and re-committed as
        a new round — the swallow would double-count seen_delta/fetch_log
        on a genuine epoch redelivery."""
        import os

        import pytest

        from wbx.checkpoint import CheckpointStore
        from wbx.streaming import crawl_batch_processor

        store = CheckpointStore(str(tmp_path / "store3"))
        proc = crawl_batch_processor(store, self._hosts(spark))
        batch = spark.createDataFrame(
            [("http://h1.com/a", 1.0)], self.CAND_SCHEMA
        )
        proc(batch, 1)
        assert store.latest_round() == 1
        # corrupt the committed marker: the dir exists (has_table → True)
        # but the parquet inside is garbage, so load() raises
        marker_dir = os.path.join(
            store.base, "rounds", "r000001", "stream_marker"
        )
        for f in os.listdir(marker_dir):
            if f.endswith(".parquet"):
                with open(os.path.join(marker_dir, f), "wb") as fh:
                    fh.write(b"not parquet")
        with pytest.raises(Exception):
            proc(batch, 1)  # redelivery + broken marker → must raise
        assert store.latest_round() == 1  # and must NOT have committed

    def test_has_table_probe(self, spark, tmp_path):
        from wbx.checkpoint import CheckpointStore
        from wbx.streaming import crawl_batch_processor

        store = CheckpointStore(str(tmp_path / "store4"))
        assert not store.has_table("stream_marker", 1)
        proc = crawl_batch_processor(store, self._hosts(spark))
        proc(
            spark.createDataFrame([("http://h1.com/a", 1.0)], self.CAND_SCHEMA),
            3,
        )
        assert store.has_table("stream_marker", 1)
        assert not store.has_table("no_such_table", 1)


class TestStreamCrawlCompaction:
    """compact_every in the streaming scheduler: rounds after a bucketed
    compaction confirm membership through the split (shuffle-free) path and
    must stay bit-identical to the uncompacted scheduler."""

    CAND_SCHEMA = "url string, priority double"

    def _hosts(self, spark):
        return spark.createDataFrame(
            [(f"h{i}.com", 100) for i in range(5)], "host string, budget int"
        )

    def test_compacting_processor_matches_plain(self, spark, tmp_path):
        from wbx.checkpoint import CheckpointStore
        from wbx.streaming import crawl_batch_processor

        plain = CheckpointStore(str(tmp_path / "plain"))
        comp = CheckpointStore(str(tmp_path / "comp"))
        p_plain = crawl_batch_processor(plain, self._hosts(spark))
        p_comp = crawl_batch_processor(comp, self._hosts(spark), compact_every=1)
        for epoch, (lo, hi) in enumerate([(0, 10), (5, 15), (12, 22)]):
            batch = spark.createDataFrame(
                [(f"http://h{i % 5}.com/p/{i}", float(i % 7)) for i in range(lo, hi)],
                self.CAND_SCHEMA,
            )
            p_plain(batch, epoch)
            p_comp(batch, epoch)
        assert comp._compaction()["buckets"] > 0  # bucketed path actually ran
        for rid in range(1, 4):
            a = sorted(map(tuple, plain.load(spark, "fetch_log", rid).collect()))
            b = sorted(map(tuple, comp.load(spark, "fetch_log", rid).collect()))
            assert a == b, rid
        assert sorted(map(tuple, plain.load_seen(spark).collect())) == sorted(
            map(tuple, comp.load_seen(spark).collect())
        )

    def test_replay_guard_survives_compaction(self, spark, tmp_path):
        from wbx.checkpoint import CheckpointStore
        from wbx.streaming import crawl_batch_processor

        store = CheckpointStore(str(tmp_path / "rg"))
        proc = crawl_batch_processor(store, self._hosts(spark), compact_every=1)
        batch = spark.createDataFrame(
            [("http://h1.com/a", 1.0), ("http://h2.com/b", 2.0)], self.CAND_SCHEMA
        )
        proc(batch, 3)
        assert store.latest_round() == 1
        n1 = store.load(spark, "fetch_log", 1).count()
        proc(batch, 3)  # replay after the round AND its compaction committed
        assert store.latest_round() == 1
        assert store.load(spark, "fetch_log", 1).count() == n1


class TestStreamCurate:
    GOOD = (
        "This is a clean first sentence line with many ordinary words in it. "
        "Another tidy sentence follows with plenty of common words right here. "
        "The quick brown fox jumps over the lazy dog near the quiet river bank. "
        "People often write simple readable prose when they want filters to pass. "
        "This closing sentence keeps the word count comfortably over the floor. "
        "And one more for good measure with several extra words attached."
    )

    def _write_wave(self, spark, src, rows):
        spark.createDataFrame(rows, "doc_id long, text string").write.mode(
            "append"
        ).parquet(src)

    def _run(self, spark, src, out, ckpt):
        pages = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = (
            streaming.stream_curate(pages, out, checkpoint_dir=ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def test_gates_and_cross_batch_dedup(self, spark, tmp_path):
        src = str(tmp_path / "pages_src")
        out = str(tmp_path / "curated")
        ckpt = str(tmp_path / "ckpt")

        self._write_wave(
            spark,
            src,
            [
                (1, self.GOOD),
                (2, self.GOOD),              # in-wave duplicate
                (3, "code { not prose }"),   # c4 gate drops
                (4, "short"),                # gates drop
            ],
        )
        self._run(spark, src, out, ckpt)
        first = spark.read.parquet(out).collect()
        assert len(first) == 1 and first[0]["doc_id"] in (1, 2)
        assert first[0]["text_md5"]

        # wave 2: a cross-batch duplicate (state survives via checkpoint)
        # and one genuinely new doc
        self._write_wave(
            spark,
            src,
            [(5, self.GOOD), (6, self.GOOD + " Brand new closing sentence.")],
        )
        self._run(spark, src, out, ckpt)
        second = spark.read.parquet(out).collect()
        ids = sorted(r["doc_id"] for r in second)
        assert len(second) == 2 and ids[1] == 6

    def test_gate_parity_with_batch_kernels(self, spark, tmp_path):
        from wbx.textops import c4_clean_lines, c4_doc_keep, gopher_keep

        src = str(tmp_path / "p2src")
        out = str(tmp_path / "p2out")
        rows = [
            (i, self.GOOD + f" Unique tail sentence number {i} right here.")
            for i in range(8)
        ] + [(99, "junk {")]
        self._write_wave(spark, src, rows)
        self._run(spark, src, out, str(tmp_path / "p2ckpt"))
        got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        want = sorted(
            r["doc_id"]
            for r in batch.filter(c4_doc_keep(F.col("text")))
            .withColumn("text", c4_clean_lines(F.col("text")))
            .filter(gopher_keep(F.col("text")))
            .collect()
        )
        assert got == want and 99 not in got


class TestStreamCurateClassifier:
    def test_classifier_and_pii_match_batch(self, spark, tmp_path):
        """The stateless stream_curate stages (classifier gate + PII
        scrub) must agree row-for-row with the batch kernels on the same
        input."""
        from wbx import streaming
        from wbx.textops import hashed_linear_score, pii_scrub
        import pyspark.sql.functions as F

        good = TestStreamCurate.GOOD
        rows = [
            (1, good + " Contact me at someone@example.org for details."),
            (2, good.replace("quick brown fox", "slow grey wolf")),
            (3, good.replace("lazy dog", "busy cat")),
        ]
        src = str(tmp_path / "clf_src")
        out = str(tmp_path / "clf_out")
        batch_df = spark.createDataFrame(rows, "doc_id long, text string")
        batch_df.write.parquet(src)

        thresh = -0.2
        pages = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = (
            streaming.stream_curate(
                pages,
                out,
                checkpoint_dir=str(tmp_path / "clf_ckpt"),
                pii=True,
                classifier_threshold=thresh,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()
        }
        # batch expectation: classifier keep on RAW text, then c4+gopher
        # gates, then pii scrub of the cleaned text
        keep = {
            r["doc_id"]
            for r in hashed_linear_score(batch_df, threshold=thresh).collect()
            if r["keep"]
        }
        from wbx.textops import c4_clean_lines, c4_doc_keep, gopher_keep

        exp_df = (
            batch_df.filter(F.col("doc_id").isin(list(keep)) if keep else F.lit(False))
            .filter(c4_doc_keep(F.col("text")))
            .withColumn("text", c4_clean_lines(F.col("text")))
            .filter(gopher_keep(F.col("text")))
            .withColumn("text", pii_scrub(F.col("text")))
        )
        exp = {r["doc_id"]: r["text"] for r in exp_df.collect()}
        assert got == exp and got  # non-empty agreement
        assert all("someone@example.org" not in t for t in got.values())
