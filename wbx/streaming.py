"""Structured Streaming variants of the engine's operators (SURVEY §2.9).

The reference's iterator protocol is a pull-based stream with stateful
operators; the crawl pipeline itself deliberately uses deterministic batch
rounds (crawl-order parity requires deterministic scheduling — see
wbx.frontier). These streaming forms cover the continuous-ingest side:

- stream_file_records / stream_file_text / stream_split_text : readStream
  sources fed to the batch scan functions of wbx.warcio themselves (one
  mapInArrow kernel, so stream and batch rows cannot drift)
- windowed_type_counts: event-time windowed A2 aggregate with watermarked
  late-data handling
- stateful_pair_match : J1 FIFO request↔response matching as
  applyInPandasWithState keyed by target_uri — the exact per-URI deque
  semantics of the reference (utils.py:458-525), held in group state

All sinks are the caller's choice; helpers return streaming DataFrames.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def _archive_stream(spark: SparkSession, path: str) -> DataFrame:
    """readStream over a directory of archives as (source_file, content)
    rows — the input shape of the batch whole-file scans."""
    return (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("pathGlobFilter", "*.{warc,warc.gz,wacz}")
        .load(path)
        .select(F.col("path").alias("source_file"), F.col("content"))
    )


def stream_file_records(
    spark: SparkSession, path: str, style: str = "content_length"
) -> DataFrame:
    """Streaming WARC source: each new file in `path` is scanned into record
    rows (non-WARC gzip members included) by the batch kernel itself,
    wbx.warcio.scan_files_to_records.

    binaryFile streaming keeps whole files as rows; stream_split_text is the
    split-granular form for archives beyond one task's memory."""
    from wbx.warcio import scan_files_to_records

    return scan_files_to_records(_archive_stream(spark, path), style)


def stream_file_text(
    spark: SparkSession, path: str, style: str = "content_length"
) -> DataFrame:
    """Streaming form of the fused scan+extract hot path: each new archive
    file is scanned AND text-extracted in one Python pass by
    wbx.warcio.scan_files_to_text itself, so continuous ingest ships only
    slim (uri, status, text) columns downstream — payload bytes never cross
    the Arrow boundary in the stream either."""
    from wbx.warcio import scan_files_to_text

    return scan_files_to_text(_archive_stream(spark, path), style)


def windowed_type_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Event-time windowed counts by key with late-data watermark — the
    streaming form of the A2 summarize aggregate."""
    # parquet timestamps infer as TIMESTAMP_NTZ, which event-time rejects
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), F.col(key_col))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            key_col,
            "n",
        )
    )


PAIR_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("target_uri", T.StringType()),
        T.StructField("req_start", T.LongType()),
        T.StructField("resp_start", T.LongType()),
        T.StructField("pair_type", T.StringType()),
    ]
)

_PAIR_STATE_SCHEMA = T.StructType(
    [
        T.StructField("unpaired_req", T.ArrayType(T.LongType())),
        T.StructField("unpaired_resp", T.ArrayType(T.LongType())),
    ]
)


def _match_group(
    key, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-URI FIFO matcher (reference utils.py:471-501 semantics): a new
    record pops the oldest unpaired opposite-side record, else queues."""
    (uri,) = key
    if state.exists:
        (req_q, resp_q) = state.get
        req_q, resp_q = list(req_q), list(resp_q)
    else:
        req_q, resp_q = [], []
    out = []
    chunks = list(pdfs)
    if chunks:
        # one concat + one sort across ALL Arrow chunks of the micro-batch:
        # a URI group spanning chunk boundaries must still pair in global
        # (source_file, record_start) order, matching the batch semantics
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["source_file", "record_start"]
        )
        for _, r in pdf.iterrows():
            side = str(r["warc_type"]).lower()
            start = int(r["record_start"])
            if side == "request":
                if resp_q:
                    out.append((uri, start, resp_q.pop(0), "pair"))
                else:
                    req_q.append(start)
            elif side == "response":
                if req_q:
                    out.append((uri, req_q.pop(0), start, "pair"))
                else:
                    resp_q.append(start)
    state.update((req_q, resp_q))
    if out:
        yield pd.DataFrame(
            out, columns=["target_uri", "req_start", "resp_start", "pair_type"]
        )


def stateful_pair_match(records: DataFrame) -> DataFrame:
    """Streaming J1: emits a pair row the moment both sides of a URI have
    arrived; unpaired records wait in group state (lones are the state
    residue at stream end). Exactly the reference's arrival-order FIFO —
    meaningful here because a stream HAS an arrival order, unlike the batch
    relational rewrite which must impose file order (analytics.match_pairs).
    """
    base = records.filter(
        F.lower(F.col("warc_type")).isin("request", "response")
    ).select("target_uri", "warc_type", "source_file", "record_start")
    return base.groupBy("target_uri").applyInPandasWithState(
        _match_group,
        outputStructType=PAIR_OUTPUT_SCHEMA,
        stateStructType=_PAIR_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_split_text(
    spark: SparkSession,
    splits_path: str,
    style: str = "content_length",
    gz_style: str = "file",
    on_error: str = "raise",
    opener=None,
) -> DataFrame:
    """Streaming ingest at SPLIT granularity — the scale form of
    stream_file_text. A (batch or scheduled) index job appends
    ARCHIVE_SPLITS rows as parquet under `splits_path` — one row per
    ~target-bytes gzip-member group (warcio.index_gzip_splits); this stream
    picks up new split rows and each task ranged-reads ONLY its slice, so
    continuous ingest of multi-GB archives never holds a whole file as one
    row (the binaryFile streaming source's limit) and parse parallelism
    follows data volume, not file count. It is scan_splits_to_text over a
    parquet readStream, so payload bytes never cross the Arrow boundary."""
    from wbx.schema import ARCHIVE_SPLITS
    from wbx.warcio import scan_splits_to_text

    splits = spark.readStream.schema(ARCHIVE_SPLITS).parquet(splits_path)
    return scan_splits_to_text(splits, style, gz_style, on_error, opener)


# ---------------------------------------------------------------------------
# streaming crawl scheduler (foreachBatch over the batch crawl_round)
# ---------------------------------------------------------------------------


def crawl_batch_processor(
    store,
    hosts: DataFrame,
    robots: DataFrame | None = None,
    batch_size: int | None = None,
    default_budget: int = 10,
    compact_every: int | None = None,
):
    """foreachBatch processor for :func:`stream_crawl` (factored out so the
    exactly-once replay contract is unit-testable without a running query).

    Each micro-batch of discovered candidate (url, priority) rows is
    scheduled as ONE crawl round by the batch loop's own step
    (wbx.checkpoint.crawl_step) — identical canonicalization, membership
    against the store's SeenSet (Bloom-prefiltered), RFC 9309 robots
    (wbx.frontier.apply_robots), politeness and deterministic ordering,
    with every join strategy left to AQE — and committed atomically to the
    CheckpointStore as {seen_delta, fetch_log, metrics, seen_bloom,
    stream_marker}.

    Exactly-once: Spark redelivers at most the last uncommitted micro-batch
    after a restart. The committed round's ``stream_marker`` table records
    the epoch id that produced it; a replayed epoch matches the marker of
    the LATEST committed round and is skipped, so the seen-set and fetch
    log never double-count (state lives in the store, which commits via
    atomic rename — a crash mid-commit leaves the prior round visible and
    the replay re-runs cleanly).

    ``compact_every``: every K-th round, fold the seen deltas into a
    bucketed base (compact_seen) and confirm membership
    through the shuffle-free split path — same contract, same rounds and
    bit-identical results as batch run_crawl(compact_every=K). Compaction
    runs AFTER the round commits, so the replay guard is unaffected by a
    crash between the two."""
    from wbx.checkpoint import crawl_step

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        prev = store.latest_round()
        # Existence-probe, not try/except: a broad except here would also
        # swallow a transient read error during a genuine epoch redelivery
        # and re-commit the batch as a new round, double-counting seen_delta
        # and fetch_log. Missing marker = pre-streaming checkpoint (batch
        # rounds); any actual I/O failure propagates and fails the batch,
        # which Spark then retries — exactly-once is preserved either way.
        if prev > 0 and store.has_table("stream_marker", prev):
            marker = store.load(spark, "stream_marker", prev).first()
            if marker is not None and marker["batch_id"] == batch_id:
                return  # replay of the already-committed epoch
        crawl_step(
            store,
            prev + 1,
            batch_df,
            hosts,
            compact_every,
            lambda _: {
                "stream_marker": spark.createDataFrame(
                    [(int(batch_id),)], "batch_id long"
                )
            },
            robots=robots,
            batch_size=batch_size,
            default_budget=default_budget,
        )

    return process


def stream_crawl(
    candidates: DataFrame,
    store,
    hosts: DataFrame,
    robots: DataFrame | None = None,
    checkpoint_dir: str | None = None,
    **round_opts,
):
    """Continuous crawl scheduling: a streaming DataFrame of discovered
    candidate (url, priority) rows drives one deterministic crawl round per
    micro-batch (see crawl_batch_processor). Returns the DataStreamWriter —
    callers pick the trigger (e.g. ``.trigger(availableNow=True)`` for
    drain-and-stop ingest) and call ``.start()``.

    The frontier state machine is the same as batch run_crawl minus the
    ``expand`` step: in streaming mode link discovery IS the input stream,
    so rounds contain exactly the new candidates that arrived.
    ``round_opts`` are crawl_batch_processor's keyword arguments
    (batch_size, default_budget, compact_every).

    Authority scheduling (batch run_crawl's ``reprioritize=`` twin): apply
    the hook to the input stream itself —
    ``stream_crawl(wbx.graph.with_authority_priority(cand, ranks,
    url_col="url"), ...)``. The rank join is a stateless broadcast, so it
    composes with a streaming frame (pinned by
    tests/test_streaming.py::test_authority_priority_on_stream)."""
    writer = candidates.writeStream.foreachBatch(
        crawl_batch_processor(store, hosts, robots, **round_opts)
    ).outputMode("update")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer


def stream_curate(
    pages: DataFrame,
    out_dir: str,
    checkpoint_dir: str | None = None,
    text_col: str = "text",
    gopher: bool = True,
    c4: bool = True,
    dedup: bool = True,
    pii: bool = False,
    classifier_threshold: float | None = None,
    classifier_seed: int = 13,
):
    """Streaming corpus curation: the training-data twin of stream_crawl.
    A streaming DataFrame of extracted pages flows through the SAME
    Column kernels the batch pipeline uses — the C4 line cleaner + doc
    gate and the Gopher-style repetition/quality gate (wbx.textops; both
    stateless, so identical results streaming or batch) — then exact
    dedup via the engine-stateful ``dropDuplicates`` on the text digest:
    Structured Streaming keeps the digest set in the checkpoint, so a
    duplicate arriving in ANY later micro-batch (or after a restart from
    ``checkpoint_dir``) is dropped exactly once. Appends curated rows +
    ``text_md5`` to ``out_dir`` as parquet.

    Returns the DataStreamWriter — callers pick the trigger
    (``.trigger(availableNow=True)`` for drain-and-stop) and ``.start()``.

    Scale note: dropDuplicates state is the streaming seen-set and grows
    with distinct digests (16-byte keys — ~10 GB/10⁹ docs of raw key
    state per executor fleet). At the 10^10 design point route the
    digest set through the checkpoint-store delta pattern instead
    (foreachBatch + CheckpointStore, exactly as crawl_batch_processor
    maintains the URL seen-set); the gates and digest column are
    identical either way.

    ``pii`` scrubs emails/phones/IPs from the surviving text, and
    ``classifier_threshold`` (score units, None = off) adds the hashed-
    linear quality classifier on the RAW text — both pure Column
    expressions (hashed_linear_struct), so streaming and batch
    (curate_flags) agree row-for-row on every stateless stage."""
    from wbx.textops import (
        c4_clean_lines,
        c4_doc_keep,
        gopher_keep,
        hashed_linear_struct,
        pii_scrub,
    )

    df = pages
    t = F.col(text_col)
    if classifier_threshold is not None:
        clf = hashed_linear_struct(t, seed=classifier_seed)
        df = df.filter(
            clf["score_sum"]
            >= F.lit(int(round(classifier_threshold * 1000))).cast("long")
            * clf["n_feats"]
        )
    if c4:
        # gate on the RAW text (c4_doc_keep cleans internally and checks
        # raw for the '{' code tell), THEN replace text with the cleaned
        # form downstream consumers ingest
        df = df.filter(c4_doc_keep(t)).withColumn(text_col, c4_clean_lines(t))
    if gopher:
        df = df.filter(gopher_keep(F.col(text_col)))
    if pii:
        df = df.withColumn(text_col, pii_scrub(F.col(text_col)))
    df = df.withColumn("text_md5", F.md5(F.col(text_col)))
    if dedup:
        df = df.dropDuplicates(["text_md5"])
    writer = df.writeStream.format("parquet").option("path", out_dir)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.outputMode("append")
