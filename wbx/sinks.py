"""File-extraction sink (reference S9) and record-inspection projection.

Reference behavior being reproduced (studied, not copied):
- scripts/extract.py:13-61 + scripts/utils.py:73-95 `extract_file`:
  records passing an HTTP-response content-type filter have their HTTP
  bodies written to ``{basename}-{record_start}{.extension}``; with
  --decode the Content-Encoding chain is applied first, and a record that
  fails to decode falls back to the RAW body (the reference logs the error
  and keeps going — extraction never crashes the run); falsy bodies are
  skipped entirely.
- scripts/inspect.py:24-174: per-record metadata report composing member
  offsets (H9), record offsets (H1), WARC headers (H2) and HTTP headers
  (H4).

Spark shape: the writer is a ``mapInPandas`` kernel — each task writes the
files for its own partition of records directly from executor memory
(payload bytes never pass through the driver or a shuffle) and emits one
manifest row per file, so the sink is itself a queryable DataFrame and the
caller's single action both writes and returns lineage.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wbx.extract import (
    DecodingError,
    decompressed_http_body,
    split_http_message,
    warc_content_type_is_http,
)
from wbx.filters import http_response_content_type_filter


def _digest_text(payload, digest_encoding: str):
    """Digest text form for WARC-Block-Digest: 'hex' (default — Spark's
    native sha1 output, deterministic and spec-legal; the documented
    engine convention) or 'base32' (RFC 4648 over the raw digest — the
    Heritrix/warcio interop form real replay tooling verifies against).
    Both audit as ok=true under wbx.analytics.audit_digests."""
    if digest_encoding == "hex":
        return F.sha1(payload)
    if digest_encoding == "base32":
        from wbx.analytics import sha1_base32

        return sha1_base32(payload)
    raise ValueError(
        f"digest_encoding must be 'hex' or 'base32', got {digest_encoding!r}"
    )


EXTRACT_MANIFEST_SCHEMA = (
    "source_file string, record_start long, path string, n_bytes long, "
    "decoded boolean, decode_error string"
)


def extract_files(
    records: DataFrame,
    out_dir: str,
    mimetype: str,
    extension: str = "",
    basename: str | None = None,
    decode: bool = True,
) -> DataFrame:
    """Write HTTP bodies of `mimetype` responses to disk, one file per
    record, named ``{basename}-{record_start}{.extension}`` (reference
    extract_file parity; `basename` defaults to the record's source file
    name). Returns the manifest DataFrame — collect/write it to run the
    extraction; rows carry the decode-fallback error when one occurred."""
    picked = records.filter(http_response_content_type_filter(mimetype)).select(
        "source_file", "record_start", "header_bytes", "content_block"
    )
    suffix = f".{extension}" if extension else ""

    def write_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        os.makedirs(out_dir, exist_ok=True)
        cols = [
            "source_file", "record_start", "path", "n_bytes", "decoded", "decode_error",
        ]
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                cb = bytes(row["content_block"])
                hb = bytes(row["header_bytes"])
                err = None
                body = None
                did_decode = False
                if decode:
                    try:
                        body = decompressed_http_body(cb, hb)
                        did_decode = True
                    except DecodingError as e:
                        err = str(e)
                if not decode or err is not None:
                    # reference fallback: raw body when decoding failed (or
                    # was disabled); same http-content-type guard as
                    # get_http_body_block
                    if warc_content_type_is_http(hb):
                        _, body = split_http_message(cb)
                if not body:  # reference skips falsy bodies
                    continue
                base = basename or os.path.basename(row["source_file"])
                path = os.path.join(
                    out_dir, f"{base}-{int(row['record_start'])}{suffix}"
                )
                with open(path, "wb") as fh:
                    fh.write(body)
                rows.append(
                    {
                        "source_file": row["source_file"],
                        "record_start": int(row["record_start"]),
                        "path": path,
                        "n_bytes": len(body),
                        "decoded": did_decode and err is None,
                        "decode_error": err,
                    }
                )
            yield pd.DataFrame(rows, columns=cols) if rows else pd.DataFrame(
                {c: pd.Series(dtype=object) for c in cols}
            )

    return picked.mapInPandas(write_batch, schema=EXTRACT_MANIFEST_SCHEMA)


WET_MANIFEST_SCHEMA = "path string, n_records long, n_bytes long"


def export_wet(
    pages: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    files: int | None = None,
    digest_encoding: str = "hex",
) -> DataFrame:
    """Common-Crawl-style WET export: one WARC ``conversion`` record per
    page (WARC-Target-URI/Date/Record-ID/Block-Digest headers + the
    extracted text as a text/plain block), written as record-at-time gzip
    members — the same splittable layout the engine's .warc.gz scanner
    reads back, so exports re-enter the pipeline without a special reader
    (pinned by the roundtrip test).

    Derivative-format rationale: the reference operates on archives in
    place; a training-data pipeline ships extracted text as its own
    artifact (Common Crawl's WET sidecar files are the public convention
    this mirrors). Deviations from CC, chosen for determinism: Record-ID
    is a content-derived urn (xxhash64 of url+date — never uuid4, the
    export must be bit-identical across runs and cluster sizes) and
    Block-Digest is hex sha1 (Spark's native form) by default; pass
    digest_encoding='base32' for the RFC 4648 form Heritrix/warcio-family
    consumers verify against (wbx.analytics.sha1_base32, same codegen pass).

    Scale shape: every header is composed JVM-side as one codegen'd
    binary column; the Arrow kernel per partition only concatenates
    ready-made record bytes and gzips them (record-at-time, mtime=0) —
    no per-row Python string work, payloads never shuffle (``files=N``
    adds one repartition(url) + a within-partition sort to make file
    contents deterministic; default writes one file per input partition
    AS PARTITIONED, for shuffle-free export after an upstream stage that
    already placed the rows).

    Caveat (pinned by tests): a page with NULL/empty text exports as a
    spec-valid zero-length record, but re-scanning it hits the reference's
    truthy-Content-Length quirk ('Content-Length: 0' is falsy,
    gzipped_warc.py:508) — the parity scanner routes those bytes to the
    unparsable-lines side output. Filter empty pages upstream if the
    export must re-enter this engine losslessly.

    Returns the manifest DataFrame (path, n_records, n_bytes); collecting
    or writing it runs the export (same contract as extract_files)."""
    payload = F.encode(F.coalesce(F.col(text_col), F.lit("")), "utf-8")
    wdate = F.date_format(F.col(ts_col), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    header = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "),
        F.col(url_col),
        F.lit("\r\nWARC-Date: "),
        wdate,
        F.lit("\r\nWARC-Record-ID: <urn:wbx:"),
        F.lower(F.hex(F.xxhash64(F.col(url_col), wdate))),
        F.lit(">\r\nWARC-Block-Digest: sha1:"),
        _digest_text(payload, digest_encoding),
        F.lit("\r\nContent-Type: text/plain\r\nContent-Length: "),
        F.length(payload).cast("string"),
        F.lit("\r\n\r\n"),
    )
    staged = pages.select(
        F.col(url_col).alias("_u"),
        F.concat(F.encode(header, "utf-8"), payload).alias("record_bytes"),
    )
    if files is not None:
        staged = staged.repartition(files, "_u").sortWithinPartitions("_u")
    staged = staged.drop("_u")

    return staged.mapInPandas(
        _record_gz_writer(out_dir, "wet"), schema=WET_MANIFEST_SCHEMA
    )


def _record_gz_writer(out_dir: str, prefix: str):
    """Shared sidecar-writer kernel (WET/WAT): per partition, concatenate
    the ready-made record bytes, gzip record-at-time (mtime=0), write one
    `{prefix}-{partition:05d}.warc.gz`, yield its manifest row. All
    per-row byte work happened JVM-side upstream — this only joins and
    compresses inside an Arrow batch."""

    def write_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        from wbx.warcio import write_warc_gz

        os.makedirs(out_dir, exist_ok=True)
        pid = TaskContext.get().partitionId()
        records = []
        for pdf in batches:
            records.extend(bytes(b) for b in pdf["record_bytes"])
        cols = ["path", "n_records", "n_bytes"]
        if not records:
            yield pd.DataFrame({c: pd.Series(dtype=object) for c in cols})
            return
        blob = write_warc_gz(records)
        path = os.path.join(out_dir, f"{prefix}-{pid:05d}.warc.gz")
        with open(path, "wb") as fh:
            fh.write(blob)
        yield pd.DataFrame(
            [{"path": path, "n_records": len(records), "n_bytes": len(blob)}],
            columns=cols,
        )

    return write_batches


def export_wat(
    pages: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    html_col: str = "html",
    files: int | None = None,
    digest_encoding: str = "hex",
) -> DataFrame:
    """Common-Crawl-style WAT export — the metadata sidecar completing the
    engine's WARC/WET/CDX family: one WARC ``metadata`` record per page
    whose block is a JSON envelope of the page's crawl-relevant metadata
    (url, date, html_meta's title/charset/lang tag, and every resolved
    outlink via the extract_links patterns). Same record-gz layout as
    export_wet, re-readable by the engine's own scanner.

    Deviations from CC's WAT (deliberate, for determinism and a stable
    schema): the envelope is a FLAT json object (fixed field order from
    to_json over a struct — CC's nested Envelope/Payload-Metadata tree
    carries parser provenance this engine doesn't need), Record-ID is the
    content-derived urn (as WET), and links preserve document order
    including duplicates (a WAT consumer computing link graphs wants the
    multiplicity; dedup is wbx.graph's job).

    Scale shape: links/meta/envelope/header are all per-row codegen'd
    Column expressions (html decoded once, never shuffled); the Arrow
    kernel only concatenates and gzips. ``files=N`` as in export_wet."""
    from wbx.extract import html_meta
    from wbx.frontier import (
        HREF_RE,
        HREF_RE_SQ,
        HREF_RE_UQ,
        resolve_href,
    )

    decoded = F.make_valid_utf8(F.col(html_col).cast("string"))
    hrefs = F.concat(
        F.regexp_extract_all(decoded, F.lit(HREF_RE), F.lit(1)),
        F.regexp_extract_all(decoded, F.lit(HREF_RE_SQ), F.lit(1)),
        F.regexp_extract_all(decoded, F.lit(HREF_RE_UQ), F.lit(1)),
    )
    links = F.transform(
        F.filter(
            hrefs,
            lambda h: (F.length(h) > 0)
            & ~F.lower(h).startswith("javascript:")
            & ~F.lower(h).startswith("mailto:")
            & ~F.lower(h).startswith("data:"),
        ),
        lambda h: resolve_href(F.col(url_col), h),
    )
    meta = html_meta(decoded)
    wdate = F.date_format(F.col(ts_col), "yyyy-MM-dd'T'HH:mm:ss'Z'")
    envelope = F.to_json(
        F.struct(
            F.col(url_col).alias("url"),
            wdate.alias("date"),
            meta["title"].alias("title"),
            meta["charset"].alias("charset"),
            meta["lang_tag"].alias("lang"),
            links.alias("links"),
        )
    )
    payload = F.encode(envelope, "utf-8")
    header = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: metadata\r\nWARC-Target-URI: "),
        F.col(url_col),
        F.lit("\r\nWARC-Date: "),
        wdate,
        F.lit("\r\nWARC-Record-ID: <urn:wbx:"),
        F.lower(F.hex(F.xxhash64(F.col(url_col), wdate))),
        F.lit(">\r\nWARC-Block-Digest: sha1:"),
        _digest_text(payload, digest_encoding),
        F.lit("\r\nContent-Type: application/json\r\nContent-Length: "),
        F.length(payload).cast("string"),
        F.lit("\r\n\r\n"),
    )
    staged = pages.select(
        F.col(url_col).alias("_u"),
        F.concat(F.encode(header, "utf-8"), payload).alias("record_bytes"),
    )
    if files is not None:
        staged = staged.repartition(files, "_u").sortWithinPartitions("_u")
    staged = staged.drop("_u")
    return staged.mapInPandas(
        _record_gz_writer(out_dir, "wat"), schema=WET_MANIFEST_SCHEMA
    )


def export_warc_deduped(
    records: DataFrame,
    out_dir: str,
    files: int | None = None,
) -> DataFrame:
    """Digest-deduplicated WARC export — the Heritrix/IIPC revisit
    convention at archive-write time: the FIRST capture of each distinct
    response payload (analytics.mark_revisits, deterministic file order)
    is written verbatim; every later capture becomes a slim ``revisit``
    record carrying the WARC 1.1 identical-payload-digest profile headers
    (WARC-Profile, WARC-Payload-Digest, WARC-Refers-To-Target-URI/-Date)
    plus extension headers WARC-Refers-To-Filename / -File-Offset so a
    replay index can locate the payload holder without a CDX side lookup.
    Matching Heritrix practice, the revisit's content block keeps the HTTP
    response header section (bytes of the original block up to and
    including its first blank line) — the payload body is what drops, and
    a non-empty block also re-scans cleanly through the engine's own
    parser (the truthy-Content-Length quirk only bites zero-length blocks).

    Deviation, documented: the dedup digest is sha1 over the full content
    block (HTTP headers + body — the engine's dedup key from
    mark_revisits), emitted as WARC-Payload-Digest; strict WARC 1.1 would
    digest the payload alone. Record-IDs are content-derived urns (never
    uuid4) so the export is bit-identical across runs and cluster sizes.

    Requires the scanner's standard projection: source_file, record_start,
    warc_type, target_uri, warc_date, content_type, header_bytes,
    content_block.

    Scale shape: the only wide operation is mark_revisits' single
    digest-keyed window (payload rows cross that one exchange once); both
    record forms are composed JVM-side as one binary column and the Arrow
    kernel per partition only concatenates and gzips (record-at-time,
    mtime=0, splittable). ``files=N`` adds one repartition keyed on
    source_file + a within-partition (source_file, record_start) sort for
    deterministic file contents; the default writes one file per input
    partition as partitioned.

    Returns the manifest DataFrame (path, n_records, n_bytes); collecting
    or writing it runs the export (same contract as export_wet)."""
    from wbx.analytics import mark_revisits

    need = {
        "source_file",
        "record_start",
        "warc_type",
        "target_uri",
        "warc_date",
        "content_type",
        "header_bytes",
        "content_block",
    }
    missing = sorted(need - set(records.columns))
    if missing:
        raise ValueError(f"export_warc_deduped: records lacks columns {missing}")

    marked = mark_revisits(records)

    # full record: original wire bytes (header incl. its final CRLF, blank
    # line, content block) — byte-identical to warcio.record_bytes
    full = F.concat(
        F.col("header_bytes"), F.lit(b"\r\n"), F.col("content_block")
    )

    # slim revisit block: the HTTP response header section of the original
    # block, found via lossless latin-1 round-trip (every byte maps 1:1,
    # so instr/substring are byte arithmetic and ANSI-safe on binary data)
    cb = F.decode(F.col("content_block"), "ISO-8859-1")
    hdr_end = F.instr(cb, "\r\n\r\n")
    slim_block = F.encode(
        F.when(hdr_end > 0, F.substring(cb, F.lit(1), hdr_end + 3)).otherwise(
            F.lit("")
        ),
        "ISO-8859-1",
    )
    slim_header = F.concat(
        # WARC/1.1, not 1.0: the profile URI below and the
        # WARC-Refers-To-Target-URI/-Date headers are 1.1-only, and strict
        # validators flag a version/profile mismatch
        F.lit("WARC/1.1\r\nWARC-Type: revisit\r\nWARC-Target-URI: "),
        F.coalesce(F.col("target_uri"), F.lit("")),
        F.lit("\r\nWARC-Date: "),
        F.coalesce(F.col("warc_date"), F.lit("")),
        F.lit("\r\nWARC-Record-ID: <urn:wbx:"),
        F.lower(
            F.hex(
                F.xxhash64(
                    F.col("source_file"), F.col("record_start"), F.col("digest")
                )
            )
        ),
        F.lit(
            ">\r\nWARC-Profile: "
            "http://netpreserve.org/warc/1.1/revisit/identical-payload-digest"
            "\r\nWARC-Payload-Digest: sha1:"
        ),
        F.col("digest"),
        F.lit("\r\nWARC-Refers-To-Target-URI: "),
        F.coalesce(F.col("refers_to_uri"), F.lit("")),
        F.lit("\r\nWARC-Refers-To-Date: "),
        F.coalesce(F.col("refers_to_date"), F.lit("")),
        F.lit("\r\nWARC-Refers-To-Filename: "),
        F.col("refers_to_file"),
        F.lit("\r\nWARC-Refers-To-File-Offset: "),
        F.col("refers_to_start").cast("string"),
        F.when(
            F.col("content_type").isNotNull(),
            F.concat(F.lit("\r\nContent-Type: "), F.col("content_type")),
        ).otherwise(F.lit("")),
        F.lit("\r\nContent-Length: "),
        F.octet_length(slim_block).cast("string"),
        F.lit("\r\n\r\n"),
    )
    slim = F.concat(F.encode(slim_header, "utf-8"), slim_block)

    staged = marked.select(
        F.col("source_file").alias("_f"),
        F.col("record_start").alias("_s"),
        F.when(F.col("is_revisit"), slim).otherwise(full).alias("record_bytes"),
    )
    if files is not None:
        staged = staged.repartition(files, "_f").sortWithinPartitions("_f", "_s")
    staged = staged.drop("_f", "_s")
    return staged.mapInPandas(
        _record_gz_writer(out_dir, "warc"), schema=WET_MANIFEST_SCHEMA
    )


def inspect_records(
    records: DataFrame,
    member_offsets: bool = True,
    record_offsets: bool = True,
    record_headers: bool = True,
    record_http_headers: bool = True,
) -> DataFrame:
    """Per-record metadata projection composing H1/H2/H4/H9 — the
    relational form of `wb inspect`'s report (scripts/inspect.py). One row
    per record in deterministic file order; suppressed sections are simply
    absent columns."""
    from wbx.extract import http_header_block_udf, parse_headers_udf, utf8_replace_udf

    cols = [F.col("source_file"), F.col("record_start").alias("_order")]
    if member_offsets:
        cols += [F.col("member_start"), F.col("member_end")]
    if record_offsets:
        cols += [F.col("record_start"), F.col("record_end")]
    if record_headers:
        cols += [parse_headers_udf(F.col("header_bytes")).alias("warc_headers")]
    if record_http_headers:
        cols += [
            utf8_replace_udf(
                http_header_block_udf(F.col("content_block"), F.col("header_bytes"))
            ).alias("http_headers")
        ]
    return (
        records.select(*cols)
        .orderBy("source_file", "_order")
        .drop("_order")
    )


def wat_links(records: DataFrame, priority: float = 0.0) -> DataFrame:
    """WAT sidecar records (scan_files_to_records output over export_wat
    files) → frontier candidates (url, priority): parse each metadata
    record's JSON envelope and explode its outlinks — the WAT→frontier
    loop a link-graph-seeded crawl runs (Common Crawl consumers seed
    exactly this way from the public WAT files).

    Non-metadata records are ignored, so a mixed WARC+WAT scan feeds
    through unchanged. Pure from_json + explode (JVM-side, one pass);
    distinct per link to shrink the crawl_round shuffle, exactly like
    expand_from_html."""
    env = F.from_json(
        F.col("content_block").cast("string"),
        "url string, date string, title string, charset string, "
        "lang string, links array<string>",
    )
    return (
        records.filter(F.col("warc_type") == "metadata")
        .select(F.explode(env["links"]).alias("url"))
        .distinct()
        .withColumn("priority", F.lit(float(priority)))
    )


def write_packed_shards(
    documents: DataFrame,
    out_dir: str,
    budget_tokens: int = 1_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Write the corpus as fixed-token-budget training shards and return
    the shard manifest: documents are assigned to shards by
    :func:`wbx.textops.pack_shards`, written parquet-partitioned by
    ``shard_id`` (one directory per shard — the layout training loaders
    stream sequentially), and summarized as one manifest row per shard:
    (shard_id, n_docs, n_tokens, first_id, last_id, ids_xor). ``ids_xor``
    is bit_xor(xxhash64(id)) — an order-independent content fingerprint a
    re-run or a downstream copy can verify without reading text.

    Scale shape: the packing output is metadata-only; text joins back by
    id ONCE and moves straight into its own shard's files via a
    repartition on shard_id (each shard written by one task — matching
    the sequential-read layout; shards are budget-bounded so the task is
    too). The manifest is a map-side-combinable aggregate over the
    metadata, never the text. The returned manifest is read back from
    the written files, so it reflects what is actually on disk.
    """
    from wbx.textops import pack_shards

    packed = pack_shards(
        documents,
        budget_tokens=budget_tokens,
        id_col=id_col,
        text_col=text_col,
    )
    full = documents.join(packed, id_col)
    (
        full.repartition("shard_id")
        .sortWithinPartitions(id_col)
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(out_dir)
    )
    written = documents.sparkSession.read.parquet(out_dir)
    return (
        written.groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min(id_col).alias("first_id"),
            F.max(id_col).alias("last_id"),
            F.bit_xor(F.xxhash64(F.col(id_col))).alias("ids_xor"),
        )
        .orderBy("shard_id")
    )
