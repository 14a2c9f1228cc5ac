"""wbx CLI — the engine's query surface, launched via spark-submit.

Mirrors the reference's `wb` subcommands (scripts/__init__.py:12-53 command
group; studied for behavior, not code) as thin argparse entries that build
DataFrame jobs and print/collect small results:

    spark-submit --py-files wbx.zip -m wbx.cli summarize --input DIR
    python -m wbx.cli summarize --input /data/archives --format json
    python -m wbx.cli filter-records --input DIR --http-status 200 --output-count
    python -m wbx.cli match-pairs --input DIR
    python -m wbx.cli compare-headers --input DIR1 --input2 DIR2
    python -m wbx.cli crawl --seeds seeds.txt --store /ckpt --rounds 3

Inputs are directories of .warc/.warc.gz/.wacz files (read via binaryFile;
WACZ zips are unwrapped via datapackage.json like the reference's
transparent wacz support, utils.py:307-369) or parquet `records` tables
(--input-format parquet).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _spark(app: str) -> SparkSession:
    from wbx.session import get_spark

    return get_spark(app_name=f"wbx-{app}")


def load_records(
    spark: SparkSession,
    path: str,
    fmt: str,
    style: str,
    columns=None,
    gz_style: str = "file",
    split_target_bytes: int | None = 128 << 20,
) -> DataFrame:
    """``columns``: optional pruning set pushed INTO the scan kernel — for
    parquet input Catalyst prunes the scan natively, but a projection can't
    cross the mapInArrow boundary, so archive scans take it explicitly
    (commands with a closed column set pass it; payload-consuming commands
    like extract keep the full schema).

    ``split_target_bytes``: .warc.gz files larger than 2× this route through
    the splittable two-stage scan (index_gzip_splits + scan_splits_to_records
    — one task per ~target bytes, no 2 GB binaryFile ceiling, byte-identical
    output); smaller files and other containers keep the one-task-per-file
    path, which is already the right granularity for them. None disables.
    The length predicate pushes down to the binaryFile source, so the
    whole-file branch never reads big files' bytes."""
    if fmt == "parquet":
        return spark.read.parquet(path)
    from wbx.warcio import (
        index_gzip_splits,
        scan_files_to_records,
        scan_splits_to_records,
    )

    def read_bin(glob: str):
        return (
            spark.read.format("binaryFile")
            .option("pathGlobFilter", glob)
            .load(path)
        )

    if not split_target_bytes:
        files = read_bin("*.{warc,warc.gz,wacz}").select(
            F.col("path").alias("source_file"), "content"
        )
        return scan_files_to_records(
            files, style=style, columns=columns, gz_style=gz_style
        )
    # three scans so every predicate is a pure-length atom the binaryFile
    # source can evaluate per file BEFORE reading content (a ~(glob & len)
    # composite is not pushable and would ship the big files' bytes):
    #   - non-gz containers: whole-file path (no split index exists)
    #   - small .warc.gz: whole-file path (already the right granularity)
    #   - big .warc.gz: two-stage splittable scan (paths only, never bytes)
    min_len = 2 * split_target_bytes
    others = read_bin("*.{warc,wacz}")
    small_gz = read_bin("*.warc.gz").filter(F.col("length") < min_len)
    big_gz = read_bin("*.warc.gz").filter(F.col("length") >= min_len).select("path")
    small_files = others.unionByName(small_gz).select(
        F.col("path").alias("source_file"), "content"
    )
    records = scan_files_to_records(
        small_files, style=style, columns=columns, gz_style=gz_style
    )
    splits = index_gzip_splits(big_gz, split_target_bytes)
    return records.unionByName(
        scan_splits_to_records(splits, style=style, columns=columns, gz_style=gz_style)
    )


def _split_bytes(args) -> int | None:
    """--split-mb N → bytes (0 disables the splittable gz scan)."""
    mb = getattr(args, "split_mb", 128)
    return (mb << 20) if mb else None


def _emit(obj, fmt: str) -> None:
    if fmt == "json":
        print(json.dumps(obj, indent=2, default=str))
    else:
        for section, rows in obj.items():
            print(f"== {section}")
            if isinstance(rows, list):
                for r in rows:
                    print("  " + "  ".join(f"{k}={v}" for k, v in r.items()))
            else:
                print(f"  {rows}")


def cmd_summarize(args) -> None:
    from wbx import analytics

    spark = _spark("summarize")
    records = load_records(
        spark,
        args.input,
        args.input_format,
        args.style,
        # closed column set of the A1–A4 aggregates: the kernel never slices
        # payload bytes, so Arrow ships KBs per archive instead of the archive
        columns=["warc_type", "target_uri", "content_type", "http_content_type"],
        gz_style=args.gz_style, split_target_bytes=_split_bytes(args),
    )
    out = {}
    parts = analytics.summarize(records)
    out["record_count"] = parts["record_count"].collect()[0]["record_count"]
    for key in ("record_types", "domains", "content_types"):
        out[key] = [r.asDict() for r in parts[key].orderBy(parts[key].columns[0]).collect()]
    _emit(out, args.format)


def _build_filter(args):
    from wbx import filters as flt

    conds = []
    if args.header_regex:
        conds.append(flt.warc_header_regex_filter(args.header_regex))
    if args.content_length is not None:
        conds.append(
            flt.record_content_length_filter(args.content_length, args.length_op)
        )
    if args.content_type:
        conds.append(flt.record_content_type_filter(args.content_type))
    if args.warc_field:
        name, _, target = args.warc_field.partition("=")
        conds.append(flt.warc_named_field_filter(name, target))
    if args.http_verb:
        conds.append(flt.http_verb_filter(args.http_verb))
    if args.http_status is not None:
        conds.append(flt.http_status_filter(args.http_status))
    if args.http_header:
        name, _, target = args.http_header.partition("=")
        conds.append(flt.http_header_filter(name, target))
    if args.http_content_type:
        conds.append(flt.http_response_content_type_filter(args.http_content_type))
    combined = None
    for c in conds:
        combined = c if combined is None else (combined & c)
    if combined is not None and args.include_warcinfo:
        combined = flt.force_include_warcinfo(combined)
    return combined


def _load_user_callables(path: str):
    """H12 plug-in protocol (reference scripts/utils.py:46-70 behavior):
    import a user python FILE and return the callables listed in its
    ``__all__``, in declared order. wbx's Spark-native contract: a custom
    FILTER is called with the records DataFrame (or no argument) and must
    return a pyspark Column predicate; a custom HANDLER is called with the
    current DataFrame and may return a replacement DataFrame (None keeps
    it unchanged)."""
    import importlib.util
    import inspect as _inspect
    import os as _os

    name = _os.path.splitext(_os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    if spec is None or spec.loader is None:
        raise ImportError(f"Could not load module {name} from {path}")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    names = getattr(mod, "__all__", None)
    if names is None:
        raise ValueError(
            f"{path} must list its exported callables in __all__ "
            "(the reference custom-filter protocol)"
        )
    out = []
    for n in names:
        fn = getattr(mod, n)
        takes_df = len(_inspect.signature(fn).parameters) >= 1
        out.append((fn, takes_df))
    return out


def cmd_filter_records(args) -> None:
    spark = _spark("filter-records")
    records = load_records(
        spark, args.input, args.input_format, args.style, gz_style=args.gz_style, split_target_bytes=_split_bytes(args)
    )
    cond = _build_filter(args)
    if args.custom_filter_path:
        for fn, takes_df in _load_user_callables(args.custom_filter_path):
            c = fn(records) if takes_df else fn()
            cond = c if cond is None else (cond & c)
    if cond is not None:
        records = records.filter(cond)
    if args.custom_record_handler_path:
        for fn, _ in _load_user_callables(args.custom_record_handler_path):
            replaced = fn(records)
            if replaced is not None:
                records = replaced
    if args.output_count:
        print(records.count())
        return
    rows = (
        records.select("source_file", "record_start", "record_end", "warc_type", "target_uri")
        .orderBy("source_file", "record_start")
        .limit(args.limit)
        .collect()
    )
    _emit({"records": [r.asDict() for r in rows]}, args.format)


def cmd_match_pairs(args) -> None:
    from wbx import analytics

    spark = _spark("match-pairs")
    records = load_records(
        spark, args.input, args.input_format, args.style, gz_style=args.gz_style, split_target_bytes=_split_bytes(args)
    )
    summary = analytics.pair_counts(records, exclude_file_uris=args.exclude_file_uris)
    by_uri = (
        analytics.pair_summary_by_uri_decoded(records)
        if args.decode_uris
        else analytics.pair_summary_by_uri(records)
    )
    _emit(
        {
            "counts": [r.asDict() for r in summary.collect()],
            "by_uri": [r.asDict() for r in by_uri.collect()],
        },
        args.format,
    )


def cmd_compare_headers(args) -> None:
    from wbx import analytics

    spark = _spark("compare-headers")
    r1 = load_records(
        spark, args.input, args.input_format, args.style, gz_style=args.gz_style, split_target_bytes=_split_bytes(args)
    )
    r2 = load_records(
        spark, args.input2, args.input_format, args.style, gz_style=args.gz_style, split_target_bytes=_split_bytes(args)
    )
    fields = args.fields.split(",") if args.fields else None
    near = args.near_fields.split(",") if args.near_fields else None
    summary = analytics.compare_headers_summary(r1, r2, fields, near)
    out = {"summary": [r.asDict() for r in summary.collect()]}
    if args.near_header_diffs:
        diffs = analytics.near_match_header_diffs(r1, r2, fields, near)
        out["near_matching_header_diffs"] = [r.asDict() for r in diffs.collect()]
    if args.near_http_header_diffs:
        diffs = analytics.near_match_header_diffs(r1, r2, fields, near, http=True)
        out["near_matching_http_header_diffs"] = [r.asDict() for r in diffs.collect()]
    _emit(out, args.format)
    if args.serve_near_matching_records:
        # S10 replay server (reference --serve-near-matching-records):
        # classification stays distributed; the browsed pairs are collected
        from wbx.replay import near_matching_pairs, serve_pairs

        pairs = near_matching_pairs(r1, r2, fields, near)
        serve_pairs(
            pairs, args.input, args.input2, args.server_host, args.server_port
        )


def cmd_compare_parsers(args) -> None:
    spark = _spark("compare-parsers")
    cols = ["source_file", "record_start", "record_end"]
    a = load_records(spark, args.input, "warc", "content_length", columns=cols, split_target_bytes=_split_bytes(args))
    b = load_records(spark, args.input, "warc", "delimiter", columns=cols, split_target_bytes=_split_bytes(args))
    only_a = a.select(*cols).join(b.select(*cols), cols, "left_anti")
    only_b = b.select(*cols).join(a.select(*cols), cols, "left_anti")
    _emit(
        {
            "content_length_records": a.count(),
            "delimiter_records": b.count(),
            "only_content_length": [r.asDict() for r in only_a.collect()],
            "only_delimiter": [r.asDict() for r in only_b.collect()],
        },
        args.format,
    )


def cmd_extract(args) -> None:
    """S9 file-extraction sink (reference scripts/extract.py parity):
    write HTTP bodies of MIMETYPE responses to --output-dir as
    {basename}-{record_start}.{extension}."""
    from wbx.sinks import extract_files

    spark = _spark("extract")
    records = load_records(
        spark, args.input, args.input_format, args.style, gz_style=args.gz_style, split_target_bytes=_split_bytes(args)
    )
    manifest = extract_files(
        records,
        args.output_dir,
        args.mimetype,
        args.extension,
        basename=args.basename,
        decode=args.decode,
    )
    rows = manifest.orderBy("source_file", "record_start").collect()
    _emit({"extracted": [r.asDict() for r in rows]}, args.format)


def cmd_inspect(args) -> None:
    """Detailed per-record metadata (reference scripts/inspect.py parity):
    member offsets + record offsets + WARC headers + HTTP headers, each
    section suppressible."""
    from wbx.sinks import inspect_records

    spark = _spark("inspect")
    records = load_records(
        spark, args.input, args.input_format, args.style, gz_style=args.gz_style, split_target_bytes=_split_bytes(args)
    )
    out = inspect_records(
        records,
        member_offsets=not args.no_member_offsets,
        record_offsets=not args.no_record_offsets,
        record_headers=not args.no_record_headers,
        record_http_headers=not args.no_record_http_headers,
    )
    rows = out.limit(args.limit).collect()
    _emit({"records": [r.asDict() for r in rows]}, args.format)


def cmd_cdx(args) -> None:
    """CDX capture index (pywb/OpenWayback-style replay sidecar): one row
    per response/revisit capture, sorted by (SURT urlkey, timestamp)."""
    from wbx.analytics import cdx_index

    spark = _spark("cdx")
    records = load_records(
        spark, args.input, args.input_format, args.style,
        gz_style=args.gz_style, split_target_bytes=_split_bytes(args),
    )
    rows = cdx_index(records).collect()
    _emit({"cdx": [r.asDict() for r in rows]}, args.format)


def cmd_audit(args) -> None:
    """Archive integrity audit: recompute each record's content-block sha1
    and compare with its declared WARC-Block-Digest (hex or RFC 4648
    base32); prints a summary plus every non-ok row."""
    from pyspark.sql import functions as F

    from wbx.analytics import audit_digests

    spark = _spark("audit")
    records = load_records(
        spark, args.input, args.input_format, args.style,
        gz_style=args.gz_style, split_target_bytes=_split_bytes(args),
    )
    audited = audit_digests(records)
    summary = {
        r["encoding"] + ("" if r["ok"] is None else ":" + str(r["ok"]).lower()): r["n"]
        for r in audited.groupBy("encoding", "ok").agg(F.count("*").alias("n")).collect()
    }
    bad = [
        r.asDict()
        for r in audited.where(~F.coalesce(F.col("ok"), F.lit(False)))
        .orderBy("source_file", "record_start")
        .collect()
    ]
    _emit({"audit": {"summary": summary, "not_ok": bad}}, args.format)


def cmd_dedup_warc(args) -> None:
    """Deduplicated WARC export: first capture of each distinct response
    payload written verbatim, repeats as slim WARC 1.1 revisit records
    (identical-payload-digest profile); prints the manifest."""
    from wbx.sinks import export_warc_deduped

    spark = _spark("dedup-warc")
    records = load_records(
        spark, args.input, args.input_format, args.style,
        gz_style=args.gz_style, split_target_bytes=_split_bytes(args),
    )
    manifest = export_warc_deduped(records, args.output_dir, files=args.files)
    rows = manifest.orderBy("path").collect()
    _emit({"dedup_warc": [r.asDict() for r in rows]}, args.format)


def cmd_wet(args) -> None:
    """WET export: Common-Crawl-style conversion-record sidecars from a
    pages parquet table (input_hint shape: url, warc_ts, text); prints the
    manifest (one row per .warc.gz written)."""
    from wbx.sinks import export_wet

    spark = _spark("wet")
    pages = spark.read.parquet(args.input)
    manifest = export_wet(pages, args.output_dir, files=args.files)
    rows = manifest.orderBy("path").collect()
    _emit({"wet": [r.asDict() for r in rows]}, args.format)


def cmd_wat(args) -> None:
    """WAT export: metadata-sidecar records (JSON envelope: url, date,
    title/charset/lang, resolved outlinks) from a pages parquet table."""
    from wbx.sinks import export_wat

    spark = _spark("wat")
    pages = spark.read.parquet(args.input)
    manifest = export_wat(pages, args.output_dir, files=args.files)
    rows = manifest.orderBy("path").collect()
    _emit({"wat": [r.asDict() for r in rows]}, args.format)


def cmd_chunk(args) -> None:
    """Sliding-window chunking: documents parquet (doc_id, text) →
    (doc_id, chunk_id, n_words, chunk_text) parquet — the context-length
    packing step of a training-data pipeline. Prints a one-line summary."""
    from wbx.textops import chunk_documents

    spark = _spark("chunk")
    docs = spark.read.parquet(args.input)
    chunks = chunk_documents(
        docs,
        chunk_words=args.chunk_words,
        overlap_words=args.overlap_words,
        id_col=args.id_col,
        text_col=args.text_col,
    )
    if args.files:
        chunks = chunks.repartition(args.files, args.id_col)
    chunks.write.mode("overwrite").parquet(args.output_dir)
    n = spark.read.parquet(args.output_dir).count()
    _emit({"chunks": n, "output": args.output_dir}, args.format)


def cmd_pack(args) -> None:
    """Training-shard packing: documents parquet (doc_id, text) → parquet
    partitioned by fixed-token-budget shard_id, plus a JSON manifest line
    per shard (wbx.sinks.write_packed_shards)."""
    from wbx.sinks import write_packed_shards

    spark = _spark("pack")
    docs = spark.read.parquet(args.input)
    manifest = write_packed_shards(
        docs,
        args.output_dir,
        budget_tokens=args.budget_tokens,
        id_col=args.id_col,
        text_col=args.text_col,
    )
    rows = manifest.collect()
    _emit({"shards": [r.asDict() for r in rows]}, args.format)


def cmd_curate(args) -> None:
    """End-to-end corpus curation: documents parquet -> curated corpus
    written as fixed-token-budget training shards, plus the cumulative
    stage funnel and the per-shard manifest on stdout (wbx.textops
    curate_flags/curate_corpus + wbx.sinks.write_packed_shards)."""
    from wbx.sinks import write_packed_shards
    from wbx.textops import curate_flags, curate_from_flags, curation_report

    spark = _spark("curate")
    docs = spark.read.parquet(args.input)
    bench = spark.read.parquet(args.benchmark) if args.benchmark else None
    # build the flags frame ONCE and cache it: the funnel report and the
    # curated corpus both derive from it, so without the persist the
    # dedup/decontamination joins and classifier would run twice
    flags = curate_flags(
        docs, bench, classifier_threshold=args.classifier_threshold
    ).persist()
    try:
        funnel = [r.asDict() for r in curation_report(flags).collect()]
        curated = curate_from_flags(flags)
        manifest = write_packed_shards(
            curated, args.output_dir, budget_tokens=args.budget_tokens
        )
        shards = [r.asDict() for r in manifest.collect()]
    finally:
        flags.unpersist()
    _emit({"funnel": funnel, "shards": shards, "output": args.output_dir},
          args.format)


def cmd_crawl(args) -> None:
    from wbx.checkpoint import CheckpointStore, run_crawl

    spark = _spark("crawl")
    with open(args.seeds) as f:
        seeds = [line.strip() for line in f if line.strip()]
    seeds_df = spark.createDataFrame(
        [(u, 1.0) for u in seeds], "url string, priority double"
    )
    hosts = (
        spark.read.parquet(args.hosts)
        if args.hosts
        else spark.createDataFrame([], "host string, budget int")
    )
    robots = spark.read.parquet(args.robots) if args.robots else None

    def expand(batch):
        # placeholder expansion: no fetching in-engine; downstream fetchers
        # write discovered URLs back as the next round's frontier table
        return batch.sparkSession.createDataFrame([], "url string, priority double")

    store = CheckpointStore(args.store)
    out = run_crawl(
        spark,
        store,
        seeds_df,
        expand,
        hosts,
        robots,
        rounds=args.rounds,
        batch_size=args.batch_size,
        default_budget=args.budget,
    )
    print(json.dumps(out))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="wbx")
    sub = p.add_subparsers(dest="cmd", required=True)

    def common(sp):
        sp.add_argument("--input", required=True)
        sp.add_argument("--input-format", choices=["warc", "parquet"], default="warc")
        sp.add_argument("--style", choices=["content_length", "delimiter"], default="content_length")
        sp.add_argument("--gz-style", choices=["file", "member"], default="file",
                        help="gz decompression: whole-file record scan, or one record per gzip member (S5)")
        sp.add_argument("--format", choices=["json", "text"], default="json")
        sp.add_argument("--split-mb", type=int, default=128,
                        help="split .warc.gz files into ~N MB scan tasks (two-stage member-index scan); 0 = whole-file tasks")

    s = sub.add_parser("summarize")
    common(s)
    s.set_defaults(fn=cmd_summarize)

    s = sub.add_parser("filter-records")
    common(s)
    s.add_argument("--header-regex")
    s.add_argument("--content-length", type=int)
    s.add_argument("--length-op", default="eq", choices=["lt", "le", "eq", "ne", "gt", "ge"])
    s.add_argument("--content-type")
    s.add_argument("--warc-field", help="NAME=TARGET substring match")
    s.add_argument("--http-verb")
    s.add_argument("--http-status", type=int)
    s.add_argument("--http-header", help="NAME=TARGET substring match")
    s.add_argument("--http-content-type")
    s.add_argument("--include-warcinfo", action="store_true")
    s.add_argument("--custom-filter-path", help="python file exporting Column-returning filters in __all__")
    s.add_argument("--custom-record-handler-path", help="python file exporting DataFrame handlers in __all__")
    s.add_argument("--output-count", action="store_true")
    s.add_argument("--limit", type=int, default=100)
    s.set_defaults(fn=cmd_filter_records)

    s = sub.add_parser("match-pairs")
    common(s)
    s.add_argument("--exclude-file-uris", action="store_true")
    s.add_argument("--decode-uris", action="store_true",
                   help="report by-URI keys in latin1/utf-8-replace/base64 (Sc7)")
    s.set_defaults(fn=cmd_match_pairs)

    s = sub.add_parser("compare-headers")
    common(s)
    s.add_argument("--input2", required=True)
    s.add_argument("--fields")
    s.add_argument("--near-fields")
    s.add_argument("--near-header-diffs", action="store_true")
    s.add_argument("--near-http-header-diffs", action="store_true")
    s.add_argument("--serve-near-matching-records", action="store_true",
                   help="S10: serve an HTTP comparison/replay UI for the near-matching pairs")
    s.add_argument("--server-host", default="127.0.0.1")
    s.add_argument("--server-port", type=int, default=8000)
    s.set_defaults(fn=cmd_compare_headers)

    s = sub.add_parser("compare-parsers")
    s.add_argument("--input", required=True)
    s.add_argument("--format", choices=["json", "text"], default="json")
    s.set_defaults(fn=cmd_compare_parsers)

    s = sub.add_parser("extract")
    common(s)
    s.add_argument("--mimetype", required=True)
    s.add_argument("--extension", default="")
    s.add_argument("--basename")
    s.add_argument("--output-dir", required=True)
    s.add_argument("--decode", action=argparse.BooleanOptionalAction, default=True)
    s.set_defaults(fn=cmd_extract)

    s = sub.add_parser("inspect")
    common(s)
    s.add_argument("--no-member-offsets", action="store_true")
    s.add_argument("--no-record-offsets", action="store_true")
    s.add_argument("--no-record-headers", action="store_true")
    s.add_argument("--no-record-http-headers", action="store_true")
    s.add_argument("--limit", type=int, default=1000)
    s.set_defaults(fn=cmd_inspect)

    s = sub.add_parser("cdx")
    common(s)
    s.set_defaults(fn=cmd_cdx)

    s = sub.add_parser("audit")
    common(s)
    s.set_defaults(fn=cmd_audit)

    s = sub.add_parser("dedup-warc")
    common(s)
    s.add_argument("--output-dir", required=True)
    s.add_argument("--files", type=int, default=None,
                   help="repartition to N deterministic output files")
    s.set_defaults(fn=cmd_dedup_warc)

    s = sub.add_parser("wet")
    s.add_argument("--input", required=True,
                   help="pages parquet (url, warc_ts, text)")
    s.add_argument("--output-dir", required=True)
    s.add_argument("--files", type=int, default=None,
                   help="repartition to N deterministic output files")
    s.add_argument("--format", choices=["json", "text"], default="json")
    s.set_defaults(fn=cmd_wet)

    s = sub.add_parser("wat")
    s.add_argument("--input", required=True,
                   help="pages parquet (url, warc_ts, html)")
    s.add_argument("--output-dir", required=True)
    s.add_argument("--files", type=int, default=None)
    s.add_argument("--format", choices=["json", "text"], default="json")
    s.set_defaults(fn=cmd_wat)

    s = sub.add_parser("chunk")
    s.add_argument("--input", required=True,
                   help="documents parquet (doc_id, text)")
    s.add_argument("--output-dir", required=True)
    s.add_argument("--chunk-words", type=int, default=512)
    s.add_argument("--overlap-words", type=int, default=64)
    s.add_argument("--id-col", default="doc_id")
    s.add_argument("--text-col", default="text")
    s.add_argument("--files", type=int, default=None)
    s.add_argument("--format", choices=["json", "text"], default="json")
    s.set_defaults(fn=cmd_chunk)

    s = sub.add_parser("pack")
    s.add_argument("--input", required=True,
                   help="documents parquet (doc_id, text)")
    s.add_argument("--output-dir", required=True)
    s.add_argument("--budget-tokens", type=int, default=1_000_000)
    s.add_argument("--id-col", default="doc_id")
    s.add_argument("--text-col", default="text")
    s.add_argument("--format", choices=["json", "text"], default="json")
    s.set_defaults(fn=cmd_pack)

    s = sub.add_parser("curate")
    s.add_argument("--input", required=True,
                   help="documents parquet (doc_id, text)")
    s.add_argument("--output-dir", required=True)
    s.add_argument("--benchmark", default=None,
                   help="optional benchmark parquet for decontamination")
    s.add_argument("--budget-tokens", type=int, default=1_000_000)
    s.add_argument("--classifier-threshold", type=float, default=0.0)
    s.add_argument("--format", choices=["json", "text"], default="json")
    s.set_defaults(fn=cmd_curate)

    s = sub.add_parser("crawl")
    s.add_argument("--seeds", required=True)
    s.add_argument("--store", required=True)
    s.add_argument("--rounds", type=int, default=1)
    s.add_argument("--batch-size", type=int)
    s.add_argument("--budget", type=int, default=10)
    s.add_argument("--hosts")
    s.add_argument("--robots")
    s.set_defaults(fn=cmd_crawl)

    args = p.parse_args(argv)
    args.fn(args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
