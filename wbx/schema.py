"""Canonical StructTypes for the engine (SURVEY.md §1.3, FIXTURES.md).

Column layout notes for 100 TB scale:
- heavy binary columns (content_block, header_bytes) live in their own
  parquet columns so Catalyst column pruning means a query that never touches
  payload bytes never reads them;
- hot predicate fields (warc_type, target_uri, content_length, content_type)
  are projected to top-level typed columns so filters push down to the scan
  instead of regex-ing header bytes.
"""

from __future__ import annotations

from pyspark.sql import types as T

# Spark analogue of the reference's models.Record (models.py:83-170) plus
# gzip-member context (models.py:268-373).
RECORDS = T.StructType(
    [
        T.StructField("source_file", T.StringType(), False),
        T.StructField("member_start", T.LongType(), True),
        T.StructField("member_end", T.LongType(), True),
        T.StructField("unc_start", T.LongType(), True),
        T.StructField("unc_end", T.LongType(), True),
        T.StructField("record_start", T.LongType(), True),
        T.StructField("record_end", T.LongType(), True),
        T.StructField("header_start", T.LongType(), True),
        T.StructField("header_end", T.LongType(), True),
        T.StructField("content_start", T.LongType(), True),
        T.StructField("content_end", T.LongType(), True),
        T.StructField("warc_version", T.StringType(), True),
        T.StructField(
            "headers", T.MapType(T.StringType(), T.ArrayType(T.StringType())), True
        ),
        T.StructField("warc_type", T.StringType(), True),
        T.StructField("target_uri", T.StringType(), True),
        T.StructField("warc_date", T.StringType(), True),
        T.StructField("content_type", T.StringType(), True),
        T.StructField("content_length", T.LongType(), True),
        T.StructField("header_bytes", T.BinaryType(), True),
        T.StructField("content_block", T.BinaryType(), True),
        T.StructField("http_status", T.IntegerType(), True),
        T.StructField("http_verb", T.StringType(), True),
        T.StructField("http_content_type", T.StringType(), True),
        T.StructField("content_length_ok", T.BooleanType(), True),
        T.StructField("is_warc", T.BooleanType(), False),
    ]
)

# Output of the fused scan+extract hot path (warcio.scan_files_to_text):
# payload bytes never cross the Arrow boundary, only these slim columns do.
TEXT_RECORDS = T.StructType(
    [
        T.StructField("source_file", T.StringType(), False),
        T.StructField("record_start", T.LongType(), True),
        T.StructField("record_end", T.LongType(), True),
        T.StructField("warc_type", T.StringType(), True),
        T.StructField("target_uri", T.StringType(), True),
        T.StructField("http_status", T.IntegerType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)

UNPARSABLE_LINES = T.StructType(
    [
        T.StructField("source_file", T.StringType(), False),
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
        T.StructField("bytes", T.BinaryType(), True),
    ]
)

DIAGNOSTICS = T.StructType(
    [
        T.StructField("source_file", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # warning | error
        T.StructField("message", T.StringType(), False),
    ]
)

# Stage-1 output of the splittable .warc.gz scan (warcio.index_gzip_splits):
# one row per contiguous member group ≈ one stage-2 task ≈ target_bytes of
# compressed archive. n_groups/n_members_total are per-file constants carried
# for last-group detection and single-member warning parity.
ARCHIVE_SPLITS = T.StructType(
    [
        T.StructField("source_file", T.StringType(), False),
        T.StructField("group_id", T.IntegerType(), False),
        T.StructField("n_groups", T.IntegerType(), False),
        T.StructField("comp_start", T.LongType(), False),
        T.StructField("comp_end", T.LongType(), False),
        T.StructField("unc_start", T.LongType(), False),
        T.StructField("unc_end", T.LongType(), False),
        T.StructField("n_members", T.LongType(), False),
        T.StructField("n_members_total", T.LongType(), False),
    ]
)

# Crawl-frontier tables (north_rule).
FRONTIER = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("canon_url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("priority", T.DoubleType(), False),
        T.StructField("discovered_round", T.IntegerType(), False),
    ]
)

SEEN = T.StructType(
    [
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("canon_url", T.StringType(), False),
        T.StructField("fetched_round", T.IntegerType(), False),
    ]
)

FETCH_LOG = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("fetch_order", T.LongType(), False),
        T.StructField("canon_url", T.StringType(), False),
        T.StructField("url_hash", T.LongType(), False),
        T.StructField("host", T.StringType(), False),
        T.StructField("priority", T.DoubleType(), False),
    ]
)

METRICS = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("metric", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
    ]
)
