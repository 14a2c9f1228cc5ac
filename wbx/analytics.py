"""Analytics jobs: summarize, pair-matching, archive comparison.

DataFrame rewrites of the reference CLI commands (studied for behavior):
- summarize           scripts/summarize.py        → groupBy aggregates A1–A4
- match-record-pairs  utils.py:458-525            → window + full_outer join J1
- compare-headers     scripts/compare_headers.py  → window + join + CASE    J2/J3

Scale notes: every aggregation here is a map-side-combinable groupBy; the
joins shuffle on (target_uri) / (warc_type, target_uri) which are
high-cardinality keys (no skew hot-spot beyond what AQE handles); "file
order" is the explicit sort key (source_file, record_start) — never
arrival order — so results are deterministic at any parallelism.
"""

from __future__ import annotations

from urllib.parse import urlparse

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

FILE_ORDER = ["source_file", "record_start"]

# sentinel distinguishing "field present with null value" from "field absent"
# in compare-headers equality (reference get_field(field, "", decode=True)
# returns None for valueless fields and "" for absent ones — unequal).
_NULL_SENTINEL = "\x00null"


def netloc_expr(url: Column) -> Column:
    """Fast tier of urlparse().netloc: netloc exists iff '//' follows the
    (optional) scheme, and runs to the first '/', '?' or '#'. Pure JVM
    regexp — whole-stage codegen, no Python workers — matching urlparse on
    every well-formed URL; :func:`netloc_udf` is the byte-exact parity
    fallback for urlparse's exotic edge handling (e.g. embedded control
    characters)."""
    n = F.regexp_extract(url, r"^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//([^/?#]*)", 1)
    return F.when(n == "", F.lit(None)).otherwise(n)


@F.pandas_udf(T.StringType())
def netloc_udf(url: pd.Series) -> pd.Series:
    """urlparse().netloc parity (summarize.py:95-99): keeps port and case,
    includes userinfo; empty netloc → None (reference skips falsy netloc)."""
    out = []
    for u in url:
        if u is None:
            out.append(None)
            continue
        try:
            netloc = urlparse(u).netloc
            out.append(netloc if netloc else None)
        except Exception:
            out.append(None)
    return pd.Series(out, dtype=object)


# ---------------------------------------------------------------------------
# summarize (A1–A4)
# ---------------------------------------------------------------------------


def record_count(records: DataFrame) -> DataFrame:
    return records.agg(F.count("*").alias("record_count"))


def count_by_type(records: DataFrame) -> DataFrame:
    """A2: counts by WARC-Type (records with no type are excluded, the
    reference logs a warning for them)."""
    return (
        records.filter(F.col("warc_type").isNotNull())
        .groupBy("warc_type")
        .agg(F.count("*").alias("n"))
    )


def count_by_domain(records: DataFrame) -> DataFrame:
    """A3: counts by urlparse-netloc of WARC-Target-URI.

    The netloc is the JVM regexp netloc_expr (codegen'd — this is a hot
    path over every record at 100 TB); netloc_udf, the Python urlparse
    form, is its tested parity reference."""
    return (
        records.filter(F.col("target_uri").isNotNull())
        .withColumn("domain", netloc_expr(F.col("target_uri")))
        .filter(F.col("domain").isNotNull())
        .groupBy("domain")
        .agg(F.count("*").alias("n"))
    )


def count_by_http_content_type(records: DataFrame) -> DataFrame:
    """A4: counts of raw HTTP response Content-Type values (incl. charset
    suffix), over msgtype=response records only."""
    return (
        records.filter(
            F.col("content_type").contains("msgtype=response")
            & F.col("http_content_type").isNotNull()
        )
        .groupBy("http_content_type")
        .agg(F.count("*").alias("n"))
    )


def summarize(records: DataFrame) -> dict[str, DataFrame]:
    return {
        "record_count": record_count(records),
        "record_types": count_by_type(records),
        "domains": count_by_domain(records),
        "content_types": count_by_http_content_type(records),
    }


# ---------------------------------------------------------------------------
# J1: request↔response pair matching
# ---------------------------------------------------------------------------


def match_pairs(records: DataFrame, exclude_file_uris: bool = False) -> DataFrame:
    """FIFO pair matching, relational form.

    The reference streams records in file order keeping per-URI deques of
    unpaired requests/responses; a new record pops the oldest opposite-side
    record for its URI. The queue invariant means the k-th request (in file
    order, per URI) always pairs with the k-th response (per URI) — so the
    exact same pairing is produced by ranking each side with row_number()
    and pivoting the two sides of each (target_uri, seq) key together.
    A missing side ⇒ lone record.

    Plan shape (r6 — guide §2.4): ONE exchange. The input is hash-
    partitioned on target_uri; the per-(uri, side) rank window, the
    (uri, seq) key pivot (a groupBy — (uri, side, seq) is unique, so each
    group holds at most one row per side and the conditional any_value
    aggregates are the old full_outer join's row, exactly), and any
    downstream per-uri aggregate (pair_counts / pair_summary_by_uri) all
    reuse that clustering with no further shuffle. The previous
    rank → split → full_outer-join form shuffled both join branches a
    second time on (uri, seq).

    Returns (target_uri, seq, req_start, req_end, resp_start, resp_end,
    pair_type ∈ {pair, lone_request, lone_response}).
    """
    base = records.filter(F.lower(F.col("warc_type")).isin("request", "response"))
    if exclude_file_uris:
        base = base.filter(
            F.col("target_uri").isNull()
            | ~F.col("target_uri").startswith("file:///")
        )
    side = F.lower(F.col("warc_type"))
    staged = base.select(
        "target_uri",
        side.alias("side"),
        F.col("record_start"),
        F.col("record_end"),
        *[F.col(c) for c in FILE_ORDER if c not in ("record_start",)],
    ).repartition(F.col("target_uri"))
    ranked = staged.select(
        "target_uri",
        "side",
        "record_start",
        "record_end",
        F.row_number()
        .over(Window.partitionBy("target_uri", "side").orderBy(*FILE_ORDER))
        .alias("seq"),
    )
    is_req = F.col("side") == "request"
    pick = lambda cond, c: F.any_value(F.when(cond, F.col(c)), True)  # noqa: E731
    return (
        ranked.groupBy("target_uri", "seq")
        .agg(
            pick(is_req, "record_start").alias("req_start"),
            pick(is_req, "record_end").alias("req_end"),
            pick(~is_req, "record_start").alias("resp_start"),
            pick(~is_req, "record_end").alias("resp_end"),
        )
        .select(
            "target_uri",
            "seq",
            "req_start",
            "req_end",
            "resp_start",
            "resp_end",
            F.when(
                F.col("req_start").isNotNull() & F.col("resp_start").isNotNull(),
                "pair",
            )
            .when(F.col("req_start").isNotNull(), "lone_request")
            .otherwise("lone_response")
            .alias("pair_type"),
        )
    )


def pair_counts(records: DataFrame, exclude_file_uris: bool = False) -> DataFrame:
    """A5: {pairs, lone_requests, lone_responses} counts."""
    return (
        match_pairs(records, exclude_file_uris)
        .groupBy("pair_type")
        .agg(F.count("*").alias("n"))
    )


@F.pandas_udf(T.BinaryType())
def target_uri_bytes_udf(header_bytes: pd.Series) -> pd.Series:
    """Raw (undecoded) WARC-Target-URI bytes via the reference header
    parser — the collision-safe report key of Sc7."""
    from wbx.extract import get_field, parse_header_fields

    out = []
    for hb in header_bytes:
        if hb is None:
            out.append(None)
            continue
        out.append(get_field(parse_header_fields(bytes(hb)), "WARC-Target-URI", b""))
    return pd.Series(out, dtype=object)


def pair_summary_by_uri_decoded(
    records: DataFrame, exclude_file_uris: bool = True
) -> DataFrame:
    """Sc7 parity (scripts/match_record_pairs.py:169-189): the by-URI pair
    summary keyed by the RAW Target-URI bytes, reported in the reference's
    three decodings — latin1 (readable, bijective with the bytes, so no
    collisions), utf-8-replace, and base64-ascii.

    Keying by the latin-1 decoding IS keying by the raw bytes (latin-1 is a
    bijection byte↔codepoint), so FIFO matching groups exactly like the
    reference even when two byte sequences utf-8-replace-decode to the same
    string. The bytes are recovered JVM-side with encode(…, 'ISO-8859-1')
    for the base64 column; utf-8-replace uses the byte-exact Python UDF."""
    from wbx.extract import utf8_replace_udf

    keyed = records.withColumn(
        "target_uri",
        F.decode(target_uri_bytes_udf(F.col("header_bytes")), "ISO-8859-1"),
    )
    summary = pair_summary_by_uri(keyed, exclude_file_uris)
    raw = F.encode(F.col("target_uri"), "ISO-8859-1")
    return summary.select(
        F.col("target_uri").alias("uri_latin1"),
        utf8_replace_udf(raw).alias("uri_utf8_replace"),
        F.base64(raw).alias("uri_base64"),
        "pairs",
        "lone_requests",
        "lone_responses",
    )


def pair_summary_by_uri(records: DataFrame, exclude_file_uris: bool = True) -> DataFrame:
    """A7: per-URI pair/lone counts, sorted for stable reports (O2)."""
    return (
        match_pairs(records, exclude_file_uris)
        .groupBy("target_uri")
        .agg(
            F.sum(F.when(F.col("pair_type") == "pair", 1).otherwise(0)).alias("pairs"),
            F.sum(F.when(F.col("pair_type") == "lone_request", 1).otherwise(0)).alias(
                "lone_requests"
            ),
            F.sum(F.when(F.col("pair_type") == "lone_response", 1).otherwise(0)).alias(
                "lone_responses"
            ),
        )
        .orderBy("target_uri")
    )


# ---------------------------------------------------------------------------
# J2/J3: two-archive header comparison
# ---------------------------------------------------------------------------

DEFAULT_COMPARE_FIELDS = ["WARC-Payload-Digest", "Content-Length"]


def _field_value(field: str) -> Column:
    """get_field(field, "", decode=True) parity over the headers map:
    absent → "", present-with-null-value → sentinel (≠ "")."""
    first = F.element_at(F.col("headers"), field)[0]
    return F.when(
        F.map_contains_key(F.col("headers"), field), F.coalesce(first, F.lit(_NULL_SENTINEL))
    ).otherwise(F.lit(""))


def compare_headers(
    records1: DataFrame,
    records2: DataFrame,
    compare_fields: list[str] | None = None,
    near_match_fields: list[str] | None = None,
    carry_cols: list[str] | None = None,
) -> DataFrame:
    """Classify records across two archives (compare_headers.py:21-328).

    Per (warc_type, target_uri), records are zipped positionally in file
    order — expressed as row_number + full_outer join on (type, uri, seq).
    warcinfo records are ignored. URIs present in only one archive → all
    their records are 'unique'. URIs whose record counts differ between the
    archives are skipped entirely (reference quirk). Otherwise a zipped pair
    matches if all compare fields are equal; nearly-matches if it differs
    only in near-match fields; else both sides are unique.

    Returns one row per classified record-pair or lone record:
    (warc_type, target_uri, seq, side ∈ {both, left, right},
     status ∈ {matching, near_matching, unique, skipped}).
    `carry_cols` rides extra record columns through as l_<col>/r_<col>
    (used by near_match_header_diffs for Sc9 diff output).

    Plan shape (r6 — guide §2.4): ONE exchange. The two archives union
    with a side tag, hash-partition once on (warc_type, uri); the
    per-(side, type, uri) rank window, the (type, uri, seq) pivot (a
    groupBy — each group holds at most one row per side, so conditional
    any_value aggregates reproduce the old full_outer join's row
    exactly), and the key-level skip-rule window all reuse that
    clustering with no further shuffle. The per-side record counts the
    skip rule needs fall out as window sums of side-presence flags over
    (type, uri) — seq is dense per side, so the count of keys where a
    side is present equals that side's record count. Ranking partitions
    on the ''-coalesced URI (the reference buckets records the same way:
    a NULL Target-URI and an empty one share a deque).
    """
    compare_fields = compare_fields or list(DEFAULT_COMPARE_FIELDS)
    near_match_fields = near_match_fields or list(DEFAULT_COMPARE_FIELDS)
    carry = list(carry_cols or [])

    def prep(df: DataFrame, tag: int) -> DataFrame:
        base = df.filter(
            F.col("warc_type").isNotNull() & (F.col("warc_type") != "warcinfo")
        )
        cols = [
            F.lit(tag).alias("_side"),
            F.col("warc_type"),
            F.coalesce(F.col("target_uri"), F.lit("")).alias("_uri"),
            *[F.col(c) for c in FILE_ORDER],
        ]
        for i, field in enumerate(compare_fields):
            cols.append(_field_value(field).alias(f"_f{i}"))
        for c in carry:
            cols.append(F.col(c).alias(f"_c_{c}"))
        return base.select(*cols)

    unioned = prep(records1, 0).unionByName(prep(records2, 1)).repartition(
        F.col("warc_type"), F.col("_uri")
    )
    ranked = unioned.withColumn(
        "seq",
        F.row_number().over(
            Window.partitionBy("_side", "warc_type", "_uri").orderBy(*FILE_ORDER)
        ),
    )
    is_l = F.col("_side") == 0
    pick = lambda cond, c: F.any_value(F.when(cond, F.col(c)), True)  # noqa: E731
    aggs = [
        F.max(F.when(is_l, F.lit(1))).alias("_l_here"),
        F.max(F.when(~is_l, F.lit(1))).alias("_r_here"),
    ]
    for i in range(len(compare_fields)):
        aggs.append(pick(is_l, f"_f{i}").alias(f"l_f{i}"))
        aggs.append(pick(~is_l, f"_f{i}").alias(f"r_f{i}"))
    for c in carry:
        aggs.append(pick(is_l, f"_c_{c}").alias(f"l_{c}"))
        aggs.append(pick(~is_l, f"_c_{c}").alias(f"r_{c}"))
    keyed = ranked.groupBy("warc_type", "_uri", "seq").agg(*aggs)

    all_equal = F.lit(True)
    near_ok = F.lit(True)
    for i, field in enumerate(compare_fields):
        eq = F.col(f"l_f{i}") == F.col(f"r_f{i}")
        all_equal = all_equal & eq
        if field not in near_match_fields:
            near_ok = near_ok & eq

    both = F.col("_l_here").isNotNull() & F.col("_r_here").isNotNull()

    # Key-level record counts for the skip rule ("record counts differ for
    # a common URI → every record of that URI is skipped"): per-side window
    # sums of the presence flags over the groupBy's own partitioning —
    # NULL when a side never appears for the key (→ unique), exactly the
    # old max-over-joined-l_n semantics.
    wkey = Window.partitionBy("warc_type", "_uri")
    key_l_n = F.sum("_l_here").over(wkey)
    key_r_n = F.sum("_r_here").over(wkey)
    return keyed.select(
        "warc_type",
        F.col("_uri").alias("target_uri"),
        "seq",
        F.when(both, "both")
        .when(F.col("_l_here").isNotNull(), "left")
        .otherwise("right")
        .alias("side"),
        F.when(key_l_n.isNull() | key_r_n.isNull(), "unique")
        .when(key_l_n != key_r_n, "skipped")
        .when(both & all_equal, "matching")
        .when(both & near_ok, "near_matching")
        .otherwise("unique")
        .alias("status"),
        *[F.col(f"{tag}_{c}") for c in carry for tag in ("l", "r")],
    )


def compare_headers_summary(
    records1: DataFrame,
    records2: DataFrame,
    compare_fields: list[str] | None = None,
    near_match_fields: list[str] | None = None,
) -> DataFrame:
    """A6: matching / near_matching / unique1 / unique2 counts.

    'unique' on side=both counts toward BOTH archives (reference appends
    record1 and record2); lone sides count toward their own archive only.
    Skipped rows count nowhere.
    """
    classified = compare_headers(records1, records2, compare_fields, near_match_fields)
    return classified.agg(
        F.sum(F.when(F.col("status") == "matching", 1).otherwise(0)).alias("matching"),
        F.sum(F.when(F.col("status") == "near_matching", 1).otherwise(0)).alias(
            "near_matching"
        ),
        F.sum(
            F.when(
                (F.col("status") == "unique") & F.col("side").isin("both", "left"), 1
            ).otherwise(0)
        ).alias("unique1"),
        F.sum(
            F.when(
                (F.col("status") == "unique") & F.col("side").isin("both", "right"), 1
            ).otherwise(0)
        ).alias("unique2"),
    )


@F.pandas_udf(T.ArrayType(T.StringType()))
def _ndiff_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """difflib.ndiff of two byte blocks (utf-8-replace decoded, splitlines
    with keepends) — Sc9 parity with compare_headers.py:355-391."""
    import difflib

    out = []
    for x, y in zip(a, b):
        xs = (bytes(x).decode("utf-8", errors="replace") if x is not None else "").splitlines(
            keepends=True
        )
        ys = (bytes(y).decode("utf-8", errors="replace") if y is not None else "").splitlines(
            keepends=True
        )
        out.append(list(difflib.ndiff(xs, ys)))
    return pd.Series(out, dtype=object)


def near_match_header_diffs(
    records1: DataFrame,
    records2: DataFrame,
    compare_fields: list[str] | None = None,
    near_match_fields: list[str] | None = None,
    http: bool = False,
) -> DataFrame:
    """Sc9: per near-matching record pair, the line-level difflib.ndiff of
    the two WARC header blocks (http=True diffs the HTTP header blocks
    instead, empty string when a side has none — reference
    compare_headers.py:355-391). Returns (warc_type, target_uri, seq,
    diff array<string>) in deterministic key order."""
    carry = ["header_bytes", "content_block"] if http else ["header_bytes"]
    classified = compare_headers(
        records1, records2, compare_fields, near_match_fields, carry_cols=carry
    )
    near = classified.filter(F.col("status") == "near_matching")
    if http:
        from wbx.extract import http_header_block_udf

        left = http_header_block_udf(F.col("l_content_block"), F.col("l_header_bytes"))
        right = http_header_block_udf(F.col("r_content_block"), F.col("r_header_bytes"))
    else:
        left, right = F.col("l_header_bytes"), F.col("r_header_bytes")
    return near.select(
        "warc_type",
        "target_uri",
        "seq",
        _ndiff_udf(left, right).alias("diff"),
    ).orderBy("warc_type", "target_uri", "seq")


def uri_set_ops(records1: DataFrame, records2: DataFrame) -> dict[str, DataFrame]:
    """J3: per-type URI keyset intersection/differences as join forms
    (left_semi/left_anti — we want rows, not just keys)."""
    k1 = records1.select("warc_type", "target_uri").distinct()
    k2 = records2.select("warc_type", "target_uri").distinct()
    on = ["warc_type", "target_uri"]
    return {
        "common": k1.join(k2, on, "left_semi"),
        "only_left": k1.join(k2, on, "left_anti"),
        "only_right": k2.join(k1, on, "left_anti"),
    }


# ---------------------------------------------------------------------------
# H1/H9-style projections and O1 limit
# ---------------------------------------------------------------------------


def record_offsets(records: DataFrame, split: bool = False) -> DataFrame:
    cols = ["source_file", "record_start", "record_end"]
    if split:
        cols += ["header_start", "header_end", "content_start", "content_end"]
    return records.select(*cols)


def member_offsets(records: DataFrame, compressed: bool = True) -> DataFrame:
    cols = (
        ["source_file", "member_start", "member_end"]
        if compressed
        else ["source_file", "unc_start", "unc_end"]
    )
    return records.select(*cols)


def stop_after_nth(records: DataFrame, n: int) -> DataFrame:
    """O1 parity: reference stops after the nth record in FILE order, so the
    relational form is an explicit per-file rank, not a bare limit()."""
    w = Window.partitionBy("source_file").orderBy("record_start")
    return (
        records.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def host_report(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Per-host crawl report over the input_hint pages table: page count,
    total extracted-text characters, distinct languages, first/last capture
    timestamps. The host key is the JVM netloc tier (netloc_expr — codegen,
    no Python); every aggregate is map-side combinable, so the single
    shuffle carries one partial row per (task, host) — at 10^10 pages the
    exchange is ~#hosts×tasks rows, not #pages. approx_count_distinct is
    deliberately NOT used: lang cardinality is tiny and the exact
    count_distinct keeps the report oracle-checkable."""
    return (
        pages.withColumn("host", netloc_expr(F.col(url_col)))
        .filter(F.col("host").isNotNull())
        .groupBy("host")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.length("text")).alias("text_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("warc_ts").alias("first_ts"),
            F.max("warc_ts").alias("last_ts"),
        )
    )


def sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Gap-based sessionization: consecutive events of a user separated by
    more than `gap_seconds` start a new session. Returns one row per
    (user, session): event count, start/end timestamps, value total (in
    exact integer cents so the aggregate is order-independent).

    Scale shape: ONE shuffle total. The window (lag + running sum over
    (ts, event_id) — a fully-determined total order per user, so session
    numbering is parallelism-independent) exchanges on user_id, and the
    per-session rollup adds NO second exchange: HashPartitioning(user_id)
    already satisfies the ClusteredDistribution of groupBy(user_id,
    session_idx) — every (user, session) group is co-located (plan verified:
    a single hashpartitioning(user_id) exchange). Gap arithmetic is exact
    interval math on TIMESTAMP_NTZ — no float drift."""
    w = Window.partitionBy(user_col).orderBy(ts_col, "event_id")
    prev = F.lag(ts_col).over(w)
    # interval arithmetic, not unix_micros: the input is TIMESTAMP_NTZ
    # (input_hint parquet), where +interval is exact microsecond math
    new_sess = (
        prev.isNull()
        | (F.col(ts_col) > prev + F.make_interval(secs=F.lit(gap_seconds)))
    ).cast("long")
    cum = Window.partitionBy(user_col).orderBy(ts_col, "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    with_sess = events.withColumn("session_idx", F.sum(new_sess).over(cum))
    return with_sess.groupBy(user_col, "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


def cdx_index(records: DataFrame) -> DataFrame:
    """CDX capture index from a records DataFrame — the web-archive
    replay-index sidecar (pywb / OpenWayback / Common Crawl convention):
    one row per response/revisit capture with the SURT urlkey, 14-digit
    timestamp, mime, HTTP status, content digest, compressed offsets, and
    the source archive, sorted by (urlkey, timestamp) so one URL's
    captures are contiguous — exactly the ordering replay servers
    binary-search.

    Deviations from pywb, chosen for engine determinism (documented, not
    accidental): digest is hex sha1 of the stored content block (pywb
    emits base32 of the decoded payload), and offsets fall back to record
    offsets for uncompressed archives (member_start/length are the
    .warc.gz convention).

    Scale shape: per-row projections (the SURT/timestamp/digest algebra is
    pure Column work over materialized canonical URLs) plus ONE global
    sort — rangepartitioned by Spark, which is the distributed analogue of
    the sorted .cdx file; write partition-wise for a sharded index."""
    from wbx.frontier import surt_key, with_canon_url

    picked = records.where(
        F.col("warc_type").isin("response", "revisit")
        & F.col("target_uri").isNotNull()
    )
    staged = with_canon_url(picked, "target_uri", out_col="_cdx_canon")
    ts14 = F.regexp_replace(
        F.substring(F.col("warc_date"), 1, 19), "[^0-9]", ""
    )
    offset = F.coalesce(F.col("member_start"), F.col("record_start"))
    length = F.coalesce(
        F.col("member_end") - F.col("member_start"),
        F.col("record_end") - F.col("record_start"),
    )
    return (
        staged.select(
            surt_key(F.col("_cdx_canon")).alias("urlkey"),
            ts14.alias("timestamp"),
            F.col("target_uri").alias("url"),
            F.coalesce(F.col("http_content_type"), F.lit("unk")).alias("mime"),
            F.col("http_status").alias("status"),
            F.sha1(F.col("content_block")).alias("digest"),
            length.cast("long").alias("length"),
            offset.cast("long").alias("offset"),
            # CDX convention stores the archive's FILENAME (replay servers
            # resolve it against their collection root), not the scan URI
            F.substring_index(F.col("source_file"), "/", -1).alias("filename"),
        )
        .orderBy("urlkey", "timestamp", "offset")
    )


_B32_ALPHABET = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"


def sha1_base32(data: Column) -> Column:
    """RFC 4648 base32 of the raw sha1 digest — the labelled-digest text
    form real WARC tooling writes and expects (Heritrix, warcio, pywb; the
    WARC spec permits any encoding, which is why this engine's sinks
    default to Spark-native hex, but interop needs base32).

    Pure Column algebra, one codegen pass, no UDF: the 160-bit digest is
    split into 4 × 40-bit limbs (10 hex chars each — conv() round-trips a
    40-bit value losslessly inside a signed long), and each limb yields 8
    base32 chars by 5-bit shifts; 160 = 32 × 5 exactly, so there is never
    any '=' padding."""
    h = F.sha1(data)
    chars = []
    for seg in range(4):
        limb = F.conv(F.substring(h, 1 + seg * 10, 10), 16, 10).cast("long")
        for j in range(8):
            idx = F.shiftright(limb, 35 - 5 * j).bitwiseAND(F.lit(31))
            chars.append(F.substr(F.lit(_B32_ALPHABET), idx + 1, F.lit(1)))
    return F.concat(*chars)


def audit_digests(records: DataFrame) -> DataFrame:
    """Archive integrity audit: recompute the content-block sha1 of every
    record that declares a ``WARC-Block-Digest`` and compare, accepting
    both digest text forms found in the wild — 40-char hex (this engine's
    sinks; spec-legal) and 32-char RFC 4648 base32 (the Heritrix/warcio
    convention). The reference exposes digests only as compare keys
    (ref record_handlers.py DEFAULT_COMPARE_FIELDS); recomputation is the
    engine-native QA step a 100 TB archive ingest needs — bit rot and
    truncated transfers surface exactly here.

    Returns one row per digest-declaring record: (source_file,
    record_start, target_uri, declared, encoding, computed_hex, ok) where
    encoding ∈ hex|base32|unknown-form|unsupported-algo (ok is NULL for
    the latter two — unauditable is reported, never silently passed).

    Scale shape: a pure projection — header-map lookup + two sha1 forms
    run JVM-side at the scan, payload bytes never shuffle, and column
    pruning keeps non-audit columns unread."""
    # F.get is total (NULL when the values array is empty) — element_at(_, 1)
    # would ANSI-throw on a pathological empty header-values array
    value = F.get(
        F.element_at(F.col("headers"), F.lit("WARC-Block-Digest")), 0
    )
    has_label = value.contains(":")
    label = F.when(has_label, F.lower(F.substring_index(value, ":", 1)))
    body = F.when(has_label, F.substring_index(value, ":", -1)).otherwise(value)
    enc = (
        F.when(
            has_label & (label != "sha1"), F.lit("unsupported-algo")
        )
        .when(body.rlike("^[0-9a-fA-F]{40}$"), F.lit("hex"))
        .when(body.rlike("^[A-Z2-7]{32}$"), F.lit("base32"))
        .otherwise(F.lit("unknown-form"))
    )
    computed_hex = F.sha1(F.col("content_block"))
    ok = (
        F.when(enc == "hex", F.lower(body) == computed_hex)
        .when(enc == "base32", body == sha1_base32(F.col("content_block")))
        .otherwise(F.lit(None).cast("boolean"))
    )
    return records.where(value.isNotNull()).select(
        "source_file",
        "record_start",
        "target_uri",
        value.alias("declared"),
        enc.alias("encoding"),
        computed_hex.alias("computed_hex"),
        ok.alias("ok"),
    )


def mark_revisits(records: DataFrame) -> DataFrame:
    """Digest-based duplicate marking for archive dedup — the WARC
    'revisit' convention (Heritrix/wget url-agnostic dedup): among
    response records sharing an identical content digest, the FIRST
    capture in deterministic file order stays the payload holder; every
    later capture is marked a revisit pointing at it (the writer then
    stores a slim revisit record with WARC-Refers-To instead of the
    payload — at Common-Crawl duplication rates that is a large fraction
    of archive bytes).

    Adds (digest, is_revisit, refers_to_file, refers_to_start) to every
    row; non-response records pass through unmarked (digest NULL). When
    the input also carries (target_uri, warc_date) — the scanner's
    standard projection — the first capture's uri/date are annotated as
    (refers_to_uri, refers_to_date) through the same window, so a revisit
    writer (sinks.export_warc_deduped) can emit the WARC 1.1
    WARC-Refers-To-Target-URI / WARC-Refers-To-Date headers without a
    second lookup. The window and its self-annotation shuffle ONLY
    (digest, file, start) — payload columns stay with their rows and
    never ride the exchange twice: the digest is computed map-side, the
    winner lookup is a first() window on the digest key."""
    is_resp = F.col("warc_type") == "response"
    staged = records.withColumn(
        "digest", F.when(is_resp, F.sha1(F.col("content_block")))
    )
    w = Window.partitionBy("digest").orderBy(*FILE_ORDER)
    first_file = F.first("source_file").over(w)
    first_start = F.first("record_start").over(w)
    not_first = (F.col("source_file") != first_file) | (
        F.col("record_start") != first_start
    )
    out = (
        staged.withColumn(
            "is_revisit",
            F.when(F.col("digest").isNotNull() & not_first, F.lit(True)).otherwise(
                F.lit(False)
            ),
        )
        .withColumn(
            "refers_to_file", F.when(F.col("is_revisit"), first_file)
        )
        .withColumn(
            "refers_to_start", F.when(F.col("is_revisit"), first_start)
        )
    )
    if {"target_uri", "warc_date"} <= set(records.columns):
        out = out.withColumn(
            "refers_to_uri",
            F.when(F.col("is_revisit"), F.first("target_uri").over(w)),
        ).withColumn(
            "refers_to_date",
            F.when(F.col("is_revisit"), F.first("warc_date").over(w)),
        )
    return out
