"""Driver contract for the spark-graft builder (PySpark target).

Every operator family from SURVEY.md §2 gets a ``queries()`` entry with a
DuckDB ``oracle_sql()`` twin computed over the same parquet tables
(documents / events / embeddings). The WARC kernel itself is exercised by
synthesizing deterministic WARC archives *from* the documents table on the
executors, scanning them with the distributed scanner, and checking that the
extracted text round-trips byte-identically to the source column (the
byte-identity invariant from BASELINE.json input_hint).

Genuinely non-SQL-expressible sketch ops (SimHash blocking,
random-hyperplane LSH top-k — recall < 1 by construction) have queries()
entries only → the driver records rows-only checks for them, as allowed.
MinHash-LSH IS oracle-backed: its exact-Jaccard verify stage makes the
final output equal to the relational ground truth (banding recall verified
1.0 on this corpus), so the sketch is checked end-to-end.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wbx import analytics, filters, sampling, simsearch, textops
from wbx.extract import extract_text_udf
from wbx.frontier import (
    SeenSet,
    build_seen_bloom,
    canonicalize_url,
    crawl_round,
    dedup_url_latest,
    filter_unseen,
    url_host,
    with_canonical,
)
from wbx.warcio import scan_files_to_records

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # The test parquet files are single-split; a real corpus arrives in many
    # files/row-groups. WBX_INPUT_PARTITIONS>0 (set by bench.py) simulates
    # that pre-partitioned input so per-row kernels use every core.
    n = int(os.environ.get("WBX_INPUT_PARTITIONS", "0"))
    if n > 0:
        df = df.repartition(n)
    return df


def _event_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → records-shaped DF for J1 pair matching: clicks are requests,
    views are responses, user_id is the Target-URI, event_id is file order."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(F.col("event_type").isin("click", "view")).select(
        F.lit("events").alias("source_file"),
        F.col("event_id").alias("record_start"),
        F.col("event_id").alias("record_end"),
        F.when(F.col("event_type") == "click", "request")
        .otherwise("response")
        .alias("warc_type"),
        F.col("user_id").cast("string").alias("target_uri"),
    )


_J1_ORACLE_BASE = """
WITH base AS (
  SELECT CAST(user_id AS VARCHAR) AS uri,
         CASE event_type WHEN 'click' THEN 'request' ELSE 'response' END AS side,
         event_id
  FROM events WHERE event_type IN ('click', 'view')
), ranked AS (
  SELECT uri, side, event_id,
         row_number() OVER (PARTITION BY uri, side ORDER BY event_id) AS seq
  FROM base
), req AS (SELECT * FROM ranked WHERE side = 'request'),
   resp AS (SELECT * FROM ranked WHERE side = 'response'),
   pairs AS (
  SELECT coalesce(req.uri, resp.uri) AS target_uri,
         coalesce(req.seq, resp.seq) AS seq,
         req.event_id AS req_event,
         resp.event_id AS resp_event,
         CASE WHEN req.event_id IS NOT NULL AND resp.event_id IS NOT NULL THEN 'pair'
              WHEN req.event_id IS NOT NULL THEN 'lone_request'
              ELSE 'lone_response' END AS pair_type
  FROM req FULL OUTER JOIN resp ON req.uri = resp.uri AND req.seq = resp.seq
)
"""


def _event_archive(spark: SparkSession, sf_dir: str, parity: int) -> DataFrame:
    """events split into two 'archives' (even/odd event_id) shaped as records
    with a two-field headers map, for J2 compare-headers."""
    ev = _t(spark, sf_dir, "events")
    return ev.filter(F.pmod("event_id", F.lit(2)) == parity).select(
        F.lit("e").alias("source_file"),
        F.col("event_id").alias("record_start"),
        F.col("event_type").alias("warc_type"),
        F.col("user_id").cast("string").alias("target_uri"),
        F.create_map(
            F.lit("F0"),
            F.array(F.floor(F.col("value") / 10).cast("long").cast("string")),
            F.lit("F1"),
            F.array(F.floor(F.col("value")).cast("long").cast("string")),
        ).alias("headers"),
    )


def _messy_url(doc_id) -> F.Column:
    """Deterministic mixed-case URL with default port + fragment per doc;
    doc_id%5==0 rows additionally have an empty path (exercises '/' append)."""
    return F.when(
        F.pmod(doc_id, F.lit(5)) == 0,
        F.concat(F.lit("HTTP://Host"), F.pmod(doc_id, F.lit(7)), F.lit(".COM:80#frag")),
    ).otherwise(
        F.concat(
            F.lit("HTTPS://WWW.Site"),
            F.pmod(doc_id, F.lit(7)),
            F.lit(".ORG:443/Path/"),
            doc_id,
            F.lit("?q="),
            F.pmod(doc_id, F.lit(3)),
            F.lit("#frag"),
        )
    )


def _frontier_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two candidate rows per document (messy-case + lowercase variants with
    different priorities) so canonical dedup + max-priority is exercised."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(
        F.lit("HTTP://H"),
        F.pmod("doc_id", F.lit(20)),
        F.lit(".COM:80/d"),
        F.pmod("doc_id", F.lit(10)),
        F.lit("/"),
        F.col("doc_id"),
    )
    c1 = docs.select(
        url.alias("url"), F.pmod("doc_id", F.lit(5)).cast("double").alias("priority")
    )
    c2 = docs.select(
        F.lower(url).alias("url"),
        F.pmod(F.col("doc_id") + 1, F.lit(5)).cast("double").alias("priority"),
    )
    return c1.unionByName(c2)


def _frontier_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(
        F.lit("http://h"),
        F.pmod("doc_id", F.lit(20)),
        F.lit(".com/d"),
        F.pmod("doc_id", F.lit(10)),
        F.lit("/"),
        F.col("doc_id"),
    )
    return with_canonical(
        docs.filter(F.pmod("doc_id", F.lit(4)) == 0).select(url.alias("url"))
    ).select("url_hash", "canon_url")


def _warc_roundtrip(spark: SparkSession, sf_dir: str, style: str) -> DataFrame:
    """WARC kernel end-to-end: synthesize archives from documents on the
    executors (wbx.fixtures, gzip bodies), scan, extract byte-exact text."""
    from wbx.fixtures import synth_warc_files

    files = synth_warc_files(_t(spark, sf_dir, "documents"))
    recs = scan_files_to_records(files, style=style)
    return recs.filter(F.col("is_warc")).select(
        F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long").alias("doc_id"),
        "target_uri",
        F.col("http_status").cast("long").alias("http_status"),
        extract_text_udf(F.col("content_block"), F.col("header_bytes")).alias(
            "text_out"
        ),
    )


_WARC_ROUNDTRIP_ORACLE = """
SELECT doc_id,
       'https://docs.example/' || doc_id AS target_uri,
       CAST(200 AS BIGINT) AS http_status,
       text AS text_out
FROM documents
"""

# delimiter mode: the reference truncates the last record of a file ending
# in CRLFCRLF (no WARC magic follows at EOF) to (start, start) — its header
# still parses but the content block is empty, so http_status/text_out are
# NULL for the max doc_id of each of the 8 synthesized files.
_WARC_DELIM_ORACLE = """
SELECT doc_id,
       'https://docs.example/' || doc_id AS target_uri,
       CASE WHEN doc_id <> last_id THEN CAST(200 AS BIGINT) END AS http_status,
       CASE WHEN doc_id <> last_id THEN text END AS text_out
FROM (SELECT doc_id, text,
             max(doc_id) OVER (PARTITION BY doc_id % 8) AS last_id
      FROM documents)
"""

_LANG_IN = {
    "de": "'der','die','und','das','ist','nicht','ein','mit','von','zu'",
    "en": "'the','and','of','to','in','is','that','it','for','was'",
    "es": "'el','la','los','de','que','y','en','un','una','es'",
    "fr": "'le','la','les','et','de','un','une','est','que','pour'",
}

_TOKS = "regexp_extract_all(lower(text), '[a-z0-9]+')"

# Cumulative curation funnel (wbx.textops.curate_flags/curation_report,
# benchmark=None, md5 classifier hasher): per-doc flags rebuilt in SQL from
# the same verified fragments as text_clean (C4 + PII), text_repetition
# (Gopher gate) and text_doc_metrics (classifier), then one cumulative
# aggregate. Appended to the a_counts oracle as dim='curate_funnel'.
#
# Planted fixture (both engines): raw synthetic documents pass no gate, so
# doc_id % 17 == 5 rows become one shared clean block (an exact-dup group
# with one survivor), doc_id % 3 == 0 rows keep the raw text (c4 fail),
# and the rest append the clean block (gates pass; the classifier then
# splits them by hash sign) — every funnel stage gets a differentiating,
# nonzero count.
_CURATE_BLOCK_LINES = (
    "the quick brown fox jumps over the lazy dog and runs far away today.",
    "it was a bright clear day and the sun was warm over the green hill.",
    "people walked along the old road and talked about the news of the day.",
    "the market was full of fresh fruit and the sellers called out to all.",
    "everyone agreed that the small town had never looked better than now.",
)
_CURATE_BLOCK = "\n".join(_CURATE_BLOCK_LINES)
_CURATE_BLOCK_SQL = " || chr(10) || ".join(f"'{l}'" for l in _CURATE_BLOCK_LINES)

# the exact-dup group's shared text: picked (offline search over clean
# candidate sentences) to score +0.038 under the seed-13 classifier so the
# group REACHES the dedup stage at the suite threshold (-0.08) and the
# funnel's exact_survivor count actually drops duplicates
_CURATE_DUP_LINES = (
    "birds sang in the tall trees while the wind moved the long grass.",
    "the rain fell all night and the streets shone under the lamps.",
    "a quiet song came from the kitchen where the kettle began to boil.",
    "fresh bread cooled on the sill and its smell filled the whole house.",
    "the map showed a narrow path that led from the mill to the lake.",
)
_CURATE_DUP = "\n".join(_CURATE_DUP_LINES)
_CURATE_DUP_SQL = " || chr(10) || ".join(f"'{l}'" for l in _CURATE_DUP_LINES)

_CURATE_FUNNEL_SQL = r"""
        UNION ALL
        SELECT 'curate_funnel', fs.stage, fs.n_pass FROM (
        WITH pd AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 17 = 5 THEN @DB@
                      WHEN doc_id % 3 = 0 THEN text
                      ELSE text || chr(10) || @GB@ END AS text
          FROM documents
        ), cl AS (
          SELECT doc_id, text,
                 array_to_string(list_filter(string_split(text, chr(10)),
                   l -> (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
                         OR ends_with(trim(l), '?') OR ends_with(trim(l), '"')
                         OR ends_with(trim(l), chr(39)))
                        AND len(list_filter(string_split_regex(trim(l), '\s+'),
                                            w -> w <> '')) >= 3
                        AND NOT contains(lower(trim(l)), 'javascript')),
                   chr(10)) AS c4t
          FROM pd
        ), sc AS (
          SELECT doc_id, text, c4t,
                 regexp_replace(regexp_replace(regexp_replace(c4t,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
                   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS ct
          FROM cl
        ), g1 AS (
          SELECT doc_id, text, c4t,
                 list_filter(string_split(ct, chr(10)), l -> length(l) > 0) AS ls,
                 regexp_extract_all(lower(ct), '[a-z0-9]+') AS ctoks,
                 regexp_extract_all(lower(text), '[a-z0-9]+') AS rtoks
          FROM sc
        ), g2 AS (
          SELECT doc_id, text, c4t, rtoks,
                 len(ls) AS nl, len(list_distinct(ls)) AS ndl,
                 COALESCE(list_aggregate(list_transform(ls, x -> length(x)), 'sum'), 0) AS lc,
                 COALESCE(list_aggregate(list_transform(list_distinct(ls), x -> length(x)), 'sum'), 0) AS dlc,
                 len(ctoks) AS nt,
                 COALESCE(list_aggregate(list_transform(ctoks, x -> length(x)), 'sum'), 0) AS tc,
                 len(list_filter(ctoks, x -> regexp_matches(x, '[a-z]'))) AS alpha,
                 len(list_filter(list_distinct(ctoks), x -> x IN (@EN@))) AS dstop,
                 len(list_filter(ls, l -> ends_with(l, '...') OR ends_with(l, '…'))) AS ell,
                 len(list_filter(ls, l -> starts_with(l, '-') OR starts_with(l, '*') OR starts_with(l, '•'))) AS bul
          FROM g1
        ), fl AS (
          SELECT doc_id,
                 (length(c4t) > 0 AND NOT contains(text, '{')
                  AND NOT contains(lower(text), 'lorem ipsum')
                  AND length(c4t) - length(regexp_replace(c4t, '[.!?]', '', 'g')) >= 5
                 ) AS c4_ok,
                 (nt >= 50 AND nt <= 100000
                  AND (CASE WHEN nt > 0 THEN tc / nt ELSE 0.0 END) >= 3
                  AND (CASE WHEN nt > 0 THEN tc / nt ELSE 0.0 END) <= 10
                  AND (CASE WHEN nl > 0 THEN (nl - ndl) / nl ELSE 0.0 END) <= 0.30
                  AND (CASE WHEN lc > 0 THEN (lc - dlc) / lc ELSE 0.0 END) <= 0.30
                  AND (CASE WHEN nl > 0 THEN ell / nl ELSE 0.0 END) <= 0.30
                  AND (CASE WHEN nl > 0 THEN bul / nl ELSE 0.0 END) <= 0.90
                  AND (CASE WHEN nt > 0 THEN alpha / nt ELSE 0.0 END) >= 0.80
                  AND dstop >= 2) AS gopher_ok,
                 (COALESCE(list_sum(list_transform(
                     list_concat(rtoks, list_transform(
                       CASE WHEN len(rtoks) >= 2
                            THEN generate_series(1, len(rtoks) - 1)
                            ELSE CAST([] AS BIGINT[]) END,
                       i -> rtoks[i] || ' ' || rtoks[i + 1])),
                     f -> CAST(concat('0x', substr(md5(f || '#13'), 1, 15))
                            AS BIGINT) % 2001 - 1000)), 0)
                  >= -80 * (len(rtoks) + CASE WHEN len(rtoks) >= 2
                                              THEN len(rtoks) - 1
                                              ELSE 0 END)) AS clf_ok,
                 (doc_id = min(doc_id) OVER (PARTITION BY md5(text))) AS exact_survivor
          FROM g2
        ), agg AS (
          SELECT count(*) AS n_input,
                 COALESCE(sum(CASE WHEN c4_ok THEN 1 END), 0) AS n_c4,
                 COALESCE(sum(CASE WHEN c4_ok AND gopher_ok THEN 1 END), 0) AS n_gop,
                 COALESCE(sum(CASE WHEN c4_ok AND gopher_ok AND clf_ok
                              THEN 1 END), 0) AS n_clf,
                 COALESCE(sum(CASE WHEN c4_ok AND gopher_ok AND clf_ok
                                        AND exact_survivor THEN 1 END), 0) AS n_surv
          FROM fl
        )
        SELECT 'input' AS stage, CAST(n_input AS BIGINT) AS n_pass FROM agg
        UNION ALL SELECT 'c4_ok', CAST(n_c4 AS BIGINT) FROM agg
        UNION ALL SELECT 'gopher_ok', CAST(n_gop AS BIGINT) FROM agg
        UNION ALL SELECT 'clf_ok', CAST(n_clf AS BIGINT) FROM agg
        UNION ALL SELECT 'exact_survivor', CAST(n_surv AS BIGINT) FROM agg
        UNION ALL SELECT 'decon_ok', CAST(n_surv AS BIGINT) FROM agg
        ) fs
""".replace("@EN@", _LANG_IN["en"]).replace("@GB@", _CURATE_BLOCK_SQL).replace("@DB@", _CURATE_DUP_SQL)


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: one full deterministic crawl round (canonicalize → seen
    anti-join → robots → politeness → global priority order) at sf0.001."""
    return queries()["frontier_crawl_round"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    # --- A1–A4: summarize aggregates ------------------------------------
    # NOTE on suites: the driver's correctness run covers at most 50
    # queries (r1: 29/29, r2: 48/48, r3: 50-of-64 — cut at exactly 50 in
    # registration order), so same-shaped operators are union-tagged or
    # wide-joined into suite queries. Every underlying operator call is
    # unchanged and still individually oracle-pinned (the tag/extra columns
    # only ADD checked values); the suite name lists its members.

    def a_counts(spark, sf):
        """A1+A2+A4 count reports as one tagged suite: dim='total' is
        record_count over documents, dim='event_type' counts the events
        table by type, dim='http_content_type' counts HTTP response
        content types over the rich WARC corpus, and dim='curate_funnel'
        is the composed curation pipeline's cumulative stage funnel
        (curate_flags + curation_report over a planted fixture; stages
        input/c4_ok/gopher_ok/clf_ok/exact_survivor/decon_ok)."""
        total = analytics.record_count(_t(spark, sf, "documents")).select(
            F.lit("total").alias("dim"),
            F.lit(None).cast("string").alias("key"),
            F.col("record_count").alias("n"),
        )
        by_type = (
            _t(spark, sf, "events")
            .groupBy("event_type")
            .agg(F.count("*").alias("n"))
            .select(
                F.lit("event_type").alias("dim"),
                F.col("event_type").alias("key"),
                "n",
            )
        )
        by_ct = (
            _rich(spark, sf)
            .filter(F.col("warc_type") == "response")
            .groupBy(F.col("http_content_type").alias("key"))
            .agg(F.count("*").alias("n"))
            .select(F.lit("http_content_type").alias("dim"), "key", "n")
        )
        # the composed curation pipeline's cumulative funnel (one
        # map-side-combinable aggregate over curate_flags; md5 hasher so
        # the classifier stage is oracle-exact)
        planted_docs = _t(spark, sf, "documents").select(
            "doc_id",
            F.when(
                F.pmod("doc_id", F.lit(17)) == 5, F.lit(_CURATE_DUP)
            )
            .when(F.pmod("doc_id", F.lit(3)) == 0, F.col("text"))
            .otherwise(F.concat("text", F.lit("\n" + _CURATE_BLOCK)))
            .alias("text"),
        )
        # threshold -0.08 sits at the planted corpus' score median, so the
        # classifier stage splits the survivors instead of rubber-stamping
        funnel = textops.curation_report(
            textops.curate_flags(
                planted_docs,
                classifier_threshold=-0.08,
                hasher=sampling.md5_seeded,
            )
        ).select(
            F.lit("curate_funnel").alias("dim"),
            F.col("stage").alias("key"),
            F.col("n_pass").alias("n"),
        )
        return (
            total.unionByName(by_type).unionByName(by_ct).unionByName(funnel)
        )

    q["a_counts"] = a_counts

    def a3(spark, sf):
        docs = _t(spark, sf, "documents").select(
            F.concat(
                F.lit("HTTP://"),
                F.upper("source"),
                F.lit(".Example.COM:80/doc/"),
                F.col("doc_id"),
            ).alias("url")
        )
        return (
            with_canonical(docs)
            .groupBy(F.col("host").alias("domain"))
            .agg(F.count("*").alias("n"))
        )

    q["a3_count_by_domain"] = a3

    # --- J1 + A5 + A7: FIFO pair matching --------------------------------
    q["j1_match_pairs"] = lambda spark, sf: analytics.match_pairs(
        _event_records(spark, sf)
    ).select(
        "target_uri",
        F.col("seq").cast("long").alias("seq"),
        F.col("req_start").alias("req_event"),
        F.col("resp_start").alias("resp_event"),
        "pair_type",
    )

    q["j1_pair_counts"] = lambda spark, sf: analytics.pair_counts(
        _event_records(spark, sf)
    )

    q["j1_pair_summary"] = lambda spark, sf: analytics.pair_summary_by_uri(
        _event_records(spark, sf)
    )

    # --- J2/J3: two-archive comparison -----------------------------------
    q["j2_compare_headers"] = lambda spark, sf: analytics.compare_headers(
        _event_archive(spark, sf, 0),
        _event_archive(spark, sf, 1),
        compare_fields=["F0", "F1"],
        near_match_fields=["F1"],
    ).select(
        "warc_type",
        "target_uri",
        F.col("seq").cast("long").alias("seq"),
        "side",
        "status",
    )

    q["j2_compare_summary"] = lambda spark, sf: analytics.compare_headers_summary(
        _event_archive(spark, sf, 0),
        _event_archive(spark, sf, 1),
        compare_fields=["F0", "F1"],
        near_match_fields=["F1"],
    )

    def j3(spark, sf):
        sets = analytics.uri_set_ops(
            _event_archive(spark, sf, 0), _event_archive(spark, sf, 1)
        )
        out = None
        for which in ("common", "only_left", "only_right"):
            tagged = sets[which].select(
                "warc_type", "target_uri", F.lit(which).alias("which")
            )
            out = tagged if out is None else out.unionByName(tagged)
        return out

    q["j3_uri_sets"] = j3

    # --- O1: stop-after-nth (file-order limit) ---------------------------
    q["o1_stop_after_nth"] = lambda spark, sf: analytics.stop_after_nth(
        _t(spark, sf, "documents").select(
            F.col("source").alias("source_file"), F.col("doc_id").alias("record_start")
        ),
        3,
    ).select(F.col("source_file").alias("source"), F.col("record_start").alias("doc_id"))

    # --- F1-F10 filter suite over the rich mixed-container corpus ---------
    # (request+response+warcinfo records, plain .warc and record-per-member
    # .warc.gz, with arithmetic field encodings — see fixtures.rich_record_bytes)
    doc_id_col = F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long")

    def _rich(spark, sf):
        from wbx.fixtures import synth_warc_files_rich

        return scan_files_to_records(synth_warc_files_rich(_t(spark, sf, "documents")))

    def f_warc_filters(spark, sf):
        """The filter family as one tagged suite, each rule the original
        operator call: F1 header regex, F5 http verb, F7 http header, F8
        response content-type, F9 member filter, F10 warcinfo escape over
        the rich WARC corpus, plus F2+F3 (content-length & content-type)
        over documents. Rules that originally projected warc_type keep it;
        the rest carry NULL."""
        recs = _rich(spark, sf)
        null_t = F.lit(None).cast("string").alias("warc_type")

        def tag(rule, df, with_type):
            wt = F.col("warc_type") if with_type else null_t
            return df.select(
                F.lit(rule).alias("rule"), doc_id_col.alias("doc_id"), wt
            )

        out = tag(
            "f1_header_regex",
            recs.filter(filters.warc_header_regex_filter(r"X-Doc-Parity: even")),
            True,
        )
        out = out.unionByName(
            tag("f5_http_verb", recs.filter(filters.http_verb_filter("GET")), False)
        )
        out = out.unionByName(
            tag(
                "f7_http_header",
                recs.filter(filters.http_header_filter("X-Resp-Seq", "s3")),
                False,
            )
        )
        out = out.unionByName(
            tag(
                "f8_http_content_type",
                recs.filter(
                    filters.http_response_content_type_filter("application/json")
                ),
                False,
            )
        )
        out = out.unionByName(
            tag(
                "f9_member_records",
                recs.filter(filters.member_length_filter(1, "ge")),
                True,
            )
        )
        out = out.unionByName(
            tag(
                "f10_warcinfo_escape",
                recs.filter(
                    filters.force_include_warcinfo(
                        filters.http_response_content_type_filter("application/json")
                    )
                ),
                True,
            )
        )
        docs = _t(spark, sf, "documents").select(
            "doc_id",
            F.col("n_chars").alias("content_length"),
            F.col("lang").alias("content_type"),
        )
        lt = docs.filter(
            filters.record_content_length_filter(300, "ge")
            & filters.record_content_type_filter("en", exact_match=True)
        ).select(F.lit("f2_f3_length_type").alias("rule"), "doc_id", null_t)
        return out.unionByName(lt)

    q["f_warc_filters"] = f_warc_filters

    # --- exact dedup suite (documents + embeddings) -----------------------
    def dedup_exact_all(spark, sf):
        """Exact dedup over both corpora as one tagged suite: documents by
        text md5 (wbx.textops.dedup_exact_ids — digest + survivor id + dup
        count all value-checked) and embeddings by byte-identical vector
        (wbx.simsearch.dedup_exact_vectors)."""
        docs = textops.dedup_exact_ids(_t(spark, sf, "documents")).select(
            F.lit("documents").alias("tbl"),
            F.col("doc_id").alias("id"),
            F.col("text_md5").alias("digest"),
            "dup_count",
        )
        vecs = simsearch.dedup_exact_vectors(_t(spark, sf, "embeddings")).select(
            F.lit("embeddings").alias("tbl"),
            F.col("vec_id").alias("id"),
            F.lit(None).cast("string").alias("digest"),
            "dup_count",
        )
        return docs.unionByName(vecs)

    q["dedup_exact_all"] = dedup_exact_all

    # --- per-document text metrics suite ----------------------------------
    def text_doc_metrics_full(spark, sf):
        """text_doc_metrics + the round-4 signals: Unicode script profile
        over a planted multi-script fixture (text + (doc_id%4)×' мир' +
        (doc_id%3)×' 中文' — counts and dominance vary arithmetically),
        the char-trigram entropy gibberish signal over the raw text
        (wbx.textops.trigram_entropy; ln-based, rounded 6dp),
        training-shard packing (pack_shards: start_offset/shard_id/
        shard_offset, budget 5000), the hashed-linear quality classifier
        (hashed_linear_struct/derived, md5 hasher: clf_* columns), the
        corpus-self-trained unigram LM NLL (unigram_nll: nll_n_toks/
        unigram_nll, left-joined), and the CCNet head/middle/tail split
        (score_buckets with exact NTILE semantics: nll_bucket/
        nll_bucket_label).

        Plan shape (r6 optimization — guide §2.4): the scalar metrics
        (base + script profile + classifier) are all independent per-row
        Column kernels, so they are fused into ONE projection over ONE
        scan instead of three per-row DataFrames inner-joined back by
        doc_id — same rows, same values, 3 joins and their exchanges
        removed. Only the genuinely aggregating signals (tri_entropy,
        pack_shards, unigram_nll, score_buckets) remain joins; a final
        select pins the exact pre-fusion column order."""
        docs = _t(spark, sf, "documents")
        planted = F.concat(
            F.col("text"),
            F.repeat(F.lit(" мир"), F.pmod("doc_id", F.lit(4))),
            F.repeat(F.lit(" 中文"), F.pmod("doc_id", F.lit(3))),
        )
        prof = textops.script_profile(planted)
        clf = textops.hashed_linear_derived(F.col("_clf_s"), threshold=0.0)
        toks = textops.tokens(F.col("text"))
        en = textops._LANG_MARKERS["en"]
        base = docs.withColumn(
            "_clf_s",
            textops.hashed_linear_struct(
                F.col("text"), seed=13, hasher=sampling.md5_seeded
            ),
        ).select(
            "doc_id",
            # --- text_doc_metrics scalar suite (same expressions) ---------
            textops.fingerprint(F.col("text")).alias("fp"),
            F.size(toks).cast("long").alias("n_tokens"),
            F.size(F.filter(toks, lambda t: t.isin(en)))
            .cast("long")
            .alias("stop_hits"),
            F.length(F.regexp_replace(F.lower("text"), "[^a-z0-9]", ""))
            .cast("long")
            .alias("alnum_chars"),
            textops.lang_id(F.col("text")).alias("lang_pred"),
            textops.bpe_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
            F.size(textops.rolling_hashes(F.col("text"), window=8))
            .cast("long")
            .alias("n_hashes"),
            sampling.sample_bucket(
                F.col("doc_id"), seed=7, hasher=sampling.md5_seeded
            ).alias("sample_bucket"),
            F.when(
                sampling.keep_fraction(
                    F.col("doc_id"), 0.1, seed=7, hasher=sampling.md5_seeded
                ),
                F.lit("holdout"),
            )
            .otherwise(F.lit("train"))
            .alias("split"),
            sampling.keep_fraction(
                F.col("doc_id"), 0.25, seed=11, hasher=sampling.md5_seeded
            ).alias("mix_keep"),
            # --- script profile -------------------------------------------
            prof["n_latin"].alias("n_latin"),
            prof["n_cyrillic"].alias("n_cyrillic"),
            prof["n_cjk"].alias("n_cjk"),
            prof["script_dom"].alias("script_dom"),
            F.round(prof["script_dom_frac"], 6).alias("script_dom_frac"),
            # --- hashed-linear classifier (struct staged once) ------------
            clf["n_feats"].alias("clf_n_feats"),
            clf["score_sum"].alias("clf_score_sum"),
            clf["quality_score"].alias("clf_score"),
            clf["keep"].alias("clf_keep"),
        )
        ent = textops.trigram_entropy(docs)
        # training-shard packing over the same corpus (budget sized so
        # sf0.01 produces many shards): global exclusive prefix sum of
        # whitespace token counts → shard containing the doc's start
        shards = textops.pack_shards(docs, budget_tokens=5000).drop("n_tokens")
        # corpus-self-trained unigram LM signal (left join: token-less
        # docs score NULL)
        # one NLL computation feeds both the per-doc columns and the
        # bucket rank; persisted so the two lineages share it (registered
        # with the rank-cache registry; bench's clearCache also drops it)
        from wbx.frontier import _register_rank_cache

        nll_src = textops.unigram_nll(docs).persist()
        _register_rank_cache(nll_src)
        nll = nll_src.select(
            "doc_id",
            F.col("n_toks").alias("nll_n_toks"),
            "unigram_nll",
        )
        # CCNet head/middle/tail split over the NLL scores (exact NTILE
        # semantics via the bucketed global rank)
        buckets = textops.score_buckets(nll_src).select(
            "doc_id",
            F.col("bucket").alias("nll_bucket"),
            F.col("bucket_label").alias("nll_bucket_label"),
        )
        return (
            base.join(ent, "doc_id")
            .join(shards, "doc_id")
            .join(nll, "doc_id", "left")
            .join(buckets, "doc_id", "left")
            # exact pre-fusion column order (schema is part of the contract)
            .select(
                "doc_id", "fp", "n_tokens", "stop_hits", "alnum_chars",
                "lang_pred", "n_bpe_tokens", "n_hashes", "sample_bucket",
                "split", "mix_keep", "n_latin", "n_cyrillic", "n_cjk",
                "script_dom", "script_dom_frac", "tri_entropy",
                "start_offset", "shard_id", "shard_offset", "clf_n_feats",
                "clf_score_sum", "clf_score", "clf_keep", "nll_n_toks",
                "unigram_nll", "nll_bucket", "nll_bucket_label",
            )
        )

    q["text_doc_metrics"] = text_doc_metrics_full

    # winnow VALUES, oracle-checked: the selection algebra (min per sliding
    # window of w=9 rolling hashes, distinct) runs over md5_hash60 — a
    # portable hash both engines compute bit-identically — so the oracle
    # verifies actual fingerprints, not just counts. Production keeps the
    # xxhash64 default (pytest pins the guarantee properties there).
    q["text_winnow"] = lambda spark, sf: _t(spark, sf, "documents").select(
        "doc_id",
        F.explode(
            textops.winnow(
                F.col("text"), window=8, guarantee=16, hasher=textops.md5_hash60
            )
        ).alias("fp"),
    )

    def jaccard(spark, sf):
        docs = _t(spark, sf, "documents")
        a = docs.select(F.col("doc_id").alias("id_a"), F.col("source"))
        b = docs.select(F.col("doc_id").alias("id_b"), F.col("source"))
        pairs = (
            a.join(b, "source").filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
        )
        return textops.jaccard_verify_pairs(
            docs, pairs, shingle_size=1, threshold=0.5
        ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))

    q["dedup_token_jaccard"] = jaccard

    # oracle-backed: the banding sketch only PRUNES candidates; the exact
    # Jaccard verify stage makes the final output equal to the full
    # all-pairs shingle-Jaccard ground truth (banding recall verified = 1.0
    # on this corpus at sf0.001 and sf0.01), so the DuckDB oracle is the
    # pure relational jaccard query over exact-dup representatives.
    q["dedup_minhash_pairs"] = lambda spark, sf: textops.dedup_minhash(
        _t(spark, sf, "documents"), threshold=0.5
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))

    # VALUES-oracled (was rows-only through round 4): with blocks=9
    # (width-7 chunks) the pigeonhole guarantee covers max_hamming=8 —
    # any pair with ≤8 differing bits has a clean chunk, so the blocked
    # equi-join's recall is exactly 1.0 and the output EQUALS the
    # all-pairs hamming≤8 ground truth DuckDB computes directly
    # (bit_count(xor(sig_a, sig_b))). md5_hash60 signatures make the
    # fingerprints bit-identical across engines (the text_simhash trick);
    # production keeps the xxhash64 default + blocks=4 speed/recall
    # trade, pinned by pytest ground-truth tests.
    # max_bucket=None: the oracle pins the EXACT hamming≤8 pair set, so
    # the skew cap must stay off here (md5_hash60's zeroed top bits make
    # the high chunk a corpus-wide bucket at any sf; production keeps the
    # default cap + xxhash64, pinned by pytest skew tests).
    q["dedup_simhash_pairs"] = lambda spark, sf: textops.simhash_near_pairs(
        textops.simhash(_t(spark, sf, "documents"), hasher=textops.md5_hash60),
        max_hamming=8,
        blocks=9,
        max_bucket=None,
    )

    # simhash VALUES, oracle-checked (the winnow trick): the signature
    # given token hashes is pure arithmetic, so running it over md5_hash60
    # — a hash both engines compute bit-identically — lets the oracle pin
    # the actual 64-bit fingerprints. Production keeps the xxhash64 default.
    q["text_simhash"] = lambda spark, sf: textops.simhash(
        _t(spark, sf, "documents"), hasher=textops.md5_hash60
    )

    # --- Sc12/Sc13 + J4 + north_rule frontier ----------------------------
    def canonical(spark, sf):
        # STAGED, not inlined: url_host(canonicalize_url(url)) as one
        # expression substitutes the whole ~2k-node canonicalize tree into
        # each of url_host's 8 references — a 4 MB analyzed plan and ~18s of
        # driver-side Catalyst per query. Materializing canon_url as an
        # attribute first keeps the plan at ~100 KB / 0.5s (CollapseProject
        # does not re-inline multi-referenced non-cheap expressions).
        docs = _t(spark, sf, "documents").select("doc_id")
        staged = docs.select(
            "doc_id", canonicalize_url(_messy_url(F.col("doc_id"))).alias("canon_url")
        )
        # + query normalization (wbx.frontier.normalize_query): tracking
        # params stripped (utm_* prefix + click-id set), survivors sorted
        from wbx.frontier import normalize_query

        d = F.col("doc_id")
        nq_url = F.concat(
            F.lit("http://n"), F.pmod(d, F.lit(9)),
            F.lit(".com/p?b="), F.pmod(d, F.lit(4)),
            F.lit("&utm_source=s"), d,
            F.lit("&a="), F.pmod(d, F.lit(3)),
            F.lit("&gclid=g"),
        )
        return staged.select(
            "doc_id",
            "canon_url",
            url_host(F.col("canon_url")).alias("host"),
            normalize_query(nq_url).alias("norm_url"),
        )

    q["url_canonicalize"] = canonical

    def unseen(spark, sf):
        docs = _t(spark, sf, "documents").select("doc_id")
        url = F.concat(
            F.lit("HTTP://H"), F.pmod("doc_id", F.lit(20)), F.lit(".COM:80/d/"), F.col("doc_id")
        )
        cand = with_canonical(docs.select("doc_id", url.alias("url")))
        seen = cand.filter(F.pmod("doc_id", F.lit(3)) == 0).select(
            "url_hash", "canon_url"
        )
        bloom = build_seen_bloom(seen, partitions=16)
        return filter_unseen(cand, SeenSet(seen, sketch=bloom, partitions=16)).select(
            "doc_id", "canon_url"
        )

    q["frontier_unseen"] = unseen

    def unseen_split(spark, sf):
        """Compacted-store membership path (wbx/frontier.py
        filter_unseen_split): the seen set arrives SPLIT as a compacted
        base + recent deltas — the shape CheckpointStore.load_seen_set
        yields after compact_seen — and the anti-join
        chains base-then-recent without ever unioning the cumulative set.
        Bit-identical to filter_unseen on the union (the anti-join
        distributes over it), so the oracle is the plain set difference;
        the no-shuffle-on-base plan shape is pinned in tests/test_plans.py."""
        from wbx.frontier import filter_unseen_split, with_canonical

        docs = _t(spark, sf, "documents").select("doc_id")
        url = F.concat(
            F.lit("http://h"), F.pmod("doc_id", F.lit(20)), F.lit(".com/d/"), F.col("doc_id")
        )
        cand = with_canonical(docs.select("doc_id", url.alias("url")))
        seen = cand.filter(F.pmod("doc_id", F.lit(3)) == 0).select(
            "url_hash", "canon_url"
        )
        base = seen.filter(F.pmod("url_hash", F.lit(2)) == 0)
        recent = seen.filter(F.pmod("url_hash", F.lit(2)) != 0)
        return filter_unseen_split(cand, base, recent).select("doc_id", "canon_url")

    q["frontier_unseen_split"] = unseen_split

    def round_q(spark, sf):
        hosts = spark.range(20).select(
            F.concat(F.lit("h"), F.col("id"), F.lit(".com")).alias("host"),
            (F.lit(2) + F.pmod("id", F.lit(3))).cast("int").alias("budget"),
        )
        robots = spark.createDataFrame(
            [("h1.com", "deny", "/d3"), ("h1.com", "allow", "/d3/1"), ("h2.com", "deny", "/")],
            schema="host string, rule_type string, path_prefix string",
        )
        seen = _frontier_seen(spark, sf)
        # exercise the flagship path: Bloom prefilter + exact confirm —
        # bit-identical to the plain anti-join, pinned by the oracle
        return crawl_round(
            _frontier_candidates(spark, sf),
            SeenSet(seen, sketch=build_seen_bloom(seen, partitions=16), partitions=16),
            hosts,
            robots,
        ).select("canon_url", "host", "priority", "fetch_order")

    q["frontier_crawl_round"] = round_q

    def robots_rules(spark, sf):
        """Robots + politeness-scheduling suite, union-tagged on a
        (dim, host, a, b, v) schema (see the 50-query cap note):
        dim='rule' — wbx.frontier.parse_robots_txt over synthesized
        one-file-per-host bodies (a=rule_type, b=path_prefix);
        dim='delay_budget' — parse_crawl_delays → budgets_from_crawl_delays
        on the same bodies' Crawl-delay lines (v=budget; delay 0 → no
        limit → max_budget, via try_divide);
        dim='adaptive_budget' — budgets_from_history over a synthesized
        per-doc fetch log whose statuses cycle by doc_id%3 (v=budget =
        floor(100 × success rate));
        dim='eta' — schedule_with_delays: per-host dispatch sequencing
        under the parsed Crawl-delays (a=canon_url, b=host_seq,
        v=eta_s);
        dim='retry' — retry_candidates over a one-attempt-per-URL fetch
        log whose statuses cycle by doc_id%4 (only 503/429 rows retry:
        a=url, b=attempts, v=retry_after_round = round + 2^attempts).
        Every row pinned closed-form by the oracle."""
        from wbx.frontier import (
            budgets_from_crawl_delays,
            budgets_from_history,
            parse_crawl_delays,
            parse_robots_txt,
            retry_candidates,
            schedule_with_delays,
        )

        docs = _t(spark, sf, "documents")
        hosts = docs.select(F.pmod("doc_id", F.lit(20)).alias("h")).distinct()
        files = hosts.select(
            F.concat(F.lit("h"), F.col("h"), F.lit(".com")).alias("host"),
            F.concat(
                F.lit("# synthesized\nUser-agent: *\nDisallow: /d"),
                F.pmod("h", F.lit(5)),
                F.lit("\nAllow: /d"),
                F.pmod("h", F.lit(5)),
                F.lit("/pub\nCrawl-delay: "),
                F.pmod("h", F.lit(4)),
                F.lit("\n\nUser-agent: other-bot\nDisallow: /\n"),
            ).alias("body"),
        )
        ns = F.lit(None).cast("string")
        nd = F.lit(None).cast("double")
        rule_rows = parse_robots_txt(files).select(
            F.lit("rule").alias("dim"),
            "host",
            F.col("rule_type").alias("a"),
            F.col("path_prefix").alias("b"),
            nd.alias("v"),
        )
        delays = parse_crawl_delays(files)
        delay_budget_rows = budgets_from_crawl_delays(
            delays, round_seconds=60.0
        ).select(
            F.lit("delay_budget").alias("dim"),
            "host",
            ns.alias("a"),
            ns.alias("b"),
            F.col("budget").cast("double").alias("v"),
        )
        fetch_log = docs.select(
            F.concat(F.lit("h"), F.pmod("doc_id", F.lit(20)), F.lit(".com")).alias(
                "host"
            ),
            F.when(F.pmod("doc_id", F.lit(3)) == 0, F.lit(200))
            .when(F.pmod("doc_id", F.lit(3)) == 1, F.lit(404))
            .otherwise(F.lit(301))
            .alias("status"),
        )
        adaptive_rows = budgets_from_history(fetch_log, base_budget=100).select(
            F.lit("adaptive_budget").alias("dim"),
            "host",
            ns.alias("a"),
            ns.alias("b"),
            F.col("budget").cast("double").alias("v"),
        )
        batch = docs.select(
            F.concat(
                F.lit("http://h"),
                F.pmod("doc_id", F.lit(20)),
                F.lit(".com/x/"),
                F.col("doc_id"),
            ).alias("canon_url"),
            F.concat(F.lit("h"), F.pmod("doc_id", F.lit(20)), F.lit(".com")).alias(
                "host"
            ),
            F.col("doc_id").alias("fetch_order"),
        )
        eta_rows = schedule_with_delays(batch, delays).select(
            F.lit("eta").alias("dim"),
            "host",
            F.col("canon_url").alias("a"),
            F.col("host_seq").cast("string").alias("b"),
            F.col("eta_s").alias("v"),
        )
        retry_log = batch.select(
            "canon_url",
            "host",
            F.when(F.pmod("fetch_order", F.lit(4)) == 1, F.lit(503))
            .when(F.pmod("fetch_order", F.lit(4)) == 3, F.lit(429))
            .when(F.pmod("fetch_order", F.lit(4)) == 0, F.lit(200))
            .otherwise(F.lit(404))
            .alias("status"),
            F.pmod("fetch_order", F.lit(6)).cast("int").alias("round"),
        )
        retry_rows = (
            retry_candidates(retry_log)
            .join(
                batch.select(F.col("canon_url").alias("url"), "host"), "url"
            )
            .select(
                F.lit("retry").alias("dim"),
                "host",
                F.col("url").alias("a"),
                F.col("attempts").cast("string").alias("b"),
                F.col("retry_after_round").cast("double").alias("v"),
            )
        )
        return (
            rule_rows.unionByName(delay_budget_rows)
            .unionByName(adaptive_rows)
            .unionByName(eta_rows)
            .unionByName(retry_rows)
        )

    q["frontier_robots_rules"] = robots_rules

    def links(spark, sf):
        """Link-discovery suite, union-tagged (see the 50-query cap note):
        dim='doc' — wbx.frontier.extract_links over synthesized HTML
        exercising every resolution form (absolute, protocol-relative,
        root-relative, path-relative) in all three quoting styles plus the
        dropped schemes (javascript/mailto) and fragment-only hrefs;
        dim='anchor' — wbx.frontier.extract_anchor_links honoring
        per-anchor rel=nofollow (both attribute orders, multi-token rel,
        unquoted caps) and the page-level <meta name=robots>
        nofollow/none gate; dim='meta' — wbx.frontier.
        page_robots_directives flattened to one row per asserted
        directive; dim='atext' (round 5) — wbx.frontier.
        extract_anchor_texts: followable anchors WITH their
        whitespace-normalized leading text node (url=resolved target,
        link=label) over a third fixture mixing the quoting forms, an
        unquoted rel=nofollow drop, and a padded label; dim='atext_top'
        — wbx.frontier.anchor_text_summary per-target rollup encoded as
        link = top_text#n_anchors#n_texts (count-desc / text-asc
        tie-break); dims 'hreflang'/'feed' (round 5) — wbx.frontier.
        discover_alternates over a fourth fixture: hreflang language
        editions (both attribute orders + unquoted form, BCP 47
        lowercasing) and RSS/Atom feed autodiscovery by doc parity, with
        a stylesheet and a text/html alternate pinned as NON-emissions;
        link = alt|resolved_href. Every row pinned by the oracle (the
        rollup via the same aggregation in SQL)."""
        from wbx.frontier import (
            anchor_text_summary,
            discover_alternates,
            extract_anchor_links,
            extract_anchor_texts,
            extract_links,
            page_robots_directives,
        )

        docs = _t(spark, sf, "documents")
        html = F.concat(
            F.lit('<html><body><a href="https://abs'),
            F.pmod("doc_id", F.lit(7)),
            F.lit('.example/x">a</a><a href="//proto.example/p/'),
            F.col("doc_id"),
            F.lit('">b</a><a href="/root/'),
            F.pmod("doc_id", F.lit(5)),
            F.lit('">c</a><a href="rel/'),
            F.pmod("doc_id", F.lit(3)),
            F.lit("\">d</a><a href='https://sq"),
            F.pmod("doc_id", F.lit(4)),
            F.lit(".example/s'>h</a><a href=uq/"),
            F.pmod("doc_id", F.lit(6)),
            F.lit(
                '>i</a><a href="javascript:void(0)">e</a>'
                '<a href="#frag">f</a>'
                '<a href="mailto:x@y.z">g</a></body></html>'
            ),
        )
        pages = docs.select(
            F.concat(
                F.lit("https://h"),
                F.pmod("doc_id", F.lit(13)),
                F.lit(".example.net/d/"),
                F.col("doc_id"),
            ).alias("url"),
            F.encode(html, "utf-8").alias("html"),
        )
        doc_rows = extract_links(pages).select(
            F.lit("doc").alias("dim"), "url", "link"
        )
        # anchor fixture: meta directive by doc_id%5 (0 → nofollow,
        # 1 → NoIndex, 2 → none, else no meta), one always-followable
        # double-quoted anchor, two rel=nofollow anchors (both attribute
        # orders), one unquoted-href anchor with an unrelated rel
        m5 = F.pmod("doc_id", F.lit(5))
        meta_tag = (
            F.when(m5 == 0, F.lit('<meta name="robots" content="nofollow">'))
            .when(m5 == 1, F.lit("<meta content='NoIndex' name=robots>"))
            .when(m5 == 2, F.lit("<meta name=robots content=none/>"))
            .otherwise(F.lit(""))
        )
        html2 = F.concat(
            F.lit("<html><head>"),
            meta_tag,
            F.lit('</head><body><a href="/f1/'),
            F.pmod("doc_id", F.lit(7)),
            F.lit('">a</a><a rel="nofollow" href="/dropped1">b</a>'),
            F.lit("<a href='r/"),
            F.pmod("doc_id", F.lit(3)),
            F.lit("' rel='external nofollow'>c</a><a href=//cdn"),
            F.pmod("doc_id", F.lit(4)),
            F.lit(".example/z rel=me>d</a></body></html>"),
        )
        pages2 = docs.select(
            F.concat(
                F.lit("https://a"),
                F.pmod("doc_id", F.lit(11)),
                F.lit(".example.org/s/"),
                F.col("doc_id"),
            ).alias("url"),
            F.encode(html2, "utf-8").alias("html"),
        )
        anchor_rows = extract_anchor_links(pages2).select(
            F.lit("anchor").alias("dim"), "url", "link"
        )
        meta_rows = (
            page_robots_directives(pages2)
            .select(
                "url",
                F.explode(
                    F.concat(
                        F.when(
                            F.col("noindex"), F.array(F.lit("noindex"))
                        ).otherwise(F.array().cast("array<string>")),
                        F.when(
                            F.col("nofollow"), F.array(F.lit("nofollow"))
                        ).otherwise(F.array().cast("array<string>")),
                    )
                ).alias("link"),
            )
            .select(F.lit("meta").alias("dim"), "url", "link")
        )
        # anchor-text fixture: two followable anchors to the same /t/
        # target with doc-varying labels (duplicates within a page when
        # doc_id%4 < 2), an unquoted-href rel=nofollow drop, and a
        # padded-label anchor to a unique /u/ target
        html3 = F.concat(
            F.lit('<html><body><a href="/t/'),
            F.pmod("doc_id", F.lit(3)),
            F.lit('">w'),
            F.pmod("doc_id", F.lit(2)),
            F.lit("</a><a href='/t/"),
            F.pmod("doc_id", F.lit(3)),
            F.lit("'>w"),
            F.pmod("doc_id", F.lit(4)),
            F.lit("</a><a href=/t/"),
            F.pmod("doc_id", F.lit(3)),
            F.lit(' rel=nofollow>skip</a><a href="/u/'),
            F.col("doc_id"),
            F.lit('">  padded   label </a></body></html>'),
        )
        pages3 = docs.select(
            F.concat(
                F.lit("https://t"),
                F.pmod("doc_id", F.lit(9)),
                F.lit(".example/p/"),
                F.col("doc_id"),
            ).alias("url"),
            F.encode(html3, "utf-8").alias("html"),
        )
        atext = extract_anchor_texts(pages3)
        atext_rows = atext.select(
            F.lit("atext").alias("dim"),
            F.col("link").alias("url"),
            F.col("anchor_text").alias("link"),
        )
        top_rows = anchor_text_summary(atext).select(
            F.lit("atext_top").alias("dim"),
            F.col("link").alias("url"),
            F.concat(
                F.col("top_text"),
                F.lit("#"),
                F.col("n_anchors").cast("string"),
                F.lit("#"),
                F.col("n_texts").cast("string"),
            ).alias("link"),
        )
        # alternates fixture: hreflang in both attribute orders + the
        # unquoted form, RSS/Atom feed type by parity, a stylesheet and a
        # text/html alternate that must NOT be emitted
        html4 = F.concat(
            F.lit('<html><head><link rel="alternate" hreflang="en" href="/en/'),
            F.col("doc_id"),
            F.lit("\"><link hreflang='DE-de' rel=alternate href='/de/"),
            F.col("doc_id"),
            F.lit("'>"),
            F.when(
                F.pmod("doc_id", F.lit(2)) == 0,
                F.concat(
                    F.lit("<link rel=alternate type=application/rss+xml href=/feed/"),
                    F.pmod("doc_id", F.lit(5)),
                    F.lit(">"),
                ),
            ).otherwise(
                F.concat(
                    F.lit('<link rel="alternate" type="application/atom+xml" href="/atom/'),
                    F.pmod("doc_id", F.lit(5)),
                    F.lit('">'),
                )
            ),
            F.lit(
                '<link rel="stylesheet" href="/css">'
                '<link rel="alternate" type="text/html" href="/mobile">'
                "</head><body>x</body></html>"
            ),
        )
        pages4 = docs.select(
            F.concat(
                F.lit("https://m"),
                F.pmod("doc_id", F.lit(8)),
                F.lit(".example/p/"),
                F.col("doc_id"),
            ).alias("url"),
            F.encode(html4, "utf-8").alias("html"),
        )
        alt_rows = discover_alternates(pages4).select(
            F.col("rel_type").alias("dim"),
            "url",
            F.concat(F.col("alt"), F.lit("|"), F.col("link")).alias("link"),
        )
        return (
            doc_rows.unionByName(anchor_rows)
            .unionByName(meta_rows)
            .unionByName(atext_rows)
            .unionByName(top_rows)
            .unionByName(alt_rows)
        )

    q["frontier_extract_links"] = links

    def dedup_canonical_q(spark, sf):
        """rel=canonical snapshot dedup (wbx.frontier.dedup_by_canonical):
        a third of the pages declare an absolute canonical target shared
        across hosts (print/AMP variants of one article), a third declare a
        ROOT-RELATIVE target in the href-before-rel attribute order, and a
        third declare none (group = own URL). Winner per canonical target =
        max (warc_ts, url); timestamps are strictly increasing in doc_id so
        the oracle's winner is closed-form max(doc_id)."""
        from wbx.frontier import dedup_by_canonical

        docs = _t(spark, sf, "documents")
        d = F.col("doc_id")
        k = F.pmod(d, F.lit(40))
        html = F.when(
            F.pmod(d, F.lit(3)) == 0,
            F.concat(
                F.lit('<html><head><link rel="canonical" href="https://canon.example/c/'),
                k,
                F.lit('"></head><body>x</body></html>'),
            ),
        ).when(
            F.pmod(d, F.lit(3)) == 1,
            F.concat(
                F.lit("<html><head><link href='/c/"),
                k,
                F.lit("' rel=canonical></head><body>x</body></html>"),
            ),
        ).otherwise(F.lit("<html><head></head><body>no canonical</body></html>"))
        pages = docs.select(
            F.concat(
                F.lit("https://h"), F.pmod(d, F.lit(13)), F.lit(".example.net/v/"), d
            ).alias("url"),
            (
                F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                + F.make_interval(secs=d)
            ).alias("warc_ts"),
            F.encode(html, "utf-8").alias("html"),
        )
        return dedup_by_canonical(pages).select(
            "canon_target",
            F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("warc_ts"),
            "url",
            F.col("n_members").cast("long").alias("n_members"),
        )

    q["dedup_canonical"] = dedup_canonical_q

    def redirects_q(spark, sf):
        """Redirect-chain resolution (wbx.frontier.resolve_redirects,
        max_hops=3): chain length doc_id%5 exercises ok/capped, every 7th
        doc's chain ends in a redirect to a URL absent from the table
        (dangling), and every 9th doc is a 2-cycle (loop). All four
        terminals and the hop arithmetic are closed-form in the oracle."""
        from wbx.frontier import resolve_redirects

        docs = _t(spark, sf, "documents").select(F.col("doc_id").alias("d"))
        d = F.col("d")
        is_loop = F.pmod(d, F.lit(9)) == 0
        chain_len = F.pmod(d, F.lit(5))
        last = F.when(is_loop, F.lit(1)).otherwise(chain_len)
        nodes = docs.select(
            d, F.explode(F.sequence(F.lit(0), last)).alias("j"), is_loop.alias("lp"),
            chain_len.alias("ln"),
        )

        def node(j):
            return F.concat(
                F.lit("http://r"), F.pmod(d, F.lit(11)), F.lit(".example.org/c/"),
                d, F.lit("/"), j,
            )

        j = F.col("j")
        redirecting = F.col("lp") | (j < F.col("ln"))
        location = (
            F.when(F.col("lp"), node(F.lit(1) - j))
            .when(
                (F.pmod(d, F.lit(7)) == 0) & (j == F.col("ln") - 1), node(F.lit(99))
            )
            .when(j < F.col("ln"), node(j + 1))
        )
        resp = nodes.select(
            node(j).alias("url"),
            F.when(redirecting, F.lit(301)).otherwise(F.lit(200)).alias("status"),
            location.alias("location"),
        )
        return resolve_redirects(resp, max_hops=3)

    q["frontier_redirects"] = redirects_q

    def blocklist_q(spark, sf):
        """Host scope-gate suite, union-tagged (see the 50-query cap
        note): dim='block_kept' — wbx.frontier.apply_blocklist (hosts
        h<k>.example.net with k≡3 (mod 13) blocked exactly, a
        'sub<k>.h7.example.net' tier exercising subdomain suffix
        matching); dim='scope_kept' — wbx.frontier.scope_to_domains, the
        focused-crawl dual, over the SAME fixture and domain list, so the
        two dims partition the candidate set exactly (oracle pins the
        complement arithmetic)."""
        from wbx.frontier import apply_blocklist, scope_to_domains

        docs = _t(spark, sf, "documents")
        k = F.pmod("doc_id", F.lit(13))
        host = F.when(
            F.pmod("doc_id", F.lit(4)) == 0,
            F.concat(F.lit("sub"), k, F.lit(".h7.example.net")),
        ).otherwise(F.concat(F.lit("h"), k, F.lit(".example.net")))
        cand = docs.select(
            "doc_id",
            host.alias("host"),
            F.concat(F.lit("http://"), host, F.lit("/d/"), F.col("doc_id")).alias(
                "canon_url"
            ),
        )
        domains = spark.createDataFrame(
            [("h3.example.net",), ("h7.example.net",)], "domain string"
        )
        blocked = apply_blocklist(cand, domains).select(
            F.lit("block_kept").alias("dim"), "doc_id", "host"
        )
        scoped = scope_to_domains(cand, domains).select(
            F.lit("scope_kept").alias("dim"), "doc_id", "host"
        )
        return blocked.unionByName(scoped)

    q["frontier_blocklist"] = blocklist_q

    def sitemaps_q(spark, sf):
        """Sitemap discovery suite (wbx.frontier.robots_sitemaps +
        parse_sitemap): src='robots' rows are Sitemap: directives pulled
        from per-host robots.txt bodies (case/whitespace variants);
        src='xml' rows are <loc> entries from per-doc sitemap XML with
        padded whitespace and &amp;-escaped query strings;
        src='entry' rows are FULL sitemap-protocol entries
        (parse_sitemap_entries: lastmod/changefreq/priority, every third
        doc metadata-free to pin the NULLs, priority = (doc_id%10)/10);
        src='feed' rows (round 5) are RSS item / Atom entry links
        (wbx.frontier.parse_feed; RSS for even doc_id with an escaped
        ampersand and a linkless item, Atom for odd — the channel-level
        homepage <link> is pinned as a NON-candidate).
        The oracle pins all four closed-form; non-entry dims carry NULL
        metadata columns."""
        from wbx.frontier import (
            parse_sitemap,
            parse_sitemap_entries,
            robots_sitemaps,
        )

        docs = _t(spark, sf, "documents")
        k = F.pmod("doc_id", F.lit(13))
        hosts_df = docs.select(k.alias("k")).distinct()
        robots_files = hosts_df.select(
            F.concat(F.lit("h"), "k", F.lit(".example.net")).alias("host"),
            F.concat(
                F.lit("User-agent: *\nDisallow: /x\nSitemap: https://h"),
                F.col("k"),
                F.lit(".example.net/sitemap.xml\nsitemap: https://h"),
                F.col("k"),
                F.lit(".example.net/news.xml\n"),
            ).alias("body"),
        )
        r = robots_sitemaps(robots_files).select(
            F.lit("robots").alias("src"),
            F.col("host").alias("origin"),
            F.col("sitemap_url").alias("url"),
        )
        xml = F.concat(
            F.lit("<urlset><url><loc> https://h"),
            k,
            F.lit(".example.net/p/"),
            F.col("doc_id"),
            F.lit("&amp;v=1 </loc></url><url><loc>https://h"),
            k,
            F.lit(".example.net/q/"),
            F.pmod("doc_id", F.lit(5)),
            F.lit("</loc></url></urlset>"),
        )
        sm = docs.select(
            F.concat(F.lit("https://h"), k, F.lit(".example.net/sitemap.xml")).alias(
                "sitemap_url"
            ),
            F.encode(xml, "utf-8").alias("body"),
        )
        x = parse_sitemap(sm).select(
            F.lit("xml").alias("src"),
            F.col("sitemap_url").alias("origin"),
            F.col("loc").alias("url"),
        )
        ns = F.lit(None).cast("string")
        nd = F.lit(None).cast("double")
        r = r.select("src", "origin", "url", ns.alias("lastmod"),
                     ns.alias("changefreq"), nd.alias("priority"))
        x = x.select("src", "origin", "url", ns.alias("lastmod"),
                     ns.alias("changefreq"), nd.alias("priority"))
        d = F.col("doc_id")
        cf = F.element_at(
            F.array(*[F.lit(w) for w in
                      ("always", "hourly", "daily", "weekly", "monthly",
                       "yearly", "never")]),
            (F.pmod(d, F.lit(7)) + 1).cast("int"),
        )
        meta_part = F.when(F.pmod(d, F.lit(3)) == 0, F.lit("")).otherwise(
            F.concat(
                F.lit("<lastmod>2024-01-"),
                F.lpad((F.pmod(d, F.lit(28)) + 1).cast("string"), 2, "0"),
                F.lit("</lastmod><changefreq>"),
                cf,
                F.lit("</changefreq><priority>0."),
                F.pmod(d, F.lit(10)),
                F.lit("</priority>"),
            )
        )
        news_xml = F.concat(
            F.lit("<urlset>\n<url>\n<loc>https://h"),
            k,
            F.lit(".example.net/n/"),
            d,
            F.lit("</loc>"),
            meta_part,
            F.lit("</url>\n</urlset>"),
        )
        news = docs.select(
            F.concat(F.lit("https://h"), k, F.lit(".example.net/news.xml")).alias(
                "sitemap_url"
            ),
            F.encode(news_xml, "utf-8").alias("body"),
        )
        e = parse_sitemap_entries(news).select(
            F.lit("entry").alias("src"),
            F.col("sitemap_url").alias("origin"),
            F.col("loc").alias("url"),
            "lastmod",
            "changefreq",
            "priority",
        )
        # src='feed' (round 5): parse_feed over per-doc RSS (even doc_id)
        # / Atom (odd) bodies — the channel/feed-level homepage link and a
        # linkless item are pinned as NON-candidates
        from wbx.frontier import parse_feed

        d = F.col("doc_id")
        feed_xml = F.when(
            F.pmod(d, F.lit(2)) == 0,
            F.concat(
                F.lit("<rss><channel><link>https://h"),
                k,
                F.lit(".example.net/</link><item><link> https://h"),
                k,
                F.lit(".example.net/rss/"),
                d,
                F.lit("&amp;s=1 </link></item><item><title>x</title></item>"
                      "</channel></rss>"),
            ),
        ).otherwise(
            F.concat(
                F.lit('<feed><link href="https://h'),
                k,
                F.lit('.example.net/"/><entry><link rel="alternate" href="https://h'),
                k,
                F.lit(".example.net/atom/"),
                d,
                F.lit('"/></entry></feed>'),
            )
        )
        feeds = docs.select(
            F.concat(F.lit("https://h"), k, F.lit(".example.net/feed.xml")).alias(
                "feed_url"
            ),
            F.encode(feed_xml, "utf-8").alias("body"),
        )
        f = parse_feed(feeds).select(
            F.lit("feed").alias("src"),
            F.col("feed_url").alias("origin"),
            F.col("item_url").alias("url"),
            ns.alias("lastmod"),
            ns.alias("changefreq"),
            nd.alias("priority"),
        )
        return r.unionByName(x).unionByName(e).unionByName(f)

    q["frontier_sitemaps"] = sitemaps_q

    def html_meta_q(spark, sf):
        """HTML document metadata (wbx.extract.html_meta): declared
        charset (HTML5 short form and http-equiv content= form), <html
        lang> tag (case variants, quoted and unquoted), and
        whitespace-collapsed <title>; every third/fourth doc omits the
        attribute to pin the NULL normalization. Round 5: OpenGraph
        page-card columns (wbx.extract.og_meta) — og_title (both
        attribute orders, inner-whitespace collapse), og_description
        (single-quoted form), og_image (raw URL) by doc_id%6, absent
        classes pinned NULL."""
        from wbx.extract import html_meta

        docs = _t(spark, sf, "documents")
        m3 = F.pmod("doc_id", F.lit(3))
        m4 = F.pmod("doc_id", F.lit(4))
        charset_part = (
            F.when(m3 == 0, F.lit('<meta charset="UTF-8">'))
            .when(
                m3 == 1,
                F.lit(
                    '<meta http-equiv="Content-Type" '
                    'content="text/html; charset=iso-8859-1">'
                ),
            )
            .otherwise(F.lit(""))
        )
        lang_part = (
            F.when(m4 == 0, F.lit(' lang="en"'))
            .when(m4 == 1, F.lit(" lang='de-DE'"))
            .when(m4 == 2, F.lit(" lang=FR"))
            .otherwise(F.lit(""))
        )
        # OpenGraph fixture (round 5): property-first with og:image,
        # content-first (attribute order swapped), single-quoted
        # og:description, or no og tags at all — by doc_id%6
        m6 = F.pmod("doc_id", F.lit(6))
        ds = F.col("doc_id").cast("string")
        og_part = (
            F.when(
                m6 == 0,
                F.concat(
                    F.lit('<meta property="og:title" content="OG  '),
                    ds,
                    F.lit('"><meta property="og:image" content="https://img.example/i/'),
                    F.pmod("doc_id", F.lit(9)),
                    F.lit('.jpg">'),
                ),
            )
            .when(
                m6 == 1,
                F.concat(F.lit('<meta content="OG '), ds, F.lit('" property=og:title>')),
            )
            .when(
                m6 == 2,
                F.concat(
                    F.lit("<meta property='og:description' content='Sum "),
                    F.pmod("doc_id", F.lit(7)),
                    F.lit("'>"),
                ),
            )
            .otherwise(F.lit(""))
        )
        html = F.concat(
            F.lit("<html"),
            lang_part,
            F.lit("><head>"),
            charset_part,
            og_part,
            F.lit("<title>  Doc "),
            F.col("doc_id"),
            F.lit("\n of corpus </title></head><body>x</body></html>"),
        )
        meta = html_meta(html)
        # charset-aware payload decode (wbx.extract.decode_payload): five
        # fixture classes by doc_id%5 — permissive UTF-8 with a planted
        # invalid byte, exact latin-1, WHATWG Windows-1252 punctuation,
        # unknown-label fallback, and NULL label with a UTF-8 BOM.
        from wbx.extract import decode_payload

        m5 = F.pmod("doc_id", F.lit(5))
        ds = F.col("doc_id").cast("string")
        enc = lambda c: F.encode(c, "utf-8")  # noqa: E731
        body = (
            F.when(
                m5 == 0,
                F.concat(enc(F.concat(F.lit("u"), ds)), F.unhex(F.lit("FF")), enc(F.lit("tail"))),
            )
            .when(m5 == 1, F.concat(enc(F.lit("l")), F.unhex(F.lit("E9")), enc(ds)))
            .when(
                m5 == 2,
                F.concat(F.unhex(F.lit("93")), enc(F.concat(F.lit("q"), ds)), F.unhex(F.lit("94"))),
            )
            .when(m5 == 3, enc(F.concat(F.lit("p"), ds)))
            .otherwise(F.concat(F.unhex(F.lit("EFBBBF")), enc(F.concat(F.lit("b"), ds))))
        )
        body_cs = (
            F.when(m5 == 0, F.lit("UTF-8"))
            .when(m5 == 1, F.lit("ISO-8859-1"))
            .when(m5 == 2, F.lit("Windows-1252"))
            .when(m5 == 3, F.lit("x-unknown-enc"))
            .otherwise(F.lit(None).cast("string"))
        )
        from wbx.extract import og_meta

        og = og_meta(html)
        return docs.select(
            "doc_id",
            *[v.alias(kk) for kk, v in meta.items()],
            *[v.alias(kk) for kk, v in og.items()],
            F.lower(body_cs).alias("body_charset"),
            decode_payload(body, body_cs).alias("decoded_text"),
        )

    q["warc_html_meta"] = html_meta_q

    def main_text_q(spark, sf):
        """Boilerplate removal (wbx.extract.extract_main_text): fixture
        pages wrap the document text in a nav link bar (short + all-link:
        dropped), a tiny block (under min_chars: dropped), a clean closing
        paragraph (kept), and a footer link farm that PASSES the length
        rule but fails the link-density rule — the oracle pins the kept
        main text closed-form."""
        from wbx.extract import extract_main_text

        docs = _t(spark, sf, "documents")
        html = F.concat(
            F.lit(
                '<html><body><nav><a href="/1">Home</a> <a href="/2">About'
                '</a> <a href="/3">Contact</a></nav><p>'
            ),
            F.col("text"),
            F.lit("</p><div>tiny "),
            F.pmod("doc_id", F.lit(9)),
            F.lit("</div><p>Closing paragraph number "),
            F.pmod("doc_id", F.lit(7)),
            F.lit(
                " with sufficient plain prose characters to be kept.</p>"
                '<footer><a href="/x">Terms of service</a> '
                '<a href="/y">Privacy policy statement</a>'
                "</footer></body></html>"
            ),
        )
        return docs.select(
            "doc_id", extract_main_text(html).alias("main_text")
        )

    q["warc_main_text"] = main_text_q

    def h2t(spark, sf):
        """Visible-text extraction from HTML (wbx.extract.html_to_text):
        fixture pages wrap the document text in markup exercising every
        rule — style/script bodies, a comment, tags, named + uppercase
        entities, decimal/hex/astral numeric references, the deferred
        &#38; amp form, and an invalid (surrogate) reference that must
        stay literal."""
        from wbx.extract import html_to_text

        docs = _t(spark, sf, "documents")
        html = F.concat(
            F.lit(
                "<html><head><style>p {color:red}</style>"
                "<script>var x = 1 < 2;</script></head><body><h1>Title "
            ),
            F.pmod("doc_id", F.lit(9)),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit(
                " &amp; more&nbsp;here &#65;&#x42;&#8217;s "
                "&LT;tag&GT; &#38;joined &#128512; &#xD800;bad"
                "</p><!-- note --></body></html>"
            ),
        )
        return docs.select("doc_id", html_to_text(html).alias("extracted"))

    q["warc_html_to_text"] = h2t

    # --- similarity search ------------------------------------------------
    def topk(spark, sf):
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return simsearch.brute_force_topk(emb, queries_df, k=5).select(
            "query_id", F.col("rank").cast("long").alias("rank"), "vec_id", "sim"
        )

    q["sim_brute_topk"] = topk

    # rows-only suite (ANN recall < 1 by construction for both sketches;
    # recall/exactness/determinism pinned in tests/test_simsearch.py):
    def ann_topk(spark, sf):
        """LSH-bucketed and IVF inverted-list ANN top-k, method-tagged —
        the two scale paths next to the brute-force baseline."""
        emb = _t(spark, sf, "embeddings")
        queries_df = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        lsh_out = simsearch.lsh_topk(emb, queries_df, k=5, dim=64).select(
            F.lit("lsh").alias("method"),
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "vec_id",
            "sim",
        )
        ivf_out = simsearch.ivf_topk(
            emb, queries_df, k=5, n_centroids=16, nprobe=2
        ).select(
            F.lit("ivf").alias("method"),
            "query_id",
            F.col("rank").cast("long").alias("rank"),
            "vec_id",
            "sim",
        )
        return lsh_out.unionByName(ivf_out)

    q["sim_ann_topk"] = ann_topk

    # --- WARC kernel end-to-end (S1/S2 scan, H2–H6 extraction) ------------
    def roundtrip_codecs(spark, sf):
        """H6 full-parity: bodies rotate through gzip/br/zstd
        Content-Encoding (wbx.codecs ctypes decoders); extracted text must
        still be byte-identical to the source column."""
        from wbx.fixtures import synth_warc_files

        files = synth_warc_files(
            _t(spark, sf, "documents"), gzip_body="mixed", prefix="mixedenc"
        )
        recs = scan_files_to_records(files)
        return recs.filter(F.col("is_warc")).select(
            F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long").alias("doc_id"),
            "target_uri",
            F.col("http_status").cast("long").alias("http_status"),
            extract_text_udf(F.col("content_block"), F.col("header_bytes")).alias(
                "text_out"
            ),
        )

    def warc_roundtrip_suite(spark, sf):
        """S1/S2 scan + H2-H6 extraction as one style-tagged suite: the
        content-length strategy, the delimiter strategy (with its
        last-record truncation quirk pinned by the oracle), the mixed
        Content-Encoding corpus (gzip/br/zstd bodies through the ctypes
        codecs), and the digest integrity audit (style='digest_audit':
        audit_digests verdicts over planted hex/base32/corrupt
        WARC-Block-Digest declarations). Extracted text must be
        byte-identical to the source column in every scan branch."""
        a = _warc_roundtrip(spark, sf, "content_length").select(
            F.lit("content_length").alias("style"), "*"
        )
        b = _warc_roundtrip(spark, sf, "delimiter").select(
            F.lit("delimiter").alias("style"), "*"
        )
        c = roundtrip_codecs(spark, sf).select(F.lit("codecs").alias("style"), "*")
        # style='digest_audit': wbx.analytics.audit_digests verdict logic
        # over a planted records fixture — doc_id%2 picks the declared text
        # form (hex / RFC 4648 base32), doc_id%5==0 rows declare a digest of
        # DIFFERENT content (text + '!corrupt'), so the oracle predicts
        # (encoding, ok) from doc_id arithmetic; text_out carries
        # 'encoding:ok'. The sha1/base32 kernels themselves are pinned
        # against hashlib/base64 in tests/test_analytics.py.
        from wbx.analytics import audit_digests, sha1_base32

        docs = _t(spark, sf, "documents")
        payload = F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8")
        wrong = F.encode(
            F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit("!corrupt")),
            "utf-8",
        )
        basis = F.when(F.pmod("doc_id", F.lit(5)) == 0, wrong).otherwise(payload)
        declared = F.when(
            F.pmod("doc_id", F.lit(2)) == 0,
            F.concat(F.lit("sha1:"), F.sha1(basis)),
        ).otherwise(F.concat(F.lit("sha1:"), sha1_base32(basis)))
        recs = docs.select(
            F.lit("synthetic").alias("source_file"),
            F.col("doc_id").alias("record_start"),
            F.concat(F.lit("https://docs.example/"), F.col("doc_id")).alias(
                "target_uri"
            ),
            F.create_map(
                F.lit("WARC-Block-Digest"), F.array(declared)
            ).alias("headers"),
            payload.alias("content_block"),
        )
        d = audit_digests(recs).select(
            F.lit("digest_audit").alias("style"),
            F.col("record_start").alias("doc_id"),
            "target_uri",
            F.lit(None).cast("long").alias("http_status"),
            F.concat(
                F.col("encoding"), F.lit(":"), F.col("ok").cast("string")
            ).alias("text_out"),
        )
        return a.unionByName(b).unionByName(c).unionByName(d)

    q["warc_roundtrip"] = warc_roundtrip_suite

    def text_fused(spark, sf):
        """Fused scan+extract hot path (wbx.warcio.scan_files_to_text):
        same byte-identity invariant as the roundtrip queries but with one
        Python stage and no payload bytes crossing the Arrow boundary."""
        from wbx.fixtures import synth_warc_files
        from wbx.warcio import scan_files_to_text

        files = synth_warc_files(_t(spark, sf, "documents"))
        return scan_files_to_text(files).select(
            F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long").alias("doc_id"),
            "target_uri",
            F.col("http_status").cast("long").alias("http_status"),
            F.col("text").alias("text_out"),
        )

    def split_text(spark, sf):
        """Splittable two-stage .warc.gz scan end-to-end under the oracle:
        record-per-member archives are staged to local files (ranged reads
        need a filesystem), stage 1 (index_gzip_splits) packs members into
        deliberately tiny groups so every file fans out across many slice
        tasks, stage 2 (scan_splits_to_text) ranged-reads and fused-scans
        each slice. Extracted text must be byte-identical to the source
        column — the same oracle as the whole-file fused path, proving the
        split DAG changes the physical plan, not the answer."""
        import os
        import shutil

        from wbx.fixtures import warc_record_bytes
        from wbx.warcio import index_gzip_splits, scan_splits_to_text, write_warc_gz

        def build(pdf):
            import pandas as pd

            pdf = pdf.sort_values("doc_id")
            recs = [
                warc_record_bytes(int(r["doc_id"]), str(r["text"]))
                for _, r in pdf.iterrows()
            ]
            grp = int(pdf["grp"].iloc[0])
            return pd.DataFrame(
                {
                    "source_file": [f"splitstage-{grp}.warc.gz"],
                    "content": [write_warc_gz(recs)],
                }
            )

        n_files = 4
        files = (
            _t(spark, sf, "documents")
            .select("doc_id", "text")
            .withColumn("grp", F.pmod("doc_id", F.lit(n_files)))
            .groupBy("grp")
            .applyInPandas(build, schema="source_file string, content binary")
        )
        base = os.path.join(
            "/tmp", "wbx_split_stage", os.path.basename(os.path.normpath(sf))
        )
        shutil.rmtree(base, ignore_errors=True)
        os.makedirs(base, exist_ok=True)
        for r in files.collect():
            with open(os.path.join(base, r["source_file"]), "wb") as f:
                f.write(bytes(r["content"]))
        paths = spark.createDataFrame(
            [
                (os.path.join(base, f"splitstage-{g}.warc.gz"),)
                for g in range(n_files)
            ],
            "source_file string",
        )
        splits = index_gzip_splits(paths, target_bytes=16 << 10)
        return scan_splits_to_text(splits).select(
            F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long").alias("doc_id"),
            "target_uri",
            F.col("http_status").cast("long").alias("http_status"),
            F.col("text").alias("text_out"),
        )

    def warc_text_suite(spark, sf):
        """The fused scan+extract hot path (whole-file scan_files_to_text)
        and the splittable two-stage DAG (index_gzip_splits +
        scan_splits_to_text), mode-tagged: both must reproduce the source
        text byte-identically, proving the split DAG changes the physical
        plan, not the answer."""
        fused = text_fused(spark, sf).select(F.lit("fused").alias("mode"), "*")
        split = split_text(spark, sf).select(F.lit("split").alias("mode"), "*")
        return fused.unionByName(split)

    q["warc_text"] = warc_text_suite

    def unparsable(spark, sf):
        from wbx.fixtures import synth_warc_files
        from wbx.warcio import scan_files_to_unparsable

        files = synth_warc_files(
            _t(spark, sf, "documents"), junk_every=10, prefix="junked"
        )
        lines = scan_files_to_unparsable(files)
        # NB Spark rtrim strips spaces only — CRLF needs the regex form
        decoded = F.regexp_replace(F.decode(F.col("bytes"), "UTF-8"), r"\s+$", "")
        return lines.select(
            F.regexp_extract(decoded, r"^JUNK (\d+)$", 1).cast("long").alias(
                "junk_doc_id"
            ),
            decoded.alias("line"),
        )

    q["warc_unparsable_lines"] = unparsable

    # --- multimodal: binary payloads + typed metadata ---------------------
    def _media(spark, sf):
        """Deterministic media table from documents: payload = container
        magic (by doc_id%4) + utf-8 text bytes — exercises the opaque-binary
        column shape of the input_hint without external assets."""
        docs = _t(spark, sf, "documents")
        magic = (
            F.when(F.pmod("doc_id", F.lit(4)) == 0, F.lit(b"\x89PNG\r\n\x1a\n"))
            .when(F.pmod("doc_id", F.lit(4)) == 1, F.lit(b"\xff\xd8\xff"))
            .when(F.pmod("doc_id", F.lit(4)) == 2, F.lit(b"GIF89a"))
            .otherwise(F.lit(b"ID3"))
        )
        payload = F.concat(magic, F.encode(F.coalesce(F.col("text"), F.lit("")), "utf-8"))
        return docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))

    def mm_meta(spark, sf):
        """Multimodal suite (driver 50-query cap: union-tagged; members were
        separate queries through r4-mid): part='meta' is container sniffing
        + resize geometry as one per-media row (sniff_media's (kind,
        container, n_bytes) joined with resize_images' (width, height,
        n_pixels)); part='frame_plan' is the video frame-sampling fan-out
        plan (media_id, frame_index) with the other columns NULL;
        part='dims' is media_dimensions' header-only geometry parse
        (container, width, height — no pixel decode) over four constant
        REAL image headers picked by doc_id%4 (PNG IHDR, JPEG SOF0, GIF
        screen descriptor, WebP VP8X canvas), so the parsed geometry is
        oracle-pinned per container. Every underlying value stays
        individually oracle-pinned."""
        import struct as _struct
        import zlib as _zlib

        from wbx import multimodal

        media = _media(spark, sf)
        sniffed = multimodal.sniff_media(media)
        resized = multimodal.resize_images(media, width=8, height=8).select(
            "media_id",
            F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
            F.length("pixels").cast("long").alias("n_pixels"),
        )
        meta = sniffed.join(resized, "media_id").select(
            "media_id",
            F.lit("meta").alias("part"),
            "kind",
            "container",
            "n_bytes",
            "width",
            "height",
            "n_pixels",
            F.lit(None).cast("long").alias("frame_index"),
        )
        frames = multimodal.frame_sample_plan(media, every_n=30).select(
            "media_id",
            F.lit("frame_plan").alias("part"),
            F.lit(None).cast("string").alias("kind"),
            F.lit(None).cast("string").alias("container"),
            F.lit(None).cast("long").alias("n_bytes"),
            F.lit(None).cast("long").alias("width"),
            F.lit(None).cast("long").alias("height"),
            F.lit(None).cast("long").alias("n_pixels"),
            F.col("frame_index").cast("long").alias("frame_index"),
        )
        # four constant REAL image headers — valid container metadata, so
        # media_dimensions parses true geometry (no pixel decode involved)
        def _chk(typ, data):
            return (
                _struct.pack(">I", len(data)) + typ + data
                + _struct.pack(">I", _zlib.crc32(typ + data))
            )

        png = b"\x89PNG\r\n\x1a\n" + _chk(
            b"IHDR", _struct.pack(">IIBBBBB", 3, 2, 8, 2, 0, 0, 0)
        )
        jpeg = (
            b"\xff\xd8\xff\xe0" + _struct.pack(">H", 16)
            + b"JFIF\x00\x01\x01\x00" + b"\x00" * 6
            + b"\xff\xc0" + _struct.pack(">H", 17) + b"\x08"
            + _struct.pack(">HH", 480, 640)
            + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
        )
        gif = b"GIF89a" + _struct.pack("<HH", 7, 5) + b"\x00\x00\x00"
        vp8x = (
            b"\x00\x00\x00\x00"
            + (99).to_bytes(3, "little") + (49).to_bytes(3, "little")
        )
        webp = (
            b"RIFF" + (4 + 8 + len(vp8x)).to_bytes(4, "little") + b"WEBP"
            + b"VP8X" + len(vp8x).to_bytes(4, "little") + vp8x
        )
        hdr = (
            F.when(F.pmod("doc_id", F.lit(4)) == 0, F.lit(png))
            .when(F.pmod("doc_id", F.lit(4)) == 1, F.lit(jpeg))
            .when(F.pmod("doc_id", F.lit(4)) == 2, F.lit(gif))
            .otherwise(F.lit(webp))
        )
        dims_media = _t(spark, sf, "documents").select(
            F.col("doc_id").alias("media_id"), hdr.alias("payload")
        )
        dims = multimodal.media_dimensions(dims_media).select(
            "media_id",
            F.lit("dims").alias("part"),
            F.lit(None).cast("string").alias("kind"),
            "container",
            F.lit(None).cast("long").alias("n_bytes"),
            F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
            F.lit(None).cast("long").alias("n_pixels"),
            F.lit(None).cast("long").alias("frame_index"),
        )
        return meta.unionByName(frames).unionByName(dims)

    q["multimodal_meta"] = mm_meta

    def mm_features(spark, sf):
        """Byte-histogram featurizer, VALUE-checked (r4 upgrade from
        rows-only): DuckDB has no blob byte indexing, but the fixture
        payload is magic-bytes + utf-8 text and the corpus text is pure
        ASCII, so the oracle reconstructs the byte stream from character
        codes. Comparing de-normalized integer bin counts (round(f_i *
        n_bytes)) instead of the float32 fractions sidesteps
        float32-vs-double rounding at the 6th decimal."""
        from wbx import multimodal

        media = _media(spark, sf)
        feats = multimodal.media_features(media)
        meta = multimodal.sniff_media(media).select("media_id", "n_bytes")
        bin_at = lambda i: (
            F.round(F.element_at("features", i + 1) * F.col("n_bytes"))
            .cast("long")
            .alias(f"n_bin{i}")
        )
        return feats.join(meta, "media_id").select(
            "media_id", bin_at(0), bin_at(2), bin_at(7),
            F.col("n_bytes").cast("long").alias("n_bytes"),
        )

    q["multimodal_features_head"] = mm_features

    # --- time-window aggregate (streaming-shaped batch form) -------------
    q["a_windowed_counts"] = lambda spark, sf: (
        _t(spark, sf, "events")
        .groupBy(
            F.window(F.col("ts"), "1 hour").alias("w"), F.col("event_type")
        )
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
        )
    )

    # --- exact embedding-cosine near-dup pairs ----------------------------
    def cos_pairs(spark, sf):
        emb = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 100)
        a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_va"))
        b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_vb"))
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
        return (
            pairs.select(
                "id_a",
                "id_b",
                simsearch.cosine_similarity(F.col("_va"), F.col("_vb")).alias("sim"),
            )
            .filter(F.col("sim") >= 0.2)
            .select("id_a", "id_b", F.round("sim", 6).alias("sim"))
        )

    q["sim_pairs_exact"] = cos_pairs

    def emb_pairs(spark, sf):
        """Embedding near-dup suite, union-tagged, rows-only by design
        (blocking recall < 1; precision/recall pinned in
        tests/test_simsearch.py): dim='self' — within-corpus pairs
        (wbx.simsearch.pairwise_above_threshold); dim='cross' —
        corpus×reference decontamination pairs
        (wbx.simsearch.cross_corpus_pairs, reference = every 10th vector,
        which matches itself at sim 1.0 plus whatever the 0.3 threshold
        admits). Returned sims are exact cosine either way."""
        emb = _t(spark, sf, "embeddings")
        dim = len(emb.select("embedding").first()["embedding"])
        # synthetic embeddings are near-orthogonal, so a production 0.9
        # threshold returns nothing — 0.3 keeps the operator's output
        # non-empty at every sf while exercising the same plan
        self_pairs = simsearch.pairwise_above_threshold(
            emb, threshold=0.3, dim=dim, bits=10, tables=6
        ).select(
            F.lit("self").alias("dim"),
            F.col("id_a").alias("left_id"),
            F.col("id_b").alias("right_id"),
            "sim",
        )
        ref = emb.filter(F.pmod("vec_id", F.lit(10)) == 0)
        cross = simsearch.cross_corpus_pairs(
            emb, ref, threshold=0.3, dim=dim, bits=10, tables=6
        ).select(
            F.lit("cross").alias("dim"),
            F.col("corpus_id").alias("left_id"),
            F.col("ref_id").alias("right_id"),
            "sim",
        )
        return self_pairs.unionByName(cross)

    q["dedup_embedding_pairs"] = emb_pairs

    def compare_parsers(spark, sf):
        """wb compare-parsers parity: the content-length and delimiter scan
        strategies must produce identical record offsets on well-formed
        input — the result is the offset symmetric difference (empty).

        Bodies are '\\n'-terminated text: the reference's delimiter scan only
        finds the final record's boundary at EOF when two CRLF-only lines
        precede it (tests/test_parser_parity.py pins this quirk)."""
        from wbx.fixtures import synth_warc_files
        from wbx.warcio import scan_files_to_records

        docs = _t(spark, sf, "documents").withColumn(
            "text", F.concat(F.col("text"), F.lit("\n"))
        )
        files = synth_warc_files(docs, gzip_body=False)
        cols = ["source_file", "record_start", "record_end"]
        a = scan_files_to_records(files, style="content_length").select(*cols)
        b = scan_files_to_records(files, style="delimiter").select(*cols)
        return a.join(b, cols, "left_anti").unionByName(
            b.join(a, cols, "left_anti")
        )

    q["warc_compare_parsers"] = compare_parsers

    # --- Gopher-style repetition / quality gate ---------------------------
    def repetition(spark, sf):
        """Repetition features + the boolean Gopher keep-gate
        (wbx.textops.repetition_features / gopher_keep). The fixture text
        appends a deterministic multi-line tail (a duplicated line, a
        bullet line, an ellipsis line) so every line statistic is exercised
        even though the base corpus is single-line."""
        docs = _t(spark, sf, "documents")
        t2 = F.concat(
            F.col("text"),
            F.lit("\nitem one\nitem one\n- bullet "),
            F.pmod("doc_id", F.lit(5)),
            F.lit("\nend..."),
        )
        # staged form: the line/token arrays are real columns computed once
        # per row (with_repetition_features), not once per feature
        staged = textops.with_repetition_features(
            docs.withColumn("_t2", t2), "_t2", round_to=6
        )
        return staged.select(
            "doc_id",
            F.col("n_lines").cast("long").alias("n_lines"),
            "dup_line_frac",
            "dup_line_char_frac",
            "dup_token_frac",
            "ellipsis_line_frac",
            "bullet_line_frac",
            textops.gopher_keep(F.col("_t2")).alias("keep"),
        )

    q["text_repetition"] = repetition

    # the two relational Gopher n-gram statistics as one per-doc suite —
    # top bigram share and duplicate 5-gram character fraction; each
    # shuffle carries (doc_id, gram), never the text. Full-outer joined:
    # docs below the gram-count floor of one statistic keep a NULL there.
    # Third member: ExactSubstr duplicate-span removal (Lee et al. ACL'22,
    # wbx.textops.dedup_substrings) — every token covered by a 12-token
    # window whose hash repeats corpus-wide is dropped from ALL copies; the
    # portable md5 hasher lets the oracle pin the duplicated-window counts,
    # removed-token counts, and the md5 of every cleaned document.
    def ngram_stats(spark, sf):
        docs = _t(spark, sf, "documents")
        top = textops.top_ngram_frac(docs, n=2)
        dup = textops.dup_ngram_char_frac(docs, n=5)
        sub = textops.dedup_substrings(
            docs, window=12, hasher=textops.md5_hash60
        ).select(
            "doc_id",
            F.col("n_dup_windows").cast("long").alias("n_dup_windows"),
            F.col("n_removed").cast("long").alias("n_removed"),
            F.md5("clean_text").alias("clean_md5"),
        )
        return top.join(dup, "doc_id", "full_outer").join(
            sub, "doc_id", "full_outer"
        )

    q["text_ngram_stats"] = ngram_stats

    # --- benchmark decontamination ----------------------------------------
    def decontam(spark, sf):
        """Test-set leakage gate (wbx.textops.decontaminate_ngram_overlap):
        every 20th document doubles as the 'benchmark'; docs sharing any
        8-token gram with it are flagged with their hit count. The query
        runs hash_grams=False so DuckDB joins the same string keys; the
        production default hashes grams to xxhash64 first."""
        docs = _t(spark, sf, "documents")
        bench = docs.filter(F.pmod("doc_id", F.lit(20)) == 7).select("text")
        return textops.decontaminate_ngram_overlap(
            docs, bench, n=8, hash_grams=False
        )

    q["dedup_decontaminate"] = decontam

    # --- C4-style line cleaning -------------------------------------------
    def c4(spark, sf):
        """C4 line filter + doc gate (wbx.textops.c4_clean_lines /
        c4_doc_keep): fixture lines exercise every rule — a clean sentence
        (kept), a 2-word line (dropped), a javascript line (dropped), a
        multi-sentence tail (kept), and a '{' planted on doc_id%11==3
        (fails the doc gate)."""
        docs = _t(spark, sf, "documents")
        t2 = F.concat(
            F.col("text"),
            F.lit(
                "\nThis is a clean sentence line."
                "\nshort line"
                "\nAlso javascript enabled sentence here."
                "\nAnother tidy sentence with words. And more. Yes. Ok. Fine."
            ),
            F.when(F.pmod("doc_id", F.lit(11)) == 3, F.lit(" {")).otherwise(
                F.lit("")
            ),
        )
        return docs.select(
            "doc_id",
            F.md5(textops.c4_clean_lines(t2)).alias("cleaned_md5"),
            textops.c4_doc_keep(t2).alias("keep"),
        )

    _c4_q = c4

    # --- corpus vocabulary ------------------------------------------------
    q["corpus_top_tokens"] = lambda spark, sf: textops.corpus_top_tokens(
        _t(spark, sf, "documents"), k=100
    )

    # --- paragraph-level exact dedup --------------------------------------
    def paragraphs(spark, sf):
        """Corpus-wide paragraph dedup (wbx.textops.dedup_paragraphs):
        documents are given a 3-paragraph structure with cross-document
        shared paragraphs ('shared <k>' heads/tails), so survivors mix
        first-occurrence winners and unique middles."""
        docs = _t(spark, sf, "documents")
        t3 = F.concat(
            F.lit("shared "),
            F.pmod("doc_id", F.lit(7)),
            F.lit("\n\n"),
            F.col("text"),
            F.lit("\n\nshared "),
            F.pmod("doc_id", F.lit(3)),
        )
        return textops.dedup_paragraphs(
            docs.select("doc_id", t3.alias("text"))
        ).select("doc_id", F.col("para_idx").cast("long").alias("para_idx"), "para_hash")

    q["dedup_paragraphs"] = paragraphs

    # --- PII scrubbing ----------------------------------------------------
    def pii(spark, sf):
        """PII redaction (wbx.textops.pii_scrub): deterministic emails,
        phones and dotted-quad IPs are planted in every document, scrubbed
        to placeholder tokens, and the md5 of the scrubbed text is compared
        (the oracle chains the identical RE2-safe regexes in DuckDB)."""
        docs = _t(spark, sf, "documents")
        planted = F.concat(
            F.col("text"),
            F.lit(" reach user"),
            F.col("doc_id"),
            F.lit("@mail"),
            F.pmod("doc_id", F.lit(5)),
            F.lit(".org or 555-"),
            F.lpad(F.pmod("doc_id", F.lit(1000)).cast("string"), 3, "0"),
            F.lit("-0199 from 10."),
            F.pmod("doc_id", F.lit(256)),
            F.lit(".0.7"),
        )
        return docs.select(
            "doc_id", F.md5(textops.pii_scrub(planted)).alias("scrubbed_md5")
        )

    def text_clean(spark, sf):
        """C4 line cleaning + PII scrubbing + duplicate-line removal +
        sliding-window chunking as one per-doc suite row (all per-doc
        Column transforms over documents, each on its own planted
        fixture): (cleaned_md5, keep) from the C4 gate, scrubbed_md5 from
        the PII pass, dedup_lines_md5 from remove_duplicate_lines over a
        fixture with a planted repeated line, (n_chunks, chunks_md5)
        from chunk_documents(7, overlap 2) — the md5 of the '|'-joined
        chunk texts in chunk order, so window boundaries, overlap carry
        and whitespace normalization are all value-pinned — and
        (boiler_md5, n_boiler) from remove_boilerplate_lines(0.5): the one
        CORPUS-level member (document-frequency count over hashed lines)
        over a fixture planting two corpus-wide footer lines (stripped)
        and a df=1/3 minority banner (kept)."""
        base = _c4_q(spark, sf).join(pii(spark, sf), "doc_id")
        docs = _t(spark, sf, "documents")
        planted = F.concat(
            F.col("text"),
            F.lit("\nrepeat me\nunique "),
            F.pmod("doc_id", F.lit(6)),
            F.lit("\nrepeat me"),
        )
        rl = docs.select(
            "doc_id",
            F.md5(textops.remove_duplicate_lines(planted)).alias(
                "dedup_lines_md5"
            ),
        )
        chunks = (
            textops.chunk_documents(docs, chunk_words=7, overlap_words=2)
            .groupBy("doc_id")
            .agg(
                F.count("*").cast("long").alias("n_chunks"),
                F.md5(
                    F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.struct("chunk_id", "chunk_text")
                                )
                            ),
                            lambda s: s["chunk_text"],
                        ),
                        "|",
                    )
                ).alias("chunks_md5"),
            )
        )
        bp_docs = docs.select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit("\nShare on social media."),
                F.lit("\nminor banner "),
                F.pmod("doc_id", F.lit(3)),
                F.lit("\nAll rights reserved 2024."),
            ).alias("text"),
        )
        bp = textops.remove_boilerplate_lines(bp_docs, min_df_frac=0.5).select(
            "doc_id",
            F.md5("text").alias("boiler_md5"),
            F.col("n_boiler_lines").alias("n_boiler"),
        )
        return (
            base.join(rl, "doc_id").join(chunks, "doc_id").join(bp, "doc_id")
        )

    q["text_clean"] = text_clean

    # --- gap-based sessionization over the events table -------------------
    def sessions(spark, sf):
        return analytics.sessionize(_t(spark, sf, "events"), gap_seconds=1800).select(
            "user_id",
            "session_idx",
            "n_events",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_start"
            ),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias(
                "session_end"
            ),
            "value_cents",
        )

    q["a_sessionize"] = sessions

    # --- pages-table operators (north_rule input_hint shape) --------------
    def url_latest(spark, sf):
        """Snapshot dedup on the pages table (wbx.frontier.dedup_url_latest):
        revisit URLs are synthesized with messy-but-equivalent surface forms
        (upper-case scheme/host, explicit :80, fragments) so the canonical
        grouping is exercised; keeps the latest capture per canonical URL
        and late-fetches its payload."""
        docs = _t(spark, sf, "documents")
        key = F.pmod("doc_id", F.lit(50))
        host = F.concat(F.lit("site"), F.pmod(key, F.lit(7)), F.lit(".example"))
        url = F.when(
            F.pmod("doc_id", F.lit(2)) == 1,
            F.concat(
                F.lit("HTTP://"), F.upper(host), F.lit(":80/p/"), key, F.lit("#frag")
            ),
        ).otherwise(F.concat(F.lit("http://"), host, F.lit("/p/"), key))
        pages = docs.select(
            url.alias("url"),
            (
                F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                + F.make_interval(secs=F.col("doc_id"))
            ).alias("warc_ts"),
            F.encode(F.col("text"), "utf-8").alias("html"),
            "text",
            "lang",
        )
        return dedup_url_latest(pages).select(
            F.lit("url_latest").alias("part"),
            F.col("canon_url").alias("key"),
            F.col("n_snapshots").cast("long").alias("n_a"),
            F.lit(None).cast("long").alias("n_b"),
            F.lit(None).cast("long").alias("n_c"),
            F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("ts_a"),
            F.lit(None).cast("string").alias("ts_b"),
            F.md5("text").alias("text_md5"),
        )

    def host_rep(spark, sf):
        """Per-host crawl report (wbx.analytics.host_report) over a pages
        fixture spread across 13 hosts."""
        docs = _t(spark, sf, "documents")
        url = F.concat(
            F.lit("https://h"),
            F.pmod("doc_id", F.lit(13)),
            F.lit(".example.net/d/"),
            F.col("doc_id"),
        )
        pages = docs.select(
            url.alias("url"),
            (
                F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                + F.make_interval(secs=F.col("doc_id"))
            ).alias("warc_ts"),
            F.encode(F.col("text"), "utf-8").alias("html"),
            "text",
            "lang",
        )
        return analytics.host_report(pages).select(
            F.lit("host_report").alias("part"),
            F.col("host").alias("key"),
            F.col("n_pages").cast("long").alias("n_a"),
            F.col("text_chars").cast("long").alias("n_b"),
            F.col("n_langs").cast("long").alias("n_c"),
            F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("ts_a"),
            F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("ts_b"),
            F.lit(None).cast("string").alias("text_md5"),
        )

    def host_rank_part(spark, sf):
        """Link-authority ranking (wbx.graph.host_rank — PageRank power
        iteration as DataFrame joins, one shuffle per iteration) over a
        deterministic 13-host graph: src=doc_id%13 with residue 12 excluded
        (h12 is a pure sink, exercising dangling-mass redistribution),
        dst=(doc_id*3+1)%17%13 (independent residues), doc_id<60 so the
        adjacency is sparse/uneven — out-degrees and ranks genuinely
        differ per host. key=host, n_a=round(rank*1e6), n_b=out_degree,
        n_c=in_degree; the oracle unrolls the same 10 iterations as CTEs
        with double-literal arithmetic (0.85e0 — bare 0.85 is DECIMAL in
        DuckDB and diverges in the last bits)."""
        from wbx import graph

        docs = _t(spark, sf, "documents")
        edges = docs.select(
            F.concat(F.lit("h"), F.pmod("doc_id", F.lit(13))).alias("src_host"),
            F.concat(
                F.lit("h"),
                F.pmod(F.pmod(F.col("doc_id") * 3 + 1, F.lit(17)), F.lit(13)),
            ).alias("dst_host"),
        ).where((F.pmod("doc_id", F.lit(13)) != 12) & (F.col("doc_id") < 60))
        return graph.host_rank(edges, iterations=10).select(
            F.lit("host_rank").alias("part"),
            F.col("host").alias("key"),
            F.round(F.col("rank") * F.lit(1000000.0)).cast("long").alias("n_a"),
            F.col("out_degree").alias("n_b"),
            F.col("in_degree").alias("n_c"),
            F.lit(None).cast("string").alias("ts_a"),
            F.lit(None).cast("string").alias("ts_b"),
            F.lit(None).cast("string").alias("text_md5"),
        )

    def components_part(spark, sf):
        """Near-dup clustering (wbx.graph.connected_components — min-label
        propagation run to convergence, one join+groupBy shuffle per
        round) over deterministic variable-length chain segments: edges
        (n{doc_id}, n{doc_id+1}) except across %5/%7 boundaries, so
        component sizes differ and convergence needs multiple rounds
        (diameter up to 4). key=node (zero-padded so lexicographic min ==
        numeric min), ts_a=component label, n_a=component size; the
        oracle unrolls 6 iterations of the identical recurrence (≥
        convergence depth) as MATERIALIZED CTEs."""
        from wbx import graph

        docs = _t(spark, sf, "documents")
        node = F.format_string("n%03d", F.col("doc_id"))
        nxt = F.format_string("n%03d", F.col("doc_id") + 1)
        edges = docs.where(
            (F.col("doc_id") < 49)
            & (F.pmod("doc_id", F.lit(5)) != 4)
            & (F.pmod("doc_id", F.lit(7)) != 6)
        ).select(node.alias("id_a"), nxt.alias("id_b"))
        comp = graph.connected_components(edges)
        sizes = comp.groupBy("component").agg(F.count("*").alias("n"))
        return comp.join(sizes, "component").select(
            F.lit("components").alias("part"),
            F.col("id").alias("key"),
            F.col("n").cast("long").alias("n_a"),
            F.lit(None).cast("long").alias("n_b"),
            F.lit(None).cast("long").alias("n_c"),
            F.col("component").alias("ts_a"),
            F.lit(None).cast("string").alias("ts_b"),
            F.lit(None).cast("string").alias("text_md5"),
        )

    def revisit_part(spark, sf):
        """Recrawl scheduling (wbx.frontier.revisit_priority) over a
        synthetic fetch history: 40 URLs revisited ~every 40 ticks; even
        keys change content every fetch (digest = doc_id), odd keys never
        change (constant digest), so change_rate/priority separate
        cleanly. Doubles are pinned as scaled longs (rate*1e9,
        priority*1e6) rendered into the suite's string slots."""
        from wbx.frontier import revisit_priority

        docs = _t(spark, sf, "documents")
        k = F.pmod("doc_id", F.lit(40))
        hist = docs.select(
            F.concat(
                F.lit("http://r"), F.pmod(k, F.lit(5)), F.lit(".example/p/"), k
            ).alias("canon_url"),
            (
                F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                + F.make_interval(secs=F.col("doc_id"))
            ).alias("warc_ts"),
            F.when(F.pmod(k, F.lit(2)) == 0, F.col("doc_id").cast("string"))
            .otherwise(F.lit("const"))
            .alias("digest"),
        )
        out = revisit_priority(hist, "2024-02-01 00:00:00")
        return out.select(
            F.lit("revisit").alias("part"),
            F.col("canon_url").alias("key"),
            F.col("n_obs").alias("n_a"),
            F.col("n_changes").alias("n_b"),
            F.col("age_secs").alias("n_c"),
            F.round(F.col("change_rate") * F.lit(1e9))
            .cast("long")
            .cast("string")
            .alias("ts_a"),
            F.round(F.col("revisit_priority") * F.lit(1e6))
            .cast("long")
            .cast("string")
            .alias("ts_b"),
            F.lit(None).cast("string").alias("text_md5"),
        )

    def traps_part(spark, sf):
        """Spider-trap mining (wbx.frontier.detect_url_traps): 3 hosts
        with a digit-exploding '/x/N?s=N' URL space (40 distinct URLs
        each, emitted twice to exercise the distinct) plus a small
        static host below the threshold."""
        from wbx.frontier import detect_url_traps

        docs = _t(spark, sf, "documents")
        big = docs.where(F.col("doc_id") < 120).select(
            F.concat(
                F.lit("http://t"),
                F.pmod("doc_id", F.lit(3)),
                F.lit(".example/x/"),
                F.floor(F.col("doc_id") / 3),
                F.lit("?s="),
                F.col("doc_id") * 3,
            ).alias("canon_url")
        )
        small = docs.where(F.col("doc_id") < 5).select(
            F.concat(F.lit("http://ok.example/about/"), "doc_id").alias("canon_url")
        )
        pages = big.unionByName(big).unionByName(small)
        return detect_url_traps(pages, min_urls=30).select(
            F.lit("traps").alias("part"),
            F.col("host").alias("key"),
            F.col("n_urls").alias("n_a"),
            F.lit(None).cast("long").alias("n_b"),
            F.lit(None).cast("long").alias("n_c"),
            F.col("template").alias("ts_a"),
            F.lit(None).cast("string").alias("ts_b"),
            F.lit(None).cast("string").alias("text_md5"),
        )

    def mirrors_part(spark, sf):
        """Mirror-host detection (wbx.frontier.detect_mirrors): ma/mb carry
        IDENTICAL digest sets (jaccard 1.0 — identical signatures make LSH
        recall exactly 1, so the sketch is oracle-exact), mc shares the
        even half (~1/3, cut by the 0.9 verify threshold regardless of
        banding luck), solo is disjoint. key=host_a, ts_a=host_b,
        n_a=intersection, n_b/n_c=set sizes."""
        from wbx.frontier import detect_mirrors

        docs = _t(spark, sf, "documents").select("doc_id")
        d = F.col("doc_id")

        def host_pages(name, dg):
            return docs.select(F.lit(name).alias("host"), dg.alias("digest"))

        pages = (
            host_pages("ma.com", d)
            .unionByName(host_pages("mb.com", d))
            .unionByName(
                host_pages(
                    "mc.com",
                    F.when(F.pmod(d, F.lit(2)) == 0, d).otherwise(d + 1000000),
                )
            )
            .unionByName(host_pages("solo.com", d + 2000000))
        )
        return detect_mirrors(
            pages, digest_col="digest", threshold=0.9
        ).select(
            F.lit("mirrors").alias("part"),
            F.col("host_a").alias("key"),
            F.col("intersection").cast("long").alias("n_a"),
            F.col("n_a").cast("long").alias("n_b"),
            F.col("n_b").cast("long").alias("n_c"),
            F.col("host_b").alias("ts_a"),
            F.lit(None).cast("string").alias("ts_b"),
            F.lit(None).cast("string").alias("text_md5"),
        )

    def host_degree_part(spark, sf):
        """Degree summary (wbx.graph.host_degree_stats) over the weighted
        13-host graph: same residue construction as host_rank_part plus
        per-doc weights (doc_id%5+1) pre-aggregated to one row per edge;
        self-loops (src==dst) excluded from every stat. key=host,
        n_a=out_degree, n_b=in_degree, n_c=out_links,
        ts_a=in_links, ts_b=is_dangling."""
        from wbx import graph

        docs = _t(spark, sf, "documents")
        edges = (
            docs.select(
                F.concat(F.lit("h"), F.pmod("doc_id", F.lit(13))).alias(
                    "src_host"
                ),
                F.concat(
                    F.lit("h"),
                    F.pmod(F.pmod(F.col("doc_id") * 3 + 1, F.lit(17)), F.lit(13)),
                ).alias("dst_host"),
                (F.pmod("doc_id", F.lit(5)) + 1).alias("w"),
            )
            .groupBy("src_host", "dst_host")
            .agg(F.sum("w").alias("n_links"))
        )
        return graph.host_degree_stats(edges).select(
            F.lit("host_degree").alias("part"),
            F.col("host").alias("key"),
            F.col("out_degree").alias("n_a"),
            F.col("in_degree").alias("n_b"),
            F.col("out_links").alias("n_c"),
            F.col("in_links").cast("string").alias("ts_a"),
            F.col("is_dangling").cast("string").alias("ts_b"),
            F.lit(None).cast("string").alias("text_md5"),
        )

    def reg_domain_part(spark, sf):
        """Registered-domain rollup (wbx.domains.registered_domain — the
        eTLD+1 politeness/grouping kernel, snapshot expression path) over
        hosts synthesized to hit every branch: plain .com, deep
        .co.uk subdomains, the bare suffix itself, a single label, IPv4
        literals, and a .com.au tier. key=eTLD+1 ('(none)' for hosts with
        no registered domain), n_a=n_distinct_hosts, n_b=n_pages."""
        from wbx.domains import registered_domain

        docs = _t(spark, sf, "documents")
        k = F.pmod("doc_id", F.lit(50))
        v = F.pmod("doc_id", F.lit(7))
        host = (
            F.when(v == 0, F.concat(F.lit("www.site"), k, F.lit(".com")))
            .when(v == 1, F.concat(F.lit("a.b.site"), k, F.lit(".co.uk")))
            .when(v == 2, F.concat(F.lit("site"), k, F.lit(".co.uk")))
            .when(v == 3, F.concat(F.lit("10.0.0."), k))
            .when(v == 4, F.lit("internal"))
            .when(v == 5, F.lit("co.uk"))
            .otherwise(F.concat(F.lit("deep.x.site"), k, F.lit(".com.au")))
        )
        return (
            docs.select(host.alias("host"))
            .select(
                "host",
                F.coalesce(
                    registered_domain(F.col("host")), F.lit("(none)")
                ).alias("key"),
            )
            .groupBy("key")
            .agg(
                F.countDistinct("host").alias("n_a"),
                F.count(F.lit(1)).alias("n_b"),
            )
            .select(
                F.lit("reg_domain").alias("part"),
                "key",
                "n_a",
                "n_b",
                F.lit(None).cast("long").alias("n_c"),
                F.lit(None).cast("string").alias("ts_a"),
                F.lit(None).cast("string").alias("ts_b"),
                F.lit(None).cast("string").alias("text_md5"),
            )
        )

    def revalidate_part(spark, sf):
        """Conditional-GET planning (wbx.frontier.revalidation_headers):
        50 URL groups, latest capture = max doc_id (timestamps strictly
        increasing); odd groups carry a stored Last-Modified literal
        (preferred), even groups fall back to the capture time's RFC 7231
        HTTP-date. key=url, ts_a=if_modified_since, text_md5=etag."""
        from wbx.frontier import revalidation_headers

        docs = _t(spark, sf, "documents")
        key = F.pmod("doc_id", F.lit(50))
        hist = docs.select(
            F.concat(
                F.lit("http://site"), F.pmod(key, F.lit(7)),
                F.lit(".example/p/"), key,
            ).alias("canon_url"),
            (
                F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                + F.make_interval(secs=F.col("doc_id"))
            ).alias("warc_ts"),
            F.concat(F.lit('"e'), F.col("doc_id"), F.lit('"')).alias("etag"),
            F.when(
                F.pmod(key, F.lit(2)) == 1,
                F.lit("Tue, 05 Mar 2024 09:59:00 GMT"),
            ).alias("last_modified"),
        )
        return revalidation_headers(hist).select(
            F.lit("revalidate").alias("part"),
            F.col("url").alias("key"),
            F.lit(None).cast("long").alias("n_a"),
            F.lit(None).cast("long").alias("n_b"),
            F.lit(None).cast("long").alias("n_c"),
            F.col("if_modified_since").alias("ts_a"),
            F.lit(None).cast("string").alias("ts_b"),
            F.col("if_none_match").alias("text_md5"),
        )

    def pages_reports(spark, sf):
        """Pages-table report suite (driver 50-query cap: union-tagged;
        members were separate queries through r4-mid): part='url_latest' is
        snapshot dedup keeping the latest capture per canonical URL
        (wbx.frontier.dedup_url_latest — key=canon_url, n_a=n_snapshots,
        ts_a=warc_ts, text_md5=payload hash); part='host_report' is the
        per-host crawl report (wbx.analytics.host_report — key=host,
        n_a=n_pages, n_b=text_chars, n_c=n_langs, ts_a/ts_b=first/last
        capture); part='host_rank' is PageRank link authority over a
        deterministic host graph (wbx.graph.host_rank — see
        host_rank_part); part='components' is near-dup cluster labeling
        (wbx.graph.connected_components — see components_part);
        part='revisit' is change-rate recrawl priority
        (wbx.frontier.revisit_priority); part='traps' is spider-trap
        URL-template mining (wbx.frontier.detect_url_traps);
        part='mirrors' is content-digest mirror-host detection
        (wbx.frontier.detect_mirrors — see mirrors_part); part='revalidate'
        is conditional-GET planning (wbx.frontier.revalidation_headers —
        see revalidate_part); part='host_degree' is the weighted degree
        summary (wbx.graph.host_degree_stats — see host_degree_part);
        part='reg_domain' is the eTLD+1 registered-domain rollup
        (wbx.domains.registered_domain — see reg_domain_part).
        Same generic schema, every value oracle-pinned."""
        return (
            url_latest(spark, sf)
            .unionByName(host_rep(spark, sf))
            .unionByName(host_rank_part(spark, sf))
            .unionByName(components_part(spark, sf))
            .unionByName(revisit_part(spark, sf))
            .unionByName(traps_part(spark, sf))
            .unionByName(mirrors_part(spark, sf))
            .unionByName(revalidate_part(spark, sf))
            .unionByName(host_degree_part(spark, sf))
            .unionByName(reg_domain_part(spark, sf))
        )

    q["a_pages_reports"] = pages_reports

    return q


def _host_rank_union(iterations: int = 10) -> str:
    """The part='host_rank' UNION ALL arm of the a_pages_reports oracle:
    wbx.graph.host_rank's PageRank power iteration unrolled into one CTE
    pair per iteration (DuckDB has no iterative evaluation). All FP
    literals are doubles (e0 suffix — a bare 0.85 parses as DECIMAL(3,2)
    in DuckDB and its conversion to double differs from the IEEE result of
    1.0-0.85 by one ulp), so every scalar op matches Spark bit-for-bit;
    only sum reassociation differs, which round(rank*1e6) absorbs.

    Every hr_r{i} is referenced three times by iteration i+1 (dangling
    mass, contributions, and transitively), so the CTEs MUST be
    MATERIALIZED — default inlining duplicates the subplan per reference
    and the unrolled query plans in 2^iterations time."""
    ctes = [
        """hr_edges AS MATERIALIZED (
          SELECT DISTINCT 'h' || (doc_id % 13) AS src,
                 'h' || ((doc_id * 3 + 1) % 17 % 13) AS dst
          FROM documents WHERE doc_id % 13 <> 12 AND doc_id < 60
        ),
        hr_hosts AS (SELECT src AS host FROM hr_edges
                     UNION SELECT dst FROM hr_edges),
        hr_out AS (SELECT src, count(*) AS od FROM hr_edges GROUP BY 1),
        hr_in AS (SELECT dst, count(*) AS ind FROM hr_edges GROUP BY 1),
        hr_n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM hr_hosts),
        hr_r0 AS MATERIALIZED (SELECT host, 1e0 / (SELECT n FROM hr_n) AS rank
                  FROM hr_hosts)"""
    ]
    for i in range(1, iterations + 1):
        p = i - 1
        ctes.append(
            f"""hr_d{i} AS MATERIALIZED (
          SELECT coalesce(sum(r.rank), 0e0) AS dmass
          FROM hr_r{p} r LEFT JOIN hr_out o ON r.host = o.src
          WHERE o.src IS NULL
        ),
        hr_r{i} AS MATERIALIZED (
          SELECT h.host,
                 (1e0 - 0.85e0) / (SELECT n FROM hr_n)
                 + 0.85e0 * (coalesce(c.contrib, 0e0)
                   + (SELECT dmass FROM hr_d{i}) / (SELECT n FROM hr_n)) AS rank
          FROM hr_hosts h LEFT JOIN (
            SELECT e.dst, sum(r.rank / o.od) AS contrib
            FROM hr_edges e
            JOIN hr_r{p} r ON e.src = r.host
            JOIN hr_out o ON o.src = e.src
            GROUP BY 1) c ON h.host = c.dst
        )"""
        )
    joined = ",\n        ".join(ctes)
    return f"""
        UNION ALL
        SELECT * FROM (
        WITH {joined}
        SELECT 'host_rank' AS part, r.host AS key,
               CAST(round(r.rank * 1000000e0) AS BIGINT) AS n_a,
               CAST(coalesce(o.od, 0) AS BIGINT) AS n_b,
               CAST(coalesce(i.ind, 0) AS BIGINT) AS n_c,
               CAST(NULL AS VARCHAR) AS ts_a, CAST(NULL AS VARCHAR) AS ts_b,
               CAST(NULL AS VARCHAR) AS text_md5
        FROM hr_r{iterations} r
        LEFT JOIN hr_out o ON r.host = o.src
        LEFT JOIN hr_in i ON r.host = i.dst
        )
        """


def _components_union(iterations: int = 6) -> str:
    """The part='components' UNION ALL arm of the a_pages_reports oracle:
    connected_components' min-label recurrence unrolled to a fixed depth ≥
    the fixture's convergence depth (chain diameter ≤ 4 → labels are a
    fixpoint from round 5 on, so 6 fixed rounds equal Spark's
    run-to-convergence labels). MATERIALIZED for the same reason as the
    host_rank CTEs (each round references its predecessor twice)."""
    ctes = [
        """cc_edges AS MATERIALIZED (
          SELECT DISTINCT printf('n%03d', doc_id) AS a,
                 printf('n%03d', doc_id + 1) AS b
          FROM documents
          WHERE doc_id < 49 AND doc_id % 5 <> 4 AND doc_id % 7 <> 6
        ),
        cc_sym AS MATERIALIZED (
          SELECT a, b FROM cc_edges UNION SELECT b, a FROM cc_edges
        ),
        cc_l0 AS MATERIALIZED (
          SELECT id, id AS component FROM (
            SELECT a AS id FROM cc_edges UNION SELECT b FROM cc_edges)
        )"""
    ]
    for i in range(1, iterations + 1):
        p = i - 1
        ctes.append(
            f"""cc_l{i} AS MATERIALIZED (
          SELECT l.id,
                 least(l.component, coalesce(m.nmin, l.component)) AS component
          FROM cc_l{p} l LEFT JOIN (
            SELECT s.a AS nid, min(lb.component) AS nmin
            FROM cc_sym s JOIN cc_l{p} lb ON s.b = lb.id
            GROUP BY 1) m ON l.id = m.nid
        )"""
        )
    joined = ",\n        ".join(ctes)
    return f"""
        UNION ALL
        SELECT * FROM (
        WITH {joined}
        SELECT 'components' AS part, l.id AS key,
               CAST(cnt.n AS BIGINT) AS n_a,
               CAST(NULL AS BIGINT) AS n_b, CAST(NULL AS BIGINT) AS n_c,
               l.component AS ts_a, CAST(NULL AS VARCHAR) AS ts_b,
               CAST(NULL AS VARCHAR) AS text_md5
        FROM cc_l{iterations} l
        JOIN (SELECT component, count(*) AS n FROM cc_l{iterations}
              GROUP BY 1) cnt ON l.component = cnt.component
        )
        """


_REVISIT_UNION = """
        UNION ALL
        SELECT * FROM (
        WITH rv AS MATERIALIZED (
          SELECT 'http://r' || ((doc_id % 40) % 5) || '.example/p/'
                   || (doc_id % 40) AS url,
                 TIMESTAMP '2024-01-01 00:00:00' + to_seconds(doc_id) AS ts,
                 CASE WHEN (doc_id % 40) % 2 = 0 THEN CAST(doc_id AS VARCHAR)
                      ELSE 'const' END AS dg
          FROM documents
        ), rv_l AS (
          SELECT url, ts, dg,
                 lag(dg) OVER (PARTITION BY url ORDER BY ts, dg) AS prev
          FROM rv
        ), rv_a AS (
          SELECT url, count(*) AS n_obs,
                 sum(CASE WHEN prev IS NOT NULL AND dg <> prev
                          THEN 1 ELSE 0 END) AS n_changes,
                 CAST(epoch(max(ts)) - epoch(min(ts)) AS BIGINT) AS span,
                 CAST(epoch(TIMESTAMP '2024-02-01 00:00:00')
                      - epoch(max(ts)) AS BIGINT) AS age
          FROM rv_l GROUP BY 1
        ), rv_r AS (
          SELECT url, n_obs, n_changes, age,
                 CASE WHEN span > 0 THEN CAST(n_changes AS DOUBLE) / span
                      ELSE 0e0 END AS rate
          FROM rv_a
        )
        SELECT 'revisit' AS part, url AS key,
               CAST(n_obs AS BIGINT) AS n_a,
               CAST(n_changes AS BIGINT) AS n_b,
               age AS n_c,
               CAST(CAST(round(rate * 1000000000e0) AS BIGINT) AS VARCHAR) AS ts_a,
               CAST(CAST(round(rate * age * 1000000e0) AS BIGINT) AS VARCHAR) AS ts_b,
               CAST(NULL AS VARCHAR) AS text_md5
        FROM rv_r
        )
        """

_TRAPS_UNION = """
        UNION ALL
        SELECT * FROM (
        WITH tp_urls AS MATERIALIZED (
          SELECT 'http://t' || (doc_id % 3) || '.example/x/' || (doc_id // 3)
                   || '?s=' || (doc_id * 3) AS url
          FROM documents WHERE doc_id < 120
          UNION ALL
          SELECT 'http://t' || (doc_id % 3) || '.example/x/' || (doc_id // 3)
                   || '?s=' || (doc_id * 3)
          FROM documents WHERE doc_id < 120
          UNION ALL
          SELECT 'http://ok.example/about/' || doc_id
          FROM documents WHERE doc_id < 5
        ), tp_k AS (
          SELECT DISTINCT split_part(rest, '/', 1) AS host,
                 regexp_replace(substr(rest, strpos(rest, '/')),
                                '[0-9]+', 'N', 'g') AS template,
                 url
          FROM (SELECT url, split_part(url, '://', 2) AS rest FROM tp_urls)
        )
        SELECT 'traps' AS part, host AS key,
               CAST(count(*) AS BIGINT) AS n_a,
               CAST(NULL AS BIGINT) AS n_b, CAST(NULL AS BIGINT) AS n_c,
               template AS ts_a, CAST(NULL AS VARCHAR) AS ts_b,
               CAST(NULL AS VARCHAR) AS text_md5
        FROM tp_k GROUP BY 1, 2, 6 HAVING count(*) >= 30
        )
        """

# mirror detection: only the IDENTICAL-set pair survives the 0.9 verify
# threshold (identical signatures → LSH recall exactly 1, oracle-exact;
# the half-shared and disjoint hosts are cut by the verify filter no
# matter which bands collide)
_MIRRORS_UNION = """
        UNION ALL
        SELECT 'mirrors' AS part, 'ma.com' AS key,
               n AS n_a, n AS n_b, n AS n_c,
               'mb.com' AS ts_a, CAST(NULL AS VARCHAR) AS ts_b,
               CAST(NULL AS VARCHAR) AS text_md5
        FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
        """

# revalidation: latest capture per group = max doc_id (ts strictly
# increasing); odd groups prefer the stored Last-Modified literal, even
# groups fall back to the capture time's HTTP-date
_REVALIDATE_UNION = """
        UNION ALL
        SELECT 'revalidate' AS part,
               'http://site' || ((doc_id % 50) % 7) || '.example/p/' || (doc_id % 50) AS key,
               CAST(NULL AS BIGINT) AS n_a, CAST(NULL AS BIGINT) AS n_b,
               CAST(NULL AS BIGINT) AS n_c,
               CASE WHEN (doc_id % 50) % 2 = 1
                    THEN 'Tue, 05 Mar 2024 09:59:00 GMT'
                    ELSE strftime(TIMESTAMP '2024-01-01 00:00:00'
                                  + to_seconds(doc_id),
                                  '%a, %d %b %Y %H:%M:%S GMT') END AS ts_a,
               CAST(NULL AS VARCHAR) AS ts_b,
               '\"e' || doc_id || '\"' AS text_md5
        FROM (SELECT doc_id % 50 AS k, max(doc_id) AS doc_id
              FROM documents GROUP BY 1)
        """

# host degree stats over the weighted 13-host graph (self-loops excluded)
_HOST_DEGREE_UNION = """
        UNION ALL
        SELECT * FROM (
        WITH hd_e AS (
          SELECT 'h' || (doc_id % 13) AS s,
                 'h' || (((doc_id * 3 + 1) % 17) % 13) AS d,
                 sum((doc_id % 5) + 1) AS w
          FROM documents GROUP BY 1, 2
        ), hd_i AS (SELECT * FROM hd_e WHERE s <> d),
        o AS (SELECT s AS host, CAST(count(*) AS BIGINT) AS od,
                     CAST(sum(w) AS BIGINT) AS ol FROM hd_i GROUP BY s),
        i AS (SELECT d AS host, CAST(count(*) AS BIGINT) AS idg,
                     CAST(sum(w) AS BIGINT) AS il FROM hd_i GROUP BY d)
        SELECT 'host_degree' AS part, host AS key,
               coalesce(od, 0) AS n_a, coalesce(idg, 0) AS n_b,
               coalesce(ol, 0) AS n_c,
               CAST(coalesce(il, 0) AS VARCHAR) AS ts_a,
               CASE WHEN coalesce(od, 0) = 0 THEN 'true' ELSE 'false' END AS ts_b,
               CAST(NULL AS VARCHAR) AS text_md5
        FROM o FULL OUTER JOIN i USING (host)
        )
        """

from wbx.domains import TWO_LABEL_SUFFIX_SNAPSHOT as _RD_SNAPSHOT

_SUFFIX_IN_LIST = ", ".join(f"'{s}'" for s in _RD_SNAPSHOT)

# registered-domain (eTLD+1) rollup — same publicsuffix.org snapshot
# algorithm as wbx.domains.registered_domain, in portable SQL: IPv4 → the
# address, single label → no registered domain, known two-label suffix →
# last three labels (or none when the host IS the suffix), else last two
_REG_DOMAIN_UNION = f"""
        UNION ALL
        SELECT * FROM (
        WITH rdh AS (
          SELECT CASE doc_id % 7
                   WHEN 0 THEN 'www.site' || (doc_id % 50) || '.com'
                   WHEN 1 THEN 'a.b.site' || (doc_id % 50) || '.co.uk'
                   WHEN 2 THEN 'site' || (doc_id % 50) || '.co.uk'
                   WHEN 3 THEN '10.0.0.' || (doc_id % 50)
                   WHEN 4 THEN 'internal'
                   WHEN 5 THEN 'co.uk'
                   ELSE 'deep.x.site' || (doc_id % 50) || '.com.au'
                 END AS host
          FROM documents
        ), rdp AS (
          SELECT host, string_split(host, '.') AS parts,
                 len(string_split(host, '.')) AS n
          FROM rdh
        ), rdd AS (
          SELECT host,
            CASE
              WHEN regexp_matches(host,
                   '^[0-9]{{1,3}}(\\.[0-9]{{1,3}}){{3}}$') THEN host
              WHEN n <= 1 THEN NULL
              WHEN parts[n-1] || '.' || parts[n] IN ({_SUFFIX_IN_LIST})
                THEN CASE WHEN n >= 3
                          THEN parts[n-2] || '.' || parts[n-1] || '.' || parts[n]
                          ELSE NULL END
              ELSE parts[n-1] || '.' || parts[n]
            END AS rdom
          FROM rdp
        )
        SELECT 'reg_domain' AS part, coalesce(rdom, '(none)') AS key,
               CAST(count(DISTINCT host) AS BIGINT) AS n_a,
               CAST(count(*) AS BIGINT) AS n_b,
               CAST(NULL AS BIGINT) AS n_c,
               CAST(NULL AS VARCHAR) AS ts_a,
               CAST(NULL AS VARCHAR) AS ts_b,
               CAST(NULL AS VARCHAR) AS text_md5
        FROM rdd GROUP BY 1, 2
        )
        """


def oracle_sql() -> dict[str, str]:
    lang_score = lambda lg: f"len(list_filter(toks, x -> x IN ({_LANG_IN[lg]})))"
    return {
        "a_counts": """
        SELECT 'total' AS dim, CAST(NULL AS VARCHAR) AS key, count(*) AS n
        FROM documents
        UNION ALL
        SELECT 'event_type', event_type, count(*)
        FROM events GROUP BY event_type
        UNION ALL
        SELECT 'http_content_type',
               CASE doc_id % 3 WHEN 0 THEN 'text/html'
                               WHEN 1 THEN 'application/json'
                               ELSE 'text/plain' END,
               count(*)
        FROM documents GROUP BY 2
        """ + _CURATE_FUNNEL_SQL,
        "a3_count_by_domain": (
            "SELECT lower(source) || '.example.com' AS domain, count(*) AS n "
            "FROM documents GROUP BY 1"
        ),
        "j1_match_pairs": _J1_ORACLE_BASE
        + "SELECT target_uri, seq, req_event, resp_event, pair_type FROM pairs",
        "j1_pair_counts": _J1_ORACLE_BASE
        + "SELECT pair_type, count(*) AS n FROM pairs GROUP BY pair_type",
        "j1_pair_summary": _J1_ORACLE_BASE
        + """
        SELECT target_uri,
               count(*) FILTER (WHERE pair_type = 'pair') AS pairs,
               count(*) FILTER (WHERE pair_type = 'lone_request') AS lone_requests,
               count(*) FILTER (WHERE pair_type = 'lone_response') AS lone_responses
        FROM pairs GROUP BY target_uri ORDER BY target_uri
        """,
        "j2_compare_headers": _J2_ORACLE
        + "SELECT warc_type, target_uri, seq, side, status FROM classified",
        "j2_compare_summary": _J2_ORACLE
        + """
        SELECT count(*) FILTER (WHERE status = 'matching') AS matching,
               count(*) FILTER (WHERE status = 'near_matching') AS near_matching,
               count(*) FILTER (WHERE status = 'unique' AND side IN ('both','left')) AS unique1,
               count(*) FILTER (WHERE status = 'unique' AND side IN ('both','right')) AS unique2
        FROM classified
        """,
        "j3_uri_sets": """
        WITH l AS (SELECT DISTINCT event_type AS warc_type, CAST(user_id AS VARCHAR) AS target_uri
                   FROM events WHERE event_id % 2 = 0),
             r AS (SELECT DISTINCT event_type AS warc_type, CAST(user_id AS VARCHAR) AS target_uri
                   FROM events WHERE event_id % 2 = 1)
        SELECT l.warc_type, l.target_uri, 'common' AS which FROM l
          WHERE EXISTS (SELECT 1 FROM r WHERE r.warc_type = l.warc_type AND r.target_uri = l.target_uri)
        UNION ALL
        SELECT l.warc_type, l.target_uri, 'only_left' FROM l
          WHERE NOT EXISTS (SELECT 1 FROM r WHERE r.warc_type = l.warc_type AND r.target_uri = l.target_uri)
        UNION ALL
        SELECT r.warc_type, r.target_uri, 'only_right' FROM r
          WHERE NOT EXISTS (SELECT 1 FROM l WHERE l.warc_type = r.warc_type AND l.target_uri = r.target_uri)
        """,
        "o1_stop_after_nth": """
        SELECT source, doc_id FROM (
          SELECT source, doc_id,
                 row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
          FROM documents) WHERE rn <= 3
        """,
        "f_warc_filters": """
        SELECT 'f1_header_regex' AS rule, doc_id, v.warc_type
        FROM documents CROSS JOIN (VALUES ('request'), ('response')) v(warc_type)
        WHERE doc_id % 2 = 0
        UNION ALL
        SELECT 'f5_http_verb', doc_id, CAST(NULL AS VARCHAR)
        FROM documents WHERE doc_id % 4 <> 0
        UNION ALL
        SELECT 'f7_http_header', doc_id, NULL
        FROM documents WHERE doc_id % 5 = 3
        UNION ALL
        SELECT 'f8_http_content_type', doc_id, NULL
        FROM documents WHERE doc_id % 3 = 1
        UNION ALL
        SELECT 'f9_member_records', doc_id, warc_type FROM (
          SELECT CAST(NULL AS BIGINT) AS doc_id, 'warcinfo' AS warc_type
          FROM (SELECT DISTINCT doc_id % 8 AS g FROM documents WHERE doc_id % 8 >= 4)
          UNION ALL
          SELECT doc_id, v.warc_type
          FROM documents CROSS JOIN (VALUES ('request'), ('response')) v(warc_type)
          WHERE doc_id % 8 >= 4
        )
        UNION ALL
        SELECT 'f10_warcinfo_escape', doc_id, warc_type FROM (
          SELECT CAST(NULL AS BIGINT) AS doc_id, 'warcinfo' AS warc_type
          FROM (SELECT DISTINCT doc_id % 8 AS g FROM documents)
          UNION ALL
          SELECT doc_id, 'response' AS warc_type FROM documents WHERE doc_id % 3 = 1
        )
        UNION ALL
        SELECT 'f2_f3_length_type', doc_id, NULL
        FROM documents WHERE n_chars >= 300 AND lower(lang) = 'en'
        """,
        "dedup_exact_all": """
        SELECT 'documents' AS tbl, min(doc_id) AS id, md5(text) AS digest,
               count(*) AS dup_count
        FROM documents GROUP BY md5(text)
        UNION ALL
        SELECT 'embeddings', min(vec_id), CAST(NULL AS VARCHAR), count(*)
        FROM embeddings GROUP BY embedding
        """,
        "text_doc_metrics": rf"""
        WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
        s AS (SELECT doc_id, text, toks,
                     {lang_score('de')} AS s_de, {lang_score('en')} AS s_en,
                     {lang_score('es')} AS s_es, {lang_score('fr')} AS s_fr
              FROM t)
        SELECT doc_id,
               md5(array_to_string(toks, ' ')) AS fp,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_filter(toks, x -> x IN ({_LANG_IN['en']})))
                    AS BIGINT) AS stop_hits,
               CAST(strlen(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))
                    AS BIGINT) AS alnum_chars,
               CASE WHEN greatest(s_de, s_en, s_es, s_fr) <= 0 THEN 'und'
                    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                    WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                    WHEN s_es >= s_fr THEN 'es'
                    ELSE 'fr' END AS lang_pred,
               CAST(len(list_filter(
                   regexp_extract_all(text,
                     '(''s|''t|''re|''ve|''m|''ll|''d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+)'),
                   x -> regexp_matches(x, '\S'))) AS BIGINT) AS n_bpe_tokens,
               CAST(CASE WHEN len(toks) < 8 THEN 0
                         ELSE len(toks) - 7 END AS BIGINT) AS n_hashes,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#7'), 1, 15))
                    AS BIGINT) % 1000000 AS sample_bucket,
               CASE WHEN CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#7'), 1, 15))
                         AS BIGINT) % 1000000 < 100000
                    THEN 'holdout' ELSE 'train' END AS split,
               CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || '#11'), 1, 15))
                    AS BIGINT) % 1000000 < 250000 AS mix_keep,
               n_latin, n_cyrillic, n_cjk, script_dom, script_dom_frac,
               tri_entropy,
               start_offset, shard_id, shard_offset,
               clf_n_feats, clf_score_sum, clf_score, clf_keep,
               nll_n_toks, unigram_nll, nll_bucket, nll_bucket_label
        FROM s
        JOIN (
          -- script profile over the planted multi-script fixture:
          -- counts = length minus class-stripped length
          WITH p AS (
            SELECT doc_id,
                   text || repeat(' мир', doc_id % 4)
                        || repeat(' 中文', doc_id % 3) AS pt
            FROM documents),
          c AS (
            SELECT doc_id,
              CAST(length(pt) - length(regexp_replace(pt, '[A-Za-zÀ-ɏ]', '', 'g')) AS BIGINT) AS n_latin,
              CAST(length(pt) - length(regexp_replace(pt, '[Ѐ-ӿ]', '', 'g')) AS BIGINT) AS n_cyrillic,
              CAST(length(pt) - length(regexp_replace(pt, '[Ͱ-Ͽ]', '', 'g')) AS BIGINT) AS n_greek,
              CAST(length(pt) - length(regexp_replace(pt, '[؀-ۿ]', '', 'g')) AS BIGINT) AS n_arabic,
              CAST(length(pt) - length(regexp_replace(pt, '[֐-׿]', '', 'g')) AS BIGINT) AS n_hebrew,
              CAST(length(pt) - length(regexp_replace(pt, '[ऀ-ॿ]', '', 'g')) AS BIGINT) AS n_devanagari,
              CAST(length(pt) - length(regexp_replace(pt, '[一-鿿぀-ヿ가-힯]', '', 'g')) AS BIGINT) AS n_cjk
            FROM p)
          SELECT doc_id, n_latin, n_cyrillic, n_cjk,
                 CASE
                   WHEN greatest(n_latin, n_cyrillic, n_greek, n_arabic,
                                 n_hebrew, n_devanagari, n_cjk) = 0 THEN 'unknown'
                   WHEN n_latin = greatest(n_latin, n_cyrillic, n_greek, n_arabic, n_hebrew, n_devanagari, n_cjk) THEN 'latin'
                   WHEN n_cyrillic = greatest(n_cyrillic, n_greek, n_arabic, n_hebrew, n_devanagari, n_cjk) THEN 'cyrillic'
                   WHEN n_greek = greatest(n_greek, n_arabic, n_hebrew, n_devanagari, n_cjk) THEN 'greek'
                   WHEN n_arabic = greatest(n_arabic, n_hebrew, n_devanagari, n_cjk) THEN 'arabic'
                   WHEN n_hebrew = greatest(n_hebrew, n_devanagari, n_cjk) THEN 'hebrew'
                   WHEN n_devanagari = greatest(n_devanagari, n_cjk) THEN 'devanagari'
                   ELSE 'cjk' END AS script_dom,
                 CASE WHEN n_latin + n_cyrillic + n_greek + n_arabic
                           + n_hebrew + n_devanagari + n_cjk > 0
                      THEN round(CAST(greatest(n_latin, n_cyrillic, n_greek,
                             n_arabic, n_hebrew, n_devanagari, n_cjk) AS DOUBLE)
                           / (n_latin + n_cyrillic + n_greek + n_arabic
                              + n_hebrew + n_devanagari + n_cjk), 6)
                 END AS script_dom_frac
          FROM c
        ) USING (doc_id)
        JOIN (
          -- char-trigram entropy over lowercased whitespace-collapsed text
          WITH ns AS (
            SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
            FROM documents),
          g AS (
            SELECT doc_id, substr(nt, i, 3) AS gram
            FROM ns, UNNEST(generate_series(1, length(nt) - 2)) AS u(i)
            WHERE length(nt) >= 3),
          gc AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2)
          SELECT doc_id, round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS tri_entropy
          FROM gc GROUP BY doc_id
        ) USING (doc_id)
        JOIN (
          -- training-shard packing (wbx.textops.pack_shards, budget 5000):
          -- exclusive prefix sum of whitespace token counts in doc_id order
          WITH tt AS (SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS ntk
                      FROM documents),
          st AS (SELECT doc_id,
                        CAST(COALESCE(SUM(ntk) OVER (
                               ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0)
                             AS BIGINT) AS strt
                 FROM tt)
          SELECT doc_id,
                 strt AS start_offset,
                 CAST(strt // 5000 AS BIGINT) AS shard_id,
                 CAST(strt % 5000 AS BIGINT) AS shard_offset
          FROM st
        ) USING (doc_id)
        JOIN (
          -- hashed-linear quality classifier (wbx.textops.
          -- hashed_linear_score, seed 13, threshold 0, md5 hasher):
          -- integer milli-weights h%2001-1000 over unigrams+bigrams
          WITH ft AS (
            SELECT doc_id, {_TOKS} AS tk FROM documents),
          fe AS (
            SELECT doc_id,
                   list_concat(
                     tk,
                     list_transform(
                       CASE WHEN len(tk) >= 2
                            THEN generate_series(1, len(tk) - 1)
                            ELSE CAST([] AS BIGINT[]) END,
                       i -> tk[i] || ' ' || tk[i + 1])) AS feats
            FROM ft),
          sc AS (
            SELECT doc_id,
                   CAST(len(feats) AS BIGINT) AS clf_n_feats,
                   CAST(COALESCE(list_sum(list_transform(feats,
                     f -> CAST(concat('0x', substr(md5(f || '#13'), 1, 15))
                            AS BIGINT) % 2001 - 1000)), 0)
                        AS BIGINT) AS clf_score_sum
            FROM fe)
          SELECT doc_id, clf_n_feats, clf_score_sum,
                 CASE WHEN clf_n_feats > 0
                      THEN round(clf_score_sum / (1000.0 * clf_n_feats), 6)
                      ELSE 0.0 END AS clf_score,
                 clf_score_sum >= 0 AS clf_keep
          FROM sc
        ) USING (doc_id)
        LEFT JOIN (
          -- corpus-self-trained unigram LM NLL (wbx.textops.unigram_nll,
          -- min_count 2, oov 0.5); token-less docs absent -> NULL
          WITH tk AS (SELECT doc_id, unnest({_TOKS}) AS t FROM documents),
          vc AS (SELECT t, count(*) AS c FROM tk GROUP BY t),
          pr AS (SELECT doc_id, t, count(*) AS m FROM tk GROUP BY 1, 2),
          jd AS (SELECT doc_id,
                        CAST(sum(m) AS BIGINT) AS nll_n_toks,
                        sum(m * ln(COALESCE(v.c, 0.5))) AS s
                 FROM pr LEFT JOIN (SELECT t, CAST(c AS DOUBLE) AS c
                                    FROM vc WHERE c >= 2) v USING (t)
                 GROUP BY doc_id)
          SELECT doc_id, nll_n_toks, unigram_nll,
                 CAST(NTILE(3) OVER (ORDER BY unigram_nll, doc_id)
                      AS BIGINT) AS nll_bucket,
                 CASE NTILE(3) OVER (ORDER BY unigram_nll, doc_id)
                      WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                      ELSE 'tail' END AS nll_bucket_label
          FROM (SELECT doc_id, nll_n_toks,
                       round(ln((SELECT CAST(sum(c) AS DOUBLE) FROM vc))
                             - s / nll_n_toks, 6) AS unigram_nll
                FROM jd)
        ) USING (doc_id)
        """,
        # winnow over md5_hash60 rolling hashes: window=8 tokens, guarantee=16
        # → min per sliding window of w=9 hashes, distinct; a doc with fewer
        # than w hashes yields the min of all (the truncated last frames are
        # excluded by i <= nh-8, mirroring Spark's sequence(0, nh-w) bound)
        "text_winnow": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        idx AS (
          SELECT doc_id, toks, len(toks) - 7 AS nh,
                 unnest(generate_series(1, len(toks) - 7)) AS i
          FROM t
          WHERE len(toks) >= 8
        ),
        h AS (
          SELECT doc_id, i, nh,
                 CAST(concat('0x', substr(md5(array_to_string(toks[i:i+7], ' ')), 1, 15)) AS BIGINT) AS hv
          FROM idx
        ),
        w AS (
          SELECT doc_id, i, nh,
                 min(hv) OVER (PARTITION BY doc_id ORDER BY i
                               ROWS BETWEEN CURRENT ROW AND 8 FOLLOWING) AS fp
          FROM h
        )
        SELECT DISTINCT doc_id, fp FROM w WHERE i <= greatest(nh - 8, 1)
        """,
        # blocks=9 pigeonhole recall is exactly 1.0 at max_hamming=8, so
        # the oracle is the straight all-pairs popcount query over the
        # same md5_hash60 signatures — no blocking to mirror
        "dedup_simhash_pairs": f"""
        WITH tok AS (
          SELECT doc_id, t.t
          FROM documents, unnest({_TOKS}) AS t(t)
          WHERE text IS NOT NULL
        ),
        h AS (
          SELECT doc_id,
                 CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS hv
          FROM tok
        ),
        b AS (
          SELECT doc_id, g.i,
                 sum(CASE WHEN (hv >> g.i) & 1 = 1 THEN 1 ELSE -1 END) AS acc
          FROM h, unnest(generate_series(0, 59)) AS g(i)
          GROUP BY doc_id, g.i
        ),
        sig AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN acc > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
                      AS BIGINT) AS simhash
          FROM b GROUP BY doc_id
        )
        SELECT a.doc_id AS id_a, c.doc_id AS id_b,
               CAST(bit_count(xor(a.simhash, c.simhash)) AS INTEGER) AS hamming
        FROM sig a JOIN sig c ON a.doc_id < c.doc_id
        WHERE bit_count(xor(a.simhash, c.simhash)) <= 8
        """,
        "text_simhash": f"""
        WITH tok AS (
          SELECT doc_id, t.t
          FROM documents, unnest({_TOKS}) AS t(t)
          WHERE text IS NOT NULL
        ),
        h AS (
          SELECT doc_id,
                 CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS hv
          FROM tok
        ),
        b AS (
          SELECT doc_id, g.i,
                 sum(CASE WHEN (hv >> g.i) & 1 = 1 THEN 1 ELSE -1 END) AS acc
          FROM h, unnest(generate_series(0, 59)) AS g(i)
          GROUP BY doc_id, g.i
        )
        SELECT doc_id,
               CAST(sum(CASE WHEN acc > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)
                    AS BIGINT) AS simhash
        FROM b GROUP BY doc_id
        """,
        "dedup_token_jaccard": f"""
        WITH tok AS (
          SELECT DISTINCT doc_id, t.t
          FROM documents, unnest({_TOKS}) AS t(t)
        ), sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
        cand AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM documents a JOIN documents b ON a.source = b.source AND a.doc_id < b.doc_id
        ), inter AS (
          SELECT c.id_a, c.id_b, count(*) AS i
          FROM cand c
          JOIN tok ta ON ta.doc_id = c.id_a
          JOIN tok tb ON tb.doc_id = c.id_b AND tb.t = ta.t
          GROUP BY c.id_a, c.id_b
        )
        SELECT i.id_a, i.id_b, round(i.i / (sa.n + sb.n - i.i), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE i.i / (sa.n + sb.n - i.i) >= 0.5
        """,
        "dedup_minhash_pairs": f"""
        WITH reps AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
        d AS (
          SELECT doc_id, {_TOKS} AS t FROM documents
          WHERE doc_id IN (SELECT doc_id FROM reps)
        ), sh AS (
          SELECT DISTINCT doc_id,
                 unnest(list_transform(range(1, greatest(len(t)-2, 1)+1),
                                       i -> array_to_string(t[i:i+2], ' '))) AS s
          FROM d
        ), sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        cand AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b
          FROM sizes a JOIN sizes b ON a.doc_id < b.doc_id
        ), inter AS (
          SELECT c.id_a, c.id_b, count(*) AS i
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.id_a
          JOIN sh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
          GROUP BY c.id_a, c.id_b
        )
        SELECT i.id_a, i.id_b, round(i.i / (sa.n + sb.n - i.i), 6) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE i.i / (sa.n + sb.n - i.i) >= 0.5
        """,
        "url_canonicalize": """
        SELECT doc_id,
               CASE WHEN doc_id % 5 = 0
                    THEN 'http://host' || (doc_id % 7) || '.com/'
                    ELSE 'https://www.site' || (doc_id % 7) || '.org/Path/' || doc_id
                         || '?q=' || (doc_id % 3) END AS canon_url,
               CASE WHEN doc_id % 5 = 0
                    THEN 'host' || (doc_id % 7) || '.com'
                    ELSE 'www.site' || (doc_id % 7) || '.org' END AS host,
               -- normalize_query: utm_/gclid dropped, survivors sorted
               'http://n' || (doc_id % 9) || '.com/p?a=' || (doc_id % 3)
                 || '&b=' || (doc_id % 4) AS norm_url
        FROM documents
        """,
        "frontier_unseen": """
        SELECT doc_id, 'http://h' || (doc_id % 20) || '.com/d/' || doc_id AS canon_url
        FROM documents WHERE doc_id % 3 <> 0
        """,
        # split base/recent is a partition of the same seen set, so the
        # oracle is the identical set difference
        "frontier_unseen_split": """
        SELECT doc_id, 'http://h' || (doc_id % 20) || '.com/d/' || doc_id AS canon_url
        FROM documents WHERE doc_id % 3 <> 0
        """,
        "frontier_robots_rules": """
        WITH hosts AS (SELECT DISTINCT doc_id % 20 AS h FROM documents),
        rule_rows AS (
          SELECT 'rule' AS dim, 'h' || h || '.com' AS host,
                 'deny' AS a, '/d' || (h % 5) AS b, CAST(NULL AS DOUBLE) AS v
          FROM hosts
          UNION ALL
          SELECT 'rule', 'h' || h || '.com', 'allow', '/d' || (h % 5) || '/pub',
                 CAST(NULL AS DOUBLE)
          FROM hosts),
        -- Crawl-delay: h%4; budget = floor(60/delay) clamped [1,1000];
        -- delay 0 = no limit = max_budget
        delay_budget_rows AS (
          SELECT 'delay_budget' AS dim, 'h' || h || '.com' AS host,
                 CAST(NULL AS VARCHAR) AS a, CAST(NULL AS VARCHAR) AS b,
                 CAST(CASE WHEN h % 4 = 0 THEN 1000
                           ELSE least(floor(60.0 / (h % 4)), 1000) END
                      AS DOUBLE) AS v
          FROM hosts),
        -- statuses cycle by doc_id%3: 0→200 ok, 1→404, 2→301 ok
        adaptive_budget_rows AS (
          SELECT 'adaptive_budget' AS dim,
                 'h' || (doc_id % 20) || '.com' AS host,
                 CAST(NULL AS VARCHAR) AS a, CAST(NULL AS VARCHAR) AS b,
                 CAST(greatest(least(floor(100.0 *
                        sum(CASE WHEN doc_id % 3 <> 1 THEN 1 ELSE 0 END)
                        / count(*)), 1000), 1) AS DOUBLE) AS v
          FROM documents GROUP BY doc_id % 20),
        eta_rows AS (
          SELECT 'eta' AS dim, 'h' || (doc_id % 20) || '.com' AS host,
                 'http://h' || (doc_id % 20) || '.com/x/' || doc_id AS a,
                 CAST(row_number() OVER
                        (PARTITION BY doc_id % 20 ORDER BY doc_id)
                      AS VARCHAR) AS b,
                 CAST((row_number() OVER
                         (PARTITION BY doc_id % 20 ORDER BY doc_id) - 1)
                      * ((doc_id % 20) % 4) AS DOUBLE) AS v
          FROM documents)
        SELECT dim, host, a, b, v FROM rule_rows
        UNION ALL SELECT dim, host, a, b, v FROM delay_budget_rows
        UNION ALL SELECT dim, host, a, b, v FROM adaptive_budget_rows
        UNION ALL SELECT dim, host, a, b, v FROM eta_rows
        -- statuses cycle by doc_id%4 (1→503, 3→429 retryable; 0→200,
        -- 2→404 settled); single attempt at round doc_id%6 → attempts=1,
        -- retry_after_round = round + 2
        UNION ALL
        SELECT 'retry' AS dim, 'h' || (doc_id % 20) || '.com' AS host,
               'http://h' || (doc_id % 20) || '.com/x/' || doc_id AS a,
               '1' AS b, CAST((doc_id % 6) + 2 AS DOUBLE) AS v
        FROM documents WHERE doc_id % 4 IN (1, 3)
        """,
        "frontier_crawl_round": """
        WITH cand AS (
          SELECT 'http://h' || (doc_id % 20) || '.com/d' || (doc_id % 10) || '/' || doc_id AS canon_url,
                 'h' || (doc_id % 20) || '.com' AS host,
                 '/d' || (doc_id % 10) || '/' || doc_id AS path,
                 greatest(CAST(doc_id % 5 AS DOUBLE), CAST((doc_id + 1) % 5 AS DOUBLE)) AS priority,
                 2 + ((doc_id % 20) % 3) AS budget,
                 doc_id
          FROM documents
        ), unseen AS (
          SELECT * FROM cand WHERE doc_id % 4 <> 0
        ), allowed AS (
          SELECT * FROM unseen
          WHERE host <> 'h2.com'
            AND NOT (host = 'h1.com' AND path LIKE '/d3%' AND path NOT LIKE '/d3/1%')
        ), polite AS (
          SELECT canon_url, host, priority, budget,
                 row_number() OVER (PARTITION BY host ORDER BY priority DESC, canon_url ASC) AS rn
          FROM allowed
        )
        SELECT canon_url, host, priority,
               row_number() OVER (ORDER BY priority DESC, canon_url ASC) AS fetch_order
        FROM polite WHERE rn <= budget
        """,
        "sim_brute_topk": """
        WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                   FROM embeddings WHERE vec_id < 8),
        scored AS (
          SELECT q.query_id, e.vec_id,
                 list_cosine_similarity(qv, CAST(e.embedding AS DOUBLE[])) AS sim
          FROM q CROSS JOIN embeddings e
        ), ranked AS (
          SELECT query_id, vec_id, sim,
                 row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
          FROM scored
        )
        SELECT query_id, rank, vec_id, round(sim, 6) AS sim FROM ranked WHERE rank <= 5
        """,
        "warc_roundtrip": f"""
        SELECT 'content_length' AS style, * FROM ({_WARC_ROUNDTRIP_ORACLE})
        UNION ALL
        SELECT 'delimiter', * FROM ({_WARC_DELIM_ORACLE})
        UNION ALL
        SELECT 'codecs', * FROM ({_WARC_ROUNDTRIP_ORACLE})
        UNION ALL
        SELECT 'digest_audit' AS style, doc_id,
               'https://docs.example/' || doc_id AS target_uri,
               CAST(NULL AS BIGINT) AS http_status,
               (CASE doc_id % 2 WHEN 0 THEN 'hex' ELSE 'base32' END) || ':'
                 || (CASE WHEN doc_id % 5 = 0 THEN 'false' ELSE 'true' END)
                 AS text_out
        FROM documents
        """,
        "warc_text": f"""
        SELECT 'fused' AS mode, * FROM ({_WARC_ROUNDTRIP_ORACLE})
        UNION ALL
        SELECT 'split', * FROM ({_WARC_ROUNDTRIP_ORACLE})
        """,
        "warc_unparsable_lines": """
        SELECT doc_id AS junk_doc_id, 'JUNK ' || doc_id AS line
        FROM documents WHERE doc_id % 10 = 0
        """,
        "multimodal_features_head": """
        WITH b AS (
          SELECT doc_id,
                 (CASE doc_id % 4 WHEN 0 THEN [137,80,78,71,13,10,26,10]
                                  WHEN 1 THEN [255,216,255]
                                  WHEN 2 THEN [71,73,70,56,57,97]
                                  ELSE [73,68,51] END
                  || list_transform(range(1, length(coalesce(text, '')) + 1),
                                    i -> ord(substr(text, CAST(i AS INTEGER), 1)))
                 ) AS bytes
          FROM documents)
        SELECT doc_id AS media_id,
               CAST(len(list_filter(bytes, x -> x < 16)) AS BIGINT) AS n_bin0,
               CAST(len(list_filter(bytes, x -> x >= 32 AND x < 48)) AS BIGINT) AS n_bin2,
               CAST(len(list_filter(bytes, x -> x >= 112 AND x < 128)) AS BIGINT) AS n_bin7,
               CAST(len(bytes) AS BIGINT) AS n_bytes
        FROM b
        """,
        "multimodal_meta": """
        SELECT doc_id AS media_id, 'meta' AS part,
               CASE WHEN doc_id % 4 <= 2 THEN 'image' ELSE 'audio' END AS kind,
               CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                               WHEN 2 THEN 'gif' ELSE 'mp3' END AS container,
               octet_length(encode(coalesce(text, '')))
                 + (CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 3
                                    WHEN 2 THEN 6 ELSE 3 END) AS n_bytes,
               CAST(8 AS BIGINT) AS width,
               CAST(8 AS BIGINT) AS height,
               CAST(64 AS BIGINT) AS n_pixels,
               CAST(NULL AS BIGINT) AS frame_index
        FROM documents
        UNION ALL
        SELECT media_id, 'frame_plan' AS part,
               CAST(NULL AS VARCHAR) AS kind, CAST(NULL AS VARCHAR) AS container,
               CAST(NULL AS BIGINT) AS n_bytes, CAST(NULL AS BIGINT) AS width,
               CAST(NULL AS BIGINT) AS height, CAST(NULL AS BIGINT) AS n_pixels,
               unnest(range(0, n, 30)) AS frame_index
        FROM (
          SELECT doc_id AS media_id,
                 greatest(CAST(floor((octet_length(encode(coalesce(text, '')))
                   + (CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 3
                                      WHEN 2 THEN 6 ELSE 3 END)) / 1000.0) AS BIGINT),
                          1) AS n
          FROM documents)
        UNION ALL
        SELECT doc_id AS media_id, 'dims' AS part,
               CAST(NULL AS VARCHAR) AS kind,
               CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                               WHEN 2 THEN 'gif' ELSE 'webp' END AS container,
               CAST(NULL AS BIGINT) AS n_bytes,
               CAST(CASE doc_id % 4 WHEN 0 THEN 3 WHEN 1 THEN 640
                                    WHEN 2 THEN 7 ELSE 100 END AS BIGINT) AS width,
               CAST(CASE doc_id % 4 WHEN 0 THEN 2 WHEN 1 THEN 480
                                    WHEN 2 THEN 5 ELSE 50 END AS BIGINT) AS height,
               CAST(NULL AS BIGINT) AS n_pixels,
               CAST(NULL AS BIGINT) AS frame_index
        FROM documents
        """,
        "a_windowed_counts": """
        SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, count(*) AS n
        FROM events GROUP BY 1, 2
        """,
        "warc_compare_parsers": """
        SELECT CAST(NULL AS VARCHAR) AS source_file,
               CAST(NULL AS BIGINT) AS record_start,
               CAST(NULL AS BIGINT) AS record_end
        WHERE 1 = 0
        """,
        "sim_pairs_exact": """
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings WHERE vec_id < 100),
        p AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 list_cosine_similarity(a.v, b.v) AS sim
          FROM e a JOIN e b ON a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, round(sim, 6) AS sim FROM p WHERE sim >= 0.2
        """,
        "text_repetition": f"""
        WITH d AS (
          SELECT doc_id,
                 text || chr(10) || 'item one' || chr(10) || 'item one' || chr(10)
                      || '- bullet ' || (doc_id % 5) || chr(10) || 'end...' AS t
          FROM documents
        ), b AS (
          SELECT doc_id,
                 list_filter(string_split(t, chr(10)), l -> length(l) > 0) AS ls,
                 regexp_extract_all(lower(t), '[a-z0-9]+') AS toks
          FROM d
        ), m AS (
          SELECT doc_id, ls, toks,
                 len(ls) AS nl,
                 len(list_distinct(ls)) AS ndl,
                 list_aggregate(list_transform(ls, x -> length(x)), 'sum') AS lc,
                 list_aggregate(list_transform(list_distinct(ls), x -> length(x)), 'sum') AS dlc,
                 len(toks) AS nt,
                 len(list_distinct(toks)) AS ndt,
                 len(list_filter(ls, l -> ends_with(l, '...') OR ends_with(l, '…'))) AS ell,
                 len(list_filter(ls, l -> starts_with(l, '-') OR starts_with(l, '*') OR starts_with(l, '•'))) AS bul,
                 list_aggregate(list_transform(toks, x -> length(x)), 'sum') AS tc,
                 len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS alpha,
                 len(list_filter(list_distinct(toks), x -> x IN ({_LANG_IN['en']}))) AS dstop
          FROM b
        )
        SELECT doc_id,
               CAST(nl AS BIGINT) AS n_lines,
               round((nl - ndl) / nl, 6) AS dup_line_frac,
               round((lc - dlc) / lc, 6) AS dup_line_char_frac,
               round(CASE WHEN nt > 0 THEN (nt - ndt) / nt ELSE 0.0 END, 6) AS dup_token_frac,
               round(ell / nl, 6) AS ellipsis_line_frac,
               round(bul / nl, 6) AS bullet_line_frac,
               (nt >= 50 AND nt <= 100000
                AND (CASE WHEN nt > 0 THEN tc / nt ELSE 0.0 END) >= 3
                AND (CASE WHEN nt > 0 THEN tc / nt ELSE 0.0 END) <= 10
                AND (nl - ndl) / nl <= 0.30
                AND (lc - dlc) / lc <= 0.30
                AND ell / nl <= 0.30
                AND bul / nl <= 0.90
                AND (CASE WHEN nt > 0 THEN alpha / nt ELSE 0.0 END) >= 0.80
                AND dstop >= 2) AS keep
        FROM m
        """,
        "text_ngram_stats": f"""
        WITH topq AS (
          WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
          i AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
                FROM t WHERE len(toks) >= 2),
          g AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS gram FROM i),
          c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
          SELECT doc_id, round(max(cnt) / sum(cnt), 6) AS top_ngram_frac
          FROM c GROUP BY doc_id
        ),
        dupq AS (
          WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
          i AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i
                FROM t WHERE len(toks) >= 5),
          g AS (SELECT doc_id, array_to_string(toks[i:i + 4], ' ') AS gram FROM i),
          c AS (SELECT doc_id, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
          SELECT doc_id,
                 round(sum(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END)
                       / sum(cnt * length(gram)), 6) AS dup_ngram_char_frac
          FROM c GROUP BY doc_id
        ),
        subq AS (
          -- ExactSubstr (Lee et al.): 12-token window grams under the
          -- portable md5 hasher; any gram with corpus count >= 2 marks its
          -- covered tokens for removal in every copy
          WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents
                     WHERE text IS NOT NULL),
          g AS (
            SELECT doc_id, i.i AS pos,
                   CAST(concat('0x', substr(md5(array_to_string(toks[i.i:i.i+11], ' ')), 1, 15)) AS BIGINT) AS gram
            FROM t, unnest(generate_series(1, len(toks) - 11)) AS i(i)
            WHERE len(toks) >= 12
          ),
          dupg AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
          hits AS (SELECT g.doc_id, g.pos FROM g JOIN dupg USING (gram)),
          tok AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS j
                  FROM t WHERE len(toks) >= 1),
          keepq AS (
            SELECT tok.doc_id, tok.j, tok.toks[tok.j] AS w,
                   NOT EXISTS (SELECT 1 FROM hits h
                               WHERE h.doc_id = tok.doc_id
                                 AND h.pos <= tok.j AND tok.j < h.pos + 12) AS keep
            FROM tok
          ),
          remq AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
                   md5(coalesce(string_agg(w, ' ' ORDER BY j) FILTER (WHERE keep), '')) AS clean_md5
            FROM keepq GROUP BY doc_id
          ),
          nwq AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_windows
                  FROM hits GROUP BY doc_id)
          SELECT d.doc_id,
                 CASE WHEN d.text IS NULL THEN NULL
                      ELSE coalesce(nwq.n_dup_windows, 0) END AS n_dup_windows,
                 CASE WHEN d.text IS NULL THEN NULL
                      ELSE coalesce(remq.n_removed, 0) END AS n_removed,
                 CASE WHEN d.text IS NULL THEN NULL
                      ELSE coalesce(remq.clean_md5, md5('')) END AS clean_md5
          FROM documents d
          LEFT JOIN nwq USING (doc_id) LEFT JOIN remq USING (doc_id)
        )
        SELECT doc_id, top_ngram_frac, dup_ngram_char_frac,
               n_dup_windows, n_removed, clean_md5
        FROM topq FULL JOIN dupq USING (doc_id) FULL JOIN subq USING (doc_id)
        """,
        "dedup_decontaminate": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        e AS (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
              FROM t WHERE len(toks) >= 8),
        dg AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i + 7], ' ') AS gram
               FROM e),
        bg AS (SELECT DISTINCT gram FROM dg WHERE doc_id % 20 = 7)
        SELECT dg.doc_id, count(*) AS n_hits
        FROM dg JOIN bg USING (gram) GROUP BY dg.doc_id
        """,
        "text_clean": r"""
        WITH c4q AS (
          WITH d AS (
            SELECT doc_id,
                   text || chr(10) || 'This is a clean sentence line.'
                        || chr(10) || 'short line'
                        || chr(10) || 'Also javascript enabled sentence here.'
                        || chr(10) || 'Another tidy sentence with words. And more. Yes. Ok. Fine.'
                        || CASE WHEN doc_id % 11 = 3 THEN ' {' ELSE '' END AS t
            FROM documents
          ), c AS (
            SELECT doc_id, t,
                   array_to_string(list_filter(string_split(t, chr(10)),
                     l -> (ends_with(trim(l), '.') OR ends_with(trim(l), '!')
                           OR ends_with(trim(l), '?') OR ends_with(trim(l), '"')
                           OR ends_with(trim(l), ''''))
                          AND len(list_filter(string_split_regex(trim(l), '\s+'),
                                              w -> w <> '')) >= 3
                          AND NOT contains(lower(trim(l)), 'javascript')),
                     chr(10)) AS cleaned
            FROM d
          )
          SELECT doc_id, md5(cleaned) AS cleaned_md5,
                 (length(cleaned) > 0
                  AND NOT contains(t, '{')
                  AND NOT contains(lower(t), 'lorem ipsum')
                  AND length(cleaned) - length(regexp_replace(cleaned, '[.!?]', '', 'g')) >= 5
                 ) AS keep
          FROM c
        ),
        piiq AS (
          WITH d AS (
            SELECT doc_id,
                   text || ' reach user' || doc_id || '@mail' || (doc_id % 5)
                        || '.org or 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                        || '-0199 from 10.' || (doc_id % 256) || '.0.7' AS t
            FROM documents
          )
          SELECT doc_id, md5(
            regexp_replace(
              regexp_replace(
                regexp_replace(t,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
              '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
          ) AS scrubbed_md5 FROM d
        ),
        rlq AS (
          WITH d AS (
            SELECT doc_id,
                   text || chr(10) || 'repeat me' || chr(10) || 'unique '
                        || (doc_id % 6) || chr(10) || 'repeat me' AS t
            FROM documents
          )
          SELECT doc_id, md5(array_to_string(
            list_filter(string_split(t, chr(10)),
                        (x, i) -> list_position(string_split(t, chr(10))[1:i], x) = i),
            chr(10))) AS dedup_lines_md5
          FROM d
        ),
        chq AS (
          -- chunk_documents(7, overlap 2): stride 5, whitespace-normalized
          -- token windows; n_chunks = 1 + ceil((n-7)/5) when n > 7
          WITH t AS (
            SELECT doc_id,
                   list_filter(string_split_regex(trim(text), '\s+'),
                               x -> x <> '') AS toks,
                   len(list_filter(string_split_regex(trim(text), '\s+'),
                                   x -> x <> '')) AS n
            FROM documents
          ), nc AS (
            SELECT doc_id, toks,
                   CASE WHEN n <= 7 THEN 1
                        ELSE 1 + CAST(floor((n - 7 + 4) / 5.0) AS INT)
                   END AS n_chunks
            FROM t
          ), ch AS (
            SELECT doc_id, n_chunks, i AS chunk_id,
                   array_to_string(toks[i*5+1 : i*5+7], ' ') AS chunk_text
            FROM nc, UNNEST(generate_series(0, n_chunks - 1)) AS g(i)
          )
          SELECT doc_id, CAST(max(n_chunks) AS BIGINT) AS n_chunks,
                 md5(string_agg(chunk_text, '|' ORDER BY chunk_id)) AS chunks_md5
          FROM ch GROUP BY doc_id
        ),
        bpq AS (
          -- remove_boilerplate_lines(min_df_frac=0.5, min_len=1): strip
          -- every line whose document frequency reaches half the corpus
          WITH d AS (
            SELECT doc_id,
                   text || chr(10) || 'Share on social media.'
                        || chr(10) || 'minor banner ' || (doc_id % 3)
                        || chr(10) || 'All rights reserved 2024.' AS t
            FROM documents
          ), tot AS (SELECT count(*) AS n FROM d),
          lp AS (SELECT doc_id, string_split(t, chr(10)) AS lines FROM d),
          l AS (
            SELECT doc_id, lines[i] AS line, i AS pos
            FROM lp, unnest(generate_series(1, len(lines))) AS g(i)
          ),
          fl AS (
            SELECT line FROM (
              SELECT line, count(DISTINCT doc_id) AS df
              FROM l WHERE length(line) >= 1 GROUP BY line
            ) q, tot WHERE q.df >= ceil(0.5 * tot.n)
          ),
          kept AS (
            SELECT doc_id, line, pos FROM l
            WHERE length(line) < 1 OR line NOT IN (SELECT line FROM fl)
          ),
          bagg AS (
            SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS bt,
                   count(*) AS kn
            FROM kept GROUP BY doc_id
          ),
          lcnt AS (SELECT doc_id, count(*) AS ln FROM l GROUP BY doc_id)
          SELECT d.doc_id, md5(coalesce(bagg.bt, '')) AS boiler_md5,
                 CAST(lcnt.ln - coalesce(bagg.kn, 0) AS BIGINT) AS n_boiler
          FROM d LEFT JOIN bagg USING (doc_id) JOIN lcnt USING (doc_id)
        )
        SELECT doc_id, cleaned_md5, keep, scrubbed_md5, dedup_lines_md5,
               n_chunks, chunks_md5, boiler_md5, n_boiler
        FROM c4q JOIN piiq USING (doc_id) JOIN rlq USING (doc_id)
                 JOIN chq USING (doc_id) JOIN bpq USING (doc_id)
        """,
        "corpus_top_tokens": f"""
        WITH tok AS (SELECT unnest({_TOKS}) AS token FROM documents),
        c AS (SELECT token, count(*) AS n FROM tok GROUP BY token)
        SELECT token, n FROM c
        QUALIFY row_number() OVER (ORDER BY n DESC, token ASC) <= 100
        """,
        "dedup_paragraphs": """
        WITH d AS (
          SELECT doc_id,
                 'shared ' || (doc_id % 7) || chr(10) || chr(10) || text
                 || chr(10) || chr(10) || 'shared ' || (doc_id % 3) AS t
          FROM documents
        ), a AS (
          SELECT doc_id, string_split(t, chr(10) || chr(10)) AS arr FROM d
        ), p AS (
          SELECT doc_id,
                 unnest(range(1, len(arr) + 1)) AS i,
                 unnest(arr) AS para
          FROM a
        ), f AS (
          SELECT doc_id, CAST(i - 1 AS BIGINT) AS para_idx, md5(para) AS para_hash
          FROM p WHERE length(trim(para)) > 0
        )
        SELECT doc_id, para_idx, para_hash FROM f
        QUALIFY row_number() OVER (PARTITION BY para_hash ORDER BY doc_id, para_idx) = 1
        """,
        "frontier_extract_links": """
        WITH doc_rows AS (
          SELECT 'doc' AS dim,
                 'https://h' || (doc_id % 13) || '.example.net/d/' || doc_id AS url,
                 unnest([
                   'https://abs' || (doc_id % 7) || '.example/x',
                   'https://proto.example/p/' || doc_id,
                   'https://h' || (doc_id % 13) || '.example.net/root/' || (doc_id % 5),
                   'https://h' || (doc_id % 13) || '.example.net/d/rel/' || (doc_id % 3),
                   'https://sq' || (doc_id % 4) || '.example/s',
                   'https://h' || (doc_id % 13) || '.example.net/d/uq/' || (doc_id % 6)
                 ]) AS link
          FROM documents),
        a AS (
          SELECT doc_id AS d, doc_id % 5 AS m,
                 'https://a' || (doc_id % 11) || '.example.org/s/' || doc_id AS url
          FROM documents),
        -- meta nofollow (m=0) / none (m=2) pages contribute no anchors;
        -- the two rel=nofollow anchors are dropped everywhere
        anchor_rows AS (
          SELECT 'anchor' AS dim, url,
                 unnest([
                   'https://a' || (d % 11) || '.example.org/f1/' || (d % 7),
                   'https://cdn' || (d % 4) || '.example/z'
                 ]) AS link
          FROM a WHERE m NOT IN (0, 2)),
        meta_rows AS (
          SELECT 'meta' AS dim, url,
                 unnest(CASE WHEN m = 0 THEN ['nofollow']
                             WHEN m = 1 THEN ['noindex']
                             WHEN m = 2 THEN ['noindex', 'nofollow']
                             ELSE CAST([] AS VARCHAR[]) END) AS link
          FROM a)
        SELECT dim, url, link FROM doc_rows
        UNION ALL SELECT dim, url, link FROM anchor_rows
        UNION ALL SELECT dim, url, link FROM meta_rows
        UNION ALL SELECT dim, url, link FROM atext_rows
        UNION ALL SELECT dim, url, link FROM top_rows
        UNION ALL SELECT dim, url, link FROM alt_rows
        """.replace(
            "WITH doc_rows AS (",
            """WITH atext AS (
          SELECT doc_id AS d,
                 t.target, t.txt
          FROM documents,
               unnest([
                 {'target': 'https://t' || (doc_id % 9) || '.example/t/' || (doc_id % 3),
                  'txt': 'w' || (doc_id % 2)},
                 {'target': 'https://t' || (doc_id % 9) || '.example/t/' || (doc_id % 3),
                  'txt': 'w' || (doc_id % 4)},
                 {'target': 'https://t' || (doc_id % 9) || '.example/u/' || doc_id,
                  'txt': 'padded label'}
               ]) AS u(t)),
        atext_rows AS (
          SELECT 'atext' AS dim, target AS url, txt AS link FROM atext),
        -- same rollup the engine runs: per-(target,txt) counts, then the
        -- top label by (count desc, txt asc) via the zero-padded
        -- inverted-count string-min key
        pt AS (
          SELECT target, txt, count(*) AS n FROM atext GROUP BY target, txt),
        top_rows AS (
          SELECT 'atext_top' AS dim, target AS url,
                 substr(min(lpad(CAST(999999999999 - n AS VARCHAR), 12, '0') || txt), 13)
                   || '#' || CAST(sum(n) AS BIGINT)
                   || '#' || CAST(count(*) AS BIGINT) AS link
          FROM pt GROUP BY target),
        alt_rows AS (
          SELECT u.a.dim AS dim,
                 'https://m' || (doc_id % 8) || '.example/p/' || doc_id AS url,
                 u.a.alt || '|https://m' || (doc_id % 8) || '.example' || u.a.path AS link
          FROM documents,
               unnest([
                 {'dim': 'hreflang', 'alt': 'en', 'path': '/en/' || doc_id},
                 {'dim': 'hreflang', 'alt': 'de-de', 'path': '/de/' || doc_id},
                 {'dim': 'feed',
                  'alt': CASE WHEN doc_id % 2 = 0 THEN 'application/rss+xml'
                              ELSE 'application/atom+xml' END,
                  'path': CASE WHEN doc_id % 2 = 0 THEN '/feed/' || (doc_id % 5)
                               ELSE '/atom/' || (doc_id % 5) END}
               ]) AS u(a)),
        doc_rows AS (""",
        ),
        # canonical target per doc is closed-form; winner per target =
        # max(doc_id) because warc_ts increases strictly with doc_id
        "dedup_canonical": """
        WITH p AS (
          SELECT doc_id AS d,
            'https://h' || (doc_id % 13) || '.example.net/v/' || doc_id AS url,
            CASE WHEN doc_id % 3 = 0
                   THEN 'https://canon.example/c/' || (doc_id % 40)
                 WHEN doc_id % 3 = 1
                   THEN 'https://h' || (doc_id % 13) || '.example.net/c/' || (doc_id % 40)
                 ELSE 'https://h' || (doc_id % 13) || '.example.net/v/' || doc_id
            END AS target
          FROM documents)
        SELECT target AS canon_target,
               strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(max(d)),
                        '%Y-%m-%d %H:%M:%S') AS warc_ts,
               'https://h' || (max(d) % 13) || '.example.net/v/' || max(d) AS url,
               CAST(count(*) AS BIGINT) AS n_members
        FROM p GROUP BY target
        """,
        # chain arithmetic: rem = chain_len - j hops remain; max_hops=3
        "frontier_redirects": """
        WITH d AS (SELECT doc_id AS d, doc_id % 5 AS ln, doc_id % 9 = 0 AS lp,
                          doc_id % 7 = 0 AS dang, doc_id % 11 AS r
                   FROM documents),
        nodes AS (
          SELECT d.*, j
          FROM d, UNNEST(generate_series(0, CASE WHEN lp THEN 1 ELSE ln END)) AS t(j))
        SELECT
          'http://r' || r || '.example.org/c/' || d || '/' || j AS url,
          CASE
            WHEN lp THEN 'http://r' || r || '.example.org/c/' || d || '/' || j
            WHEN ln - j = 0 THEN 'http://r' || r || '.example.org/c/' || d || '/' || j
            WHEN dang AND ln - j <= 3
              THEN 'http://r' || r || '.example.org/c/' || d || '/99'
            WHEN ln - j <= 3 THEN 'http://r' || r || '.example.org/c/' || d || '/' || ln
            ELSE 'http://r' || r || '.example.org/c/' || d || '/' || (j + 3)
          END AS final_url,
          CAST(CASE WHEN lp THEN 2 WHEN ln - j <= 3 THEN ln - j ELSE 3 END
               AS INTEGER) AS hops,
          CASE
            WHEN lp THEN 'loop'
            WHEN ln - j = 0 THEN 'ok'
            WHEN dang AND ln - j <= 3 THEN 'dangling'
            WHEN ln - j <= 3 THEN 'ok'
            ELSE 'capped'
          END AS terminal
        FROM nodes
        """,
        "warc_html_to_text": """
        WITH d AS (
          SELECT doc_id,
                 '<html><head><style>p {color:red}</style>'
                 || '<script>var x = 1 < 2;</script></head><body><h1>Title '
                 || (doc_id % 9) || '</h1><p>' || text
                 || ' &amp; more&nbsp;here &#65;&#x42;&#8217;s '
                 || '&LT;tag&GT; &#38;joined &#128512; &#xD800;bad'
                 || '</p><!-- note --></body></html>' AS h
          FROM documents),
        stripped AS (
          SELECT doc_id,
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(h,
              '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
              '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
              '(?s)<!--.*?-->', ' ', 'g'),
              '<[^>]+>', ' ', 'g') AS t
          FROM d),
        segs AS (SELECT doc_id, string_split(t, '&#') AS sg FROM stripped),
        numdec AS (
          SELECT doc_id,
            sg[1] || array_to_string(list_transform(sg[2:], s ->
              CASE
                WHEN regexp_extract(s, '^([0-9]{1,7});', 1) <> '' THEN
                  CASE WHEN CAST(regexp_extract(s, '^([0-9]{1,7});', 1) AS BIGINT) > 0
                        AND CAST(regexp_extract(s, '^([0-9]{1,7});', 1) AS BIGINT) <= 1114111
                        AND NOT (CAST(regexp_extract(s, '^([0-9]{1,7});', 1) AS BIGINT)
                                 BETWEEN 55296 AND 57343)
                        AND CAST(regexp_extract(s, '^([0-9]{1,7});', 1) AS BIGINT) <> 38
                    THEN chr(CAST(regexp_extract(s, '^([0-9]{1,7});', 1) AS INTEGER))
                         || substr(s, strlen(regexp_extract(s, '^([0-9]{1,7});', 1)) + 2)
                    ELSE '&#' || s END
                WHEN regexp_extract(s, '^[xX]([0-9a-fA-F]{1,6});', 1) <> '' THEN
                  CASE WHEN CAST(concat('0x', regexp_extract(s, '^[xX]([0-9a-fA-F]{1,6});', 1)) AS BIGINT) > 0
                        AND CAST(concat('0x', regexp_extract(s, '^[xX]([0-9a-fA-F]{1,6});', 1)) AS BIGINT) <= 1114111
                        AND NOT (CAST(concat('0x', regexp_extract(s, '^[xX]([0-9a-fA-F]{1,6});', 1)) AS BIGINT)
                                 BETWEEN 55296 AND 57343)
                        AND CAST(concat('0x', regexp_extract(s, '^[xX]([0-9a-fA-F]{1,6});', 1)) AS BIGINT) <> 38
                    THEN chr(CAST(concat('0x', regexp_extract(s, '^[xX]([0-9a-fA-F]{1,6});', 1)) AS INTEGER))
                         || substr(s, strlen(regexp_extract(s, '^[xX]([0-9a-fA-F]{1,6});', 1)) + 3)
                    ELSE '&#' || s END
                ELSE '&#' || s
              END), '') AS t
          FROM segs)
        SELECT doc_id, trim(regexp_replace(
          replace(
            regexp_replace(
              replace(replace(replace(replace(replace(replace(replace(t,
                '&lt;', '<'), '&LT;', '<'), '&gt;', '>'), '&GT;', '>'),
                '&quot;', '"'), '&QUOT;', '"'), '&nbsp;', ' '),
              '&amp;|&AMP;|&#0*38;|&#[xX]0*26;', '&', 'g'),
            chr(160), ' '),
          '\\s+', ' ', 'g')) AS extracted
        FROM numdec
        """,
        "frontier_sitemaps": """
        WITH hosts AS (SELECT DISTINCT doc_id % 13 AS k FROM documents)
        SELECT 'robots' AS src, 'h' || k || '.example.net' AS origin,
               unnest(['https://h' || k || '.example.net/sitemap.xml',
                       'https://h' || k || '.example.net/news.xml']) AS url,
               CAST(NULL AS VARCHAR) AS lastmod,
               CAST(NULL AS VARCHAR) AS changefreq,
               CAST(NULL AS DOUBLE) AS priority
        FROM hosts
        UNION ALL
        SELECT 'xml', 'https://h' || (doc_id % 13) || '.example.net/sitemap.xml',
               unnest(['https://h' || (doc_id % 13) || '.example.net/p/' || doc_id || '&v=1',
                       'https://h' || (doc_id % 13) || '.example.net/q/' || (doc_id % 5)]),
               NULL, NULL, NULL
        FROM documents
        UNION ALL
        -- full <url> entries: every third doc metadata-free; changefreq
        -- cycles the protocol vocabulary; priority = (doc_id%10)/10
        SELECT 'entry', 'https://h' || (doc_id % 13) || '.example.net/news.xml',
               'https://h' || (doc_id % 13) || '.example.net/n/' || doc_id,
               CASE WHEN doc_id % 3 = 0 THEN NULL
                    ELSE '2024-01-' || lpad(CAST((doc_id % 28) + 1 AS VARCHAR), 2, '0') END,
               CASE WHEN doc_id % 3 = 0 THEN NULL
                    ELSE list_value('always','hourly','daily','weekly',
                                    'monthly','yearly','never')[(doc_id % 7) + 1] END,
               CASE WHEN doc_id % 3 = 0 THEN CAST(NULL AS DOUBLE)
                    ELSE (doc_id % 10) / 10.0 END
        FROM documents
        UNION ALL
        -- RSS item (even doc_id, &amp; decoded) / Atom entry (odd) links;
        -- the channel-level homepage link and the linkless item emit nothing
        SELECT 'feed', 'https://h' || (doc_id % 13) || '.example.net/feed.xml',
               CASE WHEN doc_id % 2 = 0
                    THEN 'https://h' || (doc_id % 13) || '.example.net/rss/' || doc_id || '&s=1'
                    ELSE 'https://h' || (doc_id % 13) || '.example.net/atom/' || doc_id END,
               NULL, NULL, NULL
        FROM documents
        """,
        "warc_main_text": """
        SELECT doc_id,
               text || chr(10) || 'Closing paragraph number ' || (doc_id % 7)
                    || ' with sufficient plain prose characters to be kept.'
                 AS main_text
        FROM documents
        """,
        "warc_html_meta": """
        SELECT doc_id,
               CASE doc_id % 3 WHEN 0 THEN 'utf-8'
                               WHEN 1 THEN 'iso-8859-1' END AS charset,
               CASE doc_id % 4 WHEN 0 THEN 'en'
                               WHEN 1 THEN 'de-de'
                               WHEN 2 THEN 'fr' END AS lang_tag,
               'Doc ' || doc_id || ' of corpus' AS title,
               -- OpenGraph fixture classes by doc_id%6 (0: prop-first
               -- with double-space collapse + image; 1: content-first;
               -- 2: single-quoted description; else: no og tags)
               CASE WHEN doc_id % 6 IN (0, 1) THEN 'OG ' || doc_id END AS og_title,
               CASE WHEN doc_id % 6 = 2 THEN 'Sum ' || (doc_id % 7) END AS og_description,
               CASE WHEN doc_id % 6 = 0
                    THEN 'https://img.example/i/' || (doc_id % 9) || '.jpg' END AS og_image,
               CASE doc_id % 5 WHEN 0 THEN 'utf-8'
                               WHEN 1 THEN 'iso-8859-1'
                               WHEN 2 THEN 'windows-1252'
                               WHEN 3 THEN 'x-unknown-enc' END AS body_charset,
               -- decode_payload fixture classes: U+FFFD replacement,
               -- latin-1 e-acute, cp1252 curly quotes, fallback, BOM strip
               CASE doc_id % 5
                 WHEN 0 THEN 'u' || doc_id || chr(65533) || 'tail'
                 WHEN 1 THEN 'l' || chr(233) || doc_id
                 WHEN 2 THEN chr(8220) || 'q' || doc_id || chr(8221)
                 WHEN 3 THEN 'p' || doc_id
                 ELSE 'b' || doc_id END AS decoded_text
        FROM documents
        """,
        "frontier_blocklist": """
        WITH c AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 4 = 0
                      THEN 'sub' || (doc_id % 13) || '.h7.example.net'
                      ELSE 'h' || (doc_id % 13) || '.example.net' END AS host
          FROM documents),
        m AS (
          SELECT doc_id, host,
                 (host = 'h3.example.net' OR host LIKE '%.h3.example.net'
                  OR host = 'h7.example.net' OR host LIKE '%.h7.example.net')
                 AS in_domains
          FROM c)
        SELECT 'block_kept' AS dim, doc_id, host FROM m WHERE NOT in_domains
        UNION ALL
        SELECT 'scope_kept' AS dim, doc_id, host FROM m WHERE in_domains
        """,
        "a_sessionize": """
        WITH o AS (
          SELECT user_id, ts, event_id, value,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          FROM events
        ), f AS (
          SELECT user_id, ts, event_id, value,
                 CASE WHEN prev IS NULL
                        OR epoch_us(ts) - epoch_us(prev) > 1800 * 1000000
                      THEN 1 ELSE 0 END AS new_sess
          FROM o
        ), s AS (
          SELECT user_id, ts, value,
                 sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_idx
          FROM f
        )
        SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
               count(*) AS n_events,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
               strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM s GROUP BY user_id, session_idx
        """,
        "a_pages_reports": """
        WITH p AS (SELECT doc_id, doc_id % 50 AS k, text FROM documents),
        w AS (SELECT k, max(doc_id) AS doc_id, count(*) AS n_snapshots
              FROM p GROUP BY k)
        SELECT 'url_latest' AS part,
               'http://site' || (w.k % 7) || '.example/p/' || w.k AS key,
               CAST(w.n_snapshots AS BIGINT) AS n_a,
               CAST(NULL AS BIGINT) AS n_b,
               CAST(NULL AS BIGINT) AS n_c,
               strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(w.doc_id),
                        '%Y-%m-%d %H:%M:%S') AS ts_a,
               CAST(NULL AS VARCHAR) AS ts_b,
               md5(p.text) AS text_md5
        FROM w JOIN p ON p.doc_id = w.doc_id
        UNION ALL
        SELECT 'host_report' AS part,
               'h' || (doc_id % 13) || '.example.net' AS key,
               count(*) AS n_a,
               CAST(sum(length(text)) AS BIGINT) AS n_b,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_c,
               strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(min(doc_id)),
                        '%Y-%m-%d %H:%M:%S') AS ts_a,
               strftime(TIMESTAMP '2024-01-01 00:00:00' + to_seconds(max(doc_id)),
                        '%Y-%m-%d %H:%M:%S') AS ts_b,
               CAST(NULL AS VARCHAR) AS text_md5
        FROM documents GROUP BY 1, 2
        """
        + _host_rank_union(10)
        + _components_union(6)
        + _REVISIT_UNION
        + _TRAPS_UNION
        + _MIRRORS_UNION
        + _REVALIDATE_UNION
        + _HOST_DEGREE_UNION
        + _REG_DOMAIN_UNION,
    }


_J2_ORACLE = """
WITH e AS (
  SELECT event_type AS wt, CAST(user_id AS VARCHAR) AS uri, event_id,
         CAST(CAST(floor(value / 10) AS BIGINT) AS VARCHAR) AS f0,
         CAST(CAST(floor(value) AS BIGINT) AS VARCHAR) AS f1,
         event_id % 2 AS arch
  FROM events
), l AS (
  SELECT wt, uri, f0, f1,
         row_number() OVER (PARTITION BY wt, uri ORDER BY event_id) AS seq,
         count(*) OVER (PARTITION BY wt, uri) AS n
  FROM e WHERE arch = 0
), r AS (
  SELECT wt, uri, f0, f1,
         row_number() OVER (PARTITION BY wt, uri ORDER BY event_id) AS seq,
         count(*) OVER (PARTITION BY wt, uri) AS n
  FROM e WHERE arch = 1
), j AS (
  SELECT coalesce(l.wt, r.wt) AS warc_type,
         coalesce(l.uri, r.uri) AS target_uri,
         coalesce(l.seq, r.seq) AS seq,
         CASE WHEN l.wt IS NOT NULL AND r.wt IS NOT NULL THEN 'both'
              WHEN l.wt IS NOT NULL THEN 'left' ELSE 'right' END AS side,
         CASE WHEN l.wt IS NOT NULL AND r.wt IS NOT NULL AND l.f0 = r.f0 AND l.f1 = r.f1 THEN 'matching'
              WHEN l.wt IS NOT NULL AND r.wt IS NOT NULL AND l.f0 = r.f0 THEN 'near_matching'
              ELSE 'unique' END AS fs,
         l.n AS ln, r.n AS rn
  FROM l FULL OUTER JOIN r ON l.wt = r.wt AND l.uri = r.uri AND l.seq = r.seq
), classified AS (
  SELECT warc_type, target_uri, seq, side,
         CASE WHEN max(ln) OVER (PARTITION BY warc_type, target_uri) IS NULL
                OR max(rn) OVER (PARTITION BY warc_type, target_uri) IS NULL THEN 'unique'
              WHEN max(ln) OVER (PARTITION BY warc_type, target_uri)
                <> max(rn) OVER (PARTITION BY warc_type, target_uri) THEN 'skipped'
              ELSE fs END AS status
  FROM j
)
"""
