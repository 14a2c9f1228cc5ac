"""The benchmark's workloads.

Each workload lands its inputs from a seed (``land``), runs one timed
operation through wbx's public API (``op``), checks the operation's outputs
(``check``), and names the wbx functions a traced op wraps (``hooks``).
wbx receives only the generated tables.

- frontier_round: one ``crawl_round`` over raw candidate URLs (a tenth on
  one hot host) against a seen set, with robots rules and a per-host budget:
  canonicalize, the plain seen anti-join and dedup, robots, politeness and
  the global rank, with no checkpoint or WARC work.
- archive_query: two rich archives (request/response pairs, half of the
  files ``.warc.gz``, gzip/br/zstd bodies) through the fused text scan and
  the warcbench query surface: column-projected record scan, summarize,
  match_pairs, compare_headers and the CDX index.
"""

from __future__ import annotations

import contextlib
import gzip
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from perfbench.trace import Hook

FRONTIER_CANDIDATES = 400_000
FRONTIER_HOSTS = 2000
FRONTIER_PATHS = 2000  # path ids per host: candidates repeat, so dedup has work
FRONTIER_BUDGET = 500
HOT_HOST = 7  # gets a tenth of all candidates, so its budget binds
ARCHIVE_DOCS = 2000
ARCHIVE_FILES = 8

ROBOT_COLS = ("host", "rule_type", "path_prefix")
# the hot host denies /p/19* but allows /p/199*: a twentieth of its paths,
# so its budget still binds
DENIED, ALLOWED = "19", "199"
ROBOTS = [
    ("host3.example.com", "deny", "/"),
    (f"host{HOT_HOST}.example.com", "deny", f"/p/{DENIED}"),
    (f"host{HOT_HOST}.example.com", "allow", f"/p/{ALLOWED}"),
]
BATCH_COLS = ["canon_url", "url_hash", "host", "priority", "fetch_order"]
# raw spellings of http://host<h>.example.com/p/<k>, all with that canonical form
SPELLINGS = [
    "http://host{h}.example.com/p/{k}",
    "HTTP://Host{h}.Example.COM:80/p/{k}#top",
    "http://host{h}.example.com:80/p/{k}",
    " http://HOST{h}.example.com/p/{k}#x ",
]


def fingerprint(df: DataFrame, cols: list[str]) -> tuple:
    """Order-independent content fingerprint: (rows, xor of row hashes, sum)."""
    h = F.xxhash64(*[F.col(c) for c in cols])
    row = df.agg(
        F.count("*").alias("n"),
        F.bit_xor(h).alias("x"),
        F.sum(F.pmod(h, F.lit(1_000_003))).alias("s"),
    ).first()
    return (row["n"], row["x"], row["s"])


_STOP = ["the", "be", "to", "of", "and", "that", "have", "with", "a", "in", "is", "for"]
_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "pe", "da", "fu"]
_VOCAB = np.array([a + b for a in _SYL for b in _SYL] + [a + b + c for a in _SYL for b in _SYL[:6] for c in _SYL[:6]])


def make_texts(rng: np.random.Generator, n: int, sentences: int) -> list[str]:
    """``n`` documents of ``sentences`` lines, each a 9-word sentence with
    about 30% stop words."""
    words = _VOCAB[rng.integers(0, len(_VOCAB), (n, sentences, 9))]
    stop = rng.random(words.shape) < 0.3
    words[stop] = np.array(_STOP)[rng.integers(0, len(_STOP), int(stop.sum()))]
    return ["\n".join(" ".join(s).capitalize() + "." for s in doc) for doc in words]


class Workload:
    name = ""
    item = ""
    # untimed ops before the timed ones; ops keep getting faster for a few
    # runs after the first, as Spark compiles and the JIT warms
    warm_ups = 2

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.reference = None
        self.inputs = ""
        self.tracer = None  # set by the runner around a traced op

    def span(self, name: str):
        """A span around the op's own work on a layer's output, when traced."""
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def land(self, rep: int) -> None:
        """Generate this seed's inputs into a fresh directory for ``rep``."""
        self.inputs = self.path(f"inputs-{rep}")
        shutil.rmtree(self.inputs, ignore_errors=True)
        self._digest = hashlib.sha256()
        self._land()

    def _land(self) -> None:
        raise NotImplementedError

    def write_table(self, name: str, **columns) -> None:
        """One parquet file under input directory ``name`` (Spark reads it
        as a table); its content goes into the input fingerprint."""
        table = pa.table(columns)
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as w:
            w.write_table(table)
        self._digest.update(sink.getvalue())
        os.makedirs(self.path(self.inputs, name))
        pq.write_table(table, self.path(self.inputs, name, "part-0.parquet"))

    def input_fingerprint(self) -> str:
        """Digest of the landed inputs."""
        return self._digest.hexdigest()

    def op(self) -> dict:
        """One timed operation; returns what ``check`` needs (``fp``) and
        ``items``, the work done counted in the workload's ``item``."""
        raise NotImplementedError

    def warm_up(self) -> dict:
        """The untimed first op, whose output becomes the reference."""
        return self.op()

    def check(self, out: dict, full: bool) -> list[str]:
        """Problems with one op's output (empty = correct). ``full`` runs the
        structural checks and records the output as the reference; otherwise
        the output must match the reference."""
        if full:
            problems = self.full_check(out)
            self.reference = out["fp"]
            return problems
        if out["fp"] != self.reference:
            return [f"output fingerprint {out['fp']} != reference {self.reference}"]
        return []

    def full_check(self, out: dict) -> list[str]:
        raise NotImplementedError

    def hooks(self) -> list[Hook]:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# frontier_round
# ---------------------------------------------------------------------------


class FrontierRound(Workload):
    name = "frontier_round"
    item = "candidate URL"
    warm_ups = 3

    def _land(self) -> None:
        """FRONTIER_CANDIDATES raw candidate URLs (a tenth on the hot host,
        in four spellings of one canonical form) and a seen set holding half
        of their canonical URLs plus as many URLs no candidate has."""
        rng = np.random.default_rng(self.seed)
        n = FRONTIER_CANDIDATES
        hosts = np.where(rng.random(n) < 0.1, HOT_HOST, rng.integers(0, FRONTIER_HOSTS, n))
        paths = rng.integers(0, FRONTIER_PATHS, n)
        spelling = rng.integers(0, len(SPELLINGS), n)
        self.write_table(
            "candidates",
            url=[SPELLINGS[v].format(h=h, k=k) for v, h, k in zip(spelling.tolist(), hosts.tolist(), paths.tolist())],
            priority=rng.integers(0, 1000, n) / 10.0,
        )
        keys = np.unique(hosts * FRONTIER_PATHS + paths)
        seen = rng.choice(keys, len(keys) // 2, replace=False)
        # plus URLs outside the candidates' path range
        other = FRONTIER_PATHS + rng.integers(0, FRONTIER_PATHS, len(seen))
        seen_urls = [f"http://host{k // FRONTIER_PATHS}.example.com/p/{k % FRONTIER_PATHS}" for k in seen.tolist()]
        seen_urls += [f"http://host{h}.example.com/p/{k}" for h, k in zip((seen // FRONTIER_PATHS).tolist(), other.tolist())]
        self.write_table("seen_urls", canon_url=seen_urls)
        # the seen set as the frontier keeps it: (url_hash, canon_url)
        from wbx.frontier import url_hash

        self.spark.read.parquet(self.path(self.inputs, "seen_urls")).select(
            url_hash(F.col("canon_url")).alias("url_hash"), "canon_url"
        ).write.parquet(self.path(self.inputs, "seen"))
        self.write_table(
            "hosts",
            host=[f"host{i}.example.com" for i in range(FRONTIER_HOSTS)],
            budget=pa.array([FRONTIER_BUDGET] * FRONTIER_HOSTS, pa.int32()),
        )
        self.write_table("robots", **dict(zip(ROBOT_COLS, zip(*ROBOTS))))
        # the batch in closed form: every unseen URL of a host, up to its
        # budget, less host 3 and the hot host's denied paths
        unseen = np.setdiff1d(keys, seen)
        host, path = unseen // FRONTIER_PATHS, (unseen % FRONTIER_PATHS).astype(str)
        denied = (host == 3) | (
            (host == HOT_HOST) & np.char.startswith(path, DENIED) & ~np.char.startswith(path, ALLOWED)
        )
        self.expect = {"scheduled": int(np.minimum(np.bincount(host[~denied]), FRONTIER_BUDGET).sum())}

    def _batch(self) -> DataFrame:
        from wbx.frontier import crawl_round

        t = {n: self.spark.read.parquet(self.path(self.inputs, n)) for n in ("candidates", "seen", "hosts", "robots")}
        return crawl_round(t["candidates"], t["seen"], t["hosts"], t["robots"], default_budget=FRONTIER_BUDGET)

    def op(self) -> dict:
        return {"items": FRONTIER_CANDIDATES, "fp": fingerprint(self._batch(), BATCH_COLS)}

    def warm_up(self) -> dict:
        """The first op, on a kept batch the structural checks then read."""
        self.batch = self._batch().persist()
        return {"items": FRONTIER_CANDIDATES, "fp": fingerprint(self.batch, BATCH_COLS)}

    def full_check(self, out: dict) -> list[str]:
        batch, problems = self.batch, []
        if out["fp"][0] != self.expect["scheduled"]:
            problems.append(f"{out['fp'][0]} URLs scheduled, closed form {self.expect['scheduled']}")
        seen = self.spark.read.parquet(self.path(self.inputs, "seen"))
        if batch.join(seen, "canon_url", "left_semi").count():
            problems.append("a seen URL was scheduled")
        if batch.groupBy("host").count().filter(F.col("count") > FRONTIER_BUDGET).count():
            problems.append("a host is over its budget")
        hot = f"http://host{HOT_HOST}.example.com/p/"
        denied = (F.col("host") == "host3.example.com") | (
            F.col("canon_url").startswith(hot + DENIED) & ~F.col("canon_url").startswith(hot + ALLOWED)
        )
        if batch.filter(denied).count():
            problems.append("a robots-denied URL was scheduled")
        order = Window.orderBy(F.col("priority").desc(), F.col("canon_url"))
        if batch.withColumn("_rn", F.row_number().over(order)).filter(F.col("_rn") != F.col("fetch_order")).count():
            problems.append("fetch_order is not dense in (priority desc, canon_url) order")
        batch.unpersist()
        return problems

    def hooks(self) -> list[Hook]:
        from wbx import frontier

        return [
            Hook(frontier, "with_canon_url", "frontier.canonicalize"),
            # the seen anti-join and the dedup run inline between these two
            Hook(frontier, "with_url_host", "frontier.host", pre="frontier.membership"),
            Hook(frontier, "apply_robots", "frontier.robots"),
            Hook(frontier, "apply_politeness", "frontier.politeness"),
            Hook(frontier, "schedule_fetch_batch", "frontier.rank"),
            Hook(frontier, "crawl_round", "frontier.round"),
        ]


# ---------------------------------------------------------------------------
# archive_query
# ---------------------------------------------------------------------------

QUERY_COLUMNS = [
    "source_file", "member_start", "member_end", "record_start", "record_end", "headers", "warc_type",
    "target_uri", "warc_date", "content_type", "content_block", "http_status", "http_content_type",
]
CONTENT_TYPES = ["text/html", "application/json", "text/plain"]
ENCODINGS = ["gzip", "br", "zstd"]


def response_bytes(doc_id: int, text: str) -> bytes:
    """A response record shaped like ``wbx.fixtures.rich_record_bytes``'
    whose HTTP body is compressed, gzip/br/zstd by doc_id % 3."""
    from wbx.codecs import brotli_compress, zstd_compress

    raw = text.encode("utf-8")
    enc = ENCODINGS[doc_id % 3]
    if enc == "gzip":
        body = gzip.compress(raw, 6, mtime=0)
    else:
        body = brotli_compress(raw) if enc == "br" else zstd_compress(raw)
    http = (
        f"HTTP/1.1 200 OK\r\nContent-Type: {CONTENT_TYPES[doc_id % 3]}\r\n"
        f"Content-Encoding: {enc}\r\nX-Resp-Seq: s{doc_id % 5}\r\n\r\n"
    ).encode() + body
    header = (
        "WARC/1.1\r\nWARC-Type: response\r\n"
        f"WARC-Target-URI: https://docs.example/{doc_id}\r\n"
        f"X-Doc-Parity: {'odd' if doc_id % 2 else 'even'}\r\n"
        "Content-Type: application/http;msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n"
    ).encode()
    return header + b"\r\n" + http


class ArchiveQuery(Workload):
    name = "archive_query"
    item = "WARC record scanned"

    def _land(self) -> None:
        """Archive A: ARCHIVE_DOCS documents. Archive B: A with a seeded 5%
        of the documents dropped and another 5% with a sentence appended."""
        rng = np.random.default_rng(self.seed)
        n = ARCHIVE_DOCS
        texts = make_texts(rng, n, 8)
        fate = rng.random(n)
        dropped, changed = fate < 0.05, (fate >= 0.05) & (fate < 0.10)
        self.write_table("docs", doc_id=np.arange(n), text=texts)
        len_a = self.write_archives("a", dict(enumerate(texts)))
        b = {d: t + " Revised." if changed[d] else t for d, t in enumerate(texts) if not dropped[d]}
        len_b = self.write_archives("b", b)
        self.expect = {
            "docs": n,
            "dropped": int(dropped.sum()),
            # compare_headers compares Content-Length (and the payload
            # digest, absent here): a changed body is a near match only if
            # its compressed length changed
            "resized": sum(len_a[d] != len_b[d] for d in b if changed[d]),
        }

    def write_archives(self, name: str, docs: dict[int, str]) -> dict[int, int]:
        """The rich corpus of ``wbx.fixtures.synth_warc_files_rich``, built
        in this process and with compressed response bodies: per file one
        warcinfo record, then (request, response) per document in doc_id
        order; documents go to file doc_id % ARCHIVE_FILES and the upper half
        of the files are record-per-member ``.warc.gz``. Returns each
        response's length."""
        from wbx.fixtures import rich_record_bytes
        from wbx.warcio import write_warc, write_warc_gz

        names, contents, lengths = [], [], {}
        for grp in range(ARCHIVE_FILES):
            recs = [rich_record_bytes(kind="warcinfo")]
            for d in sorted(d for d in docs if d % ARCHIVE_FILES == grp):
                response = response_bytes(d, docs[d])
                lengths[d] = len(response)
                recs += [rich_record_bytes(d, docs[d], "request"), response]
            gz = grp >= ARCHIVE_FILES // 2
            names.append(f"rich-{grp}.warc.gz" if gz else f"rich-{grp}.warc")
            contents.append(write_warc_gz(recs, compresslevel=6) if gz else write_warc(recs))
        self.write_table(name, source_file=names, content=pa.array(contents, pa.binary()))
        return lengths

    def op(self) -> dict:
        from wbx.analytics import cdx_index, compare_headers, match_pairs, summarize
        from wbx.warcio import scan_files_to_records, scan_files_to_text

        files = {n: self.spark.read.parquet(self.path(self.inputs, n)) for n in ("a", "b")}
        out: dict = {}
        with self.span("warcio.scan_text"):
            pages = scan_files_to_text(files["a"]).filter(F.col("warc_type") == "response")
            out["text"] = fingerprint(
                pages.select(F.substring_index(F.col("target_uri"), "/", -1).cast("long").alias("doc_id"), "text"),
                ["doc_id", "text"],
            )
        # every query reads the scanned records, so they are cached once
        recs = {n: scan_files_to_records(f, columns=QUERY_COLUMNS).persist() for n, f in files.items()}
        with self.span("analytics.summarize"):
            summary = summarize(recs["a"])
            out["a.types"] = sorted(map(tuple, summary["record_types"].collect()))
            out["a.domains"] = sorted(map(tuple, summary["domains"].collect()))
            out["b.records"] = summarize(recs["b"])["record_count"].first()[0]
        with self.span("analytics.match_pairs"):
            out["a.pairs"] = sorted(map(tuple, match_pairs(recs["a"]).groupBy("pair_type").count().collect()))
        with self.span("analytics.compare_headers"):
            out["compare"] = sorted(
                map(tuple, compare_headers(recs["a"], recs["b"]).groupBy("status").count().collect())
            )
        with self.span("analytics.cdx"):
            cdx_index(recs["a"]).write.mode("overwrite").parquet(self.path("cdx"))
            out["cdx"] = self.spark.read.parquet(self.path("cdx")).count()
        for r in recs.values():
            r.unpersist()
        # A is scanned twice: for its text, then for its records
        return {"items": 2 * sum(n for _, n in out["a.types"]) + out["b.records"], "fp": out}

    def full_check(self, out: dict) -> list[str]:
        e = self.expect
        n, d, r, f = e["docs"], e["dropped"], e["resized"], ARCHIVE_FILES
        got = out["fp"]
        want = {
            # extracted text is byte-identical to the source text
            "text": fingerprint(self.spark.read.parquet(self.path(self.inputs, "docs")), ["doc_id", "text"]),
            "a.types": sorted([("request", n), ("response", n), ("warcinfo", f)]),
            "a.domains": [("docs.example", 2 * n)],
            "a.pairs": [("pair", n)],
            "b.records": 2 * (n - d) + f,
            "compare": sorted([("matching", 2 * (n - d) - r), ("near_matching", r), ("unique", 2 * d)]),
            "cdx": n,
        }
        return [f"{k}: got {got.get(k)}, closed form {v}" for k, v in want.items() if got.get(k) != v]

    def hooks(self) -> list[Hook]:
        from wbx import analytics, frontier, warcio

        return [
            Hook(warcio, "scan_files_to_text", "warcio.scan_text"),
            Hook(warcio, "scan_files_to_records", "warcio.scan_records"),
            Hook(analytics, "summarize", "analytics.summarize"),
            Hook(analytics, "match_pairs", "analytics.match_pairs"),
            Hook(analytics, "compare_headers", "analytics.compare_headers"),
            Hook(analytics, "cdx_index", "analytics.cdx"),
            Hook(frontier, "with_canon_url", "frontier.canonicalize"),
        ]


WORKLOADS = {w.name: w for w in (FrontierRound, ArchiveQuery)}
