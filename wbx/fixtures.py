"""Deterministic derived fixtures: WARC archives built from the documents
test table ON THE EXECUTORS (no external data, no randomness).

Used by __spark_entry__ (oracle-checked roundtrip queries), bench.py
(throughput corpus), and tests. The byte format is pinned: gzip mtime=0,
level 6, fixed header field order — so extracted text is byte-identical to
the source `text` column (the BASELINE.json input_hint invariant).
"""

from __future__ import annotations

import gzip as _gzip

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def warc_record_bytes(
    doc_id: int, text: str, gzip_body: bool = True, encoding: str | None = None
) -> bytes:
    body = text.encode("utf-8")
    enc_name = encoding if encoding is not None else ("gzip" if gzip_body else None)
    if enc_name == "gzip":
        body = _gzip.compress(body, 6, mtime=0)
        enc = b"Content-Encoding: gzip\r\n"
    elif enc_name == "br":
        from wbx.codecs import brotli_compress

        body = brotli_compress(body)
        enc = b"Content-Encoding: br\r\n"
    elif enc_name == "zstd":
        from wbx.codecs import zstd_compress

        body = zstd_compress(body)
        enc = b"Content-Encoding: zstd\r\n"
    else:
        enc = b""
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" + enc + b"\r\n" + body
    header = (
        "WARC/1.1\r\n"
        "WARC-Type: response\r\n"
        f"WARC-Target-URI: https://docs.example/{doc_id}\r\n"
        "Content-Type: application/http;msgtype=response\r\n"
        f"Content-Length: {len(http)}\r\n"
    ).encode("ascii")
    return header + b"\r\n" + http


def synth_warc_files(
    docs: DataFrame,
    n_files: int = 8,
    gzip_body: bool = True,
    prefix: str = "synth",
    junk_every: int | None = None,
) -> DataFrame:
    """documents(doc_id, text) → (source_file, content) WARC archives,
    one response record per document, grouped deterministically by
    doc_id % n_files and sorted by doc_id within each file.

    junk_every=N plants a non-WARC line ``JUNK <doc_id>\\r\\n`` after the
    record of every doc_id divisible by N — malformed input is first-class
    in the reference (UnparsableLine side-channel), so fixtures can produce
    it deterministically.

    gzip_body="mixed" rotates the HTTP Content-Encoding through
    gzip/br/zstd by doc_id%3 (full codec parity via wbx.codecs)."""

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id")
        parts = []
        for _, r in pdf.iterrows():
            doc_id = int(r["doc_id"])
            if gzip_body == "mixed":
                enc = ["gzip", "br", "zstd"][doc_id % 3]
                parts.append(
                    warc_record_bytes(doc_id, str(r["text"]), encoding=enc)
                )
            else:
                parts.append(warc_record_bytes(doc_id, str(r["text"]), gzip_body))
            parts.append(b"\r\n\r\n")
            if junk_every and doc_id % junk_every == 0:
                parts.append(f"JUNK {doc_id}\r\n".encode("ascii"))
        data = b"".join(parts)
        grp = int(pdf["grp"].iloc[0])
        return pd.DataFrame(
            {"source_file": [f"{prefix}-{grp}.warc"], "content": [data]}
        )

    return (
        docs.select("doc_id", "text")
        .withColumn("grp", F.pmod("doc_id", F.lit(n_files)))
        .groupBy("grp")
        .applyInPandas(build, schema="source_file string, content binary")
    )


_RICH_CTS = ["text/html", "application/json", "text/plain"]


def rich_record_bytes(doc_id: int | None = None, text: str | None = None, kind: str = "response") -> bytes:
    """One record of the 'rich' corpus (no terminator). Deterministic
    arithmetic encodings so every filter has a closed-form oracle:
    - WARC header X-Doc-Parity: even/odd by doc_id%2 (F1 regex target)
    - request verb: PUT when doc_id%4==0 else GET (F5)
    - response HTTP Content-Type by doc_id%3 (F8/A4)
    - response HTTP header X-Resp-Seq: s<doc_id%5> (F7)
    - one warcinfo record per file (F10 escape hatch)."""
    if kind == "warcinfo":
        body = b"software: wbx\r\n"
        header = (
            "WARC/1.1\r\nWARC-Type: warcinfo\r\n"
            "Content-Type: application/warc-fields\r\n"
            f"Content-Length: {len(body)}\r\n"
        ).encode()
        return header + b"\r\n" + body
    parity = "even" if doc_id % 2 == 0 else "odd"
    if kind == "request":
        verb = "PUT" if doc_id % 4 == 0 else "GET"
        http = f"{verb} /{doc_id} HTTP/1.1\r\nHost: docs.example\r\n\r\n".encode()
    else:
        ct = _RICH_CTS[doc_id % 3]
        http = (
            f"HTTP/1.1 200 OK\r\nContent-Type: {ct}\r\n"
            f"X-Resp-Seq: s{doc_id % 5}\r\n\r\n"
        ).encode() + str(text).encode("utf-8")
    header = (
        "WARC/1.1\r\n"
        f"WARC-Type: {kind}\r\n"
        f"WARC-Target-URI: https://docs.example/{doc_id}\r\n"
        f"X-Doc-Parity: {parity}\r\n"
        f"Content-Type: application/http;msgtype={kind}\r\n"
        f"Content-Length: {len(http)}\r\n"
    ).encode()
    return header + b"\r\n" + http


def synth_warc_files_rich(docs: DataFrame, n_files: int = 8) -> DataFrame:
    """documents → mixed-container rich corpus: per file one warcinfo record
    then (request, response) per document; files grp >= n_files/2 are
    record-per-member .warc.gz (member columns populated → F9 is selective
    by doc_id%n_files arithmetic), the rest plain .warc."""
    from wbx.warcio import write_warc, write_warc_gz

    def build(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("doc_id")
        grp = int(pdf["grp"].iloc[0])
        recs = [rich_record_bytes(kind="warcinfo")]
        for _, r in pdf.iterrows():
            d = int(r["doc_id"])
            recs.append(rich_record_bytes(d, r["text"], "request"))
            recs.append(rich_record_bytes(d, r["text"], "response"))
        if grp >= n_files // 2:
            name, data = f"rich-{grp}.warc.gz", write_warc_gz(recs)
        else:
            name, data = f"rich-{grp}.warc", write_warc(recs)
        return pd.DataFrame({"source_file": [name], "content": [data]})

    return (
        docs.select("doc_id", "text")
        .withColumn("grp", F.pmod("doc_id", F.lit(n_files)))
        .groupBy("grp")
        .applyInPandas(build, schema="source_file string, content binary")
    )


def wacz_bytes(archive: bytes, archive_name: str = "archive/data.warc.gz") -> bytes:
    """Wrap WARC(.gz) bytes in a minimal deterministic WACZ zip: a
    datapackage.json resource entry pointing at the archive (the layout
    open_wacz resolves, mirroring reference utils.py:307-369). Fixed
    ZipInfo timestamps keep the bytes reproducible."""
    import io
    import json
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        pkg = {
            "profile": "data-package",
            "resources": [{"name": "archive", "path": archive_name}],
        }
        for name, payload in (
            ("datapackage.json", json.dumps(pkg).encode("ascii")),
            (archive_name, archive),
        ):
            zi = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            zf.writestr(zi, payload)
    return buf.getvalue()
