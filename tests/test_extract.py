"""Byte-identity tests for the extraction kernel.

Golden values generated by running the reference implementation
(warcbench models.py:153-170 / utils.py:528-584, with brotli/zstd stubbed)
against the same inputs — see SURVEY.md §5. The reference is NOT a test-time
dependency; expectations are hard-coded.
"""

from __future__ import annotations

import gzip
import zlib

import pytest

import wbx.extract as ex

H_HTTP = (
    b"WARC/1.1\r\nWARC-Type: response\r\n"
    b"Content-Type: application/http; msgtype=response\r\nContent-Length: 100\r\n"
)
H_NONHTTP = b"WARC/1.1\r\nWARC-Type: warcinfo\r\nContent-Type: application/warc-fields\r\n"
BODY = b"hello world \xc3\xa9 \xff raw"


def _deflate(data: bytes) -> bytes:
    co = zlib.compressobj(wbits=-15)
    return co.compress(data) + co.flush()


def _chunkify(data: bytes, sizes=(5, 7, 1000)) -> bytes:
    out = b""
    i = 0
    for s in sizes:
        chunk = data[i : i + s]
        i += s
        if not chunk:
            break
        out += f"{len(chunk):x}".encode() + b"\r\n" + chunk + b"\r\n"
    return out + b"0\r\n\r\n"


class TestDecompressedHttpBody:
    def test_identity(self):
        cb = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + BODY
        assert ex.decompressed_http_body(cb, H_HTTP) == BODY

    def test_gzip(self):
        cb = b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n" + gzip.compress(BODY)
        assert ex.decompressed_http_body(cb, H_HTTP) == BODY

    def test_deflate(self):
        cb = b"HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n" + _deflate(BODY)
        assert ex.decompressed_http_body(cb, H_HTTP) == BODY

    def test_double_gzip_right_to_left(self):
        cb = b"HTTP/1.1 200\r\nContent-Encoding: gzip gzip\r\n\r\n" + gzip.compress(
            gzip.compress(BODY)
        )
        assert ex.decompressed_http_body(cb, H_HTTP) == BODY

    def test_comma_separated_encodings_raise(self):
        # reference splits on single space → token "gzip," is unrecognized
        cb = b"HTTP/1.1 200\r\nContent-Encoding: gzip, br\r\n\r\n" + gzip.compress(BODY)
        with pytest.raises(ex.DecodingError):
            ex.decompressed_http_body(cb, H_HTTP)

    def test_unknown_encoding_raises(self):
        cb = b"HTTP/1.1 200\r\nContent-Encoding: frob\r\n\r\n" + BODY
        with pytest.raises(ex.DecodingError):
            ex.decompressed_http_body(cb, H_HTTP)

    def test_empty_encoding_value_swallows_next_line(self):
        # `\s*` greedily eats the CRLF, so group(1) captures the NEXT header
        # line, which splits into unrecognized tokens → raises (ref parity)
        cb = b"HTTP/1.1 200\r\nContent-Encoding: \r\nX-Next: foo\r\n\r\n" + BODY
        with pytest.raises(ex.DecodingError):
            ex.decompressed_http_body(cb, H_HTTP)

    def test_encoding_value_is_case_sensitive(self):
        cb = b"HTTP/1.1 200\r\ncontent-encoding: GZIP\r\n\r\n" + gzip.compress(BODY)
        with pytest.raises(ex.DecodingError):
            ex.decompressed_http_body(cb, H_HTTP)

    def test_chunked_without_encodings_returns_raw(self):
        # dechunk happens ONLY for zstd+chunked; otherwise raw body returned
        raw = _chunkify(BODY)
        cb = b"HTTP/1.1 200\r\nTransfer-Encoding: chunked\r\n\r\n" + raw
        assert ex.decompressed_http_body(cb, H_HTTP) == raw

    def test_chunked_gzip_fails_like_reference(self):
        cb = (
            b"HTTP/1.1 200\r\nContent-Encoding: gzip\r\nTransfer-Encoding: chunked\r\n\r\n"
            + _chunkify(gzip.compress(BODY))
        )
        with pytest.raises(zlib.error):
            ex.decompressed_http_body(cb, H_HTTP)

    def test_non_http_content_type_returns_none(self):
        cb = b"HTTP/1.1 200 OK\r\n\r\n" + BODY
        assert ex.decompressed_http_body(cb, H_NONHTTP) is None

    def test_no_blank_line_returns_none(self):
        assert ex.decompressed_http_body(b"HTTP/1.1 200 OK only header", H_HTTP) is None

    def test_leading_crlfcrlf_returns_none(self):
        # find()==0 is falsy in the reference guard
        assert ex.decompressed_http_body(b"\r\n\r\n" + BODY, H_HTTP) is None

    def test_empty_body_returns_none(self):
        assert ex.decompressed_http_body(b"HTTP/1.1 204\r\n\r\n", H_HTTP) is None

    def test_missing_warc_content_type_returns_none(self):
        assert ex.decompressed_http_body(BODY, b"WARC/1.1\r\nWARC-Type: response\r\n") is None

    def test_truncated_gzip_raises_zlib_error(self):
        cb = b"HTTP/1.1 200\r\nContent-Encoding: gzip\r\n\r\n" + gzip.compress(BODY)[:10]
        with pytest.raises(zlib.error):
            ex.decompressed_http_body(cb, H_HTTP)

    def test_extracted_text_utf8_replace(self):
        cb = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + BODY
        assert ex.extracted_text(cb, H_HTTP) == "hello world é � raw"


class TestHeaderParsing:
    def test_multi_value_and_quirks(self):
        h = (
            b"WARC/1.1\r\nWARC-Type: response\r\nWARC-Concurrent-To: a\r\n"
            b"WARC-Concurrent-To: b\r\nNoColonLine\r\nEmpty:\r\nSpaced:   v  \r\n"
        )
        fields = ex.parse_header_fields(h)
        assert fields[b"WARC-Concurrent-To"] == [b"a", b"b"]
        assert fields[b"NoColonLine"] == [None]  # colon-less line → None value
        assert fields[b"Empty"] == [b""]  # empty value stays b"" (not None)
        assert fields[b"Spaced"] == [b"v"]  # values ASCII-stripped
        assert fields[b"WARC/1.1"] == [None]  # version line parses as a field

        decoded = ex.decode_header_fields(fields)
        assert decoded["Empty"] == [None]  # decode=True maps falsy → None
        assert decoded["WARC-Concurrent-To"] == ["a", "b"]

    def test_empty_header(self):
        assert ex.parse_header_fields(b"") == {}

    def test_get_field_first_value(self):
        fields = ex.parse_header_fields(b"A: 1\r\nA: 2\r\n")
        assert ex.get_field(fields, "A") == b"1"
        assert ex.get_field(fields, "A", first=False) == [b"1", b"2"]
        assert ex.get_field(fields, "Z", fallback=b"fb") == b"fb"


class TestSparkUdfs:
    def test_extract_text_udf(self, spark):
        from pyspark.sql import functions as F

        rows = [
            (1, b"HTTP/1.1 200 OK\r\n\r\n" + BODY, H_HTTP),
            (2, b"HTTP/1.1 200\r\nContent-Encoding: gzip\r\n\r\n" + gzip.compress(BODY), H_HTTP),
            (3, b"HTTP/1.1 200 OK\r\n\r\n" + BODY, H_NONHTTP),
            (4, None, H_HTTP),
        ]
        df = spark.createDataFrame(rows, "id long, content_block binary, header binary")
        out = {
            r["id"]: r["text"]
            for r in df.select(
                "id",
                ex.extract_text_udf(F.col("content_block"), F.col("header")).alias("text"),
            ).collect()
        }
        expected = "hello world é � raw"
        assert out == {1: expected, 2: expected, 3: None, 4: None}

    def test_parse_headers_udf(self, spark):
        from pyspark.sql import functions as F

        h = b"WARC/1.1\r\nWARC-Type: response\r\nA: 1\r\nA: 2\r\nEmpty:\r\n"
        df = spark.createDataFrame([(h,)], "header binary")
        m = df.select(ex.parse_headers_udf(F.col("header")).alias("m")).collect()[0]["m"]
        assert m["A"] == ["1", "2"]
        assert m["Empty"] == [None]
        assert m["WARC-Type"] == ["response"]


class TestHtmlToText:
    def test_strips_everything(self, spark):
        from wbx.extract import html_to_text
        from pyspark.sql import functions as F

        html = (
            "<html><head><title>T</title><style>body {margin:0}</style>"
            "<script>if (1 < 2) { alert('x'); }</script></head>"
            "<body><h1>Hello</h1><!-- secret --><p>a &amp; b &lt;tag&gt;"
            "&nbsp;c&#39;s &quot;q&quot;</p>\n\n  <div>end</div></body></html>"
        )
        got = (
            spark.createDataFrame([(html,)], "h string")
            .select(html_to_text(F.col("h")).alias("t"))
            .first()["t"]
        )
        assert got == "T Hello a & b <tag> c's \"q\" end"

    def test_numeric_and_uppercase_entities(self, spark):
        from wbx.extract import html_to_text
        from pyspark.sql import functions as F

        cases = [
            # decimal, hex (both cases), astral, zero-padded
            ("&#65;&#x42;&#X63;&#128512;&#065;", "ABc\U0001f600A"),
            # apostrophe via numeric (the old named-chain case)
            ("c&#39;s", "c's"),
            # uppercase legacy named forms
            ("&LT;tag&GT; &QUOT;q&QUOT; &AMP;", '<tag> "q" &'),
            # amp forms decode in ONE pass: no double decode either way
            ("&#38;lt; &amp;#38; x&#x26;y &amp;lt;", "&lt; &#38; x&y &lt;"),
            # invalid refs stay literal: zero, surrogate, out of range, junk
            ("&#0; &#xD800; &#1114112; &#zz; &#", "&#0; &#xD800; &#1114112; &#zz; &#"),
            # NBSP char from &#160; collapses to a space like &nbsp;
            ("a&#160;b&nbsp;c", "a b c"),
        ]
        rows = (
            spark.createDataFrame(cases, "h string, want string")
            .select(html_to_text(F.col("h")).alias("t"), "want")
            .collect()
        )
        for r in rows:
            assert r["t"] == r["want"], (r["t"], r["want"])

    def test_extract_main_text_rules(self, spark):
        from wbx.extract import extract_main_text
        from pyspark.sql import functions as F

        content = (
            "This is the real article content with plenty of characters "
            "to clear the minimum length threshold comfortably."
        )
        content2 = (
            "A second real paragraph that also has more than forty "
            "characters of plain prose in it."
        )
        html = (
            '<html><body><nav><a href="/">Home</a> <a href="/a">About</a> '
            '<a href="/c">Contact</a> <a href="/d">More</a></nav>'
            f"<p>{content}</p>"
            "<div>short</div>"
            f"<p>{content2} See <a href='/ref'>a small link</a> inline.</p>"
            '<footer><a href="/t">Terms of service</a> <a href="/p">'
            "Privacy policy statement</a> <a href='/i'>Imprint page here"
            "</a></footer></body></html>"
        )
        got = (
            spark.createDataFrame([(html,)], "h string")
            .select(extract_main_text(F.col("h")).alias("t"))
            .first()["t"]
        )
        # nav (all links) dropped, short block dropped, footer link farm
        # dropped; the small inline link doesn't push block 2 over 1/3
        assert got == (
            f"{content}\n{content2} See a small link inline."
        )

    def test_html_blocks_link_accounting(self, spark):
        from wbx.extract import html_blocks
        from pyspark.sql import functions as F

        html = '<p>intro <a href="/x">anchor text</a> outro</p>'
        b = (
            spark.createDataFrame([(html,)], "h string")
            .select(F.explode(html_blocks(F.col("h"))).alias("b"))
            .select("b.text", "b.total_chars", "b.link_chars")
            .filter(F.col("total_chars") > 0)
            .first()
        )
        assert b["text"] == "intro anchor text outro"
        assert b["total_chars"] == len("intro anchor text outro")
        assert b["link_chars"] == len("anchor text")

    def test_main_text_unclosed_anchor_counts_to_block_end(self, spark):
        from wbx.extract import html_blocks
        from pyspark.sql import functions as F

        html = "<p>text <a href='/x'>unclosed rest of block</p><p>next block clean</p>"
        rows = (
            spark.createDataFrame([(html,)], "h string")
            .select(F.explode(html_blocks(F.col("h"))).alias("b"))
            .select("b.text", "b.link_chars")
            .filter(F.length("text") > 0)
            .collect()
        )
        assert rows[0]["link_chars"] == len("unclosed rest of block")
        assert rows[1]["text"] == "next block clean"
        assert rows[1]["link_chars"] == 0  # stray close marker marks nothing

    def test_main_text_marker_entities_dropped(self, spark):
        """&#1;/&#2; references in page text must not decode into fake
        anchor markers (they are dropped by contract)."""
        from wbx.extract import html_blocks
        from pyspark.sql import functions as F

        html = "<p>a&#1;b &#x2; c" + "x" * 40 + "</p>"
        b = (
            spark.createDataFrame([(html,)], "h string")
            .select(F.explode(html_blocks(F.col("h"))).alias("b"))
            .select("b.text", "b.link_chars")
            .filter(F.length("text") > 0)
            .first()
        )
        assert b["link_chars"] == 0
        assert b["text"].startswith("ab c")

    def test_main_text_null_and_markers_stripped(self, spark):
        from wbx.extract import extract_main_text
        from pyspark.sql import functions as F

        rows = (
            spark.createDataFrame(
                [(None,), ("\x01sneaky\x02 " + "x" * 50,)], "h string"
            )
            .select(extract_main_text(F.col("h")).alias("t"))
            .collect()
        )
        assert rows[0]["t"] is None
        # pre-existing control bytes are data, not markers
        assert rows[1]["t"] == "sneaky " + "x" * 50

    def test_html_meta(self, spark):
        from wbx.extract import html_meta
        from pyspark.sql import functions as F

        cases = [
            (
                '<html lang="en-US"><head><meta charset="UTF-8">'
                "<title> My\n  Page </title></head></html>",
                "utf-8",
                "en-us",
                "My Page",
            ),
            (
                "<html LANG='de'><meta http-equiv=\"Content-Type\" "
                'content="text/html; charset=iso-8859-1"><title>t</title>',
                "iso-8859-1",
                "de",
                "t",
            ),
            ("<html><body>no meta</body></html>", None, None, None),
            ("<html><title></title></html>", None, None, None),
        ]
        meta = html_meta(F.col("h"))
        rows = (
            spark.createDataFrame(
                [(c[0],) for c in cases], "h string"
            )
            .select(*[v.alias(k) for k, v in meta.items()])
            .collect()
        )
        for r, (_, charset, lang, title) in zip(rows, cases):
            assert (r["charset"], r["lang_tag"], r["title"]) == (
                charset,
                lang,
                title,
            )

    def test_og_meta(self, spark):
        from wbx.extract import og_meta
        from pyspark.sql import functions as F

        cases = [
            (
                '<meta property="og:title" content="A  Very\n Good Page">'
                '<meta property="og:image" content="https://i.ex/a.jpg">',
                "A Very Good Page",
                None,
                "https://i.ex/a.jpg",
            ),
            (
                # content-first attribute order + unquoted property
                '<meta content="From CF" property=og:title>'
                "<meta content='Desc  here' property='og:description'>",
                "From CF",
                "Desc here",
                None,
            ),
            ("<meta property=\"og:titlex\" content=\"not og:title\">", None, None, None),
            ("<html>no og</html>", None, None, None),
            (
                # property-LAST unquoted tag followed by an unrelated og
                # tag: the prop-first pattern must not hop the '>' and
                # steal the next tag's content
                "<meta content='mine' property=og:title>"
                '<meta property="og:description" content="other">',
                "mine",
                "other",
                None,
            ),
        ]
        meta = og_meta(F.col("h"))
        rows = (
            spark.createDataFrame([(c[0],) for c in cases], "h string")
            .select(*[v.alias(k) for k, v in meta.items()])
            .collect()
        )
        for r, (_, t, d, i) in zip(rows, cases):
            assert (r["og_title"], r["og_description"], r["og_image"]) == (t, d, i)

    def test_og_meta_value_ends_at_its_own_quote(self, spark):
        """A property-first content value ends at the quote that opened
        it: an apostrophe inside double quotes (or a double quote inside
        single quotes) is part of the value."""
        from wbx.extract import og_meta
        from pyspark.sql import functions as F

        cases = [
            ('<meta property="og:title" content="John\'s Page">', "John's Page"),
            ("<meta property='og:title' content='Say \"hi\" now'>", 'Say "hi" now'),
            ("<meta property=og:title content=Plain>", "Plain"),
            (
                '<meta property="og:title" content="Ann\'s">'
                "<meta property='og:description' content='B'>",
                "Ann's",
            ),
        ]
        rows = (
            spark.createDataFrame([(c[0],) for c in cases], "h string")
            .select(og_meta(F.col("h"))["og_title"].alias("t"))
            .collect()
        )
        assert [r["t"] for r in rows] == [c[1] for c in cases]

    def test_null_and_plain(self, spark):
        from wbx.extract import html_to_text
        from pyspark.sql import functions as F

        rows = (
            spark.createDataFrame([(None,), ("just   text",)], "h string")
            .select(html_to_text(F.col("h")).alias("t"))
            .collect()
        )
        assert rows[0]["t"] is None
        assert rows[1]["t"] == "just text"


class TestDecodePayload:
    """Charset-aware decode: WHATWG-faithful on the big three encodings."""

    def _decode(self, spark, rows):
        from pyspark.sql import functions as F

        df = spark.createDataFrame(rows, "body binary, cs string")
        return [
            r["out"]
            for r in df.select(
                ex.decode_payload(F.col("body"), F.col("cs")).alias("out")
            ).collect()
        ]

    def test_cp1252_defined_range_matches_python_codec(self, spark):
        defined = bytes(
            c for c in range(0x80, 0xA0) if c not in (0x81, 0x8D, 0x8F, 0x90, 0x9D)
        )
        body = b"caf\xe9 " + defined
        (got,) = self._decode(spark, [(bytearray(body), "Windows-1252")])
        assert got == body.decode("cp1252")

    def test_cp1252_undefined_bytes_pass_as_c1(self, spark):
        (got,) = self._decode(spark, [(bytearray(b"\x81\x8d"), "cp1252")])
        assert got == "\x81\x8d"  # WHATWG mapping; Python strict would raise

    def test_latin1_and_ascii_labels(self, spark):
        out = self._decode(
            spark,
            [
                (bytearray(b"na\xefve"), "ISO-8859-1"),
                (bytearray(b"plain"), "us-ascii"),
                (bytearray(b"a\xe9b"), "latin-1"),
            ],
        )
        assert out == ["naïve", "plain", "aéb"]

    def test_unknown_and_null_fall_back_to_permissive_utf8(self, spark):
        out = self._decode(
            spark,
            [
                (bytearray("héllo".encode()), None),
                (bytearray(b"bad\xff\xfebytes"), "utf-16le-ish-garbage"),
                (bytearray("ok".encode()), "UTF-8"),
            ],
        )
        assert out[0] == "héllo"
        assert "�" in out[1] and out[1].startswith("bad")
        assert out[2] == "ok"

    def test_bom_stripped(self, spark):
        out = self._decode(
            spark, [(bytearray(b"\xef\xbb\xbfdoc"), "utf-8")]
        )
        assert out == ["doc"]

    def test_charset_from_content_type(self, spark):
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [
                ("text/html; charset=ISO-8859-1",),
                ('application/json;charset="utf-8"',),
                ("text/plain",),
                (None,),
            ],
            "ct string",
        )
        got = [
            r["cs"]
            for r in df.select(
                ex.charset_from_content_type(F.col("ct")).alias("cs")
            ).collect()
        ]
        assert got == ["iso-8859-1", "utf-8", None, None]
