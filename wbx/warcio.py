"""WARC / WARC.GZ scanning and writing.

Distributed rewrite of the reference's sequential parsers
(/root/reference/src/warcbench/parsers/warc.py, parsers/gzipped_warc.py,
patches.py — studied for behavior, not copied). The sequential state machine
becomes a two-stage Spark DAG:

  stage 1 (gz only): member index — find gzip member boundaries so a
          .warc.gz is splittable across tasks (the reference builds the same
          index up-front via a patched gzip reader; here it's a plain
          zlib.decompressobj loop over ``unused_data``);
  stage 2: record scan — one mapInArrow row kernel that carves file bytes
          (or one member group's ranged slice) into offset-addressed
          records, with the same two strategies as the reference
          (content_length: fast, header-driven seek; delimiter: line-walk,
          robust to broken Content-Length) and the same side-channels
          (unparsable lines, warnings, parse error).

Offset conventions match the reference exactly (verified empirically against
parsers/warc.py:325-508 on synthetic files):
- record = [header_start, content_end); trailing CRLFCRLF excluded
- header bytes INCLUDE the final header line's CRLF; the blank line is excluded
- content = [header_end + 2, content_end)
- a junk line between records = [line_start, after-newline)
- content-length strategy treats Content-Length: 0 as unparsable (`if not
  content_length` quirk) and case-insensitively regex-searches the whole
  header block (so e.g. "X-Content-Length" can match)
- delimiter strategy ends a record at a CRLF-only line that either follows
  another CRLF-only line with no further CRLF ahead, or follows a
  CRLF-terminated line with a WARC/1.x magic immediately after.

Divergence (documented): where the reference delimiter parser crashes when a
truncated last record can't be split (negative read), we emit a diagnostics
row instead — malformed input is first-class output, never an engine crash.
"""

from __future__ import annotations

import gzip as _gzip
import io
import re
import zipfile
import zlib
from dataclasses import dataclass, field
from typing import Iterator

from wbx.extract import (
    CONTENT_LENGTH_RE,
    CONTENT_TYPE_RE,
    CRLF,
    HTTP_STATUS_RE,
    HTTP_VERB_RE,
    decode_header_fields,
    parse_header_fields,
    warc_content_type_is_http,
)

WARC_MAGICS = (b"WARC/1.0\r\n", b"WARC/1.1\r\n")


@dataclass
class ScanResult:
    records: list[dict] = field(default_factory=list)
    unparsable: list[dict] = field(default_factory=list)
    warnings: list[str] = field(default_factory=list)
    error: str | None = None


def _at_magic(data: bytes, pos: int) -> bytes | None:
    for magic in WARC_MAGICS:
        if data.startswith(magic, pos):
            return magic
    return None


def _line_end(data: bytes, pos: int) -> int | None:
    """Offset just past the next \\n at/after pos, or None if no newline."""
    idx = data.find(b"\n", pos)
    return None if idx == -1 else idx + 1


def _header_block_end(data: bytes, pos: int) -> int | None:
    """Offset just past the CRLF-only line ending the header block."""
    cur = pos
    while True:
        end = _line_end(data, cur)
        if end is None:
            return None
        if data[cur:end] == CRLF:
            return end
        cur = end


# column-pruning groups: which output columns force which per-record work.
# Catalyst can't prune a projection through mapInArrow, so the scan kernels
# accept an explicit `wanted` set (None = everything) and skip building
# anything no requested column derives from — the Python-boundary analogue
# of a data source's column pruning.
_WARC_FIELD_COLS = frozenset({"headers", "warc_type", "target_uri", "warc_date"})
_HTTP_COLS = frozenset({"http_status", "http_verb", "http_content_type"})


def _first_decoded(fields: dict[bytes, list[bytes | None]], name: bytes) -> str | None:
    """decoded[name][0] without materializing the whole decoded map."""
    values = fields.get(name)
    if not values:
        return None
    v = values[0]
    return v.decode("utf-8", errors="replace") if v else None


def _emit_record(
    result: ScanResult,
    source: str,
    data: bytes,
    record_start: int,
    record_end: int,
    header_start: int,
    header_end: int,
    content_start: int,
    content_end: int,
    member: tuple[int, int, int, int] | None = None,
    check_content_length: bool = False,
    wanted: frozenset[str] | None = None,
    base: int = 0,
) -> None:
    """``base``: offset added to every EMITTED position (split scans pass the
    group's absolute uncompressed start so offsets are file coordinates);
    positions index into `data` locally."""
    need = (lambda _k: True) if wanted is None else wanted.__contains__
    header_bytes = data[header_start:header_end]
    rec: dict = {
        "source_file": source,
        "member_start": member[0] if member else None,
        "member_end": member[1] if member else None,
        "unc_start": member[2] if member else None,
        "unc_end": member[3] if member else None,
        "record_start": record_start + base,
        "record_end": record_end + base,
        "header_start": header_start + base,
        "header_end": header_end + base,
        "content_start": content_start + base,
        "content_end": content_end + base,
        "is_warc": True,
    }

    if wanted is None or (wanted & _WARC_FIELD_COLS):
        fields = parse_header_fields(header_bytes)
        if need("headers"):
            decoded = decode_header_fields(fields)
            rec["headers"] = decoded

            def first(name: str) -> str | None:
                values = decoded.get(name)
                return values[0] if values else None

            rec["warc_type"] = first("WARC-Type")
            rec["target_uri"] = first("WARC-Target-URI")
            rec["warc_date"] = first("WARC-Date")
        else:
            rec["warc_type"] = _first_decoded(fields, b"WARC-Type")
            rec["target_uri"] = _first_decoded(fields, b"WARC-Target-URI")
            rec["warc_date"] = _first_decoded(fields, b"WARC-Date")

    if need("warc_version"):
        magic = _at_magic(data, record_start)
        rec["warc_version"] = magic[:-2].decode("ascii") if magic else None

    content_length = None
    if need("content_length") or need("content_length_ok"):
        cl_match = CONTENT_LENGTH_RE.search(header_bytes)
        content_length = int(cl_match.group(1)) if cl_match else None
        rec["content_length"] = content_length
    if need("content_type"):
        ct_match = CONTENT_TYPE_RE.search(header_bytes)
        rec["content_type"] = (
            ct_match.group(1).decode("utf-8", errors="replace") if ct_match else None
        )

    if wanted is None or (wanted & _HTTP_COLS):
        http_status = http_verb = http_ct = None
        if warc_content_type_is_http(header_bytes):
            # split_http_message parity without slicing the whole content
            # block: find()==0 (content starts with CRLFCRLF) → no split
            # (the truthiness quirk); find()==-1 → header is the whole block.
            idx = data.find(CRLF * 2, content_start, content_end)
            http_header = (
                None
                if idx == content_start
                else data[content_start : (idx if idx != -1 else content_end)]
            )
            if http_header is not None:
                sm = HTTP_STATUS_RE.search(http_header)
                if sm:
                    http_status = int(sm.group(1))
                if need("http_verb"):
                    vm = HTTP_VERB_RE.match(http_header)
                    if vm:
                        http_verb = vm.group(1).decode("ascii")
                if need("http_content_type"):
                    cm = CONTENT_TYPE_RE.search(http_header)
                    if cm:
                        http_ct = cm.group(1).decode("utf-8", errors="replace")
        rec["http_status"] = http_status
        rec["http_verb"] = http_verb
        rec["http_content_type"] = http_ct

    if need("header_bytes"):
        rec["header_bytes"] = header_bytes
    if need("content_block"):
        rec["content_block"] = data[content_start:content_end]

    if need("content_length_ok"):
        content_length_ok = None
        if check_content_length:
            content_length_ok = (
                content_length is not None
                and (content_end - content_start) == content_length
            )
        rec["content_length_ok"] = content_length_ok

    result.records.append(rec)


def _scavenge_junk(
    result: ScanResult, source: str, data: bytes, pos: int, base: int = 0
) -> int | None:
    """FIND_NEXT_RECORD parity: record junk lines until a WARC magic or EOF.

    Returns the next record position, or None at EOF. Trailing junk without a
    newline is dropped (reference advance_to_next_line returns None)."""
    while pos < len(data):
        if _at_magic(data, pos):
            return pos
        end = _line_end(data, pos)
        if end is None:
            return None
        result.unparsable.append(
            {
                "source_file": source,
                "start": pos + base,
                "end": end + base,
                "bytes": data[pos:end],
            }
        )
        pos = end
    return None


def scan_warc_content_length(
    data: bytes,
    source: str = "",
    wanted: frozenset[str] | None = None,
    base: int = 0,
    limit: int | None = None,
) -> ScanResult:
    """Content-length strategy (reference parsers/warc.py:404-508 parity).

    ``base`` rebases all emitted offsets (split scans pass the group's
    absolute uncompressed start); ``limit`` stops NEW records/junk from
    starting at/after it while still letting in-flight parsing read past it
    (split-scan lookahead bytes)."""
    result = ScanResult()
    end_limit = len(data) if limit is None else limit

    # FIND_WARC_HEADER: skip leading ASCII whitespace silently
    pos = 0
    while pos < len(data) and data[pos : pos + 1].isspace():
        pos += 1
    if not _at_magic(data, pos):
        result.error = "No WARC header found."
        return result

    while pos is not None and pos < end_limit:
        header_start = pos
        block_end = _header_block_end(data, pos)
        if block_end is not None:
            header_end = block_end - len(CRLF)  # excludes blank line only
            content_start = block_end
        else:
            header_end = len(data)
            content_start = len(data)
        header_bytes = data[header_start:header_end]

        cl_match = CONTENT_LENGTH_RE.search(header_bytes)
        content_length = int(cl_match.group(1)) if cl_match else None
        if not content_length:  # None and 0 both unparsable (reference quirk)
            start_index = header_start
            for line in header_bytes.split(CRLF):
                end_index = start_index + len(line) + 2
                result.unparsable.append(
                    {
                        "source_file": source,
                        "start": start_index + base,
                        "end": end_index + base,
                        "bytes": line + CRLF,
                    }
                )
                start_index = end_index
            pos = _scavenge_junk(result, source, data, content_start, base)
            continue

        content_end = min(content_start + content_length, len(data))
        _emit_record(
            result,
            source,
            data,
            record_start=header_start,
            record_end=content_end,
            header_start=header_start,
            header_end=header_end,
            content_start=content_start,
            content_end=content_end,
            wanted=wanted,
            base=base,
        )

        pos = content_end
        if data.startswith(CRLF * 2, pos):
            pos += len(CRLF * 2)
        else:
            result.warnings.append(
                f"The record between {header_start + base}-{content_end + base} "
                "was improperly terminated."
            )
        pos = _scavenge_junk(result, source, data, pos, base)

    return result


def _find_delimiter(data: bytes, pos: int) -> int | None:
    """Next record delimiter per reference find_next_delimiter semantics.

    Walk lines from pos; return the offset just past the CRLF-only line that
    ends the record, or None (truncated)."""
    had_break = False  # previous line ended with CRLF (content + CRLF)
    was_break = False  # previous line was exactly CRLF
    cur = pos
    while True:
        end = _line_end(data, cur)
        if end is None:
            return None
        line = data[cur:end]
        ended_with_crlf = line.endswith(CRLF)
        crlf_only = line == CRLF
        if ended_with_crlf:
            if crlf_only:
                # two consecutive CRLF-only lines + next bytes ≠ CRLF ⇒
                # boundary (reference utils.py:171-174 — magic NOT required)
                if was_break and not data.startswith(CRLF, end):
                    return end
                # content line + one CRLF-only line ⇒ boundary only when the
                # WARC magic follows (utils.py:176-189; at EOF peek is empty
                # so this falls through to the truncation path)
                if had_break and _at_magic(data, end):
                    return end
                was_break = True
            else:
                was_break = False
                had_break = True
        else:
            was_break = False
            had_break = False
        cur = end


def scan_warc_delimiter(
    data: bytes,
    source: str = "",
    wanted: frozenset[str] | None = None,
    base: int = 0,
    limit: int | None = None,
) -> ScanResult:
    """Delimiter strategy (reference parsers/warc.py:277-401 parity).

    ``base``/``limit`` as in scan_warc_content_length. Split scans append a
    WARC-magic sentinel past `limit` so the group's last record terminates
    exactly where the whole-file walk would (the delimiter rule peeks at the
    bytes after the CRLFCRLF boundary)."""
    result = ScanResult()
    end_limit = len(data) if limit is None else limit

    pos = 0
    while pos < len(data) and data[pos : pos + 1].isspace():
        pos += 1
    if not _at_magic(data, pos):
        result.error = "No WARC header found."
        return result

    while pos is not None and pos < end_limit:
        record_start = pos
        stop = _find_delimiter(data, pos)
        if stop is not None:
            record_end = stop - len(CRLF * 2)
        else:
            # reference quirk (parsers/warc.py:336-339 + preserve_cursor):
            # no delimiter before EOF ⇒ the record collapses to (start,
            # start); the cursor still advances 4 bytes and the remaining
            # bytes (minus those 4) land in unparsable_lines
            result.warnings.append("Last record may have been truncated.")
            record_end = record_start

        block_end = _header_block_end(data, record_start)
        if block_end is not None and (
            stop is None or block_end - len(CRLF) <= record_end
        ):
            # for the truncated record the reference still splits forward
            # from record start, beyond record_end (find_next_header_end is
            # not bounded by the record)
            header_end = block_end - len(CRLF)
            content_start = block_end
            _emit_record(
                result,
                source,
                data,
                record_start=record_start,
                record_end=record_end,
                header_start=record_start,
                header_end=header_end,
                content_start=content_start,
                content_end=record_end,
                check_content_length=True,
                wanted=wanted,
                base=base,
            )
        else:
            result.warnings.append(
                f"Could not split the record between {record_start + base} and "
                f"{record_end + base} into header and content block components."
            )
            # Reference parity (found by the differential fuzz): the
            # unsplittable record is still a record — models.Record(start,
            # end) with header=None / content_block=None is returned as
            # current_record and cached in parser.records (ref
            # parsers/warc.py:358-399). NULL split offsets, empty byte
            # columns so every fused consumer stays total.
            result.records.append(
                {
                    "source_file": source,
                    "record_start": record_start + base,
                    "record_end": record_end + base,
                    "header_start": None,
                    "header_end": None,
                    "content_start": None,
                    "content_end": None,
                    "warc_version": (
                        m[:-2].decode("ascii")
                        if (m := _at_magic(data, record_start))
                        else None
                    ),
                    "headers": {},
                    "warc_type": None,
                    "target_uri": None,
                    "warc_date": None,
                    "content_type": None,
                    "content_length": None,
                    "header_bytes": b"",
                    "content_block": b"",
                    "http_status": None,
                    "http_verb": None,
                    "http_content_type": None,
                    "content_length_ok": None,
                    "is_warc": True,
                }
            )

        pos = _scavenge_junk(result, source, data, record_end + len(CRLF * 2), base)

    return result


def scan_warc(
    data: bytes,
    source: str = "",
    style: str = "content_length",
    wanted: frozenset[str] | None = None,
    base: int = 0,
    limit: int | None = None,
) -> ScanResult:
    if style == "content_length":
        return scan_warc_content_length(data, source, wanted, base, limit)
    if style == "delimiter":
        return scan_warc_delimiter(data, source, wanted, base, limit)
    raise ValueError("Supported parsing styles: delimiter, content_length")


# ---------------------------------------------------------------------------
# gzip member index (reference patches.py:29-155 behavior via decompressobj)
# ---------------------------------------------------------------------------


def index_gzip_members(data: bytes, chunk_size: int = 1 << 20) -> list[tuple[int, int, int, int]]:
    """[(comp_start, comp_end, unc_start, unc_end)] per gzip member.

    This is the split index that makes .warc.gz splittable across Spark
    tasks (record-at-time compression's stated purpose, models.py:273-291).
    A trailing truncated member is reported with comp_end = len(data).
    """
    members: list[tuple[int, int, int, int]] = []
    pos = 0
    unc_pos = 0
    n = len(data)
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        unc_len = 0
        i = pos
        try:
            while not d.eof and i < n:
                chunk = data[i : i + chunk_size]
                unc_len += len(d.decompress(chunk))
                i += len(chunk)
        except zlib.error:
            members.append((pos, n, unc_pos, unc_pos + unc_len))
            break
        if not d.eof:
            members.append((pos, n, unc_pos, unc_pos + unc_len))
            break
        comp_end = i - len(d.unused_data)
        members.append((pos, comp_end, unc_pos, unc_pos + unc_len))
        pos = comp_end
        unc_pos += unc_len
    return members


def split_gzip_members(
    data: bytes, chunk_size: int = 1 << 20
) -> list[tuple[int, int, bytes]]:
    """[(comp_start, comp_end, uncompressed_bytes)] per member — same
    boundary/truncation conventions as index_gzip_members, but ONE pass does
    both the indexing and the decompression (the stage-2 split kernel must
    decompress its slice anyway, so indexing it separately would double the
    inflate cost)."""
    out: list[tuple[int, int, bytes]] = []
    pos = 0
    n = len(data)
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        parts: list[bytes] = []
        i = pos
        try:
            while not d.eof and i < n:
                chunk = data[i : i + chunk_size]
                parts.append(d.decompress(chunk))
                i += len(chunk)
        except zlib.error:
            out.append((pos, n, b"".join(parts)))
            break
        if not d.eof:
            out.append((pos, n, b"".join(parts)))
            break
        comp_end = i - len(d.unused_data)
        out.append((pos, comp_end, b"".join(parts)))
        pos = comp_end
    return out


# head/tail bytes kept per member by the streaming indexer: enough to test
# "starts with a WARC magic" / "ends with CRLFCRLF" without keeping payloads.
_MEMBER_HEAD_LEN = 64


def iter_gzip_members_stream(
    reader, chunk_size: int = 1 << 20
) -> Iterator[tuple[int, int, int, int, bytes, bytes]]:
    """Streaming member index over a file object: yields
    (comp_start, comp_end, unc_start, unc_end, head, tail) per member, where
    head/tail are the first 64 / last 4 UNCOMPRESSED bytes (the split-point
    evidence). Constant memory at any file size — this is what lets the
    stage-1 index job handle archives far beyond the 2 GB binaryFile row
    limit. Boundary/truncation conventions identical to index_gzip_members
    (pinned by tests)."""
    pos = 0
    unc_pos = 0
    pending = b""
    input_eof = False
    while pending or not input_eof:
        d = zlib.decompressobj(wbits=31)
        unc_len = 0
        consumed = 0
        head = b""
        tail = b""
        failed = False
        while not d.eof:
            if pending:
                chunk, pending = pending, b""
            else:
                chunk = reader.read(chunk_size)
                if not chunk:
                    input_eof = True
                    break
            try:
                out = d.decompress(chunk)
            except zlib.error:
                consumed += len(chunk)
                failed = True
                break
            consumed += len(chunk)
            if out:
                if len(head) < _MEMBER_HEAD_LEN:
                    head += out[: _MEMBER_HEAD_LEN - len(head)]
                tail = out[-4:] if len(out) >= 4 else (tail + out)[-4:]
                unc_len += len(out)
        if failed or not d.eof:
            if consumed == 0:
                return  # clean EOF exactly at a member boundary
            # truncated/corrupt trailing member: comp_end = file end,
            # matching index_gzip_members
            rest = 0
            while True:
                chunk = reader.read(chunk_size)
                if not chunk:
                    break
                rest += len(chunk)
            yield (pos, pos + consumed + rest, unc_pos, unc_pos + unc_len, head, tail)
            return
        comp_end = pos + consumed - len(d.unused_data)
        pending = d.unused_data
        yield (pos, comp_end, unc_pos, unc_pos + unc_len, head, tail)
        pos = comp_end
        unc_pos += unc_len


def _head_is_warc(head: bytes) -> bool:
    """Does a member's uncompressed head begin a WARC file? (leading ASCII
    whitespace skipped, as the scanners do). All-whitespace head (magic
    beyond 64 bytes, undecidable) counts as False → conservative no-split."""
    s = head.lstrip(b" \t\r\n\x0b\x0c")
    return _at_magic(s, 0) is not None


def plan_member_groups(
    members, target_bytes: int = 128 << 20
) -> list[dict]:
    """Pack a file's gzip members into contiguous split groups of ~
    `target_bytes` COMPRESSED bytes — the unit of stage-2 scan parallelism.

    A group boundary is only placed at a CLEAN split point: the previous
    member's uncompressed bytes end with CRLFCRLF (a record terminator) and
    the next member's begin with a WARC magic — i.e. exactly the byte
    pattern at which both scan strategies are guaranteed to be at a fresh
    record boundary (the delimiter rule *forces* a record end there; the
    content-length walk lands there whenever records align to members, the
    premise of record-at-time compression, ref models.py:273-291). Files
    whose members don't align (a record spanning members, junk-first files)
    simply produce fewer/larger groups — degraded parallelism, never
    wrong results. If the FIRST member doesn't open a WARC file the whole
    file is one group (a whole-file scan error must suppress every record,
    which independent tasks couldn't reproduce).

    `members`: iterable of iter_gzip_members_stream tuples. Returns dicts
    with comp/unc ranges, n_members, group_id, n_groups, n_members_total.
    """
    groups: list[dict] = []
    cur: dict | None = None
    prev_tail: bytes | None = None
    splittable: bool | None = None
    n_total = 0
    for comp_start, comp_end, unc_start, unc_end, head, tail in members:
        n_total += 1
        if splittable is None:
            splittable = _head_is_warc(head)
        clean = (
            splittable
            and prev_tail == CRLF * 2
            and _at_magic(head, 0) is not None
        )
        if (
            cur is not None
            and clean
            and (cur["comp_end"] - cur["comp_start"]) >= target_bytes
        ):
            groups.append(cur)
            cur = None
        if cur is None:
            cur = {
                "comp_start": comp_start,
                "comp_end": comp_end,
                "unc_start": unc_start,
                "unc_end": unc_end,
                "n_members": 1,
            }
        else:
            cur["comp_end"] = comp_end
            cur["unc_end"] = unc_end
            cur["n_members"] += 1
        prev_tail = tail
    if cur is not None:
        groups.append(cur)
    for i, g in enumerate(groups):
        g["group_id"] = i
        g["n_groups"] = len(groups)
        g["n_members_total"] = n_total
    return groups


# columns only derivable by splitting a record into header/content — asking
# for them with split_records=False is the reference's config error
# (gzipped_warc.py:238-242, warc.py:297; strings pinned by its tests)
_SPLIT_ONLY_COLS = frozenset(
    {
        "headers",
        "warc_type",
        "target_uri",
        "warc_date",
        "warc_version",
        "content_type",
        "content_length",
        "header_bytes",
        "content_block",
        "http_status",
        "http_verb",
        "http_content_type",
    }
)


def _validate_member_options(
    wanted: frozenset[str] | None, split_records: bool
) -> None:
    """Config-validation parity with the reference parsers (string-exact:
    ref tests/test_warc_parser.py:312, test_gzipped_warc_parser.py:110).
    wanted=None with split_records=False is the offsets-only mode and valid."""
    if split_records or wanted is None:
        return
    if "content_length_ok" in wanted:
        raise ValueError("To check_content_lengths, you must split records.")
    if wanted & _SPLIT_ONLY_COLS:
        raise ValueError(
            "To cache or parse header or content block bytes, you must split records."
        )


_SINGLE_MEMBER_FILE_WARNING = (
    "This file only contains one gzip member. While valid, this is  "
    "unusual: WARC files are customarily compressed record-by-record."
)


def _attribute_members(
    result: ScanResult,
    members_abs: list[tuple[int, int, int, int]],
    unc: bytes,
    unc_base: int,
    source: str,
) -> list[dict]:
    """Annotate records with their containing member (absolute coords) and
    return non-WARC member rows (members whose span contains no record).

    Linear sweep: records arrive in ascending record_start order and member
    spans are contiguous, so the first member with record_start < unc_end is
    the containing one."""
    non_warc: list[dict] = []
    covered = [False] * len(members_abs)
    mi = 0
    for rec in result.records:
        while mi < len(members_abs) and rec["record_start"] >= members_abs[mi][3]:
            mi += 1
        if mi < len(members_abs):
            m = members_abs[mi]
            rec["member_start"], rec["member_end"] = m[0], m[1]
            rec["unc_start"], rec["unc_end"] = m[2], m[3]
            covered[mi] = True
    for idx, m in enumerate(members_abs):
        if not covered[idx]:
            non_warc.append(
                {
                    "source_file": source,
                    "member_start": m[0],
                    "member_end": m[1],
                    "unc_start": m[2],
                    "unc_end": m[3],
                    "bytes": unc[m[2] - unc_base : m[3] - unc_base],
                }
            )
    return non_warc


def scan_member_group(
    slice_bytes: bytes,
    source: str,
    comp_base: int = 0,
    unc_base: int = 0,
    style: str = "content_length",
    wanted: frozenset[str] | None = None,
    gz_style: str = "file",
    n_members_total: int | None = None,
    is_last_group: bool = True,
    split_records: bool = True,
) -> tuple[ScanResult, list[dict]]:
    """Scan one contiguous gzip-member range of an archive, emitting offsets
    in ABSOLUTE file coordinates (comp_base/unc_base = where the slice
    starts). This is the stage-2 kernel of the splittable scan AND the
    whole-file gz scan (comp_base=unc_base=0, one group).

    Exactness contract: byte-identical to the whole-file scan provided the
    groups were planned by plan_member_groups (clean split points only). The
    one undetectable corner: a record whose content_length overruns a clean
    split point whose bytes happen to read CRLFCRLF+magic (a WARC archived
    INSIDE a WARC record, cut exactly at a member boundary) — the same
    ambiguity every record-at-time random-access reader accepts, including
    the reference's member index (ref patches.py:29-155)."""
    members3 = split_gzip_members(slice_bytes)
    members_abs: list[tuple[int, int, int, int]] = []
    u = unc_base
    for c0, c1, b in members3:
        members_abs.append((c0 + comp_base, c1 + comp_base, u, u + len(b)))
        u += len(b)
    total = len(members3) if n_members_total is None else n_members_total

    if gz_style == "member":
        _validate_member_options(wanted, split_records)
        result = ScanResult()
        non_warc: list[dict] = []
        if total == 1:
            result.warnings.append(
                "This file may not be composed of separately gzipped WARC "
                "records: only one gzip member found."
            )
        _scan_member_records(
            result,
            non_warc,
            [(members_abs[i], members3[i][2]) for i in range(len(members3))],
            source,
            wanted,
            split_records,
        )
        return result, non_warc
    if gz_style != "file":
        raise ValueError("Supported decompression styles: member, file")

    unc = b"".join(b for _, _, b in members3)
    # delimiter-style lookahead: the rule that ends a record peeks at the
    # bytes AFTER the CRLFCRLF boundary; for a non-final group those bytes
    # are the next group's WARC magic (guaranteed by the clean-split rule),
    # so append one as a sentinel past `limit` — never scanned as a record.
    if style == "delimiter" and not is_last_group:
        scan_data = unc + WARC_MAGICS[0]
    else:
        scan_data = unc
    result = scan_warc(scan_data, source, style, wanted, unc_base, len(unc))
    if total <= 1:
        result.warnings.insert(0, _SINGLE_MEMBER_FILE_WARNING)
    non_warc = _attribute_members(result, members_abs, unc, unc_base, source)
    return result, non_warc


def scan_warc_gz(
    data: bytes,
    source: str = "",
    style: str = "content_length",
    wanted: frozenset[str] | None = None,
) -> tuple[ScanResult, list[dict]]:
    """Whole-file gz scan: one member group covering the file (reference
    decompression_style='file' convention; record offsets are relative to
    the uncompressed stream). At scale use index_gzip_splits +
    scan_splits_to_records instead — same kernel, one group per ~128 MB."""
    return scan_member_group(data, source, 0, 0, style, wanted, "file")


# ---------------------------------------------------------------------------
# sinks (reference scripts/utils.py:112-139 behavior)
# ---------------------------------------------------------------------------


def write_warc(records: list[bytes]) -> bytes:
    """Concatenate records with the CRLFCRLF terminator."""
    return b"".join(r + CRLF * 2 for r in records)


def write_warc_gz(records: list[bytes], compresslevel: int = 9) -> bytes:
    """Record-at-time gzip: one member per record → splittable output."""
    out = io.BytesIO()
    for r in records:
        out.write(_gzip.compress(r + CRLF * 2, compresslevel=compresslevel, mtime=0))
    return out.getvalue()


def scan_warc_gz_member(
    data: bytes,
    source: str = "",
    wanted: frozenset[str] | None = None,
    split_records: bool = True,
) -> tuple[ScanResult, list[dict]]:
    """S5: per-member decompression style (reference
    ``decompression_style='member'``, GzippedWARCMemberParser,
    parsers/gzipped_warc.py:360-585). One WARC record per gzip member; each
    member is gunzipped and parsed independently — the reference streams it
    to a temp file, here it's one in-memory member per iteration (and at
    cluster scale, one member range per task).

    Semantics mirrored from the reference (studied, not copied):
    - a member is a WARC record iff its gunzipped bytes start with a WARC
      magic AND a truthy Content-Length parses from its header block
      (gzipped_warc.py:508); otherwise it's a non-WARC member with the
      "does not appear to be a WARC record" warning;
    - record offsets are in UNCOMPRESSED-FILE coordinates
      (uncompressed_start + in-member offsets) and content_end is the
      arithmetic start+Content-Length, NOT clamped to the member
      (gzipped_warc.py:519-520);
    - only the FIRST record of a member is parsed — trailing bytes are
      ignored (member style's contract: record-at-time compression);
    - quirk parity (gzipped_warc.py:553-557): the reference warns that a
      member "does not end with the expected WARC delimiter" when the bytes
      after the content block are exactly CRLFCRLF — i.e. on
      spec-conformant members (an apparently inverted condition);
      reproduced as-is because warnings are part of the output contract;
    - ``split_records=False`` (gzipped_warc.py:559-575): no header parse,
      one offsets-only record per member spanning the member minus a
      trailing CRLFCRLF (warning + full length when the delimiter is
      missing).
    """
    return scan_member_group(
        data, source, 0, 0, "content_length", wanted, "member",
        split_records=split_records,
    )


def _scan_member_records(
    result: ScanResult,
    non_warc: list[dict],
    members,
    source: str,
    wanted: frozenset[str] | None,
    split_records: bool = True,
) -> None:
    """Per-member record parse (S5 semantics; see scan_warc_gz_member).
    `members`: [((comp_start, comp_end, unc_start, unc_end) ABSOLUTE,
    uncompressed_bytes)]."""
    for (cstart, cend, ustart, uend), unc in members:
        if not split_records:
            if unc.endswith(CRLF * 2):
                rec_len = len(unc) - len(CRLF * 2)
            else:
                result.warnings.append(
                    f"The member at {cstart}-{cend}, when gunzipped, does "
                    "not end with the expected WARC delimiter."
                )
                rec_len = len(unc)
            result.records.append(
                {
                    "source_file": source,
                    "member_start": cstart,
                    "member_end": cend,
                    "unc_start": ustart,
                    "unc_end": uend,
                    "record_start": ustart,
                    "record_end": ustart + rec_len,
                    "is_warc": True,
                }
            )
            continue

        header_found = _at_magic(unc, 0) is not None
        block_end = _header_block_end(unc, 0)
        # no blank line → header is the whole member and content_start runs
        # past its end (reference arithmetic, gzipped_warc.py:500-502,519)
        header_end_rel = block_end - len(CRLF) if block_end is not None else len(unc)
        content_start_rel = header_end_rel + len(CRLF)
        header_bytes = unc[:header_end_rel]

        cl_match = CONTENT_LENGTH_RE.search(header_bytes)
        content_length = int(cl_match.group(1)) if cl_match else None
        if not header_found or not content_length:  # falsy 0 quirk, as in ref
            non_warc.append(
                {
                    "source_file": source,
                    "member_start": cstart,
                    "member_end": cend,
                    "unc_start": ustart,
                    "unc_end": uend,
                    "bytes": unc,
                }
            )
            result.warnings.append(
                f"The member at {cstart}-{cend}, when gunzipped, does not "
                "appear to be a WARC record."
            )
            continue

        content_end_rel = content_start_rel + content_length
        _emit_record(
            result,
            source,
            unc,
            record_start=0,
            record_end=content_end_rel,
            header_start=0,
            header_end=header_end_rel,
            content_start=content_start_rel,
            content_end=content_end_rel,
            member=(cstart, cend, ustart, uend),
            wanted=wanted,
            base=ustart,  # member-relative → uncompressed-file coords
        )
        if unc[content_end_rel:] == CRLF * 2:
            result.warnings.append(
                f"The member at {cstart}-{cend}, when gunzipped, does not "
                "end with the expected WARC delimiter."
            )


GZIP_MAGIC = b"\x1f\x8b"


def resolve_archive(source: str, data: bytes, gz_hint: bool | None = None) -> tuple[bytes, bool]:
    """(warc_bytes, is_gzipped) for any supported container: .wacz zips are
    unwrapped via datapackage.json and the inner archive is sniffed by gzip
    magic (the resource may be .warc or .warc.gz); otherwise the hint / the
    file extension decides."""
    if source.endswith(".wacz"):
        inner = open_wacz(data)
        return inner, inner[:2] == GZIP_MAGIC
    if gz_hint is not None:
        return data, bool(gz_hint)
    return data, source.endswith(".gz")


def scan_archive(
    data: bytes,
    source: str,
    style: str = "content_length",
    gz_hint: bool | None = None,
    wanted: frozenset[str] | None = None,
    gz_style: str = "file",
) -> tuple[ScanResult, list[dict]]:
    """Container-transparent scan: wacz → unwrap, gz → member-indexed scan,
    plain → direct scan. Returns (ScanResult, non_warc_member_rows).

    ``gz_style``: 'file' decompresses the whole stream and record-scans it
    (reference decompression_style='file'); 'member' parses one record per
    gzip member (S5, reference decompression_style='member')."""
    data, gz = resolve_archive(source, data, gz_hint)
    if gz:
        if gz_style == "member":
            # the reference's member parser accepts exactly one parsing
            # style (ref tests/test_gzipped_warc_parser.py:16); our default
            # "content_length" passes through as the unset case
            if style not in ("content_length", "split_gzip_members"):
                raise ValueError("Supported parsing styles: split_gzip_members")
            return scan_warc_gz_member(data, source, wanted)
        if gz_style != "file":
            raise ValueError("Supported decompression styles: member, file")
        return scan_warc_gz(data, source, style, wanted)
    return scan_warc(data, source, style, wanted), []


def open_wacz(data: bytes) -> bytes:
    """Extract the first .warc.gz (or .warc) resource from a WACZ zip,
    following datapackage.json when present (reference utils.py:287-369)."""
    zf = zipfile.ZipFile(io.BytesIO(data))
    names = zf.namelist()
    candidates: list[str] = []
    if "datapackage.json" in names:
        import json

        pkg = json.loads(zf.read("datapackage.json"))
        for res in pkg.get("resources", []):
            path = res.get("path", "")
            if path.endswith(".warc.gz") or path.endswith(".warc"):
                candidates.append(path)
    if not candidates:
        candidates = [n for n in names if n.endswith((".warc.gz", ".warc"))]
    if not candidates:
        raise ValueError("No WARC resource found in WACZ")
    return zf.read(candidates[0])


# ---------------------------------------------------------------------------
# Spark integration
#
# Every scan entry point is ONE mapInArrow over the same row kernel
# (_scan_kernel): it reads each input row straight from the Arrow batch —
# a whole file, or an ARCHIVE_SPLITS member group ranged-read through
# `opener` — scans it with the entry point's `wanted` column set, and hands
# (result, non_warc, source) to a per-output `emit` function. The whole-file
# and split forms share the emit functions, and the streaming sources
# (wbx.streaming) call these same functions, so there is one kernel and one
# parity surface.
# ---------------------------------------------------------------------------


def _record_batch(rows: list[dict], schema):
    """pyarrow batch of the pyarrow `schema` from dict rows, one pa.array
    per field; a key a row lacks (e.g. `headers` on a non-WARC member row)
    is null."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [pa.array([r.get(f.name) for r in rows], type=f.type) for f in schema],
        schema=schema,
    )


def _scan_kernel(
    emit,
    schema,
    style: str,
    wanted: frozenset[str] | None = None,
    gz_style: str = "file",
    splits: bool = False,
    opener=None,
):
    """The mapInArrow row kernel behind every WARC scan entry point.

    An input row is a whole file — (source_file, content[, is_gz]); a null
    is_gz means False, an absent column lets the file extension decide — or,
    with ``splits``, an ARCHIVE_SPLITS row whose [comp_start, comp_end)
    slice is ranged-read and scanned with absolute offsets. Each scan's
    ``emit(result, non_warc, source)`` rows become one output batch of the
    Spark ``schema``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)

    def kernel(batches):
        for batch in batches:
            col = dict(zip(batch.schema.names, batch.columns))
            rows: list[dict] = []
            for i in range(batch.num_rows):
                source = col["source_file"][i].as_py()
                if splits:
                    comp_start = col["comp_start"][i].as_py()
                    result, non_warc = scan_member_group(
                        _read_slice(source, comp_start, col["comp_end"][i].as_py(), opener),
                        source,
                        comp_start,
                        col["unc_start"][i].as_py(),
                        style,
                        wanted,
                        gz_style,
                        col["n_members_total"][i].as_py(),
                        col["group_id"][i].as_py() == col["n_groups"][i].as_py() - 1,
                    )
                else:
                    gz_hint = bool(col["is_gz"][i].as_py()) if "is_gz" in col else None
                    result, non_warc = scan_archive(
                        col["content"][i].as_py(), source, style, gz_hint, wanted, gz_style
                    )
                rows.extend(emit(result, non_warc, source))
            yield _record_batch(rows, arrow_schema)

    return kernel


def _emit_records(result: ScanResult, non_warc: list[dict], source: str) -> list[dict]:
    """RECORDS rows: the parsed records, then one is_warc=false row per
    non-WARC gzip member."""
    return result.records + [
        {
            "source_file": m["source_file"],
            "member_start": m["member_start"],
            "member_end": m["member_end"],
            "unc_start": m["unc_start"],
            "unc_end": m["unc_end"],
            "content_block": m["bytes"],
            "is_warc": False,
        }
        for m in non_warc
    ]


def _emit_unparsable(result: ScanResult, non_warc: list[dict], source: str) -> list[dict]:
    return result.unparsable


def _emit_diagnostics(result: ScanResult, non_warc: list[dict], source: str) -> list[dict]:
    rows = [
        {"source_file": source, "kind": "warning", "message": w}
        for w in result.warnings
    ]
    if result.error:
        rows.append({"source_file": source, "kind": "error", "message": result.error})
    return rows


# what the fused text kernel needs from the record scan: URI/type for the
# output, header+content bytes for the extractor (in-process only — they
# never reach Arrow), http_status for the projection.
_TEXT_WANTED = frozenset(
    {"warc_type", "target_uri", "http_status", "header_bytes", "content_block"}
)


def _make_text_fn(on_error: str):
    """Per-record text extractor for the fused kernels. ``on_error`` — what
    a record whose body fails to decode does:
    - "raise" (default): propagate, reference
      ``get_decompressed_http_body`` parity (the method raises; callers
      choose policy);
    - "null": text = NULL — at 100 TB one poison record must not kill a
      job; pair with scan_files_to_diagnostics for forensics;
    - "raw": utf-8-replace of the UNDECODED body, the reference CLI's own
      fallback (scripts/utils.py:80-84 catches and keeps going).
    """
    from wbx.extract import (
        DecodingError,
        extracted_text,
        split_http_message,
        utf8_replace,
        warc_content_type_is_http,
    )

    if on_error not in ("raise", "null", "raw"):
        raise ValueError("on_error must be raise | null | raw")

    def _text(rec):
        if on_error == "raise":
            return extracted_text(rec["content_block"], rec["header_bytes"])
        try:
            return extracted_text(rec["content_block"], rec["header_bytes"])
        # zlib.error: the reference's gzip/deflate path raises it raw
        # (utils.py zlib.decompress, unwrapped) — lenient modes absorb both
        except (DecodingError, zlib.error):
            if on_error == "null":
                return None
            if not warc_content_type_is_http(rec["header_bytes"]):
                return None
            _, body = split_http_message(rec["content_block"])
            return utf8_replace(body) if body else None

    return _text


def _text_emit(on_error: str):
    """TEXT_RECORDS emit: each record gains its extracted `text`; the
    payload bytes stay in the dict and never reach the output batch.
    Non-WARC gzip members carry no text and are not emitted."""
    text = _make_text_fn(on_error)

    def emit(result: ScanResult, non_warc: list[dict], source: str) -> list[dict]:
        for rec in result.records:
            rec["text"] = text(rec)
        return result.records

    return emit


def _records_projection(columns):
    """(StructType, wanted) for an optional RECORDS column subset — shared
    by the whole-file and split record scans."""
    from pyspark.sql import types as T

    from wbx.schema import RECORDS

    if columns is None:
        return RECORDS, None
    keep = set(columns) | {"source_file", "is_warc"}
    unknown = keep - set(RECORDS.names)
    if unknown:
        raise ValueError(f"unknown record columns: {sorted(unknown)}")
    schema = T.StructType([f for f in RECORDS.fields if f.name in keep])
    return schema, frozenset(schema.names)


def scan_files_to_records(
    files_df, style: str = "content_length", columns=None, gz_style: str = "file"
):
    """(source_file string, content binary[, is_gz boolean]) → records DF.

    mapInArrow kernel: each input row is one archive file (or one member
    range at scale — the member index makes .warc.gz splittable so a 1 GB
    archive fans out across tasks). All byte work happens executor-side in
    Arrow batches.

    ``columns``: optional subset of RECORDS column names to produce. Catalyst
    cannot prune a projection through the mapInArrow boundary, so a query
    that only needs e.g. (warc_type, target_uri) should pass them here — the
    kernel then never slices payload bytes or builds the headers map, and the
    Arrow transfer shrinks from ~the archive size to a few slim columns."""
    schema, wanted = _records_projection(columns)
    return files_df.mapInArrow(
        _scan_kernel(_emit_records, schema, style, wanted, gz_style), schema
    )


def scan_files_to_text(
    files_df,
    style: str = "content_length",
    gz_style: str = "file",
    on_error: str = "raise",
):
    """Fused scan + byte-exact text extraction — the 100-TB hot path.

    The general path (scan_files_to_records → extract_text_udf) Arrow-ships
    every record's payload bytes JVM→Python→JVM→Python because the two
    Python stages are separate operators. This kernel runs scan and extract
    in ONE Python pass per archive split: payload bytes stay in-process and
    only the slim (source_file, offsets, type, uri, status, text) columns
    cross the Arrow boundary — the dominant memory-bandwidth cost of the
    pipeline disappears. Parity with the general path is pinned by
    tests/test_warcio fused-parity tests; extraction semantics are
    wbx.extract.extracted_text (reference models.py:153-170 behavior).
    ``on_error`` is the undecodable-body policy (raise | null | raw, see
    _make_text_fn).

    Non-WARC gzip members carry no text and are not emitted (the general
    path keeps them as is_warc=false rows; use scan_files_to_records for
    forensics)."""
    from wbx.schema import TEXT_RECORDS

    return files_df.mapInArrow(
        _scan_kernel(_text_emit(on_error), TEXT_RECORDS, style, _TEXT_WANTED, gz_style),
        TEXT_RECORDS,
    )


def scan_files_to_unparsable(files_df, style: str = "content_length"):
    """(source_file, content) → unparsable_lines side-output DF."""
    from wbx.schema import UNPARSABLE_LINES

    return files_df.mapInArrow(
        _scan_kernel(_emit_unparsable, UNPARSABLE_LINES, style), UNPARSABLE_LINES
    )


def scan_files_to_diagnostics(files_df, style: str = "content_length"):
    """(source_file, content) → diagnostics (warning/error rows) DF."""
    from wbx.schema import DIAGNOSTICS

    return files_df.mapInArrow(
        _scan_kernel(_emit_diagnostics, DIAGNOSTICS, style), DIAGNOSTICS
    )


# ---------------------------------------------------------------------------
# splittable .warc.gz scan: stage 1 (member-group index) + stage 2 (slice scan)
#
# The whole-file kernels above receive one binaryFile row per archive — one
# task, one in-memory copy, and a hard 2 GB ceiling per file. At 100 TB the
# unit of parallelism must be a BYTE RANGE, not a file (the reference makes
# the same move with its member index + random-access reads, patches.py:29-155,
# models.py:273-291). Two-job DAG:
#
#   index_gzip_splits(paths)        → ARCHIVE_SPLITS rows (~target_bytes each)
#   scan_splits_to_records(splits)  → records, byte-identical to whole-file
#
# Stage 1 streams each file once (constant memory, no binaryFile row at all,
# so multi-GB archives are fine); stage 2 tasks ranged-read ONLY their slice.
# On a cluster the ranged read is the storage client's pread/range-GET; in
# this repo it's a local seek+read.
# ---------------------------------------------------------------------------


def _local_path(uri: str) -> str:
    """Filesystem path for a Spark file URI (file:/x, file:///x, bare path).

    Non-local schemes are rejected explicitly: at cluster scale the ranged
    read goes through a storage-client `opener` (S3 range GET / HDFS pread)
    injected into the scan — see default_opener."""
    if uri.startswith("file:"):
        from urllib.parse import unquote, urlparse

        return unquote(urlparse(uri).path)
    if "://" in uri:
        raise NotImplementedError(
            f"no opener registered for {uri!r}: pass an fsspec-style "
            "`opener` (uri -> seekable binary file) to the scan functions "
            "for non-local schemes"
        )
    return uri


def default_opener(uri: str):
    """uri → seekable binary file object; the local-filesystem default for
    the splittable scan's `opener` injection point.

    On a cluster, pass an opener wrapping the storage client instead (e.g.
    ``fsspec.open(uri, 'rb').open()`` or ``s3fs.S3FileSystem().open``):
    anything returning a file-like with seek/read works, and because the
    stage-2 kernels read exactly [comp_start, comp_end) per task, a
    range-GET-backed file object makes every task a single ranged request —
    the same index-then-random-access design as the reference's member
    index (ref patches.py:29-155, models.py:273-291). The opener callable
    is closure-captured into the executor kernels, so it must be
    picklable."""
    return open(_local_path(uri), "rb")


def _read_slice(uri: str, start: int, end: int, opener=None) -> bytes:
    with (opener or default_opener)(uri) as f:
        f.seek(start)
        return f.read(end - start)


def index_gzip_splits(files_df, target_bytes: int = 128 << 20, opener=None):
    """Stage 1: (path|source_file) rows → ARCHIVE_SPLITS rows.

    One streaming pass per file on the executors (iter_gzip_members_stream —
    the file is never held in memory and never becomes a DataFrame row), then
    plan_member_groups packs members into ~target_bytes groups that split
    only at clean record boundaries. The output is small ((files × groups)
    rows of offsets) and is typically broadcast-sized even at 100 TB
    (a 1 GB archive at 128 MB targets is 8 rows)."""
    from pyspark.sql import functions as F
    from pyspark.sql.pandas.types import to_arrow_schema

    from wbx.schema import ARCHIVE_SPLITS

    col = "source_file" if "source_file" in files_df.columns else "path"
    n_part = files_df.sparkSession.sparkContext.defaultParallelism
    arrow_schema = to_arrow_schema(ARCHIVE_SPLITS)

    def kernel(batches):
        for batch in batches:
            rows: list[dict] = []
            for p in batch.column("source_file").to_pylist():
                with (opener or default_opener)(p) as f:
                    groups = plan_member_groups(
                        iter_gzip_members_stream(f), target_bytes
                    )
                rows.extend({"source_file": p, **g} for g in groups)
            yield _record_batch(rows, arrow_schema)

    return (
        files_df.select(F.col(col).alias("source_file"))
        .repartition(n_part, "source_file")
        .mapInArrow(kernel, ARCHIVE_SPLITS)
    )


def scan_splits_to_records(
    splits_df,
    style: str = "content_length",
    columns=None,
    gz_style: str = "file",
    opener=None,
):
    """Stage 2: ARCHIVE_SPLITS rows → records DF, byte-identical to
    scan_files_to_records on the whole files (parity pinned by
    tests/test_warcio.py::TestSplittableScan for both styles, junk,
    truncation, and non-aligned archives). One task per ~target_bytes of
    compressed archive — the scan of a 10 GB .warc.gz is ~80 parallel
    tasks instead of one."""
    schema, wanted = _records_projection(columns)
    return splits_df.mapInArrow(
        _scan_kernel(_emit_records, schema, style, wanted, gz_style, True, opener),
        schema,
    )


def scan_splits_to_text(
    splits_df,
    style: str = "content_length",
    gz_style: str = "file",
    on_error: str = "raise",
    opener=None,
):
    """Stage 2, fused scan+extract (the 100-TB hot path): same slim
    TEXT_RECORDS output as scan_files_to_text, but one task per member
    group. Payload bytes are read once (ranged), parsed and decoded
    in-process, and never cross the Arrow boundary."""
    from wbx.schema import TEXT_RECORDS

    return splits_df.mapInArrow(
        _scan_kernel(
            _text_emit(on_error), TEXT_RECORDS, style, _TEXT_WANTED, gz_style, True, opener
        ),
        TEXT_RECORDS,
    )


def scan_splits_to_unparsable(splits_df, style: str = "content_length", opener=None):
    """Stage 2 side-channel: unparsable lines, absolute offsets."""
    from wbx.schema import UNPARSABLE_LINES

    return splits_df.mapInArrow(
        _scan_kernel(_emit_unparsable, UNPARSABLE_LINES, style, splits=True, opener=opener),
        UNPARSABLE_LINES,
    )


def scan_splits_to_diagnostics(splits_df, style: str = "content_length", opener=None):
    """Stage 2 side-channel: warning/error diagnostics rows."""
    from wbx.schema import DIAGNOSTICS

    return splits_df.mapInArrow(
        _scan_kernel(_emit_diagnostics, DIAGNOSTICS, style, splits=True, opener=opener),
        DIAGNOSTICS,
    )
