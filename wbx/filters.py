"""Record-filter library — Column-expression rewrites of the reference's
closure filters (/root/reference/src/warcbench/filters.py F1–F11, studied for
behavior).

Two tiers:

* **Fast tier** (default): plain Column expressions over the projected
  columns the scanner extracts with the reference's own regexes
  (content_length, content_type, warc_type, http_status, http_verb,
  http_content_type). These are Catalyst-pushable — on a parquet/Iceberg
  records table the predicate reaches the scan and prunes row groups,
  which is what makes them usable at 100 TB.
* **Byte-exact tier**: pandas-UDF predicates running Python ``re`` over the
  raw ``header_bytes``/``content_block`` columns, for the cases whose
  semantics depend on Python regex quirks (arbitrary user regexes, named
  fields appearing as substrings of other field names, multi-line `\\s*`
  greediness). Arrow-batched, no per-row Python serialization.

Composition: AND = chained ``.filter``/``&`` (Catalyst short-circuits);
OR and custom combos = ``|`` on Columns (reference requires hand-written
lambdas for OR; here it's native).  "No filters → all records match."
"""

from __future__ import annotations

import re
from typing import Callable

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_OPS: dict[str, Callable[[Column, int], Column]] = {
    "lt": lambda c, n: c < n,
    "le": lambda c, n: c <= n,
    "eq": lambda c, n: c == n,
    "ne": lambda c, n: c != n,
    "gt": lambda c, n: c > n,
    "ge": lambda c, n: c >= n,
}


def _match(extracted: Column, target: str, case_insensitive: bool, exact: bool) -> Column:
    """is_target_in_bytes semantics (utils.py:245-260): substring (default)
    or equality, lowering both sides when case-insensitive."""
    t = target.lower() if case_insensitive else target
    col = F.lower(extracted) if case_insensitive else extracted
    return (col == t) if exact else col.contains(t)


# --- F1: arbitrary regex over raw header bytes (byte-exact tier) -----------


def warc_header_regex_filter(regex: str, case_insensitive: bool = True) -> Column:
    pattern = re.compile(
        regex.encode("utf-8"), re.IGNORECASE if case_insensitive else 0
    )

    @F.pandas_udf(T.BooleanType())
    def f(header_bytes: pd.Series) -> pd.Series:
        return pd.Series(
            [hb is not None and pattern.search(hb) is not None for hb in header_bytes]
        )

    return f(F.col("header_bytes"))


# --- F2: Content-Length comparison (fast tier) ------------------------------


def record_content_length_filter(target_length: int, use_operator: str = "eq") -> Column:
    if use_operator not in _OPS:
        raise ValueError(f"Supported operators: {', '.join(_OPS)}.")
    # reference: regex miss → False; here: null content_length → null → dropped
    return _OPS[use_operator](F.col("content_length"), target_length)


# --- F3: WARC Content-Type (fast tier) --------------------------------------


def record_content_type_filter(
    content_type: str, case_insensitive: bool = True, exact_match: bool = False
) -> Column:
    return F.col("content_type").isNotNull() & _match(
        F.col("content_type"), content_type, case_insensitive, exact_match
    )


# --- F4: any WARC named field (fast tier via headers map) -------------------


def warc_named_field_filter(
    field_name: str,
    target: str,
    case_insensitive: bool = True,
    exact_match: bool = False,
) -> Column:
    """Looks up ``WARC-{field_name}`` in the parsed headers map (first value,
    reference get_field default). NB the reference regexes raw bytes, so a
    field name appearing as a *suffix* of another (``X-WARC-Type``) would
    also match there; use :func:`warc_named_field_filter_exact` when that
    quirk matters."""
    value = F.element_at(F.col("headers"), f"WARC-{field_name}")[0]
    return value.isNotNull() & _match(value, target, case_insensitive, exact_match)


def warc_named_field_filter_exact(
    field_name: str,
    target: str,
    case_insensitive: bool = True,
    exact_match: bool = False,
) -> Column:
    """Byte-exact tier: reference regex `WARC-{name}:\\s*(.*)((\\r\\n)|$)`
    over raw header bytes."""
    pattern = re.compile(
        b"WARC-" + field_name.encode() + rb":\s*(.*)((\r\n)|$)",
        re.IGNORECASE if case_insensitive else 0,
    )
    t = target.lower() if case_insensitive else target

    @F.pandas_udf(T.BooleanType())
    def f(header_bytes: pd.Series) -> pd.Series:
        out = []
        for hb in header_bytes:
            m = pattern.search(hb) if hb is not None else None
            if not m:
                out.append(False)
                continue
            extracted = m.group(1).decode("utf-8", errors="replace")
            if case_insensitive:
                extracted = extracted.lower()
            out.append(extracted == t if exact_match else t in extracted)
        return pd.Series(out)

    return f(F.col("header_bytes"))


# --- F5/F6: HTTP verb / status (fast tier) -----------------------------------


def http_verb_filter(verb: str) -> Column:
    return (
        record_content_type_filter("msgtype=request")
        & F.col("http_verb").isNotNull()
        & (F.upper(F.col("http_verb")) == verb.upper())
    )


def http_status_filter(status_code: int | str) -> Column:
    return (
        record_content_type_filter("msgtype=response")
        & (F.col("http_status") == int(status_code))
    )


# --- F7: arbitrary HTTP header (byte-exact tier over content_block) ---------


def http_header_filter(
    header_name: str,
    target: str,
    case_insensitive: bool = True,
    exact_match: bool = False,
) -> Column:
    from wbx.extract import split_http_message, warc_content_type_is_http

    pattern = re.compile(
        header_name.encode() + rb":\s*(.+)((\r\n)|$)",
        re.IGNORECASE if case_insensitive else 0,
    )
    t = target.lower() if case_insensitive else target

    @F.pandas_udf(T.BooleanType())
    def f(content_block: pd.Series, header_bytes: pd.Series) -> pd.Series:
        out = []
        for cb, hb in zip(content_block, header_bytes):
            if cb is None or hb is None or not warc_content_type_is_http(hb):
                out.append(False)
                continue
            http_header, _ = split_http_message(cb)
            m = pattern.search(http_header) if http_header is not None else None
            if not m:
                out.append(False)
                continue
            extracted = m.group(1).decode("utf-8", errors="replace")
            if case_insensitive:
                extracted = extracted.lower()
            out.append(extracted == t if exact_match else t in extracted)
        return pd.Series(out)

    return f(F.col("content_block"), F.col("header_bytes"))


# --- F8: HTTP response Content-Type (fast tier) ------------------------------


def http_response_content_type_filter(
    content_type: str, case_insensitive: bool = True, exact_match: bool = False
) -> Column:
    return (
        record_content_type_filter("msgtype=response")
        & F.col("http_content_type").isNotNull()
        & _match(F.col("http_content_type"), content_type, case_insensitive, exact_match)
    )


# --- F9: member-level predicates are plain df.filter on member columns ------


def member_length_filter(target_length: int, use_operator: str = "eq") -> Column:
    return _OPS[use_operator](
        F.col("member_end") - F.col("member_start"), target_length
    )


# --- F10/F11: escape hatches --------------------------------------------------


def force_include_warcinfo(combined: Column) -> Column:
    """warcinfo records bypass all filters (scripts/filter_records.py:348-354)."""
    return (F.col("warc_type") == "warcinfo") | combined


def exclude_file_uris() -> Column:
    """Drop records whose Target-URI starts with file:///
    (scripts/match_record_pairs.py:141-146)."""
    return F.col("target_uri").isNull() | ~F.col("target_uri").startswith("file:///")
