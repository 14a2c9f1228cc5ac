"""Crawl frontier: canonicalization, seen-set, robots, politeness, scheduling.

The north_rule layer (BASELINE.json): a from-scratch distributed URL-frontier
+ fetch scheduler over Common-Crawl-style page tables, replacing the
reference's sequential record iterator with deterministic, shuffle-conscious
relational plans.

Determinism contract (what makes results identical at local[8] vs local[32]
and at N vs 4N executors): **no ordering ever depends on arrival or
partition-iteration order.** Every ordering below is an explicit
``orderBy``/``row_number`` on fully-determined keys with a total tie-break
(priority DESC, canon_url ASC). Rank buckets participate only in
*partitioning*, never in the final order.

Scale design (10^10-URL frontier):
- the seen-set is hash-partitioned by ``url_hash``; membership is an
  anti-join that shuffles only (url_hash, canon_url) — 16 bytes + url — not
  payloads. A Bloom-filter pre-pass (``SeenSet.sketch``) drops the
  vast majority of already-seen URLs *before* the shuffle; the anti-join
  then restores exactness (Bloom false positives are re-checked, never
  dropped: the sketch only ever *admits* candidates). Bloom is the one
  sketch family: the crawl loops only ever add keys, so a deletable
  sketch has no caller. A long crawl's compacted base is a bucketed
  table (``SeenSet.base``) that joins without shuffling the cumulative
  set.
- per-host politeness is one exchange + window over host; host skew (one
  domain = 30% of rows) puts a hot host's rows on one reducer.
- robots evaluation (RFC 9309) is one equi-join on host against the rules
  grouped per host; the most specific matching rule is picked by an array
  expression over the host's rules, with no window.
- no caller sets a join hint: every small-side join (robots, budgets, the
  recent seen deltas) is left to AQE and ``autoBroadcastJoinThreshold``,
  which broadcast from the measured runtime size.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Sc12: URL canonicalization (RFC 3986-flavored, deterministic, built-ins only)
# ---------------------------------------------------------------------------

_DEFAULT_PORTS = {"http": "80", "https": "443"}


def canonicalize_url(url: Column) -> Column:
    """Canonical URL as a Column expression (JVM-side, codegen'd):

    - strip surrounding whitespace
    - lowercase scheme and host (userinfo untouched)
    - strip fragment
    - strip default port (http:80, https:443)
    - empty path → "/"

    This is THE hot kernel of the frontier (every candidate and every seen
    key passes through it); stage profiling measured the earlier
    regex-component form at ~110 µs/URL — regexp dominated the whole crawl
    round's CPU. This form uses only cheap string primitives (locate /
    substring / substring_index / endswith), with a single short ``rlike``
    on the already-extracted scheme token to keep the reference's
    scheme-charset rule. Semantics are pinned by tests/test_frontier.py
    CANON_CASES and the url_canonicalize oracle.

    PLANNING NOTE: this is a large expression tree (~2k nodes after internal
    reuse duplication). Never compose it inline into another multi-reference
    expression (e.g. ``url_host(canonicalize_url(u))``) — each reference
    re-substitutes the whole tree and Catalyst analysis goes superlinear
    (measured 4 MB plan / ~18s). Materialize ``canon_url`` as a column
    first (as with_canonical does), then derive host/path/hash from the
    attribute; CollapseProject will not re-inline multi-referenced
    non-cheap expressions.
    """
    # defrag BEFORE trim ('' stays ''): a fragment preceded by whitespace
    # ("u #frag") would otherwise leave a trailing space the second pass
    # trims — breaking the idempotence fixed point (hypothesis-found)
    u0 = F.trim(F.substring_index(url, "#", 1))
    sep = F.instr(u0, "://")
    scheme_raw = F.substring(u0, 1, sep - 1)
    scheme_ok = (sep > 0) & scheme_raw.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*$")
    scheme = F.lower(scheme_raw)
    after = F.substring(u0, sep + 3, F.lit(1 << 30))
    # authority ends at the first '/' or '?' ('#' already stripped)
    slash = F.locate("/", after)
    qm = F.locate("?", after)
    cut = (
        F.when((slash > 0) & ((qm == 0) | (slash < qm)), slash)
        .when(qm > 0, qm)
        .otherwise(F.lit(0))
    )
    auth = F.lower(F.when(cut > 0, F.substring(after, 1, cut - 1)).otherwise(after))
    rest = F.when(cut > 0, F.substring(after, cut, F.lit(1 << 30))).otherwise(
        F.lit("/")  # no path/query at all → "/"
    )
    # strip default port (auth is host[:port] — ':80$' can only be the port)
    auth = (
        F.when(
            (scheme == "http") & auth.endswith(":80"),
            F.substring(auth, 1, F.length(auth) - 3),
        )
        .when(
            (scheme == "https") & auth.endswith(":443"),
            F.substring(auth, 1, F.length(auth) - 4),
        )
        .otherwise(auth)
    )
    # scheme-less input keeps the reference quirk: "://" + input unchanged —
    # but an input already carrying the marker is a canonical output and
    # stays fixed (idempotence: canonicalize∘canonicalize = canonicalize,
    # pinned by tests/test_properties.py; without this, re-keying an
    # already-canonical seen table would corrupt membership)
    return F.when(
        ~scheme_ok,
        F.when(u0.startswith("://"), u0).otherwise(F.concat(F.lit("://"), u0)),
    ).otherwise(F.concat(scheme, F.lit("://"), auth, rest))


# tracking parameters every curation pipeline strips before URL dedup:
# the utm_* campaign family by prefix plus the common click-id params
TRACKING_PARAMS = (
    "gclid", "fbclid", "msclkid", "yclid", "igshid", "mc_cid", "mc_eid",
    "wbraid", "gbraid", "_ga", "twclid", "dclid",
)


def normalize_query(
    url: Column,
    drop_tracking: bool = True,
    sort_params: bool = True,
    tracking_params: tuple[str, ...] = TRACKING_PARAMS,
) -> Column:
    """Query-string normalization for URL dedup — the step after
    :func:`canonicalize_url` that collapses tracking-decorated and
    param-order variants of one resource: drop ``utm_*`` and click-id
    parameters (``tracking_params``), byte-sort the survivors, and drop a
    now-empty ``?``. ``http://h/p?b=2&utm_source=x&a=1`` →
    ``http://h/p?a=1&b=2``.

    NOT part of canonicalize_url itself: RFC 3986 says query order is
    significant, so this is an OPT-IN dedup key (pass the output to
    url_hash / dedup_url_latest), not the fetch identity.

    Expects defragged input (canonical URLs have no fragment — a '#'
    would ride the last parameter). Empty segments (``a&&b``) are
    dropped. Pure Column algebra — split/filter/array_sort inside
    codegen, no shuffle, RE-free so the DuckDB oracle mirrors it
    verbatim."""
    qpos = F.instr(url, "?")
    base = F.substring(url, 1, qpos - 1)
    qs = F.substring(url, qpos + 1, F.lit(1 << 30))
    params = F.split(qs, "&", -1)

    def keep(p: Column) -> Column:
        k = F.lower(F.substring_index(p, "=", 1))
        is_tracking = k.startswith("utm_") | k.isin(*tracking_params)
        nonempty = F.length(p) > 0
        return nonempty & ~is_tracking if drop_tracking else nonempty

    kept = F.filter(params, keep)
    kept = F.array_sort(kept) if sort_params else kept
    rebuilt = F.when(F.size(kept) == 0, base).otherwise(
        F.concat(base, F.lit("?"), F.array_join(kept, "&"))
    )
    return F.when(qpos == 0, url).otherwise(rebuilt)


def _split_authority(canon_url: Column) -> tuple[Column, Column, Column]:
    """(scheme_ok, authority, rest) via string primitives — shared hot-path
    skeleton for url_host/url_path (same cost rationale as
    canonicalize_url; a canonical URL has no fragment)."""
    sep = F.instr(canon_url, "://")
    scheme_ok = (sep > 0) & F.substring(canon_url, 1, sep - 1).rlike(
        r"^[a-z][a-z0-9+.-]*$"
    )
    after = F.substring(canon_url, sep + 3, F.lit(1 << 30))
    slash = F.locate("/", after)
    qm = F.locate("?", after)
    cut = (
        F.when((slash > 0) & ((qm == 0) | (slash < qm)), slash)
        .when(qm > 0, qm)
        .otherwise(F.lit(0))
    )
    auth = F.when(cut > 0, F.substring(after, 1, cut - 1)).otherwise(after)
    rest = F.when(cut > 0, F.substring(after, cut, F.lit(1 << 30))).otherwise(F.lit(""))
    return scheme_ok, auth, rest


def url_host(canon_url: Column) -> Column:
    """Lowercase host (no port, no userinfo) of a canonical URL; NULL in →
    NULL out (a NULL-url row must stay null-excluded downstream, not group
    under host '')."""
    scheme_ok, auth, _ = _split_authority(canon_url)
    no_user = F.substring_index(auth, "@", -1)
    host = F.regexp_replace(no_user, r":[0-9]+$", "")  # short-token regex
    return F.when(canon_url.isNull(), F.lit(None).cast("string")).when(
        scheme_ok, host
    ).otherwise(F.lit(""))


def url_path(canon_url: Column) -> Column:
    """Path component (leading /, no query/fragment); empty → "/";
    NULL in → NULL out."""
    scheme_ok, _, rest = _split_authority(canon_url)
    p = F.when(
        scheme_ok & rest.startswith("/"), F.substring_index(rest, "?", 1)
    ).otherwise(F.lit(""))
    return F.when(canon_url.isNull(), F.lit(None).cast("string")).when(
        p == "", F.lit("/")
    ).otherwise(p)


def url_hash(canon_url: Column) -> Column:
    """Sc13: 64-bit URL identity — Spark's built-in xxhash64 (JVM, codegen).

    This is the frontier's join/partition key: 8 bytes instead of a ~80-byte
    string on every shuffle at 10^10 scale. Exactness is preserved because
    every hash-based decision is confirmed against canon_url (see
    seen-set anti-join which carries both)."""
    return F.xxhash64(canon_url)


_CANON_TMP = (
    "_u0", "_sep", "_scheme_raw", "_after", "_slash", "_qm", "_cut",
    "_auth0", "_rest", "_scheme", "_scheme_ok", "_auth",
)


def _jvm_token() -> tuple:
    """Identity of the live JVM-side context, for memoizing Column trees.
    Unresolved Columns wrap java objects: reusable across DataFrames of one
    context, dead after a context restart — so caches key on this."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    return (id(sc), sc.applicationId if sc is not None else None)


def _canon_stage_levels(url_col: str, out_col: str) -> tuple:
    """Level-grouped staged columns for with_canon_url: each dict is one
    withColumns() projection; a level only references columns from earlier
    levels, so the chain is 8 analysis passes instead of 13 (driver plan
    analysis is the measured fixed cost of a warm crawl round)."""
    port80 = F.col("_scheme").eqNullSafe("http") & F.col("_auth0").endswith(":80")
    port443 = F.col("_scheme").eqNullSafe("https") & F.col("_auth0").endswith(":443")
    canon = F.when(
        ~F.col("_scheme_ok"),
        F.when(F.col("_u0").startswith("://"), F.col("_u0")).otherwise(
            F.concat(F.lit("://"), F.col("_u0"))
        ),
    ).otherwise(
        F.concat(F.col("_scheme"), F.lit("://"), F.col("_auth"), F.col("_rest"))
    )
    return (
        # defrag-then-trim, same order as canonicalize_url (idempotence)
        {"_u0": F.trim(F.substring_index(F.col(url_col), "#", 1))},
        {"_sep": F.instr(F.col("_u0"), "://")},
        {
            "_scheme_raw": F.col("_u0").substr(F.lit(1), F.col("_sep") - 1),
            "_after": F.col("_u0").substr(F.col("_sep") + 3, F.lit(1 << 30)),
        },
        {
            "_slash": F.locate("/", F.col("_after")),
            "_qm": F.locate("?", F.col("_after")),
            "_scheme": F.lower(F.col("_scheme_raw")),
            "_scheme_ok": (F.col("_sep") > 0)
            & F.col("_scheme_raw").rlike(r"^[A-Za-z][A-Za-z0-9+.-]*$"),
        },
        {
            "_cut": F.when(
                (F.col("_slash") > 0)
                & ((F.col("_qm") == 0) | (F.col("_slash") < F.col("_qm"))),
                F.col("_slash"),
            )
            .when(F.col("_qm") > 0, F.col("_qm"))
            .otherwise(F.lit(0))
        },
        {
            "_auth0": F.lower(
                F.when(
                    F.col("_cut") > 0,
                    F.col("_after").substr(F.lit(1), F.col("_cut") - 1),
                ).otherwise(F.col("_after"))
            ),
            "_rest": F.when(
                F.col("_cut") > 0,
                F.col("_after").substr(F.col("_cut"), F.lit(1 << 30)),
            ).otherwise(F.lit("/")),
        },
        {
            "_auth": F.when(
                port80, F.col("_auth0").substr(F.lit(1), F.length("_auth0") - 3)
            )
            .when(port443, F.col("_auth0").substr(F.lit(1), F.length("_auth0") - 4))
            .otherwise(F.col("_auth0"))
        },
        {out_col: canon},
    )


_COL_TREE_CACHE: dict = {}


def _memo_levels(kind: str, builder, *params) -> tuple:
    """Per-JVM memo of staged Column-tree levels: rebuilding these is
    hundreds of py4j round-trips per crawl round (measured ~1s serial
    driver time at 16 cores), for byte-identical unresolved expressions."""
    key = (kind, params, _jvm_token())
    hit = _COL_TREE_CACHE.get(key)
    if hit is None:
        # drop trees from dead JVMs so the cache never grows unbounded
        for k in [k for k in _COL_TREE_CACHE if k[2] != key[2]]:
            del _COL_TREE_CACHE[k]
        hit = _COL_TREE_CACHE[key] = builder(*params)
    return hit


def with_canon_url(
    urls: DataFrame, url_col: str = "url", out_col: str = "canon_url"
) -> DataFrame:
    """canonicalize_url as a STAGED multi-project pipeline — same semantics
    (equivalence pinned by tests), different codegen shape.

    Why it exists: the single-expression form's internals (u0 → after →
    auth) substitute into every reference, so its generated code grows
    multiplicatively and the whole-stage-codegen method blows the JVM's
    64 KB limit — Spark then silently falls back to interpreted evaluation
    for the frontier's hottest stage (the Janino "Code grows beyond 64 KB"
    stack in the r2 bench tail). Staging each intermediate as a real column
    makes codegen evaluate it ONCE via an attribute reference;
    CollapseProject keeps multi-referenced non-cheap aliases staged, so the
    shape survives optimization. Guard: tests/test_plans.py asserts the
    frontier pipeline compiles with codegen fallback disabled.

    Driver-cost shape (r4): the stages land as level-grouped
    ``withColumns`` projections with memoized Column trees — 8 analysis
    passes and zero py4j expression rebuilding on warm rounds, which is
    where the fixed driver cost of an iterative crawl went (see
    BENCH/BASELINE.md session N)."""
    from wbx.textops import assert_staging_free

    assert_staging_free(urls, _CANON_TMP, "with_canon_url")
    df = urls
    for level in _memo_levels("canon", _canon_stage_levels, url_col, out_col):
        df = df.withColumns(level)
    return df.drop(*_CANON_TMP)


def _auth_stage_levels(src: str) -> tuple:
    """Level-grouped staged columns for _with_authority_stages (same
    memoized-withColumns rationale as _canon_stage_levels)."""
    return (
        {"_fsep": F.instr(F.col(src), "://")},
        {
            "_fscheme_ok": (F.col("_fsep") > 0)
            & F.col(src)
            .substr(F.lit(1), F.col("_fsep") - 1)
            .rlike(r"^[a-z][a-z0-9+.-]*$"),
            "_fafter": F.col(src).substr(F.col("_fsep") + 3, F.lit(1 << 30)),
        },
        {
            "_fslash": F.locate("/", F.col("_fafter")),
            "_fqm": F.locate("?", F.col("_fafter")),
        },
        {
            "_fcut": F.when(
                (F.col("_fslash") > 0)
                & ((F.col("_fqm") == 0) | (F.col("_fslash") < F.col("_fqm"))),
                F.col("_fslash"),
            )
            .when(F.col("_fqm") > 0, F.col("_fqm"))
            .otherwise(F.lit(0))
        },
    )


def _with_authority_stages(df: DataFrame, src: str) -> DataFrame:
    """Shared staged skeleton for with_url_host / with_url_path: each
    intermediate of _split_authority becomes a real column (computed once,
    referenced as an attribute) instead of a duplicated subtree.

    Why staging again (see with_canon_url): the expression forms
    url_host/url_path re-substitute `after`/`cut` into every reference and
    codegen re-evaluates them per reference — measured 7-16s for url_path
    ALONE over 3M cached rows at local[16], i.e. the dominant cost of the
    whole robots phase. The staged form is one pass per intermediate."""
    from wbx.textops import assert_staging_free

    assert_staging_free(df, tuple(_AUTH_TMP), "with_url_host/with_url_path")
    for level in _memo_levels("auth", _auth_stage_levels, src):
        df = df.withColumns(level)
    return df


_AUTH_TMP = ["_fsep", "_fscheme_ok", "_fafter", "_fslash", "_fqm", "_fcut"]


def _host_tail_levels(src: str, out: str) -> tuple:
    return (
        {
            "_fauth": F.when(
                F.col("_fcut") > 0,
                F.col("_fafter").substr(F.lit(1), F.col("_fcut") - 1),
            ).otherwise(F.col("_fafter"))
        },
        {
            out: F.when(F.col(src).isNull(), F.lit(None).cast("string"))
            .when(
                F.col("_fscheme_ok"),
                F.regexp_replace(
                    F.substring_index(F.col("_fauth"), "@", -1), r":[0-9]+$", ""
                ),
            )
            .otherwise(F.lit(""))
        },
    )


def with_url_host(
    df: DataFrame, src: str = "canon_url", out: str = "host"
) -> DataFrame:
    """url_host as a staged multi-project pipeline (hot-path form; semantics
    identical to the url_host expression — equivalence pinned by tests)."""
    df = _with_authority_stages(df, src)
    for level in _memo_levels("host_tail", _host_tail_levels, src, out):
        df = df.withColumns(level)
    return df.drop(*_AUTH_TMP, "_fauth")


def _path_tail_levels(src: str, out: str) -> tuple:
    return (
        {
            "_frest": F.when(
                F.col("_fcut") > 0,
                F.col("_fafter").substr(F.col("_fcut"), F.lit(1 << 30)),
            ).otherwise(F.lit(""))
        },
        {
            "_fp": F.when(
                F.col("_fscheme_ok") & F.col("_frest").startswith("/"),
                F.substring_index(F.col("_frest"), "?", 1),
            ).otherwise(F.lit(""))
        },
        {
            out: F.when(F.col(src).isNull(), F.lit(None).cast("string"))
            .when(F.col("_fp") == "", F.lit("/"))
            .otherwise(F.col("_fp"))
        },
    )


def with_url_path(
    df: DataFrame, src: str = "canon_url", out: str = "path"
) -> DataFrame:
    """url_path as a staged multi-project pipeline (hot-path form; semantics
    identical to the url_path expression — equivalence pinned by tests)."""
    df = _with_authority_stages(df, src)
    for level in _memo_levels("path_tail", _path_tail_levels, src, out):
        df = df.withColumns(level)
    return df.drop(*_AUTH_TMP, "_frest", "_fp")


def with_canonical(urls: DataFrame, url_col: str = "url") -> DataFrame:
    return with_url_host(
        with_canon_url(urls, url_col).withColumn(
            "url_hash", url_hash(F.col("canon_url"))
        )
    )


def dedup_url_latest(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Snapshot dedup over the input_hint pages table: canonicalize URLs
    (two crawls of HTTP://Ex.com/a#frag and http://ex.com:80/a are the same
    page) and keep exactly the LATEST capture of each canonical URL —
    max (warc_ts, url), a total order so ties on timestamp break
    deterministically by the raw url string.

    Scale shape (the late-fetch rule): the winner aggregation shuffles only
    (canon_url, warc_ts, url) — html/text never ride the exchange — and the
    surviving rows are fetched back with an equi-join on (url, warc_ts),
    broadcast-able when the winner set is small and AQE-planned otherwise.

    Full-duplicate guard: if the pages table holds two captures with
    identical raw url AND timestamp, the late-fetch join would return both
    and the output would not be unique per canon_url. A per-capture digest
    over every column (computed map-side on the join branch, which reads
    all columns anyway — the pruned scan on the agg branch is untouched)
    breaks the tie deterministically: min digest wins, byte-identical
    clones collapse to one row. The tie-break window runs on the join keys,
    which the sort-merge join output is already partitioned and sorted by,
    so it adds no exchange in the non-broadcast plan.

    Returns the surviving pages rows plus canon_url and n_snapshots."""
    canon = with_canon_url(pages.select(url_col, "warc_ts"), url_col)
    winners = canon.groupBy("canon_url").agg(
        F.max(F.struct("warc_ts", F.col(url_col).alias("u"))).alias("_w"),
        F.count("*").alias("n_snapshots"),
    )
    keys = winners.select(
        "canon_url",
        F.col("_w")["warc_ts"].alias("warc_ts"),
        F.col("_w")["u"].alias(url_col),
        "n_snapshots",
    )
    pg = pages.withColumn(
        "_cap", F.xxhash64(*[F.col(c) for c in pages.columns])
    )
    w = Window.partitionBy(url_col, "warc_ts").orderBy("_cap")
    return (
        keys.join(pg, [url_col, "warc_ts"], "inner")
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_cap")
    )


# ---------------------------------------------------------------------------
# J4: seen-set membership (partitioned Bloom pre-filter + exact anti-join)
# ---------------------------------------------------------------------------

_BLOOM_HASHES = 7
# total filter bytes the driver is willing to collect + broadcast (a
# broadcast-hash join keeps the membership check map-side and
# shuffle-free); beyond this the filters are shuffled to their hash ranges
_BLOOM_BROADCAST_MAX_BYTES = 64 << 20


def bloom_positions(url_hash: Column, m) -> list[Column]:
    """The k probe positions of one key: ``pmod(xxhash64(url_hash, i), m)``.

    Pure Column expressions (whole-stage codegen) — THE defining property of
    this sketch: the per-candidate membership check never leaves the JVM.
    (The r3 first cut tagged candidates in an Arrow pandas stage; measured
    at 16 cores that Python hop cost 2.7x the whole round.) Seeded xxhash64
    probes instead of classic double hashing because Java long overflow is
    an error under ANSI mode — and k independent hashes are statistically
    cleaner anyway. ``m`` may be a Python int or the joined filter row's m
    column."""
    mcol = m if isinstance(m, Column) else F.lit(int(m))
    return [
        F.pmod(F.xxhash64(url_hash, F.lit(i)), mcol) for i in range(_BLOOM_HASHES)
    ]


def empty_seen_bloom(spark) -> DataFrame:
    return spark.createDataFrame([], "bloom_part int, m long, words array<bigint>")


def update_seen_bloom(
    bloom: DataFrame, delta: DataFrame, partitions: int = 64, m: int = 1 << 20
) -> DataFrame:
    """Incrementally OR a round's seen-delta keys into the per-partition
    Bloom filters — the per-round sketch maintenance of the crawl loop.

    Cost is O(|delta| + P word arrays), NEVER a rescan of the cumulative
    seen set (at 10^10 seen URLs a per-round rebuild would dominate the
    round). The probe positions are computed JVM-side (bloom_positions, the
    same expression the membership check uses — one hashing implementation,
    zero cross-language drift); the cogrouped pandas kernel only sets bits,
    so Python touches k small ints per NEW key, never a candidate row.

    ``m`` (bits per partition filter) is the sketch's fixed capacity — size
    it for the expected keys/partition (10^10 URLs / 64 partitions at ~12
    bits/key ≈ 2^31; the 2^20 default suits tests). Saturation only raises
    the false-positive rate — false positives are re-checked exactly, so
    correctness never depends on m. A partition whose stored filter was
    built with a different m raises (the positions would be meaningless).

    r6: fully relational (guide §4.1 — the previous cogrouped pandas
    kernel was the only Python stage of the bloom path; its worker
    round-trip cost more than the whole exact anti-join at bench scale).
    Probe positions explode to (partition, word-index, bit) rows, a
    map-side-combinable bit_or collapses them to one row per touched
    64-bit word, and the dense word array is rebuilt per partition by a
    transform over the word-index sequence OR-ing the stored filter with
    the delta map — all inside codegen, bit-identical to the numpy form
    (same seeded-xxhash positions, same two's-complement words)."""
    m = max(64, (int(m) + 63) // 64 * 64)
    nwords = m // 64
    pos = F.explode(F.array(*bloom_positions(F.col("url_hash"), m))).alias("_pos")
    bits = delta.select(
        F.pmod(F.col("url_hash"), F.lit(partitions)).cast("int").alias("_bp"), pos
    ).select(
        "_bp",
        F.shiftrightunsigned(F.col("_pos"), 6).cast("int").alias("_idx"),
        F.call_function(
            "shiftleft",
            F.lit(1).cast("long"),
            F.col("_pos").bitwiseAND(F.lit(63)).cast("int"),
        ).alias("_bit"),
    )
    new_words = (
        bits.groupBy("_bp", "_idx")
        .agg(F.bit_or("_bit").alias("_w"))
        .groupBy("_bp")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("_idx"), F.col("_w")))
            ).alias("_new")
        )
    )
    old = bloom.select(
        F.col("bloom_part").alias("_bp"),
        F.col("m").alias("_m"),
        F.col("words").alias("_old"),
    )
    merged = new_words.join(old, "_bp", "full_outer")
    mismatch = F.col("_m").isNotNull() & (F.col("_m") != F.lit(m))
    words_out = F.when(
        mismatch,
        F.raise_error(
            F.format_string(
                "seen-bloom capacity mismatch: stored m=%d, update m=%d",
                F.col("_m"),
                F.lit(m),
            )
        ).cast("array<bigint>"),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), F.lit(nwords - 1)),
            lambda i: F.coalesce(
                F.element_at(F.col("_old"), i + 1), F.lit(0).cast("long")
            ).bitwiseOR(
                F.coalesce(
                    F.element_at(F.col("_new"), i), F.lit(0).cast("long")
                )
            ),
        )
    )
    return merged.select(
        F.col("_bp").alias("bloom_part"),
        F.lit(m).cast("long").alias("m"),
        words_out.alias("words"),
    )


def build_seen_bloom(
    seen: DataFrame, partitions: int = 64, bits_per_key: int = 12, m: int | None = None
) -> DataFrame:
    """Per-hash-partition Bloom filters over seen.url_hash:
    (bloom_part int, m long, words array<bigint>). At 10^10 seen URLs a
    single global filter (~14 GB) can't broadcast; per-partition filters are
    loaded only where their hash range is processed. Built as one
    update_seen_bloom pass from empty; ``m`` defaults to ~bits_per_key bits
    per key at the observed count."""
    if m is None:
        n = seen.count()
        m = max(64, (n * bits_per_key // max(partitions, 1) + 63) // 64 * 64)
    return update_seen_bloom(empty_seen_bloom(seen.sparkSession), seen, partitions, m)


def bloom_might_contain(
    candidates: DataFrame, bloom: DataFrame, partitions: int = 64
) -> DataFrame:
    """Adds `_maybe_seen boolean`: False => definitely unseen (Bloom filters
    never produce false negatives); True => must be confirmed exactly.

    Entirely JVM-side: candidates equi-join their hash partition's filter
    row and the k probes are unrolled bit-test Column expressions inside
    whole-stage codegen — no Python anywhere on the per-candidate path.

    The join strategy follows the filters' actual total size: one
    aggregate over the P filter rows, collected when this function is
    called, so building the result runs Spark jobs (2 under AQE: the
    aggregate's shuffle stage and its result). Up to
    _BLOOM_BROADCAST_MAX_BYTES the P filter rows broadcast and the check
    is map-side with NO shuffle at all; beyond it (the 10^10 path) a plain
    shuffle join on the hash partition — each filter row crosses the wire
    once per partition, never the driver. Both
    legs are bit-identical (tested by lowering the threshold)."""
    row = bloom.agg(F.sum("m").alias("bits")).collect()[0]
    broadcast = int(row["bits"] or 0) // 8 <= _BLOOM_BROADCAST_MAX_BYTES
    blm = bloom.select(
        F.col("bloom_part").alias("_bp"),
        F.col("m").alias("_m"),
        F.col("words").alias("_words"),
    )
    if broadcast:
        blm = F.broadcast(blm)
    cand = candidates.withColumn(
        "_bp", F.pmod(F.col("url_hash"), F.lit(partitions)).cast("int")
    )
    probe = None
    for pos in bloom_positions(F.col("url_hash"), F.col("_m")):
        word = F.element_at(
            F.col("_words"), (F.shiftrightunsigned(pos, 6) + 1).cast("int")
        )
        # call_function: the Python shiftleft wrapper only accepts an int
        # shift; the SQL expression takes a column (still codegen'd)
        bit = F.call_function(
            "shiftleft", F.lit(1).cast("long"), pos.bitwiseAND(F.lit(63)).cast("int")
        )
        hit = word.bitwiseAND(bit) != 0
        probe = hit if probe is None else (probe & hit)
    return (
        cand.join(blm, "_bp", "left")
        # missing filter row (empty hash range) => probe is NULL => unseen
        .withColumn("_maybe_seen", F.coalesce(probe, F.lit(False)))
        .drop("_bp", "_m", "_words")
    )


@dataclass(frozen=True)
class SeenSet:
    """A crawl's URL-seen set as one membership input of
    :func:`filter_unseen` and :func:`crawl_round`.

    ``recent``: (url_hash, canon_url) keys; the whole set when ``base`` is
    None, else only the keys added since ``base`` was compacted.
    ``base``: the compacted bucketed base (CheckpointStore.compact_seen),
    or None.
    ``sketch``: per-hash-partition Bloom filters over every key of the set
    (build_seen_bloom / update_seen_bloom), or None. ``partitions``: the
    sketch's hash-partition count.

    CheckpointStore.load_seen_set builds one from a committed store."""

    recent: DataFrame
    base: DataFrame | None = None
    sketch: DataFrame | None = None
    partitions: int = 64


def filter_unseen(candidates: DataFrame, seen: DataFrame | SeenSet) -> DataFrame:
    """Exact frontier ∖ seen: left_anti on (url_hash, canon_url).

    Joining on BOTH the 64-bit hash and the string keeps exactness under
    hash collision; the shuffle key (url_hash) is uniform by construction —
    no skew, no salting needed here. A bare DataFrame is ``SeenSet(seen)``.

    With ``seen.base`` the anti-join chains base then recent
    (:func:`filter_unseen_split`), so the cumulative set joins off its
    bucketed scan without an exchange.

    With ``seen.sketch`` candidates are first tagged by the Bloom sketch
    (filters broadcast while they fit, copartitioned beyond —
    :func:`bloom_might_contain`, whose size aggregate runs when this
    function is called; without a sketch, building runs no job): the
    definitely-unseen majority skips the anti-join entirely and only the
    maybe-seen minority (true hits + false positives) is confirmed
    exactly. The sketch only ever ADMITS candidates to the exact check, so
    the result is bit-identical to the plain anti-join. The tagged set is
    persisted: the definite and maybe branches both consume it, and
    without a shared materialization each would recompute the entire
    upstream pipeline (column pruning rewrites the branches differently,
    so ReuseExchange does not fire; measured 2x the whole round). It is
    registered with the rank-cache release lifecycle (release_rank_caches
    / FIFO-capped backstop)."""
    if isinstance(seen, DataFrame):
        seen = SeenSet(seen)
    if seen.sketch is None:
        return filter_unseen_split(candidates, seen.base, seen.recent)
    from pyspark import StorageLevel

    tagged = bloom_might_contain(candidates, seen.sketch, seen.partitions).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    _register_rank_cache(tagged)
    definite = tagged.filter(~F.col("_maybe_seen")).drop("_maybe_seen")
    maybe = tagged.filter(F.col("_maybe_seen")).drop("_maybe_seen")
    return definite.unionByName(filter_unseen_split(maybe, seen.base, seen.recent))


def filter_unseen_split(
    candidates: DataFrame, seen_base: DataFrame | None, seen_recent: DataFrame
) -> DataFrame:
    """Exact frontier ∖ seen against a COMPACTED seen-set: chained
    anti-joins, base then recent. Identical results to
    ``filter_unseen(candidates, base ∪ recent)`` — an anti-join distributes
    over a union of the right side — pinned by tests. With no base it is
    the plain anti-join against ``seen_recent``.

    Why the split exists (the 10^10-row design point): the plain anti-join
    shuffles the ENTIRE cumulative seen table every round, and that table
    grows with crawl age — at 10^10 keys the seen side alone is ~1 TB of
    exchange per round, dwarfing the candidate batch. With the base stored
    as a Spark bucketed table hash-bucketed by BOTH membership keys
    (CheckpointStore.compact_seen — the Iceberg
    ``bucket(N, ...)`` partition-transform analogue), its scan reports
    HashPartitioning(url_hash, canon_url) — exactly the anti-join's
    required ClusteredDistribution — so the base side joins WITH NO
    EXCHANGE: zero bytes of the cumulative set cross the wire, ever. Only
    the O(batch) candidate side shuffles, and when the bucket count equals
    ``spark.sql.shuffle.partitions`` that shuffle is crawl_round's
    existing dedup exchange (same keys), reused — one exchange for the
    whole dedup+membership pipeline (plan-pinned in tests/test_plans.py).
    The post-compaction deltas ("recent") are small by construction
    (≤ compaction interval × batch size), so AQE broadcasts their
    anti-join once their measured size is under
    ``autoBroadcastJoinThreshold``. Per-round network cost becomes
    O(candidates), constant in crawl age."""
    keys = ["url_hash", "canon_url"]
    recent = seen_recent.select(*keys)
    if seen_base is None:
        return candidates.join(recent, keys, "left_anti")
    base_kept = candidates.join(seen_base.select(*keys), keys, "left_anti")
    return base_kept.join(recent, keys, "left_anti")


# ---------------------------------------------------------------------------
# robots.txt evaluation (RFC 9309: host equi-join + most-specific match)
# ---------------------------------------------------------------------------


def _robots_matched_sections(
    robots_files: DataFrame, host_col: str, body_col: str, user_agent: str
) -> DataFrame:
    """Parsed robots.txt lines annotated with their user-agent section and
    restricted to sections that apply to `user_agent` (or '*').

    Section numbering runs over EVERY field line (including crawl-delay,
    sitemap, unknown extensions): per the REP grouping rule, a User-agent
    line following any non-UA record starts a NEW group, while consecutive
    UA lines share one — dropping non-rule lines before numbering would
    wrongly merge groups separated only by a crawl-delay line."""
    lines = robots_files.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(body_col), "\r?\n")).alias("line_no", "_raw"),
    ).select(
        "host",
        "line_no",
        F.trim(F.substring_index(F.col("_raw"), "#", 1)).alias("_line"),
    ).filter(F.col("_line") != "")
    parsed = lines.select(
        "host",
        "line_no",
        F.lower(F.trim(F.substring_index(F.col("_line"), ":", 1))).alias("field"),
        F.trim(
            F.expr("substring(_line, instr(_line, ':') + 1, 1 << 30)")
        ).alias("value"),
    )
    w = Window.partitionBy("host").orderBy("line_no")
    sec = (
        parsed.withColumn("_is_ua", (F.col("field") == "user-agent").cast("int"))
        .withColumn("_prev_ua", F.lag("_is_ua", 1, 0).over(w))
        .withColumn(
            "_sec",
            F.sum(((F.col("_is_ua") == 1) & (F.col("_prev_ua") == 0)).cast("int")).over(w),
        )
    )
    # REP precedence: the MOST SPECIFIC matching group wins — when any
    # group names `user_agent` exactly, the '*' groups are ignored for
    # that host (a site granting our bot more than the default must not
    # have the '*' rules merged back in). Specificity is per host:
    # exact-match sections score 1, wildcard 0, and only sections at the
    # host's max score survive. With user_agent='*' every match scores 1
    # and the behavior is unchanged. The extra window runs at host ×
    # section cardinality — robots bodies are ≤ ~500 KB by convention.
    spec = F.when(
        F.lower(F.col("value")) == user_agent.lower(), F.lit(1)
    ).otherwise(F.lit(0))
    matched = (
        sec.filter(F.col("field") == "user-agent")
        .filter(F.lower(F.col("value")).isin(user_agent.lower(), "*"))
        .groupBy("host", "_sec")
        .agg(F.max(spec).alias("_spec"))
    )
    whost = Window.partitionBy("host")
    ua_match = (
        matched.withColumn("_hmax", F.max("_spec").over(whost))
        .filter(F.col("_spec") == F.col("_hmax"))
        .select("host", "_sec")
    )
    return sec.join(ua_match, ["host", "_sec"])


def parse_robots_txt(
    robots_files: DataFrame,
    host_col: str = "host",
    body_col: str = "body",
    user_agent: str = "*",
) -> DataFrame:
    """(host, robots.txt text) → the (host, rule_type, path_prefix) rules
    table apply_robots consumes — completing the fetch→parse→evaluate loop
    (north_rule: "robots.txt allow/deny evaluation").

    Standard robots.txt semantics, relationally:
    - group lines into User-agent sections; a section applies when any of
      its User-agent lines is `user_agent` or "*" (grouping rule in
      :func:`_robots_matched_sections`);
    - Allow/Disallow lines yield (allow|deny, path_prefix); empty-path
      Disallow ("Disallow:") means allow-all and is dropped (no rule);
    - comments (#…) and blank lines stripped; field names case-insensitive;
    - crawl-delay is surfaced separately via :func:`parse_crawl_delays`.

    Pure Column expressions over split lines — one explode, no Python. A
    host's robots.txt is ≤ ~500 KB by convention, so the exploded row count
    is bounded per host.
    """
    sec = _robots_matched_sections(robots_files, host_col, body_col, user_agent)
    return (
        sec.filter(F.col("field").isin("allow", "disallow"))
        .select(
            "host",
            F.when(F.col("field") == "allow", F.lit("allow"))
            .otherwise(F.lit("deny"))
            .alias("rule_type"),
            F.col("value").alias("path_prefix"),
        )
        .filter(F.col("path_prefix") != "")  # empty Disallow = no rule
        .distinct()
    )


def parse_crawl_delays(
    robots_files: DataFrame,
    host_col: str = "host",
    body_col: str = "body",
    user_agent: str = "*",
) -> DataFrame:
    """(host, crawl_delay double) from Crawl-delay lines in the sections
    that apply to `user_agent` — another bot's section must not set our
    politeness budget. First matching line per host wins."""
    sec = _robots_matched_sections(robots_files, host_col, body_col, user_agent)
    # try_cast, not cast: under Spark 4's default ANSI mode a malformed value
    # ("Crawl-delay: 10s", common in the wild) would raise CAST_INVALID_INPUT
    # and kill the job — try_cast yields NULL and the isNotNull filter drops it.
    cd = sec.filter(F.col("field") == "crawl-delay").select(
        "host",
        "line_no",
        F.col("value").try_cast("double").alias("crawl_delay"),
    ).filter(F.col("crawl_delay").isNotNull())
    w = Window.partitionBy("host").orderBy("line_no")
    return (
        cd.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("host", "crawl_delay")
    )


def budgets_from_crawl_delays(
    delays: DataFrame,
    round_seconds: float = 60.0,
    min_budget: int = 1,
    max_budget: int = 1000,
) -> DataFrame:
    """(host, crawl_delay) → (host, budget) politeness table: how many
    fetches fit one round at the host's requested delay, clamped to
    [min_budget, max_budget]. Bridges parse_crawl_delays to
    apply_politeness.

    "Crawl-delay: 0" is valid in the wild and means no delay → no limit →
    max_budget; try_divide (not /) keeps ANSI mode from raising
    DIVIDE_BY_ZERO there."""
    raw = F.floor(F.try_divide(F.lit(round_seconds), F.col("crawl_delay")))
    return delays.select(
        "host",
        F.least(
            F.greatest(F.coalesce(raw, F.lit(max_budget)), F.lit(min_budget)),
            F.lit(max_budget),
        )
        .cast("int")
        .alias("budget"),
    )


def budgets_from_history(
    fetch_log: DataFrame,
    base_budget: int = 100,
    min_budget: int = 1,
    max_budget: int = 1000,
    ok_lo: int = 200,
    ok_hi: int = 399,
) -> DataFrame:
    """(host, status) fetch-history rows → (host, budget): adaptive
    politeness that scales each host's next-round budget by its observed
    success rate (2xx/3xx fraction), so hosts that answer mostly 4xx/5xx/
    timeouts decay toward ``min_budget`` instead of burning the round's
    fetch slots. budget = clamp(floor(base_budget × rate)) — floor, not
    round, so both engines agree without a rounding-mode contract.

    Scale shape: one map-side-combinable groupBy on host (count + boolean
    sum) — cardinality #hosts, orders of magnitude under #fetches.
    try_divide keeps ANSI from raising on a host with zero logged fetches
    (can't happen from a groupBy, but the guard is free)."""
    ok = (F.col("status") >= ok_lo) & (F.col("status") <= ok_hi)
    per = fetch_log.groupBy("host").agg(
        F.count("*").alias("_n"), F.sum(ok.cast("int")).alias("_ok")
    )
    raw = F.floor(base_budget * F.try_divide(F.col("_ok"), F.col("_n")))
    return per.select(
        "host",
        F.least(F.greatest(raw, F.lit(min_budget)), F.lit(max_budget))
        .cast("int")
        .alias("budget"),
    )


def combine_budgets(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two (host, budget) politeness tables conservatively: hosts in
    both get the SMALLER budget (both constraints hold — e.g. robots
    Crawl-delay AND adaptive history), hosts in one keep theirs. One
    full-outer join on host (host-cardinality, broadcast-eligible)."""
    bb = b.select(F.col("host").alias("_h2"), F.col("budget").alias("_b2"))
    return (
        a.join(bb, F.col("host") == F.col("_h2"), "full_outer")
        .select(
            F.coalesce(F.col("host"), F.col("_h2")).alias("host"),
            F.least(
                F.coalesce(F.col("budget"), F.col("_b2")),
                F.coalesce(F.col("_b2"), F.col("budget")),
            ).alias("budget"),
        )
    )


def schedule_with_delays(
    batch: DataFrame,
    delays: DataFrame,
    default_delay: float = 0.0,
    order_col: str = "fetch_order",
) -> DataFrame:
    """Attach politeness timing to a scheduled batch: ``host_seq`` (the
    URL's 1-based position within its host, by ``order_col``) and
    ``eta_s`` = (host_seq − 1) × the host's Crawl-delay — the earliest
    politeness-legal dispatch offset within the round. Fetch workers can
    then start each URL at round_start + eta_s and a host requesting
    ``Crawl-delay: 10`` is hit at most every 10 s regardless of executor
    parallelism.

    delays: (host, crawl_delay double) from :func:`parse_crawl_delays`;
    hosts absent from it use ``default_delay``. Deterministic: order_col
    is crawl_round's global total order, so host_seq/eta never depend on
    parallelism. Scale shape: runs POST-politeness, so the per-host window
    is bounded by the round budget (≤ max_budget rows per reducer key, no
    salting needed); the delays join is host-cardinality,
    broadcast-eligible under AQE."""
    w = Window.partitionBy("host").orderBy(order_col)
    d = delays.select(F.col("host").alias("_dhost"), "crawl_delay")
    delay = F.coalesce(F.col("crawl_delay"), F.lit(float(default_delay)))
    return (
        batch.join(d, F.col("host") == F.col("_dhost"), "left")
        .withColumn("host_seq", F.row_number().over(w))
        .withColumn(
            "eta_s", ((F.col("host_seq") - 1) * delay).cast("double")
        )
        .drop("_dhost", "crawl_delay")
    )


def apply_robots(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """Keep frontier rows allowed by robots rules (RFC 9309 §2.2.2-2.2.3).

    rules: (host, rule_type ∈ {allow, deny}, path_prefix). A pattern
    matches from the start of the URL's path plus query (as Google's
    reference matcher does, so 'Disallow: /*?' blocks query URLs); '*'
    matches any span and a trailing '$' anchors the end. The most specific
    match (longest pattern) wins; tie → allow wins; no matching rule →
    allowed.

    Plan shape (scale-critical): rules are pre-grouped per host and the
    frontier side does ONE equi join on host — no window, no nested-loop;
    the join strategy is AQE's (the rules table is ~#hosts rows at crawl
    scale). The most-specific match is a pure array expression (filter +
    array_max over (pattern_len, is_allow) structs). A rule with a wildcard
    or an anchor carries its pattern split at '*' (``_glob``, built once
    per rule row); a literal rule carries NULL there and matches by
    ``startswith``, so a rules table without wildcards evaluates no glob at
    all. Wildcard rules match without a regex (:func:`_robots_glob_match`):
    robots.txt is untrusted input, and a backtracking matcher is polynomial
    in the path with the rule's star count as the exponent."""
    rules_agg, path_query, allowed = _memo_levels("robots", _robots_exprs)
    rules = robots.groupBy("host").agg(rules_agg)
    f = (
        with_url_path(frontier, out="_path")
        .withColumn("_path", path_query)
        .join(rules, "host", "left")
    )
    return f.filter(allowed).drop("_path", "_rules")


def _robots_exprs() -> tuple[Column, Column, Column]:
    """apply_robots' Column trees — the per-host rules aggregate, the path
    plus query, and the allowed predicate — built once per JVM through
    :func:`_memo_levels`. Rebuilding them is hundreds of py4j round trips:
    planning one apply_robots took ~0.55 s rebuilt and ~0.3 s memoized
    (driver time, 4 vCPUs)."""
    pat = F.col("path_prefix")
    anchored = pat.endswith("$")
    segs = F.split(F.regexp_replace(pat, r"\$$", ""), r"\*", -1)
    stars = F.size(segs) - 1
    # segments found leftmost: all after the first, less an anchored tail
    n_mid = F.greatest(stars - anchored.cast("int"), F.lit(0))
    glob = F.struct(
        segs[0].alias("head"),
        F.filter(F.slice(segs, 2, n_mid), lambda s: s != "").alias("mids"),
        F.when(anchored, F.element_at(segs, -1)).alias("tail"),
        (stars == 0).alias("exact"),
    )
    rules_agg = F.collect_list(
        F.struct(
            "path_prefix",
            "rule_type",
            F.when(pat.contains("*") | anchored, glob).alias("_glob"),
        )
    ).alias("_rules")
    qpos = F.instr(F.col("canon_url"), "?")
    query = F.when(
        qpos > 0, F.col("canon_url").substr(qpos, F.lit(1 << 30))
    ).otherwise(F.lit(""))
    path = F.col("_path")
    matching = F.filter(
        F.col("_rules"),
        lambda r: F.when(r["_glob"].isNull(), path.startswith(r["path_prefix"]))
        .otherwise(_robots_glob_match(path, r["_glob"])),
    )
    best = F.array_max(
        F.transform(
            matching,
            lambda r: F.struct(
                F.length(r["path_prefix"]).alias("l"),
                F.when(r["rule_type"] == "allow", 1).otherwise(0).alias("pref"),
                r["rule_type"].alias("rule_type"),
            ),
        )
    )
    allowed = (
        F.col("_rules").isNull()
        | (F.size(matching) == 0)
        | (best["rule_type"] == "allow")
    )
    return rules_agg, F.concat(path, query), allowed


def _robots_glob_match(path: Column, g: Column) -> Column:
    """Does `path` match the robots pattern `g` — struct(head, mids, tail,
    exact) from apply_robots: the segments around its '*'s, with ``tail``
    NULL unless the pattern ends in '$' and ``exact`` when it has no '*'?

    The head must be a prefix; each middle segment is found leftmost, in
    order, after the previous one (``position``, no backtracking); an
    anchored tail must end the path, after the others. Leftmost placement
    is exact for '*'-only patterns, because it leaves every later segment
    the most room. The work is at most the path length times the pattern
    length, however many stars the rule has."""
    head, tail = g["head"], g["tail"]
    start = F.when(path.startswith(head), F.length(head) + 1).otherwise(0)

    def after(pos: Column, s: Column) -> Column:
        # position() is 0 when s is absent or pos is 0 (an earlier miss),
        # so a miss stays 0 to the end
        i = F.position(s, path, pos)
        return F.when(i > 0, i + F.length(s)).otherwise(0)

    end = F.aggregate(g["mids"], start, after)
    return (
        F.when(tail.isNull(), end > 0)
        .when(g["exact"], path == head)
        .otherwise(
            (end > 0)
            & path.endswith(tail)
            & (F.length(path) - F.length(tail) + 1 >= end)
        )
    )


# ---------------------------------------------------------------------------
# politeness + deterministic priority scheduling
# ---------------------------------------------------------------------------


def apply_politeness(
    frontier: DataFrame,
    hosts: DataFrame,
    default_budget: int = 10,
    key_col: str = "host",
    budget_key: str = "host",
) -> DataFrame:
    """Per-host fetch budget: keep the top-`budget` URLs per host by
    (priority DESC, canon_url ASC) — an explicit total order, so the kept
    set is identical at any parallelism. One exchange on the key, one sort,
    one window.

    hosts: (host, budget). At crawl scale this table is one row per HOST
    (10^7+), so the join strategy is AQE's: it broadcasts the budgets at
    runtime whenever they are actually small.

    ``key_col``/``budget_key``: the frontier-side budget key and the
    matching column name in ``hosts`` — defaults group per host; pass a
    registered-domain column (wbx.domains.apply_domain_politeness) to
    budget whole site operators. The plan is key-agnostic."""
    budgets = hosts.select(F.col(budget_key).alias("_bhost"), "budget")
    f = frontier.join(
        budgets,
        F.col(key_col) == F.col("_bhost"),
        "left",
    ).withColumn("_budget", F.coalesce(F.col("budget"), F.lit(default_budget)))
    w = Window.partitionBy(key_col).orderBy(
        F.col("priority").desc(), F.col("canon_url").asc()
    )
    return (
        f.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= F.col("_budget"))
        .drop("_bhost", "budget", "_budget", "_rank")
    )


# DataFrames persisted by global_rank, released by release_rank_caches().
# One entry per distinct cached plan; run_crawl releases per round, bench
# per query.
_RANK_CACHES: list[DataFrame] = []
# leak backstop for callers that never release (notebooks, direct
# crawl_round users): beyond this many live caches the oldest pair is
# evicted FIFO — correctness is unaffected (an evicted DF just recomputes
# if ever re-read), only the explicit-release fast path is.
_RANK_CACHE_CAP = 8


def release_rank_caches() -> None:
    """Unpersist every DataFrame global_rank has cached since the last
    release. Callers that materialized the ranked batch (wrote it, collected
    it, or committed a checkpoint) own this call — it is what keeps a
    long-lived multi-round crawl from accumulating storage memory (with
    _RANK_CACHE_CAP as the backstop for callers that never do)."""
    while _RANK_CACHES:
        _RANK_CACHES.pop().unpersist()


def _register_rank_cache(df: DataFrame) -> None:
    """Track a persisted DataFrame for release. Spark's CacheManager keeps
    ONE entry for semantically equal plans (persisting a repeat of a cached
    plan is a no-op and reads the first one's entry), so a repeat refreshes
    the existing registration instead of adding a second: a FIFO eviction
    of the older twin would otherwise unpersist the entry the live round
    is reading, and every later repeat would recompute its whole upstream
    (canonicalize, anti-join, robots, politeness) once per consumer."""
    for i, cached in enumerate(_RANK_CACHES):
        if cached.sameSemantics(df):
            _RANK_CACHES.append(_RANK_CACHES.pop(i))
            return
    _RANK_CACHES.append(df)
    while len(_RANK_CACHES) > _RANK_CACHE_CAP:
        _RANK_CACHES.pop(0).unpersist()


# rank buckets: at most this many (and at most defaultParallelism), and this
# many sampled first-key values per bucket for the boundaries
_RANK_MAX_BUCKETS = 256
_RANK_SAMPLE_PER_BUCKET = 100


def global_rank(
    df: DataFrame,
    keys: list[tuple[str, bool]],
    rank_col: str = "fetch_order",
) -> DataFrame:
    """Scalable deterministic global rank over a total order.

    ``keys``: [(column_name, ascending)] — must form a total order (ties
    would make ranks partition-dependent). NULLs order LAST for both
    directions (pinned explicitly; matches DuckDB's default).

    A naive `row_number().over(Window.orderBy(...))` funnels every row
    through ONE reducer — a non-starter at 10^10 rows. Bucketed two-phase
    instead:

      1. each row's ``_rbucket`` = how many boundary values of the FIRST
         sort key it sorts strictly after (see :func:`_bucket_staged`); the
         boundaries are computed from the (persisted) input inside the
         plan, so building the rank runs no Spark job;
      2. rows hash-shuffle ON the bucket and rank locally
         (row_number over Window.partitionBy(_rbucket)) — the bucket
         column satisfies the window's distribution, so this is the single
         full-data exchange of the whole rank;
      3. bucket counts come from a map-side-combinable aggregate over the
         SAME cached input — only ~n_mappers × n_buckets tiny rows cross
         that exchange, never the data — then a single-reducer window over
         ≤ n_buckets count rows forms cumulative offsets, broadcast-joined
         back on the bucket id inside the caller's one action.

    Boundaries affect only partition BALANCE: the rank is offset + local
    position, both pure functions of the data, so it equals the row's
    position in the total order at any parallelism even though the
    boundaries differ. Rows tied on the first key share a bucket; the
    local sort over the full key orders them.

    The input is persisted (registered for :func:`release_rank_caches`;
    run_crawl releases after each round commit) so the expensive upstream
    pipeline (anti-join, robots, politeness) feeds the sample, the counts
    aggregate and the bucket shuffle once — and a repeat of the same plan
    reads it from the cache.
    """
    staged, n_part, worder = _bucket_staged(df, keys)
    counts = staged.groupBy("_rbucket").agg(F.count("*").alias("_n"))
    w_off = Window.orderBy("_rbucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_rbucket", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_offset")
    )
    w_local = Window.partitionBy("_rbucket").orderBy(*worder)
    return (
        staged.repartition(n_part, "_rbucket")
        .withColumn("_lidx", F.row_number().over(w_local))
        .join(F.broadcast(offsets), "_rbucket", "left")
        .withColumn(
            rank_col, F.col("_lidx") + F.coalesce(F.col("_offset"), F.lit(0))
        )
        .drop("_rbucket", "_lidx", "_offset")
    )


def global_prefix_sum(
    df: DataFrame,
    keys: list[tuple[str, bool]],
    weight_col: str,
    out_col: str = "prefix_sum",
    exclusive: bool = True,
) -> DataFrame:
    """Scalable global (exclusive by default) prefix sum of ``weight_col``
    over the total order ``keys`` — global_rank's bucket scheme with SUM
    in place of COUNT: per-bucket weight totals form the broadcast
    offsets, a within-bucket running sum adds the local part. Same
    guarantees as :func:`global_rank` (result independent of bucket
    boundaries/parallelism; one full-data exchange on ``_rbucket``; no job
    at build time). Exclusive means the row's own weight is NOT included —
    i.e. its START offset in the concatenation order, the training-shard
    packing primitive (:func:`wbx.textops.pack_shards`)."""
    staged, n_part, worder = _bucket_staged(df, keys)
    sums = staged.groupBy("_rbucket").agg(
        F.sum(weight_col).cast("long").alias("_n")
    )
    w_off = Window.orderBy("_rbucket").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sums.select(
        "_rbucket", F.coalesce(F.sum("_n").over(w_off), F.lit(0)).alias("_offset")
    )
    w_local = (
        Window.partitionBy("_rbucket")
        .orderBy(*worder)
        .rowsBetween(Window.unboundedPreceding, -1 if exclusive else 0)
    )
    return (
        staged.repartition(n_part, "_rbucket")
        .withColumn(
            "_lsum", F.coalesce(F.sum(weight_col).over(w_local), F.lit(0))
        )
        .join(F.broadcast(offsets), "_rbucket", "left")
        .withColumn(
            out_col,
            (F.col("_lsum") + F.coalesce(F.col("_offset"), F.lit(0))).cast(
                "long"
            ),
        )
        .drop("_rbucket", "_lsum", "_offset")
    )


def _bucket_staged(
    df: DataFrame, keys: list[tuple[str, bool]]
) -> tuple[DataFrame, int, list]:
    """Shared stage-1 of the bucketed two-phase order operators
    (global_rank / global_prefix_sum): persist the input and attach the
    monotone ``_rbucket`` column. Returns (staged df, bucket count, window
    order columns).

    Boundaries, inside the plan, from the FIRST sort key: for a numeric
    key, its approximate quantiles at 1/n_part … (n_part-1)/n_part (one
    aggregate, one exchange); for any other orderable type, up to
    _RANK_SAMPLE_PER_BUCKET × n_part rows sampled by hash — group the rows
    by xxhash64(keys) mod that target, keep each group's first key at the
    group's largest hash — and the sorted sample's evenly spaced elements.
    ``_rbucket`` = size(filter(bounds, b -> key sorts strictly after b));
    NULL keys go past every boundary (last bucket, NULLS LAST in both
    directions), and a NULL array (no non-NULL key) puts every row in
    bucket 0.

    The boundary array is a scalar subquery projected into a column (Spark
    rejects a subquery written inside the lambda itself, not one it
    inlines there). Both consumers of the staged frame (the counts
    aggregate and the bucket shuffle) then share ONE execution of it —
    the final adaptive plan reads it as a ReusedSubquery. A broadcast
    cross join of the same one-row aggregate would run it twice per
    action: each branch's scan of the persisted input is its own
    TableCacheQueryStage, which AQE never reuses, so no exchange above it
    is reused either."""
    from pyspark import StorageLevel
    from pyspark.sql.types import NumericType

    n_part = min(df.sparkSession.sparkContext.defaultParallelism, _RANK_MAX_BUCKETS)
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _register_rank_cache(df)
    worder = [
        F.col(k).asc_nulls_last() if asc else F.col(k).desc_nulls_last()
        for k, asc in keys
    ]
    first_key, first_asc = keys[0]
    key = F.col(first_key)
    if isinstance(df.schema[first_key].dataType, NumericType):
        # the sample below costs one more exchange stage per action
        fracs = F.lit([i / n_part for i in range(1, n_part)])
        bounds = df.agg(F.percentile_approx(key, fracs, F.lit(10000)))
    else:
        a = F.col("_a")
        # the i-th boundary is the sample's element (size × i) div n_part;
        # i = n_part points one past the end, which get() maps to NULL, as
        # it does every index of an empty sample — array_compact drops those
        bounds = (
            df.select(key, F.xxhash64(*[k for k, _ in keys]).alias("_h"))
            .groupBy(F.pmod("_h", F.lit(_RANK_SAMPLE_PER_BUCKET * n_part)))
            .agg(F.max_by(key, "_h").alias("_s"))
            .agg(F.array_sort(F.collect_list("_s")).alias("_a"))
            .select(
                F.array_compact(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(n_part)),
                        lambda i: F.get(a, (F.size(a) * i / n_part).cast("int")),
                    )
                )
            )
        )
    after = (lambda b: key > b) if first_asc else (lambda b: key < b)
    bucket = F.size(F.filter("_rbounds", lambda b: F.coalesce(after(b), key.isNull())))
    staged = (
        df.withColumn("_rbounds", bounds.scalar())
        .withColumn("_rbucket", F.coalesce(bucket, F.lit(0)))
        .drop("_rbounds")
    )
    return staged, n_part, worder


def schedule_fetch_batch(
    frontier: DataFrame,
    batch_size: int | None = None,
) -> DataFrame:
    """Deterministic global fetch order: rank by (priority DESC, canon_url).

    Bucketed two-phase rank (see global_rank); the order is pure
    (priority, canon_url) at any parallelism.
    """
    batch = global_rank(
        frontier, [("priority", False), ("canon_url", True)], "fetch_order"
    )
    if batch_size is not None:
        batch = batch.filter(F.col("fetch_order") <= batch_size)
    return batch


# ---------------------------------------------------------------------------
# one crawl round, end to end
# ---------------------------------------------------------------------------


def crawl_round(
    candidates: DataFrame,
    seen: DataFrame | SeenSet,
    hosts: DataFrame,
    robots: DataFrame | None = None,
    batch_size: int | None = None,
    default_budget: int = 10,
    politeness_scope: str = "host",
) -> DataFrame:
    """candidates(url, priority) → ordered fetch batch.

    canonicalize → seen membership + dedup (max priority per canon_url,
    deterministic) → robots → politeness → deterministic priority order.
    Returns (canon_url, url_hash, host, priority, fetch_order).

    Building the round over a seen set without a sketch runs no Spark
    job: the rank's boundaries are computed inside the plan (see
    global_rank), so the whole round is the caller's one action. A
    ``seen.sketch`` adds the one aggregate :func:`bloom_might_contain`
    collects at build time to size its join (2 jobs under AQE); every
    round of run_crawl and crawl_batch_processor has one. The rank input
    stays persisted until
    :func:`release_rank_caches`, and a repeat of the same round reads it
    from the cache.

    ``seen``: the seen set, a :class:`SeenSet` or a bare (url_hash,
    canon_url) DataFrame (= ``SeenSet(seen)``). Its kind fixes the order of
    the membership and dedup stages; both orders give the same batch,
    because an anti-join keeps or drops all duplicate rows of a group
    together, so max(priority) per group is unchanged:

    - plain (no base, no sketch): the anti-join runs on the raw
      canonicalized rows with a SHUFFLE_HASH hint — the seen side builds a
      per-partition hash table, no sort on either side (guide §3.1;
      per-partition build memory is seen_bytes / shuffle partitions) — and
      the max-priority dedup aggregates after it, reusing the join's
      (url_hash, canon_url) clustering: one exchange, one aggregate pass
      over only the unseen survivors.
    - with a compacted base or a sketch: dedup first, then
      :func:`filter_unseen`. The sketch then probes each canon_url once,
      and the dedup exchange lines up with the bucketed base's
      partitioning, so the cumulative set never shuffles.

    Either way dedup and membership share ONE exchange of the candidate set
    (the dedup groupBy keys are exactly the anti-join keys). `host` is
    functionally dependent on canon_url and is (re)derived as a map
    expression after the exchange instead of riding through it.

    ``robots``: (host, rule_type, path_prefix) rules, e.g. from
    :func:`parse_robots_txt`, evaluated by :func:`apply_robots` (RFC 9309
    '*'/'$' patterns, most specific match wins); None skips robots.

    ``politeness_scope``: 'host' (default — budgets per raw host) or
    'registered_domain' (budgets per eTLD+1 via
    wbx.domains.apply_domain_politeness, so subdomain farms share one
    budget; ``hosts`` is then (domain, budget))."""
    if isinstance(seen, DataFrame):
        seen = SeenSet(seen)
    canon = with_canon_url(candidates.select("url", "priority")).select(
        "canon_url", "priority"
    ).withColumn("url_hash", url_hash(F.col("canon_url")))
    if seen.base is None and seen.sketch is None:
        seen_side = seen.recent.select("url_hash", "canon_url").hint("shuffle_hash")
        kept = canon.join(seen_side, ["url_hash", "canon_url"], "left_anti")
        unseen = kept.groupBy("url_hash", "canon_url").agg(
            F.max("priority").alias("priority")
        )
    else:
        deduped = canon.groupBy("url_hash", "canon_url").agg(
            F.max("priority").alias("priority")
        )
        unseen = filter_unseen(deduped, seen)
    # url_hash is a pure function of canon_url and nothing between the
    # membership stage and the output projection reads it, so it is
    # dropped here and re-derived in the final select instead of riding
    # the politeness and rank exchanges — 8 bytes/row off both (guide
    # §2.3 shuffle fewer bytes). Identical output: same deterministic
    # expression over the same canon_url values.
    unseen = with_url_host(unseen.drop("url_hash"))
    if robots is not None:
        unseen = apply_robots(unseen, robots)
    if politeness_scope == "registered_domain":
        from wbx.domains import apply_domain_politeness

        polite = apply_domain_politeness(unseen, hosts, default_budget)
    elif politeness_scope == "host":
        polite = apply_politeness(unseen, hosts, default_budget)
    else:
        raise ValueError("politeness_scope must be host | registered_domain")
    return schedule_fetch_batch(polite, batch_size).select(
        "canon_url",
        url_hash(F.col("canon_url")).alias("url_hash"),
        "host",
        "priority",
        "fetch_order",
    )


# ---------------------------------------------------------------------------
# sitemap discovery (robots.txt Sitemap: lines + sitemap-XML <loc> entries)
# ---------------------------------------------------------------------------

_SITEMAP_LINE_RE = r"(?m)^\s*[Ss][Ii][Tt][Ee][Mm][Aa][Pp]\s*:\s*(\S+)"
_SITEMAP_LOC_RE = r"(?is)<loc[^>]*>\s*([^<\s][^<]*?)\s*</loc>"


def robots_sitemaps(
    robots_files: DataFrame, host_col: str = "host", body_col: str = "body"
) -> DataFrame:
    """(host, sitemap_url) — every ``Sitemap:`` directive in each host's
    robots.txt. Per the robots spec the directive is section-independent
    (applies regardless of User-agent grouping), so this is a single
    regexp_extract_all over the raw body — no section machinery. The
    discovered URLs seed :func:`parse_sitemap` fetches, closing the
    robots → sitemap → frontier loop."""
    return robots_files.select(
        F.col(host_col).alias("host"),
        F.explode(
            F.regexp_extract_all(F.col(body_col), F.lit(_SITEMAP_LINE_RE), F.lit(1))
        ).alias("sitemap_url"),
    )


def parse_sitemap(
    sitemaps: DataFrame, url_col: str = "sitemap_url", body_col: str = "body"
) -> DataFrame:
    """(sitemap_url, loc) — every ``<loc>`` entry of fetched sitemap XML
    (body: binary). Handles both urlset leaves and sitemapindex files (an
    index's <loc>s are child sitemap URLs — the caller decides whether to
    recurse, exactly like extract_links feeds crawl_round).

    Same robustness contract as extract_links: bytes decode PERMISSIVELY
    (cast + make_valid_utf8 — real sitemap fetches contain invalid UTF-8
    and a strict decode would abort the stage under ANSI mode), whitespace
    inside <loc> is trimmed per the sitemap protocol, and the XML-escaped
    ampersand forms (&amp; &#38; &#x26;) are decoded in ONE alternation
    pass (a regex replace never rescans its own output). Pure per-row
    expressions, no shuffle, no Python."""
    decoded = F.make_valid_utf8(F.col(body_col).cast("string"))
    loc = F.explode(
        F.regexp_extract_all(decoded, F.lit(_SITEMAP_LOC_RE), F.lit(1))
    ).alias("_loc")
    return sitemaps.select(F.col(url_col).alias("sitemap_url"), loc).select(
        "sitemap_url",
        F.regexp_replace(
            F.col("_loc"), r"&amp;|&AMP;|&#0*38;|&#[xX]0*26;", "&"
        ).alias("loc"),
    )


_SITEMAP_URLBLOCK_RE = r"(?is)<url[\s>](.*?)</url>"
_SM_FIELD_RES = {
    "lastmod": r"(?is)<lastmod[^>]*>\s*([^<\s][^<]*?)\s*</lastmod",
    "changefreq": r"(?is)<changefreq[^>]*>\s*([^<\s][^<]*?)\s*</changefreq",
    "priority": r"(?is)<priority[^>]*>\s*([^<\s][^<]*?)\s*</priority",
}

# the sitemap protocol's <changefreq> vocabulary as revisit intervals, for
# feeding revisit_priority-style scheduling; 'always'→0 (every round),
# 'never'→NULL (no time-driven revisit)
CHANGEFREQ_SECONDS = {
    "always": 0,
    "hourly": 3600,
    "daily": 86400,
    "weekly": 604800,
    "monthly": 2592000,
    "yearly": 31536000,
}


def parse_feed(
    feeds: DataFrame, url_col: str = "feed_url", body_col: str = "body"
) -> DataFrame:
    """(feed_url, item_url) — entry links of fetched RSS 2.0 / Atom feed
    XML (body: binary), closing the loop :func:`discover_alternates`
    opens (discover feed → fetch → parse → frontier candidates), exactly
    as robots_sitemaps → parse_sitemap does for sitemaps.

    Scoping contract: RSS links come only from inside ``<item>`` blocks
    and Atom links from inside ``<entry>`` blocks — the channel/feed-level
    ``<link>`` (the site's own homepage) is deliberately NOT a candidate.
    Per block, the item URL is the first ``<link>text</link>`` (RSS) else
    the first ``<link ... href=...>`` whose ``rel`` is absent or
    ``alternate`` (Atom, RFC 4287 §4.2.7.2 — an entry's edit/self/
    enclosure links are not its page); entries with neither are dropped.
    Same robustness contract as parse_sitemap: permissive decode, trimmed
    whitespace, XML-escaped ampersands decoded in one alternation pass.
    Two regexp_extract_all stages (blocks, then one extract per block) —
    the explode carries (feed_url, block), never the whole body; pure
    expressions, no shuffle, no Python."""
    decoded = F.make_valid_utf8(F.col(body_col).cast("string"))
    blocks = F.concat(
        F.regexp_extract_all(decoded, F.lit(r"(?is)<item[\s>](.*?)</item>"), F.lit(1)),
        F.regexp_extract_all(
            decoded, F.lit(r"(?is)<entry[\s>](.*?)</entry>"), F.lit(1)
        ),
    )
    exploded = feeds.select(
        F.col(url_col).alias("feed_url"), F.explode(blocks).alias("_b")
    )

    def nn(c):
        return F.when(c == "", F.lit(None).cast("string")).otherwise(c)

    b = F.col("_b")
    rss = nn(
        F.regexp_extract(b, r"(?is)<link[^>]*>\s*([^<\s][^<]*?)\s*</link>", 1)
    )
    # Atom: the first <link> whose rel is absent or "alternate" (RFC 4287
    # §4.2.7.2, also spelled as its IANA IRI) — edit/self/enclosure links
    # are skipped by the lookahead (possessive quantifiers, so a quote or
    # space cannot be given back to make 'alternate' look like another value)
    atom = nn(
        F.regexp_extract(
            b,
            r"""(?is)<link(?![^>]*\srel\s*+=\s*+(?!["']?"""
            r"""(?:http://www\.iana\.org/assignments/relation/)?alternate["'\s/>]))"""
            r"""[^>]*?href\s*=\s*["']?([^"'\s<>]+)""",
            1,
        )
    )
    item = F.coalesce(rss, atom)
    return exploded.select(
        "feed_url",
        F.regexp_replace(item, r"&amp;|&AMP;|&#0*38;|&#[xX]0*26;", "&").alias(
            "item_url"
        ),
    ).filter(F.col("item_url").isNotNull())


def parse_sitemap_entries(
    sitemaps: DataFrame, url_col: str = "sitemap_url", body_col: str = "body"
) -> DataFrame:
    """(sitemap_url, loc, lastmod, changefreq, priority) — the full
    sitemap-protocol ``<url>`` entry, not just the loc: lastmod (raw W3C
    datetime string — feed try_to_timestamp downstream), changefreq
    (lowercased vocabulary word; map through :data:`CHANGEFREQ_SECONDS`
    for revisit scheduling), and priority (try_cast double — the
    protocol's 0.0–1.0 hint, NULL when absent/garbage, ready to coalesce
    into crawl_round candidate priorities). Entries with no ``<loc>`` are
    dropped; absent fields are NULL.

    Robustness contract as :func:`parse_sitemap` (permissive decode, ONE
    amp-alternation pass on the loc, whitespace trim); the block regex is
    RE2-safe (no lookaround — the non-greedy body is bounded by an
    explicit not-the-closing-tag alternation). Pure per-row expressions:
    one regexp_extract_all + explode, body bytes never exchanged."""
    decoded = F.make_valid_utf8(F.col(body_col).cast("string"))
    staged = sitemaps.select(
        F.col(url_col).alias("sitemap_url"),
        F.explode(
            F.regexp_extract_all(decoded, F.lit(_SITEMAP_URLBLOCK_RE), F.lit(1))
        ).alias("_blk"),
    )

    def nn(c: Column) -> Column:
        return F.when(c == "", F.lit(None).cast("string")).otherwise(c)

    blk = F.col("_blk")
    loc = nn(F.regexp_extract(blk, _SITEMAP_LOC_RE, 1))
    return (
        staged.select(
            "sitemap_url",
            F.regexp_replace(
                loc, r"&amp;|&AMP;|&#0*38;|&#[xX]0*26;", "&"
            ).alias("loc"),
            nn(F.regexp_extract(blk, _SM_FIELD_RES["lastmod"], 1)).alias(
                "lastmod"
            ),
            F.lower(
                nn(F.regexp_extract(blk, _SM_FIELD_RES["changefreq"], 1))
            ).alias("changefreq"),
            nn(F.regexp_extract(blk, _SM_FIELD_RES["priority"], 1))
            .try_cast("double")
            .alias("priority"),
        )
        .filter(F.col("loc").isNotNull())
    )


def sitemap_candidates(
    entries: DataFrame, default_priority: float = 0.5
) -> DataFrame:
    """Sitemap entries → crawl_round candidates (url, priority): the
    protocol's priority hint where declared (clamped to [0,1] — hosts
    lie), else ``default_priority`` (0.5 per the sitemap spec)."""
    p = F.coalesce(F.col("priority"), F.lit(float(default_priority)))
    return entries.select(
        F.col("loc").alias("url"),
        F.least(F.greatest(p, F.lit(0.0)), F.lit(1.0)).alias("priority"),
    )


def feed_candidates(items: DataFrame, priority: float = 0.7) -> DataFrame:
    """:func:`parse_feed` output → crawl_round candidates
    (url, priority). Feeds carry no per-item priority hint, so every item
    gets one flat ``priority`` — defaulted ABOVE sitemap_candidates' 0.5
    because feed entries are the host's declaration of what just changed
    (freshness-biased scheduling, the reason crawlers poll feeds at
    all)."""
    return items.select(
        F.col("item_url").alias("url"),
        F.lit(float(priority)).alias("priority"),
    )


# ---------------------------------------------------------------------------
# link discovery (the expand step: pages -> candidate URLs)
# ---------------------------------------------------------------------------

# One pattern per HTML attribute-quoting form; disjoint by construction
# (the unquoted form's first char class excludes both quotes), so the
# concat of the three match lists has no duplicates. All three are
# RE2-safe (no backrefs/lookaround) so the DuckDB oracle runs them verbatim.
HREF_RE = r'href\s*=\s*"([^"#]*)'
HREF_RE_SQ = r"href\s*=\s*'([^'#]*)"
HREF_RE_UQ = r"""href\s*=\s*([^"'\s<>#][^\s<>#]*)"""


def extract_links(
    pages: DataFrame, base_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(url, link) — one row per resolvable href in the page HTML; the
    discovery half of the crawl loop (feed through with_canonical →
    crawl_round to schedule).

    The html bytes are decoded PERMISSIVELY (binary→string cast, which is
    a byte reinterpretation Spark never validates, then make_valid_utf8
    to replace any ill-formed sequence with U+FFFD). Real crawled pages
    routinely contain invalid UTF-8; a strict F.decode here would abort
    the whole stage under Spark 4's default ANSI mode
    (MALFORMED_CHARACTER_CODING), so the crawl loop must never use it.

    Extraction is one JVM regexp_extract_all per quoting form — double-
    quoted, single-quoted, and unquoted hrefs (the fragment is cut in the
    same patterns) — over the once-decoded html. Resolution handles the
    forms that matter at crawl scale, all as string primitives:

    - absolute http(s) links pass through;
    - protocol-relative ``//host/p`` takes the base's scheme;
    - root-relative ``/p`` takes the base's scheme://host;
    - path-relative ``p`` resolves against the base's directory (the base
      url up to its last '/'); a base with no path at all
      (``http://ex.com``) resolves against ``http://ex.com/`` rather than
      degenerating to the bare scheme;
    - javascript:/mailto:/data:/empty links are dropped.

    '..' segments are NOT normalized (the reference engine never resolves
    dot-segments either; canonicalize_url keeps paths verbatim), so the
    output is deterministic string algebra both engines reproduce exactly.
    Scale: pure per-row expressions, no shuffle, no Python; the html column
    is decoded once per row and never exchanged."""
    decoded = F.make_valid_utf8(F.col(html_col).cast("string"))
    staged = pages.select(F.col(base_col).alias("url"), decoded.alias("_html_s"))
    hrefs = F.concat(
        F.regexp_extract_all("_html_s", F.lit(HREF_RE), F.lit(1)),
        F.regexp_extract_all("_html_s", F.lit(HREF_RE_SQ), F.lit(1)),
        F.regexp_extract_all("_html_s", F.lit(HREF_RE_UQ), F.lit(1)),
    )
    exploded = staged.select("url", F.explode(hrefs).alias("_href"))
    href = F.col("_href")
    resolved = resolve_href(F.col("url"), href)
    keep = (
        (F.length(href) > 0)
        & ~F.lower(href).startswith("javascript:")
        & ~F.lower(href).startswith("mailto:")
        & ~F.lower(href).startswith("data:")
    )
    return exploded.filter(keep).select("url", resolved.alias("link"))


def resolve_href(base: Column, href: Column) -> Column:
    """Resolve ``href`` against the page URL ``base`` — the string algebra
    shared by :func:`extract_links`, :func:`html_canonical_url` and
    :func:`resolve_redirects` (see extract_links for the form inventory:
    absolute / protocol-relative / root-relative / path-relative; dot
    segments deliberately NOT normalized)."""
    scheme = F.substring_index(base, "://", 1)
    host_part = F.concat(
        scheme, F.lit("://"), F.substring_index(F.substring_index(base, "://", -1), "/", 1)
    )
    raw_dir = F.regexp_replace(base, r"[^/]*$", "")
    # Path-less base ("http://ex.com"): stripping after the last '/' leaves
    # just "http://", which would resolve "x.html" to "http://x.html" — the
    # href silently becomes the host. Fall back to the host root instead.
    base_dir = F.when(
        raw_dir == F.concat(scheme, F.lit("://")),
        F.concat(host_part, F.lit("/")),
    ).otherwise(raw_dir)
    lhref = F.lower(href)
    return (
        # scheme match is case-insensitive (HTTP://X is absolute; RFC 3986
        # schemes compare case-insensitively and canonicalize_url lowercases
        # them downstream)
        F.when(lhref.startswith("http://") | lhref.startswith("https://"), href)
        .when(href.startswith("//"), F.concat(scheme, F.lit(":"), href))
        .when(href.startswith("/"), F.concat(host_part, href))
        .otherwise(F.concat(base_dir, href))
    )


# ---------------------------------------------------------------------------
# robots directives inside HTML: <meta name="robots"> + rel="nofollow"
# (REP's page-level half; the reference engine reads archives post-hoc and
# has no counterpart — this is crawl-loop-native semantics every production
# crawler honors. All patterns RE2-safe: no lookaround, no backreferences,
# so the DuckDB oracle can run them verbatim.)
# ---------------------------------------------------------------------------

# both attribute orders occur in real HTML, as with rel=canonical above
META_ROBOTS_NAME_FIRST_RE = (
    r"""(?is)<meta[^>]*?name\s*=\s*["']?robots["'\s/>][^>]*?"""
    r"""content\s*=\s*["']?([^"'>]*)"""
)
META_ROBOTS_CONTENT_FIRST_RE = (
    r"""(?is)<meta[^>]*?content\s*=\s*["']?([^"'>]*?)["']?\s[^>]*?"""
    r"""name\s*=\s*["']?robots["'\s/>]"""
)
# the open tag of every anchor; group 1 is the tag text the per-anchor
# href/rel extraction below runs on ([^>]* keeps each match inside one tag)
ANCHOR_TAG_RE = r"(?is)(<a[\s][^>]*)"
# token match inside a rel attribute value: "nofollow", "external nofollow",
# rel=nofollow (unquoted). [^"'>]* bounds the scan to the attribute value.
REL_NOFOLLOW_RE = r"""(?is)rel\s*=\s*["']?[^"'>]*?\bnofollow\b"""


def _meta_robots_content(decoded: Column) -> Column:
    """The <meta name=robots> content value ('' when the page declares
    none); name-first preferred when both attribute orders match."""
    nf = F.regexp_extract(decoded, META_ROBOTS_NAME_FIRST_RE, 1)
    cf = F.regexp_extract(decoded, META_ROBOTS_CONTENT_FIRST_RE, 1)
    return F.when(nf != "", nf).otherwise(cf)


def page_robots_directives(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(url, noindex boolean, nofollow boolean) — the page-level robots
    meta directives (REP HTML half: ``<meta name="robots"
    content="noindex, nofollow">``). ``none`` means both, per the spec;
    token matching is case-insensitive and delimiter-agnostic (comma or
    space separated). Pages with no robots meta (or an empty/``all``
    content) report false/false.

    Use noindex to gate corpus/index inclusion and nofollow to gate link
    expansion (extract_anchor_links honors it when ``respect_meta``).
    Permissive decode as in :func:`extract_links`. Pure per-row
    expressions — no shuffle, html never exchanged."""
    decoded = F.make_valid_utf8(F.col(html_col).cast("string"))
    content = _meta_robots_content(decoded)
    return pages.select(
        F.col(url_col).alias("url"),
        content.rlike(r"(?i)\b(noindex|none)\b").alias("noindex"),
        content.rlike(r"(?i)\b(nofollow|none)\b").alias("nofollow"),
    )


def extract_anchor_links(
    pages: DataFrame,
    base_col: str = "url",
    html_col: str = "html",
    respect_nofollow: bool = True,
    respect_meta: bool = True,
) -> DataFrame:
    """(url, link) — one row per FOLLOWABLE anchor: like
    :func:`extract_links` but anchor-scoped, so per-link ``rel="nofollow"``
    and the page-level ``<meta name="robots" content="nofollow">`` /
    ``none`` directives are honored (``respect_nofollow`` /
    ``respect_meta``; both default on — the production-crawler contract.
    With both off this differs from extract_links only in scoping hrefs to
    ``<a>`` tags, i.e. ``<link>``/``<area>`` hrefs are not expansion
    candidates).

    Shape: the page html is decoded once (permissively — see
    extract_links), anchors come out of ONE regexp_extract_all, and the
    explode carries only (url, page_nofollow, tag-text) — never the html
    column. Per-tag href extraction coalesces the three quoting forms
    (double-, single-, unquoted) in specificity order; resolution and the
    javascript:/mailto:/data: drops are shared with extract_links via
    :func:`resolve_href`. All regexes RE2-safe for oracle parity."""
    decoded = F.make_valid_utf8(F.col(html_col).cast("string"))
    page_nf = (
        _meta_robots_content(decoded).rlike(r"(?i)\b(nofollow|none)\b")
        if respect_meta
        else F.lit(False)
    )
    staged = pages.select(
        F.col(base_col).alias("url"),
        page_nf.alias("_page_nf"),
        F.regexp_extract_all(decoded, F.lit(ANCHOR_TAG_RE), F.lit(1)).alias(
            "_tags"
        ),
    )
    tags = staged.filter(~F.col("_page_nf")) if respect_meta else staged
    tags = tags.select("url", F.explode("_tags").alias("_tag"))
    if respect_nofollow:
        tags = tags.filter(~F.col("_tag").rlike(REL_NOFOLLOW_RE))

    def nn(c):
        return F.when(c == "", F.lit(None).cast("string")).otherwise(c)

    tag = F.col("_tag")
    href = F.coalesce(
        nn(F.regexp_extract(tag, HREF_RE, 1)),
        nn(F.regexp_extract(tag, HREF_RE_SQ, 1)),
        nn(F.regexp_extract(tag, HREF_RE_UQ, 1)),
    )
    staged2 = tags.select("url", href.alias("_href"))
    h = F.col("_href")
    keep = (
        h.isNotNull()
        & (F.length(h) > 0)
        & ~F.lower(h).startswith("javascript:")
        & ~F.lower(h).startswith("mailto:")
        & ~F.lower(h).startswith("data:")
    )
    return staged2.filter(keep).select(
        "url", resolve_href(F.col("url"), h).alias("link")
    )


# anchor fragment: the open tag PLUS the text run up to the first nested
# tag / closing tag. [^<]* deliberately stops at nested markup — the
# declared contract is "anchor text = the leading text node" (an
# <a><b>bold</b> tail</a> reports 'bold'-less ''), which keeps the
# pattern RE2-safe and oracle-chainable; full rich-text flattening is a
# text-extraction (html_to_text) concern, not a link-signal one.
ANCHOR_FRAG_RE = r"(?is)(<a[\s][^>]*>[^<]*)"


def extract_anchor_texts(
    pages: DataFrame,
    base_col: str = "url",
    html_col: str = "html",
    respect_nofollow: bool = True,
    respect_meta: bool = True,
) -> DataFrame:
    """(url, link, anchor_text) — one row per FOLLOWABLE anchor with its
    visible label: :func:`extract_anchor_links` plus the anchor's leading
    text node, whitespace-normalized (runs collapse to one space,
    trimmed; an anchor whose leading child is markup reports '').
    One deliberate divergence from extract_anchor_links: a TRUNCATED
    open tag (page cut off before its '>') has no text node to report,
    so it yields a link row there but no row here (pinned in tests).

    The anchor-text signal is what search/link-graph pipelines aggregate
    per TARGET url (how the web describes a page — a ranking and
    query-document training signal the page's own text can't provide);
    :func:`anchor_text_summary` is that rollup.

    Scale shape: identical to extract_anchor_links — one
    regexp_extract_all over the page, the explode carries only
    (url, fragment) where a fragment is one open tag + its leading text,
    never the html column; nofollow/meta gates and href quoting forms are
    the same expressions. No shuffle here at all."""
    decoded = F.make_valid_utf8(F.col(html_col).cast("string"))
    page_nf = (
        _meta_robots_content(decoded).rlike(r"(?i)\b(nofollow|none)\b")
        if respect_meta
        else F.lit(False)
    )
    staged = pages.select(
        F.col(base_col).alias("url"),
        page_nf.alias("_page_nf"),
        F.regexp_extract_all(decoded, F.lit(ANCHOR_FRAG_RE), F.lit(1)).alias(
            "_frags"
        ),
    )
    frags = staged.filter(~F.col("_page_nf")) if respect_meta else staged
    frags = frags.select("url", F.explode("_frags").alias("_frag"))
    tag = F.regexp_extract(F.col("_frag"), r"(?is)^(<a[\s][^>]*>)", 1)
    text = F.regexp_extract(F.col("_frag"), r"(?is)^<a[\s][^>]*>([^<]*)", 1)
    frags = frags.select("url", tag.alias("_tag"), text.alias("_text"))
    if respect_nofollow:
        frags = frags.filter(~F.col("_tag").rlike(REL_NOFOLLOW_RE))

    def nn(c):
        return F.when(c == "", F.lit(None).cast("string")).otherwise(c)

    t = F.col("_tag")
    href = F.coalesce(
        nn(F.regexp_extract(t, HREF_RE, 1)),
        nn(F.regexp_extract(t, HREF_RE_SQ, 1)),
        nn(F.regexp_extract(t, HREF_RE_UQ, 1)),
    )
    norm = F.trim(F.regexp_replace(F.col("_text"), r"\s+", " "))
    staged2 = frags.select("url", href.alias("_href"), norm.alias("anchor_text"))
    h = F.col("_href")
    keep = (
        h.isNotNull()
        & (F.length(h) > 0)
        & ~F.lower(h).startswith("javascript:")
        & ~F.lower(h).startswith("mailto:")
        & ~F.lower(h).startswith("data:")
    )
    return staged2.filter(keep).select(
        "url", resolve_href(F.col("url"), h).alias("link"), "anchor_text"
    )


def anchor_text_summary(anchors: DataFrame) -> DataFrame:
    """Per-TARGET anchor rollup over extract_anchor_texts output:
    (link, n_anchors, n_texts, top_text) — how many followable anchors
    point at each url, how many distinct labels the web uses for it, and
    the most common label (ties break to the lexicographically smallest —
    deterministic at any parallelism).

    Scale shape: the VOLUME-bearing aggregate — raw anchor rows down to
    per-(link, text) counts, the 10^10-row side — is a pure
    HashAggregate with map-side partial counting, shuffling only
    (link, anchor_text) short strings (plan-guarded). The top-text pick
    then runs on the already-reduced distinct (link, text) set as min()
    of ONE sortable string key (text prefixed with the zero-padded
    DESCENDING count, so string-min == count desc, text asc); a string
    extremum is inherently SortAggregate in Spark, but it is still
    map-side combinable (partial_min before the exchange) and its input
    is the reduced set, not the anchor volume — and one packed key beats
    a window (no second pass, no per-link row_number sort of its own)."""
    per_text = anchors.groupBy("link", "anchor_text").agg(
        F.count("*").alias("_n")
    )
    # 12 digits bounds per-(link,text) counts at 10^12-1; inverted so the
    # lexicographic min is the largest count, then smallest text
    key = F.concat(
        F.lpad((F.lit(10**12 - 1) - F.col("_n")).cast("string"), 12, "0"),
        F.col("anchor_text"),
    )
    return (
        per_text.groupBy("link")
        .agg(
            F.sum("_n").cast("long").alias("n_anchors"),
            F.count("*").cast("long").alias("n_texts"),
            F.min(key).alias("_k"),
        )
        .select(
            "link",
            "n_anchors",
            "n_texts",
            F.substring(F.col("_k"), 13, 2**30).alias("top_text"),
        )
    )


# rel=canonical discovery: both attribute orders occur in real HTML; the
# patterns are RE2-safe (no lookaround/backreferences) so the DuckDB oracle
# can chain them verbatim, and [^>] bounds keep each match inside one tag.
CANONICAL_REL_FIRST_RE = (
    r"""(?is)<link[^>]*?rel\s*=\s*["']?canonical[^>]*?href\s*=\s*["']?([^"'\s<>]+)"""
)
CANONICAL_HREF_FIRST_RE = (
    r"""(?is)<link[^>]*?href\s*=\s*["']?([^"'\s<>]+)["']?[^>]*?rel\s*=\s*["']?canonical"""
)


def html_canonical_url(
    pages: DataFrame, url_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(url, canonical) — the page's declared ``<link rel="canonical">``
    target resolved against the page URL; NULL when the page declares none
    (or declares a non-fetchable scheme). Permissive decode as in
    :func:`extract_links`; rel-before-href is preferred when both attribute
    orders somehow match. Pure per-row string algebra — no shuffle, html
    never exchanged."""
    decoded = F.make_valid_utf8(F.col(html_col).cast("string"))

    def nn(c):
        return F.when(c == "", F.lit(None).cast("string")).otherwise(c)

    href = F.coalesce(
        nn(F.regexp_extract(decoded, CANONICAL_REL_FIRST_RE, 1)),
        nn(F.regexp_extract(decoded, CANONICAL_HREF_FIRST_RE, 1)),
    )
    ok = (
        href.isNotNull()
        & ~F.lower(href).startswith("javascript:")
        & ~F.lower(href).startswith("mailto:")
        & ~F.lower(href).startswith("data:")
    )
    resolved = F.when(ok, resolve_href(F.col(url_col), href))
    return pages.select(F.col(url_col).alias("url"), resolved.alias("canonical"))


# <link rel=alternate> discovery: one tag-scoped pass like the anchor
# extractors. LINK_TAG_RE mirrors ANCHOR_TAG_RE; REL_ALTERNATE_RE mirrors
# REL_NOFOLLOW_RE's token-in-attribute-value shape. hreflang values are
# BCP 47 tags and feed types are MIME names, so one unquoted-tolerant
# character-class pattern each covers all three quoting forms. RE2-safe.
LINK_TAG_RE = r"(?is)(<link[\s][^>]*)"
REL_ALTERNATE_RE = r"""(?is)rel\s*=\s*["']?[^"'>]*?\balternate\b"""
HREFLANG_RE = r"""(?is)hreflang\s*=\s*["']?([A-Za-z0-9-]+)"""
LINK_TYPE_RE = r"""(?is)type\s*=\s*["']?([A-Za-z0-9/+.-]+)"""
FEED_TYPES = ("application/rss+xml", "application/atom+xml")


def discover_alternates(
    pages: DataFrame, base_col: str = "url", html_col: str = "html"
) -> DataFrame:
    """(url, rel_type, alt, link) — the two ``<link rel="alternate">``
    discovery signals a production crawl consumes:

    - rel_type='hreflang': language/region editions (alt = the lowercased
      BCP 47 tag, link = resolved href) — the cluster key multilingual
      corpus pipelines use to balance or dedup language editions of the
      same page;
    - rel_type='feed': RSS/Atom autodiscovery (alt = lowercased MIME
      type, link = resolved feed URL) — feed URLs are high-yield crawl
      seeds next to sitemaps.

    A rel=alternate link with neither an hreflang attribute nor a feed
    MIME type (e.g. ``type="text/html"`` mobile alternates) is not
    emitted. Tags are scoped like extract_anchor_texts: one
    regexp_extract_all over the page, the explode carries only
    (url, tag text) — never html; hreflang casing is normalized (BCP 47
    is case-insensitive); href quoting/resolution/drops shared with
    extract_links via the HREF_RE family and :func:`resolve_href`. Pure
    per-row expressions, no shuffle."""
    decoded = F.make_valid_utf8(F.col(html_col).cast("string"))
    tags = pages.select(
        F.col(base_col).alias("url"),
        F.explode(
            F.regexp_extract_all(decoded, F.lit(LINK_TAG_RE), F.lit(1))
        ).alias("_tag"),
    ).filter(F.col("_tag").rlike(REL_ALTERNATE_RE))

    def nn(c):
        return F.when(c == "", F.lit(None).cast("string")).otherwise(c)

    t = F.col("_tag")
    href = F.coalesce(
        nn(F.regexp_extract(t, HREF_RE, 1)),
        nn(F.regexp_extract(t, HREF_RE_SQ, 1)),
        nn(F.regexp_extract(t, HREF_RE_UQ, 1)),
    )
    hl = nn(F.regexp_extract(t, HREFLANG_RE, 1))
    mime = nn(F.lower(F.regexp_extract(t, LINK_TYPE_RE, 1)))
    staged = tags.select(
        "url", hl.alias("_hl"), mime.alias("_mime"), href.alias("_href")
    )
    h = F.col("_href")
    ok = (
        h.isNotNull()
        & (F.length(h) > 0)
        & ~F.lower(h).startswith("javascript:")
        & ~F.lower(h).startswith("mailto:")
        & ~F.lower(h).startswith("data:")
    )
    staged = staged.filter(ok)
    resolved = resolve_href(F.col("url"), h)
    hreflang_rows = staged.filter(F.col("_hl").isNotNull()).select(
        "url",
        F.lit("hreflang").alias("rel_type"),
        F.lower(F.col("_hl")).alias("alt"),
        resolved.alias("link"),
    )
    feed_rows = staged.filter(F.col("_mime").isin(*FEED_TYPES)).select(
        "url",
        F.lit("feed").alias("rel_type"),
        F.col("_mime").alias("alt"),
        resolved.alias("link"),
    )
    return hreflang_rows.unionByName(feed_rows)


def dedup_by_canonical(pages: DataFrame, url_col: str = "url", html_col: str = "html") -> DataFrame:
    """Snapshot dedup by the page's DECLARED canonical target: print/AMP/
    tracking-parameter variants that all declare the same
    ``<link rel="canonical">`` collapse to one capture — the curation-side
    complement of :func:`dedup_url_latest` (which only collapses URL
    spellings of the same address). Group key =
    ``canonicalize_url(declared target, else the page's own URL)``; winner
    per group = max (warc_ts, url), the same deterministic total order as
    dedup_url_latest.

    Scale shape: the group key derives MAP-SIDE (regex over the html, then
    the staged canonicalize kernel), so the winner aggregation's exchange
    carries only (canon_target, warc_ts, url) — html never shuffles — and
    the aggregate is map-side combinable. Returns
    (canon_target, warc_ts, url, n_members)."""
    decoded = F.make_valid_utf8(F.col(html_col).cast("string"))

    def nn(c):
        return F.when(c == "", F.lit(None).cast("string")).otherwise(c)

    href = F.coalesce(
        nn(F.regexp_extract(decoded, CANONICAL_REL_FIRST_RE, 1)),
        nn(F.regexp_extract(decoded, CANONICAL_HREF_FIRST_RE, 1)),
    )
    ok = (
        href.isNotNull()
        & ~F.lower(href).startswith("javascript:")
        & ~F.lower(href).startswith("mailto:")
        & ~F.lower(href).startswith("data:")
    )
    target = F.when(ok, resolve_href(F.col(url_col), href)).otherwise(
        F.col(url_col)
    )
    staged = with_canon_url(
        pages.select(
            F.col(url_col).alias("_page_url"), "warc_ts", target.alias("_target")
        ),
        "_target",
    )
    return (
        staged.groupBy(F.col("canon_url").alias("canon_target"))
        .agg(
            F.max(F.struct("warc_ts", F.col("_page_url").alias("u"))).alias("_w"),
            F.count("*").alias("n_members"),
        )
        .select(
            "canon_target",
            F.col("_w")["warc_ts"].alias("warc_ts"),
            F.col("_w")["u"].alias("url"),
            "n_members",
        )
    )


def resolve_redirects(
    responses: DataFrame,
    max_hops: int = 5,
    url_col: str = "url",
    status_col: str = "status",
    location_col: str = "location",
) -> DataFrame:
    """(url, final_url, hops, terminal) — follow HTTP 3xx ``Location``
    chains through the response table until a terminal condition, for every
    row. ``terminal``:

    - ``ok``        reached a non-redirect response (``hops`` follows);
    - ``dangling``  a redirect points at a URL absent from the table
      (``final_url`` is the unresolved target — the crawl frontier's
      natural re-seed);
    - ``loop``      the next target was already visited (``final_url`` is
      the revisited URL — for a pure cycle that is the starting row);
    - ``capped``    still on a redirect after ``max_hops`` advances.

    Expects one row per canonicalized URL (collapse captures with
    dedup_url_latest first); relative/protocol-relative Locations resolve
    via :func:`resolve_href`, and all matching is on the canonical form +
    64-bit hash (exact under collision: the join checks both).

    Scale shape: bounded unrolled iteration — ``max_hops`` co-partitioned
    equi-joins on (hash, canon_url), each carrying only (start url, cursor
    key, hop count, visited array of ≤max_hops+1 hashes); html/bodies are
    never involved and every join key is uniform by construction. No
    driver-side loop state, no collect — the whole resolution is one
    declarative plan."""
    sel = responses.select(
        F.col(url_col).alias("url"),
        F.col(status_col).cast("int").alias("_status"),
        F.col(location_col).alias("_loc"),
    )
    canon = with_canon_url(sel, "url").withColumn(
        "url_hash", url_hash(F.col("canon_url"))
    )
    is_r = (
        (F.col("_status") >= 300) & (F.col("_status") < 400) & F.col("_loc").isNotNull()
    )
    canon = canon.withColumn("_is_r", is_r).withColumn(
        "_tgt_raw", F.when(is_r, resolve_href(F.col("canon_url"), F.col("_loc")))
    )
    meta = (
        with_canon_url(
            canon.withColumnRenamed("canon_url", "_self_canon"), "_tgt_raw", "_dst_canon"
        )
        .withColumn("_dst_hash", url_hash(F.col("_dst_canon")))
        .select(
            F.col("url_hash").alias("m_hash"),
            F.col("_self_canon").alias("m_canon"),
            F.col("_is_r").alias("m_is_r"),
            "_dst_hash",
            "_dst_canon",
        )
        # duplicate captures of one canonical URL collapse deterministically
        # (precondition says they shouldn't exist; min keeps this total)
        .groupBy("m_hash", "m_canon")
        .agg(
            F.min(F.struct("m_is_r", "_dst_hash", "_dst_canon")).alias("_m")
        )
        .select(
            "m_hash",
            "m_canon",
            F.col("_m")["m_is_r"].alias("m_is_r"),
            F.col("_m")["_dst_hash"].alias("m_dst_hash"),
            F.col("_m")["_dst_canon"].alias("m_dst_canon"),
        )
    )
    state = (
        with_canon_url(sel.select("url"), "url")
        .withColumn("_cur_hash", url_hash(F.col("canon_url")))
        .withColumnRenamed("canon_url", "_cur_canon")
        .join(
            meta,
            (F.col("_cur_hash") == F.col("m_hash"))
            & (F.col("_cur_canon") == F.col("m_canon")),
            "inner",
        )
        .select(
            "url",
            "_cur_hash",
            "_cur_canon",
            F.lit(0).alias("hops"),
            F.when(~F.col("m_is_r"), F.lit("ok")).alias("terminal"),
            F.col("_cur_canon").alias("final_url"),
            F.array(F.col("_cur_hash")).alias("_visited"),
            F.col("m_dst_hash").alias("_dst_hash"),
            F.col("m_dst_canon").alias("_dst_canon"),
        )
    )
    for _ in range(max_hops):
        live = F.col("terminal").isNull()
        st = state.join(
            meta,
            (F.col("_dst_hash") == F.col("m_hash"))
            & (F.col("_dst_canon") == F.col("m_canon")),
            "left",
        )
        missing = F.col("m_canon").isNull()
        revisit = F.array_contains(F.col("_visited"), F.col("_dst_hash"))
        state = st.select(
            "url",
            F.when(live & ~missing, F.col("m_hash"))
            .otherwise(F.col("_cur_hash"))
            .alias("_cur_hash_n"),
            F.when(live & ~missing, F.col("m_canon"))
            .otherwise(F.col("_cur_canon"))
            .alias("_cur_canon_n"),
            F.when(live, F.col("hops") + 1).otherwise(F.col("hops")).alias("hops"),
            F.when(~live, F.col("terminal"))
            .when(missing, F.lit("dangling"))
            .when(revisit, F.lit("loop"))
            .when(~F.col("m_is_r"), F.lit("ok"))
            .alias("terminal"),
            F.when(~live, F.col("final_url"))
            .otherwise(F.col("_dst_canon"))
            .alias("final_url"),
            F.when(
                live & ~missing & ~revisit,
                F.array_append(F.col("_visited"), F.col("_dst_hash")),
            )
            .otherwise(F.col("_visited"))
            .alias("_visited"),
            F.when(live & ~missing, F.col("m_dst_hash"))
            .otherwise(F.col("_dst_hash"))
            .alias("_dst_hash_n"),
            F.when(live & ~missing, F.col("m_dst_canon"))
            .otherwise(F.col("_dst_canon"))
            .alias("_dst_canon_n"),
        ).withColumnsRenamed(
            {
                "_cur_hash_n": "_cur_hash",
                "_cur_canon_n": "_cur_canon",
                "_dst_hash_n": "_dst_hash",
                "_dst_canon_n": "_dst_canon",
            }
        )
    return state.select(
        "url",
        "final_url",
        "hops",
        F.coalesce(F.col("terminal"), F.lit("capped")).alias("terminal"),
    )


def expand_from_html(
    pages: DataFrame,
    base_col: str = "url",
    html_col: str = "html",
    priority: float = 0.0,
    respect_nofollow: bool = False,
) -> DataFrame:
    """Discovered links as frontier candidates (url, priority) — the
    default ``expand`` for run_crawl / the input feed for stream_crawl.
    Distinct per link so a page linking something twice contributes one
    candidate (crawl_round would dedup anyway; doing it here shrinks the
    shuffle).

    ``respect_nofollow=True`` routes discovery through
    :func:`extract_anchor_links`, honoring per-anchor ``rel="nofollow"``
    and the page-level ``<meta name=robots>`` nofollow/none gate (the
    production-crawler REP contract). Default off: document-wide href
    scan, bit-compatible with the pre-knob behavior and its oracle."""
    links = (
        extract_anchor_links(pages, base_col, html_col)
        if respect_nofollow
        else extract_links(pages, base_col, html_col)
    )
    return (
        links.select(F.col("link").alias("url"))
        .distinct()
        .withColumn("priority", F.lit(priority))
    )


# ---------------------------------------------------------------------------
# host blocklist (UT1-style domain blocking)
# ---------------------------------------------------------------------------


def host_suffixes(host: Column) -> Column:
    """All dot-suffixes of a hostname: 'a.b.co.uk' →
    ['a.b.co.uk', 'b.co.uk', 'co.uk', 'uk'] — the key set for
    suffix-blocklist joins. Let-bound parts (one split per row); NULL → NULL."""
    from wbx.textops import let_col

    return let_col(
        F.split(host, r"\."),
        lambda parts: F.transform(
            F.sequence(F.lit(0), F.size(parts) - 1),
            lambda i: F.array_join(F.slice(parts, i + 1, F.size(parts) - i), "."),
        ),
    )


def revalidation_headers(
    history: DataFrame,
    url_col: str = "canon_url",
    ts_col: str = "warc_ts",
    etag_col: str = "etag",
    lm_col: str = "last_modified",
) -> DataFrame:
    """(url, if_none_match, if_modified_since) — the conditional-GET
    headers a polite recrawl sends so unchanged pages cost a 304 instead
    of a full body: the latest capture's ETag verbatim, and its validator
    timestamp as an RFC 7231 HTTP-date (the stored Last-Modified when the
    server sent one, else the capture time). Pair with
    :func:`revisit_priority`, which decides WHEN to refetch; this decides
    what to send.

    One map-side-combinable groupBy on the url; the latest capture comes
    from max over (ts, etag, lm) structs — a deterministic total order
    even if two captures share a timestamp. NULL ETags yield NULL
    if_none_match (send only If-Modified-Since)."""
    latest = history.groupBy(F.col(url_col).alias("url")).agg(
        F.max(
            F.struct(
                F.col(ts_col).alias("ts"),
                F.col(etag_col).alias("et"),
                F.col(lm_col).alias("lm"),
            )
        ).alias("_l")
    )
    http_date = F.date_format(
        F.col("_l.ts"), "EEE, dd MMM yyyy HH:mm:ss 'GMT'"
    )
    return latest.select(
        "url",
        F.col("_l.et").alias("if_none_match"),
        F.coalesce(F.col("_l.lm"), http_date).alias("if_modified_since"),
    )


def detect_mirrors(
    pages: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    digest_col: str | None = None,
    threshold: float = 0.9,
    num_hashes: int = 64,
    bands: int = 16,
    max_bucket: int = 1000,
) -> DataFrame:
    """Mirror-host detection: (host_a, host_b, intersection, n_a, n_b,
    jaccard) for host pairs whose CONTENT-DIGEST sets overlap ≥
    ``threshold`` — the www/apex aliases, country mirrors, and scraper
    clones a production crawl demotes so one site doesn't occupy the
    frontier twice. Feed the pairs to wbx.graph.connected_components for
    mirror clusters, keep one representative per cluster, and blocklist
    or deprioritize the rest.

    A host is summarized as its set of per-page content digests
    (``digest_col`` if the fetch pipeline already logs one, else
    xxhash64 of ``text_col``), so the comparison is content-identity per
    page — robust to URL-structure differences between mirrors. Scale
    shape: (host, digest) distinct is the only URL-cardinality shuffle
    (pages never carry text past the digest projection); signatures are
    the num_hashes-way map-side-combinable aggregate at HOST cardinality;
    banding is skew-capped (``max_bucket``) exactly like document LSH; the
    exact verify joins digest sets only for surviving candidate pairs.
    Reuses the MinHash kernels (wbx.textops) with items = digests."""
    from wbx.textops import (
        jaccard_verify_item_pairs,
        minhash_lsh_pairs,
        minhash_signatures_items,
    )

    digest = (
        F.col(digest_col) if digest_col else F.xxhash64(F.col(text_col))
    )
    items = pages.select(
        F.col(host_col).alias("host"), digest.alias("_dg")
    ).distinct()
    sigs = minhash_signatures_items(items, "host", "_dg", num_hashes)
    pairs = minhash_lsh_pairs(
        sigs, "host", bands, num_hashes // bands, max_bucket
    )
    return (
        jaccard_verify_item_pairs(items, pairs, "host", "_dg", threshold)
        .select(
            F.col("id_a").alias("host_a"),
            F.col("id_b").alias("host_b"),
            "intersection",
            "n_a",
            "n_b",
            "jaccard",
        )
    )


def demote_mirror_hosts(
    frontier: DataFrame,
    mirror_pairs: DataFrame,
    host_col: str = "host",
    mode: str = "drop",
    priority_col: str = "priority",
    penalty: float = 1000.0,
) -> DataFrame:
    """Apply :func:`detect_mirrors` output to the frontier: cluster the
    mirror pairs transitively (wbx.graph.connected_components — A~B plus
    B~C must collapse even though (A, C) was never emitted), keep the
    cluster's MIN host as the canonical origin, and either ``drop``
    candidates on the other mirrors or ``deprioritize`` them (priority −
    ``penalty`` — they still fetch if the frontier runs dry, so a mirror
    that later diverges from its primary is not lost forever).

    Scale shape: clustering runs at host cardinality; the frontier sees
    ONE host-keyed anti-join (drop) or a broadcast-eligible left join +
    column rewrite (deprioritize) — URL rows never join the pair set."""
    from wbx.graph import connected_components

    comps = connected_components(
        mirror_pairs.select("host_a", "host_b"), "host_a", "host_b"
    )
    demoted = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(host_col)
    )
    if mode == "drop":
        return frontier.join(demoted, [host_col], "left_anti")
    if mode == "deprioritize":
        flagged = demoted.withColumn("_demote", F.lit(True))
        return (
            frontier.join(flagged, [host_col], "left")
            .withColumn(
                priority_col,
                F.when(
                    F.col("_demote"), F.col(priority_col) - penalty
                ).otherwise(F.col(priority_col)),
            )
            .drop("_demote")
        )
    raise ValueError("mode must be drop | deprioritize")


def scope_to_domains(
    frontier: DataFrame, allowlist: DataFrame, host_col: str = "host"
) -> DataFrame:
    """Focused-crawl scope gate — the dual of :func:`apply_blocklist`:
    KEEP only frontier rows whose host equals or is a subdomain of an
    allowlist domain (seed-scoped vertical crawls: "stay on *.gov.uk").

    allowlist: (domain string). Same scale shape as the blocklist: suffix
    explosion on DISTINCT hosts only, allowlist side broadcast-eligible,
    one host semi-join back — URL rows never explode."""
    allowed = (
        frontier.select(F.col(host_col).alias("host")).distinct()
        .select("host", F.explode(host_suffixes(F.col("host"))).alias("_suf"))
        .join(
            allowlist.select(F.col("domain").alias("_suf")).distinct(),
            "_suf",
            "left_semi",
        )
        .select("host")
        .distinct()
    )
    return frontier.join(
        allowed.withColumnRenamed("host", host_col), [host_col], "left_semi"
    )


def retry_candidates(
    fetch_log: DataFrame,
    max_attempts: int = 3,
    backoff_base: int = 2,
    url_col: str = "canon_url",
) -> DataFrame:
    """Failed-fetch retry queue with exponential backoff: (url, attempts,
    retry_after_round) for every URL whose LATEST attempt failed
    retryably (5xx, 429, or status ≤ 0 = network error) and which has not
    exhausted ``max_attempts`` retryable failures. retry_after_round =
    latest round + backoff_base^attempts, so a once-failed URL waits 2
    rounds, twice-failed 4, … — re-seed these as candidates when the
    crawl reaches that round (a 2xx/4xx latest attempt means settled:
    no retry row).

    fetch_log: (url, status int, round int) — one attempt per URL per
    round (the run_crawl commit shape). One map-side-combinable groupBy
    on the url; the latest attempt comes from max() over the (round,
    status) pair PACKED into one long (round·2³² + biased status — the
    numeric order equals the lexicographic struct order, but a packed
    max keeps the aggregate HashAggregate-eligible where max(struct)
    would force SortAggregate's per-partition sorts; pinned by a plan
    guard). No window, no second shuffle, deterministic at any
    parallelism."""
    retryable = (
        (F.col("status") >= 500)
        | (F.col("status") == 429)
        | (F.col("status") <= 0)
    )
    packed = (
        F.col("round").cast("long") * F.lit(1 << 32).cast("long")
        + (F.col("status").cast("long") + F.lit(1 << 31).cast("long"))
    )
    agg = fetch_log.groupBy(F.col(url_col).alias("url")).agg(
        F.max(packed).alias("_last"),
        F.sum(retryable.cast("int")).alias("attempts"),
    )
    last_round = F.floor(F.col("_last") / F.lit(1 << 32).cast("long")).cast(
        "long"
    )
    last_status = F.pmod(F.col("_last"), F.lit(1 << 32).cast("long")) - F.lit(
        1 << 31
    ).cast("long")
    last_retryable = (
        (last_status >= 500) | (last_status == 429) | (last_status <= 0)
    )
    return (
        agg.filter(last_retryable & (F.col("attempts") < max_attempts))
        .select(
            "url",
            F.col("attempts").cast("int").alias("attempts"),
            (
                last_round
                + F.pow(F.lit(float(backoff_base)), F.col("attempts"))
            )
            .cast("long")
            .alias("retry_after_round"),
        )
    )


def apply_blocklist(
    frontier: DataFrame, blocklist: DataFrame, host_col: str = "host"
) -> DataFrame:
    """Drop frontier rows whose host equals or is a subdomain of any
    blocklist domain (the UT1/adult-list gate every production crawl runs).

    blocklist: (domain string) — exact hosts or registrable suffixes.

    Scale shape: the suffix explosion runs on DISTINCT hosts (cardinality
    #hosts, orders of magnitude below #URLs), the blocklist side of the
    semi-join is broadcast-eligible (AQE decides; no forced hint — UT1-class
    lists are ~10^6 rows but a tenant list could be larger), and the
    frontier is filtered with ONE host anti-join — URL rows never explode
    and never carry suffix arrays."""
    blocked = (
        frontier.select(F.col(host_col).alias("host")).distinct()
        .select("host", F.explode(host_suffixes(F.col("host"))).alias("_suf"))
        .join(
            blocklist.select(F.col("domain").alias("_suf")).distinct(),
            "_suf",
            "left_semi",
        )
        .select("host")
        .distinct()
    )
    return frontier.join(
        blocked.withColumnRenamed("host", host_col), [host_col], "left_anti"
    )


# ---------------------------------------------------------------------------
# Recrawl scheduling + spider-trap detection (crawl-ops layer; no reference
# counterpart — warcbench reads archives post-hoc, it never schedules)
# ---------------------------------------------------------------------------


def revisit_priority(
    history: DataFrame,
    now,
    url_col: str = "canon_url",
    ts_col: str = "warc_ts",
    digest_col: str = "digest",
) -> DataFrame:
    """Freshness-driven recrawl priority from fetch history — the classic
    change-rate formulation (Cho & Garcia-Molina's uniform/proportional
    revisit analysis): a URL's priority is its estimated change rate times
    its staleness, so fast-changing pages revisit often and static pages
    decay to the back of the queue.

    ``history``: one row per past fetch (url, fetch timestamp, content
    digest — e.g. the md5/xxhash of extracted text the fetch pipeline
    already logs). Per URL:

    - ``n_changes`` = fetches whose digest differs from the PREVIOUS
      fetch's digest (lag over (url, ts) — detects actual content change,
      not mere refetches);
    - ``change_rate`` = n_changes / observed span seconds (0 when a
      single observation or zero span — no evidence of change);
    - ``age_secs`` = seconds since the last fetch at ``now``;
    - ``revisit_priority`` = change_rate * age_secs (expected number of
      missed changes — dimensionless, comparable across URLs).

    Deterministic: the lag window orders by (ts, digest), a total order
    per URL even if two captures share a timestamp. One shuffle on
    url_col (window + groupBy share the key). Feed the output's
    (url, revisit_priority) straight into crawl_round as candidates."""
    w = Window.partitionBy(url_col).orderBy("_ts", "_dg")
    staged = history.select(
        url_col,
        F.col(ts_col).cast("timestamp").alias("_ts"),
        F.col(digest_col).alias("_dg"),
    ).withColumn("_prev", F.lag("_dg").over(w))
    agg = staged.groupBy(url_col).agg(
        F.count("*").cast("long").alias("n_obs"),
        F.sum(
            F.when(
                F.col("_prev").isNotNull() & (F.col("_dg") != F.col("_prev")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_changes"),
        F.min("_ts").alias("_first"),
        F.max("_ts").alias("_last"),
    )
    span = F.unix_timestamp("_last") - F.unix_timestamp("_first")
    age = F.unix_timestamp(F.lit(now).cast("timestamp")) - F.unix_timestamp("_last")
    rate = F.when(span > 0, F.col("n_changes") / span).otherwise(F.lit(0.0))
    return agg.select(
        url_col,
        "n_obs",
        "n_changes",
        rate.alias("change_rate"),
        age.cast("long").alias("age_secs"),
        (rate * age).alias("revisit_priority"),
    )


def url_template(canon_url: Column) -> Column:
    """Collapse every digit run in the path+query to 'N' — the URL-shape
    key for trap mining ('/cal/2024/01/03' and '/cal/2031/12/99' are the
    same template; '?page=123&sid=9' → '?page=N&sid=N'). Host and scheme
    are dropped. RE2-safe (no lookaround), so oracles chain the identical
    regex."""
    scheme_ok, _, rest = _split_authority(canon_url)
    pathq = F.when(rest == "", F.lit("/")).otherwise(rest)
    return F.when(
        scheme_ok, F.regexp_replace(pathq, "[0-9]+", "N")
    ).otherwise(F.lit(None).cast("string"))


def detect_url_traps(
    pages: DataFrame,
    min_urls: int = 1000,
    url_col: str = "canon_url",
) -> DataFrame:
    """Spider-trap / infinite-URL-space mining: templates (host, digit-
    collapsed path shape) matched by ≥ ``min_urls`` DISTINCT URLs are
    suspect crawler traps (calendars, session ids, faceted search,
    pagination explosions) — feed the output to apply_blocklist or a
    budget override before the frontier drowns in one site's URL space.

    Returns (host, template, n_urls) sorted nowhere (caller orders).
    Scale shape: distinct on (host, template, url) then a count per
    (host, template) — both shuffles carry three short strings; at
    10^10 URLs the distinct pre-aggregates map-side on the same keys."""
    # null-host rows are excluded on the RAW url BEFORE the staged
    # canonicalization pipeline — a .where on the staged `host` output
    # triggers the predicate-pushdown alias-substitution blowup (see
    # wbx/graph.py host_edges); a scheme-valid URL always canonicalizes
    # to a non-null host, so this prefilter is equivalent
    raw = pages.select(url_col)
    sep = F.instr(F.col(url_col), "://")
    raw = raw.where(
        (sep > 0)
        & F.substring(F.col(url_col), 1, sep - 1).rlike(r"^[A-Za-z][A-Za-z0-9+.-]*$")
    )
    staged = with_url_host(with_canon_url(raw, url_col, "_c"), "_c")
    keyed = staged.select(
        "host",
        url_template(F.col("_c")).alias("template"),
        F.col(url_col),
    )
    return (
        keyed.distinct()
        .groupBy("host", "template")
        .agg(F.count("*").cast("long").alias("n_urls"))
        .where(F.col("n_urls") >= min_urls)
    )


def surt_key(canon_url: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key for a CANONICAL
    URL — 'http://www.example.com/A/b?Q=1' → 'com,example)/a/b?q=1'. The
    web-archive world's canonical index key (pywb/OpenWayback CDX
    convention): host segments reversed and comma-joined so one domain's
    captures sort contiguously, scheme/port dropped, leading 'www.'
    stripped, everything lowercased. NULL for scheme-less input.

    Input contract: pass a MATERIALIZED canonical column (with_canon_url
    output), same as url_host/url_path — composing canonicalize_url
    inline here would multiply its expression tree through
    _split_authority's references (see the canonicalize_url planning
    note)."""
    canon = F.lower(canon_url)
    scheme_ok, auth, rest = _split_authority(canon)
    host = F.regexp_replace(
        F.substring_index(auth, "@", -1), r":[0-9]+$", ""
    )
    host = F.when(host.startswith("www."), F.substring(host, 5, 1 << 30)).otherwise(
        host
    )
    reversed_host = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    pathq = F.when(rest == "", F.lit("/")).otherwise(rest)
    return F.when(scheme_ok, F.concat(reversed_host, F.lit(")"), pathq)).otherwise(
        F.lit(None).cast("string")
    )
