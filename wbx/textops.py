"""Training-data text operators: dedup, language-ID, quality, tokens,
fingerprints.

Everything here is designed for the documents table at web scale:
- exact dedup is a hash groupBy (shuffle on a 32-byte digest, not the text);
- MinHash/LSH near-dup shuffles only (band_hash → doc_id) pairs — candidate
  generation never moves document text;
- SimHash is a single map pass + a self-join on rotated prefixes;
- scoring functions are pure Column expressions (codegen'd, no Python).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TOKEN_PATTERN = "[a-z0-9]+"  # lowercase alnum runs (RE2/Java/Python compatible)


def tokens(text: Column) -> Column:
    """Lowercased alnum tokens; the canonical tokenizer for all textops."""
    return F.filter(
        F.split(F.lower(text), "[^a-z0-9]+"), lambda t: t != ""
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def dedup_exact(documents: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per exact text digest (ids assumed
    unique — the table's primary key).

    Composition, not a window: dedup_exact_ids aggregates survivors over a
    (digest, id)-only shuffle, then a left-semi join on the id restores full
    rows. The previous window-over-md5 form shuffled EVERY row's text
    column; here text never crosses an exchange when the survivor set
    broadcasts (AQE does this whenever it fits — tests pin it) or when the
    table layout is id-bucketed (the normal 100-TB layout, where the semi
    join is co-located)."""
    ids = dedup_exact_ids(documents, text_col, id_col)
    return documents.withColumn("text_md5", F.md5(F.col(text_col))).join(
        ids.select(id_col), [id_col], "left_semi"
    )


def dedup_exact_ids(documents: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, text_md5, dup_count) — survivors of exact dedup with their
    duplicate-group size; aggregate form (map-side combinable)."""
    return (
        documents.select(
            F.col(id_col), F.md5(F.col(text_col)).alias("text_md5")
        )
        .groupBy("text_md5")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("dup_count"),
        )
        .select(id_col, "text_md5", "dup_count")
    )


def let_col(value: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate `value` ONCE and bind it
    as a lambda variable in `body(var)`.

    Why this exists: Spark evaluates any expression embedded in a
    higher-order-function lambda PER ARRAY ELEMENT and does no common-
    subexpression elimination across the lambda boundary — so
    ``transform(sequence(0, n), i -> slice(toks, i+1, k))`` re-computes the
    whole `toks` subtree (tokenization!) for every window: O(n²) per row.
    Binding `toks` through a single-element transform makes it a lambda
    variable — evaluated once, referenced cheaply."""
    return F.element_at(F.transform(F.array(value), body), 1)


def assert_staging_free(df: DataFrame, names: tuple[str, ...], op: str) -> None:
    """Guard for withColumn-staged operators: fixed internal staging names
    ('_rls', '_u0', ...) silently OVERWRITE and then drop any caller column
    of the same name. Raise loudly instead of corrupting the caller's data.
    The '_'-prefix convention keeps collisions out of normal schemas; this
    turns the remaining edge from silent data loss into an actionable
    error."""
    clash = sorted(set(names) & set(df.columns))
    if clash:
        raise ValueError(
            f"{op}: input columns {clash} collide with internal staging "
            f"names; rename them before calling"
        )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup
# ---------------------------------------------------------------------------


def shingle_array(text: Column, shingle_size: int = 3) -> Column:
    """Word-shingle array (JVM-side): n-token windows joined by spaces;
    fewer than `shingle_size` tokens → one shingle of all tokens ('' when
    the text has none); NULL text → NULL (concat_ws would otherwise swallow
    the null into an empty shingle). The token array is let-bound so the
    sliding windows don't re-tokenize per element (see let_col)."""
    arr = let_col(
        tokens(text),
        lambda toks: F.transform(
            F.sequence(
                F.lit(0), F.greatest(F.size(toks) - shingle_size, F.lit(0))
            ),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, shingle_size)),
        ),
    )
    return F.when(text.isNull(), F.lit(None).cast("array<string>")).otherwise(arr)


def minhash_signatures(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_size: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, signature array<long>) — MinHash over word shingles.

    Fully per-row since r6 (guide §2.4 — remove shuffles outright): a
    document's shingles all live in its own row, so signature slot i is
    ``array_min(transform(shingle_hashes, h -> xxhash64(h, seed, i)))``
    — pure Column algebra, ZERO exchanges and no aggregation hash maps.
    Values are bit-identical to the explode → 64-way-min-aggregate form,
    :func:`minhash_signatures_items` (min over the same multiset, same
    xxhash64(shingle_hash, seed, i) per element — pinned by tests). The
    transform lambdas are higher-order functions and run interpreted
    (CodegenFallback), measured 2.4× slower per core than that aggregate,
    so dedup_minhash uses the exploded form. The shingle-hash array is
    staged as a real column so the 64 slot expressions reference it
    instead of re-tokenizing 64 times.

    Duplicate shingles need no dedup: min over a multiset equals min over
    its set. Deterministic: xxhash64 is a fixed function of
    (shingle, seed, i).

    NULL-text documents produce NO row (they carry no shingles; the round-1
    pandas form emitted (id, NULL) — callers joining back to documents by id
    should left-join if they need those rows).
    """
    assert_staging_free(documents, ("_mh_sh",), "minhash_signatures")
    staged = documents.filter(F.col(text_col).isNotNull()).withColumn(
        "_mh_sh",
        F.transform(
            shingle_array(F.col(text_col), shingle_size), lambda s: F.xxhash64(s)
        ),
    )

    def slot(i: int) -> Column:
        # closure, NOT a default-arg lambda: F.transform hands a
        # two-parameter function (element, array_index) — a `lambda h, i=i`
        # would silently receive the POSITION as i and hash garbage
        return F.array_min(
            F.transform(
                F.col("_mh_sh"), lambda h: F.xxhash64(h, F.lit(seed), F.lit(i))
            )
        )

    return staged.select(
        F.col(id_col),
        F.array(*[slot(i) for i in range(num_hashes)]).alias("signature"),
    )


def minhash_signatures_items(
    items: DataFrame,
    id_col: str,
    item_col: str,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(id, signature array<long>) — MinHash over an already-exploded
    ATOMIC item multiset (one row per (id, item)): the generalized core
    minhash_signatures delegates to with items = word shingles, and the
    host-mirror detector uses directly with items = content digests.
    Same scale shape: slot i is ``min(xxhash64(item_hash, seed, i))``, a
    num_hashes-way map-side-combinable aggregate; duplicates need no
    distinct (min over a multiset = min over its set); ids with no items
    produce no row."""
    exploded = items.select(
        F.col(id_col), F.xxhash64(F.col(item_col)).alias("_h")
    )
    aggs = [
        F.min(F.xxhash64(F.col("_h"), F.lit(seed), F.lit(i))).alias(f"_m{i}")
        for i in range(num_hashes)
    ]
    return (
        exploded.groupBy(id_col)
        .agg(*aggs)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias(
                "signature"
            ),
        )
    )


def jaccard_verify_item_pairs(
    items: DataFrame,
    pairs: DataFrame,
    id_col: str,
    item_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact set-Jaccard verification of candidate (id_a, id_b) pairs over
    atomic item sets: (id_a, id_b, intersection, n_a, n_b, jaccard),
    jaccard ≥ threshold. Items are xxhash64'd before the distinct and the
    joins (shuffles carry (id, int64) only — same collision argument as
    jaccard_verify_pairs)."""
    hashed = items.select(
        F.col(id_col), F.xxhash64(F.col(item_col)).alias("_item")
    ).distinct()
    a = hashed.select(F.col(id_col).alias("id_a"), "_item")
    b = hashed.select(F.col(id_col).alias("id_b"), "_item")
    sizes = hashed.groupBy(id_col).agg(F.count("*").alias("n"))
    inter = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "_item"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("intersection"))
    )
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b")),
            "id_b",
        )
        .withColumn(
            "jaccard",
            F.col("intersection")
            / (F.col("n_a") + F.col("n_b") - F.col("intersection")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "intersection", "n_a", "n_b", "jaccard")
    )


def minhash_lsh_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """Candidate near-dup pairs via banding: docs sharing any band bucket.

    explode signatures → (band, band_hash, id) → self-join per bucket.
    Shuffle volume is ids+hashes only. Returns distinct (id_a, id_b), a<b.

    Skew guard (the 100 TB failure mode): one degenerate bucket — e.g.
    boilerplate or empty documents all sharing a band value — makes the
    self-join quadratic in that bucket. Buckets larger than `max_bucket`
    are dropped BEFORE the join (a window count on the same keys the join
    shuffles on, so no extra exchange on the probe side); members of a
    dropped bucket can still pair through their other `bands-1` buckets,
    and exact-duplicate storms never reach here at all when callers
    pre-collapse identical texts (see dedup_minhash)."""
    sig_slices = F.array(
        *[
            F.hash(
                F.slice(F.col("signature"), band * rows_per_band + 1, rows_per_band)
            ).alias(f"b{band}")
            for band in range(bands)
        ]
    )
    banded = signatures.select(
        F.col(id_col),
        F.posexplode(sig_slices).alias("band", "band_hash"),
    )
    if max_bucket is not None:
        w = Window.partitionBy("band", "band_hash")
        banded = (
            banded.withColumn("_bn", F.count("*").over(w))
            .filter(F.col("_bn") <= max_bucket)
            .drop("_bn")
        )
    left = banded.select(
        F.col(id_col).alias("id_a"), "band", "band_hash"
    )
    right = banded.select(
        F.col(id_col).alias("id_b"), "band", "band_hash"
    )
    return (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify_pairs(
    documents: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate pairs.

    Joins the candidate pairs back to document shingle sets and computes
    |∩|/|∪| relationally (explode + groupBy) — no driver-side loops.

    Shingles are xxhash64'd before the distinct and the joins, so every
    shuffle carries (id, int64) instead of (id, ~25-byte string) — the
    dominant shuffle of the verify stage shrinks ~3×. Jaccard over hashes
    equals Jaccard over strings unless two DIFFERENT shingles of a compared
    pair collide in 64 bits (P ≈ |union|²/2⁶⁵ per pair — negligible at any
    corpus size that fits a cluster)."""
    shingled = documents.select(
        F.col(id_col),
        F.explode(
            F.transform(
                shingle_array(F.col(text_col), shingle_size),
                lambda s: F.xxhash64(s),
            )
        ).alias("shingle"),
    ).distinct()
    a = shingled.select(F.col(id_col).alias("id_a"), F.col("shingle"))
    b = shingled.select(F.col(id_col).alias("id_b"), F.col("shingle"))
    sizes = shingled.groupBy(id_col).agg(F.count("*").alias("n"))
    inter = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("intersection"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.col("intersection")
            / (F.col("n_a") + F.col("n_b") - F.col("intersection")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def dedup_minhash(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    threshold: float = 0.8,
    seed: int = 42,
    max_bucket: int | None = 1000,
    precollapse_exact: bool = True,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline: exact-dup pre-collapse →
    signature → banding (skew-guarded) → exact Jaccard verify. Returns
    confirmed (id_a, id_b, jaccard) pairs among the representatives.

    Pre-collapse (on by default): byte-identical texts are collapsed to
    their lowest-id representative BEFORE sketching. This is both the
    correct composition (exact duplicates belong to dedup_exact, whose
    output is a group, not O(k²) pairs) and the structural fix for LSH's
    worst skew case — 10k copies of one page otherwise share every band
    bucket and the self-join goes quadratic. Implemented as a semi join on
    the aggregate survivor ids so the collapse itself never shuffles text
    (see dedup_exact).

    Signatures come from the exploded form: shingles explode to (id,
    shingle) rows and the slot minima run as a map-side-combinable
    codegen'd aggregate (:func:`minhash_signatures_items`). A document's
    shingles all live in one scan row, so the partial min completes per
    document BEFORE the exchange, which carries exactly ``num_hashes`` longs
    per doc — the same order as the banding exchange right after it."""
    if precollapse_exact:
        documents = documents.join(
            dedup_exact_ids(documents, text_col, id_col).select(id_col),
            [id_col],
            "left_semi",
        )
    items = documents.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.explode(shingle_array(F.col(text_col), shingle_size)).alias("_item"),
    )
    sigs = minhash_signatures_items(items, id_col, "_item", num_hashes, seed)
    pairs = minhash_lsh_pairs(sigs, id_col, bands, num_hashes // bands, max_bucket)
    return jaccard_verify_pairs(documents, pairs, text_col, id_col, shingle_size, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher=None,
) -> DataFrame:
    """(id, simhash long): 64-bit SimHash over token xxhash64 hashes.

    Fully relational (the round-1 form ran a per-token Python FNV loop):
    tokens explode to (id, xxhash64(token)) — duplicate tokens keep their
    multiset weight, as SimHash requires — then bit i's accumulator is
    ``sum(bit_i(h) ? 1 : -1)``, a 64-way map-side-combinable aggregate;
    the final fingerprint ORs together 2^i for every positive accumulator
    (bit 63 contributes the sign bit, hence the negative literal).
    Documents with no tokens produce no rows (they carry no signal and
    would otherwise all collide at hamming distance 0).

    ``hasher``: Column→Column int64 token hash (default xxhash64;
    md5_hash60 for cross-engine value parity — with its 60-bit range the
    top 4 accumulators are all-negative so bits 60-63 stay 0, which both
    engines reproduce identically)."""
    token_hash = (
        hasher(F.col("_t")) if hasher is not None else F.xxhash64("_t")
    )
    exploded = (
        documents.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t"))
        .select(id_col, token_hash.alias("_h"))
    )
    aggs = [
        F.sum(
            F.when(
                F.shiftrightunsigned(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"_b{i}")
        for i in range(64)
    ]
    accs = exploded.groupBy(id_col).agg(*aggs)
    bit_terms = [
        F.when(
            F.col(f"_b{i}") > 0,
            F.lit(-(1 << 63) if i == 63 else (1 << i)),
        ).otherwise(F.lit(0))
        for i in range(64)
    ]
    val = bit_terms[0]
    for t in bit_terms[1:]:
        val = val + t
    return accs.select(F.col(id_col), val.cast("long").alias("simhash"))


def simhash_near_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket: int | None = 1000,
    precollapse_identical: bool = False,
) -> DataFrame:
    """Near-dup pairs with hamming distance ≤ max_hamming.

    Pigeonhole blocking: split 64 bits into `blocks` chunks — any pair
    within distance < blocks shares at least one exact chunk → equi-join per
    chunk, then exact popcount verify. No O(n²) comparison.

    Skew guards (r6 — the minhash_lsh_pairs pattern, guide §2.5; each of
    the per-chunk equi-joins is otherwise quadratic in a chunk-value's
    bucket size, and real corpora produce exactly that degeneracy:
    empty/boilerplate documents collapse to identical simhashes and
    all-zero chunks):

    - ``max_bucket`` (default 1000): chunk values held by more than
      max_bucket documents are dropped from that block's join BEFORE it
      runs — a window count on the block's own join key, so no extra
      exchange on the probe side. Members of a dropped bucket can still
      pair through their other blocks, so recall only degrades for pair
      groups hot in EVERY block (the exact-duplicate storm below).
      ``None`` disables the cap (exact mode — what the value oracle
      pins).
    - ``precollapse_identical`` (opt-in): collapse identical simhash
      VALUES to their min-id representative before blocking — an
      identical-simhash group is exact-dedup output, not k² pairs, and
      it is precisely the group that defeats max_bucket (hot in every
      block). Off by default because it CHANGES the contract (pairs
      among representatives only), unlike max_bucket=None/precollapse
      off which reproduce the exact pair set.
    """
    width = 64 // blocks
    if precollapse_identical:
        reps = hashes.groupBy("simhash").agg(F.min(id_col).alias(id_col))
        hashes = hashes.join(reps, [id_col, "simhash"], "left_semi")
    chunk_cols = [
        F.shiftrightunsigned(F.col("simhash"), i * width)
        .bitwiseAND(F.lit((1 << width) - 1))
        .alias(f"c{i}")
        for i in range(blocks)
    ]
    blocked = hashes.select(F.col(id_col), F.col("simhash"), *chunk_cols)
    pairs = None
    for i in range(blocks):
        side = blocked.select(
            F.col(id_col), F.col("simhash"), F.col(f"c{i}").alias("chunk")
        )
        if max_bucket is not None:
            w = Window.partitionBy("chunk")
            side = (
                side.withColumn("_bn", F.count("*").over(w))
                .filter(F.col("_bn") <= max_bucket)
                .drop("_bn")
            )
        a = side.select(
            F.col(id_col).alias("id_a"),
            F.col("simhash").alias("sh_a"),
            "chunk",
        )
        b = side.select(
            F.col(id_col).alias("id_b"),
            F.col("simhash").alias("sh_b"),
            "chunk",
        )
        p = a.join(b, "chunk").filter(F.col("id_a") < F.col("id_b")).drop("chunk")
        pairs = p if pairs is None else pairs.unionByName(p)
    return (
        pairs.distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# language ID / quality / tokens / fingerprint (pure Column expressions)
# ---------------------------------------------------------------------------

# tiny deterministic stopword inventories (public common words)
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un", "una", "es"],
}


def lang_id(text: Column) -> Column:
    """Best-scoring language, 'und' when nothing matches. Deterministic
    tie-break: language code ascending. The token array is let-bound so the
    per-language marker scans share ONE tokenization per row."""

    def best_of(toks: Column) -> Column:
        pairs = F.array(
            *[
                F.struct(
                    F.size(
                        F.filter(toks, lambda t: t.isin(_LANG_MARKERS[lang]))
                    ).alias("score"),
                    F.lit(lang).alias("lang"),
                )
                for lang in sorted(_LANG_MARKERS)
            ]
        )
        # array_max on structs compares fieldwise (ties would pick the
        # DESCENDING code); a reduce keeps the asc-lang tie-break:
        return F.reduce(
            pairs,
            F.struct(F.lit(-1).alias("score"), F.lit("und").alias("lang")),
            lambda acc, p: F.when(
                (p["score"] > acc["score"]),
                F.struct(p["score"].alias("score"), p["lang"].alias("lang")),
            ).otherwise(acc),
        )

    # both the token array AND the winning struct are let-bound: best is
    # referenced twice in the final projection, and an unbound reference
    # would re-run the whole reduce per reference
    return let_col(
        tokens(text),
        lambda toks: let_col(
            best_of(toks),
            lambda best: F.when(best["score"] <= 0, F.lit("und")).otherwise(
                best["lang"]
            ),
        ),
    )


# GPT-2-style pretokenizer, simplified to the lookahead-free subset so the
# SAME pattern runs in Java regex (Spark) and RE2 (DuckDB oracle):
# contractions | space?letters | space?digits | space?punct-run | whitespace.
BPE_TOKEN_RE = r"'s|'t|'re|'ve|'m|'ll|'d| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+"


def bpe_token_count(text: Column) -> Column:
    """BPE-ish token count: how many pretokenizer pieces a byte-pair-encoding
    tokenizer would start from — the standard LLM-pipeline budget estimate
    (whitespace-run pieces excluded, as BPE merges within words). Pure
    Column expression (regexp_extract_all), whole-stage codegen."""
    pieces = F.regexp_extract_all(text, F.lit(f"({BPE_TOKEN_RE})"))
    return F.size(F.filter(pieces, lambda p: p.rlike(r"\S")))


def quality_score(text: Column) -> Column:
    """Composite score in [0,1]: rewards stopword presence, sane token
    length, alnum density. Fixed deterministic formula (documented in
    oracle SQL form in __spark_entry__). The token array is let-bound: the
    composed formula references token statistics ~7 times, and unbound each
    reference would re-tokenize the document."""
    en = _LANG_MARKERS["en"]

    def score(toks: Column) -> Column:
        n_tokens = F.size(toks)
        mean_len = F.when(
            n_tokens > 0, _sum_lengths(toks) / n_tokens
        ).otherwise(F.lit(0.0))
        stop_ratio = F.when(
            n_tokens > 0,
            F.size(F.filter(toks, lambda t: t.isin(en))) / n_tokens,
        ).otherwise(F.lit(0.0))
        sane_len = F.when(
            (mean_len >= 3) & (mean_len <= 10), F.lit(1.0)
        ).otherwise(F.lit(0.0))
        alnum_chars = F.length(F.regexp_replace(F.lower(text), "[^a-z0-9]", ""))
        alnum_ratio = F.when(
            F.length(text) > 0, alnum_chars / F.length(text)
        ).otherwise(F.lit(0.0))
        return F.round(
            (F.least(stop_ratio * 4, F.lit(1.0)) + sane_len + alnum_ratio) / 3.0,
            6,
        )

    return let_col(tokens(text), score)


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the normalized token stream — the
    content-defined identity used for cross-crawl dedup joins."""
    return F.md5(F.concat_ws(" ", tokens(text)))


def md5_hash60(s: Column) -> Column:
    """Portable 60-bit string hash: first 15 hex digits of md5 as int64.
    Bit-identical in Spark (conv) and DuckDB (0x-cast) — the cross-engine
    hasher that lets winnow VALUES be oracle-checked, not just counted.
    xxhash64 stays the production default (JVM-native, ~4× faster)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def rolling_hashes(text: Column, window: int = 8, hasher=F.xxhash64) -> Column:
    """Karp-Rabin-style rolling hashes over the token stream (the winnowing
    primitive for plagiarism-style fingerprinting): array of int64, one per
    window-gram. JVM-side via transform — no Python; tokens are let-bound
    so the windows don't re-tokenize per element (see let_col).

    ``hasher``: Column→Column int64 hash of the window string (default
    xxhash64; md5_hash60 for cross-engine reproducibility)."""
    return let_col(
        tokens(text),
        lambda toks: F.when(F.size(toks) < window, F.array()).otherwise(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - window),
                lambda i: hasher(
                    F.concat_ws(" ", F.slice(toks, i + 1, window))
                ),
            )
        ),
    )


def winnow(
    text: Column, window: int = 8, guarantee: int = 16, hasher=F.xxhash64
) -> Column:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    slide a window of w = guarantee−window+1 rolling hashes and keep each
    window's minimum, deduplicated — any shared token run of ≥ `guarantee`
    tokens between two documents is guaranteed to share a fingerprint.
    Returns a sorted distinct int64 array; JVM-side only (transform +
    array_min over slices), no Python in the hot path."""
    if guarantee < window:
        raise ValueError("guarantee must be >= window")
    w = guarantee - window + 1
    # let-bound: without it every window's array_min(slice(hs, ...)) would
    # re-derive the ENTIRE rolling-hash array (which itself re-tokenizes) —
    # O(n²) tokenization per document (see let_col)
    return let_col(
        rolling_hashes(text, window, hasher),
        # hs.isNull() first: NULL text → NULL hashes, and without the guard
        # size(NULL)<=0 is NULL → otherwise-branch → greatest(NULL-w,0)=0 →
        # a phantom [NULL] fingerprint that every NULL-text doc would share.
        lambda hs: F.when(
            hs.isNull(), F.lit(None).cast("array<bigint>")
        ).when(
            F.size(hs) <= 0, F.array().cast("array<bigint>")
        ).otherwise(
            F.array_sort(
                F.array_distinct(
                    F.transform(
                        F.sequence(
                            F.lit(0), F.greatest(F.size(hs) - w, F.lit(0))
                        ),
                        lambda i: F.array_min(F.slice(hs, i + 1, w)),
                    )
                )
            )
        ),
    )


# ---------------------------------------------------------------------------
# repetition / Gopher-style document quality (Rae et al. 2021, appendix A1.1)
# ---------------------------------------------------------------------------


def text_lines(text: Column) -> Column:
    """Non-empty lines of a document (split on '\\n'). The line primitive for
    the repetition filters; a pure Column expression, codegen'd."""
    return F.filter(F.split(text, "\n"), lambda l: F.length(l) > 0)


def _sum_lengths(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0), lambda acc, x: acc + F.length(x))


def _frac(num: Column, den: Column) -> Column:
    # no otherwise(): NULL denominator (NULL text) stays NULL instead of
    # being swallowed into 0.0 — rolling_hashes' NULL-in/NULL-out rule
    return F.when(den > 0, num / den).when(den.isNotNull(), F.lit(0.0))


def _repetition_from(ls: Column, toks: Column) -> dict[str, Column]:
    """Repetition signals from already-derived line/token arrays — the
    shared core of repetition_features (unbound), gopher_keep (let-bound)
    and with_repetition_features (column-staged)."""
    n_lines = F.size(ls)
    distinct_lines = F.array_distinct(ls)
    line_chars = _sum_lengths(ls)
    n_toks = F.size(toks)
    return {
        "n_lines": n_lines,
        "dup_line_frac": _frac(n_lines - F.size(distinct_lines), n_lines),
        "dup_line_char_frac": _frac(
            line_chars - _sum_lengths(distinct_lines), line_chars
        ),
        "dup_token_frac": _frac(n_toks - F.size(F.array_distinct(toks)), n_toks),
        "ellipsis_line_frac": _frac(
            F.size(
                F.filter(ls, lambda l: l.endswith("...") | l.endswith("…"))
            ),
            n_lines,
        ),
        "bullet_line_frac": _frac(
            F.size(
                F.filter(
                    ls,
                    lambda l: l.startswith("-")
                    | l.startswith("*")
                    | l.startswith("•"),
                )
            ),
            n_lines,
        ),
    }


def repetition_features(text: Column) -> dict[str, Column]:
    """Gopher-style repetition signals, all JVM-side array algebra — no
    explode, no Python, no shuffle (per-document arrays only):

    - ``dup_line_frac``: fraction of non-empty lines that repeat an earlier
      line (1 - distinct/total);
    - ``dup_line_char_frac``: fraction of line characters inside those
      repeated occurrences;
    - ``dup_token_frac``: same over the canonical token stream;
    - ``ellipsis_line_frac``: lines ending in '...' or '…';
    - ``bullet_line_frac``: lines starting with '-', '*' or '•'.

    NULL text propagates NULL (size/aggregate of NULL are NULL under ANSI),
    matching rolling_hashes' NULL-in/NULL-out convention; empty docs get 0.0
    via the denominator guards. Ratios are single IEEE divisions of exact
    integers, so the DuckDB oracle (list_filter/list_distinct/list_aggregate
    over the same splits) reproduces them bit-for-bit.

    Selecting SEVERAL of these features re-derives the line/token arrays
    once per feature — use :func:`with_repetition_features` (stages the
    arrays as real columns, evaluated once per row) on the hot path."""
    return _repetition_from(text_lines(text), tokens(text))


def with_repetition_features(
    df: DataFrame, text_col: str = "text", round_to: int | None = None
) -> DataFrame:
    """Staged form of repetition_features: the line/token arrays become
    real columns (computed once per row) and every feature reads them as
    attributes — the expression-staging rule (see wbx.frontier
    with_url_host) applied to the quality gate."""
    assert_staging_free(df, ("_rls", "_rtoks"), "with_repetition_features")
    staged = df.withColumn("_rls", text_lines(F.col(text_col))).withColumn(
        "_rtoks", tokens(F.col(text_col))
    )
    feats = _repetition_from(F.col("_rls"), F.col("_rtoks"))
    for name, col in feats.items():
        if round_to is not None and name.endswith("_frac"):
            col = F.round(col, round_to)
        staged = staged.withColumn(name, col)
    return staged.drop("_rls", "_rtoks")


def gopher_keep(text: Column) -> Column:
    """Boolean Gopher-rule document filter (the subset of Rae et al. A1.1
    expressible without the mode-of-ngrams statistic, which lives in
    :func:`top_ngram_frac` as a relational operator): token count in
    [50, 100000], mean token length in [3, 10], ≤30% duplicate lines /
    duplicate-line chars, ≤30% ellipsis lines, ≤90% bullet lines, ≥80% of
    tokens containing a letter, and ≥2 distinct stopword hits. Pure Column
    expression; NULL text → false.

    The token and line arrays are let-bound (see let_col), so the ~10
    feature references tokenize/split ONCE per row instead of once per
    reference."""
    en = _LANG_MARKERS["en"]

    def gate(toks: Column, ls: Column) -> Column:
        r = _repetition_from(ls, toks)
        n_toks = F.size(toks)
        total_tok_chars = _sum_lengths(toks)
        mean_len = F.when(n_toks > 0, total_tok_chars / n_toks).otherwise(
            F.lit(0.0)
        )
        alpha_toks = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
        distinct_stop_hits = F.size(
            F.filter(F.array_distinct(toks), lambda t: t.isin(en))
        )
        return (
            (n_toks >= 50)
            & (n_toks <= 100000)
            & (mean_len >= 3)
            & (mean_len <= 10)
            & (r["dup_line_frac"] <= 0.30)
            & (r["dup_line_char_frac"] <= 0.30)
            & (r["ellipsis_line_frac"] <= 0.30)
            & (r["bullet_line_frac"] <= 0.90)
            & (F.when(n_toks > 0, alpha_toks / n_toks).otherwise(F.lit(0.0)) >= 0.80)
            & (distinct_stop_hits >= 2)
        )

    return F.coalesce(
        let_col(
            tokens(text), lambda toks: let_col(text_lines(text), lambda ls: gate(toks, ls))
        ),
        F.lit(False),
    )


def top_ngram_frac(
    documents: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fraction of a document's n-grams occupied by its single most frequent
    n-gram (the Gopher "top n-gram" repetition statistic; Rae et al. A1.1
    caps it at 0.20/0.18/0.16 for n=2/3/4).

    Relational, not per-row O(n²): explode n-grams → count per (doc, gram)
    → max/sum per doc. The shuffle carries (doc_id, gram) pairs only — the
    document text never moves — and both aggregations are map-side
    combinable. Docs with fewer than n tokens are absent from the output
    (no n-grams ⇒ no statistic), mirroring SQL group semantics."""
    toks = tokens(F.col(text_col))
    grams = documents.select(
        F.col(id_col),
        F.explode(
            F.when(F.size(toks) >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - n),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
                ),
            )
        ).alias("gram"),
    )
    per_gram = grams.groupBy(id_col, "gram").agg(F.count("*").alias("cnt"))
    return per_gram.groupBy(id_col).agg(
        F.round(F.max("cnt") / F.sum("cnt"), 6).alias("top_ngram_frac")
    )


# ---------------------------------------------------------------------------
# paragraph-level exact dedup
# ---------------------------------------------------------------------------


def dedup_paragraphs(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-wide exact paragraph dedup: split every document on blank
    lines ('\\n\\n'), keep the FIRST occurrence of each distinct paragraph
    — "first" = minimum (doc_id, para_idx), fully deterministic — and
    return (doc_id, para_idx, para_hash) of the survivors.

    Scale shape: paragraphs are keyed by md5 digest immediately, so the
    groupBy shuffles (digest, doc_id, para_idx) — 32 bytes + two longs per
    paragraph, never the paragraph text — and min(struct) is map-side
    combinable. This is the paragraph analogue of dedup_exact_ids
    (same digest-only-shuffle rule). Callers that need the surviving text
    join back on (doc_id, para_idx), the same late-fetch pattern as the
    embedding LSH."""
    paras = documents.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n\n")).alias("para_idx", "para"),
    ).filter(F.length(F.trim(F.col("para"))) > 0)
    keyed = paras.select(
        F.md5(F.col("para")).alias("para_hash"), F.col(id_col), F.col("para_idx")
    )
    winners = keyed.groupBy("para_hash").agg(
        F.min(F.struct(F.col(id_col), F.col("para_idx"))).alias("_w")
    )
    return winners.select(
        F.col("_w")[id_col].alias(id_col),
        F.col("_w")["para_idx"].alias("para_idx"),
        "para_hash",
    )


# ---------------------------------------------------------------------------
# exact substring dedup (ExactSubstr)
# ---------------------------------------------------------------------------


def duplicate_window_starts(
    documents: DataFrame,
    window: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher=F.xxhash64,
    min_count: int = 2,
) -> DataFrame:
    """Start positions (0-based token index) of every length-``window``
    token span whose hash occurs >= ``min_count`` times corpus-wide —
    within-document repeats count toward the total, matching suffix-array
    occurrence counting.

    Scale shape: the only URL-cardinality data in motion is
    (gram int64) for the occurrence count and (id, pos, gram) for the
    confirming semi-join — document text never leaves its scan task. Both
    stages shuffle on `gram`, so AQE reuses one exchange; the count
    aggregate is map-side combinable."""
    grams = documents.select(
        F.col(id_col),
        F.posexplode(rolling_hashes(F.col(text_col), window, hasher)).alias(
            "pos", "gram"
        ),
    )
    dup = (
        grams.groupBy("gram")
        .count()
        .filter(F.col("count") >= min_count)
        .select("gram")
    )
    return grams.join(dup, "gram", "left_semi").select(id_col, "pos")


def dedup_substrings(
    documents: DataFrame,
    window: int = 50,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher=F.xxhash64,
    min_count: int = 2,
) -> DataFrame:
    """ExactSubstr-style duplicate-span removal (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022): drop every token
    covered by a length-``window`` token span that occurs >= ``min_count``
    times across the corpus. ALL copies are removed — the paper's ExactSubstr
    cuts both occurrences and finds it does not hurt the model; it also makes
    the result order- and partitioning-independent (no "first copy wins" tie
    to break). The suffix array of the paper is replaced by fixed-granularity
    Karp-Rabin window hashes (`rolling_hashes`): any duplicated run of
    >= window tokens is caught exactly at token granularity; runs shorter
    than ``window`` are below the removal threshold by definition.

    Returns one row per input document:
      (id, n_tokens, n_dup_windows, n_removed, clean_text)
    where clean_text is the space-joined surviving tokens (the canonical
    tokenizer normalizes whitespace/punctuation, so downstream consumers get
    token-stream semantics, not byte-identical text). NULL text stays NULL.

    Scale shape: `duplicate_window_starts` moves longs only; the per-doc
    start positions aggregate to one int-array row per *affected* document,
    so the final left join is broadcast-eligible (AQE decides) and untouched
    documents stream through without their text crossing an exchange
    (plan-guarded in tests/test_plans.py)."""
    assert_staging_free(documents, ("_ss", "_toks", "_kept"), "dedup_substrings")
    starts = (
        duplicate_window_starts(
            documents, window, text_col, id_col, hasher, min_count
        )
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("_ss"))
    )
    staged = (
        documents.join(starts, id_col, "left")
        .withColumn("_toks", tokens(F.col(text_col)))
        .withColumn(
            # token i survives unless some duplicated window [s, s+window)
            # covers it; _ss is sorted but exists() is already JVM-side and
            # O(|_ss|) only for documents that contain duplicated spans
            "_kept",
            F.filter(
                F.col("_toks"),
                lambda t, i: ~F.exists(
                    F.coalesce(F.col("_ss"), F.array().cast("array<int>")),
                    lambda s: (s <= i) & (i < s + F.lit(window)),
                ),
            ),
        )
    )
    return staged.select(
        F.col(id_col),
        F.size("_toks").alias("n_tokens"),
        F.when(F.col(text_col).isNull(), F.lit(None).cast("int"))
        .otherwise(F.coalesce(F.size("_ss"), F.lit(0)))
        .alias("n_dup_windows"),
        (F.size("_toks") - F.size("_kept")).alias("n_removed"),
        F.when(F.col(text_col).isNull(), F.lit(None).cast("string"))
        .otherwise(F.concat_ws(" ", F.col("_kept")))
        .alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# RE2-safe patterns (no lookaround/backreferences) so the identical strings
# run in Java regex (Spark) and RE2 (DuckDB oracle):
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_scrub(text: Column) -> Column:
    """Redact common PII surface forms with fixed placeholder tokens:
    emails → <EMAIL>, NNN-NNN-NNNN phones → <PHONE>, dotted-quad IPs →
    <IP>. Replacement order is fixed (email, phone, ip) so the composition
    is deterministic and the DuckDB oracle (regexp_replace …, 'g') chains
    identically. Pure Column expressions — codegen'd, no Python."""
    out = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")
    return F.regexp_replace(out, PII_IPV4_RE, "<IP>")


def dup_ngram_char_frac(
    documents: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fraction of token characters covered by n-grams that occur more than
    once within the document — the Gopher "duplicate n-gram" repetition
    statistic (Rae et al. A1.1 caps it at 0.15/0.14/0.13/0.12/0.11/0.10 for
    n=5..10), in the standard non-overlapping approximation used by public
    curation pipelines: every occurrence of a repeated n-gram contributes
    its character length, normalized by total n-gram characters.

    Relational like top_ngram_frac: explode n-grams → per-(doc, gram)
    count+length → per-doc sums. The shuffle carries (doc_id, gram) pairs
    only; both aggregates are map-side combinable. Docs with fewer than n
    tokens are absent (no n-grams ⇒ no statistic)."""
    toks = tokens(F.col(text_col))
    grams = documents.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size(toks) >= n,
                F.transform(
                    F.sequence(F.lit(0), F.size(toks) - n),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
                ),
            )
        ).alias("gram"),
    )
    per_gram = grams.groupBy(id_col, "gram").agg(F.count("*").alias("cnt"))
    glen = F.length(F.col("gram"))
    return per_gram.groupBy(id_col).agg(
        F.round(
            F.sum(F.when(F.col("cnt") > 1, F.col("cnt") * glen).otherwise(0))
            / F.sum(F.col("cnt") * glen),
            6,
        ).alias("dup_ngram_char_frac")
    )


# ---------------------------------------------------------------------------
# benchmark decontamination (test-set n-gram overlap)
# ---------------------------------------------------------------------------


def _distinct_ngrams(documents: DataFrame, n: int, text_col: str, id_col) -> DataFrame:
    toks = tokens(F.col(text_col))
    cols = [F.col(id_col)] if id_col else []
    return documents.select(
        *cols,
        F.explode(
            F.when(
                F.size(toks) >= n,
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(0), F.size(toks) - n),
                        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
                    )
                ),
            )
        ).alias("gram"),
    )


def decontaminate_ngram_overlap(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    hash_grams: bool = True,
) -> DataFrame:
    """Test-set decontamination: (doc_id, n_hits) for every document sharing
    at least one n-token gram with the benchmark corpus (the standard
    LLM-pretraining leakage gate; production pipelines use n≈8-13).

    Scale shape: both sides reduce to DISTINCT gram keys before the join —
    the benchmark side is typically a few million grams and broadcast-joins
    (AQE decides; no forced hint), so the corpus side never shuffles at all.
    With ``hash_grams`` (default) the join key is xxhash64(gram) — 8 bytes
    instead of the gram string — at a vanishingly small false-hit risk;
    the oracle query runs with hash_grams=False for cross-engine equality."""
    dg = _distinct_ngrams(documents, n, text_col, id_col)
    bg = _distinct_ngrams(benchmark, n, bench_text_col, None).distinct()
    if hash_grams:
        dg = dg.select(id_col, F.xxhash64("gram").alias("gram"))
        bg = bg.select(F.xxhash64("gram").alias("gram")).distinct()
    return (
        dg.join(bg, "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


# ---------------------------------------------------------------------------
# C4-style line cleaning
# ---------------------------------------------------------------------------

_TERMINALS = ('.', '!', '?', '"', "'")


def remove_duplicate_lines(text: Column) -> Column:
    """Within-document repetition removal: keep the FIRST occurrence of
    every line, drop later repeats (the line-level dedup step most
    curation recipes run next to the C4 rules — boilerplate headers and
    repeated navigation lines collapse to one).

    Pure Column algebra: the line array is let-bound (split once), each
    line survives iff its first position in the prefix up to itself is its
    own position. O(lines²) comparisons per document — lines per document
    is small and bounded, and nothing shuffles. Blank-line repeats
    collapse like any other line; NULL → NULL."""
    return let_col(
        F.split(text, "\n"),
        lambda lines: F.array_join(
            F.filter(
                lines,
                lambda l, i: F.array_position(F.slice(lines, 1, i + 1), l)
                == i + 1,
            ),
            "\n",
        ),
    )


def _doc_line_hashes(
    docs: DataFrame, id_col: str, text_col: str, min_len: int
) -> DataFrame:
    """(id, line_hash) with one row per DISTINCT eligible line per document
    — array_distinct runs map-side before the explode, so a document
    repeating its nav header 50× still contributes df=1. Only the 8-byte
    hash ever reaches an exchange; the line text stays in its scan task."""
    eligible = F.filter(
        F.split(F.col(text_col), "\n"),
        lambda l: F.length(l) >= F.lit(min_len),
    )
    return docs.select(
        F.col(id_col), F.explode(F.array_distinct(eligible)).alias("_line")
    ).select(id_col, F.xxhash64("_line").alias("line_hash"))


def frequent_lines(
    docs: DataFrame,
    min_df_frac: float = 0.5,
    min_len: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(line_hash, df): lines whose DOCUMENT frequency reaches
    ``min_df_frac`` of the corpus — the boilerplate candidates (cookie
    banners, share bars, footers) that corpus-level curation strips
    (CCNet / RefinedWeb run exactly this pass before quality scoring;
    the reference engine has no corpus-level text stage at all).

    Corpus-RELATIVE threshold so the same call works at any scale; lines
    shorter than ``min_len`` never participate (the default 1 keeps blank
    lines out — every document has those). Shuffle plan: the count groupBy
    carries (line_hash) 8-byte keys only, with map-side combine (each doc
    pre-distincts its lines, so partial counts are dense); the corpus size
    joins in as a broadcast 1-row aggregate, never a driver action."""
    counts = (
        _doc_line_hashes(docs, id_col, text_col, min_len)
        .groupBy("line_hash")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = docs.select(F.count(F.lit(1)).alias("_n_docs"))
    return (
        counts.crossJoin(F.broadcast(n_docs))
        .where(F.col("df") >= F.ceil(F.lit(min_df_frac) * F.col("_n_docs")))
        .select("line_hash", "df")
    )


def remove_boilerplate_lines(
    docs: DataFrame,
    min_df_frac: float = 0.5,
    min_len: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str | None = None,
) -> DataFrame:
    """Corpus-level boilerplate removal: rewrite every document with the
    :func:`frequent_lines` set stripped (ALL occurrences — unlike
    remove_duplicate_lines, which is within-document and keeps the first).
    Adds ``n_boiler_lines`` (how many line instances were dropped).

    Scale shape: counting is hash-only (see frequent_lines). The rewrite
    joins each document to the COMPACT per-document set of its matched
    boilerplate hashes (collect_set over an (id, hash) semi-join — a few
    longs per doc) and filters the line array inline; the text column
    crosses exactly one id-keyed exchange for that join (none if the
    corpus table is bucketed by id), the same late-rewrite class as
    dedup_paragraphs. Membership is by 64-bit xxhash — exact up to hash
    collision, the module-wide digest contract."""
    out = out_col or text_col
    if "_bl_hashes" in docs.columns:
        raise ValueError("docs already has a '_bl_hashes' column")
    freq = frequent_lines(docs, min_df_frac, min_len, id_col, text_col)
    bl = (
        _doc_line_hashes(docs, id_col, text_col, min_len)
        .join(freq.select("line_hash"), "line_hash", "left_semi")
        .groupBy(id_col)
        .agg(F.collect_set("line_hash").alias("_bl_hashes"))
    )
    lines = F.split(F.col(text_col), "\n")
    is_boiler = lambda l: (F.length(l) >= F.lit(min_len)) & F.coalesce(
        F.array_contains(F.col("_bl_hashes"), F.xxhash64(l)), F.lit(False)
    )
    kept = F.filter(lines, lambda l: ~is_boiler(l))
    return (
        docs.join(bl, id_col, "left")
        .withColumn(
            "n_boiler_lines",
            (F.size(lines) - F.size(kept)).cast("long"),
        )
        .withColumn(out, F.array_join(kept, "\n"))
        .drop("_bl_hashes")
    )


def c4_clean_lines(text: Column) -> Column:
    """C4-inspired line filter (Raffel et al. 2020 §2.2): keep only lines
    that end in terminal punctuation (. ! ? " '), contain at least 3
    whitespace-words, and do not mention 'javascript' (case-insensitive);
    survivors re-joined with '\\n'. Pure Column array algebra — per-row,
    no shuffle; NULL text → NULL."""
    def keep(l: Column) -> Column:
        t = F.trim(l)
        ends_ok = None
        for ch in _TERMINALS:
            c = t.endswith(ch)
            ends_ok = c if ends_ok is None else (ends_ok | c)
        n_words = F.size(F.filter(F.split(t, "\\s+"), lambda w: w != ""))
        return ends_ok & (n_words >= 3) & ~F.lower(t).contains("javascript")

    return F.when(
        text.isNull(), F.lit(None).cast("string")
    ).otherwise(F.array_join(F.filter(F.split(text, "\n"), keep), "\n"))


def c4_doc_keep(text: Column) -> Column:
    """C4-inspired document gate: the cleaned text is non-empty, the raw
    text contains no '{' (code/markup tell) nor 'lorem ipsum', and at least
    5 sentence terminators (. ! ?) remain after cleaning. NULL → false."""
    cleaned = c4_clean_lines(text)
    terminators = F.length(cleaned) - F.length(
        F.regexp_replace(cleaned, r"[.!?]", "")
    )
    return F.coalesce(
        (F.length(cleaned) > 0)
        & ~text.contains("{")
        & ~F.lower(text).contains("lorem ipsum")
        & (terminators >= 5),
        F.lit(False),
    )


# ---------------------------------------------------------------------------
# corpus vocabulary statistics
# ---------------------------------------------------------------------------


def corpus_top_tokens(
    documents: DataFrame, k: int = 100, text_col: str = "text"
) -> DataFrame:
    """Global top-k tokens by corpus frequency, deterministic tie-break
    (count DESC, token ASC). explode → map-side-combinable count, then
    orderBy+limit — Spark plans TakeOrderedAndProject, a per-partition
    partial top-k with a k-row driver merge, NOT a global sort shuffle
    (the counts table at web scale is #distinct-tokens rows; only k rows
    ever leave the executors)."""
    return (
        documents.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(k)
    )


def chunk_documents(
    documents: DataFrame,
    chunk_words: int = 512,
    overlap_words: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sliding-window document chunking for context-window packing:
    (id, chunk_id, n_words, chunk_text) — each document split into
    whitespace-token windows of ``chunk_words`` with ``overlap_words``
    carried between consecutive chunks (stride = chunk − overlap). The
    LLM-pretraining shard step: long documents become training-length
    pieces without losing cross-boundary context.

    Chunk count is closed-form (1 chunk when n ≤ chunk_words, else
    1 + ceil((n − chunk_words) / stride) via integer arithmetic), so both
    engines agree exactly; chunk_text is the space-join of the token
    slice — i.e. chunks are whitespace-NORMALIZED (the documented
    contract; runs of whitespace/newlines inside a chunk become single
    spaces). Empty tokens are filtered, so leading/trailing whitespace
    of ANY kind never produces a phantom token (trim alone strips only
    spaces — hypothesis-found on '\\n'-led text). Empty/blank text
    yields one empty chunk with n_words = 0, NULL text none (explode of
    NULL sequence).

    Scale shape: pure per-row expressions — split once (let-bound), a
    sequence explode, and slices; no shuffle, no Python, text never
    exchanged beyond its own chunks."""
    if overlap_words >= chunk_words:
        raise ValueError("overlap_words must be < chunk_words")
    stride = chunk_words - overlap_words
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    n = F.size(toks)
    n_chunks = F.when(n <= chunk_words, F.lit(1)).otherwise(
        F.lit(1)
        + F.floor(
            (n - chunk_words + stride - 1) / F.lit(stride)
        ).cast("int")
    )
    staged = documents.select(
        F.col(id_col).alias(id_col),
        toks.alias("_toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    piece = F.slice(
        F.col("_toks"), F.col("chunk_id") * stride + 1, chunk_words
    )
    return staged.select(
        id_col,
        "chunk_id",
        F.size(piece).alias("n_words"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


# Unicode script ranges for script_profile: (name, character-class regex).
# Order is the deterministic dominance tie-break. BMP ranges only — the
# major web scripts; astral text falls into 'unknown'.
SCRIPT_CLASSES = (
    ("latin", r"[A-Za-zÀ-ɏ]"),
    ("cyrillic", r"[Ѐ-ӿ]"),
    ("greek", r"[Ͱ-Ͽ]"),
    ("arabic", r"[؀-ۿ]"),
    ("hebrew", r"[֐-׿]"),
    ("devanagari", r"[ऀ-ॿ]"),
    ("cjk", r"[一-鿿぀-ヿ가-힯]"),
)


def script_profile(text: Column) -> dict[str, Column]:
    """Unicode script composition of a document — the multilingual-corpus
    splitter that runs BEFORE language id (lang_id's stopword markers only
    cover Latin-script languages; routing Cyrillic/CJK/Arabic text there
    is noise). Returns per-script character counts, the dominant script
    name ('unknown' when no script character occurs; ties break by the
    fixed SCRIPT_CLASSES order), and the dominant script's fraction of
    all script characters. Pure regexp_count expressions — one pass per
    class inside codegen, no shuffle."""
    counts = {
        name: F.regexp_count(text, F.lit(cls)) for name, cls in SCRIPT_CLASSES
    }
    total = sum(counts.values(), F.lit(0))
    best = F.greatest(*counts.values())
    dom = F.lit("unknown")
    # reversed so earlier classes win ties (the last .when checked first
    # in the chain below would shadow — build first-match-wins explicitly)
    expr = F.lit("unknown")
    for name, _ in reversed(SCRIPT_CLASSES):
        expr = F.when(
            (counts[name] > 0) & (counts[name] == best), F.lit(name)
        ).otherwise(expr)
    dom = expr
    return {
        **{f"n_{k}": v.cast("long") for k, v in counts.items()},
        "script_dom": dom,
        "script_dom_frac": F.when(
            total > 0, best.cast("double") / total.cast("double")
        ),
    }


def trigram_entropy(
    documents: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, tri_entropy) — Shannon entropy (nats, rounded to 6 dp) of the
    document's character-trigram distribution over the lowercased,
    whitespace-collapsed text: the KenLM-free gibberish detector. Natural
    prose lands in a band (≈4-6 nats); base64 blobs and minified JS score
    high, 'aaaa…' keyboard mash and template spam score low — gate the
    tails. Documents shorter than 3 normalized chars produce no row.

    Scale shape (r6 — guide §2.3/2.4): ONE exchange, of the text itself.
    Both aggregates group within a document, so hash-partitioning the
    corpus by id BEFORE the explode lets (id, gram) and (id) aggregate
    in place with zero post-explode exchanges. That replaces the old
    post-explode (id, gram-hash) exchange, which carried one 16-byte row
    per distinct trigram per document — empirically ~13× the text bytes
    (a trigram window per character survives partial aggregation at
    roughly half the character count) — with a single 1× text-bytes
    exchange. Entropy arithmetic is pure Column algebra. Deterministic
    (rounding absorbs libm/association drift between engines; the
    oracle mirrors the normalization verbatim)."""
    s = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    # let-bind the normalized string (see let_col) so the per-window
    # lambda doesn't re-run lower+regexp per trigram; < 3 chars → no
    # windows (sequence(1, 0) would DESCEND — guard explicitly)
    gram_hashes = let_col(
        s,
        lambda bound: F.when(
            F.length(bound) >= 3,
            F.transform(
                F.sequence(F.lit(1), F.length(bound) - 2),
                lambda i: F.xxhash64(bound.substr(i, F.lit(3))),
            ),
        ).otherwise(F.array().cast("array<long>")),
    )
    # explicit partition count: the text exchange is small in BYTES but
    # the per-byte downstream work (explode + hash per character) is huge,
    # so AQE's byte-targeted coalescing would funnel it onto one task;
    # REPARTITION_BY_NUM pins full parallelism (cluster-derived, not a
    # local constant)
    n_part = documents.sparkSession.sparkContext.defaultParallelism
    grams = documents.repartition(n_part, F.col(id_col)).select(
        F.col(id_col), F.explode(gram_hashes).alias("_g")
    )
    counts = grams.groupBy(id_col, "_g").agg(F.count("*").alias("_c"))
    return (
        counts.groupBy(id_col)
        .agg(
            F.sum("_c").alias("_n"),
            F.sum(F.col("_c") * F.log(F.col("_c"))).alias("_clogc"),
        )
        .select(
            id_col,
            F.round(
                F.log(F.col("_n")) - F.col("_clogc") / F.col("_n"), 6
            ).alias("tri_entropy"),
        )
    )


def pack_shards(
    documents: DataFrame,
    budget_tokens: int = 1_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic training-shard packing: assign each document to the
    fixed-token-budget output shard containing its START offset in the
    ``id_col``-ordered concatenation of the corpus — the last curation
    step before tokenized training shards are written. Output per doc:
    (id, n_tokens, start_offset, shard_id, shard_offset) where
    start_offset is the global EXCLUSIVE prefix sum of n_tokens,
    shard_id = start_offset // budget and shard_offset the remainder.

    Contract (shared verbatim by the SQL oracle): n_tokens is the
    canonical alnum token count (:func:`tokens`); a document straddling a
    budget boundary belongs wholly to the shard where it starts, so
    shards can overflow by at most one document — the standard
    concatenate-then-slice packing used by LLM pretraining loaders,
    which slice the token stream downstream. Shard ids are dense from 0
    and the assignment is a pure function of the data (independent of
    parallelism).

    Scale shape: the prefix sum is :func:`wbx.frontier.global_prefix_sum`
    — bucketed two-phase, never a single-reducer window over the corpus;
    the only full-data exchange carries (id, n_tokens) plus the bucket
    id, text never shuffles (dropped before the rank stage, no late
    fetch needed since the output is metadata-only).
    """
    from wbx.frontier import global_prefix_sum

    sized = documents.select(
        F.col(id_col), F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens")
    )
    started = global_prefix_sum(
        sized,
        [(id_col, True)],
        "n_tokens",
        "start_offset",
        exclusive=True,
    )
    b = F.lit(int(budget_tokens)).cast("long")
    # `div` is exact 64-bit integer division — float division then cast
    # would misround near shard boundaries once offsets pass 2^53 tokens
    return started.select(
        id_col,
        "n_tokens",
        "start_offset",
        F.expr(f"start_offset div CAST({int(budget_tokens)} AS BIGINT)")
        .cast("long")
        .alias("shard_id"),
        F.pmod("start_offset", b).cast("long").alias("shard_offset"),
    )


def hashed_linear_struct(
    text: Column, seed: int = 13, bigrams: bool = True, hasher=None
) -> Column:
    """Column core of the hashed-linear classifier: struct(n_feats,
    score_sum) over alnum unigrams (+ adjacent bigrams) of ``text`` —
    integer milli-weights pmod(hash, 2001) − 1000 summed as int64. Pure
    per-row expression, so composing pipelines (curate_flags) evaluate it
    inline in the same scan as the rule gates instead of joining
    hashed_linear_score's output back by id."""
    if hasher is None:
        hasher = lambda c, s: F.xxhash64(c, F.lit(s))  # noqa: E731

    def score_cols(bound: Column) -> Column:
        n = F.size(bound)
        grams = F.zip_with(
            F.slice(bound, 1, F.greatest(n - 1, F.lit(0))),
            F.slice(bound, 2, F.greatest(n - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        feats = F.concat(bound, grams) if bigrams else bound
        w = lambda t: F.pmod(hasher(t, seed), F.lit(2001)) - F.lit(1000)  # noqa: E731
        return F.struct(
            F.size(feats).cast("long").alias("n_feats"),
            F.aggregate(
                feats,
                F.lit(0).cast("long"),
                lambda acc, t: acc + w(t).cast("long"),
            ).alias("score_sum"),
        )

    return let_col(tokens(text), score_cols)


def hashed_linear_score(
    documents: DataFrame,
    seed: int = 13,
    threshold: float = 0.0,
    bigrams: bool = True,
    id_col: str = "doc_id",
    text_col: str = "text",
    hasher=None,
) -> DataFrame:
    """Model-based quality filtering: score each document with a hashed
    n-gram LINEAR classifier (the fastText-style complement to the
    rule-based Gopher/C4 gates — the standard "quality classifier" pass
    of LLM curation pipelines). Features are the canonical alnum unigrams
    plus (optionally) adjacent bigrams; each feature hashes to a weight
    and the document score is the mean feature weight. Output per doc:
    (id, n_feats, score_sum, quality_score, keep).

    Weights are integer MILLI-units derived from the feature hash
    (pmod(h, 2001) − 1000 ∈ [−1000, 1000]), so ``score_sum`` is an exact
    int64 — order-independent, parallelism-independent, and cross-engine
    reproducible with the portable md5 hasher; the one float division
    (quality_score = score_sum / (1000·n_feats), rounded 6dp) happens
    once at the end. A production deployment substitutes real exported
    model weights by replacing the hash→weight map with a broadcast
    lookup; the plan shape (pure per-row Column algebra, zero exchanges,
    zero Python) is identical, which is what this operator pins.

    ``hasher``: (Column, seed) → int64 Column, the wbx.sampling
    convention. Default xxhash64 (JVM-native); pass an md5_hash60-based
    hasher for bit-identical oracle parity. ``threshold`` is in score
    units; the keep decision compares integers (score_sum ≥
    round(1000·threshold)·n_feats), never floats.
    """
    scored = hashed_linear_struct(F.col(text_col), seed, bigrams, hasher)
    derived = hashed_linear_derived(F.col("_s"), threshold)
    return documents.select(F.col(id_col), scored.alias("_s")).select(
        id_col, *[c.alias(n) for n, c in derived.items()]
    )


def hashed_linear_derived(s: Column, threshold: float = 0.0) -> dict[str, Column]:
    """The four classifier output columns derived from a STAGED
    hashed_linear_struct column ``s`` (stage it with withColumn first so
    the struct is evaluated once, not once per reference — CollapseProject
    keeps multi-referenced non-cheap aliases staged). Shared by
    hashed_linear_score and callers that fuse the classifier into a wider
    per-row projection (one scan instead of a join-back by id)."""
    thresh_milli = int(round(threshold * 1000))
    return {
        "n_feats": s["n_feats"],
        "score_sum": s["score_sum"],
        # NULL text propagates NULL (falls through both whens); empty
        # feature set scores a neutral 0.0
        "quality_score": F.when(
            s["n_feats"] > 0,
            F.round(s["score_sum"] / (F.lit(1000.0) * s["n_feats"]), 6),
        ).when(s["n_feats"] == 0, F.lit(0.0)),
        "keep": s["score_sum"] >= F.lit(thresh_milli).cast("long") * s["n_feats"],
    }


# ---------------------------------------------------------------------------
# end-to-end curation pipeline
# ---------------------------------------------------------------------------


def curate_flags(
    documents: DataFrame,
    benchmark: DataFrame | None = None,
    classifier_threshold: float = 0.0,
    classifier_seed: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    hasher=None,
) -> DataFrame:
    """Stage-flag form of the full curation pipeline: every document gets
    boolean columns (c4_ok, gopher_ok, clf_ok, exact_survivor, decon_ok)
    plus ``clean_text`` (C4 line cleaning → PII scrub of the raw text).
    FLAGS-THEN-FILTER is the Spark-first shape for multi-stage curation:
    the rule gates and the classifier are pure Column expressions fused
    into ONE scan of the corpus, and the whole funnel report is one
    map-side-combinable aggregate over the flags (curation_report) — a
    stage-by-stage filter chain would re-scan or re-shuffle per stage and
    gives no per-stage accounting.

    Only the genuinely aggregating stages are joins, and they carry no
    text: exact-dedup survivorship is a left join against
    dedup_exact_ids' (digest-min id) output, and decontamination (when
    ``benchmark`` is given) a left join against
    decontaminate_ngram_overlap's hit ids — both broadcast-eligible id
    sets (AQE decides). Gates are evaluated on clean_text;
    dedup digests use the RAW text (byte-identical duplicates, the archive
    convention) so survivorship is stable under gate-rule changes.
    """
    assert_staging_free(documents, ("_surv", "_nhits"), "curate_flags")
    raw = F.col(text_col)
    cleaned = pii_scrub(c4_clean_lines(raw))
    # the classifier is a per-row expression (hashed_linear_struct), so it
    # fuses into the same scan as the rule gates — no id-join for it
    thresh_milli = int(round(classifier_threshold * 1000))
    clf_s = hashed_linear_struct(raw, seed=classifier_seed, hasher=hasher)
    clf_ok = (
        clf_s["score_sum"]
        >= F.lit(thresh_milli).cast("long") * clf_s["n_feats"]
    )
    survivors = dedup_exact_ids(documents, text_col, id_col).select(
        F.col(id_col), F.lit(True).alias("_surv")
    )
    out = (
        documents.withColumn("clean_text", cleaned)
        .withColumn("c4_ok", c4_doc_keep(raw))
        .withColumn("gopher_ok", gopher_keep(F.col("clean_text")))
        .withColumn("clf_ok", clf_ok)
        .join(survivors, id_col, "left")
        .withColumn("exact_survivor", F.coalesce(F.col("_surv"), F.lit(False)))
        .drop("_surv")
    )
    if benchmark is not None:
        hits = decontaminate_ngram_overlap(
            documents, benchmark, text_col=text_col, id_col=id_col
        ).select(F.col(id_col), F.lit(False).alias("_nhits"))
        out = (
            out.join(hits, id_col, "left")
            .withColumn("decon_ok", F.coalesce(F.col("_nhits"), F.lit(True)))
            .drop("_nhits")
        )
    else:
        out = out.withColumn("decon_ok", F.lit(True))
    return out


_CURATE_STAGES = ("c4_ok", "gopher_ok", "clf_ok", "exact_survivor", "decon_ok")


def curation_report(flags: DataFrame) -> DataFrame:
    """Cumulative funnel over curate_flags output in ONE aggregate:
    (stage, n_pass) where n_pass counts documents passing this stage AND
    every stage before it (stage 'input' = all rows). The whole report is
    a single map-side-combinable job — no per-stage actions."""
    cum = F.lit(True)
    aggs = [F.count("*").alias("input")]
    for s in _CURATE_STAGES:
        cum = cum & F.coalesce(F.col(s), F.lit(False))
        aggs.append(F.sum(cum.cast("long")).alias(s))
    row = flags.agg(*aggs)
    stages = ["input", *_CURATE_STAGES]
    return row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("stage"),
                        F.col(s).cast("long").alias("n_pass"),
                    )
                    for s in stages
                ]
            )
        ).alias("_r")
    ).select("_r.stage", "_r.n_pass")


def curate_corpus(
    documents: DataFrame,
    benchmark: DataFrame | None = None,
    budget_tokens: int | None = None,
    classifier_threshold: float = 0.0,
    classifier_seed: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    hasher=None,
) -> DataFrame:
    """The composed curation pipeline: C4 gate → Gopher gate → quality
    classifier → exact dedup → (optional) benchmark decontamination, all
    evaluated as curate_flags; survivors keep (id, clean_text as
    ``text``, original columns); with ``budget_tokens`` the result also
    carries pack_shards' shard assignment over the curated corpus —
    i.e. the documents table in, training-shard table out."""
    flags = curate_flags(
        documents,
        benchmark,
        classifier_threshold=classifier_threshold,
        classifier_seed=classifier_seed,
        id_col=id_col,
        text_col=text_col,
        hasher=hasher,
    )
    return curate_from_flags(
        flags, budget_tokens=budget_tokens, id_col=id_col, text_col=text_col
    )


def curate_from_flags(
    flags: DataFrame,
    budget_tokens: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Filter a curate_flags frame down to survivors (all stage flags
    true), promoting clean_text to ``text_col``; with ``budget_tokens``
    also assigns pack_shards' shard layout. Split out so callers that
    already built (and possibly cached) the flags frame — e.g. the CLI,
    which also renders the funnel report from it — don't re-run the
    dedup/decontamination joins and classifier a second time."""
    keep = F.lit(True)
    for s in _CURATE_STAGES:
        keep = keep & F.coalesce(F.col(s), F.lit(False))
    curated = (
        flags.filter(keep)
        .drop(text_col, *_CURATE_STAGES)
        .withColumnRenamed("clean_text", text_col)
    )
    if budget_tokens is None:
        return curated
    shards = pack_shards(
        curated, budget_tokens=budget_tokens, id_col=id_col, text_col=text_col
    ).drop("n_tokens")
    return curated.join(shards, id_col)


def unigram_nll(
    documents: DataFrame,
    min_count: int = 2,
    oov_count: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style language-model quality signal: per-document mean
    negative log-likelihood under the corpus' own unigram model —
    (id, n_toks, unigram_nll) with nll = ln(N) − (Σ m_t·ln(c_t)) / n,
    where c_t is the corpus count of token t (tokens below ``min_count``
    back off to ``oov_count``) and N the corpus token total. Low nll =
    typical language, high nll = gibberish/boilerplate-ish — the
    perplexity gate production pipelines run next to the classifier
    (CCNet buckets corpora by LM perplexity; a self-trained unigram
    model is its engine-shaped core).

    Determinism: counts are exact integers; the only floats are ln() of
    integer ratios summed per doc and rounded 6dp at the end (the
    tri_entropy precedent — rounding absorbs libm/association drift
    between engines). Token-less documents get NULL (callers left-join).

    Scale shape (r6): the corpus is hash-partitioned by id BEFORE the
    token explode, so the (id, token) aggregate, the broadcast
    vocabulary join and the final per-id aggregate all run on that one
    clustering with no further exchange — only the (token → count)
    vocabulary aggregate shuffles, and it carries post-partial-agg
    (token, count) rows only (broadcasting back when it fits — AQE; at
    web scale hash the token to 8 bytes first and bucket both sides).
    The corpus total rides a broadcast 1-row cross join, never a
    collect().
    """
    # explicit count: see trigram_entropy — keeps AQE from coalescing the
    # small-bytes/heavy-compute text exchange onto too few tasks
    n_part = documents.sparkSession.sparkContext.defaultParallelism
    tok = documents.repartition(n_part, F.col(id_col)).select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("_t")
    )
    per = tok.groupBy(id_col, "_t").agg(F.count("*").alias("_m"))
    vocab = tok.groupBy("_t").agg(F.count("*").alias("_c"))
    total = vocab.agg(F.sum("_c").cast("double").alias("_N"))
    per_doc = (
        per.join(vocab.filter(F.col("_c") >= min_count), "_t", "left")
        .groupBy(id_col)
        .agg(
            F.sum("_m").cast("long").alias("n_toks"),
            F.sum(
                F.col("_m")
                * F.log(F.coalesce(F.col("_c"), F.lit(float(oov_count))))
            ).alias("_s"),
        )
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        id_col,
        "n_toks",
        F.round(
            F.log(F.col("_N")) - F.col("_s") / F.col("n_toks"), 6
        ).alias("unigram_nll"),
    )


def score_buckets(
    scored: DataFrame,
    score_col: str = "unigram_nll",
    n_buckets: int = 3,
    id_col: str = "doc_id",
    labels: tuple[str, ...] | None = ("head", "middle", "tail"),
) -> DataFrame:
    """CCNet-style quality bucketing: rank documents by a score (ascending
    — for NLL, low = most-typical language) and split them into
    ``n_buckets`` equal-depth buckets with EXACT SQL NTILE semantics
    (first N mod n buckets take the extra row), so the oracle is
    ``NTILE(n) OVER (ORDER BY score, id)``. Output: (id, score, bucket
    1-based, and ``bucket_label`` when ``labels`` matches n_buckets —
    CCNet's head/middle/tail corpus split).

    Scale shape: the global order comes from
    :func:`wbx.frontier.global_rank` (bucketed two-phase — never a
    single-reducer window), N rides a broadcast 1-row cross join, and the
    NTILE bucket is closed-form arithmetic on (rank, N). NULL scores are
    excluded (rank over NULL would be oracle-ambiguous); callers left-join
    the result back if they need those rows."""
    from wbx.frontier import global_rank

    base = scored.filter(F.col(score_col).isNotNull()).select(
        id_col, score_col
    )
    ranked = global_rank(base, [(score_col, True), (id_col, True)], "_rk")
    total = base.agg(F.count("*").cast("long").alias("_N"))
    n = F.lit(int(n_buckets)).cast("long")
    rk1 = F.col("_rk") - 1  # 0-based rank
    q = F.expr(f"_N div {int(n_buckets)}")
    r = F.pmod("_N", n)
    big = r * (q + 1)  # rows covered by the (q+1)-sized leading buckets
    # q == 0 (fewer rows than buckets): NTILE gives bucket = rank; guard
    # first or the `div q` arm raises under ANSI
    bucket = (
        F.when(q == 0, rk1)
        .when(
            rk1 < big,
            F.expr(f"(_rk - 1) div (_N div {int(n_buckets)} + 1)"),
        )
        .otherwise(r + F.expr(f"(_rk - 1 - _N % {int(n_buckets)} * (_N div {int(n_buckets)} + 1)) div (_N div {int(n_buckets)})"))
        + F.lit(1)
    )
    out = (
        ranked.crossJoin(F.broadcast(total))
        .select(
            id_col,
            score_col,
            bucket.cast("long").alias("bucket"),
        )
    )
    if labels is not None and len(labels) == n_buckets:
        lab = F.array(*[F.lit(x) for x in labels])
        out = out.withColumn(
            "bucket_label", F.element_at(lab, F.col("bucket").cast("int"))
        )
    return out
