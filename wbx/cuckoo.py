"""Partitioned cuckoo-filter URL-seen set (the deletable half of the
north_rule's "bloom/cuckoo URL-seen set").

Why a second sketch next to the Bloom (wbx/frontier.py): a Bloom filter
cannot forget.  A crawl operator that retracts URLs — a host is blocklisted
then unblocked, a page is marked for recrawl, a politeness budget revokes a
scheduled batch — either rebuilds the whole Bloom (O(seen), prohibitive at
10^10 keys) or lets the sketch's false-positive rate ratchet upward forever.
A cuckoo filter [Fan et al., CoNLX 2014; per SURVEY.md §7 / PAPERS.md] stores
explicit per-key fingerprints in a 2-choice bucket table, so membership,
incremental insert AND **O(1) deletion** are all supported at ~2^-(f-2)
false-positive rate for f-bit fingerprints.

Design (mirrors the Bloom layer's split, which round-3 measurement proved
out — the per-candidate path must never leave the JVM):

- **Probe = pure Column expressions** (`cuckoo_might_contain`): fingerprint
  and both candidate buckets are computed with `xxhash64` + safe integer
  arithmetic inside whole-stage codegen; the membership test is eight
  `element_at` equality checks.  No Python per candidate.
- **Mutation = cogrouped pandas kernel** (`update_seen_cuckoo`,
  `remove_seen_cuckoo`): touches only the O(|delta|) new/retracted keys,
  never candidates, never a rescan of the cumulative set.  The kernel
  receives (fingerprint, bucket) precomputed by the SAME Column expressions
  the probe uses — one hashing implementation, zero JVM/Python drift (the
  alternate-bucket hash is overflow-bounded integer arithmetic reproduced
  identically on both sides; xxhash64 itself is never reimplemented).
- **Per-hash-partition rows** `(cuckoo_part, nbuckets, fp_bits, saturated,
  fps)`: at 10^10 seen URLs one global table (~40 GB at 16-bit
  fingerprints) cannot broadcast; per-partition tables are broadcast OR
  co-partitioned by the same auto mode as the Bloom.
- **Saturation degrades, never lies.** Cuckoo insertion can fail when a
  partition's table passes ~95% load.  A failed insert sets the partition's
  `saturated` flag; a saturated partition answers "maybe seen" for EVERY
  candidate, which routes them to the exact anti-join.  The sketch can
  therefore only ever ADMIT candidates to the exact check — bit-identical
  final results by construction, like the Bloom path.

The table is a membership sketch like the Bloom's: pass it as
``frontier.SeenSet(seen, sketch=table)`` to ``frontier.filter_unseen`` or
``frontier.crawl_round``, which pick the probe from its ``cuckoo_part``
column.  The crawl loops keep the Bloom (they never delete a key).

The reference (a single-process WARC toolkit) has no seen-set at all; this
module is engine-native north_rule surface, not parity
(ref src/warcbench/utils.py keeps per-run Python sets).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SLOTS = 4  # fingerprints per bucket (standard (2,4)-cuckoo: ~95% max load)
_MAX_KICKS = 500  # eviction chain bound before declaring saturation
_FP_SEED = 0xC0  # xxhash64 seed for the fingerprint draw
_I1_SEED = 0xC1  # xxhash64 seed for the primary bucket draw
_CUCKOO_BROADCAST_MAX_BYTES = 64 << 20

_SCHEMA = (
    "cuckoo_part int, nbuckets long, fp_bits int, saturated boolean, "
    "fps array<int>"
)


def _fingerprint(url_hash: Column, fp_bits: int) -> Column:
    """f-bit fingerprint in [1, 2^f-1] (0 marks an empty slot)."""
    return (
        F.pmod(F.xxhash64(url_hash, F.lit(_FP_SEED)), F.lit((1 << fp_bits) - 1)) + 1
    ).cast("long")


def _primary_bucket(url_hash: Column, nbuckets: Column | int) -> Column:
    """i1 = xxhash64 & (nbuckets-1); nbuckets is a power of two so the
    mask form avoids pmod AND keeps the xor-partnership closed."""
    mask = (nbuckets if isinstance(nbuckets, Column) else F.lit(int(nbuckets))) - 1
    return F.xxhash64(url_hash, F.lit(_I1_SEED)).bitwiseAND(mask)


def _alt_hash_col(fp: Column) -> Column:
    """Avalanche of the fingerprint for the partner bucket, as Columns.

    Must be bit-identical to :func:`_alt_hash_np`.  Plain long arithmetic
    with every intermediate provably < 2^46, so Spark's ANSI overflow check
    can never fire: fp < 2^16 → fp*40503 < 2^32 → xor-shift keeps < 2^32 →
    *9541 < 2^46."""
    h = fp * F.lit(40503)
    h = h.bitwiseXOR(F.shiftrightunsigned(h, 13))
    h = h * F.lit(9541)
    return h.bitwiseXOR(F.shiftrightunsigned(h, 7))


def _alt_hash_np(fp: np.ndarray) -> np.ndarray:
    """numpy twin of :func:`_alt_hash_col` (int64, no wraparound needed —
    the Column version's bound argument applies verbatim)."""
    h = fp.astype(np.int64) * np.int64(40503)
    h = h ^ (h >> np.int64(13))
    h = h * np.int64(9541)
    return h ^ (h >> np.int64(7))


def _partner_bucket_np(i: np.ndarray, fp: np.ndarray, nbuckets: int) -> np.ndarray:
    return (i ^ _alt_hash_np(fp)) & np.int64(nbuckets - 1)


def empty_seen_cuckoo(spark) -> DataFrame:
    return spark.createDataFrame([], _SCHEMA)


def _delta_with_probes(
    delta: DataFrame, partitions: int, nbuckets: int, fp_bits: int
) -> DataFrame:
    """(partition, fingerprint, primary bucket) per key — computed JVM-side
    with the probe's own expressions before the pandas kernel ever runs."""
    return delta.select(
        F.pmod(F.col("url_hash"), F.lit(partitions)).cast("int").alias("_cp"),
        _fingerprint(F.col("url_hash"), fp_bits).alias("_fp"),
        _primary_bucket(F.col("url_hash"), nbuckets).alias("_i1"),
    )


def _insert_keys(
    fps: np.ndarray, i1: np.ndarray, fp: np.ndarray, nbuckets: int
) -> bool:
    """Insert (i1, fp) pairs into the flat slot table in sorted order
    (deterministic layout for a given key set).  Returns False on the first
    key the eviction chain cannot place (caller marks the partition
    saturated; the keys already placed stay — extra fingerprints can only
    cause false positives, never negatives)."""
    order = np.lexsort((fp, i1))
    for a, b in zip(i1[order].tolist(), fp[order].tolist()):
        a2 = int(_partner_bucket_np(np.int64(a), np.int64(b), nbuckets))
        s1, s2 = fps[a * _SLOTS : a * _SLOTS + _SLOTS], fps[a2 * _SLOTS : a2 * _SLOTS + _SLOTS]
        # duplicates ARE stored (Fan et al. §3.2): two distinct keys that
        # collide on (fingerprint, bucket pair) occupy two slots, so
        # deleting one key always leaves the other's copy — deletion can
        # never create a false negative for a key that is still inserted
        placed = False
        for s in (s1, s2):
            empt = np.flatnonzero(s == 0)
            if len(empt):
                s[empt[0]] = b
                placed = True
                break
        if placed:
            continue
        # evict: deterministic random-walk seeded by the key itself
        cur_b, cur_i = b, a
        for kick in range(_MAX_KICKS):
            slot = (cur_b + kick) % _SLOTS
            idx = cur_i * _SLOTS + slot
            cur_b, fps[idx] = int(fps[idx]), cur_b
            cur_i = int(_partner_bucket_np(np.int64(cur_i), np.int64(cur_b), nbuckets))
            tgt = fps[cur_i * _SLOTS : cur_i * _SLOTS + _SLOTS]
            empt = np.flatnonzero(tgt == 0)
            if len(empt):
                tgt[empt[0]] = cur_b
                placed = True
                break
        if not placed:
            # the orphaned fingerprint cur_b is dropped from the table, but
            # the partition is now saturated => every probe answers maybe
            return False
    return True


def update_seen_cuckoo(
    cuckoo: DataFrame,
    delta: DataFrame,
    partitions: int = 64,
    nbuckets: int = 1 << 16,
    fp_bits: int = 16,
) -> DataFrame:
    """Incrementally insert a round's seen-delta keys — O(|delta|), never a
    rescan of the cumulative seen set (the same contract as
    update_seen_bloom, wbx/frontier.py).

    ``nbuckets`` (power of two) × 4 slots is the per-partition capacity;
    size for ~0.8 load at the expected keys/partition (10^10 URLs / 64
    partitions → nbuckets ≈ 2^26).  A partition stored with different
    geometry raises (the fingerprints would be incomparable)."""
    import pandas as _pd

    if nbuckets & (nbuckets - 1) or nbuckets <= 0:
        raise ValueError("nbuckets must be a power of two")
    if not 4 <= fp_bits <= 30:
        raise ValueError("fp_bits must be in [4, 30]")
    d = _delta_with_probes(delta, partitions, nbuckets, fp_bits)
    c = cuckoo.withColumnRenamed("cuckoo_part", "_cp")

    def upd(left: _pd.DataFrame, right: _pd.DataFrame) -> _pd.DataFrame:
        if len(right):
            if int(right["nbuckets"].iloc[0]) != nbuckets or (
                int(right["fp_bits"].iloc[0]) != fp_bits
            ):
                raise ValueError(
                    "seen-cuckoo geometry mismatch: stored "
                    f"(nbuckets={int(right['nbuckets'].iloc[0])}, "
                    f"fp_bits={int(right['fp_bits'].iloc[0])}), update "
                    f"(nbuckets={nbuckets}, fp_bits={fp_bits})"
                )
            fps = np.array(right["fps"].iloc[0], dtype=np.int32).copy()
            part = int(right["_cp"].iloc[0])
            saturated = bool(right["saturated"].iloc[0])
        else:
            fps = np.zeros(nbuckets * _SLOTS, dtype=np.int32)
            part = int(left["_cp"].iloc[0])
            saturated = False
        if len(left):
            ok = _insert_keys(
                fps,
                left["_i1"].to_numpy(np.int64),
                left["_fp"].to_numpy(np.int64),
                nbuckets,
            )
            saturated = saturated or not ok
        return _pd.DataFrame(
            {
                "cuckoo_part": [part],
                "nbuckets": [nbuckets],
                "fp_bits": [fp_bits],
                "saturated": [saturated],
                "fps": [fps.tolist()],
            }
        )

    return d.groupBy("_cp").cogroup(c.groupBy("_cp")).applyInPandas(upd, _SCHEMA)


def remove_seen_cuckoo(
    cuckoo: DataFrame, deletions: DataFrame, partitions: int = 64
) -> DataFrame:
    """Delete keys from the sketch — the operation the Bloom cannot do.

    Removes ONE stored occurrence of each key's fingerprint from its
    primary-or-partner bucket.  Because inserts store duplicates (Fan et
    al. §3.2), each insert owns its own slot, so deleting a key that was
    inserted exactly once never strips another key's copy — no false
    negatives for keys still in the set.  Deleting a key that was never
    inserted is a documented misuse (it may strip a colliding key's
    fingerprint) — callers delete from the seen-set table and mirror that
    exact delta here, so presence is guaranteed by construction.
    Partitions with no deletions pass through untouched; geometry is read
    from the stored rows."""
    import pandas as _pd

    geo = cuckoo.select("nbuckets", "fp_bits").head(1)
    if not geo:
        return cuckoo
    nbuckets, fp_bits = int(geo[0]["nbuckets"]), int(geo[0]["fp_bits"])
    d = _delta_with_probes(deletions, partitions, nbuckets, fp_bits)
    c = cuckoo.withColumnRenamed("cuckoo_part", "_cp")

    def rem(left: _pd.DataFrame, right: _pd.DataFrame) -> _pd.DataFrame:
        if not len(right):
            return _pd.DataFrame(
                {
                    "cuckoo_part": _pd.Series([], dtype="int32"),
                    "nbuckets": _pd.Series([], dtype="int64"),
                    "fp_bits": _pd.Series([], dtype="int32"),
                    "saturated": _pd.Series([], dtype="bool"),
                    "fps": _pd.Series([], dtype="object"),
                }
            )
        fps = np.array(right["fps"].iloc[0], dtype=np.int32).copy()
        if len(left):
            i1 = left["_i1"].to_numpy(np.int64)
            fp = left["_fp"].to_numpy(np.int64)
            order = np.lexsort((fp, i1))
            for a, b in zip(i1[order].tolist(), fp[order].tolist()):
                a2 = int(_partner_bucket_np(np.int64(a), np.int64(b), nbuckets))
                for i in (a, a2):
                    s = fps[i * _SLOTS : i * _SLOTS + _SLOTS]
                    hit = np.flatnonzero(s == b)
                    if len(hit):
                        s[hit[0]] = 0
                        break
        return _pd.DataFrame(
            {
                "cuckoo_part": [int(right["_cp"].iloc[0])],
                "nbuckets": [nbuckets],
                "fp_bits": [fp_bits],
                "saturated": [bool(right["saturated"].iloc[0])],
                "fps": [fps.tolist()],
            }
        )

    return d.groupBy("_cp").cogroup(c.groupBy("_cp")).applyInPandas(rem, _SCHEMA)


def build_seen_cuckoo(
    seen: DataFrame,
    partitions: int = 64,
    fp_bits: int = 16,
    nbuckets: int | None = None,
    load_target: float = 0.8,
) -> DataFrame:
    """Per-hash-partition cuckoo tables over ``seen.url_hash``, sized for
    ``load_target`` occupancy at the observed count (one update pass from
    empty — the incremental path IS the build path)."""
    if nbuckets is None:
        n = seen.count()
        per_part = max(1, -(-n // max(partitions, 1)))
        need = max(64, int(per_part / (load_target * _SLOTS)) + 1)
        nbuckets = 1 << (need - 1).bit_length()
    return update_seen_cuckoo(
        empty_seen_cuckoo(seen.sparkSession), seen, partitions, nbuckets, fp_bits
    )


def cuckoo_might_contain(
    candidates: DataFrame,
    cuckoo: DataFrame,
    partitions: int = 64,
    mode: str = "broadcast",
) -> DataFrame:
    """Adds ``_maybe_seen boolean``: False ⇒ definitely unseen, True ⇒
    confirm exactly.  Saturated partitions answer True for everything.

    Entirely JVM-side — the candidate joins its partition's table row and
    the 2×4 slot equality checks run inside whole-stage codegen.  Modes are
    the Bloom's: broadcast (map-side, zero shuffle), copartition (the 10^10
    path — each table row crosses the wire once, never the driver), auto
    (choose by measured total size)."""
    if mode == "auto":
        row = cuckoo.agg(F.sum(F.size("fps")).alias("slots")).collect()[0]
        total_bytes = int(row["slots"] or 0) * 4
        mode = (
            "broadcast" if total_bytes <= _CUCKOO_BROADCAST_MAX_BYTES else "copartition"
        )
    if mode not in ("broadcast", "copartition"):
        raise ValueError("cuckoo mode must be broadcast | copartition | auto")
    tbl = cuckoo.select(
        F.col("cuckoo_part").alias("_cp"),
        F.col("nbuckets").alias("_nb"),
        F.col("fp_bits").alias("_fb"),
        F.col("saturated").alias("_sat"),
        F.col("fps").alias("_fps"),
    )
    if mode == "broadcast":
        tbl = F.broadcast(tbl)
    cand = candidates.withColumn(
        "_cp", F.pmod(F.col("url_hash"), F.lit(partitions)).cast("int")
    )
    # fingerprint under the stored geometry (fp_bits is a per-row column,
    # so the +1-shifted pmod is written out against _fb)
    fp = (
        F.pmod(
            F.xxhash64(F.col("url_hash"), F.lit(_FP_SEED)),
            # call_function: the Python shiftleft wrapper only accepts an
            # int shift; the SQL expression takes a column (still codegen'd)
            F.call_function("shiftleft", F.lit(1).cast("long"), F.col("_fb")) - 1,
        )
        + 1
    )
    i1 = _primary_bucket(F.col("url_hash"), F.col("_nb"))
    i2 = i1.bitwiseXOR(_alt_hash_col(fp)).bitwiseAND(F.col("_nb") - 1)
    probe = None
    for bucket in (i1, i2):
        base = F.shiftleft(bucket, 2).cast("int")
        for s in range(_SLOTS):
            hit = F.element_at(F.col("_fps"), base + (s + 1)).cast("long") == fp
            probe = hit if probe is None else (probe | hit)
    return (
        cand.join(tbl, "_cp", "left")
        # missing table row (empty hash range) => NULL probe => unseen
        .withColumn(
            "_maybe_seen",
            F.coalesce(F.col("_sat") | probe, F.lit(False)),
        )
        .drop("_cp", "_nb", "_fb", "_sat", "_fps")
    )

