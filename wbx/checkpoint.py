"""Crawl-state checkpointing: atomic per-round snapshots + exact resume.

north_rule: "checkpoints frontier state and the seen-set … so a killed run
resumes exactly, emitting per-partition lineage and fetch/parse metrics".

In production these tables are Iceberg and a round commit is one atomic
multi-table snapshot. This container has no Iceberg jars, so the same
semantics are built on parquet + an atomically-replaced manifest:

    base/
      rounds/r000001/<table>/*.parquet     (written to a tmp dir, then
      rounds/r000002/...                    os.rename'd into place)
      MANIFEST.json                        (os.replace — atomic pointer to
                                            the latest complete round)

A reader only ever follows MANIFEST.json, so a run killed mid-write leaves
at most an orphan tmp dir (ignored, cleaned on the next commit) and the
previous snapshot stays the visible state — exactly Iceberg's
snapshot-pointer contract. Resume = read the manifest, load the tables,
continue from round+1; re-running a round is idempotent because every
operator in wbx.frontier is deterministic in the data.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wbx.frontier import (
    SeenSet,
    build_seen_bloom,
    crawl_round,
    empty_seen_bloom,
    release_rank_caches,
    update_seen_bloom,
)

MANIFEST = "MANIFEST.json"
# the crawl loops' seen_bloom geometry: hash partitions and bits per
# partition filter (2^20 suits tests; size m for the expected keys per
# partition at scale, see update_seen_bloom)
_SKETCH_PARTITIONS = 64
_BLOOM_BITS = 1 << 20


class CheckpointStore:
    """Atomic multi-table snapshot store for crawl rounds."""

    def __init__(self, base_dir: str):
        self.base = base_dir
        os.makedirs(os.path.join(base_dir, "rounds"), exist_ok=True)

    # -- manifest ---------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.base, MANIFEST)

    def manifest(self) -> dict | None:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def latest_round(self) -> int:
        m = self.manifest()
        return m["round"] if m else 0

    # -- commit / load ------------------------------------------------------

    def commit(self, round_id: int, tables: dict[str, DataFrame]) -> dict:
        """Write all tables for one round, then atomically publish.

        Write order: every table lands in rounds/.tmp-rNNN first; a single
        os.rename publishes the round directory; a single os.replace flips
        the manifest pointer. A crash anywhere before the final replace
        leaves the previous snapshot as the visible state.
        """
        rname = f"r{round_id:06d}"
        rounds_dir = os.path.join(self.base, "rounds")
        tmp_dir = os.path.join(rounds_dir, f".tmp-{rname}")
        final_dir = os.path.join(rounds_dir, rname)
        if os.path.exists(tmp_dir):
            shutil.rmtree(tmp_dir)
        if os.path.exists(final_dir):
            shutil.rmtree(final_dir)  # idempotent re-commit of a crashed round
        for name, df in tables.items():
            df.write.mode("overwrite").parquet(os.path.join(tmp_dir, name))
        os.rename(tmp_dir, final_dir)
        manifest = {
            "round": round_id,
            "path": final_dir,
            "tables": sorted(tables),
            "committed_at": time.time(),
        }
        tmp_manifest = self._manifest_path() + ".tmp"
        with open(tmp_manifest, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp_manifest, self._manifest_path())
        # GC any orphan tmp dirs from crashed earlier attempts
        for d in os.listdir(rounds_dir):
            if d.startswith(".tmp-"):
                shutil.rmtree(os.path.join(rounds_dir, d), ignore_errors=True)
        return manifest

    def load(self, spark: SparkSession, table: str, round_id: int | None = None) -> DataFrame:
        rid = round_id if round_id is not None else self.latest_round()
        path = os.path.join(self.base, "rounds", f"r{rid:06d}", table)
        return spark.read.parquet(path)

    def has_table(self, table: str, round_id: int | None = None) -> bool:
        """Whether `table` was committed for the round — the supported way
        to probe for optional tables (stream_marker, seen_bloom) written
        only by some producers. Callers must use this rather than catching
        load()'s read errors: a broad except around spark.read would also
        swallow transient I/O failures, silently breaking the streaming
        replay guard's exactly-once property."""
        rid = round_id if round_id is not None else self.latest_round()
        return os.path.isdir(os.path.join(self.base, "rounds", f"r{rid:06d}", table))

    def _bucket_table_name(self) -> str:
        """Catalog name for the bucketed seen base — stable per store (the
        session catalog is in-memory by default, so the name must be
        re-derivable after a restart)."""
        import hashlib

        digest = hashlib.md5(os.path.abspath(self.base).encode()).hexdigest()[:12]
        return f"wbx_seen_base_{digest}"

    def attach_seen_base(self, spark: SparkSession) -> DataFrame | None:
        """The compacted seen base as a DataFrame whose scan reports its
        bucketing (HashPartitioning on url_hash) — the co-located-join fast
        path of filter_unseen_split. Returns None when no bucketed
        compaction exists: a COMPACTION.json with ``buckets: 0`` (the plain
        parquet base older stores wrote) is read as ordinary files by
        load_seen instead, since attaching unbucketed files as a bucketed
        table would misplace keys.

        The default session catalog is in-memory, so after a restart the
        table written by compact_seen is files-on-disk with
        no catalog entry; this re-attaches it with the same bucket spec via
        external-table DDL (drop+create is idempotent and never touches the
        files — the table is external). This is exactly the Iceberg-manifest
        re-read analogue: metadata lives with the store, the catalog is a
        cache."""
        comp = self._compaction()
        if not comp or not comp.get("buckets") or not os.path.isdir(comp["path"]):
            return None
        tbl = self._bucket_table_name()
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        spark.sql(
            f"CREATE TABLE {tbl} (url_hash BIGINT, canon_url STRING) "
            f"USING PARQUET CLUSTERED BY (url_hash, canon_url) "
            f"SORTED BY (url_hash, canon_url) "
            f"INTO {int(comp['buckets'])} BUCKETS LOCATION '{comp['path']}'"
        )
        return spark.table(tbl)

    def compact_seen(self, spark: SparkSession, buckets: int = 64) -> dict:
        """Maintenance job (the Iceberg bin-packing analogue): merge every
        round's append-only ``seen_delta`` directory into ONE bucketed
        ``seen_base`` table under the latest round, so a long crawl's
        reader-side multi-path scan stops growing with crawl age.

        Correctness: deltas are disjoint by construction (crawl_round's
        anti-join), so the merged set is an exact union — no distinct
        needed. The base is a true Spark bucketed table on BOTH membership
        keys (bucketBy(url_hash, canon_url) + sortBy — the Iceberg
        ``bucket(N, ...)`` partition transform), whose scan carries
        HashPartitioning(url_hash, canon_url) — exactly the anti-join's
        required distribution — so the per-round membership check runs
        WITHOUT shuffling the cumulative set at all; and since
        crawl_round's dedup groupBy uses the same keys, a bucket count
        equal to spark.sql.shuffle.partitions makes the whole
        dedup+membership pipeline a single exchange of O(batch) rows (see
        frontier.filter_unseen_split). load_seen reads base + any deltas
        newer than the compaction point. Crash-safe: the base lands in the
        current round's directory tree first, then COMPACTION.json is
        atomically replaced; a crash leaves the old view intact."""
        rid = self.latest_round()
        if rid == 0:
            return {"compacted_through": 0, "rows": 0}
        prior = self._compaction()
        if prior and prior["compacted_through"] == rid:
            # idempotent no-op: re-compacting without an intervening round
            # would otherwise overwrite the very base load_seen is reading
            return prior
        seen = self.load_seen(spark)
        base_dir = os.path.join(self.base, "rounds", f"r{rid:06d}", "seen_base")
        tbl = self._bucket_table_name()
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            # repartition by the bucket keys first so each write task
            # holds exactly one bucket -> one file per bucket
            seen.repartition(buckets, F.col("url_hash"), F.col("canon_url"))
            .write.mode("overwrite")
            .bucketBy(buckets, "url_hash", "canon_url")
            .sortBy("url_hash", "canon_url")
            .option("path", base_dir)
            .saveAsTable(tbl)
        )
        n = spark.table(tbl).count()
        marker = {
            "compacted_through": rid,
            "path": base_dir,
            "rows": n,
            "buckets": buckets,
        }
        tmp = os.path.join(self.base, "COMPACTION.json.tmp")
        with open(tmp, "w") as f:
            json.dump(marker, f)
        os.replace(tmp, os.path.join(self.base, "COMPACTION.json"))
        return marker

    def load_seen_set(
        self, spark: SparkSession, round_id: int | None = None
    ) -> SeenSet:
        """The seen set as of ``round_id`` in the shape the crawl loops
        schedule against, with the loops' Bloom sketch.

        Membership: the bucketed base + the deltas committed after it when
        a bucketed compaction covers the round, else the full set as
        ``recent`` (including history reads at a round BEFORE the
        compaction point, where the base would contain keys from the
        future, and a plain-parquet base marked ``buckets: 0`` by an older
        store). Sketch: the round's ``seen_bloom`` table; empty before
        round 1; rebuilt from the full set for a store that lacks the table
        (one crawled before the loops kept it), at the loops' capacity so
        the next round's incremental update matches it."""
        rid = round_id if round_id is not None else self.latest_round()
        comp = self._compaction()
        base = None
        if (
            comp
            and comp.get("buckets")
            and comp["compacted_through"] <= rid
            and os.path.isdir(comp["path"])
        ):
            base = self.attach_seen_base(spark)
            recent = self._read_keys(
                spark, self._delta_paths(comp["compacted_through"] + 1, rid)
            )
        else:
            recent = self.load_seen(spark, rid)
        if self.has_table("seen_bloom", rid):
            sketch = self.load(spark, "seen_bloom", rid)
        elif rid == 0:
            sketch = empty_seen_bloom(spark)
        else:
            sketch = build_seen_bloom(
                self.load_seen(spark, rid), _SKETCH_PARTITIONS, m=_BLOOM_BITS
            )
        return SeenSet(recent, base, sketch, _SKETCH_PARTITIONS)

    def _compaction(self) -> dict | None:
        try:
            with open(os.path.join(self.base, "COMPACTION.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _delta_paths(self, first: int, last: int) -> list[str]:
        return [
            p
            for r in range(first, last + 1)
            if os.path.isdir(
                p := os.path.join(self.base, "rounds", f"r{r:06d}", "seen_delta")
            )
        ]

    @staticmethod
    def _read_keys(spark: SparkSession, paths: list[str]) -> DataFrame:
        if not paths:
            return spark.createDataFrame([], "url_hash long, canon_url string")
        return spark.read.parquet(*paths).select("url_hash", "canon_url")

    def load_seen(self, spark: SparkSession, round_id: int | None = None) -> DataFrame:
        """The full seen-set as of `round_id`: the union of every round's
        append-only ``seen_delta`` partition (crawl_round's anti-join makes
        the per-round deltas disjoint by construction, so a plain multi-path
        parquet scan IS the exact set — no distinct needed).

        This is the Iceberg-append analogue: a round commits only the keys
        it newly scheduled (O(batch) bytes), never a rewrite of the whole
        10^10-row seen table; readers see the set as a partitioned scan.
        Production compaction (bin-packing small delta files) is an Iceberg
        maintenance job, orthogonal to the semantics here."""
        rid = round_id if round_id is not None else self.latest_round()
        start = 1
        paths: list[str] = []
        comp = self._compaction()
        if comp and comp["compacted_through"] <= rid and os.path.isdir(comp["path"]):
            paths.append(comp["path"])
            start = comp["compacted_through"] + 1
        return self._read_keys(spark, paths + self._delta_paths(start, rid))


# ---------------------------------------------------------------------------
# lineage / metrics
# ---------------------------------------------------------------------------


def partition_metrics(df: DataFrame, round_id: int, metric: str) -> DataFrame:
    """Per-partition lineage rows (round, partition_id, metric, value):
    how many rows of `metric` each partition produced this round — the
    north_rule's per-partition lineage signal, computed as a cheap
    map-side groupBy on spark_partition_id()."""
    return df.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count("*").cast("double").alias("value")
    ).select(
        F.lit(round_id).alias("round"),
        "partition_id",
        F.lit(metric).alias("metric"),
        "value",
    )


def round_metrics(round_id: int, batch: DataFrame, seen_delta: DataFrame) -> DataFrame:
    """`seen_added` counts THIS round's delta (the keys newly marked seen),
    not the cumulative set — the lineage signal a crawl operator actually
    watches round-over-round."""
    return partition_metrics(batch, round_id, "urls_scheduled").unionByName(
        partition_metrics(seen_delta, round_id, "seen_added")
    )


def crawl_report(spark: SparkSession, store: "CheckpointStore") -> DataFrame:
    """Cross-round crawl health rollup from a store's committed snapshots:
    one row per round — (round, urls_scheduled, seen_added, n_partitions,
    max_partition_frac, n_hosts, top_host, top_host_frac). The numbers an
    operator actually watches: discovery keeping pace (urls_scheduled
    round-over-round), partition skew (max_partition_frac → one straggler
    task owns the round), and politeness health (top_host_frac → one
    domain monopolizing the batch).

    Reads every round's ``metrics`` and ``fetch_log`` in ONE glob scan
    each (both carry a ``round`` column — no driver-side loop over
    rounds); aggregates are map-side combinable at round × host
    cardinality. Deterministic: top host ties break lexicographically
    via max(struct(n, host))."""
    base = os.path.join(store.base, "rounds")
    metrics = spark.read.parquet(os.path.join(base, "r*", "metrics"))
    per = (
        metrics.filter(F.col("metric") == "urls_scheduled")
        .groupBy("round")
        .agg(
            F.sum("value").cast("long").alias("urls_scheduled"),
            F.count("*").cast("long").alias("n_partitions"),
            # try_divide: a committed round that scheduled 0 urls has
            # sum(value)=0 — NULL skew, not an ANSI divide-by-zero abort
            F.try_divide(F.max("value"), F.sum("value")).alias(
                "max_partition_frac"
            ),
        )
    )
    seen = (
        metrics.filter(F.col("metric") == "seen_added")
        .groupBy("round")
        .agg(F.sum("value").cast("long").alias("seen_added"))
    )
    fl = spark.read.parquet(os.path.join(base, "r*", "fetch_log"))
    host_counts = fl.groupBy("round", "host").agg(F.count("*").alias("_n"))
    hosts = host_counts.groupBy("round").agg(
        F.count("*").cast("long").alias("n_hosts"),
        F.max(F.struct(F.col("_n"), F.col("host"))).alias("_top"),
        F.sum("_n").alias("_total"),
    ).select(
        "round",
        "n_hosts",
        F.col("_top.host").alias("top_host"),
        (F.col("_top._n") / F.col("_total")).alias("top_host_frac"),
    )
    # LEFT joins rooted on the store's committed-round list: a round whose
    # fetch_log is empty — or that scheduled ZERO urls, in which case even
    # its urls_scheduled metric has no per-partition rows — is exactly the
    # pathological round an operator needs to see; inner joins (or rooting
    # on the metrics rollup) would silently drop it from the health report.
    # The round list is the published round directories up to the manifest
    # round — a driver-side listing, O(#rounds) ≪ O(data). A store may have
    # gaps (rounds 1 and 3 committed), and a directory past the manifest
    # round is a writer that died before the manifest swap: not yet visible.
    latest = store.latest_round()
    committed = spark.createDataFrame(
        sorted(
            (int(d[1:]),) for d in os.listdir(base)
            if d.startswith("r") and d[1:].isdigit() and int(d[1:]) <= latest
        ),
        "round int",
    )
    return (
        committed.join(per, "round", "left")
        .join(seen, "round", "left")
        .join(hosts, "round", "left")
        .select(
            "round",
            F.coalesce(F.col("urls_scheduled"), F.lit(0).cast("long")).alias(
                "urls_scheduled"
            ),
            F.coalesce(F.col("seen_added"), F.lit(0).cast("long")).alias(
                "seen_added"
            ),
            "n_partitions",
            "max_partition_frac",
            F.coalesce(F.col("n_hosts"), F.lit(0).cast("long")).alias(
                "n_hosts"
            ),
            "top_host",
            "top_host_frac",
        )
    )


# ---------------------------------------------------------------------------
# multi-round crawl driver with exact resume
# ---------------------------------------------------------------------------


def crawl_step(
    store: CheckpointStore,
    round_id: int,
    candidates: DataFrame,
    hosts: DataFrame,
    compact_every: int | None = None,
    extra_tables=None,
    **round_opts,
) -> None:
    """One committed crawl round, shared by :func:`run_crawl` and
    wbx.streaming.crawl_batch_processor.

    Schedules ``candidates`` with crawl_round (``round_opts`` are its
    keyword arguments) against the store's seen set as of the previous
    round (load_seen_set), then commits {seen_delta, fetch_log, metrics,
    seen_bloom} plus ``extra_tables(batch)`` as round ``round_id``. The
    batch is already unseen (anti-joined) and unique per canon_url
    (deduped), so it IS the round's exact seen-delta; the Bloom sketch ORs
    in only that delta (update_seen_bloom, O(batch)).

    ``compact_every``: after committing a round whose id is a multiple of
    K, fold the seen deltas into ONE bucketed base table
    (compact_seen); later rounds then confirm membership
    against it without shuffling the cumulative set. Keyed on the round
    id, so a resumed crawl compacts at the same rounds as an uninterrupted
    one. A crash between the commit and the compaction leaves the round
    committed and its deltas uncompacted until the next multiple of K;
    membership results never depend on compaction."""
    spark = candidates.sparkSession
    seen = store.load_seen_set(spark, round_id - 1)
    batch = crawl_round(candidates, seen, hosts, **round_opts).persist()
    seen_delta = batch.select("url_hash", "canon_url")
    fetch_log = batch.select(
        F.lit(round_id).alias("round"),
        "fetch_order",
        "canon_url",
        "url_hash",
        "host",
        "priority",
    )
    store.commit(
        round_id,
        {
            "seen_delta": seen_delta,
            "fetch_log": fetch_log,
            "metrics": round_metrics(round_id, batch, seen_delta),
            "seen_bloom": update_seen_bloom(
                seen.sketch, seen_delta, seen.partitions, _BLOOM_BITS
            ),
            **(extra_tables(batch) if extra_tables else {}),
        },
    )
    if compact_every and round_id % compact_every == 0:
        # bucket count = shuffle partitions -> the next round's
        # candidate-side exchange (dedup groupBy, same keys) is
        # directly compatible with the base's bucketing
        store.compact_seen(
            spark, buckets=int(spark.conf.get("spark.sql.shuffle.partitions"))
        )
    batch.unpersist()
    release_rank_caches()


def run_crawl(
    spark: SparkSession,
    store: CheckpointStore,
    seeds: DataFrame,
    expand,
    hosts: DataFrame,
    robots: DataFrame | None = None,
    rounds: int = 3,
    batch_size: int | None = None,
    default_budget: int = 10,
    compact_every: int | None = None,
    reprioritize=None,
) -> dict:
    """Batch-iterative crawl: each round schedules a fetch batch from the
    current frontier, marks it seen, expands it into next-round candidates,
    and commits {frontier, seen_delta, seen_bloom, fetch_log, metrics} as
    one snapshot (see :func:`crawl_step`).

    Resume contract: if the store already holds N committed rounds, the
    loop continues at N+1 against the checkpointed state — a killed run
    re-driven with the same arguments lands on the identical final state
    (all ordering is deterministic in the data; see wbx.frontier).

    ``expand(batch_df) -> DataFrame(url, priority)`` must be deterministic.
    seeds: (url, priority). hosts: (host, budget). robots: (host,
    rule_type, path_prefix) rules, e.g. from wbx.frontier.parse_robots_txt;
    every round evaluates them with apply_robots (RFC 9309 '*'/'$'
    patterns, most specific match wins), and AQE picks the strategy of
    the robots and budget joins from their runtime size.

    Seen set: each round schedules against CheckpointStore.load_seen_set —
    a :class:`wbx.frontier.SeenSet` of the committed deltas (or a bucketed
    base plus the deltas after it) and a per-partition Bloom sketch.

    - Growth (the 10^10-URL design point): a round writes ONLY its delta —
      the keys it just scheduled — never a rewrite of the cumulative set.
      crawl_round's anti-join guarantees the batch is disjoint from every
      prior delta, so ``seen = union of deltas`` is exact with no
      distinct/shuffle, and per-round commit cost is O(batch), constant in
      crawl age (test_checkpoint pins this: round N's seen_delta row count
      equals round N's fetch_log row count).
    - Sketch: each round ORs only its delta into the Bloom filters and
      commits them as ``seen_bloom``; crawl_round's prefilter then lets the
      definitely-unseen majority of candidates skip the cumulative seen
      table. False positives are re-checked exactly, so the batches are
      those of the plain anti-join. A store without ``seen_bloom`` has it
      rebuilt once from the seen set on resume.
    - ``compact_every``: every K-th round (by round id) folds the deltas
      into a bucketed base, which then joins co-located off its bucketed
      scan — no exchange, no sort, zero bytes of crawl history on the wire
      per round — while only the recent deltas shuffle. This is the
      10^10-URL operating mode; results are bit-identical with it off.

    ``reprioritize(frontier_df) -> DataFrame(url, priority)``: optional
    deterministic hook applied to each round's expanded frontier before it
    is committed — the integration point for authority-driven scheduling
    (pass e.g. ``lambda df: wbx.graph.with_authority_priority(df, ranks,
    url_col="url")`` to order fetches by host PageRank instead of the
    expander's raw priorities). Like ``expand`` it must be deterministic;
    it changes crawl ORDER by design, so leave it unset when reproducing
    the reference's priority semantics.
    """

    def frontier_table(batch: DataFrame) -> dict:
        frontier = expand(batch)
        if reprioritize is not None:
            frontier = reprioritize(frontier)
        return {"frontier": frontier}

    start = store.latest_round()
    for rid in range(start + 1, rounds + 1):
        # each round reads the previous round's committed frontier, so its
        # lineage is rooted in files, not an ever-deepening in-memory plan
        frontier = seeds if rid == 1 else store.load(spark, "frontier", rid - 1)
        crawl_step(
            store,
            rid,
            frontier,
            hosts,
            compact_every,
            frontier_table,
            robots=robots,
            batch_size=batch_size,
            default_budget=default_budget,
        )
    return {"final_round": max(start, rounds), "store": store.base}
