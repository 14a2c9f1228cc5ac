"""wbx — a from-scratch PySpark-native web-archive analytics engine + crawl frontier.

Re-expresses the query/data-processing capabilities of harvard-lil/warcbench
(reference at /root/reference, studied for behavior only) as idiomatic Spark:

- all predicates/aggregations as DataFrame Column expressions (Catalyst-optimizable),
- order-sensitive reference algorithms (FIFO pair matching, positional archive
  comparison) as window + join relational rewrites,
- all byte-level work (WARC record scanning, gzip member indexing, HTTP payload
  decoding) as vectorized pandas/Arrow UDFs — no per-row Python UDFs,
- plus the crawl-frontier layer required by BASELINE.json: URL canonicalization,
  64-bit hashing, partitioned seen-set, robots evaluation, per-host politeness,
  deterministic priority scheduling, and checkpoint/resume.

Modules:
  session     SparkSession builder tuned for the target workload
  schema      canonical StructTypes (pages, records, frontier, seen, ...)
  extract     byte-exact HTTP payload decoding kernel (reference parity surface)
  warcio      WARC/GZ scan + write: record splitter, gzip member indexer
  filters     record-filter Column-expression library (reference filters.py parity)
  analytics   summarize / pair-matching / compare-headers as DataFrame jobs
  frontier    crawl frontier: canonicalize, seen-set, politeness, priority schedule
  checkpoint  snapshot commit/resume (parquet-manifest backend; Iceberg in prod)
  textops     dedup (exact/minhash/simhash/jaccard), langid, quality, tokens
  simsearch   embedding similarity: brute-force cosine top-k + LSH-bucketed ANN
  multimodal  opaque binary columns + real PNG/WebP/WAV decode, header-only dims + feature/resize stages
  streaming   Structured Streaming variants (windowed aggs, stateful pairing)
  codecs      brotli/zstd decompression via ctypes over system shared libraries
  sinks       file-extraction sink (S9) + inspect projection + WET export
  graph       link-graph layer: PageRank authority, connected-component dedup
  sampling    deterministic hash sampling / stratified mixing / holdout splits
  replay      HTTP replay server over reassembled captures (S10)
  cli         `wbx` command line (summarize/filter/compare/extract/crawl/wet/cdx/audit/dedup-warc/chunk/pack/curate)
  fixtures    deterministic derived test fixtures (pages/records from documents)
"""

__version__ = "0.1.0"
