"""sparkcrawl — a from-scratch PySpark-native web-crawl frontier engine.

Re-expresses the semantics of masterford/DistributedWebCrawler (a StormLite
spout/bolt crawler, see /root/reference) as an iterative DataFrame frontier
loop over a snapshot-committed Parquet ("Iceberg-style") table of
Common-Crawl-style pages.

Modules
-------
session       SparkSession builder (AQE, Arrow, shuffle sizing)
schema        StructTypes for pages / frontier / seen / robots / trace / metrics
urlnorm       URL canonicalization (reference port rules, RFC-3986-lite)
filters       frontier admission filters (length / depth / banned hosts)
robots        robots.txt rules table + disallow / crawl-delay predicates
politeness    per-host run-cap selection (priority windows) + delay clocks
seen          URL-seen set: exact anti-join + lazily built Bloom prefilter
extract       vectorized Arrow UDF: html -> (text, links, lang, title)
engine        driver fixpoint loop, checkpoint/resume, trace, metrics
tables        SnapshotTable: atomic-commit Parquet tables (Iceberg stand-in)
export        corpus exporter (url$$$body, 10k records/file)
textops       training-data ops: dedup (exact/minhash/simhash), lang-id,
              quality scoring, token counts, fingerprints
components    distributed connected components (large/small-star) — near-dup
              cluster resolution + keep-one-per-cluster dedup verdicts
curation      corpus curation: deterministic stratified sampling, domain-mix
              report, token-budget shard packing (partition-free prefix sum)
annsearch     embedding similarity search (brute cosine top-k, LSH buckets)
multimodal    binary-column (image/audio) plumbing with stubbed decoders
"""

__version__ = "0.1.0"
