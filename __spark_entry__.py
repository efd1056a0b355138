"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship: one crawl-shaped pipeline over sf0.001
queries()     — operator catalog (SURVEY.md §2 + training-data ops)
oracle_sql()  — DuckDB-equivalent SQL per query (where SQL-expressible)
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sparkcrawl.queries import QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TWO real CrawlEngine rounds (the production frontier loop
    — canonicalize D1-D3, seen anti-join D4, robots R1-R3, per-host caps
    R4, fetch join F1, extract P3-P5, dedup P1, metrics A1) over a web
    derived deterministically from the sf0.001 documents table: each doc
    becomes one page whose html wraps its text and links to three other
    docs (a skewed 13-host pool with a fold-in mega host), so the frontier
    genuinely grows across rounds. No randomness, no wall clock — repeat
    calls produce identical per-host metrics."""
    import tempfile

    from pyspark.sql import functions as F

    from sparkcrawl import schema as S
    from sparkcrawl.engine import CrawlConfig, CrawlEngine
    from sparkcrawl.tables import SnapshotStore

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    # doc_url's link targets ((id*2+1) % n, ...) name real pages only if
    # doc_id is dense 0..n-1
    ids = docs.agg(
        F.count("*").alias("n"), F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"), F.countDistinct("doc_id").alias("k"),
    ).first()
    n = ids["n"]
    if (ids["lo"], ids["hi"], ids["k"]) != (0, n - 1, n):
        raise ValueError(f"doc_id is not dense 0..{n - 1}: {ids}")

    def doc_url(idc):
        # host pool h0..h12 with ids 0 and 1 folded into h0 (the mega host)
        hid = F.when(F.pmod(idc, 13) <= 1, F.lit(0)).otherwise(
            F.pmod(idc, 13)
        )
        return F.concat(
            F.lit("http://h"),
            hid.cast("string"),
            F.lit(".entry.example.com:80/d"),
            idc.cast("string"),
            F.lit(".html"),
        )

    did = F.col("doc_id")
    html_s = F.concat(
        F.lit('<html lang="'), F.col("lang"),
        F.lit('"><head><title>doc '), did.cast("string"),
        F.lit("</title></head><body><p>"), F.col("text"),
        F.lit('</p><a href="'), doc_url((did * 2 + 1) % n),
        F.lit('">a</a><a href="'), doc_url((did * 2 + 2) % n),
        F.lit('">b</a><a href="'), doc_url((did + 7) % n),
        F.lit('">c</a></body></html>'),
    )
    pages = docs.select(
        doc_url(did).alias("url"),
        F.timestamp_seconds(F.lit(1_700_000_000) + did).alias("warc_ts"),
        html_s.cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"),
        "lang",
    )
    page_meta = docs.select(
        doc_url(did).alias("url"),
        F.lit(200).alias("http_status"),
        F.lit(None).cast("string").alias("redirect_to"),
        F.lit("text/html").alias("content_type"),
        F.length(html_s).cast("long").alias("content_length"),
    )
    robots_df = spark.createDataFrame(
        [
            ("h3.entry.example.com", "*", "disallow", "/private", None),
            ("h5.entry.example.com", "*", "disallow", "/none", 2),
        ],
        S.ROBOTS,
    )
    # seeds: the six lowest-id ENGLISH docs — the P4 <html lang> gate drops
    # non-en pages without extracting links, so non-en seeds would yield an
    # empty crawl. (Non-en docs still enter via links from en pages and
    # exercise the not_html_lang branch.) Bounded 6-row driver collect.
    seed_ids = [
        r["doc_id"]
        for r in docs.filter(F.col("lang") == "en")
        .orderBy("doc_id")
        .limit(6)
        .collect()
    ]
    seeds = spark.createDataFrame(
        [
            (f"http://h{0 if i % 13 <= 1 else i % 13}"
             f".entry.example.com:80/d{i}.html", j % 3 + 1)
            for j, i in enumerate(seed_ids)
        ],
        S.SEEDS,
    )

    with tempfile.TemporaryDirectory(prefix="sparkcrawl_entry_") as root:
        store = SnapshotStore(root)
        eng = CrawlEngine(spark, store, pages, page_meta, robots_df,
                          CrawlConfig())
        eng.run(seeds=seeds, max_rounds=2)
        # the aggregate (<= 13 rows) is materialized before the store it
        # reads from is removed
        per_host = (
            store.read(spark, "crawled", S.CRAWLED)
            .groupBy("host")
            .agg(
                F.count("*").alias("n_crawled"),
                F.countDistinct("content_hash").alias("n_unique_content"),
                F.min("round").alias("first_round"),
                F.max("round").alias("last_round"),
            )
            .localCheckpoint(eager=True)
        )
    return per_host.orderBy("host")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ training-data
    ops). Each callable takes (spark, sf_dir) and returns a DataFrame."""
    return {name: fn for name, (fn, _) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL per query — EVERY queries() entry has a
    full value-hash oracle (simhash/LSH pair generation via md5-keyed
    variants, multimodal decode via the deterministic payload, centroid
    cosines via integer quantization of the mean, and ann_ivf_kmeans's
    fixed-4-sweep training loop unrolled as chained CTEs — deterministic
    by construction, so the hashes must match exactly)."""
    return {name: sql for name, (_, sql) in QUERIES.items() if sql is not None}
