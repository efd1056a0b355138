"""Kernel replays and Spark floor jobs for the traced run.

Each replay runs one public kernel of the engine on the workload's own
tables after the measured window. Its input is cached and counted first,
and the kernel's output is consumed by a ``noop`` write, so the timing
covers the kernel and the job that runs it, not the input scan.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from sparkcrawl import politeness, robots, schema as S
from sparkcrawl.export import export_corpus
from sparkcrawl.extract import with_extracted
from sparkcrawl.filters import admission_predicate
from sparkcrawl.seen import anti_join_seen
from sparkcrawl.tables import SnapshotStore
from sparkcrawl.urlnorm import canonicalize_udf, with_url_parts


def _noop_s(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def _pinned(df):
    df = df.cache()
    return df, df.count()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(path) for n in names
    )


def kernel_replays(spark, engine, store, web: dict, cfg, scratch: str) -> dict:
    """rows/s of each kernel (MB/s for the table write)."""
    out = {}
    crawled, n_crawled = _pinned(
        store.read(spark, "crawled", S.CRAWLED)
    )
    pages = spark.read.schema(S.PAGES).parquet(web["pages"])
    html, n_html = _pinned(
        pages.join(crawled.select(F.col("url_norm").alias("url")), "url")
        .select(F.col("url").alias("url_norm"), "html")
    )
    out["extract.rows_per_s"] = n_html / _noop_s(with_extracted(html))

    links, n_links = _pinned(
        with_extracted(html).select(
            F.col("url_norm").alias("base_url"),
            F.explode("ex_links").alias("href"),
        )
    )
    out["urlnorm.rows_per_s"] = n_links / _noop_s(
        links.select(canonicalize_udf(F.col("base_url"), F.col("href")))
    )

    canon, n_canon = _pinned(
        links.select(
            canonicalize_udf(F.col("base_url"), F.col("href"))
            .alias("url_norm")
        ).filter(F.col("url_norm").isNotNull())
    )
    out["filters.rows_per_s"] = n_canon / _noop_s(
        with_url_parts(canon).filter(admission_predicate(cfg.filters))
    )
    seen = store.read(spark, "seen", S.SEEN)
    out["seen.antijoin_rows_per_s"] = n_canon / _noop_s(
        anti_join_seen(canon, seen, use_bloom=False)
    )

    frontier, n_frontier = _pinned(store.read(spark, "frontier", S.FRONTIER))
    prio = store.read(spark, "host_priority", "host string, priority int")
    out["politeness.rows_per_s"] = n_frontier / _noop_s(
        politeness.select_per_host(frontier, prio, frontier_size=n_frontier)
    )
    out["robots.rows_per_s"] = n_frontier / _noop_s(
        robots.join_rules(frontier, engine.host_rules)
        .withColumn("_denied", robots.denied_predicate())
    )

    corpus = os.path.join(scratch, "export")
    t = time.perf_counter()
    export_corpus(crawled, corpus)
    out["export.rows_per_s"] = n_crawled / (time.perf_counter() - t)

    sink = SnapshotStore(os.path.join(scratch, "write"))
    t = time.perf_counter()
    sink.stage_append("crawled", crawled)
    dt = time.perf_counter() - t
    out["tables.write_mb_per_s"] = _dir_bytes(sink.data_dir) / 1e6 / dt
    sink.abort()
    shutil.rmtree(corpus, ignore_errors=True)
    for df in (crawled, html, links, canon, frontier):
        df.unpersist()
    return out


@pandas_udf("long")
def _identity(s: pd.Series) -> pd.Series:
    return s


def floor_jobs(spark, repeats: int = 15) -> dict:
    """Median wall of the smallest JVM job and the smallest Arrow job."""
    one = spark.range(0, 1, 1, 1)
    plain = [_noop_s(one) for _ in range(repeats)]
    arrow = [_noop_s(one.select(_identity("id"))) for _ in range(repeats)]
    return {
        "spark.empty_job_ms": statistics.median(plain) * 1000,
        "spark.empty_arrow_job_ms": statistics.median(arrow) * 1000,
    }
