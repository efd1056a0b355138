"""Per-phase round profile: run N crawl rounds at a given core count with
SPARKCRAWL_TIMING=1 and print each round's phase breakdown (materialize /
seen+seq+writes / commit) — the drill-down tool behind the
scaling bench (bench/scaling.py reports only per-round walls).

Usage: python bench/profile_round.py [size] [cores] [rounds]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

os.environ.setdefault("SPARKCRAWL_TIMING", "1")


def main():
    size = sys.argv[1] if len(sys.argv) > 1 else "wide"
    cores = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 4

    # same CPU pinning as bench/scaling.py so phase walls are comparable
    # (local[N] otherwise borrows all host cores for GC/Python workers)
    if (os.environ.get("SPARKCRAWL_SCALE_PIN", "1") == "1"
            and not os.environ.get("_SPARKCRAWL_PINNED")):
        os.environ["_SPARKCRAWL_PINNED"] = "1"
        os.execvp("taskset", ["taskset", "-c", f"0-{cores - 1}",
                              sys.executable] + sys.argv)

    from gen_web_sharded import ensure_web
    from sparkcrawl.session import get_spark
    from sparkcrawl.engine import CrawlConfig, CrawlEngine
    from sparkcrawl.tables import SnapshotStore
    from sparkcrawl import schema as S

    web = ensure_web(size, f"/tmp/sparkcrawl_benchweb_{size}")

    os.environ.setdefault("SPARKCRAWL_DRIVER_MEM", "8g")
    spark = get_spark(f"profile-{cores}", cores=cores,
                      shuffle_partitions=4 * cores)
    store_dir = f"/tmp/sparkcrawl_profile_{cores}_{os.getpid()}"
    shutil.rmtree(store_dir, ignore_errors=True)
    store = SnapshotStore(store_dir)
    pages = spark.read.schema(S.PAGES).parquet(f"{web}/pages.parquet")
    meta = spark.read.schema(S.PAGE_META).parquet(f"{web}/page_meta.parquet")
    robots = spark.read.schema(S.ROBOTS).parquet(f"{web}/robots.parquet")
    seeds = spark.read.schema(S.SEEDS).parquet(f"{web}/seeds.parquet")
    # same conf override hook as bench/scaling.py (huge-web profiles need
    # cache_web=False + scaled bloom_bits)
    conf_kw = json.loads(os.environ.get("SPARKCRAWL_SCALE_CONF", "{}"))
    eng = CrawlEngine(spark, store, pages, meta, robots,
                      CrawlConfig(**conf_kw))
    eng.init_frontier(seeds)

    # whole-stage-codegen compile counter (Janino compilation is serial and
    # identical at every parallelism level — a prime scaling-efficiency
    # suspect when round plans embed round-varying literals)
    try:
        _cls = spark._jvm.java.lang.Class.forName(
            "org.apache.spark.metrics.source.CodegenMetrics$"
        )
        _hist = _cls.getField("MODULE$").get(None).METRIC_COMPILATION_TIME()
    except Exception:
        _hist = None

    for r in range(1, rounds + 1):
        c0 = _hist.getCount() if _hist is not None else 0
        t0 = time.time()
        out = eng.run_round(r)
        out["wall_s"] = round(time.time() - t0, 1)
        if _hist is not None:
            out["codegen_compiles"] = _hist.getCount() - c0
            out["codegen_mean_ms"] = round(
                _hist.getSnapshot().getMean(), 1
            )
        print("ROUND " + json.dumps(out), flush=True)
    shutil.rmtree(store_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
