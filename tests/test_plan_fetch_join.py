"""Physical-plan guards for the fetch join: the html-bearing web side must
be pruned by a KEY-ONLY semi-join and must never pass through an Exchange
or Sort before the pruning (the no-wholesale-html-shuffle property that
doubled loop throughput — see ARCHITECTURE.md §3). Two key-side shapes:
broadcast (small rounds) and shuffled-hash against the cached web's
hash(url_norm) partitioning (big rounds — CrawlConfig.bucketed_fetch_min;
the plan tests reach the bucketed branch with that threshold at 0)."""

from __future__ import annotations

import shutil

from conftest import load_inputs
from sparkcrawl.engine import CrawlConfig, CrawlEngine
from sparkcrawl.tables import SnapshotStore


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _sel(spark):
    return spark.createDataFrame(
        [("http://h0.example.com:80/", "h0.example.com", "/", 1, 1)],
        "url_norm string, host string, path string, depth int, seq long",
    )


def test_uncached_fetch_prunes_pages_before_any_exchange(
    spark, fixture_paths, tmp_path
):
    """cache_web=False: the pages parquet scan feeds the broadcast semi
    directly — no Exchange, no Sort touches html before the prune."""
    pages, meta, robots_df, seeds = load_inputs(spark, fixture_paths)
    store = SnapshotStore(str(tmp_path / "store"))
    eng = CrawlEngine(
        spark, store, pages, meta, robots_df, CrawlConfig(cache_web=False)
    )
    assert eng._web is None  # uncached path prunes per side
    sel = _sel(spark)
    from pyspark.sql import functions as F

    sel_keys = F.broadcast(sel.select("url_norm"))
    pg_hits = eng._pg.join(sel_keys, "url_norm", "left_semi")
    plan = _plan(pg_hits)
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    assert "Exchange hashpartitioning(url_norm" not in plan
    assert "Sort [" not in plan

    fx = sel.join(pg_hits, "url_norm", "left")
    plan_fx = _plan(fx)
    # the outer join may shuffle, but only AFTER the semi-prune: the join
    # operates on pg_hits (pruned), never the raw pages relation
    assert "LeftSemi" in plan_fx
    shutil.rmtree(str(tmp_path / "store"), ignore_errors=True)


def test_bucketed_fetch_reuses_cache_partitioning(
    spark, fixture_paths, tmp_path
):
    """Bucketed fetch: the semi-prune plans as a ShuffledHashJoin that
    builds on the key side and reads the cached web IN PLACE — exactly one
    hash Exchange (the narrow key column) and no Sort of the web side."""
    pages, meta, robots_df, seeds = load_inputs(spark, fixture_paths)
    store = SnapshotStore(str(tmp_path / "store"))
    # cache width == session shuffle width -> the co-partitioning gate holds
    eng = CrawlEngine(
        spark, store, pages, meta, robots_df,
        CrawlConfig(cache_web=True, bucketed_fetch_min=0,
                    cache_rows_per_partition=0),
    )
    assert eng._use_bucketed_fetch(0)  # threshold 0: every known estimate
    sel = _sel(spark)
    sel_keys = sel.select("url_norm").hint("shuffle_hash")
    web_hits = eng._web.join(sel_keys, "url_norm", "left_semi")
    plan = _plan(web_hits)
    assert "ShuffledHashJoin" in plan and "LeftSemi" in plan
    # web branch of the join tree: everything between the join node and
    # the InMemoryTableScan must be exchange- and sort-free (the html
    # payload streams from the cache partition-in-place; only the narrow
    # key side exchanges)
    head = plan.split("\n\n")[0].splitlines()
    ji = next(i for i, l in enumerate(head) if "ShuffledHashJoin" in l)
    mi = next(i for i, l in enumerate(head) if "InMemoryTableScan" in l)
    assert ji < mi
    branch = head[ji + 1:mi + 1]
    assert not any("Exchange" in l for l in branch), branch
    assert not any("Sort" in l for l in branch), branch
    eng._web.unpersist()
    shutil.rmtree(str(tmp_path / "store"), ignore_errors=True)


def test_bucketed_outer_join_never_sorts(spark, fixture_paths, tmp_path):
    """Bucketed fetch: the sel ⟕ web_hits OUTER join must plan as a
    ShuffledHashJoin too — SortMergeJoin would Tungsten-sort the
    html-bearing pruned side (GBs at 10^6-URL rounds) every round."""
    pages, meta, robots_df, seeds = load_inputs(spark, fixture_paths)
    store = SnapshotStore(str(tmp_path / "store"))
    eng = CrawlEngine(
        spark, store, pages, meta, robots_df,
        CrawlConfig(cache_web=True, bucketed_fetch_min=0,
                    cache_rows_per_partition=0),
    )
    assert eng._use_bucketed_fetch(0)
    sel = _sel(spark)
    sel_keys = sel.select("url_norm").hint("shuffle_hash")
    web_hits = eng._web.join(sel_keys, "url_norm", "left_semi").hint(
        "shuffle_hash"
    )
    fx = sel.join(web_hits, "url_norm", "left")
    plan = _plan(fx)
    # per-round portion of the tree = everything above the InMemoryTableScan
    # (below it the explain embeds the one-time cache-BUILD plan, which may
    # sort — that runs once at init, never per round)
    head = plan.split("\n\n")[0].splitlines()
    mi = next(i for i, l in enumerate(head) if "InMemoryTableScan" in l)
    hot = head[:mi]
    assert not any("SortMergeJoin" in l for l in hot), hot
    assert not any("Sort (" in l or "Sort [" in l for l in hot), hot
    assert sum("ShuffledHashJoin" in l for l in hot) == 2  # semi + outer
    eng._web.unpersist()
    shutil.rmtree(str(tmp_path / "store"), ignore_errors=True)


def test_auto_fetch_gate(spark, fixture_paths, tmp_path):
    """Bucketed only when the frontier clears the threshold AND the round
    width equals the cache width; broadcast otherwise."""
    pages, meta, robots_df, seeds = load_inputs(spark, fixture_paths)
    store = SnapshotStore(str(tmp_path / "store"))
    eng = CrawlEngine(
        spark, store, pages, meta, robots_df,
        CrawlConfig(cache_web=True,
                    bucketed_fetch_min=1000, cache_rows_per_partition=0),
    )
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert eng._cache_width == width
    assert not eng._use_bucketed_fetch(None)      # no estimate -> broadcast
    assert not eng._use_bucketed_fetch(999)       # below threshold
    assert eng._use_bucketed_fetch(1000)          # at threshold + width ok
    # width mismatch (adaptive narrow round) -> broadcast
    spark.conf.set("spark.sql.shuffle.partitions", str(width + 1))
    try:
        assert not eng._use_bucketed_fetch(10_000)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
    # no cache -> never bucketed, even at threshold 0
    eng2 = CrawlEngine(
        spark, store, pages, meta, robots_df,
        CrawlConfig(cache_web=False, bucketed_fetch_min=0),
    )
    assert not eng2._use_bucketed_fetch(10**9)
    eng._web.unpersist()
    shutil.rmtree(str(tmp_path / "store"), ignore_errors=True)


def test_cache_width_sized_to_web(spark, fixture_paths, tmp_path):
    """Default config sizes the web cache to the data, not the session:
    a tiny web caches into few partitions (downstream extraction stages
    stop paying dozens of near-empty python tasks per round), the clamp
    ceiling is the session width, and the fetch gate then correctly refuses
    the bucketed path (cache width != round ceiling -> broadcast)."""
    pages, meta, robots_df, seeds = load_inputs(spark, fixture_paths)
    store = SnapshotStore(str(tmp_path / "store"))
    eng = CrawlEngine(spark, store, pages, meta, robots_df, CrawlConfig())
    n_pages = pages.count()
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    expect = min(width, max(1, -(-n_pages // 16384)))
    assert eng._cache_width == expect
    assert eng._web.rdd.getNumPartitions() == expect
    if expect != width:
        assert not eng._use_bucketed_fetch(10**9)
    eng._web.unpersist()
    shutil.rmtree(str(tmp_path / "store"), ignore_errors=True)
