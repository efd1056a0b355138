"""Physical-plan assertions: the optimizations we claim must show in
.explain() — broadcast joins stay broadcast, filters push to the scan,
Python UDFs are Arrow-vectorized, politeness never globally re-sorts."""

from __future__ import annotations

from pyspark.sql import functions as F

from conftest import load_inputs
from sparkcrawl.politeness import select_per_host
from sparkcrawl.robots import effective_rules, join_rules
from sparkcrawl.urlnorm import canonicalize_udf


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_robots_join_is_broadcast(spark, fixture_paths):
    _, _, robots_df, _ = load_inputs(spark, fixture_paths)
    frontier = spark.createDataFrame(
        [("http://h0.example.com:80/", "h0.example.com", "/", 1)],
        "url_norm string, host string, path string, depth int",
    )
    plan = _plan(join_rules(frontier, effective_rules(robots_df)))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_parquet_filter_pushdown(spark, fixture_paths, tmp_path):
    # copy to a unique path: other tests may have CACHED the shared fixture
    # (a cached relation scans memory, hiding PushedFilters)
    src = spark.read.parquet(fixture_paths["pages"])
    path = str(tmp_path / "pages_pd")
    src.write.parquet(path)
    pages = spark.read.parquet(path)
    q = pages.filter(F.col("lang") == "en").select("url")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # column pruning: only url+lang reach the scan
    assert "ReadSchema" in plan
    read_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ][0]
    assert "html" not in read_schema


def test_canonicalize_is_arrow_vectorized(spark):
    df = spark.createDataFrame([("http://a.com/x",)], "href string")
    q = df.select(canonicalize_udf(F.lit(None), F.col("href")))
    plan = _plan(q)
    assert "ArrowEvalPython" in plan  # pandas UDF, not row-at-a-time Python


def test_politeness_no_global_sort(spark):
    frontier = spark.createDataFrame(
        [("http://h:80/x", "h", "/x", 1, 1, 0)],
        "url_norm string, host string, path string, depth int, "
        "seq long, round_added int",
    )
    prio = spark.createDataFrame([("h", 1)], "host string, priority int")
    plan = _plan(select_per_host(frontier, prio))
    # both ranking windows are host-partitioned: no empty PARTITION BY
    # (which would funnel the frontier through one task)
    assert "Window" in plan
    assert "hashpartitioning(host" in plan


def test_ivf_probe_join_is_broadcast(spark):
    from sparkcrawl.annsearch import ivf_topk

    e = spark.createDataFrame(
        [(i, [float(i % 3) - 1.0] * 8, "l") for i in range(20)],
        "vec_id long, embedding array<double>, label string",
    )
    plan = _plan(ivf_topk(e, [0.5] * 8, k=5, nprobe=2))
    # probed-cell filter joins as a broadcast (cells are tiny), and the
    # final top-k is a TakeOrdered, not a global sort
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_embedding_near_dup_no_cartesian(spark):
    from sparkcrawl.annsearch import embedding_near_dup

    e = spark.createDataFrame(
        [(i, [float((i * 7 + d) % 5) - 2.0 for d in range(16)], "l")
         for i in range(30)],
        "vec_id long, embedding array<double>, label string",
    )
    plan = _plan(embedding_near_dup(e, threshold=0.5))
    # candidate generation is an equi-join on (band, bucket) — never a
    # cartesian/nested-loop product over the vectors
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_attach_rank_window_partitions_by_pid(spark):
    """The engine's global-rank machinery (dense_seq / attach_rank / trace
    ord) must window over the range-partition id — never an empty
    PARTITION BY, which funnels the frame through one task."""
    from sparkcrawl.engine import attach_rank

    d = spark.createDataFrame(
        [(i, i % 3) for i in range(9)], "seq long, _pid int"
    )
    out = attach_rank(d, {0: 0, 1: 3, 2: 6}, ["seq"], col="ord")
    plan = _plan(out)
    assert "Window" in plan
    assert "hashpartitioning(_pid" in plan
    assert "SinglePartition" not in plan


def test_no_single_partition_windows_in_source():
    """Source-level regression guard for the round-1 perf-weak findings:
    no `partitionBy(F.lit(...))` anywhere, and bare global `W.orderBy(`
    windows only in metrics.py (whose input is one row per ROUND — bounded
    by round count, not by data volume)."""
    import pathlib

    src_dir = pathlib.Path(__file__).parent.parent / "sparkcrawl"
    for path in sorted(src_dir.glob("*.py")):
        text = path.read_text()
        assert "partitionBy(F.lit" not in text, path.name
        if path.name != "metrics.py":
            assert "W.orderBy(" not in text, path.name


def test_no_topandas_in_engine_source():
    """No non-test sparkcrawl code may funnel a DataFrame through driver
    toPandas — all filter-state maintenance is executor-side
    (BloomFileState per-shard merges); the round-3 verdict retired the last
    driver-resident filter hop and this pins it."""
    import pathlib

    src_dir = pathlib.Path(__file__).parent.parent / "sparkcrawl"
    for path in sorted(src_dir.rglob("*.py")):
        assert ".toPandas(" not in path.read_text(), path.name


def test_export_rotation_no_global_window(spark):
    from sparkcrawl.queries import q_export_rotation

    out = q_export_rotation(spark, "/root/testdata/sf0.001")
    plan = _plan(out)
    # dense_seq ranks within range partitions; the only exchanges are the
    # range partitioning and the final groupBy — nothing single-partition
    assert "hashpartitioning(_pid" in plan or "Window" not in plan


def test_range_join_is_equi_not_nested_loop(spark):
    from sparkcrawl.queries import q_range_join_bucketed

    plan = _plan(q_range_join_bucketed(spark, "/root/testdata/sf0.001"))
    # the bucketed rewrite must plan as an equi-join on bucket — a naive
    # theta join would appear as a nested-loop/cartesian product
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_round_checkpoints_freed_after_commit(spark, fixture_paths, tmp_path):
    """Round-scoped localCheckpoints must be unpersisted at commit, not left
    for the periodic-GC ContextCleaner: at 10^6-URL rounds the pinned
    extracted-text blocks otherwise fill the block manager and evict the
    cached web under execution-memory pressure (measured as 8-core
    round-over-round degradation on the xwide scaling bench)."""
    import shutil

    from conftest import load_inputs
    from sparkcrawl.engine import CrawlConfig, CrawlEngine
    from sparkcrawl.tables import SnapshotStore

    pages, meta, robots_df, seeds = load_inputs(spark, fixture_paths)
    store = SnapshotStore(str(tmp_path / "store"))
    eng = CrawlEngine(spark, store, pages, meta, robots_df, CrawlConfig())
    eng.init_frontier(seeds)
    jsc = spark.sparkContext._jsc.sc()
    baseline = None
    for r in range(1, 5):
        eng.run_round(r)
        n = jsc.getPersistentRDDs().size()
        if baseline is None:
            baseline = n  # web cache + host_rules (+ nothing round-scoped)
        # allowed: the long-lived caches only — never growth with rounds
        assert n <= baseline, (r, n, baseline)
    if eng._web is not None:
        eng._web.unpersist()
    eng.host_rules.unpersist()
    shutil.rmtree(str(tmp_path / "store"), ignore_errors=True)


def test_contamination_banned_set_is_broadcast(spark):
    """Decontamination must broadcast the banned-shingle set — the corpus
    side (100 TB at scale) must never shuffle for this join."""
    from sparkcrawl.queries import q_contamination

    plan = _plan(q_contamination(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_connected_components_star_ops_no_cartesian(spark):
    """One large/small-star alternation is groupBy+equi-join only — keyed
    shuffles, no nested-loop or cartesian anywhere."""
    from sparkcrawl.components import _large_star, _small_star

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "u long, v long"
    )
    sym = edges.union(edges.select("v", "u"))
    plan = _plan(_small_star(_large_star(sym)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_pairs_stay_within_cells(spark):
    """SemDeDup's pairwise test must be an equi-join keyed on the cell —
    never a cartesian/nested-loop product over the vectors."""
    from sparkcrawl.annsearch import semantic_dedup

    e = spark.createDataFrame(
        [(i, [float((i * 3 + d) % 7) - 3.0 for d in range(8)])
         for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    plan = _plan(semantic_dedup(e, threshold=0.9, k_cells=4, iters=2))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dsir_model_tables_ride_broadcasts(spark):
    """DSIR's bucket-model rejoin must broadcast the <= B-row lambda table
    (BroadcastHashJoin), never shuffle the exploded features against it
    by sort-merge."""
    from sparkcrawl.curation import dsir_weights

    d = spark.createDataFrame(
        [(i, f"tok{i % 5} tok{(i + 1) % 5} tok{(i + 2) % 5}", i % 2 == 0)
         for i in range(50)],
        "doc_id long, text string, is_target boolean",
    )
    plan = _plan(dsir_weights(d))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_bm25_topk_is_take_ordered(spark):
    """BM25's top-k must plan as TakeOrderedAndProject (per-partition heap
    + driver merge of k rows) — a global Sort of the scored corpus is the
    wrong shape at any scale."""
    from sparkcrawl.textops import bm25_search

    d = spark.createDataFrame(
        [(i, f"apple w{i} banana w{i + 1}") for i in range(60)],
        "doc_id long, text string",
    )
    plan = _plan(bm25_search(d, ["apple", "banana"], k=5))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
