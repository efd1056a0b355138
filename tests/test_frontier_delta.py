"""Merge-on-read (delta) frontier: threshold compaction.

A round appends admitted rows + selected-key tombstones instead of
rewriting the whole frontier (engine._run_round; Iceberg
MERGE-with-position-deletes analogue). Threshold-triggered compaction
(_compact_frontier) must be content-neutral and must actually fire.
"""

from __future__ import annotations

import pytest

from conftest import load_inputs
from oracle import run_oracle

from sparkcrawl import schema as S
from sparkcrawl.engine import CrawlConfig, CrawlEngine
from sparkcrawl.filters import FilterConfig
from sparkcrawl.tables import SnapshotStore


@pytest.fixture(scope="module")
def oracle_result(fixtures):
    return run_oracle(fixtures)


def _mk_engine(spark, fixtures, fixture_paths, store_dir, **cfg_kw):
    pages, meta, robots, seeds = load_inputs(spark, fixture_paths)
    cfg = CrawlConfig(
        filters=FilterConfig(banned_hosts=fixtures["banned_hosts"]),
        **cfg_kw,
    )
    store = SnapshotStore(store_dir)
    return CrawlEngine(spark, store, pages, meta, robots, cfg), seeds


def _collect(spark, store):
    trace = [
        (r["round"], r["ord"], r["url_norm"], r["host"], r["action"])
        for r in store.read(spark, "trace", S.TRACE)
        .orderBy("round", "ord").collect()
    ]
    seen = {r["url_norm"] for r in store.read(spark, "seen", S.SEEN).collect()}
    crawled = {
        r["url_norm"]: (r["round"], r["text"])
        for r in store.read(spark, "crawled", S.CRAWLED).collect()
    }
    return trace, seen, crawled


def test_compaction_fires_and_is_content_neutral(spark, fixtures,
                                                 fixture_paths, tmp_path,
                                                 oracle_result):
    # floor=1 => compaction triggers as soon as tombstones >= live rows
    eng, seeds = _mk_engine(
        spark, fixtures, fixture_paths, str(tmp_path / "c"),
        frontier_compact_min=1,
    )
    eng.init_frontier(seeds)
    eng.run_round(1)
    eng.run_round(2)
    live_before = sorted(
        (r["url_norm"], r["seq"])
        for r in eng._read_frontier().collect()
    )
    assert eng.store.exists("frontier_consumed")  # tombstones present
    assert int(eng.store.meta["n_frontier_consumed"]) > 0
    eng._compact_frontier()
    # floor=1 and consumed(seed rounds) >= live on the tiny web => fired
    assert not eng.store.exists("frontier_consumed")
    assert int(eng.store.meta["n_frontier_consumed"]) == 0
    assert eng.store.n_dirs("frontier") == 1
    live_after = sorted(
        (r["url_norm"], r["seq"])
        for r in eng._read_frontier().collect()
    )
    assert live_after == live_before  # content-identical fold
    # finish the crawl across more compactions: still oracle-identical
    eng.run(None)
    trace, seen, crawled = _collect(spark, eng.store)
    assert trace == oracle_result.trace
    assert seen == oracle_result.seen
    assert crawled == oracle_result.crawled
