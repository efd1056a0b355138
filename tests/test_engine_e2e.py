"""End-to-end equivalence: Spark engine vs pure-Python oracle (SURVEY §5.3).

Asserts on the tiny synthetic web:
  * identical crawl-order TRACE (round, ord, url, host, action)
  * identical final URL-seen set
  * byte-identical extracted text per crawled url
  * the seen prefilter's engagement changes nothing (exactness), across
    resume on either side of it and across a recrawl pass
  * kill-after-round-k resume reproduces the identical full trace
"""

from __future__ import annotations

import os

import pytest

from conftest import load_inputs
from oracle import run_oracle

from sparkcrawl import schema as S
from sparkcrawl.engine import BLOOM_META, CrawlConfig, CrawlEngine
from sparkcrawl.filters import FilterConfig
from sparkcrawl.seen import BloomFileState
from sparkcrawl.tables import SnapshotStore

# Strictly between the tiny web's 6 seeds and its 60 seen URLs: rounds 1-2
# (6 and 17 seen) run the exact anti-join alone, round 3 (31 seen) is the
# first to build and use the prefilter. Pass 2 of a recrawl crosses it too.
MID_CROSSOVER = 30
ENGAGED = {"bits": CrawlConfig.bloom_bits, "shards": CrawlConfig.bloom_shards}


def _run_engine(spark, fixtures, fixture_paths, store_dir,
                max_rounds=1000, resume_break=None, **cfg_kw):
    pages, meta, robots, seeds = load_inputs(spark, fixture_paths)
    cfg = CrawlConfig(
        filters=FilterConfig(banned_hosts=fixtures["banned_hosts"]),
        **cfg_kw,
    )
    store = SnapshotStore(store_dir)
    eng = CrawlEngine(spark, store, pages, meta, robots, cfg)
    if resume_break is not None:
        eng.run(seeds, max_rounds=resume_break)
        # simulate a kill: throw the engine away, new store + engine resume
        store = SnapshotStore(store_dir)
        eng = CrawlEngine(spark, store, pages, meta, robots, cfg)
        eng.run(None, max_rounds=max_rounds)
    else:
        eng.run(seeds, max_rounds=max_rounds)
    return store


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


@pytest.fixture(scope="module")
def oracle_result(fixtures):
    return run_oracle(fixtures)


def test_engine_matches_oracle(spark, fixtures, fixture_paths, tmp_path,
                               oracle_result, monkeypatch):
    """Default config. The tiny web stays far below the prefilter
    crossover, so the crawl does no filter work at all: no merge, no
    ``<store>/bloom``, no completeness marker. The frontier only ever
    appends (merge-on-read), so its base is never rewritten."""
    def no_filter_work(self, df):
        raise AssertionError("filter merge below the crossover")

    monkeypatch.setattr(BloomFileState, "add_hashes_df", no_filter_work)
    store = _run_engine(spark, fixtures, fixture_paths, str(tmp_path / "s"))
    trace, seen, crawled = _collect(spark, store)
    assert seen == oracle_result.seen
    assert trace == oracle_result.trace
    assert crawled == oracle_result.crawled  # byte-identical text
    assert not os.path.exists(os.path.join(store.root, "bloom"))
    assert BLOOM_META not in store.meta
    # the delta frontier never rewrote its base: seed dir + one per round
    assert store.n_dirs("frontier") == 1 + oracle_result.rounds


def test_engine_matches_oracle_t1(spark, tmp_path):
    """Full-crawl trace/seen/text equality at the t1 profile (200 hosts /
    ~2.4k pages — an order of magnitude past the tiny web, exercising
    multi-round delay clocks, the mega-host, and content dup clusters at
    volume)."""
    from gen_fixtures import generate, write_parquet
    from sparkcrawl.filters import FilterConfig as FC

    fx = generate("t1", seed=42)
    paths = write_parquet(fx, str(tmp_path / "t1web"))
    # full fixpoint is 99 rounds (a ~16-URL/round crawl-delay tail); 12
    # rounds carry the bulk of the volume and keep the test ~1 min
    want = run_oracle(fx, max_rounds=12)
    pages, meta, robots, seeds = load_inputs(spark, paths)
    store = SnapshotStore(str(tmp_path / "t1store"))
    cfg = CrawlConfig(filters=FC(banned_hosts=fx["banned_hosts"]))
    CrawlEngine(spark, store, pages, meta, robots, cfg).run(
        seeds, max_rounds=12
    )
    trace, seen, crawled = _collect(spark, store)
    assert seen == want.seen
    assert trace == want.trace
    assert crawled == want.crawled  # byte-identical text at volume
    assert len(trace) > 800  # 12 rounds of t1 carry ~870 traced URLs


def test_crossover_gates_identical(spark, fixtures, fixture_paths,
                                   tmp_path, oracle_result):
    """The crossover knobs pick plans, never results, against the
    defaults (which skip both on the tiny web): broadcast_min_frontier=0
    broadcasts host state every round, and the prefilter engages mid-crawl
    (MID_CROSSOVER). The run is killed once a round before engagement (the
    fresh engine builds the filter from seen) and once a round after it
    (the fresh engine opens the filter its marker vouches for); both
    equal the oracle."""
    for kill in (2, 4):
        store = _run_engine(
            spark, fixtures, fixture_paths, str(tmp_path / f"xgate{kill}"),
            resume_break=kill, broadcast_min_frontier=0,
            bloom_filter_min_seen=MID_CROSSOVER,
        )
        trace, seen, crawled = _collect(spark, store)
        assert trace == oracle_result.trace
        assert seen == oracle_result.seen
        assert crawled == oracle_result.crawled
        assert store.meta[BLOOM_META] == ENGAGED


def test_resume_identical_ordering(spark, fixtures, fixture_paths, tmp_path,
                                   oracle_result):
    """Kill after round 2, restart from the snapshot, full trace identical."""
    store = _run_engine(
        spark, fixtures, fixture_paths, str(tmp_path / "rs"), resume_break=2
    )
    trace, seen, crawled = _collect(spark, store)
    assert trace == oracle_result.trace
    assert seen == oracle_result.seen
    assert crawled == oracle_result.crawled


def test_budget_stop(spark, fixtures, fixture_paths, tmp_path):
    """maxFileNum stop (D5): engine and oracle agree under a doc budget."""
    pages, meta, robots, seeds = load_inputs(spark, fixture_paths)
    cfg = CrawlConfig(
        max_file_num=10,
        filters=FilterConfig(banned_hosts=fixtures["banned_hosts"]),
    )
    store = SnapshotStore(str(tmp_path / "b"))
    eng = CrawlEngine(spark, store, pages, meta, robots, cfg)
    eng.run(seeds)
    o = run_oracle(fixtures, max_file_num=10)
    trace, seen, crawled = _collect(spark, store)
    assert trace == o.trace
    assert crawled == o.crawled


def test_crash_mid_round_atomicity(spark, fixtures, fixture_paths, tmp_path,
                                   oracle_result):
    """A crash BETWEEN staging and commit must leave no trace: staged
    parquet for a half-finished round is invisible to a fresh store, and
    resuming reproduces the oracle-identical result."""
    pages, meta, robots, seeds = load_inputs(spark, fixture_paths)
    cfg = CrawlConfig(
        filters=FilterConfig(banned_hosts=fixtures["banned_hosts"]),
    )
    store_dir = str(tmp_path / "crash")
    store = SnapshotStore(store_dir)
    eng = CrawlEngine(spark, store, pages, meta, robots, cfg)
    eng.run(seeds, max_rounds=2)
    committed = dict(store.meta)

    # simulate dying mid-round-3: stage bogus overwrites/appends, NO commit
    junk = spark.createDataFrame(
        [("http://junk:80/x", "junk", "/x", 9, 999, 3)], S.FRONTIER
    )
    store.stage_overwrite("frontier", junk)
    store.stage_append(
        "seen",
        spark.createDataFrame([("http://junk:80/x", 1, 3)], S.SEEN),
    )
    del store, eng  # process dies here

    # restart: fresh store must see only the committed round-2 state
    store2 = SnapshotStore(store_dir)
    assert dict(store2.meta) == committed
    frontier = store2.read(spark, "frontier", S.FRONTIER)
    assert frontier.filter(frontier.host == "junk").count() == 0
    seen = store2.read(spark, "seen", S.SEEN)
    assert seen.filter(seen.url_norm == "http://junk:80/x").count() == 0

    eng2 = CrawlEngine(spark, store2, pages, meta, robots, cfg)
    eng2.run(None)
    trace, seen_set, crawled = _collect(spark, store2)
    assert trace == oracle_result.trace
    assert seen_set == oracle_result.seen
    assert crawled == oracle_result.crawled


def test_default_delay_1_matches_oracle(spark, fixtures, fixture_paths,
                                        tmp_path, oracle_result):
    """Local-variant 1s default delay (CrawlerBolt.java:442-444 intent):
    hosts with an agent-specific robots block and NO explicit Crawl-delay
    serve 1 URL per round. Engine == oracle under the flag, and the flag
    visibly changes the schedule vs the default run."""
    pages, meta, robots_df, seeds = load_inputs(spark, fixture_paths)
    cfg = CrawlConfig(
        default_delay_1=True,
        filters=FilterConfig(banned_hosts=fixtures["banned_hosts"]),
    )
    store = SnapshotStore(str(tmp_path / "dd1"))
    CrawlEngine(spark, store, pages, meta, robots_df, cfg).run(seeds)
    want = run_oracle(fixtures, default_delay_1=True)
    trace, seen, crawled = _collect(spark, store)
    assert trace == want.trace
    assert seen == want.seen
    assert crawled == want.crawled

    # focused micro-web where the clamp visibly reshapes the schedule: one
    # host with an agent-specific block (no delay) whose root links to 4
    # pages — default crawl does them in one round (cap 5), the local
    # variant spreads them 1/round
    import datetime as dt

    from gen_fixtures import write_parquet
    from sparkcrawl.htmlspec import extract as hs_extract

    epoch = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    def page(url, links):
        html = (
            '<html lang="en"><body><p>body of ' + url + "</p>"
            + "".join(f'<a href="{x}">x</a>' for x in links)
            + "</body></html>"
        )
        ex = hs_extract(html)
        return dict(url=url, warc_ts=epoch, html=html.encode("utf-8"),
                    text=ex["text"], lang="en")

    mini = dict(
        pages=[page("http://a.com:80/",
                    [f"/p{i}.html" for i in range(4)])]
        + [page(f"http://a.com:80/p{i}.html", []) for i in range(4)],
        page_meta=[],
        robots=[dict(host="a.com", agent="cis455crawler", rule="disallow",
                     path_prefix="/private", crawl_delay=None)],
        seeds=[dict(url="http://a.com:80/", priority=3)],
        banned_hosts=("xxx.com",),
    )
    mpaths = write_parquet(mini, str(tmp_path / "miniweb"))
    mp, mm, mr, ms = load_inputs(spark, mpaths)
    for flag in (False, True):
        mcfg = CrawlConfig(default_delay_1=flag)
        mstore = SnapshotStore(str(tmp_path / f"mini{flag}"))
        CrawlEngine(spark, mstore, mp, mm, mr, mcfg).run(ms)
        mo = run_oracle(mini, default_delay_1=flag)
        mtrace, mseen, mcrawled = _collect(spark, mstore)
        assert mtrace == mo.trace
        assert mcrawled == mo.crawled
        rounds = max(t[0] for t in mtrace)
        if flag:
            assert rounds == 5  # root, then p0..p3 one per round
        else:
            assert rounds == 2  # root, then all four under cap 5


def test_literal_priority_hosts_match_oracle(spark, fixtures, fixture_paths,
                                             tmp_path):
    """Literal priority host classes (URLFrontier.java:32-39): explicit
    (host, priority) pairs min-merge with the seeds-derived classes. To
    make the literal set the deciding source (it can only RAISE a class),
    seed priorities are flattened to 3 and mega.example.com — whose
    backlog far exceeds the default cap — is promoted literally."""
    import pyspark.sql.functions as _F

    pages, meta, robots_df, seeds = load_inputs(spark, fixture_paths)
    seeds3 = seeds.withColumn("priority", _F.lit(3))
    fx3 = dict(fixtures)
    fx3["seeds"] = [
        dict(url=s["url"], priority=3) for s in fixtures["seeds"]
    ]
    lit = {"mega.example.com": 1}
    cfg = CrawlConfig(
        priority_hosts=tuple(lit.items()),
        filters=FilterConfig(banned_hosts=fixtures["banned_hosts"]),
    )
    store = SnapshotStore(str(tmp_path / "php"))
    CrawlEngine(spark, store, pages, meta, robots_df, cfg).run(seeds3)
    want = run_oracle(fx3, priority_hosts=lit)
    trace, seen, crawled = _collect(spark, store)
    assert trace == want.trace
    assert seen == want.seen
    assert crawled == want.crawled
    # without the literal promotion mega runs at cap 5, so the schedule
    # (oracle-computed, no second engine run needed) must differ
    base = run_oracle(fx3)
    assert trace != base.trace
    assert seen == base.seen  # same reachable set, different order


def test_recrawl_304_matches_oracle(spark, fixtures, fixture_paths,
                                    tmp_path):
    """Incremental re-crawl (304/If-Modified-Since, CrawlerBolt.java:
    460-485): pass 1 crawls the web, the web mutates (25% modified bodies,
    5% ts-touched-only, rest unchanged), pass 2 re-crawls with pass 1's
    docs as the If-Modified-Since cache. The engine must match the oracle's
    trace/seen/crawled exactly, with unchanged pages tracing not_modified
    (links still followed, docs not re-stored)."""
    from gen_fixtures import mutate, write_parquet
    from oracle import run_oracle as _oracle

    store_dir = str(tmp_path / "rc")
    _run_engine(spark, fixtures, fixture_paths, store_dir)

    fx2 = mutate(fixtures, seed=43)
    paths2 = write_parquet(fx2, str(tmp_path / "web2"))
    pages2, meta2, robots2, seeds2 = load_inputs(spark, paths2)
    cfg = CrawlConfig(
        filters=FilterConfig(banned_hosts=fixtures["banned_hosts"])
    )
    store = SnapshotStore(store_dir)
    eng = CrawlEngine(spark, store, pages2, meta2, robots2, cfg)
    eng.init_recrawl(seeds2)
    eng.run(None)

    o1 = run_oracle(fixtures)
    pages1 = {r["url"]: r for r in fixtures["pages"]}
    cache = {un: pages1[un]["warc_ts"] for un in o1.crawled}
    o2 = _oracle(fx2, doc_cache=cache)

    trace, seen, crawled = _collect(spark, store)
    assert seen == o2.seen
    assert trace == o2.trace
    assert crawled == o2.crawled  # pass-2 stores = re-fetched docs only
    actions = {a for (_, _, _, _, a) in trace}
    assert "not_modified" in actions  # the 304 branch actually fired
    assert any(un in cache for un in crawled)  # and so did re-fetches


def test_recrawl_resume_identical(spark, fixtures, fixture_paths, tmp_path):
    """Kill-and-resume INSIDE a recrawl pass reproduces the identical
    trace (snapshot machinery is pass-agnostic). Both passes cross the
    prefilter threshold: pass 1's filter must not survive the seen reset,
    so pass 2 rebuilds its own at its first engaged round."""
    from gen_fixtures import mutate, write_parquet
    from oracle import run_oracle as _oracle

    store_dir = str(tmp_path / "rcr")
    _run_engine(spark, fixtures, fixture_paths, store_dir,
                bloom_filter_min_seen=MID_CROSSOVER)
    fx2 = mutate(fixtures, seed=43)
    paths2 = write_parquet(fx2, str(tmp_path / "web2r"))
    pages2, meta2, robots2, seeds2 = load_inputs(spark, paths2)
    cfg = CrawlConfig(
        bloom_filter_min_seen=MID_CROSSOVER,
        filters=FilterConfig(banned_hosts=fixtures["banned_hosts"]),
    )
    store = SnapshotStore(store_dir)
    assert store.meta[BLOOM_META] == ENGAGED  # pass 1 engaged
    eng = CrawlEngine(spark, store, pages2, meta2, robots2, cfg)
    eng.init_recrawl(seeds2)
    assert BLOOM_META not in store.meta
    eng.run(None, max_rounds=2)
    # kill; fresh store + engine resumes the pass
    store = SnapshotStore(store_dir)
    eng = CrawlEngine(spark, store, pages2, meta2, robots2, cfg)
    eng.run(None)

    o1 = run_oracle(fixtures)
    pages1 = {r["url"]: r for r in fixtures["pages"]}
    cache = {un: pages1[un]["warc_ts"] for un in o1.crawled}
    o2 = _oracle(fx2, doc_cache=cache)
    trace, seen, crawled = _collect(spark, store)
    assert trace == o2.trace
    assert seen == o2.seen
    assert crawled == o2.crawled
    assert store.meta[BLOOM_META] == ENGAGED  # pass 2 engaged


def test_adaptive_shuffle_scopes_to_round(spark, fixture_paths, tmp_path):
    """Adaptive sizing clamps shuffle partitions during a round and restores
    the session value after; tiny frontiers collapse to 1 partition."""
    from conftest import load_inputs

    pages, meta, robots_df, seeds = load_inputs(spark, fixture_paths)
    store = SnapshotStore(str(tmp_path / "store_adapt"))
    eng = CrawlEngine(spark, store, pages, meta, robots_df, CrawlConfig())
    before = spark.conf.get("spark.sql.shuffle.partitions")
    eng.init_frontier(seeds)
    eng.run_round(1)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # clamp math, asserted against the engine's own sizing code path
    per = eng.cfg.shuffle_rows_per_partition
    for est, want in [
        (0, 1),
        (1, 1),
        (per, 1),
        (per + 1, 2),
        (per * eng._max_shuffle * 10, eng._max_shuffle),
    ]:
        assert eng._shuffle_target(est) == want
    assert eng._shuffle_target(None) == eng._max_shuffle
    assert eng._shuffle_target(10**9, ceiling=7) == 7


def test_default_seen_filter_file_backed(spark, fixtures, fixture_paths,
                                         tmp_path, monkeypatch):
    """With the prefilter engaged from round 1 (threshold 0) the seen
    filter is the executor-side file-backed state: one file per shard,
    nothing bitmap-shaped on the driver, every round commits the
    completeness marker, and a fresh engine resuming the store opens the
    persisted shards instead of rebuilding them."""
    store_dir = str(tmp_path / "fb")
    store = _run_engine(spark, fixtures, fixture_paths, store_dir,
                        max_rounds=2, bloom_filter_min_seen=0)
    want = run_oracle(fixtures, max_rounds=2)
    trace, seen, crawled = _collect(spark, store)
    assert (trace, seen, crawled) == (want.trace, want.seen, want.crawled)
    assert store.meta[BLOOM_META] == ENGAGED

    def no_rebuild(self, df):
        raise AssertionError("a vouched-for filter must not be rebuilt")

    monkeypatch.setattr(BloomFileState, "add_hashes_df", no_rebuild)
    pages, meta, robots, _ = load_inputs(spark, fixture_paths)
    eng = CrawlEngine(
        spark, SnapshotStore(store_dir), pages, meta, robots,
        CrawlConfig(bloom_filter_min_seen=0),
    )
    b = eng.bloom()
    assert isinstance(b, BloomFileState)
    assert not hasattr(b, "bitmap")
    assert sorted(os.listdir(b.path)) == [
        f"shard-{s:04d}.bin" for s in range(ENGAGED["shards"])
    ]


def test_recrawl_three_pass_chain(spark, fixtures, fixture_paths, tmp_path):
    """THREE consecutive re-crawl passes over a web that mutates between
    each: init_recrawl chains the doc_cache (this pass's stores overwrite;
    prior entries NOT re-fetched carry forward — the reference DB keeps old
    DocVals unless addDocInfo overwrites, CrawlerBolt.java:473-485), and
    every pass's trace/seen/crawled must match the oracle run with the
    equivalently-chained cache dict. doc_cache stays ONE data dir per pass
    (stage_overwrite discipline), so the lineage chain never accumulates
    files across passes."""
    from gen_fixtures import mutate, write_parquet
    from oracle import run_oracle as _oracle

    store_dir = str(tmp_path / "rc3")
    _run_engine(spark, fixtures, fixture_paths, store_dir)
    o1 = run_oracle(fixtures)
    pages_by = {r["url"]: r for r in fixtures["pages"]}
    cache = {un: pages_by[un]["warc_ts"] for un in o1.crawled}

    fx = fixtures
    per_pass = {}
    for i, seed in enumerate((43, 44), start=2):
        fx = mutate(fx, seed=seed)
        paths = write_parquet(fx, str(tmp_path / f"web{i}"))
        pages, meta, robots, seeds = load_inputs(spark, paths)
        cfg = CrawlConfig(
            filters=FilterConfig(banned_hosts=fixtures["banned_hosts"])
        )
        store = SnapshotStore(store_dir)
        eng = CrawlEngine(spark, store, pages, meta, robots, cfg)
        eng.init_recrawl(seeds)
        assert store.n_dirs("doc_cache") == 1, "doc_cache must stay 1 dir"
        eng.run(None)
        o = _oracle(fx, doc_cache=cache)
        trace, seen, crawled = _collect(spark, store)
        assert trace == o.trace, f"pass {i} trace mismatch"
        assert seen == o.seen, f"pass {i} seen mismatch"
        assert crawled == o.crawled, f"pass {i} crawled mismatch"
        actions = {a for (_, _, _, _, a) in trace}
        assert "not_modified" in actions and "fetched" in actions
        assert int(store.meta["pass"]) == i
        per_pass[i] = (set(crawled), {
            un for (_, _, un, _, a) in trace if a == "not_modified"
        })
        # advance the oracle cache exactly the way init_recrawl does
        pb = {r["url"]: r for r in fx["pages"]}
        cache = {**cache, **{un: pb[un]["warc_ts"] for un in o.crawled}}

    # the chain really advanced: some page RE-FETCHED in pass 2 serves a
    # 304 in pass 3 off its pass-2 cache entry (not the pass-1 one)
    assert per_pass[2][0] & per_pass[3][1], "no pass-2 store 304'd in pass 3"


def test_aggressive_maintenance_identical_and_bounded(
    spark, fixtures, fixture_paths, tmp_path, oracle_result
):
    """Running table compaction + snapshot expiry EVERY OTHER ROUND (vs the
    default every-64) changes nothing observable — trace/seen/text equal the
    oracle — while the manifest count stays bounded by the retention window
    and a post-expiry resume still completes from the pruned store."""
    root = str(tmp_path / "mx")
    store = _run_engine(
        spark, fixtures, fixture_paths, root,
        maintenance_every=2, snapshot_keep=2, frontier_compact_min=1,
        resume_break=3,  # kill after round 3: resume reads a pruned store
    )
    trace, seen, crawled = _collect(spark, store)
    assert seen == oracle_result.seen
    assert trace == oracle_result.trace
    assert crawled == oracle_result.crawled
    # retention bound: kept manifests = keep_last + CURRENT-and-newer slack;
    # a 7-round tiny crawl commits ~20 snapshots without expiry
    snaps = [n for n in os.listdir(store.snap_dir) if n.endswith(".json")]
    assert len(snaps) <= 4, snaps
