"""Adversarial skew soak for the merge-on-read delta frontier.

A mega-host contributes the large majority of admissions round after round
while per-host politeness caps (URLFrontier.java:20-22) keep draining it at
≤15 rows/round — so its backlog dominates the live frontier for the whole
run. The soak asserts the delta frontier's design invariant under that
pressure, every round:

    rows scanned per frontier read  ≤  2 × max(live, frontier_compact_min)

(the threshold compaction in engine._compact_frontier folds tombstones back
into one base before amplification can exceed 2×), that compaction actually
fires during the drain, and that the engine's trace, seen set and crawled
text equal the pure-Python oracle's on the same web (determinism under
skew, across every compaction).
"""

from __future__ import annotations

import datetime as dt

from oracle import run_oracle

from sparkcrawl import schema as S
from sparkcrawl.engine import CrawlConfig, CrawlEngine
from sparkcrawl.tables import SnapshotStore

TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
MEGA = "mega.example.com"
SMALL_HOSTS = [f"h{i}.example.com" for i in range(3)]
N_MEGA = 450
N_SMALL = 40


def _page(url: str, links: list[str]) -> dict:
    body = "".join(f'<a href="{u}">x</a>' for u in links)
    html = f"<html><body><p>doc {url}</p>{body}</body></html>".encode()
    return dict(url=url, warc_ts=TS, html=html, text=None, lang="en")


def _skew_web() -> dict:
    """Seed page fans out to mega + small hosts; every mega page links to
    the next 3 mega pages (admissions stay mega-dominated while the per-
    host cap drains 15/round); small-host pages link onward within host.
    Returned as oracle fixtures (no page meta, no robots rules)."""
    def mu(i):
        return f"http://{MEGA}:80/p{i}.html"

    pages = [_page(f"http://seed.example.com:80/", (
        [mu(i) for i in range(60)]
        + [f"http://{h}:80/p0.html" for h in SMALL_HOSTS]
    ))]
    for i in range(N_MEGA):
        nxt = [mu(j) for j in range(3 * i + 60, 3 * i + 63) if j < N_MEGA]
        pages.append(_page(mu(i), nxt))
    for h in SMALL_HOSTS:
        for i in range(N_SMALL):
            nxt = ([f"http://{h}:80/p{i + 1}.html"]
                   if i + 1 < N_SMALL else [])
            pages.append(_page(f"http://{h}:80/p{i}.html", nxt))
    return dict(pages=pages, page_meta=[], robots=[],
                seeds=[dict(url="http://seed.example.com:80/", priority=1)])


def _run_soak(spark, fx: dict, store_dir: str):
    fields = [f.name for f in S.PAGES.fields]
    pages = spark.createDataFrame(
        [tuple(p[k] for k in fields) for p in fx["pages"]], S.PAGES
    )
    seeds = spark.createDataFrame(
        [(s["url"], s["priority"]) for s in fx["seeds"]], S.SEEDS
    )
    cfg = CrawlConfig(
        frontier_compact_min=64,  # small floor so the soak exercises folds
        priority_hosts=((MEGA, 1),),  # cap 15/round — still mega-dominated
    )
    store = SnapshotStore(store_dir)
    eng = CrawlEngine(spark, store, pages, None, None, cfg)
    eng.init_frontier(seeds)
    compactions = 0
    r = 0
    while int(store.meta.get("n_frontier", 0)) > 0 and r < 200:
        r += 1
        n_live = eng._read_frontier().count()
        n_base = store.read(spark, "frontier", S.FRONTIER).count()
        cap = 2 * max(n_live, cfg.frontier_compact_min)
        assert n_base <= cap, (
            f"round {r}: frontier read amplification {n_base} rows for "
            f"{n_live} live (cap {cap})"
        )
        before = int(store.meta.get("n_frontier_consumed", 0))
        eng.run_round(r)
        eng._compact_frontier()
        after = int(store.meta.get("n_frontier_consumed", 0))
        if before > 0 and after == 0:
            compactions += 1
    trace = [
        (x["round"], x["ord"], x["url_norm"], x["host"], x["action"])
        for x in store.read(spark, "trace", S.TRACE)
        .orderBy("round", "ord").collect()
    ]
    seen = {
        x["url_norm"]
        for x in store.read(spark, "seen", S.SEEN).collect()
    }
    crawled = {
        x["url_norm"]: (x["round"], x["text"])
        for x in store.read(spark, "crawled", S.CRAWLED).collect()
    }
    return {"rounds": r, "trace": trace, "seen": seen, "crawled": crawled,
            "compactions": compactions}


def test_delta_frontier_skew_soak(spark, tmp_path):
    fx = _skew_web()
    got = _run_soak(spark, fx, str(tmp_path / "d"))
    # the fixture really is skewed: mega dominates the admitted set
    mega_seen = sum(1 for u in got["seen"] if MEGA in u)
    assert mega_seen > len(got["seen"]) // 2, (
        "mega-host should contribute >50% of admissions"
    )
    # the run was long enough to be a soak, and compaction really fired
    assert got["rounds"] >= 25
    assert got["compactions"] >= 1
    # determinism under skew: the oracle on the same web agrees exactly
    want = run_oracle(fx, priority_hosts={MEGA: 1})
    assert got["rounds"] == want.rounds
    assert got["trace"] == want.trace
    assert got["seen"] == want.seen
    assert got["crawled"] == want.crawled
