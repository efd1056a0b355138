"""Per-host politeness: priority run caps + crawl-delay round clocks.

Reference semantics:
  * URLFrontier.dequeue serves at most cap(host) CONSECUTIVE urls per host,
    cap = 15 / 10 / 5 for priority class 1 / 2 / 3
    (URLFrontier.java:20-22,59-138); overflow rotates to the back.
  * crawl-delay: a host within its delay window is re-enqueued, not fetched
    (CrawlerBolt.java:439-457).

Batch contract (SURVEY §7.2): a ROUND selects, per delay-eligible host, the
first cap(host) frontier rows by ``seq``; unselected rows stay in the
frontier for later rounds. This is the set-semantics analogue of the
rotate-to-tail loop: same admission set, same per-host service order.

Scale notes:
  * The naive ``row_number() OVER (PARTITION BY host ORDER BY seq)`` sorts a
    mega-host's ENTIRE frontier backlog to pick ≤15 rows. We use a two-phase
    top-k: phase 1 ranks within (host, salt) — 64-way split of each host —
    keeping ≤cap rows per split; phase 2 ranks the ≤64·cap survivors per
    host. The mega-host's sort shrinks from O(backlog) to O(64·cap).
  * cap/priority is a broadcast join only on rounds whose frontier is
    big enough to amortize the broadcast build (hint_broadcast, from
    CrawlConfig.broadcast_min_frontier); otherwise — and at any size past
    ~10^8 hosts, where the threshold is set above every frontier — each
    host-keyed join here plans as a shuffled equi-join co-partitioned with
    the frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

CAPS = {1: 15, 2: 10, 3: 5}  # URLFrontier.java:20-22
DEFAULT_PRIORITY = 3
SALT_BUCKETS = 64

# The reference's hard-coded priority host sets (URLFrontier.java:32-39) as
# (host, priority) pairs — pass to CrawlConfig.priority_hosts to replay the
# reference's exact classes alongside (min-merged with) the seeds-derived ones.
REFERENCE_PRIORITY_HOSTS = (
    ("en.wikipedia.org", 1), ("upenn.edu", 1), ("cnn.com", 1),
    ("stackoverflow.com", 2), ("reddit.com", 2), ("bbc.com", 2),
    ("wsj.com", 2),
)


def cap_col(priority_col) -> F.Column:
    return (
        F.when(priority_col == 1, F.lit(CAPS[1]))
        .when(priority_col == 2, F.lit(CAPS[2]))
        .otherwise(F.lit(CAPS[3]))
    )


def eligible_hosts_filter(
    frontier: DataFrame,
    host_rules: DataFrame,
    host_clock: DataFrame,
    round_no: int,
    hint_broadcast: bool = True,
    round_col: str | None = None,
) -> DataFrame:
    """Drop rows of hosts still inside their crawl-delay window.

    delay is in ROUNDS (1 round == 1 virtual second, SURVEY §2.3 R3):
    a host fetched in round r with delay d is eligible again at r + d.
    Hosts with no delay (or never fetched) are always eligible.

    ``round_col``: name of a column of ``frontier`` carrying the round
    number as data (engine.with_round). The engine passes it so the gate's
    generated code is round-invariant — an inlined ``F.lit(round_no)``
    would force a whole-stage recompile every round. One-shot callers
    (queries, tests) can keep passing the int.

    Scale note: only hosts that HAVE a crawl-delay rule can ever be
    deferred, so both broadcasts are pruned to that subset — the clock
    table (one row per ever-fetched host, ~#hosts at 10^10-URL scale)
    never broadcasts wholesale.
    """
    def _b(df):
        return F.broadcast(df) if hint_broadcast else df

    delayed = host_rules.filter(
        F.col("crawl_delay").isNotNull()
    ).select("host", "crawl_delay")
    clock_rel = host_clock.join(
        _b(delayed.select("host")), "host", "left_semi"
    )
    f = frontier.join(_b(delayed), "host", "left").join(
        _b(clock_rel), "host", "left"
    )
    rnd = F.col(round_col) if round_col else F.lit(round_no)
    ok = (
        F.col("crawl_delay").isNull()
        | F.col("last_round").isNull()
        | (rnd - F.col("last_round") >= F.col("crawl_delay"))
    )
    return f.filter(ok).drop("crawl_delay", "last_round")


def select_per_host(frontier: DataFrame, host_priority: DataFrame,
                    frontier_size: int | None = None,
                    twophase_threshold: int = 2_000_000,
                    hint_broadcast: bool = True,
                    default_delay_hosts: DataFrame | None = None
                    ) -> DataFrame:
    """Pick the first cap(host) rows by seq per host.

    Input must already be delay-filtered. The salted phase-1 window is a
    pure optimization for mega-host backlogs (shrinks the per-host sort
    from O(backlog) to O(SALT·cap)); it is skipped when the frontier is
    known to be small — the phase-2 window alone defines the semantics, so
    results are identical either way (tested).

    default_delay_hosts (a ``host`` column): hosts whose effective robots
    block is agent-specific but carries NO explicit Crawl-delay — the
    LOCAL variant defaults these to 1 second between fetches
    (CrawlerBolt.java:442-444 intent; see robots.delay_py for why the
    reference's own default is dead code). Under the 1-round = 1-virtual-
    second mapping, "1 fetch per second" is EXACTLY a per-round cap of 1
    (the host stays eligible every round) — so the flag clamps cap to 1
    for those hosts instead of touching the round-deferral gate, where a
    1-round delay would be vacuous.
    """
    prio = F.broadcast(host_priority) if hint_broadcast else host_priority
    f = frontier.join(prio, "host", "left").withColumn(
        "cap", cap_col(F.coalesce(F.col("priority"), F.lit(DEFAULT_PRIORITY)))
    )
    if default_delay_hosts is not None:
        dd = default_delay_hosts.withColumn("_dd", F.lit(True))
        dd = F.broadcast(dd) if hint_broadcast else dd
        f = f.join(dd, "host", "left").withColumn(
            "cap", F.when(F.col("_dd"), F.lit(1)).otherwise(F.col("cap"))
        ).drop("_dd")
    if frontier_size is None or frontier_size > twophase_threshold:
        salt = F.pmod(F.xxhash64("url_norm"), F.lit(SALT_BUCKETS))
        w1 = W.partitionBy("host", salt).orderBy("seq")
        f = f.withColumn("_rn1", F.row_number().over(w1)).filter(
            F.col("_rn1") <= F.col("cap")
        ).drop("_rn1")
    w2 = W.partitionBy("host").orderBy("seq")
    f = f.withColumn("_rn2", F.row_number().over(w2)).filter(
        F.col("_rn2") <= F.col("cap")
    )
    return f.drop("_rn2", "cap", "priority")


# ---- pure-Python twin (the spec; used by tests/oracle.py) -------------------


def select_py(
    rows: list[dict],
    priorities: dict[str, int],
    rules: dict,
    clock: dict[str, int],
    round_no: int,
) -> list[dict]:
    """Same selection over a list of frontier dicts; returns selected rows
    sorted by seq."""
    from sparkcrawl.robots import delay_py

    taken: dict[str, int] = {}
    out = []
    for r in sorted(rows, key=lambda r: r["seq"]):
        host = r["host"]
        d = delay_py(rules, host)
        if d is not None and host in clock and round_no - clock[host] < d:
            continue
        cap = CAPS.get(priorities.get(host, DEFAULT_PRIORITY), CAPS[3])
        if taken.get(host, 0) >= cap:
            continue
        taken[host] = taken.get(host, 0) + 1
        out.append(r)
    return out
