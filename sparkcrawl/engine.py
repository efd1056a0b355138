"""The crawl engine: an iterative DataFrame fixpoint loop with atomic rounds.

Replaces the whole StormLite runtime (LocalCluster + spout/bolt topology +
quiescence detection, stormlite/LocalCluster.java, XPathCrawler.java:231-273):
each ROUND is one declarative DataFrame job over the frontier —

    frontier --delay gate--> --per-host cap select--> --robots check-->
    --join pages (the synthetic web)--> --extract (Arrow UDF)-->
    --content dedup--> --lang filter--> --explode links--> --canonicalize-->
    --admission filters--> --anti-join seen (Bloom-prefiltered)-->
    --assign seq--> frontier' / seen+ / crawled+ / trace+ / metrics+

and the loop runs rounds to fixpoint (frontier empty) or budget. Every round
commits atomically via SnapshotStore, so a killed run resumes with IDENTICAL
ordering (tested) — stronger than the reference's URLDisk.txt line-count
resume (XPathCrawler.java:85-98).

Determinism contract (SURVEY §7.2): nothing depends on partition iteration
order; the only order source is ``seq`` (dense admission rank, assigned by a
range-partitioned two-phase global rank, never a single-partition window);
all tie-breaks are (parent_seq, link_idx); all UDFs pure.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from sparkcrawl import schema as S
from sparkcrawl import politeness, robots, seen as seenmod
from sparkcrawl.filters import FilterConfig, admission_predicate
from sparkcrawl.extract import with_extracted
from sparkcrawl.tables import SnapshotStore
from sparkcrawl.urlnorm import canonicalize_udf, with_url_parts

ROUND_SHIFT = 32  # seq = (round << 32) | dense rank within round
# Snapshot-meta key of the seen prefilter's completeness marker,
# {"bits": n, "shards": B}: committed by every round that engaged the
# filter (so ORed its admitted keys in), by no other commit.
BLOOM_META = "seen_bloom"


@dataclass
class CrawlConfig:
    max_doc_size: int = 5_000_000  # worker_0.json: 5 MB
    max_file_num: int = 1_000_000_000  # crawl budget (docs)
    max_rounds: int = 1_000_000
    cache_web: bool = True  # cache pages/meta across rounds (local working set)
    # Spill-aware per-round shuffle sizing: before each round the engine sets
    # spark.sql.shuffle.partitions = clamp(ceil(n_frontier / rows_per), 1,
    # session value at engine construction). Small rounds stop paying dozens
    # of near-empty tasks per stage (the session value is the ceiling, so at
    # design scale rounds simply keep the cluster's configured width); results
    # are partition-count-independent by the determinism contract (§2,
    # test_partition_determinism).
    adaptive_shuffle: bool = True
    shuffle_rows_per_partition: int = 4096
    # Web-cache partition sizing: cache width = clamp(ceil(n_pages /
    # cache_rows_per_partition), 1, session shuffle width). Page rows are
    # html-bearing (~3 KB), so 16k rows ≈ 50 MB per cached partition.
    # Without this a 50 MB test web cached at the session's 32-way width
    # makes EVERY downstream stage of the fetch join (extraction, dedup,
    # link explode) a 32-task stage over a few hundred rows — pure
    # per-task overhead. At design-scale webs the clamp ceiling keeps the
    # full session width (the Iceberg analogue: bucket count is sized to
    # the table, not to the cluster). 0 disables (always session width).
    cache_rows_per_partition: int = 16384
    # Host-keyed state joins (robots rules, priority, delay clocks):
    # broadcast — the reference's in-memory robotMap/lastCrawled analogue —
    # only when the round's frontier estimate is known and at least this
    # threshold. Each F.broadcast build is its own Spark job (~80-170 ms of
    # pure driver/scheduler latency on this class of host, x3 host-state
    # joins per round), amortized only when the frontier side is big
    # enough that shuffling it on host would cost more; below it the same
    # equi-joins plan as shuffled joins on host (the exchange is then a
    # few-MB narrow-column hop). Past ~10^8 robots-bearing hosts, where
    # the tables no longer fit executor memory, set it above any frontier
    # size to keep every round shuffled. Outputs are identical either way
    # (e2e-tested at 0 and at the default).
    broadcast_min_frontier: int = 1_000_000
    # Fetch join, pruning the web table to the selected rows: a round
    # ships the selected url_norm keys to every executor as a broadcast
    # (right for small rounds — one tiny broadcast, web never shuffles)
    # unless its frontier estimate is at least bucketed_fetch_min AND it
    # runs at the cached web's partition width (the co-partitioning
    # precondition — otherwise the web side would reshuffle, which must
    # never happen). Then it prunes with a shuffled-hash semi-join against
    # the cached web's existing hash(url_norm) partitioning: a 10^6-key
    # selection would be a 100MB serial driver collect+broadcast per
    # round, while the shuffled semi exchanges only the narrow key column
    # and builds per-partition hash sets — the local analogue of an
    # Iceberg storage-bucketed join.
    bucketed_fetch_min: int = 200_000
    # The frontier is merge-on-read: a round APPENDS the admitted rows and
    # the selected keys (tombstones, `frontier_consumed` table); the live
    # frontier = data dirs anti-join tombstones, and a threshold-triggered
    # compaction folds tombstones back into one base
    # (engine._compact_frontier). Per-round frontier write cost is
    # O(round), not O(frontier). Iceberg analogue: MERGE with position
    # deletes + periodic rewrite_position_delete_files/rewrite_data_files.
    # Compact when tombstones exceed max(live frontier size, this floor):
    # read amplification stays ≤2× and each compaction is a full consumed-
    # growth apart — amortized O(round size) per round.
    frontier_compact_min: int = 65536
    # Snapshot retention for the periodic expire_snapshots pass (Iceberg
    # expire_snapshots + remove_orphan_files analogue, tables.py): without
    # it a long crawl leaks every dir superseded by overwrite/compaction
    # commits plus any dirs staged by a killed round. 0 disables (keep
    # every snapshot — full time-travel, unbounded disk).
    snapshot_keep: int = 8
    # Rounds between table-compaction + snapshot-expiry passes. 64 amortizes
    # the rewrite over enough appended dirs to be worth it; tests shrink it
    # to exercise maintenance inside short crawls.
    maintenance_every: int = 64
    # Crossover for the seen PREFILTER (seen.BloomFileState in front of the
    # exact anti-join): its membership pandas_udf adds a fixed ~100-150 ms
    # ArrowEvalPython stage to the round's critical path, which can only
    # pay once the seen table is big enough that the exact anti-join's
    # scan of it dominates. Below this seen size no filter work runs at
    # all; the first round at or above it builds the filter from the seen
    # table, and every later round ORs in its admitted keys. Exactness
    # never depends on it (e2e-tested identical across engagement, resume
    # and recrawl). Set it above any seen size to keep the prefilter off.
    bloom_filter_min_seen: int = 1_000_000
    # Filter size: 2^23 bits hold ~1M keys at 8 bits/key — exactly the
    # default crossover. At k=7 the false-positive rate is ~2% at 1M keys
    # and ~23% at 2M, so scale it with the expected seen size.
    bloom_bits: int = 1 << 23
    # Bloom shard count B: shard = url_hash mod B, one file per shard. At
    # 10^10 URLs the ~12 GB bitmap ships as B slices co-partitioned with
    # the seen table's bucket(url_hash) layout so each executor loads only
    # its buckets' shards; locally the same addressing runs with all
    # shards resident.
    bloom_shards: int = 8
    # Local-variant politeness (CrawlerBolt.java:442-444 intent): hosts
    # whose effective robots block is agent-specific but has no explicit
    # Crawl-delay default to 1 fetch per virtual second = per-round cap 1
    # (politeness.select_per_host docstring has the mapping argument).
    # Off = the distributed/no-default semantics
    # (DistributedCrawlerBolt.java:441-446).
    default_delay_1: bool = False
    # Literal priority host classes (host, priority) — URLFrontier.java:32-39
    # hard-codes P1/P2 sets; politeness.REFERENCE_PRIORITY_HOSTS replays them
    # exactly. Min-merged with the seeds-derived classes at init.
    priority_hosts: tuple = ()
    filters: FilterConfig = field(default_factory=FilterConfig)
    agent: str = robots.USER_AGENT


# ---------------------------------------------------------------------------


def attach_rank(
    d: DataFrame, offsets: dict[int, int], order_cols: list[str],
    col: str = "seq", base: int = 0,
) -> DataFrame:
    """Rank rows of a partition-id-tagged frame WITHOUT a global window:
    ``col`` = base + offsets[_pid] + row_number within _pid by order_cols.

    ``d`` must carry ``_pid`` (spark_partition_id of a range partitioning on
    order_cols) and ``offsets`` the cumulative row counts of the preceding
    partitions. The window partitions by _pid — never an empty partitionBy,
    so no stage funnels the frame through one task (plan-guarded in
    tests/test_plans.py). Drops _pid.

    Codegen-cache note: ``base`` is folded INTO the map values (driver-side
    arithmetic), never emitted as a scalar literal. Scalar int/long literals
    are inlined into generated Java, so a round-varying base would force a
    Janino recompile of this stage every round; the literal map instead
    constant-folds to a complex-type Literal that codegen passes by
    reference — same generated source every round, varying data (measured:
    the round-varying-literal recompiles were 20-25% of small-round wall).
    Every _pid present in ``d`` has an offsets entry by construction (the
    offsets come from counting d itself), so the lit(0) fallback only
    matters for the empty-frame case where no seq value materializes."""
    if offsets:
        kv = []
        for pid, ofs in offsets.items():
            kv.extend([F.lit(pid), F.lit(base + ofs)])
        off = F.coalesce(F.create_map(*kv)[F.col("_pid")], F.lit(0))
    else:
        off = F.lit(0)
    w = W.partitionBy("_pid").orderBy(*order_cols)
    return d.withColumn(
        col, (off + F.row_number().over(w)).cast("long")
    ).drop("_pid")


def round_params(spark: SparkSession, round_no: int) -> DataFrame:
    """One-row (p_round int) frame carrying this round's number as DATA.

    Scalar int literals are inlined into whole-stage-generated Java, so a
    plan embedding ``F.lit(round_no)`` recompiles (Janino) every round —
    measured at ~185 compiles x ~6.5 ms = 20-25% of every small round.
    Joining the scalar in as a broadcast column keeps the generated source
    byte-identical across rounds (codegen cache hits); only the broadcast
    DATA varies. bench/profile_round.py reports compiles/round.

    Built via ``spark.range`` rather than ``createDataFrame``: the latter
    parallelizes a PYTHON-pickled row over default-parallelism slices, so
    its broadcast build ran 32 tasks each paying a ~55 ms Python-worker
    round-trip with zero input — measured at ~1.7 s of executor time at
    the head of EVERY round (round-5 stage census, the single largest
    anonymous stage). range() is pure JVM, one task, no Python anywhere;
    the round number rides as range data (start=round_no), never as a
    codegen literal in the data-plane stages."""
    return spark.range(round_no, round_no + 1).select(
        F.col("id").cast("int").alias("p_round")
    )


def with_round(df: DataFrame, params: DataFrame) -> DataFrame:
    """Attach the params row to every row of df via a constant-key
    BROADCAST HASH join (1-row build side). A crossJoin would plan as
    BroadcastNestedLoopJoin, which is not whole-stage-codegen'd and would
    split the fused data-plane stage; the constant-key BHJ stays inside
    the codegen span and preserves the stream side's partitioning."""
    return (
        df.withColumn("_one", F.lit(1))
        .join(F.broadcast(params.withColumn("_one", F.lit(1))), "_one")
        .drop("_one")
    )


def dense_seq(
    df: DataFrame, order_cols: list[str], base: int,
    size_bound: int | None = None, scratch: list | None = None,
) -> tuple[DataFrame, int]:
    """Add ``seq`` = base + global dense rank of (order_cols) — scale-safe.
    Returns (df_with_seq, total_rows): the total falls out of the offset
    computation, so callers never need a separate count() job.

    A plain ``row_number() OVER (ORDER BY ...)`` funnels ALL rows through one
    partition. Instead: range-repartition on the key (ordered, disjoint
    ranges), rank within each partition, then shift by the cumulative counts
    of the preceding partitions (a tiny driver-side prefix sum). The result
    is identical to the global rank for any partitioning, so sampling
    nondeterminism in repartitionByRange cannot affect values.

    ``size_bound`` — an upper bound on len(df) if the caller knows one.
    Small batches collapse to ONE range partition: RangePartitioner skips
    its sampling pass for a single partition, saving a job; the result is
    identical (the prefix sum is trivially 0). The threshold is a few
    task-sized batches, NOT "fits in memory": a 100k-row collapse would
    make the rank a serial one-task sort — measurable Amdahl loss on the
    4N leg of the scaling bench at wide-web round sizes.
    """
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    if size_bound is not None and size_bound <= 16_384:
        n = 1
    d = df.repartitionByRange(n, *[F.col(c) for c in order_cols]).withColumn(
        "_pid", F.spark_partition_id()
    )
    d = _track(
        scratch, d.localCheckpoint(eager=True)
    )  # pin partitioning between the 2 jobs
    counts = {
        r["_pid"]: r["cnt"]
        for r in d.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    # offsets as a literal map expression — codegen'd, no Python per row
    return attach_rank(d, offsets, order_cols, col="seq", base=base), acc


def _empty(spark: SparkSession, schema) -> DataFrame:
    return spark.createDataFrame([], schema)


def _ckpt_jrdd(df: DataFrame):
    """The JVM RDD holding a localCheckpoint'ed frame's blocks, or None if
    the plan shape is unexpected (then the periodic-GC ContextCleaner stays
    the fallback). DataFrame.unpersist() cannot free these — checkpoint
    blocks belong to the RDD, not the SQL cache manager."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            return plan.rdd()
    except Exception:
        pass
    return None


def _track(scratch: list | None, df: DataFrame) -> DataFrame:
    if scratch is not None:
        jr = _ckpt_jrdd(df)
        if jr is not None:
            scratch.append(jr)
    return df


def _free_scratch(scratch: list) -> None:
    """Drop every round-scoped checkpoint NOW (async). Without this the
    blocks — GBs of extracted text per round at 10^6-URL rounds — wait for
    the 45s periodic GC + ContextCleaner, long enough for the block manager
    to fill and evict the cached web under high-parallelism execution-memory
    pressure (the measured 8-core round-over-round degradation)."""
    for jr in scratch:
        try:
            jr.unpersist(False)
        except Exception:
            pass
    scratch.clear()


class _Ticker:
    """Per-phase wall timings (SPARKCRAWL_TIMING=1). Level 2 additionally
    FORCES materialization at each intra-chain checkpoint (eager instead of
    lazy) so the sub-phase walls are attributable — profiling only, the
    extra barriers cost pipeline overlap."""

    def __init__(self):
        lvl = os.environ.get("SPARKCRAWL_TIMING", "0")
        self.on = lvl in ("1", "2")
        self.deep = lvl == "2"
        self.t = time.time()
        self.phases: dict[str, float] = {}
        self.scratch: list | None = None  # round-scoped checkpoint RDDs

    def __call__(self, label: str) -> None:
        now = time.time()
        self.phases[label] = round(now - self.t, 2)
        self.t = now

    def barrier(self, label: str, df: DataFrame) -> DataFrame:
        """At level 2: eager-checkpoint df and record the wall. Otherwise
        return the lazy checkpoint unchanged. Either way the checkpoint is
        tracked for end-of-round release (_free_scratch)."""
        out = df.localCheckpoint(eager=self.deep)
        if self.deep:
            self(label)
        return _track(self.scratch, out)


# ---------------------------------------------------------------------------


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store: SnapshotStore,
        pages: DataFrame,
        page_meta: DataFrame | None,
        robots_df: DataFrame | None,
        cfg: CrawlConfig = CrawlConfig(),
    ):
        self.spark = spark
        self.store = store
        self.cfg = cfg
        self.pages = pages
        self.page_meta = page_meta if page_meta is not None else _empty(
            spark, S.PAGE_META
        )
        # Pre-shape the web for the per-round fetch join: rename the join
        # key BEFORE partition+cache so the cached plan's hash partitioning
        # (url_norm, N) satisfies the join's required distribution — each
        # round then exchanges only the (small) selected-frontier side and
        # the html payload NEVER re-shuffles. This is the local analogue of
        # an Iceberg storage-bucketed join on bucket(url).
        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        self._max_shuffle = n_shuffle  # adaptive_shuffle ceiling
        self._pg = self.pages.select(
            F.col("url").alias("url_norm"),
            "warc_ts", "html",
            F.col("lang").alias("page_lang"),
        )
        self._mt = self.page_meta.select(
            F.col("url").alias("url_norm"),
            "http_status", "redirect_to", "content_type", "content_length",
        )
        # ONE web frame: pages ⟗ meta, joined ONCE at init and cached (both
        # unique on url_norm, so sel⟕pages⟕meta ≡ sel⟕(pages⟗meta)
        # row-for-row). Halves the per-round web scans — separate frames
        # paid two full cached scans per round (pages prune + meta prune).
        # The cluster analogue is the pages Iceberg table carrying its
        # protocol sidecar columns, written co-bucketed at ingest. Without
        # the cache the one-time join would instead replay (and shuffle
        # html) every round, so the uncached path keeps per-side pruning
        # (_web = None branch in _run_round).
        self._cache_width = n_shuffle
        self._web = None
        if cfg.cache_web and cfg.cache_rows_per_partition > 0:
            # size the cache to the web, not the session (docstring at
            # cfg.cache_rows_per_partition). The count is one metadata-
            # cheap scan, paid once at init.
            n_pages = self._pg.count()
            self._cache_width = min(
                n_shuffle,
                max(1, -(-int(n_pages) // cfg.cache_rows_per_partition)),
            )
        if cfg.cache_web:
            # pin the joined web in memory (cluster analogue: Iceberg
            # bucket pruning + OS page cache keep the hot fetch working
            # set off cold storage). The cache plan is captured with AQE
            # OFF: an AdaptiveSparkPlan inside InMemoryRelation hides the
            # final hashpartitioning(url_norm) from outer queries, which
            # would then re-Exchange the html payload on every bucketed
            # fetch join — the exact shuffle this cache exists to prevent
            # (plan-guarded in test_plan_fetch_join).
            aqe = spark.conf.get("spark.sql.adaptive.enabled")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            try:
                self._web = (
                    self._pg.join(self._mt, "url_norm", "full")
                    .repartition(self._cache_width, "url_norm")
                    .cache()
                )
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", aqe)
        rb = robots_df if robots_df is not None else _empty(spark, S.ROBOTS)
        # effective robots block per host — tiny, computed once, broadcast.
        self.host_rules = robots.effective_rules(
            rb, cfg.agent, with_agent_flag=True
        ).cache()
        self.host_rules.count()
        self._bloom: seenmod.BloomFileState | None = None

    # ---- the seen prefilter, built on first engagement ----

    def bloom(self) -> seenmod.BloomFileState:
        """The seen prefilter (cfg.bloom_filter_min_seen). Opens the filter
        persisted under ``<store>/bloom`` when the snapshot meta carries the
        completeness marker (BLOOM_META: only a round that ORed its admitted
        keys in commits it); otherwise rebuilds it from the seen table. A
        filter the shard merges made a superset of the committed seen set
        (a round killed before its commit) is safe: extra bits only send
        candidates to the exact anti-join."""
        if self._bloom is None:
            path = os.path.join(self.store.root, "bloom")
            mark = self.store.meta.get(BLOOM_META)
            if mark and os.path.isdir(path):
                self._bloom = seenmod.BloomFileState.load(
                    path, int(mark["bits"]), int(mark["shards"])
                )
            else:
                self._bloom = seenmod.BloomFileState.create(
                    path, self.cfg.bloom_bits, self.cfg.bloom_shards
                )
                self._bloom.add_hashes_df(
                    self.store.read(self.spark, "seen", S.SEEN)
                )
        return self._bloom

    # ---- bootstrap ----

    def _seed_frames(
        self, seeds: DataFrame
    ) -> tuple[DataFrame, DataFrame, DataFrame]:
        """Seeds -> (frontier, seen, host_priority) round-0 frames.

        Reference: seeds enqueue directly, bypassing filters
        (XPathCrawler.java:59-100); priority classes attach to the seed's
        host (URLFrontier.java:32-39 hard-codes host sets; we derive them
        from the seeds table per FIXTURES.md §3).
        """
        s = seeds.withColumn(
            "url_norm", canonicalize_udf(F.lit(None), F.col("url"))
        ).filter(F.col("url_norm").isNotNull())
        s = with_url_parts(s).withColumn("depth", F.lit(0))
        # dedup keep-first: per url_norm the lexicographically smallest raw
        # url; seed seq = rank of raw url (deterministic, partition-free)
        w = W.partitionBy("url_norm").orderBy("url")
        s = s.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") == 1
        ).drop("_rn")
        s, _ = dense_seq(s, ["url"], base=0)
        frontier = s.select(
            "url_norm", "host", "path", "depth", "seq",
            F.lit(0).alias("round_added"),
        )
        seen = s.select(
            "url_norm",
            F.xxhash64("url_norm").alias("url_hash"),
            F.lit(0).alias("round_added"),
        )
        host_priority = s.groupBy("host").agg(
            F.min("priority").alias("priority")
        )
        if self.cfg.priority_hosts:
            lit = self.spark.createDataFrame(
                list(self.cfg.priority_hosts), "host string, priority int"
            )
            host_priority = host_priority.unionByName(lit).groupBy(
                "host"
            ).agg(F.min("priority").alias("priority"))
        return frontier, seen, host_priority

    def init_frontier(self, seeds: DataFrame) -> None:
        """Seeds -> round-0 frontier + seen + host_priority (atomic commit)."""
        if self.store.committed_round >= 0:
            return  # resuming — state already committed
        frontier, seen, host_priority = self._seed_frames(seeds)
        seen = seen.cache()
        n_seeds = seen.count()
        self.store.stage_overwrite("frontier", frontier)
        self.store.stage_drop("frontier_consumed")
        self.store.stage_append("seen", seen)
        self.store.stage_overwrite("host_priority", host_priority)
        self.store.stage_overwrite("host_clock", _empty(self.spark, S.HOST_CLOCK))
        seen.unpersist()
        self.store.commit(
            {"round": 0, "n_crawled": 0, "n_frontier": n_seeds,
             "n_seen": n_seeds}
        )

    def init_recrawl(self, seeds: DataFrame) -> None:
        """Begin an incremental re-crawl pass over a completed store: the
        previous pass's stored docs become the ``doc_cache`` (the
        If-Modified-Since clock), and the frontier/seen/clock/content-seen
        state resets from the seeds for a fresh traversal.

        Reference semantics (CrawlerBolt.java:460-485): when the DB already
        holds a doc for a url, the HEAD carries If-Modified-Since =
        doc.getLastChecked(); a 304 reuses the cached doc — emitted with
        toStore="false", so links are re-extracted but the doc is NOT
        re-stored (DocumentParserBolt.java:162-166) and the host's
        lastCrawled still updates (CrawlerBolt.java:479). We model the
        INTENDED 304 semantics ("retrieve cached document and extract
        links", CrawlerBolt.java:476 comment): the not_modified row's links
        are followed and content_seen is untouched. (In the literal
        reference the re-emitted cached doc would die at the persistent
        content-dedup get-or-put, DocumentParserBolt.java:155-159 — dead-
        path plumbing we do not reproduce; documented in COVERAGE.md.)

        Multi-pass: the new cache = this pass's crawled docs + prior cache
        entries that were NOT re-fetched (the reference DB keeps old DocVals
        unless addDocInfo overwrites them)."""
        assert self.store.committed_round >= 0, \
            "init_recrawl needs a completed prior pass"
        spark, store = self.spark, self.store
        crawled = store.read(spark, "crawled", S.CRAWLED)
        cache = crawled.select(
            "url_norm", F.col("warc_ts").alias("cached_ts"),
            "content_hash", "text", "lang",
        )
        if store.exists("doc_cache"):
            old = store.read(spark, "doc_cache", S.DOC_CACHE)
            cache = cache.unionByName(
                old.join(crawled.select("url_norm"), "url_norm", "left_anti")
            )
        frontier, seen, host_priority = self._seed_frames(seeds)
        seen = seen.cache()
        n_seeds = seen.count()
        store.stage_overwrite("doc_cache", cache)
        store.stage_overwrite("frontier", frontier)
        store.stage_drop("frontier_consumed")
        store.stage_overwrite("seen", seen)
        store.stage_overwrite("host_priority", host_priority)
        store.stage_overwrite("host_clock", _empty(spark, S.HOST_CLOCK))
        store.stage_overwrite("content_seen", _empty(spark, S.CONTENT_SEEN))
        store.stage_overwrite("crawled", _empty(spark, S.CRAWLED))
        store.stage_overwrite("trace", _empty(spark, S.TRACE))
        store.stage_overwrite("metrics", _empty(spark, S.METRICS))
        store.stage_overwrite("lineage", _empty(spark, S.LINEAGE))
        seen.unpersist()
        # the reset seen table invalidates any filter: the pass's first
        # engaged round rebuilds it (its meta carries no BLOOM_META)
        self._bloom = None
        self.store.commit(
            {"round": 0, "pass": int(self.store.meta.get("pass", 1)) + 1,
             "n_crawled": 0, "n_frontier": n_seeds, "n_seen": n_seeds}
        )

    # ---- one round ----

    def run_round(self, round_no: int) -> dict:
        """Execute round ``round_no`` (1-based) and commit atomically.
        Returns the metrics dict (counters for the driver loop).

        With cfg.adaptive_shuffle, shuffle-partition count is sized to the
        frontier for the duration of the round (spill-aware sizing; the
        session's configured value is the ceiling and is restored after)."""
        if not self.cfg.adaptive_shuffle:
            return self._run_round(round_no)
        # ceiling + restore value = the CURRENT session conf (not the
        # construction-time snapshot), so a caller adjusting the conf
        # between rounds is honored, never clobbered
        cur = self.spark.conf.get("spark.sql.shuffle.partitions")
        ceiling = int(cur) if str(cur).isdigit() else self._max_shuffle
        est = self.store.meta.get("n_frontier")
        tgt = self._shuffle_target(est, ceiling)
        self.spark.conf.set("spark.sql.shuffle.partitions", str(tgt))
        try:
            return self._run_round(round_no)
        finally:
            self.spark.conf.set("spark.sql.shuffle.partitions", str(cur))

    def _use_bucketed_fetch(self, frontier_est) -> bool:
        """Bucketed (shuffled-hash) fetch prune iff: the web is cached, the
        frontier estimate clears cfg.bucketed_fetch_min (a selection that
        big would make the broadcast a serial driver round-trip), AND this
        round's shuffle width equals the cached web's partition width so
        the web side reuses its partitioning with NO exchange
        (plan-guarded). Without the cache there is no partitioning to
        reuse — a shuffled prune would exchange the html payload."""
        return (
            self.cfg.cache_web
            and frontier_est is not None
            and int(frontier_est) >= self.cfg.bucketed_fetch_min
            and int(self.spark.conf.get("spark.sql.shuffle.partitions", "0"))
            == self._cache_width
        )

    def _shuffle_target(self, est, ceiling: int | None = None) -> int:
        """Spill-aware per-round shuffle width: clamp(ceil(est / rows_per),
        1, ceiling). est=None (externally seeded / legacy store) keeps full
        width rather than guessing small. The single source of truth for
        the sizing formula (asserted directly by test_engine_e2e)."""
        if ceiling is None:
            ceiling = self._max_shuffle
        if est is None:
            return ceiling
        per = self.cfg.shuffle_rows_per_partition
        return min(ceiling, max(1, -(-max(int(est), 1) // per)))

    def _run_round(self, round_no: int) -> dict:
        t0 = time.time()
        tk = _Ticker()
        scratch: list = []  # this round's checkpoint RDDs, freed at commit
        tk.scratch = scratch
        spark, cfg, store = self.spark, self.cfg, self.store
        # Round scalars ride a broadcast one-row column (p_round), never a
        # scalar literal: inlined int literals defeat the whole-stage-codegen
        # cache, recompiling ~185 stages every round (see round_params).
        frontier = with_round(
            self._read_frontier(), round_params(spark, round_no)
        )
        seen = store.read(spark, "seen", S.SEEN)
        content_seen = store.read(spark, "content_seen", S.CONTENT_SEEN)
        host_clock = store.read(spark, "host_clock", S.HOST_CLOCK)
        host_priority = store.read(
            spark, "host_priority",
            "host string, priority int",
        ) if store.exists("host_priority") else _empty(
            spark, "host string, priority int"
        )

        # 1-2. politeness: delay gate, then per-host run-cap selection
        prev_meta = dict(store.meta)
        # host-state join strategy for THIS round (see
        # cfg.broadcast_min_frontier): broadcast only when the frontier is
        # big enough to amortize the per-round broadcast-build jobs
        fe = prev_meta.get("n_frontier")
        host_bc = fe is not None and int(fe) >= cfg.broadcast_min_frontier
        eligible = politeness.eligible_hosts_filter(
            frontier, self.host_rules, host_clock, round_no,
            hint_broadcast=host_bc,
            round_col="p_round",
        )
        # localCheckpoint (not cache): materializes AND truncates lineage, so
        # every downstream plan this round is analyzed from a memory scan
        # instead of re-analyzing the whole politeness/join DAG — Catalyst
        # analysis+codegen over deep lineage was the dominant per-round
        # fixed cost (measured ~5s/round before truncation).
        dd_hosts = None
        if cfg.default_delay_1:
            # local-variant 1s default -> per-round cap 1 for hosts with an
            # agent-specific block and no explicit delay (select_per_host
            # docstring has the full mapping argument)
            dd_hosts = self.host_rules.filter(
                F.col("agent_specific") & F.col("crawl_delay").isNull()
            ).select("host")
        selected = politeness.select_per_host(
            eligible, host_priority,
            frontier_size=int(prev_meta.get("n_frontier", 0)) or None,
            hint_broadcast=host_bc,
            default_delay_hosts=dd_hosts,
        )
        selected = tk.barrier("select", selected)

        # 3. robots disallow (broadcast join + JVM exists())
        sel = robots.join_rules(
            selected, self.host_rules,
            hint_broadcast=host_bc,
        )
        sel = sel.withColumn("_denied", robots.denied_predicate()).drop(
            "disallow_prefixes", "crawl_delay", "agent_specific"
        )

        # 4. "fetch": join the synthetic web (pages ⟗ protocol sidecar,
        # pre-joined at init). pages.url is canonical, so this is an
        # equi-join on url_norm. The html payload must never shuffle or
        # sort wholesale: a KEY-ONLY semi-join prunes the cached web scan
        # to the selected rows (one streaming pass over the cache, no
        # sort), then the outer join runs on the pruned (≤ selection-sized)
        # side. The key side ships two ways (cfg.bucketed_fetch_min):
        # broadcast for small rounds, or a shuffled-hash semi against the
        # cache's hash(url_norm) partitioning for big rounds — exchanging
        # only the narrow key column, never collecting 10^6 keys through
        # the driver. At 10^10 scale the latter IS the Iceberg
        # storage-bucketed join on bucket(url) (ARCHITECTURE.md §4).
        bucketed = self._use_bucketed_fetch(prev_meta.get("n_frontier"))
        if bucketed:
            # web side: cached HashPartitioning(url_norm, cache_width);
            # round width == cache width (gate), so only sel_keys
            # exchanges and the SHJ builds on the key side (semi-join
            # build side is always the right), streaming the web unsorted.
            sel_keys = sel.select("url_norm").hint("shuffle_hash")
        else:
            sel_keys = F.broadcast(sel.select("url_norm"))
        if self._web is not None:
            web_hits = self._web.join(sel_keys, "url_norm", "left_semi")
        else:
            # uncached: prune each source BEFORE the pages⟗meta join so
            # html reaches the semi-join straight off the parquet scan —
            # the outer join then runs on two selection-sized sides
            web_hits = self._pg.join(sel_keys, "url_norm", "left_semi").join(
                self._mt.join(sel_keys, "url_norm", "left_semi"),
                "url_norm", "full",
            )
        if bucketed:
            # Big rounds: the outer join must NOT plan as sort-merge — SMJ
            # would Tungsten-sort the html-bearing pruned side (GBs at
            # 10^6-URL rounds) plus the sel side every round. shuffle_hash
            # builds a per-partition map on the pruned (≤ selection-sized)
            # side and streams sel through it: zero sorts, and the web side
            # again reuses the cache partitioning in place. Small rounds
            # keep no hint: AQE sees a tiny web_hits and picks broadcast.
            web_hits = web_hits.hint("shuffle_hash")
        fx = sel.join(web_hits, "url_norm", "left")
        # incremental re-crawl: join the previous pass's doc cache (the
        # If-Modified-Since clock — CrawlerBolt.java:473-475). Same key-only
        # prune as the pages join; at 10^10 scale the cache is the same
        # Iceberg table family as `crawled`, bucketed on bucket(url), so
        # this is one more co-partitioned storage-bucketed join.
        has_cache = store.exists("doc_cache")
        if has_cache:
            dc = store.read(spark, "doc_cache", S.DOC_CACHE).select(
                "url_norm", "cached_ts"
            )
            fx = fx.join(dc.join(sel_keys, "url_norm", "left_semi"),
                         "url_norm", "left")
        has_page = F.col("html").isNotNull() | F.col("http_status").isNotNull()
        status = F.coalesce(F.col("http_status"), F.lit(200))
        ctype = F.coalesce(F.col("content_type"), F.lit("text/html"))
        clen = F.coalesce(
            F.col("content_length"), F.length(F.col("html")), F.lit(0)
        )
        is_html = ctype.contains("text/html") | F.col("url_norm").endswith(
            ".html"
        )  # F6, CrawlerBolt.java:297-300
        pre_action = (
            F.when(F.col("_denied"), F.lit("robots_denied"))
            .when(~has_page, F.lit("not_found"))
            .when((status >= 300) & (status < 400), F.lit("redirect"))
            .when(status == 404, F.lit("not_found"))
            .when(status >= 400, F.lit("server_error"))
        )
        if has_cache:
            # 304: server would serve content (2xx) AND the page is not
            # newer than the cached copy. The reference checks 304 FIRST on
            # the HEAD response (CrawlerBolt.java:476-485, before type/size)
            # — a conditional HEAD on a 3xx/4xx/5xx url answers with that
            # status, never 304, so placing the branch after the status
            # branches is order-equivalent; it correctly precedes the
            # client-side type/size checks.
            not_mod = (
                F.col("cached_ts").isNotNull()
                & F.col("warc_ts").isNotNull()
                & (F.col("warc_ts") <= F.col("cached_ts"))
            )
            pre_action = pre_action.when(not_mod, F.lit("not_modified"))
        pre_action = (
            pre_action
            .when(~is_html, F.lit("bad_type"))
            .when(clen > cfg.max_doc_size, F.lit("too_big"))
            .otherwise(F.lit("get"))
        )
        fx = fx.withColumn("_pre", pre_action)
        # 5. Extraction rides the SAME stage as the fetch join (the Arrow
        # batch streams straight off the join output — no barrier between
        # them), with html MASKED to the fetchable rows so the round
        # checkpoint stores extracted text, never the html payload.
        # Checkpointing html was pure waste: extraction dropped it one
        # stage later, but every round paid a payload-sized block-manager
        # write (the memory-bandwidth cost that capped loop scaling).
        # Extraction still runs on the selection's existing partitioning:
        # after the per-host cap every host contributes <= 15 rows, so
        # host-hash partitions are uniform and a mega-host CANNOT skew this
        # stage; html never goes through an exchange. 304 rows ride the
        # same Arrow pass: their content is unchanged by definition, so
        # extracting from the current page = re-extracting the cached doc
        # (the toStore=false re-emit, DocumentParserBolt.java:162-225).
        fetch_mask = (
            F.col("_pre").isin("get", "not_modified")
            if has_cache else (F.col("_pre") == "get")
        )
        fx = fx.withColumn(
            "content_hash",
            F.when(
                fetch_mask, F.xxhash64(F.coalesce(F.col("html"), F.lit(b"")))
            ),
        ).withColumn("html", F.when(fetch_mask, F.col("html")))
        fx = with_extracted(fx).drop(
            "html", "page_lang", "_denied",
            "cached_ts",  # consumed by _pre; narrow (no-op without cache)
        )
        fx = tk.barrier("fetch+extract", fx)

        # content dedup + lang filter on GETs
        fetchable = fx.filter(fetch_mask)
        gets = (
            fetchable.filter(F.col("_pre") == "get")
            if has_cache else fetchable
        )
        dup_w = W.partitionBy("content_hash").orderBy("seq")
        gets = gets.withColumn("_dup_rn", F.row_number().over(dup_w))
        gets = gets.join(
            content_seen.select("content_hash").withColumn(
                "_in_cs", F.lit(True)
            ),
            "content_hash",
            "left",
        )
        lang_ok = (F.col("ex_lang") == "") | (
            F.col("ex_lang") == cfg.filters.lang_prefix
        )  # P4: <html lang> attr check, DocumentParserBolt.java:182-194
        action = (
            F.when(
                F.col("_in_cs").isNotNull() | (F.col("_dup_rn") > 1),
                F.lit("dup_content"),
            )
            .when(~lang_ok, F.lit("not_html_lang"))
            .otherwise(F.lit("fetched"))
        )
        gets = gets.withColumn("action", action)
        if has_cache:
            # 304 rows skip dedup/lang (they passed both when first stored;
            # content_seen stays untouched — the cached doc is not re-put)
            nm = (
                fetchable.filter(F.col("_pre") == "not_modified")
                .withColumn("_dup_rn", F.lit(None).cast("int"))
                .withColumn("_in_cs", F.lit(None).cast("boolean"))
                .withColumn("action", F.lit("not_modified"))
            )
            got = tk.barrier("dedup+lang", gets.unionByName(nm))
        else:
            got = tk.barrier("dedup+lang", gets)

        fetched = got.filter(F.col("action") == "fetched")
        # links follow from stored docs AND 304-reused cached docs
        linkers = got.filter(F.col("action").isin("fetched", "not_modified"))

        # 6. candidate links: outlinks of stored pages + redirect targets
        links = linkers.select(
            "p_round",
            F.col("seq").alias("parent_seq"),
            F.col("url_norm").alias("base_url"),
            F.col("depth").alias("parent_depth"),
            F.posexplode_outer("ex_links").alias("link_idx", "href"),
        ).filter(F.col("href").isNotNull())
        redirects = fx.filter(F.col("_pre") == "redirect").select(
            "p_round",
            F.col("seq").alias("parent_seq"),
            F.col("url_norm").alias("base_url"),
            F.col("depth").alias("parent_depth"),
            F.lit(-1).alias("link_idx"),
            F.col("redirect_to").alias("href"),
        ).filter(F.col("href").isNotNull())
        cand = links.unionByName(redirects)

        # 7. canonicalize + admission filters (D1-D3) + within-batch dedup
        cand = cand.withColumn(
            "url_norm", canonicalize_udf(F.col("base_url"), F.col("href"))
        ).filter(F.col("url_norm").isNotNull())
        cand = with_url_parts(cand)
        cand = cand.filter(admission_predicate(cfg.filters))
        first_w = W.partitionBy("url_norm").orderBy("parent_seq", "link_idx")
        cand = (
            cand.withColumn("_rn", F.row_number().over(first_w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

        # 8. seen anti-join (Bloom-prefiltered past the crossover) +
        # deterministic seq
        cand = tk.barrier("links+canon", cand)
        # The anti-join itself sits INSIDE the round's materialization
        # barrier and is pinned once: dense_seq's range-sampling pass and
        # rank exchange would otherwise each re-execute the prefilter
        # + exact anti-join against the (ever-growing) seen table — the
        # dominant re-computed slice of the per-round fixed cost.
        # The prefilter engages only past the seen-size crossover (see
        # cfg.bloom_filter_min_seen); below it the round runs the pure
        # exact anti-join and no filter work at all. The first engaged
        # round builds the filter from seen (self.bloom()).
        bloom_on = (
            int(prev_meta.get("n_seen", 0)) >= cfg.bloom_filter_min_seen
        )
        if bloom_on:
            new_rows = seenmod.anti_join_with_bloom(cand, seen, self.bloom())
        else:
            new_rows = seenmod.anti_join_seen(cand, seen, use_bloom=False)
        new_rows = _track(scratch, new_rows.localCheckpoint(eager=False))
        # count() doubles as the materialization barrier for the whole round
        # chain (politeness select -> fetch join -> extract -> dedup ->
        # candidates -> seen anti-join): every downstream job — dense_seq's
        # sampling pass, the counters, the stage writes — reads the pinned
        # checkpoints.
        n_new = new_rows.count()
        tk("materialize")

        # ---- counters: ONE pass over the per-row action column (branch mix
        # of non-GET rows + extract outcomes) instead of per-frame collects;
        # the same frame is the trace that gets written below. The frame is
        # RANGE-partitioned on seq and the counters group by (_pid, action),
        # so the one collect yields both the action totals AND the per-
        # partition prefix offsets that turn the within-partition rank into
        # the global trace ``ord`` — no single-partition window anywhere
        # (attach_rank; the round's one-task funnel this replaces was the
        # hot-loop scale-killer flagged in round 1). Submitted concurrently
        # with the anti-join/seq jobs — everything both read (fx/got
        # checkpoints) was materialized by the count above ----
        n_tr = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        traced = (
            fx.filter(~F.col("_pre").isin("get", "not_modified"))
            .select("p_round", "seq", "url_norm", "host",
                    F.col("_pre").alias("action"))
            .unionByName(
                got.select("p_round", "seq", "url_norm", "host", "action")
            )
            .repartitionByRange(n_tr, F.col("seq"))
            .withColumn("_pid", F.spark_partition_id())
        ).localCheckpoint(eager=False)
        _track(scratch, traced)
        # ---- frames that read only the pinned got/fx/selected checkpoints,
        # defined up front so their stage writes overlap the counter/seq
        # jobs below (round-5 census: every write previously waited for the
        # counters, paying two sequential job-latency windows per round) ----
        # content_seen gains the hash of every dedup WINNER not already there
        # (the reference's get-or-put inserts on first sight even when the
        # lang check later drops the doc — DocumentParserBolt.java:155-194).
        winners = got.filter(
            (F.col("_dup_rn") == 1) & F.col("_in_cs").isNull()
        )
        # host clock: a GET happened for actions {fetched,dup_content,
        # not_html_lang} (lastCrawled set at GET — XPathCrawler.java:162-164)
        # and a 304 HEAD also updates it (CrawlerBolt.java:479)
        got_hosts = got.select(
            "host", F.col("p_round").alias("last_round")
        ).distinct()  # p_round is constant, so this is distinct-by-host
        new_clock = host_clock.join(
            got_hosts.select("host"), "host", "left_anti"
        ).unionByName(got_hosts)
        lineage = (
            got.groupBy(
                F.spark_partition_id().alias("partition_id"),
                F.col("p_round").alias("round"),  # constant per round
            )
            .agg(F.count("*").alias("n_rows"))
            .select("round", "partition_id", "n_rows")
        )
        with ThreadPoolExecutor(max_workers=16) as cex:
            counts_f = cex.submit(
                lambda: traced.groupBy("_pid", "action")
                .agg(F.count("*").alias("n"))
                .collect()
            )
            # candidate-link count for the metrics row: a block count over
            # the pinned cand checkpoint, concurrent with the rank jobs
            n_links_f = cex.submit(cand.count)
            # got-dependent stage writes, concurrent with the counter/seq
            # jobs (everything they read is already materialized). A round
            # that turns out all-deferred aborts these stages below
            # (store.abort()), so an empty round's committed snapshot is
            # identical to the old wait-then-write path.
            write_futs = [
                cex.submit(
                    store.stage_append, "content_seen",
                    winners.select(
                        "content_hash", F.col("url_norm").alias("first_url")
                    ),
                ),
                cex.submit(
                    store.stage_append, "crawled",
                    fetched.select(
                        "url_norm", "host", F.col("p_round").alias("round"),
                        "content_hash", F.col("ex_text").alias("text"),
                        F.col("ex_lang").alias("lang"), "warc_ts",
                    ),
                ),
                cex.submit(store.stage_overwrite, "host_clock", new_clock),
                cex.submit(store.stage_append, "lineage", lineage),
            ]
            # O(round) frontier maintenance: append the selected keys as
            # tombstones (merge-on-read); admitted rows follow once
            # dense_seq assigns their seq. The base is never rewritten.
            write_futs.append(
                cex.submit(
                    store.stage_append, "frontier_consumed",
                    selected.select("url_norm"),
                )
            )
            # dense_seq's offset prefix sum doubles as the admitted count —
            # no separate count() job. size_bound = the exact new-row count
            # from the barrier, so small rounds collapse to one partition.
            new_rows, n_admitted = dense_seq(
                new_rows, ["parent_seq", "link_idx"],
                base=round_no << ROUND_SHIFT, size_bound=n_new,
                scratch=scratch,
            )
            new_frontier_rows = new_rows.select(
                "url_norm", "host", "path",
                (F.col("parent_depth") + 1).alias("depth"),
                "seq", F.col("p_round").alias("round_added"),
            )
            new_seen = new_rows.select(
                "url_norm",
                F.xxhash64("url_norm").alias("url_hash"),
                F.col("p_round").alias("round_added"),
            )
            write_futs.append(
                cex.submit(store.stage_append, "frontier", new_frontier_rows)
            )
            write_futs.append(
                cex.submit(store.stage_append, "seen", new_seen)
            )
            if bloom_on:
                write_futs.append(
                    cex.submit(self._bloom.add_hashes_df, new_seen)
                )
            counts: dict[str, int] = {}
            pid_counts: dict[int, int] = {}
            for r in counts_f.result():
                counts[r["action"]] = counts.get(r["action"], 0) + r["n"]
                pid_counts[r["_pid"]] = pid_counts.get(r["_pid"], 0) + r["n"]
            tr_offsets, acc = {}, 0
            for pid in sorted(pid_counts):
                tr_offsets[pid] = acc
                acc += pid_counts[pid]
            # trace: every selected row gets exactly one action; ord =
            # global rank by seq, assembled partition-free from the range
            # partitioning + the prefix offsets the counters just paid for
            trace = attach_rank(
                traced, tr_offsets, ["seq"], col="ord"
            ).select(
                F.col("p_round").alias("round"),
                F.col("ord").cast("int").alias("ord"),
                "url_norm", "host", "action",
            )
            write_futs.append(
                cex.submit(store.stage_append, "trace", trace)
            )
            n_links = n_links_f.result()
            for f in write_futs:
                f.result()
        n_selected = sum(counts.values())
        tk("seen+seq+writes")
        if n_selected == 0:
            # all frontier rows delay-deferred (or frontier empty): discard
            # the staged (necessarily empty) writes and commit an empty
            # round so the virtual clock advances; the frontier table is
            # left untouched — byte-identical to the pre-overlap behavior.
            store.abort()
            store.stage_append_rows(
                "metrics",
                [(round_no, 0, 0, 0, 0, 0, 0, 0,
                  int((time.time() - t0) * 1000))],
                S.METRICS,
            )
            meta = dict(prev_meta)
            meta["round"] = round_no
            store.commit(self._mark_bloom(meta, bloom_on))
            _free_scratch(scratch)
            return {"n_selected": 0, "n_admitted": 0, "n_fetched": 0,
                    "n_frontier": int(meta.get("n_frontier", 0))}
        n_fetched = counts.get("fetched", 0)
        n_dup = counts.get("dup_content", 0)
        n_get = n_fetched + n_dup + counts.get("not_html_lang", 0)
        n_denied = counts.get("robots_denied", 0)

        wall_ms = int((time.time() - t0) * 1000)
        store.stage_append_rows(
            "metrics",
            [(round_no, n_selected, n_get, n_fetched, n_links,
              n_admitted, n_dup, n_denied, wall_ms)],
            S.METRICS,
        )
        n_frontier = (
            int(prev_meta.get("n_frontier", 0)) - n_selected + n_admitted
        )
        n_seen = int(prev_meta.get("n_seen", 0)) + n_admitted
        total = self._crawled_total() + n_fetched
        meta = {
            "round": round_no,
            "n_crawled": total,
            "n_frontier": n_frontier,
            "n_seen": n_seen,
            "n_frontier_consumed": (
                int(prev_meta.get("n_frontier_consumed", 0)) + n_selected
            ),
        }
        if "pass" in prev_meta:
            meta["pass"] = prev_meta["pass"]
        store.commit(self._mark_bloom(meta, bloom_on))
        _free_scratch(scratch)
        tk("commit")
        out = {
            "n_selected": n_selected, "n_fetched": n_fetched,
            "n_admitted": n_admitted, "n_frontier": n_frontier,
            "n_crawled_total": total, "wall_ms": wall_ms,
        }
        if tk.on:
            out["timings"] = tk.phases
        return out

    def _mark_bloom(self, meta: dict, bloom_on: bool) -> dict:
        """``meta`` with the filter's completeness marker iff this round
        engaged the filter (and so ORed its admitted keys in). A round
        that did not leaves the filter behind the seen table, so the
        next engagement must rebuild it (self.bloom())."""
        meta.pop(BLOOM_META, None)
        if bloom_on:
            meta[BLOOM_META] = {"bits": self._bloom.n_bits,
                                "shards": self._bloom.shards}
        return meta

    def _read_frontier(self) -> DataFrame:
        """The LIVE frontier: data dirs minus merge-on-read tombstones."""
        f = self.store.read(self.spark, "frontier", S.FRONTIER)
        if self.store.exists("frontier_consumed"):
            cons = self.store.read(
                self.spark, "frontier_consumed", S.FRONTIER_CONSUMED
            )
            f = f.join(cons, "url_norm", "left_anti")
        return f

    def _compact_frontier(self) -> None:
        """Fold frontier tombstones back into one base dir (Iceberg
        rewrite_position_delete_files + rewrite_data_files analogue) once
        the consumed set outweighs the live frontier. Until then every
        read pays ≤2× amplification; after, reads are one clean scan and
        the next compaction is a full consumed-growth away — amortized
        O(round size) per round. Own commit, meta otherwise unchanged, so
        resume/trace determinism is unaffected (content-identical)."""
        meta = dict(self.store.meta)
        n_cons = int(meta.get("n_frontier_consumed", 0))
        live = int(meta.get("n_frontier", 0))
        if n_cons < max(live, self.cfg.frontier_compact_min):
            return
        self.store.stage_overwrite("frontier", self._read_frontier())
        self.store.stage_drop("frontier_consumed")
        meta["n_frontier_consumed"] = 0
        self.store.commit(meta)

    def _crawled_total(self) -> int:
        return int(self.store.meta.get("n_crawled", 0))

    def _compact_tables(self, round_no: int) -> None:
        """Periodic table maintenance (Iceberg rewrite_data_files
        analogue): append-per-round tables accumulate one parquet dir per
        round, and every per-round read lists them all. Rewrites any table
        with many dirs into one, as its own commit with unchanged meta —
        content-identical, so resume/trace determinism is unaffected."""
        staged = False
        for name, schema in (
            ("seen", S.SEEN), ("content_seen", S.CONTENT_SEEN),
            ("crawled", S.CRAWLED), ("trace", S.TRACE),
            ("metrics", S.METRICS), ("lineage", S.LINEAGE),
        ):
            staged |= self.store.compact(self.spark, name, schema)
        if staged:
            self.store.commit(dict(self.store.meta))

    # ---- the loop ----

    def run(self, seeds: DataFrame | None = None,
            max_rounds: int | None = None) -> dict:
        """Crawl to fixpoint/budget. Resumable: if the store already has
        committed rounds, continues after the last one."""
        cfg = self.cfg
        if seeds is not None:
            self.init_frontier(seeds)
        budget = max_rounds if max_rounds is not None else cfg.max_rounds
        r = self.store.committed_round
        last = {}
        stall = 0  # consecutive all-deferred rounds (delay clocks pending)
        while r < budget:
            if self._crawled_total() >= cfg.max_file_num:
                break  # D5: maxFileNum stop (CrawlerBolt.java:371-375)
            if "n_frontier" in self.store.meta:
                if int(self.store.meta["n_frontier"]) == 0:
                    break  # quiescence (URLSpout.java:133-142)
            elif self._read_frontier().isEmpty():
                break
            r += 1
            last = self.run_round(r)
            self._compact_frontier()  # cheap meta check; folds tombstones
            if r % cfg.maintenance_every == 0:
                self._compact_tables(r)
                if cfg.snapshot_keep > 0:
                    # same cadence as table compaction: drop expired
                    # manifests + the data dirs only they referenced
                    self.store.expire_snapshots(cfg.snapshot_keep)
            if last["n_selected"] == 0:
                stall += 1
                if stall > 64:  # no delay in fixtures exceeds this
                    break
            else:
                stall = 0
        return {"rounds": r, **last}
