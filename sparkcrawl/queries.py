"""Driver-contract query catalog: Spark implementations + DuckDB oracle SQL.

Each query maps to an operator family from SURVEY.md §2 (reference file:line
cited per entry) or to the training-data ops (dedup / ANN / text analysis),
expressed over the driver's parquet tables so the DuckDB oracle can verify
it. Crawler-shaped inputs (URLs, robots rules) are synthesized
DETERMINISTICALLY from the documents table with the same expression on both
sides, so the comparison checks our operator logic, not the synthesis.

Every computed column is explicitly aliased; float aggregates are rounded so
summation-order ulp noise cannot break the driver's value-hash compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from sparkcrawl import annsearch, bpe, textops
from sparkcrawl.filters import FilterConfig, admission_predicate
from sparkcrawl.urlnorm import canonicalize_udf, with_url_parts


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# URL synthesis shared by the crawler-op queries.
# Spark and SQL build the SAME urls from documents:
#   host = source || '.example.com'
#   path = '/' + ('s/' * (doc_id % 8)) + 'doc<id>' + ('.html' if id%5 else '')
#   pad: doc_id%11==0 gets a 1200-char query string (length filter target)
# ---------------------------------------------------------------------------

_URLS_SQL = """
SELECT doc_id,
       'http://' || source || '.example.com:80' ||
       '/' || repeat('s/', doc_id % 8) || 'doc' || CAST(doc_id AS VARCHAR) ||
       (CASE WHEN doc_id % 5 = 0 THEN '' ELSE '.html' END) ||
       (CASE WHEN doc_id % 11 = 0 THEN '?pad=' || repeat('x', 1200) ELSE '' END)
       AS url_norm,
       source || '.example.com' AS host,
       '/' || repeat('s/', doc_id % 8) || 'doc' || CAST(doc_id AS VARCHAR) ||
       (CASE WHEN doc_id % 5 = 0 THEN '' ELSE '.html' END) AS path,
       CAST(doc_id AS BIGINT) AS seq
FROM documents
"""


def _urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    path = F.concat(
        F.lit("/"),
        F.repeat(F.lit("s/"), (F.col("doc_id") % 8).cast("int")),
        F.lit("doc"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("")).otherwise(F.lit(".html")),
    )
    pad = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(F.lit("?pad="), F.repeat(F.lit("x"), 1200)),
    ).otherwise(F.lit(""))
    return d.select(
        "doc_id",
        F.concat(
            F.lit("http://"), F.col("source"), F.lit(".example.com:80"),
            path, pad,
        ).alias("url_norm"),
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        path.alias("path"),
        F.col("doc_id").cast("long").alias("seq"),
    )


# ---------------------------------------------------------------------------
# crawler-operator queries
# ---------------------------------------------------------------------------


def q_frontier_host_cap(spark, sf_dir):
    """R4: per-host run cap — first 5 rows by seq per host
    (URLFrontier.java:20-22,59-138)."""
    u = _urls(spark, sf_dir)
    w = W.partitionBy("host").orderBy("seq")
    return (
        u.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("host", "seq", F.col("rn").cast("long").alias("rn"))
    )


Q_FRONTIER_HOST_CAP_SQL = f"""
WITH urls AS ({_URLS_SQL})
SELECT host, seq, rn FROM (
  SELECT host, seq,
         ROW_NUMBER() OVER (PARTITION BY host ORDER BY seq) AS rn
  FROM urls
) WHERE rn <= 5
"""


def q_url_admission(spark, sf_dir):
    """D1-D3 admission filters (URLFilterBolt.java:84-107): drop long urls,
    deep paths, banned hosts."""
    u = _urls(spark, sf_dir)
    u = u.withColumn("path_depth", F.size(F.split(F.col("path"), "/")))
    cfg = FilterConfig(banned_hosts=("src1.example.com",))
    return u.filter(admission_predicate(cfg)).select("doc_id", "url_norm")


Q_URL_ADMISSION_SQL = f"""
WITH urls AS ({_URLS_SQL})
SELECT doc_id, url_norm FROM urls
WHERE length(url_norm) <= 1000
  AND len(string_split(path, '/')) <= 5
  AND host <> 'src1.example.com'
"""


def q_seen_anti_join(spark, sf_dir):
    """D4 URL-seen dedup as a left-anti join (URLFilterBolt.java:107-120):
    seen = every third doc's url."""
    u = _urls(spark, sf_dir)
    seen = u.filter(F.col("doc_id") % 3 == 0).select("url_norm")
    return u.join(seen, "url_norm", "left_anti").select("doc_id", "url_norm")


Q_SEEN_ANTI_JOIN_SQL = f"""
WITH urls AS ({_URLS_SQL}),
seen AS (SELECT url_norm FROM urls WHERE doc_id % 3 = 0)
SELECT doc_id, url_norm FROM urls u
WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.url_norm = u.url_norm)
"""


def q_canonicalize_ports(spark, sf_dir):
    """O1-O4: explicit-port insertion + scheme/host lowering
    (URLSpout.java:152-184). Input urls WITHOUT port; the engine's
    canonicalize_udf must produce host:80 forms."""
    d = _t(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("HTTP://"), F.upper(F.col("source")), F.lit(".Example.COM/d/"),
        F.col("doc_id").cast("string"),
    )
    return d.select(
        "doc_id",
        canonicalize_udf(F.lit(None), raw).alias("url_norm"),
    )


Q_CANONICALIZE_PORTS_SQL = """
SELECT doc_id,
       'http://' || lower(source) || '.example.com:80/d/' ||
       CAST(doc_id AS VARCHAR) AS url_norm
FROM documents
"""


def q_robots_effective(spark, sf_dir):
    """R1-R2: effective robots block — our agent's block shadows '*'
    (CrawlerBolt.java:179-203). Rules synthesized from documents."""
    d = _t(spark, sf_dir, "documents")
    rules = d.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("cis455crawler"))
        .otherwise(F.lit("*"))
        .alias("agent"),
        F.lit("disallow").alias("rule"),
        F.concat(F.lit("/"), F.col("lang")).alias("path_prefix"),
    ).distinct()
    ours = rules.filter(F.col("agent") == "cis455crawler")
    star = rules.filter(F.col("agent") == "*")
    hosts_with_ours = ours.select("host").distinct()
    eff = ours.unionByName(star.join(hosts_with_ours, "host", "left_anti"))
    return eff.select("host", "agent", "path_prefix")


Q_ROBOTS_EFFECTIVE_SQL = """
WITH rules AS (
  SELECT DISTINCT source || '.example.com' AS host,
         CASE WHEN doc_id % 7 = 0 THEN 'cis455crawler' ELSE '*' END AS agent,
         '/' || lang AS path_prefix
  FROM documents
),
ours AS (SELECT * FROM rules WHERE agent = 'cis455crawler'),
star AS (SELECT * FROM rules WHERE agent = '*')
SELECT host, agent, path_prefix FROM ours
UNION ALL
SELECT host, agent, path_prefix FROM star s
WHERE NOT EXISTS (SELECT 1 FROM ours o WHERE o.host = s.host)
"""


def q_robots_parse(spark, sf_dir):
    """R1 raw robots.txt parsing (CrawlerBolt.java:302-355): synthesize a
    robots.txt text per host with a KNOWN structure (multi-agent block +
    '*' block), run the real block parser via Arrow, and have the oracle
    enumerate the expected rows relationally."""
    from sparkcrawl.robots import parse_robots_corpus

    d = _t(spark, sf_dir, "documents")
    hosts = d.select(
        F.concat(F.col("source"), F.lit(".example.com")).alias("host")
    ).distinct()
    k = (F.length("host") % 7).cast("string")
    text = F.concat(
        F.lit("# synthetic\nUser-agent: cis455crawler\nUser-agent: bot2\n"
              "Disallow: /p"), k,
        F.lit("\nCrawl-delay: "), ((F.length("host") % 7) + 1).cast("string"),
        F.lit("\n\nUser-agent: *\nDisallow: /all\n"),
    )
    corpus = hosts.select("host", text.alias("robots_txt"))
    return parse_robots_corpus(corpus).withColumn(
        "crawl_delay", F.col("crawl_delay").cast("int")
    )


Q_ROBOTS_PARSE_SQL = """
WITH hosts AS (
  SELECT DISTINCT source || '.example.com' AS host FROM documents
),
k AS (SELECT host, length(host) % 7 AS k FROM hosts)
SELECT host, agent, rule, path_prefix, CAST(delay AS INTEGER) AS crawl_delay
FROM k, LATERAL (
  VALUES
    ('cis455crawler', 'disallow', '/p' || CAST(k.k AS VARCHAR), NULL),
    ('bot2',          'disallow', '/p' || CAST(k.k AS VARCHAR), NULL),
    ('cis455crawler', 'crawl_delay', NULL, k.k + 1),
    ('bot2',          'crawl_delay', NULL, k.k + 1),
    ('*',             'disallow', '/all', NULL)
) t(agent, rule, path_prefix, delay)
"""


def q_content_dedup(spark, sf_dir):
    """P1 content-hash dedup groups (DocumentParserBolt.java:155-159;
    md5 so the oracle reproduces it)."""
    d = _t(spark, sf_dir, "documents")
    return textops.exact_dup_groups(d)


Q_CONTENT_DEDUP_SQL = """
SELECT md5(text) AS content_md5, COUNT(*) AS n_docs,
       MIN(doc_id) AS keep_doc_id
FROM documents GROUP BY md5(text)
"""


def q_corpus_export(spark, sf_dir):
    """K1 corpus line format: url + '$$$' + newline-stripped body
    (StorageServer.java:219-221)."""
    u = _urls(spark, sf_dir)
    d = _t(spark, sf_dir, "documents")
    j = u.join(d, "doc_id")
    return j.select(
        "doc_id",
        F.concat(
            F.col("url_norm"), F.lit("$$$"),
            F.regexp_replace(F.col("text"), "[\\n\\r]", ""),
        ).alias("line"),
    )


Q_CORPUS_EXPORT_SQL = f"""
WITH urls AS ({_URLS_SQL})
SELECT u.doc_id AS doc_id,
       u.url_norm || '$$$' || regexp_replace(d.text, '[\\n\\r]', '', 'g') AS line
FROM urls u JOIN documents d ON u.doc_id = d.doc_id
"""


def q_export_rotation(spark, sf_dir):
    """K1 file rotation: 10,000 lines per corpus file
    (StorageServer.java:210-216) -> (file_idx, n_lines) with 100-line files
    so small SFs produce several.

    The global line number comes from engine.dense_seq (range-partitioned
    two-phase rank) — NEVER a bare ``row_number() OVER (ORDER BY ...)``,
    which would funnel the corpus through one task at scale (the round-1
    perf-weak finding; plan-guarded in tests/test_plans.py)."""
    from sparkcrawl.engine import dense_seq

    d = _t(spark, sf_dir, "documents")
    d, _ = dense_seq(d, ["doc_id"], base=0)
    return (
        d.withColumn("file_idx", ((F.col("seq") - 1) / 100).cast("long"))
        .groupBy("file_idx")
        .agg(F.count("*").alias("n_lines"))
    )


Q_EXPORT_ROTATION_SQL = """
SELECT CAST(floor((ROW_NUMBER() OVER (ORDER BY doc_id) - 1) / 100) AS BIGINT)
         AS file_idx,
       COUNT(*) AS n_lines
FROM documents
GROUP BY 1
"""

# the GROUP BY over a window needs a subquery in both engines; fix:
Q_EXPORT_ROTATION_SQL = """
WITH numbered AS (
  SELECT CAST(floor((ROW_NUMBER() OVER (ORDER BY doc_id) - 1) / 100) AS BIGINT)
           AS file_idx
  FROM documents
)
SELECT file_idx, COUNT(*) AS n_lines FROM numbered GROUP BY file_idx
"""


def q_crawl_metrics(spark, sf_dir):
    """A1/A4 counters: per-event-type totals over the events stream
    (DistributedCrawler.java:39-45 counter mix)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.count_distinct("user_id").alias("n_users"),
    )


Q_CRAWL_METRICS_SQL = """
SELECT event_type, COUNT(*) AS n_events,
       round(SUM(value), 2) AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


def q_rate_window(spark, sf_dir):
    """A2 crawl-rate windows: tumbling 1-hour event counts per type
    (WorkerMonitor.java:20-42's 10s deltas, scaled to the events table)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "event_type",
    ).agg(F.count("*").alias("n"))


Q_RATE_WINDOW_SQL = """
SELECT date_trunc('hour', ts) AS hour, event_type, COUNT(*) AS n
FROM events GROUP BY 1, 2
"""


def q_host_partition(spark, sf_dir):
    """O7/X1 host-hash partition assignment (HostSplitterBolt.java:98):
    worker = mod of a host-derived int; counts per worker."""
    u = _urls(spark, sf_dir)
    worker = F.pmod(F.length("host") * 31 + F.length("url_norm"), F.lit(8))
    return u.groupBy(worker.alias("worker")).agg(
        F.count("*").alias("n_urls")
    ).withColumn("worker", F.col("worker").cast("long"))


Q_HOST_PARTITION_SQL = f"""
WITH urls AS ({_URLS_SQL})
SELECT CAST((length(host) * 31 + length(url_norm)) % 8 AS BIGINT) AS worker,
       COUNT(*) AS n_urls
FROM urls GROUP BY 1
"""


def q_sessionize(spark, sf_dir):
    """Stateful sessionization (streaming analogue of R3 politeness clocks):
    30-min-gap sessions per user via lag + cumulative sum windows."""
    e = _t(spark, sf_dir, "events")
    wu = W.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp(F.col("ts"))
    gap = F.when(epoch - F.lag(epoch).over(wu) > 1800, 1).otherwise(0)
    sess = e.withColumn("new_sess", gap).withColumn(
        "session_idx",
        F.sum("new_sess").over(
            wu.rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    return sess.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event"),
    ).withColumn("session_idx", F.col("session_idx").cast("long"))


Q_SESSIONIZE_SQL = """
WITH g AS (
  SELECT user_id, event_id,
         CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER
              (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
s AS (
  SELECT user_id, event_id,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
  FROM g
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       COUNT(*) AS n_events, MIN(event_id) AS first_event
FROM s GROUP BY user_id, session_idx
"""


# ---------------------------------------------------------------------------
# classic relational coverage (the engine is general, not crawl-only)
# ---------------------------------------------------------------------------


def q_tpch_pricing(spark, sf_dir):
    """TPC-H Q1-style pricing summary (agg + expressions)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


Q_TPCH_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       round(SUM(l_quantity), 2) AS sum_qty,
       round(SUM(l_extendedprice), 2) AS sum_base_price,
       round(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(AVG(l_quantity), 6) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_per_nation(spark, sf_dir):
    """Multi-join star query with broadcast dims (customer->nation->region)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


Q_REVENUE_PER_NATION_SQL = """
SELECT n_name,
       round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape (shipping priority): BUILDING-segment customers,
    orders before the cutoff, lineitems shipped after it, top-10 orders by
    revenue. Per-row revenue quantizes to integer CENTS before the sum, so
    the top-10 cut never rides a float summation order (a plain
    SUM(double) can flip the limit boundary by one ulp across
    partitionings); dims broadcast, the one shuffle is the orderkey agg,
    and the top-10 is a TakeOrdered."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cutoff = "1998-01-01"
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(
            o.filter(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(cents).cast("long").alias("revenue_cents"))
        .orderBy(
            F.desc("revenue_cents"), "o_orderdate", "l_orderkey"
        )
        .limit(10)
    )


Q_SHIPPING_PRIORITY_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_cents DESC, o_orderdate, l_orderkey LIMIT 10
"""


def q_promo_supplier_share(spark, sf_dir):
    """TPC-H Q14-flavored star over the two previously-untouched dims:
    per supplier nation, the PROMO-part share of revenue. Both dims
    (part, supplier, nation) broadcast; per-row revenue quantizes to
    integer cents so shares are exact ratios of exact integer sums; the
    one shuffle is the nation-key aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    promo = F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").cast("long").alias("n_items"),
            F.sum(cents).cast("long").alias("revenue_cents"),
            F.sum(promo).cast("long").alias("promo_cents"),
        )
        .withColumn(
            "promo_share",
            F.round(
                F.col("promo_cents").cast("double")
                / F.col("revenue_cents"),
                6,
            ),
        )
        .orderBy("n_name")
    )


Q_PROMO_SUPPLIER_SHARE_SQL = """
WITH j AS (
  SELECT n_name,
         CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
           AS cents,
         (p_type = 'PROMO') AS is_promo
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
)
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(cents) AS BIGINT) AS revenue_cents,
       CAST(SUM(CASE WHEN is_promo THEN cents ELSE 0 END) AS BIGINT)
         AS promo_cents,
       round(CAST(SUM(CASE WHEN is_promo THEN cents ELSE 0 END) AS DOUBLE)
             / SUM(cents), 6) AS promo_share
FROM j GROUP BY n_name ORDER BY n_name
"""


# ---------------------------------------------------------------------------
# training-data ops: dedup / similarity / text analysis
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: keep min-doc_id per identical text."""
    d = _t(spark, sf_dir, "documents")
    return textops.dedup_exact(d).select("doc_id")


Q_DEDUP_EXACT_SQL = """
SELECT doc_id FROM (
  SELECT doc_id, ROW_NUMBER() OVER
    (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
"""


def q_minhash_signatures(spark, sf_dir):
    """MinHash signatures (md5-keyed so the oracle reproduces them):
    sig[k] = min over 3-shingles s of md5('k:' || s); flat (doc, k, minhash).
    Empty-shingle docs are excluded (no signature)."""
    d = textops.with_shingles(
        textops.ensure_width(_t(spark, sf_dir, "documents"), "doc_id"), n=3
    )

    def _salted(k: int):
        # single-arg lambda (2-arg transform lambdas receive the index)
        return lambda s: F.md5(F.concat(F.lit(f"{k}:"), s))

    sigs = d.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.array_min(F.transform("shingles", _salted(k)))
                    for k in range(8)
                ]
            )
        ).alias("k", "minhash"),
    ).filter(F.col("minhash").isNotNull())
    return sigs.withColumn("k", F.col("k").cast("long"))


Q_MINHASH_SIGNATURES_SQL = """
WITH sh AS (
  SELECT doc_id,
         [tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
          for i in range(1, greatest(len(tokens) - 1, 1))] AS shingles
  FROM (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tokens
    FROM documents
  )
),
expl AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh
),
ks AS (SELECT unnest(range(0, 8)) AS k)
SELECT e.doc_id AS doc_id, CAST(ks.k AS BIGINT) AS k,
       MIN(md5(CAST(ks.k AS VARCHAR) || ':' || e.s)) AS minhash
FROM expl e CROSS JOIN ks
GROUP BY e.doc_id, ks.k
"""


def q_jaccard_pairs(spark, sf_dir):
    """N-gram Jaccard near-dup pairs (inverted-index join, threshold 0.2,
    same-source blocking — bounds the join on low-entropy corpora)."""
    d = _t(spark, sf_dir, "documents")
    return textops.jaccard_pairs(
        d, threshold=0.2, shingle_n=3, block_col="source"
    )


Q_JACCARD_PAIRS_SQL = """
WITH sh AS (
  SELECT doc_id, source,
         list_distinct(
           [tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
            for i in range(1, greatest(len(tokens) - 1, 1))]) AS shingles
  FROM (
    SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS tokens
    FROM documents
  )
),
inv AS (
  SELECT doc_id, source, len(shingles) AS n_sh, unnest(shingles) AS s FROM sh
),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.n_sh AS na, b.n_sh AS nb, COUNT(*) AS i
  FROM inv a JOIN inv b
    ON a.s = b.s AND a.doc_id < b.doc_id AND a.source = b.source
  GROUP BY 1, 2, 3, 4
)
SELECT doc_a, doc_b,
       round(CAST(i AS DOUBLE) / (na + nb - i), 6) AS jaccard
FROM inter
WHERE round(CAST(i AS DOUBLE) / (na + nb - i), 6) >= 0.2
"""


def q_ann_cosine(spark, sf_dir):
    """Brute-force cosine similarity to a fixed query vector (vec_id=0),
    thresholded at 0.2 (rounded 4dp) — the ANN exactness baseline."""
    e = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    out = annsearch.with_cosine(e, qvec)
    return out.filter(F.col("cosine") >= 0.2).select("vec_id", "cosine")


Q_ANN_COSINE_SQL = """
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_dot_product(embedding, q.qv) /
             (sqrt(list_dot_product(embedding, embedding)) *
              sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
FROM embeddings, q
WHERE round(list_dot_product(embedding, q.qv) /
            (sqrt(list_dot_product(embedding, embedding)) *
             sqrt(list_dot_product(q.qv, q.qv))), 4) >= 0.2
"""


def q_ann_buckets(spark, sf_dir):
    """Sign-bit LSH bucket histogram (the ANN scale path's partitioning)."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        annsearch.with_sign_bucket(e)
        .groupBy(F.col("bucket").cast("long").alias("bucket"))
        .agg(F.count("*").alias("n_vecs"))
    )


Q_ANN_BUCKETS_SQL = """
SELECT CAST(
         (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END) +
         (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END) +
         (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END) +
         (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) +
         (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END) +
         (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END) +
         (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END) +
         (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS BIGINT
       ) AS bucket,
       COUNT(*) AS n_vecs
FROM embeddings GROUP BY 1
"""


def q_lang_id(spark, sf_dir):
    """Language-ID heuristic: stopword-hit ratio per doc (P4 analogue)."""
    d = _t(spark, sf_dir, "documents")
    return textops.with_lang_id(d).select(
        "doc_id", "stopword_ratio", "lang_guess"
    )


_STOPS_SQL = ",".join(f"'{w}'" for w in textops.EN_STOPWORDS)
Q_LANG_ID_SQL = f"""
SELECT doc_id,
       round(CAST(len(list_filter(tokens, t -> list_contains([{_STOPS_SQL}],
             lower(t)))) AS DOUBLE) / greatest(len(tokens), 1), 6)
         AS stopword_ratio,
       CASE WHEN CAST(len(list_filter(tokens, t ->
              list_contains([{_STOPS_SQL}], lower(t)))) AS DOUBLE)
              / greatest(len(tokens), 1) >= 0.05
            THEN 'en' ELSE 'other' END AS lang_guess
FROM (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tokens
  FROM documents
)
"""


def q_quality(spark, sf_dir):
    """Quality scoring: token/char/punct features + composite score."""
    d = _t(spark, sf_dir, "documents")
    return textops.with_quality(d).select(
        "doc_id", "n_tokens", "punct_ratio", "quality_score"
    ).withColumn("n_tokens", F.col("n_tokens").cast("long"))


Q_QUALITY_SQL = """
SELECT doc_id,
       CAST(len(tokens) AS BIGINT) AS n_tokens,
       round(CAST(length(text) -
             length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
             / greatest(length(text), 1), 6) AS punct_ratio,
       round(least(len(tokens) / 100.0, 1.0) *
             (1 - round(CAST(length(text) -
              length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS DOUBLE)
              / greatest(length(text), 1), 6)), 6) AS quality_score
FROM (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS tokens
  FROM documents
)
"""


def q_token_count(spark, sf_dir):
    """Token counting (whitespace discipline shared with the oracle)."""
    d = textops.with_tokens(_t(spark, sf_dir, "documents"))
    return d.select(
        "doc_id", F.size("tokens").cast("long").alias("n_tokens")
    )


Q_TOKEN_COUNT_SQL = """
SELECT doc_id,
       CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
         AS n_tokens
FROM documents
"""


def q_fingerprint(spark, sf_dir):
    """Document fingerprint: md5 of normalized text."""
    d = _t(spark, sf_dir, "documents")
    return textops.with_fingerprint(d).select("doc_id", "fingerprint")


Q_FINGERPRINT_SQL = """
SELECT doc_id,
       md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
FROM documents
"""


# ---------------------------------------------------------------------------
# XPath channel subsystem (reference Q1-Q4, xpathengine/XPathEngineImpl.java)
# ---------------------------------------------------------------------------

# Validation goldens: expressions with hand-derived expected validity under
# the reference grammar (pinned by its JUnit suite,
# test/edu/upenn/cis455/XPathEngineImplTest.java:146-188,110-116). The Spark
# side runs the real tokenizer+parser in a pandas UDF; the oracle is the
# golden table.
_XPATH_VALID_CASES = [
    ("/foo/bar/xyz", True),
    ('/foo/bar[@att="123"]', True),
    ('/foo/bar[contains(text(),"someSubstring")]', True),
    ('/a/b/c[text()="TheEntireText"]', True),
    ("/foo[anotherElement]", True),
    ("/this/that[something/else]", True),
    ('/d/e/f[foo[text()="something"]][bar]', True),
    ('/a/bar/xyz[text() =      "EveryDayWeLIT"]', True),
    ('/rss/channel/title[text() = "NYT > Sports"]', True),
    ("//foo/bar/xyz", False),
    ("/", False),
    ("//", False),
    ("/node/[]", False),
    ("/foo/", False),
    ("/foo[", False),
    ("/foo[text()]", False),
    ("/@x", False),
]


def q_xpath_valid(spark, sf_dir):
    """Q1+Q2 tokenizer+validator (XPathEngineImpl.java:45-97,105-268) over
    the golden expression set; executed distributed via pandas UDF."""
    from sparkcrawl.xpath import valid_udf as _valid

    df = spark.createDataFrame(
        [(i, e) for i, (e, _) in enumerate(_XPATH_VALID_CASES)],
        "idx long, expr string",
    )
    return df.select("idx", _valid("expr").alias("valid"))


Q_XPATH_VALID_SQL = "SELECT * FROM (VALUES " + ", ".join(
    f"({i}, {str(v).upper()})" for i, (_, v) in enumerate(_XPATH_VALID_CASES)
) + ") t(idx, valid)"


# Match + channel queries: synthesize an RSS doc per documents row with a
# KNOWN structure on the Spark side, run the real DOM matcher, and have the
# oracle compute the same predicates relationally (title text() equality ->
# doc_id equality; description contains -> LIKE; @id -> doc_id % 3).
_XPATH_MATCH_EXPRS = [
    '/rss/channel/title[text()="doc 7"]',
    '/rss/channel/item/description[contains(text(),"the")]',
    '/rss/channel/item[@id="i1"]',
    "/rss/channel/missing",
    "/rss[channel[item]]",
]


def _rss_docs(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    esc = F.coalesce(F.col("text"), F.lit(""))
    for a, b in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        esc = F.replace(esc, F.lit(a), F.lit(b))
    return d.select(
        "doc_id",
        F.concat(
            F.lit('<rss version="2.0"><channel><title>doc '),
            F.col("doc_id").cast("string"),
            F.lit('</title><item id="i'),
            (F.col("doc_id") % 3).cast("string"),
            F.lit('"><description>'),
            esc,
            F.lit("</description></item></channel></rss>"),
        ).alias("doc"),
    )


def q_xpath_match(spark, sf_dir):
    """Q3 DOM matcher (XPathEngineImpl.java:291-449): evaluate(d) over all
    expressions in one Arrow pass per document."""
    from sparkcrawl.xpath import evaluate_matches

    return evaluate_matches(
        _rss_docs(spark, sf_dir), _XPATH_MATCH_EXPRS, doc_col="doc"
    )


Q_XPATH_MATCH_SQL = """
WITH ks AS (SELECT unnest(range(0, 5)) AS k),
d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents)
SELECT d.doc_id AS doc_id, CAST(ks.k AS BIGINT) AS xpath_idx,
       CASE ks.k
         WHEN 0 THEN d.doc_id = 7
         WHEN 1 THEN d.t LIKE '%the%'
         WHEN 2 THEN d.doc_id % 3 = 1
         WHEN 3 THEN FALSE
         ELSE TRUE
       END AS matched
FROM d CROSS JOIN ks
"""


def q_xpath_channels(spark, sf_dir):
    """Q4 channel subscriptions (storage/ChannelStorage.java:7-57) as a
    DataFrame join: channels × matched docs -> per-channel doc counts."""
    from sparkcrawl.xpath import channel_matches

    channels = spark.createDataFrame(
        [
            ("all-rss", "/rss[channel]", "owner0"),
            ("has-the", _XPATH_MATCH_EXPRS[1], "owner1"),
            ("mod0", '/rss/channel/item[@id="i0"]', "owner2"),
        ],
        "channel string, xpath string, owner string",
    )
    cm = channel_matches(
        _rss_docs(spark, sf_dir), channels, doc_col="doc", key_col="doc_id"
    )
    return cm.groupBy("channel").agg(
        F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc")
    )


Q_XPATH_CHANNELS_SQL = """
WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents)
SELECT 'all-rss' AS channel, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc FROM d
UNION ALL
SELECT 'has-the', COUNT(*), MIN(doc_id) FROM d WHERE t LIKE '%the%'
UNION ALL
SELECT 'mod0', COUNT(*), MIN(doc_id) FROM d WHERE doc_id % 3 = 0
"""


# rows-only queries (no SQL oracle — non-SQL-expressible or hash-mismatched)


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs (pandas-UDF signatures + pigeonhole 16-bit
    blocking + same-source restriction). The oracle rebuilds the 64-bit
    Charikar signature from md5 hex digits in SQL (exact signed-64
    arithmetic), so the pair set value-matches."""
    d = _t(spark, sf_dir, "documents")
    return textops.simhash_near_dups(d, max_hamming=10, block_col="source")


# signature: per token, md5's first 8 bytes little-endian; bit b votes
# +count/-count; sig bit b set iff vote > 0 (textops._simhash_batch).
Q_SIMHASH_PAIRS_SQL = """
WITH tok AS (
  SELECT doc_id, t, COUNT(*) AS c FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
    FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
  ) GROUP BY doc_id, t
),
hx AS (SELECT doc_id, c, md5(t) AS h FROM tok),
byts AS (
  SELECT doc_id, c, j.j,
         (strpos('0123456789abcdef', substr(h, j.j*2+1, 1)) - 1) * 16 +
         (strpos('0123456789abcdef', substr(h, j.j*2+2, 1)) - 1) AS byte
  FROM hx, (SELECT unnest(range(0, 8)) AS j) j
),
votes AS (
  SELECT doc_id, j*8 + b.b AS bitpos,
         SUM(CASE WHEN (byte // (1 << b.b)) % 2 = 1 THEN c ELSE -c END) AS v
  FROM byts, (SELECT unnest(range(0, 8)) AS b) b
  GROUP BY doc_id, j*8 + b.b
),
sigs0 AS (
  SELECT doc_id,
         SUM(CASE WHEN v > 0 THEN
               CASE WHEN bitpos = 63 THEN -9223372036854775808
                    ELSE (CAST(1 AS BIGINT) << bitpos) END
             ELSE 0 END) AS sig
  FROM votes GROUP BY doc_id
),
sigs AS (
  -- SUM() yields HUGEINT; cast back to signed-64 so xor/bit_count below
  -- operate on the same 64-bit domain as the engine
  SELECT d.doc_id, d.source, CAST(coalesce(s.sig, 0) AS BIGINT) AS sig
  FROM documents d LEFT JOIN sigs0 s ON d.doc_id = s.doc_id
),
chunks AS (
  SELECT doc_id, source, sig, k.k AS chunk_idx,
         (sig >> (k.k * 16)) & 65535 AS chunk_val
  FROM sigs, (SELECT unnest(range(0, 4)) AS k) k
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sig AS sig_a, b.sig AS sig_b
  FROM chunks a JOIN chunks b
    ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
   AND a.source = b.source AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 10
"""


def q_minhash_lsh_pairs(spark, sf_dir):
    """Banded-LSH candidate pairs (md5-keyed minhash so the oracle
    reproduces the buckets; the engine path uses xxhash64 with the same
    code). 16 hashes / 8 bands of 2 rows."""
    d = _t(spark, sf_dir, "documents")
    return textops.lsh_candidate_pairs(
        d, n_hashes=16, bands=8, hash_fn="md5"
    )


Q_MINHASH_LSH_PAIRS_SQL = """
WITH expl AS (
  SELECT doc_id, unnest(
    [tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
     for i in range(1, greatest(len(tokens) - 1, 1))]) AS s
  FROM (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tokens
    FROM documents
  )
),
ks AS (SELECT unnest(range(0, 16)) AS k),
sig AS (
  SELECT e.doc_id, ks.k,
         MIN(md5(CAST(ks.k AS VARCHAR) || ':' || e.s)) AS mh
  FROM expl e CROSS JOIN ks
  GROUP BY e.doc_id, ks.k
),
band AS (
  SELECT doc_id, k // 2 AS band,
         md5(string_agg(mh, ',' ORDER BY k)) AS bucket
  FROM sig GROUP BY doc_id, k // 2
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM band a JOIN band b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


def q_multimodal_features(spark, sf_dir):
    """Multimodal plumbing: binary payload -> feature vector via mapInPandas
    (decode kernel stubbed with a deterministic byte histogram; plumbing —
    schema, Arrow batches, skew-free partitioning — real). The payload is
    synthesized deterministically (multimodal.synth_media), so the oracle
    reproduces the whole decode relationally; features explode to scalar
    rows for a float-stable compare."""
    from sparkcrawl import multimodal

    media = multimodal.synth_media(spark, 128)
    feats = multimodal.decode_features(media)
    return feats.select(
        "media_id", "kind", "n_bytes",
        F.posexplode("feature").alias("dim_idx", "fval"),
    ).withColumn("dim_idx", F.col("dim_idx").cast("long"))


# payload[j] = (i*131 + j*17) % 256 for j in [0, 64+i) — synth_media's
# definition; bucket = byte >> 5; feature[b] = round(count_b / n_bytes, 6)
Q_MULTIMODAL_FEATURES_SQL = """
WITH m AS (SELECT unnest(range(0, 128)) AS media_id),
b AS (
  SELECT media_id, unnest(range(0, 64 + media_id)) AS j FROM m
),
v AS (
  SELECT media_id, ((media_id * 131 + j * 17) % 256) // 32 AS bucket FROM b
),
cnt AS (
  SELECT media_id, bucket, COUNT(*) AS c FROM v GROUP BY media_id, bucket
),
dims AS (SELECT unnest(range(0, 8)) AS dim_idx)
SELECT m.media_id AS media_id,
       CASE m.media_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
            ELSE 'video' END AS kind,
       64 + m.media_id AS n_bytes,
       CAST(d.dim_idx AS BIGINT) AS dim_idx,
       round(coalesce(c.c, 0) / CAST(64 + m.media_id AS DOUBLE), 6) AS fval
FROM m CROSS JOIN dims d
LEFT JOIN cnt c ON c.media_id = m.media_id AND c.bucket = d.dim_idx
"""


def q_multimodal_resize(spark, sf_dir):
    """Image resize plumbing: binary payload -> fixed-size binary thumb via
    mapInPandas (resample kernel stubbed as a nearest-neighbor byte stride;
    binary-in/binary-out Arrow plumbing real). Thumb compared as hex so the
    oracle rebuilds it relationally from the deterministic payload."""
    from sparkcrawl import multimodal

    media = multimodal.synth_media(spark, 128)
    t = multimodal.resize_thumbs(media, width=4, height=4)
    return t.select(
        "media_id", "out_w", "out_h", "n_bytes_in",
        F.lower(F.hex("thumb")).alias("thumb_hex"),
    )


# payload[j] = (i*131 + j*17) % 256, j < 64+i (synth_media); images are
# i%3==0; thumb[k] = payload[(k*n)//16] for the 4x4 stride resize
Q_MULTIMODAL_RESIZE_SQL = """
WITH m AS (SELECT unnest(range(0, 128)) AS media_id),
img AS (SELECT media_id FROM m WHERE media_id % 3 = 0),
ks AS (SELECT unnest(range(0, 16)) AS k),
tb AS (
  SELECT media_id, ks.k,
         (media_id * 131 + ((ks.k * (64 + media_id)) // 16) * 17) % 256 AS bv
  FROM img CROSS JOIN ks
)
SELECT media_id, 4 AS out_w, 4 AS out_h,
       CAST(64 + media_id AS BIGINT) AS n_bytes_in,
       lower(string_agg(lpad(to_hex(bv), 2, '0'), '' ORDER BY k)) AS thumb_hex
FROM tb GROUP BY media_id
"""


def q_multimodal_frames(spark, sf_dir):
    """Video frame-sampling plan: (media_id, frame_idx) rows derived from
    typed metadata JVM-side (explode of a sequence — no decode, uniform
    downstream partitions). every_n=10 over synth n_frames = 30*(i%5)."""
    from sparkcrawl import multimodal

    media = multimodal.synth_media(spark, 128)
    return multimodal.frame_sample_plan(media, every_n=10)


Q_MULTIMODAL_FRAMES_SQL = """
WITH m AS (SELECT unnest(range(0, 128)) AS media_id),
v AS (
  SELECT media_id, 30 * (media_id % 5) AS n_frames
  FROM m WHERE media_id % 3 = 2
)
SELECT media_id,
       CAST(unnest(range(0, greatest(n_frames - 1, 0) + 1, 10)) AS INTEGER)
         AS frame_idx
FROM v WHERE n_frames > 0
"""


def q_label_centroid(spark, sf_dir):
    """IVF-style per-label centroid cosine, made deterministic by integer
    quantization of the centroid sum (annsearch.label_centroid_cosine) so
    the oracle reproduces it bit-for-bit."""
    e = _t(spark, sf_dir, "embeddings")
    return annsearch.label_centroid_cosine(e)


Q_LABEL_CENTROID_SQL = """
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
dims AS (
  SELECT vec_id, label, d.d AS dim, emb[d.d] AS v
  FROM e, (SELECT unnest(range(1, 65)) AS d) d
),
cent AS (
  SELECT label, dim,
         SUM(CAST(round(v * 1000000.0) AS BIGINT)) AS s, COUNT(*) AS n
  FROM dims GROUP BY label, dim
),
cvec AS (
  SELECT label,
         list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY dim) AS centroid
  FROM cent GROUP BY label
)
SELECT e.vec_id AS vec_id, e.label AS label,
       round(list_dot_product(emb, centroid) /
             (sqrt(list_dot_product(emb, emb)) *
              sqrt(list_dot_product(centroid, centroid))), 4)
         AS centroid_cosine
FROM e JOIN cvec USING (label)
"""


def q_length_quantiles(spark, sf_dir):
    """Exact per-language length quantiles (p50/p90/p99 of n_chars) by
    rank arithmetic: position = ceil(p*n) computed as the INTEGER
    (p*n+99) div 100 and the value picked at that row_number over
    (n_chars, doc_id) — a deterministic total order, so the result is
    engine-exact where interpolated percentile built-ins (percentile_cont
    / quantile_disc variants) disagree on even counts and tie rules.
    Both windows share the lang partition key — one shuffle. At 100 TB
    the same contract runs as a two-pass value-histogram; this is the
    exact form the tests can pin."""
    d = _t(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    wl = W.partitionBy("lang")
    r = d.withColumn(
        "rn", F.row_number().over(wl.orderBy("n_chars", "doc_id"))
    ).withColumn("n", F.count("*").over(wl))

    def pick(p: int):
        pos = F.expr(f"({p} * n + 99) div 100")
        return F.max(
            F.when(F.col("rn") == pos, F.col("n_chars"))
        ).cast("long").alias(f"p{p}")

    return (
        r.groupBy("lang")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            pick(50), pick(90), pick(99),
        )
        .orderBy("lang")
    )


Q_LENGTH_QUANTILES_SQL = """
WITH r AS (
  SELECT lang, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents
)
SELECT lang, CAST(MAX(n) AS BIGINT) AS n_docs,
       CAST(MAX(CASE WHEN rn = (50 * n + 99) // 100 THEN n_chars END)
            AS BIGINT) AS p50,
       CAST(MAX(CASE WHEN rn = (90 * n + 99) // 100 THEN n_chars END)
            AS BIGINT) AS p90,
       CAST(MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN n_chars END)
            AS BIGINT) AS p99
FROM r GROUP BY lang ORDER BY lang
"""


def q_lang_pivot(spark, sf_dir):
    """Pivot / crosstab (classical coverage, SURVEY §2.11): doc counts per
    source with one column per language. Spark's pivot plans as a single
    partial-combined aggregate with conditional sums — the same shape the
    oracle states explicitly; an explicit pivot-value list keeps the plan
    single-pass (no value-discovery job) and the schema static."""
    d = _t(spark, sf_dir, "documents")
    langs = ["de", "en", "es", "fr", "zh"]
    p = (
        d.groupBy("source")
        .pivot("lang", langs)
        .agg(F.count(F.lit(1)))
        .orderBy("source")
    )
    return p.select(
        "source",
        *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(f"n_{c}")
          for c in langs],
    )


Q_LANG_PIVOT_SQL = """
SELECT source,
       CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n_de,
       CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS n_fr,
       CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS n_es,
       CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS n_zh
FROM documents GROUP BY source ORDER BY source
"""


def q_json_props(spark, sf_dir):
    """Semi-structured extraction (classical coverage): pull the integer
    `k` out of the events table's JSON `props` string with Spark's
    get_json_object (JVM-side Jackson path evaluation — no UDF) and
    aggregate per event_type. The JSON path stays a scan-adjacent
    projection; the single shuffle is the partial-combined groupBy."""
    d = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        d.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
            F.max("k").cast("long").alias("max_k"),
            F.sum((F.col("k") % 2 == 0).cast("long")).alias("n_even_k"),
        )
        .orderBy("event_type")
    )


Q_JSON_PROPS_SQL = """
WITH e AS (
  SELECT event_type,
         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(MAX(k) AS BIGINT) AS max_k,
       CAST(SUM(CASE WHEN k % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_even_k
FROM e GROUP BY event_type ORDER BY event_type
"""


def q_agg_rollup(spark, sf_dir):
    """Hierarchical rollup aggregate (source -> lang -> grand total) —
    classical-coverage demo of Spark's rollup/grouping-sets path (absent
    from the reference, SURVEY §2.11)."""
    d = _t(spark, sf_dir, "documents")
    return d.rollup("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("chars"),
    )


Q_AGG_ROLLUP_SQL = """
SELECT source, lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS chars
FROM documents GROUP BY ROLLUP(source, lang)
"""


def q_range_join_bucketed(spark, sf_dir):
    """Time-range join (click -> purchases within the next 10 minutes) via
    the scale-safe bucketed pattern: both sides keyed by floor(epoch/600),
    the probe side exploded to (bucket, bucket+1), equi-join on bucket,
    exact range predicate after. A plain theta join plans as a nested-loop
    product (O(|A|x|B|) at 10^10 rows); the bucket equi-join shuffles by
    key and touches only temporally-adjacent pairs. The oracle IS the
    naive theta join, so the test proves the rewrite exact."""
    e = _t(spark, sf_dir, "events")
    win = 600
    a = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), F.col("ts").alias("a_ts")
    )
    b = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("ts").alias("b_ts")
    )
    abkt = F.floor(F.unix_timestamp("a_ts") / win).cast("long")
    a = a.withColumn("bucket", F.explode(F.array(abkt, abkt + 1)))
    b = b.withColumn(
        "bucket", F.floor(F.unix_timestamp("b_ts") / win).cast("long")
    )
    j = a.join(b, "bucket").filter(
        (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") < F.col("a_ts") + F.expr("INTERVAL 10 MINUTES"))
    )
    return j.select("click_id", "purchase_id")


Q_RANGE_JOIN_SQL = """
WITH a AS (SELECT event_id AS click_id, ts AS a_ts FROM events
           WHERE event_type = 'click'),
b AS (SELECT event_id AS purchase_id, ts AS b_ts FROM events
      WHERE event_type = 'purchase')
SELECT click_id, purchase_id
FROM a JOIN b ON b_ts >= a_ts AND b_ts < a_ts + INTERVAL 10 MINUTE
"""


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs via banded sign-LSH (4 bands x 4 sign
    bits over disjoint dims) + exact JVM-fold cosine >= 0.35 on candidates.
    The scale path for near-dup detection over dense vectors: the only
    shuffle is the (band, bucket) equi-join. Recall vs brute force is
    measured in tests/test_textops_ann.py; the oracle reproduces the same
    banded candidate generation."""
    e = _t(spark, sf_dir, "embeddings")
    return annsearch.embedding_near_dup(e, threshold=0.35)


def _band_bucket_sql(band: int, band_bits: int = 4) -> str:
    terms = [
        f"(CASE WHEN embedding[{band * band_bits + i + 1}] > 0 "
        f"THEN {2 ** i} ELSE 0 END)"
        for i in range(band_bits)
    ]
    return " + ".join(terms)


Q_EMBEDDING_NEAR_DUP_SQL = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
),
b AS (
""" + "\n  UNION ALL\n".join(
    f"  SELECT vec_id, {band} AS band, {_band_bucket_sql(band)} AS bucket "
    f"FROM embeddings"
    for band in range(4)
) + """
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b
  FROM b a JOIN b c ON a.band = c.band AND a.bucket = c.bucket
                   AND a.vec_id < c.vec_id
),
p AS (
  SELECT id_a, id_b,
         list_dot_product(ea.emb, eb.emb) /
           (sqrt(list_dot_product(ea.emb, ea.emb)) *
            sqrt(list_dot_product(eb.emb, eb.emb))) AS cos
  FROM cand
  JOIN e ea ON ea.vec_id = cand.id_a
  JOIN e eb ON eb.vec_id = cand.id_b
)
SELECT id_a, id_b, round(cos, 4) AS cosine FROM p WHERE cos >= 0.35
"""


def q_ann_ivf(spark, sf_dir):
    """IVF ANN: probe the 16 sign-bucket cells whose integer-quantized
    centroids are closest (cosine) to the query vector (vec_id=0), exact
    top-20 within probed cells only — the partition-pruned scale path
    whose exactness baseline is ann_cosine/brute_force_topk."""
    e = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return annsearch.ivf_topk(e, qvec, k=20, nprobe=16)


Q_ANN_IVF_SQL = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb,
         CAST(""" + _band_bucket_sql(0, 8) + """ AS BIGINT) AS bucket
  FROM embeddings
),
q AS (SELECT emb AS qv FROM e WHERE vec_id = 0),
dims AS (
  SELECT bucket, d.d AS dim, emb[d.d] AS v
  FROM e, (SELECT unnest(range(1, 65)) AS d) d
),
cent AS (
  SELECT bucket, dim,
         SUM(CAST(round(v * 1000000.0) AS BIGINT)) AS s, COUNT(*) AS n
  FROM dims GROUP BY bucket, dim
),
cvec AS (
  SELECT bucket,
         list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY dim) AS centroid
  FROM cent GROUP BY bucket
),
probed AS (
  SELECT bucket
  FROM cvec, q
  ORDER BY round(list_dot_product(centroid, q.qv) /
             (sqrt(list_dot_product(centroid, centroid)) *
              sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
           bucket ASC
  LIMIT 16
)
SELECT e.vec_id AS vec_id, e.bucket AS bucket,
       round(list_dot_product(emb, q.qv) /
             (sqrt(list_dot_product(emb, emb)) *
              sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
FROM e JOIN probed USING (bucket), q
ORDER BY cosine DESC, vec_id ASC
LIMIT 20
"""


def q_ann_ivf_kmeans(spark, sf_dir):
    """IVF ANN over TRAINED coarse cells (annsearch.kmeans_cells:
    deterministic k-means — smallest-id init, rounded-cosine argmax
    assignment, integer-quantized order-free means, fixed 4 sweeps):
    probe the 8 closest of 32 trained cells, exact top-20 within them.
    Every step is deterministic BY CONSTRUCTION (6-dp-rounded cosines,
    integer-quantized means), which is what makes the training loop
    SQL-expressible: the oracle (Q_ANN_IVF_KMEANS_SQL) unrolls the fixed
    4 sweeps as chained CTEs and must hash-match exactly."""
    e = _t(spark, sf_dir, "embeddings")
    qvec = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    ]
    return annsearch.ivf_topk_kmeans(
        e, qvec, k=20, nprobe=8, k_cells=32, iters=4
    )


def _kmeans_sweep_sql(i: int) -> str:
    """One unrolled k-means sweep as DuckDB CTEs: a{i} assigns every
    vector to its argmax-rounded-cosine cell of c{i-1} (ties -> smallest
    cell, degenerate cosine -> -2 — assign_cells semantics); c{i} is the
    integer-quantized mean per cell with empty cells keeping their
    previous centroid (kmeans_cells semantics)."""
    return f"""
a{i} AS (
  SELECT vec_id, e, cell FROM (
    SELECT d.vec_id, d.e, c.cell,
           row_number() OVER (
             PARTITION BY d.vec_id
             ORDER BY coalesce(round(
               list_dot_product(d.e, c.centroid) /
               (sqrt(list_dot_product(d.e, d.e)) *
                sqrt(list_dot_product(c.centroid, c.centroid))), 6), -2.0)
               DESC, c.cell ASC
           ) AS rn
    FROM d, c{i - 1} c) t
  WHERE rn = 1
),
c{i} AS (
  SELECT p.cell, coalesce(u.centroid, p.centroid) AS centroid
  FROM c{i - 1} p LEFT JOIN (
    SELECT cell,
           list(CAST(s AS DOUBLE) / (n * 1000000.0) ORDER BY dim)
             AS centroid
    FROM (
      SELECT cell, dd.d AS dim,
             SUM(CAST(round(e[dd.d] * 1000000.0) AS BIGINT)) AS s,
             COUNT(*) AS n
      FROM a{i}, (SELECT unnest(range(1, 65)) AS d) dd
      GROUP BY cell, dd.d) m
    GROUP BY cell) u USING (cell)
)"""


# the fixed-4-sweep training loop, unrolled (see q_ann_ivf_kmeans)
Q_ANN_IVF_KMEANS_SQL = ("""
WITH d AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
q AS (SELECT e AS qv FROM d WHERE vec_id = 0),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         e AS centroid
  FROM (SELECT vec_id, e FROM d ORDER BY vec_id LIMIT 32)
),""" + ",".join(_kmeans_sweep_sql(i) for i in range(1, 5)) + """,
assigned AS (
  SELECT vec_id, e, cell FROM (
    SELECT d.vec_id, d.e, c.cell,
           row_number() OVER (
             PARTITION BY d.vec_id
             ORDER BY coalesce(round(
               list_dot_product(d.e, c.centroid) /
               (sqrt(list_dot_product(d.e, d.e)) *
                sqrt(list_dot_product(c.centroid, c.centroid))), 6), -2.0)
               DESC, c.cell ASC
           ) AS rn
    FROM d, c4 c) t
  WHERE rn = 1
),
probed AS (
  SELECT cell
  FROM c4, q
  ORDER BY coalesce(round(list_dot_product(centroid, q.qv) /
             (sqrt(list_dot_product(centroid, centroid)) *
              sqrt(list_dot_product(q.qv, q.qv))), 6), -2.0) DESC,
           cell ASC
  LIMIT 8
)
SELECT a.vec_id AS vec_id, CAST(a.cell AS BIGINT) AS cell,
       round(list_dot_product(a.e, q.qv) /
             (sqrt(list_dot_product(a.e, a.e)) *
              sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
FROM assigned a JOIN probed USING (cell), q
ORDER BY cosine DESC, vec_id ASC
LIMIT 20
""")


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (annsearch.semantic_dedup): deterministic k-means cells
    (same trainer as ann_ivf_kmeans), then drop every vector with a
    smaller-id within-cell neighbor at cosine >= 0.35. Pairwise work never
    leaves a cell — the 100 TB shape (cluster count scales with N). The
    oracle unrolls the 4 training sweeps and replays the same pair rule."""
    e = _t(spark, sf_dir, "embeddings")
    return annsearch.semantic_dedup(
        e, threshold=0.35, k_cells=32, iters=4
    ).orderBy("vec_id")


Q_SEMANTIC_DEDUP_SQL = ("""
WITH d AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         e AS centroid
  FROM (SELECT vec_id, e FROM d ORDER BY vec_id LIMIT 32)
),""" + ",".join(_kmeans_sweep_sql(i) for i in range(1, 5)) + """,
assigned AS (
  SELECT vec_id, e, cell FROM (
    SELECT d.vec_id, d.e, c.cell,
           row_number() OVER (
             PARTITION BY d.vec_id
             ORDER BY coalesce(round(
               list_dot_product(d.e, c.centroid) /
               (sqrt(list_dot_product(d.e, d.e)) *
                sqrt(list_dot_product(c.centroid, c.centroid))), 6), -2.0)
               DESC, c.cell ASC
           ) AS rn
    FROM d, c4 c) t
  WHERE rn = 1
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM assigned a JOIN assigned b USING (cell)
  WHERE a.vec_id < b.vec_id
    AND round(list_dot_product(a.e, b.e) /
              (sqrt(list_dot_product(a.e, a.e)) *
               sqrt(list_dot_product(b.e, b.e))), 6) >= 0.35
)
SELECT a.vec_id AS vec_id, CAST(a.cell AS BIGINT) AS cell,
       (dr.vec_id IS NULL) AS is_kept
FROM assigned a LEFT JOIN dropped dr ON a.vec_id = dr.vec_id
ORDER BY a.vec_id
""")


def q_ann_join(spark, sf_dir):
    """Batch ANN join (annsearch.ann_join_topk): top-5 corpus neighbors
    for every query vector (the vec_id % 50 == 0 slice), IVF over the
    same trained k-means cells as ann_ivf_kmeans, nprobe=2. The oracle
    unrolls the 4 training sweeps and replays the probe and top-k rules
    with the same 6-dp rounding and id tie-breaks."""
    e = _t(spark, sf_dir, "embeddings")
    return annsearch.ann_join_topk(
        e, e.filter(F.col("vec_id") % 50 == 0),
        k=5, nprobe=2, k_cells=32, iters=4,
    ).orderBy("query_id", "rank")


Q_ANN_JOIN_SQL = ("""
WITH d AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         e AS centroid
  FROM (SELECT vec_id, e FROM d ORDER BY vec_id LIMIT 32)
),""" + ",".join(_kmeans_sweep_sql(i) for i in range(1, 5)) + """,
assigned AS (
  SELECT vec_id, e, cell FROM (
    SELECT d.vec_id, d.e, c.cell,
           row_number() OVER (
             PARTITION BY d.vec_id
             ORDER BY coalesce(round(
               list_dot_product(d.e, c.centroid) /
               (sqrt(list_dot_product(d.e, d.e)) *
                sqrt(list_dot_product(c.centroid, c.centroid))), 6), -2.0)
               DESC, c.cell ASC
           ) AS rn
    FROM d, c4 c) t
  WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, e AS qe FROM d WHERE vec_id % 50 = 0),
probe AS (
  SELECT query_id, qe, cell FROM (
    SELECT q.query_id, q.qe, c.cell,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY coalesce(round(
               list_dot_product(q.qe, c.centroid) /
               (sqrt(list_dot_product(q.qe, q.qe)) *
                sqrt(list_dot_product(c.centroid, c.centroid))), 6), -2.0)
               DESC, c.cell ASC
           ) AS rn
    FROM q, c4 c) t
  WHERE rn <= 2
),
cand AS (
  SELECT p.query_id, a.vec_id,
         round(list_dot_product(p.qe, a.e) /
               (sqrt(list_dot_product(p.qe, p.qe)) *
                sqrt(list_dot_product(a.e, a.e))), 6) AS cosine
  FROM probe p JOIN assigned a USING (cell)
)
SELECT query_id, vec_id, cosine, CAST(rn AS BIGINT) AS rank FROM (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC
         ) AS rn
  FROM cand) t
WHERE rn <= 5 ORDER BY query_id, rn
""")


def q_url_admission_distributed(spark, sf_dir):
    """D1-D3 with the DISTRIBUTED variant's presets
    (FilterConfig.distributed): URL length cap 100
    (DistributedURLFilterBolt.java:45) and the wiki/wiktionary/
    stackoverflow lang gate (DistributedURLFilterBolt.java:95). The
    synthetic url mix hits every arm: wiki hosts in both languages, a
    gated stackoverflow host, >100-char padded urls, deep paths, and a
    banned host."""
    d = _t(spark, sf_dir, "documents")
    host = (
        F.when(F.col("doc_id") % 13 == 0,
               F.concat(F.lit("de.wiki"), F.col("source"), F.lit(".org")))
        .when(F.col("doc_id") % 13 == 1,
              F.concat(F.lit("en.wiki"), F.col("source"), F.lit(".org")))
        .when(F.col("doc_id") % 13 == 2,
              F.concat(F.lit("de.wiktionary"), F.col("source"),
                       F.lit(".org")))
        .when(F.col("doc_id") % 13 == 3,
              F.concat(F.lit("stackoverflow."), F.col("source"),
                       F.lit(".com")))
        .otherwise(F.concat(F.col("source"), F.lit(".example.com")))
    )
    seg = F.when(
        F.col("doc_id") % 19 == 0, F.lit("/a/b/c/d/e/f")
    ).otherwise(F.lit(""))
    pad = F.when(
        F.col("doc_id") % 17 == 0,
        F.concat(F.lit("?pad="), F.repeat(F.lit("x"), 120)),
    ).otherwise(F.lit(""))
    path = F.concat(
        seg, F.lit("/d"), F.col("doc_id").cast("string"), F.lit(".html")
    )
    u = d.select(
        "doc_id",
        F.concat(
            F.lit("http://"), host, F.lit(":80"), path, pad
        ).alias("url_norm"),
        host.alias("host"),
        F.size(F.split(path, "/")).alias("path_depth"),
    )
    cfg = FilterConfig.distributed(banned_hosts=("src1.example.com",))
    return u.filter(admission_predicate(cfg)).select("doc_id", "url_norm")


Q_URL_ADMISSION_DISTRIBUTED_SQL = """
WITH u AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN 'de.wiki' || source || '.org'
              WHEN doc_id % 13 = 1 THEN 'en.wiki' || source || '.org'
              WHEN doc_id % 13 = 2 THEN 'de.wiktionary' || source || '.org'
              WHEN doc_id % 13 = 3 THEN 'stackoverflow.' || source || '.com'
              ELSE source || '.example.com' END AS host,
         (CASE WHEN doc_id % 19 = 0 THEN '/a/b/c/d/e/f' ELSE '' END)
           || '/d' || CAST(doc_id AS VARCHAR) || '.html' AS path,
         CASE WHEN doc_id % 17 = 0 THEN '?pad=' || repeat('x', 120)
              ELSE '' END AS pad
  FROM documents
)
SELECT doc_id, 'http://' || host || ':80' || path || pad AS url_norm
FROM u
WHERE length('http://' || host || ':80' || path || pad) <= 100
  AND len(string_split(path, '/')) <= 5
  AND host <> 'src1.example.com'
  AND NOT (host LIKE '%wiki%' AND host NOT LIKE 'en%')
  AND NOT (host LIKE '%wiktionary%' AND host NOT LIKE 'en%')
  AND NOT (host LIKE '%stackoverflow%' AND host NOT LIKE 'en%')
"""


def q_recrawl_304(spark, sf_dir):
    """F1 304/If-Modified-Since branch (CrawlerBolt.java:460-485): classify
    each page of the current pass against the previous pass's doc cache —
    the decision arm of engine._run_round's ``not_mod`` predicate
    (sparkcrawl/engine.py, pre_action). Synthetic clock: every doc carries
    warc_ts = epoch + (doc_id % 11) days; docs with doc_id % 7 == 0 were
    modified since (+30 days); the cache holds docs with doc_id % 3 != 0
    at the base clock. cached+unchanged -> not_modified (HEAD 304, reuse
    cached doc, toStore=false); cached+newer -> refetch; uncached -> new."""
    d = _t(spark, sf_dir, "documents")
    cur = d.selectExpr(
        "doc_id",
        "timestamp'2024-01-01 00:00:00' + make_dt_interval(CAST("
        "doc_id % 11 + CASE WHEN doc_id % 7 = 0 THEN 30 ELSE 0 END"
        " AS INT)) AS warc_ts",
    )
    cache = d.filter("doc_id % 3 <> 0").selectExpr(
        "doc_id",
        "timestamp'2024-01-01 00:00:00' + "
        "make_dt_interval(CAST(doc_id % 11 AS INT)) AS cached_ts",
    )
    j = cur.join(cache, "doc_id", "left")
    not_mod = F.col("cached_ts").isNotNull() & (
        F.col("warc_ts") <= F.col("cached_ts")
    )
    action = (
        F.when(not_mod, F.lit("not_modified"))
        .when(F.col("cached_ts").isNotNull(), F.lit("refetch"))
        .otherwise(F.lit("new"))
    )
    return j.select("doc_id", action.alias("action"))


Q_RECRAWL_304_SQL = """
WITH cur AS (
  SELECT doc_id,
         TIMESTAMP '2024-01-01' + (doc_id % 11 +
           CASE WHEN doc_id % 7 = 0 THEN 30 ELSE 0 END) * INTERVAL 1 DAY
           AS warc_ts
  FROM documents
),
cache AS (
  SELECT doc_id,
         TIMESTAMP '2024-01-01' + (doc_id % 11) * INTERVAL 1 DAY AS cached_ts
  FROM documents WHERE doc_id % 3 <> 0
)
SELECT c.doc_id AS doc_id,
       CASE WHEN k.cached_ts IS NOT NULL AND c.warc_ts <= k.cached_ts
              THEN 'not_modified'
            WHEN k.cached_ts IS NOT NULL THEN 'refetch'
            ELSE 'new' END AS action
FROM cur c LEFT JOIN cache k ON c.doc_id = k.doc_id
"""


# ---------------------------------------------------------------------------

def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS from LSH pairs: distributed connected components
    (alternating large-star/small-star, components.py) labels every document
    with its component's min doc_id; canonical = the minimum (keep-one-per-
    cluster dedup policy). Pairs use the md5-keyed minhash variant so the
    oracle rebuilds identical buckets; the closure itself is algorithm-
    independent (min-id labeling has a unique fixpoint), so the oracle's
    recursive CTE must agree exactly."""
    from sparkcrawl.components import dedup_clusters

    d = _t(spark, sf_dir, "documents")
    pairs = textops.lsh_candidate_pairs(d, n_hashes=16, bands=8, hash_fn="md5")
    return dedup_clusters(d, pairs).orderBy("doc_id")


Q_DEDUP_CLUSTERS_SQL = """
WITH RECURSIVE expl AS (
  SELECT doc_id, unnest(
    [tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
     for i in range(1, greatest(len(tokens) - 1, 1))]) AS s
  FROM (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tokens
    FROM documents
  )
),
ks AS (SELECT unnest(range(0, 16)) AS k),
sig AS (
  SELECT e.doc_id, ks.k,
         MIN(md5(CAST(ks.k AS VARCHAR) || ':' || e.s)) AS mh
  FROM expl e CROSS JOIN ks
  GROUP BY e.doc_id, ks.k
),
band AS (
  SELECT doc_id, k // 2 AS band,
         md5(string_agg(mh, ',' ORDER BY k)) AS bucket
  FROM sig GROUP BY doc_id, k // 2
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band a JOIN band b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
sym AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM sym) t
  UNION
  SELECT reach.u, sym.v FROM reach JOIN sym ON reach.r = sym.u
),
comp AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u)
SELECT d.doc_id,
       COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
       COALESCE(c.cluster_id, d.doc_id) = d.doc_id AS is_canonical
FROM documents d LEFT JOIN comp c USING (doc_id)
ORDER BY d.doc_id
"""


def q_windowed_lsh_pairs(spark, sf_dir):
    """Windowed MinHash-LSH near-dup candidates (streaming_lsh_pairs run
    in its batch shape — the SAME function the AvailableNow stream runs,
    with stream==batch equality tested in tests/test_streaming.py, so
    this oracle row transitively verifies the streaming operator): docs
    landing in the same 60 s tumbling event-time window that share an
    (band, bucket) LSH key, deduped across bands with the agreement
    count. Event time synthesized as epoch 1700000000 + doc_id % 120 (two
    windows); windows reported as epoch seconds — pure integer math both
    engines."""
    from sparkcrawl.streaming import streaming_lsh_pairs

    d = _t(spark, sf_dir, "documents").withColumn(
        "ts",
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") % 120),
    )
    out = streaming_lsh_pairs(d, n_hashes=16, bands=8, hash_fn="md5")
    return out.select(
        F.col("win_start").cast("long").alias("win_start_s"),
        F.col("win_end").cast("long").alias("win_end_s"),
        "doc_a",
        "doc_b",
        F.col("n_bands").cast("long").alias("n_bands"),
    ).orderBy("win_start_s", "doc_a", "doc_b")


Q_WINDOWED_LSH_PAIRS_SQL = """
WITH expl AS (
  SELECT doc_id, unnest(
    [tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
     for i in range(1, greatest(len(tokens) - 1, 1))]) AS s
  FROM (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tokens
    FROM documents
  )
),
ks AS (SELECT unnest(range(0, 16)) AS k),
sig AS (
  SELECT e.doc_id, ks.k,
         MIN(md5(CAST(ks.k AS VARCHAR) || ':' || e.s)) AS mh
  FROM expl e CROSS JOIN ks
  GROUP BY e.doc_id, ks.k
),
band AS (
  SELECT doc_id, k // 2 AS band,
         md5(string_agg(mh, ',' ORDER BY k)) AS bucket
  FROM sig GROUP BY doc_id, k // 2
),
win AS (
  SELECT doc_id,
         ((1700000000 + doc_id % 120) // 60) * 60 AS ws
  FROM documents
),
agg AS (
  SELECT wa.ws, a.doc_id AS doc_a, b.doc_id AS doc_b,
         COUNT(*) AS n_bands
  FROM band a
  JOIN band b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
  JOIN win wa ON wa.doc_id = a.doc_id
  JOIN win wb ON wb.doc_id = b.doc_id AND wb.ws = wa.ws
  GROUP BY wa.ws, a.doc_id, b.doc_id
)
SELECT CAST(ws AS BIGINT) AS win_start_s,
       CAST(ws + 60 AS BIGINT) AS win_end_s,
       doc_a, doc_b, CAST(n_bands AS BIGINT) AS n_bands
FROM agg ORDER BY win_start_s, doc_a, doc_b
"""


def q_dedup_survivors(spark, sf_dir):
    """Near-dup dedup APPLIED (components.dedup_survivors): one row per
    surviving document with the cluster's member count and char
    accounting — the corpus-shrink report of a keep-one-per-cluster run.
    Same md5-keyed LSH pairs as `dedup_clusters`, so the oracle rebuilds
    identical buckets; accounting is integer-only (counts + char sums)."""
    from sparkcrawl.components import dedup_survivors

    d = _t(spark, sf_dir, "documents")
    pairs = textops.lsh_candidate_pairs(d, n_hashes=16, bands=8, hash_fn="md5")
    return dedup_survivors(d, pairs).orderBy("doc_id")


Q_DEDUP_SURVIVORS_SQL = """
WITH RECURSIVE expl AS (
  SELECT doc_id, unnest(
    [tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]
     for i in range(1, greatest(len(tokens) - 1, 1))]) AS s
  FROM (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tokens
    FROM documents
  )
),
ks AS (SELECT unnest(range(0, 16)) AS k),
sig AS (
  SELECT e.doc_id, ks.k,
         MIN(md5(CAST(ks.k AS VARCHAR) || ':' || e.s)) AS mh
  FROM expl e CROSS JOIN ks
  GROUP BY e.doc_id, ks.k
),
band AS (
  SELECT doc_id, k // 2 AS band,
         md5(string_agg(mh, ',' ORDER BY k)) AS bucket
  FROM sig GROUP BY doc_id, k // 2
),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band a JOIN band b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
sym AS (
  SELECT doc_a AS u, doc_b AS v FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
reach(u, r) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM sym) t
  UNION
  SELECT reach.u, sym.v FROM reach JOIN sym ON reach.r = sym.u
),
comp AS (SELECT u AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY u),
lab AS (
  SELECT d.doc_id,
         COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
         length(d.text) AS len
  FROM documents d LEFT JOIN comp c USING (doc_id)
)
SELECT cluster_id AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS cluster_size,
       CAST(SUM(len) AS BIGINT) AS cluster_chars,
       CAST(SUM(CASE WHEN lab.doc_id <> cluster_id THEN len ELSE 0 END)
            AS BIGINT) AS chars_dropped
FROM lab GROUP BY cluster_id ORDER BY doc_id
"""


def q_contamination(spark, sf_dir):
    """Test-set decontamination: flag training documents sharing any 5-gram
    with the held-out eval split (doc_id % 7 == 0 — synthesized split, same
    expression both sides). The banned-shingle set is hashed (md5) and
    BROADCAST — eval sets are tiny next to a 100 TB corpus, so the scan-side
    semi-join never shuffles the corpus. Standard n-gram-overlap
    decontamination (GPT-3 appendix C / Dodge et al. 2021, "Documenting
    Large Webtext Corpora")."""
    d = _t(spark, sf_dir, "documents")
    sh = (
        textops.with_shingles(d, n=5)
        .select("doc_id", F.explode("shingles").alias("s"))
        .distinct()
        .select("doc_id", F.md5("s").alias("g"))
    )
    banned = (
        sh.filter(F.col("doc_id") % 7 == 0).select("g").distinct()
    )
    hits = (
        sh.filter(F.col("doc_id") % 7 != 0)
        .join(F.broadcast(banned), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_banned"))
    )
    train = d.filter(F.col("doc_id") % 7 != 0).select("doc_id")
    return (
        train.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_banned"), F.lit(0)).alias("n_banned"),
            (F.coalesce(F.col("n_banned"), F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
        .orderBy("doc_id")
    )


Q_CONTAMINATION_SQL = """
WITH expl AS (
  SELECT DISTINCT doc_id, md5(unnest(
    [tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2] || ' ' ||
     tokens[i+3] || ' ' || tokens[i+4]
     for i in range(1, greatest(len(tokens) - 3, 1))])) AS g
  FROM (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS tokens
    FROM documents
  )
),
banned AS (SELECT DISTINCT g FROM expl WHERE doc_id % 7 = 0),
hits AS (
  SELECT e.doc_id, COUNT(*) AS n_banned
  FROM expl e JOIN banned b USING (g)
  WHERE e.doc_id % 7 <> 0
  GROUP BY e.doc_id
)
SELECT d.doc_id,
       COALESCE(h.n_banned, 0) AS n_banned,
       COALESCE(h.n_banned, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % 7 <> 0
ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# corpus curation: sampling / mix / repetition / shard packing
# ---------------------------------------------------------------------------

def q_stratified_sample(spark, sf_dir):
    """Deterministic per-language stratified sampling (curation.py): keep a
    doc iff the first 4 hex digits of md5('samp:' || doc_id) sort below the
    language's rate threshold (en 1/2, de/fr 1/4, default 1/8). A pure
    filter — no shuffle, reproducible on any cluster size, and the oracle
    re-derives the exact kept set from the same md5."""
    from sparkcrawl import curation

    d = _t(spark, sf_dir, "documents")
    return curation.stratified_sample(d).orderBy("doc_id")


Q_STRATIFIED_SAMPLE_SQL = """
SELECT doc_id, lang AS stratum, bucket
FROM (
  SELECT doc_id, lang,
         substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 4) AS bucket
  FROM documents
)
WHERE bucket < CASE lang WHEN 'en' THEN '8000'
                         WHEN 'de' THEN '4000'
                         WHEN 'fr' THEN '4000'
                         ELSE '2000' END
ORDER BY doc_id
"""


def q_domain_mix(spark, sf_dir):
    """Corpus mix report (curation.py): docs / chars / corpus share per
    (source, lang) cell. Single partial-combined aggregation; the total
    joins back as a 1-row broadcast."""
    from sparkcrawl import curation

    d = _t(spark, sf_dir, "documents")
    return curation.domain_mix(d).orderBy("source", "lang")


Q_DOMAIN_MIX_SQL = """
WITH g AS (
  SELECT source, lang, COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM documents GROUP BY source, lang
)
SELECT source, lang, n_docs, total_chars,
       round(CAST(n_docs AS DOUBLE) / (SELECT SUM(n_docs) FROM g), 6)
         AS share
FROM g ORDER BY source, lang
"""


def q_rep_metrics(spark, sf_dir):
    """Gopher-style repetition signals (textops.rep_metrics): duplicate-
    token ratio + most-frequent-bigram share per doc. The bigram mode runs
    as explode -> double partial aggregation (never an O(n^2) per-row array
    scan), so it holds for MB-long docs at corpus scale."""
    d = _t(spark, sf_dir, "documents")
    return textops.rep_metrics(d).orderBy("doc_id")


Q_REP_METRICS_SQL = """
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
u AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bg
  FROM t WHERE len(toks) >= 2
),
c AS (SELECT doc_id, bg, COUNT(*) AS c FROM u GROUP BY doc_id, bg),
a AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_bg FROM c GROUP BY doc_id)
SELECT t.doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       round(1 - CAST(len(list_distinct(toks)) AS DOUBLE)
               / greatest(len(toks), 1), 6) AS dup_token_ratio,
       round(COALESCE(CAST(top_c AS DOUBLE) / n_bg, 0.0), 6)
         AS top_bigram_share
FROM t LEFT JOIN a USING (doc_id)
ORDER BY t.doc_id
"""


def q_shard_packing(spark, sf_dir):
    """Token-budget training-shard assignment (curation.pack_shards): docs
    in doc_id order, shard = the 1024-token shard containing the doc's
    start offset. The running total uses the partition-free prefix-sum
    (range repartition + per-partition sums + driver-side prefix over one
    long per partition — engine.dense_seq's shape), never a one-task
    global window."""
    from sparkcrawl import curation

    d = textops.with_tokens(_t(spark, sf_dir, "documents")).select(
        "doc_id", F.size("tokens").alias("n_tokens")
    )
    return curation.pack_shards(d, budget=1024).orderBy("doc_id")


Q_SHARD_PACKING_SQL = """
WITH t AS (
  SELECT doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
           AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
  FROM t
)
SELECT doc_id, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST((cum_tokens - n_tokens) // 1024 AS BIGINT) AS shard_id
FROM c ORDER BY doc_id
"""


def q_boilerplate_ngrams(spark, sf_dir):
    """Cross-document boilerplate (textops.boilerplate_ngrams): token
    bigrams occurring in >= 3 distinct docs of the same source are
    boilerplate; report each doc's distinct-gram count and boilerplate
    fraction. The (source, gram) count partial-combines map-side and the
    rejoin is a semi-join on the same key — no all-pairs work, the C4/
    RefinedWeb line-dedup shape at corpus scale."""
    d = _t(spark, sf_dir, "documents")
    return textops.boilerplate_ngrams(d, n=2, min_docs=3).orderBy("doc_id")


Q_BOILERPLATE_NGRAMS_SQL = r"""
WITH t AS (
  SELECT doc_id, source,
         list_distinct(list_transform(range(1, len(toks)),
                                      i -> toks[i] || ' ' || toks[i+1]))
           AS grams
  FROM (SELECT doc_id, source,
               regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents)
),
g AS (SELECT doc_id, source, unnest(grams) AS gram FROM t),
c AS (SELECT source, gram FROM g GROUP BY source, gram
      HAVING COUNT(*) >= 3),
nb AS (SELECT g.doc_id, COUNT(*) AS n_boiler
       FROM g JOIN c USING (source, gram) GROUP BY g.doc_id)
SELECT t.doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       CAST(COALESCE(nb.n_boiler, 0) AS BIGINT) AS n_boiler,
       round(CAST(COALESCE(nb.n_boiler, 0) AS DOUBLE)
             / greatest(len(grams), 1), 6) AS boiler_frac
FROM t LEFT JOIN nb USING (doc_id) ORDER BY t.doc_id
"""


def q_dup_spans(spark, sf_dir):
    """ExactSubstr-style duplicated-span stats (textops.dup_spans, n=5):
    a token position starts a duplicated window when its 5-gram occurs
    >= 2 times corpus-wide; overlapping windows merge into maximal spans.
    Per doc: token count, merged span count, duplicated-token union size,
    duplicated fraction. The Lee et al. 2022 dedup signal without a
    distributed suffix array: one gram-hash shuffle + per-doc JVM interval
    math."""
    d = _t(spark, sf_dir, "documents")
    return textops.dup_spans(d, n=5).orderBy("doc_id")


Q_DUP_SPANS_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
),
base AS (SELECT doc_id, len(toks) AS n_tokens FROM t),
g AS (
  SELECT doc_id,
         list_transform(range(1, len(toks) - 3), i ->
           struct_pack(pos := i - 1,
                       gram := array_to_string(toks[i:i+4], ' '))) AS gs
  FROM t
),
p AS (SELECT doc_id, unnest(gs, recursive := true) FROM g),
c AS (SELECT gram FROM p GROUP BY gram HAVING COUNT(*) >= 2),
d AS (SELECT p.doc_id, p.pos FROM p JOIN c USING (gram)),
o AS (
  SELECT doc_id,
         pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS gap
  FROM d
),
m AS (
  SELECT doc_id,
         1 + SUM(CASE WHEN gap > 5 THEN 1 ELSE 0 END) AS n_dup_spans,
         5 + SUM(CASE WHEN gap IS NULL THEN 0
                      ELSE least(gap, 5) END) AS n_dup_tokens
  FROM o GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(b.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(m.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(COALESCE(m.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
       round(CAST(COALESCE(m.n_dup_tokens, 0) AS DOUBLE)
             / greatest(b.n_tokens, 1), 6) AS dup_frac
FROM base b LEFT JOIN m USING (doc_id) ORDER BY b.doc_id
"""


def q_gopher_rules(spark, sf_dir):
    """Gopher document-quality rules (curation.gopher_rules): word-count /
    mean-word-length bounds, symbol ratio, bullet- and ellipsis-line
    fractions, alpha-word fraction, required-stopword floor, and the
    combined gate. The synthetic docs carry no newlines, stopword variety,
    or symbols, so the query injects deterministic doc_id-derived arms
    (stopwords on %3, bullet+ellipsis lines on %5, '###' on %7) and the
    oracle injects the identical text — every rule exercises both ways.
    All thresholds test as integer cross-multiplications: the pass set is
    engine-exact, never a float-rounding artifact."""
    from sparkcrawl import curation

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(" and that of")).otherwise(
                F.lit("")
            ),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("\n- bullet item\ntrailing thought..."),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit(" ###")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return (
        curation.gopher_rules(d)
        .select(
            "doc_id", "n_words", "mean_word_len", "symbol_to_word",
            "bullet_line_frac", "ellipsis_line_frac", "alpha_word_frac",
            "n_stop_hits", "passes_gopher",
        )
        .orderBy("doc_id")
    )


Q_GOPHER_RULES_SQL = r"""
WITH inj AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0 THEN ' and that of' ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN chr(10) || '- bullet item' || chr(10)
                      || 'trailing thought...' ELSE '' END
         || CASE WHEN doc_id % 7 = 0 THEN ' ###' ELSE '' END AS text
  FROM documents
),
f AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\s+') AS toks,
         string_split(text, chr(10)) AS lines,
         (length(text) - length(replace(text, '#', '')))
         + (length(text) - length(replace(text, '...', ''))) // 3
         + (length(text) - length(replace(text, '…', ''))) AS n_sym
  FROM inj
),
g AS (
  SELECT doc_id,
         len(toks) AS n_words,
         list_sum(list_transform(toks, x -> length(x))) AS sum_len,
         n_sym,
         len(lines) AS n_lines,
         len(list_filter(lines,
             l -> substr(ltrim(l), 1, 1) IN ('•', '-', '*'))) AS n_bullet,
         len(list_filter(lines,
             l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…'))
           AS n_ellip_end,
         len(list_filter(toks,
             x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
         len(list_filter(
             ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
             s -> list_contains(list_transform(toks, x -> lower(x)), s)))
           AS n_stop
  FROM f
)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       round(CAST(COALESCE(sum_len, 0) AS DOUBLE)
             / greatest(n_words, 1), 6) AS mean_word_len,
       round(CAST(n_sym AS DOUBLE) / greatest(n_words, 1), 6)
         AS symbol_to_word,
       round(CAST(n_bullet AS DOUBLE) / n_lines, 6) AS bullet_line_frac,
       round(CAST(n_ellip_end AS DOUBLE) / n_lines, 6)
         AS ellipsis_line_frac,
       round(CAST(n_alpha AS DOUBLE) / greatest(n_words, 1), 6)
         AS alpha_word_frac,
       CAST(n_stop AS BIGINT) AS n_stop_hits,
       (n_words >= 50 AND n_words <= 100000
        AND COALESCE(sum_len, 0) >= 3 * n_words
        AND COALESCE(sum_len, 0) <= 10 * n_words
        AND 10 * n_sym <= n_words
        AND 10 * n_bullet <= 9 * n_lines
        AND 10 * n_ellip_end <= 3 * n_lines
        AND 5 * n_alpha >= 4 * n_words
        AND n_stop >= 2) AS passes_gopher
FROM g ORDER BY doc_id
"""


def q_c4_filters(spark, sf_dir):
    """C4 line-level cleaning (curation.c4_line_filters): the synthetic
    docs carry no newlines/punctuation, so the query injects deterministic
    doc_id-derived lines — a kept base line ('.'), an always-dropped short
    line, a no-terminal line on %3, a kept '!' line on %5, a brace flag on
    %7, a 'lorem ipsum' phrase line on %11, a blocklist token line on %13
    — and the oracle injects the identical text, so every predicate
    (word-count floor, terminal set, each page flag) exercises both ways.
    min_kept_lines=2 so the pass set is non-trivial at fixture scale. All
    tests are exact string predicates — engine-exact by construction."""
    from sparkcrawl import curation

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("."),
            F.lit("\nshort line."),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("\nno terminal punctuation on this line here"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("\nanother well formed sentence with words!"),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit("\ncurly { badness }"))
            .otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.lit("\nlorem ipsum dolor sit amet text."),
            ).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0, F.lit("\nxxx")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    return (
        curation.c4_line_filters(d, min_kept_lines=2)
        .select(
            "doc_id", "n_lines", "n_kept_lines", "clean_text",
            "has_phrase_flag", "has_brace", "n_badwords", "passes_c4",
        )
        .orderBy("doc_id")
    )


Q_C4_FILTERS_SQL = r"""
WITH inj AS (
  SELECT doc_id,
         text || '.'
         || chr(10) || 'short line.'
         || CASE WHEN doc_id % 3 = 0
                 THEN chr(10) || 'no terminal punctuation on this line here'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN chr(10) || 'another well formed sentence with words!'
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN chr(10) || 'curly { badness }' ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN chr(10) || 'lorem ipsum dolor sit amet text.'
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'xxx' ELSE '' END
           AS text
  FROM documents
),
f AS (
  SELECT doc_id, text,
         string_split(text, chr(10)) AS lines,
         list_filter(string_split(text, chr(10)),
           l -> len(regexp_split_to_array(trim(l), '\s+')) >= 5
                AND substr(rtrim(l), length(rtrim(l)), 1)
                    IN ('.', '!', '?', '"')) AS kept
  FROM inj
)
SELECT doc_id,
       CAST(len(lines) AS BIGINT) AS n_lines,
       CAST(len(kept) AS BIGINT) AS n_kept_lines,
       array_to_string(kept, chr(10)) AS clean_text,
       (contains(lower(text), 'lorem ipsum')
        OR contains(lower(text), 'javascript')) AS has_phrase_flag,
       contains(text, '{') AS has_brace,
       CAST(len(list_filter(
           list_transform(regexp_split_to_array(trim(text), '\s+'),
                          x -> lower(x)),
           x -> x IN ('xxx', 'porn'))) AS BIGINT) AS n_badwords,
       (len(kept) >= 2
        AND NOT (contains(lower(text), 'lorem ipsum')
                 OR contains(lower(text), 'javascript'))
        AND NOT contains(text, '{')
        AND len(list_filter(
            list_transform(regexp_split_to_array(trim(text), '\s+'),
                           x -> lower(x)),
            x -> x IN ('xxx', 'porn'))) = 0) AS passes_c4
FROM f ORDER BY doc_id
"""


def q_unigram_surprisal(spark, sf_dir):
    """Corpus-trained unigram LM scoring (textops.unigram_surprisal): per
    doc the mean token surprisal ln(N/count) in nats — the CCNet
    perplexity-bucket axis with the LM trained on the corpus itself.
    Surprisal is integer-quantized per distinct token before the per-doc
    sum, so the aggregation is exact integer math on any engine/cluster."""
    d = _t(spark, sf_dir, "documents")
    return textops.unigram_surprisal(d).orderBy("doc_id")


Q_UNIGRAM_SURPRISAL_SQL = r"""
WITH t AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(trim(text), '\s+'),
                        x -> lower(x)) AS toks
  FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
c AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
tot AS (SELECT SUM(cnt) AS n FROM c),
s AS (
  SELECT tok,
         CAST(round(ln(CAST(tot.n AS DOUBLE) / cnt) * 1000000.0) AS BIGINT)
           AS surp_q
  FROM c, tot
),
p AS (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(surp_q) AS sum_surp_q
  FROM tok JOIN s USING (tok) GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(sum_surp_q AS BIGINT) AS sum_surp_q,
       CAST(sum_surp_q // n_tokens AS BIGINT) AS mean_surp_q
FROM p ORDER BY doc_id
"""


BM25_QUERY_TERMS = ("vector", "stream", "dup", "customer")


def q_bm25_search(spark, sf_dir):
    """BM25 ranked retrieval (textops.bm25_search) for a fixed 4-term
    query over the documents table: top-20 docs by (score desc, doc_id).
    Per-(doc, term) scores are quantized to integer micro-units before the
    per-doc sum, so the ranking (and the top-k cut) is engine-exact; the
    physical plan is a TakeOrdered over the scored hits — no global sort,
    nothing corpus-sized crosses a single task."""
    d = _t(spark, sf_dir, "documents")
    return textops.bm25_search(d, list(BM25_QUERY_TERMS), k=20)


Q_BM25_SEARCH_SQL = r"""
WITH t AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(trim(text), '\s+'),
                        x -> lower(x)) AS toks
  FROM documents
),
d AS (
  SELECT doc_id, len(toks) AS dl,
         list_filter(toks,
             x -> x IN ('vector', 'stream', 'dup', 'customer')) AS hits
  FROM t
),
tf AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf
  FROM (SELECT doc_id, dl, unnest(hits) AS term FROM d)
  GROUP BY doc_id, dl, term
),
dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
tot AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM d),
s AS (
  SELECT doc_id,
         CAST(round(
           ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * (tf * 2.2)
           / (tf + 1.2 * (1.0 - 0.75
                          + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
           * 1000000.0) AS BIGINT) AS s_q
  FROM tf JOIN dft USING (term), tot
),
p AS (
  SELECT doc_id, COUNT(*) AS n_terms_hit, SUM(s_q) AS score_q
  FROM s GROUP BY doc_id
)
SELECT doc_id, CAST(n_terms_hit AS BIGINT) AS n_terms_hit,
       CAST(score_q AS BIGINT) AS score_q
FROM p ORDER BY score_q DESC, doc_id LIMIT 20
"""


def q_corpus_shuffle(spark, sf_dir):
    """Deterministic corpus shuffle (curation.deterministic_shuffle): the
    pre-training global permutation as md5(salt:doc_id) rank — exact
    global position via the partition-free running-total machinery, never
    a single-partition ORDER BY window. The oracle re-derives the
    identical permutation with a plain row_number."""
    from sparkcrawl import curation

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return curation.deterministic_shuffle(d).orderBy("pos")


Q_CORPUS_SHUFFLE_SQL = """
SELECT doc_id,
       md5('shuf:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
       CAST(row_number() OVER (
         ORDER BY md5('shuf:' || CAST(doc_id AS VARCHAR)), doc_id
       ) AS BIGINT) AS pos
FROM documents ORDER BY pos
"""


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (curation.dsir_weights): hashed-bigram
    log-likelihood-ratio scores against the target model fit on the
    lang='en' slice, raw model on the whole corpus. Per-bucket log ratios
    are quantized to integer micro-nats before the per-doc sum, so the
    target_like gate is engine-exact; the md5-3-hex bucket (B=4096) is
    the same cross-engine idiom as the HLL sketch."""
    from sparkcrawl import curation

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("lang") == "en").alias("is_target")
    )
    return curation.dsir_weights(d).orderBy("doc_id")


Q_DSIR_WEIGHTS_SQL = r"""
WITH t AS (
  SELECT doc_id, (lang = 'en') AS is_t,
         list_transform(regexp_split_to_array(trim(text), '\s+'),
                        x -> lower(x)) AS toks
  FROM documents
),
g AS (
  SELECT doc_id, is_t, toks[i] || ' ' || toks[i + 1] AS gram
  FROM t, UNNEST(range(1, len(toks))) AS r(i)
),
f AS (
  SELECT doc_id, is_t,
         (strpos('0123456789abcdef', substr(md5(gram), 1, 1)) - 1) * 256
         + (strpos('0123456789abcdef', substr(md5(gram), 2, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(md5(gram), 3, 1)) - 1)
           AS bucket
  FROM g
),
c AS (
  SELECT bucket, COUNT(*) AS cnt_r,
         SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS cnt_t
  FROM f GROUP BY bucket
),
tot AS (SELECT SUM(cnt_r) AS nr, SUM(cnt_t) AS nt FROM c),
lam AS (
  SELECT bucket,
         CAST(round(ln(CAST((cnt_t + 1) * (nr + 4096) AS DOUBLE)
                       / CAST((cnt_r + 1) * (nt + 4096) AS DOUBLE))
                    * 1000000.0) AS BIGINT) AS lam_q
  FROM c, tot
),
p AS (
  SELECT doc_id, COUNT(*) AS n_feats, SUM(lam_q) AS weight_q
  FROM f JOIN lam USING (bucket) GROUP BY doc_id
)
SELECT t.doc_id, t.is_t AS is_target,
       CAST(COALESCE(p.n_feats, 0) AS BIGINT) AS n_feats,
       CAST(COALESCE(p.weight_q, 0) AS BIGINT) AS weight_q,
       (COALESCE(p.weight_q, 0) > 0) AS target_like
FROM t LEFT JOIN p USING (doc_id) ORDER BY t.doc_id
"""


def q_dsir_resample(spark, sf_dir):
    """DSIR's Gumbel top-k SELECTION step (curation.dsir_resample): the
    top 200 docs by weight + Gumbel(0,1) noise — a deterministic
    weight-proportional sample without replacement. The uniform is
    md5("gum:"||doc_id) -> (int+0.5)/2^32, the key is quantized to
    integer micro-nats, ties break on doc_id; the physical plan is a
    TakeOrdered, never a global sort."""
    from sparkcrawl import curation

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("lang") == "en").alias("is_target")
    )
    return curation.dsir_resample(d, k=200)


Q_DSIR_RESAMPLE_SQL = r"""
WITH t AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(trim(text), '\s+'),
                        x -> lower(x)) AS toks,
         (lang = 'en') AS is_t
  FROM documents
),
g AS (
  SELECT doc_id, is_t, toks[i] || ' ' || toks[i + 1] AS gram
  FROM t, UNNEST(range(1, len(toks))) AS r(i)
),
f AS (
  SELECT doc_id, is_t,
         (strpos('0123456789abcdef', substr(md5(gram), 1, 1)) - 1) * 256
         + (strpos('0123456789abcdef', substr(md5(gram), 2, 1)) - 1) * 16
         + (strpos('0123456789abcdef', substr(md5(gram), 3, 1)) - 1)
           AS bucket
  FROM g
),
c AS (
  SELECT bucket, COUNT(*) AS cnt_r,
         SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS cnt_t
  FROM f GROUP BY bucket
),
tot AS (SELECT SUM(cnt_r) AS nr, SUM(cnt_t) AS nt FROM c),
lam AS (
  SELECT bucket,
         CAST(round(ln(CAST((cnt_t + 1) * (nr + 4096) AS DOUBLE)
                       / CAST((cnt_r + 1) * (nt + 4096) AS DOUBLE))
                    * 1000000.0) AS BIGINT) AS lam_q
  FROM c, tot
),
p AS (
  SELECT doc_id, SUM(lam_q) AS weight_q
  FROM f JOIN lam USING (bucket) GROUP BY doc_id
),
w AS (
  SELECT t.doc_id, COALESCE(p.weight_q, 0) AS weight_q
  FROM t LEFT JOIN p USING (doc_id)
),
keyed AS (
  SELECT doc_id, CAST(weight_q AS BIGINT) AS weight_q,
         CAST(floor(
           (weight_q / 1000000.0
            - ln(-ln((CAST('0x' || substr(
                  md5('gum:' || CAST(doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) + 0.5) / 4294967296.0)))
           * 1000000.0 + 0.5) AS BIGINT) AS key_q
  FROM w
)
SELECT doc_id, weight_q, key_q
FROM keyed ORDER BY key_q DESC, doc_id LIMIT 200
"""


def q_line_dedup(spark, sf_dir):
    """Cross-document line dedup (curation.line_dedup): shared boilerplate
    lines are injected on doc_id % 2 and % 3 (dropped — they appear in
    hundreds of docs) plus one unique marker line per doc (always
    survives); the base text line itself drops exactly for the planted
    exact-duplicate docs. The oracle injects identical text and replays
    the same distinct-doc >= 2 rule."""
    from sparkcrawl import curation

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit("\nshared boilerplate navigation line"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("\nshared footer contact line"),
            ).otherwise(F.lit("")),
            F.concat(F.lit("\nunique marker "), F.col("doc_id")),
        ).alias("text"),
    )
    return curation.line_dedup(d, min_docs=2).orderBy("doc_id")


Q_LINE_DEDUP_SQL = """
WITH inj AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 2 = 0
                 THEN chr(10) || 'shared boilerplate navigation line'
                 ELSE '' END
         || CASE WHEN doc_id % 3 = 0
                 THEN chr(10) || 'shared footer contact line'
                 ELSE '' END
         || chr(10) || 'unique marker ' || CAST(doc_id AS VARCHAR) AS text
  FROM documents
),
sp AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM inj),
l AS (
  SELECT doc_id, i - 1 AS pos, lines[i] AS line
  FROM sp, UNNEST(range(1, len(lines) + 1)) AS r(i)
),
cand AS (
  SELECT DISTINCT doc_id, md5(line) AS h FROM l WHERE trim(line) <> ''
),
common AS (
  SELECT h FROM (SELECT h, COUNT(*) AS c FROM cand GROUP BY h) t
  WHERE c >= 2
),
k AS (
  SELECT doc_id, pos, line FROM l
  WHERE trim(line) = '' OR md5(line) NOT IN (SELECT h FROM common)
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS clean
  FROM k GROUP BY doc_id
)
SELECT s.doc_id, CAST(len(s.lines) AS BIGINT) AS n_lines,
       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
       COALESCE(a.clean, '') AS clean_text
FROM sp s LEFT JOIN agg a USING (doc_id) ORDER BY s.doc_id
"""


def q_normalize_text(spark, sf_dir):
    """Unicode normalization (textops.normalize_text): the synthetic docs
    are pure ASCII, so the query injects doc_id-derived arms — a
    decomposed e+combining-acute on %2 (NFC composes it), curly quotes /
    dashes / NBSP on %3, zero-width+BOM on %5, CRLF + a BEL control on %7
    — and the oracle injects identical codepoints via chr(). Python
    unicodedata NFC and DuckDB nfc_normalize implement the same Unicode
    algorithm; everything after is exact string replacement."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit(" cafe\u0301")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit(
                    " \u201cquoted\u201d \u2014d\u2013 \u00a0nb"
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit(" \u200bzero\u200cwidth\ufeffbom"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0, F.lit("\r\nline\x07bell")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return (
        textops.normalize_text(d)
        .select("doc_id", "norm_text", "was_changed")
        .orderBy("doc_id")
    )


Q_NORMALIZE_TEXT_SQL = r"""
WITH inj AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 2 = 0
                 THEN ' caf' || 'e' || chr(769) ELSE '' END
         || CASE WHEN doc_id % 3 = 0
                 THEN ' ' || chr(8220) || 'quoted' || chr(8221) || ' '
                      || chr(8212) || 'd' || chr(8211) || ' '
                      || chr(160) || 'nb'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' ' || chr(8203) || 'zero' || chr(8204) || 'width'
                      || chr(65279) || 'bom'
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN chr(13) || chr(10) || 'line' || chr(7) || 'bell'
                 ELSE '' END AS text
  FROM documents
),
norm AS (
  SELECT doc_id, text,
         replace(replace(replace(replace(replace(replace(replace(
           regexp_replace(
             regexp_replace(
               replace(nfc_normalize(text), chr(13) || chr(10), chr(10)),
               '[\x{00}-\x{08}\x{0B}-\x{1F}\x{7F}]', '', 'g'),
             '[\x{200B}-\x{200D}\x{FEFF}]', '', 'g'),
           chr(8216), ''''), chr(8217), ''''),
           chr(8220), '"'), chr(8221), '"'),
           chr(8211), '-'), chr(8212), '-'),
           chr(160), ' ') AS norm_text
  FROM inj
)
SELECT doc_id, norm_text, (text <> norm_text) AS was_changed
FROM norm ORDER BY doc_id
"""


def q_chunk_docs(spark, sf_dir):
    """Token-window chunking (textops.chunk_docs): 32-token windows with
    8-token overlap over every document — boundaries are integer
    arithmetic on the token count, so the chunk set is engine-exact. Pure
    projection + explode: no shuffle anywhere."""
    d = _t(spark, sf_dir, "documents")
    return textops.chunk_docs(d, chunk_tokens=32, overlap=8).orderBy(
        "doc_id", "chunk_id"
    )


Q_CHUNK_DOCS_SQL = r"""
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
),
n AS (
  SELECT doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) <= 32 THEN 1
              ELSE CAST(floor((len(toks) - 32 + 24 - 1) / 24.0) AS INT) + 1
         END AS n_chunks
  FROM t
),
c AS (
  SELECT doc_id, toks, n, i.i AS chunk_id, i.i * 24 AS start_tok
  FROM n, UNNEST(range(0, n_chunks)) AS i(i)
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(len(list_slice(toks, start_tok + 1,
                           least(start_tok + 32, n))) AS BIGINT)
         AS n_tokens,
       array_to_string(
         list_slice(toks, start_tok + 1, least(start_tok + 32, n)), ' ')
         AS chunk_text
FROM c ORDER BY doc_id, chunk_id
"""


def q_doc_attributes(spark, sf_dir):
    """Dolma-style per-document attributes table: ONE wide row per doc
    joining the quality signals the curation gates consume — Gopher rule
    features + gate, intra-doc repetition, corpus-trained mean surprisal,
    and exact-duplicate class membership — the artifact a tagging pass
    writes next to the corpus so downstream mixes can re-gate without
    recomputing. All component ops are individually oracle-verified; this
    row verifies the wide join composition (every join keys on doc_id)."""
    from sparkcrawl import curation

    d = _t(spark, sf_dir, "documents")
    g = curation.gopher_rules(d).select(
        "doc_id", "n_words", "alpha_word_frac", "n_stop_hits",
        "passes_gopher",
    )
    r = textops.rep_metrics(d).select(
        "doc_id", "dup_token_ratio", "top_bigram_share"
    )
    s = textops.unigram_surprisal(d).select("doc_id", "mean_surp_q")
    groups = textops.exact_dup_groups(d).withColumnRenamed(
        "content_md5", "_h"
    )
    dup = (
        d.select("doc_id", F.md5("text").alias("_h"))
        .join(groups, "_h")
        .select(
            "doc_id",
            (F.col("n_docs") > 1).alias("is_exact_dup"),
            (F.col("keep_doc_id") == F.col("doc_id")).alias(
                "is_canonical"
            ),
        )
    )
    base = d.select(
        "doc_id", "lang", "source", F.col("n_chars").cast("long")
        .alias("n_chars"),
    )
    return (
        base.join(g, "doc_id")
        .join(r, "doc_id")
        .join(s, "doc_id")
        .join(dup, "doc_id")
        .orderBy("doc_id")
    )


Q_DOC_ATTRIBUTES_SQL = r"""
WITH gf AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\s+') AS toks,
         string_split(text, chr(10)) AS lines,
         (length(text) - length(replace(text, '#', '')))
         + (length(text) - length(replace(text, '...', ''))) // 3
         + (length(text) - length(replace(text, '…', ''))) AS n_sym
  FROM documents
),
gg AS (
  SELECT doc_id,
         len(toks) AS n_words,
         list_sum(list_transform(toks, x -> length(x))) AS sum_len,
         n_sym, len(lines) AS n_lines,
         len(list_filter(lines,
             l -> substr(ltrim(l), 1, 1) IN ('•', '-', '*'))) AS n_bullet,
         len(list_filter(lines,
             l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…'))
           AS n_ellip,
         len(list_filter(toks,
             x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
         len(list_filter(
             ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
             s -> list_contains(list_transform(toks, x -> lower(x)), s)))
           AS n_stop
  FROM gf
),
rt AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
),
ru AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i+1])) AS bg
  FROM rt WHERE len(toks) >= 2
),
rc AS (SELECT doc_id, bg, COUNT(*) AS c FROM ru GROUP BY doc_id, bg),
ra AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_bg FROM rc
       GROUP BY doc_id),
st AS (
  SELECT doc_id,
         unnest(list_transform(regexp_split_to_array(trim(text), '\s+'),
                               x -> lower(x))) AS tok
  FROM documents
),
sc AS (SELECT tok, COUNT(*) AS cnt FROM st GROUP BY tok),
stot AS (SELECT SUM(cnt) AS n FROM sc),
ss AS (
  SELECT tok,
         CAST(round(ln(CAST(stot.n AS DOUBLE) / cnt) * 1000000.0)
              AS BIGINT) AS surp_q
  FROM sc, stot
),
sp AS (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(surp_q) AS sum_surp_q
  FROM st JOIN ss ON st.tok = ss.tok GROUP BY doc_id
),
dupc AS (
  SELECT md5(text) AS h, COUNT(*) AS n_docs, MIN(doc_id) AS keep
  FROM documents GROUP BY md5(text)
)
SELECT d.doc_id, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars,
       CAST(gg.n_words AS BIGINT) AS n_words,
       round(CAST(gg.n_alpha AS DOUBLE) / greatest(gg.n_words, 1), 6)
         AS alpha_word_frac,
       CAST(gg.n_stop AS BIGINT) AS n_stop_hits,
       (gg.n_words >= 50 AND gg.n_words <= 100000
        AND COALESCE(gg.sum_len, 0) >= 3 * gg.n_words
        AND COALESCE(gg.sum_len, 0) <= 10 * gg.n_words
        AND 10 * gg.n_sym <= gg.n_words
        AND 10 * gg.n_bullet <= 9 * gg.n_lines
        AND 10 * gg.n_ellip <= 3 * gg.n_lines
        AND 5 * gg.n_alpha >= 4 * gg.n_words
        AND gg.n_stop >= 2) AS passes_gopher,
       round(1 - CAST(len(list_distinct(rt.toks)) AS DOUBLE)
               / greatest(len(rt.toks), 1), 6) AS dup_token_ratio,
       round(COALESCE(CAST(ra.top_c AS DOUBLE) / ra.n_bg, 0.0), 6)
         AS top_bigram_share,
       CAST(sp.sum_surp_q // sp.n_tokens AS BIGINT) AS mean_surp_q,
       (dupc.n_docs > 1) AS is_exact_dup,
       (dupc.keep = d.doc_id) AS is_canonical
FROM documents d
JOIN gg ON d.doc_id = gg.doc_id
JOIN rt ON d.doc_id = rt.doc_id
LEFT JOIN ra ON d.doc_id = ra.doc_id
JOIN sp ON d.doc_id = sp.doc_id
JOIN dupc ON md5(d.text) = dupc.h
ORDER BY d.doc_id
"""


def q_backoff_surprisal(spark, sf_dir):
    """Stupid-Backoff bigram LM scoring (textops.backoff_surprisal):
    train on the lang='en' slice, score the whole corpus — the CCNet
    Wikipedia-scores-CommonCrawl shape, so out-of-domain bigrams really
    hit the backoff arm. Scores quantize to integer micro-nats once per
    distinct (prev, w) pair; sums and means are exact integer math."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("lang") == "en").alias("is_target")
    )
    return textops.backoff_surprisal(d).orderBy("doc_id")


Q_BACKOFF_SURPRISAL_SQL = r"""
WITH t AS (
  SELECT doc_id, (lang = 'en') AS is_t,
         list_transform(regexp_split_to_array(trim(text), '\s+'),
                        x -> lower(x)) AS toks
  FROM documents
),
inst AS (
  SELECT doc_id, is_t, toks[i] AS w,
         CASE WHEN i > 1 THEN toks[i - 1] END AS prev
  FROM t, UNNEST(range(1, len(toks) + 1)) AS r(i)
),
tr AS (SELECT * FROM inst WHERE is_t),
nv AS (SELECT COUNT(*) AS n, COUNT(DISTINCT w) + 1 AS v FROM tr),
uni AS (SELECT w, COUNT(*) AS cnt_w FROM tr GROUP BY w),
big AS (
  SELECT prev, w, COUNT(*) AS cnt_pw FROM tr
  WHERE prev IS NOT NULL GROUP BY prev, w
),
pc AS (
  SELECT prev, COUNT(*) AS cnt_prev FROM tr
  WHERE prev IS NOT NULL GROUP BY prev
),
fs AS (
  SELECT ft.w,
         CAST(round(-ln(CAST(COALESCE(uni.cnt_w, 0) + 1 AS DOUBLE)
                        / (nv.n + nv.v)) * 1000000.0) AS BIGINT) AS surp_q
  FROM (SELECT DISTINCT w FROM inst WHERE prev IS NULL) ft
  LEFT JOIN uni ON ft.w = uni.w, nv
),
ps AS (
  SELECT pt.prev, pt.w,
         CASE WHEN big.cnt_pw IS NOT NULL
              THEN CAST(round(-ln(CAST(big.cnt_pw AS DOUBLE)
                                  / pc.cnt_prev) * 1000000.0) AS BIGINT)
              ELSE CAST(round(-ln(0.4
                                  * CAST(COALESCE(uni.cnt_w, 0) + 1
                                         AS DOUBLE)
                                  / (nv.n + nv.v)) * 1000000.0) AS BIGINT)
         END AS surp_q,
         (big.cnt_pw IS NULL) AS is_b
  FROM (SELECT DISTINCT prev, w FROM inst WHERE prev IS NOT NULL) pt
  LEFT JOIN big ON pt.prev = big.prev AND pt.w = big.w
  LEFT JOIN pc ON pt.prev = pc.prev
  LEFT JOIN uni ON pt.w = uni.w, nv
),
sc AS (
  SELECT i.doc_id, fs.surp_q, FALSE AS is_b
  FROM inst i JOIN fs ON i.w = fs.w WHERE i.prev IS NULL
  UNION ALL
  SELECT i.doc_id, ps.surp_q, ps.is_b
  FROM inst i JOIN ps ON i.prev = ps.prev AND i.w = ps.w
  WHERE i.prev IS NOT NULL
),
p AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS n_backoff,
         SUM(surp_q) AS s
  FROM sc GROUP BY doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_backoff AS BIGINT) AS n_backoff,
       CAST(s AS BIGINT) AS sum_surp_q,
       CAST(s // n_tokens AS BIGINT) AS mean_surp_q
FROM p ORDER BY doc_id
"""


def q_perplexity_buckets(spark, sf_dir):
    """CCNet's head/middle/tail organization (Wenzek et al. 2020): docs
    ranked by mean unigram surprisal (textops.unigram_surprisal — the
    corpus-trained LM) and cut into exact tertiles by integer rank
    arithmetic (3*rank <= n / <= 2n), with the global rank computed
    partition-free (with_running_total) — no single-partition ORDER BY
    window at any corpus size."""
    from sparkcrawl.curation import with_running_total

    d = _t(spark, sf_dir, "documents")
    s = textops.unigram_surprisal(d).select(
        "doc_id", "mean_surp_q", F.lit(1).alias("_one")
    )
    r = with_running_total(
        s, "_one", ["mean_surp_q", "doc_id"], out_col="rnk"
    )
    tot = r.agg(F.count("*").alias("_n")).withColumn("_k", F.lit(1))
    out = r.withColumn("_k", F.lit(1)).join(F.broadcast(tot), "_k")
    bucket = (
        F.when(3 * F.col("rnk") <= F.col("_n"), F.lit("head"))
        .when(3 * F.col("rnk") <= 2 * F.col("_n"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return out.select(
        "doc_id",
        F.col("mean_surp_q").cast("long").alias("mean_surp_q"),
        F.col("rnk").cast("long").alias("rnk"),
        bucket.alias("bucket"),
    ).orderBy("doc_id")


Q_PERPLEXITY_BUCKETS_SQL = r"""
WITH t AS (
  SELECT doc_id,
         list_transform(regexp_split_to_array(trim(text), '\s+'),
                        x -> lower(x)) AS toks
  FROM documents
),
tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
c AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
tot AS (SELECT SUM(cnt) AS n FROM c),
s AS (
  SELECT tok,
         CAST(round(ln(CAST(tot.n AS DOUBLE) / cnt) * 1000000.0) AS BIGINT)
           AS surp_q
  FROM c, tot
),
p AS (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(surp_q) AS sum_surp_q
  FROM tok JOIN s USING (tok) GROUP BY doc_id
),
m AS (
  SELECT doc_id,
         CAST(sum_surp_q // n_tokens AS BIGINT) AS mean_surp_q
  FROM p
),
r AS (
  SELECT doc_id, mean_surp_q,
         row_number() OVER (ORDER BY mean_surp_q, doc_id) AS rnk,
         COUNT(*) OVER () AS n
  FROM m
)
SELECT doc_id, mean_surp_q, CAST(rnk AS BIGINT) AS rnk,
       CASE WHEN 3 * rnk <= n THEN 'head'
            WHEN 3 * rnk <= 2 * n THEN 'middle'
            ELSE 'tail' END AS bucket
FROM r ORDER BY doc_id
"""


def q_pii_scrub(spark, sf_dir):
    """PII scrub (curation.pii_scrub): typed redaction of emails / phone
    numbers / IPv4 with per-class counts. The synthetic documents carry no
    PII, so the query injects a deterministic doc_id-derived contact line
    first (email always, phone on even ids, ip on ids % 3 == 0) and the
    oracle injects the identical line — the value hash then covers the
    full scrubbed text, not just zeros. One fused JVM projection, no
    shuffle."""
    from sparkcrawl import curation

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" tel 555-"),
                    F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                    F.lit("-0142"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" ip 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return curation.pii_scrub(d).select(
        "doc_id", "n_email", "n_phone", "n_ipv4", "scrubbed"
    ).orderBy("doc_id")


def _pii_scrub_sql() -> str:
    """Oracle mirrors the scrub chain stage by stage from the shared
    PII_PATTERNS table (single source of truth for the regexes)."""
    from sparkcrawl.curation import PII_PATTERNS

    pats = dict(PII_PATTERNS)
    return f"""
WITH inj AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@mail.example.com'
              || CASE WHEN doc_id % 2 = 0
                      THEN ' tel 555-'
                           || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                           || '-0142'
                      ELSE '' END
              || CASE WHEN doc_id % 3 = 0
                      THEN ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                           || '.7'
                      ELSE '' END AS t
  FROM documents
),
s1 AS (SELECT doc_id,
              len(regexp_split_to_array(t, '{pats["email"]}')) - 1
                AS n_email,
              regexp_replace(t, '{pats["email"]}', '<EMAIL>', 'g') AS t
       FROM inj),
s2 AS (SELECT doc_id, n_email,
              len(regexp_split_to_array(t, '{pats["phone"]}')) - 1
                AS n_phone,
              regexp_replace(t, '{pats["phone"]}', '<PHONE>', 'g') AS t
       FROM s1),
s3 AS (SELECT doc_id, n_email, n_phone,
              len(regexp_split_to_array(t, '{pats["ipv4"]}')) - 1
                AS n_ipv4,
              regexp_replace(t, '{pats["ipv4"]}', '<IPV4>', 'g') AS t
       FROM s2)
SELECT doc_id, CAST(n_email AS BIGINT) AS n_email,
       CAST(n_phone AS BIGINT) AS n_phone,
       CAST(n_ipv4 AS BIGINT) AS n_ipv4, t AS scrubbed
FROM s3 ORDER BY doc_id
"""


Q_PII_SCRUB_SQL = _pii_scrub_sql()



def q_quality_pipeline(spark, sf_dir):
    """Composed QUALITY pipeline over the round-3 op family, one
    declarative plan: unicode normalize -> C4 line cleaning + page gate ->
    Gopher rule gate -> corpus-trained surprisal rank gate (drop the
    noisiest tertile, partition-free rank) -> token-window chunking.
    Injection arms give every stage real work both ways: stopwords on %3
    (Gopher floor), a decomposed e+combining-acute on %2 (normalize), a
    'lorem ipsum' line on %5 (C4 page flag), a terminal '.' so the base
    line survives C4's line filter. Each stage is individually
    oracle-verified elsewhere; this row verifies the COMPOSITION."""
    from sparkcrawl import curation
    from sparkcrawl.curation import with_running_total

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit(" and that of to be")
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 2 == 0, F.lit(" café")
            ).otherwise(F.lit("")),
            F.lit("."),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit("\nlorem ipsum dolor sit amet text."),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    base = textops.normalize_text(d).select(
        "doc_id", F.col("norm_text").alias("text")
    )
    c4 = curation.c4_line_filters(base, min_kept_lines=1)
    s1 = c4.filter(F.col("passes_c4")).select(
        "doc_id", F.col("clean_text").alias("text")
    )
    g = curation.gopher_rules(s1)
    # s2 fans out to TWO consumers (the surprisal-rank branch and the
    # final chunk join); truncate lineage at the fan-out — reusing the
    # UDF-bearing subtree in both branches trips Catalyst's
    # DeduplicateRelations into an unresolvable attribute (observed:
    # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND), and at scale you'd persist
    # this survivor set anyway rather than recompute the gates twice.
    s2 = (
        g.filter(F.col("passes_gopher"))
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    sur = textops.unigram_surprisal(s2).select(
        "doc_id", "mean_surp_q", F.lit(1).alias("_one")
    )
    r = with_running_total(
        sur, "_one", ["mean_surp_q", "doc_id"], out_col="rnk"
    )
    tot = r.agg(F.count("*").alias("_n")).withColumn("_k", F.lit(1))
    keep = (
        r.withColumn("_k", F.lit(1))
        .join(F.broadcast(tot), "_k")
        .filter(3 * F.col("rnk") <= 2 * F.col("_n"))
        .select("doc_id")
    )
    s3 = s2.join(keep, "doc_id")
    return textops.chunk_docs(s3, chunk_tokens=32, overlap=8).orderBy(
        "doc_id", "chunk_id"
    )


Q_QUALITY_PIPELINE_SQL = r"""
WITH inj AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0 THEN ' and that of to be'
                 ELSE '' END
         || CASE WHEN doc_id % 2 = 0 THEN ' caf' || 'e' || chr(769)
                 ELSE '' END
         || '.'
         || CASE WHEN doc_id % 5 = 0
                 THEN chr(10) || 'lorem ipsum dolor sit amet text.'
                 ELSE '' END AS text
  FROM documents
),
norm AS (
  SELECT doc_id,
         replace(replace(replace(replace(replace(replace(replace(
           regexp_replace(
             regexp_replace(
               replace(nfc_normalize(text), chr(13) || chr(10), chr(10)),
               '[\x{00}-\x{08}\x{0B}-\x{1F}\x{7F}]', '', 'g'),
             '[\x{200B}-\x{200D}\x{FEFF}]', '', 'g'),
           chr(8216), ''''), chr(8217), ''''),
           chr(8220), '"'), chr(8221), '"'),
           chr(8211), '-'), chr(8212), '-'),
           chr(160), ' ') AS text
  FROM inj
),
cl AS (
  SELECT doc_id, text,
         list_filter(string_split(text, chr(10)),
           l -> len(regexp_split_to_array(trim(l), '\s+')) >= 5
                AND substr(rtrim(l), length(rtrim(l)), 1)
                    IN ('.', '!', '?', '"')) AS kept
  FROM norm
),
s1 AS (
  SELECT doc_id, array_to_string(kept, chr(10)) AS text
  FROM cl
  WHERE len(kept) >= 1
    AND NOT (contains(lower(text), 'lorem ipsum')
             OR contains(lower(text), 'javascript'))
    AND NOT contains(text, '{')
    AND len(list_filter(
        list_transform(regexp_split_to_array(trim(text), '\s+'),
                       x -> lower(x)),
        x -> x IN ('xxx', 'porn'))) = 0
),
gf AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\s+') AS toks,
         string_split(text, chr(10)) AS lines,
         (length(text) - length(replace(text, '#', '')))
         + (length(text) - length(replace(text, '...', ''))) // 3
         + (length(text) - length(replace(text, '…', ''))) AS n_sym
  FROM s1
),
s2 AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           len(toks) AS n_words,
           list_sum(list_transform(toks, x -> length(x))) AS sum_len,
           n_sym, len(lines) AS n_lines,
           len(list_filter(lines,
               l -> substr(ltrim(l), 1, 1) IN ('•', '-', '*')))
             AS n_bullet,
           len(list_filter(lines,
               l -> rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…'))
             AS n_ellip,
           len(list_filter(toks,
               x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
           len(list_filter(
               ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'],
               s -> list_contains(
                   list_transform(toks, x -> lower(x)), s))) AS n_stop
    FROM gf) t
  WHERE n_words >= 50 AND n_words <= 100000
    AND COALESCE(sum_len, 0) >= 3 * n_words
    AND COALESCE(sum_len, 0) <= 10 * n_words
    AND 10 * n_sym <= n_words
    AND 10 * n_bullet <= 9 * n_lines
    AND 10 * n_ellip <= 3 * n_lines
    AND 5 * n_alpha >= 4 * n_words
    AND n_stop >= 2
),
tok AS (
  SELECT doc_id, unnest(list_transform(
           regexp_split_to_array(trim(text), '\s+'), x -> lower(x)))
           AS tok
  FROM s2
),
c AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
tt AS (SELECT SUM(cnt) AS n FROM c),
sq AS (
  SELECT tok,
         CAST(round(ln(CAST(tt.n AS DOUBLE) / cnt) * 1000000.0) AS BIGINT)
           AS surp_q
  FROM c, tt
),
pp AS (
  SELECT doc_id, COUNT(*) AS n_tokens, SUM(surp_q) AS sum_surp_q
  FROM tok JOIN sq USING (tok) GROUP BY doc_id
),
r AS (
  SELECT doc_id,
         row_number() OVER (
           ORDER BY CAST(sum_surp_q // n_tokens AS BIGINT), doc_id
         ) AS rnk,
         COUNT(*) OVER () AS n
  FROM pp
),
s3 AS (
  SELECT s2.doc_id,
         regexp_split_to_array(trim(s2.text), '\s+') AS toks
  FROM s2 JOIN r ON s2.doc_id = r.doc_id
  WHERE 3 * r.rnk <= 2 * r.n
),
nc AS (
  SELECT doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) <= 32 THEN 1
              ELSE CAST(floor((len(toks) - 32 + 24 - 1) / 24.0) AS INT) + 1
         END AS n_chunks
  FROM s3
),
ch AS (
  SELECT doc_id, toks, n, i.i AS chunk_id, i.i * 24 AS start_tok
  FROM nc, UNNEST(range(0, n_chunks)) AS i(i)
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(len(list_slice(toks, start_tok + 1,
                           least(start_tok + 32, n))) AS BIGINT)
         AS n_tokens,
       array_to_string(
         list_slice(toks, start_tok + 1, least(start_tok + 32, n)), ' ')
         AS chunk_text
FROM ch ORDER BY doc_id, chunk_id
"""


def q_curation_pipeline(spark, sf_dir):
    """Flagship composed curation pipeline — the end-to-end path a crawl
    corpus takes to training shards, as ONE declarative plan Catalyst
    optimizes whole: heuristic language gate -> quality-score gate ->
    exact dedup (keep min doc_id per md5) -> cross-doc boilerplate RANK
    gate (keep the 80% least-boilerplate survivors by (boiler_frac,
    doc_id) — a corpus-relative quantile, so the gate stays meaningful at
    any corpus density, unlike an absolute threshold which this synthetic
    vocabulary saturates past sf0.01; the exact rank rides the
    partition-free running total, and at 100 TB the same gate runs as an
    approximate-quantile threshold broadcast) -> deterministic stratified
    sample -> token-budget shard packing. Every stage is an already-
    oracle-verified operator; this entry verifies their COMPOSITION
    (filter ordering, column flow, survivor-set semantics)
    value-for-value."""
    from sparkcrawl import curation

    d = _t(spark, sf_dir, "documents")
    d1 = textops.with_lang_id(d).filter(F.col("lang_guess") == "en")
    d2 = textops.with_quality(d1).filter(F.col("quality_score") >= 0.25)
    d3 = textops.dedup_exact(d2)
    bp = textops.boilerplate_ngrams(d3, n=2, min_docs=3)
    ranked = curation.with_running_total(
        bp.select("boiler_frac", "doc_id", F.lit(1).alias("_one")),
        "_one", ["boiler_frac", "doc_id"], out_col="_rank",
    )
    n_bp = bp.count()
    gate = ranked.filter(F.col("_rank") <= int(0.8 * n_bp)).select(
        "doc_id", "boiler_frac"
    )
    d4 = d3.join(gate, "doc_id")
    kept = curation.stratified_sample(d4).select("doc_id")
    d5 = d4.join(kept, "doc_id", "left_semi")
    packed = curation.pack_shards(
        d5.select("doc_id", "n_tokens"), budget=1024
    ).select("doc_id", "n_tokens", "shard_id")
    return (
        d5.select("doc_id", "lang", "quality_score", "boiler_frac")
        .join(packed, "doc_id")
        .select(
            "doc_id", "lang", "quality_score", "boiler_frac",
            F.col("n_tokens").cast("long").alias("n_tokens"), "shard_id",
        )
        .orderBy("doc_id")
    )


Q_CURATION_PIPELINE_SQL = f"""
WITH toks AS (
  SELECT doc_id, text, lang, source,
         regexp_split_to_array(trim(text), '\\s+') AS tokens
  FROM documents
),
l AS (
  SELECT * FROM toks
  WHERE CAST(len(list_filter(tokens, t ->
          list_contains([{_STOPS_SQL}], lower(t)))) AS DOUBLE)
        / greatest(len(tokens), 1) >= 0.05
),
q AS (
  SELECT *, CAST(len(tokens) AS BIGINT) AS n_tokens,
         round(least(len(tokens) / 100.0, 1.0) *
               (1 - round(CAST(length(text) -
                length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
                AS DOUBLE) / greatest(length(text), 1), 6)), 6)
           AS quality_score
  FROM l
),
q2 AS (SELECT * FROM q WHERE quality_score >= 0.25),
d AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
              AS rn
    FROM q2
  ) WHERE rn = 1
),
g0 AS (SELECT doc_id, source,
              list_distinct(list_transform(range(1, len(tokens)),
                            i -> tokens[i] || ' ' || tokens[i+1])) AS grams
       FROM d),
gg AS (SELECT doc_id, source, unnest(grams) AS gram FROM g0),
bc AS (SELECT source, gram FROM gg GROUP BY source, gram
       HAVING COUNT(*) >= 3),
nb AS (SELECT gg.doc_id, COUNT(*) AS n_boiler
       FROM gg JOIN bc USING (source, gram) GROUP BY gg.doc_id),
bf AS (SELECT g0.doc_id,
              round(CAST(COALESCE(nb.n_boiler, 0) AS DOUBLE)
                    / greatest(len(grams), 1), 6) AS boiler_frac
       FROM g0 LEFT JOIN nb USING (doc_id)),
bfr AS (SELECT doc_id, boiler_frac,
              row_number() OVER (ORDER BY boiler_frac, doc_id) AS rnk,
              COUNT(*) OVER () AS n_bp
       FROM bf),
d4 AS (SELECT d.*, bfr.boiler_frac FROM d JOIN bfr USING (doc_id)
       WHERE bfr.rnk <= CAST(floor(0.8 * bfr.n_bp) AS BIGINT)),
s AS (SELECT * FROM d4
      WHERE substr(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 4) <
            CASE lang WHEN 'en' THEN '8000' WHEN 'de' THEN '4000'
                      WHEN 'fr' THEN '4000' ELSE '2000' END),
c AS (SELECT doc_id, lang, quality_score, boiler_frac, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM s)
SELECT doc_id, lang, quality_score, boiler_frac,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST((cum - n_tokens) // 1024 AS BIGINT) AS shard_id
FROM c ORDER BY doc_id
"""



def q_pagerank(spark, sf_dir):
    """PageRank over a deterministic synthetic link graph (each doc links
    to 3 arithmetic neighbors mod N — same construction in the oracle):
    5 power-iteration sweeps of components.pagerank. The oracle unrolls
    the sweeps as chained CTEs (the ann_ivf_kmeans trick), so the
    iterative distributed job is value-hash-verified end to end."""
    from sparkcrawl import components

    d = _t(spark, sf_dir, "documents").select("doc_id")
    n = d.count()
    e = d.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.array(
                *[(F.col("doc_id") * 7 + 13 * j + 1) % n for j in range(3)]
            )
        ).alias("dst"),
    )
    return components.pagerank(
        e, nodes=d.select(F.col("doc_id").alias("v")), iters=5
    ).orderBy("v")


def q_hits(spark, sf_dir):
    """HITS hubs/authorities (components.hits) over a deterministic
    synthetic link graph (each doc links to 3 arithmetic neighbors mod N;
    different multipliers than the pagerank graph). 5 sweeps, each score
    vector normalized by its max — order-independent, so the iterative
    job value-hash-matches the oracle's unrolled chained CTEs exactly."""
    from sparkcrawl import components

    d = _t(spark, sf_dir, "documents").select("doc_id")
    n = d.count()
    e = d.select(
        F.col("doc_id").alias("src"),
        F.explode(
            F.array(
                *[(F.col("doc_id") * 11 + 17 * j + 3) % n for j in range(3)]
            )
        ).alias("dst"),
    )
    return components.hits(
        e, nodes=d.select(F.col("doc_id").alias("v")), iters=5
    ).orderBy("v")


def _hits_sweep_sql(i: int) -> str:
    """One unrolled HITS sweep (hub from a{i-1}, authority from h{i}).
    Every CTE is MATERIALIZED: each is referenced twice (values + the MAX
    scalar subquery), and DuckDB's default CTE inlining would re-execute
    the whole prior chain per reference — exponential across 5 sweeps."""
    return f"""
h{i}raw AS MATERIALIZED (
  SELECT nd.v AS v, COALESCE(s.s, CAST(0.0 AS DOUBLE)) AS x
  FROM nd LEFT JOIN (
    SELECT e.src AS v, SUM(a.x) AS s
    FROM e JOIN a{i - 1} a ON e.dst = a.v GROUP BY e.src
  ) s ON nd.v = s.v
),
h{i} AS MATERIALIZED (
  SELECT v, x / (SELECT MAX(x) FROM h{i}raw) AS x FROM h{i}raw
),
a{i}raw AS MATERIALIZED (
  SELECT nd.v AS v, COALESCE(s.s, CAST(0.0 AS DOUBLE)) AS x
  FROM nd LEFT JOIN (
    SELECT e.dst AS v, SUM(h.x) AS s
    FROM e JOIN h{i} h ON e.src = h.v GROUP BY e.dst
  ) s ON nd.v = s.v
),
a{i} AS MATERIALIZED (
  SELECT v, x / (SELECT MAX(x) FROM a{i}raw) AS x FROM a{i}raw
)"""


Q_HITS_SQL = ("""
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
nd AS MATERIALIZED (SELECT doc_id AS v FROM documents),
e AS MATERIALIZED (
  SELECT doc_id AS src,
         (doc_id * 11 + 17 * j.j + 3) % (SELECT n FROM nn) AS dst
  FROM documents, (SELECT unnest(range(0, 3)) AS j) j
),
a0 AS (SELECT doc_id AS v, CAST(1.0 AS DOUBLE) AS x FROM documents),"""
    + ",".join(_hits_sweep_sql(i) for i in range(1, 6))
    + """
SELECT h5.v AS v, round(h5.x, 6) AS hub, round(a5.x, 6) AS authority
FROM h5 JOIN a5 ON h5.v = a5.v ORDER BY h5.v
""")


Q_PAGERANK_SQL = """
WITH nn AS (SELECT COUNT(*) AS n FROM documents),
nd AS (SELECT doc_id AS v FROM documents),
e AS (
  SELECT doc_id AS src,
         (doc_id * 7 + 13 * j.j + 1) % (SELECT n FROM nn) AS dst
  FROM documents, (SELECT unnest(range(0, 3)) AS j) j
),
dg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
r0 AS (SELECT doc_id AS v, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS r
       FROM documents),
r1 AS (
  SELECT nd.v AS v,
         CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
         + CAST(0.85 AS DOUBLE)
           * COALESCE(SUM(r0.r / dg.deg), 0) AS r
  FROM nd
  LEFT JOIN e ON e.dst = nd.v
  LEFT JOIN dg ON dg.src = e.src
  LEFT JOIN r0 ON r0.v = e.src
  GROUP BY nd.v
),
r2 AS (
  SELECT nd.v AS v,
         CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
         + CAST(0.85 AS DOUBLE)
           * COALESCE(SUM(r1.r / dg.deg), 0) AS r
  FROM nd
  LEFT JOIN e ON e.dst = nd.v
  LEFT JOIN dg ON dg.src = e.src
  LEFT JOIN r1 ON r1.v = e.src
  GROUP BY nd.v
),
r3 AS (
  SELECT nd.v AS v,
         CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
         + CAST(0.85 AS DOUBLE)
           * COALESCE(SUM(r2.r / dg.deg), 0) AS r
  FROM nd
  LEFT JOIN e ON e.dst = nd.v
  LEFT JOIN dg ON dg.src = e.src
  LEFT JOIN r2 ON r2.v = e.src
  GROUP BY nd.v
),
r4 AS (
  SELECT nd.v AS v,
         CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
         + CAST(0.85 AS DOUBLE)
           * COALESCE(SUM(r3.r / dg.deg), 0) AS r
  FROM nd
  LEFT JOIN e ON e.dst = nd.v
  LEFT JOIN dg ON dg.src = e.src
  LEFT JOIN r3 ON r3.v = e.src
  GROUP BY nd.v
),
r5 AS (
  SELECT nd.v AS v,
         CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
         + CAST(0.85 AS DOUBLE)
           * COALESCE(SUM(r4.r / dg.deg), 0) AS r
  FROM nd
  LEFT JOIN e ON e.dst = nd.v
  LEFT JOIN dg ON dg.src = e.src
  LEFT JOIN r4 ON r4.v = e.src
  GROUP BY nd.v
)
SELECT v, round(r, 6) AS pagerank FROM r5 ORDER BY v
"""



def q_asof_join(spark, sf_dir):
    """As-of join (relational.asof_join): each click matched to the same
    user's latest at-or-before view — the time-series attribution join
    Spark lacks as a built-in. Implemented as a tagged union +
    last(ignorenulls) carry-forward window (ONE shuffle, on the equality
    key); the oracle is DuckDB's native ASOF LEFT JOIN. The view side
    dedups to max event_id per (user, ts) first so the match is
    deterministic on both engines."""
    from sparkcrawl.relational import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    j = asof_join(clicks, views, on="ts", by=["user_id"])
    return j.select(
        "event_id", "user_id", "ts",
        F.col("ts_r").alias("view_ts"), "view_event_id",
    ).orderBy("event_id")


Q_ASOF_JOIN_SQL = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
views AS (
  SELECT user_id, ts, MAX(event_id) AS view_event_id
  FROM events WHERE event_type = 'view' GROUP BY user_id, ts
)
SELECT c.event_id, c.user_id, c.ts, v.ts AS view_ts, v.view_event_id
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.ts >= v.ts
ORDER BY c.event_id
"""



def q_hll_distinct(spark, sf_dir):
    """Deterministic HyperLogLog (sketches.hll_distinct): distinct users
    per event type from md5-derived registers, so the oracle rebuilds the
    identical registers AND the identical estimate — an approximate
    sketch with an exact cross-engine contract. Two partial-combined
    aggregations; register traffic is capped at |groups| * 2^p rows no
    matter the input size."""
    from sparkcrawl.sketches import hll_distinct

    e = _t(spark, sf_dir, "events")
    return hll_distinct(e, "user_id", ["event_type"], p=12).orderBy(
        "event_type"
    )


Q_HLL_DISTINCT_SQL = """
WITH h AS (
  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx FROM events
),
b AS (
  SELECT event_type,
         (strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 256 + (strpos('0123456789abcdef', substr(hx, 2, 1)) - 1) * 16 + (strpos('0123456789abcdef', substr(hx, 3, 1)) - 1) AS bucket,
         substr(hx, 4, 12) AS tail
  FROM h
),
r AS (
  SELECT event_type, bucket,
         CASE WHEN length(regexp_extract(tail, '^(0*)', 1)) = 12 THEN 49
              ELSE length(regexp_extract(tail, '^(0*)', 1)) * 4
                   + CASE (strpos('0123456789abcdef', substr(tail, length(regexp_extract(tail, '^(0*)', 1)) + 1, 1)) - 1)
                       WHEN 1 THEN 3 WHEN 2 THEN 2 WHEN 3 THEN 2
                       WHEN 4 THEN 1 WHEN 5 THEN 1 WHEN 6 THEN 1
                       WHEN 7 THEN 1 ELSE 0 END + 1
         END AS register
  FROM b
),
mx AS (
  SELECT event_type, bucket, MAX(register) AS register
  FROM r GROUP BY event_type, bucket
),
agg AS (
  SELECT event_type, COUNT(*) AS n_buckets,
         SUM(power(2.0, -register)) AS s
  FROM mx GROUP BY event_type
)
SELECT event_type, CAST(n_buckets AS BIGINT) AS n_buckets,
       round(CASE WHEN CAST(0.7211100396160289 AS DOUBLE) * 4096 * 4096 / (s + 4096 - n_buckets)
                       <= 2.5 * 4096
                   AND 4096 - n_buckets > 0
             THEN 4096 * (ln(4096) - ln(4096.0 - n_buckets))
             ELSE CAST(0.7211100396160289 AS DOUBLE) * 4096 * 4096 / (s + 4096 - n_buckets) END, 2)
         AS estimate
FROM agg ORDER BY event_type
"""



def q_pretokenize_count(spark, sf_dir):
    """Pre-tokenizer token counting (renamed from round 3's
    ``token_count_bpe``, which oversold it — this is the GPT-2
    PRE-tokenizer regex count only, no trained merges; the real trained
    tokenizer is ``bpe_merges``/``bpe_tokenize`` below): a pre-token is
    an optional-space letter run, digit run, or punctuation run — the
    GPT-2 shape restricted to ASCII classes so the Java-regex and RE2
    dialects agree byte-for-byte. Pure JVM projection
    (regexp_extract_all + size)."""
    d = _t(spark, sf_dir, "documents")
    pat = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pat), 0))
        .cast("long").alias("n_pretokens"),
    ).orderBy("doc_id")


Q_PRETOKENIZE_COUNT_SQL = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
            ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) AS BIGINT)
         AS n_pretokens
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Trained BPE (round-4 VERDICT task #4). Engine: sparkcrawl/bpe.py —
# distributed word-frequency table, merge loop with one pair-count pass
# per merge (only the best pair reaches the driver), pure-JVM fold for
# the merge application. Oracle: the SAME algorithm unrolled as chained
# CTEs, one (pairs, best, words) triple per merge step, with each word's
# segmentation encoded as \x02sym\x03... so DuckDB's non-overlapping
# left-to-right replace() IS the reference merge pass. Ties break on
# (count DESC, left ASC, right ASC) on both sides; a step whose best
# pair falls under min_pair_count=2 leaves the word table unchanged (a
# fixpoint, matching the engine's early stop).
# ---------------------------------------------------------------------------

_BPE_N_MERGES = 24

# bpe_merges and bpe_tokenize train identically; memoize per (session,
# sf_dir) so a catalog sweep pays the training loop once. The words
# frame is localCheckpointed, so it stays valid for the session's life.
_BPE_TRAIN_MEMO: dict = {}


def _bpe_trained(spark, sf_dir):
    key = (id(spark), sf_dir, _BPE_N_MERGES)
    if key not in _BPE_TRAIN_MEMO:
        _BPE_TRAIN_MEMO[key] = bpe.train_bpe(
            _t(spark, sf_dir, "documents"), n_merges=_BPE_N_MERGES
        )
    return _BPE_TRAIN_MEMO[key]


def _bpe_cte_chain(n_merges: int, train_where: str = "",
                   heldout_where: str | None = None) -> str:
    """WITH-chain shared by the BPE oracles (every CTE MATERIALIZED —
    each step is referenced twice, and DuckDB's default CTE inlining
    would expand the chain exponentially).

    ``train_where`` restricts the training corpus; ``heldout_where``
    additionally threads a second word table (h0..hN) through the SAME
    learned merges in rank order — which equals the min-rank inference
    loop on any word, seen or unseen, because a merge's components are
    base chars or strictly-earlier merge outputs, so applying the list
    in order can never create a missed earlier-pair occurrence."""
    pre_pat = r"' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'"
    clean = "regexp_replace(text, '[' || chr(2) || chr(3) || ']', '', 'g')"
    enc0 = ("array_to_string(list_transform(regexp_extract_all(word, '.'),"
            " x -> chr(2) || x || chr(3)), '')")
    parts = [
        f"""WITH tok AS MATERIALIZED (
  SELECT unnest(regexp_extract_all({clean}, {pre_pat})) AS word
  FROM documents {train_where}
),
w0 AS MATERIALIZED (
  SELECT word, {enc0} AS enc, COUNT(*) AS cnt
  FROM tok GROUP BY word
)"""
    ]
    if heldout_where is not None:
        parts.append(f""",
h0 AS MATERIALIZED (
  SELECT word, {enc0} AS enc FROM (
    SELECT DISTINCT unnest(regexp_extract_all({clean}, {pre_pat})) AS word
    FROM documents {heldout_where})
)""")
    for k in range(n_merges):
        parts.append(f""",
p{k} AS MATERIALIZED (
  SELECT pr[1] AS s1, pr[2] AS s2, SUM(cnt) AS c FROM (
    SELECT cnt, unnest(list_zip(s[1:len(s)-1], s[2:])) AS pr FROM (
      SELECT cnt,
             str_split(substr(enc, 2, length(enc)-2), chr(3)||chr(2)) AS s
      FROM w{k})
  ) GROUP BY s1, s2
),
b{k} AS MATERIALIZED (
  SELECT s1, s2, c FROM p{k} WHERE c >= 2
  ORDER BY c DESC, s1 ASC, s2 ASC LIMIT 1
),
w{k + 1} AS MATERIALIZED (
  SELECT word,
         CASE WHEN b.s1 IS NULL THEN enc
              ELSE replace(enc, chr(2)||b.s1||chr(3)||chr(2)||b.s2||chr(3),
                                chr(2)||b.s1||b.s2||chr(3)) END AS enc,
         cnt
  FROM w{k} LEFT JOIN b{k} b ON TRUE
)""")
        if heldout_where is not None:
            parts.append(f""",
h{k + 1} AS MATERIALIZED (
  SELECT word,
         CASE WHEN b.s1 IS NULL THEN enc
              ELSE replace(enc, chr(2)||b.s1||chr(3)||chr(2)||b.s2||chr(3),
                                chr(2)||b.s1||b.s2||chr(3)) END AS enc
  FROM h{k} LEFT JOIN b{k} b ON TRUE
)""")
    return "".join(parts)


def q_bpe_merges(spark, sf_dir):
    """Trained BPE merge table: rank, pair, merged symbol, pair count.

    Training is distributed (sparkcrawl/bpe.py train_bpe); the returned
    frame is built from the driver-held merge list — n_merges rows,
    bounded state, same shape as kmeans_cells' centroid table."""
    merges, _words = _bpe_trained(spark, sf_dir)
    rows = [(i, l, r, l + r, c) for i, (l, r, c) in enumerate(merges)]
    return spark.createDataFrame(
        rows,
        "rank long, lhs string, rhs string, merged string, pair_count long",
    ).orderBy("rank")


def _bpe_merges_sql(n_merges: int) -> str:
    steps = "\nUNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS rank, s1 AS lhs, s2 AS rhs,"
        f" s1||s2 AS merged, CAST(c AS BIGINT) AS pair_count FROM b{k}"
        for k in range(n_merges)
    )
    return f"{_bpe_cte_chain(n_merges)}\nSELECT * FROM (\n{steps}\n) ORDER BY rank"


Q_BPE_MERGES_SQL = _bpe_merges_sql(_BPE_N_MERGES)


def q_bpe_tokenize(spark, sf_dir):
    """Per-document trained-BPE token count: train on the corpus, then
    count each document's tokens via an all-JVM join of its exploded
    pre-tokens against the final segmentation table (vocabulary-sized;
    Catalyst/AQE picks broadcast vs shuffle). The pandas-UDF inference
    path (bpe.count_tokens_udf) is asserted equal in tests/test_bpe.py;
    this query stays on the JVM path."""
    d = _t(spark, sf_dir, "documents")
    _merges, words = _bpe_trained(spark, sf_dir)
    seg = words.select("word", F.size("syms").cast("long").alias("w_tokens"))
    dt = d.select(
        "doc_id", F.explode(bpe.pretokens_col(F.col("text"))).alias("word")
    )
    ag = dt.join(seg, "word").groupBy("doc_id").agg(
        F.sum("w_tokens").alias("n")
    )
    return (
        d.select("doc_id")
        .join(ag, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


Q_BPE_TOKENIZE_SQL = f"""{_bpe_cte_chain(_BPE_N_MERGES)},
seg AS (
  SELECT word,
         CAST(length(enc) - length(replace(enc, chr(2), '')) AS BIGINT)
           AS w_tokens
  FROM w{_BPE_N_MERGES}
),
dt AS (
  SELECT doc_id, unnest(regexp_extract_all(
           regexp_replace(text, '[' || chr(2) || chr(3) || ']', '', 'g'),
           ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS word
  FROM documents
),
ag AS (
  SELECT doc_id, SUM(w_tokens) AS n FROM dt JOIN seg USING (word)
  GROUP BY doc_id
)
SELECT d.doc_id, CAST(COALESCE(ag.n, 0) AS BIGINT) AS n_tokens
FROM documents d LEFT JOIN ag USING (doc_id) ORDER BY doc_id
"""


def q_warc_roundtrip(spark, sf_dir):
    """Corpus -> WARC shards -> records, verified per record (round-4
    VERDICT task #6): synthesize deterministic pages from documents,
    render byte-exact WARC shards (warc.render_warc_shards — global
    (url, ts, tie) rank fixes shard assignment at any cluster width),
    parse the blobs back IN-FLIGHT (warc.records_from_shard_blobs, the
    same parser as the file source), and emit each record's url, shard,
    byte length, and body md5. The oracle computes the same facts
    directly from documents — any corruption or mis-sharding anywhere in
    the render/parse seam breaks the value hash."""
    from sparkcrawl import warc

    d = _t(spark, sf_dir, "documents")
    pages = d.select(
        F.concat(
            F.lit("http://"), F.col("source"), F.lit(".example.com/doc"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id")).alias(
            "warc_ts"
        ),
        F.encode("text", "UTF-8").alias("html"),
    )
    shards = warc.render_warc_shards(pages, records_per_shard=64)
    recs = warc.records_from_shard_blobs(shards)
    return recs.select(
        "url",
        F.col("shard_id").cast("long").alias("shard_id"),
        F.length("html").cast("long").alias("n_bytes"),
        F.md5("html").alias("body_md5"),
    ).orderBy("url")


Q_WARC_ROUNDTRIP_SQL = """
SELECT 'http://' || source || '.example.com/doc' || CAST(doc_id AS VARCHAR)
         AS url,
       CAST((row_number() OVER (ORDER BY
           'http://' || source || '.example.com/doc'
           || CAST(doc_id AS VARCHAR)) - 1) // 64 AS BIGINT) AS shard_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       md5(text) AS body_md5
FROM documents ORDER BY url
"""


def q_bpe_apply_heldout(spark, sf_dir):
    """BPE inference on text the trainer never saw: train merges on the
    even-doc_id half of the corpus, tokenize the odd half with the
    pandas-UDF min-rank replay (bpe.count_tokens_udf — the Arrow batch
    path a pipeline uses to tokenize 100 TB after training once). This
    gives the Python inference kernel its own oracle row: the oracle
    threads the heldout word table through the learned merges in rank
    order, which provably equals the min-rank loop (see _bpe_cte_chain).
    """
    d = _t(spark, sf_dir, "documents")
    merges, _words = bpe.train_bpe(
        d.filter(F.col("doc_id") % 2 == 0), n_merges=_BPE_N_MERGES
    )
    held = d.filter(F.col("doc_id") % 2 == 1)
    return held.select(
        "doc_id",
        bpe.count_tokens_udf(merges)(F.col("text")).alias("n_tokens"),
    ).orderBy("doc_id")


Q_BPE_APPLY_HELDOUT_SQL = f"""{_bpe_cte_chain(
    _BPE_N_MERGES,
    train_where="WHERE doc_id % 2 = 0",
    heldout_where="WHERE doc_id % 2 = 1",
)},
seg AS (
  SELECT word,
         CAST(length(enc) - length(replace(enc, chr(2), '')) AS BIGINT)
           AS w_tokens
  FROM h{_BPE_N_MERGES}
),
dt AS (
  SELECT doc_id, unnest(regexp_extract_all(
           regexp_replace(text, '[' || chr(2) || chr(3) || ']', '', 'g'),
           ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS word
  FROM documents WHERE doc_id % 2 = 1
),
ag AS (
  SELECT doc_id, SUM(w_tokens) AS n FROM dt JOIN seg USING (word)
  GROUP BY doc_id
)
SELECT d.doc_id, CAST(COALESCE(ag.n, 0) AS BIGINT) AS n_tokens
FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
LEFT JOIN ag USING (doc_id) ORDER BY doc_id
"""


def q_token_shard_packing(spark, sf_dir):
    """Token-budgeted shard packing — the actual pretraining data-prep
    op: docs in deterministic doc_id order, each assigned to the shard
    containing its START offset under a trained-BPE token budget.
    Composes bpe_tokenize's all-JVM counts (training memoized per
    session+sf) with pack_shards' partition-free running total, so the
    only driver state is one long per partition."""
    from sparkcrawl.curation import pack_shards

    counts = q_bpe_tokenize(spark, sf_dir)
    return pack_shards(counts, budget=2000).orderBy("doc_id")


Q_TOKEN_SHARD_PACKING_SQL = f"""{_bpe_cte_chain(_BPE_N_MERGES)},
seg AS (
  SELECT word,
         CAST(length(enc) - length(replace(enc, chr(2), '')) AS BIGINT)
           AS w_tokens
  FROM w{_BPE_N_MERGES}
),
dt AS (
  SELECT doc_id, unnest(regexp_extract_all(
           regexp_replace(text, '[' || chr(2) || chr(3) || ']', '', 'g'),
           ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+')) AS word
  FROM documents
),
ag AS (
  SELECT doc_id, SUM(w_tokens) AS n FROM dt JOIN seg USING (word)
  GROUP BY doc_id
),
tc AS (
  SELECT d.doc_id, CAST(COALESCE(ag.n, 0) AS BIGINT) AS n_tokens
  FROM documents d LEFT JOIN ag USING (doc_id)
)
SELECT doc_id, n_tokens,
       CAST(SUM(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens,
       CAST((SUM(n_tokens) OVER (ORDER BY doc_id) - n_tokens) // 2000
            AS BIGINT) AS shard_id
FROM tc ORDER BY doc_id
"""



# Catalog order matters: the driver's per-round correctness gate verifies
# the FIRST 50 entries against the DuckDB oracle.  Round 4 rotated the 34
# never-driver-checked names to the front (all 50 passed); that left the 33
# names last checked in CORRECTNESS_r03 un-re-checked after round 4's
# shared-machinery changes (adaptive shuffle sizing, moving the seen
# filters' merges off the driver).  Round 5 therefore fronts those 33 (block A, slots 1-33) and
# keeps the most load-bearing crawl-path names — plus the two ops whose
# implementations round 5 touches (windowed_lsh_pairs state cap,
# dsir_resample tie-stable quantization) — in slots 34-50 (block B), so
# every catalog entry has a driver-green row within the last two rounds.
# Relative order within each block is unchanged from round 4.
QUERIES = {
    # --- block A (slots 1-33): last driver-checked in r3; re-green in r5 ---
    "revenue_per_nation": (q_revenue_per_nation, Q_REVENUE_PER_NATION_SQL),
    "agg_rollup": (q_agg_rollup, Q_AGG_ROLLUP_SQL),
    "range_join_bucketed": (q_range_join_bucketed, Q_RANGE_JOIN_SQL),
    "asof_join": (q_asof_join, Q_ASOF_JOIN_SQL),
    "hll_distinct": (q_hll_distinct, Q_HLL_DISTINCT_SQL),
    "dedup_exact": (q_dedup_exact, Q_DEDUP_EXACT_SQL),
    "minhash_signatures": (q_minhash_signatures, Q_MINHASH_SIGNATURES_SQL),
    "jaccard_pairs": (q_jaccard_pairs, Q_JACCARD_PAIRS_SQL),
    "ann_cosine": (q_ann_cosine, Q_ANN_COSINE_SQL),
    "ann_buckets": (q_ann_buckets, Q_ANN_BUCKETS_SQL),
    "ann_ivf": (q_ann_ivf, Q_ANN_IVF_SQL),
    "ann_ivf_kmeans": (q_ann_ivf_kmeans, Q_ANN_IVF_KMEANS_SQL),
    "embedding_near_dup": (q_embedding_near_dup, Q_EMBEDDING_NEAR_DUP_SQL),
    "lang_id": (q_lang_id, Q_LANG_ID_SQL),
    "quality": (q_quality, Q_QUALITY_SQL),
    "token_count": (q_token_count, Q_TOKEN_COUNT_SQL),
    "fingerprint": (q_fingerprint, Q_FINGERPRINT_SQL),
    "xpath_valid": (q_xpath_valid, Q_XPATH_VALID_SQL),
    "xpath_match": (q_xpath_match, Q_XPATH_MATCH_SQL),
    "xpath_channels": (q_xpath_channels, Q_XPATH_CHANNELS_SQL),
    "simhash_pairs": (q_simhash_pairs, Q_SIMHASH_PAIRS_SQL),
    "minhash_lsh_pairs": (q_minhash_lsh_pairs, Q_MINHASH_LSH_PAIRS_SQL),
    "dedup_clusters": (q_dedup_clusters, Q_DEDUP_CLUSTERS_SQL),
    "contamination": (q_contamination, Q_CONTAMINATION_SQL),
    "stratified_sample": (q_stratified_sample, Q_STRATIFIED_SAMPLE_SQL),
    "boilerplate_ngrams": (q_boilerplate_ngrams, Q_BOILERPLATE_NGRAMS_SQL),
    "dup_spans": (q_dup_spans, Q_DUP_SPANS_SQL),
    "gopher_rules": (q_gopher_rules, Q_GOPHER_RULES_SQL),
    "c4_filters": (q_c4_filters, Q_C4_FILTERS_SQL),
    "line_dedup": (q_line_dedup, Q_LINE_DEDUP_SQL),
    "chunk_docs": (q_chunk_docs, Q_CHUNK_DOCS_SQL),
    "normalize_text": (q_normalize_text, Q_NORMALIZE_TEXT_SQL),
    "unigram_surprisal": (q_unigram_surprisal, Q_UNIGRAM_SURPRISAL_SQL),
    # --- block B (slots 34-50): load-bearing crawl path + r5-touched ops ---
    "frontier_host_cap": (q_frontier_host_cap, Q_FRONTIER_HOST_CAP_SQL),
    "recrawl_304": (q_recrawl_304, Q_RECRAWL_304_SQL),
    "url_admission": (q_url_admission, Q_URL_ADMISSION_SQL),
    "url_admission_distributed": (
        q_url_admission_distributed, Q_URL_ADMISSION_DISTRIBUTED_SQL
    ),
    "seen_anti_join": (q_seen_anti_join, Q_SEEN_ANTI_JOIN_SQL),
    "canonicalize_ports": (q_canonicalize_ports, Q_CANONICALIZE_PORTS_SQL),
    "robots_effective": (q_robots_effective, Q_ROBOTS_EFFECTIVE_SQL),
    "robots_parse": (q_robots_parse, Q_ROBOTS_PARSE_SQL),
    "content_dedup": (q_content_dedup, Q_CONTENT_DEDUP_SQL),
    "corpus_export": (q_corpus_export, Q_CORPUS_EXPORT_SQL),
    "export_rotation": (q_export_rotation, Q_EXPORT_ROTATION_SQL),
    "crawl_metrics": (q_crawl_metrics, Q_CRAWL_METRICS_SQL),
    "rate_window": (q_rate_window, Q_RATE_WINDOW_SQL),
    "host_partition": (q_host_partition, Q_HOST_PARTITION_SQL),
    "windowed_lsh_pairs": (q_windowed_lsh_pairs, Q_WINDOWED_LSH_PAIRS_SQL),
    "dsir_resample": (q_dsir_resample, Q_DSIR_RESAMPLE_SQL),
    "curation_pipeline": (q_curation_pipeline, Q_CURATION_PIPELINE_SQL),
    # --- block C (51+): driver-green in r4, untouched by r5 edits ---
    "perplexity_buckets": (q_perplexity_buckets, Q_PERPLEXITY_BUCKETS_SQL),
    "backoff_surprisal": (q_backoff_surprisal, Q_BACKOFF_SURPRISAL_SQL),
    "doc_attributes": (q_doc_attributes, Q_DOC_ATTRIBUTES_SQL),
    "semantic_dedup": (q_semantic_dedup, Q_SEMANTIC_DEDUP_SQL),
    "ann_join": (q_ann_join, Q_ANN_JOIN_SQL),
    "dsir_weights": (q_dsir_weights, Q_DSIR_WEIGHTS_SQL),
    "bm25_search": (q_bm25_search, Q_BM25_SEARCH_SQL),
    "corpus_shuffle": (q_corpus_shuffle, Q_CORPUS_SHUFFLE_SQL),
    "pii_scrub": (q_pii_scrub, Q_PII_SCRUB_SQL),
    "quality_pipeline": (q_quality_pipeline, Q_QUALITY_PIPELINE_SQL),
    "pagerank": (q_pagerank, Q_PAGERANK_SQL),
    "hits": (q_hits, Q_HITS_SQL),
    "length_quantiles": (q_length_quantiles, Q_LENGTH_QUANTILES_SQL),
    "lang_pivot": (q_lang_pivot, Q_LANG_PIVOT_SQL),
    "json_props": (q_json_props, Q_JSON_PROPS_SQL),
    "shipping_priority": (q_shipping_priority, Q_SHIPPING_PRIORITY_SQL),
    "promo_supplier_share": (q_promo_supplier_share,
                             Q_PROMO_SUPPLIER_SHARE_SQL),
    "domain_mix": (q_domain_mix, Q_DOMAIN_MIX_SQL),
    "rep_metrics": (q_rep_metrics, Q_REP_METRICS_SQL),
    "shard_packing": (q_shard_packing, Q_SHARD_PACKING_SQL),
    "multimodal_features": (q_multimodal_features, Q_MULTIMODAL_FEATURES_SQL),
    "multimodal_resize": (q_multimodal_resize, Q_MULTIMODAL_RESIZE_SQL),
    "multimodal_frames": (q_multimodal_frames, Q_MULTIMODAL_FRAMES_SQL),
    "label_centroid": (q_label_centroid, Q_LABEL_CENTROID_SQL),
    "bpe_merges": (q_bpe_merges, Q_BPE_MERGES_SQL),
    "bpe_tokenize": (q_bpe_tokenize, Q_BPE_TOKENIZE_SQL),
    "warc_roundtrip": (q_warc_roundtrip, Q_WARC_ROUNDTRIP_SQL),
    "bpe_apply_heldout": (q_bpe_apply_heldout, Q_BPE_APPLY_HELDOUT_SQL),
    "token_shard_packing": (q_token_shard_packing,
                            Q_TOKEN_SHARD_PACKING_SQL),
    "pretokenize_count": (q_pretokenize_count, Q_PRETOKENIZE_COUNT_SQL),
    "dedup_survivors": (q_dedup_survivors, Q_DEDUP_SURVIVORS_SQL),
    "sessionize": (q_sessionize, Q_SESSIONIZE_SQL),
    "tpch_pricing": (q_tpch_pricing, Q_TPCH_PRICING_SQL),
}
