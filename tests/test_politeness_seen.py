"""Parity tests: per-host cap selection, seen anti-join/Bloom, dense_seq."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from sparkcrawl import schema as S
from sparkcrawl.engine import dense_seq
from sparkcrawl.politeness import select_per_host, select_py
from sparkcrawl.seen import anti_join_seen


def _mk_frontier(spark, rows):
    return spark.createDataFrame(
        [(u, h, p, d, s, ra) for (u, h, p, d, s, ra) in rows], S.FRONTIER
    )


def test_select_caps(spark):
    """cap(host) by priority; selection = first cap rows by seq per host."""
    rng = random.Random(7)
    rows = []
    seq = 0
    for h, n in [("p1.com", 40), ("p2.com", 25), ("d.com", 12), ("e.com", 3)]:
        for i in range(n):
            seq += 1
            rows.append((f"http://{h}:80/x{i}", h, f"/x{i}", 1, seq, 0))
    rng.shuffle(rows)
    frontier = _mk_frontier(spark, rows)
    prio = spark.createDataFrame(
        [("p1.com", 1), ("p2.com", 2)], "host string, priority int"
    )
    got = {
        (r["host"], r["seq"])
        for r in select_per_host(frontier, prio).collect()
    }
    py = select_py(
        [dict(url_norm=u, host=h, path=p, depth=d, seq=s) for
         (u, h, p, d, s, _) in rows],
        {"p1.com": 1, "p2.com": 2},
        rules={}, clock={}, round_no=1,
    )
    want = {(r["host"], r["seq"]) for r in py}
    assert got == want
    # cap sizes: 15 / 10 / 5 / all-3
    by_host = {}
    for h, s in got:
        by_host[h] = by_host.get(h, 0) + 1
    assert by_host == {"p1.com": 15, "p2.com": 10, "d.com": 5, "e.com": 3}
    # and it's the FIRST seqs per host
    p1_seqs = sorted(s for (u, h, p, d, s, _) in rows if h == "p1.com")
    assert {s for h, s in got if h == "p1.com"} == set(p1_seqs[:15])


def test_anti_join_bloom_exact(spark):
    """Bloom prefilter changes nothing vs plain anti-join (10k candidates)."""
    cand = spark.range(10_000).select(
        F.concat(F.lit("http://h:80/c"), F.col("id")).alias("url_norm")
    )
    seen = spark.range(0, 10_000, 2).select(
        F.concat(F.lit("http://h:80/c"), F.col("id")).alias("url_norm"),
        F.xxhash64(F.concat(F.lit("http://h:80/c"), F.col("id"))).alias(
            "url_hash"
        ),
        F.lit(0).alias("round_added"),
    )
    with_bloom = set(
        r["url_norm"]
        for r in anti_join_seen(cand, seen, use_bloom=True).collect()
    )
    without = set(
        r["url_norm"]
        for r in anti_join_seen(cand, seen, use_bloom=False).collect()
    )
    assert with_bloom == without
    assert len(with_bloom) == 5_000


def test_sharded_bloom_membership_and_roundtrip(spark, tmp_path):
    """Sharded BloomFileState (shard = url_hash mod B): every added hash
    hits; one file per shard, each loadable individually; a reopened
    filter answers the same; anti-join results identical at B=1 vs B=4
    (exactness never depends on the Bloom)."""
    import os

    from sparkcrawl.seen import BloomFileState, anti_join_with_bloom

    seen = spark.range(0, 6_000, 2).select(
        F.concat(F.lit("http://h:80/c"), F.col("id")).alias("url_norm"),
        F.xxhash64(F.concat(F.lit("http://h:80/c"), F.col("id"))).alias(
            "url_hash"
        ),
        F.lit(0).alias("round_added"),
    )
    cand = spark.range(6_000).select(
        F.concat(F.lit("http://h:80/c"), F.col("id")).alias("url_norm")
    )
    results = {}
    for shards in (1, 4):
        path = str(tmp_path / f"bloom{shards}")
        b = BloomFileState.create(path, 1 << 16, shards)
        b.add_hashes_df(seen)
        assert sorted(os.listdir(path)) == [
            f"shard-{s:04d}.bin" for s in range(shards)
        ]
        assert BloomFileState.load_shard(path, shards - 1).size == (
            (1 << 16) // shards // 8
        )
        results[shards] = set(
            r["url_norm"]
            for r in anti_join_with_bloom(cand, seen, b).collect()
        )
        # reopened from its files: no false negatives, same answers
        b2 = BloomFileState.load(path, 1 << 16, shards)
        hits = seen.select(
            b.hit_udf()(F.col("url_hash")).alias("h"),
            b2.hit_udf()(F.col("url_hash")).alias("h2"),
        ).collect()
        assert all(r["h"] and r["h2"] for r in hits)
    assert results[1] == results[4]
    assert len(results[1]) == 3_000


def test_dense_seq_global_rank(spark):
    """dense_seq == global row_number regardless of partitioning."""
    df = spark.range(5_000).select(
        (F.col("id") * 2_654_435_761 % 1_000_003).alias("key"),
        F.col("id").alias("tie"),
    ).repartition(13)
    out, total = dense_seq(df, ["key", "tie"], base=1000)
    assert total == 5_000
    rows = sorted(
        [(r["key"], r["tie"], r["seq"]) for r in out.collect()],
        key=lambda t: (t[0], t[1]),
    )
    for i, (_, _, seq) in enumerate(rows):
        assert seq == 1000 + i + 1


def test_bloom_file_state_executor_side(spark, tmp_path):
    """BloomFileState (the engine's prefilter): executor-side per-shard
    merges produce BIT-IDENTICAL shard files to a bitmap computed in the
    test from the same hashes (seen._indices per shard), incremental
    merges accumulate, save() is a no-op, no false negatives, and the
    driver object holds no bitmap at all."""
    import numpy as np

    from sparkcrawl.seen import BloomFileState, _indices

    def mk(a, b):
        return spark.range(a, b).select(
            F.concat(F.lit("http://h:80/f"), F.col("id")).alias("url_norm"),
            F.xxhash64(F.concat(F.lit("http://h:80/f"), F.col("id"))).alias(
                "url_hash"
            ),
        )

    d1, d2 = mk(0, 3_000), mk(3_000, 5_000)
    shards, bits = 4, 1 << 16
    shard_bits = bits // shards
    hashes = np.array(
        [r["url_hash"] for r in mk(0, 5_000).collect()], dtype=np.int64
    )
    owner = (hashes.astype(np.uint64) % np.uint64(shards)).astype(np.int64)

    path = str(tmp_path / "file")
    bf = BloomFileState.create(path, bits, shards)
    bf.add_hashes_df(d1)
    bf.add_hashes_df(d2)  # incremental second merge
    for s in range(shards):
        want = np.zeros(shard_bits // 8, dtype=np.uint8)
        for i in _indices(hashes[owner == s], shard_bits).ravel():
            want[i >> 3] |= np.uint8(1 << (i & 7))
        assert np.array_equal(BloomFileState.load_shard(path, s), want), \
            f"shard {s} differs from the expected bitmap"
    assert not hasattr(bf, "bitmap")  # nothing driver-resident
    bf.save(path)  # no-op, already durable

    # reopen reads nothing on the driver; membership has no false negatives
    bf2 = BloomFileState.load(path, bits, shards)
    hits = (
        mk(0, 5_000)
        .withColumn("h", bf2.hit_udf()(F.col("url_hash")))
        .collect()
    )
    assert all(r["h"] for r in hits)
