"""URL-seen set: exact anti-join, with a lazily built Bloom prefilter.

Reference D4 is a transactional get-or-put into BerkeleyDB per URL
(URLFilterBolt.java:107-120, StorageServer.java:107-134). The batch
equivalent is a left-anti join of candidate links against the ``seen`` table,
plus within-batch dropDuplicates (``anti_join_seen``).

Past the engine's seen-size crossover (CrawlConfig.bloom_filter_min_seen) a
Bloom filter over the seen table's url_hash column sits in front of that
join (``anti_join_with_bloom``): a candidate whose hash MISSES the filter is
definitely new and skips the join; hits (true dups plus false positives)
flow into the exact anti-join. Only the definitely-new candidates are
diverted — on the benchmark workloads ``seen.admit_per_link`` is 0.61
(crawl-narrow) and 0.39 (crawl-wide), so most candidates are dups that
still reach the join — and the exact join still reads ALL of ``seen``.
Exactness therefore never depends on the filter (tests: thresholds on/off
identical to the oracle).

The filter (``BloomFileState``) is sharded by url_hash mod B, lives only as
one file per shard, and every merge runs inside an executor task: the
driver never holds a bitmap. The engine builds it from ``seen`` the first
time a round engages it and from then on ORs in each round's admitted
hashes; below the crossover no filter work runs at all. Bits are set with
k-fold double hashing (Kirsch–Mitzenmacher: idx_i = h1 + i*h2 mod m) over the
xxhash64 url_hash that the seen table already stores; membership is checked
in a vectorized Arrow-batched pandas UDF.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

_K = 7  # hash functions; with m/n = 10 bits/key -> ~0.8% fp


def _mix(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer — derives the second hash stream."""
    with np.errstate(over="ignore"):
        z = (h + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _indices(hashes: np.ndarray, n_bits: int) -> np.ndarray:
    """(n,) int64 hashes -> (k, n) bit indices."""
    h1 = hashes.astype(np.uint64)
    h2 = _mix(h1) | np.uint64(1)
    i = np.arange(_K, dtype=np.uint64)[:, None]
    with np.errstate(over="ignore"):
        return ((h1[None, :] + i * h2[None, :]) % np.uint64(n_bits)).astype(
            np.int64
        )


def _set_bits(bitmap: np.ndarray, hashes: np.ndarray, n_bits: int) -> None:
    """OR the k bits of every hash into ``bitmap`` in place."""
    idx = _indices(hashes, n_bits).ravel()
    np.bitwise_or.at(bitmap, idx >> 3, (1 << (idx & 7)).astype(np.uint8))


def _all_bits(bitmap: np.ndarray, hashes: np.ndarray,
              n_bits: int) -> np.ndarray:
    """(n,) bool: every one of a hash's k bits is set in ``bitmap``."""
    idx = _indices(hashes, n_bits)
    return ((bitmap[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1).all(axis=0)


# ---- one-shot filter for anti_join_seen --------------------------------------


def _partition_bitmaps(df: DataFrame, n_bits: int) -> DataFrame:
    """mapInPandas: one binary bitmap row per non-empty input partition.
    Each task ORs its whole partition into a local numpy bitmap; only the
    bitmaps leave the executor."""
    n_bytes = (n_bits + 7) // 8

    def gen(batches):
        acc = None
        for pdf in batches:
            hs = pdf["url_hash"].to_numpy(dtype=np.int64)
            if hs.size:
                if acc is None:
                    acc = np.zeros(n_bytes, dtype=np.uint8)
                _set_bits(acc, hs, n_bits)
        if acc is not None:
            yield pd.DataFrame({"bm": [acc.tobytes()]})

    return df.select("url_hash").mapInPandas(gen, "bm binary")


def build_bloom(seen: DataFrame, n_bits: int) -> bytes:
    """OR-reduce per-partition bitmaps of the seen table's url_hash column
    on the driver (the one-shot path; the engine's filter never does)."""
    acc = np.zeros((n_bits + 7) // 8, dtype=np.uint8)
    for r in _partition_bitmaps(seen, n_bits).collect():
        np.bitwise_or(acc, np.frombuffer(r["bm"], dtype=np.uint8), out=acc)
    return acc.tobytes()


def bloom_hit_udf(bitmap: bytes, n_bits: int):
    """pandas UDF: url_hash -> bool (True = maybe seen)."""
    arr = np.frombuffer(bitmap, dtype=np.uint8)

    @pandas_udf("boolean")
    def _hit(h: pd.Series) -> pd.Series:
        return pd.Series(_all_bits(arr, h.to_numpy(dtype=np.int64), n_bits))

    return _hit


# ---- the engine's filter: sharded, file-backed, merged executor-side --------
#
# The filter lives ONLY as one immutable file per shard (shard = url_hash mod
# B, co-partitioned with the seen table's bucket(url_hash) layout at scale).
# Each merge groups the delta by shard, and every shard's merge (read slice ->
# OR delta -> atomic replace) runs INSIDE its executor task. The driver never
# materializes a bitmap — it only bumps a version token. Membership (hit_udf)
# lazy-loads exactly the shard slices a task's rows touch, memoized per
# python worker: locally all B slices end up resident; on a cluster whose
# candidate stream is bucketed by url_hash an executor only ever loads its
# buckets' shards. At scale ``path`` is shared storage (the same volume the
# snapshot store uses).


_SHARD_CACHE: dict = {}  # (path, shard) -> (version, ndarray)


def _shard_file(path: str, s: int) -> str:
    return os.path.join(path, f"shard-{s:04d}.bin")


def _cached_shard(path: str, s: int, ver: str) -> np.ndarray:
    """Worker-side memoized read of one shard file. Python workers are
    reused across tasks/rounds, so entries are versioned: the driver bumps
    ``ver`` after every merge and stale entries are replaced on next use."""
    ent = _SHARD_CACHE.get((path, s))
    if ent is None or ent[0] != ver:
        ent = (ver, np.fromfile(_shard_file(path, s), dtype=np.uint8))
        _SHARD_CACHE[(path, s)] = ent
    return ent[1]


def _atomic_write(fname: str, data: bytes) -> None:
    """Write-then-rename so concurrent readers never see a torn file."""
    tmp = f"{fname}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, fname)


def shard_udf(shards: int):
    """pandas UDF: url_hash -> shard (uint64 arithmetic, the SAME mod the
    numpy kernels use — pmod on the signed int64 would disagree for
    non-power-of-two B)."""

    @pandas_udf("int")
    def _s(h: pd.Series) -> pd.Series:
        hv = h.to_numpy(dtype=np.int64).astype(np.uint64)
        return pd.Series((hv % np.uint64(shards)).astype(np.int32))

    return _s


class BloomFileState:
    """Sharded seen-Bloom maintained EXECUTOR-SIDE (see section comment).
    Shard s holds bits [0, n_bits / B) addressed by the k-fold scheme over
    the hashes with url_hash mod B == s."""

    def __init__(self, path: str, n_bits: int, shards: int):
        assert n_bits % (shards * 8) == 0, "shards must byte-align the bitmap"
        self.path = path
        self.n_bits = n_bits
        self.shards = shards
        self.shard_bits = n_bits // shards
        self._ver = uuid.uuid4().hex[:12]

    @classmethod
    def create(cls, path: str, n_bits: int, shards: int) -> "BloomFileState":
        """Initialize an EMPTY filter at path (wipes any previous one)."""
        import shutil

        b = cls(path, n_bits, shards)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        zero = np.zeros(b.shard_bits // 8, dtype=np.uint8).tobytes()
        for s in range(shards):
            _atomic_write(_shard_file(path, s), zero)
        return b

    @classmethod
    def load(cls, path: str, n_bits: int, shards: int) -> "BloomFileState":
        """Open an existing filter — reads NOTHING on the driver (shard
        slices load lazily in the workers that touch them)."""
        b = cls(path, n_bits, shards)
        nb = b.shard_bits // 8
        for s in range(shards):
            assert os.path.getsize(_shard_file(path, s)) == nb, \
                f"bloom shard {s} size mismatch"
        return b

    @staticmethod
    def load_shard(path: str, s: int) -> np.ndarray:
        """Read ONE shard's bitmap — the executor-side load unit at scale."""
        return np.fromfile(_shard_file(path, s), dtype=np.uint8)

    def add_hashes_df(self, df: DataFrame) -> None:
        """Merge the url_hash column into the filter, one executor task per
        shard: groupBy(shard).applyInPandas guarantees a shard's file has
        exactly ONE writer, which reads the current slice, ORs the delta in
        two vectorized passes, and atomically replaces the file. Only
        (shard, n) counter rows ever reach the driver."""
        path, shard_bits = self.path, self.shard_bits

        def _merge(key, pdf):
            s = int(key[0])
            hs = pdf["url_hash"].to_numpy(dtype=np.int64)
            f = _shard_file(path, s)
            arr = np.fromfile(f, dtype=np.uint8)
            _set_bits(arr, hs, shard_bits)
            _atomic_write(f, arr.tobytes())
            return pd.DataFrame({"shard": [s], "n": [hs.size]})

        (
            df.select("url_hash")
            .withColumn("_shard", shard_udf(self.shards)(F.col("url_hash")))
            .groupBy("_shard")
            .applyInPandas(_merge, "shard int, n long")
            .collect()
        )
        self._ver = uuid.uuid4().hex[:12]

    def hit_udf(self):
        """pandas UDF: url_hash -> bool (True = maybe seen). Loads only the
        shard slices present in the batch, memoized per worker process."""
        path, shards, shard_bits, ver = (
            self.path, self.shards, self.shard_bits, self._ver
        )

        @pandas_udf("boolean")
        def _hit(h: pd.Series) -> pd.Series:
            hv = h.to_numpy(dtype=np.int64)
            sh = (hv.astype(np.uint64) % np.uint64(shards)).astype(np.int64)
            out = np.zeros(hv.size, dtype=bool)
            for s in np.unique(sh):
                m = sh == s
                out[m] = _all_bits(
                    _cached_shard(path, int(s), ver), hv[m], shard_bits
                )
            return pd.Series(out)

        return _hit

    def save(self, path: str) -> None:
        """No-op: every merge already replaced the shard files in place.
        Kept by name because perfbench's traced run wraps it (its
        ``seen.bloom_save`` span, summed into ``seen.bloom_add_s``)."""


def _prefiltered(cand: DataFrame, seen: DataFrame, hit) -> DataFrame:
    """cand (with url_hash) minus seen: filter misses are definitely new;
    only hits go through the exact anti-join."""
    cand = cand.withColumn("_maybe", hit(F.col("url_hash")))
    definitely_new = cand.filter(~F.col("_maybe"))
    confirmed_new = cand.filter(F.col("_maybe")).join(
        seen.select("url_norm"), "url_norm", "left_anti"
    )
    return definitely_new.unionByName(confirmed_new).drop("_maybe", "url_hash")


def anti_join_with_bloom(candidates: DataFrame, seen: DataFrame,
                         bloom: BloomFileState) -> DataFrame:
    """Exact anti-join with the engine's filter as prefilter (see
    anti_join_seen for the exactness argument)."""
    cand = candidates.withColumn("url_hash", F.xxhash64("url_norm"))
    return _prefiltered(cand, seen, bloom.hit_udf())


def anti_join_seen(
    candidates: DataFrame,
    seen: DataFrame,
    use_bloom: bool = True,
    bloom_bits_per_key: int = 10,
    seen_count: int | None = None,
) -> DataFrame:
    """Rows of ``candidates`` whose url_norm is NOT in ``seen`` (exact).

    candidates must carry url_norm; url_hash is derived here (xxhash64,
    JVM-side) so both the Bloom and the join key stay consistent. With
    use_bloom a one-shot filter is built from ``seen`` for this call.
    """
    cand = candidates.withColumn("url_hash", F.xxhash64("url_norm"))
    if not use_bloom:
        return cand.join(
            seen.select("url_norm"), "url_norm", "left_anti"
        ).drop("url_hash")

    n = seen_count if seen_count is not None else seen.count()
    if n == 0:
        return cand.drop("url_hash")
    n_bits = max(1024, n * bloom_bits_per_key)
    return _prefiltered(
        cand, seen, bloom_hit_udf(build_bloom(seen, n_bits), n_bits)
    )
