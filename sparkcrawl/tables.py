"""SnapshotStore — atomic multi-table commits on plain Parquet.

Stand-in for an Iceberg catalog (this sandbox has no Iceberg jar). Provides
exactly the two properties the engine needs from Iceberg:

1. **Atomic round commits**: a round stages Parquet writes for several tables
   (frontier', seen+, crawled+, trace+, metrics+, host_clock'), then commits
   them all with one manifest swap. A killed run never observes a half-round.
2. **Snapshot resume**: restart reads the CURRENT manifest and continues from
   the last committed round with identical state — the analogue of the
   reference's URLDisk.txt + BerkeleyDB restart (XPathCrawler.java:85-98),
   but transactional (the reference's resume is best-effort line counting).

On a real cluster, swap this class for an Iceberg catalog: stage_append ->
``df.writeTo(tbl).append()``, stage_overwrite -> ``.overwritePartitions()``,
commit -> Iceberg's own snapshot commit; the engine code is unchanged.
(Re-verified round 5, 2026-08-21: the sandbox's pyspark 4.1.2 still ships
no Iceberg runtime jar and has no network to fetch one — the swap-in
mapping above remains the build plan the moment a catalog jar appears.)

Layout::

    root/
      _snapshots/v000000N.json   # {"round": r, "tables": {name: [data dirs]}}
      _snapshots/CURRENT         # text: "v000000N" (atomic os.replace swap)
      data/<table>/<token>/      # immutable parquet dirs
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _arrow_types():
    import pyarrow as pa

    return {
        "IntegerType": pa.int32(),
        "LongType": pa.int64(),
        "StringType": pa.string(),
        "DoubleType": pa.float64(),
        "TimestampType": pa.timestamp("us", tz="UTC"),
        "BinaryType": pa.binary(),
        "BooleanType": pa.bool_(),
    }


class _LazyArrowTypes(dict):
    def __missing__(self, key):
        self.update(_arrow_types())
        return dict.__getitem__(self, key)


_ARROW_TYPES = _LazyArrowTypes()


def _write_synced(path: str, text: str) -> None:
    with open(path, "w") as f:
        f.write(text)
        f.flush()
        os.fsync(f.fileno())


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        self.snap_dir = os.path.join(root, "_snapshots")
        self.data_dir = os.path.join(root, "data")
        os.makedirs(self.snap_dir, exist_ok=True)
        os.makedirs(self.data_dir, exist_ok=True)
        self._pending: dict[str, dict] = {}
        self._lock = __import__("threading").Lock()
        self._load_current()

    # ---- snapshot state ----

    def _load_current(self) -> None:
        cur = os.path.join(self.snap_dir, "CURRENT")
        if os.path.exists(cur):
            with open(cur) as f:
                name = f.read().strip()
            with open(os.path.join(self.snap_dir, name + ".json")) as f:
                snap = json.load(f)
            self.version = snap["version"]
            self.meta = snap.get("meta", {})
            self._tables = {k: list(v) for k, v in snap["tables"].items()}
        else:
            self.version = 0
            self.meta = {}
            self._tables: dict[str, list[str]] = {}

    @property
    def committed_round(self) -> int:
        return int(self.meta.get("round", -1))

    # ---- staging ----

    def _write(self, name: str, df: DataFrame) -> str:
        token = f"r{self.version + 1}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self.data_dir, name, token)
        df.write.mode("error").parquet(path)
        return path

    def stage_append(self, name: str, df: DataFrame) -> None:
        path = self._write(name, df)
        with self._lock:
            p = self._pending.setdefault(name, {"mode": "append", "dirs": []})
            p["dirs"].append(path)

    def stage_append_rows(self, name: str, rows: list[tuple],
                          schema: T.StructType) -> None:
        """Append driver-side rows as parquet WITHOUT a Spark job (for tiny
        observational tables like per-round metrics)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        token = f"r{self.version + 1}-{uuid.uuid4().hex[:8]}"
        path = os.path.join(self.data_dir, name, token)
        os.makedirs(path, exist_ok=True)
        arrow_schema = pa.schema(
            [
                (f.name, _ARROW_TYPES[type(f.dataType).__name__])
                for f in schema.fields
            ]
        )
        cols = {
            f.name: [r[i] for r in rows]
            for i, f in enumerate(schema.fields)
        }
        pq.write_table(
            pa.table(cols, schema=arrow_schema),
            os.path.join(path, "part-0.parquet"),
        )
        p = self._pending.setdefault(name, {"mode": "append", "dirs": []})
        p["dirs"].append(path)

    def stage_overwrite(self, name: str, df: DataFrame) -> None:
        path = self._write(name, df)
        with self._lock:
            self._pending[name] = {"mode": "overwrite", "dirs": [path]}

    def stage_drop(self, name: str) -> None:
        """Stage truncation of a table: the next manifest simply stops
        referencing its data dirs (no data is touched — same immutable-dir
        discipline as overwrite; the Iceberg analogue is a delete-all /
        truncate snapshot)."""
        with self._lock:
            self._pending[name] = {"mode": "overwrite", "dirs": []}

    def commit(self, meta: dict | None = None) -> int:
        """Fold pending stages into a new manifest; atomic CURRENT swap.
        Durable once it returns: the manifest and CURRENT.tmp are fsynced
        before the rename and the directory after it, so a power loss
        cannot leave CURRENT naming a manifest that never reached disk."""
        tables = {k: list(v) for k, v in self._tables.items()}
        for name, p in self._pending.items():
            if p["mode"] == "overwrite":
                tables[name] = p["dirs"]
            else:
                tables.setdefault(name, []).extend(p["dirs"])
        self.version += 1
        self.meta = dict(meta or {})
        snap = {"version": self.version, "meta": self.meta, "tables": tables}
        name = f"v{self.version:08d}"
        _write_synced(os.path.join(self.snap_dir, name + ".json"),
                      json.dumps(snap))
        tmp = os.path.join(self.snap_dir, "CURRENT.tmp")
        _write_synced(tmp, name)
        os.replace(tmp, os.path.join(self.snap_dir, "CURRENT"))  # atomic
        fd = os.open(self.snap_dir, os.O_RDONLY)
        try:
            os.fsync(fd)  # the rename itself
        finally:
            os.close(fd)
        self._tables = tables
        self._pending = {}
        return self.version

    def abort(self) -> None:
        """Drop staged (uncommitted) data — crash-recovery path."""
        for p in self._pending.values():
            for d in p["dirs"]:
                shutil.rmtree(d, ignore_errors=True)
        self._pending = {}

    # ---- reads ----

    def read(self, spark: SparkSession, name: str, schema: T.StructType) -> DataFrame:
        dirs = self._tables.get(name, [])
        if not dirs:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*dirs)

    def exists(self, name: str) -> bool:
        return bool(self._tables.get(name))

    def n_dirs(self, name: str) -> int:
        return len(self._tables.get(name, []))

    # ---- maintenance ----

    def compact(self, spark: SparkSession, name: str,
                schema: T.StructType, min_dirs: int = 16) -> bool:
        """Rewrite a many-dir append table into one staged dir (the
        rewrite_data_files / bin-packing maintenance Iceberg runs): an
        append-per-round table accumulates one directory per round, and
        every downstream read lists and opens all of them. Stages an
        overwrite with identical content; the caller commits. Returns
        whether a rewrite was staged."""
        if self.n_dirs(name) < min_dirs:
            return False
        self.stage_overwrite(name, self.read(spark, name, schema))
        return True

    def expire_snapshots(self, keep_last: int = 8) -> dict:
        """Iceberg ``expire_snapshots`` + ``remove_orphan_files`` analogue.

        Drops manifest files older than the newest ``keep_last`` (always
        keeping the CURRENT manifest and anything newer — a crash between
        writing vN.json and swapping CURRENT must never strand the live
        snapshot), then deletes every ``data/<table>/<token>`` dir that no
        kept manifest and no pending stage references.

        Without this a long crawl leaks disk two ways: every overwrite/
        compaction commit strands the superseded dirs (referenced only by
        expired manifests), and a round killed mid-write strands its
        staged dirs forever. Both are exactly what Iceberg's maintenance
        procedures exist for; the engine runs this on the same cadence as
        table compaction. Only ``data/`` is scanned — the seen prefilter's
        shard files (``<root>/bloom``) live beside it, rewritten in place;
        a manifest vouches for them only through its meta's completeness
        marker (engine.BLOOM_META).
        """
        keep_last = max(1, keep_last)
        snaps = sorted(
            n[:-5] for n in os.listdir(self.snap_dir)
            if n.startswith("v") and n.endswith(".json")
        )
        current = f"v{self.version:08d}"
        keep = set(snaps[-keep_last:])
        keep.update(n for n in snaps if n >= current)
        referenced: set[str] = set()
        for n in keep:
            with open(os.path.join(self.snap_dir, n + ".json")) as f:
                for dirs in json.load(f)["tables"].values():
                    referenced.update(dirs)
        with self._lock:
            for p in self._pending.values():
                referenced.update(p["dirs"])
        removed_dirs = 0
        for table in sorted(os.listdir(self.data_dir)):
            tdir = os.path.join(self.data_dir, table)
            if not os.path.isdir(tdir):
                continue
            for token in sorted(os.listdir(tdir)):
                d = os.path.join(tdir, token)
                if d not in referenced:
                    shutil.rmtree(d, ignore_errors=True)
                    removed_dirs += 1
        removed_snaps = 0
        for n in snaps:
            if n not in keep:
                os.remove(os.path.join(self.snap_dir, n + ".json"))
                removed_snaps += 1
        return {"removed_dirs": removed_dirs,
                "removed_snapshots": removed_snaps,
                "kept_snapshots": len(keep)}
