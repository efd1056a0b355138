"""Real multi-process executor execution via ``spark-submit --master
local-cluster[2,2,2048]`` — two separate executor JVMs with real
serialized closures, network shuffle/broadcast fetch, executor-side
--py-files distribution, and isolated Python workers per executor.

``local[N]`` runs everything in one JVM, so it structurally cannot catch:
closure-serialization bugs (tasks deserialize in a different JVM),
shared-state assumptions (e.g. BloomFileState/CuckooFileState shard-file
merges racing across executor PROCESSES, not threads), broadcast
transport, or a --py-files zip that only the driver can import. These
tests run the kill/resume crawl e2e and a headline query set under
local-cluster and assert bit-identical outputs vs the in-process
``local[4]`` run — the cheapest single-box falsifier of the north rule's
multi-executor-cluster claim (BASELINE.json north_rule: "run via
spark-submit --py-files on a multi-executor cluster").
"""

from __future__ import annotations

import inspect
import json
import os
import subprocess
import sys
import zipfile

import pytest

from conftest import load_inputs

import check_contract
from sparkcrawl import schema as S
from sparkcrawl.engine import CrawlConfig, CrawlEngine
from sparkcrawl.package import build_pyfiles_zip
from sparkcrawl.tables import SnapshotStore

SPARK_SUBMIT = os.path.join(
    os.environ.get("SPARK_HOME", "/opt/spark"), "bin", "spark-submit"
)
LOCAL_CLUSTER = "local-cluster[2,2,2048]"

pytestmark = pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="spark-submit not installed"
)


def _submit_lc(primary_py, zip_path, cwd, *args, timeout=900, env_add=None):
    """spark-submit under local-cluster: 2 executor JVMs x 2 cores,
    2048 MB each. Repo stripped from PYTHONPATH — driver AND both
    executors' Python workers must import sparkcrawl from the shipped
    zip, fetched over the executor file-server like a real cluster."""
    env = dict(os.environ, **(env_add or {}))
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    cmd = [
        SPARK_SUBMIT,
        "--master", LOCAL_CLUSTER,
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.driver.memory=2g",
        "--py-files", zip_path,
        primary_py, *args,
    ]
    proc = subprocess.run(
        cmd, cwd=cwd, env=env, capture_output=True, text=True,
        timeout=timeout,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    assert lines, proc.stdout[-2000:] + proc.stderr[-2000:]
    return json.loads(lines[-1])


def _crawled_map(spark, store_dir):
    store = SnapshotStore(store_dir)
    return {
        r["url_norm"]: r["text"]
        for r in store.read(spark, "crawled", S.CRAWLED).collect()
    }


def test_local_cluster_crawl_kill_resume_bit_identical(
    spark, fixture_paths, tmp_path
):
    """Partial crawl -> process death -> resume to quiescence, all under
    separate executor JVMs; the crawled corpus must be byte-identical to
    the single-JVM in-process run. With the prefilter engaged from round 1
    (SPARKCRAWL_CONF threshold 0) this exercises the executor-side
    seen-filter shard merges (BloomFileState) under real process
    isolation, and the resumed leg opens the filter the first leg
    committed."""
    pages, meta, robots, seeds = load_inputs(spark, fixture_paths)
    ref_store = SnapshotStore(str(tmp_path / "ref_store"))
    CrawlEngine(spark, ref_store, pages, meta, robots, CrawlConfig()).run(
        seeds
    )
    expected = _crawled_map(spark, str(tmp_path / "ref_store"))
    assert expected

    zip_path = build_pyfiles_zip(str(tmp_path / "sparkcrawl.zip"))
    cli_py = str(tmp_path / "cli_main.py")
    with zipfile.ZipFile(zip_path) as zf:
        with open(cli_py, "wb") as f:
            f.write(zf.read("sparkcrawl/cli.py"))

    web = os.path.dirname(fixture_paths["pages"])
    store = str(tmp_path / "store")

    engaged = {"SPARKCRAWL_CONF": '{"bloom_filter_min_seen": 0}'}
    res1 = _submit_lc(
        cli_py, zip_path, str(tmp_path),
        "--web", web, "--store", store, "--max-rounds", "2",
        env_add=engaged,
    )
    assert res1["rounds"] == 2
    assert os.path.isdir(os.path.join(store, "bloom"))

    res2 = _submit_lc(
        cli_py, zip_path, str(tmp_path),
        "--web", web, "--store", store, "--resume",
        env_add=engaged,
    )
    assert res2["n_frontier"] == 0
    assert res2["n_crawled_total"] == len(expected)
    assert _crawled_map(spark, store) == expected


# Headline set: iterative graph (driver-loop + localCheckpoint), salted
# top-k, exact-dedup shuffle, banded-LSH Arrow UDFs, partition-offset
# running totals, and a JVM vector scan — one representative per
# execution pattern the engine relies on.
LC_QUERIES = (
    "frontier_host_cap",
    "content_dedup",
    "minhash_lsh_pairs",
    "pagerank",
    "chunk_docs",
    "ann_cosine",
    # iterative large/small-star closure + accounting agg under real
    # multi-process executors (localCheckpoint per sweep, broadcast joins)
    "dedup_survivors",
)

_RUNNER = '''\
"""Generated by test_local_cluster: run catalog queries under whatever
master spark-submit provides and print one JSON line of value hashes."""
import json
import sys

from pyspark.sql import SparkSession

{hash_src}

def main():
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    spark = SparkSession.builder.appName("lc_queries").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    from sparkcrawl.queries import QUERIES
    out = {{"master": spark.sparkContext.master}}
    for name in names:
        fn = QUERIES[name][0]
        df = fn(spark, sf_dir)
        rows = [tuple(r) for r in df.collect()]
        out[name] = {{
            "rows": len(rows),
            "cols": sorted(df.columns),
            "hash": value_hash(df.columns, rows),
        }}
    print(json.dumps(out))
    spark.stop()

main()
'''


def test_local_cluster_queries_match_local(spark, tmp_path):
    """The headline query set produces identical value hashes under
    local-cluster (2 executor JVMs) and in-process local[4]."""
    sf_dir = os.environ.get(
        "SPARKCRAWL_LC_SF_DIR", "/root/testdata/sf0.001"
    )
    if not os.path.exists(f"{sf_dir}/documents.parquet"):
        pytest.skip(f"no testdata at {sf_dir}")

    from sparkcrawl.queries import QUERIES

    expected = {}
    for name in LC_QUERIES:
        df = QUERIES[name][0](spark, sf_dir)
        rows = [tuple(r) for r in df.collect()]
        expected[name] = {
            "rows": len(rows),
            "cols": sorted(df.columns),
            "hash": check_contract.value_hash(df.columns, rows),
        }

    hash_src = (
        inspect.getsource(check_contract._canon)
        + "\n\nimport hashlib, math\n"
        + inspect.getsource(check_contract.value_hash)
    )
    runner = str(tmp_path / "lc_runner.py")
    with open(runner, "w") as f:
        f.write(_RUNNER.format(hash_src=hash_src))
    zip_path = build_pyfiles_zip(str(tmp_path / "sparkcrawl.zip"))

    got = _submit_lc(
        runner, zip_path, str(tmp_path), sf_dir, *LC_QUERIES
    )
    assert got.pop("master") == LOCAL_CLUSTER
    assert got == expected


_STREAM_RUNNER = '''\
"""Generated by test_local_cluster: run the chained-stateful streaming
LSH query under whatever master spark-submit provides, importing
sparkcrawl ONLY from the shipped --py-files zip, and print the finalized
append-mode rows as JSON."""
import json
import sys

from pyspark.sql import SparkSession

def main():
    src, ckpt = sys.argv[1], sys.argv[2]
    spark = SparkSession.builder.appName("lc_streaming").getOrCreate()
    from sparkcrawl.streaming import read_event_stream, streaming_lsh_pairs

    stream = streaming_lsh_pairs(
        read_event_stream(
            spark, src + "/b*", "doc_id long, text string, ts timestamp",
            max_files_per_trigger=1,
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("lc_lsh")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "streaming query did not finish in 300s"
    rows = sorted(
        [str(c) for c in r] for r in spark.table("lc_lsh").collect()
    )
    print(json.dumps({"master": spark.conf.get("spark.master"),
                      "rows": rows}))
    spark.stop()

main()
'''


def test_local_cluster_streaming_lsh_matches_batch(spark, tmp_path):
    """streaming_lsh_pairs under local-cluster: BOTH chained state stores
    (window x bucket collect_set, window x pair count) live in separate
    executor JVMs with HDFS-backed state checkpointing and per-executor
    Python workers — the finalized append rows must equal the in-process
    batch computation exactly. The cheapest falsifier of 'streaming state
    works on a real cluster'."""
    import datetime as dt

    from sparkcrawl.streaming import streaming_lsh_pairs

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    dup = "the quick brown fox jumps over the lazy dog today"
    near = "the quick brown fox jumps over the lazy dog tonight"
    batches = [
        [(0, dup, t0), (1, dup, t0),
         (2, "completely unrelated words in this document body", t0)],
        [(3, dup, t0 + dt.timedelta(seconds=90)),
         (4, near, t0 + dt.timedelta(seconds=95))],
        [(999, "watermark sentinel advancing event time only",
          t0 + dt.timedelta(hours=1))],
    ]
    schema = "doc_id long, text string, ts timestamp"
    src = str(tmp_path / "docs")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/b{i}"
        )

    all_rows = [r for b in batches for r in b]
    expected = sorted(
        [str(c) for c in r]
        for r in streaming_lsh_pairs(
            spark.createDataFrame(all_rows, schema)
        ).collect()
    )
    assert expected

    runner = str(tmp_path / "lc_stream_runner.py")
    with open(runner, "w") as f:
        f.write(_STREAM_RUNNER)
    zip_path = build_pyfiles_zip(str(tmp_path / "sparkcrawl_s.zip"))
    got = _submit_lc(
        runner, zip_path, str(tmp_path), src, str(tmp_path / "ckpt")
    )
    assert got["master"] == LOCAL_CLUSTER
    assert got["rows"] == expected
