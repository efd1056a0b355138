"""Crawl-engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload crawl-narrow --seed 1 --seconds 10 --trace 0

Runs from the root of a sparkcrawl checkout. The run builds (or reuses)
the workload's web and oracle expectations (prepare.py), starts Spark,
sets the engine up, runs a fixed window of ``run_round`` calls, checks the
store against the oracle and prints one JSON object as its last line:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones in BENCHMARK.json; with ``--trace 1`` they
are its per-layer ones, gathered by spans, a Spark job census, /proc CPU
accounting and kernel replays (tracing.py, procstat.py, replay.py). The
line before it is ``{"context": ...}``: host steal time, set-up parts and,
in a traced run, its end-to-end figures and the path of its span file.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# round_s: the nominal wall of one measured round on a 4-core host. The
# window is the whole number of rounds closest to --seconds at that pace,
# so every run of a workload does the same work whatever the speed of the
# commit under test.
WORKLOADS = {
    "crawl-narrow": dict(profile="perfbench-narrow", warmup=2, round_s=3.4,
                         golden=False),
    "crawl-wide": dict(profile="perfbench-wide", warmup=1, round_s=5.5,
                       golden=True),
}
CORES = 4
TABLES = ("frontier", "frontier_consumed", "seen", "content_seen", "crawled",
          "host_clock", "lineage", "trace", "metrics")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(path) for n in names
    )


def _environment(run_dir: str) -> None:
    """Workers import sparkcrawl from this checkout; temp files stay in it;
    knobs that bench A/Bs set through the environment are cleared and the
    driver heap is fixed."""
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, pp) if p
    )
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # A 3 GB driver heap, not get_spark's 8 GB default: at 8 GB, G1 spent
    # 1.7-12.8 CPU-s collecting over the same seven crawl-narrow rounds from
    # run to run (3 GB: 2.1-4.1) and the quartile spreads of crawl-narrow's
    # end-to-end figures were 1.4 to 3 times wider (README).
    os.environ["SPARKCRAWL_DRIVER_MEM"] = "3g"
    for knob in ("SPARKCRAWL_EXTRA_SPARKCONF", "SPARKCRAWL_TIMING",
                 "SPARKCRAWL_GC_INTERVAL"):
        os.environ.pop(knob, None)


def _start_spark(run_dir: str):
    from sparkcrawl.session import get_spark

    return get_spark("perfbench", cores=CORES, extra_conf={
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.driver.extraJavaOptions":
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    })


def _stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone.
    The gateway JVM exits when its stdin closes."""
    from procstat import descendants

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _gc_ms(spark) -> int:
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime()
               for b in mf.getGarbageCollectorMXBeans())


def _load_web(spark, web: dict):
    from sparkcrawl import schema as S

    return (spark.read.schema(S.PAGES).parquet(web["pages"]),
            spark.read.schema(S.PAGE_META).parquet(web["page_meta"]),
            spark.read.schema(S.ROBOTS).parquet(web["robots"]),
            spark.read.schema(S.SEEDS).parquet(web["seeds"]))


def _install_spans(tracer) -> None:
    from sparkcrawl import engine, politeness, robots, seen

    tracer.wrap(engine, "dense_seq", "engine.dense_seq",
                rows_of=lambda out: out[1])
    tracer.wrap(politeness, "eligible_hosts_filter",
                "politeness.eligible_hosts_filter")
    tracer.wrap(politeness, "select_per_host", "politeness.select_per_host")
    tracer.wrap(robots, "join_rules", "robots.join_rules")
    tracer.wrap(engine, "with_extracted", "extract.with_extracted")
    tracer.wrap(engine, "with_url_parts", "urlnorm.with_url_parts")
    tracer.wrap(seen, "anti_join_seen", "seen.anti_join_seen")
    tracer.wrap(seen.BloomFileState, "add_hashes_df", "seen.bloom_add")
    tracer.wrap(seen.BloomFileState, "save", "seen.bloom_save")


def _check(spark, store, expect: dict, golden: bool) -> dict:
    """name -> passed, comparing the store with the oracle's outputs."""
    from prepare import text_digest
    from sparkcrawl import schema as S

    trace = [
        (r["round"], r["ord"], r["url_norm"], r["host"], r["action"])
        for r in store.read(spark, "trace", S.TRACE)
        .orderBy("round", "ord").collect()
    ]
    seen = {r["url_norm"] for r in
            store.read(spark, "seen", S.SEEN).select("url_norm").collect()}
    crawled = {
        r["url_norm"]: (r["round"], text_digest(r["text"]))
        for r in store.read(spark, "crawled", S.CRAWLED)
        .select("url_norm", "round", "text").collect()
    }
    checks = {
        "trace": trace == [tuple(t) for t in expect["trace"]],
        "seen": seen == set(expect["seen"]),
        "crawled": crawled == {
            u: tuple(v) for u, v in expect["crawled"].items()
        },
    }
    if golden:
        gold = expect["golden"]
        checks["golden_text"] = bool(crawled) and all(
            gold.get(u) == text for u, (_, text) in crawled.items()
        )
        checks["trace_unique"] = len({t[2] for t in trace}) == len(trace)
        ords: dict[int, list[int]] = {}
        for t in trace:
            ords.setdefault(t[0], []).append(t[1])
        checks["ord_dense"] = all(
            o == list(range(1, len(o) + 1)) for o in ords.values()
        )
    for name, ok in checks.items():
        if not ok:
            print(f"perfbench: check {name} FAILED "
                  f"(engine trace {len(trace)} rows, oracle "
                  f"{len(expect['trace'])}; seen {len(seen)} vs "
                  f"{len(expect['seen'])}; crawled {len(crawled)} vs "
                  f"{len(expect['crawled'])})", file=sys.stderr)
    return checks


def _table_bytes(store) -> dict:
    return {t: _dir_bytes(os.path.join(store.data_dir, t)) for t in TABLES}


def run(args) -> tuple[dict, dict, dict, dict]:
    import prepare
    import procstat
    from sparkcrawl import schema as S
    from sparkcrawl.engine import CrawlConfig, CrawlEngine
    from sparkcrawl.filters import FilterConfig
    from sparkcrawl.tables import SnapshotStore

    wl = WORKLOADS[args.workload]
    warmup = wl["warmup"]
    n_window = max(1, round(args.seconds / wl["round_s"]))
    last = warmup + n_window
    window = range(warmup + 1, last + 1)
    run_dir = os.path.join(WORK, "run")
    inputs = prepare.prepare(os.path.join(WORK, "cache"), wl["profile"],
                             args.seed, last, golden=wl["golden"])
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        _install_spans(tracer)
    ctx = {"workload": args.workload, "seed": args.seed,
           "trace": args.trace, "rounds": [window[0], window[-1]],
           "prepare_s": inputs["prepare_s"]}
    ops = {"attempted": 0, "failed": 0}

    # ---- set-up, timed once as a crawl pays it on a cold JVM: the
    # session, engine construction (its web cache), the seed commit and the
    # warm-up rounds ----
    t = time.perf_counter()
    spark = _start_spark(run_dir)
    spark_s = time.perf_counter() - t
    try:
        cfg = CrawlConfig(filters=FilterConfig(
            banned_hosts=inputs["banned_hosts"]))
        t = time.perf_counter()
        root = os.path.join(run_dir, "store")
        store = (tracing.TimedStore(root, tracer) if tracer
                 else SnapshotStore(root))
        pages, meta, robots_df, seeds = _load_web(spark, inputs["web"])
        engine = CrawlEngine(spark, store, pages, meta, robots_df, cfg)
        engine.init_frontier(seeds)
        build_s = time.perf_counter() - t

        def attempt(r: int):
            """One operation: a run_round call; None if it raised."""
            ops["attempted"] += 1
            try:
                return engine.run_round(r)
            except Exception:
                traceback.print_exc()
                ops["failed"] += 1
                return None

        t = time.perf_counter()
        ok = all(attempt(r) is not None for r in range(1, warmup + 1))
        warm_s = time.perf_counter() - t
        ctx["setup_parts_s"] = {"spark": spark_s, "build": build_s,
                                "warmup": warm_s}

        # ---- measured window, from a collected heap: the session's
        # periodic GC (45 s) otherwise lands in it with whatever garbage
        # set-up left ----
        spark._jvm.System.gc()
        jvm = procstat.find_jvm()
        sampler = procstat.ThreadSampler(jvm) if tracer else None
        census = tracing.JobCensus(spark) if tracer else None
        rounds_census = []
        ctx["py_workers"] = [len(procstat.descendants(jvm))]
        host0, gc0 = procstat.host_cpu(), _gc_ms(spark)
        store0, tables0 = _dir_bytes(store.root), _table_bytes(store)
        walls, sizes, round_cpu = [], [], []
        cpu = dict.fromkeys(procstat.THREAD_CLASSES + (
            "pyworker", "python_driver", "total"), 0.0)
        for r in window if ok else ():
            if tracer:
                tracer.round = r
                span = tracer.begin("engine.run_round")
                tracer.round_span = span["id"]
            c0 = procstat.snapshot(jvm, sampler)
            t = time.perf_counter()
            out = attempt(r)
            wall = time.perf_counter() - t
            if tracer:
                tracer.end(span)
                tracer.round = tracer.round_span = None
            if out is None:
                break
            d = procstat.delta(c0, procstat.snapshot(jvm, sampler))
            for k, v in d.items():
                cpu[k] += v
            round_cpu.append(d["total"])
            walls.append(wall)
            sizes.append(out["n_selected"])
            if census:
                rounds_census.append(census.take())
        host1, gc1 = procstat.host_cpu(), _gc_ms(spark)
        if sampler:
            sampler.stop()
        ctx["py_workers"].append(len(procstat.descendants(jvm)))
        store1, tables1 = _dir_bytes(store.root), _table_bytes(store)
        ctx.update(procstat.steal_share(host0, host1))
        ctx.update(round_urls=sizes, round_walls_s=walls,
                   round_cpu_s=round_cpu, cpu_s=cpu)
        urls = sum(sizes)

        e2e, layer = {}, {}
        if ops["failed"]:
            return ops, e2e, layer, ctx  # a round raised: nothing to check
        e2e = {
            "urls_per_s": urls / sum(walls),
            "round_p50_s": statistics.median(walls),
            "cpu_ms_per_url": cpu["total"] * 1000 / urls,
            "store_kb_per_url": (store1 - store0) / 1024 / urls,
            "setup_s": spark_s + build_s + warm_s,
        }

        # ---- correctness: one operation per check ----
        expect = prepare.load_expectations(inputs["expect"])
        checks = _check(spark, store, expect, wl["golden"])
        ops["attempted"] += len(checks)
        ops["failed"] += sum(not ok for ok in checks.values())
        ctx["checks"] = checks

        if tracer and not ops["failed"]:
            import replay

            n = len(walls)
            for k in ("jobs", "stages", "tasks"):
                layer[f"engine.{k}_per_round"] = sum(
                    c[k] for c in rounds_census) / n
            secs, rows = tracer.total("engine.dense_seq", window)
            layer["engine.dense_seq_rows_per_s"] = rows / secs
            for k in ("task", "pyworker", "driver", "jit", "gc"):
                layer[f"cpu.{k}_ms_per_url"] = cpu[k] * 1000 / urls
            layer["jvm.gc_ms"] = gc1 - gc0
            layer["tables.commit_s"] = tracer.total(
                "tables.commit", window)[0] / n
            for tb in TABLES:
                layer[f"tables.stage_s.{tb}"] = tracer.total(
                    "tables.stage." + tb, window)[0] / n
                layer[f"tables.bytes.{tb}"] = (tables1[tb] - tables0[tb]) / n
                layer[f"tables.dirs.{tb}"] = store.n_dirs(tb)
            layer["seen.bloom_add_s"] = (
                tracer.total("seen.bloom_add", window)[0]
                + tracer.total("seen.bloom_save", window)[0]) / n
            m = store.read(spark, "metrics", S.METRICS).filter(
                f"round >= {window[0]} and round <= {window[-1]}"
            ).agg({"n_admitted": "sum", "n_links": "sum"}).first()
            layer["seen.admit_per_link"] = (
                m["sum(n_admitted)"] / m["sum(n_links)"])
            tracer.round = "replay"  # keeps replay spans out of the window
            scratch = os.path.join(run_dir, "replay")
            layer.update(replay.kernel_replays(
                spark, engine, store, inputs["web"], cfg, scratch))
            layer.update(replay.floor_jobs(spark))
            os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
            spans = os.path.join(
                WORK, "out", f"spans-{args.workload}-s{args.seed}.json")
            tracer.dump(spans)
            tracer.unwrap_all()
            ctx["spans"] = os.path.relpath(spans, ROOT)
            ctx["end_to_end"] = e2e
    finally:
        _stop_spark(spark)
    return ops, e2e, layer, ctx


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("sparkcrawl/engine.py", "tests/gen_fixtures.py",
                 "tests/oracle.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "sparkcrawl checkout", file=sys.stderr)
            return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _environment(run_dir)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]

    try:
        ops, e2e, layer, ctx = run(args)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    want = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer if args.trace else e2e
    missing = [m["name"] for m in want if m["name"] not in values]
    if missing and not ops["failed"]:
        print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
        return 3
    print(json.dumps({"context": ctx}))
    print(json.dumps({
        "correct": ops["failed"] == 0,
        "attempted": ops["attempted"],
        "failed": ops["failed"],
        "metrics": {
            m["name"]: {"value": values.get(m["name"], 0.0),
                        "unit": m["unit"]} for m in want
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
