"""Workload inputs: the synthetic web and its oracle expectations, cached.

Each workload's web comes from ``tests/gen_fixtures.generate(profile,
seed)`` and its expected outputs from the pure-Python oracle
(``tests/oracle.run_oracle``) for exactly the rounds the benchmark runs.
Both are costly (tens of seconds for the webs used here), and neither is
the engine's work, so they are built once per (profile, seed, rounds) and
kept in a cache directory inside the checkout. A cache entry is keyed by
its parameters plus a digest of the generator and oracle sources, and
carries a manifest with the SHA-256 of every file it holds; an entry whose
files do not match its manifest is rebuilt.
"""

from __future__ import annotations

import gzip
import hashlib
import json
import os
import shutil
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The benchmark's two webs, registered as generator profiles. The
# generator's own profiles either spend most of their generation time on
# pages no measured round reaches or take minutes per seed (scale: ~111 s),
# and every new --seed generates a web.
PROFILES = {
    # t2's host fan-out and seeding (1,000 hosts, 500 seeded) with a
    # 1,500-page mega host and shorter pages: t2's 15,000-page mega host is
    # 62% of its generation time but adds at most 15 URLs (its cap) to any
    # round, and this workload's rounds are bound by fixed cost, not bodies.
    "perfbench-narrow": dict(n_hosts=1000, mean_pages=35, mega_pages=1500,
                             seed_hosts=500, n_para=(3, 6),
                             para_words=(25, 50)),
    # the scale profile's defining property -- every host seeded, so rounds
    # carry thousands of URLs -- at 16,000 hosts and shorter pages
    "perfbench-wide": dict(n_hosts=16000, mean_pages=12, mega_pages=1000,
                           seed_hosts=16000, n_para=(3, 6),
                           para_words=(25, 50)),
}

# Sources whose behaviour the cached files depend on.
_SOURCES = (
    "tests/gen_fixtures.py", "tests/oracle.py", "sparkcrawl/htmlspec.py",
    "sparkcrawl/urlnorm.py", "sparkcrawl/filters.py", "sparkcrawl/robots.py",
    "sparkcrawl/politeness.py", "perfbench/prepare.py",
)
_WEB_TABLES = ("pages", "page_meta", "robots", "seeds")
_KEEP_ENTRIES = 48


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _files(entry: str) -> list[str]:
    out = []
    for dirpath, _, names in os.walk(entry):
        for n in names:
            if n != "MANIFEST.json":
                out.append(os.path.relpath(os.path.join(dirpath, n), entry))
    return sorted(out)


def _valid(entry: str) -> dict | None:
    try:
        with open(os.path.join(entry, "MANIFEST.json")) as f:
            manifest = json.load(f)
    except (OSError, ValueError):
        return None
    digests = manifest.get("files", {})
    if sorted(digests) != _files(entry):
        return None
    for rel, want in digests.items():
        if _sha256(os.path.join(entry, rel)) != want:
            return None
    return manifest


def text_digest(text: str | None) -> str | None:
    """SHA-256 of a crawled text: the expectations keep digests, not the
    texts, and a check compares digests of the engine's texts with them."""
    return None if text is None else \
        hashlib.sha256(text.encode("utf-8")).hexdigest()


def _oracle_expectations(fx: dict, rounds: int, golden: bool) -> dict:
    from oracle import run_oracle

    res = run_oracle(fx, max_rounds=rounds)
    out = {
        "trace": [list(t) for t in res.trace],
        "seen": sorted(res.seen),
        "crawled": {u: [r, text_digest(text)]
                    for u, (r, text) in res.crawled.items()},
    }
    if golden:
        text_of = {p["url"]: p["text"] for p in fx["pages"]}
        out["golden"] = {u: text_digest(text_of.get(u)) for u in res.crawled}
    return out


def prepare(cache_dir: str, profile: str, seed: int, rounds: int,
            golden: bool = False) -> dict:
    """Return {"web": dir of the four parquet tables, "banned_hosts",
    "expect": path of the gzipped oracle expectations, "prepare_s"}."""
    import gen_fixtures

    gen_fixtures.SIZES.update(PROFILES)
    params = gen_fixtures.SIZES[profile]
    src = hashlib.sha256()
    for rel in _SOURCES:
        src.update(_sha256(os.path.join(ROOT, rel)).encode())
    key_doc = json.dumps(
        {"profile": profile, "params": params, "seed": seed,
         "rounds": rounds, "golden": golden, "sources": src.hexdigest()},
        sort_keys=True,
    )
    key = hashlib.sha256(key_doc.encode()).hexdigest()[:20]
    entry = os.path.join(cache_dir, f"{profile}-s{seed}-r{rounds}-{key}")
    t0 = time.perf_counter()
    manifest = _valid(entry)
    if manifest is None:
        shutil.rmtree(entry, ignore_errors=True)
        tmp = entry + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        fx = gen_fixtures.generate(profile, seed)
        gen_fixtures.write_parquet(fx, os.path.join(tmp, "web"))
        expect = _oracle_expectations(fx, rounds, golden)
        with gzip.open(os.path.join(tmp, "expect.json.gz"), "wt",
                       compresslevel=1) as f:
            json.dump(expect, f)
        files = {rel: _sha256(os.path.join(tmp, rel)) for rel in _files(tmp)}
        manifest = {"key": json.loads(key_doc), "files": files,
                    "banned_hosts": list(fx["banned_hosts"])}
        with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, entry)
        _prune(cache_dir)
    os.utime(entry)
    return {
        "web": {t: os.path.join(entry, "web", f"{t}.parquet")
                for t in _WEB_TABLES},
        "banned_hosts": tuple(manifest["banned_hosts"]),
        "expect": os.path.join(entry, "expect.json.gz"),
        "prepare_s": time.perf_counter() - t0,
    }


def load_expectations(path: str) -> dict:
    with gzip.open(path, "rt") as f:
        return json.load(f)


def _prune(cache_dir: str) -> None:
    """Keep the most recently used entries; a benchmark series uses a few
    dozen (profile, seed) pairs at most."""
    entries = [
        os.path.join(cache_dir, n) for n in os.listdir(cache_dir)
        if ".tmp" not in n
    ]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[_KEEP_ENTRIES:]:
        shutil.rmtree(old, ignore_errors=True)
