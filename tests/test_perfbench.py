"""The crawl-engine benchmark's own plumbing (perfbench/): the traced run's
hooks still name real engine functions, and compare.py flags exactly the
regressions that exceed BENCHMARK.json's bounds."""

from __future__ import annotations

import json
import os
import sys

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
)
sys.path.insert(0, PERFBENCH)

import compare  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def test_trace_hooks_resolve():
    """Every span hook of the traced run wraps an attribute that exists
    (Tracer.wrap reads it from the owner's __dict__), and unwrap_all
    restores the originals."""
    tracer = tracing.Tracer()
    try:
        run._install_spans(tracer)
        patched = list(tracer._patched)
        assert patched
        for owner, attr, orig in patched:
            assert callable(orig), (owner, attr)
            assert owner.__dict__[attr] is not orig, (owner, attr)
    finally:
        tracer.unwrap_all()
    for owner, attr, orig in patched:
        assert owner.__dict__[attr] is orig, (owner, attr)


def _record(path, workload, runs):
    """A result file as run.py prints it: a context line, then the result
    line, per run."""
    with open(path, "w") as f:
        for metrics in runs:
            f.write(json.dumps({"context": {"workload": workload}}) + "\n")
            f.write(json.dumps({
                "correct": True, "attempted": 8, "failed": 0,
                "metrics": {k: {"value": v, "unit": ""}
                            for k, v in metrics.items()},
            }) + "\n")


def test_compare_flags_only_the_planted_drop(tmp_path, capsys):
    base_runs, new_runs = [], []
    for j, urls in enumerate((480.0, 484.0, 488.0)):
        m = {"urls_per_s": urls, "round_p50_s": 3.29 + 0.01 * j,
             "cpu_ms_per_url": 6.7, "store_kb_per_url": 0.32,
             "setup_s": 30.0 + j}
        base_runs.append(m)
        new_runs.append(dict(m, urls_per_s=urls * 0.7))  # planted 30% drop
    base, new = str(tmp_path / "base.txt"), str(tmp_path / "new.txt")
    _record(base, "crawl-narrow", base_runs)
    _record(new, "crawl-narrow", new_runs)

    assert compare.main([base, new]) == 0
    rows = [ln.split() for ln in capsys.readouterr().out.splitlines()[1:]]
    flagged = {r[1] for r in rows if "WORSE" in r}
    assert flagged == {"urls_per_s"}
    assert len(rows) == 5  # every end-to-end metric was compared
