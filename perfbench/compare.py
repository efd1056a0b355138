"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are directories (or single files) holding the standard output
of ``perfbench/run.py`` runs, one or more runs per file. For every
workload and metric the script prints each set's median and quartiles and
the change of the median. An end-to-end metric is marked ``WORSE`` when
NEW's median is worse than BASE's by more than the metric's bound in
BENCHMARK.json, and ``unresolved`` when either set's quartile spread is
wider than that bound. A per-layer metric is marked ``MOVED`` when the
medians differ by more than the larger of the two sets' own quartile
spreads (its run-to-run spread).
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> dict:
    """{(workload, metric): [values]} from every run found under path."""
    files = [path] if os.path.isfile(path) else [
        os.path.join(d, n) for d, _, names in os.walk(path)
        for n in sorted(names)
    ]
    out: dict[tuple, list[float]] = {}
    for fn in files:
        ctx = None
        with open(fn, errors="replace") as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                try:
                    obj = json.loads(line)
                except ValueError:
                    continue
                if "context" in obj:
                    ctx = obj["context"]
                elif "metrics" in obj and ctx is not None:
                    for name, m in obj["metrics"].items():
                        out.setdefault((ctx["workload"], name), []).append(
                            m["value"])
                    ctx = None
    return out


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layer = {m["name"]: m for m in spec["per_layer"]}
    base, new = load(argv[0]), load(argv[1])
    print(f"{'workload':14} {'metric':34} {'base median [q1, q3]':>34} "
          f"{'new median [q1, q3]':>34} {'change':>8}  flag")
    for key in sorted(set(base) & set(new)):
        wl, name = key
        m = e2e.get(name) or layer.get(name)
        if m is None:
            continue
        b1, b2, b3 = quartiles(base[key])
        n1, n2, n3 = quartiles(new[key])
        change = (n2 - b2) / b2 if b2 else 0.0
        worse = -change if m["better"] == "higher" else change
        flag = ""
        if name in e2e:
            spread = max((b3 - b1) / b2 if b2 else 0.0,
                         (n3 - n1) / n2 if n2 else 0.0)
            if worse > m["bound"]:
                flag = "WORSE"
            elif spread > m["bound"]:
                flag = "unresolved"
        elif abs(n2 - b2) > max(b3 - b1, n3 - n1):
            flag = "MOVED " + ("better" if worse < 0 else "worse")
        print(f"{wl:14} {name:34} "
              f"{b2:12.5g} [{b1:9.4g}, {b3:9.4g}] "
              f"{n2:12.5g} [{n1:9.4g}, {n3:9.4g}] {change:+8.1%}  {flag}"
              f"  (n={len(base[key])}/{len(new[key])})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
