"""Compare two result sets, metric by metric, workload by workload.

    python3 perfbench/run.py compare <A> <B>

A result set is one or more files (or directories of files) holding run.py
stdout: each run prints a `{"detail": ...}` line naming its workload and
seed, then its result line. A is the parent, B the change. Runs pair up by
(workload, seed); unmatched runs still count towards medians and quartiles.

For each (workload, metric) the report gives both medians and quartiles,
B's pair wins, and a verdict (bounds and directions from BENCHMARK.json):
- improved: B wins at least 9 of 10 pairs (ties count for neither) and the
  medians differ by more than A's own quartile spread;
- unresolved: A's spread is wider than the metric's bound, unless every B
  run reads better than every A run (then improved);
- worse: B's median is worse than A's by more than the bound (per-layer
  metrics have no bound: by more than A's quartile spread, losing 9 of 10);
- unchanged: otherwise.
The wall-clock figures of the detail line (`wall_s`, `records_per_s`,
`latency_p50_ms`, `latency_p99_ms`, `setup_wall_s`) are compared too, as
metrics without a bound. When B holds traced runs and A untraced ones, B's
end-to-end figures come from the traced runs' detail line, so the report is
the tracing overhead.
"""
import json
import os
import statistics
import sys
from typing import Dict, List, Tuple

Runs = Dict[Tuple[str, str], Dict[int, float]]  # (workload, metric) -> seed -> value
WALL_CLOCK = ("wall_s", "records_per_s", "latency_p50_ms", "latency_p99_ms", "setup_wall_s")


def _files(path: str) -> List[str]:
    if os.path.isdir(path):
        return sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
    return [path]


def load(paths: List[str]) -> Runs:
    runs: Runs = {}
    for path in paths:
        for f in _files(path):
            detail = None
            with open(f, encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if not line.startswith("{"):
                        continue
                    try:
                        obj = json.loads(line)
                    except ValueError:
                        continue
                    if "detail" in obj:
                        detail = obj["detail"]
                    elif "metrics" in obj and detail is not None:
                        values = {k: v["value"] for k, v in obj["metrics"].items()}
                        values.update(detail.get("end_to_end", {}))
                        values.update(detail.get("wall_clock", {}))
                        for k, v in values.items():
                            if v is None:
                                continue
                            runs.setdefault((detail["workload"], k), {})[detail["seed"]] = v
                        detail = None
    return runs


def quartiles(xs: List[float]) -> Tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(a: Dict[int, float], b: Dict[int, float], lower_better: bool,
            bound) -> dict:
    av, bv = list(a.values()), list(b.values())
    a1, am, a3 = quartiles(av)
    b1, bm, b3 = quartiles(bv)
    better = (lambda x, y: x < y) if lower_better else (lambda x, y: x > y)
    seeds = sorted(set(a) & set(b))
    if not seeds:  # no common seeds: pair in order
        pairs = list(zip(av, bv))
    else:
        pairs = [(a[s], b[s]) for s in seeds]
    wins = sum(1 for x, y in pairs if better(y, x))
    losses = sum(1 for x, y in pairs if better(x, y))
    spread = a3 - a1
    rel_spread = spread / abs(am) if am else float("inf")
    worse_by = ((bm - am) if lower_better else (am - bm)) / abs(am) if am else 0.0
    all_better = all(better(y, x) for y in bv for x in av)
    if pairs and wins >= 0.9 * len(pairs) and abs(bm - am) > spread and better(bm, am):
        v = "improved"
    elif bound is not None and rel_spread > bound:
        v = "improved" if all_better else "unresolved"
    elif bound is not None and worse_by > bound:
        v = "worse"
    elif bound is None and pairs and losses >= 0.9 * len(pairs) and abs(bm - am) > spread:
        v = "worse"
    else:
        v = "unchanged"
    return {"a_median": am, "a_q1": a1, "a_q3": a3, "b_median": bm, "b_q1": b1, "b_q3": b3,
            "pairs": len(pairs), "b_wins": wins, "verdict": v}


def main(argv: List[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    bench = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")
    with open(bench) as f:
        spec = json.load(f)
    meta = {m["name"]: (m["better"] == "lower", m.get("bound"))
            for m in spec["end_to_end"] + spec["per_layer"]}
    # wall-clock figures from the detail line: reported, not bounded
    meta.update({name: (name != "records_per_s", None) for name in WALL_CLOCK})
    a, b = load([argv[0]]), load([argv[1]])
    rows = []
    for key in sorted(set(a) & set(b)):
        workload, metric = key
        if metric not in meta:
            continue
        lower, bound = meta[metric]
        r = verdict(a[key], b[key], lower, bound)
        rows.append(dict(workload=workload, metric=metric, **r))
    head = f"{'workload':<16} {'metric':<34} {'A median [q1, q3]':>32} " \
           f"{'B median [q1, q3]':>32} {'wins':>6}  verdict"
    print(head)
    for r in rows:
        fa = f"{r['a_median']:.4g} [{r['a_q1']:.4g}, {r['a_q3']:.4g}]"
        fb = f"{r['b_median']:.4g} [{r['b_q1']:.4g}, {r['b_q3']:.4g}]"
        print(f"{r['workload']:<16} {r['metric']:<34} {fa:>32} {fb:>32} "
              f"{r['b_wins']:>3}/{r['pairs']:<2}  {r['verdict']}")
    return 0
