"""A/B report of two suite result files.

    python3 perfbench/compare.py A.json B.json

For each workload and end-to-end metric it prints A's and B's median
and quartiles, the change of B's median against A's, and whether that
change is worse than the metric's bound in BENCHMARK.json. Then, for
each workload with traced runs in both files, it prints the per-layer
metrics whose medians differ, and the deterministic counters per step.
"""

from __future__ import annotations

import json
import statistics
import sys

from suite import spread


def _e2e(res: dict, name: str, metric: str) -> list[float]:
    return [
        r["line"]["metrics"][metric]["value"]
        for r in res["runs"].get(name, [])
        if metric in r["line"]["metrics"]
    ]


def _layer_medians(res: dict, name: str) -> dict[str, float]:
    traces = res["traces"].get(name, [])
    keys = sorted({k for t in traces for k in t["per_layer"]})
    return {
        k: statistics.median(t["per_layer"][k]["value"] for t in traces if k in t["per_layer"])
        for k in keys
    }


def _step_counters(res: dict, name: str) -> dict[str, dict[str, float]]:
    """Per-step counters of the first traced pass of the first trace."""
    traces = res["traces"].get(name, [])
    return traces[0]["query_counters"][0] if traces and traces[0]["query_counters"] else {}


def _rel(a: float, b: float) -> float:
    return (b - a) / a if a else float("inf") if b else 0.0


def compare(a: dict, b: dict) -> int:
    spec = b["spec"]
    worse_any = False
    workloads = [w["name"] for w in spec["workloads"] if w["name"] in a["runs"] and w["name"] in b["runs"]]
    print(f"{'workload':16s} {'metric':14s} {'A median [q1, q3]':>30s} {'B median [q1, q3]':>30s}"
          f" {'change':>8s}  verdict")
    for name in workloads:
        for m in spec["end_to_end"]:
            va, vb = _e2e(a, name, m["name"]), _e2e(b, name, m["name"])
            if not va or not vb:
                continue
            ma, qa1, qa3, sa = spread(va)
            mb, qb1, qb3, sb = spread(vb)
            change = _rel(ma, mb)
            worse = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
            worse_any |= worse
            verdict = f"WORSE than bound {m['bound']}" if worse else f"within bound {m['bound']}"
            if max(sa, sb) > m["bound"]:
                verdict += f"; unresolved, spread {max(sa, sb):.2f} > bound"
            print(f"{name:16s} {m['name']:14s} {ma:10.4f} [{qa1:8.4f}, {qa3:8.4f}]"
                  f" {mb:10.4f} [{qb1:8.4f}, {qb3:8.4f}] {change:+8.1%}  {verdict}")
    for name in workloads:
        la, lb = _layer_medians(a, name), _layer_medians(b, name)
        if not la or not lb:
            continue
        changed = [k for k in sorted(set(la) & set(lb)) if la[k] != lb[k]]
        print(f"\n{name}: per-layer medians (A -> B), changed only{'' if changed else ': none'}")
        for k in changed:
            print(f"  {k:40s} {la[k]:14.6g} -> {lb[k]:14.6g} ({_rel(la[k], lb[k]):+.1%})")
        ca, cb = _step_counters(a, name), _step_counters(b, name)
        diffs = [
            (step, k, ca[step][k], cb[step][k])
            for step in sorted(set(ca) & set(cb))
            for k in ca[step]
            if ca[step][k] != cb[step].get(k)
        ]
        if diffs:
            print(f"{name}: per-step counters (A -> B), changed only")
            for step, k, x, y in diffs:
                print(f"  {step:28s} {k:24s} {x:14.6g} -> {y:14.6g}")
    return 1 if worse_any else 0


def main() -> int:
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    with open(sys.argv[1]) as fa, open(sys.argv[2]) as fb:
        return compare(json.load(fa), json.load(fb))


if __name__ == "__main__":
    sys.exit(main())
