"""Run the benchmark several times and collect the results in one file.

    python3 perfbench/suite.py --out A.json [--runs 10] [--traces 1]
                               [--workload NAME ...] [--seconds S] [--first-seed N]

Each run is a separate ``run.py`` process with its own seed (seeds
``first-seed .. first-seed+runs-1``). The file holds every run's full
result; ``compare.py`` reads two such files. The spread of each
end-to-end metric (interquartile range over median, as
``statistics.quantiles(values, n=4)`` gives the quartiles) is printed
at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def one_run(workload: str, seed: int, seconds: float, trace: int, tmp: str) -> dict:
    out = os.path.join(tmp, f"{workload}-{seed}-{trace}.json")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace), "--out", out]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    with open(out) as fh:
        res = json.load(fh)
    os.remove(out)
    res["line"] = json.loads(proc.stdout.strip().splitlines()[-1])
    return res


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main() -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--traces", type=int, default=1, help="traced runs per workload")
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()

    names = args.workload or [w["name"] for w in spec["workloads"]]
    tmp = os.path.join(HERE, ".work", f"suite-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    result: dict = {"spec": spec, "runs": {}, "traces": {}}
    try:
        for name in names:
            runs = result["runs"].setdefault(name, [])
            for i in range(args.runs):
                runs.append(one_run(name, args.first_seed + i, args.seconds, 0, tmp))
                m = runs[-1]["line"]["metrics"]
                steal = sum(p["host_steal_s"] for p in runs[-1]["passes"])
                print(f"{name} seed={args.first_seed + i} "
                      + " ".join(f"{k}={v['value']:.4f}" for k, v in m.items())
                      + f" host_steal_s={steal:.1f}", flush=True)
            for i in range(args.traces):
                result["traces"].setdefault(name, []).append(
                    one_run(name, args.first_seed + i, args.seconds, 1, tmp)
                )
            with open(args.out, "w") as fh:
                json.dump(result, fh)
    finally:
        os.rmdir(tmp) if os.path.isdir(tmp) and not os.listdir(tmp) else None

    for name in names:
        for m in spec["end_to_end"]:
            vals = [r["line"]["metrics"][m["name"]]["value"] for r in result["runs"][name]]
            med, q1, q3, frac = spread(vals)
            flag = "" if frac < m["bound"] / 3 else "  <-- above bound/3"
            print(f"{name:16s} {m['name']:14s} median={med:.4f} q1={q1:.4f} q3={q3:.4f} "
                  f"spread={frac:.3f} bound={m['bound']}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
