"""Self-test of the benchmark's own checks.

    python3 perfbench/selftest.py [--workload NAME ...] [--seconds S]

1. A forced oracle mismatch (the last row of one query's result
   replaced by a copy of the first before the oracle check) must
   surface as ``correct: false`` with a value-hash failure.
2. A run must leave the checkout as it found it: ``git status
   --porcelain`` (when the checkout is a git repository) and the
   engine's hard-coded scratch roots (``generic_rdf._STORE_ROOT``,
   ``formats._SCRATCH``) are compared before and after.
3. Two traced runs must repeat the deterministic status-store counters
   of every step; the counters that do not repeat are listed as not
   claimable.

Exits 1 if check 1 or 2 fails; check 3 reports.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)


def _git_status() -> str | None:
    try:
        return subprocess.run(
            ["git", "status", "--porcelain", "--untracked-files=all"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout
    except (OSError, subprocess.CalledProcessError):
        return None


def _scratch_roots() -> list[str]:
    """The engine's hard-coded scratch paths, read from its source."""
    from rdf_mapreduce_joins_spark.plans import formats, generic_rdf

    return [generic_rdf._STORE_ROOT, formats._SCRATCH]


def _snapshot(paths: list[str]) -> dict[str, float]:
    out: dict[str, float] = {}
    for root in paths:
        for d, _, files in os.walk(root):
            for f in files:
                p = os.path.join(d, f)
                out[p] = os.path.getmtime(p)
    return out


def _run(workload: str, seconds: float, trace: int, extra: list[str]) -> tuple[int, dict | None, dict | None]:
    with tempfile.NamedTemporaryFile(suffix=".json", dir=os.path.join(HERE, ".work"), delete=False) as fh:
        out = fh.name
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
             "--seconds", str(seconds), "--trace", str(trace), "--out", out, *extra],
            cwd=ROOT, capture_output=True, text=True, timeout=900,
        )
        line = json.loads(proc.stdout.strip().splitlines()[-1]) if proc.returncode == 0 else None
        full = json.load(open(out)) if proc.returncode == 0 else None
        return proc.returncode, line, full
    finally:
        os.remove(out)


def main() -> int:
    from workloads import WORKLOADS, add_import_paths

    add_import_paths(ROOT)
    import layers

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seconds", type=float, default=1)
    args = ap.parse_args()
    names = args.workload or list(WORKLOADS)
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    ok = True

    roots = _scratch_roots()
    git_before, scratch_before = _git_status(), _snapshot(roots)

    # 1. forced mismatch fires
    first = names[0]
    rc, line, full = _run(first, args.seconds, 0, ["--force-mismatch", _first_query(first)])
    fired = (rc == 0 and line["correct"] is False and line["failed"] >= 1
             and any("value-hash" in e for e in full["errors"]))
    print(f"[{'ok' if fired else 'FAIL'}] forced oracle mismatch on {first} is reported: "
          f"{line}; {full['errors'] if full else None}")
    ok &= fired

    # 3. counter determinism (two traced runs per workload)
    for name in names:
        runs = []
        for _ in range(2):
            rc, line, full = _run(name, args.seconds, 1, [])
            if rc != 0 or not line["correct"]:
                print(f"[FAIL] traced run of {name}: exit {rc}, {line}")
                ok = False
                break
            runs.append(full["query_counters"][0])
            if full["evicted"]:
                print(f"[warn] {name}: the status store lost {full['evicted']} jobs or stages")
        if len(runs) == 2:
            det = layers.repeat_check(runs)
            nc = det["not_claimable"]
            print(f"[{'ok' if not nc else 'note'}] {name}: counters repeat across two traced runs"
                  + (f" except (not claimable): {json.dumps(nc)}" if nc else ""))

    # 2. clean checkout
    clean = _git_status() == git_before and _snapshot(roots) == scratch_before
    if git_before is None:
        print("[note] not a git checkout; compared the engine scratch roots only")
    print(f"[{'ok' if clean else 'FAIL'}] checkout unchanged by the runs")
    ok &= clean
    return 0 if ok else 1


def _first_query(workload: str) -> str:
    from workloads import WORKLOADS, Context

    ctx = Context(data_dir="", work_dir="", facts={"store_path": "", "ntriples_path": ""})
    return next(s.name for s in WORKLOADS[workload].pass_steps(ctx, 0, 0) if s.action is None)


if __name__ == "__main__":
    sys.exit(main())
