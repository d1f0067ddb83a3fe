"""Dump `.explain("formatted")` for named queries to <out_dir>/<name>_<tag>.txt.

Usage: python tools/dump_plans.py <out_dir> <tag> <query> [query ...]

The optimization-round evidence artifact (guide §1): before/after plan
files the judge can diff without running Spark. For iterative operators
whose builders materialize rounds eagerly (pagerank/LPA/HITS/BFS), the
final frame's plan is what executes last; the per-round shape is pinned
separately by tests/test_plans.py gates.

Expression ids (``#1234``) are rewritten to ``#_``, exchange plan ids
(``plan_id=8615``) to ``plan_id=_`` and RDD ids
(``MapPartitionsRDD[204]``, from checkpointed loop state) to ``RDD[_]``:
all three count what the session has allocated so far, so one extra
alias or job anywhere earlier shifts every id after it and two
identical plans would still diff on every line.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rdf_mapreduce_joins_spark import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402

_SESSION_IDS = (
    (re.compile(r"#\d+"), "#_"),
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),
)


def main() -> int:
    if len(sys.argv) < 4:
        print(__doc__.splitlines()[2], file=sys.stderr)
        return 2
    out_dir, tag, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        txt = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        for pattern, repl in _SESSION_IDS:
            txt = pattern.sub(repl, txt)
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(txt)
        print(f"wrote {path} ({len(txt)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
