"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--out FILE]

One Python process drives Spark on ``local[<cores>]`` as a closed loop
with one client: each step starts only after the previous result has
been written to Spark's ``noop`` sink. The run

1. generates the input tables (fixed data; ``--seed`` only permutes the
   query order within each pass),
2. imports the engine and starts a SparkSession (and with it the JVM)
   through the engine's own ``get_spark()``,
3. runs one untimed warm-up pass that collects every query's result and
   checks it against its DuckDB oracle (row count plus an
   order-insensitive value hash); ``setup_s`` is the engine import, the
   session start and this pass's steps, without the oracle checks,
   then ``EXTRA_WARMUP_PASSES`` more untimed passes,
4. runs whole timed passes until ``--seconds`` have passed, at least
   ``MIN_PASSES`` (see ``e2e_metrics`` for how they are summarized).

With ``--trace 0`` the JSON carries the end-to-end metrics. With
``--trace 1`` timed passes alternate between untraced and traced; the
traced ones wrap the workload's layer functions in spans (see
``spans.py``) and the JSON carries the per-layer metrics, including
the tracing overhead. ``--out`` writes the full result (diagnostics,
per-query latencies, per-query trace counters) to a file.

Everything the run writes goes to ``perfbench/.work/run-<pid>/``,
which is removed at exit.
"""

from __future__ import annotations

import argparse
import atexit
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

PROCESS_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

EXTRA_WARMUP_PASSES = 1
MIN_PASSES = 2
MAX_PASSES = 200


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (0 <= q <= 1) of a non-empty list."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def _prepare_env(work_dir: str) -> None:
    """Keep every file Spark, Python and DuckDB write inside the run's
    own work directory."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_cores()))
    # -XX:-UsePerfData: each JVM (spark-submit's launcher and the driver)
    # would otherwise write /tmp/hsperfdata_<user>.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')} "
        "--conf spark.ui.showConsoleProgress=false "
        "pyspark-shell"
    )
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = os.path.join(work_dir, "data")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants: the JVM and the Python workers it forks. Counts
    exited children that were waited for; steal time and time spent
    waiting for a CPU are not counted."""
    tick = os.sysconf("SC_CLK_TCK")
    parent: dict[int, int] = {}
    cpu: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        pid = int(entry)
        parent[pid] = int(fields[1])
        cpu[pid] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    me = os.getpid()
    total = 0
    for pid, ticks in cpu.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += ticks
    return total / tick


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs
    since boot (the ``steal`` column of /proc/stat): a diagnostic of
    other tenants' load, 0 on bare metal."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def host_probe(spark) -> dict[str, float]:
    """The two host-speed probes of bench.py, at a size that fits a
    benchmark run: a JVM codegen sum and a single-core Python loop."""
    t0 = time.perf_counter()
    spark.range(20_000_000, numPartitions=8).selectExpr(
        "sum((id * 2654435761) % 1000000007)"
    ).collect()
    jvm = time.perf_counter() - t0
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i
    return {"jvm_s": jvm, "py1_s": time.perf_counter() - t0}


class Oracle:
    """DuckDB over the generated tables; compares with check_oracle's
    row count and order-insensitive value hash."""

    def __init__(self, data_dir: str) -> None:
        import duckdb
        import oracle_env
        from rdf_mapreduce_joins_spark.sources.tables import TABLES

        self.con = duckdb.connect()
        self.con.execute(f"SET memory_limit='{oracle_env.clamped_mem_gb()}GB'")
        self.con.execute(f"SET temp_directory='{oracle_env.spill_dir('perfbench_duckdb')}'")
        self.con.execute("SET threads=1")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def check(self, sql: str, scols: list[str], srows: list[tuple]) -> str | None:
        """None when the Spark rows match the oracle, else a reason."""
        from check_oracle import value_hash

        res = self.con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if len(srows) != len(orows):
            return f"rowcount spark={len(srows)} oracle={len(orows)}"
        if sorted(scols) != sorted(ocols):
            return f"columns spark={scols} oracle={ocols}"
        sh, oh = value_hash(srows, scols), value_hash(orows, ocols)
        if sh != oh:
            return f"value-hash spark={sh} oracle={oh}"
        return None

    def close(self) -> None:
        self.con.close()


class Runner:
    def __init__(self, spark, workload, ctx, seed: int, tracer=None) -> None:
        self.spark = spark
        self.w = workload
        self.ctx = ctx
        self.seed = seed
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _span(self, layer: str, name: str):
        if self.tracer is None or not self.tracer.enabled:
            return nullcontext()
        return self.tracer.span(layer, name)

    def run_step(self, step, sink: str, oracle: Oracle | None = None) -> dict:
        """Run one step; returns its record. ``sink`` is "noop" (timed
        passes) or "collect" (warm-up pass with oracle check)."""
        self.attempted += 1
        rec: dict = {"name": step.name, "kind": "query" if step.action is None else "action"}
        t0 = time.perf_counter()
        try:
            with self._span("step", step.name):
                if step.action is not None:
                    step.action(self.spark)
                else:
                    with self._span("builder", step.name):
                        df = step.build(self.spark)
                    with self._span("spark_exec.sink", step.name):
                        if sink == "noop":
                            df.write.format("noop").mode("overwrite").save()
                        else:
                            rows = [tuple(r) for r in df.collect()]
            rec["s"] = time.perf_counter() - t0
            if sink == "collect" and step.action is None:
                if self.ctx.facts.get("force_mismatch") == step.name:
                    # Self-test: the last row becomes a copy of the first,
                    # so row count and columns hold and only the value
                    # hash can tell.
                    rows = rows[:-1] + rows[:1]
                t1 = time.perf_counter()
                problem = oracle.check(step.oracle, df.columns, rows)
                rec["oracle_s"] = time.perf_counter() - t1
                rec["rows"] = len(rows)
                if problem:
                    raise AssertionError(f"oracle mismatch: {problem}")
        except Exception as exc:  # noqa: BLE001 - counted, reported
            rec.setdefault("s", time.perf_counter() - t0)
            rec["error"] = f"{type(exc).__name__}: {exc}"[:400]
            self.failed += 1
            self.errors.append(f"{step.name}: {rec['error']}")
            print(f"perfbench: {step.name} FAILED: {rec['error']}", file=sys.stderr)
        return rec

    def run_pass(self, pass_no: int, sink: str = "noop", oracle: Oracle | None = None) -> dict:
        steps = self.w.pass_steps(self.ctx, self.seed, pass_no)
        c0, s0, t0 = tree_cpu_s(), host_steal_s(), time.perf_counter()
        recs = [self.run_step(s, sink, oracle) for s in steps]
        return {"wall_s": time.perf_counter() - t0, "cpu_s": tree_cpu_s() - c0,
                "host_steal_s": host_steal_s() - s0, "steps": recs}


def new_session():
    from rdf_mapreduce_joins_spark import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            # The JVM exits when its stdin closes.
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def load_spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def timed_loop(runner, seconds: float, tracer=None, trace_targets=None) -> tuple[list, list]:
    """Whole passes until ``seconds`` have passed (at least MIN_PASSES).
    With a tracer, odd passes are traced and even ones are not."""
    import spans as T

    untraced: list[dict] = []
    traced: list[dict] = []
    t_begin = time.perf_counter()
    pass_no = 0
    need = MIN_PASSES * (2 if tracer else 1)
    while pass_no < MAX_PASSES:
        if pass_no >= need and time.perf_counter() - t_begin >= seconds:
            break
        is_traced = tracer is not None and pass_no % 2 == 1
        if tracer is not None:
            tracer.enabled = is_traced
            tracer.roots = []
            tracer.harvest_s = 0.0
        restore = T.instrument(tracer, trace_targets) if is_traced else None
        try:
            p = runner.run_pass(pass_no)
        finally:
            if restore:
                restore()
        if is_traced:
            p["spans"] = tracer.roots
            p["harvest_s"] = tracer.harvest_s
            traced.append(p)
        else:
            untraced.append(p)
        pass_no += 1
    return untraced, traced


def e2e_metrics(untraced: list[dict], setup_s: float, n_triples: int) -> tuple[dict, dict]:
    """(metrics, facts) of the untraced timed passes.

    Pass wall time is that of the fastest pass, and per-query
    latency is the geometric mean over the workload's queries of each
    query's fastest execution: on a shared host a pass is sometimes
    slowed by other tenants or by the JIT, and the minimum over passes
    is the figure that repeats (the method of ``bench.py``). The
    medians and the percentiles over all executions are kept as facts,
    with their sample count."""
    per_query: dict[str, list[float]] = {}
    for p in untraced:
        for s in p["steps"]:
            if s["kind"] == "query":
                per_query.setdefault(s["name"], []).append(s["s"])
    lat = [x for v in per_query.values() for x in v]
    ingest = [s["s"] for p in untraced for s in p["steps"] if s["name"] == "ingest"]
    m = {
        "wall_s": {"value": min(p["wall_s"] for p in untraced), "unit": "s"},
        "query_gmean_s": {
            "value": statistics.geometric_mean([min(v) for v in per_query.values()]),
            "unit": "s",
        },
        "setup_s": {"value": setup_s, "unit": "s"},
    }
    facts = {
        "passes": len(untraced),
        "wall_median_s": statistics.median(p["wall_s"] for p in untraced),
        "cpu_min_s": min(p["cpu_s"] for p in untraced),
        "cpu_median_s": statistics.median(p["cpu_s"] for p in untraced),
        "query_samples": len(lat),
        "query_p50_s": _quantile(lat, 0.5),
        "query_p90_s": _quantile(lat, 0.9),
        "query_median_s": {k: statistics.median(v) for k, v in per_query.items()},
    }
    if ingest:
        facts["ingest_triples_per_s"] = n_triples / min(ingest)
    return m, facts


def print_human(res: dict) -> None:
    w = res["workload"]
    print(f"perfbench {w}: seed={res['seed']} cores={res['cores']} "
          f"passes={res['facts']['passes']} query_samples={res['facts']['query_samples']}")
    for k, v in res["metrics_e2e"].items():
        print(f"  {w} {k} = {v['value']:.6g} {v['unit']}")
    f = res["facts"]
    print(f"  {w} cpu_min_s = {f['cpu_min_s']:.6g} s (CPU of the process tree, fastest pass)")
    print(f"  {w} query_p50_s = {f['query_p50_s']:.6g} s (n={f['query_samples']})")
    print(f"  {w} query_p90_s = {f['query_p90_s']:.6g} s (n={f['query_samples']})")
    if "ingest_triples_per_s" in res["facts"]:
        print(f"  {w} ingest_triples_per_s = {res['facts']['ingest_triples_per_s']:.6g} triples/s")
    frac = res["failed"] / res["attempted"]
    print(f"  {w} failed_frac = {frac:.6g} ratio ({res['failed']}/{res['attempted']})")
    for k, v in res.get("per_layer", {}).items():
        print(f"  {w} layer {k} = {v['value']:.6g} {v['unit']}")
    for k, v in res.get("layer_self_s", {}).items():
        print(f"  {w} self_s {k} = {v:.6g} s")
    if "determinism" in res:
        print(f"  {w} not claimable: {res['determinism']['not_claimable'] or 'none'}")
        print(f"  {w} evicted before harvest: {res['evicted']} jobs or stages")
    for e in res["errors"]:
        print(f"  {w} error: {e}")
    sys.stdout.flush()


def main(argv: list[str] | None = None) -> int:
    spec = load_spec(ROOT)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="write the full result to this file")
    ap.add_argument("--force-mismatch", metavar="STEP",
                    help="self-test only: report STEP's oracle check as a mismatch")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "rdf_mapreduce_joins_spark")):
        _fail(f"engine sources not found under {ROOT}; run from a full checkout")
    import workloads as W

    if args.workload not in W.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(W.WORKLOADS)}")
    workload = W.WORKLOADS[args.workload]

    work_dir = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    atexit.register(shutil.rmtree, work_dir, True)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    _prepare_env(work_dir)
    W.add_import_paths(ROOT)

    import gen_data

    data_dir = os.path.join(work_dir, "data")
    t0 = time.perf_counter()
    table_rows = gen_data.write_tables(data_dir)
    gen_s = time.perf_counter() - t0
    ctx = W.Context(data_dir=data_dir, work_dir=work_dir)
    if args.force_mismatch:
        ctx.facts["force_mismatch"] = args.force_mismatch

    # Set-up: the engine import, then the first session, which also
    # starts the JVM.
    t0 = time.perf_counter()
    import rdf_mapreduce_joins_spark.plans  # noqa: F401 - fills the registry

    import_s = time.perf_counter() - t0
    spark = None
    try:
        t0 = time.perf_counter()
        spark = new_session()
        session_s = time.perf_counter() - t0
        cores = int(spark.sparkContext.defaultParallelism)
        probe_start = host_probe(spark)

        t0 = time.perf_counter()
        if workload.prepare is not None:
            workload.prepare(spark, ctx)
        prepare_s = time.perf_counter() - t0

        runner = Runner(spark, workload, ctx, args.seed)
        oracle = Oracle(data_dir)
        try:
            warm = runner.run_pass(-1, sink="collect", oracle=oracle)
        finally:
            oracle.close()

        # The JIT is still compiling the engine's driver-side code after
        # one pass of this few steps; more untimed passes bring the timed
        # ones closer to steady state.
        for k in range(EXTRA_WARMUP_PASSES):
            runner.run_pass(-2 - k)

        first_timed_at = time.perf_counter() - PROCESS_START
        tracer = None
        if args.trace:
            import spans as T

            tracer = T.Tracer(spark)
            runner.tracer = tracer
        untraced, traced = timed_loop(runner, args.seconds, tracer, workload.trace)
        probe_end = host_probe(spark)
    finally:
        if spark is not None:
            stop_spark(spark)

    warmup_steps_s = sum(s["s"] for s in warm["steps"])
    setup_s = import_s + session_s + warmup_steps_s
    metrics, facts = e2e_metrics(untraced, setup_s, ctx.facts.get("n_triples", 0))
    res: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": cores,
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "errors": runner.errors[:20],
        "metrics_e2e": metrics,
        "facts": facts,
        "diagnostics": {
            "host_probe": {"start": probe_start, "end": probe_end},
            "import_s": import_s,
            "session_s": session_s,
            "warmup_steps_s": warmup_steps_s,
            "gen_data_s": gen_s,
            "table_rows": table_rows,
            "prepare_s": prepare_s,
            "warmup_pass_s": warm["wall_s"],
            "process_start_to_first_timed_pass_s": first_timed_at,
        },
        "warmup": warm,
        "passes": untraced,
    }
    if args.trace:
        import layers as L

        res["per_layer"], res["layer_self_s"] = L.per_layer(
            traced, untraced, cores, ctx.facts.get("n_triples", 0)
        )
        res["query_counters"] = [L.query_counters(p["spans"]) for p in traced]
        res["determinism"] = L.repeat_check(res["query_counters"])
        # Jobs or stages evicted from the status store before harvest:
        # the counters of those spans are incomplete.
        res["evicted"] = sum(s.evicted for p in traced for r in p["spans"] for s in r.walk())
        res["traced_passes"] = [
            {"wall_s": p["wall_s"], "harvest_s": p["harvest_s"], "steps": p["steps"],
             "spans": [s.to_json() for s in p["spans"]]}
            for p in traced
        ]
    print_human(res)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(res, fh, indent=1)
    chosen = res["per_layer"] if args.trace else metrics
    names = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: chosen[n] for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
