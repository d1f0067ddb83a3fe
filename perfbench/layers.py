"""Per-layer metrics from the spans of traced passes.

Each metric is computed per traced pass and reported as the median over
the run's traced passes, so counters that repeat exactly from pass to
pass report exactly.
"""

from __future__ import annotations

import statistics

from bench import ARROW_PATH_QUERIES  # the engine's Python-worker queries
from spans import DETERMINISTIC, Span

# (metric, unit); values for layers a workload does not use are 0.
PER_LAYER_UNITS: dict[str, str] = {
    "plans.sparql.parse_s": "s",
    "plans.sparql.build_s": "s",
    "plans.sparql.eager_jobs": "count",
    "plans.sparql.eager_s": "s",
    "plans.generic_rdf.build_s": "s",
    "plans.generic_rdf.store_write_s": "s",
    "plans.generic_rdf.collision_check_s": "s",
    "sources.write_bytes": "bytes",
    "sources.ingest_triples_per_s": "triples/s",
    "operators.graph.loop_s": "s",
    "operators.graph.loop_jobs": "count",
    "operators.graph.s_per_job": "s",
    "operators.similarity.ivf_train_s": "s",
    "python_worker.query_s": "s",
    "engine.builder_self_s": "s",
    "spark_exec.sink_s": "s",
    "spark_exec.jobs": "count",
    "spark_exec.stages": "count",
    "spark_exec.tasks": "count",
    "spark_exec.core_busy_frac": "ratio",
    "spark_exec.shuffle_write_bytes": "bytes",
    "spark_exec.shuffle_write_records": "count",
    "spark_exec.shuffle_read_bytes": "bytes",
    "spark_exec.scan_bytes": "bytes",
    "spark_exec.scan_records": "count",
    "spark_exec.spill_bytes": "bytes",
    "spark_exec.peak_exec_memory_mb": "MB",
    "spark_exec.run_s": "s",
    "spark_exec.cpu_s": "s",
    "spark_exec.failed_tasks": "count",
    "tracing.overhead_frac": "ratio",
    "tracing.harvest_s": "s",
}


def _walk(roots: list[Span]) -> list[Span]:
    return [s for r in roots for s in r.walk()]


def _outermost(spans: list[Span], layer: str) -> list[Span]:
    def nested(s: Span) -> bool:
        p = s.parent
        while p is not None:
            if p.layer == layer:
                return True
            p = p.parent
        return False

    return [s for s in spans if s.layer == layer and not nested(s)]


def _sum(spans: list[Span], attr: str) -> float:
    return sum(getattr(s, attr) for s in spans)


def _tree_job_s(s: Span) -> float:
    return sum(x.job_s for x in s.walk())


def pass_metrics(roots: list[Span], wall: float, cores: int, n_triples: int) -> dict[str, float]:
    spans = _walk(roots)

    def layer(name: str) -> list[Span]:
        return _outermost(spans, name)

    def total(key: str) -> float:
        return sum(s.counters.get(key, 0) for s in spans)

    m: dict[str, float] = {}
    build = layer("plans.sparql.build")
    m["plans.sparql.parse_s"] = _sum(layer("plans.sparql.parse"), "dur")
    m["plans.sparql.build_s"] = sum(s.self_s for s in spans if s.layer == "plans.sparql.build")
    m["plans.sparql.eager_jobs"] = sum(s.total("jobs") for s in build)
    m["plans.sparql.eager_s"] = sum(_tree_job_s(s) for s in build)
    m["plans.generic_rdf.build_s"] = sum(
        s.self_s for s in spans if s.layer == "plans.generic_rdf.build"
    )
    store = layer("plans.generic_rdf.store_write")
    m["plans.generic_rdf.store_write_s"] = _sum(store, "dur")
    m["plans.generic_rdf.collision_check_s"] = _sum(layer("plans.generic_rdf.collision_check"), "dur")
    m["sources.write_bytes"] = sum(s.total("output_bytes") for s in store)
    ingest = [r for r in roots if r.name == "ingest"]
    m["sources.ingest_triples_per_s"] = (
        n_triples / _sum(ingest, "dur") if ingest else 0.0
    )
    loops = layer("operators.graph.loop")
    m["operators.graph.loop_s"] = _sum(loops, "dur")
    m["operators.graph.loop_jobs"] = sum(s.total("jobs") for s in loops)
    m["operators.graph.s_per_job"] = (
        m["operators.graph.loop_s"] / m["operators.graph.loop_jobs"]
        if m["operators.graph.loop_jobs"] else 0.0
    )
    m["operators.similarity.ivf_train_s"] = _sum(layer("operators.similarity.ivf_train"), "dur")
    m["python_worker.query_s"] = _sum([r for r in roots if r.name in ARROW_PATH_QUERIES], "dur")
    m["engine.builder_self_s"] = sum(s.self_s for s in spans if s.layer == "builder")
    m["spark_exec.sink_s"] = _sum(layer("spark_exec.sink"), "dur")
    for key in ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_write_records",
                "shuffle_read_bytes", "scan_bytes", "scan_records", "spill_bytes",
                "run_s", "cpu_s"):
        m[f"spark_exec.{key}"] = total(key)
    m["spark_exec.failed_tasks"] = total("failed_tasks") + total("killed_tasks")
    m["spark_exec.peak_exec_memory_mb"] = max(
        (s.counters.get("peak_exec_memory_bytes", 0) for s in spans), default=0
    ) / 2**20
    m["spark_exec.core_busy_frac"] = total("run_s") / (wall * cores)
    return m


def layer_self_s(roots: list[Span]) -> dict[str, float]:
    """Self time summed per layer (span durations minus child spans)."""
    out: dict[str, float] = {}
    for s in _walk(roots):
        out[s.layer] = out.get(s.layer, 0.0) + s.self_s
    return out


def per_layer(traced: list[dict], untraced: list[dict], cores: int,
              n_triples: int) -> tuple[dict, dict]:
    """(metrics for the JSON line, per-layer self seconds)."""
    per_pass = [pass_metrics(p["spans"], p["wall_s"], cores, n_triples) for p in traced]
    metrics = {
        k: {"value": statistics.median(pm[k] for pm in per_pass), "unit": PER_LAYER_UNITS[k]}
        for k in PER_LAYER_UNITS
        if not k.startswith("tracing.")
    }
    overhead = (
        statistics.median(p["wall_s"] for p in traced)
        / statistics.median(p["wall_s"] for p in untraced)
        - 1.0
    )
    metrics["tracing.overhead_frac"] = {"value": overhead, "unit": "ratio"}
    metrics["tracing.harvest_s"] = {
        "value": statistics.median(p["harvest_s"] for p in traced), "unit": "s"
    }
    selfs = [layer_self_s(p["spans"]) for p in traced]
    layers = sorted({k for s in selfs for k in s})
    self_s = {k: statistics.median(s.get(k, 0.0) for s in selfs) for k in layers}
    return metrics, self_s


def query_counters(roots: list[Span]) -> dict[str, dict[str, float]]:
    """Deterministic counters per step, summed over the step's spans."""
    return {r.name: {k: r.total(k) for k in DETERMINISTIC} for r in roots}


def repeat_check(runs: list[dict[str, dict[str, float]]]) -> dict:
    """Compare per-step deterministic counters across traced passes (or
    runs). A counter that differs anywhere is listed as not claimable."""
    not_claimable: dict[str, list[str]] = {}
    if len(runs) < 2:
        return {"compared": len(runs), "not_claimable": not_claimable}
    first = runs[0]
    for other in runs[1:]:
        for step, counters in first.items():
            for k, v in counters.items():
                if other.get(step, {}).get(k) != v:
                    lst = not_claimable.setdefault(step, [])
                    if k not in lst:
                        lst.append(k)
    return {"compared": len(runs), "not_claimable": not_claimable}
