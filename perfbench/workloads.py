"""The benchmark's workloads.

A workload is a list of timed *steps* per pass. A step is either a
query (a builder call whose DataFrame is then written to Spark's
``noop`` sink, with a DuckDB oracle) or a non-query step such as the
N-Triples ingest of ``rdf_sparql``. The order of the query steps inside
a pass is a permutation drawn from the run's seed.
"""

from __future__ import annotations

import os
import random
import sys
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Step:
    name: str
    # A query step builds a DataFrame that the runner writes to the sink
    # and checks against ``oracle``; any other step runs ``action``.
    build: Callable[[SparkSession], DataFrame] | None = None
    oracle: str | None = None
    action: Callable[[SparkSession], None] | None = None


@dataclass
class Context:
    data_dir: str  # generated input tables
    work_dir: str  # benchmark-owned scratch, removed at exit
    facts: dict = field(default_factory=dict)


@dataclass
class Workload:
    name: str
    steps: Callable[[Context], tuple[list[Step], list[Step]]]
    # Trace targets: "module:function" -> layer name.
    trace: dict[str, str]
    prepare: Callable[[SparkSession, Context], None] | None = None

    def pass_steps(self, ctx: Context, seed: int, pass_no: int) -> list[Step]:
        """Fixed leading steps, then the query steps in seeded order."""
        head, queries = self.steps(ctx)
        order = list(queries)
        random.Random(seed * 7919 + pass_no).shuffle(order)
        return head + order


ENGINE = "rdf_mapreduce_joins_spark"
SPARQL_MOD = f"{ENGINE}.plans.sparql"
GENERIC_MOD = f"{ENGINE}.plans.generic_rdf"


# Corpus texts run through the star-schema executor (plans.sparql) and
# through the persisted-store executor (plans.generic_rdf), chosen to fit
# the benchmark's time budget: the lubm_q11 transitive closure, whose
# builder runs eager jobs before the sink, on the star schema, and the
# lubm_q2 triangle (a cyclic BGP) on the store.
STAR_TEXTS = ("lubm_q11",)
STORE_TEXTS = ("lubm_q2",)

# One graph loop (k-core peeling, one job per round), the IVF k-means
# training loop and one Python UDF query.
GRAPH_LLM_QUERIES = (
    "rdf_kcore_members",
    "similarity_topk_ivf",
    "text_normalize_udf",
)


def _corpus_steps(prefix: str, names: tuple[str, ...],
                  build: Callable[[str], Callable[[SparkSession], DataFrame]]) -> list[Step]:
    """Steps for LUBM/SP2Bench analog texts of the corpus in
    tests/test_benchmark_corpus.py, with its DuckDB oracles."""
    from test_benchmark_corpus import CORPUS  # tests/ is on sys.path

    by_name = {c[0]: c for c in CORPUS}
    return [
        Step(name=f"{prefix}:{n}", build=build(by_name[n][2]), oracle=by_name[n][3])
        for n in names
    ]


def _registry_steps(ctx: Context, names: tuple[str, ...]) -> list[Step]:
    from rdf_mapreduce_joins_spark.plans import ORACLES, QUERIES

    def bind(fn):
        return lambda spark: fn(spark, ctx.data_dir)

    return [Step(name=n, build=bind(QUERIES[n]), oracle=ORACLES[n]) for n in names]


# --------------------------------------------------------------- rdf_sparql


def _rdf_prepare(spark: SparkSession, ctx: Context) -> None:
    """Render the star-schema triples view (``plans.rdf.triples``) to
    N-Triples once, before timing, with the engine's own writer."""
    from rdf_mapreduce_joins_spark.plans.rdf import triples
    from rdf_mapreduce_joins_spark.sources import ntriples as NT

    tri = triples(spark, ctx.data_dir)
    nt_dir = os.path.join(ctx.work_dir, "triples.nt")
    NT.write_ntriples(tri, nt_dir)
    ctx.facts["ntriples_path"] = nt_dir
    ctx.facts["n_triples"] = tri.count()
    ctx.facts["store_path"] = os.path.join(ctx.work_dir, "store")


def _rdf_steps(ctx: Context) -> tuple[list[Step], list[Step]]:
    from rdf_mapreduce_joins_spark.plans import generic_rdf as G
    from rdf_mapreduce_joins_spark.plans import sparql as S
    from rdf_mapreduce_joins_spark.sources import ntriples as NT

    store = ctx.facts["store_path"]

    def ingest(spark: SparkSession) -> None:
        tri = NT.read_ntriples(spark, ctx.facts["ntriples_path"])
        G.build_triples_store(tri, store)
        dictionary = spark.read.parquet(f"{store}/dictionary")
        collisions = G.dictionary_collisions(dictionary)
        if collisions != 0:
            raise AssertionError(f"{collisions} dictionary id collisions")

    # The module functions are looked up at call time, so a traced
    # pass calls the span-opening wrappers.
    def star(text: str):
        return lambda spark: S.sparql(spark, ctx.data_dir, text)

    def indexed(text: str):
        return lambda spark: G.sparql_triples_indexed(spark, store, text)

    queries = _corpus_steps("star", STAR_TEXTS, star) + _corpus_steps("store", STORE_TEXTS, indexed)
    return [Step(name="ingest", action=ingest)], queries


# ---------------------------------------------------------------- graph_llm


def _graph_llm_steps(ctx: Context) -> tuple[list[Step], list[Step]]:
    return [], _registry_steps(ctx, GRAPH_LLM_QUERIES)


# The iterative operators the workloads reach.
LOOP_TRACE = {
    f"{ENGINE}.operators.graph:transitive_closure": "operators.graph.loop",
    f"{ENGINE}.operators.graph:kcore": "operators.graph.loop",
}

# Why each workload was chosen, and which layers it loads and bypasses,
# is recorded in BENCHMARK.json and perfbench/README.md.
WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="rdf_sparql",
            steps=_rdf_steps,
            trace={
                f"{SPARQL_MOD}:sparql": "plans.sparql.build",
                f"{SPARQL_MOD}:parse_sparql": "plans.sparql.parse",
                f"{GENERIC_MOD}:sparql_triples_indexed": "plans.generic_rdf.build",
                f"{GENERIC_MOD}:build_triples_store": "plans.generic_rdf.store_write",
                f"{GENERIC_MOD}:dictionary_collisions": "plans.generic_rdf.collision_check",
                **LOOP_TRACE,
            },
            prepare=_rdf_prepare,
        ),
        Workload(
            name="graph_llm",
            steps=_graph_llm_steps,
            trace={
                **LOOP_TRACE,
                f"{ENGINE}.operators.similarity:ivf_train": "operators.similarity.ivf_train",
            },
        ),
    )
}


def add_import_paths(root: str) -> None:
    for p in (root, os.path.join(root, "tools"), os.path.join(root, "tests")):
        if p not in sys.path:
            sys.path.insert(0, p)
