"""Generic-triples SPARQL executor tests: the reference's actual
pipeline shape — N-Triples text in, SPARQL over the parsed triples —
with results cross-checked against the star-schema compiler on the
same data, plus arbitrary-vocabulary features the star path can't
host (rdf:type triples, unknown predicates)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdf_mapreduce_joins_spark.plans import sparql as S
from rdf_mapreduce_joins_spark.plans.generic_rdf import (
    RDF_TYPE,
    build_triples_store,
    sparql_triples,
    sparql_triples_indexed,
)
from rdf_mapreduce_joins_spark.plans.rdf import triples
from rdf_mapreduce_joins_spark.sources.ntriples import read_ntriples, write_ntriples


def rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def nt_triples(spark, tmp_path_factory):
    """The star-schema triples view serialized to N-Triples text and
    parsed back — the reference's ingest path, end to end."""
    path = str(tmp_path_factory.mktemp("nt") / "triples.nt")
    write_ntriples(triples(spark, "/root/testdata/sf0.001"), path)
    return read_ntriples(spark, path)


@pytest.fixture(scope="module")
def nt_store(spark, nt_triples, tmp_path_factory):
    """The round-tripped triples persisted once as the encoded store
    (xxhash64 ids + on-disk dictionary) — the input that puts the
    raw-frame source on its id path."""
    path = str(tmp_path_factory.mktemp("nt_store") / "store")
    build_triples_store(nt_triples, path)
    return path


def decodes_ids(df):
    """The id path's tell: a dictionary decode join in the plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "struct<id:bigint,term:string>" in plan


EQUIV_TEXTS = [
    # chain join
    """SELECT ?c ?n ?rname WHERE {
         ?c <nation> ?n . ?n <region> ?r . ?r <name> ?rname . }""",
    # OPTIONAL + !BOUND anti-join idiom
    """SELECT ?c ?cname WHERE {
         ?c <name> ?cname ; <mktsegment> ?seg .
         OPTIONAL { ?o <customer> ?c ; <status> "P" . }
         FILTER(!BOUND(?o)) }""",
    # UNION + DISTINCT
    """SELECT DISTINCT ?n WHERE {
         { ?c <mktsegment> ?seg . ?c <nation> ?n }
         UNION
         { ?s <name> ?nm . ?s <nation> ?n . ?l <supplier> ?s } }""",
    # sequence property path
    "SELECT ?c ?rname WHERE { ?c <nation>/<region>/<name> ?rname . }",
    # transitive closure
    "SELECT ?a WHERE { <supplier/9> <manager>+ ?a . }",
    # reflexive-transitive with identity
    "SELECT ?a WHERE { <supplier/9> <manager>* ?a . }",
    # VALUES + literal filter
    """SELECT ?c ?seg WHERE {
         ?c <mktsegment> ?seg . VALUES ?seg { "BUILDING" "MACHINERY" } }""",
    # aggregation
    """SELECT ?seg (COUNT(*) AS ?n) WHERE { ?c <mktsegment> ?seg . }
       GROUP BY ?seg HAVING(?n > 20) ORDER BY ?seg""",
]


@pytest.mark.parametrize("text", EQUIV_TEXTS, ids=range(len(EQUIV_TEXTS)))
def test_generic_matches_star_schema_compiler(spark, nt_triples, text):
    """Same SPARQL text over the N-Triples round trip must produce the
    same rows as the dictionary-encoded star-schema compiler (the
    star path's type constraints are omitted from these texts — the
    generic path has no type triples for them)."""
    got = rows(sparql_triples(nt_triples, text))
    want = rows(S.sparql(spark, "/root/testdata/sf0.001", text))
    assert got == want and got


def test_rdf_type_and_unknown_vocabulary(spark):
    """Arbitrary-vocabulary graph: ?x a <Class> matches rdf:type
    triples, unknown predicates match nothing (empty frame, no
    error)."""
    data = [
        ("http://ex/alice", RDF_TYPE, "http://ex/Person"),
        ("http://ex/bob", RDF_TYPE, "http://ex/Person"),
        ("http://ex/acme", RDF_TYPE, "http://ex/Company"),
        ("http://ex/alice", "http://ex/worksFor", "http://ex/acme"),
        ("http://ex/alice", "http://ex/name", "Alice"),
        ("http://ex/bob", "http://ex/name", "Bob"),
    ]
    t = spark.createDataFrame(data, "subject string, predicate string, object string")
    got = rows(
        sparql_triples(
            t,
            """PREFIX ex: <http://ex/>
               SELECT ?p ?nm WHERE { ?p a ex:Person ; ex:name ?nm . }
               ORDER BY ?nm""",
        )
    )
    assert got == [
        ("http://ex/alice", "Alice"),
        ("http://ex/bob", "Bob"),
    ]
    empty = sparql_triples(
        t, "SELECT ?x WHERE { ?x <http://ex/noSuchPredicate> ?y . }"
    )
    assert empty.count() == 0


def test_generic_ask_and_construct(spark):
    data = [
        ("a", "knows", "b"),
        ("b", "knows", "c"),
    ]
    t = spark.createDataFrame(data, "subject string, predicate string, object string")
    ask_true = sparql_triples(t, "ASK { <a> <knows> ?x . }").collect()
    ask_false = sparql_triples(t, "ASK { <c> <knows> ?x . }").collect()
    assert [r.ask for r in ask_true] == [True]
    assert [r.ask for r in ask_false] == [False]
    built = rows(
        sparql_triples(
            t,
            "CONSTRUCT { ?x <reachable> ?y } WHERE { ?x <knows>+ ?y . }",
        )
    )
    assert built == [
        ("a", "reachable", "b"),
        ("a", "reachable", "c"),
        ("b", "reachable", "c"),
    ]


def test_generic_transitive_any_predicate(spark):
    """+/* work over ANY predicate in generic mode (no self-referential
    FK restriction — one term universe)."""
    data = [("a", "p", "b"), ("b", "p", "c"), ("x", "p", "y")]
    t = spark.createDataFrame(data, "subject string, predicate string, object string")
    plus = rows(sparql_triples(t, "SELECT ?s ?o WHERE { ?s <p>+ ?o . }"))
    assert plus == [("a", "b"), ("a", "c"), ("b", "c"), ("x", "y")]
    star = rows(sparql_triples(t, "SELECT ?s ?o WHERE { ?s <p>* ?o . }"))
    assert star == sorted(
        plus + [("a", "a"), ("b", "b"), ("c", "c"), ("x", "x"), ("y", "y")]
    )


def test_generic_pattern_prunes_predicate_partitions(spark, tmp_path):
    """Stored partitioned-by-predicate (the layout the module docstring
    prescribes), a single-predicate pattern must hit PartitionFilters —
    unmatched predicate directories are pruned at file listing, which
    is the generic path's scan-reduction story at 100 TB."""
    p = str(tmp_path / "triples_by_pred")
    triples(spark, "/root/testdata/sf0.001").write.partitionBy("predicate").parquet(p)
    t = spark.read.parquet(p).select("subject", "predicate", "object")
    df = sparql_triples(t, "SELECT ?c ?seg WHERE { ?c <mktsegment> ?seg . }")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "mktsegment" in plan
    # the pruned scan still answers correctly
    assert df.count() == 150


ENC_ELIGIBLE = [
    EQUIV_TEXTS[0],  # chain join
    EQUIV_TEXTS[1],  # OPTIONAL/!BOUND anti (notbound rewrites pre-compile)
    EQUIV_TEXTS[3],  # sequence path
    EQUIV_TEXTS[4],  # transitive +
    EQUIV_TEXTS[5],  # reflexive-transitive *
]


@pytest.mark.parametrize("text", ENC_ELIGIBLE, ids=range(len(ENC_ELIGIBLE)))
def test_encoded_generic_equals_string_path(spark, nt_triples, nt_store, text):
    """Over the store (xxhash64 surrogate-id joins + dictionary decode)
    the query runs on ids and must produce exactly the string path's
    rows."""
    df = sparql_triples_indexed(spark, nt_store, text)
    assert decodes_ids(df)
    got = rows(df)
    want = rows(sparql_triples(nt_triples, text))
    assert got == want and got


def test_encoded_falls_back_on_filters(spark, nt_triples, nt_store):
    """A FILTER forces the string path even over the store: it must
    read the store's string columns and still be correct, not wrong or
    erroring."""
    text = """SELECT ?c ?seg WHERE {
                ?c <mktsegment> ?seg . FILTER(?seg = "BUILDING") }"""
    df = sparql_triples_indexed(spark, nt_store, text)
    assert not decodes_ids(df)
    got = rows(df)
    want = rows(sparql_triples(nt_triples, text))
    assert got == want and got


def test_term_dictionary_collision_free_here(spark, nt_triples):
    from rdf_mapreduce_joins_spark.plans.generic_rdf import (
        dictionary_collisions,
        term_dictionary,
    )

    d = term_dictionary(nt_triples)
    assert dictionary_collisions(d) == 0
    # ids are deterministic: same term always hashes the same
    assert d.count() == d.select("id").distinct().count()


def test_generic_bind(spark, nt_triples):
    got = rows(
        sparql_triples(
            nt_triples,
            """SELECT ?r ?label WHERE {
                 ?r <name> ?nm . ?n <region> ?r .
                 BIND(concat("region:", ?nm) AS ?label)
               }""",
        )
    )
    assert got and all(lbl.startswith("region:") for _, lbl in got)
    # the group's FILTER sees the BIND alias: one row per ASIA nation
    asia = rows(
        sparql_triples(
            nt_triples,
            """SELECT ?r ?label WHERE {
                 ?r <name> ?nm . ?n <region> ?r .
                 BIND(concat("region:", ?nm) AS ?label)
                 FILTER(?label = "region:ASIA") }""",
        )
    )
    assert asia == [("region/2", "region:ASIA")] * 5


def test_generic_subquery(spark, nt_triples):
    got = {
        r.r: r.cnt
        for r in sparql_triples(
            nt_triples,
            """SELECT ?r ?cnt WHERE {
                 ?r <name> ?rname .
                 { SELECT ?r (COUNT(?n) AS ?cnt)
                   WHERE { ?n <region> ?r . } GROUP BY ?r }
               }""",
        ).collect()
    }
    # every region has exactly 5 nations in the 25-nation fixture
    assert len(got) == 5 and set(got.values()) == {5}


def test_generic_describe(spark, nt_triples):
    got = rows(sparql_triples(nt_triples, "DESCRIBE <region/2>"))
    assert got
    assert all(s == "region/2" or o == "region/2" for s, _p, o in got)
    # both directions present: region/2's name triple + nations pointing at it
    assert any(s == "region/2" for s, _p, _o in got)
    assert any(o == "region/2" for _s, _p, o in got)


@pytest.mark.parametrize("stored", [False, True])
def test_variable_predicate_generic(spark, nt_triples, nt_store, stored):
    """Variable predicates over the generic frame: the predicate NAME
    binds as a string column on BOTH paths (it is never hash-encoded),
    and over the store the endpoint ids still decode through the
    dictionary."""
    text = "SELECT DISTINCT ?p ?s WHERE { ?s ?p <nation/3> . }"
    df = (
        sparql_triples_indexed(spark, nt_store, text)
        if stored
        else sparql_triples(nt_triples, text)
    )
    assert decodes_ids(df) == stored
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(
        tuple(r)
        for r in nt_triples.filter(F.col("object") == "nation/3")
        .select(F.col("predicate").alias("p"), F.col("subject").alias("s"))
        .distinct()
        .collect()
    )
    assert got == want and got


class TestNamedGraphs:
    @pytest.fixture(scope="class")
    def quads(self, spark):
        """Quad frame: name triples → <g1>, nation triples → <g2>,
        everything else in the default (NULL) graph."""
        tri = triples(spark, "/root/testdata/sf0.001")
        return tri.withColumn(
            "graph",
            F.when(F.col("predicate") == "name", "g1")
            .when(F.col("predicate") == "nation", "g2")
            .otherwise(F.lit(None)),
        )

    def test_constant_graph_scopes(self, quads):
        from rdf_mapreduce_joins_spark.plans.generic_rdf import sparql_quads

        in_g1 = sparql_quads(
            quads, "SELECT ?s ?o WHERE { GRAPH <g1> { ?s <name> ?o . } }"
        ).count()
        in_g2 = sparql_quads(
            quads, "SELECT ?s ?o WHERE { GRAPH <g2> { ?s <name> ?o . } }"
        ).count()
        assert in_g1 > 0 and in_g2 == 0

    def test_default_graph_is_null_rows(self, quads):
        from rdf_mapreduce_joins_spark.plans.generic_rdf import sparql_quads

        # names live in g1, so the default graph has none
        assert sparql_quads(quads, "SELECT ?s WHERE { ?s <name> ?o . }").count() == 0
        n = sparql_quads(quads, "SELECT ?s WHERE { ?s <mktsegment> ?o . }").count()
        assert n == quads.filter(
            F.col("graph").isNull() & (F.col("predicate") == "mktsegment")
        ).count()

    def test_graph_variable_binds_and_joins(self, quads):
        from rdf_mapreduce_joins_spark.plans.generic_rdf import sparql_quads

        gs = sorted(
            r.g
            for r in sparql_quads(
                quads, "SELECT DISTINCT ?g WHERE { GRAPH ?g { ?s ?p ?o . } }"
            ).collect()
        )
        assert gs == ["g1", "g2"]
        # default-group pattern joined with a graph block on ?s
        joined = sparql_quads(
            quads,
            """SELECT ?s ?seg ?nm WHERE {
                 ?s <mktsegment> ?seg . GRAPH <g1> { ?s <name> ?nm . } }""",
        )
        assert joined.count() == quads.filter(
            F.col("predicate") == "mktsegment"
        ).count()

    def test_encoded_path_equivalence(self, spark, quads, tmp_path_factory):
        from rdf_mapreduce_joins_spark.plans.generic_rdf import (
            build_quads_store,
            sparql_quads,
            sparql_quads_indexed,
        )

        path = str(tmp_path_factory.mktemp("quad_store") / "qs")
        build_quads_store(quads, path)
        q = "SELECT ?g ?s WHERE { GRAPH ?g { ?s <name> ?o . } }"
        a = sorted(tuple(r) for r in sparql_quads(quads, q).collect())
        enc = sparql_quads_indexed(spark, path, q)
        assert decodes_ids(enc)
        b = sorted(tuple(r) for r in enc.collect())
        assert a == b and a

    def test_star_compiler_rejects_graph(self, spark):
        with pytest.raises(S.SparqlUnsupportedError, match="quad frame"):
            S.sparql(
                spark,
                "/root/testdata/sf0.001",
                "SELECT ?s WHERE { GRAPH <g> { ?s <name> ?o . } }",
            )

    def test_graph_block_structure_rejected(self):
        with pytest.raises(S.SparqlUnsupportedError, match="triple patterns"):
            S.parse_sparql(
                "SELECT ?s WHERE { GRAPH <g> { ?s <name> ?o . FILTER(?o != \"x\") } }"
            )
        with pytest.raises(S.SparqlUnsupportedError, match="rdf:type"):
            S.parse_sparql(
                "SELECT ?s WHERE { GRAPH <g> { ?s a <customer> . } }"
            )

    def test_triples_frame_without_graph_rejected(self, spark):
        from rdf_mapreduce_joins_spark.plans.generic_rdf import sparql_quads

        tri = triples(spark, "/root/testdata/sf0.001")
        with pytest.raises(ValueError, match="graph"):
            sparql_quads(tri, "SELECT ?s WHERE { ?s <name> ?o . }")


def test_predicate_var_as_endpoint_encoded_falls_back(spark, nt_triples, tmp_path):
    """Regression: a predicate variable reused in subject position
    (RDF-Schema predicates-as-subjects) must give identical results
    over the store — the query falls back to strings instead of
    joining a name column against an xxhash64 column."""
    extra = spark.createDataFrame(
        [("nation", "domain", "customer"), ("region", "domain", "nation")],
        "subject string, predicate string, object string",
    )
    t = nt_triples.unionByName(extra)
    store = str(tmp_path / "store")
    build_triples_store(t, store)
    q = "SELECT DISTINCT ?p ?d WHERE { ?s ?p ?o . ?p <domain> ?d . }"
    a = sorted(tuple(r) for r in sparql_triples(t, q).collect())
    enc = sparql_triples_indexed(spark, store, q)
    assert not decodes_ids(enc)
    b = sorted(tuple(r) for r in enc.collect())
    assert a == b and a


class TestGraphInSubGroups:
    @pytest.fixture(scope="class")
    def quads2(self, spark):
        """s1 has name+nation in the default graph; the <audit> graph
        marks s1 (not s2) as reviewed."""
        rows = [
            (None, "s1", "name", "Alice"),
            (None, "s2", "name", "Bob"),
            (None, "s1", "nation", "n1"),
            ("audit", "s1", "reviewed", "yes"),
        ]
        return spark.createDataFrame(
            rows, "graph string, subject string, predicate string, object string"
        )

    def test_minus_with_matched_graph_block(self, quads2):
        """MINUS { GRAPH <audit> { ?s <reviewed> ?y } } removes s1
        (its audit triple matches) and keeps s2."""
        from rdf_mapreduce_joins_spark.plans.generic_rdf import sparql_quads

        got = sorted(
            r.s
            for r in sparql_quads(
                quads2,
                """SELECT ?s WHERE { ?s <name> ?o .
                     MINUS { GRAPH <audit> { ?s <reviewed> ?y . } } }""",
            ).collect()
        )
        assert got == ["s2"]

    def test_minus_with_unmatched_graph_block_keeps_all(self, quads2):
        """Regression (round-3 review): a GRAPH constraint inside
        MINUS must PARTICIPATE — an unmatched graph means the MINUS
        group cannot match, so nothing is removed (previously the
        graph block was silently dropped and MINUS over-matched)."""
        from rdf_mapreduce_joins_spark.plans.generic_rdf import sparql_quads

        got = sorted(
            r.s
            for r in sparql_quads(
                quads2,
                """SELECT ?s WHERE { ?s <name> ?o .
                     MINUS { ?s <nation> ?x .
                             GRAPH <nope> { ?s <name> ?y . } } }""",
            ).collect()
        )
        assert got == ["s1", "s2"]

    def test_optional_graph_block(self, quads2):
        from rdf_mapreduce_joins_spark.plans.generic_rdf import sparql_quads

        rows = sorted(
            tuple(r)
            for r in sparql_quads(
                quads2,
                """SELECT ?s ?y WHERE { ?s <name> ?o .
                     OPTIONAL { GRAPH <audit> { ?s <reviewed> ?y . } } }""",
            ).collect()
        )
        assert rows == [("s1", "yes"), ("s2", None)]


class TestDatasetClauses:
    @pytest.fixture(scope="class")
    def quads3(self, spark):
        rows = [
            (None, "s0", "p", "default"),
            ("g1", "s1", "p", "one"),
            ("g2", "s2", "p", "two"),
            ("g3", "s3", "p", "three"),
            ("g2", "s1", "q", "one-q"),
        ]
        return spark.createDataFrame(
            rows, "graph string, subject string, predicate string, object string"
        )

    def test_from_merges_into_default_graph(self, quads3):
        """FROM <g1> FROM <g2>: the default graph is exactly their
        merge — the store's own default-graph rows and g3 vanish."""
        from rdf_mapreduce_joins_spark.plans.generic_rdf import sparql_quads

        got = sorted(
            r.o
            for r in sparql_quads(
                quads3,
                "SELECT ?o FROM <g1> FROM <g2> WHERE { ?s <p> ?o . }",
            ).collect()
        )
        assert got == ["one", "two"]

    def test_from_named_restricts_graph_blocks(self, quads3):
        """FROM NAMED <g1>: GRAPH ?g iterates only g1 (and with no
        FROM, the default graph is empty)."""
        from rdf_mapreduce_joins_spark.plans.generic_rdf import sparql_quads

        got = sorted(
            (r.g, r.o)
            for r in sparql_quads(
                quads3,
                "SELECT ?g ?o FROM NAMED <g1> WHERE { GRAPH ?g { ?s <p> ?o . } }",
            ).collect()
        )
        assert got == [("g1", "one")]
        empty_default = sparql_quads(
            quads3, "SELECT ?o FROM NAMED <g1> WHERE { ?s <p> ?o . }"
        ).count()
        assert empty_default == 0

    def test_combined_from_and_from_named(self, quads3):
        from rdf_mapreduce_joins_spark.plans.generic_rdf import sparql_quads

        got = sorted(
            tuple(r)
            for r in sparql_quads(
                quads3,
                """SELECT ?o ?g ?o2 FROM <g1> FROM NAMED <g2>
                   WHERE { ?s <p> ?o . GRAPH ?g { ?s <q> ?o2 . } }""",
            ).collect()
        )
        assert got == [("one", "g2", "one-q")]

    def test_star_path_rejects_dataset_clauses(self, spark):
        with pytest.raises(S.SparqlUnsupportedError, match="quad frame"):
            S.sparql(
                spark,
                "/root/testdata/sf0.001",
                "SELECT ?o FROM <g> WHERE { ?s <name> ?o . }",
            )


def test_empty_grouped_path_raises_clean_error(spark):
    """A degenerate preds=('/',) (no steps) must raise
    SparqlUnsupportedError up front, not fall through to an opaque
    NoneType AttributeError in the modifier tail (ADVICE r3)."""
    from rdf_mapreduce_joins_spark.plans.generic_rdf import _pattern_frame
    from rdf_mapreduce_joins_spark.plans.sparql import SparqlUnsupportedError

    triples = spark.createDataFrame(
        [("s", "p", "o")], "subject string, predicate string, object string"
    )
    with pytest.raises(SparqlUnsupportedError, match="empty grouped path"):
        _pattern_frame(triples, "?s", ("/",), "?o", "")
