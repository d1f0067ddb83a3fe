"""The 26-query LUBM / SP2Bench analog corpus (VERDICT r1 #6).

The reference's entire spec surface IS the published LUBM Q1-Q14 and
SP2Bench Q1-Q12 SPARQL queries (SURVEY.md §0/§5, provenance [K]) — each
hand-translated there into a bespoke MapReduce program. This corpus
maps every one of those query *shapes* onto the star-schema triples
vocabulary (FIXTURES.md "triples view": predicates name / nation /
region / customer / status / supplier / order / mktsegment / manager)
and runs the actual SPARQL text end-to-end through the parser and the
executor — over the star source and, for texts without a type
constraint, over the persisted triples store — checked against an
independently written DuckDB oracle over the raw base tables: parse,
lowering, both id encodings, join planning, and decode are
differential-tested per benchmark query.

Shape provenance per query is noted inline ("LUBM Q2: triangle join").
The vocabulary differs (no universities here), the algebra is the
point: each analog exercises the same pattern structure — join shape,
modifiers, negation form — as its published original.
"""

from __future__ import annotations

import re

import duckdb
import pytest

from rdf_mapreduce_joins_spark.plans import generic_rdf as G
from rdf_mapreduce_joins_spark.plans import sparql as S
from rdf_mapreduce_joins_spark.plans.rdf import triples
from rdf_mapreduce_joins_spark.sources.tables import TABLES

SF = "/root/testdata/sf0.001"

# (name, shape note, sparql text, duckdb oracle over base tables)
CORPUS: list[tuple[str, str, str, str]] = [
    # ---------------------------------------------------------------- LUBM
    (
        "lubm_q1",
        "constant-object pattern + literal star (GradStudent takesCourse <c>)",
        "SELECT ?o ?st WHERE { ?o <customer> <customer/7> ; <status> ?st . }",
        """SELECT 'orders/' || o_orderkey AS o, o_orderstatus AS st
           FROM orders WHERE o_custkey = 7""",
    ),
    (
        "lubm_q2",
        "triangle/cyclic join (student-university-department)",
        """SELECT DISTINCT ?c ?s ?n WHERE {
             ?l <order> ?o . ?o <customer> ?c .
             ?l <supplier> ?s . ?c <nation> ?n . ?s <nation> ?n . }""",
        """SELECT DISTINCT 'customer/' || c_custkey AS c,
                  'supplier/' || s_suppkey AS s,
                  'nation/' || n_nationkey AS n
           FROM lineitem
           JOIN orders   ON o_orderkey = l_orderkey
           JOIN customer ON c_custkey = o_custkey
           JOIN supplier ON s_suppkey = l_suppkey
           JOIN nation   ON n_nationkey = c_nationkey
                        AND n_nationkey = s_nationkey""",
    ),
    (
        "lubm_q3",
        "constant-object scan (Publication publicationAuthor <prof>)",
        "SELECT ?l WHERE { ?l <supplier> <supplier/3> . }",
        """SELECT 'lineitem/' || l_orderkey || '/' || l_linenumber AS l
           FROM lineitem WHERE l_suppkey = 3""",
    ),
    (
        "lubm_q4",
        "star with constant + multiple literal properties (Professor worksFor <dept>)",
        """SELECT ?c ?nm ?seg WHERE {
             ?c <nation> <nation/3> ; <name> ?nm ; <mktsegment> ?seg . }""",
        """SELECT 'customer/' || c_custkey AS c, c_name AS nm,
                  c_mktsegment AS seg
           FROM customer WHERE c_nationkey = 3""",
    ),
    (
        "lubm_q5",
        "class-union membership (Person memberOf <dept>: predicate spans tables)",
        "SELECT ?x WHERE { ?x <nation> <nation/1> . }",
        """SELECT 'customer/' || c_custkey AS x FROM customer WHERE c_nationkey = 1
           UNION ALL
           SELECT 'supplier/' || s_suppkey FROM supplier WHERE s_nationkey = 1""",
    ),
    (
        "lubm_q6",
        "full class scan (all Students)",
        "SELECT ?c ?nm WHERE { ?c a <customer> ; <name> ?nm . }",
        "SELECT 'customer/' || c_custkey AS c, c_name AS nm FROM customer",
    ),
    (
        "lubm_q7",
        "chain from a constant (takesCourse / teacherOf <prof>)",
        # NOTE on the oracle shape: the driver's synthetic lineitem has
        # duplicate (l_orderkey, l_linenumber) pairs (4599 distinct of
        # 6000 at sf0.001), so the triples-view subject is a multiset
        # and the two ?l patterns join as a SELF-JOIN over it (bag
        # semantics) — the oracle must say the same thing, not the
        # base-table single-row form.
        """SELECT ?l ?o ?st WHERE {
             ?l <supplier> <supplier/2> ; <order> ?o . ?o <status> ?st . }""",
        """WITH l1 AS (SELECT 'lineitem/' || l_orderkey || '/' || l_linenumber AS l
                       FROM lineitem WHERE l_suppkey = 2),
                l2 AS (SELECT 'lineitem/' || l_orderkey || '/' || l_linenumber AS l,
                              l_orderkey AS ok
                       FROM lineitem)
           SELECT l1.l AS l, 'orders/' || o_orderkey AS o, o_orderstatus AS st
           FROM l1 JOIN l2 ON l2.l = l1.l
           JOIN orders ON o_orderkey = l2.ok""",
    ),
    (
        "lubm_q8",
        "chain to a constant tail + literal (memberOf/subOrganizationOf <univ> + email)",
        """SELECT ?c ?nm WHERE {
             ?c <nation> ?n . ?n <region> <region/0> . ?c <name> ?nm . }""",
        """SELECT 'customer/' || c_custkey AS c, c_name AS nm
           FROM customer JOIN nation ON n_nationkey = c_nationkey
           WHERE n_regionkey = 0
           UNION ALL
           SELECT 'supplier/' || s_suppkey, s_name
           FROM supplier JOIN nation ON n_nationkey = s_nationkey
           WHERE n_regionkey = 0""",
    ),
    (
        "lubm_q9",
        "triangle with constant leaf (student-faculty-course)",
        """SELECT DISTINCT ?o ?s WHERE {
             ?l <order> ?o . ?l <supplier> ?s .
             ?o <customer> ?c . ?c <nation> <nation/0> . }""",
        """SELECT DISTINCT 'orders/' || o_orderkey AS o,
                  'supplier/' || s_suppkey AS s
           FROM lineitem
           JOIN orders   ON o_orderkey = l_orderkey
           JOIN supplier ON s_suppkey = l_suppkey
           JOIN customer ON c_custkey = o_custkey
           WHERE c_nationkey = 0""",
    ),
    (
        "lubm_q10",
        "constant-object single pattern (takesCourse <course>)",
        "SELECT ?o WHERE { ?o <customer> <customer/11> . }",
        "SELECT 'orders/' || o_orderkey AS o FROM orders WHERE o_custkey = 11",
    ),
    (
        "lubm_q11",
        "transitive path to a constant (subOrganizationOf+ <univ>)",
        "SELECT ?s WHERE { ?s <manager>+ <supplier/1> . }",
        """WITH RECURSIVE closure(src, dst) AS (
             SELECT s_suppkey, CAST(FLOOR(s_suppkey / 2) AS BIGINT)
             FROM supplier WHERE s_suppkey >= 1
             UNION
             SELECT c.src, CAST(FLOOR(c.dst / 2) AS BIGINT)
             FROM closure c WHERE c.dst >= 1)
           SELECT 'supplier/' || src AS s FROM closure WHERE dst = 1""",
    ),
    (
        "lubm_q12",
        "one-hop chain with literal filter on the far end (Chair worksFor <dept>)",
        """SELECT ?s ?m WHERE {
             ?s <manager> ?m . ?m <name> "Supplier#000000001" . }""",
        """SELECT 'supplier/' || a.s_suppkey AS s, 'supplier/' || b.s_suppkey AS m
           FROM supplier a
           JOIN supplier b ON b.s_suppkey = CAST(FLOOR(a.s_suppkey / 2) AS BIGINT)
           WHERE a.s_suppkey >= 1 AND b.s_name = 'Supplier#000000001'""",
    ),
    (
        "lubm_q13",
        "inverse edge from a constant (University hasAlumnus ≡ ^degreeFrom)",
        "SELECT ?x WHERE { <nation/4> ^<nation> ?x . }",
        """SELECT 'customer/' || c_custkey AS x FROM customer WHERE c_nationkey = 4
           UNION ALL
           SELECT 'supplier/' || s_suppkey FROM supplier WHERE s_nationkey = 4""",
    ),
    (
        "lubm_q14",
        "class + literal scan (all UndergraduateStudents)",
        'SELECT ?c WHERE { ?c a <customer> ; <mktsegment> "AUTOMOBILE" . }',
        """SELECT 'customer/' || c_custkey AS c FROM customer
           WHERE c_mktsegment = 'AUTOMOBILE'""",
    ),
    # ----------------------------------------------------------- SP2Bench
    (
        "sp2b_q1",
        "single-subject star keyed by literal (journal title -> year)",
        """SELECT ?r ?rn WHERE {
             ?n <name> "NATION_5" ; <region> ?r . ?r <name> ?rn . }""",
        """SELECT 'region/' || r_regionkey AS r, r_name AS rn
           FROM nation JOIN region ON r_regionkey = n_regionkey
           WHERE n_name = 'NATION_5'""",
    ),
    (
        "sp2b_q2",
        "wide star + OPTIONAL projected (article metadata + optional abstract)",
        """SELECT ?o ?c ?st ?cn ?l WHERE {
             ?o a <orders> ; <customer> ?c ; <status> ?st .
             ?c <name> ?cn .
             OPTIONAL { ?l <order> ?o . } }""",
        """SELECT 'orders/' || o_orderkey AS o, 'customer/' || c_custkey AS c,
                  o_orderstatus AS st, c_name AS cn,
                  'lineitem/' || l_orderkey || '/' || l_linenumber AS l
           FROM orders
           JOIN customer ON c_custkey = o_custkey
           LEFT JOIN lineitem ON l_orderkey = o_orderkey""",
    ),
    (
        "sp2b_q3a",
        "predicate-value filter (articles with swrc:pages)",
        'SELECT ?c WHERE { ?c <mktsegment> ?seg . FILTER(?seg = "HOUSEHOLD") }',
        """SELECT 'customer/' || c_custkey AS c FROM customer
           WHERE c_mktsegment = 'HOUSEHOLD'""",
    ),
    (
        "sp2b_q3b",
        "predicate-value inequality filter (swrc:month variant)",
        'SELECT ?o WHERE { ?o <status> ?st . FILTER(?st != "O") }',
        """SELECT 'orders/' || o_orderkey AS o FROM orders
           WHERE o_orderstatus <> 'O'""",
    ),
    (
        "sp2b_q4",
        "distinct pairs via theta self-join (name1 < name2 over shared journal)",
        """SELECT DISTINCT ?nm1 ?nm2 WHERE {
             ?c1 <nation> ?n . ?c2 <nation> ?n .
             ?c1 <name> ?nm1 . ?c2 <name> ?nm2 .
             FILTER(?nm1 < ?nm2) }""",
        """WITH members AS (
             SELECT c_nationkey AS nk, c_name AS nm FROM customer
             UNION ALL
             SELECT s_nationkey, s_name FROM supplier)
           SELECT DISTINCT a.nm AS nm1, b.nm AS nm2
           FROM members a JOIN members b ON a.nk = b.nk
           WHERE a.nm < b.nm""",
    ),
    (
        "sp2b_q5",
        "object-object join across classes (person co-reference by name)",
        """SELECT DISTINCT ?c ?s2 WHERE {
             ?c a <customer> ; <nation> ?n .
             ?s2 a <supplier> ; <nation> ?n . }""",
        """SELECT DISTINCT 'customer/' || c_custkey AS c,
                  'supplier/' || s_suppkey AS s2
           FROM customer JOIN supplier ON s_nationkey = c_nationkey""",
    ),
    (
        "sp2b_q6",
        "negation via OPTIONAL + !BOUND (documents with no newer version)",
        """SELECT ?c ?nm WHERE {
             ?c a <customer> ; <name> ?nm .
             OPTIONAL { ?o <customer> ?c ; <status> "F" . }
             FILTER(!BOUND(?o)) }""",
        """SELECT 'customer/' || c_custkey AS c, c_name AS nm FROM customer
           WHERE NOT EXISTS (SELECT 1 FROM orders
                             WHERE o_custkey = c_custkey
                               AND o_orderstatus = 'F')""",
    ),
    (
        "sp2b_q7",
        "NOT EXISTS negation over a 2-pattern group (citation double negation, single level)",
        """SELECT DISTINCT ?c WHERE {
             ?c a <customer> ; <name> ?nm .
             FILTER NOT EXISTS { ?o <customer> ?c ; <status> "P" . } }""",
        """SELECT DISTINCT 'customer/' || c_custkey AS c FROM customer
           WHERE NOT EXISTS (SELECT 1 FROM orders
                             WHERE o_custkey = c_custkey
                               AND o_orderstatus = 'P')""",
    ),
    (
        "sp2b_q8",
        "UNION of two join chains (Erdos number paths)",
        """SELECT DISTINCT ?s ?nm WHERE {
             { ?l <supplier> ?s . ?l <order> ?o . ?o <status> "F" .
               ?s <name> ?nm . ?s a <supplier> }
             UNION
             { ?s <nation> <nation/0> ; <name> ?nm . ?s a <supplier> } }""",
        """SELECT DISTINCT s, nm FROM (
             SELECT 'supplier/' || s_suppkey AS s, s_name AS nm
             FROM lineitem
             JOIN orders   ON o_orderkey = l_orderkey
             JOIN supplier ON s_suppkey = l_suppkey
             WHERE o_orderstatus = 'F'
             UNION ALL
             SELECT 'supplier/' || s_suppkey, s_name
             FROM supplier WHERE s_nationkey = 0)""",
    ),
    (
        "sp2b_q9",
        "variable-predicate survey: UNION of incoming/outgoing edges, "
        "DISTINCT (the faithful Q9 — ?s ?predicate ?person)",
        """SELECT DISTINCT ?predicate WHERE {
             { ?c a <customer> . ?s ?predicate ?c }
             UNION
             { ?c a <customer> . ?c ?predicate ?o } }""",
        """SELECT DISTINCT predicate FROM (
             SELECT 'customer' AS predicate FROM orders
             UNION ALL SELECT 'name' FROM customer
             UNION ALL SELECT 'nation' FROM customer
             UNION ALL SELECT 'mktsegment' FROM customer
             UNION ALL SELECT 'acctbal' FROM customer)""",
    ),
    (
        "sp2b_q10",
        "constant-object retrieval via inverse (everything pointing at <person>)",
        "SELECT ?l WHERE { <supplier/5> ^<supplier> ?l . }",
        """SELECT 'lineitem/' || l_orderkey || '/' || l_linenumber AS l
           FROM lineitem WHERE l_suppkey = 5""",
    ),
    (
        "sp2b_q11",
        "ORDER BY + LIMIT + OFFSET window (electronic edition listing)",
        """SELECT ?o WHERE { ?o <customer> <customer/3> . }
           ORDER BY ?o LIMIT 5 OFFSET 2""",
        """SELECT o FROM (
             SELECT 'orders/' || o_orderkey AS o FROM orders WHERE o_custkey = 3)
           ORDER BY o NULLS LAST LIMIT 5 OFFSET 2""",
    ),
    (
        "sp2b_q12a",
        "ASK with a satisfiable pattern",
        'ASK { ?c <mktsegment> "BUILDING" ; <nation> <nation/3> . }',
        """SELECT EXISTS(SELECT 1 FROM customer
                         WHERE c_mktsegment = 'BUILDING'
                           AND c_nationkey = 3) AS ask""",
    ),
    (
        "sp2b_q12c",
        "ASK over an unsatisfiable pattern (must answer false, not empty)",
        'ASK { ?c <mktsegment> "NO_SUCH_SEGMENT" . }',
        """SELECT EXISTS(SELECT 1 FROM customer
                         WHERE c_mktsegment = 'NO_SUCH_SEGMENT') AS ask""",
    ),
]


# Texts with no store case: they constrain a variable with ``?x a <C>``
# (star scan pruning), and the triples view the store is built from
# emits no rdf:type triples, so over the store they match nothing.
STORE_EXCLUDED = {
    "lubm_q6", "lubm_q14",
    "sp2b_q2", "sp2b_q5", "sp2b_q6", "sp2b_q7", "sp2b_q8", "sp2b_q9",
}

# Every text runs on the star executor (ids kept as the bare query
# name) and, outside STORE_EXCLUDED, on the persisted-store executor.
CASES = [pytest.param("star", *c, id=c[0]) for c in CORPUS] + [
    pytest.param("store", *c, id=f"store-{c[0]}")
    for c in CORPUS
    if c[0] not in STORE_EXCLUDED
]


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    """The star triples view persisted once as the encoded store."""
    path = str(tmp_path_factory.mktemp("corpus_store") / "store")
    G.build_triples_store(triples(spark, SF), path)
    return path


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return repr(round(v, 9))
    return str(v)


@pytest.mark.parametrize("executor,name,shape,text,oracle", CASES)
def test_benchmark_analog(request, spark, executor, name, shape, text, oracle, duck):
    if executor == "star":
        sdf = S.sparql(spark, SF, text)
    else:
        sdf = G.sparql_triples_indexed(spark, request.getfixturevalue("store"), text)
    res = duck.execute(oracle)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(sdf.columns) == sorted(ocols), f"{name} ({shape}): columns differ"
    # order-insensitive value comparison, columns aligned by name
    sorder = sorted(range(len(sdf.columns)), key=lambda i: sdf.columns[i])
    oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
    got = sorted(tuple(_norm(r[i]) for i in sorder) for r in sdf.collect())
    want = sorted(tuple(_norm(r[i]) for i in oorder) for r in orows)
    assert got == want, f"{name} ({shape}): rows differ"


def test_corpus_is_complete():
    """26 published queries: LUBM Q1-Q14 (14) + SP2Bench Q1-Q12 with
    Q3 and Q12 sub-variants sampled (12) — every shape represented; the
    store-case exclusions cannot grow silently."""
    names = [c[0] for c in CORPUS]
    assert len(names) == len(set(names)) == 28
    assert sum(n.startswith("lubm_") for n in names) == 14
    assert sum(n.startswith("sp2b_") for n in names) == 14
    # the store cases skip exactly the type-constrained texts
    typed = {n for n, _shape, text, _o in CORPUS if re.search(r"\ba <", text)}
    assert STORE_EXCLUDED == typed == {
        "lubm_q6", "lubm_q14",
        "sp2b_q2", "sp2b_q5", "sp2b_q6", "sp2b_q7", "sp2b_q8", "sp2b_q9",
    }
