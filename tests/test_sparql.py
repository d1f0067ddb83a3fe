"""SPARQL front-end tests: text-vs-DataFrame equivalence against the
declared rdf_* queries (the parser must produce the same results as the
hand-built BGP calls), parser unit behavior, and rejection of
out-of-subset constructs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from rdf_mapreduce_joins_spark.plans import sparql as S


def rows(df):
    return sorted(tuple(r) for r in df.collect())


EQUIV = {
    "rdf_chain_join": """
      SELECT ?c ?n ?r ?rname WHERE {
        ?c <mktsegment> ?seg ; <nation> ?n .
        ?n <region> ?r . ?r <name> ?rname .
      }""",
    "rdf_cyclic_join": """
      SELECT DISTINCT ?c ?s ?n WHERE {
        ?l <order> ?o . ?o <customer> ?c .
        ?l <supplier> ?s . ?c <nation> ?n . ?s <nation> ?n .
      }""",
    "rdf_negation_anti": """
      SELECT ?c ?cname WHERE {
        ?c <name> ?cname ; <mktsegment> ?seg .
        OPTIONAL { ?o <customer> ?c . ?o <status> "F" . ?o <status> ?st }
        FILTER(!BOUND(?st))
      }""",
    "rdf_exists_semi": """
      SELECT ?c ?cname ?seg WHERE {
        ?c <name> ?cname ; <mktsegment> ?seg .
        FILTER EXISTS { ?o <customer> ?c . ?o <status> "P" }
      }""",
    "rdf_distinct_pairs": """
      SELECT DISTINCT ?n ?name1 ?name2 WHERE {
        ?s1 a <supplier> ; <nation> ?n ; <name> ?name1 .
        ?s2 a <supplier> ; <nation> ?n ; <name> ?name2 .
        FILTER(?name1 < ?name2)
      }""",
    "rdf_orderby_limit_offset": """
      SELECT ?c ?cname WHERE { ?c <name> ?cname ; <mktsegment> ?seg . }
      ORDER BY ?cname ?c LIMIT 10 OFFSET 50""",
    "rdf_union_distinct": """
      SELECT DISTINCT ?n WHERE {
        { ?c a <customer> . ?c <nation> ?n }
        UNION
        { ?s a <supplier> . ?s <nation> ?n }
      }""",
    "rdf_broadcast_lookup": """
      SELECT ?n ?nname WHERE { ?n <region> <region/0> ; <name> ?nname . }""",
    "rdf_optional_join": """
      SELECT ?c ?seg ?o ?st WHERE {
        ?c <mktsegment> ?seg .
        OPTIONAL { ?o <customer> ?c ; <status> ?st }
      }""",
}


@pytest.mark.parametrize("name", sorted(EQUIV))
def test_sparql_text_matches_declared_query(spark, sf_dir, name):
    got = rows(S.sparql(spark, sf_dir, EQUIV[name]))
    want = rows(entrymod.queries()[name](spark, sf_dir))
    assert got == want


def test_minus_equals_not_exists(spark, sf_dir):
    base = """
      SELECT ?c ?cname WHERE {{
        ?c <name> ?cname ; <mktsegment> ?seg .
        {clause}
      }}"""
    minus = rows(
        S.sparql(spark, sf_dir, base.format(clause="MINUS { ?o <customer> ?c }"))
    )
    ne = rows(
        S.sparql(
            spark, sf_dir, base.format(clause="FILTER NOT EXISTS { ?o <customer> ?c }")
        )
    )
    assert minus == ne


def test_filter_on_id_var_falls_back_to_string_path(spark, sf_dir):
    """Comparing an id-typed variable forces the decoded/string path;
    results must still be correct (region/0 vs the same by constant)."""
    via_filter = rows(
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?n ?nname WHERE {
                 ?n <region> ?r ; <name> ?nname . FILTER(?r = "region/0")
               }""",
        )
    )
    via_const = rows(
        S.sparql(
            spark,
            sf_dir,
            'SELECT ?n ?nname WHERE { ?n <region> <region/0> ; <name> ?nname . }',
        )
    )
    assert via_filter == via_const


def test_bound_inside_expression(spark, sf_dir):
    """Non-pure BOUND use compiles to IS NOT NULL over the left join."""
    got = rows(
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?c ?seg WHERE {
                 ?c <mktsegment> ?seg .
                 OPTIONAL { ?o <customer> ?c ; <status> ?st }
                 FILTER(BOUND(?st) && ?st = "F")
               }""",
        )
    )
    want = rows(
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?c ?seg WHERE {
                 ?c <mktsegment> ?seg .
                 ?o <customer> ?c ; <status> "F" .
               }""",
        )
    )
    assert got == want


def test_string_inequality_filter_partitions_corpus(spark, sf_dir):
    """!= filters must be complementary: kept + excluded-by-filter
    segments partition all customers exactly."""
    all_rows = S.sparql(
        spark, sf_dir, "SELECT ?c ?seg WHERE { ?c <mktsegment> ?seg . }"
    ).collect()
    kept = S.sparql(
        spark,
        sf_dir,
        """SELECT ?c ?seg WHERE {
             ?c <mktsegment> ?seg .
             FILTER(?seg != "BUILDING" && ?seg != "MACHINERY")
           }""",
    ).count()
    excluded = sum(1 for r in all_rows if r.seg in ("BUILDING", "MACHINERY"))
    assert kept + excluded == len(all_rows)
    assert 0 < kept < len(all_rows)


def test_anti_join_plan_from_notbound(spark, sf_dir):
    """The OPTIONAL/!BOUND idiom must plan an anti join, not a left
    join plus filter."""
    df = S.sparql(
        spark,
        sf_dir,
        """SELECT ?c ?cname WHERE {
             ?c <name> ?cname ; <mktsegment> ?seg .
             OPTIONAL { ?o <customer> ?c . ?o <status> ?st }
             FILTER(!BOUND(?st))
           }""",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "LeftOuter" not in plan


def test_type_constraint_prunes_union_branches(spark, sf_dir):
    """?x a <supplier> must prune the customer branch of the nation
    predicate union: exactly one base-table scan of supplier, none of
    customer."""
    df = S.sparql(
        spark, sf_dir, "SELECT ?s ?n WHERE { ?s a <supplier> ; <nation> ?n . }"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "supplier.parquet" in plan
    assert "customer.parquet" not in plan


PARSE_ERRORS = [
    ("SELECT ?x WHERE { ?x <nosuchpred> ?y . }", "unknown predicate"),
    ("SELECT ?x WHERE { ?x a <nosuchtable> . }", "unknown class"),
    ("SELECT * WHERE { ?x <name> ?y . }", "SELECT [*] unsupported"),
    ("SELECT ?x WHERE { ?x <name> ?y . ", "missing }"),
    ("SELECT ?x WHERE { ?x <name> ?y . } LIMIT", "end of query"),
    ("ASK { ?x <name> ?y . } LIMIT 5", "ASK takes no modifiers"),
    ("CONSTRUCT { } WHERE { ?x <name> ?y . }", "empty template"),
]


@pytest.mark.parametrize("text,why", PARSE_ERRORS)
def test_parse_errors(text, why):
    with pytest.raises(ValueError):
        S.parse_sparql(text)


def test_notbound_on_required_var_rejected(spark, sf_dir):
    with pytest.raises(S.SparqlUnsupportedError):
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?c WHERE {
                 ?c <name> ?cname . FILTER(!BOUND(?cname))
               }""",
        )


def test_ask_true_and_false(spark, sf_dir):
    t = S.sparql(spark, sf_dir, 'ASK { ?c <mktsegment> "BUILDING" . }').collect()
    f = S.sparql(spark, sf_dir, 'ASK { ?c <mktsegment> "NO_SUCH_SEG" . }').collect()
    assert [r.ask for r in t] == [True]
    assert [r.ask for r in f] == [False]


def test_construct_equals_manual_union(spark, sf_dir):
    got = rows(
        S.sparql(
            spark,
            sf_dir,
            """CONSTRUCT { ?n <within> ?r }
               WHERE { ?n a <nation> ; <region> ?r . }""",
        )
    )
    sel = S.sparql(
        spark, sf_dir, "SELECT ?n ?r WHERE { ?n a <nation> ; <region> ?r . }"
    ).collect()
    want = sorted({(r.n, "within", r.r) for r in sel})
    assert got == want
    assert S.sparql(
        spark,
        sf_dir,
        """CONSTRUCT { ?n <within> ?r }
           WHERE { ?n a <nation> ; <region> ?r . }""",
    ).columns == ["subject", "predicate", "object"]


def test_path_sequence_equals_expanded(spark, sf_dir):
    """A sequence path is pure syntax: identical results (and plan) to
    writing the chain through explicit variables."""
    got = rows(
        S.sparql(
            spark,
            sf_dir,
            "SELECT ?c ?rname WHERE { ?c <nation>/<region>/<name> ?rname . }",
        )
    )
    want = rows(
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?c ?rname WHERE {
                 ?c <nation> ?n . ?n <region> ?r . ?r <name> ?rname .
               }""",
        )
    )
    assert got == want and got


def test_path_inverse_equals_forward(spark, sf_dir):
    """^<p> swaps endpoints — same rows as the forward pattern with
    subject/object exchanged."""
    got = rows(
        S.sparql(spark, sf_dir, "SELECT ?c ?n WHERE { ?n ^<nation> ?c . ?c a <customer> . }")
    )
    want = rows(
        S.sparql(spark, sf_dir, "SELECT ?c ?n WHERE { ?c a <customer> ; <nation> ?n . }")
    )
    assert got == want and got


def test_path_transitive_from_constant(spark, sf_dir):
    """<manager>+ from a ground subject returns exactly the ⌊/2⌋
    ancestor chain (supplier/9 → 4 → 2 → 1 → 0)."""
    got = rows(
        S.sparql(spark, sf_dir, "SELECT ?a WHERE { <supplier/9> <manager>+ ?a . }")
    )
    assert got == [("supplier/0",), ("supplier/1",), ("supplier/2",), ("supplier/4",)]


PATH_ERRORS = [
    # '|' after a '/' sequence: precedence trap, must be parenthesized
    "SELECT ?x ?y WHERE { ?x <nation>/<region>|<name> ?y . }",
    # modifier on an unparenthesized alternation branch
    "SELECT ?x ?y WHERE { ?x <manager>+|<nation> ?y . }",
    # mixed forward/inverse alternation
    "SELECT ?x ?y WHERE { ?x ^<nation>|<region> ?y . }",
    # 'a' inside a path
    "SELECT ?x ?y WHERE { ?x <nation>/a ?y . }",
]


@pytest.mark.parametrize("text", PATH_ERRORS)
def test_path_modifier_rejections(text):
    with pytest.raises(ValueError):
        S.parse_sparql(text)


@pytest.mark.parametrize(
    "text",
    [
        # non-self-referential predicates under any closure/identity mod
        "SELECT ?x ?y WHERE { ?x <nation>+ ?y . }",
        "SELECT ?x ?y WHERE { ?x <name>* ?y . }",
        "SELECT ?x ?y WHERE { ?x <name>? ?y . }",
    ],
)
def test_mod_over_non_self_referential_pred_rejected(spark, sf_dir, text):
    """+/*/? over a non-self-referential predicate (object domain !=
    subject domain) must be rejected at compile time, not loop or
    return garbage."""
    with pytest.raises(ValueError):
        S.sparql(spark, sf_dir, text).collect()


def test_path_star_includes_identity(spark, sf_dir):
    """<manager>* from a ground subject = the + ancestor chain plus the
    zero-length match (the subject itself)."""
    plus = rows(
        S.sparql(spark, sf_dir, "SELECT ?a WHERE { <supplier/9> <manager>+ ?a . }")
    )
    star = rows(
        S.sparql(spark, sf_dir, "SELECT ?a WHERE { <supplier/9> <manager>* ?a . }")
    )
    assert star == sorted(plus + [("supplier/9",)])


def test_path_optional_hop_from_constant(spark, sf_dir):
    """<manager>? from a ground subject: itself and its direct manager,
    nothing further."""
    got = rows(
        S.sparql(spark, sf_dir, "SELECT ?a WHERE { <supplier/9> <manager>? ?a . }")
    )
    assert got == [("supplier/4",), ("supplier/9",)]


def test_path_alternation_equals_union(spark, sf_dir):
    """p1|p2 is the bag union of the two edge sets — identical rows to
    the UNION formulation."""
    got = rows(
        S.sparql(
            spark,
            sf_dir,
            "SELECT ?c ?v WHERE { ?c a <customer> ; (<name>|<mktsegment>) ?v . }",
        )
    )
    want = rows(
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?c ?v WHERE {
                 { ?c a <customer> ; <name> ?v . }
                 UNION
                 { ?c a <customer> ; <mktsegment> ?v . }
               }""",
        )
    )
    assert got == want and got


def test_paren_alternation_with_modifier(spark, sf_dir):
    """(p|p)+ exercises a modifier over a parenthesized alternation;
    duplicate alternatives collapse in the closure, so it equals p+."""
    got = rows(
        S.sparql(
            spark, sf_dir, "SELECT ?a WHERE { <supplier/9> (<manager>|<manager>)+ ?a . }"
        )
    )
    want = rows(
        S.sparql(spark, sf_dir, "SELECT ?a WHERE { <supplier/9> <manager>+ ?a . }")
    )
    assert got == want and got


def test_comment_and_whitespace_tolerance(spark, sf_dir):
    got = rows(
        S.sparql(
            spark,
            sf_dir,
            """# leading comment
               SELECT ?n ?nname   WHERE {
                 ?n <region> <region/0> .   # inline comment
                 ?n <name> ?nname
               }""",
        )
    )
    want = rows(entrymod.queries()["rdf_broadcast_lookup"](spark, sf_dir))
    assert got == want


def test_prefix_and_pnames_equal_bare_iris(spark, sf_dir):
    """PREFIX declarations + prefixed names (the published benchmark
    query form) compile identically to bare <iri> syntax — pnames work
    in patterns, paths, type constraints, and CONSTRUCT templates."""
    got = rows(
        S.sparql(
            spark,
            sf_dir,
            """PREFIX ub: <>
               SELECT ?c ?nname WHERE {
                 ?c a ub:customer ;
                    ub:nation/ub:name ?nname .
               }""",
        )
    )
    want = rows(
        S.sparql(
            spark,
            sf_dir,
            "SELECT ?c ?nname WHERE { ?c a <customer> ; <nation>/<name> ?nname . }",
        )
    )
    assert got == want and got


def test_default_prefix_and_construct_template_pnames(spark, sf_dir):
    got = rows(
        S.sparql(
            spark,
            sf_dir,
            """PREFIX : <>
               CONSTRUCT { ?n :inRegion ?r }
               WHERE { ?n :region ?r . }""",
        )
    )
    want = rows(
        S.sparql(
            spark,
            sf_dir,
            "CONSTRUCT { ?n <inRegion> ?r } WHERE { ?n <region> ?r . }",
        )
    )
    assert got == want and got


def test_undeclared_prefix_rejected():
    with pytest.raises(ValueError, match="undeclared prefix"):
        S.parse_sparql("SELECT ?x WHERE { ?x ub:name ?n . }")


def test_filter_regex_compiles_to_rlike(spark, sf_dir):
    got = rows(
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?n ?nm WHERE {
                 ?n <region> ?r . ?n <name> ?nm .
                 FILTER regex(?nm, "^NATION_1")
               }""",
        )
    )
    # NATION_1 and NATION_10..19 at sf0.001 (25 nations)
    names = sorted(nm for _, nm in got)
    assert names == ["NATION_1"] + [f"NATION_1{i}" for i in range(10)]


def test_filter_regex_flags_rejected():
    with pytest.raises(ValueError, match="flags"):
        S.parse_sparql(
            'SELECT ?x WHERE { ?x <name> ?n . FILTER regex(?n, "a", "i") }'
        )


def test_aggregate_count_equals_dataframe_count(spark, sf_dir):
    """(COUNT(*) AS ?n) with no GROUP BY = a 1-row global count equal
    to the plain query's row count."""
    n = S.sparql(
        spark, sf_dir, "SELECT ?c ?n WHERE { ?c <nation> ?n . }"
    ).count()
    got = S.sparql(
        spark,
        sf_dir,
        "SELECT (COUNT(*) AS ?n) WHERE { ?c <nation> ?n2 . }",
    ).collect()
    assert [r.n for r in got] == [n]


def test_aggregate_group_by_decodes_id_keys(spark, sf_dir):
    """GROUP BY over an id-typed variable: keys aggregate encoded and
    decode to IRIs post-agg; counts match a manual groupBy."""
    got = {
        r.n: r.cnt
        for r in S.sparql(
            spark,
            sf_dir,
            """SELECT ?n (COUNT(?c) AS ?cnt)
               WHERE { ?c a <customer> ; <nation> ?n . }
               GROUP BY ?n""",
        ).collect()
    }
    want = {
        r.n: r.cnt
        for r in S.sparql(
            spark, sf_dir, "SELECT ?c ?n WHERE { ?c a <customer> ; <nation> ?n . }"
        )
        .groupBy("n")
        .agg(F.count("c").alias("cnt"))
        .collect()
    }
    assert got == want and got
    assert all(k.startswith("nation/") for k in got)


AGG_ERRORS = [
    # SUM over a non-numeric literal predicate (only acctbal is numeric)
    ("SELECT (SUM(?x) AS ?s) WHERE { ?c <name> ?x . }", "SUM"),
    # SUM over an IRI-valued variable is a SPARQL type error
    # (MIN/MAX/SAMPLE/GROUP_CONCAT decode-then-aggregate instead — r4)
    ("SELECT (SUM(?n) AS ?s) WHERE { ?c <nation> ?n . }", "type error"),
    # ungrouped plain variable next to an aggregate
    ("SELECT ?c (COUNT(*) AS ?n) WHERE { ?c <nation> ?x . }", "GROUP BY"),
    # GROUP BY without aggregates
    ("SELECT ?c WHERE { ?c <nation> ?x . } GROUP BY ?c", "DISTINCT"),
    # HAVING without aggregates
    ("SELECT ?c WHERE { ?c <nation> ?x . } HAVING(?c > 1)", "aggregates"),
]


@pytest.mark.parametrize("text,why", AGG_ERRORS)
def test_aggregate_rejections(spark, sf_dir, text, why):
    with pytest.raises(ValueError, match=why):
        S.sparql(spark, sf_dir, text)


def test_values_over_id_var_equals_union_of_constants(spark, sf_dir):
    got = rows(
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?n ?nname WHERE {
                 ?n <region> ?r ; <name> ?nname .
                 VALUES ?r { <region/0> <region/2> }
               }""",
        )
    )
    want = rows(
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?n ?nname WHERE {
                 { ?n <region> <region/0> ; <name> ?nname . }
                 UNION
                 { ?n <region> <region/2> ; <name> ?nname . }
               }""",
        )
    )
    assert got == want and got


def test_values_over_literal_var(spark, sf_dir):
    got = rows(
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?c ?seg WHERE {
                 ?c <mktsegment> ?seg .
                 VALUES ?seg { "BUILDING" "AUTOMOBILE" }
               }""",
        )
    )
    assert got
    assert {seg for _, seg in got} == {"BUILDING", "AUTOMOBILE"}


@pytest.mark.parametrize(
    "text,why",
    [
        ("SELECT ?x WHERE { ?x <name> ?y . VALUES (?x ?y) { } }", "empty VALUES"),
        ("SELECT ?x WHERE { ?x <name> ?y . VALUES ?z { <region/0> } }", "no pattern binds"),
        ("SELECT ?x WHERE { ?x <name> ?y . VALUES ?x { } }", "empty VALUES"),
    ],
)
def test_values_rejections(spark, sf_dir, text, why):
    with pytest.raises(ValueError, match=why):
        S.sparql(spark, sf_dir, text)


def test_filter_inside_not_exists_equals_constant_form(spark, sf_dir):
    """A local-variable FILTER inside NOT EXISTS restricts the anti
    side exactly like binding the constant in the pattern."""
    filtered = rows(
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?c WHERE {
                 ?c <mktsegment> ?seg .
                 FILTER NOT EXISTS { ?o <customer> ?c ; <status> ?st .
                                     FILTER(?st = "P") } }""",
        )
    )
    constant = rows(
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?c WHERE {
                 ?c <mktsegment> ?seg .
                 FILTER NOT EXISTS { ?o <customer> ?c ; <status> "P" . } }""",
        )
    )
    assert filtered == constant and filtered


def test_filter_inside_optional_matches_duckdb(spark, sf_dir):
    """OPTIONAL with a local FILTER = left join against the
    pre-filtered right side — checked against an independent DuckDB
    left join."""
    import duckdb

    got = rows(
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?c ?o ?st WHERE {
                 ?c a <customer> ; <mktsegment> ?seg .
                 OPTIONAL { ?o <customer> ?c ; <status> ?st .
                            FILTER(?st != "F") } }""",
        )
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW customer AS SELECT * FROM '{sf_dir}/customer.parquet'")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet'")
    want = sorted(
        tuple(r)
        for r in con.execute(
            """SELECT 'customer/' || c_custkey,
                      CASE WHEN o_orderkey IS NULL THEN NULL
                           ELSE 'orders/' || o_orderkey END,
                      o_orderstatus
               FROM customer
               LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus <> 'F') o
                 ON o.o_custkey = c_custkey"""
        ).fetchall()
    )
    con.close()
    assert got == want and got


def test_filter_referencing_outer_var_in_subgroup_rejected(spark, sf_dir):
    with pytest.raises(ValueError, match="outer"):
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?c WHERE {
                 ?c <mktsegment> ?seg .
                 OPTIONAL { ?o <customer> ?c . FILTER(?seg = "BUILDING") } }""",
        )


def test_values_multi_var_rows(spark, sf_dir):
    """Multi-variable VALUES rows constrain variable TUPLES — only the
    listed (nation, region) combinations survive, unlike independent
    per-variable IN-lists."""
    got = rows(
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?n ?r WHERE {
                 ?n <region> ?r .
                 VALUES (?n ?r) { (<nation/0> <region/0>)
                                  (<nation/1> <region/1>) }
               }""",
        )
    )
    # nation/0 is in region 0 and nation/1 in region 1 (FIXTURES), so
    # both listed tuples match; a mismatched tuple like
    # (nation/0, region/1) would not.
    assert got == [("nation/0", "region/0"), ("nation/1", "region/1")]
    mismatch = rows(
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?n ?r WHERE {
                 ?n <region> ?r .
                 VALUES (?n ?r) { (<nation/0> <region/1>) }
               }""",
        )
    )
    assert mismatch == []


def test_values_multi_arity_mismatch_rejected():
    with pytest.raises(ValueError, match="arity"):
        S.parse_sparql(
            """SELECT ?n ?r WHERE {
                 ?n <region> ?r .
                 VALUES (?n ?r) { (<nation/0>) }
               }"""
        )


def test_bind_computed_column(spark, sf_dir):
    """BIND introduces a computed variable usable in SELECT/ORDER — and
    in the group's FILTER, which applies after BIND (SPARQL 1.1
    §18.2.2)."""
    got = rows(
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?n ?label WHERE {
                 ?n <region> <region/0> ; <name> ?nname .
                 BIND(concat(?nname, "!") AS ?label)
               } ORDER BY ?label""",
        )
    )
    want = rows(
        S.sparql(
            spark,
            sf_dir,
            "SELECT ?n ?nname WHERE { ?n <region> <region/0> ; <name> ?nname . }",
        )
    )
    assert sorted(lbl for _, lbl in got) == sorted(nm + "!" for _, nm in want)
    assert got
    asia = rows(
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?r ?label WHERE {
                 ?r <name> ?nm . ?n <region> ?r .
                 BIND(concat("region:", ?nm) AS ?label)
                 FILTER(?label = "region:ASIA") }""",
        )
    )
    assert asia == [("region/2", "region:ASIA")] * 5  # one per ASIA nation


def test_bind_over_id_var_uses_decoded_strings(spark, sf_dir):
    """A BIND referencing an IRI variable forces the string path: the
    expression sees the IRI text, not an internal id."""
    got = rows(
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?c ?tag WHERE {
                 ?c <mktsegment> "BUILDING" .
                 BIND(upper(?c) AS ?tag)
               }""",
        )
    )
    assert got
    assert all(tag == c.upper() and c.startswith("customer/") for c, tag in got)


def test_bind_alias_collision_rejected(spark, sf_dir):
    with pytest.raises(ValueError, match="already bound"):
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?n WHERE {
                 ?n <name> ?nname . BIND(upper(?nname) AS ?nname)
               }""",
        ).collect()


def test_group_concat_and_sample(spark, sf_dir):
    """GROUP_CONCAT sorts its inputs (deterministic by design) and
    SAMPLE pins MIN; both match the relational computation."""
    got = {
        r.r: (r.names, r.one)
        for r in S.sparql(
            spark,
            sf_dir,
            """SELECT ?r (GROUP_CONCAT(?nname; SEPARATOR="|") AS ?names)
                      (SAMPLE(?nname) AS ?one)
               WHERE { ?n <region> ?r ; <name> ?nname . }
               GROUP BY ?r""",
        ).collect()
    }
    base = S.sparql(
        spark, sf_dir, "SELECT ?r ?nname WHERE { ?n <region> ?r ; <name> ?nname . }"
    ).collect()
    want: dict[str, list[str]] = {}
    for r in base:
        want.setdefault(r.r, []).append(r.nname)
    assert set(got) == set(want)
    for k, names in want.items():
        assert got[k] == ("|".join(sorted(names)), min(names))


def test_group_concat_separator_only_for_group_concat():
    with pytest.raises(ValueError, match="SEPARATOR"):
        S.parse_sparql(
            """SELECT (MIN(?x; SEPARATOR=",") AS ?m)
               WHERE { ?c <name> ?x . } """
        )


def test_subquery_aggregate_join(spark, sf_dir):
    """{ SELECT ... GROUP BY } subquery joins the outer group on the
    shared variable; the outer FILTER sees the aggregate column and,
    with a BIND beside the subquery, the BIND alias."""
    got = {
        r.nname: r.cnt
        for r in S.sparql(
            spark,
            sf_dir,
            """SELECT ?n ?nname ?cnt WHERE {
                 ?n <name> ?nname ; <region> ?r .
                 { SELECT ?n (COUNT(?c) AS ?cnt)
                   WHERE { ?c a <customer> ; <nation> ?n . } GROUP BY ?n }
                 FILTER(?cnt > 6)
               }""",
        ).collect()
    }
    want = {}
    base = S.sparql(
        spark, sf_dir,
        "SELECT ?c ?nname WHERE { ?c a <customer> ; <nation> ?n . ?n <name> ?nname . }",
    ).collect()
    for r in base:
        want[r.nname] = want.get(r.nname, 0) + 1
    want = {k: v for k, v in want.items() if v > 6}
    assert got == want and got
    asia = rows(
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?r ?label ?cnt WHERE {
                 ?r <name> ?nm .
                 { SELECT ?r (COUNT(?n) AS ?cnt)
                   WHERE { ?n <region> ?r . } GROUP BY ?r }
                 BIND(concat("region:", ?nm) AS ?label)
                 FILTER(?label = "region:ASIA") }""",
        )
    )
    assert asia == [("region/2", "region:ASIA", 5)]


def test_subquery_limit_restricts_outer(spark, sf_dir):
    """A LIMITed ordered subquery acts as a top-k driving table."""
    got = rows(
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?n ?nname WHERE {
                 ?n <name> ?nname .
                 { SELECT ?n WHERE { ?n <region> <region/2> . }
                   ORDER BY ?n LIMIT 2 }
               }""",
        )
    )
    inner = rows(
        S.sparql(
            spark, sf_dir,
            "SELECT ?n WHERE { ?n <region> <region/2> . } ORDER BY ?n LIMIT 2",
        )
    )
    assert len(got) == 2
    assert {n for n, _ in got} == {n for (n,) in inner}


def test_subquery_no_shared_var_rejected(spark, sf_dir):
    with pytest.raises(ValueError, match="shares no variable"):
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?c WHERE {
                 ?c <mktsegment> ?seg .
                 { SELECT ?s WHERE { ?s <manager> ?m . } }
               }""",
        )


def test_describe_var_form(spark, sf_dir):
    """DESCRIBE ?v WHERE { ... }: describes every solution binding —
    equals the union of per-constant DESCRIBEs."""
    got = rows(
        S.sparql(
            spark, sf_dir, "DESCRIBE ?n WHERE { ?n <region> <region/1> . }"
        )
    )
    nations = rows(
        S.sparql(spark, sf_dir, "SELECT ?n WHERE { ?n <region> <region/1> . }")
    )
    want = set()
    for (n,) in nations:
        for t in S.sparql(spark, sf_dir, f"DESCRIBE <{n}>").collect():
            want.add(tuple(t))
    assert got == sorted(want) and got


def test_describe_without_where_for_var_rejected():
    with pytest.raises(ValueError, match="WHERE"):
        S.parse_sparql("DESCRIBE ?x")


# ------------------------------------------------------------------
# Variable predicates (SP2Bench Q9/Q10 shape)
# ------------------------------------------------------------------


def test_variable_predicate_join_matches_duckdb(spark, sf_dir):
    """Join THROUGH a variable predicate: ?x ?p ?n restricted by the
    object's type/constraint — both FK branches targeting nation must
    contribute, with the predicate name bound."""
    import duckdb

    got = rows(
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?x ?p WHERE {
                 ?x ?p ?n . ?n <name> "NATION_3" . }""",
        )
    )
    con = duckdb.connect()
    for t in ("customer", "supplier", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    want = sorted(
        tuple(r)
        for r in con.execute(
            """SELECT 'customer/' || c_custkey, 'nation'
               FROM customer JOIN nation ON c_nationkey = n_nationkey
               WHERE n_name = 'NATION_3'
               UNION ALL
               SELECT 'supplier/' || s_suppkey, 'nation'
               FROM supplier JOIN nation ON s_nationkey = n_nationkey
               WHERE n_name = 'NATION_3'"""
        ).fetchall()
    )
    con.close()
    assert got == want and got


def test_variable_predicate_type_prunes_branches(spark, sf_dir):
    """`?c a <customer> . ?c ?p ?o` must scan ONLY customer parquet —
    the subject type prunes every other unpivot branch at plan-build
    time (match-any-predicate must not mean scan-every-table)."""
    df = S.sparql(
        spark, sf_dir, "SELECT ?p ?o WHERE { ?c a <customer> . ?c ?p ?o . }"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans and all("customer.parquet" in ln for ln in scans), plan


def test_variable_predicate_in_path_rejected():
    with pytest.raises(S.SparqlUnsupportedError, match="variable predicate"):
        S.parse_sparql("SELECT ?o WHERE { ?s <nation>/?p ?o . }")
    with pytest.raises(S.SparqlUnsupportedError, match="variable predicate"):
        S.parse_sparql("SELECT ?o WHERE { ?s ?p+ ?o . }")


def test_variable_predicate_constant_subject(spark, sf_dir):
    """<iri> ?p ?o — full outgoing-edge introspection of one node."""
    got = rows(
        S.sparql(
            spark,
            sf_dir,
            "SELECT ?p ?o WHERE { <nation/3> ?p ?o . }",
        )
    )
    assert got == [("name", "NATION_3"), ("region", f"region/{3 % 5}")] or (
        ("name", "NATION_3") in got and len(got) == 2
    )


def test_negated_property_set_complement(spark, sf_dir):
    """!(<p>...) must be the exact complement of the positive set:
    listed + negated edges of one subject = all its edges."""
    allp = rows(
        S.sparql(spark, sf_dir, "SELECT ?p ?o WHERE { <supplier/5> ?p ?o . }")
    )
    neg = rows(
        S.sparql(
            spark,
            sf_dir,
            "SELECT ?o WHERE { <supplier/5> !(<name>|<acctbal>) ?o . }",
        )
    )
    pos = [(p, o) for p, o in allp if p in ("name", "acctbal")]
    assert len(neg) + len(pos) == len(allp)
    assert {o for (o,) in neg} == {o for p, o in allp if p not in ("name", "acctbal")}


def test_negated_property_set_prunes_branches(spark, sf_dir):
    """With a typed subject, the exclusion happens at plan-build time:
    only the surviving branches' parquet files appear in the scan."""
    df = S.sparql(
        spark,
        sf_dir,
        "SELECT ?s ?o WHERE { ?s a <nation> . ?s !<region> ?o . }",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan parquet" in ln]
    assert scans and all("nation.parquet" in ln for ln in scans), plan


def test_negated_property_set_rejections():
    with pytest.raises(S.SparqlUnsupportedError, match="inverse"):
        S.parse_sparql("SELECT ?o WHERE { ?s !(^<name>) ?o . }")
    with pytest.raises(S.SparqlUnsupportedError, match="compose"):
        S.parse_sparql("SELECT ?o WHERE { ?s !<name>/<region> ?o . }")


def test_optional_does_not_narrow_varpred(spark, sf_dir):
    """Regression (round-3 review): an OPTIONAL occurrence must never
    narrow a required variable's domain — `?s ?p ?o` with an OPTIONAL
    typing ?o must return the same base rows as without it."""
    base = S.sparql(spark, sf_dir, "SELECT ?s ?p ?o WHERE { ?s ?p ?o . }").count()
    with_opt = S.sparql(
        spark,
        sf_dir,
        """SELECT ?s ?p ?o WHERE {
             ?s ?p ?o . OPTIONAL { ?o <mktsegment> ?m . } }""",
    ).count()
    assert with_opt == base > 0


def test_graph_inside_subgroup_rejected(spark, sf_dir):
    """Regression: GRAPH inside OPTIONAL/MINUS used to be silently
    DROPPED (the sub-group matched without the graph constraint) —
    must now reject loudly."""
    with pytest.raises(S.SparqlUnsupportedError, match="GRAPH"):
        S.sparql(
            spark,
            sf_dir,
            """SELECT ?s WHERE {
                 ?s <name> ?o .
                 MINUS { ?s <nation> ?x . GRAPH <g> { ?s <name> ?y . } } }""",
        )


def test_unsatisfiable_varpred_empty_not_error(spark, sf_dir):
    """Regression: a variable-predicate pattern whose type pruning
    leaves no branch (nothing FK-references lineitem) must compile to
    an empty result, matching the constant-predicate convention."""
    df = S.sparql(
        spark, sf_dir, "SELECT ?p WHERE { ?x a <lineitem> . ?s ?p ?x . }"
    )
    assert df.count() == 0


# ----------------------------------------------------------- sequence paths

def test_seq_path_no_modifier_inlines(spark, sf_dir):
    """(p1/p2) without a modifier is just the chain p1/p2."""
    a = S.sparql(
        spark, sf_dir,
        "SELECT ?s ?r WHERE { ?s (<nation>/<region>) ?r . ?s a <customer> . }",
    )
    b = S.sparql(
        spark, sf_dir,
        "SELECT ?s ?r WHERE { ?s <nation>/<region> ?r . ?s a <customer> . }",
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_seq_path_closure_matches_squared_manager(spark, sf_dir):
    """(manager/manager)+ == fixed point of the composed even-hop edge
    s -> s//4 (defined for s >= 2), verified against a pure-Python
    reference walk."""
    import pyarrow.parquet as pq

    got = {
        tuple(r)
        for r in S.sparql(
            spark, sf_dir,
            "SELECT ?s ?anc WHERE { ?s (<manager>/<manager>)+ ?anc . }",
        ).collect()
    }
    keys = pq.read_table(f"{sf_dir}/supplier.parquet")["s_suppkey"].to_pylist()
    edge2 = {k: k // 4 for k in keys if k >= 2}
    exp = set()
    for k in keys:
        cur = k
        while cur in edge2:
            nxt = edge2[cur]
            exp.add((f"supplier/{k}", f"supplier/{nxt}"))
            cur = nxt
    assert got == exp


def test_seq_path_mixed_alternation_rejected():
    with pytest.raises((S.SparqlSyntaxError, S.SparqlUnsupportedError)):
        S.parse_sparql("SELECT ?o WHERE { ?s (<nation>|<region>/<name>) ?o . }")


def test_seq_path_non_self_referential_closure_rejected(spark, sf_dir):
    with pytest.raises(ValueError, match="self-referential"):
        S.sparql(
            spark, sf_dir,
            "SELECT ?s ?r WHERE { ?s (<nation>/<region>)+ ?r . "
            "?s a <customer> . }",
        ).collect()


def test_seq_path_generic_executor_matches_star(spark, sf_dir):
    """VERDICT r2 #5 flipped the explicit reject to full parity: the
    generic executor lowers (p1/p2)mod by composing predicate-filtered
    edge frames with chained equi-joins, then closing over the
    COMPOSED relation — same semantics as the star compiler, checked
    by running the identical query text through both."""
    from rdf_mapreduce_joins_spark.plans.generic_rdf import sparql_triples
    from rdf_mapreduce_joins_spark.plans.rdf import triples as star_triples

    text = "SELECT ?s ?anc WHERE { ?s (<manager>/<manager>)+ ?anc . }"
    generic = sparql_triples(star_triples(spark, sf_dir), text)
    star = S.sparql(spark, sf_dir, text)
    assert sorted(map(tuple, generic.collect())) == sorted(
        map(tuple, star.collect())
    )


def test_seq_path_generic_small_graph(spark):
    """Hand-checkable composition + closure + inverse on the generic
    executor: chain 1-p->2-p->3-p->4-q->5."""
    from rdf_mapreduce_joins_spark.plans.generic_rdf import sparql_triples

    triples = spark.createDataFrame(
        [("s/1", "p", "s/2"), ("s/2", "p", "s/3"),
         ("s/3", "p", "s/4"), ("s/4", "q", "s/5")],
        "subject string, predicate string, object string",
    )

    def run(text):
        return sorted(map(tuple, sparql_triples(triples, text).collect()))

    assert run("SELECT ?s ?o WHERE { ?s (<p>/<p>)+ ?o . }") == [
        ("s/1", "s/3"), ("s/2", "s/4")
    ]
    assert run("SELECT ?s ?o WHERE { ?s (<p>/<q>) ?o . }") == [("s/3", "s/5")]
    # p then inverse-p returns to the start: identity over p-sources
    assert run("SELECT ?s ?o WHERE { ?s (<p>/^<p>)+ ?o . }") == [
        ("s/1", "s/1"), ("s/2", "s/2"), ("s/3", "s/3")
    ]


def test_minmax_iri_decodes_before_aggregating(spark, sf_dir):
    """MIN/MAX over an id-typed variable must order over IRI TEXT
    ('customer/10' < 'customer/2' lexicographically), not over the
    internal int64 ids (which would order 2 < 10) — VERDICT r3 #5."""
    got = {
        r["nname"]: (r["first_cust"], r["last_cust"])
        for r in S.sparql(
            spark,
            sf_dir,
            """SELECT ?nname (MIN(?c) AS ?first_cust)
                      (MAX(?c) AS ?last_cust)
               WHERE { ?c a <customer> ; <nation> ?n . ?n <name> ?nname . }
               GROUP BY ?nname""",
        ).collect()
    }
    import pyarrow.parquet as pq

    cust = pq.read_table(f"{sf_dir}/customer.parquet").to_pydict()
    nat = pq.read_table(f"{sf_dir}/nation.parquet").to_pydict()
    nname = dict(zip(nat["n_nationkey"], nat["n_name"]))
    want: dict[str, list[str]] = {}
    for ck, nk in zip(cust["c_custkey"], cust["c_nationkey"]):
        want.setdefault(nname[nk], []).append(f"customer/{ck}")
    assert got == {k: (min(v), max(v)) for k, v in want.items()} and got
    # a FILTER on ?c puts the group on the string path: ?c is already
    # IRI text there and must aggregate as it is
    on_text = {
        r["nname"]: (r["first_cust"], r["last_cust"])
        for r in S.sparql(
            spark,
            sf_dir,
            """SELECT ?nname (MIN(?c) AS ?first_cust)
                      (MAX(?c) AS ?last_cust)
               WHERE { ?c a <customer> ; <nation> ?n . ?n <name> ?nname .
                       FILTER(?c != "customer/-1") }
               GROUP BY ?nname""",
        ).collect()
    }
    assert on_text == got


def test_sample_and_group_concat_over_iri(spark, sf_dir):
    """SAMPLE (pinned = MIN) and GROUP_CONCAT over IRI variables also
    take the decoded-text path and stay deterministic."""
    rows_ = S.sparql(
        spark,
        sf_dir,
        """SELECT ?rname (SAMPLE(?n) AS ?a_nation)
                  (GROUP_CONCAT(?n; SEPARATOR=",") AS ?nations)
           WHERE { ?n a <nation> ; <region> ?r ; <name> ?x .
                   ?r <name> ?rname . }
           GROUP BY ?rname""",
    ).collect()
    assert rows_
    for r in rows_:
        parts = r["nations"].split(",")
        assert all(p.startswith("nation/") for p in parts)
        assert parts == sorted(parts)  # GROUP_CONCAT input order pinned
        assert r["a_nation"] == parts[0]  # SAMPLE = MIN


def test_bounded_sort_from_max_cardinality_annotation(spark, sf_dir):
    """Round 12 (VERDICT r11 item 10): the executor proves output
    bounds from pattern structure — constant full subjects (<=1 row
    per branch), fixed-cardinality dimension tables (region/nation),
    and plan-time predicate-variable domains — and sorts bounded
    outputs with the narrow bounded_sort instead of a
    rangepartitioning exchange. Unprovable outputs keep orderBy."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    bounded = ["rdf_sparql_aggregate", "rdf_variable_predicate",
               "rdf_variable_predicate_star"]
    for n in bounded:
        plan = qs[n](spark, sf_dir)._jdf.queryExecution().optimizedPlan().toString()
        assert "Sort" in plan, n
        df = qs[n](spark, sf_dir)
        phys = df._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" not in phys, f"{n} still rangepartitions"
    # negated property set: subject var over supplier (scales) — the
    # bound is unprovable, the global sort must stay rangepartitioned
    unbounded = qs["rdf_negated_property_set"](spark, sf_dir)
    phys = unbounded._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in phys
