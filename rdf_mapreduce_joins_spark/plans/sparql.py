"""SPARQL front-end: parse the benchmark-query subset of SPARQL and run
it through the one executor, over either of two pattern sources — the
star schema's triples view (:mod:`plans.rdf`) or any raw triples/quads
frame (:mod:`plans.generic_rdf`).

The reference (SURVEY.md §0/§3, provenance [K]) has NO parser — each
LUBM/SP2Bench SPARQL query was hand-translated into a bespoke MapReduce
program. Its users' actual workload language, though, IS SPARQL: the 26
benchmark queries are published as SPARQL text. This module closes that
gap so a user can run the query text itself:

    sparql(spark, sf_dir, '''
        SELECT ?c ?cname WHERE {
          ?c a <customer> .
          ?c <name> ?cname ;
             <nation> ?n .
          FILTER NOT EXISTS { ?o <customer> ?c }
        } ORDER BY ?cname LIMIT 10
    ''')

Supported surface (everything the LUBM Q1-Q14 / SP2Bench Q1-Q12 shapes
need, SURVEY.md §2.3 J1-J9):

* ``PREFIX`` declarations and prefixed names everywhere an IRI can
  appear (``PREFIX ub: <...>`` then ``ub:takesCourse`` — the form the
  published benchmark queries are written in; with ``PREFIX : <>`` the
  engine's bare predicate vocabulary writes as ``:name``),
* basic graph patterns with ``;`` / ``,`` predicate-object sugar,
* ``?x a <table>`` type constraints (compiled to unpivot-branch pruning
  — the vertical-partitioning analog of a class scan, never a scan of
  an actual type predicate),
* ``FILTER (expr)`` with comparisons, ``&&``/``||``/``!``, ``BOUND``,
  and ``regex(?v, "pattern")`` (compiled to RLIKE — flagless, Java
  regex semantics),
* ``OPTIONAL { }`` (left join), ``MINUS { }`` and
  ``FILTER NOT EXISTS { }`` (anti join), ``FILTER EXISTS { }``
  (semi join) — each may carry FILTERs over its OWN variables
  (applied to the group frame before the join, the SP2Bench Q6/Q7
  shape); filters seeing outer variables are rejected (they need
  join-condition placement),
* the SP2Bench Q6/Q7 idiom ``OPTIONAL { P } FILTER(!BOUND(?v))`` is
  recognized structurally and compiled to an ANTI join (not a
  left-join-then-filter) so the plan never carries the optional
  columns,
* ``{ } UNION { }`` at the top level of WHERE,
* ``VALUES`` inline bindings: single-variable ``VALUES ?v { t... }``
  compiles to an IN-list over the variable's native representation
  (int64 ids for IRI variables on the encoded path, so the list
  constant-folds toward the scan); multi-variable
  ``VALUES (?a ?b) { (t t) ... }`` rows lower to OR-of-ANDs tuple
  constraints,
* **property paths** in predicate position: sequence ``<p1>/<p2>``
  (lowered to chained patterns through fresh variables), inverse
  ``^<p>`` (endpoint swap), transitive ``<p>+`` (compiled to the
  iterative-doubling closure operator, operators/graph.py — the one
  construct whose unbounded reachability a fixed join pipeline cannot
  express), reflexive-transitive ``<p>*`` (closure ∪ identity over the
  predicate's node domain — the endpoint-domain reading LUBM's
  ``subOrganizationOf*`` means), optional hop ``<p>?`` (edges ∪
  identity), and alternation ``<p1>|<p2>`` / ``(<p1>|<p2>)mod``
  (bag union of the predicates' edge sets),
* ``BIND(expr AS ?v)`` computed columns (expression subset shared
  with FILTER; evaluated over the assembled group before its FILTERs,
  which may read the alias; referenced variables decide the
  encoded-vs-string path like filters do),
* ``SELECT [DISTINCT]``, ``ORDER BY [ASC()/DESC()]``, ``LIMIT``,
  ``OFFSET``,
* **SPARQL 1.1 aggregation**: ``(COUNT([DISTINCT] ?v | *) AS ?a)``,
  ``MIN``/``MAX``/``SAMPLE``/``GROUP_CONCAT(...; SEPARATOR="s")``
  over literal variables (SAMPLE pins MIN and GROUP_CONCAT sorts —
  the spec leaves both implementation-defined; this engine chooses
  deterministically), ``GROUP BY ?v...``,
  ``HAVING(expr)`` over aliases/group keys — compiled to one
  DataFrame aggregation over the encoded solution frame, group keys
  decoded post-aggregation,
* **subqueries** ``{ SELECT ... }`` inside WHERE — evaluated
  bottom-up with their own projection/aggregation/ORDER/LIMIT, joined
  to the outer group on shared variables (the aggregate-then-join
  idiom; outer FILTERs see subquery columns). Subqueries force the
  string path — their output is already decoded,
* ALL FOUR query forms — besides SELECT: ``DESCRIBE <r>... [?v WHERE
  {}]`` (every triple a described resource participates in, either
  side — two semi-joins over the triples view against the node set),
  plus ``ASK { }`` (1-row boolean
  frame; LIMIT-1-bounded existence probe — SP2Bench Q12a/b/c are ASK)
  and ``CONSTRUCT { template } WHERE { }`` (template instantiated per
  solution, unioned, deduped into a (subject, predicate, object)
  graph frame; free output vocabulary).

* **variable predicates** ``?s ?p ?o`` (SP2Bench Q9/Q10's predicate
  survey): the pattern matches every unpivot branch with the predicate
  name bound; type constraints on the subject or object prune the
  branch union at plan-build time. Forces the string path (the mixed
  FK-IRI/literal object domain has no single int64 encoding); a
  variable predicate cannot appear inside a property path,
* **negated property sets** ``!<p>`` / ``!(<p1>|<p2>)``: any edge
  whose predicate is NOT listed — lowered to a fresh unprojected
  predicate variable carrying the exclusion, so excluded branches
  drop from the union at plan-build time (no inverse atoms inside
  the set; no composition with other path operators).

* **named graphs** ``GRAPH <iri>/{?var} { triples }`` — on the
  raw-frame source only (``generic_rdf.sparql_quads`` over a quad
  frame; the star-schema triples view has no graph dimension, so the
  star source rejects GRAPH with a pointer there). Default-group
  patterns match the NULL-graph rows (the dataset model's default
  graph); ``GRAPH ?g`` binds the graph name as a string column;
  GRAPH blocks compile inside OPTIONAL/MINUS/EXISTS sub-groups,
* **dataset clauses** ``FROM <g>`` / ``FROM NAMED <g>`` (SELECT
  form, quad frames): the query dataset becomes exactly what the
  clauses describe — default graph = merge of the FROM graphs,
  named universe = the FROM NAMED list (pure prunable filters +
  a union over the quad frame).

Out of scope, rejected with errors (as in the reference, SURVEY §2.3):
``|`` after a ``/`` sequence without parentheses
(precedence trap — the error names the rewrite), mixed forward/inverse
alternation, SUM/AVG over IRI-valued variables (a SPARQL type error).
MIN/MAX/SAMPLE/GROUP_CONCAT over IRI variables decode-then-aggregate —
ordering is over IRI text, not internal ids (the decode is a per-row
concat expression, so the aggregation still runs encoded-frame in one
shuffle). SUM/AVG aggregate the vocabulary's numeric
literal predicates (acctbal, %.2f-pinned rendering) via an exact
DECIMAL(18,2) parse — see ``_literal_agg``.

Execution: ``_execute`` runs the query forms and solution modifiers,
and ``_assemble`` is the one group assembler (also behind ``bgp()``):
required join chain → OPTIONAL/MINUS/EXISTS joins with their local
filters → subquery joins → BIND → FILTER/VALUES → projection, DISTINCT,
decode. A pattern source supplies only what differs: pattern lowering,
when joins may run on int64 ids (falling back to strings when a FILTER
or BIND reads an id-typed variable), decode, aggregate-input rules and
provable ORDER BY bounds. Catalyst/AQE choose the join strategies; the
parser adds zero per-row work — it builds the same logical plan a
hand-written ``bgp()`` call would.
"""

from __future__ import annotations

import functools
import itertools
import re
from dataclasses import dataclass, field
from typing import Protocol

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf_mapreduce_joins_spark.plans.rdf import (
    NUMERIC_PREDS,
    PRED_SPECS,
    Pattern,
    _const_subject_table,
    _infer_s_tables,
    _is_var,
    _lower_star,
    _StarCodec,
    _varpred_specs,
    triples,
)
from rdf_mapreduce_joins_spark.sources.tables import bounded_sort

_KEYWORDS = {
    "SELECT",
    "ASK",
    "CONSTRUCT",
    "DISTINCT",
    "WHERE",
    "OPTIONAL",
    "FILTER",
    "NOT",
    "EXISTS",
    "MINUS",
    "UNION",
    "ORDER",
    "BY",
    "ASC",
    "DESC",
    "LIMIT",
    "OFFSET",
    "BOUND",
    "PREFIX",
    "GROUP",
    "HAVING",
    "AS",
    "VALUES",
    "BIND",
    "DESCRIBE",
}

_TOKEN_RE = re.compile(
    r"""(?P<ws>\s+|\#[^\n]*)
      | (?P<var>\?[A-Za-z_]\w*)
      | (?P<iri><[^<>\s]*>)
      | (?P<str>"(?:[^"\\]|\\.)*"|'(?:[^'\\]|\\.)*')
      | (?P<pname>(?:[A-Za-z_][\w.-]*)?:[A-Za-z_][\w.-]*)
      | (?P<pfx>(?:[A-Za-z_][\w.-]*)?:)
      | (?P<num>\d+\.\d+|\d+)
      | (?P<op2>&&|\|\||<=|>=|!=)
      | (?P<ch>[{}().,;=<>!*/^+|?-])
      | (?P<word>[A-Za-z_]\w*)
    """,
    re.X,
)

# A prefixed name in predicate/term position (never a ?var / <iri> /
# literal): optional prefix part, ':', local part.
_PNAME_RE = re.compile(r"(?:[A-Za-z_][\w.-]*)?:[A-Za-z_][\w.-]*")


def _tokenize(text: str) -> list[str]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise SparqlSyntaxError(f"unrecognized input at: {text[pos:pos+20]!r}")
        pos = m.end()
        if m.lastgroup == "ws":
            continue
        tok = m.group()
        if m.lastgroup == "word" and tok.upper() in _KEYWORDS:
            tok = tok.upper()
        out.append(tok)
    return out


class SparqlSyntaxError(ValueError):
    pass


class SparqlUnsupportedError(ValueError):
    """Syntactically valid SPARQL outside the supported subset."""


@dataclass
class _Group:
    # (subject, predicate-alternatives, object, path modifier "" + * ?)
    triples: list[tuple[str, tuple[str, ...], str, str]] = field(default_factory=list)
    optionals: list["_Group"] = field(default_factory=list)
    negations: list["_Group"] = field(default_factory=list)
    exists: list["_Group"] = field(default_factory=list)
    # ('sql', text, referenced-vars) | ('notbound', var)
    filters: list[tuple] = field(default_factory=list)
    unions: list["_Group"] = field(default_factory=list)
    # VALUES ?v { t1 t2 ... } inline bindings (single-variable form)
    values: list[tuple[str, list[str]]] = field(default_factory=list)
    # VALUES (?a ?b) { (t1 t2) ... } multi-variable rows
    values_multi: list[tuple[list[str], list[list[str]]]] = field(default_factory=list)
    # BIND(expr AS ?v): (alias var, ('sql', text, referenced-vars))
    binds: list[tuple[str, tuple]] = field(default_factory=list)
    # { SELECT ... } subqueries, joined on shared variables
    subqueries: list["ParsedQuery"] = field(default_factory=list)
    # GRAPH <iri>/{?var} { triples } blocks: (graph term, triples-only
    # sub-group). Executable only over a quad frame (generic executor);
    # the star-schema compiler rejects them (no graph dimension).
    graphs: list[tuple[str, "_Group"]] = field(default_factory=list)

    def all_vars_bound_here(self) -> set[str]:
        vs = set()
        for s, preds, o, _mod in self.triples:
            if s.startswith("?"):
                vs.add(s)
            if preds[0].startswith("?"):
                vs.add(preds[0])
            if o.startswith("?"):
                vs.add(o)
        for gterm, sub in self.graphs:
            if gterm.startswith("?"):
                vs.add(gterm)
            vs |= sub.all_vars_bound_here()
        return vs


@dataclass
class ParsedQuery:
    distinct: bool
    select: list[str]  # projection order: plain ?vars and agg ?aliases
    where: _Group
    types: dict[str, str]  # ?var -> table constraint
    order_by: list[tuple[str, bool]]  # (var, ascending)
    limit: int | None
    offset: int | None
    form: str = "select"  # select | ask | construct
    # CONSTRUCT template triples; terms are ?vars, <iri> text, or literals
    template: list[tuple[str, str, str]] | None = None
    # SPARQL 1.1 aggregation: (fn, ?var or None for COUNT(*), distinct,
    # ?alias, separator) per aggregate select item; GROUP BY variables;
    # HAVING as a parsed filter tuple over output columns.
    aggs: list[tuple[str, str | None, bool, str, str]] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)
    having: tuple | None = None
    # DESCRIBE terms: constant IRIs and/or ?vars (vars need a WHERE)
    describe_terms: list[str] = field(default_factory=list)
    # Dataset clauses (SELECT form): FROM <g> merges listed graphs into
    # the query's default graph; FROM NAMED <g> restricts which named
    # graphs GRAPH blocks see. Executable on the quad executor only.
    from_graphs: list[str] = field(default_factory=list)
    from_named: list[str] = field(default_factory=list)


_KNOWN_PREDS = {s.pred for s in PRED_SPECS}
_KNOWN_TABLES = {s.table for s in PRED_SPECS}


class _Parser:
    def __init__(self, toks: list[str], validate_vocab: bool = True):
        self.toks = toks
        self.validate_vocab = validate_vocab
        self.i = 0
        self.types: dict[str, str] = {}
        self.prefixes: dict[str, str] = {}
        self._fresh = 0
        self._graph_depth = 0

    def _expand_pname(self, tok: str) -> str:
        """``p:local`` → declared-base + local (SPARQL prefixed name).
        With ``PREFIX : <>`` the engine's bare predicate names write as
        ``:name`` — the idiomatic form of the published benchmark
        queries (``ub:takesCourse`` etc.)."""
        pfx, _, local = tok.partition(":")
        if pfx not in self.prefixes:
            raise SparqlSyntaxError(f"undeclared prefix '{pfx}:' in {tok!r}")
        return self.prefixes[pfx] + local

    # -- token helpers -----------------------------------------------------

    def peek(self, ahead: int = 0) -> str | None:
        j = self.i + ahead
        return self.toks[j] if j < len(self.toks) else None

    def next(self) -> str:
        if self.i >= len(self.toks):
            raise SparqlSyntaxError("unexpected end of query")
        tok = self.toks[self.i]
        self.i += 1
        return tok

    def expect(self, tok: str) -> None:
        got = self.next()
        if got != tok:
            raise SparqlSyntaxError(f"expected {tok!r}, got {got!r}")

    def accept(self, tok: str) -> bool:
        if self.peek() == tok:
            self.i += 1
            return True
        return False

    # -- grammar -----------------------------------------------------------

    def parse_query(self) -> ParsedQuery:
        while self.peek() == "PREFIX":
            self.next()
            pfx = self.next()
            if not pfx.endswith(":") or pfx[:1] in "?<\"'":
                raise SparqlSyntaxError(f"expected 'prefix:' after PREFIX, got {pfx!r}")
            iri = self.next()
            if not (iri.startswith("<") and iri.endswith(">")):
                raise SparqlSyntaxError(f"expected <iri> in PREFIX decl, got {iri!r}")
            self.prefixes[pfx[:-1]] = iri[1:-1]
        form_tok = self.next()
        if form_tok == "ASK":
            # ASK: bare group, no projection/modifiers (strict SPARQL
            # allows none either). WHERE keyword is optional per spec.
            self.accept("WHERE")
            where = self.parse_group()
            if self.peek() is not None:
                raise SparqlSyntaxError(f"unexpected trailing token {self.peek()!r}")
            return ParsedQuery(
                False, [], where, self.types, [], None, None, form="ask"
            )
        if form_tok == "DESCRIBE":
            terms: list[str] = []
            while self.peek() is not None and self.peek() != "WHERE":
                terms.append(self.parse_term(position="DESCRIBE"))
            if not terms:
                raise SparqlSyntaxError("DESCRIBE needs at least one term")
            dvars = [t for t in terms if t.startswith("?")]
            where = _Group()
            if self.peek() == "WHERE":
                self.next()
                where = self.parse_group()
            elif dvars:
                raise SparqlSyntaxError("DESCRIBE ?var needs a WHERE group")
            if self.peek() is not None:
                raise SparqlSyntaxError(f"unexpected trailing token {self.peek()!r}")
            return ParsedQuery(
                False,
                dvars,
                where,
                self.types,
                [],
                None,
                None,
                form="describe",
                describe_terms=terms,
            )
        if form_tok == "CONSTRUCT":
            template = self.parse_template()
            self.expect("WHERE")
            where = self.parse_group()
            if self.peek() is not None:
                raise SparqlSyntaxError(f"unexpected trailing token {self.peek()!r}")
            tvars = sorted(
                {t for tr in template for t in tr if t.startswith("?")}
            )
            return ParsedQuery(
                False,
                tvars,
                where,
                self.types,
                [],
                None,
                None,
                form="construct",
                template=template,
            )
        if form_tok != "SELECT":
            raise SparqlSyntaxError(f"expected 'SELECT', got {form_tok!r}")
        return self.parse_select_query(stop_at_brace=False)

    def parse_select_query(self, stop_at_brace: bool) -> ParsedQuery:
        """The SELECT form after its ``SELECT`` keyword — top level
        (``stop_at_brace=False``: must consume the whole stream) or as
        a ``{ SELECT ... }`` subquery (stops at the closing brace)."""
        distinct = self.accept("DISTINCT")
        select: list[str] = []
        aggs: list[tuple[str, str | None, bool, str, str]] = []
        if self.peek() == "*":
            raise SparqlUnsupportedError("SELECT * unsupported; list variables")
        while True:
            p = self.peek()
            if p is not None and p.startswith("?"):
                select.append(self.next())
            elif p == "(":
                agg_item = self.parse_agg_item()
                aggs.append(agg_item)
                select.append(agg_item[3])
            else:
                break
        if not select:
            raise SparqlSyntaxError("SELECT needs at least one ?variable")
        from_graphs: list[str] = []
        from_named: list[str] = []
        while self.peek() == "FROM":
            self.next()
            named = self.accept("NAMED")
            tok = self.next()
            if not (tok.startswith("<") and tok.endswith(">")):
                raise SparqlSyntaxError(f"expected <iri> after FROM, got {tok!r}")
            (from_named if named else from_graphs).append(tok[1:-1])
        self.expect("WHERE")
        where = self.parse_group()
        order_by: list[tuple[str, bool]] = []
        group_by: list[str] = []
        having: tuple | None = None
        limit = offset = None
        while self.peek() is not None and not (stop_at_brace and self.peek() == "}"):
            tok = self.next()
            if tok == "GROUP":
                self.expect("BY")
                while self.peek() is not None and self.peek().startswith("?"):
                    group_by.append(self.next())
                if not group_by:
                    raise SparqlSyntaxError("empty GROUP BY")
            elif tok == "HAVING":
                having = self.parse_filter()
                if having[0] != "sql":
                    raise SparqlUnsupportedError("HAVING(!BOUND(...)) unsupported")
            elif tok == "ORDER":
                self.expect("BY")
                while True:
                    p = self.peek()
                    if p in ("ASC", "DESC"):
                        asc = self.next() == "ASC"
                        self.expect("(")
                        order_by.append((self._var(), asc))
                        self.expect(")")
                    elif p is not None and p.startswith("?"):
                        order_by.append((self.next(), True))
                    else:
                        break
                if not order_by:
                    raise SparqlSyntaxError("empty ORDER BY")
            elif tok == "LIMIT":
                limit = int(self.next())
            elif tok == "OFFSET":
                offset = int(self.next())
            else:
                raise SparqlSyntaxError(f"unexpected trailing token {tok!r}")
        if aggs:
            aliases = {item[3] for item in aggs}
            bad = [v for v in select if v not in aliases and v not in group_by]
            if bad:
                raise SparqlUnsupportedError(
                    f"non-grouped variables {bad} in an aggregate SELECT — "
                    "add them to GROUP BY"
                )
        elif group_by:
            raise SparqlUnsupportedError(
                "GROUP BY without aggregates — use SELECT DISTINCT"
            )
        elif having is not None:
            raise SparqlUnsupportedError("HAVING requires aggregates")
        return ParsedQuery(
            distinct,
            select,
            where,
            self.types,
            order_by,
            limit,
            offset,
            aggs=aggs,
            group_by=group_by,
            having=having,
            from_graphs=from_graphs,
            from_named=from_named,
        )

    _AGG_FNS = ("COUNT", "MIN", "MAX", "SAMPLE", "GROUP_CONCAT", "SUM", "AVG")

    def parse_agg_item(self) -> tuple[str, str | None, bool, str, str]:
        """``( AGG([DISTINCT] ?v | *) [; SEPARATOR="s"] AS ?alias )``
        select item. Returns (fn, var|None, distinct, alias, sep)."""
        self.expect("(")
        fn = self.next().upper()
        if fn not in self._AGG_FNS:
            raise SparqlSyntaxError(f"unknown aggregate {fn!r}")
        self.expect("(")
        dist = self.accept("DISTINCT")
        if self.peek() == "*":
            self.next()
            if fn != "COUNT":
                raise SparqlSyntaxError("'*' is only valid in COUNT(*)")
            arg: str | None = None
        else:
            arg = self._var()
        sep = " "
        if self.accept(";"):
            kw = self.next()
            if kw.upper() != "SEPARATOR" or not self.accept("="):
                raise SparqlSyntaxError('expected SEPARATOR="..." after ;')
            st = self.next()
            if st[:1] not in "\"'":
                raise SparqlSyntaxError("SEPARATOR must be a string literal")
            sep = st[1:-1].replace("\\" + st[0], st[0])
            if fn != "GROUP_CONCAT":
                raise SparqlSyntaxError("SEPARATOR is only valid in GROUP_CONCAT")
        self.expect(")")
        self.expect("AS")
        alias = self._var()
        self.expect(")")
        return (fn, arg, dist, alias, sep)

    def _var(self) -> str:
        tok = self.next()
        if not tok.startswith("?"):
            raise SparqlSyntaxError(f"expected ?variable, got {tok!r}")
        return tok

    def parse_group(self) -> _Group:
        self.expect("{")
        g = _Group()
        if self.peek() == "{" and self.peek(1) != "SELECT":
            # { g } UNION { g } [UNION { g }]...
            g.unions.append(self.parse_group())
            while self.accept("UNION"):
                g.unions.append(self.parse_group())
            self.expect("}")
            if len(g.unions) < 2:
                raise SparqlSyntaxError("braced group without UNION")
            return g
        while self.peek() != "}":
            tok = self.peek()
            if tok is None:
                raise SparqlSyntaxError("unterminated group: missing }")
            if tok == "{" and self.peek(1) == "SELECT":
                self.next()  # {
                self.next()  # SELECT
                g.subqueries.append(self.parse_select_query(stop_at_brace=True))
                self.expect("}")
            elif tok == "OPTIONAL":
                self.next()
                g.optionals.append(self.parse_group())
            elif tok == "VALUES":
                self.next()
                if self.peek() == "(":
                    self.next()
                    vars_: list[str] = []
                    while self.peek() != ")":
                        vars_.append(self._var())
                    self.expect(")")
                    if not vars_:
                        raise SparqlSyntaxError("empty VALUES variable list")
                    self.expect("{")
                    rows_: list[list[str]] = []
                    while self.peek() != "}":
                        if self.peek() is None:
                            raise SparqlSyntaxError("unterminated VALUES block")
                        self.expect("(")
                        row: list[str] = []
                        while self.peek() != ")":
                            t = self.parse_term(position="VALUES")
                            if t.startswith("?"):
                                raise SparqlSyntaxError("VALUES terms must be constants")
                            row.append(t)
                        self.expect(")")
                        if len(row) != len(vars_):
                            raise SparqlSyntaxError(
                                f"VALUES row arity {len(row)} != {len(vars_)} variables"
                            )
                        rows_.append(row)
                    self.expect("}")
                    if not rows_:
                        raise SparqlSyntaxError("empty VALUES block")
                    g.values_multi.append((vars_, rows_))
                    self.accept(".")
                    continue
                var = self._var()
                self.expect("{")
                terms: list[str] = []
                while self.peek() != "}":
                    if self.peek() is None:
                        raise SparqlSyntaxError("unterminated VALUES block")
                    t = self.parse_term(position="VALUES")
                    if t.startswith("?"):
                        raise SparqlSyntaxError("VALUES terms must be constants")
                    terms.append(t)
                self.expect("}")
                if not terms:
                    raise SparqlSyntaxError("empty VALUES block")
                g.values.append((var, terms))
            elif tok == "BIND":
                self.next()
                self.expect("(")
                depth, toks = 1, []
                while depth:
                    t = self.next()
                    if t == "(":
                        depth += 1
                    elif t == ")":
                        depth -= 1
                        if not depth:
                            break
                    toks.append(t)
                if len(toks) < 3 or toks[-2] != "AS" or not toks[-1].startswith("?"):
                    raise SparqlSyntaxError("BIND(expr AS ?var) expected")
                alias, expr_toks = toks[-1], toks[:-2]
                g.binds.append((alias, self._filter_sql(expr_toks)))
            elif tok == "MINUS":
                self.next()
                g.negations.append(self.parse_group())
            elif tok == "GRAPH":
                self.next()
                gterm = self.parse_term(position="graph")
                self._graph_depth += 1
                try:
                    sub = self.parse_group()
                finally:
                    self._graph_depth -= 1
                if (
                    sub.optionals or sub.negations or sub.exists
                    or sub.unions or sub.values or sub.values_multi
                    or sub.binds or sub.subqueries or sub.graphs
                    or sub.filters
                ):
                    raise SparqlUnsupportedError(
                        "GRAPH blocks may contain only triple patterns"
                    )
                if not sub.triples:
                    raise SparqlUnsupportedError(
                        "empty GRAPH block (type-only constraints are "
                        "unsupported inside GRAPH — graph-scoped rdf:type "
                        "should be written as an explicit triple)"
                    )
                g.graphs.append((gterm, sub))
            elif tok == "FILTER":
                self.next()
                if self.peek() == "NOT" and self.peek(1) == "EXISTS":
                    self.next(), self.next()
                    g.negations.append(self.parse_group())
                elif self.peek() == "EXISTS":
                    self.next()
                    g.exists.append(self.parse_group())
                else:
                    g.filters.append(self.parse_filter())
            else:
                self.parse_triples_block(g)
            self.accept(".")
        self.expect("}")
        return g

    def parse_triples_block(self, g: _Group) -> None:
        """subject (path obj (, obj)*) (; path obj (, obj)*)*"""
        s = self.parse_term(position="subject")
        while True:
            steps = self.parse_path()
            while True:
                o = self.parse_term(position="object")
                if steps == "a":
                    self._record_type(s, o)
                else:
                    self._emit_path(g, s, steps, o)
                if not self.accept(","):
                    break
            if not self.accept(";"):
                break
            if self.peek() in (".", "}"):  # trailing ; is legal SPARQL
                break

    def parse_template(self) -> list[tuple[str, str, str]]:
        """CONSTRUCT template: triples with ``;``/``,`` sugar. Unlike
        WHERE patterns, template predicates are free IRI text (the
        constructed graph may use vocabulary the store doesn't hold)
        and paths/types are meaningless here."""
        self.expect("{")
        tmpl: list[tuple[str, str, str]] = []
        while self.peek() != "}":
            if self.peek() is None:
                raise SparqlSyntaxError("unterminated template: missing }")
            s = self.parse_term(position="subject")
            while True:
                ptok = self.next()
                if ptok.startswith("<") and ptok.endswith(">"):
                    p = ptok[1:-1]
                elif _PNAME_RE.fullmatch(ptok):
                    p = self._expand_pname(ptok)
                else:
                    raise SparqlSyntaxError(
                        f"template predicate must be <iri> or pname, got {ptok!r}"
                    )
                while True:
                    o = self.parse_term(position="object")
                    tmpl.append((s, p, o))
                    if not self.accept(","):
                        break
                if not self.accept(";"):
                    break
                if self.peek() in (".", "}"):
                    break
            self.accept(".")
        self.expect("}")
        if not tmpl:
            raise SparqlSyntaxError("empty CONSTRUCT template")
        return tmpl

    def _fresh_var(self) -> str:
        self._fresh += 1
        return f"?__pv{self._fresh}"

    def _emit_path(
        self,
        g: _Group,
        s: str,
        steps: list[tuple[tuple[str, ...], bool, str]],
        o: str,
    ) -> None:
        """Lower a property path to triple patterns: sequence steps
        chain through fresh variables; an inverse step swaps its two
        endpoints; ``+``/``*``/``?`` modifiers and ``p1|p2``
        alternatives ride on the pattern (compiled by plans/rdf.py —
        closure / closure∪identity / edges∪identity / edge-set union).
        The lowering adds no execution machinery — a path IS the BGP it
        abbreviates."""
        terms = [s] + [self._fresh_var() for _ in steps[:-1]] + [o]
        for (preds, inv, mod), a, b in zip(steps, terms, terms[1:]):
            if inv:
                a, b = b, a
            g.triples.append((a, preds, b, mod))

    def _record_type(self, s: str, o: str) -> None:
        if self._graph_depth:
            raise SparqlUnsupportedError(
                "'a' type constraints are unsupported inside GRAPH blocks"
                " — write the rdf:type triple explicitly"
            )
        if not s.startswith("?"):
            raise SparqlUnsupportedError("type constraint needs a ?variable subject")
        if self.validate_vocab and o not in _KNOWN_TABLES:
            raise SparqlUnsupportedError(
                f"unknown class <{o}>; known: {sorted(_KNOWN_TABLES)}"
            )
        prev = self.types.setdefault(s, o)
        if prev != o:
            raise SparqlUnsupportedError(f"{s} typed as both <{prev}> and <{o}>")

    def parse_path(self) -> str | list[tuple[tuple[str, ...], bool, str]]:
        """Property path in predicate position.

        Grammar::

            path := step ('/' step)* | atom ('|' atom)+ mod?
            step := ('(' atom ('|' atom)* ')' | atom) mod?
            atom := '^'? <iri> ;  mod := '+' | '*' | '?'

        Returns the literal string ``"a"`` for a bare type constraint,
        else a list of (predicate-alternatives, inverse, mod) steps.
        ``*``/``?`` zero-length matches bind subject = object over the
        predicate's node domain (see plans/rdf.py Pattern docstring) —
        the endpoint-domain reading LUBM's ``subOrganizationOf*``
        means. Top-level unparenthesized ``|`` is accepted only for a
        single-step path (SPARQL gives ``|`` lower precedence than
        ``/``, so ``<a>/<b>|<c>`` would mean ``(<a>/<b>)|<c>`` — that
        shape must be parenthesized or written as UNION). Alternatives
        must share one inverse direction."""
        if self.peek() == "a" and not (self.peek(1) in ("/", "+", "*", "|")):
            self.next()
            return "a"
        if self.peek().startswith("?"):
            # Variable predicate (SP2Bench Q9 shape): a bare ?var in
            # predicate position. It matches any predicate, so path
            # operators on it are meaningless — reject composition.
            var = self.next()
            if self.peek() in ("/", "|", "+", "*", "?", "^"):
                raise SparqlUnsupportedError(
                    "a variable predicate cannot appear inside a "
                    "property path"
                )
            return [((var,), False, "")]
        if self.peek() == "!":
            # Negated property set !<p> / !(<p1>|<p2>): any edge whose
            # predicate is NOT listed. Lowered downstream to a fresh
            # unprojected predicate variable with the exclusion set,
            # so it shares the variable-predicate machinery (branch
            # pruning happens at plan-build time).
            self.next()
            if self.accept("("):
                atoms = [self._parse_path_atom()]
                while self.accept("|"):
                    atoms.append(self._parse_path_atom())
                self.expect(")")
            else:
                atoms = [self._parse_path_atom()]
            if any(inv for _, inv in atoms):
                raise SparqlUnsupportedError(
                    "inverse (^) steps inside a negated property set "
                    "are unsupported — split into a UNION"
                )
            if self.peek() in ("/", "|", "+", "*", "?"):
                raise SparqlUnsupportedError(
                    "a negated property set cannot compose with other "
                    "path operators"
                )
            return [(("!", *[p for p, _ in atoms]), False, "")]
        steps: list[tuple[tuple[str, ...], bool, str]] = []
        while True:
            steps.extend(self._parse_path_step())
            if not self.accept("/"):
                break
        if self.peek() == "|":
            if len(steps) > 1:
                raise SparqlUnsupportedError(
                    "'|' after a '/' sequence is ambiguous — parenthesize "
                    "the alternation or use UNION"
                )
            preds, inv, mod = steps[0]
            if mod:
                raise SparqlUnsupportedError(
                    "modifier on an unparenthesized alternation branch — "
                    "write (p1|p2)mod"
                )
            atoms = [(p, inv) for p in preds]
            while self.accept("|"):
                atoms.append(self._parse_path_atom())
            mod = self.next() if self.peek() in ("+", "*", "?") else ""
            steps = [self._combine_atoms(atoms, mod)]
        return steps

    def _parse_path_step(self) -> list[tuple[tuple[str, ...], bool, str]]:
        """One path step; returns a LIST because a parenthesized
        sequence without a modifier inlines to its sub-steps, while
        ``(p1/p2)mod`` becomes a single composite step whose preds
        tuple is marked ``('/', 'p1', 'p2', ...)`` (inverse sub-steps
        prefixed ``^``) — lowered downstream to a Pattern with
        ``seq`` set."""
        if self.accept("("):
            atoms = [self._parse_path_atom()]
            if self.peek() == "/":
                while self.accept("/"):
                    atoms.append(self._parse_path_atom())
                self.expect(")")
                mod = self.next() if self.peek() in ("+", "*", "?") else ""
                if not mod:
                    return [self._combine_atoms([a], "") for a in atoms]
                return [
                    (
                        ("/", *[("^" if inv else "") + p for p, inv in atoms]),
                        False,
                        mod,
                    )
                ]
            while self.accept("|"):
                atoms.append(self._parse_path_atom())
            self.expect(")")
        else:
            atoms = [self._parse_path_atom()]
        mod = self.next() if self.peek() in ("+", "*", "?") else ""
        return [self._combine_atoms(atoms, mod)]

    @staticmethod
    def _combine_atoms(
        atoms: list[tuple[str, bool]], mod: str
    ) -> tuple[tuple[str, ...], bool, str]:
        inverses = {inv for _, inv in atoms}
        if len(inverses) > 1:
            raise SparqlUnsupportedError(
                "alternation mixing forward and inverse (^) steps is "
                "unsupported — split into UNION branches"
            )
        return (tuple(p for p, _ in atoms), inverses.pop(), mod)

    def _parse_path_atom(self) -> tuple[str, bool]:
        inverse = self.accept("^")
        tok = self.next()
        if tok.startswith("?"):
            raise SparqlUnsupportedError(
                "variable predicates are out of scope (SURVEY.md §2.3)"
            )
        if tok == "a":
            raise SparqlUnsupportedError("'a' cannot appear inside a property path")
        if tok.startswith("<") and tok.endswith(">"):
            pred = tok[1:-1]
        elif _PNAME_RE.fullmatch(tok):
            pred = self._expand_pname(tok)
        else:
            raise SparqlSyntaxError(f"expected predicate <iri> or 'a', got {tok!r}")
        if self.validate_vocab and pred not in _KNOWN_PREDS:
            raise SparqlUnsupportedError(
                f"unknown predicate <{pred}>; known: {sorted(_KNOWN_PREDS)}"
            )
        return (pred, inverse)

    def parse_term(self, position: str) -> str:
        tok = self.next()
        if tok.startswith("?"):
            return tok
        if tok.startswith("<") and tok.endswith(">"):
            return tok[1:-1]
        if tok[:1] in "\"'":
            return tok[1:-1].replace("\\" + tok[0], tok[0])
        if re.fullmatch(r"\d+(\.\d+)?", tok):
            return tok
        if _PNAME_RE.fullmatch(tok):
            return self._expand_pname(tok)
        raise SparqlSyntaxError(f"bad {position} term {tok!r}")

    def parse_filter(self) -> tuple:
        """``FILTER ( expr )`` or ``FILTER func(args)`` (SPARQL allows
        a bare function call, e.g. ``FILTER regex(?v, "p")``) — returns
        ('notbound', ?v) for the pure !BOUND idiom, else
        ('sql', spark-sql-text, vars)."""
        toks: list[str] = []
        bare_call = self.peek() != "("
        if bare_call:
            fn = self.next()
            if not re.fullmatch(r"[A-Za-z_]\w*", fn):
                raise SparqlSyntaxError(f"expected '(' or function after FILTER, got {fn!r}")
            toks.append(fn)
            toks.append("(")
        self.expect("(")
        depth = 1
        while depth:
            tok = self.next()
            if tok == "(":
                depth += 1
            elif tok == ")":
                depth -= 1
                if not depth:
                    if bare_call:
                        toks.append(")")  # close the bare function call
                    break
            toks.append(tok)
        # pure !BOUND(?v), possibly inside redundant parens
        core = toks[:]
        while len(core) >= 2 and core[0] == "(" and core[-1] == ")":
            core = core[1:-1]
        if len(core) == 5 and core[0] == "!" and core[1] == "BOUND":
            return ("notbound", core[3])
        return self._filter_sql(toks)

    def _filter_sql(self, toks: list[str]) -> tuple:
        out: list[str] = []
        vars_used: set[str] = set()
        i = 0
        while i < len(toks):
            tok = toks[i]
            if tok.startswith("?"):
                vars_used.add(tok)
                out.append(tok[1:])
            elif tok == "BOUND":
                if toks[i + 1 : i + 2] != ["("] or toks[i + 3 : i + 4] != [")"]:
                    raise SparqlSyntaxError("BOUND takes one ?variable")
                v = toks[i + 2]
                vars_used.add(v)
                out.append(f"({v[1:]} IS NOT NULL)")
                i += 4
                continue
            elif tok.upper() == "REGEX" and toks[i + 1 : i + 2] == ["("]:
                # SPARQL regex(?v, "pat") — partial match, like RLIKE.
                v = toks[i + 2] if len(toks) > i + 2 else ""
                if not v.startswith("?"):
                    raise SparqlUnsupportedError(
                        "REGEX's first argument must be a ?variable"
                    )
                if toks[i + 3 : i + 4] != [","]:
                    raise SparqlSyntaxError("REGEX(?v, \"pattern\") expected")
                pat = toks[i + 4] if len(toks) > i + 4 else ""
                if pat[:1] not in "\"'":
                    raise SparqlUnsupportedError("REGEX pattern must be a literal")
                if toks[i + 5 : i + 6] == [","]:
                    raise SparqlUnsupportedError("REGEX flags unsupported")
                if toks[i + 5 : i + 6] != [")"]:
                    raise SparqlSyntaxError("unterminated REGEX(...)")
                lit = pat[1:-1].replace("\\" + pat[0], pat[0]).replace("'", "''")
                vars_used.add(v)
                out.append(f"({v[1:]} RLIKE '{lit}')")
                i += 6
                continue
            elif tok == "&&":
                out.append("AND")
            elif tok == "||":
                out.append("OR")
            elif tok == "!":
                out.append("NOT")
            elif tok == "!=":
                out.append("<>")
            elif tok[:1] in "\"'":
                lit = tok[1:-1].replace("\\" + tok[0], tok[0]).replace("'", "''")
                out.append(f"'{lit}'")
            else:
                out.append(tok)
            i += 1
        return ("sql", " ".join(out), vars_used)


def parse_sparql(text: str, validate_vocab: bool = True) -> ParsedQuery:
    """Parse SPARQL text (supported subset) to a :class:`ParsedQuery`.

    ``validate_vocab=False`` skips the star-schema vocabulary checks
    (unknown predicate / unknown class) — the generic-triples executor
    (plans/generic_rdf.py) accepts ANY IRI; an unknown predicate there
    is an empty match, not an error."""
    return _Parser(_tokenize(text), validate_vocab=validate_vocab).parse_query()


# --------------------------------------------------------------------------
# The star source: parsed groups onto plans/rdf.py patterns
# --------------------------------------------------------------------------


_NEG_COUNTER = itertools.count()


def _patterns(g: _Group, types: dict[str, str]) -> list[Pattern]:
    out = []
    for s, preds, o, mod in g.triples:
        if preds[0] == "!":
            # negated property set: a fresh (never-projected) predicate
            # variable carrying the exclusion list
            out.append(
                Pattern(
                    s,
                    f"?__negp{next(_NEG_COUNTER)}",
                    o,
                    s_table=types.get(s),
                    o_table=types.get(o),
                    not_preds=preds[1:],
                )
            )
            continue
        if preds[0] == "/":
            # grouped-sequence path (p1/p2)mod — composite edge relation
            seq = tuple(
                (p.lstrip("^"), p.startswith("^")) for p in preds[1:]
            )
            out.append(
                Pattern(
                    s,
                    seq[0][0],
                    o,
                    s_table=types.get(s),
                    mod=mod,
                    seq=seq,
                )
            )
            continue
        out.append(
            Pattern(
                s,
                preds[0],
                o,
                s_table=types.get(s),
                mod=mod,
                alts=preds[1:],
                # `?o a <t>` restricts a variable-predicate pattern's
                # branches to FKs targeting t (constant predicates imply
                # their object type already).
                o_table=types.get(o) if preds[0].startswith("?") else None,
            )
        )
    return out



# --------------------------------------------------------------------------
# Plan-build-time max-cardinality bounds (round 12, VERDICT r11 item 10):
# a provable upper bound on a compiled group's solution rows lets the
# executor use the narrow-dependency bounded sort (coalesce(1) +
# sortWithinPartitions — identical total order, no rangepartitioning
# boundary-sampling job) on bounded outputs WITHOUT name-keying queries.
# Bounds come from pattern structure only:
#   * a constant FULL subject pins the branch table's primary key
#     (subjects render from subj_cols = the PK), so each matching
#     unpivot branch yields <= 1 row;
#   * a pattern whose subject table is a FIXED-cardinality dimension
#     (TPC-H semantics: region and nation never scale — 5 and 25 rows
#     at EVERY scale factor, preserved by the replica scaler) yields
#     <= that table's row count;
#   * a predicate VARIABLE's value domain is the compiled branch set —
#     a plan-time constant.
# Joins multiply bounds, OPTIONALs multiply (left join worst case),
# UNIONs add, MINUS/EXISTS only remove rows. Anything unprovable is
# None and keeps the plain orderBy.
# --------------------------------------------------------------------------

_FIXED_TABLE_ROWS = {"region": 5, "nation": 25}
BOUNDED_SORT_MAX_ROWS = 10_000


def _pattern_max_rows(pat: Pattern) -> int | None:
    """Upper bound on one compiled pattern's solution rows, or None."""
    if pat.seq or pat.mod:
        return None  # closures / sequences: unbounded in general
    if pat.p_is_var:
        specs = _varpred_specs(pat)
    else:
        s_tab = None if _is_var(pat.s) else _const_subject_table(pat.s)
        specs = [
            sp
            for sp in PRED_SPECS
            if sp.pred in pat.preds
            and (pat.s_table is None or sp.table == pat.s_table)
            and (s_tab is None or sp.table == s_tab)
        ]
    if not _is_var(pat.s):
        # constant full subject = the branch table's PK: <= 1 row each
        return max(1, len(specs))
    total = 0
    for sp in specs:
        if sp.table not in _FIXED_TABLE_ROWS:
            return None
        total += _FIXED_TABLE_ROWS[sp.table]
    return max(1, total)  # 0 specs compile to an empty frame


def _resolved_patterns(g: _Group, types: dict) -> list[Pattern] | None:
    try:
        pats = _patterns(g, types)
    except SparqlUnsupportedError:
        return None
    return _infer_s_tables([pats])[0] if pats else []


def _group_max_rows(g: _Group, types: dict) -> int | None:
    """Upper bound on a compiled group's solution rows, or None."""
    if g.subqueries or g.binds or g.values or g.values_multi or g.unions:
        return None
    pats = _resolved_patterns(g, types)
    if not pats:
        return None
    bound = 1
    groups = [pats] + [_resolved_patterns(og, types) for og in g.optionals]
    for grp in groups:
        if grp is None:
            return None
        for p in grp:
            b = _pattern_max_rows(p)
            if b is None:
                return None
            bound *= b
            if bound > BOUNDED_SORT_MAX_ROWS:
                return None
    # negations / exists only remove rows
    return bound


def _var_domain_bound(g: _Group, types: dict, var: str) -> int | None:
    """Upper bound on a variable's VALUE domain within a group, or
    None. Any one binding pattern's bound suffices (conjunctive)."""
    pats = _resolved_patterns(g, types)
    if not pats:
        return None
    best = None
    for p in pats:
        cand = None
        if p.p_is_var and p.p == var:
            cand = max(1, len(_varpred_specs(p)))
        elif var in (p.s, p.o):
            cand = _pattern_max_rows(p)
        if cand is not None:
            best = cand if best is None else min(best, cand)
    return best


def _query_order_bound(q: ParsedQuery) -> int | None:
    """Upper bound on the ORDER BY input's row count for a non-
    aggregate query, or None."""
    groups = q.where.unions or [q.where]
    if q.distinct:
        # DISTINCT projection: rows <= product over select vars of the
        # var's value domain, summed across UNION branches.
        total = 1
        for v in q.select:
            per_var = 0
            for g in groups:
                b = _var_domain_bound(g, q.types, v)
                if b is None:
                    per_var = None
                    break
                per_var += b
            if per_var is None:
                total = None
                break
            total *= per_var
            if total > BOUNDED_SORT_MAX_ROWS:
                total = None
                break
        if total is not None:
            return total
    bounds = [_group_max_rows(g, q.types) for g in groups]
    if any(b is None for b in bounds):
        return None
    return sum(bounds)


def _order_sorted(out: DataFrame, q: ParsedQuery, bound: int | None) -> DataFrame:
    """Apply ORDER BY: the narrow bounded sort when the input is
    provably small, the rangepartitioned orderBy otherwise."""
    cols = [
        F.col(v[1:]).asc_nulls_last() if asc else F.col(v[1:]).desc_nulls_last()
        for v, asc in q.order_by
    ]
    if bound is not None and bound <= BOUNDED_SORT_MAX_ROWS:
        return bounded_sort(out, *cols)
    return out.orderBy(*cols)



class _PatternSource(Protocol):
    """What the executor needs from where the triples live. It hides the
    term format: star tag-packed int64 ids (:class:`_StarSource`) or
    xxhash64 ids plus a dictionary (``generic_rdf._RawSource``)."""

    graphs: bool  # GRAPH blocks are executable

    def for_query(self, q: ParsedQuery) -> "_PatternSource":
        """The source query ``q`` (or a subquery) runs over."""

    def lower(
        self, q: ParsedQuery, groups: list[_Group], filter_vars: set[str], subq: bool
    ) -> tuple[list[list[DataFrame]], object]:
        """Per-pattern frames of a group (``groups[0]``) and of each of
        its OPTIONAL/MINUS/EXISTS sub-groups, plus the codec for their
        columns: ``literal(name, term)`` renders a constant as SQL and
        ``decode(df, names)`` turns id columns back into terms.
        ``filter_vars`` are the variables FILTER/BIND read, ``subq``
        says the group joins subqueries (decoded text frames)."""

    def agg_input(self, codec, fn: str, var: str, q: ParsedQuery) -> str | F.Column:
        """Input column of a non-COUNT aggregate over ``var``."""

    def order_bound(self, q: ParsedQuery) -> int | None:
        """Provable upper bound on the rows ORDER BY sorts, or None."""

    def triples(self) -> DataFrame:
        """The (subject, predicate, object) frame DESCRIBE reads."""


class _StarSource:
    """Pattern source over the star schema's unpivot view (plans/rdf.py):
    vocabulary-checked patterns with type constraints as scan pruning,
    tag-packed int64 ids decoded per row, and provable ORDER BY bounds.
    No graph dimension, so GRAPH and FROM are rejected."""

    graphs = False

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark, self.sf_dir = spark, sf_dir

    def for_query(self, q: ParsedQuery) -> "_StarSource":
        if q.from_graphs or q.from_named:
            raise SparqlUnsupportedError(
                "FROM / FROM NAMED need a quad frame — run through "
                "generic_rdf.sparql_quads"
            )
        return self

    def lower(
        self, q: ParsedQuery, groups: list[_Group], filter_vars: set[str], subq: bool
    ) -> tuple[list[list[DataFrame]], _StarCodec]:
        if groups[0].graphs:
            raise SparqlUnsupportedError(
                "GRAPH needs a quad frame — the star-schema triples view "
                "has no graph dimension; run this query through "
                "generic_rdf.sparql_quads over (graph, subject, predicate, "
                "object) rows"
            )
        # Subqueries join as DECODED frames, so the group joins on text.
        pats = [_patterns(g, q.types) for g in groups]
        return _lower_star(self.spark, self.sf_dir, pats, not subq, filter_vars)

    def agg_input(
        self, codec: _StarCodec, fn: str, var: str, q: ParsedQuery
    ) -> str | F.Column:
        """MIN/MAX/SAMPLE/GROUP_CONCAT over an IRI variable order IRI
        TEXT, so its ids decode before the merge (VERDICT r3 #5) — a
        per-row concat, the aggregation still runs in one shuffle on
        the encoded frame. SUM/AVG need a variable bound only by the
        vocabulary's numeric-literal predicates; over IRIs or other
        literals they are SPARQL type errors, rejected rather than
        NULL."""
        if fn in ("SUM", "AVG"):
            if codec.is_id(var[1:]):
                raise SparqlUnsupportedError(
                    f"{fn}({var}) over an IRI-valued variable is a "
                    "SPARQL type error (IRIs are not numbers)"
                )
            binding = [preds for _s, preds, o, _m in q.where.triples if o == var]
            if not binding or not all(set(ps) <= NUMERIC_PREDS for ps in binding):
                raise SparqlUnsupportedError(
                    f"{fn}({var}) needs a numeric-literal variable — "
                    f"{var} must be bound only by numeric predicates "
                    f"({sorted(NUMERIC_PREDS)}); summing arbitrary "
                    "strings is a SPARQL type error, not NULL"
                )
        return codec.text(var[1:])

    def order_bound(self, q: ParsedQuery) -> int | None:
        if not q.aggs:
            return _query_order_bound(q)
        # Aggregate output rows = #groups <= the product of the group
        # keys' provable value domains (group-domain boundedness —
        # round 12): e.g. a key bound through a fixed-cardinality
        # dimension table sorts without a rangepartitioning job.
        bound = 1
        for v in q.group_by:
            b = _var_domain_bound(q.where, q.types, v)
            if b is None:
                return None
            bound *= b
        return bound

    def triples(self) -> DataFrame:
        return triples(self.spark, self.sf_dir)


# --------------------------------------------------------------------------
# The executor: query forms and the one group assembler, over a source
# --------------------------------------------------------------------------


def _rewrite_notbound(g: _Group) -> None:
    """``OPTIONAL { P } FILTER(!BOUND(?v))`` → anti-join group (J6/P4).

    A pure-!BOUND filter whose variable is bound by exactly one OPTIONAL
    group moves that group to negations; a !BOUND over a never-bound
    variable is trivially true and dropped; anything else is rejected
    (a !BOUND over a required variable is trivially false — surely a
    query bug)."""
    keep: list[tuple] = []
    for f in g.filters:
        if f[0] != "notbound":
            keep.append(f)
            continue
        var = f[1]
        binders = [og for og in g.optionals if var in og.all_vars_bound_here()]
        required = {v for t in g.triples for v in (t[0], t[2]) if v.startswith("?")}
        if binders:
            if len(binders) > 1:
                raise SparqlUnsupportedError(
                    f"!BOUND({var}) is ambiguous over multiple OPTIONALs"
                )
            g.optionals.remove(binders[0])
            g.negations.append(binders[0])
        elif var in required:
            raise SparqlUnsupportedError(
                f"FILTER(!BOUND({var})) over a required variable is always false"
            )
        # never-bound: trivially true, drop
    g.filters = keep



def _sub_group_filters(sub: _Group, allow_graphs: bool = False) -> list[tuple]:
    """Validate an OPTIONAL/MINUS/EXISTS sub-group's extra structure.

    Filters referencing only sub-group-local variables apply to the
    group frame BEFORE its join (standard SPARQL semantics — SP2Bench
    Q6/Q7's shape). A filter that sees OUTER variables would need
    join-condition placement (neither pre- nor post-filter is correct)
    — rejected loudly. Deeper nesting stays rejected.
    ``allow_graphs``: the generic quad executor compiles GRAPH blocks
    inside sub-groups; the star-schema path has no graph dimension and
    must keep rejecting them (a silently-dropped graph constraint
    would widen MINUS/narrow OPTIONAL)."""
    if (
        sub.optionals
        or sub.negations
        or sub.exists
        or sub.unions
        or sub.values
        or sub.values_multi
        or sub.binds
        or sub.subqueries
        or (sub.graphs and not allow_graphs)
    ):
        raise SparqlUnsupportedError(
            "nested structure (OPTIONAL/negation/UNION/VALUES/BIND/GRAPH) "
            "inside an OPTIONAL/MINUS/EXISTS group is unsupported"
        )
    out: list[tuple] = []
    bound = {v[1:] for v in sub.all_vars_bound_here()}
    for f in sub.filters:
        if f[0] == "notbound":
            raise SparqlUnsupportedError(
                "FILTER(!BOUND(...)) inside a sub-group is unsupported"
            )
        _tag, _sql, vs = f
        outer = sorted(v for v in vs if v[1:] not in bound)
        if outer:
            raise SparqlUnsupportedError(
                f"FILTER inside OPTIONAL/MINUS/EXISTS referencing outer "
                f"variables {outer} is unsupported (needs join-condition "
                "placement)"
            )
        out.append(f)
    return out



def _join_chain(frames: list[DataFrame]) -> DataFrame:
    """Inner-join frames left to right on shared variables. Catalyst/AQE
    then reorder and pick physical strategies (JS1-JS3); the chain only
    fixes the *logical* shape."""
    if not frames:
        raise SparqlUnsupportedError("group needs at least one triple pattern")
    out = frames[0]
    for df in frames[1:]:
        shared = [c for c in df.columns if c in out.columns]
        if not shared:
            raise SparqlUnsupportedError(
                f"pattern binding {df.columns} shares no variable with prior patterns"
            )
        out = out.join(df, on=shared, how="inner")
    return out


def _assemble(
    frames: list[DataFrame],
    subs: list[tuple[list[DataFrame], list[str], str]],
    codec,
    subqueries: list[DataFrame] = (),
    binds: list[tuple[str, str]] = (),
    filters: list[str] = (),
    values: list[tuple[list[str], str]] = (),
    select: list[str] | None = None,
    distinct: bool = False,
) -> DataFrame:
    """The one group assembler, shared by both pattern sources and
    ``bgp()``: required join chain → OPTIONAL/MINUS/EXISTS joins
    (``subs``: frames, local filters, join type; each sub-group is
    filtered BEFORE its join — SP2Bench Q6/Q7) → subquery joins → BIND
    → FILTER → VALUES → projection, DISTINCT, decode.

    BIND runs before FILTER because a group's filters constrain the
    whole group (SPARQL 1.1 §18.2.2), BIND aliases included. DISTINCT
    runs before decode, so it compares ids on the encoded path."""
    out = _join_chain(frames)
    for sub_frames, local, how in subs:
        sdf = _join_chain(sub_frames)
        for f in local:
            sdf = sdf.filter(F.expr(f))
        shared = [c for c in sdf.columns if c in out.columns]
        if not shared:
            raise SparqlUnsupportedError(
                "OPTIONAL/MINUS/EXISTS group shares no variable with the "
                "required patterns"
            )
        out = out.join(sdf, on=shared, how=how)
    for sdf in subqueries:
        shared = [c for c in sdf.columns if c in out.columns]
        if not shared:
            raise SparqlUnsupportedError(
                "subquery shares no variable with the outer group"
            )
        out = out.join(sdf, on=shared, how="inner")
    for alias, sql in binds:
        # BIND introduces a NEW variable (SPARQL forbids rebinding)
        if alias in out.columns:
            raise SparqlUnsupportedError(f"BIND alias ?{alias} already bound")
        out = out.withColumn(alias, F.expr(sql))
    for f in filters:
        out = out.filter(F.expr(f))
    for names, sql in values:
        for n in names:
            if n not in out.columns:
                raise SparqlUnsupportedError(
                    f"VALUES ?{n} over a variable no pattern binds"
                )
        out = out.filter(F.expr(sql))
    names = [v[1:] if v.startswith("?") else v for v in select or []]
    if names:
        out = out.select(*names)
    if distinct:
        out = out.distinct()
    return codec.decode(out, names) if names else out


def _compile_group(
    src: _PatternSource,
    q: ParsedQuery,
    g: _Group,
    select: list[str] | None,
    distinct: bool,
) -> tuple[DataFrame, object]:
    """One SPARQL group through the assembler. The source lowers the
    patterns of the group and of its OPTIONAL/MINUS/EXISTS sub-groups;
    subqueries run through the executor first (bottom-up, with their
    own modifiers) and join as decoded frames. Returns the frame and
    the source's codec (how its id columns decode)."""
    if g.unions:
        raise SparqlUnsupportedError(
            "UNION inside a group that also has other structure is "
            "unsupported — make UNION the whole WHERE body"
        )
    subs = [
        (sub, how)
        for grp, how in (
            (g.optionals, "left"),
            (g.negations, "left_anti"),
            (g.exists, "left_semi"),
        )
        for sub in grp
    ]
    local = [_sub_group_filters(sub, allow_graphs=src.graphs) for sub, _how in subs]
    filter_vars = {
        v[1:]
        for f in (*g.filters, *itertools.chain(*local), *(b for _a, b in g.binds))
        for v in f[2]
    }
    subqueries = [_execute(src, sq) for sq in g.subqueries]
    frames, codec = src.lower(
        q, [g, *(sub for sub, _how in subs)], filter_vars, bool(subqueries)
    )
    # VALUES → IN-lists / OR-of-ANDs in the frame's own representation
    # (ids for encoded IRI variables, so the list constant-folds
    # toward the scan; VALUES never forces the decoded path)
    values = [
        ([v[1:]], f"{v[1:]} IN ({', '.join(codec.literal(v[1:], t) for t in terms)})")
        for v, terms in g.values
    ]
    for vars_, rows_ in g.values_multi:
        names = [v[1:] for v in vars_]
        disj = " OR ".join(
            "("
            + " AND ".join(f"{n} = {codec.literal(n, t)}" for n, t in zip(names, row))
            + ")"
            for row in rows_
        )
        values.append((names, f"({disj})"))
    df = _assemble(
        frames[0],
        [
            (fr, [f[1] for f in fs], how)
            for fr, fs, (_s, how) in zip(frames[1:], local, subs)
        ],
        codec,
        subqueries=subqueries,
        binds=[(a[1:], b[1]) for a, b in g.binds],
        filters=[f[1] for f in g.filters],
        values=values,
        select=select,
        distinct=distinct,
    )
    return df, codec


def _literal_agg(fn: str, name: str | F.Column, dist: bool, sep: str) -> F.Column:
    """MIN/MAX/SAMPLE/GROUP_CONCAT/SUM/AVG over a literal-valued column
    (or an already-decoded Column expression for IRI-typed variables).

    SPARQL leaves SAMPLE's choice and GROUP_CONCAT's order
    implementation-defined; this engine pins both deterministically
    (SAMPLE = MIN; GROUP_CONCAT sorts its inputs) so results are
    stable across runs, partitionings, and engines.

    SUM/AVG parse the lexical form to DECIMAL(18,2) — the vocabulary's
    numeric predicates pin a %.2f rendering (plans/rdf.py acctbal
    specs) — so the sum is exact whatever the merge order; AVG divides
    the exact sum by the count and rounds, never averaging floats."""
    if fn == "MIN" or fn == "SAMPLE":
        return F.min(name)
    if fn == "MAX":
        return F.max(name)
    if fn in ("SUM", "AVG"):
        dec = F.col(name).cast("decimal(18,2)")
        total = F.sum_distinct(dec) if dist else F.sum(dec)
        if fn == "SUM":
            return total.cast("double")
        n = F.count_distinct(dec) if dist else F.count(name)
        return F.round(total.cast("double") / n, 4)
    collected = F.collect_set(name) if dist else F.collect_list(name)
    return F.array_join(F.array_sort(collected), sep)



def _aggregate(src: _PatternSource, q: ParsedQuery) -> DataFrame:
    """SPARQL 1.1 aggregation: GROUP BY variables + aggregate select
    items + HAVING, compiled to one DataFrame aggregation over the
    undecoded solution frame. COUNT / COUNT(DISTINCT) over ids count
    exactly the IRIs (the encoding is bijective), id-typed GROUP BY
    keys aggregate as int64 and decode after the aggregation, on one
    row per group; the source decides each other aggregate's input
    (``agg_input``)."""
    if q.where.unions:
        raise SparqlUnsupportedError("aggregates over UNION are unsupported")
    sol, codec = _compile_group(src, q, q.where, None, False)
    gvars = [v[1:] for v in q.group_by]
    agg_exprs = []
    for fn, var, dist, alias, sep in q.aggs:
        a = alias[1:]
        if var is None:  # COUNT(*)
            agg_exprs.append(F.count(F.lit(1)).alias(a))
            continue
        name = var[1:]
        if name not in sol.columns:
            raise SparqlUnsupportedError(f"aggregate over unbound variable {var}")
        if fn == "COUNT":
            e = F.countDistinct(name) if dist else F.count(name)
        else:
            e = _literal_agg(fn, src.agg_input(codec, fn, var, q), dist, sep)
        agg_exprs.append(e.alias(a))
    out = sol.groupBy(*gvars).agg(*agg_exprs) if gvars else sol.agg(*agg_exprs)
    out = codec.decode(out, gvars)
    if q.having is not None:
        _tag, sql, vs = q.having
        bad = [v for v in vs if v[1:] not in out.columns]
        if bad:
            raise SparqlUnsupportedError(
                f"HAVING references {bad} — only GROUP BY variables and "
                "aggregate aliases are in scope"
            )
        out = out.filter(F.expr(sql))
    return out.select(*[v[1:] for v in q.select])


def _describe(src: _PatternSource, q: ParsedQuery) -> DataFrame:
    """DESCRIBE — the fourth SPARQL query form: every triple whose
    subject OR object is a described resource (the common concise
    reading of the spec's implementation-defined semantics). Resources
    come from constant terms and/or a WHERE group's variable bindings;
    matching is two semi-joins against the (small, AQE-broadcast)
    node set over the source's triples, unioned and deduped — a graph
    result like CONSTRUCT's, serializable by write_ntriples."""
    tri = src.triples()
    consts = [t for t in q.describe_terms if not t.startswith("?")]
    if not q.select:
        # Constants only (the common DESCRIBE <iri> form): ONE pass
        # over the triples with a literal subject-or-object predicate,
        # pushed by Catalyst through the branch Union — the general
        # path below scans the triples TWICE and pays two broadcast
        # semi-joins for a node set that is a query-text literal
        # (round 11; same result set, the OR filter is exactly the
        # semi-join disjunction).
        cond = F.col("subject").isin(consts) | F.col("object").isin(consts)
        return tri.filter(cond).distinct()
    nodes: DataFrame | None = None
    if consts:
        nodes = tri.sparkSession.createDataFrame([(c,) for c in consts], "v string")
    sol, _codec = _compile_group(src, q, q.where, q.select, q.distinct)
    for v in q.select:
        nd = sol.select(F.col(v[1:]).alias("v"))
        nodes = nd if nodes is None else nodes.unionByName(nd)
    assert nodes is not None
    nodes = nodes.distinct()
    subj = tri.join(nodes, tri["subject"] == nodes["v"], "leftsemi")
    obj = tri.join(nodes, tri["object"] == nodes["v"], "leftsemi")
    return subj.unionByName(obj).distinct()


def _execute(src: _PatternSource, q: ParsedQuery) -> DataFrame:
    """Run a parsed query — or a ``{ SELECT ... }`` subquery — over a
    pattern source: DESCRIBE, aggregation, ASK, UNION, CONSTRUCT or
    SELECT [DISTINCT], then ORDER BY / OFFSET / LIMIT. One logical plan
    comes out (driver-side iteration only inside path closures)."""
    for g in (q.where, *q.where.unions):
        _rewrite_notbound(g)
    src = src.for_query(q)
    if q.form == "describe":
        return _describe(src, q)
    if q.aggs:
        out = _aggregate(src, q)
    elif q.where.unions and q.form != "ask":
        parts = [
            _compile_group(src, q, b, q.select, q.distinct)[0] for b in q.where.unions
        ]
        out = functools.reduce(DataFrame.unionByName, parts)
        if q.distinct:
            out = out.distinct()
    else:
        out, _codec = _compile_group(src, q, q.where, q.select, q.distinct)
        if q.form == "ask":
            # Existence as a 1-row boolean frame, fully lazy: LIMIT 1
            # stops the scan at the first solution, and a global
            # aggregate over the ≤1-row remainder always yields exactly
            # one row (true on a match, false on empty input) — no join
            # node, no driver-side count. (A constant-key probe join
            # here constant-folds into a BroadcastNestedLoopJoin; the
            # aggregate form has no join to degenerate.)
            return out.limit(1).agg((F.count(F.lit(1)) > 0).alias("ask"))
    if q.form == "construct":
        # Instantiate each template triple per solution row, union, and
        # dedupe — a CONSTRUCT result is a graph (set of triples). The
        # solution frame is computed once; Catalyst reuses its subtree
        # across the per-template-triple projections.
        def term(t: str) -> F.Column:
            return F.col(t[1:]).cast("string") if t.startswith("?") else F.lit(t)

        assert q.template is not None
        parts = [
            out.select(
                term(s).alias("subject"),
                F.lit(p).alias("predicate"),
                term(o).alias("object"),
            )
            for s, p, o in q.template
        ]
        return functools.reduce(DataFrame.unionByName, parts).distinct()
    if q.order_by:
        out = _order_sorted(out, q, src.order_bound(q))
    if q.offset is not None:
        out = out.offset(q.offset)
    if q.limit is not None:
        out = out.limit(q.limit)
    return out


def sparql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """Parse and execute SPARQL text over the triples view.

    One logical plan comes out (no driver-side iteration); Catalyst and
    AQE choose the physical join strategies exactly as for hand-built
    ``bgp()`` calls — the reference's per-query manual planning
    (SURVEY.md §3.1) has no analog here because it is not needed."""
    return _execute(_StarSource(spark, sf_dir), parse_sparql(text))


# --------------------------------------------------------------------------
# Declared query: the SPARQL front-end end-to-end (SURVEY.md §2.10)
# --------------------------------------------------------------------------

from rdf_mapreduce_joins_spark.plans.registry import query  # noqa: E402

RDF_SPARQL_TEXT = """
    SELECT ?c ?cname ?nname WHERE {
      ?c a <customer> ;
         <name> ?cname ;
         <nation> ?n .
      ?n <name> ?nname .
      OPTIONAL { ?o <customer> ?c ; <status> "P" }
      FILTER(!BOUND(?o))
    }
    ORDER BY ?cname ?c
    LIMIT 20
"""


@query(
    "rdf_sparql_frontend",
    oracle="""
    SELECT 'customer/' || c_custkey AS c, c_name AS cname, n_name AS nname
    FROM customer JOIN nation ON n_nationkey = c_nationkey
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    ORDER BY cname NULLS LAST, c NULLS LAST
    LIMIT 20
    """,
)
def rdf_sparql_frontend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SPARQL text path end-to-end: type-constrained star +
    chain join + the OPTIONAL/!BOUND→anti-join rewrite + ORDER/LIMIT,
    all from query TEXT (RDF_SPARQL_TEXT above) — the entry point a
    user of the reference actually has in hand (its 26 benchmark
    queries are published SPARQL). The oracle is independently derived
    SQL over the base star schema, so parser + compiler + encoding are
    differential-tested as one unit."""
    return sparql(spark, sf_dir, RDF_SPARQL_TEXT)


@query(
    "rdf_path_sequence",
    oracle="""
    SELECT 'customer/' || c_custkey AS c, r_name AS rname,
           o_orderstatus AS st
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    JOIN orders ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
    """,
)
def rdf_path_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence + inverse property paths: ``<nation>/<region>/<name>``
    walks customer→nation→region→literal through fresh variables (one
    chain-join plan, identical to writing the patterns out), and
    ``^<customer>/<status>`` walks customer→orders *against* the FK
    direction then out to the status literal. Oracle is the plain
    star-schema join — paths are pure syntax, so the compiled plan must
    match it exactly."""
    return sparql(
        spark,
        sf_dir,
        """
        SELECT ?c ?rname ?st WHERE {
          ?c <mktsegment> "BUILDING" .
          ?c <nation>/<region>/<name> ?rname .
          ?c ^<customer>/<status> ?st .
        }
        """,
    )


@query(
    "rdf_sparql_ask",
    oracle="""
    SELECT EXISTS(
      SELECT 1 FROM customer
      WHERE c_mktsegment = 'BUILDING' AND c_nationkey = 3
    ) AS ask
    """,
)
def rdf_sparql_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ASK form (SP2Bench Q12a/b/c are ASK queries [K]): a
    1-row boolean frame. LIMIT 1 bounds the probe scan — existence
    never materializes the solution set — and a global aggregate over
    the ≤1-row remainder yields the answer row even when the pattern
    has no matches (no join node, no driver-side count)."""
    return sparql(
        spark,
        sf_dir,
        'ASK { ?c <mktsegment> "BUILDING" ; <nation> <nation/3> . }',
    )


@query(
    "rdf_sparql_construct",
    oracle="""
    WITH sol AS (
      SELECT 'customer/' || c_custkey AS c, 'region/' || r_regionkey AS r,
             r_name AS rname
      FROM customer
      JOIN nation ON n_nationkey = c_nationkey
      JOIN region ON r_regionkey = n_regionkey
    )
    SELECT DISTINCT subject, predicate, object FROM (
      SELECT c AS subject, 'locatedIn' AS predicate, r AS object FROM sol
      UNION ALL
      SELECT r AS subject, 'label' AS predicate, rname AS object FROM sol
    )
    """,
)
def rdf_sparql_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT form: template triples instantiated per
    solution of the WHERE pattern (here a sequence property path),
    unioned and deduplicated into a graph. Output vocabulary
    (``locatedIn``/``label``) is free template text — constructed
    graphs routinely use predicates the store doesn't hold. The result
    is a (subject, predicate, object) frame that write_ntriples can
    serialize directly."""
    return sparql(
        spark,
        sf_dir,
        """
        CONSTRUCT { ?c <locatedIn> ?r . ?r <label> ?rname }
        WHERE { ?c a <customer> ; <nation>/<region> ?r . ?r <name> ?rname . }
        """,
    )


@query(
    "rdf_path_transitive",
    oracle="""
    WITH RECURSIVE closure(src, dst) AS (
      SELECT s_suppkey, CAST(FLOOR(s_suppkey / 2) AS BIGINT)
      FROM supplier WHERE s_suppkey >= 1
      UNION
      -- a further hop exists only if dst IS a supplier (the manager
      -- edge relation's domain) — on contiguous fixture keys this
      -- join is a no-op, but replica-offset keys (sf1 scaling) have
      -- non-supplier halving intermediates that must stop the path,
      -- exactly as the engine's edge-wise closure does
      SELECT c.src, CAST(FLOOR(c.dst / 2) AS BIGINT)
      FROM closure c JOIN supplier sm ON sm.s_suppkey = c.dst
      WHERE c.dst >= 1
    )
    SELECT 'supplier/' || closure.src AS s,
           'supplier/' || closure.dst AS boss,
           s2.s_name AS bossname
    FROM closure JOIN supplier s2 ON s2.s_suppkey = closure.dst
    """,
)
def rdf_path_transitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive property path ``<manager>+`` — unbounded reachability
    over the supplier org tree (supplier s reports to ⌊s/2⌋), joined
    back to a literal pattern on the closure's object end. The engine
    side runs the iterative-doubling closure (⌈log₂ depth⌉ shuffle
    rounds — operators/graph.py); the oracle derives the same closure
    *independently* via DuckDB WITH RECURSIVE over the raw keys (one
    row per hop), so operator, encoding, and path lowering are all
    differential-tested."""
    return sparql(
        spark,
        sf_dir,
        """
        SELECT ?s ?boss ?bossname WHERE {
          ?s <manager>+ ?boss .
          ?boss a <supplier> ;
                <name> ?bossname .
        }
        """,
    )


@query(
    "rdf_path_star",
    oracle="""
    WITH RECURSIVE edges(src, dst) AS (
      SELECT s_suppkey, CAST(FLOOR(s_suppkey / 2) AS BIGINT)
      FROM supplier WHERE s_suppkey >= 1
    ), closure(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      -- intermediate hops must be suppliers (see rdf_path_transitive)
      SELECT c.src, CAST(FLOOR(c.dst / 2) AS BIGINT)
      FROM closure c JOIN supplier sm ON sm.s_suppkey = c.dst
      WHERE c.dst >= 1
    ), star(src, dst) AS (
      SELECT src, dst FROM closure
      UNION
      SELECT n, n FROM (SELECT src AS n FROM edges
                        UNION SELECT dst FROM edges)
    )
    SELECT 'supplier/' || star.src AS s,
           'supplier/' || star.dst AS boss,
           s2.s_name AS bossname
    FROM star JOIN supplier s2 ON s2.s_suppkey = star.dst
    """,
)
def rdf_path_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reflexive-transitive path ``<manager>*`` — everything ``+``
    reaches PLUS the zero-length match: each node of the predicate's
    edge domain paired with itself (so every supplier is its own
    0-hop boss — the LUBM ``subOrganizationOf*`` reading, where the
    organization itself belongs to the answer). Engine side: closure ∪
    identity over the node domain, deduplicated (ALP set semantics);
    oracle derives the same thing independently with WITH RECURSIVE ∪
    the edge endpoints."""
    return sparql(
        spark,
        sf_dir,
        """
        SELECT ?s ?boss ?bossname WHERE {
          ?s <manager>* ?boss .
          ?boss a <supplier> ;
                <name> ?bossname .
        }
        """,
    )


@query(
    "rdf_path_optional_hop",
    oracle="""
    WITH edges(src, dst) AS (
      SELECT s_suppkey, CAST(FLOOR(s_suppkey / 2) AS BIGINT)
      FROM supplier WHERE s_suppkey >= 1
    ), hop(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT n, n FROM (SELECT src AS n FROM edges
                        UNION SELECT dst FROM edges)
    )
    SELECT 'supplier/' || src AS s, 'supplier/' || dst AS m FROM hop
    """,
)
def rdf_path_optional_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-or-one path ``<manager>?`` — the edge set plus the
    identity pairs over its node domain, deduplicated. The cheap
    sibling of ``*``: no closure iteration, one union + distinct."""
    return sparql(spark, sf_dir, "SELECT ?s ?m WHERE { ?s <manager>? ?m . }")


@query(
    "rdf_path_alternation",
    oracle="""
    SELECT 'customer/' || c_custkey AS c, c_name AS v FROM customer
    UNION ALL
    SELECT 'customer/' || c_custkey AS c, c_mktsegment AS v FROM customer
    """,
)
def rdf_path_alternation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path alternation ``(<name>|<mktsegment>)`` — the bag union of
    the two predicates' edge sets (SPARQL alternation keeps
    duplicates, hence UNION ALL in the oracle). Compiled as one extra
    unionByName branch on the pattern's vertical partitions — no join,
    no distinct."""
    return sparql(
        spark,
        sf_dir,
        "SELECT ?c ?v WHERE { ?c a <customer> ; (<name>|<mktsegment>) ?v . }",
    )


@query(
    "rdf_sparql_aggregate",
    oracle="""
    SELECT r_name AS rname,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(COUNT(DISTINCT n_nationkey) AS BIGINT) AS n_nations,
           MIN(c_name) AS first_name
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    GROUP BY r_name
    HAVING COUNT(*) > 10
    """,
)
def rdf_sparql_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 aggregation end-to-end from query TEXT: GROUP BY +
    COUNT(*) / COUNT(DISTINCT id-var) / MIN(literal) + HAVING over an
    alias. Aggregation runs on the dictionary-ENCODED solution frame
    (counting ids counts IRIs exactly); group keys decode after the
    aggregation — one decode per group, not per row. The reference has
    no aggregate surface at all (its thesis checks result counts via
    job counters [K]); this is the query its users would write for
    that."""
    return sparql(
        spark,
        sf_dir,
        """
        SELECT ?rname (COUNT(*) AS ?n_cust)
               (COUNT(DISTINCT ?n) AS ?n_nations)
               (MIN(?cname) AS ?first_name)
        WHERE {
          ?c a <customer> ; <name> ?cname ; <nation> ?n .
          ?n <region> ?r . ?r <name> ?rname .
        }
        GROUP BY ?rname
        HAVING(?n_cust > 10)
        ORDER BY ?rname
        """,
    )


@query(
    "rdf_sparql_minmax_iri",
    oracle="""
    SELECT n_name AS nname,
           MIN('customer/' || CAST(c_custkey AS VARCHAR)) AS first_cust,
           MAX('customer/' || CAST(c_custkey AS VARCHAR)) AS last_cust,
           CAST(COUNT(*) AS BIGINT) AS n_cust
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    GROUP BY n_name
    """,
)
def rdf_sparql_minmax_iri(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX over an IRI-VALUED variable (VERDICT r3 #5): ordering is
    over the IRI's text, so the aggregate input decodes BEFORE the
    merge — but the decode is a per-row concat expression
    (plans/rdf.py::_decode_id), not a dictionary join, so the plan is
    still a single hash aggregation over the encoded solution frame;
    only the min/max column carries strings through the shuffle. The
    lexicographic result ('customer/10' < 'customer/2') is mirrored
    exactly by the oracle's string concat. SUM/AVG over IRIs stay
    rejected as the SPARQL type error they are."""
    return sparql(
        spark,
        sf_dir,
        """
        SELECT ?nname (MIN(?c) AS ?first_cust) (MAX(?c) AS ?last_cust)
               (COUNT(*) AS ?n_cust)
        WHERE { ?c a <customer> ; <nation> ?n . ?n <name> ?nname . }
        GROUP BY ?nname
        """,
    )


@query(
    "rdf_sparql_sum_avg",
    oracle="""
    SELECT n_name AS nname,
           CAST(SUM(CAST(printf('%.2f', c_acctbal) AS DECIMAL(18,2)))
                AS DOUBLE) AS total_bal,
           ROUND(CAST(SUM(CAST(printf('%.2f', c_acctbal) AS DECIMAL(18,2)))
                      AS DOUBLE) / COUNT(c_acctbal), 4) AS avg_bal
    FROM customer
    JOIN nation ON n_nationkey = c_nationkey
    GROUP BY n_name
    """,
)
def rdf_sparql_sum_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 numeric aggregation from query TEXT: SUM/AVG over
    the vocabulary's numeric literal predicate (acctbal, rendered
    %.2f on both engines — plans/rdf.py). The lexical forms parse to
    DECIMAL(18,2) before summing, so the result is exact under any
    merge order; AVG divides the exact sum by the count (never a float
    average). Joins still run dictionary-encoded; only the literal
    column is parsed."""
    return sparql(
        spark,
        sf_dir,
        """
        SELECT ?nname (SUM(?b) AS ?total_bal) (AVG(?b) AS ?avg_bal)
        WHERE {
          ?c a <customer> ; <acctbal> ?b ; <nation> ?n .
          ?n <name> ?nname .
        }
        GROUP BY ?nname
        """,
    )


from rdf_mapreduce_joins_spark.plans.rdf import triples_sql  # noqa: E402


@query(
    "rdf_sparql_describe",
    oracle=f"""
    WITH tri AS ({triples_sql()})
    SELECT DISTINCT subject, predicate, object
    FROM tri WHERE subject = 'nation/3' OR object = 'nation/3'
    """,
)
def rdf_sparql_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fourth SPARQL query form end-to-end: DESCRIBE a resource —
    every triple it participates in, either side. With this the engine
    answers all four published forms (SELECT / ASK / CONSTRUCT /
    DESCRIBE) from query text. The oracle derives the same triple set
    from the shared triples-view SQL rendering."""
    return sparql(spark, sf_dir, "DESCRIBE <nation/3>")


@query(
    "rdf_variable_predicate",
    oracle="""
    SELECT DISTINCT predicate FROM (
        SELECT 'customer' AS predicate FROM orders
        UNION ALL SELECT 'name' FROM customer
        UNION ALL SELECT 'nation' FROM customer
        UNION ALL SELECT 'mktsegment' FROM customer
        UNION ALL SELECT 'acctbal' FROM customer
    ) p
    ORDER BY predicate
    """,
)
def rdf_variable_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable predicates — the faithful SP2Bench Q9 shape ("which
    predicates connect to persons?"): a UNION of incoming and outgoing
    edges around a typed variable, with the PREDICATE itself bound and
    projected. The type constraints prune the branch union at
    plan-build time (incoming: only FK branches targeting customer —
    one scan of orders; outgoing: only customer's four predicates), so
    "match any predicate" never means "scan every table". The oracle
    enumerates the star-schema's edges independently. Runs on the
    string path — a variable predicate's object domain mixes FK IRIs
    and literals, which no single int64 encoding covers."""
    return sparql(
        spark,
        sf_dir,
        """
        SELECT DISTINCT ?predicate WHERE {
          { ?c a <customer> . ?s ?predicate ?c }
          UNION
          { ?c a <customer> . ?c ?predicate ?o }
        }
        ORDER BY ?predicate
        """,
    )


@query(
    "rdf_variable_predicate_star",
    oracle="""
    SELECT predicate, object FROM (
        SELECT 'name' AS predicate, s_name AS object
        FROM supplier WHERE s_suppkey = 5
        UNION ALL
        SELECT 'nation', 'nation/' || s_nationkey
        FROM supplier WHERE s_suppkey = 5
        UNION ALL
        SELECT 'acctbal', printf('%.2f', s_acctbal)
        FROM supplier WHERE s_suppkey = 5
        UNION ALL
        SELECT 'manager', 'supplier/' || CAST(FLOOR(s_suppkey / 2) AS BIGINT)
        FROM supplier WHERE s_suppkey >= 1 AND s_suppkey = 5
    ) t
    ORDER BY predicate NULLS LAST, object NULLS LAST
    """,
)
def rdf_variable_predicate_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource introspection: ``<iri> ?p ?o`` — every outgoing edge
    of one constant subject with the predicate bound (the
    variable-predicate analog of a subject-star fetch; SP2Bench Q10's
    sibling shape). The constant subject filters every unpivot branch
    down to one key lookup; the oracle re-derives supplier 5's edge
    list predicate by predicate."""
    return sparql(
        spark,
        sf_dir,
        "SELECT ?predicate ?object WHERE { <supplier/5> ?predicate ?object . }"
        " ORDER BY ?predicate ?object",
    )


@query(
    "rdf_negated_property_set",
    oracle="""
    SELECT s, o FROM (
        SELECT 'supplier/' || s_suppkey AS s,
               'nation/' || s_nationkey AS o
        FROM supplier
        UNION ALL
        SELECT 'supplier/' || s_suppkey,
               'supplier/' || CAST(FLOOR(s_suppkey / 2) AS BIGINT)
        FROM supplier WHERE s_suppkey >= 1
    ) t
    ORDER BY s NULLS LAST, o NULLS LAST
    """,
)
def rdf_negated_property_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negated property sets — ``!(<name>|<acctbal>)`` matches every
    edge whose predicate is NOT listed (SPARQL 1.1 path negation).
    Lowered to a fresh unprojected predicate variable carrying the
    exclusion, so the excluded branches drop from the union at
    plan-build time: for a supplier subject this scans only the
    nation and manager branches, never name/acctbal. The oracle
    enumerates the two surviving edge sets independently."""
    return sparql(
        spark,
        sf_dir,
        """
        SELECT ?s ?o WHERE {
          ?s a <supplier> .
          ?s !(<name>|<acctbal>) ?o .
        }
        ORDER BY ?s ?o
        """,
    )


@query(
    "rdf_path_seq_closure",
    oracle="""
    WITH RECURSIVE m2(src, dst) AS (
      -- composed edge s -> s//4 exists only when the intermediate
      -- s//2 IS a supplier (each atomic manager hop needs a supplier
      -- source); further closure hops additionally need dst itself to
      -- be a supplier — on contiguous fixture keys both joins are
      -- no-ops, but replica-offset keys (sf1) have non-supplier
      -- intermediates that must stop the path, as the engine's
      -- composed-edge closure does
      SELECT s.s_suppkey, s.s_suppkey // 4
      FROM supplier s JOIN supplier mid ON mid.s_suppkey = s.s_suppkey // 2
      WHERE s.s_suppkey >= 2
      UNION
      SELECT c.src, c.dst // 4
      FROM m2 c
      JOIN supplier d ON d.s_suppkey = c.dst
      JOIN supplier mid ON mid.s_suppkey = c.dst // 2
      WHERE c.dst >= 2
    )
    SELECT 'supplier/' || src AS s, 'supplier/' || dst AS anc FROM m2
    """,
)
def rdf_path_seq_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-sequence path closure ``(<manager>/<manager>)+`` —
    SPARQL 1.1 allows any path under a modifier, not just atoms; this
    exercises the composite branch: the two manager hops compose into
    one derived edge relation (s -> floor(s/4), defined for s >= 2)
    via an equi-join, and the iterative-doubling closure then runs on
    the COMPOSED edges. Even-distance ancestors only — a genuinely
    different result from <manager>+ — and the oracle derives it
    independently with WITH RECURSIVE over floor division, so parser
    lowering, composition join, and closure are all
    differential-tested."""
    return sparql(
        spark,
        sf_dir,
        "SELECT ?s ?anc WHERE { ?s (<manager>/<manager>)+ ?anc . }",
    )
