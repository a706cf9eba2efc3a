"""Minimal SPARQL SELECT engine over the converted triple store (S6 as a
real query language, not just a DataFrame analog).

Sophox's user-facing surface is a SPARQL endpoint; the queries the
reference itself issues against it are all basic-graph-pattern SELECTs:

* ``SELECT ?rel WHERE { ?rel osmm:type 'r' . FILTER NOT EXISTS { ?rel
  osmm:loc ?l . } }``                   (updateRelLoc.py:69)
* ``SELECT ?rel ?member ?loc WHERE { VALUES ?rel { ... } ?rel osmm:has
  ?member . OPTIONAL { ?member osmm:loc ?loc . } }`` (updateRelLoc.py:112)
* ``SELECT ?key ?id WHERE { VALUES ?key { ... } ?id osmdt:P16 ?key . }``
  (updateUsageStats.py:98)

This module parses exactly that subset — triple patterns, VALUES inline
data, OPTIONAL, FILTER NOT EXISTS, scalar FILTER comparisons, DISTINCT,
LIMIT — and translates it to DataFrame algebra over a ``(s, p, o)``
triples table:

* triple pattern → filtered scan of the triples table (constants become
  pushed-down equality predicates; variables become column aliases)
* shared variables between patterns → equi-join keys (Catalyst owns the
  join order; every pattern scan prunes to 3 columns)
* ``OPTIONAL`` → left outer join on the shared variables
* ``FILTER NOT EXISTS`` → left anti join
* ``VALUES`` → a literal DataFrame joined in (the driver-side IN-list of
  the reference's 2000-id chunks — no chunking needed here)

Terms are kept in TTL surface form (prefixed names as-is, string
literals double-quoted), matching the statement rows osm2ttl emits, so
query results are byte-comparable with converter output.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

# ---------------------------------------------------------------------------
# triple store
# ---------------------------------------------------------------------------


def triples_from_statements(rows: DataFrame, subject_col: str = "subject",
                            stmt_col: str = "stmt") -> DataFrame:
    """osm2ttl statement rows (subject, ord, stmt='pred object') →
    (s, p, o) triples. The object keeps its TTL surface form
    ('"literal"', '"typed"^^xsd:integer', 'osmnode:5')."""
    pred = F.substring_index(F.col(stmt_col), " ", 1)
    obj = F.expr(f"substring({stmt_col}, length(split({stmt_col}, ' ')[0]) + 2)")
    return rows.select(
        F.col(subject_col).alias("s"), pred.alias("p"), obj.alias("o")
    )


# ---------------------------------------------------------------------------
# parser
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Var:
    name: str


@dataclass(frozen=True)
class Term:
    """Constant term in TTL surface form."""
    text: str


@dataclass(frozen=True)
class AggRef:
    """Aggregate call inside a HAVING constraint."""
    func: str
    target: str
    distinct: bool


@dataclass(frozen=True)
class ExprVal:
    """Function-call expression used as a comparison side in FILTER
    (``FILTER (STRLEN(?x) > 2)``). Evaluates to a lexical value."""
    ast: tuple


@dataclass(frozen=True)
class Path:
    """Property-path expression at the predicate position.

    kind ∈ {'pred', 'inv', 'seq', 'alt', 'plus', 'star'}; parts holds
    the predicate text for 'pred' and child Paths otherwise."""
    kind: str
    parts: tuple


_TOKEN_RE = re.compile(
    r"""\s*(?:
    (?P<comment>\#[^\n]*)
  | (?P<string>(?:'(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*")
      (?:\^\^(?:<[^>]*>|[A-Za-z_][A-Za-z0-9_-]*:(?:[A-Za-z0-9_:.-]*[A-Za-z0-9_-])?)
        |@[A-Za-z][A-Za-z0-9-]*)?)
  | (?P<iri><[^>\s]*>)   # IRIs contain no whitespace — keeps '<'/'>'
                         # comparisons from tokenizing as one IRI
  | (?P<var>\?[A-Za-z_][A-Za-z0-9_]*)
  | (?P<pname>[A-Za-z_][A-Za-z0-9_-]*:(?:[A-Za-z0-9_:.-]*[A-Za-z0-9_-])?)
  | (?P<word>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<num>-?[0-9]+(?:\.[0-9]+)?)
  | (?P<punct>!=|<=|>=|&&|\|\||[{}().=<>*;,+/^|!?])
)""",
    re.X,
)


def _tokenize(text: str):
    pos, out = 0, []
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m or m.end() == pos:
            if text[pos:].strip():
                raise ValueError(f"SPARQL tokenizer stuck at: {text[pos:pos+30]!r}")
            break
        pos = m.end()
        kind = m.lastgroup
        if kind == "comment":
            continue
        out.append((kind, m.group(kind)))
    return out


class _Parser:
    def __init__(self, tokens):
        self.toks = tokens
        self.i = 0

    def peek(self, k=0):
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        self.i += 1
        return t

    def eat_word(self, word: str) -> bool:
        kind, val = self.peek()
        if kind == "word" and val.upper() == word:
            self.i += 1
            return True
        return False

    def expect(self, kind, val=None):
        k, v = self.next()
        if k != kind or (val is not None and v != val):
            raise ValueError(f"expected {kind} {val!r}, got {k} {v!r}")
        return v

    # ---- grammar ----

    def parse_query(self):
        while self.eat_word("PREFIX"):
            self.next()  # pname (e.g. 'osmm:')
            self.next()  # iri
        q = self.parse_select_core()
        if self.peek()[0] is not None:
            # silent acceptance of unsupported trailing clauses would
            # return wrong results — fail loudly
            raise ValueError(f"unsupported trailing syntax: {self.peek()!r}")
        return q

    def parse_select_core(self):
        """SELECT … WHERE { … } + solution modifiers; stops at the
        first token it doesn't own (top level: end of input; subquery:
        the enclosing group's '}')."""
        if not self.eat_word("SELECT"):
            raise ValueError("only SELECT queries are supported")
        distinct = self.eat_word("DISTINCT")
        proj = []
        while True:
            kind, val = self.peek()
            if kind == "var":
                proj.append(("var", self.next()[1][1:]))
            elif kind == "punct" and val == "*":
                self.next()
                proj = None
            elif kind == "punct" and val == "(":
                # (COUNT(?x) AS ?cnt) aggregate or (expr AS ?x)
                # expression projection
                self.next()
                nk, nv = self.peek()
                if not (nk == "word" and nv.upper() in (
                    "COUNT", "SUM", "AVG", "MIN", "MAX",
                    "GROUP_CONCAT", "SAMPLE",
                )):
                    expr = self._expr()
                    if not self.eat_word("AS"):
                        raise ValueError(
                            "expression projection requires AS ?alias"
                        )
                    alias = self.expect("var")[1:]
                    self.expect("punct", ")")
                    proj.append(("expr", expr, alias))
                    continue
                func = self.expect("word").upper()
                self.expect("punct", "(")
                agg_distinct = self.eat_word("DISTINCT")
                k, v = self.peek()
                if k == "punct" and v == "*":
                    self.next()
                    target = "*"
                    if func != "COUNT":
                        raise ValueError(f"{func}(*) is not valid SPARQL")
                elif k == "var":
                    target = self.next()[1][1:]
                else:
                    raise ValueError(f"bad aggregate argument {k} {v!r}")
                sep = " "  # GROUP_CONCAT's spec default separator
                if self.peek() == ("punct", ";"):
                    if func != "GROUP_CONCAT":
                        raise ValueError(f"{func} takes no SEPARATOR")
                    self.next()
                    if not self.eat_word("SEPARATOR"):
                        raise ValueError("expected SEPARATOR after ';'")
                    self.expect("punct", "=")
                    raw = self.expect("string")
                    sep = raw[1:-1]
                self.expect("punct", ")")
                if not self.eat_word("AS"):
                    raise ValueError("aggregate projection requires AS ?alias")
                alias = self.expect("var")[1:]
                self.expect("punct", ")")
                proj.append(("agg", func, target, agg_distinct, alias, sep))
            else:
                break
        self.eat_word("WHERE")
        group = self.parse_group()
        group_by = []
        if self.eat_word("GROUP"):
            if not self.eat_word("BY"):
                raise ValueError("GROUP must be followed by BY")
            while self.peek()[0] == "var":
                group_by.append(self.next()[1][1:])
            if not group_by:
                raise ValueError("empty GROUP BY")
        having = None
        if self.eat_word("HAVING"):
            self.expect("punct", "(")
            having = self._filter_expr()
            self.expect("punct", ")")
        order = []
        if self.eat_word("ORDER"):
            if not self.eat_word("BY"):
                raise ValueError("ORDER must be followed by BY")
            while True:
                kind, val = self.peek()
                if kind == "var":
                    order.append((self.next()[1][1:], True))
                elif kind == "word" and val.upper() in ("ASC", "DESC"):
                    self.next()
                    asc = val.upper() == "ASC"
                    self.expect("punct", "(")
                    order.append((self.expect("var")[1:], asc))
                    self.expect("punct", ")")
                else:
                    break
            if not order:
                raise ValueError("empty ORDER BY")
        limit = None
        offset = 0
        # LIMIT/OFFSET accepted in either order (spec allows both)
        for _ in range(2):
            if self.eat_word("LIMIT"):
                limit = int(self.expect("num"))
            elif self.eat_word("OFFSET"):
                offset = int(self.expect("num"))
        if self.eat_word("VALUES"):
            # trailing VALUES clause (spec §18.2.4.2): joins the query
            # PATTERN before projection/modifiers — append as a block
            group.append(self._parse_values())
        return {"distinct": distinct, "proj": proj, "group": group,
                "group_by": group_by, "having": having, "order": order,
                "limit": limit, "offset": offset}

    def parse_group(self):
        self.expect("punct", "{")
        blocks = []
        while True:
            kind, val = self.peek()
            if kind == "punct" and val == "}":
                self.next()
                return blocks
            if kind == "punct" and val == "{":
                nk, nv = self.peek(1)
                if nk == "word" and nv.upper() == "SELECT":
                    # subquery: evaluated bottom-up, only its projected
                    # vars join the outer group (spec §12)
                    self.next()
                    sub = self.parse_select_core()
                    self.expect("punct", "}")
                    blocks.append(("subquery", sub))
                    if self.peek() == ("punct", "."):
                        self.next()
                    continue
                # group graph pattern: { A } [UNION { B }]...
                branches = [self.parse_group()]
                while self.eat_word("UNION"):
                    branches.append(self.parse_group())
                blocks.append(
                    ("union", branches) if len(branches) > 1
                    else ("subgroup", branches[0])
                )
                if self.peek() == ("punct", "."):
                    self.next()
            elif kind == "word" and val.upper() == "VALUES":
                self.next()
                blocks.append(self._parse_values())
            elif kind == "word" and val.upper() == "BIND":
                self.next()
                self.expect("punct", "(")
                expr = self._expr()
                if not self.eat_word("AS"):
                    raise ValueError("BIND requires AS ?var")
                var = self.expect("var")[1:]
                self.expect("punct", ")")
                blocks.append(("bind", var, expr))
            elif kind == "word" and val.upper() == "OPTIONAL":
                self.next()
                blocks.append(("optional", self.parse_group()))
            elif kind == "word" and val.upper() == "FILTER":
                self.next()
                if self.eat_word("NOT"):
                    if not self.eat_word("EXISTS"):
                        raise ValueError("FILTER NOT must be followed by EXISTS")
                    blocks.append(("not_exists", self.parse_group()))
                elif self.eat_word("EXISTS"):
                    blocks.append(("exists", self.parse_group()))
                elif (
                    self.peek()[0] == "word"
                    and self.peek()[1].upper() in (self._STR_FNS + ("BOUND",))
                ):
                    # FILTER fn(args) — no extra parens around the call
                    blocks.append(("filter", self._unary_expr()))
                else:
                    self.expect("punct", "(")
                    blocks.append(("filter", self._filter_expr()))
                    self.expect("punct", ")")
            elif kind == "word" and val.upper() == "MINUS":
                self.next()
                blocks.append(("minus", self.parse_group()))
            elif kind == "word" and val.upper() == "GRAPH":
                self.next()
                k2, _v2 = self.peek()
                g = Var(self.next()[1][1:]) if k2 == "var" else self._term()
                blocks.append(("graph", g, self.parse_group()))
            elif kind == "word" and val.upper() == "SERVICE":
                # federated query (SPARQL 1.1 Federation §2): SERVICE
                # [SILENT] <endpoint> { group }
                self.next()
                silent = bool(self.eat_word("SILENT"))
                k2, _v2 = self.peek()
                ep = Var(self.next()[1][1:]) if k2 == "var" else self._term()
                blocks.append(("service", silent, ep, self.parse_group()))
            else:
                # triples-same-subject: ``?s p1 o1, o2; p2 o3 .`` — ';'
                # repeats the subject for another predicate-object pair,
                # ',' repeats subject+predicate for another object
                # (SPARQL 1.1 §4.2.1/§4.2.2; the reference's own
                # maintenance artifact add_osmt_to_meta.sparql:10-11
                # uses both). Expansion to flat triples here keeps the
                # translator unchanged.
                s = self._term()
                while True:
                    p = self._path()
                    while True:
                        o = self._term()
                        blocks.append(("triple", (s, p, o)))
                        if self.peek() == ("punct", ","):
                            self.next()
                            continue
                        break
                    if self.peek() == ("punct", ";"):
                        self.next()
                        # trailing ';' before '.' or '}' is legal
                        if self.peek() in (("punct", "."), ("punct", "}")):
                            break
                        continue
                    break
                if self.peek() == ("punct", "."):
                    self.next()

    def _parse_values(self):
        """Body of a VALUES clause (the keyword already consumed):
        single-var ``VALUES ?x { t... }`` or tuple form ``VALUES
        (?a ?b) { (t1 t2)... }`` (updateUsageStats.py:125 — per-id
        counter rows)."""
        if self.peek() == ("punct", "("):
            self.next()
            vars_ = []
            while self.peek()[0] == "var":
                vars_.append(self.next()[1][1:])
            self.expect("punct", ")")
            self.expect("punct", "{")
            rows = []
            while self.peek() == ("punct", "("):
                self.next()
                row = []
                while self.peek() != ("punct", ")"):
                    row.append(self._term())
                self.next()
                if len(row) != len(vars_):
                    raise ValueError("VALUES row arity mismatch")
                rows.append(row)
            self.expect("punct", "}")
            return ("values_tuple", vars_, rows)
        var = self.expect("var")[1:]
        self.expect("punct", "{")
        terms = []
        while self.peek() != ("punct", "}"):
            terms.append(self._term())
        self.next()
        return ("values", var, terms)

    def _path(self):
        """Predicate position: plain Var/Term, or a property path —
        alternatives of sequences of (optionally inverse, optionally
        +/*-starred) atoms: ``^a/b+|c``."""
        alts = [self._path_seq()]
        while self.peek() == ("punct", "|"):
            self.next()
            alts.append(self._path_seq())
        if len(alts) == 1:
            return alts[0]
        if any(isinstance(a, Var) for a in alts):
            raise ValueError("variable inside a property path")
        return Path("alt", tuple(self._as_path(a) for a in alts))

    def _path_seq(self):
        atoms = [self._path_atom()]
        while self.peek() == ("punct", "/"):
            self.next()
            atoms.append(self._path_atom())
        if len(atoms) == 1:
            return atoms[0]
        if any(isinstance(a, Var) for a in atoms):
            raise ValueError("variable inside a property path")
        return Path("seq", tuple(self._as_path(a) for a in atoms))

    @staticmethod
    def _as_path(t):
        if isinstance(t, Path):
            return t
        if isinstance(t, Term):
            return Path("pred", (t.text,))
        raise ValueError("variable inside a property path")

    def _path_atom(self):
        inv = self.peek() == ("punct", "^")
        if inv:
            self.next()
        if self.peek() == ("punct", "!"):
            # negated property set (SPARQL 1.1 §9.1): !iri, !^iri, or
            # !(iri1|^iri2|...) — forward members restrict forward
            # edges, inverse members restrict reversed edges
            self.next()
            fwd: list[str] = []
            invs: list[str] = []

            def one_member():
                m_inv = self.peek() == ("punct", "^")
                if m_inv:
                    self.next()
                if self.peek() == ("word", "a"):
                    self.next()
                    t = Term("rdf:type")
                else:
                    t = self._term()
                if not isinstance(t, Term):
                    raise ValueError(
                        "negated property set members must be IRIs"
                    )
                (invs if m_inv else fwd).append(t.text)

            if self.peek() == ("punct", "("):
                self.next()
                one_member()
                while self.peek() == ("punct", "|"):
                    self.next()
                    one_member()
                self.expect("punct", ")")
            else:
                one_member()
            out = Path("negset", (tuple(fwd) or None, tuple(invs) or None))
            kind, val = self.peek()
            if kind == "punct" and val in ("+", "*", "?"):
                self.next()
                out = Path(
                    {"+": "plus", "*": "star", "?": "opt"}[val], (out,)
                )
            if inv:
                out = Path("inv", (out,))
            return out
        if self.peek() == ("word", "a"):
            # 'a' ≡ rdf:type (Turtle/SPARQL shorthand), predicate
            # position only
            self.next()
            t = Term("rdf:type")
        else:
            t = self._term()
        kind, val = self.peek()
        starred = kind == "punct" and val in ("+", "*", "?")
        if isinstance(t, Var):
            if inv or starred:
                raise ValueError("variable inside a property path")
            return t
        out = t
        if starred:
            self.next()
            out = Path(
                {"+": "plus", "*": "star", "?": "opt"}[val],
                (self._as_path(out),),
            )
        if inv:
            out = Path("inv", (self._as_path(out),))
        return out

    def _term(self):
        kind, val = self.next()
        if kind == "var":
            return Var(val[1:])
        if kind == "string":
            # normalize to the double-quoted TTL surface form, keeping
            # any ^^datatype or @lang suffix ('"10"^^xsd:integer',
            # '"Wien"@de')
            quote = val[0]
            end = val.rfind(quote)
            return Term('"' + val[1:end] + '"' + val[end + 1:])
        if kind in ("pname", "iri", "num"):
            return Term(val)
        if kind == "punct" and val == "[":  # pragma: no cover (not emitted)
            raise ValueError("blank nodes not supported")
        raise ValueError(f"unexpected term {kind} {val!r}")

    _STR_FNS = ("CONTAINS", "STRSTARTS", "STRENDS", "REGEX")

    _EXPR_FNS = {
        # name → (min_args, max_args)
        "STR": (1, 1), "CONCAT": (1, 99), "IRI": (1, 1), "URI": (1, 1),
        "STRLEN": (1, 1), "UCASE": (1, 1), "LCASE": (1, 1),
        "SUBSTR": (2, 3), "REPLACE": (3, 3),
        "STRBEFORE": (2, 2), "STRAFTER": (2, 2),
        "LANG": (1, 1), "DATATYPE": (1, 1),
        "STRLANG": (2, 2), "STRDT": (2, 2),
    }

    def _expr(self):
        """BIND/projection expression subset: term or a call from
        ``_EXPR_FNS`` (the spec §17.4 string functions real endpoint
        queries use, incl. the reference's maintenance artifact
        add_osmt_to_meta.sparql:17 ``BIND (iri(concat(...)) as
        ?value)``). Function results are SIMPLE literals (lexical
        values); IRI()/URI() bind the '<...>' surface form."""
        kind, val = self.peek()
        if kind == "word" and val.upper() in self._EXPR_FNS:
            fn = self.next()[1].upper()
            lo, hi = self._EXPR_FNS[fn]
            self.expect("punct", "(")
            args = [self._expr()]
            while self.peek() == ("punct", ","):
                self.next()
                args.append(self._expr())
            self.expect("punct", ")")
            if not (lo <= len(args) <= hi):
                raise ValueError(f"{fn} takes {lo}..{hi} arguments")
            if fn == "STR":
                return ("str", args[0])
            if fn in ("IRI", "URI"):  # URI() is the spec alias
                return ("iri", args[0])
            if fn == "CONCAT":
                return ("concat", args)
            return ("fn", fn, args)
        return ("term", self._term())

    def _filter_expr(self):
        """Boolean expression AST: ``||`` of ``&&`` of unary terms
        (SPARQL precedence); ``!`` and parenthesized subexpressions in
        the unary position. Nodes: ('or', [..]) / ('and', [..]) /
        ('not', x) / ('bound', var) / comparison tuples."""
        clauses = [self._and_expr()]
        while self.peek() == ("punct", "||"):
            self.next()
            clauses.append(self._and_expr())
        return clauses[0] if len(clauses) == 1 else ("or", clauses)

    def _and_expr(self):
        clauses = [self._unary_expr()]
        while self.peek() == ("punct", "&&"):
            self.next()
            clauses.append(self._unary_expr())
        return clauses[0] if len(clauses) == 1 else ("and", clauses)

    def _unary_expr(self):
        kind, val = self.peek()
        if kind == "punct" and val == "!":
            self.next()
            return ("not", self._unary_expr())
        if kind == "punct" and val == "(":
            self.next()
            e = self._filter_expr()
            self.expect("punct", ")")
            return e
        if kind == "word" and val.upper() == "BOUND":
            self.next()
            self.expect("punct", "(")
            var = self.expect("var")[1:]
            self.expect("punct", ")")
            return ("bound", var)
        return self._comparison()

    _AGG_FNS = ("COUNT", "SUM", "AVG", "MIN", "MAX", "GROUP_CONCAT",
                "SAMPLE")

    def _comparison(self):
        kind, val = self.peek()
        if kind == "word" and val.upper() in self._STR_FNS:
            fn = self.next()[1].upper()
            self.expect("punct", "(")
            left = self._term()
            self.expect("punct", ",")
            right = self._term()
            self.expect("punct", ")")
            return ("fn:" + fn, left, right)
        left = self._term_or_agg()
        kind, val = self.peek()
        if kind == "word" and val.upper() in ("IN", "NOT"):
            neg = val.upper() == "NOT"
            self.next()
            if neg and not self.eat_word("IN"):
                raise ValueError("NOT must be followed by IN in a filter")
            self.expect("punct", "(")
            terms = []
            while self.peek() != ("punct", ")"):
                terms.append(self._term())
                if self.peek() == ("punct", ","):
                    self.next()
            self.next()
            return ("not_in" if neg else "in", left, terms)
        kind, op = self.next()
        if kind != "punct" or op not in ("=", "!=", "<", ">", "<=", ">="):
            raise ValueError(f"unsupported filter operator {op!r}")
        right = self._term_or_agg()
        return (op, left, right)

    def _term_or_agg(self):
        """A comparison side: plain term, a string-function call
        (lexical value), or — inside HAVING — an aggregate call like
        COUNT(?m)."""
        kind, val = self.peek()
        if (
            kind == "word"
            and val.upper() in self._EXPR_FNS
            and val.upper() not in ("MIN", "MAX")
            and self.peek(1) == ("punct", "(")
        ):
            return ExprVal(self._expr())
        if (
            kind == "word"
            and val.upper() in self._AGG_FNS
            and self.peek(1) == ("punct", "(")
        ):
            func = self.next()[1].upper()
            self.next()
            distinct = self.eat_word("DISTINCT")
            if self.peek() == ("punct", "*"):
                self.next()
                target = "*"
            else:
                target = self.expect("var")[1:]
            self.expect("punct", ")")
            return AggRef(func, target, distinct)
        return self._term()


def parse_select(query: str) -> dict:
    return _Parser(_tokenize(query)).parse_query()


# ---------------------------------------------------------------------------
# translator
# ---------------------------------------------------------------------------


class SparqlEngine:
    """Executes the parsed subset against a (s, p, o) triples DataFrame."""

    def __init__(self, triples: DataFrame, endpoints: dict | None = None):
        # optional named-graph column: a (s, p, o, g) quads store
        # enables GRAPH <iri> / GRAPH ?var; the default graph is the
        # DISTINCT union of all named graphs (documented subset)
        if "g" in triples.columns:
            self.quads = triples.select("s", "p", "o", "g")
            self.triples = triples.select("s", "p", "o").distinct()
        else:
            self.quads = None
            self.triples = triples.select("s", "p", "o")
        # every BGP pattern scans the store, so an N-pattern query
        # replays the store's DERIVATION plan N times. For a COMPUTED
        # store (TTL statement generation through Python stages —
        # measured the dominant cost of every multi-pattern query) one
        # localCheckpoint pins a single materialization. For a plain
        # file/relation-backed store the re-scan is the BETTER plan: a
        # checkpoint wall would break predicate pushdown of pattern
        # constants into the scan (plan-tested), and each pattern then
        # reads only its predicate's rows. The route is decided by
        # whether the plan crosses into Python.
        if self._has_python_stage(triples):
            self.triples = self.triples.localCheckpoint(eager=False)
            if self.quads is not None:
                self.quads = self.quads.localCheckpoint(eager=False)
        self._gvar: str | None = None
        # SERVICE endpoint registry: iri -> SparqlEngine or triples
        # DataFrame (federation spec §2.2; transport is out of scope in
        # this engine — an endpoint IS another dataset)
        self.endpoints: dict[str, SparqlEngine] = {}
        for iri, ep in (endpoints or {}).items():
            self.endpoints[iri] = (
                ep if isinstance(ep, SparqlEngine) else SparqlEngine(ep)
            )

    @staticmethod
    def _has_python_stage(df: DataFrame) -> bool:
        # physical-plan markers: scalar python UDFs render generically
        # in the analyzed plan, but every python crossing is explicit
        # once planned (planning runs no job)
        try:
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception:  # pragma: no cover - defensive
            return False
        return any(
            marker in plan
            for marker in (
                "MapInPandas", "EvalPython", "FlatMapGroupsInPandas",
                "pythonUDF", "MapInArrow", "PythonUDF",
            )
        )

    def select(self, query: str) -> DataFrame:
        return self._run_core(parse_select(query))

    def ask(self, query: str) -> bool:
        """ASK { group } → does at least one solution exist (spec
        §16.3). Evaluates the group and probes one row."""
        p = _Parser(_tokenize(query))
        while p.eat_word("PREFIX"):
            p.next()
            p.next()
        if not p.eat_word("ASK"):
            raise ValueError("not an ASK query")
        group = p.parse_group()
        if p.peek()[0] is not None:
            raise ValueError(f"unsupported trailing syntax: {p.peek()!r}")
        cur = self._group(group, None)
        return bool(cur is not None and cur.head(1))

    def describe(self, query: str) -> DataFrame:
        """DESCRIBE (?var | resource)+ [WHERE { group }] → every triple
        whose SUBJECT is a described resource (spec §16.4 leaves the
        description form to the implementation; subject-triples is the
        common choice). Vars resolve through the WHERE bindings."""
        p = _Parser(_tokenize(query))
        while p.eat_word("PREFIX"):
            p.next()
            p.next()
        if not p.eat_word("DESCRIBE"):
            raise ValueError("not a DESCRIBE query")
        vars_: list[str] = []
        consts: list[str] = []
        while True:
            kind, val = p.peek()
            if kind == "var":
                vars_.append(p.next()[1][1:])
            elif kind in ("pname", "iri"):
                consts.append(p.next()[1])
            else:
                break
        if not vars_ and not consts:
            raise ValueError("DESCRIBE needs at least one resource")
        group = None
        if p.eat_word("WHERE"):
            group = p.parse_group()
        if p.peek()[0] is not None:
            raise ValueError(f"unsupported trailing syntax: {p.peek()!r}")
        spark = self.triples.sparkSession
        parts = []
        if consts:
            parts.append(
                spark.createDataFrame([(c,) for c in consts], "s string")
            )
        if vars_:
            if group is None:
                raise ValueError("DESCRIBE with variables needs WHERE")
            bindings = self._group(group, None)
            for v in vars_:
                if v not in bindings.columns:
                    raise ValueError(f"?{v} is not bound in WHERE")
                parts.append(bindings.select(F.col(v).alias("s")))
        resources = parts[0]
        for extra in parts[1:]:
            resources = resources.unionByName(extra)
        return self.triples.join(
            resources.distinct(), "s", "left_semi"
        )

    def construct(self, query: str) -> DataFrame:
        """CONSTRUCT { template } WHERE { group } → the instantiated
        (s, p, o) graph, RDF set semantics (spec §16.2). Solutions that
        leave a template variable unbound (OPTIONAL) drop that triple,
        not the solution."""
        p = _Parser(_tokenize(query))
        while p.eat_word("PREFIX"):
            p.next()
            p.next()
        if not p.eat_word("CONSTRUCT"):
            raise ValueError("not a CONSTRUCT query")
        tpl = p.parse_group()
        if not p.eat_word("WHERE"):
            raise ValueError("CONSTRUCT needs a WHERE group")
        where = p.parse_group()
        if p.peek()[0] is not None:
            raise ValueError(f"unsupported trailing syntax: {p.peek()!r}")
        if any(kind != "triple" for kind, *_ in tpl):
            raise ValueError("CONSTRUCT templates may contain only triples")
        if any(isinstance(t, Path) for _, triple in tpl for t in triple):
            raise ValueError("property paths are not allowed in templates")
        bindings = self._group(where, None)
        out = _instantiate_template(
            tpl, bindings, self.triples.sparkSession, allow_unbound=True
        )
        return out.filter(
            F.col("s").isNotNull() & F.col("p").isNotNull()
            & F.col("o").isNotNull()
        ).dropDuplicates(["s", "p", "o"])

    def _run_core(self, q: dict) -> DataFrame:
        cur = self._group(q["group"], None)
        if cur is None:
            raise ValueError("empty WHERE group")
        if q["proj"] is not None:
            has_agg = any(p[0] == "agg" for p in q["proj"])
            if has_agg or q["group_by"]:
                if any(p[0] == "expr" for p in q["proj"]):
                    raise ValueError(
                        "expression projections cannot mix with"
                        " aggregation (use BIND before grouping)"
                    )
                cur = self._aggregate(cur, q)
            elif q.get("having") is not None:
                raise ValueError("HAVING requires aggregation")
            else:
                cols = []
                for p in q["proj"]:
                    if p[0] == "var":
                        cols.append(F.col(p[1]))
                    else:  # (expr AS ?alias) — BIND-style projection
                        cols.append(self._expr_col(p[1]).alias(p[2]))
                cur = cur.select(*cols)
        elif q["group_by"]:
            raise ValueError("GROUP BY requires an explicit projection")
        if q["distinct"]:
            cur = cur.distinct()
        if q["order"]:
            cur = cur.orderBy(
                *[F.col(v).asc() if asc else F.col(v).desc()
                  for v, asc in q["order"]]
            )
        if q.get("offset"):
            cur = cur.offset(q["offset"])
        if q["limit"] is not None:
            cur = cur.limit(q["limit"])
        return cur

    def _aggregate(self, cur: DataFrame, q: dict) -> DataFrame:
        """GROUP BY + aggregate projection → groupBy().agg().

        COUNT counts bound (non-null) bindings; COUNT(*) counts
        solutions; SUM/AVG/MIN/MAX compare by VALUE (TTL decoration
        stripped, non-numeric → NULL and ignored — SPARQL drops
        type-errors from aggregates). Output types: COUNT → long,
        others → double (documented subset surface)."""
        plain = [p[1] for p in q["proj"] if p[0] == "var"]
        extra = set(plain) - set(q["group_by"])
        if extra:
            raise ValueError(
                f"projected vars {sorted(extra)} are neither grouped nor aggregated"
            )
        exprs = []
        for p in q["proj"]:
            if p[0] != "agg":
                continue
            _, func, target, distinct, alias, sep = p
            exprs.append(
                self._agg_col(func, target, distinct, sep).alias(alias)
            )
        if not exprs:
            raise ValueError("GROUP BY without any aggregate projection")
        # HAVING: aggregate calls in the constraint become HIDDEN agg
        # columns computed alongside the projection, filtered, dropped
        having = q.get("having")
        hidden: list[tuple] = []
        if having is not None:
            having = self._subst_agg_refs(having, hidden)
            for ref, name in hidden:
                exprs.append(
                    self._agg_col(ref.func, ref.target, ref.distinct, " ")
                    .alias(name)
                )
        gb = cur.groupBy(*q["group_by"]) if q["group_by"] else cur.groupBy()
        out = gb.agg(*exprs)
        if having is not None:
            out = out.filter(self._bool_col(having))
        return out.select(*[p[1] if p[0] == "var" else p[4] for p in q["proj"]])

    @classmethod
    def _agg_col(cls, func, target, distinct, sep):
        if func == "COUNT":
            if target == "*":
                return F.count(F.lit(1))
            if distinct:
                return F.countDistinct(target)
            return F.count(target)
        if func == "GROUP_CONCAT":
            # spec leaves element order undefined; this engine sorts
            # lexically so results are DETERMINISTIC across
            # partitionings (documented subset choice)
            vals = F.collect_set(target) if distinct else F.collect_list(target)
            return F.array_join(F.sort_array(vals), sep)
        if func == "SAMPLE":
            # any value is spec-conformant; min is the deterministic pick
            return F.min(target)
        if distinct:
            raise ValueError(f"DISTINCT with {func} not supported")
        num = cls._num_expr(F.col(target))
        return {"SUM": F.sum, "AVG": F.avg, "MIN": F.min, "MAX": F.max}[func](
            num
        )

    @classmethod
    def _subst_agg_refs(cls, e, hidden: list):
        """HAVING AST: replace AggRef nodes with Vars naming hidden agg
        columns (collected into ``hidden``)."""
        tag = e[0]
        if tag in ("or", "and"):
            return (tag, [cls._subst_agg_refs(x, hidden) for x in e[1]])
        if tag == "not":
            return ("not", cls._subst_agg_refs(e[1], hidden))
        if tag == "bound":
            return e
        op, left, right = e

        def side(t):
            if isinstance(t, AggRef):
                name = f"__h{len(hidden)}"
                hidden.append((t, name))
                return Var(name)
            return t

        if op in ("in", "not_in"):
            return (op, side(left), right)
        return (op, side(left), side(right))

    # ---- blocks ----

    def _group(self, blocks, cur: DataFrame | None) -> DataFrame | None:
        # SPARQL filters scope over the WHOLE group regardless of where
        # they appear textually (a FILTER may precede the triple that
        # binds its variable) — defer them to the end of the group.
        filters = [b for b in blocks if b[0] == "filter"]
        blocks = [b for b in blocks if b[0] != "filter"]
        for block in blocks:
            kind = block[0]
            if kind == "triple":
                cur = self._join(cur, self._scan(block[1]), "inner")
            elif kind == "values":
                _, var, terms = block
                spark = self.triples.sparkSession
                vals = spark.createDataFrame(
                    [(t.text,) for t in terms], f"{var} string"
                )
                cur = self._join(cur, vals, "inner")
            elif kind == "values_tuple":
                _, vars_, rows = block
                spark = self.triples.sparkSession
                schema = ", ".join(f"{v} string" for v in vars_)
                vals = spark.createDataFrame(
                    [tuple(t.text for t in row) for row in rows], schema
                )
                cur = self._join(cur, vals, "inner")
            elif kind == "optional":
                # spec §8.3.2 LeftJoin(Ω1, Ω2, expr): TOP-LEVEL filters
                # of the optional group join the LEFT-JOIN CONDITION —
                # they may reference outer vars, and a failing expr
                # keeps the left row with the optional vars unbound
                # (applying them after the join would instead drop it)
                opt_filters = [b for b in block[1] if b[0] == "filter"]
                inner = [b for b in block[1] if b[0] != "filter"]
                sub = self._group(inner, None)
                if not opt_filters:
                    cur = self._join(cur, sub, "left_outer")
                else:
                    cur = self._left_join_with_expr(
                        cur, sub, [b[1] for b in opt_filters]
                    )
            elif kind == "bind":
                _, var, expr = block
                if cur is None:
                    # BIND over the empty group: one empty solution
                    cur = self.triples.sparkSession.range(1).select(
                        self._expr_col(expr).alias(var)
                    )
                else:
                    if var in cur.columns:
                        raise ValueError(f"BIND re-binds ?{var}")
                    cur = cur.withColumn(var, self._expr_col(expr))
            elif kind == "subgroup":
                cur = self._join(cur, self._group(block[1], None), "inner")
            elif kind == "subquery":
                cur = self._join(cur, self._run_core(block[1]), "inner")
            elif kind == "union":
                # SPARQL UNION: bindings of every branch, missing vars
                # unbound (NULL) — unionByName with missing columns
                parts = [self._group(b, None) for b in block[1]]
                u = parts[0]
                for p in parts[1:]:
                    u = u.unionByName(p, allowMissingColumns=True)
                cur = self._join(cur, u, "inner")
            elif kind in ("not_exists", "exists"):
                sub = self._group(block[1], None)
                how = "left_anti" if kind == "not_exists" else "left_semi"
                shared = [c for c in cur.columns if c in sub.columns]
                if shared:
                    cur = cur.join(sub, shared, how)
                else:  # uncorrelated: keep all or none
                    nonempty = bool(sub.head(1))
                    if (kind == "not_exists") == nonempty:
                        cur = cur.limit(0)
            elif kind == "graph":
                if self.quads is None:
                    raise ValueError(
                        "GRAPH requires a quads store (s, p, o, g column)"
                    )
                g = block[1]
                if isinstance(g, Var):
                    # bind ?g per-triple: scans inside the group read
                    # the quads store and carry g as a shared variable
                    # — joins co-group on it, no per-graph driver loop
                    saved_gvar = self._gvar
                    self._gvar = g.name
                    try:
                        sub = self._group(block[2], None)
                    finally:
                        self._gvar = saved_gvar
                else:
                    # Fixed-IRI GRAPH pins the active graph for the
                    # whole inner group, even nested inside GRAPH ?var
                    # — clear _gvar so scans read the restricted
                    # triples, not the full quads store.
                    saved = self.triples
                    saved_gvar = self._gvar
                    self.triples = self.quads.filter(
                        F.col("g") == g.text
                    ).select("s", "p", "o")
                    self._gvar = None
                    try:
                        sub = self._group(block[2], None)
                    finally:
                        self.triples = saved
                        self._gvar = saved_gvar
                    if (
                        saved_gvar is not None
                        and saved_gvar not in sub.columns
                    ):
                        # GRAPH ?g { GRAPH <iri> { P } }: eval(P, iri)
                        # is independent of ?g, so ?g ranges over every
                        # named graph (spec §13.3 per-graph union).
                        names = self.quads.select(
                            F.col("g").alias(saved_gvar)
                        ).distinct()
                        sub = sub.crossJoin(F.broadcast(names))
                cur = self._join(cur, sub, "inner")
            elif kind == "service":
                # Federation §2.2: evaluate the group against the named
                # endpoint's dataset, then join with the outer bindings
                # (bottom-up semantics). §2.3 SILENT: any failure —
                # unknown endpoint or evaluation error — degrades to the
                # single empty solution, i.e. the join identity.
                _, silent, ep, body = block
                if isinstance(ep, Var):
                    raise ValueError(
                        "SERVICE with a variable endpoint is unsupported"
                    )
                iri = ep.text.strip("<>")
                eng = self.endpoints.get(iri)
                if eng is None:
                    if silent:
                        continue
                    raise ValueError(f"unknown SERVICE endpoint {iri}")
                try:
                    sub = eng._group(body, None)
                except Exception:
                    if not silent:
                        raise
                    continue
                cur = self._join(cur, sub, "inner")
            elif kind == "minus":
                # SPARQL MINUS (spec §8.3.3): drop left solutions
                # compatible with some right solution SHARING at least
                # one variable; with disjoint domains MINUS removes
                # NOTHING (the defining difference from NOT EXISTS,
                # which would wipe the left side when the right matched
                # anything). The shared-var case is a left anti join.
                sub = self._group(block[1], None)
                shared = [c for c in cur.columns if c in sub.columns]
                if shared:
                    # §8.3.3 compatibility: solutions must agree on
                    # every MUTUALLY BOUND shared var (NULL on either
                    # side is compatible) AND share ≥1 both-bound var
                    # (non-empty domain intersection) — a plain
                    # null-rejecting equi-join would keep left rows the
                    # spec removes when a shared var is unbound.
                    la, ra = cur.alias("__ml"), sub.alias("__mr")
                    agree = F.lit(True)
                    both = F.lit(False)
                    for c in shared:
                        lc = F.col(f"__ml.{c}")
                        rc = F.col(f"__mr.{c}")
                        agree = agree & (
                            (lc == rc) | lc.isNull() | rc.isNull()
                        )
                        both = both | (lc.isNotNull() & rc.isNotNull())
                    cur = la.join(ra, agree & both, "left_anti")
        for block in filters:
            cur = cur.filter(self._bool_col(block[1]))
        return cur

    @classmethod
    def _bool_col(cls, e):
        """FILTER AST → boolean Column. Spark's three-valued logic
        matches SPARQL's error propagation: an error (NULL) is dropped
        by filter, T||E = T, F&&E = F."""
        tag = e[0]
        if tag == "or":
            col = cls._bool_col(e[1][0])
            for sub in e[1][1:]:
                col = col | cls._bool_col(sub)
            return col
        if tag == "and":
            col = cls._bool_col(e[1][0])
            for sub in e[1][1:]:
                col = col & cls._bool_col(sub)
            return col
        if tag == "not":
            return ~cls._bool_col(e[1])
        if tag == "bound":
            return F.col(e[1]).isNotNull()
        return cls._cmp(*e)

    def _scan(self, pattern) -> DataFrame:
        if self._gvar is not None:
            # inside GRAPH ?g: scan the quads store, binding g
            if isinstance(pattern[1], Path):
                raise ValueError(
                    "property paths inside GRAPH ?var are unsupported"
                )
            return self._scan_positions(
                self.quads,
                tuple(zip(("s", "p", "o"), pattern))
                + (("g", Var(self._gvar)),),
            )
        if isinstance(pattern[1], Path):
            return self._scan_positions(
                self._path_edges(pattern[1]),
                (("s", pattern[0]), ("o", pattern[2])),
            )
        return self._scan_positions(
            self.triples, tuple(zip(("s", "p", "o"), pattern))
        )

    @staticmethod
    def _scan_positions(scan: DataFrame, pos_terms) -> DataFrame:
        names: dict[str, str] = {}
        for pos, term in pos_terms:
            if isinstance(term, Var):
                if term.name in names.values():
                    # repeated var inside one pattern (?x ?p ?x)
                    other = next(k for k, v in names.items() if v == term.name)
                    scan = scan.filter(F.col(pos) == F.col(other))
                else:
                    names[pos] = term.name
            else:
                scan = scan.filter(F.col(pos) == F.lit(term.text))
        return scan.select(*[F.col(p).alias(v) for p, v in names.items()])

    PATH_MAX_ITERS = 25

    def _path_edges(self, p: Path) -> DataFrame:
        """Property path → its (s, o) edge relation.

        ``+``/``*`` closures iterate by SQUARING (reach ∪ reach⋈reach —
        path length doubles per pass, so 25 passes cover 2^25-step
        chains) with a localCheckpoint per pass and an aggregate-only
        convergence check, the duplicate_clusters/fixpoint pattern.
        ``*``'s zero-length paths bind x→x for every term occurring in
        the graph (subject or object), the documented subset of the
        spec's all-RDF-terms rule."""
        if p.kind == "pred":
            return self.triples.filter(F.col("p") == p.parts[0]).select("s", "o")
        if p.kind == "negset":
            # §9.1 negated property set: forward edges whose predicate
            # is outside the forward member set, unioned with reversed
            # edges outside the inverse member set — each direction
            # present only if the expression names members for it
            fwd, inv = p.parts
            outs = []
            if fwd is not None:
                outs.append(
                    self.triples.filter(~F.col("p").isin(*fwd))
                    .select("s", "o")
                )
            if inv is not None:
                outs.append(
                    self.triples.filter(~F.col("p").isin(*inv)).select(
                        F.col("o").alias("s"), F.col("s").alias("o")
                    )
                )
            out = outs[0]
            for e in outs[1:]:
                out = out.unionByName(e)
            return out
        if p.kind == "inv":
            e = self._path_edges(p.parts[0])
            return e.select(F.col("o").alias("s"), F.col("s").alias("o"))
        if p.kind == "seq":
            cur = self._path_edges(p.parts[0])
            for nxt in p.parts[1:]:
                e = self._path_edges(nxt).select(
                    F.col("s").alias("__m"), F.col("o").alias("__o2")
                )
                cur = (
                    cur.join(e, cur["o"] == e["__m"])
                    .select("s", F.col("__o2").alias("o"))
                )
            return cur
        if p.kind == "alt":
            parts = [self._path_edges(b) for b in p.parts]
            out = parts[0]
            for e in parts[1:]:
                out = out.unionByName(e)
            return out
        if p.kind in ("plus", "star"):
            edges = self._path_edges(p.parts[0]).distinct().localCheckpoint(
                eager=True
            )
            reach = edges
            n_prev = reach.count()
            for _ in range(self.PATH_MAX_ITERS):
                step = (
                    reach.alias("a")
                    .join(reach.alias("b"), F.col("a.o") == F.col("b.s"))
                    .select(F.col("a.s").alias("s"), F.col("b.o").alias("o"))
                )
                reach = reach.unionByName(step).distinct().localCheckpoint(
                    eager=True
                )
                n_now = reach.count()
                if n_now == n_prev:
                    break
                n_prev = n_now
            else:
                raise ValueError(
                    f"property path closure did not converge in "
                    f"{self.PATH_MAX_ITERS} squaring passes"
                )
            if p.kind == "star":
                reach = reach.unionByName(self._identity_edges()).distinct()
            return reach
        if p.kind == "opt":
            # zero-or-one: the edge set ∪ x→x for every graph term
            return (
                self._path_edges(p.parts[0])
                .unionByName(self._identity_edges())
                .distinct()
            )
        raise ValueError(f"unknown path kind {p.kind!r}")  # pragma: no cover

    def _identity_edges(self) -> DataFrame:
        """x→x for every term occurring in the graph (subject or
        object) — the zero-length path of ``*`` and ``?``."""
        nodes = (
            self.triples.select(F.col("s").alias("n"))
            .unionByName(self.triples.select(F.col("o").alias("n")))
            .distinct()
        )
        return nodes.select(F.col("n").alias("s"), F.col("n").alias("o"))

    @classmethod
    def _left_join_with_expr(cls, cur, sub, filter_asts):
        """LeftJoin with a filter expression in the join condition.
        The optional side's columns are renamed to unique temps so the
        condition (shared-var equality ∧ filters, filter vars resolved
        to the optional side when bound there) needs no DataFrame
        aliases, then renamed back with the shared lanes kept from the
        left."""
        if cur is None:
            raise ValueError("group cannot start with OPTIONAL")
        shared = [c for c in cur.columns if c in sub.columns]
        mapping = {c: "__opt__" + c for c in sub.columns}
        renamed = sub.select(
            *[F.col(c).alias(mapping[c]) for c in sub.columns]
        )
        cond = F.lit(True)
        for c in shared:
            cond = cond & (F.col(c) == F.col(mapping[c]))
        for ast in filter_asts:
            cond = cond & cls._bool_col(cls._rename_vars(ast, mapping))
        joined = cur.join(renamed, cond, "left_outer")
        return joined.select(
            *cur.columns,
            *[F.col(mapping[c]).alias(c) for c in sub.columns
              if c not in shared],
        )

    @classmethod
    def _rename_vars(cls, e, mapping: dict):
        """Rewrite var references in a FILTER AST through ``mapping``
        (vars not in the mapping — outer bindings — stay as-is)."""
        tag = e[0]
        if tag in ("or", "and"):
            return (tag, [cls._rename_vars(x, mapping) for x in e[1]])
        if tag == "not":
            return ("not", cls._rename_vars(e[1], mapping))
        if tag == "bound":
            return ("bound", mapping.get(e[1], e[1]))
        op, left, right = e

        def side(t):
            if isinstance(t, Var) and t.name in mapping:
                return Var(mapping[t.name])
            if isinstance(t, ExprVal):
                return ExprVal(cls._rename_expr_vars(t.ast, mapping))
            return t

        if op in ("in", "not_in"):
            return (op, side(left), right)
        return (op, side(left), side(right))

    @classmethod
    def _rename_expr_vars(cls, e, mapping: dict):
        kind = e[0]
        if kind == "term":
            t = e[1]
            if isinstance(t, Var) and t.name in mapping:
                return ("term", Var(mapping[t.name]))
            return e
        if kind in ("str", "iri"):
            return (kind, cls._rename_expr_vars(e[1], mapping))
        if kind == "concat":
            return ("concat", [cls._rename_expr_vars(a, mapping) for a in e[1]])
        if kind == "fn":
            return ("fn", e[1],
                    [cls._rename_expr_vars(a, mapping) for a in e[2]])
        return e  # pragma: no cover

    @staticmethod
    def _join(cur, other, how):
        if cur is None:
            if how != "inner":
                raise ValueError("group cannot start with OPTIONAL")
            return other
        shared = [c for c in cur.columns if c in other.columns]
        if not shared:
            if how == "left_outer":
                # SPARQL left join with no shared vars must KEEP every
                # left row (right columns unbound when the optional group
                # is empty) — a crossJoin would annihilate them
                return cur.join(other, F.lit(True), "left_outer")
            return cur.crossJoin(other)
        return cur.join(other, shared, how)

    _NUM_RE = re.compile(r"^-?[0-9]+(\.[0-9]+)?$")

    @classmethod
    def _lexical_numeric(cls, text: str) -> str | None:
        """Numeric lexical form of a TTL term, or None: bare numbers
        pass through; typed literals like '"10"^^xsd:integer' and plain
        quoted numbers strip to their lexical value."""
        s = re.sub(r"\^\^\S+$", "", text)
        if len(s) >= 2 and s[0] == '"' and s[-1] == '"':
            s = s[1:-1]
        return s if cls._NUM_RE.match(s) else None

    @staticmethod
    def _lex_expr(col):
        """TTL surface form → lexical string value: strip ^^datatype /
        @lang decoration and surrounding quotes (SPARQL STR() and the
        string functions operate on the lexical form); STR(<iri>) is
        the IRI string without the angle brackets (spec §17.4.2.5)."""
        s = F.regexp_replace(col, r"\^\^\S+$", "")
        s = F.regexp_replace(s, r'@[A-Za-z][A-Za-z0-9-]*$', "")
        s = F.regexp_replace(s, r'^"(.*)"$', "$1")
        return F.regexp_replace(s, r"^<(.*)>$", "$1")

    @classmethod
    def _expr_col(cls, e):
        """BIND expression AST → Column. CONCAT/STR produce SIMPLE
        literals (plain strings, no TTL decoration) per the spec."""
        kind = e[0]
        if kind == "term":
            # a bare term keeps its surface form (Var copy / literal
            # verbatim); CONCAT/STR below strip to lexical values
            t = e[1]
            if isinstance(t, Var):
                return F.col(t.name)
            return F.lit(t.text)
        if kind == "str":
            return cls._lex_expr(cls._expr_col(e[1]))
        if kind == "iri":
            # IRI(str) → full-IRI surface form '<...>' — the form the
            # triple store keeps for non-prefixed IRIs, so the bound
            # value joins/compares against stored terms correctly
            return F.concat(
                F.lit("<"), cls._lex_expr(cls._expr_col(e[1])), F.lit(">")
            )
        if kind == "concat":
            return F.concat(*[cls._lex_expr(cls._expr_col(a)) for a in e[1]])
        if kind == "fn":
            _, fn, args = e
            if fn in ("LANG", "DATATYPE", "STRDT", "STRLANG"):
                # these inspect/construct the SURFACE form
                raw = cls._expr_col(args[0])
                if fn == "LANG":
                    # '' for literals without a tag (spec §17.4.2.6)
                    return F.regexp_extract(
                        raw, r"@([A-Za-z][A-Za-z0-9-]*)$", 1
                    )
                if fn == "DATATYPE":
                    dt = F.regexp_extract(raw, r"\^\^(\S+)$", 1)
                    return (
                        F.when(dt != "", dt)
                        .when(
                            raw.rlike(r"@[A-Za-z][A-Za-z0-9-]*$"),
                            F.lit("rdf:langString"),
                        )
                        .when(raw.rlike(r'^".*"$'), F.lit("xsd:string"))
                        .otherwise(F.lit(None).cast("string"))
                    )
                lex0 = cls._lex_expr(raw)
                if fn == "STRLANG":
                    tag = cls._lex_expr(cls._expr_col(args[1]))
                    return F.concat(F.lit('"'), lex0, F.lit('"@'), tag)
                # STRDT: the datatype argument keeps its surface form
                # (prefixed name or <iri>)
                return F.concat(
                    F.lit('"'), lex0, F.lit('"^^'), cls._expr_col(args[1])
                )
            lex = [cls._lex_expr(cls._expr_col(a)) for a in args]
            if fn == "STRLEN":
                # xsd:integer result kept as a bare numeric string —
                # the engine's simple-literal lane; numeric FILTERs
                # coerce it back (documented subset)
                return F.length(lex[0]).cast("string")
            if fn == "UCASE":
                return F.upper(lex[0])
            if fn == "LCASE":
                return F.lower(lex[0])
            if fn == "SUBSTR":
                start = lex[1].try_cast("int")
                if len(lex) == 3:
                    return F.substring(lex[0], start, lex[2].try_cast("int"))
                # XPath substring: to end of string
                return F.substring(lex[0], start, F.length(lex[0]))
            if fn == "REPLACE":
                return F.regexp_replace(lex[0], lex[1], lex[2])
            if fn == "STRBEFORE":
                pos = F.instr(lex[0], lex[1])
                return F.when(
                    pos > 0, F.substring(lex[0], F.lit(1), pos - 1)
                ).otherwise(F.lit(""))  # spec: '' when no match
            if fn == "STRAFTER":
                pos = F.instr(lex[0], lex[1])
                return F.when(
                    pos > 0,
                    F.substring(
                        lex[0], pos + F.length(lex[1]),
                        F.length(lex[0]),
                    ),
                ).otherwise(F.lit(""))
            raise ValueError(f"unknown function {fn!r}")  # pragma: no cover
        raise ValueError(f"unknown expression {kind!r}")  # pragma: no cover

    @staticmethod
    def _lexical_of(text: str) -> str:
        s = re.sub(r"\^\^\S+$", "", text)
        if s and s[0] in "\"'":
            s = re.sub(r"@[A-Za-z][A-Za-z0-9-]*$", "", s)
        if len(s) >= 2 and s[0] == '"' and s[-1] == '"':
            s = s[1:-1]
        elif len(s) >= 2 and s[0] == "<" and s[-1] == ">":
            s = s[1:-1]
        return s

    @staticmethod
    def _num_expr(col):
        """Column in TTL surface form → DOUBLE: strip ^^datatype suffix
        and surrounding quotes, then cast (non-numeric lexical forms →
        NULL → comparison never matches, SPARQL type-error semantics).
        The leading string cast makes this safe on already-numeric
        columns too (HAVING's hidden COUNT lanes)."""
        s = F.regexp_replace(col.cast("string"), r"\^\^\S+$", "")
        s = F.regexp_replace(s, r'^"(.*)"$', "$1")
        return s.try_cast("double")  # ANSI-safe: malformed → NULL, not error

    @classmethod
    def _cmp(cls, op, left, right):
        if isinstance(left, AggRef) or isinstance(right, AggRef):
            raise ValueError(
                "aggregate calls are only allowed inside HAVING"
            )
        if op in ("in", "not_in"):
            lexical = isinstance(left, ExprVal)
            if lexical:
                # function call on the left: compare LEXICAL values
                # (_expr_col yields plain lexical strings)
                col = cls._expr_col(left.ast)
            else:
                col = (
                    F.col(left.name) if isinstance(left, Var)
                    else F.lit(left.text)
                )

            def rside(t):
                if isinstance(t, Var):
                    return (
                        cls._lex_expr(F.col(t.name)) if lexical
                        else F.col(t.name)
                    )
                return F.lit(cls._lexical_of(t.text) if lexical else t.text)

            lits = [t for t in right if not isinstance(t, Var)]
            vs = [t for t in right if isinstance(t, Var)]
            c = (
                col.isin([
                    cls._lexical_of(t.text) if lexical else t.text
                    for t in lits
                ]) if lits else F.lit(False)
            )
            for v in vs:
                c = c | (col == rside(v))
            return ~c if op == "not_in" else c
        if op.startswith("fn:"):
            # string functions operate on LEXICAL values (decoration
            # stripped both sides)
            def lex(t):
                if isinstance(t, Var):
                    return cls._lex_expr(F.col(t.name))
                return F.lit(cls._lexical_of(t.text))

            if op == "fn:REGEX":
                if not isinstance(right, Term):
                    raise ValueError("REGEX pattern must be a literal")
                return lex(left).rlike(cls._lexical_of(right.text))
            a, b = lex(left), lex(right)
            return {
                "fn:CONTAINS": a.contains(b),
                "fn:STRSTARTS": a.startswith(b),
                "fn:STRENDS": a.endswith(b),
            }[op]
        # numeric comparison applies when either side is a numeric
        # literal — bare ('10') or typed ('"10"^^xsd:integer'); the
        # column side strips its TTL decoration before the double cast,
        # so typed-literal values in the store compare by VALUE, not
        # surface form. Var-vs-var ordering stays lexicographic on the
        # TTL surface form — documented subset behavior.
        numeric = op in ("<", ">", "<=", ">=") and any(
            isinstance(t, Term) and cls._lexical_numeric(t.text) is not None
            for t in (left, right)
        )
        has_expr = any(isinstance(t, ExprVal) for t in (left, right))

        def col_or_lit(t):
            if isinstance(t, ExprVal):
                col = cls._expr_col(t.ast)  # already a lexical value
                return cls._num_expr(col) if numeric else col
            if isinstance(t, Var):
                if numeric:
                    return cls._num_expr(F.col(t.name))
                if has_expr:
                    # a function result is a lexical value; compare the
                    # var/literal side lexically too, not by surface form
                    return cls._lex_expr(F.col(t.name))
                return F.col(t.name)
            if numeric:
                lex = cls._lexical_numeric(t.text)
                if lex is None:  # non-numeric vs numeric: type error → no match
                    return F.lit(None).cast("double")
                return F.lit(float(lex))
            if has_expr:
                return F.lit(cls._lexical_of(t.text))
            return F.lit(t.text)

        a, b = col_or_lit(left), col_or_lit(right)
        return {
            "=": a == b, "!=": a != b, "<": a < b, ">": a > b,
            "<=": a <= b, ">=": a >= b,
        }[op]


# ---------------------------------------------------------------------------
# SPARQL UPDATE (S9): DELETE/INSERT templates + WHERE bindings
# ---------------------------------------------------------------------------


def parse_update(query: str) -> list:
    """Parse a ';'-separated sequence of update operations, each
    ``DELETE { tpl } INSERT { tpl } WHERE { group }`` (either template
    optional). Covers the reference's update shapes: the subject-level
    MERGE preserving osmm:task (RdfUpdateHandler.py:42-57), ground
    INSERT ... WHERE {} (ibid:58), and delete-by-predicate-VALUES
    (updateUsageStats.py:111)."""
    p = _Parser(_tokenize(query))
    while p.eat_word("PREFIX"):
        p.next()
        p.next()
    ops = []
    while p.peek()[0] is not None:
        delete_tpl = insert_tpl = None
        if p.eat_word("DELETE"):
            delete_tpl = p.parse_group()
        if p.eat_word("INSERT"):
            insert_tpl = p.parse_group()
        if delete_tpl is None and insert_tpl is None:
            raise ValueError("expected DELETE or INSERT")
        if not p.eat_word("WHERE"):
            raise ValueError("update operation needs a WHERE group")
        where = p.parse_group()
        for tpl in (delete_tpl, insert_tpl):
            if tpl and any(kind != "triple" for kind, *_ in tpl):
                raise ValueError("update templates may contain only triples")
            if tpl and any(
                isinstance(t, Path) for _, triple in tpl for t in triple
            ):
                raise ValueError("property paths are not allowed in templates")
        ops.append((delete_tpl, insert_tpl, where))
        while p.peek() == ("punct", ";"):
            p.next()
    return ops


def _instantiate_template(
    tpl, bindings: DataFrame | None, spark, allow_unbound: bool = False
) -> DataFrame:
    """DELETE/INSERT/CONSTRUCT template → (s, p, o) rows, one per
    (template triple × WHERE solution). Constant-only triples batch
    into ONE literal DataFrame — a 2000-triple ground INSERT (the
    reference's chunk size, RdfUpdateHandler.py:58) must not become a
    2000-way union of single-row scans. ``allow_unbound`` (CONSTRUCT):
    an unbound template variable yields NULL for the caller to drop;
    updates keep the hard error."""
    parts = []
    ground = []
    for _kind, pat in [(b[0], b[1]) for b in tpl]:
        if not any(isinstance(t, Var) for t in pat):
            ground.append(tuple(t.text for t in pat))
            continue
        exprs = []
        for pos, term in zip(("s", "p", "o"), pat):
            if isinstance(term, Var):
                if bindings is None or term.name not in bindings.columns:
                    if not allow_unbound:
                        raise ValueError(
                            f"unbound variable ?{term.name} in template"
                        )
                    exprs.append(F.lit(None).cast("string").alias(pos))
                else:
                    exprs.append(F.col(term.name).alias(pos))
            else:
                exprs.append(F.lit(term.text).alias(pos))
        if bindings is None:
            raise ValueError("variable template with empty WHERE")
        parts.append(bindings.select(*exprs))
    if ground:
        parts.append(
            spark.createDataFrame(ground, "s string, p string, o string")
        )
    if not parts:
        raise ValueError("empty template")
    out = parts[0]
    for extra in parts[1:]:
        out = out.unionByName(extra)
    return out


class SparqlUpdateEngine(SparqlEngine):
    """SPARQL UPDATE as a pure function: ``update()`` returns the NEW
    triple set (RDF set semantics — duplicates collapse). The caller
    commits it through PartitionedSnapshotTable, turning
    the endpoint's in-place mutation into a versioned table commit —
    the Spark-native S9 sink."""

    def update(self, query: str) -> DataFrame:
        cur = self.triples
        for delete_tpl, insert_tpl, where in parse_update(query):
            bindings = SparqlEngine(cur)._group(where, None) if where else None
            if bindings is not None and not bindings.head(1):
                # zero WHERE solutions: the whole operation (including
                # ground template triples) instantiates zero times
                continue

            def instantiate(tpl):
                return _instantiate_template(tpl, bindings, cur.sparkSession)

            if delete_tpl:
                cur = cur.join(
                    instantiate(delete_tpl).dropDuplicates(["s", "p", "o"]),
                    ["s", "p", "o"],
                    "left_anti",
                )
            if insert_tpl:
                cur = cur.unionByName(instantiate(insert_tpl)).dropDuplicates(
                    ["s", "p", "o"]
                )
        return cur
