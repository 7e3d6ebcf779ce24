"""SQL front end for the reference grammar (SURVEY.md §2 table A).

Port of the reference's regex parser (reference:
evaluation/utils.py::parse_query) to our Query IR. The accepted
fragment is intentionally identical to the reference:

  SELECT <agg-list | COUNT(*)>
  FROM t1 [a1], t2 [a2], ...
  WHERE <FK equi-joins AND conjunctive predicates>
  [GROUP BY t.a, ...]

Predicates: =, <>, !=, <, <=, >, >=, BETWEEN, IN, IS [NOT] NULL —
conjunctions only, as in the reference, PLUS one extension the
reference lacks (SURVEY.md §2 table E): a parenthesized disjunction
group ``(t.c < 5 OR t.c > 45)``. Same-column groups compile to one
OR-condition the model plane evaluates as a range union; cross-column
groups (up to MAX_OR_DISJUNCTS disjuncts) are answered exactly by the
exact plane and via inclusion-exclusion by the model plane.
Aggregates: COUNT(*), SUM/AVG over a column or product of columns,
and +/- arithmetic between aggregates (reference A12/A13).

The exact plane does NOT need this parser for arbitrary SQL — Spark
SQL parses anything — but routing the reference grammar through our
own IR is what lets the model plane answer the same query without
touching data.

How it works: one regex pass splits the text into tokens and gives
each a one-character code (see _KEYWORD_CODES). The grammar — clause
layout, AND/OR/comma splits, paren groups, predicate shapes — is
string searches and regexes over the code string, whose positions are
token indices. A string literal is one token, so keywords inside it
are never grammar; a literal's value is parsed from its raw text.
Anything outside the grammar raises ValueError naming the fragment.
"""

from __future__ import annotations

import datetime as _dt
import re

from .query import (
    AggOperation,
    AggregationOperationType,
    AggregationType,
    Condition,
    Query,
    QueryType,
)
from .schema import SchemaGraph

# One findall pass yields, per token, its leading whitespace and the
# token in the group of its kind: number; name (word or t.c — the
# inner group holds the dot of a t.c); string / operator /
# punctuation; or a stray character (an unmatched quote, say), which
# is an error.
_TOKEN_RE = re.compile(
    r"""(\s*)(?:
        ( (?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?(?![\w.]) )
      | ( \w+(?:(\.)\w+)? )
      | ( '(?:[^']|'')*' | "[^"]*" | <= | >= | <> | != | [=<>(),*+-] )
      | ( \S ) )""",
    re.VERBOSE,
)
# (kind, code) of the third group's tokens; anything else there is a
# quoted string
_OTHER_KINDS = {
    **dict.fromkeys(("<=", ">=", "<>", "!=", "<", ">"), ("op", "<")),
    "=": ("op", "="),
    **{c: (c, c) for c in "(),*+-"},
}

# Token codes. A token at the base depth of a code string gets:
#   n number   q t.c   w other word   s string   = =   < other comparison
#   ( ) , * + -  themselves
#   A AND  O OR  N NOT  B BETWEEN  I IN  J IS  U NULL  L LIKE  D DATE
#   K AS  T DISTINCT  C SUM/AVG/COUNT  S SELECT  F FROM  W WHERE
#   G GROUP  Y BY  H HAVING  R ORDER  X LIMIT/OFFSET/UNION/INTERSECT/EXCEPT
# A token inside a paren group (deeper than the base) is "." — or ";"
# for a comma — so every shape below sees one paren level at a time.
_KEYWORD_CODES = {
    "AND": "A", "OR": "O", "NOT": "N", "BETWEEN": "B", "IN": "I", "IS": "J",
    "NULL": "U", "LIKE": "L", "DATE": "D", "AS": "K", "DISTINCT": "T",
    "SUM": "C", "AVG": "C", "COUNT": "C", "SELECT": "S", "FROM": "F",
    "WHERE": "W", "GROUP": "G", "BY": "Y", "HAVING": "H", "ORDER": "R",
    **dict.fromkeys(("LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT"), "X"),
}
_CLAUSES_RE = re.compile(
    r"S([^SFWGH]+)F([^SFWGH]+)(?:W([^SFWGH]+))?(?:GY([^SFWGH]+))?(?:H([^SFWGH]+))?"
)
_HAVING_RE = re.compile(r"[=<](.+)")
_DATE_LITERAL_RE = re.compile(r"^DATE\s+'(.+)'$", re.IGNORECASE)
_ISO_DATE_RE = re.compile(r"\d{4}-\d{2}-\d{2}")

# A token is the plain tuple (kind, text, space, depth, code): space is
# the whitespace before it, depth its paren nesting (a paren carries
# the depth outside it). A NamedTuple per token would cost more than
# the regex scan itself.
KIND, TEXT, SPACE, DEPTH, CODE = range(5)
_MARKED = frozenset({"NOT", "ORDER", "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT"})
_SINGLE_LITERALS = frozenset({"str", "num", "qual", "word"})
# enum members as module constants: each Enum.MEMBER lookup is a
# descriptor call, several per query on the hot path
_AGG_TYPES = {t.name: t for t in AggregationType}
_COUNT = AggregationType.COUNT
_OP = AggregationOperationType
_SIGN_OPS = {"": _OP.AGGREGATION, "+": _OP.PLUS, "-": _OP.MINUS}
_AQP, _CARDINALITY = QueryType.AQP, QueryType.CARDINALITY

# cross-column OR groups expand to 2^k - 1 inclusion-exclusion terms
# on the model plane — cap the width
MAX_OR_DISJUNCTS = 4


def _text(toks: list[tuple]) -> str:
    """The query text of consecutive tokens (whitespace between them
    kept, before the first dropped)."""
    return "".join([t[SPACE] + t[TEXT] for t in toks]).lstrip()


def _tokenize(sql: str) -> tuple[_Tokens, list[int]]:
    """-> (tokens at depth 0, indices of NOT and trailing-clause
    keywords)."""
    toks: list[tuple] = []
    codes: list[str] = []  # the depth-0 code string, built alongside
    marks: list[int] = []
    opens: list[int] = []  # indices of the unclosed '('
    add, add_code = toks.append, codes.append  # hot loop: bind once
    depth = 0
    for space, num, name, dot, other, stray in _TOKEN_RE.findall(sql):
        if dot:
            code = "q"
            add(("qual", name, space, depth, code))
        elif name:
            up = name.upper()
            if up in _MARKED:
                marks.append(len(toks))
            code = _KEYWORD_CODES.get(up, "w")
            add(("word", name, space, depth, code))
        elif other:
            kind, code = _OTHER_KINDS.get(other) or ("str", "s")
            if kind == "(":
                opens.append(len(toks))
                add((kind, other, space, depth, code))
                add_code("." if depth else code)
                depth += 1
                continue
            if kind == ")":
                if not opens:
                    raise ValueError(
                        f"unbalanced ')' in {(_text(toks) + space + other)[-30:]!r}"
                    )
                opens.pop()
                depth -= 1
            add((kind, other, space, depth, code))
        elif num:
            code = "n"
            add(("num", num, space, depth, code))
        else:
            rest = sql[len(_text(toks)) + len(space):]
            if stray in "'\"":
                raise ValueError(f"unterminated string literal: {rest!r}")
            raise ValueError(f"unexpected character {stray!r} at {rest[:30]!r}")
        add_code(code if not depth else ";" if code == "," else ".")
    if opens:
        raise ValueError(f"unbalanced '(' in {_text(toks[opens[-1]:])[:30]!r}")
    return _Tokens(toks, 0, "".join(codes)), marks


class _Tokens:
    """Tokens of a query, or of the inside of one paren group, with
    their code string at that depth: ``codes[i]`` is toks[i]'s code,
    so a regex match span over ``codes`` is a token index range."""

    __slots__ = ("toks", "depth", "codes")

    def __init__(self, toks: list[tuple], depth: int, codes: str) -> None:
        self.toks, self.depth, self.codes = toks, depth, codes

    def inside(self, i: int, j: int) -> _Tokens:
        """The tokens between the paren pair at ``i`` and ``j - 1``."""
        toks, depth = self.toks[i + 1: j - 1], self.depth + 1
        codes = [t[CODE] if t[DEPTH] == depth else ";" if t[KIND] == "," else "." for t in toks]
        return _Tokens(toks, depth, "".join(codes))

    def raw(self, i: int, j: int) -> str:
        """The query text of tokens [i, j)."""
        return _text(self.toks[i:j])

    def split(self, i: int, j: int, sep: str) -> list[tuple[int, int]]:
        """The ranges between the ``sep`` codes in [i, j)."""
        out, codes = [], self.codes
        k = codes.find(sep, i, j)
        while k >= 0:
            out.append((i, k))
            i = k + 1
            k = codes.find(sep, i, j)
        out.append((i, j))
        return out

    def conjuncts(self, i: int, j: int) -> list[tuple[int, int]]:
        """Split [i, j) on AND, keeping the AND that belongs to a
        BETWEEN."""
        codes = self.codes
        if codes.find("B", i, j) < 0:
            return self.split(i, j, "A")
        out = []
        k = codes.find("A", i, j)
        while k >= 0:
            b = codes.rfind("B", i, k)
            if b < 0 or codes.find("A", b, k) >= 0:  # not BETWEEN's AND
                out.append((i, k))
                i = k + 1
            k = codes.find("A", k + 1, j)
        out.append((i, j))
        return out

    def is_group(self, i: int, j: int) -> bool:
        """True when [i, j) is one parenthesized group ``( ... )``."""
        return self.codes[i] == "(" and self.codes.find(")", i + 1, j) == j - 1

    def literal(self, i: int, j: int, context: tuple[int, int]):
        """One literal value: a single string / number / word token, a
        sign glued to a number, or ``DATE 'YYYY-MM-DD'``. Anything else
        (``5 5``, ``(5)``, nothing) raises instead of becoming a string
        that silently matches nothing."""
        toks = self.toks
        if j - i == 1 and toks[i][KIND] in _SINGLE_LITERALS:
            return _parse_literal(toks[i][TEXT])
        if j - i == 2:
            a, b = toks[i], toks[i + 1]
            if a[KIND] in ("+", "-") and b[KIND] == "num" and not b[SPACE]:
                return _parse_literal(a[TEXT] + b[TEXT])
            if a[CODE] == "D" and b[KIND] == "str":
                value = _parse_literal(self.raw(i, j))
                if b[TEXT][0] != "'" or not _is_iso_date(value):
                    raise ValueError(f"invalid DATE literal {self.raw(i, j)!r} (want 'YYYY-MM-DD')")
                return value
        raise ValueError(
            f"cannot parse literal {self.raw(i, j)!r} in {self.raw(*context)!r}"
        )


def _is_iso_date(value: str) -> bool:
    if not _ISO_DATE_RE.fullmatch(value):
        return False
    try:
        _dt.date.fromisoformat(value)
    except ValueError:  # 1995-13-45
        return False
    return True


def _parse_literal(text: str):
    first = text[:1]
    if first in ("'", '"') and text.endswith(first):
        # a doubled quote inside the literal is one quote character
        return text[1:-1].replace(first * 2, first)
    if first in ("D", "d"):
        m = _DATE_LITERAL_RE.match(text)
        if m:
            return m.group(1)
    if "." not in text:  # int() never accepts a '.': skip the raise
        try:
            return int(text)
        except ValueError:
            pass
    try:
        return float(text)
    except ValueError:
        return text


def _resolve(alias_map: dict[str, str], name: str) -> str:
    if name not in alias_map:
        raise ValueError(f"unknown table or alias: {name!r}")
    return alias_map[name]


def _parse_operand_product(
    inner: list[tuple], alias_map: dict[str, str], query: Query
) -> list[tuple[str, str]]:
    """``t.a * t.b * ...`` (or bare ``t.a``) -> [(table, col), ...]."""
    if len(inner) % 2 == 0 or (len(inner) > 1 and any(t[KIND] != "*" for t in inner[1::2])):
        raise ValueError(f"cannot parse aggregate operands {_text(inner)!r}")
    operands = []
    for tok in inner[::2]:
        name = tok[TEXT]
        if tok[KIND] == "qual":
            t, c = name.split(".")
            operands.append((_resolve(alias_map, t), c))
        elif tok[KIND] != "word":
            raise ValueError(f"cannot parse aggregate operand {name!r}")
        elif len(query.table_set) > 1:
            # the schema graph has no per-table column lists, and a
            # guessed owner mis-routes the model plane's anchor choice
            raise ValueError(
                f"unqualified aggregate operand {name!r} is ambiguous "
                "in a multi-table query; qualify it as table.column"
            )
        else:  # the single table
            operands.append((next(iter(query.table_set)), name))
    return operands


def _parse_select_list(
    t: _Tokens, i: int, j: int, alias_map: dict[str, str], query: Query
) -> None:
    toks, codes = t.toks, t.codes
    # SELECT COUNT(*) heads most reads; taking it directly saves 8% of
    # parse time on the estimate templates
    if codes[i:j] == "C(.)" and toks[i + 2][KIND] == "*" and toks[i][TEXT].upper() == "COUNT":
        query.aggregations.append(AggOperation(_SIGN_OPS[""], _COUNT, [], None, False))
        query.query_type = _AQP if query.group_bys else _CARDINALITY
        return
    aliases: set[str] = set()
    for a, b in t.split(i, j, ","):
        if a == b:
            raise ValueError(f"empty select item in {t.raw(i, j)!r}")
        alias = None
        if b - a > 2 and codes[b - 2] == "K" and toks[b - 1][KIND] == "word":
            alias = toks[b - 1][TEXT]
            if alias in aliases:
                raise ValueError(f"duplicate alias {alias!r} in the SELECT list")
            aliases.add(alias)
            b -= 2
        if codes[a:b] == "q":
            # bare output column t.c — legal ONLY as a group-by echo;
            # otherwise the query would silently compile to COUNT(*)
            # (pure projections are outside the grammar)
            tname, c = toks[a][TEXT].split(".")
            if (_resolve(alias_map, tname), c) not in query.group_bys:
                raise ValueError(
                    f"bare select column {t.raw(a, b)!r} is not in GROUP BY "
                    "(projections are outside the grammar)"
                )
            continue
        # aggregate arithmetic: SUM(a) - SUM(b) + SUM(c); inside the
        # parens every code is nested, so the first ")" closes
        k, sign = a, ""
        while True:
            close = codes.find(")", k + 2, b) if codes.startswith("C(", k) else -1
            if close < 0:
                raise ValueError(f"cannot parse select item: {t.raw(a, b)!r}")
            agg_type = _AGG_TYPES[toks[k][TEXT].upper()]
            inner = toks[k + 2: close]
            distinct = False
            if len(inner) > 1 and inner[0][CODE] == "T":
                # COUNT(DISTINCT t.c) — extension; single column only
                # (DISTINCT over products/lists is outside the grammar)
                if agg_type is not _COUNT:
                    raise ValueError(f"DISTINCT is only supported inside COUNT: {t.raw(a, b)!r}")
                distinct = True
                inner = inner[1:]
                if any(tok[KIND] in ("*", ",") for tok in inner):
                    raise ValueError(f"COUNT(DISTINCT ...) takes one column: {t.raw(a, b)!r}")
            if not inner:
                raise ValueError(f"cannot parse select item: {t.raw(a, b)!r}")
            operands: list[tuple[str, str]] = []
            if agg_type is not _COUNT or inner[0][KIND] != "*" or len(inner) > 1:
                operands = _parse_operand_product(inner, alias_map, query)
            query.aggregations.append(
                AggOperation(_SIGN_OPS[sign], agg_type, operands, alias, distinct)
            )
            if close + 1 == b:
                break
            sign, k = codes[close + 1], close + 2
            if sign != "+" and sign != "-":
                raise ValueError(f"cannot parse select item: {t.raw(a, b)!r}")
        query.query_type = _AQP
    # pure COUNT(*) single aggregate => cardinality query (reference
    # A15). COUNT(col) has NULL-skipping semantics and stays AQP.
    aggs = query.aggregations
    if len(aggs) == 1 and aggs[0].agg_type is _COUNT and not aggs[0].operands:
        if not query.group_bys:
            query.query_type = _CARDINALITY


def _match_predicate(
    t: _Tokens, i: int, j: int, alias_map: dict[str, str]
) -> Condition | None:
    """Match one simple (non-join) predicate on ``t.c``: comparison /
    [NOT] BETWEEN / [NOT] IN / IS [NOT] NULL / [NOT] LIKE, told apart
    by the code after the column. Returns None when nothing matches."""
    toks, codes = t.toks, t.codes
    if j - i < 3 or codes[i] != "q":
        return None
    key = codes[i + 1]
    tname, c = toks[i][TEXT].split(".")
    if key == "=" or key == "<":
        rhs = toks[i + 2]
        if j - i == 3 and rhs[KIND] == "qual" and not rhs[TEXT][0].isdigit():
            # a join inside a disjunction group (the conjunct path
            # matches joins first): never the string literal 't2.b'
            raise ValueError(f"join predicates are not allowed here: {t.raw(i, j)!r}")
        if j - i == 3 and rhs[KIND] in _SINGLE_LITERALS:  # the common case, inline
            value = _parse_literal(rhs[TEXT])
        else:
            value = t.literal(i + 2, j, (i, j))
        op = toks[i + 1][TEXT]
        return Condition(_resolve(alias_map, tname), c, "<>" if op == "!=" else op, value)
    if key == "J":
        rest = codes[i + 2: j]
        if rest == "U" or rest == "NU":
            op = "IS_NOT_NULL" if rest == "NU" else "IS_NULL"
            return Condition(_resolve(alias_map, tname), c, op)
        return None
    k, neg = (i + 2, "NOT_") if key == "N" else (i + 1, "")
    key = codes[k]
    if key == "B":
        a = codes.rfind("A", k + 1, j)  # the last AND: "x BETWEEN lo AND hi"
        if a <= k + 1 or a == j - 1:
            return None
        lo = t.literal(k + 1, a, (i, j))
        hi = t.literal(a + 1, j, (i, j))
        return Condition(_resolve(alias_map, tname), c, neg + "BETWEEN", (lo, hi))
    if key == "I":
        if not (j - k > 2 and t.is_group(k + 1, j)):
            return None
        items = [t.literal(a, b, (i, j)) for a, b in t.split(k + 2, j - 1, ";")]
        return Condition(_resolve(alias_map, tname), c, neg + "IN", items)
    if key == "L":
        pat = t.literal(k + 1, j, (i, j))
        if not isinstance(pat, str):
            raise ValueError(f"LIKE pattern must be a string literal: {t.raw(i, j)!r}")
        return Condition(_resolve(alias_map, tname), c, neg + "LIKE", pat)
    return None


def _parse_or_group(t: _Tokens, alias_map: dict[str, str]) -> Condition:
    """The inside of a disjunction group ``(t.c op v OR t.c BETWEEN a
    AND b OR ...)`` -> Condition(..., "OR", [sub-conditions]), a
    grammar extension (SURVEY.md §2 table E). The exact plane compiles
    it to an or-filter; the model plane answers SAME-column groups as
    one range union (spn/ranges.py::union_ranges) and CROSS-column
    groups by inclusion-exclusion over at most MAX_OR_DISJUNCTS
    disjuncts (SPNEnsemble)."""
    subs: list[Condition] = []
    codes = t.codes
    for i, j in t.split(0, len(codes), "O"):
        # a disjunct containing an AND beyond the single AND a BETWEEN
        # owns is a nested conjunction — outside the grammar
        allowed = 1 if codes.startswith("B", i + 1) or codes.startswith("NB", i + 1) else 0
        if codes.count("A", i, j) > allowed:
            raise ValueError(
                f"conjunctions inside disjunction groups are outside "
                f"the grammar: {t.raw(i, j)!r}"
            )
        cond = _match_predicate(t, i, j, alias_map)
        if cond is None:
            raise ValueError(f"cannot parse disjunct: {t.raw(i, j)!r}")
        subs.append(cond)
    if len(subs) == 1:
        return subs[0]
    keys = {(c.table, c.column) for c in subs}
    first = subs[0]
    if len(keys) == 1:
        return Condition(first.table, first.column, "OR", subs)
    # cross-column group: table is the shared table (None when the
    # disjuncts span tables — the exact compiler then applies the
    # filter post-join instead of pushing it into one scan); the model
    # plane expands these via inclusion-exclusion (SPNEnsemble)
    if len(subs) > MAX_OR_DISJUNCTS:
        raise ValueError(
            f"cross-column OR groups support at most {MAX_OR_DISJUNCTS} "
            f"disjuncts (got {len(subs)}): inclusion-exclusion terms "
            "grow exponentially"
        )
    tables = {c.table for c in subs}
    table = tables.pop() if len(tables) == 1 else None
    return Condition(table, None, "OR", subs)


def _parse_where(
    t: _Tokens, i: int, j: int, schema: SchemaGraph, alias_map: dict[str, str], query: Query
) -> None:
    """Conjuncts of [i, j): FK joins, predicates, OR groups, and
    redundant parens around conjunctions."""
    toks, codes = t.toks, t.codes
    add_condition = query.conditions.append
    for a, b in t.conjuncts(i, j):
        shape = codes[a:b]
        if shape == "q=q":
            (t1, a1), (t2, a2) = toks[a][TEXT].split("."), toks[a + 2][TEXT].split(".")
            if t1 in alias_map and t2 in alias_map:
                rel = schema.find_relationship(alias_map[t1], a1, alias_map[t2], a2)
                if rel is None:
                    raise ValueError(f"join {t.raw(a, b)!r} is not a declared FK edge")
                query.add_join_condition(rel.identifier)
                continue
            if not (t1[0].isdigit() or t2[0].isdigit()):
                # col = col with an unknown/typo'd alias: parsing the
                # RHS as a string literal would match zero rows
                raise ValueError(f"unknown table or alias in join {t.raw(a, b)!r}")
        elif shape[:1] == "(" and t.is_group(a, b):
            inner = t.inside(a, b)
            if "O" in inner.codes:
                add_condition(_parse_or_group(inner, alias_map))
            else:
                # redundant parens around a conjunction (or a single
                # predicate): "(t.a = 1 AND t.b = 2)" is two conjuncts
                _parse_where(inner, 0, len(inner.codes), schema, alias_map, query)
            continue
        cond = _match_predicate(t, a, b, alias_map)
        if cond is None:
            raise ValueError(f"cannot parse predicate: {t.raw(a, b)!r}")
        add_condition(cond)


def parse_query(sql: str, schema: SchemaGraph) -> Query:
    """(reference: evaluation/utils.py::parse_query). Raises ValueError
    on anything outside the reference grammar."""
    sql = sql.strip().rstrip(";").strip()
    t, marks = _tokenize(sql)
    toks, codes = t.toks, t.codes
    # unsupported trailing clauses fail LOUDLY: "... = 1 LIMIT 10"
    # must never end up inside a predicate's literal
    for k in marks:
        code = toks[k][CODE]
        if code == "X" or (code == "R" and k + 1 < len(toks) and toks[k + 1][CODE] == "Y"):
            clause = "ORDER BY" if code == "R" else toks[k][TEXT].upper()
            raise ValueError(
                f"{clause} is outside the IR grammar (use engine.sql / the exact plane for it)"
            )
    clauses = _CLAUSES_RE.fullmatch(codes)
    if clauses is None:
        raise ValueError(f"query outside the supported grammar: {sql!r}")

    query = Query()
    alias_map: dict[str, str] = {}
    for a, b in t.split(*clauses.span(2), ","):
        # a table, then an optional alias that is no keyword
        bad_alias = b - a == 2 and codes[a + 1] != "w"
        if b - a not in (1, 2) or toks[a][KIND] != "word" or bad_alias:
            raise ValueError(f"cannot parse FROM entry: {t.raw(a, b)!r}")
        tname = toks[a][TEXT]
        if tname not in schema.tables:
            raise ValueError(f"table {tname!r} not in schema graph")
        if tname in query.table_set:
            raise ValueError(
                f"table {tname!r} is listed twice in FROM (self-joins are outside the grammar)"
            )
        for name in (tname, toks[b - 1][TEXT]):
            if alias_map.setdefault(name, tname) != tname:
                raise ValueError(f"alias {name!r} names two tables in FROM")
        query.table_set.add(tname)

    if clauses.group(4):
        for a, b in t.split(*clauses.span(4), ","):
            if codes[a:b] != "q":
                raise ValueError(
                    f"cannot parse GROUP BY item {t.raw(a, b)!r} in "
                    f"{t.raw(*clauses.span(4))!r} (want table.column)"
                )
            tname, c = toks[a][TEXT].split(".")
            query.add_group_by(_resolve(alias_map, tname), c)

    _parse_select_list(t, *clauses.span(1), alias_map, query)

    if clauses.group(5):
        # HAVING extension (reference grammar has none): conjunctive
        # comparisons on aggregate output ALIASES — `HAVING cnt > 100
        # AND rev <= 5.5`; the exact plane filters after the aggregate,
        # the model plane its estimated rows.
        if not clauses.group(4):
            raise ValueError("HAVING requires GROUP BY")
        known = {op.alias for op in query.aggregations if op.alias}
        for a, b in t.conjuncts(*clauses.span(5)):
            m = _HAVING_RE.fullmatch(codes, a + 1, b)
            if a == b or toks[a][KIND] != "word" or m is None:
                raise ValueError(f"cannot parse HAVING predicate: {t.raw(a, b)!r}")
            alias, op = toks[a][TEXT], toks[a + 1][TEXT]
            if alias not in known:
                raise ValueError(
                    f"HAVING references {alias!r}, which is not an "
                    f"aggregate alias in the SELECT list ({sorted(known)})"
                )
            lit = t.literal(*m.span(1), (a, b))
            query.having.append((alias, "<>" if op == "!=" else op, lit))

    if clauses.group(3):
        i, j = clauses.span(3)
        # conjunctive grammar (reference A8) + ONE extension: OR is
        # legal only inside a parenthesized group (_parse_or_group).
        # NOT only inside IS NOT NULL / NOT IN / NOT BETWEEN / NOT LIKE
        if codes.find("O", i, j) >= 0:
            raise ValueError(
                "top-level OR is outside the grammar; disjunctions "
                "must be parenthesized groups, e.g. "
                "(t.c < 5 OR t.c > 45)"
            )
        for k in marks:  # NOT and trailing-clause keywords, at any depth
            after = toks[k + 1][CODE] if k + 1 < j else ""
            if i <= k < j and toks[k][CODE] == "N" and after not in ("U", "I", "B", "L"):
                raise ValueError(
                    "NOT is only supported as IS NOT NULL / NOT IN / "
                    "NOT BETWEEN / NOT LIKE"
                )
        _parse_where(t, i, j, schema, alias_map, query)

    if len(query.table_set) > 1 and len(query.relationship_set) < len(query.table_set) - 1:
        raise ValueError("FROM lists multiple tables but joins do not connect them")
    return query
