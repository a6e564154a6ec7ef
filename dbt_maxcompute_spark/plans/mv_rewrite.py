"""Automatic query rewrite over materialized views.

The reference records ``disable_rewrite`` per MV
(`/root/reference/dbt/adapters/maxcompute/relation_configs/
_materialized_view.py:24,116-117`) because the MaxCompute engine
rewrites user queries against MVs server-side unless told not to.
SURVEY §7 scoped that out of v1; this module is the scoped counterpart:

- **exact-text match**: the user query, normalized (case/whitespace/
  trailing semicolon), equals an MV's stored defining query → answer
  with a scan of the MV table.
- **container-rollup match**: both the MV and the user query are
  simple rollups (``SELECT ... FROM t [WHERE ...] GROUP BY ...``) over
  the SAME base table, the user's grouping keys are a subset of the
  MV's, and every user aggregate is derivable from an MV output column
  (SUM→SUM of sums, COUNT→SUM of counts, MIN→MIN, MAX→MAX). The
  rewrite re-aggregates the (rollup-cardinality) MV instead of
  re-scanning the (fact-cardinality) base table — at 100 TB that is
  the entire point of maintaining the MV.

Round 6 additions: **AVG decomposition** — a user ``avg(x)`` rewrites
when the MV materializes BOTH ``sum(x)`` and ``count(x)`` over the
identical argument text (``sum(sums)/sum(counts)`` is exact; plain
avg-of-avgs would weight groups wrongly, and an MV-side avg is never
re-aggregated) — and **HAVING**: a user HAVING re-applies over the
rewritten aggregates (aggregate calls map through the same MV-column
lookup, all other identifiers must be grouping keys or select
aliases); an MV whose own definition has HAVING stores post-filter
groups and only ever exact-text matches.

Anything else — expressions over aggregates, differently-written
joins, window functions — does NOT rewrite; the caller transparently
falls back to the original query. The grammar is deliberately tiny and
fail-closed: a parse miss means "no rewrite", never a wrong answer.

Known v1 caveat (documented, not silent): an *uncast* SUM over a
DECIMAL column re-aggregates through the MV's already-widened decimal,
so the rewritten result can carry a wider decimal type than direct
execution would; wrap sums in CAST(... AS DOUBLE/DECIMAL(p,s)) (the
suite's ``_dsum`` discipline does this anyway) to pin the type on both
paths. A WHERE clause in the user query may reference MV grouping
keys only (any other identifier blocks the rewrite: filters on
non-key columns are not answerable from the rollup).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from dbt_maxcompute_spark.plans.sqltext import (
    find_close,
    is_literal,
    is_quoted_ident,
    mask_sql,
    split_literals,
    split_top_level,
    strip_outer_parens,
    tokens,
    top_level_iter,
    unquote,
)

_SQL_KEYWORDS = frozenset(
    """and or not in like between is null true false case when then else end
    cast as date timestamp interval exists distinct""".split()
)

_ROLLUP_RX = re.compile(
    # <table> is the whole FROM text: a bare table name OR a join tree
    # ("a join b on ..."). Join-containing MVs rewrite when the user's
    # normalized FROM text is IDENTICAL to the MV's (plus the usual
    # key/aggregate/predicate containment) — equal text ⇒ equal
    # relation, so the match stays fail-closed; differently-written
    # but equivalent joins simply fall back to the base tables.
    r"^select\s+(?P<select>.+?)\s+from\s+(?P<table>.+?)"
    r"(?:\s+where\s+(?P<where>.+?))?"
    r"\s+group\s+by\s+(?P<group>[\w,\s.]+?)"
    r"(?:\s+having\s+(?P<having>.+?))?"
    r"(?:\s+order\s+by\s+(?P<order>.+?))?$",
    re.DOTALL,
)


def _norm(s: str) -> str:
    """Whitespace/case normalization that PRESERVES string literals
    (comments drop): normalized text is both compared (exact/containment
    match — still symmetric) and EMITTED into the rewritten SQL, where
    lowercasing a literal like 'R' would silently change the
    predicate's meaning."""
    parts = split_literals(s)
    s = "".join(p if i % 2 else re.sub(r"\s+", " ", p).lower() for i, p in enumerate(parts))
    return s.strip().rstrip(";").strip()


def _code(s: str) -> str:
    """``s`` with its string literals (and comments) removed."""
    return " ".join(split_literals(s)[::2])


_EMPTY_ITEM_RX = re.compile(r"(?:^|,)\s*(?:,|$)")


def _items(s: str) -> list[str] | None:
    """Top-level comma-separated items; None when a list item is empty
    (not valid SQL, so not in-grammar)."""
    mask = mask_sql(s)
    return None if _EMPTY_ITEM_RX.search(mask) else split_top_level(s, mask)


def _match(rx: re.Pattern, s: str) -> dict | None:
    """``rx`` matched over the mask of ``s`` (so no clause keyword is
    found inside a literal); groups sliced from ``s``, unmatched ones
    None."""
    m = rx.match(mask_sql(s))
    if m is None:
        return None
    return {k: s[m.start(k):m.end(k)] if v is not None else None for k, v in m.groupdict().items()}


@dataclass
class _Item:
    kind: str  # 'key' | 'agg'
    alias: str | None
    col: str | None = None  # key column
    func: str | None = None  # agg function
    arg: str | None = None  # normalized agg argument text (match key)
    cast_type: str | None = None  # outer CAST(... AS type) wrapper


@dataclass
class _Rollup:
    table: str
    items: list[_Item]
    group_keys: list[str]
    where: str | None
    order: str | None
    having: str | None = None


def _canon_expr(s: str) -> str:
    """EXPRESSION-normalized form (round-7 rewrite breadth): tokenize
    and re-join with single spaces so ``x+1`` == ``x + 1``, lowercase
    everything outside string literals, and drop identifier backticks.
    Purely lexical — no algebra (``2*x`` vs ``x*2`` stays unmatched,
    fail-closed). The output is valid SQL (tokens joined by spaces),
    so canonical text can be both compared AND emitted."""
    return " ".join(t if is_literal(t) else t.lower() for t in tokens(s))


def _parse_item(item: str) -> _Item | None:
    m = re.match(r"^(?P<body>.*)\s+as\s+(?P<alias>\w+)$", item, re.DOTALL)
    body, alias = (m["body"].strip(), m["alias"]) if m else (item, None)
    cast_type = None
    m = re.match(
        r"^cast\s*\((?P<inner>.*)\s+as\s+"
        r"(?P<type>\w+(?:\s*\(\s*\d+\s*(?:,\s*\d+)?\s*\))?)\s*\)$",
        body,
        re.DOTALL,
    )
    if m:
        body, cast_type = m["inner"].strip(), m["type"]
    m = re.match(r"^(?P<func>sum|count|min|max|avg)\s*\((?P<arg>.*)\)$", body, re.DOTALL)
    if m:
        arg = _canon_expr(_norm(m["arg"]))
        if m["func"] == "count" and arg == "1":
            arg = "*"  # count(1) ≡ count(*): same null-free semantics
        return _Item(
            kind="agg",
            alias=alias,
            func=m["func"],
            arg=arg,
            cast_type=cast_type,
        )
    if cast_type is None and re.fullmatch(r"[\w.]+", body):
        return _Item(kind="key", alias=alias, col=body)
    return None


def parse_rollup(sql: str) -> _Rollup | None:
    """Parse the restricted rollup grammar; None = not in-grammar."""
    m = _match(_ROLLUP_RX, _norm(sql))
    if not m or (raw_items := _items(m["select"])) is None:
        return None
    items = []
    for raw in raw_items:
        it = _parse_item(raw)
        if it is None:
            return None
        items.append(it)
    group_keys = [g.strip() for g in m["group"].split(",")]
    if not all(re.fullmatch(r"[\w.]+", g) for g in group_keys):
        return None
    return _Rollup(
        table=m["table"],
        items=items,
        group_keys=group_keys,
        where=m["where"].strip() if m["where"] else None,
        order=m["order"].strip() if m["order"] else None,
        having=m["having"].strip() if m["having"] else None,
    )


def _where_identifiers(where: str) -> set[str]:
    return {
        t
        for t in re.findall(r"[a-z_]\w*", _code(where))
        if t not in _SQL_KEYWORDS and not t.isdigit()
    }


def _conjuncts(where: str | None) -> list[str]:
    """Split a (normalized) WHERE into top-level AND conjuncts.

    Paren depth nests; a top-level OR makes the whole clause ONE
    conjunct (an OR is not decomposable into containment checks); the
    AND belonging to a BETWEEN is consumed by the BETWEEN, not treated
    as a split point. Purely syntactic — used for the containment test
    ``conjuncts(MV) ⊆ conjuncts(user)``, which is sound (equal text ⇒
    equal predicate) and fail-closed (a range implication like
    ``x > 5 ⇒ x > 0`` is NOT detected; the caller just skips the
    rewrite)."""
    if not where:
        return []
    # canonical tokens (round 7): operators split from operands, so
    # ``x>5`` and ``x > 5`` produce identical conjunct text
    mask = mask_sql(where)
    if top_level_iter(mask, r"\bor\b"):
        return [" ".join(tokens(where))]
    parts, start, between_pending = [], 0, 0
    for m in top_level_iter(mask, r"\b(?:between|and)\b"):
        if m.group().lower() == "between":
            between_pending += 1
        elif between_pending:
            between_pending -= 1  # the AND of a BETWEEN
        else:
            parts.append(where[start:m.start()])
            start = m.end()
    parts.append(where[start:])
    return [" ".join(toks) for p in parts if (toks := tokens(p))]


# re-aggregation function per user aggregate: sums and counts add,
# mins/maxes nest
_REAGG = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}

_AGG_CALL_RX = re.compile(r"\b(sum|count|min|max|avg)\s*\(")

_RANGE_RX = re.compile(
    r"^([a-z_]\w*)\s*(<=|>=|<|>|=)\s*(-\s*)?(\d+(?:\.\d+)?)$"
)
_CMP_OPS = frozenset({"<=", ">=", "<", ">", "="})


def _str_range(conjunct: str) -> tuple[str, str, str] | None:
    """(column, op, literal value) of a ``col op 'text'`` conjunct."""
    toks = tokens(conjunct)
    if (
        len(toks) == 3
        and _IDENT_RX.match(toks[0])
        and toks[1] in _CMP_OPS
        and is_literal(toks[2])
    ):
        return toks[0], toks[1], unquote(toks[2])
    return None


def _implies(user_c: str, mv_c: str) -> bool:
    """True when the (normalized) user conjunct IMPLIES the MV conjunct
    — numeric range implication on the SAME column (``x > 5 ⇒ x > 0``).
    Only single-column comparisons against numeric literals qualify;
    anything else must match verbatim. Sound: implication means every
    user row satisfies the MV's filter, so the MV stores it; the user
    conjunct itself still re-applies as a residual (and the residual
    key-only check keeps this on grouping keys)."""
    mu, mm = _RANGE_RX.match(user_c), _RANGE_RX.match(mv_c)
    if mu and mm and mu.group(1) == mm.group(1):
        uop = mu.group(2)
        uval = float(mu.group(4)) * (-1.0 if mu.group(3) else 1.0)
        mop = mm.group(2)
        mval = float(mm.group(4)) * (-1.0 if mm.group(3) else 1.0)
        return _range_implies(uop, uval, mop, mval)
    # string-literal ranges (the date-partition case: pt >= '2024-01'):
    # Python code-point order equals Spark's binary UTF8 comparison,
    # so lexicographic implication on the literal CONTENT is sound
    su, sm = _str_range(user_c), _str_range(mv_c)
    if su and sm and su[0] == sm[0]:
        return _range_implies(su[1], su[2], sm[1], sm[2])
    return False


def _range_implies(uop: str, uval, mop: str, mval) -> bool:
    if mop in (">", ">="):
        if uop == "=":
            return uval > mval or (uval == mval and mop == ">=")
        if uop not in (">", ">="):
            return False
        if uval > mval:
            return True
        # equal bounds: u ⊆ m unless u includes the bound m excludes
        return uval == mval and not (uop == ">=" and mop == ">")
    if mop in ("<", "<="):
        if uop == "=":
            return uval < mval or (uval == mval and mop == "<=")
        if uop not in ("<", "<="):
            return False
        if uval < mval:
            return True
        return uval == mval and not (uop == "<=" and mop == "<")
    return uop == "=" and uval == mval  # mop == "="


def _disjuncts(conjunct: str) -> list[str]:
    """Split one (canonical-token) conjunct into top-level OR
    disjuncts, after stripping wrapping parens. A conjunct with no
    top-level OR returns itself as the single disjunct."""
    text = strip_outer_parens(conjunct)
    return [" ".join(tokens(p)) for p in split_top_level(text, mask_sql(text), r"\bor\b")]


def _implies_or(user_c: str, mv_c: str) -> bool:
    """OR-of-conjuncts containment (round-7 rewrite breadth): the user
    conjunct implies the MV conjunct when EVERY user disjunct lands in
    SOME MV disjunct — e.g. ``(x > 5 or x = 9)`` ⇒ ``x > 0``, and
    ``x > 9`` ⇒ ``(x < 3 or x > 7)``. A user disjunct that is itself a
    conjunction implies an MV atom if ANY of its AND-parts does (the
    conjunction only narrows it). Atoms relate by verbatim canonical
    text or numeric range implication; anything else fails closed."""

    def atom_implies(ua: str, ma: str) -> bool:
        ua, ma = strip_outer_parens(ua), strip_outer_parens(ma)
        return ua == ma or _implies(ua, ma)

    def disj_implies_atom(ud: str, ma: str) -> bool:
        parts = _conjuncts(ud) or [ud]
        return any(atom_implies(p, ma) for p in parts)

    m_dis = _disjuncts(mv_c)
    return all(
        any(disj_implies_atom(ud, md) for md in m_dis)
        for ud in _disjuncts(user_c)
    )


# ---------------------------------------------------------------------------
# join-tree normalization (round 8)
# ---------------------------------------------------------------------------

_IDENT_RX = re.compile(r"^[a-z_]\w*$")

# keywords that may follow a table ref — never aliases
_JOIN_STOP = frozenset({"join", "inner", "on", "as"})
# join shapes that are NOT inner-commutative — their presence fails the
# tree parse and matching stays exact-canonical-text
_BAD_JOIN = frozenset(
    {"left", "right", "full", "cross", "outer", "semi", "anti",
     "lateral", "natural", "using", ","}
)


def _parse_join_tree(from_text: str):
    """Token-level parse of ``t [as] a (inner? join t2 [as] a2 on
    cond)*``. Returns (tables, on_conds) — tables as (name, alias)
    pairs, on_conds as token-joined ON texts — or None for anything
    else (subquery, outer/cross/comma join, USING): fail closed."""
    toks = tokens(from_text)
    n = len(toks)

    def table_ref(i):
        if i >= n or not _IDENT_RX.match(toks[i]) or toks[i] in _JOIN_STOP | _BAD_JOIN:
            return None
        name = toks[i]
        i += 1
        while i + 1 < n and toks[i] == "." and _IDENT_RX.match(toks[i + 1]):
            name += "." + toks[i + 1]
            i += 2
        alias = None
        if i < n and toks[i] == "as":
            i += 1
            if i >= n or not _IDENT_RX.match(toks[i]):
                return None
            alias = toks[i]
            i += 1
        elif (
            i < n
            and _IDENT_RX.match(toks[i])
            and toks[i] not in _JOIN_STOP | _BAD_JOIN
        ):
            alias = toks[i]
            i += 1
        return name, alias, i

    ref = table_ref(0)
    if ref is None:
        return None
    tables = [(ref[0], ref[1])]
    i = ref[2]
    on_conds: list[str] = []
    while i < n:
        if toks[i] == "inner" and i + 1 < n and toks[i + 1] == "join":
            i += 2
        elif toks[i] == "join":
            i += 1
        else:
            return None
        ref = table_ref(i)
        if ref is None:
            return None
        tables.append((ref[0], ref[1]))
        i = ref[2]
        if i >= n or toks[i] != "on":
            return None
        i += 1
        depth, cond = 0, []
        while i < n:
            t = toks[i]
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
            if depth == 0 and (
                t == "join"
                or (t == "inner" and i + 1 < n and toks[i + 1] == "join")
            ):
                break
            cond.append(t)
            i += 1
        if not cond:
            return None
        on_conds.append(" ".join(cond))
    return tables, on_conds


def _qualify_map(tables) -> dict | None:
    """alias / table-name / short-name → canonical table name; None on
    any ambiguity (self-join, colliding alias) — fail closed."""
    names = [t for t, _ in tables]
    if len(set(names)) != len(names):
        return None
    qmap: dict[str, str] = {}
    for name, alias in tables:
        keys = {name, name.split(".")[-1]}
        if alias:
            keys.add(alias)
        for k in keys:
            if k in qmap and qmap[k] != name:
                return None
            qmap[k] = name
    return qmap


def _retarget(text: str, qmap: dict, single: bool) -> str:
    """Rewrite ``q . col`` references per ``qmap`` at token level —
    aliases become table names; with ``single`` (one-table FROM) the
    qualifier drops entirely, so ``o.price`` and bare ``price``
    normalize identically. Literals pass through untouched."""
    toks = tokens(text)
    out: list[str] = []
    i, n = 0, len(toks)
    while i < n:
        t = toks[i]
        if (
            t in qmap
            and i + 2 <= n - 1
            and toks[i + 1] == "."
            and _IDENT_RX.match(toks[i + 2])
            and (not out or out[-1] != ".")
        ):
            if single:
                out.append(toks[i + 2])
            else:
                out.extend([qmap[t], ".", toks[i + 2]])
            i += 3
            continue
        out.append(t)
        i += 1
    return " ".join(out)


def _sorted_eq(conjunct: str) -> str:
    """Orderless form of a single equality conjunct: ``a = b`` and
    ``b = a`` canonicalize identically (token-joined input)."""
    parts = conjunct.split(" = ")
    if len(parts) == 2:
        return " = ".join(sorted(p.strip() for p in parts))
    return conjunct


def _normalize_rollup_relation(r: _Rollup) -> _Rollup:
    """Round-8 rewrite breadth: an all-INNER join tree normalizes to a
    canonical relation key — aliases resolved to table names (dropped
    for a single table), tables sorted, the union of ON conjuncts
    side-sorted — so alias renames and join reordering still match
    (inner joins commute and associate; the same table set under the
    conjunction of all ON predicates IS the same relation). Outer
    joins, subqueries, self-joins and comma joins return the rollup
    unchanged: matching stays exact-canonical-text for them."""
    parsed = _parse_join_tree(_norm(r.table))
    if parsed is None:
        return r
    tables, on_conds = parsed
    qmap = _qualify_map(tables)
    if qmap is None:
        return r
    single = len(tables) == 1
    conjs: set[str] = set()
    for c in on_conds:
        for cj in _conjuncts(_retarget(c, qmap, single)):
            conjs.add(_sorted_eq(cj))
    names = sorted(t for t, _ in tables)
    canon_from = " join ".join(names)
    if conjs:
        canon_from += " on " + " and ".join(sorted(conjs))

    def rt(text):
        return _retarget(text, qmap, single) if text else text

    def rt_col(text):
        return rt(text).replace(" . ", ".")

    items = []
    for it in r.items:
        if it.kind == "key":
            items.append(
                _Item(kind="key", alias=it.alias, col=rt_col(it.col))
            )
        else:
            items.append(
                _Item(
                    kind="agg", alias=it.alias, func=it.func,
                    arg=rt(it.arg), cast_type=it.cast_type,
                )
            )
    return _Rollup(
        table=canon_from,
        items=items,
        group_keys=[rt_col(g) for g in r.group_keys],
        where=rt(r.where),
        order=rt(r.order),
        having=rt(r.having),
    )


# ---------------------------------------------------------------------------
# view expansion (round 9): a rollup over a catalog VIEW rewrites when
# the view body is a simple projection/filter over a base relation —
# the expanded rollup then normalizes like any directly-written query.
# Reference: the engine-side rewrite the adapter's disable_rewrite flag
# implies (relation_configs/_materialized_view.py:24) resolves views
# server-side; this is the scoped engine counterpart.
# ---------------------------------------------------------------------------

_VIEW_FROM_RX = re.compile(r"^([a-z_]\w*)(?:\s+(?:as\s+)?([a-z_]\w*))?$")

_VIEW_BODY_RX = re.compile(
    r"^select\s+(?P<select>.+?)\s+from\s+(?P<table>.+?)"
    r"(?:\s+where\s+(?P<where>.+?))?$",
    re.DOTALL,
)

_VIEW_BLOCKERS_RX = re.compile(
    r"\b(group\s+by|having|order\s+by|limit|distinct|union|intersect|except|"
    r"join\s+lateral|over)\b"
)


def _parse_view_body(sql: str):
    """(colmap | None-for-star, from_text, where_conjuncts) for a view
    body in the expandable grammar — a plain projection (bare/qualified
    columns, optional aliases, or a lone ``*``) with an optional WHERE
    over any FROM text. Returns None (fail closed) for anything else:
    rollup views, DISTINCT, set ops, window functions, subqueries."""
    norm = _norm(sql)
    if _VIEW_BLOCKERS_RX.search(_code(norm)):
        return None
    m = _match(_VIEW_BODY_RX, norm)
    if m is None or "(" in m["table"] or (items := _items(m["select"])) is None:
        return None
    if items == ["*"]:
        colmap = None
    else:
        colmap = {}
        for raw in items:
            im = re.match(r"^(?P<col>[\w.]+)(?:\s+as\s+(?P<alias>\w+))?$", raw)
            if im is None:
                return None
            out_name = im["alias"] or im["col"].split(".")[-1]
            if out_name in colmap:
                return None  # duplicate output name: ambiguous
            colmap[out_name] = im["col"]
    where = _conjuncts(m["where"]) if m["where"] else []
    return colmap, m["table"], where


class _ViewRefError(Exception):
    """A reference the view does not expose (round-10 advisory fix):
    expansion must fail closed so invalid-against-the-view SQL still
    surfaces Spark's analysis error instead of being silently answered
    from the MV over the base table."""


#: bare tokens that are legal in an expression without naming a column
#: (keywords, literals, interval units). Over-failing is safe — the
#: caller falls back to direct execution — so this list only needs the
#: vocabulary the rollup grammar actually meets.
_SQL_BARE_TOKENS = frozenset(
    """
    and or not in is null like rlike ilike between escape exists
    case when then else end true false asc desc nulls first last
    as cast try_cast distinct all any some div interval date timestamp
    year years quarter quarters month months week weeks day days
    hour hours minute minutes second seconds millisecond milliseconds
    microsecond microseconds
    """.split()
)


def _subst_view_refs(
    text: str | None, qualifiers: set[str], colmap: dict | None
) -> str | None:
    """Rewrite view-column references to their underlying columns at
    token level: a ``v.col`` / ``alias.col`` qualifier strips (the view
    is gone after expansion), then a bare name that is a view output
    maps to its underlying (possibly qualified) column. Literals pass
    through untouched. With an explicit ``colmap`` (non-star view), any
    identifier that is NOT a view output, keyword, function call, or
    cast-target type raises ``_ViewRefError`` — the view hides base
    columns, so a leaked base reference means the query is invalid
    against the view and must not be answered from the MV."""
    if text is None:
        return None
    toks = tokens(text)
    out: list[str] = []
    i, n = 0, len(toks)
    while i < n:
        t = toks[i]
        if is_literal(t):
            out.append(t)
            i += 1
            continue
        if (
            t in qualifiers
            and i + 2 < n
            and toks[i + 1] == "."
            and _IDENT_RX.match(toks[i + 2])
            and (not out or out[-1] != ".")
        ):
            t = toks[i + 2]
            i += 3
        else:
            i += 1
        if (
            colmap is not None
            and _IDENT_RX.match(t or "")
            and t in colmap
            and (not out or out[-1] != ".")
            and (i >= n or toks[i] != ".")
        ):
            out.extend(tokens(colmap[t]))
        else:
            if (
                colmap is not None
                and (_IDENT_RX.match(t) or is_quoted_ident(t))
                and t not in _SQL_BARE_TOKENS
                and not (i < n and toks[i] == "(")  # function call
                and not (out and out[-1] == ".")  # handled below as chain
                and not (out and out[-1] in ("as", "cast"))  # cast type
            ):
                # bare identifier that is not a view output, or a
                # dotted chain with a non-view qualifier: the view
                # does not expose it
                raise _ViewRefError(t)
            out.append(t)
    return " ".join(out)


def _expand_view_rollup(r: _Rollup, views: dict) -> "_Rollup | None":
    """Expand a rollup whose FROM is a single catalog view into the
    same rollup over the view's underlying relation. Returns the
    original rollup when the FROM is not a view; None (no rewrite —
    fail closed) when the view exists but is not expandable or the
    expansion bottoms out in another view (depth > 1)."""
    m = _VIEW_FROM_RX.match(_norm(r.table))
    if m is None:
        return r
    vsql = views.get(m.group(1))
    if vsql is None:
        return r
    body = _parse_view_body(vsql)
    if body is None:
        return None
    colmap, from_text, view_where = body
    parsed = _parse_join_tree(_norm(from_text))
    if parsed is None:
        return None
    if any(name in views for name, _ in parsed[0]):
        return None  # view-over-view: fail closed
    quals = {m.group(1)} | ({m.group(2)} if m.group(2) else set())

    def sub(text):
        return _subst_view_refs(text, quals, colmap)

    def sub_col(text):
        s = sub(text)
        return s.replace(" . ", ".") if s else s

    try:
        items = []
        for it in r.items:
            if it.kind == "key":
                new_col = sub_col(it.col)
                if new_col is None:
                    return None
                # preserve the USER'S output name: their alias, else
                # the name the un-expanded query would have produced
                items.append(
                    _Item(
                        kind="key",
                        alias=it.alias or it.col.split(".")[-1],
                        col=new_col,
                    )
                )
            else:
                items.append(
                    _Item(
                        kind="agg", alias=it.alias, func=it.func,
                        arg=_canon_expr(sub(it.arg)), cast_type=it.cast_type,
                    )
                )
        user_where = _conjuncts(sub(r.where)) if r.where else []
        # parenthesize OR-bearing conjuncts so AND-joining cannot rebind
        all_conj = [
            c if len(_disjuncts(c)) == 1 else f"( {c} )"
            for c in view_where + user_where
        ]
        return _Rollup(
            table=from_text,
            items=items,
            group_keys=[sub_col(g) for g in r.group_keys],
            where=" and ".join(all_conj) if all_conj else None,
            order=sub(r.order),
            having=sub(r.having),
        )
    except _ViewRefError:
        # round-10 advisory fix: the query references something the
        # view does not expose — invalid against the view, so no
        # rewrite; Spark's analysis error surfaces on direct execution
        return None


def _subst_keys(text: str, key_out: dict) -> str:
    """Replace (possibly qualified) grouping-key references with the
    MV's output column names in emitted SQL fragments. Substitution is
    applied OUTSIDE single-quoted string literals only — a residual
    like ``status = 'status pending'`` must keep its literal intact
    (rewriting data text would silently change the predicate while the
    emitted SQL still analyzes fine, so the fallback never fires)."""
    segments = split_literals(text)
    for k in sorted(key_out, key=len, reverse=True):
        pat = re.compile(
            r"\b" + r"\s*\.\s*".join(re.escape(p) for p in k.split(".")) + r"\b"
        )
        segments = [
            s if i % 2 else pat.sub(key_out[k], s) for i, s in enumerate(segments)
        ]
    return "".join(segments)


def _ident_parts(keys) -> set[str]:
    """Every dotted segment of the grouping keys — the identifier
    whitelist for residual predicates (a stray allowed token that is
    not actually a key fails at analysis time and the caller falls
    back; never a wrong answer)."""
    return {seg for k in keys for seg in k.split(".")}


def _reagg_expr(func: str, arg: str, mv_aggs: dict) -> str | None:
    """Re-aggregation expression for one user aggregate over the MV's
    output columns. AVG is not directly re-aggregable (avg of avgs is
    wrong under unequal group sizes) — it DECOMPOSES into the MV's
    sum/count pair over the same argument when both exist:
    sum(sums)/sum(counts) is exactly avg over the base rows (nulls
    excluded on both sides, since count(x) skips them like avg(x))."""
    if func == "avg":
        s = mv_aggs.get(("sum", arg))
        c = mv_aggs.get(("count", arg))
        if s is None or c is None:
            return None
        return f"(sum({s}) / sum({c}))"
    src = mv_aggs.get((func, arg))
    if src is None:
        return None
    return f"{_REAGG[func]}({src})"


def _rewrite_having(having: str, mv_aggs: dict, allowed_idents: set[str]) -> str | None:
    """Rewrite a (normalized) user HAVING clause over the MV's columns:
    each aggregate call becomes its re-aggregation expression; every
    identifier OUTSIDE aggregate arguments must be a grouping key or a
    select alias (anything else does not survive the rollup — fail
    closed)."""
    mask = mask_sql(having)
    out: list[str] = []
    plain: list[str] = []  # non-replaced segments, for the ident check
    pos = 0
    while m := _AGG_CALL_RX.search(mask, pos):
        seg = having[pos:m.start()]
        out.append(seg)
        plain.append(seg)
        open_i = m.end() - 1
        try:
            close_i = find_close(mask, open_i)
        except ValueError:
            return None
        arg = _canon_expr(_norm(having[open_i + 1:close_i]))
        if m.group(1).lower() == "count" and arg == "1":
            arg = "*"
        expr = _reagg_expr(m.group(1).lower(), arg, mv_aggs)
        if expr is None:
            return None
        out.append(expr)
        pos = close_i + 1
    out.append(having[pos:])
    plain.append(having[pos:])
    leftover = _where_identifiers(" ".join(plain))
    if not leftover <= allowed_idents:
        return None
    return "".join(out)


def _rewrite_rollup(user: _Rollup, mv: _Rollup, mv_table: str) -> str | None:
    # FROM text compares on canonical tokens too, so a join tree
    # written with different spacing/case around ON predicates still
    # matches (equal canonical text ⇒ equal relation; fail-closed
    # beyond that — no join reordering)
    if _canon_expr(user.table) != _canon_expr(mv.table):
        return None
    if mv.having:
        # an MV with HAVING stores post-aggregation FILTERED groups;
        # re-aggregating a subset of its rows is unsound (dropped groups
        # are gone) — only exact-text match may answer from such an MV
        return None
    # Predicate containment at conjunct granularity: every MV conjunct
    # must appear verbatim among the user's conjuncts (the MV's filter
    # is baked into its rows — a user query NOT implying it would need
    # rows the MV never stored), and the RESIDUAL user conjuncts are
    # re-applied over the MV scan — but only if they reference MV
    # grouping keys alone (any other column does not survive the
    # rollup). Covers exact-match (residual = ∅) and the common
    # "user tightens the MV's filter" shape; anything subtler fails
    # closed to the base tables.
    mv_conj = set(_conjuncts(mv.where))
    user_conj = _conjuncts(user.where)
    # each MV conjunct must be matched verbatim OR implied by a numeric
    # range conjunct of the user's (x > 5 ⇒ x > 0); the implying user
    # conjunct stays in the residual and re-applies over the MV scan
    unsatisfied = [
        mc
        for mc in mv_conj
        if mc not in user_conj and not any(_implies_or(uc, mc) for uc in user_conj)
    ]
    if unsatisfied:
        return None
    residual = [c for c in user_conj if c not in mv_conj]
    if residual and not (
        _where_identifiers(" ".join(residual)) <= _ident_parts(mv.group_keys)
    ):
        return None
    mv_keys = set(mv.group_keys)
    if not set(user.group_keys) <= mv_keys:
        return None
    # MV output column name per grouping key (alias if given, else the
    # bare column name — qualified keys emit through this map) and per
    # aggregate (func, argtext) — aggregates must be aliased in the MV
    mv_key_out = {
        it.col: (it.alias or it.col.split(".")[-1])
        for it in mv.items
        if it.kind == "key"
    }
    if not mv_keys <= set(mv_key_out):
        return None
    effective_where = (
        _subst_keys(" and ".join(residual), mv_key_out) if residual else None
    )
    mv_aggs: dict[tuple[str, str], str] = {}
    for it in mv.items:
        if it.kind == "agg":
            if it.alias is None:
                return None
            if it.func == "avg":
                # an MV-side avg is NOT re-aggregable (averages of
                # averages weight groups wrongly); keep it out of the
                # lookup so user queries fall back — users wanting
                # avg-through-MV should materialize sum+count
                continue
            mv_aggs[(it.func, it.arg)] = it.alias

    out_items: list[str] = []
    for it in user.items:
        if it.kind == "key":
            if it.col not in set(user.group_keys):
                return None
            src = mv_key_out.get(it.col)
            if src is None:
                return None
            # preserve the user query's output name: its alias, else
            # the bare column name direct execution would produce
            out_name = it.alias or it.col.split(".")[-1]
            out_items.append(src if src == out_name else f"{src} AS {out_name}")
            continue
        if it.alias is None:
            # an unaliased aggregate's output column NAME depends on the
            # original expression text; preserving it through a rewrite
            # is not possible — fail closed
            return None
        expr = _reagg_expr(it.func, it.arg, mv_aggs)
        if expr is None:
            return None
        if it.cast_type:
            expr = f"CAST({expr} AS {it.cast_type})"
        out_items.append(f"{expr} AS {it.alias}")

    having_sql = None
    if user.having:
        allowed = (
            _ident_parts(user.group_keys)
            | set(mv_key_out.values())
            | {it.alias for it in user.items if it.alias is not None}
        )
        having_sql = _rewrite_having(
            _subst_keys(user.having, mv_key_out), mv_aggs, allowed
        )
        if having_sql is None:
            return None

    sql = f"SELECT {', '.join(out_items)} FROM {mv_table}"
    if effective_where:
        sql += f" WHERE {effective_where}"
    sql += f" GROUP BY {', '.join(mv_key_out[k] for k in user.group_keys)}"
    if having_sql:
        sql += f" HAVING {having_sql}"
    if user.order:
        sql += f" ORDER BY {_subst_keys(user.order, mv_key_out)}"
    return sql


def try_rewrite(
    user_sql: str,
    mvs: list[tuple[str, str]],
    views: dict[str, str] | None = None,
) -> str | None:
    """Attempt to answer ``user_sql`` from one of ``mvs``
    (list of (registered_table_name, defining_sql)). Returns the
    rewritten SQL, or None (caller falls back to the original).
    First match wins; exact-text beats container.

    ``views`` (round 9) maps catalog view names to their defining SQL:
    a rollup whose FROM is a view expands through the view's projection
    / filter before relation normalization, so querying a view over the
    MV's base relation still answers from the MV. Unexpandable views
    and view-over-view chains fail closed."""
    user_norm = _norm(user_sql)
    for mv_table, defining_sql in mvs:
        if user_norm == _norm(defining_sql):
            return f"SELECT * FROM {mv_table}"
    user = parse_rollup(user_sql)
    if user is None:
        return None
    if views:
        user = _expand_view_rollup(user, views)
        if user is None:
            return None
    user = _normalize_rollup_relation(user)
    for mv_table, defining_sql in mvs:
        mv = parse_rollup(defining_sql)
        if mv is None:
            continue
        out = _rewrite_rollup(user, _normalize_rollup_relation(mv), mv_table)
        if out is not None:
            return out
    return None
