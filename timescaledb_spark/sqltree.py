"""Statement structure from Spark's own parse tree.

``ts.sql`` reads which engine tables a statement scans, under which
aliases, which columns it names and which WHERE conjuncts bound each
scan from the unresolved logical plan of the session's SQL parser
(``parsePlan(sql).toJSON()``: two py4j round trips). That parser plans
the statement later anyway, so the analysis agrees with it on quoting,
comments, hints, nesting and CTE scope (the reference reads its quals
from PostgreSQL's parse tree the same way,
``src/planner/hypertable_restrict_info.c``).

**Exclusion rule.** A relation's bounds come only from the AND
conjuncts of the WHERE ``Filter`` of its own query block: the walk up
from the relation passes ``SubqueryAlias`` and ``Join`` nodes and
nothing else (not an aggregate/HAVING, window, limit, set operation or
derived table's projection). A conjunct counts only as ``col OP
literal``, ``col BETWEEN literal AND literal`` or ``col IN
(literals)``; any other conjunct (OR, NOT, arithmetic, ``now()``)
contributes nothing while the rest still prune. A table scanned more
than once is not pruned. The original predicates stay in the
statement, so a bound only has to be a superset.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from functools import cached_property
from typing import Optional

_CMP = {
    "EqualTo": "=",
    "LessThan": "<",
    "LessThanOrEqual": "<=",
    "GreaterThan": ">",
    "GreaterThanOrEqual": ">=",
}
#: plan nodes a relation's bounds may be read through
_TO_WHERE = ("SubqueryAlias", "Join")
#: plan nodes between a relation and the projection that names its
#: columns; any other ancestor passes every column on (``TABLE c``, a
#: set operation, positional column aliases)
_TO_PROJECTION = (
    "SubqueryAlias", "Join", "Filter", "UnresolvedHint", "Sort",
    "GlobalLimit", "LocalLimit", "Offset", "Sample", "Generate",
)
#: nodes that read columns they do not name: ``*`` (``t.*``,
#: ``struct(*)``), regex columns, (UN)PIVOT (grouped by what it does
#: not name), a named WINDOW (serialized without its definitions),
#: ``IDENTIFIER('…')``
_ALL_COLS = frozenset((
    "UnresolvedStar", "UnresolvedRegex", "Pivot", "Unpivot",
    "WithWindowDefinition", "ExpressionWithUnresolvedIdentifier",
    "PlanWithUnresolvedIdentifier",
))
#: nodes above the outermost query block: the main query of a WITH,
#: ORDER BY and the limits
_ABOVE_BLOCK = ("UnresolvedWith", "Sort", "GlobalLimit", "LocalLimit", "Offset")
_NUMERIC = ("integer", "long", "short", "byte", "float", "double")
_INTEGRAL = ("integer", "long", "short", "byte")


class Node:
    """One node of a parsed tree: its class name, its JSON fields and
    its child nodes."""

    __slots__ = ("cls", "fields", "children")

    def __init__(self, fields: dict, children: list):
        self.cls = fields["class"].rsplit(".", 1)[-1]
        self.fields = fields
        self.children = children

    def nested(self):
        """Trees held in this node's fields: expressions, subquery plans."""
        for k, v in self.fields.items():
            if k != "class":
                yield from _nested(v)


def _tree(arr: list, i: int = 0):
    """The tree at ``arr[i]`` of ``TreeNode.toJSON``'s pre-order array,
    and the index after it."""
    raw = arr[i]
    i += 1
    kids = []
    for _ in range(raw["num-children"]):
        kid, i = _tree(arr, i)
        kids.append(kid)
    return Node(raw, kids), i


def _nested(v):
    if isinstance(v, list):
        if v and isinstance(v[0], dict) and "class" in v[0]:
            yield _tree(v)[0]
        else:
            for x in v:
                yield from _nested(x)
    elif isinstance(v, dict):
        for x in v.values():
            yield from _nested(x)


def _parts(s: str) -> list[str]:
    """``"[a, b]"`` (a name's parts as ``toJSON`` renders them) → parts."""
    return s[1:-1].split(", ")


def _parse(ts, text: str, expr: bool = False) -> Node:
    p = ts.sql_parser
    tree = p.parseExpression(text) if expr else p.parsePlan(text)
    return _tree(json.loads(tree.toJSON()))[0]


def _conjuncts(e: Node) -> list:
    if e.cls == "And":
        return _conjuncts(e.children[0]) + _conjuncts(e.children[1])
    return [e]


def _time_value(lit: Node) -> Optional[int]:
    from .hypertable import _to_internal

    if lit.fields["dataType"] not in ("string", "date", "timestamp"):
        return None
    try:
        return _to_internal(lit.fields["value"])
    except (TypeError, ValueError):
        return None


def _number(lit: Node) -> Optional[float]:
    dt = str(lit.fields["dataType"])
    if dt in _NUMERIC or dt.startswith("decimal"):
        return float(lit.fields["value"])
    return None


def _key(lit: Node):
    dt = lit.fields["dataType"]
    if dt == "string":
        return lit.fields["value"]
    return int(lit.fields["value"]) if dt in _INTEGRAL else None


@dataclass
class Quals:
    """The AND conjuncts bounding one relation, and the qualifiers its
    column references may carry (``None``: any qualifier)."""

    conjuncts: list
    names: Optional[set] = None

    def _is_col(self, e: Node, col: str) -> bool:
        if e.cls != "UnresolvedAttribute":
            return False
        *q, c = _parts(e.fields["nameParts"])
        return c.lower() == col.lower() and (
            not q or (len(q) == 1 and (self.names is None or q[0].lower() in self.names))
        )

    def _shapes(self, col: str):
        """``(op, [literal, …])`` per conjunct of an exclusion shape on
        ``col``; BETWEEN gives a ``>=`` and a ``<=``."""
        for c in self.conjuncts:
            k = c.children
            if len(k) < 2 or not self._is_col(k[0], col):
                continue
            if not all(x.cls == "Literal" for x in k[1:]):
                continue
            if c.cls in _CMP and len(k) == 2:
                yield _CMP[c.cls], k[1:]
            elif c.cls == "In":
                yield "in", k[1:]
            elif c.cls == "UnresolvedFunction" and len(k) == 3 and (
                c.fields["nameParts"].lower() == "[between]"
            ):
                yield ">=", k[1:2]
                yield "<=", k[2:]

    def _range(self, col: str, value, step):
        """Intersected ``(lo, hi)`` of ``col``'s shapes, literals read by
        ``value``; ``step`` closes an inclusive upper bound (1 µs for a
        half-open time range, 0 for an inclusive stats range)."""
        lo = hi = None
        for op, lits in self._shapes(col):
            vals = [value(x) for x in lits]
            if None in vals:
                continue
            if op not in ("<", "<="):
                lo = max(lo, min(vals)) if lo is not None else min(vals)
            if op not in (">", ">="):
                top = max(vals) + (0 if op == "<" else step)
                hi = min(hi, top) if hi is not None else top
        return lo, hi

    def time_bounds(self, col: str):
        """Half-open internal ``(lo, hi)`` of the time column, ``None``
        for an open side; literals read as ``hypertable._to_internal``
        reads them."""
        return self._range(col, _time_value, 1)

    def numeric_bounds(self, col: str):
        """Inclusive ``(lo, hi)`` of a numeric stat-tracked column
        (``enable_chunk_skipping``)."""
        return self._range(col, _number, 0)

    def space_keys(self, col: str) -> Optional[list]:
        """The space-column values ``=``/``IN`` conjuncts allow (the
        SQL-path analog of ``src/planner/space_constraint.c``); None
        when none constrains it."""
        keys = None
        for op, lits in self._shapes(col):
            vals = [_key(x) for x in lits]
            if op not in ("=", "in") or None in vals:
                continue
            keys = vals if keys is None else [v for v in keys if v in vals]
        return keys


def where_quals(ts, where: Optional[str], names: Optional[set] = None) -> Quals:
    """:class:`Quals` of a bare WHERE-clause fragment (UPDATE and
    DELETE), parsed as an expression."""
    if not where or not where.strip():
        return Quals([], names)
    return Quals(_conjuncts(_parse(ts, where, expr=True)), names)


@dataclass
class _Facts:
    rels: dict  # lowercased table name → [ancestor chain per scan]
    words: set  # every lowercased name part a column reference uses
    all_cols: bool


class Statement:
    """One query statement's structure, parsed on first use."""

    def __init__(self, ts, sql: str):
        self.ts = ts
        self.sql = sql

    @cached_property
    def _root(self) -> Node:
        return _parse(self.ts, self.sql)

    @cached_property
    def _facts(self) -> _Facts:
        f = _Facts({}, set(), False)
        _walk(self._root, (), frozenset(), f)
        return f

    def where(self) -> Quals:
        """The conjuncts of the outermost query block's WHERE, under any
        qualifier (gapfill's default start/finish): the ``Filter`` under
        the block's ``Aggregate``/``Project``, reached from the root
        through :data:`_ABOVE_BLOCK` only."""
        n = self._root
        while n.cls in _ABOVE_BLOCK:
            n = n.children[0]
        if n.cls in ("Aggregate", "Project") and n.children[0].cls == "Filter":
            return Quals(_conjuncts(_tree(n.children[0].fields["condition"])[0]))
        return Quals([])

    def scans(self, table: str) -> bool:
        """Whether ``table`` is read as a relation (a CTE of the same
        name in scope shadows it)."""
        return table.lower() in self._facts.rels

    def quals(self, table: str) -> Quals:
        """The WHERE conjuncts bounding ``table``'s one scan, empty when
        it is scanned more than once or not through a WHERE."""
        ups = self._facts.rels.get(table.lower(), [])
        names = {table.lower()}
        if len(ups) != 1:
            return Quals([], names)
        for a in ups[0]:
            if a.cls == "Filter":
                return Quals(_conjuncts(_tree(a.fields["condition"])[0]), names)
            if a.cls not in _TO_WHERE:
                break
            if a.cls == "SubqueryAlias":
                names.add(a.fields["identifier"]["name"].lower())
        return Quals([], names)

    def columns(self, cols: list) -> list:
        """The ``cols`` the statement can reference: every one it names
        anywhere (over-matching only builds a column it does not use),
        all of them under a form that reads columns it does not name."""
        f = self._facts
        return cols if f.all_cols else [c for c in cols if c.lower() in f.words]


def _walk(n: Node, up: tuple, ctes: frozenset, f: _Facts) -> None:
    """Collect ``n``'s facts into ``f``: ``up`` is its plan ancestors,
    nearest first (a subquery plan starts a new chain), ``ctes`` the
    CTE names in scope."""
    c = n.cls
    if c == "UnresolvedWith":
        scope = ctes
        for cte in n.fields["cteRelations"]:
            name = cte["_1"].lower()
            own = scope | {name} if n.fields.get("allowRecursion") else scope
            _walk(_tree(cte["_2"])[0], (), own, f)
            scope = scope | {name}
        ctes = scope
    elif c == "UnresolvedRelation":
        parts = _parts(n.fields["multipartIdentifier"])
        if len(parts) == 1 and parts[0].lower() not in ctes:
            f.rels.setdefault(parts[0].lower(), []).append(up)
        first = next((a for a in up if a.cls not in _TO_PROJECTION), None)
        if first is None or first.cls not in ("Project", "Aggregate"):
            f.all_cols = True
    elif c == "UnresolvedAttribute":
        f.words.update(p.lower() for p in _parts(n.fields["nameParts"]))
    elif c == "Join":
        jt = n.fields["joinType"].get("product-class", "")
        if jt.endswith("NaturalJoin"):
            f.all_cols = True
        elif jt.endswith("UsingJoin"):
            f.words.update(p.lower() for p in _parts(n.fields["joinType"]["usingColumns"]))
    if c in _ALL_COLS:
        f.all_cols = True
    if c != "UnresolvedWith":
        for sub in n.nested():
            _walk(sub, (), ctes, f)
    for kid in n.children:
        _walk(kid, (n, *up), ctes, f)
