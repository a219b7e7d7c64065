"""Graph-search DSL: a subset of the reference's search language,
compiled to DataFrame plans.

The reference sends search strings like ``is(graph_root) -[2:]->`` to
the resotocore server and only consumes the resulting node stream
(remote_graph.py:30-32, 49-63).  Here the search executes natively:

    search := aggregate? filter ( traversal )? ( with )? ( sort )? ( limit )?
    aggregate := "aggregate" "(" group ("," group)* ":" agg ("," agg)* ")" ":"
    group  := path ("as" name)?
    agg    := ("sum"|"min"|"max"|"avg") "(" (path | number) ")" ("as" name)?
            | "count" ("as" name)?
    filter := term (("and" | "or") term)*
    term   := "is(" kind ")"
            | path op literal          e.g.  cores > 2,  name == "in1"
            | path "in" "[" literal ("," literal)* "]"
            | '"term"'                 fulltext: token match over reported
            | "in_subnet(" path "," '"cidr"' ")"   IPv4 CIDR membership
            | "has_key(" path "," '"k"' ("," '"k"')* ")"
            | "not" term
            | "(" filter ")"
    op     := == != > >= < <= ~ (regex match)
    literal:= number | bool | "string"
            | "[+-]N(w|d|h|min|s)"     time-relative: resolved against
                                       ``now`` (caller-pinned or wall
                                       clock), compared as timestamps
    trav   := "-->" | "<--"                       1-hop, either direction
            | "-[a:b]->" | "-[a:]->"              outbound depth range
            | "<-[a:b]-" | "<-[a:]-"              inbound depth range
            | "-TYPE->" | "<-TYPE-"               edge-type filtered
            | "-TYPE[a:b]->" | "<-TYPE[a:b]-"     both combined
    with   := "with" "(" ("empty"|"any") "," arrow filter? with? ")"
              where arrow is any 1-hop traversal form: "-->", "<--",
              "-TYPE->", "<-TYPE-"; a nested with() further filters
              the neighbor set by ITS neighbors (recursively)
    sort   := "sort" path ("asc"|"desc")? ("," path ("asc"|"desc")?)*
    limit  := "limit" number

Semantics follow the reference where observable:

* ``is(k)`` matches kind ``k`` AND every kind that (transitively)
  lists it in ``bases`` — the inheritance-aware type filter.
* property paths address the raw ``reported`` JSON (nested paths with
  dots); ``kind``/``id`` address the envelope; numeric comparisons
  cast to double, ``~`` uses regex.
* a trailing traversal returns the nodes reached from the filtered
  set within the depth range (min..max hops, outbound for ``->``,
  inbound for ``<-``), implemented with the iterative-join BFS
  (operators/traversal.py) — each hop is one distributed join, no
  server round-trip.  A range of up to three hops is one lazy plan
  that runs with the search's own action; deeper ranges prune and
  stop early every three hops.  An open range ``-[a:]->`` is capped
  at ``a+8`` hops.  A TYPE inside the arrow (``-delete->``)
  traverses only edges of that type — the reference's edge-type
  selector (its EdgeType.default/delete split, collect_plugins.py:
  45-47); untyped arrows traverse ``default`` edges.
* ``with(empty, --> f)`` keeps nodes with NO outbound successor
  matching ``f`` (anti join); ``with(any, --> f)`` keeps nodes with at
  least one (semi join) — the reference's subgraph predicate as a
  distributed join instead of a per-node server probe.  The arrow may
  point inbound (``<--``: predecessors) and may name an edge type
  (``-delete->``), mirroring the traversal grammar.  A nested
  ``with()`` inside the clause constrains the NEIGHBOR set by its own
  neighbors — each nesting level compiles to one more semi/anti join,
  so an n-deep subquery is n joins, not n server probes per node.
* a bare quoted string term (``"nation_3"``) is a FULLTEXT term
  (the reference's delegated term search, remote_graph.py:62-63):
  case-insensitive whole-token match over the node's serialized
  ``reported`` document.
* FUNCTION predicates (the server-side function terms the reference
  delegates, remote_graph.py:62-63): ``in_subnet(path, "cidr")``
  tests IPv4 CIDR membership with pure integer arithmetic (octets ->
  uint32, prefix mask) — no UDF, and the same expression is statable
  in ANSI SQL for the oracle; ``has_key(path, "k", ...)`` tests that
  the JSON object at ``path`` has ALL the named keys.
* ``aggregate(...)`` turns the node stream into a groupBy: group keys
  are extracted paths, aggregate functions run over double-cast
  values (``sum(1)`` == count, as in the reference's syntax).
* ``sort`` orders on the extracted path as a string (id tiebreak, so
  results are deterministic); ``limit`` truncates after the sort.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from resotodatalink_spark.model.kinds import Model
from resotodatalink_spark.operators.traversal import reachable
from resotodatalink_spark.sources.graph import GraphSource

# --- AST -------------------------------------------------------------------


@dataclass
class IsKind:
    kind: str


@dataclass
class Predicate:
    path: str
    op: str
    value: Union[int, float, str, bool]


@dataclass
class BoolOp:
    op: str  # "and" | "or"
    left: "Node"
    right: "Node"


@dataclass
class NotOp:
    child: "Node"


@dataclass
class Fulltext:
    term: str


@dataclass
class FnPredicate:
    fn: str  # "in_subnet" | "has_key"
    path: str
    args: list[str]


Node = Union[IsKind, Predicate, BoolOp, "NotOp", Fulltext, FnPredicate]

_FN_NAMES = ("in_subnet", "has_key")


@dataclass
class Traversal:
    min_depth: int
    max_depth: int
    direction: str  # "out" | "in"
    edge_type: Optional[str] = None  # None = default edges


@dataclass
class AggFunc:
    fn: str  # sum | min | max | avg | count
    arg: Union[str, float, None]  # path, numeric literal, or None (count)
    alias: str


@dataclass
class Aggregate:
    groups: list[tuple[str, str]]  # (path, alias)
    funcs: list[AggFunc]


@dataclass
class WithClause:
    mode: str  # "empty" | "any"
    filter: Optional[Node]  # neighbor filter (None = any neighbor)
    direction: str = "out"  # "out" (successors) | "in" (predecessors)
    edge_type: Optional[str] = None  # None = default edges
    nested: Optional["WithClause"] = None  # subquery on the neighbor set


@dataclass
class Search:
    filter: Node
    traversal: Optional[Traversal]
    aggregate: Optional[Aggregate] = None
    with_clause: Optional[WithClause] = None
    sort: Optional[list[tuple[str, str]]] = None  # (path, "asc"|"desc")
    limit: Optional[int] = None


# --- parser ------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"\s*(?:(?P<is>is\(\s*[\w.]+\s*\))"
    r"|(?P<trav><-(?:[a-zA-Z_]\w*)?(?:\[\d+:\d*\])?-"
    r"|-(?:[a-zA-Z_]\w*)?(?:\[\d+:\d*\])?->)"
    r"|(?P<lpar>\()|(?P<rpar>\))"
    r"|(?P<op>==|!=|>=|<=|>|<|~)"
    r"|(?P<bool>\band\b|\bor\b)"
    r"|(?P<not>\bnot\b)|(?P<in>\bin\b)"
    r"|(?P<lbr>\[)|(?P<rbr>\])|(?P<comma>,)|(?P<colon>:)"
    r"|(?P<str>\"[^\"]*\"|'[^']*')"
    r"|(?P<num>-?\d+(?:\.\d+)?)"
    r"|(?P<word>[\w.]+))"
)


def _tokenize(text: str) -> list[tuple[str, str]]:
    tokens, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m or m.end() == pos:
            raise ValueError(f"search syntax error at: {text[pos:]!r}")
        pos = m.end()
        for name, val in m.groupdict().items():
            if val is not None:
                tokens.append((name, val.strip()))
                break
    return tokens


class _Parser:
    def __init__(self, tokens: list[tuple[str, str]]):
        self.tokens = tokens
        self.i = 0

    def peek(self) -> Optional[tuple[str, str]]:
        return self.tokens[self.i] if self.i < len(self.tokens) else None

    def next(self) -> tuple[str, str]:
        tok = self.peek()
        if tok is None:
            raise ValueError("unexpected end of search")
        self.i += 1
        return tok

    def _at_word(self, *words: str) -> bool:
        tok = self.peek()
        return tok is not None and tok[0] == "word" and tok[1] in words

    def parse(self) -> Search:
        agg = None
        if self._at_word("aggregate"):
            agg = self.parse_aggregate()
        filt = self.parse_bool()
        trav = None
        if (tok := self.peek()) and tok[0] == "trav":
            self.next()
            trav = _parse_traversal(tok[1])
        with_clause = None
        if self._at_word("with"):
            with_clause = self.parse_with()
        sort = None
        if self._at_word("sort"):
            self.next()
            sort = []
            while True:
                _, path = self.next()
                direction = "asc"
                if self._at_word("asc", "desc"):
                    direction = self.next()[1]
                sort.append((path, direction))
                if (tok := self.peek()) and tok[0] == "comma":
                    self.next()
                    continue
                break
        limit = None
        if self._at_word("limit"):
            self.next()
            tok, lit = self.next()
            if tok != "num":
                raise ValueError(f"limit needs a number, got {lit!r}")
            limit = int(lit)
        if self.peek() is not None:
            raise ValueError(f"trailing tokens: {self.tokens[self.i:]}")
        return Search(filt, trav, agg, with_clause, sort, limit)

    def parse_aggregate(self) -> Aggregate:
        self.next()  # 'aggregate'
        if self.next()[0] != "lpar":
            raise ValueError("expected ( after aggregate")
        groups: list[tuple[str, str]] = []
        while not (self.peek() and self.peek()[0] == "colon"):
            tok, path = self.next()
            if tok != "word":
                raise ValueError(f"bad group path {path!r}")
            alias = path.replace(".", "_")
            if self._at_word("as"):
                self.next()
                alias = self.next()[1]
            groups.append((path, alias))
            if (tok2 := self.peek()) and tok2[0] == "comma":
                self.next()
        self.next()  # ':'
        funcs: list[AggFunc] = []
        while True:
            tok, fn = self.next()
            if tok != "word" or fn not in ("sum", "min", "max", "avg", "count"):
                raise ValueError(f"bad aggregate function {fn!r}")
            arg: Union[str, float, None] = None
            if (tok2 := self.peek()) and tok2[0] == "lpar":
                self.next()
                atok, aval = self.next()
                arg = float(aval) if atok == "num" else aval
                if self.next()[0] != "rpar":
                    raise ValueError("expected ) after aggregate arg")
            alias = fn if arg is None or not isinstance(arg, str) else (
                f"{fn}_{arg.replace('.', '_')}"
            )
            if self._at_word("as"):
                self.next()
                alias = self.next()[1]
            funcs.append(AggFunc(fn, arg, alias))
            tok3 = self.peek()
            if tok3 and tok3[0] == "comma":
                self.next()
                continue
            break
        if self.next()[0] != "rpar":
            raise ValueError("expected ) closing aggregate")
        if self.next()[0] != "colon":
            raise ValueError("expected : after aggregate(...)")
        return Aggregate(groups, funcs)

    def parse_with(self) -> WithClause:
        self.next()  # 'with'
        if self.next()[0] != "lpar":
            raise ValueError("expected ( after with")
        tok, mode = self.next()
        if tok != "word" or mode not in ("empty", "any"):
            raise ValueError(f"with() mode must be empty|any, got {mode!r}")
        if self.next()[0] != "comma":
            raise ValueError("expected , in with()")
        tok, trav = self.next()
        if tok != "trav":
            raise ValueError("with() needs a traversal arrow")
        t = _parse_traversal(trav)
        if (t.min_depth, t.max_depth) != (1, 1):
            raise ValueError("with() supports 1-hop arrows only")
        inner: Optional[Node] = None
        if (tok2 := self.peek()) and tok2[0] != "rpar" and not self._at_word("with"):
            inner = self.parse_bool()
        nested: Optional[WithClause] = None
        if self._at_word("with"):
            nested = self.parse_with()
        if self.next()[0] != "rpar":
            raise ValueError("expected ) closing with")
        return WithClause(mode, inner, t.direction, t.edge_type, nested)

    def parse_bool(self) -> Node:
        left = self.parse_term()
        while (tok := self.peek()) and tok[0] == "bool":
            self.next()
            right = self.parse_term()
            left = BoolOp(tok[1], left, right)
        return left

    def parse_term(self) -> Node:
        kind_tok, val = self.next()
        if kind_tok == "not":
            return NotOp(self.parse_term())
        if kind_tok == "is":
            return IsKind(val[3:-1].strip())
        if kind_tok == "str":
            return Fulltext(val[1:-1])
        if kind_tok == "lpar":
            inner = self.parse_bool()
            if self.next()[0] != "rpar":
                raise ValueError("expected )")
            return inner
        if kind_tok == "word" and val in _FN_NAMES:
            if not ((tok := self.peek()) and tok[0] == "lpar"):
                raise ValueError(f"{val} needs (path, args...)")
            self.next()  # (
            ptok, path = self.next()
            if ptok != "word":
                raise ValueError(f"{val} needs a property path first")
            args: list[str] = []
            while (tok := self.peek()) and tok[0] == "comma":
                self.next()
                atok, aval = self.next()
                if atok != "str":
                    raise ValueError(f"{val} arguments must be strings")
                args.append(aval[1:-1])
            if self.next()[0] != "rpar":
                raise ValueError(f"expected ) closing {val}")
            if not args:
                raise ValueError(f"{val} needs at least one argument")
            return FnPredicate(val, path, args)
        if kind_tok == "word":
            op_tok, op = self.next()
            if op_tok == "in":
                return Predicate(val, "in", self.parse_list())
            if op_tok != "op":
                raise ValueError(f"expected operator after {val}")
            lit_tok, lit = self.next()
            if lit_tok == "str":
                value: Union[int, float, str, bool] = lit[1:-1]
            elif lit_tok == "num":
                value = float(lit) if "." in lit else int(lit)
            elif lit_tok == "word" and lit in ("true", "false"):
                value = lit == "true"
            else:
                raise ValueError(f"bad literal {lit!r}")
            return Predicate(val, op, value)
        raise ValueError(f"unexpected token {val!r}")


    def parse_list(self) -> list:
        if self.next()[0] != "lbr":
            raise ValueError("expected [ after in")
        items: list = []
        while True:
            tok, lit = self.next()
            if tok == "str":
                items.append(lit[1:-1])
            elif tok == "num":
                items.append(float(lit) if "." in lit else int(lit))
            else:
                raise ValueError(f"bad list literal {lit!r}")
            tok, _ = self.next()
            if tok == "rbr":
                return items
            if tok != "comma":
                raise ValueError("expected , or ] in list")


def _parse_traversal(text: str) -> Traversal:
    m = re.match(r"^<-([a-zA-Z_]\w*)?(?:\[(\d+):(\d*)\])?-$", text)
    direction = "in"
    if m is None:
        m = re.match(r"^-([a-zA-Z_]\w*)?(?:\[(\d+):(\d*)\])?->$", text)
        direction = "out"
    if m is None:
        raise ValueError(f"bad traversal {text!r}")
    edge_type = m.group(1)
    if m.group(2) is None:  # no range bracket: exactly one hop
        return Traversal(1, 1, direction, edge_type)
    lo = int(m.group(2))
    hi = int(m.group(3)) if m.group(3) else lo + 8  # unbounded -> capped
    return Traversal(lo, hi, direction, edge_type)


def parse_search(text: str) -> Search:
    return _Parser(_tokenize(text)).parse()


# --- compiler ---------------------------------------------------------------


def _matching_kinds(model: Model, base: str) -> set[str]:
    """kind + every kind that transitively derives from it (is(base)
    semantics — subclasses match)."""
    out = set()
    for k in model.kinds.values():
        seen: set[str] = set()
        stack = [k.fqn]
        while stack:
            cur = stack.pop()
            if cur in seen:
                continue
            seen.add(cur)
            if cur == base:
                out.add(k.fqn)
                break
            if kk := model.kinds.get(cur):
                stack.extend(kk.bases or [])
    return out


_DURATION_RE = re.compile(r"^([+-]?\d+)(w|d|h|min|s)$")
_DURATION_SECONDS = {"w": 604800, "d": 86400, "h": 3600, "min": 60, "s": 1}

# Property kinds for which a duration-shaped string literal is
# reinterpreted as now+offset (the reference coerces durations only for
# datetime-kinded properties — resotocore's parse_time_or_delta applies
# at datetime coercion points, never to plain strings).
_DATETIME_KINDS = frozenset({"datetime", "date"})


def _duration_offset(value: object) -> int | None:
    """Signed seconds for a relative-time literal (``"-3d"``,
    ``"2h"``), or None when the literal is not one.  Units follow the
    reference's public duration vocabulary subset (w/d/h/min/s)."""
    if not isinstance(value, str):
        return None
    m = _DURATION_RE.match(value)
    if m is None:
        return None
    return int(m.group(1)) * _DURATION_SECONDS[m.group(2)]


def _datetime_property_names(model: "Model | None") -> frozenset[str]:
    """Names of properties declared datetime-like ANYWHERE in the model
    (top-level or inside complex kinds — a dotted search path addresses
    its leaf property, so the leaf name is what gates the duration
    reinterpretation)."""
    if model is None:
        return frozenset()
    names = set()
    for k in model.kinds.values():
        for p in k.properties or []:
            if p.kind in _DATETIME_KINDS:
                names.add(p.name)
    return frozenset(names)


def _is_datetime_path(path: str, datetime_names: frozenset[str]) -> bool:
    if path.startswith("reported."):
        path = path[len("reported."):]
    if path in ("id", "kind"):
        return False
    return path.rsplit(".", 1)[-1] in datetime_names


def _predicate_column(
    pred: Predicate,
    now: "datetime | None" = None,
    datetime_names: frozenset[str] = frozenset(),
) -> Column:
    path = pred.path
    if path.startswith("reported."):
        path = path[len("reported."):]
    raw = F.get_json_object("reported", f"$.{path}")
    if pred.op == "in":
        values = pred.value
        col = raw.cast("double") if values and isinstance(
            values[0], (int, float)
        ) else raw
        return col.isin(
            *[float(v) if isinstance(v, (int, float)) else v for v in values]
        )
    if isinstance(pred.value, bool):
        col: Column = raw.cast("boolean")
        lit = F.lit(pred.value)
    elif isinstance(pred.value, (int, float)):
        col = raw.cast("double")
        lit = F.lit(float(pred.value))
    elif (
        pred.op != "~"
        and _is_datetime_path(pred.path, datetime_names)
        and (offset := _duration_offset(pred.value)) is not None
    ):
        # time-relative literal: "-3d" means now - 3 days; the path's
        # string value is compared as a timestamp against the resolved
        # cutoff.  ``now`` is injected by the caller for deterministic
        # replays (and the oracle); default is the wall clock.  Gated
        # on the property's DECLARED kind being datetime-like (round-7
        # advisor finding: without the gate, ``name == "45s"`` on a
        # string-kinded property silently became a timestamp
        # comparison, nulling plain strings — the reference coerces
        # durations only at datetime coercion points) and never for
        # ``~``, whose operand is always a regex.
        if now is None:
            from datetime import datetime, timedelta, timezone

            now = datetime.now(timezone.utc)
        from datetime import timedelta as _td

        cutoff = (now + _td(seconds=offset)).strftime("%Y-%m-%d %H:%M:%S")
        col = raw.cast("timestamp")
        lit = F.lit(cutoff).cast("timestamp")
    else:
        col, lit = raw, F.lit(pred.value)
    if pred.op == "==":
        return col == lit
    if pred.op == "!=":
        return col != lit
    if pred.op == ">":
        return col > lit
    if pred.op == ">=":
        return col >= lit
    if pred.op == "<":
        return col < lit
    if pred.op == "<=":
        return col <= lit
    if pred.op == "~":
        return col.rlike(str(pred.value))
    raise ValueError(f"unsupported op {pred.op}")


_IPV4_OCTET = r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
_IPV4_RE = r"^" + r"\.".join([_IPV4_OCTET] * 4) + r"$"


def _ipv4_to_long(col: Column) -> Column:
    """Dotted-quad string -> uint32 as a long; null (never matching)
    for anything that doesn't parse as four DECIMAL octets in 0-255.
    The anchored per-octet regex is the gate: without it an
    out-of-range quad like ``10.0.300.1`` still casts and aliases into
    higher bits, so ``in_subnet`` could falsely match malformed
    addresses (round-5 advisor finding)."""
    p = F.split(col, r"\.")
    return F.when(
        col.rlike(_IPV4_RE),
        p[0].cast("long") * 16777216
        + p[1].cast("long") * 65536
        + p[2].cast("long") * 256
        + p[3].cast("long"),
    )


def _fn_predicate_column(node: FnPredicate) -> Column:
    """Function predicates — the server-side function terms the
    reference delegates (remote_graph.py:62-63), compiled to pure
    column arithmetic (no UDF, so codegen keeps the filter in the scan
    stage and the same expression is statable in the DuckDB oracle).

    * ``in_subnet(path, "a.b.c.d/n")``: both addresses shift right by
      (32-n) bits; equality == same /n network.
    * ``has_key(path, "k", ...)``: every named key maps to a non-null
      value in the JSON object at ``path`` (divergence from a pure
      key-existence test: a key explicitly set to JSON null counts as
      absent — JSONPath extraction cannot tell the two apart, and the
      engines agree with each other on this reading)."""
    if node.fn == "in_subnet":
        cidr = node.args[0]
        try:
            net, prefix_s = cidr.split("/")
            prefix = int(prefix_s)
            octets = [int(o) for o in net.split(".")]
            assert len(octets) == 4 and 0 <= prefix <= 32
        except (ValueError, AssertionError):
            raise ValueError(f"bad CIDR {cidr!r}") from None
        net_int = (
            octets[0] * 16777216 + octets[1] * 65536 + octets[2] * 256 + octets[3]
        )
        shift = 32 - prefix
        ip = _ipv4_to_long(_path_column(node.path))
        return F.shiftright(ip, shift) == F.lit(net_int >> shift)
    if node.fn == "has_key":
        obj = _path_column(node.path)
        conds = [
            F.get_json_object(obj, f"$.{k}").isNotNull() for k in node.args
        ]
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out
    raise ValueError(f"unknown function predicate {node.fn}")


def _filter_column(
    node: Node, model: Model, now: "datetime | None" = None
) -> Column:
    if isinstance(node, IsKind):
        kinds = _matching_kinds(model, node.kind)
        return F.col("kind").isin(*kinds) if kinds else F.lit(False)
    if isinstance(node, Fulltext):
        # Whole-token, case-insensitive match over the serialized
        # reported document — the native stand-in for the server-side
        # fulltext index (reference remote_graph.py:62-63).  \b works
        # identically in Java regex and DuckDB's RE2, so the oracle can
        # state the same match.
        pat = r"\b" + re.escape(node.term.lower()) + r"\b"
        return F.lower(F.col("reported")).rlike(pat)
    if isinstance(node, Predicate):
        return _predicate_column(node, now, _datetime_property_names(model))
    if isinstance(node, FnPredicate):
        return _fn_predicate_column(node)
    if isinstance(node, BoolOp):
        left = _filter_column(node.left, model, now)
        right = _filter_column(node.right, model, now)
        return left & right if node.op == "and" else left | right
    if isinstance(node, NotOp):
        return ~_filter_column(node.child, model, now)
    raise TypeError(node)


def _path_column(path: str) -> Column:
    """Extract a search path: envelope columns by name, everything else
    from the reported JSON (dots descend)."""
    if path in ("id", "kind"):
        return F.col(path)
    if path.startswith("reported."):
        path = path[len("reported."):]
    return F.get_json_object("reported", f"$.{path}")


def _apply_with(
    out: DataFrame,
    w: WithClause,
    source: GraphSource,
    model: Model,
    now: "datetime | None" = None,
) -> DataFrame:
    """Compile one with() level to a semi/anti join; a nested with()
    recursively constrains the neighbor set first, so n-deep subqueries
    become n chained joins over the same edge frames."""
    neighbor = source.nodes
    if w.filter is not None:
        neighbor = neighbor.filter(_filter_column(w.filter, model, now))
    if w.nested is not None:
        neighbor = _apply_with(neighbor, w.nested, source, model, now)
    wedges = (
        source.default_edges()
        if w.edge_type is None
        else source.edges.filter(F.col("edge_type") == w.edge_type)
    )
    # outbound: keep nodes by their successors (from_id side);
    # inbound: keep nodes by their predecessors (to_id side)
    near, far = ("from_id", "to_id") if w.direction == "out" else (
        "to_id", "from_id"
    )
    linked = (
        wedges.join(
            neighbor.select(F.col("id").alias(far)), far, "left_semi"
        ).select(F.col(near).alias("id"))
    )
    how = "left_semi" if w.mode == "any" else "left_anti"
    return out.join(linked, "id", how)


def execute_search(
    source: GraphSource,
    model: Model,
    search_text: str,
    now: "datetime | None" = None,
) -> DataFrame:
    """Run a search over the graph; returns matching nodes
    (id, kind, reported) — or the aggregate table when an
    ``aggregate(...)`` clause is present.  ``now`` anchors
    time-relative literals ("-3d"): pass a fixed datetime for
    deterministic replays; default is the wall clock at compile."""
    search = parse_search(search_text)
    matched = source.nodes.filter(_filter_column(search.filter, model, now))
    if search.traversal is None:
        out = matched.select("id", "kind", "reported")
    else:
        t = search.traversal
        typed = (
            source.default_edges()
            if t.edge_type is None
            else source.edges.filter(F.col("edge_type") == t.edge_type)
        )
        edges = typed.select(
            F.col("from_id").alias("src"), F.col("to_id").alias("dst")
        )
        if t.direction == "in":
            edges = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        starts = matched.select(F.col("id").alias("node_id"))
        reached = reachable(
            edges, starts, max_depth=t.max_depth, min_depth=max(t.min_depth, 1)
        )
        out = source.nodes.join(
            reached.select(F.col("node_id").alias("id")), "id"
        ).select("id", "kind", "reported")
        if t.min_depth == 0:  # include the matched nodes themselves
            out = out.unionByName(matched.select("id", "kind", "reported")).distinct()

    if search.with_clause is not None:
        out = _apply_with(out, search.with_clause, source, model, now)

    if search.aggregate is not None:
        agg = search.aggregate
        keys = [_path_column(p).alias(alias) for p, alias in agg.groups]
        exprs = []
        for f in agg.funcs:
            if f.fn == "count" or (f.fn == "sum" and isinstance(f.arg, float)):
                e = (
                    F.count("*")
                    if f.fn == "count" or f.arg == 1.0
                    else F.sum(F.lit(f.arg))
                )
            else:
                val = _path_column(str(f.arg)).cast("double")
                e = getattr(F, f.fn)(val)
            exprs.append(e.alias(f.alias))
        out = out.groupBy(*keys).agg(*exprs) if keys else out.agg(*exprs)

    if search.sort is not None and search.aggregate is None:
        order = [
            (_path_column(p).asc() if d == "asc" else _path_column(p).desc())
            for p, d in search.sort
        ] + [F.col("id").asc()]
        out = out.orderBy(*order)
    elif search.sort is not None:
        order = [
            (F.col(p).asc() if d == "asc" else F.col(p).desc())
            for p, d in search.sort
        ]
        out = out.orderBy(*order)
    if search.limit is not None:
        out = out.limit(search.limit)
    return out
