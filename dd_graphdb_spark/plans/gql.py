"""GQL parser — the reference's Cypher-like query language.

The reference ships a pest grammar that never compiled (malformed rules,
graph/query/src/gql.pest:6-25 — see SURVEY.md §0.1) plus a programmatic
AST (graph/query/src/lib.rs:110-340). This is a working recursive-descent
parser for that declared surface:

    MATCH (v:Label {k: val})-[e:LABEL]->(u:Label) WHERE expr RETURN items
    CREATE (n:Label {..})-[:REL]->(m:Label {..})
    MATCH (v:Label) WHERE expr DELETE v

- node pattern: optional var, optional label, optional {prop: literal} map
- edge pattern: -[var?:LABEL?]->  (out), <-[...]-  (in), -[...]-  (undirected)
  (EdgeDirection, graph/query/src/lib.rs:150-160)
- WHERE: comparisons = != < > <= >= over var.prop and literals, AND/OR
  (graph/query/src/lib.rs:200-260)
- RETURN: *, var, var.prop  (graph/query/src/lib.rs:300-320)
- literals: 'str' / "str", numbers (Number lowers to int when integral else
  float, graph/query/src/lib.rs:66-88), true/false, null

Beyond the reference's declared grammar (which has none of these), the
standard Cypher result modifiers:

- RETURN DISTINCT ...
- count(*) / count(v) / count(v.prop) with Cypher's implicit grouping
  (non-aggregated return items become the grouping keys); also
  sum/avg/min/max(v.prop) and collect(v.prop) — the five aggregate
  kinds the reference's incremental engine dispatches
  (graph/views/src/incremental_engine.rs:931-946). collect() returns a
  SORTED array (Cypher leaves the order unspecified; sorting makes the
  result deterministic and engine-portable)
- ORDER BY v.prop [ASC|DESC], ... (projected items only)
- SKIP n LIMIT m
- OPTIONAL MATCH (left-outer pattern extension; its WHERE applies within
  the optional pattern, and it must share a variable with MATCH)
- WITH pipeline: project/aggregate, filter the intermediate by bare
  alias (the HAVING idiom), then RETURN references the WITH output by
  bare name; a NON-aggregating WITH may pass whole variables through
  and be followed by further MATCH / OPTIONAL MATCH clauses that join
  on them. Stages CHAIN natively (r12): `MATCH .. WITH .. WITH ..
  RETURN` — each stage carries its own DISTINCT / WHERE / ORDER BY /
  SKIP / LIMIT / post-WITH MATCH clauses / trailing UNWIND, and later
  stages reference earlier aliases as bare names
- RETURN ... AS alias; WHERE string predicates (CONTAINS / STARTS WITH /
  ENDS WITH / IN [..]) and cross-variable property comparisons
- WHERE NOT <cond>, v.prop IS [NOT] NULL (with a bare post-WITH alias,
  `x IS NULL` is the OPTIONAL-MATCH anti-join idiom), and DISTINCT
  inside aggregates: count/sum/avg/collect(DISTINCT v.prop)
  (avg(DISTINCT) = sum_distinct/count_distinct exactly)
- MATCH..SET (Cypher per-key update semantics) and single-node MERGE
- variable-length edges `-[p:LBL*1..3]->` (also `*n`, `*..m`, `*0..m`);
  the upper bound is mandatory (the plan is a finite union of hop
  joins), and the edge variable binds one property, `p.hops`
- UNWIND: `UNWIND [lit, ...] AS x` at statement start or between the
  MATCH clauses and RETURN (the list-literal driving-table form, a
  broadcast value table), and `WITH ... UNWIND alias AS x` where the
  alias is a WITH projection — typically `collect(...)` — exploded
  back to one row per element (empty/null lists yield no rows, the
  Cypher contract). The unwound name is referenceable in WHERE/RETURN
  as a bare name, and a bare name is now also legal on the RHS of a
  comparison (`WHERE r.name = x`)
- scalar expressions: arithmetic + - * / with parentheses over
  properties / bare names / literals, on either side of a WHERE
  comparison and as RETURN/WITH items (explicit alias mandatory for
  computed items); scalar functions toUpper / toLower / length / abs /
  round / coalesce (allow-listed 1:1 Spark/ANSI builtins); aggregates
  over expressions — sum(v.a * 2), max(abs(v.x - y)) — incl. DISTINCT;
  computed non-aggregated items participate in Cypher implicit grouping
- pattern predicates: WHERE [NOT] EXISTS((v)-[:LBL]->(u)) in the
  top-level AND chain — lowered as LEFT SEMI / LEFT ANTI joins on the
  shared variables' ids (the Spark-natural correlated-subquery rewrite)
- WITH pipeline modifiers: `WITH .. ORDER BY .. SKIP .. LIMIT ..`
  (the Cypher pipeline-top-k idiom) applied to the intermediate before
  post-WITH MATCH / UNWIND / RETURN; modifiers may be written in any
  order but apply as WHERE → ORDER BY → SKIP → LIMIT
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


# --------------------------------------------------------------------------- AST
@dataclass
class NodePattern:
    var: str | None
    label: str | None
    props: dict = field(default_factory=dict)
    # inline predicate (n:L WHERE pred) — Cypher 5; desugared at parse
    # into the consuming clause's WHERE (never reaches the lowerer)
    where: object | None = None


@dataclass
class EdgePattern:
    var: str | None
    label: str | None
    direction: str  # "out" | "in" | "undirected"
    # Variable-length quantifier `*min..max` (None/None = plain single
    # edge). Unbounded `*` / `*n..` is rejected at parse time: a bounded
    # hop count is what keeps the lowered plan a finite join union.
    min_hops: int | None = None
    max_hops: int | None = None
    props: dict = field(default_factory=dict)  # inline {prop: literal}
    # inline predicate -[r:T WHERE pred]-> — desugared like the node form
    where: object | None = None


@dataclass
class PathPattern:
    nodes: list[NodePattern]
    edges: list[EdgePattern]
    # `p = (a)-[:X]->(b)` — binds p.path (the "1->2" id rendering),
    # p.length, and the nodes(p)/relationships(p)/length(p) functions
    pvar: str | None = None


@dataclass
class PropRef:
    var: str
    prop: str


@dataclass
class Arith:
    """Arithmetic expression node: + - * / over operands that are
    literals, PropRef (prop=None → bare name), FuncCall, or Arith."""

    op: str
    left: object
    right: object


@dataclass
class FuncCall:
    """Scalar function call. The allow-list maps 1:1 to Spark built-ins
    and ANSI SQL (so oracles restate them verbatim): toUpper, toLower,
    length, abs, round, coalesce — plus the path functions nodes /
    relationships / length over a bound path variable (rewritten to the
    path's binding columns before lowering)."""

    name: str
    args: list


@dataclass
class CaseExpr:
    """Searched CASE: ``CASE WHEN cond THEN expr .. [ELSE expr] END``.
    Conditions are full WHERE trees; results are scalar expressions.
    Lowered to chained ``F.when`` — identical semantics in Spark and
    ANSI SQL (no ELSE ⇒ NULL)."""

    whens: list  # [(condition_tree, result_expr), ...]
    default: object | None = None


@dataclass
class Compare:
    var: str
    prop: str | None  # None → bare column reference (post-WITH aliases)
    op: str  # = != < > <= >=
    value: object  # literal, list (IN), PropRef, Arith, or FuncCall
    # non-trivial LHS (Arith/FuncCall); when set, var/prop are unused
    lhs: object | None = None


@dataclass
class BoolExpr:
    op: str  # AND | OR
    left: object
    right: object


@dataclass
class ListComp:
    """``[x IN <list> WHERE <pred> | <expr>]`` — Cypher list
    comprehension (both clauses optional, at least one present for the
    form to differ from a plain element). Lowered to Spark higher-order
    ``filter`` + ``transform`` — per-row, inside codegen."""

    var: str
    source: object
    pred: object | None  # WHERE clause
    map: object | None  # | projection


@dataclass
class ListExpr:
    """A list literal in expression position: ``[e1, e2, ..]`` with
    arbitrary element expressions. Lowered to ``F.array``."""

    items: list


@dataclass
class ReduceExpr:
    """``reduce(acc = <init>, x IN <list> | <step>)`` — Cypher list
    fold. Lowered to Spark's higher-order ``aggregate`` (per-row in
    codegen; the step expression sees both lambda variables)."""

    acc: str
    init: object
    var: str
    source: object
    step: object


@dataclass
class QuantPred:
    """``any/all/none/single(x IN <list> WHERE <pred>)`` — quantified
    list predicate. Lowered to Spark higher-order functions
    (exists / forall / filter): evaluated per row inside codegen, no
    explode, no shuffle."""

    kind: str  # any | all | none | single
    var: str  # lambda variable
    source: object  # list-valued expression
    pred: object  # condition tree over the lambda variable


@dataclass
class PatternPred:
    """``EXISTS((v)-[:LBL]->(u:Label))`` — an existential pattern
    predicate; the Cypher block form ``EXISTS { [MATCH] (v)-[:LBL]->(u)
    [WHERE pred] }`` additionally carries an inner WHERE applied to the
    subquery's own matches (inner-pattern variables only). Lowered as a
    LEFT SEMI join of the bindings against the inner pattern's matches
    on the shared variables' ids (LEFT ANTI under NOT). Only valid in a
    top-level AND chain: under OR the semi-join rewrite doesn't
    decompose (same restriction most engines apply to join-rewritten
    subqueries)."""

    pattern: PathPattern
    where: object | None = None


@dataclass
class CountSub:
    """``COUNT { [MATCH] (v)-[:LBL]->(u) [WHERE pred] }`` — a counting
    subquery in expression position (Cypher 5; beyond the reference —
    its parser never compiled, SURVEY §0.1). Per outer binding row, the
    number of subquery matches sharing that row's variable bindings.
    Lowered as a grouped count over the inner pattern's matches keyed
    by the shared variables' ids, LEFT-joined onto the bindings with a
    COALESCE-0 — one partial-aggregated shuffle on the inner side, no
    correlated execution."""

    pattern: PathPattern
    where: object | None = None


@dataclass
class MapProj:
    """``v {.name, .age}`` — Cypher map projection (the property-
    selection form). Rendered as a JSON string of the selected
    properties in SOURCE order — the engine's heterogeneous-map
    rendering, same convention as ``properties(v)``; null properties
    are omitted (to_json drops null fields)."""

    var: str
    props: list


@dataclass
class PatternComp:
    """``[(v)-[:LBL]->(u) WHERE pred | expr]`` — a pattern
    comprehension (Cypher; beyond the reference): per outer binding
    row, the list of ``expr`` over the subquery's matches sharing that
    row's variable bindings. Lowered like CountSub — a grouped
    ``collect_list`` LEFT-joined on the shared ids — with the list
    SORTED ascending for determinism (Cypher leaves the element order
    implementation-defined; this engine's oracle-parity contract
    requires a total order)."""

    pattern: PathPattern
    where: object | None
    expr: object


@dataclass
class ReturnItem:
    var: str
    prop: str | None  # None → whole vertex; var == "*" → all bindings
    agg: str | None = None  # "count" → aggregate over bindings
    alias: str | None = None  # RETURN ... AS name
    agg_distinct: bool = False  # count(DISTINCT v.prop) etc.
    # computed item (Arith/FuncCall); when set, var/prop are unused and
    # an explicit alias is mandatory (deterministic output schema).
    # With agg set too, the aggregate applies over the expression.
    expr: object | None = None
    # percentile for percentileCont/percentileDisc (literal in [0, 1])
    agg_param: float | None = None


@dataclass
class OrderItem:
    var: str
    prop: str | None
    desc: bool = False
    # computed sort key (Arith/FuncCall/CaseExpr); when set, var/prop
    # are unused. May reference projected outputs (aliases or projected
    # var.prop); non-projected properties must be aliased first.
    expr: object | None = None


@dataclass
class OptionalMatch:
    pattern: PathPattern
    where: object | None  # applies WITHIN the optional pattern (Cypher)


@dataclass
class ShortestPathPattern:
    """``p = shortestPath((a)-[:LBL*1..n]->(b))`` — hop-count shortest
    path between the endpoint sets, bounded by the mandatory upper hop
    bound (same rule as variable-length edges). The path variable binds
    three properties: ``p.hops`` (long), ``p.distance`` (double — the
    reference's routed shortest-path view exposes dist,
    graph/views/src/incremental_engine.rs:1214-1285), and ``p.path``
    (the "1->2->3" rendering). Unreachable pairs yield no row (Cypher);
    the weighted form remains the routed analytics view / sssp API."""

    pvar: str
    src: NodePattern
    edge: EdgePattern
    dst: NodePattern
    #: allShortestPaths((a)-[*..n]->(b)) — one row per TIED-minimum path
    #: instead of the single lexicographic winner (Cypher semantics)
    all_paths: bool = False

    @property
    def nodes(self):  # endpoint vars participate like pattern nodes
        return [self.src, self.dst]


@dataclass
class UnwindClause:
    # list (literal elements) or str (a WITH alias to explode)
    values: object
    alias: str


@dataclass
class WithStage:
    """One ``WITH`` stage of a read pipeline ``MATCH .. [WITH ..]*
    RETURN`` — every stage, the first included (Cypher's everyday linear
    pipeline; beyond the reference, whose grammar has no WITH at all —
    graph/query/src/gql.pest:28-42 covers only MATCH/WHERE/RETURN).
    Items project/aggregate the previous stage's scope (bare aliases +
    passed-through variables), then DISTINCT → WHERE → ORDER BY → SKIP
    → LIMIT apply in Cypher clause order, then the stage's own post-WITH
    MATCH clauses join on passed-through variables, then a trailing
    UNWIND feeds the next stage (or the RETURN)."""

    items: list
    distinct: bool = False
    where: object | None = None
    order: list = field(default_factory=list)
    skip: int | None = None
    limit: int | None = None
    post_clauses: list = field(default_factory=list)
    unwind: UnwindClause | None = None
    # WITH * [, extra items]: keep the whole in-scope frame (named
    # variables + bare aliases; anonymous bindings drop — Cypher scope)
    star: bool = False


@dataclass
class MatchStatement:
    """A read statement: MATCH pattern + WHERE, further MATCH clauses,
    an optional correlated CALL, the WITH pipeline (``with_stages``,
    first WITH at index 0) and the RETURN with its DISTINCT / ORDER BY /
    SKIP / LIMIT. Also the body of a correlated CALL (CallSubClause)."""

    pattern: PathPattern
    where: object | None
    returns: list[ReturnItem]
    distinct: bool = False
    order_by: list[OrderItem] = field(default_factory=list)
    skip: int | None = None
    limit: int | None = None
    # additional MATCH / OPTIONAL MATCH clauses in source order:
    # ("match", clause) inner-joins on shared variables, ("optional",
    # clause) left-joins (clause.where applies within the pattern)
    clauses: list = field(default_factory=list)
    # UNWIND at statement start (pattern may be None for the pure
    # `UNWIND [..] AS x RETURN ..` form); values must be a list literal
    unwind_first: UnwindClause | None = None
    # UNWIND right before RETURN in a statement WITHOUT a WITH pipeline
    # (a stage's trailing UNWIND is WithStage.unwind); a list literal
    unwind: UnwindClause | None = None
    # correlated CALL { WITH x .. } between the MATCH clauses and the
    # WITH/UNWIND/RETURN; its output columns join the scope as bare names
    call_sub: CallSubClause | None = None
    # the WITH pipeline, one WithStage per WITH in source order
    with_stages: list = field(default_factory=list)


@dataclass
class CreateStatement:
    pattern: PathPattern


@dataclass
class MergeStatement:
    """Cypher MERGE: match the ENTIRE pattern; if at least one binding
    exists return it, else create the whole pattern — nodes and edges —
    as one unit (single-clause Cypher semantics: a partially-matching
    pattern still creates ALL of it; use separate MERGE statements per
    node to reuse existing endpoints).

    ``ON CREATE SET`` / ``ON MATCH SET`` (Cypher conditional actions)
    carry ``[(var, prop, literal), ..]`` assignments applied to the
    branch that actually ran: on_create folds into the created pattern's
    properties (one snapshot version, same as a bare create), on_match
    updates every matched binding (one snapshot version, MATCH..SET
    semantics)."""

    pattern: PathPattern
    on_create: list = field(default_factory=list)
    on_match: list = field(default_factory=list)

    @property
    def node(self) -> NodePattern:  # single-node back-compat accessor
        return self.pattern.nodes[0]


@dataclass
class MatchDeleteStatement:
    """MATCH .. [DETACH] DELETE v. Both forms cascade incident-edge
    deletion — the reference's execute_match_delete always cascades
    (graph/query/src/executor.rs:569-615), so plain DELETE keeps that
    contract and DETACH DELETE is the Cypher-explicit spelling."""

    pattern: PathPattern
    where: object | None
    delete_var: str
    detach: bool = False


@dataclass
class MatchRemoveStatement:
    """MATCH .. REMOVE v.prop [, e.prop ..] — drop property keys from
    matched vertices/edges (Cypher REMOVE; the reference's schemaless
    property bags make this a map-key deletion); executes as ``SET
    v.prop = null``. Removing ``type`` clears the vertex label (label IS
    the type property, executor.rs:290-295)."""

    pattern: PathPattern
    where: object | None
    removals: list  # [(var, prop), ...]


@dataclass
class MatchSetStatement:
    """MATCH .. [WHERE] SET v.prop = <expr> [, ..] / SET v += {map}.

    ``assignments``: [(var, prop, value), ..] where value is a Python
    literal, None (removes the key) or an expression AST evaluated per
    matched binding row against the read side's lowering; all three
    take one path, GraphStore._apply_set (UpdateVertexProperties
    contract, graph/storage/src/lib.rs:310-318, extended with Cypher
    per-key semantics and computed values). ``+=`` map merge desugars
    to per-key entries at parse (_set_assignments)."""

    pattern: PathPattern
    where: object | None
    assignments: list  # [(var, prop, literal-or-expr-AST), ...]


def _edge_vars(pattern: PathPattern) -> set[str]:
    return {e.var for e in pattern.edges if e.var}


def _reject_edge_label_set(pattern: PathPattern, assigns: list) -> None:
    """SET (not REMOVE) refuses an edge variable's ``label``."""
    edge_vars = _edge_vars(pattern)
    if any(var in edge_vars and prop == "label" for var, prop, _ in assigns):
        raise ValueError(
            "GQL parse error: SET e.label is not supported: an edge's "
            "label is part of its identity (src, dst, label) — delete "
            "and re-create the edge instead"
        )


@dataclass
class LoopVar:
    """Marker for a FOREACH loop-variable reference in a body pattern's
    inline props (``CREATE (:Tag {v: x})``): substituted per element at
    execution."""

    name: str


@dataclass
class ForeachStatement:
    """``MATCH .. [WHERE] FOREACH (x IN <list-expr> | <body>)`` —
    Cypher FOREACH (beyond the reference either way: its parser never
    compiled, SURVEY §0.1). Supported bodies, one clause per FOREACH:

    - ``SET x.p = <expr>, ..`` — the canonical mark-the-path use
      (``FOREACH (n IN nodes(p) | SET n.marked = true)``); the list
      must evaluate to vertex IDS and values may be literals or
      expressions over the OUTER bindings row;
    - ``CREATE <pattern>`` — the bulk-create idiom
      (``FOREACH (x IN list | CREATE (:Tag {v: x}))``); list elements
      are VALUES, substituted for LoopVar references in the pattern's
      inline props; one node set per element per binding row, ONE
      snapshot version for the whole statement;
    - ``MERGE <pattern>`` — per DISTINCT element: match the whole
      substituted pattern, create it when absent (Cypher's
      within-statement visibility collapses to dedup because the
      pattern is fully determined by the element).

    DELETE bodies and nested FOREACH remain rejected at parse."""

    pattern: PathPattern
    where: object | None
    lvar: str
    source: object  # expression → list (of ids for SET, values for CREATE/MERGE)
    assignments: list  # SET body: [(prop, literal-or-expr), ...]
    body_kind: str = "set"  # "set" | "create" | "merge"
    body_pattern: object | None = None  # CREATE/MERGE body pattern


@dataclass
class CallSubClause:
    """CORRELATED ``CALL { WITH <vars> MATCH .. RETURN items }`` between
    the outer MATCH clauses and the WITH/RETURN (Cypher 5 per-row
    subquery; beyond the reference — its parser never compiled, SURVEY
    §0.1). Lowered like COUNT{}: the body executes ONCE as a derived
    table and joins back on the imported variables' id witnesses
    (grouped join, no per-row re-execution). A pure-aggregate body LEFT
    joins (one row per outer row — count()/sum() coalesce to 0,
    collect() to []); streaming and mixed grouped-aggregate bodies
    INNER join (Cypher drops outer rows whose subquery produced
    nothing). Body ORDER BY / SKIP / LIMIT rank per imported-id group
    (one row_number window — per-outer-row top-k), and the body may
    carry a WITH pipeline (``inner.with_stages``) with the same grammar
    and the same stage lowering as statement scope; each stage
    evaluates per imported binding, so the pipeline composes like
    Cypher's per-row execution without re-executing the body. A
    leading UNWIND (before the body MATCH) explodes its list per body
    binding; a nested CALL may appear alone or composed with the WITH
    pipeline (nested outputs enter the pipeline scope as bare names).
    A body UNWIND after the MATCH needs a WITH stage before it.
    Scope: every imported variable must be reused in the body pattern
    (the id witness IS the correlation). WITH * chains inside bodies
    (r13: keeps the whole body frame per imported binding, extras
    collision-checked);
    RETURN * is supported once a WITH stage has reduced the scope to
    named scalar columns — while entity bindings remain in scope it
    stays rejected, because * would re-export the imported variables
    into their own outer scope (Neo4j rejects the same shape —
    "variable already declared in outer scope"; FINAL as of r14, the
    guidance messages are pinned by the fuzzer corpus). A
    whole-variable RETURN item exports the ENTITY (r13): the variable
    joins the outer pattern scope with live binding columns
    (``RETURN y`` … ``RETURN y.name`` outside works like Neo4j);
    re-exporting a variable the outer scope already binds is rejected.

    ``OPTIONAL CALL { .. }`` (Cypher 25) keeps outer rows whose body
    produced nothing, NULL-filling the body outputs — the join-back
    becomes LEFT for streaming/mixed bodies too (a pure-aggregate body
    already yields one row per outer row, so OPTIONAL is a no-op
    there, matching Neo4j)."""

    imports: list  # variable names imported via the body's leading WITH
    inner: object  # MatchStatement (pattern reuses the imported vars)
    optional: bool = False  # OPTIONAL CALL — LEFT join-back, NULL fill


@dataclass
class CallStatement:
    """``CALL { <read query> } RETURN ..`` — an UNCORRELATED subquery
    (Cypher CALL subquery in its post-UNION-processing idiom; beyond
    the reference — its parser never compiled, SURVEY §0.1): the braces
    run a full read statement (including UNION chains), and the outer
    RETURN projects / aggregates the subquery's output columns by bare
    name, with its own DISTINCT / ORDER BY / SKIP / LIMIT. Correlated
    forms (an importing ``WITH``) are rejected at parse."""

    inner: object  # MatchStatement | UnionStatement
    returns: list
    distinct: bool = False
    order_by: list = field(default_factory=list)
    skip: int | None = None
    limit: int | None = None


@dataclass
class UnionStatement:
    """``<query> UNION [ALL] <query> [UNION [ALL] <query> ..]`` between
    full read statements (Cypher UNION; beyond the reference — its
    parser never compiled, SURVEY §0.1, so Cypher-standard semantics are
    the bar): plain UNION dedups the combined rows, UNION ALL keeps
    duplicates; all parts must produce the SAME column names in the same
    order, and one query cannot mix UNION with UNION ALL."""

    parts: list  # [MatchStatement, ...] — read statements only
    all: bool = False


# --------------------------------------------------------------------------- lexer
_TOKEN_RE = re.compile(
    r"""\s*(?:
      (?P<kw>\bMATCH\b|\bOPTIONAL\b|\bMERGE\b|\bWHERE\b|\bAS\b|\bRETURN\b|\bCREATE\b|\bDELETE\b|\bAND\b|\bOR\b
        |\bDISTINCT\b|\bORDER\b|\bBY\b|\bSKIP\b|\bLIMIT\b|\bASC\b|\bDESC\b
        |\bcount\b|\bsum\b|\bavg\b|\bmin\b|\bmax\b|\bcollect\b
        |\bCONTAINS\b|\bSTARTS\b|\bENDS\b|\bWITH\b|\bIN\b|\bSET\b
        |\bIS\b|\bNOT\b|\bUNWIND\b|\bUNION\b|\bALL\b
        |\btrue\b|\bfalse\b|\bnull\b)
    | (?P<num>-?\d+(?:\.\d+)?)
    | (?P<str>'[^']*'|"[^"]*")
    | (?P<op><=|>=|!=|<-|->|=~|=|<|>)
    | (?P<param>\$[A-Za-z_][A-Za-z0-9_]*)
    | (?P<punct>[()\[\]{}:,.*+/|%^-])
    | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
    )""",
    re.VERBOSE | re.IGNORECASE,
)


def _tokenize(text: str) -> list[tuple[str, str]]:
    toks, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            if text[pos:].strip() == "":
                break
            raise ValueError(f"GQL lex error at {pos}: {text[pos:pos+20]!r}")
        pos = m.end()
        for kind in ("kw", "num", "str", "op", "param", "punct", "ident"):
            v = m.group(kind)
            if v is not None:
                toks.append((kind if kind != "kw" else v.upper(), v))
                break
    toks.append(("EOF", ""))
    return toks


def _param_tokens(value, name: str) -> list[tuple[str, str]]:
    """Literal token(s) for one parameter value — substitution happens
    at the TOKEN level (Cypher parameters are values, so they are legal
    exactly where literals are, with zero grammar special-cases).
    Strings re-enter as a str token whose quotes the literal() reader
    strips without escape processing, so embedded quotes survive."""
    if value is None:
        return [("NULL", "null")]
    if isinstance(value, bool):
        return [("TRUE", "true")] if value else [("FALSE", "false")]
    if isinstance(value, (int, float)):
        tok = repr(value)
        if isinstance(value, float) and "." not in tok and "nan" not in tok and "inf" not in tok:
            # keep the float-ness visible to literal(): 1e+20 / 1e20
            # style reprs carry no '.', and literal() reads a dot-less
            # integral token back as an int — append the exponent-safe
            # marker so float params round-trip as doubles
            tok = tok + ".0" if "e" not in tok and "E" not in tok else tok.replace("e", ".0e", 1)
        return [("num", tok)]
    if isinstance(value, str):
        return [("str", f"'{value}'")]
    if isinstance(value, (list, tuple)):
        toks: list[tuple[str, str]] = [("punct", "[")]
        for i, el in enumerate(value):
            if i:
                toks.append(("punct", ","))
            toks.extend(_param_tokens(el, name))
        toks.append(("punct", "]"))
        return toks
    raise ValueError(
        f"GQL parameter ${name} has unsupported type "
        f"{type(value).__name__} — str/int/float/bool/None/list only"
    )


def _substitute_params(toks: list, params: dict | None) -> list:
    out: list[tuple[str, str]] = []
    for k, v in toks:
        if k != "param":
            out.append((k, v))
            continue
        name = v[1:]
        if params is None or name not in params:
            raise ValueError(
                f"GQL parameter ${name} is not bound — pass "
                f"params={{{name!r}: ...}}"
            )
        out.extend(_param_tokens(params[name], name))
    return out


# Word-shaped keyword tokens that may still be used as identifiers (labels,
# variables, property keys) in name positions — `(o:Order)` must not break
# because ORDER BY exists. TRUE/FALSE/NULL stay reserved: they are literals.
_NAMEABLE_KEYWORDS = frozenset(
    {
        "MATCH", "OPTIONAL", "MERGE", "WHERE", "RETURN", "CREATE", "DELETE", "AND", "OR",
        "DISTINCT", "ORDER", "BY", "SKIP", "LIMIT", "ASC", "DESC",
        "COUNT", "SUM", "AVG", "MIN", "MAX", "COLLECT",
        "CONTAINS", "STARTS", "ENDS", "WITH", "IN", "SET", "AS", "IS", "NOT",
        "UNWIND", "UNION", "ALL",
    }
)


class _Parser:
    def __init__(self, toks: list[tuple[str, str]]):
        self.toks = toks
        self.i = 0
        self._anon = 0
        # FOREACH body parsing: the loop variable's name, legal as an
        # inline-prop VALUE inside the body pattern (LoopVar marker)
        self._prop_var_ok: str | None = None

    def peek(self) -> tuple[str, str]:
        return self.toks[self.i]

    def next(self) -> tuple[str, str]:
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, kind: str, val: str | None = None) -> str:
        k, v = self.next()
        if k != kind or (val is not None and v != val):
            raise ValueError(f"GQL parse error: expected {val or kind}, got {v!r}")
        return v

    def accept(self, kind: str, val: str | None = None) -> bool:
        k, v = self.peek()
        if k == kind and (val is None or v == val):
            self.i += 1
            return True
        return False

    # ----- identifiers (keywords allowed in name positions)
    def at_name(self) -> bool:
        k, _ = self.peek()
        return k == "ident" or k in _NAMEABLE_KEYWORDS

    def expect_name(self) -> str:
        k, v = self.next()
        if k == "ident" or k in _NAMEABLE_KEYWORDS:
            return v
        raise ValueError(f"GQL parse error: expected identifier, got {v!r}")

    @staticmethod
    def _check_var(name: str) -> str:
        """Variable/alias BINDING positions reject the '_' prefix — it
        is the engine's reserved namespace (anonymous pattern bindings
        `_anonN`/`_e0`, synthetic subquery columns), so a user binding
        like `_e0` would silently collide with an anonymous edge and a
        `_x` alias would fall out of WITH * scope. A DOUBLE underscore
        anywhere in a binding is rejected too: `var__col` is the
        engine's binding-column separator, so an alias like `my__alias`
        would be misclassified as a binding column by every bare-alias
        scope computation and silently drop out of scope. Property
        names are unrestricted (they live under `var__prop`, never
        bare)."""
        if name.startswith("_"):
            raise ValueError(
                f"GQL parse error: variable/alias {name!r} — names "
                "starting with '_' are reserved for the engine's "
                "anonymous and synthetic bindings"
            )
        if "__" in name:
            raise ValueError(
                f"GQL parse error: variable/alias {name!r} — '__' is "
                "the engine's binding-column separator and cannot "
                "appear in a binding name"
            )
        return name

    # ----- literals
    def literal(self):
        k, v = self.next()
        if k == "num":
            f = float(v)
            return int(f) if f.is_integer() and "." not in v else f
        if k == "str":
            return v[1:-1]
        if k == "TRUE":
            return True
        if k == "FALSE":
            return False
        if k == "NULL":
            return None
        raise ValueError(f"GQL parse error: bad literal {v!r}")

    def _prop_value(self):
        """Inline-prop value in a pattern: a literal, or — inside a
        FOREACH body only — the loop variable (LoopVar marker,
        substituted per element at execution)."""
        if (
            self._prop_var_ok is not None
            and self.at_name()
            and self.peek()[1] == self._prop_var_ok
        ):
            return LoopVar(self.next()[1])
        return self.literal()

    # ----- patterns
    def node(self) -> NodePattern:
        self.expect("punct", "(")
        var = label = None
        props: dict = {}
        if self.at_name():
            var = self._check_var(self.next()[1])
        if self.accept("punct", ":"):
            # label alternation (n:A|B) — stored "|"-joined (labels
            # cannot contain "|"); read filters lower to isin, write
            # patterns reject the form
            label = self.expect_name()
            while self.accept("punct", "|"):
                label += "|" + self.expect_name()
        if self.accept("punct", "{"):
            while not self.accept("punct", "}"):
                key = self.expect_name()
                self.expect("punct", ":")
                props[key] = self._prop_value()
                self.accept("punct", ",")
        nwhere = self.where_expr() if self.accept("WHERE") else None
        self.expect("punct", ")")
        if var is None:
            if nwhere is not None:
                raise ValueError(
                    "GQL parse error: an inline WHERE needs a named "
                    "node variable to reference"
                )
            self._anon += 1
            var = f"_anon{self._anon}"
        return NodePattern(var, label, props, nwhere)

    def edge(self) -> EdgePattern | None:
        # -[v:LBL*n..m]-> | <-[...]- | -[...]-  and bare forms  -> | <- | --
        k, v = self.peek()
        if v == "<-":
            self.next()
            var, label, lo, hi, props, ew = self._edge_body()
            self.expect("punct", "-")
            return EdgePattern(var, label, "in", lo, hi, props, ew)
        if v == "->":
            self.next()
            return EdgePattern(None, None, "out")
        if v == "-":
            self.next()
            var, label, lo, hi, props, ew = self._edge_body()
            if self.accept("op", "->"):
                return EdgePattern(var, label, "out", lo, hi, props, ew)
            self.expect("punct", "-")
            return EdgePattern(var, label, "undirected", lo, hi, props, ew)
        return None

    def _edge_body(self):
        var = label = lo = hi = None
        props: dict = {}
        if self.accept("punct", "["):
            if self.at_name():
                var = self._check_var(self.next()[1])
            if self.accept("punct", ":"):
                # type alternation -[:KNOWS|LIKES]-> (Cypher) — same
                # "|"-joined convention as node labels
                label = self.expect_name()
                while self.accept("punct", "|"):
                    label += "|" + self.expect_name()
            if self.accept("punct", "*"):
                lo, hi = self._hop_bounds()
            if self.accept("punct", "{"):
                if lo is not None:
                    raise ValueError(
                        "GQL parse error: inline edge properties are not "
                        "supported on variable-length patterns"
                    )
                while not self.accept("punct", "}"):
                    key = self.expect_name()
                    self.expect("punct", ":")
                    props[key] = self._prop_value()
                    self.accept("punct", ",")
            ewhere = self.where_expr() if self.accept("WHERE") else None
            if ewhere is not None and lo is not None:
                raise ValueError(
                    "GQL parse error: an inline WHERE is not supported "
                    "on variable-length patterns — there is no single "
                    "edge binding to test"
                )
            if ewhere is not None and var is None:
                raise ValueError(
                    "GQL parse error: an inline WHERE needs a named "
                    "edge variable to reference"
                )
            self.expect("punct", "]")
            return var, label, lo, hi, props, ewhere
        return var, label, lo, hi, props, None

    def _hop_bounds(self) -> tuple[int, int]:
        """Cypher-style quantifier after `*`: `n` (exact), `n..m`, `..m`
        (1..m). Unbounded (`*`, `n..`) is rejected — the lowered plan is
        a finite union of hop joins, so a bound is required."""
        lo = hi = None
        if self.peek()[0] == "num":
            lo = self._hop_int()
            if self.accept("punct", "."):
                self.expect("punct", ".")
                if self.peek()[0] == "num":
                    hi = self._hop_int()
            else:
                hi = lo
        elif self.accept("punct", "."):
            self.expect("punct", ".")
            lo, hi = 1, self._hop_int()
        else:
            lo = 1
        if hi is None:
            raise ValueError(
                "GQL parse error: unbounded variable-length pattern — "
                "give an upper bound, e.g. *1..4"
            )
        if hi < lo or hi < 1:
            raise ValueError(f"GQL parse error: bad hop range *{lo}..{hi}")
        return lo, hi

    def _hop_int(self) -> int:
        k, v = self.next()
        if k != "num" or "." in v or v.startswith("-"):
            raise ValueError(f"GQL parse error: hop bound must be a non-negative integer, got {v!r}")
        return int(v)

    def path(self) -> PathPattern:
        nodes = [self.node()]
        edges: list[EdgePattern] = []
        while True:
            e = None
            k, v = self.peek()
            if v in ("-", "<-", "->"):
                e = self.edge()
            if e is None:
                break
            edges.append(e)
            nodes.append(self.node())
        return PathPattern(nodes, edges)

    @staticmethod
    def _fold_where(pat, where):
        """AND the pattern's inline WHEREs ((n WHERE p), [r WHERE q])
        into the consuming clause's WHERE — Cypher 5 inline predicates
        are pure parse-time sugar here; the lowerer sees one condition
        tree. Source order: inline conjuncts first, clause WHERE last
        (conjunction — order is unobservable)."""
        conds = [n.where for n in pat.nodes if n.where is not None]
        conds += [e.where for e in pat.edges if e.where is not None]
        out = None
        for c in conds:
            out = c if out is None else BoolExpr("AND", out, c)
        if out is None:
            return where
        return out if where is None else BoolExpr("AND", out, where)

    # statistical aggregates parsed from plain identifiers (the five
    # core aggregates are lexer keywords): stDev/stDevP (sample /
    # population), percentileCont (linear interpolation — Spark
    # percentile() ≡ DuckDB quantile_cont), percentileDisc (Neo4j
    # nearest-rank ceil(p·n) ≡ DuckDB quantile_disc, verified)
    IDENT_AGGS = {"stdev", "stdevp", "percentilecont", "percentiledisc"}

    # ----- scalar expressions (+ - * / precedence, functions, parens)
    # arity: int = exact, -1 = variadic (≥2), (lo, hi) = inclusive range
    SCALAR_FUNCS = {
        "toupper": 1, "tolower": 1, "length": 1, "abs": 1,
        "round": (1, 2),  # round(x) = round(x, 0) — Cypher/Spark/ANSI
        "coalesce": -1,
        # path functions: valid only over a bound path variable — the
        # lowering rewrites them to the path's binding columns and
        # rejects any other argument
        "nodes": 1, "relationships": 1,
        # entity functions over a bound vertex/edge variable: id(v),
        # labels(v) (one-element list — the data model is single-label,
        # executor.rs:290-295), type(e) (the edge label).
        # startNode/endNode resolve to the edge's endpoint IDS (the data
        # model's node reference IS its id); id(startNode(e)) composes.
        "id": 1, "labels": 1, "type": 1,
        "startnode": 1, "endnode": 1,
        # keys(v) → sorted non-null property names; properties(v) → a
        # JSON string of the non-null properties (Spark maps are
        # homogeneous, Cypher maps are not — JSON is the Spark-native
        # heterogeneous rendering, matching the engine's JSON surface)
        "keys": 1, "properties": 1,
        # Cypher string surface. substring is 0-indexed (Cypher) and
        # lowered to Spark's 1-indexed builtin; split takes a LITERAL
        # delimiter (Cypher splits on a string, Spark's builtin on a
        # regex — the lowering escapes, so a non-literal is rejected).
        "substring": (2, 3), "trim": 1, "ltrim": 1, "rtrim": 1,
        "replace": 3, "reverse": 1, "left": 2, "right": 2,
        "split": 2, "size": 1,
        # numeric + conversions (Cypher types: ceil/floor → Float,
        # sign → Integer, toInteger truncates toward zero)
        "sqrt": 1, "ceil": 1, "floor": 1, "sign": 1,
        "tointeger": 1, "tofloat": 1, "tostring": 1,
        # list surface: range is inclusive on both ends (Cypher ≡ Spark
        # sequence ≡ DuckDB generate_series); head/last of empty → NULL
        "range": (2, 3), "head": 1, "last": 1, "tail": 1,
        # temporal surface: date/datetime CONVERT a value (string in
        # Cypher's ISO format, or an existing temporal) — the 0-arg
        # "now" forms are deliberately absent (a query result must be a
        # pure function of the graph — the oracle-parity contract);
        # duration takes a LITERAL ISO-8601 string ('P1DT2H30M') and
        # lowers to a Spark interval, composing with +/- on temporals.
        # Components are POSTFIX properties (Cypher): date(x).year,
        # o.orderdate.month — see _postfix/_TEMPORAL_COMPS.
        "date": 1, "datetime": 1, "duration": 1,
    }

    #: Cypher temporal-instant component properties (postfix .comp on
    #: any expression). dayofweek is ISO (1 = Monday) like Cypher;
    #: epochseconds matches datetime().epochSeconds.
    _TEMPORAL_COMPS = frozenset(
        {
            "year", "quarter", "month", "week", "day",
            "hour", "minute", "second", "dayofweek", "epochseconds",
        }
    )

    def _postfix(self, node):
        """Temporal component access: <expr>.year / .month / ... —
        accepted after a function call, parenthesized expression, or
        property reference (``o.ts.year`` reads component ``year`` of
        property ``ts``). Lowered via the ``_temporal_*`` scalar fns."""
        while (
            self.peek() == ("punct", ".")
            and self.toks[self.i + 1][1].lower() in self._TEMPORAL_COMPS
        ):
            self.next()
            comp = self.expect_name().lower()
            node = FuncCall(f"_temporal_{comp}", [node])
        return node

    def at_expr_operand(self) -> bool:
        k, v = self.peek()
        return (
            k in ("num", "str", "TRUE", "FALSE", "NULL")
            or self.at_name()
            or v in ("(", "[")
        )

    def expr(self):
        left = self.term()
        while True:
            k, v = self.peek()
            if v in ("+", "-") and k == "punct":
                self.next()
                left = Arith(v, left, self.term())
            elif k == "num" and v.startswith("-"):
                # 'a.x -1' lexes the minus into the number; absorb it as
                # subtraction so spaced and unspaced forms agree
                left = Arith("-", left, -self.literal())
            else:
                return left

    def term(self):
        left = self.power()
        while self.peek()[0] == "punct" and self.peek()[1] in ("*", "/", "%"):
            op = self.next()[1]
            left = Arith(op, left, self.power())
        return left

    def power(self):
        # ^ binds tighter than * / % and is right-associative (Cypher)
        left = self.factor()
        if self.peek() == ("punct", "^"):
            self.next()
            return Arith("^", left, self.power())
        return left

    def _ident_kw(self, word: str) -> bool:
        """CASE/WHEN/THEN/ELSE/END/DETACH/REMOVE are contextual keywords
        (plain identifiers everywhere else)."""
        k, v = self.peek()
        return k == "ident" and v.upper() == word

    def _case_expr(self) -> CaseExpr:
        self.next()  # CASE
        operand = None
        if not self._ident_kw("WHEN"):
            # simple form: CASE expr WHEN val THEN res .. END — desugar
            # to searched CASE over operand = val equality conditions
            # (Cypher/SQL semantics coincide; a NULL operand matches no
            # WHEN, falling through to ELSE/NULL on both engines)
            operand = self.expr()
            if not self._ident_kw("WHEN"):
                raise ValueError(
                    "GQL parse error: CASE needs WHEN — searched "
                    "CASE WHEN cond THEN expr .. [ELSE expr] END or "
                    "simple CASE expr WHEN val THEN expr .. END"
                )
        whens = []
        while self._ident_kw("WHEN"):
            self.next()
            if operand is None:
                cond = self.where_expr()
            else:
                cond = Compare("", None, "=", self.expr(), lhs=operand)
            if not self._ident_kw("THEN"):
                raise ValueError("GQL parse error: CASE WHEN needs THEN")
            self.next()
            whens.append((cond, self.expr()))
        default = None
        if self._ident_kw("ELSE"):
            self.next()
            default = self.expr()
        if not self._ident_kw("END"):
            raise ValueError("GQL parse error: CASE needs END")
        self.next()
        return CaseExpr(whens, default)

    def _subquery_block(self) -> tuple:
        """Body of ``EXISTS { .. }`` / ``COUNT { .. }`` after the ``{``:
        ``[MATCH] <pattern> [WHERE pred] }`` — the optional MATCH is the
        Cypher-canonical spelling, the bare pattern the short form."""
        self.accept("MATCH")
        pat = self.path()
        where = self.where_expr() if self.accept("WHERE") else None
        self.expect("punct", "}")
        return pat, self._fold_where(pat, where)

    def factor(self):
        k, v = self.peek()
        if k == "COUNT" and self.toks[self.i + 1] == ("punct", "{"):
            # COUNT { [MATCH] <pattern> [WHERE pred] } — counting subquery
            self.next()
            self.next()
            return CountSub(*self._subquery_block())
        if k == "COLLECT" and self.toks[self.i + 1] == ("punct", "{"):
            # COLLECT { [MATCH] <pattern> [WHERE pred] RETURN <expr> } —
            # the Cypher 5 COLLECT subquery; same lowering as a pattern
            # comprehension (grouped sorted collect_list joined on the
            # shared ids — the sort is this engine's determinism
            # contract, Cypher leaves the order implementation-defined)
            self.next()
            self.next()
            self.accept("MATCH")
            pat = self.path()
            where = self._fold_where(
                pat, self.where_expr() if self.accept("WHERE") else None
            )
            self.expect("RETURN")
            expr = self.expr()
            self.expect("punct", "}")
            return PatternComp(pat, where, expr)
        if v == "[" and k == "punct":
            self.next()
            # pattern comprehension: [ (a)-[:L]->(b) [WHERE p] | expr ]
            # — disambiguated from a list literal whose first element is
            # parenthesized by requiring ≥1 edge in the parsed pattern
            if self.peek() == ("punct", "("):
                save = self.i
                try:
                    pat = self.path()
                    if not pat.edges:
                        raise ValueError("_pc_backtrack")
                    where = self._fold_where(
                        pat, self.where_expr() if self.accept("WHERE") else None
                    )
                    if not self.accept("punct", "|"):
                        raise ValueError(
                            "GQL parse error: a pattern comprehension "
                            "needs a | projection — [pattern | expr]"
                        )
                    expr = self.expr()
                    self.expect("punct", "]")
                    return PatternComp(pat, where, expr)
                except ValueError as ex:
                    if "pattern comprehension" in str(ex):
                        raise
                    self.i = save
            # comprehension: [x IN list ...] — a name followed by IN
            if self.at_name() and self.toks[self.i + 1][0] == "IN":
                lvar = self.expect_name()
                self.expect("IN")
                src = self.expr()
                pred = None
                if self.accept("WHERE"):
                    pred = self.where_expr()
                mapped = None
                if self.accept("punct", "|"):
                    mapped = self.expr()
                self.expect("punct", "]")
                return ListComp(lvar, src, pred, mapped)
            items = []
            while not self.accept("punct", "]"):
                items.append(self.expr())
                self.accept("punct", ",")
            return ListExpr(items)
        if v == "(" and k == "punct":
            self.next()
            inner = self.expr()
            self.expect("punct", ")")
            return self._postfix(inner)
        if v == "-" and k == "punct":
            self.next()
            return Arith("-", 0, self.factor())
        if self._ident_kw("CASE"):
            return self._case_expr()
        if (
            self.at_name()
            and self.peek()[1].lower() == "reduce"
            and self.toks[self.i + 1] == ("punct", "(")
        ):
            self.next()
            self.next()  # (
            acc = self.expect_name()
            if not self.accept("op", "="):
                raise ValueError(
                    "GQL parse error: reduce(acc = init, x IN list | step)"
                )
            init = self.expr()
            self.expect("punct", ",")
            lvar = self.expect_name()
            self.expect("IN")
            src = self.expr()
            if not self.accept("punct", "|"):
                raise ValueError(
                    "GQL parse error: reduce needs a | step expression"
                )
            step = self.expr()
            self.expect("punct", ")")
            return ReduceExpr(acc, init, lvar, src, step)
        if self.at_name() and self.toks[self.i + 1] == ("punct", "("):
            name = self.next()[1]
            fname = name.lower()
            if fname not in self.SCALAR_FUNCS:
                raise ValueError(
                    f"GQL parse error: unknown function {name}() — "
                    f"have {sorted(self.SCALAR_FUNCS)}"
                )
            self.next()  # (
            args = []
            while not self.accept("punct", ")"):
                args.append(self.expr())
                self.accept("punct", ",")
            arity = self.SCALAR_FUNCS[fname]
            if isinstance(arity, tuple):
                bad = not (arity[0] <= len(args) <= arity[1])
                want = f"{arity[0]}–{arity[1]}"
            else:
                bad = (arity >= 0 and len(args) != arity) or (
                    arity < 0 and len(args) < 2
                )
                want = "≥2" if arity < 0 else str(arity)
            if bad:
                raise ValueError(
                    f"GQL parse error: {name}() takes {want} argument(s)"
                )
            return self._postfix(FuncCall(fname, args))
        if self.at_name():
            var = self.next()[1]
            if self.accept("punct", "."):
                return self._postfix(PropRef(var, self.expect_name()))
            if self.peek() == ("punct", "{") and self.toks[self.i + 1] == (
                "punct", ".",
            ):
                # map projection: v {.name, .age} (property selection)
                self.next()
                props = []
                while True:
                    self.expect("punct", ".")
                    props.append(self.expect_name())
                    if not self.accept("punct", ","):
                        break
                self.expect("punct", "}")
                return MapProj(var, props)
            return PropRef(var, None)
        return self.literal()

    # ----- where expr (OR lowest precedence, then XOR, then AND — Cypher)
    def where_expr(self):
        left = self.xor_expr()
        while self.accept("OR"):
            left = BoolExpr("OR", left, self.xor_expr())
        return left

    def xor_expr(self):
        left = self.and_expr()
        while self._ident_kw("XOR"):
            self.next()
            left = BoolExpr("XOR", left, self.and_expr())
        return left

    def and_expr(self):
        left = self.comparison()
        while self.accept("AND"):
            left = BoolExpr("AND", left, self.comparison())
        return left

    def comparison(self):
        if self.accept("NOT"):
            # unary negation binds tighter than AND/OR (Cypher NOT);
            # three-valued semantics are Spark-native (~null = null)
            return BoolExpr("NOT", self.comparison(), None)
        if self.peek() == ("punct", "("):
            # '(' opens either a boolean group — (a.x > 1) AND … — or an
            # arithmetic group — (a.x + 1) > 2. Try the boolean parse;
            # if it fails, or a scalar operator follows the close paren,
            # backtrack and re-parse as an expression comparison.
            save = self.i
            try:
                self.next()
                inner = self.where_expr()
                self.expect("punct", ")")
                k, v = self.peek()
                if (k == "punct" and v in "+-*/") or k == "op":
                    raise ValueError("_arith_backtrack")
                return inner
            except ValueError:
                self.i = save
        if (
            self.at_name()
            and self.peek()[1].lower() == "exists"
            and self.toks[self.i + 1] == ("punct", "(")
        ):
            self.next()
            self.next()
            pat = self.path()
            self.expect("punct", ")")
            return PatternPred(pat, self._fold_where(pat, None))
        if (
            self.at_name()
            and self.peek()[1].lower() == "exists"
            and self.toks[self.i + 1] == ("punct", "{")
        ):
            # block form: EXISTS { [MATCH] <pattern> [WHERE pred] }
            self.next()
            self.next()
            return PatternPred(*self._subquery_block())
        if (
            self.at_name()
            and self.peek()[1].lower() in ("any", "all", "none", "single")
            and self.toks[self.i + 1] == ("punct", "(")
        ):
            kind = self.next()[1].lower()
            self.next()  # (
            lvar = self.expect_name()
            self.expect("IN")
            src = self.expr()
            if not self.accept("WHERE"):
                raise ValueError(
                    f"GQL parse error: {kind}(x IN list WHERE pred) "
                    "needs a WHERE predicate"
                )
            pred = self.where_expr()
            self.expect("punct", ")")
            return QuantPred(kind, lvar, src, pred)
        lhs = self.expr()
        plain = isinstance(lhs, PropRef)
        var, prop = (lhs.var, lhs.prop) if plain else (None, None)
        if plain:
            if self.accept("IS"):
                negated = self.accept("NOT")
                self.expect("NULL")
                return Compare(var, prop, "is_not_null" if negated else "is_null", None)
            if self.accept("CONTAINS"):
                return Compare(var, prop, "contains", self._str_literal("CONTAINS"))
            if self.accept("STARTS"):
                self.expect("WITH")
                return Compare(var, prop, "starts_with", self._str_literal("STARTS WITH"))
            if self.accept("ENDS"):
                self.expect("WITH")
                return Compare(var, prop, "ends_with", self._str_literal("ENDS WITH"))
            if self.accept("IN"):
                if self.peek() == ("punct", "[") and (
                    self.i + 2 >= len(self.toks)
                    or self.toks[self.i + 2][0] != "IN"
                ):
                    # literal list → isin (pushdown-friendly)
                    self.expect("punct", "[")
                    vals = []
                    while not self.accept("punct", "]"):
                        vals.append(self.literal())
                        self.accept("punct", ",")
                    return Compare(var, prop, "in", vals)
                # list-valued expression (range/split/tail/comprehension/
                # a WITH alias) → array_contains membership
                return Compare(var, prop, "in_expr", self.expr())
            if self.accept("op", "=~"):
                # Cypher regex match — FULL-string semantics (unlike
                # Spark rlike's substring search; the lowering anchors)
                return Compare(var, prop, "regex", self._str_literal("=~"))
        elif self.accept("IN"):
            # computed LHS membership: toInteger(..) IN range(..)
            if self.peek() == ("punct", "[") and (
                self.i + 2 >= len(self.toks)
                or self.toks[self.i + 2][0] != "IN"
            ):
                self.expect("punct", "[")
                vals = []
                while not self.accept("punct", "]"):
                    vals.append(self.literal())
                    self.accept("punct", ",")
                return Compare(None, None, "in", vals, lhs=lhs)
            return Compare(None, None, "in_expr", self.expr(), lhs=lhs)
        op = self.expect("op")
        if (
            op == "<-"
            and self.at_name()
            and self.peek()[0] not in ("TRUE", "FALSE", "NULL")
        ):
            # `a.age<-b.age` lexed as the edge arrow: no lowering exists
            # for '<-' against a property reference — reject with a
            # clear message instead of a KeyError deep in the lowerer
            raise ValueError(
                "GQL parse error: '<-' before a name is ambiguous — "
                "write 'a.x < b.y' (spaced) or compare against a literal"
            )
        if op == "<-":
            # `a.age<-5` lexes as the edge arrow '<-' + '5'; in WHERE
            # context it means '<' followed by a unary minus
            val = self.literal()
            if not isinstance(val, (int, float)) or isinstance(val, bool):
                raise ValueError("GQL parse error: expected number after '<-'")
            return Compare(var, prop, "<", -val, lhs=None if plain else lhs)
        rhs = self.expr()
        return Compare(var, prop, op, rhs, lhs=None if plain else lhs)

    def _str_literal(self, ctx: str) -> str:
        v = self.literal()
        if not isinstance(v, str):
            raise ValueError(f"GQL parse error: {ctx} needs a string literal")
        return v

    # ----- returns
    def return_items(self, bare_ok: bool = False) -> list[ReturnItem]:
        items = []
        while True:
            if self.accept("punct", "*"):
                items.append(ReturnItem("*", None))
            elif (
                self.peek()[0] in ("COUNT", "SUM", "AVG", "MIN", "MAX", "COLLECT")
                or (
                    self.peek()[0] == "ident"
                    and self.peek()[1].lower() in self.IDENT_AGGS
                )
            ) and self.toks[self.i + 1][1] == "(":
                k, v = self.next()
                agg = v.lower() if k == "ident" else k.lower()
                self.expect("punct", "(")
                distinct = self.accept("DISTINCT")
                if distinct and agg in self.IDENT_AGGS:
                    raise ValueError(
                        f"GQL parse error: {agg}(DISTINCT ..) is not defined"
                    )
                if self.accept("punct", "*"):
                    if agg != "count" or distinct:
                        raise ValueError(f"GQL parse error: {agg}(*) is not defined")
                    items.append(ReturnItem("*", None, agg="count"))
                else:
                    inner = self.expr()
                    param = None
                    if agg in ("percentilecont", "percentiledisc"):
                        # percentile is a LITERAL: it parameterizes the
                        # aggregate itself (Neo4j signature)
                        if not self.accept("punct", ","):
                            raise ValueError(
                                f"GQL parse error: {agg}(expr, p) needs a "
                                "percentile argument"
                            )
                        param = self.literal()
                        if (
                            not isinstance(param, (int, float))
                            or isinstance(param, bool)
                            or not (0 <= param <= 1)
                        ):
                            raise ValueError(
                                f"GQL parse error: {agg} percentile must be "
                                "a literal number in [0, 1]"
                            )
                        param = float(param)
                    if isinstance(inner, PropRef):
                        var, prop = inner.var, inner.prop
                        if agg != "count" and prop is None and not bare_ok:
                            raise ValueError(
                                f"GQL parse error: {agg}() needs a property (var.prop)"
                            )
                        items.append(
                            ReturnItem(
                                var, prop, agg=agg, agg_distinct=distinct,
                                agg_param=param,
                            )
                        )
                    else:
                        # aggregate over a computed expression,
                        # e.g. sum(v.a * v.b)
                        items.append(
                            ReturnItem(
                                "_expr", None, agg=agg,
                                agg_distinct=distinct, expr=inner,
                                agg_param=param,
                            )
                        )
                self.expect("punct", ")")
            else:
                e = self.expr()
                if isinstance(e, PropRef):
                    items.append(ReturnItem(e.var, e.prop))
                else:
                    items.append(ReturnItem("_expr", None, expr=e))
            if self.accept("AS"):
                if items[-1].var == "*" and items[-1].agg is None:
                    raise ValueError("GQL parse error: RETURN * cannot be aliased")
                items[-1].alias = self._check_var(self.expect_name())
            elif items[-1].expr is not None:
                raise ValueError(
                    "GQL parse error: a computed item needs an explicit "
                    "alias — write '<expr> AS name'"
                )
            if not self.accept("punct", ","):
                break
        return items

    def _order_items(self) -> list[OrderItem]:
        items = []
        while True:
            e = self.expr()
            if isinstance(e, PropRef):
                item = OrderItem(e.var, e.prop)
            else:
                # computed sort key — ORDER BY expr (scoped to the
                # projected output; the lowering rewrites references)
                item = OrderItem("_expr", None, expr=e)
            item.desc = bool(self.accept("DESC")) or (
                self.accept("ASC") and False
            )
            items.append(item)
            if not self.accept("punct", ","):
                break
        return items

    def _result_modifiers(self, stmt: MatchStatement) -> MatchStatement:
        if self.accept("ORDER"):
            self.expect("BY")
            stmt.order_by.extend(self._order_items())
        if self.accept("SKIP"):
            stmt.skip = self._nonneg_int("SKIP")
        if self.accept("LIMIT"):
            stmt.limit = self._nonneg_int("LIMIT")
        return stmt

    def _nonneg_int(self, kw: str) -> int:
        v = self.literal()
        if not isinstance(v, int) or isinstance(v, bool) or v < 0:
            raise ValueError(f"GQL parse error: {kw} needs a non-negative integer")
        return v

    # ----- statements
    def _match_clauses(self) -> list:
        """Consecutive MATCH / OPTIONAL MATCH clauses in source order
        (shared by the pre- and post-WITH positions)."""
        clauses = []
        while True:
            if (
                self.peek()[0] == "OPTIONAL"
                and self.toks[self.i + 1][0] == "ident"
                and self.toks[self.i + 1][1].upper() == "CALL"
            ):
                break  # OPTIONAL CALL — the caller's subquery clause
            if self.accept("OPTIONAL"):
                self.expect("MATCH")
                pat = self.path()
                where = self.where_expr() if self.accept("WHERE") else None
                clauses.append(
                    ("optional", OptionalMatch(pat, self._fold_where(pat, where)))
                )
            elif self.accept("MATCH"):
                pat = self.path()
                where = self.where_expr() if self.accept("WHERE") else None
                clauses.append(
                    ("match", OptionalMatch(pat, self._fold_where(pat, where)))
                )
            else:
                break
        return clauses

    def _unwind_clause(self, allow_name: bool) -> UnwindClause:
        """``UNWIND [lit, ..] AS x`` — or, after a WITH pipeline,
        ``UNWIND alias AS x`` exploding a projected (collected) list."""
        if (
            self.peek() == ("punct", "[")
            and self.i + 2 < len(self.toks)
            and self.toks[self.i + 2][0] == "IN"
        ):
            # UNWIND [x IN .. WHERE .. | ..] AS y — a comprehension,
            # not a literal list; parse as an expression
            src: object = self.expr()
        elif self.accept("punct", "["):
            vals = []
            while not self.accept("punct", "]"):
                vals.append(self.literal())
                self.accept("punct", ",")
            src = vals
        elif self.at_expr_operand():
            # list-valued expression: UNWIND range(1, n) AS x,
            # UNWIND split(d.text, ' ') AS tok, UNWIND v.tags AS t — or,
            # post-WITH, a bare projected alias (kept as a plain name:
            # the lowering explodes the projected column)
            e = self.expr()
            if isinstance(e, PropRef) and e.prop is None:
                if not allow_name:
                    raise ValueError(
                        "GQL parse error: UNWIND over a bare name is only "
                        "valid after WITH (it explodes a projected list)"
                    )
                src = e.var
            else:
                src = e
        else:
            raise ValueError(
                "GQL parse error: UNWIND needs a list literal [..] or a "
                "list expression"
                + (" or a WITH alias" if allow_name else "")
            )
        self.expect("AS")
        return UnwindClause(src, self._check_var(self.expect_name()))

    def read_query(self):
        """A full read query: a statement, optionally a UNION [ALL]
        chain (shared by the top level and CALL { } bodies)."""
        stmt = self.statement()
        if self.peek()[0] != "UNION":
            return stmt
        parts, mode = [stmt], None
        while self.accept("UNION"):
            this_all = bool(self.accept("ALL"))
            if mode is None:
                mode = this_all
            elif mode != this_all:
                # Neo4j's own rule: one query can't mix the two
                raise ValueError(
                    "GQL parse error: cannot mix UNION and UNION ALL in "
                    "one query"
                )
            parts.append(self.statement())
        for s in parts:
            if not isinstance(s, MatchStatement):
                raise ValueError(
                    "GQL parse error: UNION combines read queries only "
                    f"(got {type(s).__name__})"
                )
        return UnionStatement(parts, all=bool(mode))

    def statement(self):
        if self._ident_kw("CALL") and self.toks[self.i + 1] == ("punct", "{"):
            return self._call_statement()
        if self.accept("UNWIND"):
            first = self._unwind_clause(allow_name=False)
            if self.accept("MATCH"):
                return self._match_statement(unwind_first=first)
            # pure value-table form: UNWIND [..] AS x [WITH ..]* RETURN
            # (r12: the shared tail gives the value table the full WITH
            # pipeline chain)
            return self._read_tail(None, None, first, bare_returns=True)
        if self.accept("MATCH"):
            return self._match_statement()
        if self.accept("CREATE"):
            return CreateStatement(self._write_pattern("CREATE"))
        if self.accept("MERGE"):
            return self._merge_statement()
        raise ValueError(
            "GQL parse error: expected MATCH, UNWIND, CREATE, MERGE or CALL"
        )

    def _call_statement(self) -> CallStatement:
        """``CALL { <read query> } RETURN ..`` — uncorrelated subquery.
        The body may itself be a UNION chain; the outer RETURN sees its
        output columns as bare names."""
        self.next()  # CALL
        self.next()  # {
        if self.accept("WITH"):
            raise ValueError(
                "GQL parse error: correlated CALL subqueries (an "
                "importing WITH) are not supported — CALL bodies are "
                "uncorrelated read queries"
            )
        inner = self.read_query()
        if not isinstance(inner, (MatchStatement, UnionStatement)):
            raise ValueError(
                "GQL parse error: a CALL body must be a read query "
                f"(got {type(inner).__name__})"
            )
        self.expect("punct", "}")
        self.expect("RETURN")
        distinct = self.accept("DISTINCT")
        stmt = CallStatement(
            inner, self.return_items(bare_ok=True), distinct=distinct
        )
        return self._result_modifiers(stmt)

    def _call_sub_clause(self, pattern, clauses) -> CallSubClause:
        """Correlated ``CALL { WITH <vars> MATCH .. RETURN items }``
        after the outer MATCH clauses (see CallSubClause for the
        lowering contract). Parse-time validation keeps runtime errors
        out of the join machinery: imports must be outer pattern
        variables AND be reused in the body pattern; aggregating body
        items need an explicit alias (the join projects by name)."""
        self.next()  # CALL
        self.expect("punct", "{")
        if not self.accept("WITH"):
            raise ValueError(
                "GQL parse error: a CALL clause after MATCH must import "
                "variables — CALL { WITH x .. }; an uncorrelated CALL "
                "body goes at statement start"
            )
        imports = []
        while True:
            imports.append(self.expect_name())
            if not self.accept("punct", ","):
                break
        if isinstance(pattern, ShortestPathPattern):
            outer_vars = {pattern.src.var, pattern.dst.var}
        else:
            outer_vars = {n.var for n in pattern.nodes}
        outer_vars |= {n.var for _, c in clauses for n in c.pattern.nodes}
        unknown = [v for v in imports if v not in outer_vars]
        if unknown:
            raise ValueError(
                f"GQL parse error: CALL imports unknown variable(s) "
                f"{unknown} — WITH must list outer MATCH variables"
            )
        lead_unwind = None
        if self.accept("UNWIND"):
            # leading UNWIND in the body: per outer row, explode the
            # list (a literal or an expression over the imported
            # variables' properties), THEN match — Cypher clause order
            lead_unwind = self._unwind_clause(allow_name=False)
        self.expect("MATCH")
        inner = self._match_statement(bare_returns=lead_unwind is not None)
        if not isinstance(inner, MatchStatement):
            raise ValueError(
                "GQL parse error: a CALL body must be a read query "
                f"(got {type(inner).__name__})"
            )
        inner.unwind_first = lead_unwind
        if lead_unwind is not None and lead_unwind.alias in imports:
            raise ValueError(
                f"GQL parse error: the CALL body's UNWIND alias "
                f"{lead_unwind.alias!r} shadows an imported variable"
            )
        if inner.unwind is not None:
            raise ValueError(
                "GQL parse error: UNWIND inside a correlated CALL body "
                "needs a WITH pipeline before it — "
                "CALL { WITH x MATCH .. WITH .. UNWIND alias AS y .. }"
            )
        if (inner.skip is not None or inner.limit is not None) and not (
            inner.order_by or all(i.agg for i in inner.returns)
        ):
            raise ValueError(
                "GQL parse error: SKIP/LIMIT inside a correlated CALL "
                "body needs ORDER BY — per-outer-row top-k is undefined "
                "on unordered rows"
            )
        for st in inner.with_stages:
            if (st.skip is not None or st.limit is not None) and not (
                st.order or all(i.agg for i in st.items)
            ):
                raise ValueError(
                    "GQL parse error: WITH SKIP/LIMIT inside a "
                    "correlated CALL body needs ORDER BY — "
                    "per-outer-row top-k is undefined on unordered "
                    "rows"
                )
            for it in st.items:
                if it.agg and not it.alias:
                    raise ValueError(
                        "GQL parse error: aggregates in a CALL "
                        "body's WITH need an explicit AS alias"
                    )
        body_vars = {n.var for n in inner.pattern.nodes} | {
            n.var for _, c in inner.clauses for n in c.pattern.nodes
        }
        not_reused = [v for v in imports if v not in body_vars]
        if not_reused:
            raise ValueError(
                f"GQL parse error: CALL imports {not_reused} are not "
                "used in the body pattern — the reused variable IS the "
                "correlation"
            )
        for it in inner.returns:
            if it.var == "*" and not it.agg and not inner.with_stages:
                # bare RETURN * only — count(*) is an aggregate item.
                # Directly after the body MATCH the scope is entity
                # bindings, and * would re-export the imported
                # variables into their own outer scope (Cypher rejects
                # exactly this: "variable already declared in outer
                # scope"); after a scalar-projecting WITH the scope is
                # named columns and * is supported (r13) — the lowerer
                # still rejects it while whole-variable passthroughs
                # remain in scope, for the same re-export reason.
                raise ValueError(
                    "GQL parse error: RETURN * directly after a CALL "
                    "body's MATCH would re-export the imported "
                    "variables — project named scalars in a WITH "
                    "first (.. WITH x.p AS p RETURN *) or name the "
                    "items"
                )
            if it.agg and not it.alias:
                raise ValueError(
                    "GQL parse error: aggregates inside a correlated "
                    "CALL body need an explicit AS alias"
                )
        self.expect("punct", "}")
        return CallSubClause(imports, inner)

    def _merge_statement(self) -> MergeStatement:
        """``MERGE <pattern> [ON CREATE SET ..] [ON MATCH SET ..]`` —
        the conditional-action clauses accept literal values targeting
        pattern variables (node or edge), in either order, each at most
        once (Cypher)."""
        stmt = MergeStatement(self._write_pattern("MERGE"))
        pat_vars = {n.var for n in stmt.pattern.nodes} | {
            e.var for e in stmt.pattern.edges if e.var
        }
        while self._ident_kw("ON"):
            self.next()
            if self.accept("CREATE"):
                target = "on_create"
            elif self.accept("MATCH"):
                target = "on_match"
            else:
                raise ValueError(
                    "GQL parse error: expected ON CREATE SET or ON MATCH SET"
                )
            kw = "CREATE" if target == "on_create" else "MATCH"
            if getattr(stmt, target):
                raise ValueError(f"GQL parse error: duplicate ON {kw} clause")
            self.expect("SET")
            assigns = []
            while True:
                var = self.expect_name()
                if var not in pat_vars:
                    raise ValueError(
                        f"GQL parse error: ON {kw} SET references unknown "
                        f"variable {var!r}"
                    )
                self.expect("punct", ".")
                prop = self.expect_name()
                self.expect("op", "=")
                assigns.append((var, prop, self.literal()))
                if not self.accept("punct", ","):
                    break
            if target == "on_match":
                _reject_edge_label_set(stmt.pattern, assigns)
            setattr(stmt, target, assigns)
        return stmt

    def _set_assignments(self) -> list:
        """SET item list (Cypher):

            SET v.prop = <expr> [, ..]      per-key assignment
            SET v += { k: <expr>, .. }      map merge — listed keys
                                            overwrite, other keys KEPT

        ``+=`` desugars to per-key assignments: Cypher's map-merge
        semantics coincide with per-key SET (both keep unlisted keys),
        so one execution path serves both spellings. Values are full
        scalar expressions (the read side's grammar — v.total + 1,
        toUpper(v.name), CASE ..)."""
        assigns = []
        while True:
            var = self.expect_name()
            if self.peek() == ("punct", "+") and self.toks[self.i + 1] == (
                "op", "=",
            ):
                self.next()
                self.next()
                self.expect("punct", "{")
                n_keys = 0
                while not self.accept("punct", "}"):
                    key = self.expect_name()
                    self.expect("punct", ":")
                    assigns.append((var, key, self.expr()))
                    n_keys += 1
                    self.accept("punct", ",")
                # n_keys == 0 (`SET v += {}`) is a Cypher no-op: nothing
                # appended; an all-empty statement no-ops in _apply_set
            else:
                self.expect("punct", ".")
                prop = self.expect_name()
                self.expect("op", "=")
                assigns.append((var, prop, self.expr()))
            if not self.accept("punct", ","):
                break
        return assigns

    def _write_pattern(self, kw: str) -> PathPattern:
        """A pattern in write position (CREATE/MERGE): every edge must be
        directed and single-hop — an undirected edge doesn't say which
        edge to create and a quantifier doesn't say how many (Cypher
        rejects both)."""
        pat = self.path()
        for e in pat.edges:
            if e.direction == "undirected":
                raise ValueError(
                    f"GQL parse error: {kw} requires directed edges — "
                    "write -[:LBL]-> or <-[:LBL]-"
                )
            if e.min_hops is not None:
                raise ValueError(
                    f"GQL parse error: variable-length patterns are not "
                    f"allowed in {kw}"
                )
        for lbl in [n.label for n in pat.nodes] + [e.label for e in pat.edges]:
            if lbl is not None and "|" in lbl:
                raise ValueError(
                    f"GQL parse error: label alternation ({lbl}) is not "
                    f"allowed in {kw} — a write must name ONE label"
                )
        if any(n.where is not None for n in pat.nodes) or any(
            e.where is not None for e in pat.edges
        ):
            raise ValueError(
                f"GQL parse error: inline WHERE is not allowed in {kw} — "
                "a write pattern describes what to create, not a filter"
            )
        return pat

    def _shortest_path_pattern(self) -> ShortestPathPattern:
        pvar = self.expect_name()
        self.expect("op", "=")
        all_paths = self.next()[1].lower() == "allshortestpaths"
        self.expect("punct", "(")
        src = self.node()
        edge = self.edge()
        if edge is None:
            raise ValueError("GQL parse error: shortestPath needs an edge pattern")
        dst = self.node()
        self.expect("punct", ")")
        if src.where is not None or dst.where is not None or edge.where is not None:
            raise ValueError(
                "GQL parse error: inline WHERE is not supported inside "
                "shortestPath patterns — filter in the statement WHERE"
            )
        if edge.min_hops is None:
            edge.min_hops = edge.max_hops = 1  # plain edge = exactly one hop
        if edge.min_hops > 1:
            # Neo4j's own rule: shortestPath minimal length must be 0 or 1
            # (a lower bound > 1 is not a shortest-path problem — the
            # per-hop frontier reduction in the lowering would prune the
            # longer-but-qualifying walks it asks for)
            raise ValueError(
                "GQL parse error: shortestPath supports a minimal length "
                f"of 0 or 1 only, got *{edge.min_hops}..{edge.max_hops}"
            )
        if pvar in (src.var, dst.var):
            raise ValueError(
                f"GQL parse error: path variable {pvar!r} collides with an "
                "endpoint variable"
            )
        if src.var == dst.var:
            # the lowering joins the two endpoint vertex frames under
            # var__-prefixed names — a shared variable would duplicate
            # every column and die as an ambiguous-reference
            # AnalysisException at run time; reject it up front
            raise ValueError(
                "GQL parse error: shortestPath endpoints must be distinct "
                f"variables (both are {src.var!r})"
            )
        return ShortestPathPattern(pvar, src, edge, dst, all_paths=all_paths)

    def _at_shortest_path(self) -> bool:
        return (
            self.at_name()
            and self.toks[self.i + 1] == ("op", "=")
            and self.toks[self.i + 2][1].lower() in ("shortestpath", "allshortestpaths")
        )

    def _at_path_assignment(self) -> bool:
        return (
            self.at_name()
            and self.toks[self.i + 1] == ("op", "=")
            and self.toks[self.i + 2][1] == "("
        )

    def _match_statement(
        self,
        unwind_first: UnwindClause | None = None,
        bare_returns: bool = False,
    ):
        if self._at_shortest_path():
            pattern: object = self._shortest_path_pattern()
            where = self.where_expr() if self.accept("WHERE") else None
            if self.peek()[0] in ("DELETE", "SET") or self._ident_kw(
                "DETACH"
            ) or self._ident_kw("REMOVE") or self._ident_kw("FOREACH"):
                raise ValueError(
                    "GQL parse error: shortestPath patterns are read-only"
                )
        else:
            pvar = None
            if self._at_path_assignment():
                pvar = self._check_var(self.expect_name())
                self.expect("op", "=")
            pattern = self.path()
            if pvar is not None:
                taken = {n.var for n in pattern.nodes} | {
                    e.var for e in pattern.edges if e.var
                }
                if pvar in taken:
                    raise ValueError(
                        f"GQL parse error: path variable {pvar!r} collides "
                        "with a pattern variable"
                    )
                pattern.pvar = pvar
            where = self._fold_where(
                pattern, self.where_expr() if self.accept("WHERE") else None
            )
        if self._ident_kw("DETACH"):
            self.next()
            self.expect("DELETE")
            return MatchDeleteStatement(pattern, where, self.expect_name(), detach=True)
        if self.accept("DELETE"):
            return MatchDeleteStatement(pattern, where, self.expect_name())
        if self._ident_kw("REMOVE"):
            self.next()
            removals = []
            while True:
                var = self.expect_name()
                self.expect("punct", ".")
                removals.append((var, self.expect_name()))
                if not self.accept("punct", ","):
                    break
            return MatchRemoveStatement(pattern, where, removals)
        if self.accept("SET"):
            assigns = self._set_assignments()
            _reject_edge_label_set(pattern, assigns)
            return MatchSetStatement(pattern, where, assigns)
        if self._ident_kw("FOREACH"):
            self.next()
            self.expect("punct", "(")
            lvar = self._check_var(self.expect_name())
            outer_vars = {n.var for n in pattern.nodes} | {
                e.var for e in pattern.edges if e.var
            }
            if getattr(pattern, "pvar", None):
                outer_vars.add(pattern.pvar)
            if lvar in outer_vars:
                # Cypher rejects the redeclaration outright; accepting it
                # would silently resolve body expressions like lvar.q
                # against the OUTER binding (a per-row constant), not the
                # loop element
                raise ValueError(
                    f"GQL parse error: FOREACH loop variable {lvar!r} is "
                    "already declared by the MATCH pattern — pick a "
                    "different name"
                )
            self.expect("IN")
            source = self.expr()
            if not self.accept("punct", "|"):
                raise ValueError(
                    "GQL parse error: FOREACH (x IN <list> | <SET | "
                    "CREATE | MERGE body>)"
                )
            if self.peek()[0] in ("CREATE", "MERGE"):
                kw = self.next()[0]
                self._prop_var_ok = lvar
                try:
                    body = self._write_pattern(kw)
                finally:
                    self._prop_var_ok = None
                if not any(
                    isinstance(pv, LoopVar)
                    for n in body.nodes
                    for pv in n.props.values()
                ) and not any(
                    isinstance(pv, LoopVar)
                    for ed in body.edges
                    for pv in ed.props.values()
                ):
                    raise ValueError(
                        f"GQL parse error: a FOREACH {kw} body must "
                        f"reference the loop variable {lvar!r} in its "
                        "inline props — otherwise it creates the same "
                        "pattern per element (write a bare statement)"
                    )
                self.expect("punct", ")")
                return ForeachStatement(
                    pattern, where, lvar, source, [],
                    body_kind=kw.lower(), body_pattern=body,
                )
            if not self.accept("SET"):
                raise ValueError(
                    "GQL parse error: FOREACH supports SET, CREATE and "
                    "MERGE bodies (DELETE and nested FOREACH are not "
                    "supported)"
                )
            assigns = []
            while True:
                var = self.expect_name()
                if var != lvar:
                    raise ValueError(
                        f"GQL parse error: FOREACH SET targets the loop "
                        f"variable {lvar!r}, got {var!r}"
                    )
                self.expect("punct", ".")
                prop = self.expect_name()
                self.expect("op", "=")
                assigns.append((prop, self.expr()))
                if not self.accept("punct", ","):
                    break
            self.expect("punct", ")")
            return ForeachStatement(pattern, where, lvar, source, assigns)
        return self._read_tail(pattern, where, unwind_first, bare_returns)

    def _stage_unwind(self) -> UnwindClause | None:
        """A WITH stage's optional trailing ``UNWIND``, feeding the next
        stage or the RETURN."""
        if self.accept("UNWIND"):
            return self._unwind_clause(allow_name=True)
        return None

    def _read_tail(
        self,
        pattern,
        where,
        unwind_first: UnwindClause | None,
        bare_returns: bool,
    ):
        """The read statement's tail — additional MATCH clauses, an
        optional correlated CALL, the WITH pipeline chain, the trailing
        UNWIND and the RETURN. Shared by MATCH statements and the
        pattern-less ``UNWIND [..] AS x [WITH ..]* RETURN`` value-table
        form (``pattern`` None)."""
        clauses = self._match_clauses()
        if pattern is None and clauses:
            raise ValueError(
                "GQL parse error: OPTIONAL MATCH after a value-table "
                "UNWIND would be a disconnected cross product — write "
                "UNWIND .. AS x MATCH .. instead"
            )
        call_sub = None
        if (
            self.peek()[0] == "OPTIONAL"
            and self.toks[self.i + 1][0] == "ident"
            and self.toks[self.i + 1][1].upper() == "CALL"
        ):
            if pattern is None:
                raise ValueError(
                    "GQL parse error: a correlated CALL needs outer "
                    "MATCH variables to import"
                )
            self.next()  # OPTIONAL
            call_sub = self._call_sub_clause(pattern, clauses)
            call_sub.optional = True
        elif self._ident_kw("CALL") and self.toks[self.i + 1] == ("punct", "{"):
            if pattern is None:
                raise ValueError(
                    "GQL parse error: a correlated CALL needs outer "
                    "MATCH variables to import"
                )
            call_sub = self._call_sub_clause(pattern, clauses)
        # WITH pipeline stages — a chain `WITH .. [WITH ..]*` parses one
        # WithStage per WITH (each stage may carry its own modifiers,
        # post-WITH MATCH clauses and a trailing UNWIND feeding the next
        # stage)
        with_stages: list[WithStage] = []
        unwind = None
        if call_sub is not None and self.peek()[0] in ("MATCH", "OPTIONAL"):
            # MATCH / OPTIONAL MATCH directly after CALL { .. } (r13):
            # Cypher's free clause order — sugar for an implicit
            # `WITH *` stage carrying the clauses and, like any stage, a
            # trailing UNWIND (the star keeps the CALL outputs, bare and
            # entity alike, in scope)
            post = self._match_clauses()
            with_stages.append(
                WithStage([], post_clauses=post, unwind=self._stage_unwind(),
                          star=True)
            )
        while self.accept("WITH"):
            st_distinct = self.accept("DISTINCT")
            # later stages aggregate over the previous stage's bare
            # aliases; the first stage sees bare names only from a
            # leading UNWIND or a CALL subquery's outputs
            st_items = self.return_items(
                bare_ok=bool(with_stages)
                or unwind_first is not None
                or call_sub is not None
                or bare_returns
            )
            # WITH * [, extra items] keeps the whole in-scope frame
            # (Cypher); * must lead. Aggregates ride along as of r14 —
            # ``WITH *, count(x) AS c`` groups implicitly by the WHOLE
            # star scope (Neo4j semantics) — with Neo4j's aliasing rule
            # (every expression item in WITH must be aliased).
            st_star = False
            if (
                st_items
                and st_items[0].var == "*"
                and st_items[0].agg is None
                and st_items[0].expr is None
            ):
                st_star = True
                st_items = st_items[1:]
                for i in st_items:
                    if i.agg and not i.alias:
                        raise ValueError(
                            "GQL parse error: WITH *, <aggregate> needs "
                            "an explicit AS alias"
                        )
            if any(i.var == "*" and i.agg is None for i in st_items):
                raise ValueError(
                    "GQL parse error: WITH * must be the FIRST item"
                )
            # pipeline modifiers in any written order; the applied
            # semantics are fixed: WHERE → ORDER BY → SKIP → LIMIT
            st_where = None
            st_order: list[OrderItem] = []
            st_skip = st_limit = None
            while True:
                if st_where is None and self.accept("WHERE"):
                    st_where = self.where_expr()
                elif not st_order and self.accept("ORDER"):
                    self.expect("BY")
                    st_order = self._order_items()
                elif st_skip is None and self.accept("SKIP"):
                    st_skip = self._nonneg_int("SKIP")
                elif st_limit is None and self.accept("LIMIT"):
                    st_limit = self._nonneg_int("LIMIT")
                else:
                    break
            st_post = self._match_clauses()
            if (
                st_post
                and any(i.agg for i in st_items)
                # r13: WITH x, count(*) keeps the entity x in scope —
                # a post-MATCH can join on it (lowering still raises
                # its share-a-variable error if the bare item turns
                # out to be an alias, not an entity)
                and not any(
                    i.prop is None and i.agg is None and i.expr is None
                    and i.var != "*"
                    for i in st_items
                )
            ):
                raise ValueError(
                    "GQL parse error: MATCH after an aggregating WITH is "
                    "not supported — aggregate in the final RETURN instead"
                )
            with_stages.append(
                WithStage(
                    st_items, st_distinct, st_where, st_order, st_skip,
                    st_limit, st_post, self._stage_unwind(), star=st_star,
                )
            )
        if not with_stages and self.accept("UNWIND"):
            unwind = self._unwind_clause(allow_name=False)
        self.expect("RETURN")
        distinct = self.accept("DISTINCT")
        stmt = MatchStatement(
            pattern, where,
            self.return_items(
                bare_ok=bool(with_stages)
                or unwind is not None
                or call_sub is not None
                or bare_returns
            ),
            distinct=distinct, clauses=clauses, unwind_first=unwind_first,
            unwind=unwind, call_sub=call_sub, with_stages=with_stages,
        )
        return self._result_modifiers(stmt)


def parse_gql(text: str, params: dict | None = None):
    p = _Parser(_substitute_params(_tokenize(text), params))
    stmt = p.read_query()
    if p.peek()[0] != "EOF":
        raise ValueError(f"GQL parse error: trailing tokens at {p.peek()[1]!r}")
    return stmt
