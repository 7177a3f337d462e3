"""Lower GQL ASTs to DataFrame plans.

Semantics replicated from the reference executor
(graph/query/src/executor.rs — see SURVEY.md §3.1):

- seed bindings: filter vertices by the first node's label + inline props
  (find_matching_vertices, executor.rs:280-313); the reference does a full
  scan + in-memory filter — here the filter is declarative, so Catalyst
  pushes it into the parquet scan;
- per edge step: expand along edges honoring direction and edge label, then
  filter the target node by label + props (find_matching_edges,
  executor.rs:316-379). Undirected `--` matches both directions
  (executor.rs:322-326) = union of the edge table with its reverse;
- bindings are WALKS, not simple paths — no repeated-vertex check
  (match_pattern, executor.rs:219-277);
- WHERE applies after pattern enumeration in the reference (executor.rs:
  202-212); we fold it into the plan and let Catalyst push it down — same
  results, better plan;
- RETURN v → all of v's columns; v.prop → one column aliased `v_prop`;
  * → every bound vertex variable (build_result, executor.rs:467-518).

Binding columns are prefixed ``{var}__{col}``. Multi-hop patterns become
chained joins; Catalyst/AQE picks broadcast vs shuffled hash joins per
side size, which is exactly the scale story for 100 TB: edges bucketed by
src make these joins co-located.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dd_graphdb_spark.graph import PropertyGraph
from dd_graphdb_spark.plans.gql import (
    Arith,
    BoolExpr,
    CallStatement,
    CallSubClause,
    CaseExpr,
    Compare,
    CountSub,
    EdgePattern,
    FuncCall,
    ListComp,
    ListExpr,
    MapProj,
    PatternPred,
    PropRef,
    QuantPred,
    ReduceExpr,
    ReturnItem,
    CreateStatement,
    ForeachStatement,
    MatchDeleteStatement,
    MatchRemoveStatement,
    MatchSetStatement,
    MatchStatement,
    MergeStatement,
    NodePattern,
    PathPattern,
    PatternComp,
    ShortestPathPattern,
    UnionStatement,
    parse_gql,
)


def _prefix(df: DataFrame, var: str) -> DataFrame:
    # toDF, not per-column col().alias(): the rename is ONE gateway call
    # instead of ~3 per column — _prefix runs for every pattern variable
    # of every statement, and the per-column form measured 23 ms/call
    # (0.8 s of a 2.4 s 10-query lowering profile) in pure py4j chatter
    return df.toDF(*[f"{var}__{c}" for c in df.columns])


def _label_pred(col: Column, label: str) -> Column:
    """Label / edge-type filter; "|"-joined alternation (n:A|B,
    -[:X|Y]->) lowers to isin — a pushdown-friendly IN over literals,
    same scan shape as the single-label equality."""
    labs = label.split("|")
    return col.isin(labs) if len(labs) > 1 else col == label


def _node_filter(df: DataFrame, node: NodePattern, var: str) -> DataFrame:
    # Vertex label is the reference's `type` property (executor.rs:290-295);
    # our schema stores it as the `label` column.
    if node.label is not None:
        df = df.filter(_label_pred(F.col(f"{var}__label"), node.label))
    for k, v in node.props.items():
        df = df.filter(F.col(f"{var}__{k}").eqNullSafe(F.lit(v)))
    return df


def _path_fn_error(name):
    raise ValueError(
        f"{name}() applies to a bound path variable "
        "(MATCH p = (..)-[..]->(..))"
    )


def _prop_map_fn_error(name):
    raise ValueError(
        f"{name}() applies to a bound MATCH-pattern variable (vertex "
        "or edge) in RETURN/WHERE/WITH of the matching statement"
    )


_SCALAR_FNS = {
    "toupper": lambda a: F.upper(a[0]),
    "tolower": lambda a: F.lower(a[0]),
    "length": lambda a: F.length(a[0]),
    "abs": lambda a: F.abs(a[0]),
    "round": lambda a: F.round(*a),
    "coalesce": lambda a: F.coalesce(*a),
    # reachable only when the argument was not a path variable — the
    # path-function rewrite replaces valid calls with binding columns
    "nodes": lambda a: _path_fn_error("nodes"),
    "relationships": lambda a: _path_fn_error("relationships"),
    # frame-aware functions: valid calls are rewritten to pre-lowered
    # columns before lowering (_rewrite_prop_map_funcs); reaching here
    # means the argument was not a bound pattern variable
    "keys": lambda a: _prop_map_fn_error("keys"),
    "properties": lambda a: _prop_map_fn_error("properties"),
    # Cypher string surface (substring/split are special-cased in
    # _lower_expr: 0→1 index shift, literal-delimiter escape)
    "trim": lambda a: F.trim(a[0]),
    "ltrim": lambda a: F.ltrim(a[0]),
    "rtrim": lambda a: F.rtrim(a[0]),
    "replace": lambda a: F.replace(a[0], a[1], a[2]),
    "reverse": lambda a: F.reverse(a[0]),
    "left": lambda a: F.left(a[0], a[1]),
    "right": lambda a: F.right(a[0], a[1]),
    # size() is Cypher's list cardinality — strings take length()
    "size": lambda a: F.size(a[0]),
    # numeric: Cypher types — ceil/floor return Float, sign Integer
    "sqrt": lambda a: F.sqrt(a[0]),
    "ceil": lambda a: F.ceil(a[0]).cast("double"),
    "floor": lambda a: F.floor(a[0]).cast("double"),
    "sign": lambda a: F.signum(a[0]).cast("long"),
    # conversions: cast semantics match Cypher (toInteger truncates
    # toward zero; a malformed string → NULL on both engines)
    "tointeger": lambda a: a[0].cast("long"),
    "tofloat": lambda a: a[0].cast("double"),
    "tostring": lambda a: a[0].cast("string"),
    # list surface. range materializes an array per row — fine for the
    # UNWIND value-table idiom and per-row windows; a billion-element
    # range belongs in spark.range, not a query literal.
    "range": lambda a: F.sequence(*a),
    "head": lambda a: F.get(a[0], 0),
    "last": lambda a: F.get(a[0], F.size(a[0]) - 1),
    "tail": lambda a: F.slice(
        a[0], 2, F.greatest(F.size(a[0]) - 1, F.lit(0))
    ),
    # temporal conversions (duration is special-cased in _lower_expr —
    # its ISO literal becomes a static interval). A malformed string →
    # NULL on both engines (cast semantics), like toInteger.
    "date": lambda a: a[0].cast("date"),
    "datetime": lambda a: a[0].cast("timestamp"),
    # postfix temporal components (parser _postfix → _temporal_* calls).
    # dayofweek is ISO 1=Monday (Cypher); Spark's dayofweek() is
    # 1=Sunday, weekday() is 0=Monday — weekday()+1 is the Cypher form.
    "_temporal_year": lambda a: F.year(a[0]),
    "_temporal_quarter": lambda a: F.quarter(a[0]),
    "_temporal_month": lambda a: F.month(a[0]),
    "_temporal_week": lambda a: F.weekofyear(a[0]),
    "_temporal_day": lambda a: F.dayofmonth(a[0]),
    "_temporal_hour": lambda a: F.hour(a[0]),
    "_temporal_minute": lambda a: F.minute(a[0]),
    "_temporal_second": lambda a: F.second(a[0]),
    "_temporal_dayofweek": lambda a: F.weekday(a[0]) + F.lit(1),
    "_temporal_epochseconds": lambda a: F.unix_timestamp(a[0]),
}


def _rewrite_path_funcs(node, pvar: str, has_varlen: bool):
    """Replace nodes(p)/relationships(p)/length(p) — and leave p.path /
    p.length property access alone — with the path's binding columns
    (PropRef(p, nodes|rels|length) → p__nodes / p__rels / p__length).
    Returns a rewritten copy of the expression/condition tree."""
    _PATH_COLS = {"nodes": "nodes", "relationships": "rels", "length": "length"}
    if isinstance(node, FuncCall):
        if (
            node.name in _PATH_COLS
            and len(node.args) == 1
            and isinstance(node.args[0], PropRef)
            and node.args[0].var == pvar
            and node.args[0].prop is None
        ):
            if has_varlen and node.name in ("nodes", "relationships"):
                raise ValueError(
                    f"{node.name}({pvar}) is not available on a pattern "
                    "with variable-length edges (the intermediate "
                    "bindings are not enumerated) — length() still is"
                )
            return PropRef(pvar, _PATH_COLS[node.name])
        return FuncCall(
            node.name,
            [_rewrite_path_funcs(a, pvar, has_varlen) for a in node.args],
        )
    if isinstance(node, Arith):
        return Arith(
            node.op,
            _rewrite_path_funcs(node.left, pvar, has_varlen),
            _rewrite_path_funcs(node.right, pvar, has_varlen),
        )
    if isinstance(node, CaseExpr):
        return CaseExpr(
            [
                (
                    _rewrite_path_funcs(c, pvar, has_varlen),
                    _rewrite_path_funcs(r, pvar, has_varlen),
                )
                for c, r in node.whens
            ],
            None
            if node.default is None
            else _rewrite_path_funcs(node.default, pvar, has_varlen),
        )
    if isinstance(node, BoolExpr):
        return BoolExpr(
            node.op,
            _rewrite_path_funcs(node.left, pvar, has_varlen),
            None
            if node.right is None
            else _rewrite_path_funcs(node.right, pvar, has_varlen),
        )
    if isinstance(node, Compare):
        return Compare(
            node.var,
            node.prop,
            node.op,
            _rewrite_path_funcs(node.value, pvar, has_varlen)
            if isinstance(node.value, (PropRef, Arith, FuncCall, CaseExpr))
            else node.value,
            lhs=None
            if node.lhs is None
            else _rewrite_path_funcs(node.lhs, pvar, has_varlen),
        )
    return node


class _ColWrap:
    """A pre-lowered Column smuggled through an expression tree — used
    to substitute a quantifier's lambda variable with the higher-order
    function's lambda argument."""

    __slots__ = ("col",)

    def __init__(self, col):
        self.col = col


def _subst_lambda_var(node, name, col):
    """Replace references to a quantifier lambda variable with the
    Spark lambda argument (a Column). Inner quantifiers re-binding the
    same name shadow it (Cypher scoping)."""
    if isinstance(node, PropRef):
        if node.var == name:
            if node.prop is not None:
                raise ValueError(
                    f"lambda variable {name!r} is a list element — it has "
                    f"no properties ({name}.{node.prop})"
                )
            return _ColWrap(col)
        return node
    if isinstance(node, Arith):
        return Arith(
            node.op,
            _subst_lambda_var(node.left, name, col),
            _subst_lambda_var(node.right, name, col),
        )
    if isinstance(node, FuncCall):
        return FuncCall(
            node.name, [_subst_lambda_var(a, name, col) for a in node.args]
        )
    if isinstance(node, CaseExpr):
        return CaseExpr(
            [
                (
                    _subst_lambda_var(c, name, col),
                    _subst_lambda_var(r, name, col),
                )
                for c, r in node.whens
            ],
            None
            if node.default is None
            else _subst_lambda_var(node.default, name, col),
        )
    if isinstance(node, BoolExpr):
        return BoolExpr(
            node.op,
            _subst_lambda_var(node.left, name, col),
            None
            if node.right is None
            else _subst_lambda_var(node.right, name, col),
        )
    if isinstance(node, Compare):
        lhs = node.lhs
        if lhs is None and node.var == name:
            if node.prop is not None:
                raise ValueError(
                    f"lambda variable {name!r} is a list element — it has "
                    f"no properties ({name}.{node.prop})"
                )
            lhs = _ColWrap(col)
        elif lhs is not None:
            lhs = _subst_lambda_var(lhs, name, col)
        value = node.value
        if isinstance(
            value,
            (PropRef, Arith, FuncCall, CaseExpr, ListComp, ListExpr, ReduceExpr),
        ):
            value = _subst_lambda_var(value, name, col)
        return Compare(node.var, node.prop, node.op, value, lhs=lhs)
    if isinstance(node, QuantPred):
        if node.var == name:  # inner binding shadows
            return node
        return QuantPred(
            node.kind,
            node.var,
            _subst_lambda_var(node.source, name, col),
            _subst_lambda_var(node.pred, name, col),
        )
    if isinstance(node, ListComp):
        # the source evaluates in the OUTER scope; pred/map are
        # shadowed when the comprehension re-binds the same name
        src = _subst_lambda_var(node.source, name, col)
        if node.var == name:
            return ListComp(node.var, src, node.pred, node.map)
        return ListComp(
            node.var,
            src,
            None if node.pred is None else _subst_lambda_var(node.pred, name, col),
            None if node.map is None else _subst_lambda_var(node.map, name, col),
        )
    if isinstance(node, ListExpr):
        return ListExpr([_subst_lambda_var(i, name, col) for i in node.items])
    if isinstance(node, ReduceExpr):
        src = _subst_lambda_var(node.source, name, col)
        init = _subst_lambda_var(node.init, name, col)
        if name in (node.acc, node.var):  # inner re-binding shadows
            return ReduceExpr(node.acc, init, node.var, src, node.step)
        return ReduceExpr(
            node.acc, init, node.var, src,
            _subst_lambda_var(node.step, name, col),
        )
    return node


def _prop_map_col(name, var, prop_cols):
    """Build the keys()/properties() Column for a bound variable.
    keys: sorted non-null property names (label excluded — it is the
    entity's type, see labels()/type()); properties: JSON string of
    the non-null properties (to_json drops nulls)."""
    if name == "keys":
        return F.filter(
            F.array(
                *[
                    F.when(F.col(f"{var}__{c}").isNotNull(), F.lit(c))
                    for c in prop_cols
                ]
            ),
            lambda x: x.isNotNull(),
        )
    return F.to_json(
        F.struct(*[F.col(f"{var}__{c}").alias(c) for c in prop_cols])
    )


def _rewrite_prop_map_funcs(node, vvars, evars, vcols, ecols):
    """Replace keys(v)/properties(v) with their pre-lowered Columns
    (the rewrite is frame-aware: it needs the graph's schema, which
    plain expression lowering doesn't see)."""

    def rec(n):
        return _rewrite_prop_map_funcs(n, vvars, evars, vcols, ecols)

    if isinstance(node, MapProj):
        # map projection v {.p1, .p2}: JSON of the selected properties
        # in source order (same rendering as properties(v))
        if node.var in vvars:
            avail = set(vcols)
        elif node.var in evars:
            avail = set(ecols)
        else:
            raise ValueError(
                f"map projection {node.var} {{..}}: {node.var!r} is not "
                "a bound pattern variable"
            )
        bad = [p for p in node.props if p not in avail]
        if bad:
            raise ValueError(
                f"map projection {node.var} {{..}}: unknown "
                f"properties {bad} (have {sorted(avail)})"
            )
        return _ColWrap(
            F.to_json(
                F.struct(
                    *[F.col(f"{node.var}__{p}").alias(p) for p in node.props]
                )
            )
        )
    if isinstance(node, FuncCall):
        if node.name in ("keys", "properties"):
            a = node.args[0]
            if not isinstance(a, PropRef) or a.prop:
                raise ValueError(
                    f"{node.name}() takes a bound graph variable, "
                    f"e.g. {node.name}(v)"
                )
            if a.var in vvars:
                cols = sorted(c for c in vcols if c not in ("id",))
            elif a.var in evars:
                cols = sorted(c for c in ecols if c not in ("src", "dst"))
            else:
                raise ValueError(
                    f"{node.name}({a.var}): {a.var!r} is not a bound "
                    "pattern variable"
                )
            # label is the entity's TYPE, not a property (labels()/type())
            cols = [c for c in cols if c != "label"]
            return _ColWrap(_prop_map_col(node.name, a.var, cols))
        return FuncCall(node.name, [rec(a) for a in node.args])
    if isinstance(node, Arith):
        return Arith(node.op, rec(node.left), rec(node.right))
    if isinstance(node, CaseExpr):
        return CaseExpr(
            [(rec(c), rec(r)) for c, r in node.whens],
            None if node.default is None else rec(node.default),
        )
    if isinstance(node, BoolExpr):
        return BoolExpr(
            node.op, rec(node.left),
            None if node.right is None else rec(node.right),
        )
    if isinstance(node, Compare):
        value = node.value
        if isinstance(
            value,
            (PropRef, Arith, FuncCall, CaseExpr, ListComp, ListExpr, ReduceExpr),
        ):
            value = rec(value)
        return Compare(
            node.var, node.prop, node.op, value,
            lhs=None if node.lhs is None else rec(node.lhs),
        )
    if isinstance(node, ListComp):
        return ListComp(
            node.var, rec(node.source),
            None if node.pred is None else rec(node.pred),
            None if node.map is None else rec(node.map),
        )
    if isinstance(node, ListExpr):
        return ListExpr([rec(i) for i in node.items])
    if isinstance(node, ReduceExpr):
        return ReduceExpr(
            node.acc, rec(node.init), node.var, rec(node.source),
            rec(node.step),
        )
    if isinstance(node, QuantPred):
        return QuantPred(node.kind, node.var, rec(node.source), rec(node.pred))
    return node


def _rewrite_order_expr(node, cols):
    """Scope an ORDER BY expression to the projected output: rewrite
    ``var.prop`` to the projection's ``var_prop`` output column (or keep
    it when the ``var__prop`` binding column survived, e.g. a WITH
    passthrough variable), and require bare names to be projected.
    Anything else is a clear error — Cypher's "sort on what you
    returned" rule for computed keys."""
    if isinstance(node, PropRef):
        if node.prop is not None:
            if f"{node.var}_{node.prop}" in cols:
                return PropRef(f"{node.var}_{node.prop}", None)
            if f"{node.var}__{node.prop}" in cols:
                return node
            raise ValueError(
                f"ORDER BY expression references {node.var}.{node.prop}, "
                "which is not in the projected output — alias it in "
                "RETURN/WITH first"
            )
        if node.var not in cols:
            raise ValueError(
                f"ORDER BY expression references {node.var!r}, which is "
                "not in the projected output"
            )
        return node
    if isinstance(node, Arith):
        return Arith(
            node.op,
            _rewrite_order_expr(node.left, cols),
            _rewrite_order_expr(node.right, cols),
        )
    if isinstance(node, FuncCall):
        return FuncCall(
            node.name, [_rewrite_order_expr(a, cols) for a in node.args]
        )
    if isinstance(node, CaseExpr):
        return CaseExpr(
            [
                (
                    _rewrite_order_expr(c, cols),
                    _rewrite_order_expr(r, cols),
                )
                for c, r in node.whens
            ],
            None
            if node.default is None
            else _rewrite_order_expr(node.default, cols),
        )
    if isinstance(node, BoolExpr):
        return BoolExpr(
            node.op,
            _rewrite_order_expr(node.left, cols),
            None
            if node.right is None
            else _rewrite_order_expr(node.right, cols),
        )
    if isinstance(node, Compare):
        var, prop = node.var, node.prop
        if node.lhs is None and prop is not None:
            if f"{var}_{prop}" in cols:
                var, prop = f"{var}_{prop}", None
            elif f"{var}__{prop}" not in cols:
                raise ValueError(
                    f"ORDER BY expression references {var}.{prop}, which "
                    "is not in the projected output — alias it in "
                    "RETURN/WITH first"
                )
        value = node.value
        if isinstance(value, (PropRef, Arith, FuncCall, CaseExpr)):
            value = _rewrite_order_expr(value, cols)
        return Compare(
            var, prop, node.op, value,
            lhs=None if node.lhs is None else _rewrite_order_expr(node.lhs, cols),
        )
    return node


def _stringy_expr(n) -> bool:
    """Static is-a-string test for Cypher's overloaded ``+``: a string
    literal, or a + chain containing one (recursively). Column-typed
    operands stay undecidable and keep numeric +."""
    if isinstance(n, str):
        return True
    return (
        isinstance(n, Arith)
        and n.op == "+"
        and (_stringy_expr(n.left) or _stringy_expr(n.right))
    )


def _safe_distinct(df: DataFrame) -> DataFrame:
    """DISTINCT over a user-shaped frame that may carry MAP-typed
    columns (entity bindings' ``properties`` / a flattened
    ``v_properties``): Spark cannot set-operate on maps
    (UNSUPPORTED_FEATURE.SET_OPERATION_ON_MAP_TYPE), but every map
    column in these frames is functionally determined by its entity's
    id column, so deduplicating on the non-map columns is exact.
    Frames without maps take the plain distinct()."""
    from pyspark.sql.types import MapType

    maps = [f.name for f in df.schema.fields if isinstance(f.dataType, MapType)]
    if not maps:
        return df.distinct()
    for m in maps:
        for suffix in ("__properties", "_properties"):
            if m.endswith(suffix):
                base = m[: -len(suffix)]
                if (
                    f"{base}__id" in df.columns
                    or f"{base}_id" in df.columns
                ):
                    break
        else:
            raise ValueError(
                f"DISTINCT over the map-typed column {m!r} is not "
                "supported (Spark cannot compare maps) — project "
                "scalar keys instead"
            )
    others = [c for c in df.columns if c not in maps]
    return df.dropDuplicates(others)


def _lower_order_expr(o, cols) -> F.Column:
    """Lower a computed ORDER BY key against the projected frame."""
    col = _lower_expr(
        _rewrite_order_expr(o.expr, set(cols)), bare=True,
        bare_names=tuple(cols),
    )
    return col.desc() if o.desc else col.asc()


def _order_col(o, cols, clause: str) -> str:
    """The column a plain ``var[.prop]`` ORDER BY item sorts on: the
    projected name (an alias or ``var_prop``), else the ``var__prop``
    binding column of a variable still in scope (a WITH passthrough, an
    entity a CALL body exports)."""
    name = o.var if o.prop is None else f"{o.var}_{o.prop}"
    if name in cols:
        return name
    alt = f"{o.var}__{o.prop}" if o.prop else None
    if alt in cols:
        return alt
    ref = o.var + (f".{o.prop}" if o.prop else "")
    raise ValueError(f"ORDER BY {ref} is not projected by the {clause}")


def _order_slice(df, order, skip, limit, resolve, keys=(), hidden=()):
    """ORDER BY → SKIP → LIMIT over a projected frame — the one result
    slice of every scope (statement and CALL RETURN, WITH stages, CALL
    body RETURN). ``resolve(o, cols)`` names the column a plain
    ``var[.prop]`` item sorts on; scopes differ only there.

    Without ``keys`` the slice is a global orderBy / offset / limit, and
    the ``hidden`` sort-only columns drop right after the sort. With
    ``keys`` (a correlated CALL scope's witness columns) it ranks inside
    each witness group with ONE row_number window — per-outer-row
    top-k; SKIP/LIMIT without ORDER BY ranks a pure-aggregate body's
    single row per group."""
    exprs = []
    cols = df.columns if order else []
    for o in order:
        if o.expr is not None:
            exprs.append(_lower_order_expr(o, cols))
            continue
        name = resolve(o, cols)
        exprs.append(F.col(name).desc() if o.desc else F.col(name).asc())
    if keys:
        if not exprs and skip is None and limit is None:
            return df
        w = Window.partitionBy(*keys).orderBy(*(exprs or [F.lit(1).asc()]))
        cond = F.col("_rn") > (skip or 0)
        if limit is not None:
            cond &= F.col("_rn") <= (skip or 0) + limit
        return (
            df.withColumn("_rn", F.row_number().over(w)).filter(cond).drop("_rn")
        )
    if exprs:
        df = df.orderBy(*exprs)
        if hidden:
            df = df.drop(*hidden)
    if skip is not None:
        df = df.offset(skip)
    if limit is not None:
        df = df.limit(limit)
    return df


def _fill_empty_groups(df, items):
    """Cypher's empty-group identities on a pure aggregate LEFT-joined
    back onto its outer rows: count/sum → 0, collect → []; min/max/avg
    over zero rows stay NULL."""
    for i in items:
        if i.agg == "count":
            df = df.withColumn(
                i.alias, F.coalesce(F.col(i.alias), F.lit(0)).cast("long")
            )
        elif i.agg in ("sum", "collect"):
            typ = df.schema[i.alias].dataType
            empty = F.lit(0).cast(typ) if i.agg == "sum" else F.array().cast(typ)
            df = df.withColumn(i.alias, F.coalesce(F.col(i.alias), empty))
    return df


def _lower_expr(node, bare: bool = False, bare_names: tuple = ()) -> F.Column:
    """Scalar expression → Column. Operands: literals, PropRef (prop
    None → bare column), FuncCall (allow-listed 1:1 Spark/ANSI
    builtins), nested Arith. `/` is SQL float division in both Spark
    and DuckDB, so oracle parity holds for int operands too."""
    if isinstance(node, _ColWrap):
        return node.col
    if isinstance(node, (CountSub, PatternComp)):
        raise ValueError(
            "COUNT { pattern } subqueries and pattern comprehensions are "
            "supported in the MATCH WHERE clause, in RETURN / WITH items, "
            "in WITH ... WHERE, in a post-WITH RETURN (via passthrough "
            "variables), and inside EXISTS/COUNT/CALL subquery bodies — "
            "not after an aggregating WITH (no entity to correlate on)"
        )
    if isinstance(node, MapProj):
        raise ValueError(
            "map projections (v {.p1, .p2}) reference a bound pattern "
            "variable and are supported in MATCH statements only"
        )
    if isinstance(node, ListComp):
        arr = _lower_expr(node.source, bare, bare_names)
        if node.pred is not None:
            arr = F.filter(
                arr,
                lambda c: _lower_condition(
                    _subst_lambda_var(node.pred, node.var, c),
                    bare, (), bare_names,
                ),
            )
        if node.map is not None:
            arr = F.transform(
                arr,
                lambda c: _lower_expr(
                    _subst_lambda_var(node.map, node.var, c),
                    bare, bare_names,
                ),
            )
        return arr
    if isinstance(node, ListExpr):
        return F.array(*[_lower_expr(i, bare, bare_names) for i in node.items])
    if isinstance(node, ReduceExpr):
        # Spark's aggregate() requires merge-output type == accumulator
        # type. A Python-int init lowers as INT, but any step touching a
        # long property produces BIGINT — widen integer inits to LONG up
        # front (fuzzer-found: reduce(acc = 0, t IN [0] | acc + t * v.a)
        # over a long property failed DATATYPE_MISMATCH). A float-
        # accumulating reduce needs a float init ('acc = 0.0'), same as
        # Spark SQL's aggregate.
        init = _lower_expr(node.init, bare, bare_names)
        if isinstance(node.init, int) and not isinstance(node.init, bool):
            init = init.cast("long")
        return F.aggregate(
            _lower_expr(node.source, bare, bare_names),
            init,
            lambda acc, c: _lower_expr(
                _subst_lambda_var(
                    _subst_lambda_var(node.step, node.acc, acc),
                    node.var, c,
                ),
                bare, bare_names,
            ),
        )
    if isinstance(node, Arith):
        lt = _lower_expr(node.left, bare, bare_names)
        rt = _lower_expr(node.right, bare, bare_names)
        if node.op == "^":
            return F.pow(lt, rt)  # Cypher exponent → Float
        if node.op == "+" and (_stringy_expr(node.left) or _stringy_expr(node.right)):
            # Cypher string concatenation: 'a' + x.name, x.name + '!',
            # string + number renders the number ('v' + 1 = 'v1').
            # Dispatch is static on the AST (a string literal on either
            # side, recursively through +) — column-only operands keep
            # numeric +, Spark's analyzer rejecting a string column
            # there exactly as before.
            return F.concat(lt.cast("string"), rt.cast("string"))
        return {
            "+": lt + rt, "-": lt - rt, "*": lt * rt, "/": lt / rt,
            "%": lt % rt,
        }[node.op]
    if isinstance(node, CaseExpr):
        col = None
        for cond, res in node.whens:
            c = _lower_condition(cond, bare, (), bare_names)
            r = _lower_expr(res, bare, bare_names)
            col = F.when(c, r) if col is None else col.when(c, r)
        if node.default is not None:
            col = col.otherwise(_lower_expr(node.default, bare, bare_names))
        return col  # no ELSE ⇒ NULL (Cypher/SQL)
    if isinstance(node, FuncCall):
        if node.name in ("nodes", "relationships"):
            # args must not lower first (a vertex-variable arg would die
            # on the bare-name check with a misleading message)
            _path_fn_error(node.name)
        if node.name in ("startnode", "endnode"):
            # endpoint ids of a bound edge variable — the data model's
            # node reference IS its id (id(startNode(e)) composes)
            a = node.args[0]
            if not isinstance(a, PropRef) or a.prop:
                raise ValueError(
                    f"{node.name}() takes a bound edge variable, "
                    f"e.g. {node.name}(e)"
                )
            return F.col(
                f"{a.var}__src" if node.name == "startnode" else f"{a.var}__dst"
            )
        if node.name == "id" and (
            isinstance(node.args[0], FuncCall)
            and node.args[0].name in ("startnode", "endnode")
        ):
            return _lower_expr(node.args[0], bare, bare_names)
        if node.name in ("id", "labels", "type"):
            # entity functions resolve straight to binding columns (no
            # arg lowering — a bare variable is exactly what they take).
            # id(v) → v__id; labels(v) → [v__label] (single-label data
            # model); type(e) → e__label. A mistyped variable surfaces
            # as Spark's unresolved-column error naming var__id/__label.
            a = node.args[0]
            if not isinstance(a, PropRef) or a.prop:
                raise ValueError(
                    f"{node.name}() takes a bound graph variable, "
                    f"e.g. {node.name}(v)"
                )
            if node.name == "id":
                return F.col(f"{a.var}__id")
            if node.name == "labels":
                return F.array(F.col(f"{a.var}__label"))
            return F.col(f"{a.var}__label")
        if node.name == "substring":
            # Cypher substring(s, start[, len]) is 0-indexed; Spark's
            # builtin is 1-indexed. The 2-arg form runs to end of
            # string (len = length(s) is always enough).
            s = _lower_expr(node.args[0], bare, bare_names)
            start = _lower_expr(node.args[1], bare, bare_names) + F.lit(1)
            ln = (
                _lower_expr(node.args[2], bare, bare_names)
                if len(node.args) == 3
                else F.length(s)
            )
            return F.substring(s, start, ln)
        if node.name == "split":
            # Cypher splits on a literal string; Spark's builtin takes
            # a regex — escape it, and reject non-literal delimiters
            # (a column-valued delimiter can't be pre-escaped).
            if not isinstance(node.args[1], str):
                raise ValueError(
                    "split(s, delim): delim must be a string literal"
                )
            return F.split(
                _lower_expr(node.args[0], bare, bare_names),
                re.escape(node.args[1]),
            )
        if node.name == "duration":
            # duration('P1DT2H30M') — ISO-8601, LITERAL only (the
            # interval is baked into the plan; a column-valued duration
            # has no static interval form). Composes with +/- on
            # date/datetime expressions (Spark interval arithmetic).
            if not isinstance(node.args[0], str):
                raise ValueError(
                    "duration(s): s must be an ISO-8601 string literal "
                    "like 'P1DT2H30M'"
                )
            m = re.fullmatch(
                r"P(?:(\d+)Y)?(?:(\d+)M)?(?:(\d+)W)?(?:(\d+)D)?"
                r"(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+(?:\.\d+)?)S)?)?",
                node.args[0],
            )
            if m is None or not any(m.groups()):
                raise ValueError(
                    f"duration(): {node.args[0]!r} is not an ISO-8601 "
                    "duration (expected e.g. 'P3D', 'PT2H30M', 'P1Y2M')"
                )
            y, mo, w, d, h, mi, s = (g or "0" for g in m.groups())
            return F.make_interval(
                F.lit(int(y)), F.lit(int(mo)), F.lit(int(w)), F.lit(int(d)),
                F.lit(int(h)), F.lit(int(mi)), F.lit(float(s)),
            )
        if node.name == "round":
            # scale must be a literal int: F.round's second arg is not
            # a column, and a non-constant scale has no SQL equivalent.
            # 1-arg round(x) = round(x, 0) — Cypher/Spark/ANSI default.
            if len(node.args) == 2 and not isinstance(node.args[1], int):
                raise ValueError("round(x, n): n must be an integer literal")
            scale = node.args[1] if len(node.args) == 2 else 0
            args = [_lower_expr(node.args[0], bare, bare_names), scale]
        else:
            args = [_lower_expr(a, bare, bare_names) for a in node.args]
        return _SCALAR_FNS[node.name](args)
    if isinstance(node, PropRef):
        if node.prop:
            return F.col(f"{node.var}__{node.prop}")
        if bare or node.var in bare_names:
            return F.col(node.var)
        raise ValueError(
            f"bare name {node.var!r} in an expression is only valid "
            "after WITH or UNWIND (reference a property as var.prop)"
        )
    return F.lit(node)


def _lower_condition(
    cond, bare: bool = False, pattern_vars: tuple = (), bare_names: tuple = ()
) -> F.Column:
    """``bare``: the frame's columns are projected output names (a WITH
    intermediate) rather than ``var__col`` binding columns.
    ``pattern_vars``: whole variables passed through a non-aggregating
    WITH — their binding columns survive into the bare frame, so
    `v IS NULL` on one still resolves via the id witness.
    ``bare_names``: names bound by UNWIND — bare columns even in a
    non-bare (binding-column) frame."""
    if isinstance(cond, PatternPred):
        raise ValueError(
            "EXISTS(pattern) predicates are only supported in a top-level "
            "AND chain of the WHERE clause (not under OR)"
        )
    if isinstance(cond, BoolExpr):
        if cond.op == "NOT":
            return ~_lower_condition(cond.left, bare, pattern_vars, bare_names)
        left = _lower_condition(cond.left, bare, pattern_vars, bare_names)
        right = _lower_condition(cond.right, bare, pattern_vars, bare_names)
        if cond.op == "XOR":
            # boolean inequality IS exclusive-or, with Cypher's
            # three-valued semantics for free (null != x → null)
            return left != right
        return left & right if cond.op == "AND" else left | right
    if isinstance(cond, QuantPred):
        # higher-order function, evaluated per row inside codegen
        arr = _lower_expr(cond.source, bare, bare_names)

        def lam(c):
            return _lower_condition(
                _subst_lambda_var(cond.pred, cond.var, c),
                bare, pattern_vars, bare_names,
            )

        if cond.kind == "any":
            return F.exists(arr, lam)
        if cond.kind == "all":
            return F.forall(arr, lam)
        if cond.kind == "none":
            return ~F.exists(arr, lam)
        return F.size(F.filter(arr, lam)) == 1  # single
    assert isinstance(cond, Compare)
    if cond.lhs is not None:
        col = _lower_expr(cond.lhs, bare, bare_names)
    elif cond.prop:
        col = F.col(f"{cond.var}__{cond.prop}")
    elif cond.var in bare_names:
        col = F.col(cond.var)
    elif cond.op in ("is_null", "is_not_null") and (
        not bare or cond.var in pattern_vars
    ):
        # Cypher `v IS NULL` on a pattern variable asks whether the
        # binding is unbound (OPTIONAL MATCH misses) — the id column is
        # the binding's existence witness
        col = F.col(f"{cond.var}__id")
    elif bare:
        # bare column reference = a post-WITH alias
        col = F.col(cond.var)
    else:
        raise ValueError(
            f"bare name {cond.var!r} in WHERE is only valid after WITH "
            "or UNWIND (reference a property as var.prop)"
        )
    if cond.op == "is_null":
        return col.isNull()
    if cond.op == "is_not_null":
        return col.isNotNull()
    if cond.op == "regex":
        # Cypher `=~` is a FULL-string match; rlike is substring search,
        # so anchor the (non-capturing) whole pattern
        return col.rlike(f"^(?:{cond.value})$")
    if cond.op == "contains":
        return col.contains(cond.value)
    if cond.op == "starts_with":
        return col.startswith(cond.value)
    if cond.op == "ends_with":
        return col.endswith(cond.value)
    if cond.op == "in":
        return col.isin(*cond.value)
    if cond.op == "in_expr":
        # membership in a list-valued expression (range / split / tail /
        # comprehension / WITH alias) — per-row, inside codegen
        return F.array_contains(
            _lower_expr(cond.value, bare, bare_names), col
        )
    if isinstance(cond.value, (PropRef, Arith, FuncCall, CaseExpr, _ColWrap)):
        # PropRef prop=None → bare-name RHS (WITH alias / UNWIND
        # binding); Arith/FuncCall/CaseExpr → computed RHS; _ColWrap →
        # a substituted quantifier lambda argument
        lit = _lower_expr(cond.value, bare, bare_names)
    else:
        lit = F.lit(cond.value)
    # int↔float coercion is native in Spark (reference: executor.rs:641-650)
    ops = {
        "=": col == lit,
        "!=": col != lit,
        "<": col < lit,
        ">": col > lit,
        "<=": col <= lit,
        ">=": col >= lit,
    }
    return ops[cond.op]


def _has_pattern_pred(cond) -> bool:
    if isinstance(cond, PatternPred):
        return True
    if isinstance(cond, BoolExpr):
        return _has_pattern_pred(cond.left) or (
            cond.right is not None and _has_pattern_pred(cond.right)
        )
    return False


def _split_pattern_preds(cond):
    """(column_condition | None, [(PatternPred, negated), ...]) from a
    WHERE tree: PatternPred conjuncts (optionally NOT-wrapped) peel off
    the top-level AND chain; everything else stays a Column condition."""
    if isinstance(cond, PatternPred):
        return None, [(cond, False)]
    if isinstance(cond, BoolExpr):
        if cond.op == "NOT" and isinstance(cond.left, PatternPred):
            return None, [(cond.left, True)]
        if cond.op == "AND":
            lcol, lp = _split_pattern_preds(cond.left)
            rcol, rp = _split_pattern_preds(cond.right)
            col = (
                lcol
                if rcol is None
                else rcol
                if lcol is None
                else BoolExpr("AND", lcol, rcol)
            )
            return col, lp + rp
    return cond, []


def _shared_edge_keys(pattern, bound_cols, sub_cols) -> list[str]:
    """Correlation witness columns for EDGE variables a subquery pattern
    shares with the outer MATCH: an edge's identity is its
    (src, dst, label) triple (graph/storage/src/lib.rs:171), so a reused
    relationship variable correlates on those three binding columns —
    previously such a variable was silently ignored (node-only
    correlation) and the subquery over-counted."""
    keys: list[str] = []
    for e in pattern.edges:
        if not e.var:
            continue
        cols = [f"{e.var}__src", f"{e.var}__dst", f"{e.var}__label"]
        if all(c in bound_cols for c in cols) and all(c in sub_cols for c in cols):
            keys.extend(cols)
    return keys


def _star_agg_extras(items, star_vars, star_bares):
    """Validate the explicit items of a ``WITH *, <agg>`` stage against
    the star-kept scope before expansion (r15): an alias that collides
    with a star-kept variable or bare alias (``WITH x AS n .. WITH *,
    count(*) AS n``) would expand into duplicate columns and surface
    later as an opaque Spark AMBIGUOUS_REFERENCE — raise the same
    guidance error the non-aggregating star branch gives for that
    shape. Redundant plain-variable extras (``WITH *, n`` where * keeps
    n) drop from the expansion, matching the non-agg branch's
    ``continue``."""
    kept = set(star_vars) | set(star_bares)
    out = []
    for i in items:
        if (
            i.prop is None and i.agg is None and i.expr is None
            and i.var in kept and i.alias in (None, i.var)
        ):
            continue  # * already keeps this variable/bare alias
        alias = i.alias or (f"{i.var}_{i.prop}" if i.prop is not None else None)
        if alias in kept:
            raise ValueError(
                f"WITH *, ..: alias {alias!r} duplicates a column the "
                "star already keeps — rename the alias"
            )
        out.append(i)
    return out


#: AST nodes the count-subquery walker must NOT descend into: patterns
#: are not expressions, and an EXISTS body's inner WHERE belongs to the
#: subquery's own frame — _subquery_frame rewrites and attaches nested
#: COUNT{}/comprehension nodes when it builds that frame (r11)
_CSUB_OPAQUE = (PathPattern, PatternPred, ShortestPathPattern, NodePattern, EdgePattern)


def _rewrite_count_subs(node, out: list, prefix: str = "_csub"):
    """Replace every ``COUNT { .. }`` / pattern-comprehension node in an
    expression/condition tree with a synthetic ``PropRef({prefix}K,
    "val")`` (lowering to the joined subquery column ``{prefix}K__val``),
    collecting the subqueries into ``out`` as ``(name, node)``. Generic
    dataclass walk — any new expression node type is traversed without
    registration. ``prefix`` keeps each attach position's synthetic
    columns collision-free: ``_csub`` pre-projection, ``_ws{k}i``/
    ``_ws{k}w`` per WITH stage, ``_fcsub`` the pipelined RETURN, and
    the ``_cse*`` family inside CALL bodies."""
    import dataclasses

    if isinstance(node, (CountSub, PatternComp)):
        name = f"{prefix}{len(out)}"
        out.append((name, node))
        return PropRef(name, "val")
    if isinstance(node, list):
        return [_rewrite_count_subs(i, out, prefix) for i in node]
    if isinstance(node, tuple):
        return tuple(_rewrite_count_subs(i, out, prefix) for i in node)
    if dataclasses.is_dataclass(node) and not isinstance(node, _CSUB_OPAQUE):
        for f in dataclasses.fields(node):
            setattr(
                node, f.name,
                _rewrite_count_subs(getattr(node, f.name), out, prefix),
            )
    return node


class GQLEngine:
    """Executes GQL statements against a PropertyGraph.

    Read path (MATCH/WHERE/RETURN) returns a DataFrame; mutations
    (CREATE / MATCH..DELETE) are applied through a GraphStore
    (dd_graphdb_spark.storage) when one is attached.
    """

    def __init__(self, graph: PropertyGraph, store=None):
        self.graph = graph
        self.store = store

    def execute(self, query: str, params: dict | None = None) -> DataFrame:
        """Run one GQL statement. ``params`` binds ``$name`` query
        parameters (Cypher convention) — values substitute as literal
        tokens before parsing, so they are legal exactly where
        literals are (inline props, WHERE operands, SKIP/LIMIT counts,
        IN lists, UNWIND sources) and the lowered plan is identical to
        the literal spelling (pushdown included)."""
        stmt = parse_gql(query, params)
        if isinstance(stmt, CallStatement):
            return self._execute_call(stmt)
        if isinstance(stmt, UnionStatement):
            return self._execute_union(stmt)
        if isinstance(stmt, MatchStatement):
            return self._execute_match(stmt)
        if isinstance(
            stmt,
            (
                CreateStatement,
                ForeachStatement,
                MatchDeleteStatement,
                MatchRemoveStatement,
                MatchSetStatement,
                MergeStatement,
            ),
        ):
            if self.store is None:
                raise ValueError("mutations require a GraphStore (pass store=)")
            return self.store.execute_mutation(stmt, self)
        raise ValueError(f"unsupported statement {type(stmt).__name__}")

    def _execute_call(self, stmt: CallStatement) -> DataFrame:
        """CALL { <read query> } RETURN .. — the body lowers to its own
        optimized plan (a derived table); the outer RETURN projects /
        aggregates its output columns by bare name. No extra shuffle
        beyond what the outer aggregation itself needs — Catalyst fuses
        the projection into the body's plan."""
        inner = (
            self._execute_union(stmt.inner)
            if isinstance(stmt.inner, UnionStatement)
            else self._execute_match(stmt.inner)
        )
        items = stmt.returns
        if len(items) == 1 and items[0].var == "*" and items[0].agg is None:
            df = inner  # RETURN *: the subquery's columns as-is
        else:
            df = self._project(
                inner, items, [], self.graph.vertices.columns, bare=True
            )
        if stmt.distinct:
            df = _safe_distinct(df)
        return _order_slice(
            df, stmt.order_by, stmt.skip, stmt.limit,
            lambda o, cols: _order_col(o, cols, "RETURN"),
        )

    def _execute_union(self, stmt: UnionStatement) -> DataFrame:
        """UNION [ALL] between read queries (Cypher semantics; beyond the
        reference, whose parser never compiled — SURVEY §0.1): all parts
        must return the SAME column names in the same order; plain UNION
        dedups the combined rows.

        Spark shape: unionByName over the lowered parts — a pure narrow
        concatenation; the dedup variant adds ONE shuffle on all
        columns. Each part keeps its own optimized plan (pushdowns,
        broadcast choices are per-branch)."""
        frames = [self._execute_match(p) for p in stmt.parts]
        cols0 = frames[0].columns
        for i, f in enumerate(frames[1:], start=2):
            if f.columns != cols0:
                raise ValueError(
                    "GQL error: all queries in a UNION must return the "
                    f"same columns — part 1 returns {cols0}, part {i} "
                    f"returns {f.columns}"
                )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out if stmt.all else _safe_distinct(out)

    # -- pattern matching ----------------------------------------------------
    def _hop_edges(self, e, src: str = "_b_src", dst: str = "_b_dst") -> DataFrame:
        """One hop of a variable-length edge pattern as (``src``,
        ``dst``) in walk direction: the undirected union when the
        pattern has no direction, the label filter, and reversed
        endpoints for an incoming pattern."""
        base = (
            self.graph.undirected_edges()
            if e.direction == "undirected"
            else self.graph.edges
        )
        if e.label is not None:
            base = base.filter(_label_pred(F.col("label"), e.label))
        a, b = ("dst", "src") if e.direction == "in" else ("src", "dst")
        return base.select(F.col(a).alias(src), F.col(b).alias(dst))

    def _var_length_pairs(self, e, evar: str, tag: str) -> DataFrame:
        """(start, end, hops) walk pairs for a variable-length edge —
        a finite union of hop-chained equi-joins (the parser rejects
        unbounded quantifiers). Bindings stay WALKS, matching the
        single-edge semantics: one output row per distinct walk.
        Zero-hop (``*0..m``) contributes the identity pairs."""
        start, end = f"{tag}_start", f"{tag}_end"
        base = self._hop_edges(e)
        frames = []
        if e.min_hops == 0:
            frames.append(
                self.graph.vertices.select(
                    F.col("id").alias(start),
                    F.col("id").alias(end),
                    F.lit(0).alias(f"{evar}__hops"),
                )
            )
        cur = base.select(F.col("_b_src").alias(start), F.col("_b_dst").alias(end))
        for h in range(1, e.max_hops + 1):
            if h > 1:
                cur = cur.join(base, F.col(end) == F.col("_b_src")).select(
                    F.col(start), F.col("_b_dst").alias(end)
                )
            if h >= max(e.min_hops, 1):
                frames.append(cur.withColumn(f"{evar}__hops", F.lit(h)))
        pairs = frames[0]
        for fr in frames[1:]:
            pairs = pairs.unionByName(fr)
        return pairs

    def _shortest_path_bindings(self, sp: ShortestPathPattern) -> DataFrame:
        """Hop-count shortest paths between two endpoint sets as a
        FRONTIER search (BFS), not walk enumeration: per-round state is
        one row per (start, end) pair, so a ``*1..h`` through a
        d-degree hub costs O(pairs·d) per round instead of
        materializing d^h walks (the r7 scale-killer — VERDICT r7
        "What's wrong #1").

        Each round extends only the pairs FIRST settled last round,
        reduces the extensions to min(path) per (start, end) — all of a
        round's extensions share its hop count — and anti-joins the
        already-settled set — the engine's one frontier loop,
        ``_iter.bfs_levels``, keyed by the start column — and stops
        early when the frontier drains. The result is identical to full
        walk enumeration + min(struct(hops, path)): a shortest walk's
        prefixes are shortest walks, and appending the same suffix
        preserves string order among equal-hop same-endpoint paths
        (which are never prefixes of each other), so the per-pair
        lexicographic tie-break survives the per-round reduction.

        The parser guarantees min_hops ∈ {0, 1} (Neo4j's own
        shortestPath rule) — a lower bound > 1 would ask for
        longer-but-qualifying walks the reduction prunes.

        ``allShortestPaths`` (sp.all_paths) keeps EVERY tied-minimum
        path instead of the lexicographic winner: the per-hop min(path)
        reduction is simply dropped — a length-h shortest path's prefix
        is itself a shortest path to its hop-(h-1) vertex (else the full
        path would be shorter), so extending ALL shortest paths of the
        pairs settled last round enumerates exactly the shortest paths
        of the pairs settling this round; the settled-PAIR anti-join is
        unchanged. Extensions are duplicate-free without a distinct:
        the hop edges are deduplicated and a path string determines its
        (prefix, last-edge) decomposition uniquely. Per-round state is bounded by
        tied-path counts (inherent to the ask — Cypher returns one row
        per path), not pairs.

        Seeding from the filtered source side keeps every round sized
        by the SELECTED sources; the filtered target side joins at the
        end. Mirrors the reference's routed shortest-path result shape
        (dist/path — incremental_engine.rs:1214-1285) with Cypher
        shortestPath (hop) semantics; unreachable ⇒ no row."""
        from dd_graphdb_spark.algorithms._iter import bfs_levels, copartitioned, run_loop

        e, a, b, p = sp.edge, sp.src, sp.dst, sp.pvar
        adf = _node_filter(_prefix(self.graph.vertices, a.var), a, a.var)
        bdf = _node_filter(_prefix(self.graph.vertices, b.var), b, b.var)
        start, end, hops, path = "_sp_start", "_sp_end", "_sp_hops", "_sp_path"
        seed = adf.select(
            F.col(f"{a.var}__id").alias(start),
            F.col(f"{a.var}__id").alias("id"),
            F.lit(0).alias(hops),
            F.col(f"{a.var}__id").cast("string").alias(path),
        )

        def step(j: DataFrame, h: int) -> DataFrame:
            """Per-hop reduction: one winner per pair (shortestPath) or
            every tied path (allShortestPaths — no reduction needed,
            see docstring)."""
            ext = j.select(
                start,
                F.col("dst").alias("id"),
                F.concat(F.col(path), F.lit("->"), F.col("dst").cast("string")).alias(path),
            )
            if not sp.all_paths:
                ext = ext.groupBy(start, "id").agg(F.min(path).alias(path))
            return ext.select(start, "id", F.lit(h).alias(hops), path)

        def _bfs(_g) -> DataFrame:
            # the edge set partitioned + sorted on the per-round join key
            # and deduplicated in the same exchange (parallel edges never
            # change hop counts), built inside run_loop so the bracket
            # frees its blocks — each round then exchanges only the
            # frontier
            fixed = copartitioned(
                self._hop_edges(e, "src", "dst"), "src", dedup_cols=["src", "dst"]
            )
            best, _ = bfs_levels(
                seed, fixed, step, e.max_hops, keys=(start,), include_seed=e.min_hops == 0
            )
            return best

        best = run_loop(_bfs, self.graph).select(
            start,
            F.col("id").alias(end),
            F.col(hops).cast("long").alias(f"{p}__hops"),
            F.col(path).alias(f"{p}__path"),
        )
        return (
            best.join(adf, F.col(start) == F.col(f"{a.var}__id"))
            .join(bdf, F.col(end) == F.col(f"{b.var}__id"))
            .withColumn(f"{p}__distance", F.col(f"{p}__hops").cast("double"))
            .drop(start, end)
        )

    def _apply_where(
        self, bound: DataFrame, where, bare_names: tuple = (), anon_prefix: str = "_w",
        bare: bool = False, pattern_vars: tuple = (),
    ) -> DataFrame:
        """Apply a WHERE tree: EXISTS pattern predicates peel off the
        top-level AND chain as LEFT SEMI / LEFT ANTI joins on the shared
        variables' ids (the Spark-natural subquery rewrite — no
        correlated execution, Catalyst broadcasts the probe side when
        small); the residual condition is a Column filter.

        ``bare``/``pattern_vars``: the frame is a WITH intermediate —
        residual names are bare aliases, var.prop resolves against the
        passthrough variables' surviving binding columns (r12: EXISTS
        pattern predicates are legal in WITH..WHERE when the stage
        passes variables through — the semi-join correlates on their
        id witnesses exactly as in a MATCH WHERE)."""
        col_cond, preds = _split_pattern_preds(where)
        for j, (pred, negated) in enumerate(preds):
            pat = pred.pattern
            sub = self._subquery_frame(
                pat, pred.where, anon_prefix=f"{anon_prefix}{j}e"
            )
            shared = [
                v
                for v in dict.fromkeys(n.var for n in pat.nodes)
                if f"{v}__id" in bound.columns
            ]
            edge_keys = _shared_edge_keys(pat, bound.columns, sub.columns)
            if not shared and not edge_keys:
                raise ValueError(
                    "EXISTS pattern must share at least one variable with "
                    "the MATCH (an uncorrelated existence test is a "
                    "constant — test it separately)"
                )
            keys = [f"{v}__id" for v in shared] + edge_keys
            bound = bound.join(
                sub.select(*keys), on=keys, how="left_anti" if negated else "left_semi"
            )
        if col_cond is not None:
            bound = bound.filter(
                _lower_condition(
                    col_cond, bare=bare, bare_names=bare_names,
                    pattern_vars=pattern_vars,
                )
            )
        return bound

    def _subquery_frame(
        self, pattern, where, anon_prefix: str = "_sq"
    ) -> DataFrame:
        """Bindings for a subquery body (EXISTS / COUNT{} / pattern
        comprehension / correlated CALL) with the body's own WHERE
        applied. The WHERE may itself nest subqueries: COUNT{} /
        pattern-comprehension nodes attach to THIS frame as grouped
        joins, EXISTS predicates peel as semi/anti joins — mutual
        recursion through _apply_where/_attach_count_subs, terminating
        on the finite AST. Each level is still a derived-table join,
        never correlated re-execution."""
        ncsubs: list = []
        if where is not None:
            where = _rewrite_count_subs(where, ncsubs, prefix=f"{anon_prefix}n")
        sub = self.match_bindings(
            pattern, None if ncsubs else where, anon_prefix=anon_prefix
        )
        if ncsubs:
            sub = self._attach_count_subs(sub, ncsubs)
            sub = self._apply_where(sub, where, anon_prefix=f"{anon_prefix}w")
        return sub

    def _attach_count_subs(self, bound: DataFrame, csubs: list) -> DataFrame:
        """Join each ``COUNT { .. }`` subquery's grouped count — or a
        pattern comprehension's grouped sorted ``collect_list`` — onto
        the bindings as column ``{name}__val`` (0 / empty list when no
        match — Cypher).

        Spark shape: the inner pattern's matches aggregate to one row
        per shared-id combination (map-side partial combine), then LEFT
        join back on those ids — no correlated execution; Catalyst
        broadcasts the aggregated side when small. Requires ≥1 shared
        variable (an uncorrelated subquery is a constant — compute it
        separately)."""
        for name, cs in csubs:
            sub = self._subquery_frame(cs.pattern, cs.where, anon_prefix=f"{name}e")
            shared = [
                v
                for v in dict.fromkeys(n.var for n in cs.pattern.nodes)
                if f"{v}__id" in bound.columns
            ]
            edge_keys = _shared_edge_keys(cs.pattern, bound.columns, sub.columns)
            if not shared and not edge_keys:
                raise ValueError(
                    "COUNT { pattern } / a pattern comprehension must "
                    "share at least one variable with the MATCH (an "
                    "uncorrelated subquery is a constant — compute it "
                    "separately)"
                )
            keys = [f"{v}__id" for v in shared] + edge_keys
            val = f"{name}__val"
            if isinstance(cs, PatternComp):
                # the comprehension expression may carry map projections
                # (u {.name}) or keys()/properties() of the INNER
                # pattern's variables — rewrite them against the
                # comprehension's own frame (the outer statement's
                # rewrite never descends into subquery nodes)
                cvv = {n.var for n in cs.pattern.nodes}
                cev = {e.var for e in cs.pattern.edges if e.var}
                cs = PatternComp(
                    cs.pattern,
                    cs.where,
                    _rewrite_prop_map_funcs(
                        cs.expr, cvv, cev,
                        self.graph.vertices.columns,
                        self.graph.edges.columns,
                    ),
                )
                # struct-tagging keeps NULL elements (collect_list drops
                # bare nulls; a struct wrapping a null field is non-null)
                # — Cypher pattern comprehensions include null expression
                # values, and DuckDB's list() keeps them. array_sort on
                # the struct orders by the field ASC with nulls FIRST,
                # matching DuckDB list_sort's default null placement.
                agg = sub.groupBy(*keys).agg(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(_lower_expr(cs.expr).alias("v"))
                            )
                        ),
                        lambda s: s["v"],
                    ).alias(val)
                )
                empty = F.array().cast(agg.schema[val].dataType)
                bound = bound.join(agg, on=keys, how="left").withColumn(
                    val, F.coalesce(F.col(val), empty)
                )
            else:
                agg = sub.groupBy(*keys).agg(F.count(F.lit(1)).alias(val))
                bound = bound.join(agg, on=keys, how="left").withColumn(
                    val, F.coalesce(F.col(val), F.lit(0)).cast("long")
                )
        return bound

    def match_bindings(self, pattern, where=None, anon_prefix: str = "_e") -> DataFrame:
        if isinstance(pattern, ShortestPathPattern):
            bound = self._shortest_path_bindings(pattern)
            if where is not None:
                bound = self._apply_where(bound, where, anon_prefix=anon_prefix)
            return bound
        nodes, edges = pattern.nodes, pattern.edges
        v0 = nodes[0]
        bound = _node_filter(_prefix(self.graph.vertices, v0.var), v0, v0.var)
        seen_vars = {v0.var}
        edge_meta: list[tuple[str, bool]] = []  # (evar, is_var_length)
        for i, e in enumerate(edges):
            tgt = nodes[i + 1]
            prev = nodes[i].var
            evar = e.var or f"{anon_prefix}{i}"
            edge_meta.append((evar, e.min_hops is not None))
            if e.min_hops is not None:
                tag = f"_vl{i}"
                pairs = self._var_length_pairs(e, evar, tag)
                bound = bound.join(pairs, F.col(f"{prev}__id") == F.col(f"{tag}_start"))
                dst_side = f"{tag}_end"
                if tgt.var in seen_vars:
                    bound = bound.filter(F.col(dst_side) == F.col(f"{tgt.var}__id"))
                    bound = _node_filter(bound, tgt, tgt.var)
                else:
                    tdf = _node_filter(_prefix(self.graph.vertices, tgt.var), tgt, tgt.var)
                    bound = bound.join(tdf, F.col(dst_side) == F.col(f"{tgt.var}__id"))
                    seen_vars.add(tgt.var)
                bound = bound.drop(f"{tag}_start", f"{tag}_end")
                continue
            edf = self.graph.edges
            if e.direction == "undirected":
                # `--` = union of both directions (executor.rs:322-326)
                edf = self.graph.undirected_edges()
            if e.label is not None:
                edf = edf.filter(_label_pred(F.col("label"), e.label))
            for pk, pv in e.props.items():
                edf = edf.filter(F.col(pk).eqNullSafe(F.lit(pv)))
            edf = _prefix(edf, evar)
            if e.direction == "in":
                src_side, dst_side = f"{evar}__dst", f"{evar}__src"
            else:
                src_side, dst_side = f"{evar}__src", f"{evar}__dst"
            bound = bound.join(edf, F.col(f"{prev}__id") == F.col(src_side))
            if tgt.var in seen_vars:
                # repeated node variable, e.g. (a)-[]->(b)-[]->(a): the
                # second occurrence closes the cycle as an equality
                # predicate on the existing binding rather than a second
                # join (which would duplicate a__* columns)
                bound = bound.filter(F.col(dst_side) == F.col(f"{tgt.var}__id"))
                bound = _node_filter(bound, tgt, tgt.var)
            else:
                tdf = _node_filter(_prefix(self.graph.vertices, tgt.var), tgt, tgt.var)
                bound = bound.join(tdf, F.col(dst_side) == F.col(f"{tgt.var}__id"))
                seen_vars.add(tgt.var)
        if getattr(pattern, "pvar", None):
            # bind the path variable's derived columns: p__length always;
            # p__nodes / p__rels / p__path only when every hop is a single
            # edge (var-length hops don't enumerate intermediate bindings)
            pv = pattern.pvar
            length_col = F.lit(0)
            for evar, is_vl in edge_meta:
                length_col = length_col + (
                    F.col(f"{evar}__hops") if is_vl else F.lit(1)
                )
            bound = bound.withColumn(f"{pv}__length", length_col.cast("long"))
            if not any(vl for _, vl in edge_meta):
                id_cols = [F.col(f"{n.var}__id") for n in nodes]
                bound = (
                    bound.withColumn(f"{pv}__nodes", F.array(*id_cols))
                    .withColumn(
                        f"{pv}__rels",
                        F.array(*[F.col(f"{evar}__label") for evar, _ in edge_meta]),
                    )
                    .withColumn(
                        f"{pv}__path",
                        F.concat_ws("->", *[c.cast("string") for c in id_cols]),
                    )
                )
        if where is not None:
            bound = self._apply_where(bound, where, anon_prefix=f"{anon_prefix}w")
        return bound

    def _unwind_literal_frame(self, uw) -> DataFrame:
        """One-column value table from a list literal: a 1-row seed
        exploded over an array literal — tiny by construction, always
        broadcast into the bindings (a value table never shuffles)."""
        spark = self.graph.vertices.sparkSession
        vals = uw.values
        if not isinstance(vals, list):
            # list-valued constant expression (UNWIND range(1, n) AS x):
            # a PropRef inside raises the bare-name error naturally
            return spark.range(1).select(
                F.explode(_lower_expr(vals)).alias(uw.alias)
            )
        if any(isinstance(v, float) for v in vals) and all(
            isinstance(v, (int, float)) and not isinstance(v, bool) for v in vals
        ):
            cols = [F.lit(float(v)) for v in vals]  # unify int/float
        else:
            cols = [F.lit(v) for v in vals]
        arr = F.array(*cols) if cols else F.array().cast("array<long>")
        return spark.range(1).select(F.explode(arr).alias(uw.alias))

    def _apply_unwind(
        self, df: DataFrame, uw, bare_names: tuple, bare: bool = False
    ) -> tuple:
        """Attach an UNWIND binding to a frame: list literal → broadcast
        cross join with the value table; alias (post-WITH) → explode the
        projected list column; list expression → per-row explode of the
        lowered expression (empty/null lists yield no rows — Cypher)."""
        if isinstance(uw.values, str):
            if uw.values not in df.columns:
                raise ValueError(f"UNWIND {uw.values}: not a WITH projection")
            df = df.withColumn(uw.alias, F.explode(F.col(uw.values)))
        elif isinstance(uw.values, list):
            df = df.crossJoin(F.broadcast(self._unwind_literal_frame(uw)))
        else:
            df = df.withColumn(
                uw.alias,
                F.explode(
                    _lower_expr(uw.values, bare=bare, bare_names=bare_names)
                ),
            )
        return df, bare_names + (uw.alias,)

    def _call_body_with(
        self, sub: DataFrame, inner, ivars: list, keys: list, bound: DataFrame,
        bnames: tuple = (),
    ) -> tuple:
        """The WITH pipeline inside a correlated CALL body
        (``inner.with_stages``, one or more chained stages). Every stage
        lowers through _apply_with_stage, the statement-scope stage
        lowering, with the imported witnesses as ``keys`` and the outer
        bindings ``bound`` as the pure-aggregate seed: each stage
        evaluates PER IMPORTED BINDING, so the derived table keeps
        computing all outer rows' subqueries at once (never per-row
        re-execution). ``bnames``: bare names in scope before the first
        stage (a leading UNWIND's alias, nested CALL outputs).

        Returns (frame, passthrough_vars); the caller projects the
        body RETURN in bare mode against it."""
        pvars: list = ivars
        bare = bnames
        for idx, st in enumerate(inner.with_stages):
            sub, pvars, bare = self._apply_with_stage(
                sub, pvars, st, bare, idx, "_csw", keys, bound
            )
        # RETURN-item count subqueries attach to the LAST intermediate
        ret_post: list = []
        for it in inner.returns:
            if it.expr is not None:
                it.expr = _rewrite_count_subs(it.expr, ret_post, prefix="_csewr")
        if ret_post:
            if not pvars:
                raise ValueError(
                    "COUNT { } / pattern comprehensions after an "
                    "AGGREGATING WITH are not supported — compute them "
                    "in the WITH items instead"
                )
            sub = self._attach_count_subs(sub, ret_post)
        return sub, pvars

    def _apply_call_sub(
        self, bound: DataFrame, cs: CallSubClause, bare_names: tuple
    ) -> tuple:
        """Correlated CALL { WITH x .. } — the COUNT{} lowering
        generalized to arbitrary projected/aggregated body items:

        1. execute the body ONCE as a derived table (its own optimized
           plan — pushdowns and broadcast choices are per-body);
        2. project the body's RETURN items with the imported variables'
           id columns prepended as grouping keys (extra_keys), so an
           aggregating body computes per imported binding — a grouped
           join, never per-row re-execution;
        3. apply the body's own ORDER BY/SKIP/LIMIT per imported-id
           group (one row_number window over the derived table —
           per-outer-row top-k);
        4. join back on those id witnesses: LEFT for PURE-aggregate
           bodies (Cypher: exactly one row per outer row — count()/
           sum() coalesce to 0, collect() to []), INNER for streaming
           AND mixed grouped-aggregate bodies (Cypher: grouped
           aggregation over empty input yields zero groups, so outer
           rows with no body matches drop).

        The body's output columns enter the outer scope as bare names
        (same mechanism as UNWIND aliases)."""
        inner = cs.inner
        keys = [f"{v}__id" for v in cs.imports]
        missing = [k for k in keys if k not in bound.columns]
        if missing:
            raise ValueError(
                f"CALL imports correlate on {missing}, not present in "
                "the outer bindings"
            )
        lead = inner.unwind_first
        sub = self._subquery_frame(
            inner.pattern,
            None if lead is not None else inner.where,
            anon_prefix="_cse",
        )
        ivars = list(dict.fromkeys(n.var for n in inner.pattern.nodes))
        sub, ivars = self._apply_clauses(sub, ivars, inner.clauses, "_csc")
        lead_bare: tuple = ()
        if lead is not None:
            # leading UNWIND in the body (Cypher: UNWIND before MATCH):
            # the list expression references imported variables' props,
            # which the body's own pattern binding re-bound — exploding
            # after the clause joins is set-equivalent, and the body
            # WHERE (which may reference the alias) applies after
            sub, lead_bare = self._apply_unwind(sub, lead, ())
            if inner.where is not None:
                # mirror _subquery_frame's handling for the deferred
                # WHERE: COUNT{} / pattern comprehensions attach as
                # grouped joins before the filter
                ncsubs: list = []
                inner.where = _rewrite_count_subs(
                    inner.where, ncsubs, prefix="_cseun"
                )
                if ncsubs:
                    sub = self._attach_count_subs(sub, ncsubs)
                sub = self._apply_where(
                    sub, inner.where, bare_names=lead_bare, anon_prefix="_cseu"
                )
        vcols = self.graph.vertices.columns
        key_cols = [F.col(k) for k in keys]
        out_aliases = {i.alias for i in inner.returns if i.alias} | {
            i.alias for st in inner.with_stages for i in st.items if i.alias
        }
        if out_aliases & set(keys):
            raise ValueError(
                f"CALL body aliases {sorted(out_aliases & set(keys))} "
                "collide with the correlation witness columns"
            )
        nested_bare: tuple = ()
        if inner.call_sub is not None:
            # nested correlated CALL: the same machinery recurses — the
            # nested body derives from THIS body's frame (which carries
            # the inner witnesses' id columns), joins back per inner
            # binding, and its outputs enter the body scope as bare
            # names for the body RETURN to project/aggregate
            sub, nested_bare, nested_ents = self._apply_call_sub(
                sub, inner.call_sub, ()
            )
            ivars = ivars + nested_ents  # nested entity exports in scope
        body_bnames = lead_bare + nested_bare
        if inner.with_stages:
            sub, body_vars = self._call_body_with(
                sub, inner, ivars, keys, bound, bnames=body_bnames
            )
            body_bare = True
            body_bnames = ()
        else:
            # COUNT{} / pattern comprehensions in the body's RETURN items
            # attach to the body frame (one more grouped join per subquery)
            ret_csubs: list = []
            for it in inner.returns:
                if it.expr is not None:
                    it.expr = _rewrite_count_subs(it.expr, ret_csubs, prefix="_cser")
            if ret_csubs:
                sub = self._attach_count_subs(sub, ret_csubs)
            body_vars, body_bare = ivars, False
        star_ret = (
            len(inner.returns) == 1
            and inner.returns[0].var == "*"
            and inner.returns[0].agg is None
        )
        if star_ret:
            # RETURN * (r13): only a named-scalar scope may star-export —
            # surviving entity bindings would re-export the imported
            # variables into their own outer scope (see CallSubClause)
            if body_vars:
                raise ValueError(
                    "RETURN * inside a correlated CALL body while whole "
                    f"variables {sorted(body_vars)} are in scope would "
                    "re-export entity bindings — project named scalars "
                    "in a WITH first, or RETURN the non-imported "
                    "variables by name (entity export)"
                )
            body_bnames = tuple(
                c for c in sub.columns
                if c not in keys and "__" not in c and not c.startswith("_")
            )
            if not body_bnames:
                raise ValueError(
                    "RETURN *: nothing is in scope inside the CALL body "
                    "— name the items"
                )
        # whole-variable RETURN items export the ENTITY into the outer
        # scope (r13): the binding columns ride through the join-back
        # unflattened and the variable joins the outer pattern scope,
        # so `CALL { WITH x MATCH (x)-->(y) RETURN y } RETURN y.name`
        # works like Neo4j. Re-exporting a variable the outer scope
        # already binds (the imports, first of all) is rejected —
        # Cypher's "variable already declared in outer scope".
        ent_vars = [
            i.var
            for i in inner.returns
            if i.prop is None and i.agg is None and i.expr is None
            and i.var != "*" and i.var in (body_vars or [])
        ]
        for v in ent_vars:
            if f"{v}__id" in bound.columns or v in bound.columns:
                raise ValueError(
                    f"CALL body RETURN {v}: variable {v!r} is already "
                    "declared in the outer scope — alias a projection "
                    "of it instead (RETURN y.name AS yn)"
                )
        proj = self._project(
            sub, inner.returns, body_vars, vcols,
            bare=body_bare, extra_keys=key_cols, bare_names=body_bnames,
            keep_binding=frozenset(ent_vars),
        )
        if inner.distinct:
            proj = _safe_distinct(proj)
        has_aggs = any(i.agg for i in inner.returns)
        pure_agg = has_aggs and all(i.agg for i in inner.returns)
        ent_cols = {f"{v}__{c}" for v in ent_vars for c in vcols}
        out_names = [
            c for c in proj.columns if c not in keys and c not in ent_cols
        ]
        # per-outer-row ORDER BY / SKIP / LIMIT (top-k per binding):
        # ranked inside each imported-id group with ONE windowed pass
        # over the derived table — never per-row body re-execution.
        # ORDER BY keys resolve against the body's RETURN output and
        # the exported entities' binding columns.
        scope = set(out_names) | ent_cols
        proj = _order_slice(
            proj, inner.order_by, inner.skip, inner.limit,
            lambda o, _cols: _order_col(o, scope, "RETURN"), keys=keys,
        )
        # A pure-aggregate body yields one row per outer row even over
        # empty input; that virtual row survives the body's ORDER BY /
        # SKIP / LIMIT only when nothing skips it
        empty_row_survives = not inner.skip and (
            inner.limit is None or inner.limit >= 1
        )
        if pure_agg and empty_row_survives:
            # Cypher: an all-aggregate body yields exactly ONE row per
            # outer row even over empty input — LEFT join, then the
            # empty-group identities
            bound = _fill_empty_groups(
                bound.join(proj, on=keys, how="left"), inner.returns
            )
        else:
            # streaming bodies AND mixed grouped-aggregate bodies
            # (RETURN x.t AS t, count(*) AS c): grouped aggregation over
            # empty input yields ZERO groups in Cypher, so an outer row
            # with no body matches drops — INNER, never a fabricated
            # (NULL, 0) row. OPTIONAL CALL (Cypher 25) keeps those
            # rows instead, NULL-filling the body outputs — LEFT, no
            # coalesce (NULL is the contract, not an identity value).
            how = "left" if cs.optional else "inner"
            bound = bound.join(proj, on=keys, how=how)
        return bound, bare_names + tuple(out_names), ent_vars

    def _apply_with_stage(
        self, inter: DataFrame, pvars: list, st, bare_aliases: tuple, idx: int,
        prefix: str, keys: list | tuple = (), outer: DataFrame | None = None,
    ) -> tuple:
        """One WITH stage — EVERY stage of a statement pipeline and of a
        correlated CALL body's pipeline lowers through here (stage 0's
        input is the bound pattern frame with UNWIND aliases / CALL
        outputs as bare names).

        The stage input is the previous intermediate: bare alias columns
        plus passed-through variables' ``var__col`` binding columns. The
        stage applies Cypher clause order — project/aggregate → DISTINCT
        → WHERE → ORDER BY → SKIP → LIMIT → post-WITH MATCH clauses →
        trailing UNWIND — and returns (frame, passthrough_vars,
        bare_alias_names) for the next stage or the RETURN.

        ``keys``: the scope's correlation witness columns — a CALL
        body's imported ``{var}__id`` columns, empty at statement scope.
        They ride through every projection and lead the implicit
        grouping keys, so the stage evaluates PER IMPORTED BINDING
        (never per-row re-execution). Two steps branch on them: a
        PURE-aggregate stage seeds from the distinct witnesses of
        ``outer`` (the CALL's outer bindings — LEFT join plus the
        empty-group identities, since Cypher's per-row execution yields
        one row per outer row even over empty input), and ORDER BY /
        SKIP / LIMIT rank per witness group (one row_number window)
        instead of slicing globally.

        ``prefix``: the scope's synthetic-column prefix (``_w`` at
        statement scope, ``_csw`` in CALL bodies) — COUNT{} columns and
        the anonymous bindings of the stage's EXISTS predicates and
        post-WITH clauses derive from it, so nested scopes never collide.

        Spark shape: a non-aggregating stage is a pure projection
        (no exchange); an aggregating stage shuffles once on its
        implicit grouping keys, exactly like a terminal RETURN
        aggregation. COUNT{} subqueries in stage items attach to the
        stage INPUT, in the stage WHERE to the stage output — both
        correlate on surviving passthrough binding columns."""
        vcols = self.graph.vertices.columns
        pre: list = []
        for it in st.items:
            if it.expr is not None:
                it.expr = _rewrite_count_subs(
                    it.expr, pre, prefix=f"{prefix}s{idx}i"
                )
        if pre:
            inter = self._attach_count_subs(inter, pre)
        has_aggs = any(i.agg for i in st.items)
        passthrough = [
            i.var
            for i in st.items
            if i.prop is None and i.agg is None and i.expr is None
            and i.var not in bare_aliases
        ]
        if st.star and has_aggs:
            # WITH *, <agg> AS c (r14): implicit grouping by the WHOLE
            # star scope (Neo4j). Expand * into explicit items — every
            # surviving named variable keeps its binding columns as
            # grouping keys (the r13 entity-grouping machinery), every
            # bare alias groups as a plain key — then reuse the
            # aggregating projection below.
            star_vars = [v for v in pvars if not v.startswith("_anon")]
            star_bares = [
                b for b in bare_aliases if b in inter.columns
            ]
            extras = _star_agg_extras(st.items, star_vars, star_bares)
            expanded = (
                [ReturnItem(v, None) for v in star_vars]
                + [ReturnItem(b, None) for b in star_bares]
                + extras
            )
            # witness keys already covered by a kept variable's binding
            # columns must not repeat in the grouping (duplicate column)
            covered = {f"{v}__{c}" for v in star_vars for c in vcols}
            nxt = self._project(
                inter, expanded, pvars, vcols,
                extra_keys=[F.col(k) for k in keys if k not in covered],
                bare_names=bare_aliases, keep_binding=frozenset(star_vars),
            )
            pvars = star_vars
        elif st.star:
            # WITH * [, extras]: keep the whole previous intermediate
            # (bare aliases + passthrough binding columns + witness
            # keys), drop any consumed synthetic columns and anonymous
            # bindings — the "_" prefix is the engine's reserved
            # namespace (see the statement-level star branch)
            keep = [c for c in inter.columns if not c.startswith("_")]
            cols = [F.col(c) for c in keep]
            names = set(keep)
            for i in st.items:
                if i.expr is not None:
                    alias = i.alias
                    col = _lower_expr(i.expr, bare_names=bare_aliases).alias(
                        i.alias
                    )
                elif i.prop is not None:
                    src = f"{i.var}__{i.prop}"
                    if src not in inter.columns:
                        raise ValueError(
                            f"WITH *, {i.var}.{i.prop}: {i.var} is not "
                            "in scope"
                        )
                    alias = i.alias or f"{i.var}_{i.prop}"
                    col = F.col(src).alias(alias)
                else:
                    continue  # whole-variable extras: * already keeps them
                if alias in names:
                    # same contract as the RETURN * dup check: a
                    # duplicate column would only surface later as an
                    # opaque AMBIGUOUS_REFERENCE
                    raise ValueError(
                        f"WITH *, ..: alias {alias!r} duplicates a kept "
                        "column — rename the alias"
                    )
                names.add(alias)
                cols.append(col)
            nxt = inter.select(*cols)
            # * passes every NAMED variable through (anonymous pattern
            # bindings leave scope with their dropped columns)
            pvars = [v for v in pvars if not v.startswith("_anon")]
        elif has_aggs:
            # WITH x, count(*) AS c (r13): Cypher's implicit grouping
            # by the ENTITY — the passthrough variable's binding
            # columns become grouping keys and x STAYS in scope
            nxt = self._project(
                inter, st.items, pvars, vcols,
                extra_keys=[F.col(k) for k in keys], bare_names=bare_aliases,
                keep_binding=frozenset(passthrough),
            )
            if keys and all(i.agg for i in st.items):
                # pure-aggregate stage in a CALL body: one row per outer
                # binding even over empty input
                nxt = _fill_empty_groups(
                    outer.select(*keys).distinct().join(nxt, on=keys, how="left"),
                    st.items,
                )
            pvars = list(passthrough)
        else:
            # witness keys a passthrough variable's binding columns
            # already carry are not repeated
            skip_keys = {f"{v}__id" for v in passthrough}
            cols = [F.col(k) for k in keys if k not in skip_keys]
            for i in st.items:
                if i.expr is not None:
                    cols.append(
                        _lower_expr(i.expr, bare_names=bare_aliases).alias(
                            i.alias
                        )
                    )
                elif i.prop is None and i.agg is None:
                    if i.var in bare_aliases:
                        cols.append(F.col(i.var).alias(i.alias or i.var))
                    elif i.var not in pvars:
                        raise ValueError(f"WITH {i.var}: unknown variable")
                    else:
                        cols.extend(F.col(f"{i.var}__{c}") for c in vcols)
                else:
                    # var.prop — a pattern variable's (vertex OR named
                    # edge) binding column, checked by existence so
                    # edge properties work at the first stage
                    src = f"{i.var}__{i.prop}"
                    if src not in inter.columns:
                        raise ValueError(
                            f"WITH {i.var}.{i.prop}: {i.var} is not in "
                            "scope"
                        )
                    cols.append(
                        F.col(src).alias(i.alias or f"{i.var}_{i.prop}")
                    )
            nxt = inter.select(*cols)
            pvars = passthrough
        inter = nxt
        if st.distinct:
            # in a CALL body the dedup includes the witness columns —
            # per-outer-row DISTINCT, Cypher's per-row execution scope
            inter = _safe_distinct(inter)
        post: list = []
        has_pat = False
        if st.where is not None:
            has_pat = _has_pattern_pred(st.where)
            if has_pat and not pvars:
                raise ValueError(
                    "EXISTS pattern predicates are not supported after "
                    "an AGGREGATING WITH — filter in the MATCH WHERE "
                    "clause instead"
                )
            st.where = _rewrite_count_subs(
                st.where, post, prefix=f"{prefix}s{idx}w"
            )
        if post:
            if has_aggs:
                raise ValueError(
                    "COUNT { } / pattern comprehensions after an "
                    "AGGREGATING WITH are not supported — compute them "
                    "in the WITH items instead"
                )
            inter = self._attach_count_subs(inter, post)
        if st.where is not None:
            if has_pat:
                inter = self._apply_where(
                    inter, st.where, anon_prefix=f"{prefix}w{idx}",
                    bare=True, pattern_vars=tuple(pvars),
                )
            else:
                inter = inter.filter(
                    _lower_condition(
                        st.where, bare=True, pattern_vars=tuple(pvars)
                    )
                )
        inter = _order_slice(
            inter, st.order, st.skip, st.limit,
            lambda o, cols: _order_col(o, cols, "WITH"), keys=keys,
        )
        inter, pvars = self._apply_clauses(
            inter, pvars, st.post_clauses, f"{prefix}{idx}p"
        )
        bare_aliases = tuple(c for c in inter.columns if "__" not in c)
        if st.unwind is not None:
            inter, bare_aliases = self._apply_unwind(
                inter, st.unwind, bare_aliases, bare=True
            )
        return inter, pvars, bare_aliases

    def _execute_match(self, stmt: MatchStatement) -> DataFrame:
        vcols = self.graph.vertices.columns
        unwound: tuple = ()
        if isinstance(stmt.pattern, PathPattern) and stmt.pattern.pvar:
            # rewrite nodes(p)/relationships(p)/length(p) to the path's
            # binding columns everywhere an expression may carry them
            pv = stmt.pattern.pvar
            hv = any(e.min_hops is not None for e in stmt.pattern.edges)
            if stmt.where is not None:
                stmt.where = _rewrite_path_funcs(stmt.where, pv, hv)
            for st in stmt.with_stages:
                if st.where is not None:
                    st.where = _rewrite_path_funcs(st.where, pv, hv)
            for it in list(stmt.returns) + [
                i for st in stmt.with_stages for i in st.items
            ]:
                if it.expr is not None:
                    it.expr = _rewrite_path_funcs(it.expr, pv, hv)
                elif it.var == pv and it.prop is None and it.agg is None:
                    raise ValueError(
                        f"RETURN {pv}: a path variable is not a vertex — "
                        f"project nodes({pv}) / relationships({pv}) / "
                        f"length({pv}) / {pv}.path instead"
                    )
        if isinstance(stmt.pattern, PathPattern):
            # rewrite keys(v)/properties(v) to pre-lowered columns —
            # frame-aware: needs the graph schema + vertex/edge var sets
            pats = [stmt.pattern] + [
                opt.pattern
                for _, opt in (stmt.clauses or [])
                + [c for st in stmt.with_stages for c in st.post_clauses]
            ]
            vv = {n.var for p in pats for n in p.nodes}
            ev = {e.var for p in pats for e in p.edges if e.var}
            ecols = self.graph.edges.columns

            def _pm(n):
                return _rewrite_prop_map_funcs(n, vv, ev, vcols, ecols)

            if stmt.where is not None:
                stmt.where = _pm(stmt.where)
            for st in stmt.with_stages:
                if st.where is not None:
                    st.where = _pm(st.where)
            for it in list(stmt.returns) + [
                i for st in stmt.with_stages for i in st.items
            ]:
                if it.expr is not None:
                    it.expr = _pm(it.expr)
        # COUNT { .. } subqueries: rewrite to synthetic count columns.
        # Pre-WITH positions (MATCH WHERE, RETURN without a pipeline)
        # attach to the fully-bound frame below (WHERE application is
        # deferred past the attach when the WHERE carries one).
        # WITH-stage positions are handled PER STAGE by
        # _apply_with_stage (items attach to the stage input, the
        # stage WHERE to its output); a pipelined statement's RETURN
        # subqueries attach to the LAST stage's intermediate — they
        # correlate on passthrough variables whose binding columns
        # survived the projections (Cypher scoping: after WITH, only
        # projected items are in scope anyway).
        csubs: list = []
        final_csubs: list = []
        where_csubs = 0
        if isinstance(stmt.pattern, PathPattern):
            if stmt.where is not None:
                stmt.where = _rewrite_count_subs(stmt.where, csubs)
                where_csubs = len(csubs)
            if not stmt.with_stages:
                ret_out, ret_prefix = csubs, "_csub"
            else:
                ret_out, ret_prefix = final_csubs, "_fcsub"
            for it in stmt.returns:
                if it.expr is not None:
                    it.expr = _rewrite_count_subs(it.expr, ret_out, ret_prefix)
        if stmt.pattern is None:
            # pure value-table statement: UNWIND [..] AS x RETURN ..
            bound = self._unwind_literal_frame(stmt.unwind_first)
            vertex_vars: list[str] = []
            unwound = (stmt.unwind_first.alias,)
        else:
            # with a leading UNWIND the WHERE may reference the unwound
            # name, so it applies after the value-table join; a WHERE
            # carrying a COUNT { } defers until its count column exists
            bound = self.match_bindings(
                stmt.pattern,
                None if (stmt.unwind_first or where_csubs) else stmt.where,
            )
            # dedupe: a repeated node variable (cycle pattern) binds ONCE —
            # without this, RETURN * emits its columns twice and any ORDER
            # BY / DISTINCT on them becomes ambiguous
            vertex_vars = list(dict.fromkeys(n.var for n in stmt.pattern.nodes))
            bound, vertex_vars = self._apply_clauses(
                bound, vertex_vars, stmt.clauses, "_o"
            )
            if csubs:
                bound = self._attach_count_subs(bound, csubs)
            if where_csubs and stmt.unwind_first is None and stmt.where is not None:
                bound = self._apply_where(bound, stmt.where, anon_prefix="_cw")
            if stmt.unwind_first is not None:
                bound, unwound = self._apply_unwind(bound, stmt.unwind_first, unwound)
                if stmt.where is not None:
                    bound = self._apply_where(
                        bound, stmt.where, bare_names=unwound, anon_prefix="_uw"
                    )
        if stmt.call_sub is not None:
            bound, unwound, call_ents = self._apply_call_sub(
                bound, stmt.call_sub, unwound
            )
            # entity exports join the outer pattern scope (r13)
            vertex_vars = list(vertex_vars) + call_ents
        if stmt.unwind is not None:
            # MATCH .. UNWIND [..] AS x RETURN .. (no WITH pipeline)
            bound, unwound = self._apply_unwind(bound, stmt.unwind, unwound)
        hidden: dict = {}  # sort-only column name → binding column
        if stmt.with_stages:
            # WITH pipeline chain: every stage lowers through
            # _apply_with_stage over the evolving (frame,
            # passthrough_vars, bare_aliases) scope. Stage 0's input is
            # the bound pattern frame (vertex_vars in scope, UNWIND
            # aliases and CALL outputs as bare names).
            inter, pvars, bare_aliases = bound, list(vertex_vars), unwound
            for k, st in enumerate(stmt.with_stages):
                inter, pvars, bare_aliases = self._apply_with_stage(
                    inter, pvars, st, bare_aliases, k, "_w"
                )
            if final_csubs:
                # RETURN-position subqueries attach to the LAST
                # intermediate; correlation needs a surviving
                # passthrough witness. After an aggregating final
                # stage no entity witness can exist (Cypher scoping) —
                # clear error; a non-aggregating projection that merely
                # dropped the witness gets _attach_count_subs' accurate
                # share-a-variable error instead.
                if not pvars and any(i.agg for i in stmt.with_stages[-1].items):
                    raise ValueError(
                        "COUNT { } / pattern comprehensions after an "
                        "AGGREGATING WITH are not supported — compute "
                        "them in the WITH items instead"
                    )
                inter = self._attach_count_subs(inter, final_csubs)
            df = self._project(
                inter, stmt.returns, pvars, vcols, bare=True,
                bare_names=tuple(c for c in inter.columns if "__" not in c),
            )
        else:
            # Cypher: ORDER BY may reference non-projected properties of
            # in-scope variables — legal when the RETURN is neither
            # DISTINCT nor aggregating (after those, only outputs are in
            # scope). Project them as hidden sort columns, dropped after
            # the sort.
            if (
                stmt.order_by
                and not stmt.distinct
                and not any(i.agg for i in stmt.returns)
            ):
                projected = {
                    (i.alias or f"{i.var}_{i.prop}")
                    for i in stmt.returns
                    if i.prop is not None
                }
                for o in stmt.order_by:
                    if o.prop is None:
                        continue
                    name = f"{o.var}_{o.prop}"
                    src = f"{o.var}__{o.prop}"
                    if name not in projected and src in bound.columns:
                        hidden[f"__sort_{name}"] = src
            df = self._project(
                bound, stmt.returns, vertex_vars, vcols,
                extra_cols=[F.col(src).alias(h) for h, src in hidden.items()],
                bare_names=unwound,
            )
        if stmt.distinct:
            df = _safe_distinct(df)

        def resolve(o, cols):
            # ORDER BY references projected output names (v_prop / v_id
            # …) or, pre-DISTINCT/aggregation, hidden sort columns
            if o.prop is None and o.var in cols:
                name = o.var  # a RETURN ... AS alias
            else:
                name = f"{o.var}_{o.prop}" if o.prop else f"{o.var}_id"
            if name in cols:
                return name
            if f"__sort_{name}" in cols:
                return f"__sort_{name}"
            raise ValueError(
                f"ORDER BY {o.var}.{o.prop or 'id'} is not projected by "
                "the RETURN"
            )

        return _order_slice(
            df, stmt.order_by, stmt.skip, stmt.limit, resolve,
            hidden=list(hidden),
        )

    def _apply_clauses(self, bound, vertex_vars, clauses, prefix):
        """Additional MATCH / OPTIONAL MATCH clauses, in source order.
        Each is matched on its own, then joined to the bindings on the
        shared variables' vertex ids: inner join for MATCH (conjunctive
        patterns), LEFT JOIN for OPTIONAL MATCH (its WHERE applies
        WITHIN the pattern; unmatched rows keep nulls). Disconnected
        clauses are rejected — they would be a cross product."""
        vertex_vars = list(vertex_vars)
        for j, (kind, opt) in enumerate(clauses):
            obound = self.match_bindings(
                opt.pattern, opt.where, anon_prefix=f"{prefix}{j}e"
            )
            ovars = list(dict.fromkeys(n.var for n in opt.pattern.nodes))
            shared = [v for v in ovars if v in vertex_vars]
            if not shared:
                if not vertex_vars:
                    raise ValueError(
                        f"{'OPTIONAL ' if kind == 'optional' else ''}MATCH "
                        "here has no in-scope variables to join on (a "
                        "value-table UNWIND or an aggregating WITH came "
                        "before it) — start with UNWIND .. AS x MATCH .. "
                        "or pass a variable through the WITH"
                    )
                raise ValueError(
                    f"{'OPTIONAL ' if kind == 'optional' else ''}MATCH must "
                    "share at least one variable with an earlier MATCH "
                    "(a disconnected pattern would be a cross product)"
                )
            keys = [f"{v}__id" for v in shared]
            dup = [
                c
                for c in obound.columns
                if c not in keys and any(c.startswith(f"{v}__") for v in shared)
            ]
            how = "left" if kind == "optional" else "inner"
            bound = bound.join(obound.drop(*dup), on=keys, how=how)
            vertex_vars.extend(v for v in ovars if v not in shared)
        return bound, vertex_vars

    def _project(
        self, bound, items, vertex_vars, vcols,
        bare: bool = False, extra_cols=None, bare_names: tuple = (),
        extra_keys=None, keep_binding: frozenset = frozenset(),
    ):
        """RETURN/WITH projection with Cypher's implicit grouping.

        ``keep_binding``: whole-variable items in this set keep their
        ``var__col`` BINDING column names instead of flattening to
        ``var_col`` output names — a correlated CALL body exporting an
        entity into the outer scope (the columns stay a live binding
        the outer query can dereference and join on).

        ``extra_cols``: hidden columns appended to a NON-aggregating
        projection (ORDER BY on non-projected properties).

        ``extra_keys``: correlation witness columns (a correlated CALL
        subquery's imported-variable ids) — kept in the output AND
        prepended to the implicit grouping keys, so the body's
        aggregates compute per imported binding.

        ``bare`` = the input columns are already projected output names
        (a WITH intermediate): items reference them by bare name and
        var.prop forms are rejected.

        ``bare_names`` = UNWIND bindings: bare columns that coexist with
        ``var__col`` binding columns in a non-bare frame."""

        def item_cols(item) -> list[F.Column]:
            if item.expr is not None:
                # computed item (parser enforces the explicit alias)
                return [
                    _lower_expr(item.expr, bare, bare_names).alias(item.alias)
                ]
            if item.var == "*":
                if bare:
                    # RETURN * after WITH (r12): the scope is the
                    # passthrough variables + the projected bare
                    # aliases (Cypher: only NAMED items survive a WITH)
                    flat = [
                        (f"{var}_{c}", F.col(f"{var}__{c}").alias(f"{var}_{c}"))
                        for var in vertex_vars
                        if not var.startswith("_anon")
                        for c in vcols
                    ]
                    dup = sorted({n for n, _ in flat} & set(bare_names))
                    if dup:
                        raise ValueError(
                            f"RETURN *: alias(es) {dup} collide with a "
                            "variable's flattened columns — rename the "
                            "alias or name the items"
                        )
                    cols = [c for _, c in flat] + [
                        F.col(n) for n in bare_names
                    ]
                    if not cols:
                        raise ValueError(
                            "RETURN *: nothing is in scope — name the "
                            "items"
                        )
                    return cols
                # only USER-NAMED variables: anonymous pattern nodes get
                # synthetic _anonN bindings that must not leak into the
                # result schema (build_result returns named bindings,
                # executor.rs:467-518)
                return [
                    F.col(f"{var}__{c}").alias(f"{var}_{c}")
                    for var in vertex_vars
                    if not var.startswith("_anon")
                    for c in vcols
                ]
            if item.prop is None:
                if (bare and item.var not in vertex_vars) or item.var in bare_names:
                    return [F.col(item.var).alias(item.alias or item.var)]
                if item.alias is not None:
                    raise ValueError("aliasing a whole vertex is not supported")
                if item.var in keep_binding:
                    return [F.col(f"{item.var}__{c}") for c in vcols]
                return [F.col(f"{item.var}__{c}").alias(f"{item.var}_{c}") for c in vcols]
            if bare and item.var not in vertex_vars:
                raise ValueError(
                    "after WITH, reference the projected aliases by bare name"
                )
            name = item.alias or f"{item.var}_{item.prop}"
            return [F.col(f"{item.var}__{item.prop}").alias(name)]

        aggs = [i for i in items if i.agg]
        if not aggs:
            return bound.select(
                *(extra_keys or []),
                *[c for i in items for c in item_cols(i)], *(extra_cols or [])
            )
        # Cypher's implicit grouping: non-aggregated items are the keys
        keys = list(extra_keys or []) + [
            c for i in items if not i.agg for c in item_cols(i)
        ]
        agg_fns = {
            "count": F.count,
            "sum": F.sum,
            "avg": F.avg,
            "min": F.min,
            "max": F.max,
            # Cypher collect() leaves element order unspecified; sorting
            # makes it deterministic (and oracle-comparable) — collect_list
            # already drops nulls, matching Cypher
            "collect": lambda c: F.array_sort(F.collect_list(c)),
        }
        # DISTINCT variants; min/max are distinct-invariant, avg(DISTINCT)
        # is computed exactly as sum_distinct/count_distinct
        agg_fns_distinct = {
            "count": F.countDistinct,
            "sum": F.sum_distinct,
            "avg": lambda c: F.sum_distinct(c) / F.countDistinct(c),
            "min": F.min,
            "max": F.max,
            "collect": lambda c: F.array_sort(F.collect_set(c)),
        }

        def agg_fn(item):
            # statistical aggregates (parser rejects DISTINCT for these)
            if item.agg == "stdev":
                return F.stddev_samp
            if item.agg == "stdevp":
                return F.stddev_pop
            if item.agg == "percentilecont":
                # exact interpolated percentile — Spark percentile() and
                # DuckDB quantile_cont share the (n-1)·p rank formula
                return lambda c: F.percentile(c, item.agg_param)
            if item.agg == "percentiledisc":
                # Neo4j nearest-rank: element ceil(p·n), 1-based (p=0 →
                # first). Exact via per-group sorted collect — at corpus
                # scale route to approx_percentile sketches instead
                # (suite query sketch_quantile_bounds).
                p = float(item.agg_param)

                def disc(c):
                    arr = F.array_sort(F.collect_list(c))
                    idx = F.greatest(
                        F.ceil(F.size(arr) * F.lit(p)), F.lit(1)
                    ).cast("int")
                    return F.element_at(arr, idx)

                return disc
            return (agg_fns_distinct if item.agg_distinct else agg_fns)[item.agg]
        agg_cols = []
        for i in aggs:
            if i.expr is not None:
                # aggregate over a computed expression, e.g. sum(a*b);
                # DISTINCT composes (sum_distinct over the expression)
                agg_cols.append(
                    agg_fn(i)(_lower_expr(i.expr, bare, bare_names)).alias(i.alias)
                )
            elif i.var == "*":
                agg_cols.append(F.count("*").alias(i.alias or "count"))
            elif i.prop is None:
                scalar = (bare or i.var in bare_names) and i.var not in vertex_vars
                src = F.col(i.var) if scalar else F.col(f"{i.var}__id")
                if scalar and i.agg != "count":
                    # post-WITH, sum(x)/avg(x)/... aggregate the alias column
                    agg_cols.append(
                        agg_fn(i)(src).alias(i.alias or f"{i.agg}_{i.var}")
                    )
                elif i.agg != "count":
                    # sum/avg/min/max/collect of a WHOLE vertex variable
                    # has no meaning — silently counting instead (the old
                    # behavior) handed back a row count aliased as a sum
                    raise ValueError(
                        f"{i.agg}({i.var}) needs a property (var.prop); "
                        "only count(v) aggregates a whole variable"
                    )
                else:
                    # count(v) counts bound (non-null) rows;
                    # count(DISTINCT v) counts distinct bound vertices
                    cnt = F.countDistinct if i.agg_distinct else F.count
                    agg_cols.append(cnt(src).alias(i.alias or f"count_{i.var}"))
            else:
                agg_cols.append(
                    agg_fn(i)(F.col(f"{i.var}__{i.prop}")).alias(
                        i.alias or f"{i.agg}_{i.var}_{i.prop}"
                    )
                )
        return bound.groupBy(*keys).agg(*agg_cols) if keys else bound.agg(*agg_cols)
