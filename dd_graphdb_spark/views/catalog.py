"""Materialized-view catalog: definitions, refresh policies, dependency
DAG, persisted data + JSON metadata.

Reference parity:
- ViewDefinition {name, view_type, refresh_policy, dsl_definition,
  dependencies, storage_info}              (graph/views/src/view_registry.rs:21-40)
- ViewType: Lookup / Aggregation / Analytics / Hybrid / SqlQuery
                                           (graph/views/src/view_types.rs:52-76)
- RefreshPolicy: FixedInterval / EventDriven{debounce} / OnDemand{ttl} /
  Hybrid, with needs_refresh()             (view_types.rs:79-96,159-190)
- per-view persisted data + JSON defn, load-all on startup
                                           (view_registry.rs:181-316)
- dependency DAG with topo-ordered refresh + cycle detection
                                           (graph/views/src/differential_dataflow.rs:303-477)
- SQL views validated against a fixed table universe
                                           (graph/views/src/sql_parser.rs:49-139) —
  we accept any registered temp view (strict superset), but keep the
  single-statement SELECT-only validation.

Spark mapping: view data is a parquet table per view; refresh runs the
view's SQL (or a registered builder fn) through ``spark.sql``/DataFrame
and overwrites the parquet; reads are plain scans, so Catalyst prunes
and pushes down. A refreshed view is also registered as a temp view
``mv_{name}`` so downstream views can depend on it (dependency order =
topo sort of the DAG). Multi-level cache = ``persist()`` on hot views
(``cache_view``), which is Spark's BlockManager doing what the
reference's L1/L2/L3 tiers hand-roll (cache_manager.rs:68-320).
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass
class RefreshPolicy:
    """needs_refresh() parity with view_types.rs:159-190."""

    kind: str = "on_demand"  # fixed_interval | event_driven | on_demand | hybrid
    interval_s: float | None = None  # fixed_interval / hybrid
    debounce_s: float = 0.0  # event_driven
    ttl_s: float | None = None  # on_demand

    def needs_refresh(self, last_refresh: float | None, dirty: bool, now: float | None = None) -> bool:
        now = time.time() if now is None else now
        if last_refresh is None:
            return True
        age = now - last_refresh
        if self.kind == "fixed_interval":
            return self.interval_s is not None and age >= self.interval_s
        if self.kind == "event_driven":
            return dirty and age >= self.debounce_s
        if self.kind == "on_demand":
            return dirty or (self.ttl_s is not None and age >= self.ttl_s)
        if self.kind == "hybrid":
            return (dirty and age >= self.debounce_s) or (
                self.interval_s is not None and age >= self.interval_s
            )
        raise ValueError(f"unknown refresh policy {self.kind}")


@dataclass
class ViewDefinition:
    name: str
    view_type: str  # lookup | aggregation | analytics | hybrid | sql | gql
    sql: str | None = None  # SqlQuery views
    gql: str | None = None  # GQL MATCH views (materialized pattern queries)
    refresh_policy: RefreshPolicy = field(default_factory=RefreshPolicy)
    dependencies: list[str] = field(default_factory=list)  # other view names

    def to_json(self) -> dict:
        return {
            "name": self.name,
            "view_type": self.view_type,
            "sql": self.sql,
            "gql": self.gql,
            "refresh_policy": vars(self.refresh_policy),
            "dependencies": self.dependencies,
        }

    @staticmethod
    def from_json(d: dict) -> "ViewDefinition":
        return ViewDefinition(
            name=d["name"],
            view_type=d["view_type"],
            sql=d.get("sql"),
            gql=d.get("gql"),
            refresh_policy=RefreshPolicy(**d.get("refresh_policy", {})),
            dependencies=list(d.get("dependencies", [])),
        )


def extract_tables(spark: SparkSession, sql: str) -> set[str]:
    """Referenced-table discovery from view SQL (extract_tables parity,
    graph/views/src/sql_parser.rs:142-168). The reference walks its
    sqlparser AST's FROM/JOIN lists; here Catalyst's *parsed* (unresolved)
    logical plan provides the same information plus subqueries, with CTE
    names scoped out. Returns lower-cased table names.

    Falls back to an empty set when no JVM parser is reachable (Spark
    Connect) — dependencies must then be declared explicitly."""
    tables: set[str] = set()
    ctes: set[str] = set()
    try:
        plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
    except AttributeError:
        return set()

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "UnresolvedRelation":
            tables.add(node.tableName().lower())
        elif cls == "UnresolvedWith":
            rels = node.cteRelations()
            for i in range(rels.size()):
                ctes.add(rels.apply(i)._1().lower())
                walk(rels.apply(i)._2())  # CTE bodies aren't in children()
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))
        try:
            sq = node.subqueries()
            for i in range(sq.size()):
                walk(sq.apply(i))
        except Exception:
            pass

    walk(plan)
    return tables - ctes


_VIEW_NAME_RE = None  # compiled lazily


def validate_view_name(name: str) -> None:
    """View names become filesystem paths (``<name>.view.json`` /
    ``<name>.parquet``) and temp-view identifiers (``mv_<name>``): an
    unvalidated name arriving over the REST API could traverse out of
    the catalog directory (``../../etc``) or break SQL identifier
    quoting. Identifier-shaped names only."""
    import re

    global _VIEW_NAME_RE
    if _VIEW_NAME_RE is None:
        _VIEW_NAME_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_-]{0,127}\Z")
    if not isinstance(name, str) or not _VIEW_NAME_RE.match(name):
        raise ValueError(
            f"invalid view name {name!r}: use [A-Za-z_][A-Za-z0-9_-]* "
            "(max 128 chars)"
        )


def validate_view_sql(sql: str) -> None:
    """Single-statement, SELECT-only validation (sql_parser.rs:49-139).
    Unlike the reference we allow DISTINCT/LIMIT (rejected there,
    sql_parser.rs:96-129) — Spark supports them natively."""
    s = sql.strip().rstrip(";")
    if ";" in s:
        raise ValueError("view SQL must be a single statement")
    if not s.lower().startswith("select") and not s.lower().startswith("with"):
        raise ValueError("view SQL must be a SELECT")


class ViewCatalog:
    """Register / refresh / read / drop materialized views.

    Builder views (``builder=``) cover Analytics views whose content is
    an algorithm output (incremental_engine.rs:960-1326) — anything a
    (spark) -> DataFrame callable can produce.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)
        self.defs: dict[str, ViewDefinition] = {}
        self.builders: dict[str, Callable[[SparkSession], DataFrame]] = {}
        self.state: dict[str, dict] = {}  # name -> {last_refresh, dirty, cached, schema}
        self.incremental: dict[str, object] = {}  # name -> delta-state object
        self.gql_engine = None  # attach_gql_engine() enables gql views
        self._load()

    def attach_gql_engine(self, engine) -> None:
        """Attach a GQLEngine used to materialize ``gql=`` views — the
        definition persists as text; the engine is runtime wiring
        (mirrors ViewType::Hybrid's dsl_definition intent,
        view_registry.rs:21-40)."""
        self.gql_engine = engine

    # ---- persistence ------------------------------------------------------
    def _defn_path(self, name: str) -> str:
        return os.path.join(self.path, f"{name}.view.json")

    def _data_path(self, name: str) -> str:
        return os.path.join(self.path, f"{name}.parquet")

    def _load(self) -> None:
        """load_from_disk parity (view_registry.rs:213-245)."""
        for f in os.listdir(self.path):
            if f.endswith(".view.json"):
                with open(os.path.join(self.path, f)) as fh:
                    d = ViewDefinition.from_json(json.load(fh))
                self.defs[d.name] = d
                self.state[d.name] = {"last_refresh": None, "dirty": True, "cached": False}

    # ---- registration -----------------------------------------------------
    def register(
        self,
        defn: ViewDefinition,
        builder: Callable[[SparkSession], DataFrame] | None = None,
    ) -> None:
        validate_view_name(defn.name)
        if defn.sql is not None:
            validate_view_sql(defn.sql)
            if not defn.dependencies:
                # auto-derive view-on-view dependencies from the SQL: a
                # reference to mv_<x> depends on view <x> (the reference
                # discovers deps from the SQL rather than requiring
                # declarations, sql_parser.rs:142-168)
                defn.dependencies = sorted(
                    t[3:] for t in extract_tables(self.spark, defn.sql) if t.startswith("mv_")
                )
        if defn.gql is not None:
            from dd_graphdb_spark.plans.gql import MatchStatement, parse_gql

            if not isinstance(parse_gql(defn.gql), MatchStatement):
                raise ValueError("GQL views must be MATCH queries")
        if defn.sql is None and defn.gql is None and builder is None:
            raise ValueError("view needs sql, gql or builder")
        self._check_acyclic(defn)
        self.defs[defn.name] = defn
        if builder is not None:
            self.builders[defn.name] = builder
        self.state[defn.name] = {"last_refresh": None, "dirty": True, "cached": False}
        with open(self._defn_path(defn.name), "w") as f:
            json.dump(defn.to_json(), f)

    def register_incremental(self, defn: ViewDefinition, state) -> None:
        """Register a view maintained by ±delta application instead of
        full recompute (update_view_incremental, incremental_engine.rs:
        651-701). ``state`` is an IncrementalAggState / IncrementalPageRank
        (or anything exposing ``apply_deltas(df)`` + ``result()``); refresh
        writes the already-merged state's result — O(groups), never a
        rebuild from the base tables."""
        self.register(defn, builder=lambda spark: state.result())
        self.incremental[defn.name] = state

    def apply_deltas(self, name: str, deltas) -> None:
        """Merge a change batch into an incremental view's state and mark
        it (and dependents) for a cheap result rewrite."""
        self.incremental[name].apply_deltas(deltas)
        self.mark_dirty(name)

    def drop(self, name: str) -> None:
        validate_view_name(name)  # name is a filesystem path component
        self.defs.pop(name, None)
        self.builders.pop(name, None)
        self.incremental.pop(name, None)
        self.state.pop(name, None)
        p = self._defn_path(name)
        if os.path.exists(p):
            os.remove(p)
        # drop the materialized data too: a later re-register under the
        # same name would otherwise serve the DROPPED view's stale rows
        # from read() until an explicit refresh
        data = self._data_path(name)
        if os.path.exists(data):
            shutil.rmtree(data, ignore_errors=True)
        # a dependent's mv_<name> temp view would otherwise keep
        # resolving against the deleted path (error only at action time)
        try:
            self.spark.catalog.dropTempView(f"mv_{name}")
        except Exception:
            pass

    def list_views(self) -> list[str]:
        return sorted(self.defs)

    # ---- dependency DAG ---------------------------------------------------
    def _check_acyclic(self, new: ViewDefinition) -> None:
        """Cycle detection on insert (differential_dataflow.rs:430-477)."""
        deps = {n: set(d.dependencies) for n, d in self.defs.items()}
        deps[new.name] = set(new.dependencies)
        seen: set[str] = set()
        stack: set[str] = set()

        def visit(n: str) -> None:
            if n in stack:
                raise ValueError(f"dependency cycle through {n}")
            if n in seen:
                return
            stack.add(n)
            for m in deps.get(n, ()):
                visit(m)
            stack.discard(n)
            seen.add(n)

        for n in deps:
            visit(n)

    def topo_order(self, names: list[str] | None = None) -> list[str]:
        """Dependencies-first order (DFS topo sort,
        differential_dataflow.rs:366-428)."""
        names = list(self.defs) if names is None else names
        out: list[str] = []
        seen: set[str] = set()

        def visit(n: str) -> None:
            if n in seen or n not in self.defs:
                return
            seen.add(n)
            for m in self.defs[n].dependencies:
                visit(m)
            out.append(n)

        for n in sorted(names):
            visit(n)
        return out

    def mark_dirty(self, name: str, _seen: set | None = None) -> None:
        """Dirty marking cascades to dependents
        (incremental_engine.rs:449-461). The visited set keeps a
        diamond-shaped DAG from re-walking shared dependents (2^depth
        calls without it)."""
        seen = set() if _seen is None else _seen
        if name in seen:
            return
        seen.add(name)
        self.state[name]["dirty"] = True
        for n, d in self.defs.items():
            if name in d.dependencies:
                self.mark_dirty(n, seen)

    # ---- refresh ----------------------------------------------------------
    def _build(self, name: str) -> DataFrame:
        d = self.defs[name]
        # dependencies must be readable as mv_<dep> temp views
        for dep in d.dependencies:
            self.read(dep).createOrReplaceTempView(f"mv_{dep}")
        if name in self.builders:
            return self.builders[name](self.spark)
        if d.gql is not None:
            if self.gql_engine is None:
                raise ValueError(
                    f"view {name} is a GQL view — attach_gql_engine() first"
                )
            return self.gql_engine.execute(d.gql)
        if d.sql is None:
            # a builder-backed view reloaded from disk: the python
            # builder cannot be persisted, so refresh needs it re-attached
            raise ValueError(
                f"view {name} was registered with a python builder, which "
                "does not survive catalog reload — re-register it with "
                "register(defn, builder=...) (or register_incremental) "
                "before refreshing"
            )
        return self.spark.sql(d.sql)

    def refresh(self, name: str, force: bool = False) -> bool:
        """Refresh one view if its policy says so (or force). Returns
        whether a refresh ran."""
        st = self.state[name]
        d = self.defs[name]
        if not force and not d.refresh_policy.needs_refresh(st["last_refresh"], st["dirty"]):
            return False
        df = self._build(name)
        df.write.mode("overwrite").parquet(self._data_path(name))
        st["schema"] = df.schema  # read() scans with it: no inference job
        st["last_refresh"] = time.time()
        st["dirty"] = False
        return True

    def refresh_all(self, force: bool = False) -> list[str]:
        """Topo-ordered refresh of every view needing it
        (process_pending_changes, incremental_engine.rs:272-310)."""
        refreshed = []
        for name in self.topo_order():
            try:
                ran = self.refresh(name, force=force)
            except ValueError as ex:
                # a reloaded builder-backed view with no re-attached
                # builder must not abort the whole topo pass — its stale
                # materialization stays readable; surface, skip, continue
                if "python builder" not in str(ex):
                    raise
                import warnings

                warnings.warn(str(ex), stacklevel=2)
                continue
            if ran:
                refreshed.append(name)
        return refreshed

    # ---- reads ------------------------------------------------------------
    def read(self, name: str) -> DataFrame:
        if name not in self.defs:
            raise KeyError(name)
        p = self._data_path(name)
        if not os.path.exists(p):
            self.refresh(name, force=True)
        schema = self.state[name].get("schema")  # None: not refreshed since load
        df = (self.spark.read if schema is None else self.spark.read.schema(schema)).parquet(p)
        if self.state[name]["cached"]:
            df = df.cache()
        return df

    def cache_view(self, name: str) -> None:
        """Pin a hot view in memory — Spark BlockManager replaces the
        reference's L1/L2/L3 promotion machinery (cache_manager.rs:68-320)."""
        self.state[name]["cached"] = True

    def stats(self) -> dict[str, dict]:
        """CACHE STATS-style surface (src/main.rs:202-212)."""
        return {
            n: {
                "dirty": s["dirty"],
                "cached": s["cached"],
                "last_refresh": s["last_refresh"],
                "dependencies": self.defs[n].dependencies,
            }
            for n, s in self.state.items()
        }
