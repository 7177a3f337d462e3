"""Mutable property-graph store: operation batches, transactions with
optimistic concurrency, versioned parquet snapshots.

Reference semantics (graph/storage/src/lib.rs):
- GraphOperation set: AddVertex / RemoveVertex / AddEdge / RemoveEdge /
  UpdateVertexProperties / UpdateEdgeProperties        (:49-72)
- apply semantics: Add overwrites an existing key; RemoveVertex cascades
  deletion of incident edges; UpdateEdgeProperties keeps edge identity
  (apply_operation, :269-323)
- edge identity = (src, dst, label) — multigraph by label (:171)
- transactions: snapshot-isolated op batches; commit fails with
  ``Conflict`` if the store version moved (begin/commit_transaction,
  :429-494; StorageError::Conflict :40-42)
- durability: WAL + whole-snapshot files + checkpoint-every-10-ops
  (:103-160, :582-611)

Spark mapping: the snapshot IS a pair of parquet tables, physically
hash-bucketed (vertices by ``id % B``, edges by ``src % B``) with
FILE-level copy-on-write commits. ``v{n}/manifest.json`` maps every
bucket to an ordered LAYER CHAIN ``[{"p": relpath, "k": "b"|"d",
"s": commit_version}, ...]`` — one base layer plus zero or more delta
layers. A commit diffs its merged result against the bucket-restricted
base and writes ONLY the changed rows as a delta layer
(``v{n}/{table}_delta/_b=<k>/`` holding upserts ``_op='u'`` and key
tombstones ``_op='d'``), so commit write I/O is O(|delta rows|) — not
O(graph) and not O(touched-bucket rows) — the Delta-Lake txn-log shape
kept dependency-free (the reference instead re-serializes the whole
graph per snapshot, graph/storage/src/lib.rs:582-599, the one posture
we deliberately do NOT mirror at 100 TB). Reads resolve a chain by
latest-writer-wins per key (a tiny window over the delta layers + one
anti-join against the base — zero overhead for fully-compacted
buckets); a bucket whose chain would exceed ``cow_max_layers`` is
COMPACTED back to a single base layer by that same commit, bounding
read amplification. The manifest write + ``meta.json`` pointer swap is
the commit point; time travel = opening an older manifest. OCC is a
version compare at commit, exactly the reference's rule. ``n_buckets``
is fixed at store creation (default 16 for local scale; thousands at
100 TB) and persisted in ``meta.json``. All metadata/maintenance I/O
goes through a ``StorageIO`` port (fsio.py) so the POSIX assumptions
(atomic replace, cheap rename) are explicit and swappable for an
object store.

Crash consistency: data files write BEFORE the manifest, which writes
before the ``meta.json`` pointer swap — a crash mid-commit leaves an
unreferenced ``v{n}`` dir that no reader ever sees (readers resolve
only through the committed pointer); the next successful commit reuses
the version number (``mode("overwrite")`` clears its own layer dirs)
and any stale sibling dirs fall to vacuum with their version. Commits
and vacuum serialize on the writer lock; a crashed holder surfaces as
an acquire timeout with recovery guidance (fsio.LocalFS.acquire_lock).

Apply order inside a batch follows the reference: operations apply in
sequence, later ops see earlier ops' effects (a batch is one WAL run).

Properties are a ``MAP<STRING, STRING>`` column holding JSON-rendered
values (the reference's PropertyValue is schemaless and type-checked at
access time, graph/core/src/lib.rs:107-222 — ``prop_typed`` is the
``as_int64``-style accessor: a cast at read). At 100 TB, hot properties
should be promoted to typed top-level columns as graph.py's derived
graphs do; the map column is the long tail.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dd_graphdb_spark.algorithms._iter import _ckpt, pin_scope
from dd_graphdb_spark.localrel import local_df

from dd_graphdb_spark.storage.fsio import LocalFS, StorageIO

VERTEX_SCHEMA = "id long, label string, properties map<string,string>"
EDGE_SCHEMA = "src long, dst long, label string, properties map<string,string>"

#: FOREACH CREATE/MERGE element-list cap: creation assigns sequential
#: ids driver-side (matching bare CREATE / the reference's
#: next_vertex_id, executor.rs:618-625), so the exploded list is
#: collected; past this bound the statement is a bulk load and belongs
#: in a distributed MATCH .. CREATE/MERGE instead
_FOREACH_MAX_ELEMS = 100_000


class ConflictError(Exception):
    """Commit-time optimistic-concurrency failure
    (StorageError::Conflict, graph/storage/src/lib.rs:40-42)."""


@dataclass
class GraphOp:
    kind: str  # add_vertex | remove_vertex | add_edge | remove_edge
    #          # | update_vertex_props | update_edge_props
    payload: dict[str, Any]


def _render_props(props: dict[str, Any] | None) -> dict[str, str]:
    return {k: json.dumps(v) for k, v in (props or {}).items()}


def add_vertex(vertex_id: int, label: str | None = None, props: dict | None = None) -> GraphOp:
    p = dict(props or {})
    if label is not None:
        # vertex label is the "type" property (executor.rs:290-295)
        p.setdefault("type", label)
    return GraphOp("add_vertex", {"id": vertex_id, "props": p})


def remove_vertex(vertex_id: int) -> GraphOp:
    return GraphOp("remove_vertex", {"id": vertex_id})


def add_edge(src: int, dst: int, label: str, props: dict | None = None) -> GraphOp:
    return GraphOp("add_edge", {"src": src, "dst": dst, "label": label, "props": props or {}})


def remove_edge(src: int, dst: int, label: str) -> GraphOp:
    return GraphOp("remove_edge", {"src": src, "dst": dst, "label": label})


def update_vertex_props(vertex_id: int, props: dict) -> GraphOp:
    return GraphOp("update_vertex_props", {"id": vertex_id, "props": props})


def update_edge_props(src: int, dst: int, label: str, props: dict) -> GraphOp:
    return GraphOp("update_edge_props", {"src": src, "dst": dst, "label": label, "props": props})


@dataclass
class Transaction:
    base_version: int
    ops: list[GraphOp] = field(default_factory=list)

    def add(self, op: GraphOp) -> "Transaction":
        self.ops.append(op)
        return self


def prop_typed(col: str | Column, key: str, dtype: str = "string") -> Column:
    """Typed property accessor: properties['key'] cast to ``dtype`` —
    the reference's as_int64/as_float64 access-time typing
    (graph/core/src/lib.rs:166-222). Values are JSON-rendered, so strings
    are unquoted before the cast."""
    c = F.col(col) if isinstance(col, str) else col
    raw = c.getItem(key)
    # real JSON decode, not a quote strip: values are json.dumps-rendered,
    # so a string containing quotes/backslashes/newlines carries escape
    # sequences that stripping the outer quotes would leave in the value
    # (`say \"hi\"` instead of `say "hi"`). from_json only takes
    # struct/array/map schemas, so wrap the scalar in a 1-element array.
    unquoted = _json_unquote(raw)
    # try_cast, not cast: under Spark 4's default ANSI mode a strict
    # cast THROWS on a non-castable value — the reference's as_int64
    # access-time typing returns None on a type mismatch (one bad bag
    # value must not crash the whole query)
    return unquoted.try_cast(dtype)


def _json_unquote(raw: Column) -> Column:
    """JSON-decode a rendered scalar back to its bare string form (the
    shared tail of prop_typed — see there for why a real decode, not a
    quote strip)."""
    return F.when(
        raw.startswith('"'),
        F.from_json(
            F.concat(F.lit("["), raw, F.lit("]")), "array<string>"
        ).getItem(0),
    ).otherwise(raw)


def render_json_value(col: Column) -> Column:
    """Render a computed column to the store's JSON property encoding
    (the column analogue of ``json.dumps`` in ``_render_props``):
    ``to_json`` of a 1-element array, brackets stripped — exact for
    strings (quoting + escapes), ints, doubles, booleans, and nested
    arrays. NULL stays NULL (SET v.p = null removes the key —
    Cypher)."""
    j = F.to_json(F.array(col))
    return F.when(col.isNull(), F.lit(None).cast("string")).otherwise(
        F.substring(j, F.lit(2), F.length(j) - F.lit(2))
    )


def _drop_key(key: str):
    """2-arg map_filter predicate dropping ``key`` (a closure, NOT a
    default-arg lambda — PySpark counts default parameters, and
    map_filter rejects a 3-arg lambda)."""
    return lambda mk, _mv: mk != F.lit(key)


def _is_set_literal(v) -> bool:
    """True for a plain Python property value — a GQL literal, or any
    JSON value update_vertices/update_edges are given — as opposed to
    an expression AST. None is not one: it removes the key
    (_set_value)."""
    return isinstance(v, (str, int, float, bool, list, tuple, dict))


def _set_value(v) -> Column:
    """The one value rule of every property write (_apply_set): a
    rendered-JSON column. A literal renders with ``json.dumps`` (the
    bytes apply_batch stores); None is NULL, which REMOVES the key
    (Cypher ``SET v.p = null``, and REMOVE v.p); an expression AST
    lowers against the bindings row with the READ side's expression
    machinery and renders per row (render_json_value)."""
    if v is None:
        return F.lit(None).cast("string")
    if _is_set_literal(v):
        return F.lit(json.dumps(v))
    from dd_graphdb_spark.plans.lower import _lower_expr

    return render_json_value(_lower_expr(v))


def cdc_to_deltas(changes: DataFrame) -> DataFrame:
    """Change feed → ±``_sign`` delta frame for incremental view
    states: insert / update_postimage → +1, delete / update_preimage →
    −1. An update thus retracts the old row and adds the new one —
    exact for count/sum, conservative for min/max, the same ± algebra
    the reference's incremental engine applies to changesets
    (incremental_engine.rs:875-892). Compose:
    ``state.apply_deltas(cdc_to_deltas(store.changes(...)))``."""
    return changes.withColumn(
        "_sign",
        F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(-1)),
    ).drop("_change_type", "_commit_version")


class GraphStore:
    """Versioned, transactional property-graph store over parquet."""

    #: bucket key column per table — vertices co-bucket with edge
    #: sources so a vertex and its out-edges rewrite together
    _BUCKET_KEY = {"vertices": "id", "edges": "src"}

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        n_buckets: int = 16,
        cow_min_bytes: int = 32 << 20,
        cow_max_layers: int = 4,
        io: StorageIO | None = None,
        lock_timeout_s: float = 120.0,
    ):
        """``cow_min_bytes``: below this on-disk size, commits rewrite
        touched tables whole and inherit untouched ones — a few MB is
        ONE task, while the incremental path pays a touched-bucket job
        (and a cascade probe job) per commit, which dominates tiny-store
        commit latency.
        A runtime policy, not persisted: at 100 TB every real store is
        far past it after the first load. 0 = always CoW (tests, the
        decade probe).

        ``cow_max_layers``: per-bucket chain bound — a commit whose
        bucket would exceed it compacts that bucket back to one base
        layer (merge-on-read amplification is capped at
        ``cow_max_layers - 1`` delta layers). Runtime policy too.

        ``io``: metadata/maintenance I/O port (fsio.StorageIO);
        defaults to the POSIX LocalFS. Spark's parquet data traffic
        does NOT go through it (Hadoop FS handles that natively).

        ``lock_timeout_s``: how long a commit/vacuum waits for the
        writer lock before raising TimeoutError. Crashed/expired
        holders are taken over automatically (fsio lease protocol);
        this bound is for a LIVE competing writer — size it above the
        longest commit you expect to queue behind."""
        self.spark = spark
        self.path = path
        self.cow_min_bytes = cow_min_bytes
        self.cow_max_layers = max(1, cow_max_layers)
        self._io = io if io is not None else LocalFS()
        self.lock_timeout_s = lock_timeout_s
        self._io.makedirs(path)
        self._meta_path = os.path.join(path, "meta.json")
        self._lock_path = os.path.join(path, "_writer.lock")
        #: once the store has crossed cow_min_bytes it cannot shrink
        #: except by vacuum, so the per-commit size probe (manifest load
        #: + tree-size walk — pure metadata GETs on an object store) is
        #: memoized after its first True; vacuum resets it (r16)
        self._cow_active_memo = False
        if self._io.exists(self._meta_path):
            # a reopened store keeps its creation-time bucket count
            # (bucket membership is id % B — changing B would orphan
            # inherited buckets)
            meta = json.loads(self._io.read_text(self._meta_path))
            self.n_buckets = meta.get("n_buckets", n_buckets)
        else:
            self.n_buckets = n_buckets
            self._write_initial()

    # ---- metadata ---------------------------------------------------------
    def _write_initial(self) -> None:
        # an empty store is an empty manifest — no parquet written at all
        self._save_manifest(0, {"vertices": {}, "edges": {}})
        self._save_meta({"version": 0, "n_buckets": self.n_buckets})

    def _save_meta(self, meta: dict) -> None:
        # atomic pointer swap = commit point (put-if-match on an object
        # store — see fsio.StorageIO.write_text_atomic)
        self._io.write_text_atomic(self._meta_path, json.dumps(meta))

    def _set_version(self, version: int) -> None:
        self._save_meta({"version": version, "n_buckets": self.n_buckets})

    @property
    def version(self) -> int:
        return json.loads(self._io.read_text(self._meta_path))["version"]

    def _vdir(self, version: int) -> str:
        return os.path.join(self.path, f"v{version}")

    # ---- manifest protocol -------------------------------------------------
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._vdir(version), "manifest.json")

    #: manifest log: a full checkpoint manifest every K versions, chain
    #: DELTAS in between — so per-commit manifest write I/O is O(changed
    #: chains), not O(n_buckets) (measured: at B=1024 the full-manifest
    #: rewrite was 89% of a 100-row commit's bytes — the Delta txn-log
    #: checkpoint cadence applied to the same problem)
    _MANIFEST_CKPT_EVERY = 16

    def _load_manifest(self, version: int) -> dict:
        """Bucket→layer-chain map for a version. Delta manifests
        reconstruct from their base (≤ _MANIFEST_CKPT_EVERY tiny JSON
        reads — GETs on an object store, the standard log+checkpoint
        read path)."""
        doc = json.loads(self._io.read_text(self._manifest_path(version)))
        if "full" in doc:
            return doc["full"]
        base = self._load_manifest(doc["base"])
        out = {t: dict(self._chains(base, t)) for t in ("vertices", "edges")}
        for t, d in doc["delta"].items():
            for b, ch in d.items():
                if ch is None:
                    out[t].pop(b, None)  # bucket-absent shadow
                else:
                    out[t][b] = ch
        return out

    def _save_manifest(
        self, version: int, manifest: dict, prev: dict | None = None
    ) -> None:
        """Persist a version's manifest: a DELTA against ``prev`` (the
        version-1 manifest) when given and off the checkpoint cadence,
        else a full checkpoint. Callers that patch history (vacuum) pass
        prev=None so the rewrite is always a self-contained full."""
        self._io.makedirs(self._vdir(version))
        doc: dict = {"full": manifest}
        if prev is not None and version % self._MANIFEST_CKPT_EVERY != 0:
            delta: dict = {}
            for t in ("vertices", "edges"):
                prev_chains = self._chains(prev, t)
                d: dict = {}
                for b, ch in manifest[t].items():
                    if prev_chains.get(b) != ch:
                        d[b] = ch
                for b in prev_chains:
                    if b not in manifest[t]:
                        d[b] = None
                delta[t] = d
            doc = {"base": version - 1, "delta": delta}
        self._io.write_text_atomic(self._manifest_path(version), json.dumps(doc))

    @staticmethod
    def _chains(man: dict, table: str) -> dict[str, list[dict]]:
        """Bucket→chain view of a manifest table. Chain layers are
        ``{"p": relpath, "k": "b"(ase)|"d"(elta), "s": seq}`` applied in
        order, later seq wins per key."""
        return man[table]

    def _bucket_col(self, col: str) -> Column:
        # pmod matches Python's % for negative ids too — driver-side
        # bucket math (apply_batch) and JVM-side must agree
        return F.pmod(F.col(col).cast("long"), F.lit(self.n_buckets)).cast("int")

    def _collect_buckets(self, df: DataFrame, col: str) -> set[int]:
        """Distinct bucket ids of a key frame — ≤ n_buckets values to
        the driver, the only driver-side step of a CoW commit plan.
        collect_set is a partial aggregate (map-side combine to ≤ B
        values per task, one tiny single-partition exchange) — a
        distinct() here paid a full shuffle per commit."""
        row = df.select(
            F.collect_set(self._bucket_col(col)).alias("bs")
        ).collect()[0]
        return set(row["bs"] or [])

    def _cow_active(self) -> bool:
        """Incremental (touched-bucket) commits engage once the store's
        current version exceeds ``cow_min_bytes`` on disk; the size walk
        short-circuits at the threshold, so big stores pay a handful of
        stat calls, not a full tree walk. Memoized after the first True
        (store size is monotone under commits; vacuum — the one
        shrinking operation — resets the memo), so steady-state commits
        skip the probe entirely (r16: one manifest reconstruction +
        size walk per commit removed from the critical path)."""
        if self._cow_active_memo:
            return True
        man = self._load_manifest(self.version)
        if self.cow_min_bytes <= 0:
            self._cow_active_memo = True
            return True
        remaining = self.cow_min_bytes
        seen: set[str] = set()
        for table in ("vertices", "edges"):
            for chain in self._chains(man, table).values():
                for lay in chain:
                    if lay["p"] in seen:
                        continue
                    seen.add(lay["p"])
                    remaining -= self._io.tree_size_at_least(
                        os.path.join(self.path, lay["p"]), remaining
                    )
                    if remaining <= 0:
                        self._cow_active_memo = True
                        return True
        return False

    def _read_table(
        self, version: int, table: str, buckets: set[int] | None = None
    ) -> DataFrame:
        """Chain-resolved read: one multi-path scan over the base
        layers, and — only for buckets that carry delta layers — a
        latest-writer-wins merge (window over the tiny delta union +
        one anti-join against the base; AQE broadcasts the delta side).
        Fully-compacted chains cost one plain multi-path scan. Keys
        determine buckets (id % B / src % B), so one global merge is
        safe across a mixed clean/dirty bucket selection."""
        schema = VERTEX_SCHEMA if table == "vertices" else EDGE_SCHEMA
        chains = self._chains(self._load_manifest(version), table)
        if buckets is not None:
            chains = {b: c for b, c in chains.items() if int(b) in buckets}
        base_paths: list[str] = []
        delta_paths: dict[int, list[str]] = {}  # seq -> bucket dirs
        for chain in chains.values():
            for lay in chain:
                full = os.path.join(self.path, lay["p"])
                if lay["k"] == "b":
                    base_paths.append(full)
                else:
                    delta_paths.setdefault(lay["s"], []).append(full)
        base = (
            self.spark.read.schema(schema).parquet(*base_paths)
            if base_paths
            else local_df(self.spark, [], schema)
        )
        if not delta_paths:
            return base
        delta_schema = schema + ", _op string"
        parts = [
            self.spark.read.schema(delta_schema)
            .parquet(*paths)
            .withColumn("_seq", F.lit(seq))
            for seq, paths in sorted(delta_paths.items())
        ]
        deltas = parts[0]
        for p in parts[1:]:
            deltas = deltas.unionByName(p)
        key = self._KEY_COLS[table]
        w = Window.partitionBy(*key).orderBy(F.col("_seq").desc())
        latest = deltas.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") == 1
        )
        cols = [f.name for f in base.schema.fields]
        live = latest.filter(F.col("_op") == "u").select(*cols)
        return base.join(latest.select(*key), key, "left_anti").unionByName(live)

    def _write_buckets(
        self,
        version: int,
        table: str,
        dirname: str,
        df: DataFrame,
        touched: set[int] | None,
    ) -> dict[str, str]:
        """Write ``df`` (already restricted to ``touched`` buckets when
        given) under ``v{version}/{dirname}/_b=<k>/``; return relpaths
        per bucket that produced files. An empty touched bucket simply
        yields no entry — which is exactly how a bucket-wide delete
        shadows inherited data on the compaction path. ``table`` names
        the bucket key column; ``dirname`` is ``{table}`` for base
        layers, ``{table}_delta`` for delta layers."""
        d = os.path.join(self._vdir(version), dirname)
        (
            df.withColumn("_b", self._bucket_col(self._BUCKET_KEY[table]))
            .write.partitionBy("_b")
            .mode("overwrite")
            .parquet(d)
        )
        entries: dict[str, str] = {}
        for name in self._io.list_dir(d):
            if not name.startswith("_b="):
                continue
            b = int(name.split("=", 1)[1])
            if touched is not None and b not in touched:
                raise RuntimeError(
                    f"CoW commit wrote bucket {b} of {table} outside its "
                    f"declared touched set {sorted(touched)} — the delta "
                    "plan read a base it did not declare"
                )
            entries[str(b)] = f"v{version}/{dirname}/{name}"
        return entries

    #: key columns per table — the identity the diff/tombstone layer and
    #: the merge-on-read latest-wins resolution operate on (vertex id;
    #: edge identity = (src,dst,label), graph/storage/src/lib.rs:171)
    _KEY_COLS = {"vertices": ["id"], "edges": ["src", "dst", "label"]}

    def _diff(
        self, table: str, old: DataFrame, new: DataFrame
    ) -> tuple[DataFrame, Column, Column, Column]:
        """Row-level diff of two snapshots of ``table`` (whole, or the same
        buckets of each) as ONE full-outer key join. Returns the joined
        frame (keys, ``_old_props``/``_new_props``, for vertices also
        ``_old_label``/``_new_label``, and presence markers that survive
        the outer join even for all-null rows) with its ``in_old``,
        ``in_new`` and ``changed`` predicates; ``changed`` holds only where
        both sides have the key. Maps compare as sorted entries (map
        columns have no comparable order); every write path stores a map,
        never NULL, so a NULL map reads as ``map()``."""
        key = self._KEY_COLS[table]
        is_v = table == "vertices"

        def side(df: DataFrame, tag: str) -> DataFrame:
            return df.select(
                *key,
                F.col("properties").alias(f"_{tag}_props"),
                *([F.col("label").alias(f"_{tag}_label")] if is_v else []),
                F.lit(True).alias(f"_in_{tag}"),
            )

        def canon(col: str) -> Column:
            return F.to_json(
                F.array_sort(
                    F.map_entries(F.coalesce(F.col(col), F.expr("map()")))
                )
            )

        changed = ~canon("_old_props").eqNullSafe(canon("_new_props"))
        if is_v:
            changed = changed | ~F.col("_old_label").eqNullSafe(F.col("_new_label"))
        j = side(old, "old").join(side(new, "new"), key, "full_outer")
        return j, F.col("_in_old").isNotNull(), F.col("_in_new").isNotNull(), changed

    def _delta_rows(self, table: str, base: DataFrame, new: DataFrame) -> DataFrame:
        """Delta layer of ``new`` over ``base`` (both already restricted
        to the same buckets): upserts = rows inserted or changed
        (``_op='u'``), tombstones = keys present only in base
        (``_op='d'``)."""
        key = self._KEY_COLS[table]
        is_v = table == "vertices"
        j, in_o, in_n, changed = self._diff(table, base, new)
        ups = j.filter(in_n & (~in_o | changed)).select(
            *key,
            *([F.col("_new_label").alias("label")] if is_v else []),
            F.col("_new_props").alias("properties"),
            F.lit("u").alias("_op"),
        )
        tombs = j.filter(in_o & ~in_n).select(
            *key,
            *([F.lit(None).cast("string").alias("label")] if is_v else []),
            F.lit(None).cast("map<string,string>").alias("properties"),
            F.lit("d").alias("_op"),
        )
        return ups.unionByName(tombs)

    def _commit_table(
        self,
        new_version: int,
        planned: int,
        prev: dict,
        table: str,
        df: DataFrame,
        touched: set[int] | None,
    ) -> dict[str, list[dict]]:
        """One table's share of a commit: write the delta layer (or
        compact), return its manifest chains. ``touched`` semantics as
        in _commit_version."""
        if touched is not None and not touched:
            # table untouched: inherit every chain, no write job at all
            return {b: list(c) for b, c in self._chains(prev, table).items()}
        if touched is None:
            # full rewrite (store below cow_min_bytes): one base layer
            # per bucket, all chains reset to length 1
            entries = self._write_buckets(new_version, table, table, df, None)
            return {
                b: [{"p": p, "k": "b", "s": new_version}]
                for b, p in entries.items()
            }
        prev_chains = self._chains(prev, table)
        # compact a bucket when (a) it is new (no prior chain — a delta
        # of pure inserts would be the same bytes as a base), or (b) one
        # more delta layer would cross the chain bound
        compact = {
            b
            for b in touched
            if len(prev_chains.get(str(b), [])) == 0
            or len(prev_chains[str(b)]) + 1 > self.cow_max_layers
        }
        delta_bs = set(touched) - compact
        kcol = self._BUCKET_KEY[table]
        chains: dict[str, list[dict]] = {
            b: list(c) for b, c in prev_chains.items() if int(b) not in touched
        }
        if compact:
            part = df.filter(self._bucket_col(kcol).isin(*sorted(compact)))
            entries = self._write_buckets(new_version, table, table, part, compact)
            for b, p in entries.items():
                chains[b] = [{"p": p, "k": "b", "s": new_version}]
        if delta_bs:
            for b in delta_bs:  # inherit first; append layers below
                chains[str(b)] = list(prev_chains[str(b)])
            base = self._read_table(planned, table, delta_bs)
            part = df.filter(self._bucket_col(kcol).isin(*sorted(delta_bs)))
            delta = self._delta_rows(table, base, part)
            entries = self._write_buckets(
                new_version, table, f"{table}_delta", delta, delta_bs
            )
            for b, p in entries.items():
                chains[b] = chains.get(b, []) + [
                    {"p": p, "k": "d", "s": new_version}
                ]
        return chains

    def _commit_version(
        self,
        v_df: DataFrame | None,
        e_df: DataFrame | None,
        v_touched: set[int] | None,
        e_touched: set[int] | None,
        planned: int,
    ) -> int:
        """File-level copy-on-write commit. ``*_touched`` semantics:
        a set = the frame is the post-mutation content of exactly those
        buckets — the commit DIFFS it against the bucket-restricted base
        and persists only changed rows as a delta layer (compacting
        over-long chains); untouched buckets are inherited by manifest
        reference; empty set = table untouched (no write job at all);
        None = full rewrite (the frame is the complete table — used
        below ``cow_min_bytes``, see _cow_plan). Holds the
        store's writer lock across the manifest read → data write →
        pointer swap so a concurrent vacuum cannot relocate a layer this
        commit is inheriting. ``planned`` is the version ``_cow_plan``
        read its base frames at; a store that has moved since raises
        ConflictError. Returns the new version."""
        self._io.acquire_lock(self._lock_path, timeout_s=self.lock_timeout_s)
        try:
            cur = self.version
            if planned != cur:
                raise ConflictError(
                    f"store moved to v{cur} while this commit's delta was "
                    f"planned against v{planned} — retry the statement "
                    "(write-write conflict)"
                )
            new_version = cur + 1
            prev = self._load_manifest(cur)
            work = [
                ("vertices", v_df, v_touched),
                ("edges", e_df, e_touched),
            ]
            # Overlap the two tables' write jobs (guide §2.6: actions
            # are only sequential because the driver calls them
            # sequentially) — they write disjoint directories and build
            # independent chain dicts, so a commit touching BOTH tables
            # (add_edge batches, remove_vertex cascades) pays
            # max(write, write) wall instead of the sum. Single-table
            # commits keep the plain sequential path (no thread cost).
            real = [t for t, _, touched in work if touched is None or touched]
            if len(real) == 2:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=2) as pool:
                    futs = {
                        table: pool.submit(
                            self._commit_table,
                            new_version, planned, prev, table, df, touched,
                        )
                        for table, df, touched in work
                    }
                    manifest = {table: f.result() for table, f in futs.items()}
            else:
                manifest = {
                    table: self._commit_table(
                        new_version, planned, prev, table, df, touched
                    )
                    for table, df, touched in work
                }
            self._save_manifest(new_version, manifest, prev=prev)
            self._set_version(new_version)
            return new_version
        finally:
            self._io.release_lock(self._lock_path)

    def _cow_plan(
        self, v_touched, e_touched
    ) -> tuple[DataFrame, DataFrame, set[int] | None, set[int] | None, int]:
        """Bucket-restricted base frames + effective touched sets for a
        commit. Either touched argument may be a CALLABLE producing the
        set — touched-set computations that cost a Spark job (distinct-
        bucket collects, the cascade dst-probe) are deferred behind the
        _cow_active gate so small stores never pay them. Below the size
        threshold a touched table is rewritten whole (touched None —
        cheaper than the probes for stores one task rewrites), and a
        table the write provably leaves untouched (a non-callable empty
        set) is inherited by manifest reference: no read, no write job.

        The last element is the base version the plan reads, which the
        caller hands to _commit_version: it raises ConflictError if a
        concurrent writer moved the store — otherwise a CoW commit would
        inherit the OTHER writer's buckets while its delta was computed
        against the old base (a silent lost update instead of a clean
        OCC failure). It is returned, not kept on the store, so two
        statements sharing one store cannot overwrite each other's."""
        planned = self.version
        if self._cow_active():
            tv, te = (t() if callable(t) else t for t in (v_touched, e_touched))
        else:
            tv, te = (None if callable(t) or t else set() for t in (v_touched, e_touched))
        return self.vertices(planned, tv), self.edges(planned, te), tv, te, planned

    # ---- reads (time travel via version=) ---------------------------------
    def vertices(
        self, version: int | None = None, buckets: set[int] | None = None
    ) -> DataFrame:
        v = self.version if version is None else version
        return self._read_table(v, "vertices", buckets)

    def edges(
        self, version: int | None = None, buckets: set[int] | None = None
    ) -> DataFrame:
        v = self.version if version is None else version
        return self._read_table(v, "edges", buckets)

    def get_vertex(self, vertex_id: int) -> DataFrame:
        """Point lookup (graph/storage/src/lib.rs:504-507)."""
        return self.vertices().filter(F.col("id") == vertex_id)

    def as_property_graph(
        self,
        vertex_props: dict[str, str] | None = None,
        edge_props: dict[str, str] | None = None,
    ):
        """Expose the store as a PropertyGraph with requested properties
        promoted to typed top-level columns (the engine's column-per-hot-
        property convention, SURVEY.md §1.3). E.g.
        ``store.as_property_graph({"name": "string", "age": "long"})``."""
        from dd_graphdb_spark.graph import PropertyGraph

        v = self.vertices()
        for k, t in (vertex_props or {}).items():
            v = v.withColumn(k, prop_typed("properties", k, t))
        e = self.edges()
        for k, t in (edge_props or {}).items():
            e = e.withColumn(k, prop_typed("properties", k, t))
        return PropertyGraph(v, e)

    def changes(
        self, table: str, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Row-level change feed between two committed versions — the
        CDC read the reference declares as an external connector intent
        (ConnectionConfig::CDC, stream_connectors.rs:119-166, ⚫ dead
        there), expressed over this store's own versioned snapshots in
        the Delta Change-Data-Feed shape:

            _change_type ∈ insert | delete | update_preimage |
                           update_postimage,  _commit_version

        ``table``: "vertices" (key: id) or "edges" (key: src,dst,label).
        One full-outer key join of the two snapshots (``_diff``) over the
        buckets whose manifest chain differs (exact: keys determine
        buckets), exploded into change rows in one pass — O(touched
        buckets) on a CoW store; an untouched table scans nothing. LAZY:
        building it launches no Spark job, and a vacuum before the
        consumer's action fails that scan loudly (the reader contract of
        ``vertices(version=)``, see vacuum). Per-commit granularity =
        call once per adjacent version pair. Raises ValueError for an
        inverted span, or an endpoint that is above the current version
        or whose manifest was vacuumed."""
        if table not in ("vertices", "edges"):
            raise ValueError(f"unknown table {table!r}")
        cur = self.version
        to_v = cur if to_version is None else to_version
        span = f"changes({table!r}, {from_version}, {to_v})"
        if from_version > to_v:
            raise ValueError(f"{span}: from_version is after to_version")
        for v in (from_version, to_v):
            if v > cur or not self._io.exists(self._manifest_path(v)):
                raise ValueError(
                    f"{span}: v{v} is not a readable version of this store "
                    f"(current v{cur}; vacuumed or never committed)"
                )
        old, new = (self._chains(self._load_manifest(v), table) for v in (from_version, to_v))
        differ = {int(b) for b in old.keys() | new.keys() if old.get(b) != new.get(b)}
        j, in_old, in_new, changed = self._diff(
            table, *(self._read_table(v, table, differ) for v in (from_version, to_v))
        )
        changed = in_old & in_new & changed

        def image(tag: str, pred: Column, change_type: str) -> Column:
            return F.when(pred, F.struct(
                *([F.col(f"_{tag}_label").alias("label")] if table == "vertices" else []),
                F.col(f"_{tag}_props").alias("properties"),
                F.lit(change_type).alias("_change_type"),
            ))

        rows = F.array(
            image("new", in_new & ~in_old, "insert"),
            image("old", in_old & ~in_new, "delete"),
            image("old", changed, "update_preimage"),
            image("new", changed, "update_postimage"),
        )
        keys = self._KEY_COLS[table]
        return j.select(
            *keys, F.explode(F.filter(rows, lambda r: r.isNotNull())).alias("_c")
        ).select(*keys, "_c.*", F.lit(to_v).cast("long").alias("_commit_version"))

    def stats(self) -> dict[str, int]:
        """get_stats parity (:571-579)."""
        return {
            "vertex_count": self.vertices().count(),
            "edge_count": self.edges().count(),
            "version": self.version,
        }

    # ---- transactions -----------------------------------------------------
    def begin_transaction(self) -> Transaction:
        return Transaction(base_version=self.version)

    def commit(self, txn: Transaction) -> int:
        """Apply the batch; raises ConflictError if the store version
        moved since begin (OCC version compare, :461-463). Returns the
        new version."""
        current = self.version
        if txn.base_version != current:
            raise ConflictError(
                f"store at v{current}, transaction began at v{txn.base_version}"
            )
        return self.apply_batch(txn.ops)

    # ---- batch application -------------------------------------------------
    def apply_batch(self, ops: list[GraphOp]) -> int:
        """Apply an operation batch as one new snapshot version.

        Ops are grouped into runs of consecutive same-kind operations and
        each run applies as ONE constant-depth DataFrame step (the MERGE
        shapes Delta would run) — a 1,000-op homogeneous batch (the
        reference's own batch_size, differential_dataflow.rs:263) is a
        single anti-join + union, not a 1,000-deep plan. Run order
        preserves the reference's sequential visibility: later ops see
        earlier ops' effects (apply_operation loop, lib.rs:269-323).

        Per-kind semantics (graph/storage/src/lib.rs:269-323):
        - add_vertex / update_vertex_props: upsert-REPLACE — the whole
          property map is replaced and a missing id is inserted
          (HashMap insert, :294-299 / :310-312). Within a run the last
          op per id wins.
        - remove_vertex: anti-join vertices; anti-join edges on BOTH
          endpoints (cascade, :274-293)
        - add_edge:      upsert-replace on (src,dst,label)  (:294-299)
        - remove_edge:   anti-join on the exact triple
        - update_edge_props: REPLACE map where the edge exists, keep
          edge identity, no-op on a missing edge (:313-318)
        """
        runs: list[tuple[str, list[dict]]] = []
        for op in ops:
            # edge identity is the (src,dst,label) triple, and every
            # edge-key join in the store (upsert anti-joins here, the
            # CoW delta diff + merge-on-read latest-wins/anti-join) is
            # null-INSENSITIVE — a NULL label would never match itself
            # across those joins, yielding spurious tombstone+upsert
            # pairs the merge cannot collapse (duplicate rows on read).
            # The typed API declares label: str; enforce it at the one
            # ingestion point instead of null-safing every join.
            if op.kind in ("add_edge", "remove_edge", "update_edge_props") and (
                op.payload.get("label") is None
            ):
                raise ValueError(
                    f"{op.kind} requires a non-null label (edge identity "
                    "is the (src, dst, label) triple)"
                )
            if runs and runs[-1][0] == op.kind:
                runs[-1][1].append(op.payload)
            else:
                runs.append((op.kind, [op.payload]))

        # CoW commit scope — computable driver-side from the payloads
        # (they are already driver lists). The one distributed probe:
        # remove_vertex cascades delete edges by DST too, and those live
        # in their src's bucket, so ask the base edge table which source
        # buckets hold in-edges of the removed ids (≤ n_buckets rows
        # back; at scale a two-long-column semi-join scan). Edges ADDED
        # earlier in this batch and then cascaded are already covered:
        # their add touched their bucket.
        B = self.n_buckets
        touched_v: set[int] = set()
        touched_e: set[int] = set()
        removed: set[int] = set()
        for kind, ps in runs:
            for p in ps:
                if kind in ("add_vertex", "update_vertex_props"):
                    touched_v.add(p["id"] % B)
                elif kind == "remove_vertex":
                    touched_v.add(p["id"] % B)
                    touched_e.add(p["id"] % B)  # out-edges co-bucketed
                    removed.add(p["id"])
                else:  # add_edge / remove_edge / update_edge_props
                    touched_e.add(p["src"] % B)
        def e_scope(te=touched_e):
            probe = local_df(self.spark,
                [(i,) for i in sorted(removed)], "dst long"
            )
            return te | self._collect_buckets(
                self.edges().join(F.broadcast(probe), "dst", "left_semi"), "src"
            )

        # bracket the settle checkpoints (the run_loop pattern): once the
        # version is parquet, every block this batch pinned is garbage —
        # left pinned they accumulate and degrade later queries
        with pin_scope(self.spark):
            v_df, e_df, touched_v, touched_e, planned = self._cow_plan(
                touched_v, e_scope if removed else touched_e
            )
            for i, (kind, ps) in enumerate(runs):
                v_df, e_df = self._apply_run(kind, ps, v_df, e_df)
                # long mixed batches: settle every 16 runs to bound plan depth
                if (i + 1) % 16 == 0 and i + 1 < len(runs):
                    v_df, e_df = _ckpt(v_df), _ckpt(e_df)
            return self._commit_version(v_df, e_df, touched_v, touched_e, planned)

    def _apply_run(
        self, kind: str, ps: list[dict], v_df: DataFrame, e_df: DataFrame
    ) -> tuple[DataFrame, DataFrame]:
        spark = self.spark
        if kind in ("add_vertex", "update_vertex_props"):
            # upsert-replace; vertex label is the "type" property, so a
            # replacing map without "type" clears the label column too
            last: dict[int, tuple] = {}
            for p in ps:
                t = p["props"].get("type")
                # label slot is string-typed; a non-string 'type' value
                # (legal in the schemaless map) must coerce, matching
                # update_vertices' str() handling
                last[p["id"]] = (
                    p["id"],
                    None if t is None else str(t),
                    _render_props(p["props"]),
                )
            rows = local_df(spark, list(last.values()), VERTEX_SCHEMA)
            v_df = v_df.join(rows.select("id"), "id", "left_anti").unionByName(rows)
        elif kind == "remove_vertex":
            ids = local_df(spark, [(p["id"],) for p in ps], "id long").distinct()
            v_df = v_df.join(ids, "id", "left_anti")
            e_df = e_df.join(ids.withColumnRenamed("id", "src"), "src", "left_anti").join(
                ids.withColumnRenamed("id", "dst"), "dst", "left_anti"
            )
        elif kind == "remove_edge":
            keys = local_df(spark, 
                [(p["src"], p["dst"], p["label"]) for p in ps],
                "src long, dst long, label string",
            ).distinct()
            e_df = e_df.join(keys, ["src", "dst", "label"], "left_anti")
        elif kind in ("add_edge", "update_edge_props"):
            # within a run the last op per edge key wins
            last_e: dict[tuple, tuple] = {}
            for p in ps:
                key = (p["src"], p["dst"], p["label"])
                last_e[key] = (*key, _render_props(p["props"]))
            keys = self._KEY_COLS["edges"]
            if kind == "add_edge":
                rows = local_df(spark, list(last_e.values()), EDGE_SCHEMA)
                e_df = e_df.join(rows.select(*keys), keys, "left_anti").unionByName(rows)
            else:
                upd = local_df(
                    spark,
                    list(last_e.values()),
                    "src long, dst long, label string, new_properties map<string,string>",
                )
                e_df = e_df.join(upd, keys, "left").select(
                    *keys, F.coalesce("new_properties", "properties").alias("properties")
                )
        else:
            raise ValueError(f"unknown op kind {kind}")
        return v_df, e_df

    # ---- GQL mutations -----------------------------------------------------
    def delete_vertices(self, ids_df: DataFrame) -> int:
        """Bulk delete with incident-edge cascade via anti-joins — the
        distributed MATCH..DELETE path (no driver-side id collection).
        ``ids_df`` must have a single ``id`` column."""
        ids = ids_df.select("id").distinct()
        # commit scope: the ids' own buckets (vertex rows + out-edges,
        # co-bucketed by src) plus the source buckets holding IN-edges
        # of deleted ids — one semi-join probe, ≤ n_buckets values back
        memo: dict = {}

        def v_scope():
            if "v" not in memo:
                memo["v"] = self._collect_buckets(ids, "id")
            return memo["v"]

        def e_scope():
            return v_scope() | self._collect_buckets(
                self.edges().join(
                    ids.withColumnRenamed("id", "dst"), "dst", "left_semi"
                ),
                "src",
            )

        v_base, e_base, touched_v, touched_e, planned = self._cow_plan(v_scope, e_scope)
        v_df = v_base.join(ids, "id", "left_anti")
        e_df = (
            e_base
            .join(ids.withColumnRenamed("id", "src"), "src", "left_anti")
            .join(ids.withColumnRenamed("id", "dst"), "dst", "left_anti")
        )
        return self._commit_version(v_df, e_df, touched_v, touched_e, planned)

    def update_vertices(self, ids_df: DataFrame, props: dict) -> int:
        """Bulk per-key property update — MATCH..SET's path
        (_apply_set) with literal values. Cypher SET semantics: listed
        keys overwrite, a None value removes its key, other keys are
        KEPT (unlike update_vertex_props' whole-map replace,
        lib.rs:310-312). ``ids_df`` must have a single ``id`` column."""
        bindings = ids_df.select(F.col("id").alias("v__id"))
        return self._apply_set(bindings, [("v", k, x) for k, x in props.items()])[1]

    def update_edges(self, keys_df: DataFrame, props: dict) -> int:
        """Bulk per-key edge property update (Cypher SET semantics, like
        update_vertices). ``keys_df`` needs (src, dst, label) columns."""
        bindings = keys_df.select(
            *[F.col(c).alias(f"e__{c}") for c in self._KEY_COLS["edges"]]
        )
        assigns = [("e", k, x) for k, x in props.items()]
        return self._apply_set(bindings, assigns, {"e"})[1]

    def _updated_values_df(
        self, table: str, base: DataFrame, vals_df: DataFrame, keys: list[str]
    ) -> DataFrame:
        """Apply a values frame to ``table``'s rows: ``vals_df`` carries
        one row per touched entity (its _KEY_COLS) with a ``_set_{key}``
        rendered-JSON column per assigned key. A non-null value
        overwrites the key, a NULL value REMOVES it (Cypher ``SET v.p =
        null`` / ``REMOVE v.p``); unlisted keys are kept. Rows not in
        ``vals_df`` are untouched. A vertex ``type`` key also rewrites
        the label column (label IS the type property,
        executor.rs:290-295) — NULL clears it."""
        j = base.join(
            vals_df.withColumn("_hit", F.lit(True)), self._KEY_COLS[table], "left"
        )
        updated = F.coalesce(F.col("properties"), F.expr("map()"))
        for k in keys:
            vcol = F.col(f"_set_{k}")
            pruned = F.map_filter(updated, _drop_key(k))
            updated = F.when(vcol.isNull(), pruned).otherwise(
                F.map_concat(pruned, F.create_map(F.lit(k), vcol))
            )
        hit = F.col("_hit")
        out = {"properties": F.when(hit, updated).otherwise(F.col("properties"))}
        if table == "vertices" and "type" in keys:
            out["label"] = F.when(
                hit, _json_unquote(F.col("_set_type"))
            ).otherwise(F.col("label"))
        return j.select(*[out.get(c, F.col(c)).alias(c) for c in base.columns])

    def _create_pattern(self, pattern) -> list[int]:
        """Create a path pattern's nodes (ids max+1.., one per DISTINCT
        variable — a repeated variable is the same node, Cypher) and its
        chaining edges; returns one id per pattern node position.
        (execute_create, graph/query/src/executor.rs:521-566; unlabeled
        relationships default to "related", :unwrap_or_else).

        Edge direction is honored — ``(a)<-[:r]-(b)`` creates the edge
        b→a — and inline edge properties persist, so a MERGE that fell
        through to create always produces data its own pattern matches
        (idempotency). Undirected / variable-length edges are rejected
        at parse time (_write_pattern)."""
        row = self.vertices().agg(F.max("id").alias("m")).collect()[0]
        next_id = (row["m"] or 0) + 1
        ops, node_ids, _ = self._pattern_ops(pattern, next_id)
        self.apply_batch(ops)
        return node_ids

    @staticmethod
    def _pattern_ops(pattern, next_id: int) -> tuple[list, list, int]:
        """Build the GraphOps creating one instance of ``pattern`` with
        ids ``next_id..`` — (ops, node_ids, next_free_id). Split out of
        _create_pattern so FOREACH CREATE bodies can accumulate ops
        across elements and commit ONE snapshot version."""
        ops: list[GraphOp] = []
        ids_by_var: dict[str, int] = {}
        node_ids: list[int] = []
        for node in pattern.nodes:
            if node.var in ids_by_var:
                node_ids.append(ids_by_var[node.var])
                continue
            ops.append(add_vertex(next_id, node.label, dict(node.props)))
            ids_by_var[node.var] = next_id
            node_ids.append(next_id)
            next_id += 1
        for i, e in enumerate(pattern.edges):
            if getattr(e, "direction", "out") == "undirected" or (
                getattr(e, "min_hops", None) is not None
            ):
                # belt-and-braces: programmatic ASTs bypass the parser
                raise ValueError(
                    "pattern creation requires directed single-hop edges"
                )
            src, dst = node_ids[i], node_ids[i + 1]
            if e.direction == "in":  # (a)<-[:r]-(b): arrow points at a
                src, dst = dst, src
            ops.append(add_edge(src, dst, e.label or "related", dict(e.props)))
        return ops, node_ids, next_id

    def _apply_set(
        self, bindings: DataFrame, assignments, edge_vars=frozenset()
    ) -> tuple[DataFrame, int]:
        """The one property-write path: MATCH..SET, MERGE's ON MATCH
        SET, MATCH..REMOVE (a NULL value), FOREACH..SET and
        update_vertices/update_edges all apply ``[(var, prop, value),
        ..]`` here as ONE snapshot version: per-variable transforms
        compose on the pending frames and commit once, so a crash or
        concurrent reader can never observe a half-applied write.
        ``bindings`` carries ``{var}__id`` per vertex variable and
        ``{var}__src/__dst/__label`` per edge variable (``edge_vars``);
        a later assignment to the same key wins. Returns the touched-id
        frame and the committed version; no assignments at all (``SET
        v += {}``) is a Cypher no-op that commits nothing.

        Every value becomes a rendered-JSON ``_set_<key>`` column
        (_set_value) evaluated per binding row, is reduced to one value
        per entity (a deterministic pick where Cypher leaves
        multi-binding writes unordered) and applied distributively by
        _updated_values_df. The whole computation is declarative: one
        join + hash-aggregate over the touched keys, no driver-side
        rows — the same 100 TB posture as the read path."""
        by_var: dict[str, dict] = {}
        for var, prop, val in assignments:
            by_var.setdefault(var, {})[prop] = val
        if not by_var:
            return local_df(self.spark, [], "id long"), self.version
        # pass 1: settle each variable's key/value frame; its bucket
        # footprint is the commit scope, and the bases are read AFTER
        # the scope is known so the rewrite only scans touched buckets
        # (CoW commit; see _commit_version)
        plans: list[tuple[str, list[str], DataFrame]] = []
        for var, props in by_var.items():
            table = "edges" if var in edge_vars else "vertices"
            key = self._KEY_COLS[table]
            cols = [f"_set_{k}" for k in props]
            # ONE witness binding row per entity: all assigned keys
            # must come from the SAME row (Cypher's sequential
            # last-row-wins keeps a row's full assignment; an
            # independent max per key could mix values from
            # different rows — a combination no row produced). The
            # witness is the max_by of the whole value struct keyed
            # by a total order over the rendered tuple (NUL
            # sentinel keeps null fields distinct from absent).
            wkey = F.concat_ws(
                "\x1f", *[F.coalesce(F.col(c), F.lit("\x00")) for c in cols]
            )
            vals = _ckpt(  # settle before rewrite
                bindings.select(
                    *[F.col(f"{var}__{k}").alias(k) for k in key],
                    *[_set_value(v).alias(c) for v, c in zip(props.values(), cols)],
                )
                .groupBy(*key)
                .agg(F.max_by(F.struct(*cols), wkey).alias("_set_row"))
                .select(*key, *[F.col("_set_row").getField(c).alias(c) for c in cols])
            )
            plans.append((table, list(props), vals))

        # pass 2: compose the per-variable transforms over the
        # bucket-restricted bases and commit ONE version (a table no
        # assignment targets is untouched: set())
        def scope(table):
            fs = [f for t, _, f in plans if t == table]
            if not fs:
                return set()
            col = self._BUCKET_KEY[table]
            return lambda: set().union(*(self._collect_buckets(f, col) for f in fs))

        v_df, e_df, tv, te, planned = self._cow_plan(scope("vertices"), scope("edges"))
        frames = {"vertices": v_df, "edges": e_df}
        out = None
        for table, keys, vals in plans:
            frames[table] = self._updated_values_df(table, frames[table], vals, keys)
            touched = vals.select(F.col(self._BUCKET_KEY[table]).alias("id"))
            out = touched if out is None else out.unionByName(touched).distinct()
        version = self._commit_version(
            frames["vertices"], frames["edges"], tv, te, planned
        )
        return out, version

    def _foreach_write(self, stmt, bindings, src, engine) -> DataFrame:
        """FOREACH CREATE/MERGE bodies (the Cypher bulk-create idiom —
        ``FOREACH (x IN list | CREATE (:Tag {v: x}))``).

        Elements are VALUES: the per-binding list lowers and explodes
        declaratively, then collects to the driver — inherent to
        creation, which assigns sequential ids driver-side exactly like
        bare CREATE (next_vertex_id, executor.rs:618-625); FOREACH lists
        are per-row small by construction. Elements are SORTED by their
        JSON rendering before id assignment so created ids are
        deterministic regardless of partition collect order (Cypher
        leaves iteration order to the engine). CREATE instantiates the
        substituted pattern once PER ELEMENT (duplicates kept); MERGE
        per DISTINCT element, matching the whole substituted pattern
        first. ONE snapshot version for the whole statement."""
        import copy

        from dd_graphdb_spark.plans.gql import LoopVar
        from dd_graphdb_spark.plans.lower import _lower_expr

        exploded = bindings.select(F.explode(_lower_expr(src)).alias("v"))
        # the collect is bounded: creation assigns sequential ids
        # driver-side (like bare CREATE), so the element list must fit
        # the driver. FOREACH lists are per-row small by construction;
        # cap defensively rather than drag an unbounded explode through
        # the driver
        elems = [r["v"] for r in exploded.limit(_FOREACH_MAX_ELEMS + 1).collect()]
        if len(elems) > _FOREACH_MAX_ELEMS:
            raise ValueError(
                f"FOREACH {stmt.body_kind.upper()} body over more than "
                f"{_FOREACH_MAX_ELEMS} total elements — sequential id "
                "assignment is driver-side; bulk-load this via "
                "MATCH .. CREATE/MERGE (distributed) instead"
            )
        elems.sort(key=lambda v: json.dumps(v))

        def subst(value):
            pat = copy.deepcopy(stmt.body_pattern)
            for n in pat.nodes:
                for k, v in list(n.props.items()):
                    if isinstance(v, LoopVar):
                        n.props[k] = value
            for e in pat.edges:
                for k, v in list(e.props.items()):
                    if isinstance(v, LoopVar):
                        e.props[k] = value
            return pat

        if stmt.body_kind == "merge":
            pats, seen = [], set()
            for val in elems:
                key = json.dumps(val)
                if key in seen:
                    continue
                seen.add(key)
                pat = subst(val)
                if engine.match_bindings(pat).isEmpty():
                    pats.append(pat)
        else:
            pats = [subst(v) for v in elems]
        if not pats:
            return local_df(self.spark, [], "id long")
        row = self.vertices().agg(F.max("id").alias("m")).collect()[0]
        next_id = (row["m"] or 0) + 1
        ops: list[GraphOp] = []
        all_ids: list[int] = []
        for pat in pats:
            o, ids, next_id = self._pattern_ops(pat, next_id)
            ops.extend(o)
            all_ids.extend(ids)
        self.apply_batch(ops)
        return local_df(self.spark, [(i,) for i in all_ids], "id long")

    def execute_mutation(self, stmt, engine) -> DataFrame:
        """Apply a parsed GQL write statement: CREATE, MERGE,
        MATCH..DELETE, or a property write — MATCH..SET, MATCH..REMOVE
        and FOREACH..SET all go through _apply_set (REMOVE v.p is SET
        v.p = null).

        Lifetime note: the MERGE/SET/REMOVE/FOREACH/DELETE paths
        checkpoint their matched-key frames (load-bearing: the ids must
        settle BEFORE the snapshot rewrite reads the store, and the
        returned frame references those blocks). The blocks free once the caller drops
        the result (ContextCleaner after GC — the suites' session
        hygiene runs both GCs between queries); they are deliberately
        NOT eagerly unpersisted here, which would invalidate the
        returned DataFrame.

        CREATE (execute_create, graph/query/src/executor.rs:521-566):
        nodes get ids max+1.. (next_vertex_id, :618-625), label becomes
        the ``type`` property, consecutive nodes are chained with the
        pattern's edges. Returns the created vertex ids.

        MATCH..DELETE (execute_match_delete, :569-615): match the
        pattern + WHERE, delete the bound variable's vertices (cascade).
        Returns the deleted ids. The property writes return the touched
        ids (an edge variable's touched src ids).
        """
        from dd_graphdb_spark.plans.gql import (
            CreateStatement,
            ForeachStatement,
            MatchDeleteStatement,
            MatchRemoveStatement,
            MatchSetStatement,
            MergeStatement,
            _edge_vars,
        )

        if isinstance(stmt, CreateStatement):
            node_ids = self._create_pattern(stmt.pattern)
            return local_df(self.spark, [(i,) for i in node_ids], "id long")

        if isinstance(stmt, MergeStatement):
            # Cypher MERGE: match the WHOLE pattern (exact label +
            # inline-props per node, edge labels); existing bindings are
            # returned untouched, otherwise the entire pattern — nodes
            # and edges — is created as one unit. Single-clause Cypher
            # semantics: a partially-matching pattern still creates all
            # of it. ON MATCH SET applies MATCH..SET semantics to the
            # matched bindings; ON CREATE SET folds into the created
            # pattern's properties (post-creation assignment and
            # fold-at-create are indistinguishable — values are
            # literals) so either branch commits at most ONE version.
            pattern = stmt.pattern
            uniq_vars = list(dict.fromkeys(n.var for n in pattern.nodes))
            bindings = engine.match_bindings(pattern)
            ids = _ckpt(
                bindings.select(
                    *[F.col(f"{v}__id").alias("id" if len(uniq_vars) == 1 else v)
                      for v in uniq_vars]
                ).distinct()
            )
            if not ids.isEmpty():
                if stmt.on_match:
                    self._apply_set(bindings, stmt.on_match, _edge_vars(pattern))
                return ids
            if stmt.on_create:
                # fold into a COPY — programmatic ASTs may be reused
                import copy

                pattern = copy.deepcopy(pattern)
                for var, prop, val in stmt.on_create:
                    for n in pattern.nodes:
                        if n.var == var:
                            n.props[prop] = val
                    for e in pattern.edges:
                        if e.var == var:
                            e.props[prop] = val
            node_ids = self._create_pattern(pattern)
            by_var = dict(zip([n.var for n in pattern.nodes], node_ids))
            if len(uniq_vars) == 1:
                return local_df(self.spark, 
                    [(by_var[uniq_vars[0]],)], "id long"
                )
            return local_df(self.spark, 
                [tuple(by_var[v] for v in uniq_vars)],
                ", ".join(f"{v} long" for v in uniq_vars),
            )

        if isinstance(stmt, MatchSetStatement):
            bindings = engine.match_bindings(stmt.pattern, stmt.where)
            return self._apply_set(
                bindings, stmt.assignments, _edge_vars(stmt.pattern)
            )[0]

        if isinstance(stmt, ForeachStatement):
            # FOREACH (x IN <id-list> | SET x.p = <expr>, ..): bind the
            # pattern, lower the list expression per row (path functions
            # over a bound path variable rewrite to p__nodes etc.) and
            # explode it into x__id beside the OUTER row, so values
            # lowered against that row (SET n.depth = length(p)) reach
            # every element; then MATCH..SET's path. The loop variable
            # binds only x__id: x.<prop> in a value raises the read
            # side's missing-column error.
            from dd_graphdb_spark.plans.lower import (
                _lower_expr,
                _rewrite_path_funcs,
            )

            bindings = engine.match_bindings(stmt.pattern, stmt.where)
            src = stmt.source
            if getattr(stmt.pattern, "pvar", None):
                has_varlen = any(
                    e.min_hops is not None for e in stmt.pattern.edges
                )
                src = _rewrite_path_funcs(src, stmt.pattern.pvar, has_varlen)
            if stmt.body_kind in ("create", "merge"):
                return self._foreach_write(stmt, bindings, src, engine)
            lid = f"{stmt.lvar}__id"
            elems = bindings.select(
                "*", F.explode(_lower_expr(src)).alias(lid)
            ).withColumn(lid, F.col(lid).cast("long"))
            assigns = [(stmt.lvar, k, v) for k, v in stmt.assignments]
            return self._apply_set(elems, assigns)[0]

        if isinstance(stmt, MatchDeleteStatement):
            bindings = engine.match_bindings(stmt.pattern, stmt.where)
            var = stmt.delete_var
            # settle before rewrite
            ids = _ckpt(bindings.select(F.col(f"{var}__id").alias("id")).distinct())
            self.delete_vertices(ids)
            return ids

        if isinstance(stmt, MatchRemoveStatement):
            # REMOVE v.p is SET v.p = null
            bindings = engine.match_bindings(stmt.pattern, stmt.where)
            assigns = [(var, prop, None) for var, prop in stmt.removals]
            return self._apply_set(bindings, assigns, _edge_vars(stmt.pattern))[0]

        raise ValueError(f"unsupported mutation {type(stmt).__name__}")

    # ---- retention ---------------------------------------------------------
    def vacuum(self, keep_last: int = 2) -> None:
        """Drop snapshot dirs older than the last ``keep_last`` versions
        (checkpoint truncation, :600-611).

        CoW manifests may still reference layer dirs living under a
        to-be-dropped version dir (that version last wrote them). Those
        layers are RELOCATED — a filesystem rename, no data rewrite
        (a COPY on S3-class object stores — fsio module docstring) —
        into the oldest kept version that references them (under
        ``v{k}/inherited/`` + the original path, never nested), and every
        kept manifest is patched to the new location before the dead dirs
        go. Holds the store's writer lock: a concurrent commit could
        otherwise inherit a layer path this vacuum is about to relocate
        (the WRITER half of the single-writer contract, ENFORCED since r14).

        READERS take no lock — that half is still a convention: a
        reader that loaded a manifest before vacuum relocates one of
        its layer dirs fails its (lazy) scan when the Spark action
        finally runs. Re-read the store (the manifest reload picks up
        the patched paths) or don't vacuum while long-lived reader
        DataFrames are in flight; a retention-window grace period for
        relocated dirs is the object-store-grade fix if that contract
        ever needs enforcing."""
        self._io.acquire_lock(self._lock_path, timeout_s=self.lock_timeout_s)
        try:
            self._vacuum_locked(keep_last)
            # vacuum is the one operation that can shrink the store
            # below cow_min_bytes — re-probe on the next commit
            self._cow_active_memo = False
        finally:
            self._io.release_lock(self._lock_path)

    def _vacuum_locked(self, keep_last: int) -> None:
        cur = self.version
        versions = sorted(
            int(name[1:])
            for name in self._io.list_dir(self.path)
            if name.startswith("v") and name[1:].isdigit()
        )
        dead = {v for v in versions if v <= cur - keep_last}
        if not dead:
            return
        # dirs above ``cur`` are crashed, uncommitted commits (no
        # manifest, or one no pointer names): the next commit reuses
        # their number, so they are neither kept nor dropped here
        kept = [v for v in versions if v not in dead and v <= cur]
        moves: dict[str, str] = {}  # old relpath -> new relpath
        for v in kept:  # ascending: relocate into the OLDEST referencer
            man = self._load_manifest(v)
            patched = {}
            for table in ("vertices", "edges"):
                chains = self._chains(man, table)
                for chain in chains.values():
                    for lay in chain:
                        rel = lay["p"]
                        owner = int(rel.split("/", 1)[0][1:])
                        if owner not in dead:
                            continue
                        if rel not in moves:
                            new_rel = f"v{v}/inherited/" + rel.rsplit("inherited/", 1)[-1]
                            self._io.rename_tree(
                                os.path.join(self.path, rel),
                                os.path.join(self.path, new_rel),
                            )
                            moves[rel] = new_rel
                        lay["p"] = moves[rel]
                patched[table] = chains
            # ALWAYS re-save kept manifests as self-contained fulls —
            # even an unchanged delta manifest may chain its base
            # through a version dir this vacuum is about to delete
            self._save_manifest(v, patched)
        for v in dead:
            self._io.remove_tree(os.path.join(self.path, f"v{v}"))
