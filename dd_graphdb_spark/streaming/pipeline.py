"""Streaming pipeline plumbing: sources, sinks, incremental view refresh.

Reference parity:
- stream ingestion → changesets → topo-ordered incremental view updates
  (stream_processing.rs:515-628,670-711; incremental_engine.rs:272-310)
  → here: readStream → foreachBatch → ViewCatalog.mark_dirty +
  refresh_all (dependencies first)
- flush policy (batch size / interval, stream_processing.rs:271-332)
  → trigger intervals / availableNow
- backpressure (drop-oldest, :247-268) → maxFilesPerTrigger source
  rate limits (no data loss — strictly better)
- Kafka/CDC/MQTT/webhook sources are declared-but-dead in the reference
  (stream_connectors.rs — not compiled, SURVEY.md §0.1);
  ``events_stream`` uses the file source; ``kafka_stream`` builds the
  reader config for environments where the kafka package is deployed.

The parquet `events` table doubles as a file-source stream: each file is
a micro-batch.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
import threading
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from dd_graphdb_spark.graph import read_events

_SHUFFLE_TUNE_LOCK = threading.Lock()

#: staged-source cache (r15, advisor): the multi-file restage rewrites
#: the whole events table — paying that full-table write on EVERY
#: events_stream call doubled disk per bench/gate invocation at sf1.
#: Key = source identity (path + per-data-file name/mtime/size), value
#: = the staging dir; a same-identity call reuses it, and every staged
#: dir is removed at interpreter exit.
_STAGE_CACHE: dict[tuple, str] = {}
_STAGE_LOCK = threading.Lock()


def _purge_staged_dirs() -> None:
    for d in _STAGE_CACHE.values():
        shutil.rmtree(d, ignore_errors=True)
    _STAGE_CACHE.clear()


atexit.register(_purge_staged_dirs)


def _source_identity(src: str) -> tuple:
    import os

    if os.path.isdir(src):
        names = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))
        return (os.path.abspath(src),) + tuple(
            (n, int(os.path.getmtime(p) * 1e6), os.path.getsize(p))
            for n in names
            for p in [os.path.join(src, n)]
        )
    return (os.path.abspath(src), int(os.path.getmtime(src) * 1e6), os.path.getsize(src))


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file-source stream (schema from the batch
    reader, including the nanos→µs ts normalization).

    The file source requires a *directory*; the testdata table is a
    single parquet file, so it is staged into a temp dir via symlink —
    in production this is simply the ingest directory files land in.
    Staging is cached per source identity (_STAGE_CACHE): repeated
    calls over the same unchanged table reuse one staged dir instead of
    re-running the full-table restage write per call.
    """
    import os

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = f"{sf_dir}/events.parquet"
    raw_schema = spark.read.parquet(src).schema
    key = _source_identity(src)
    with _STAGE_LOCK:
        src_dir = _STAGE_CACHE.get(key)
        if src_dir is None or not os.path.isdir(src_dir):
            src_dir = _stage_events_dir(spark, src, raw_schema)
            _STAGE_CACHE[key] = src_dir
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", 1)  # source-side rate limit
        .parquet(src_dir)
    )
    from pyspark.sql import functions as F

    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # withWatermark rejects NTZ; session tz is UTC so the cast is
        # value-preserving (see read_events)
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _stage_events_dir(spark: SparkSession, src: str, raw_schema) -> str:
    """Materialize ``src`` as a flat directory of time-ordered micro-
    batch files (see events_stream's docstring for the arrival-order
    contract)."""
    import os

    src_dir = tempfile.mkdtemp(prefix="events_src_")
    if os.path.isdir(src):
        # directory-shaped table (any real multi-file layout): the file
        # source does not recurse into a nested non-partition directory,
        # so the data files must stage flat (linking the directory
        # itself yields an EMPTY stream — found at sf1). With
        # maxFilesPerTrigger=1 each file is a micro-batch, so file order
        # IS arrival order: files must respect the pipeline's declared
        # disorder bound (the 10-minute watermarks downstream). A real
        # ingest directory guarantees that — files land in event-time
        # order; an arbitrary Spark-written table does NOT (each output
        # part spans the whole time range, i.e. an N-way time-shuffled
        # arrival that silently drops ~everything after batch 1 —
        # found at sf1: the interval-join gates lost 4/5 of their
        # matches). Restage multi-file dirs into range-partitioned,
        # time-ordered slices to restore the ingest contract.
        names = [f for f in sorted(os.listdir(src)) if f.endswith(".parquet")]
        if not names:
            # fail loudly: an empty staging dir is a stream that "runs"
            # and silently produces nothing
            raise ValueError(f"no .parquet data files found under {src}")
        if len(names) == 1:
            os.symlink(os.path.join(src, names[0]), os.path.join(src_dir, names[0]))
        else:
            ts_field = "ts" if "ts" in raw_schema.fieldNames() else raw_schema.fieldNames()[0]
            (
                spark.read.schema(raw_schema)
                .parquet(src)
                .repartitionByRange(len(names), ts_field)
                .sortWithinPartitions(ts_field)
                .write.mode("overwrite")
                .parquet(src_dir)
            )
            # part file index follows the range order; the source
            # ORDERS BY FILE MODIFICATION TIME, and one write job gives
            # every part the same mtime (a tie the listing breaks
            # arbitrarily) — stamp strictly increasing mtimes in part
            # order so arrival order = event-time order deterministically
            import time as _time

            base_t = _time.time() - 3600
            for k, fname in enumerate(
                sorted(f for f in os.listdir(src_dir) if f.endswith(".parquet"))
            ):
                os.utime(os.path.join(src_dir, fname), (base_t + k, base_t + k))
    else:
        os.symlink(src, os.path.join(src_dir, "events.parquet"))
    return src_dir


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka source reader (KafkaStreamSource declared intent,
    stream_connectors.rs:68-118). Requires the spark-sql-kafka package on
    the cluster; raises a clear error otherwise."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )


def _source_bytes(df: DataFrame) -> int:
    """On-disk bytes of the distinct file-source paths ``df`` streams
    from (the StreamingRelation leaves of its analyzed plan; symlinks
    are followed). 0 when it has none."""
    import os

    paths = set()
    it = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    while it.hasNext():
        leaf = it.next()
        if leaf.getClass().getSimpleName() == "StreamingRelation":
            p = leaf.dataSource().options().get("path")
            if p.isDefined():
                paths.add(p.get())
    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
        for r, _, fs in os.walk(p):
            total += sum(os.path.getsize(os.path.join(r, f)) for f in fs)
    return total


def run_to_memory(
    df: DataFrame,
    name: str | None = None,
    output_mode: str = "complete",
    timeout_s: float = 120.0,
    state_partitions: int | None = None,
) -> DataFrame:
    """Run a streaming frame to completion (availableNow) into an
    in-memory table and return it as a batch DataFrame. Test/verification
    harness — production sinks are parquet/kafka/foreachBatch.

    ``state_partitions``: explicit state-store partition count for this
    run (overrides the size-derived width below); None = derive."""
    name = name or f"mem_{uuid.uuid4().hex[:8]}"
    spark = df.sparkSession
    # Stateful operators create one state store per shuffle partition at
    # query start; under an untuned session (default 200) that is 200
    # Python workers + stores for a single micro-batch. Right-size ONLY
    # untuned sessions (a caller who set the conf keeps their value
    # untouched — no mutation at all on tuned sessions, e.g. get_spark's
    # 32). ``start()`` snapshots the session conf into the query's own
    # session clone, so the width, provider and changelog settings below
    # are set around ``start()`` alone, under a lock so overlapping
    # calls cannot plan against each other's temporary value. The query
    # stays in the caller's session: a query started from a child
    # session is invisible to the caller's StreamingQueryListeners.
    # Production sinks size this explicitly.
    with _SHUFFLE_TUNE_LOCK:
        # read INSIDE the lock: reading before it could observe another
        # caller's temporary in-bracket value (e.g. the right-sized "8"),
        # classify the session as tuned, and skip the right-sizing
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        # a non-numeric value (e.g. "auto") sizes like an untuned session
        untuned = prev == "200" or not prev.isdigit()
        width = spark.sparkContext.defaultParallelism if untuned else int(prev)
        # STATE-WIDTH sizing (r16, guide §2.2 applied to state stores):
        # a stateful query creates one state store per shuffle partition
        # per stateful operator per micro-batch — a stream-stream join
        # opens 4 RocksDB instances per partition, and batch commit cost
        # is per-STORE fixed work regardless of rows (measured: the
        # watermark-eviction batch of stream_live_left_outer_join runs
        # 3.4 s with ZERO input rows at 32 partitions; the whole gate is
        # 7.0–7.3 s at 32 vs 2.3 s at 8 vs 2.0 s at 4, identical
        # results). Size the width from the MEASURED bytes of this
        # stream's own file sources: one state partition per
        # SPARK_GRAFT_STREAM_STATE_BYTES of source (default 256 KB of
        # compressed source ≈ a few MB of state), never RAISED above
        # the session width — at sf1+ the derived width already hits
        # the cap, and on a production session the cap is the operator's
        # own shuffle setting, so this only trims the tiny-state end.
        # 0 disables; ``state_partitions`` pins explicitly.
        if state_partitions is not None:
            width = max(1, int(state_partitions))
        else:
            src_bytes = _source_bytes(df)
            if src_bytes:
                from dd_graphdb_spark.algorithms._iter import _env_int

                per_part = _env_int("SPARK_GRAFT_STREAM_STATE_BYTES", 256 << 10)
                if per_part > 0:
                    width = min(width, max(1, src_bytes // per_part + 1))
        retune = str(width) != prev
        if retune:
            spark.conf.set("spark.sql.shuffle.partitions", str(width))
        # State store: default to RocksDB. The default
        # HDFSBackedStateStoreProvider keeps every store's full state
        # on-heap — at 100 TB the state of a stream-stream join outgrows
        # executor heaps long before the data outgrows the cluster;
        # RocksDB holds state off-heap/on-disk with incremental
        # checkpoints. Measured on the join-state-heaviest gate query
        # (stream_live_left_outer_join, sf0.1, same session, min of 3):
        # 45.1 s on-heap → 12.3 s RocksDB. A caller who set the provider
        # explicitly (≠ the HDFS default) keeps their choice.
        _PROV = "spark.sql.streaming.stateStore.providerClass"
        prev_prov = spark.conf.get(
            _PROV,
            "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
        )
        default_prov = prev_prov.rsplit(".", 1)[-1] == "HDFSBackedStateStoreProvider"
        # Changelog checkpointing rides along with the RocksDB default
        # (and only then — a caller-chosen provider keeps its own
        # settings): per-commit state checkpoints upload the batch's
        # changelog instead of full SST snapshots. That is both the
        # documented at-scale posture (incremental checkpoints bound
        # commit I/O by delta size, not state size) and a measured local
        # win — stream_live_left_outer_join min-of-3 A/B this round:
        # 10.02 s snapshots → 7.06 s changelog.
        _CLOG = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        prev_clog = spark.conf.get(_CLOG, None)
        if default_prov:
            spark.conf.set(
                _PROV,
                "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
            )
            if prev_clog is None:
                spark.conf.set(_CLOG, "true")
        try:
            q = (
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
                .start()
            )
        finally:
            if retune:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
            if default_prov:
                spark.conf.set(_PROV, prev_prov)
                if prev_clog is None:
                    spark.conf.unset(_CLOG)
    q.awaitTermination(timeout_s)
    if q.isActive:
        q.stop()
    return spark.table(name)


def incremental_view_pipeline(
    stream: DataFrame,
    catalog,
    affected_views: Callable[[DataFrame], list[str]] | None = None,
    events_view_name: str = "stream_events",
    timeout_s: float = 180.0,
    delta_map: dict[str, Callable[[DataFrame], DataFrame]] | None = None,
    group_by_source: str | None = None,
):
    """Change stream → topo-ordered view refresh, the reference's
    flagship dataflow (SURVEY.md §3.3).

    Each micro-batch: register the batch as ``stream_events``, decide
    which views it affects (determine_affected_views,
    incremental_engine.rs:426-446 — default: all), then per view:

    - views registered via ``catalog.register_incremental`` get the
      batch MERGED into their delta state (±count/±sum application,
      incremental_engine.rs:875-946) — O(batch) work, no recompute of
      the base. ``delta_map[name]`` optionally reshapes the batch into
      that view's delta frame (e.g. project group/value columns, attach
      a ``_sign``); default: the batch itself, all adds.
    - other views are marked dirty and fully rebuilt.

    Finally ``refresh_all`` runs in dependency order; for incremental
    views that is just an O(groups) result rewrite from merged state.
    """

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch hands the batch to an isolated session clone; the
        # temp view only exists there, so the catalog must build against
        # that session for this batch.
        batch_df.createOrReplaceTempView(events_view_name)
        names = affected_views(batch_df) if affected_views else catalog.list_views()
        incr = getattr(catalog, "incremental", {})
        if group_by_source is not None:
            # event→changeset conversion (stream_processing.rs:670-711):
            # tag one changeset per source, then apply ALL changesets in
            # a SINGLE partitioned pass — no per-batch distinct+collect
            # of source names, no per-source jobs. Equivalent to
            # sequential per-source application because every state's
            # delta merge is changeset-commutative: agg states pre-sum
            # ± deltas (count/sum exact, min/max conservative add-only
            # least/greatest), graph states resolve per key (adds win
            # within the batch). The old per-source loop applied sources
            # in ALPHABETICAL order — an arbitrary tie-break, not event
            # order — so no ordering semantics are lost; the end-to-end
            # equality with a batch recompute is pinned by
            # tests/test_transform.py::test_pipeline_per_source_changesets.
            from dd_graphdb_spark.streaming.transform import convert_to_changesets

            deltas_frame = convert_to_changesets(
                batch_df, group_by_source, batch_id
            ).drop("changeset_id")
        else:
            deltas_frame = batch_df
        for n in names:
            if n in incr:
                deltas = (
                    delta_map[n](deltas_frame)
                    if delta_map and n in delta_map
                    else deltas_frame
                )
                catalog.apply_deltas(n, deltas)
            else:
                catalog.mark_dirty(n)
        main_session = catalog.spark
        catalog.spark = batch_df.sparkSession
        try:
            catalog.refresh_all()
        finally:
            catalog.spark = main_session

    q = (
        stream.writeStream.foreachBatch(on_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_"))
        .start()
    )
    q.awaitTermination(timeout_s)
    if q.isActive:
        q.stop()
    return q
