"""SparkSession factory tuned for this engine.

Local testing runs on local[N]; the configuration is chosen so the same
logical plans scale to a multi-executor cluster: AQE on (runtime shuffle
coalescing + skew-join handling), explicit shuffle partitioning, Arrow
for any Python exchange, UTC session timezone for deterministic
event-time windows.

Session state is scoped one way: ``scoped`` makes a child session that
carries the extra conf, and ``rebind`` moves frames into and out of it.
The caller's session is never written, so a query planned on another
thread never sees a scoped value.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "dd-graphdb-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE can COALESCE shuffle partitions but never SPLIT them. A
        # global raise of initialPartitionNum is a measured LOSS though:
        # small-state fixpoint loops pay per-round fan-out overhead
        # (same-host sf10 A/B: BFS 7.9 s at 32 → 33.5 s at 256, SCC
        # 283 s → 487 s) while only EDGE-sized-aggregate loops gain
        # (LPA 122 → 90 s, k-core 164 → 119 s, FastSV CC 77 → 47 s).
        # The raise is therefore SCOPED to those loops (a child session
        # from algorithms._iter.wide_shuffle); the session default stays
        # at the shuffle-partition count.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", str(shuffle))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local_df (localrel.py) depends on Arrow createDataFrame(pandas)
        # for LocalTableScan planning; keep the documented fallback ON so
        # a schema Arrow cannot convert (exotic nested combos on older
        # pyarrow) degrades to the Python-RDD path instead of raising
        # (ADVICE r15)
        .config("spark.sql.execution.arrow.pyspark.fallback.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # local mode: executor == driver, so a heartbeat "loss" can only
        # be a long driver GC pause (observed: a 127 s full-GC during a
        # 409 M-row bucketed write got the executor removed and killed
        # the context). A generous timeout is strictly safe same-process.
        .config("spark.network.timeout", "600s")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def scoped(spark: SparkSession, conf: dict[str, str]) -> SparkSession:
    """A fresh child of ``spark`` carrying ``conf`` on top of the
    parent's current settings. The parent is never written.

    The child is a clone of the parent's session state, not a bare
    ``newSession()``: a new session starts from the builder conf and
    drops every value set at runtime (measured: a runtime session time
    zone reads back as the default in ``newSession()``). Children are
    not cached; building one costs about 10 ms on a 4-core host."""
    child = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    for k, v in conf.items():
        child.conf.set(k, v)
    return child


def rebind(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df`` re-rooted in ``session``: its later planning and execution
    read ``session``'s conf. The ANALYZED plan is rebound — the raw
    logical plan of a temp-view-backed frame fails to resolve in another
    session (TABLE_OR_VIEW_NOT_FOUND), while the analyzed plan carries
    resolved relations, checkpoint layouts and Python UDFs across."""
    if df.sparkSession is session:
        return df
    jdf = session._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
        session._jsparkSession, df._jdf.queryExecution().analyzed()
    )
    return DataFrame(jdf, session)
