"""Per-job wall-clock profile of one or more bench queries.

Usage: python tools/profile_query.py <sf_dir> <query> [query...]

Runs each query exactly the way bench.py does (same session factory,
noop sink) and prints every Spark job the run launched with its wall
time, stage shape, and description — the local[*] stand-in for the
Spark UI's Jobs page (guide §1.1/§7.1), read through the UI's REST API
on localhost. Diagnostic only: not part of the driver contract, never
imported by the engine.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request


def _rest(port: int, path: str):
    with urllib.request.urlopen(f"http://localhost:{port}/api/v1/{path}") as r:
        return json.loads(r.read())


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    os.environ.setdefault("SPARK_GRAFT_UI", "true")
    from pyspark.sql import SparkSession

    from dd_graphdb_spark.suites import all_queries

    # same configs as bench, but with the UI (REST API) on
    import dd_graphdb_spark.session as S

    def get_spark_ui(*a, **kw):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        shuffle = os.environ.get("SPARK_GRAFT_SHUFFLE", "32")
        b = (
            SparkSession.builder.master(f"local[{cpus}]")
            .appName("profile")
            .config("spark.sql.shuffle.partitions", shuffle)
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", shuffle)
            .config("spark.sql.adaptive.skewJoin.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
            .config("spark.network.timeout", "600s")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.ui.enabled", "true")
            .config("spark.ui.port", "4049")
        )
        return b.getOrCreate()

    # route suite-internal sessions through the UI-enabled factory until
    # main returns or raises
    orig = S.get_spark
    spark = get_spark_ui()
    S.get_spark = get_spark_ui
    try:
        qs, _ = all_queries(hygiene=False)
        app_id = spark.sparkContext.applicationId
        port = int(spark.sparkContext.uiWebUrl.rsplit(":", 1)[1])

        def jobs_after(lo_time: float) -> list[dict]:
            js = _rest(port, f"applications/{app_id}/jobs?status=succeeded") + _rest(
                port, f"applications/{app_id}/jobs?status=failed"
            )
            out = []
            for j in js:
                sub = time.strptime(j["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S")
                if time.mktime(sub) >= lo_time - 1.5:
                    out.append(j)
            return sorted(out, key=lambda j: j["jobId"])

        for name in names:
            if name not in qs:
                print(f"unknown query: {name}")
                continue
            t_build0 = time.time()
            df = qs[name](spark, sf_dir)
            build_s = time.time() - t_build0
            t0 = time.time()
            df.write.mode("overwrite").format("noop").save()
            exec_s = time.time() - t0
            print(f"\n== {name}: build {build_s:.2f}s + execute {exec_s:.2f}s")
            for j in jobs_after(t_build0):
                sub = time.mktime(time.strptime(j["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S"))
                if "completionTime" in j:
                    end = time.mktime(
                        time.strptime(j["completionTime"][:19], "%Y-%m-%dT%H:%M:%S")
                    )
                    dur = end - sub
                else:
                    dur = -1
                desc = (j.get("description") or j["name"])[:110]
                print(
                    f"  job {j['jobId']:>4} {dur:6.1f}s stages={len(j['stageIds'])} "
                    f"tasks={j['numTasks']:>5} {desc}"
                )
    finally:
        S.get_spark = orig
        spark.stop()


if __name__ == "__main__":
    main()
