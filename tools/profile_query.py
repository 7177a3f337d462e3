"""Per-stage task and CPU profile of one or more registry queries.

Usage: python tools/profile_query.py <sf_dir> <query> [query...]

Runs each query the way bench.py does (the engine's ``get_spark``
session, noop sink) under its own job group, then prints every stage
those jobs ran, read from the JVM status store (no UI, no REST API):
tasks, executor run / CPU / deserialize ms, and shuffle read / write
rows. A stage with many tasks and few rows is scheduling overhead. Name
a query twice to profile a warm call after a cold one. Diagnostic only:
neither the engine nor ``perfbench`` imports it.
"""

from __future__ import annotations

import os
import sys
import time


def stages(spark, group: str):
    """(job count, [(stage id, v1.StageData)]) for the stages the jobs of
    ``group`` ran; stages they skipped (shuffle output reused) are left out."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
    ids = sorted({s for j in jobs if j is not None for s in j.stageIds})
    ran = [(s, store.lastStageAttempt(s)) for s in ids]
    return len(jobs), [(s, d) for s, d in ran if d.status().toString() != "SKIPPED"]


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from dd_graphdb_spark.session import get_spark
    from dd_graphdb_spark.suites import all_queries

    sf_dir, names = sys.argv[1], sys.argv[2:]
    spark = get_spark("profile")
    try:
        qs, _ = all_queries(hygiene=False)
        for i, name in enumerate(names):
            if name not in qs:
                print(f"unknown query: {name}")
                continue
            group = f"{name}#{i}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            t1 = time.time()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.time()
            n_jobs, ran = stages(spark, group)
            print(f"\n== {name}: build {t1 - t0:.2f}s + execute {t2 - t1:.2f}s, {n_jobs} jobs")
            print(f"  {'stage':>5} {'tasks':>5} {'run_ms':>7} {'cpu_ms':>7} {'deser_ms':>8} "
                  f"{'shuf_rd_rows':>12} {'shuf_wr_rows':>12}  name")
            tot = [0] * 6
            for sid, d in ran:
                row = [d.numTasks(), d.executorRunTime(), d.executorCpuTime() // 1_000_000,
                       d.executorDeserializeTime(), d.shuffleReadRecords(), d.shuffleWriteRecords()]
                tot = [a + b for a, b in zip(tot, row)]
                print(f"  {sid:>5} {row[0]:>5} {row[1]:>7} {row[2]:>7} {row[3]:>8} "
                      f"{row[4]:>12} {row[5]:>12}  {d.name()[:60]}")
            print(f"  {'total':>5} {tot[0]:>5} {tot[1]:>7} {tot[2]:>7} {tot[3]:>8} "
                  f"{tot[4]:>12} {tot[5]:>12}  {len(ran)} stages")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
