"""Decade probe for FILE-level copy-on-write GraphStore commits.

Seeds stores whose vertex count grows by decades, then times the SAME
fixed-size mutation batch (100 property updates + 10 edge upserts)
against each. Under the pre-CoW whole-snapshot commit, time AND bytes
grew linearly with graph size; under r13's bucket-level CoW, time was
flat but bytes-written still grew with the touched-bucket fraction
(O(|graph|/B) per commit — the r13 verdict's weak item). Under r14's
file-level deltas, bytes-written must track the DELTA (110 changed
rows) — near-constant across all decades — at flat commit latency.

Writes one JSON line; run manually, artifact recorded as
BENCH_cow_commit_r{N}.json.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from dd_graphdb_spark.storage import GraphStore
    from dd_graphdb_spark.storage.store import update_vertex_props, add_edge

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    results = {}
    for n in (10_000, 100_000, 1_000_000, 10_000_000):
        path = tempfile.mkdtemp(prefix=f"cowbench_{n}_")
        store = GraphStore(spark, path, n_buckets=64, cow_min_bytes=0)
        # seed via the full-write path (bulk load), not apply_batch
        v = spark.range(n).select(
            F.col("id"),
            F.lit("Person").alias("label"),
            F.create_map(F.lit("n"), F.col("id").cast("string")).alias(
                "properties"
            ),
        )
        e = spark.range(n).select(
            F.col("id").alias("src"),
            ((F.col("id") + 1) % n).alias("dst"),
            F.lit("knows").alias("label"),
            F.create_map().cast("map<string,string>").alias("properties"),
        )
        store._commit_version(v, e, None, None, store.version)

        def du(p):
            import os

            total = 0
            for root, _dirs, files in os.walk(p):
                total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
            return total

        store_bytes = du(path)
        # bucket-local delta: 100 updates all landing in vertex bucket 0,
        # 10 edge upserts in source buckets 0..9
        ops = [
            update_vertex_props(i * 64 % n, {"type": "Person", "touched": 1})
            for i in range(100)
        ] + [add_edge(i % n, (i * 53) % n, "probe") for i in range(10)]
        t0 = time.monotonic()
        store.apply_batch(ops)
        commit_s = time.monotonic() - t0
        # merge-on-read cost while delta layers are live (dirty buckets
        # pay a window over the tiny delta union + one broadcast
        # anti-join; clean buckets pay nothing)
        t0 = time.monotonic()
        assert store.vertices().count() == n
        read_dirty_s = time.monotonic() - t0
        man = store._load_manifest(store.version)
        import os

        def touched(table):
            return sum(
                1
                for chain in store._chains(man, table).values()
                if any(l["s"] == 2 for l in chain)
            )

        results[str(n)] = {
            "commit_sec": round(commit_s, 3),
            "commit_bytes": du(os.path.join(path, "v2")),
            "store_bytes": store_bytes,
            "delta_vertex_buckets": touched("vertices"),
            "delta_edge_buckets": touched("edges"),
            "total_buckets": store.n_buckets,
        }
        # compact the dirty buckets (cow_max_layers=1 forces every
        # touched bucket back to a base layer) and measure the clean
        # read — the bound merge-on-read must stay within noise of it
        compacting = GraphStore(
            spark, path, cow_min_bytes=0, cow_max_layers=1
        )
        t0 = time.monotonic()
        compacting.apply_batch(
            [update_vertex_props(i * 64 % n, {"type": "Person", "touched": 2})
             for i in range(100)]
            + [add_edge(i % n, (i * 53) % n, "probe", {"r": 2}) for i in range(10)]
        )
        compact_commit_s = time.monotonic() - t0
        man3 = compacting._chains(
            compacting._load_manifest(compacting.version), "vertices"
        )
        assert all(
            [l["k"] for l in c] == ["b"] for c in man3.values()
        ), "compaction left a delta layer behind"
        t0 = time.monotonic()
        assert compacting.vertices().count() == n
        read_clean_s = time.monotonic() - t0
        results[str(n)].update(
            {
                "read_dirty_sec": round(read_dirty_s, 3),
                "read_clean_sec": round(read_clean_s, 3),
                "compact_commit_sec": round(compact_commit_s, 3),
            }
        )
        shutil.rmtree(path, ignore_errors=True)

    print(
        json.dumps(
            {
                "metric": "cow_commit_fixed_delta_across_decades",
                "unit": "sec",
                "n_buckets": 64,
                "delta_ops": 110,
                "decades": results,
            }
        )
    )


if __name__ == "__main__":
    main()
