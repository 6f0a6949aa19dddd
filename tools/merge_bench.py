"""Demonstrate file-level copy-on-write merge cost at volume.

Builds a silver table from the sf0.1 events table (100k rows split
into many files), then merges a small CDC-style batch and reports how
many data files were rewritten vs left untouched — the property that
makes MERGE O(matched files + batch) instead of O(table).

Usage: python tools/merge_bench.py [n_files] [batch_rows]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from serverless_data_lake_spark.catalog import TableStore  # noqa: E402
from serverless_data_lake_spark.config import LakeConfig  # noqa: E402
from serverless_data_lake_spark.session import get_spark  # noqa: E402
from serverless_data_lake_spark.testdata import data_path  # noqa: E402


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    batch_rows = int(sys.argv[2]) if len(sys.argv) > 2 else 100

    spark = get_spark(app_name="merge-bench")
    spark.sparkContext.setLogLevel("ERROR")
    root = f"/tmp/sdls_merge_bench_{os.getpid()}"
    store = TableStore(spark, LakeConfig(root=root))

    def files(info):
        """The data files of the table's newest version."""
        return set(store._latest(info.location)["files"])  # noqa: SLF001

    events = spark.read.parquet(
        data_path("/root/testdata/sf0.1", "events")
    )
    # Range-partition by key so each file owns a key range — the
    # layout an ingest pipeline converges to; random layout would
    # make any single-key batch touch every file (worst case, also
    # measured below).
    clustered = events.repartitionByRange(n_files, "event_id")
    store.create_or_replace("bench_silver", "events", clustered, ["event_id"])
    info = store.info("bench_silver", "events")
    total_files = len(files(info))

    # CDC batch: updates to a contiguous key range (typical hot range).
    batch = (
        events.filter(F.col("event_id") < batch_rows)
        .withColumn("value", F.col("value") + 1000.0)
    )
    before = files(info)
    t0 = time.time()
    store.merge("bench_silver", "events", batch, ["event_id"])
    merge_s = time.time() - t0
    after = files(info)

    untouched = len(before & after)
    rewritten = len(before - after)
    rows = store.read("bench_silver", "events").count()
    updated = store.read("bench_silver", "events").filter(
        F.col("value") > 999.0
    ).count()

    print(
        {
            "total_files": total_files,
            "files_rewritten": rewritten,
            "files_untouched": untouched,
            "merge_seconds": round(merge_s, 2),
            "rows": rows,
            "rows_updated": updated,
        }
    )

    # Partitioned twin: same table hive-partitioned by event_type; a
    # batch touching ONE type must leave every other partition's
    # files untouched (partition-pruned COW).
    store.create_or_replace(
        "bench_silver", "events_part", events, ["event_id"], ["event_type"]
    )
    pinfo = store.info("bench_silver", "events_part")
    one_type = events.select("event_type").first()["event_type"]
    pbatch = events.filter(
        (F.col("event_type") == one_type) & (F.col("event_id") < batch_rows)
    ).withColumn("value", F.col("value") + 1000.0)
    pbefore = files(pinfo)
    t0 = time.time()
    store.merge("bench_silver", "events_part", pbatch, ["event_id"])
    pmerge_s = time.time() - t0
    pafter = files(pinfo)
    outside = {f for f in pbefore if not f.startswith(f"event_type={one_type}/")}
    print(
        {
            "partitioned_total_files": len(pbefore),
            "partitioned_files_rewritten": len(pbefore - pafter),
            "partitioned_outside_partition_untouched": outside <= pafter,
            "partitioned_merge_seconds": round(pmerge_s, 2),
        }
    )

    import shutil

    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
