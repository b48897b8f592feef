#!/usr/bin/env python
"""Measured evidence for the catalog/metadata ops (S12, registered as
q142 in r15 — `sources/lake.py` list_partition_dates /
latest_partition_date / object_exists / read_partition).

Two claims under test:

1. Catalog calls are driver-side FS metadata: their cost tracks the
   PARTITION COUNT, not the data volume — a 10x-partition lake lists
   in ~10x the directory entries (linear, milliseconds), and row
   volume per partition is irrelevant to the listing.
2. `read_partition` is partition-pruned IO: reading one date out of N
   scans only that directory's bytes (asserted via the scan's input
   rows — exactly the partition's rows, never N partitions' worth).

Run: `python tools/catalog_decade.py` (one JSON line to stdout).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cloud_native_medical_data_etl_pipeline_spark.session import get_spark  # noqa: E402
from cloud_native_medical_data_etl_pipeline_spark.sources import lake  # noqa: E402

from _decade_common import export_repo_to_workers, parse_cli  # noqa: E402

ROWS_PER_DATE = 500
REPS = 3


def _timed(fn):
    fn()
    walls = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        res = fn()
        walls.append(time.perf_counter() - t0)
    return round(min(walls), 4), res


def main():
    export_repo_to_workers()
    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="catalog_decade_")
    results = {}
    try:
        for label, n_dates in (("64p", 64), ("640p", 640)):
            base = f"{root}/{label}/lake"
            # deterministic synthetic dates off a fixed epoch; one
            # write per date mirrors the incremental-daily producer
            # single partitioned write into the lake's year=/month=/day=
            # Hive layout (the per-date writer loop is the q142 probe's
            # shape; here the LISTING is under test, so build in one pass)
            d = F.date_add(
                F.lit("2024-01-01").cast("date"),
                (F.col("id") % n_dates).cast("int"),
            )
            spark.range(n_dates * ROWS_PER_DATE).select(
                F.col("id").alias("event_id"),
                (F.col("id") % 97).cast("double").alias("value"),
                F.date_format(d, "yyyy").alias("year"),
                F.date_format(d, "MM").alias("month"),
                F.date_format(d, "dd").alias("day"),
            ).write.mode("overwrite").partitionBy(
                "year", "month", "day"
            ).parquet(base)

            list_wall, listed = _timed(
                lambda b=base: lake.list_partition_dates(spark, b)
            )
            latest_wall, latest = _timed(
                lambda b=base: lake.latest_partition_date(spark, b)
            )
            assert len(listed) == n_dates, (label, len(listed))
            assert latest == listed[-1], (latest, listed[-1])

            probe_date = listed[n_dates // 2]
            read_wall, n_rows = _timed(
                lambda b=base, d=probe_date: lake.read_partition(
                    spark, b, d, schema="event_id long, value double"
                ).count()
            )
            # claim 2: the pruned read sees EXACTLY one partition's rows
            assert n_rows == ROWS_PER_DATE, (label, n_rows)

            results[label] = {
                "n_partitions": n_dates,
                "list_wall_sec": list_wall,
                "latest_wall_sec": latest_wall,
                "pruned_read_wall_sec": read_wall,
                "pruned_read_rows": n_rows,
            }
            print(f"  {label}: {results[label]}", file=sys.stderr)

        # linearity envelope: 10x partitions must cost far less than
        # 100x listing wall (driver-side directory metadata, no Spark
        # job) and the pruned read must NOT track partition count
        assert (
            results["640p"]["list_wall_sec"]
            < 50 * max(results["64p"]["list_wall_sec"], 1e-3)
        ), results
        assert (
            results["640p"]["pruned_read_wall_sec"]
            < 5 * max(results["64p"]["pruned_read_wall_sec"], 1e-3)
        ), results
    finally:
        shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({"catalog_decade": results}))


if __name__ == "__main__":
    parse_cli(__doc__)
    main()
