"""Per-query Spark JOB COUNT tracer (guide §1.2: at ~120 ms dispatch
per job on this box, lifecycle queries are job-count bound — count
them deterministically instead of re-litigating wall-clock noise).

Usage:
    python tools/job_trace.py q_upsert_recount q_store_compaction ...

Prints one line per query: name, jobs, wall seconds, rows. Job count
is measured by diffing the session-global job-id high-water mark via
the status tracker (job ids are monotonically assigned), after a
warm-up query has already initialized the session.
"""

from __future__ import annotations

import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "28g")

from updatable_persistent_map_reduce_spark.operators import all_queries  # noqa: E402
from updatable_persistent_map_reduce_spark.session import get_spark  # noqa: E402


def _max_job_id(sc) -> int:
    ids = sc.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]
    flags = [a for a in names if a.startswith("--")]
    if flags:
        sys.exit(f"unknown option(s) {flags}: pass query names only")
    spark = get_spark("upmr-jobtrace")
    sc = spark.sparkContext
    # Warm: JVM codegen, parquet stack, Arrow workers (mirrors bench.py)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).collect()
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _warm(x: pd.Series) -> pd.Series:
        return x

    spark.range(10_000).select(F.sum(_warm("id"))).collect()

    qs = all_queries()
    from updatable_persistent_map_reduce_spark.operators import incremental

    for name in names:
        spark.catalog.clearCache()
        incremental._VIEW_CACHE.clear()
        incremental._TT_CACHE.clear()
        before = _max_job_id(sc)
        t0 = time.perf_counter()
        rows = len(qs[name].fn(spark, sf_dir).collect())
        dt = time.perf_counter() - t0
        jobs = _max_job_id(sc) - before
        print(f"{name}: jobs={jobs} wall={dt:.2f}s rows={rows}", flush=True)


if __name__ == "__main__":
    main()
