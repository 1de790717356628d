"""Per-query profiler: time, Spark-job count, and driver cProfile hotspots.

Usage:
    python tools/profile_query.py q1_pricing_summary delta_merge_upsert ...
    python tools/profile_query.py --sf /root/testdata/sf0.1 --cprofile name

For each named query this prints:
  wall seconds, number of Spark jobs launched, number of stages/tasks,
  and (with --cprofile) the top driver-side cumulative-time functions,
  split between py4j socket wait (JVM work) and Python compute.
"""

from __future__ import annotations

import argparse
import cProfile
import io
import os
import pstats
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distributed_database_for_sql_spark.queries import registry  # noqa: E402
from distributed_database_for_sql_spark.session import get_spark  # noqa: E402


def next_job_id(spark):
    """The id the scheduler gives the next job.  Ids are allocated in
    order across every job group, so the jobs a call launched are the
    ids between two reads — including a stream's micro-batch jobs,
    which run under the stream's own job group."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cprofile", action="store_true")
    ap.add_argument("--repeat", type=int, default=1)
    args = ap.parse_args()

    spark = get_spark("profile")
    specs = registry()
    # warm up (mirrors bench.py): JVM, scan, pandas-UDF worker pool
    spark.read.parquet(os.path.join(args.sf, "lineitem.parquet")).count()
    from pyspark.sql import functions as F
    import pandas as pd

    def _noop(s):
        return s

    _noop.__annotations__ = {"s": pd.Series, "return": pd.Series}
    spark.range(32).select(F.pandas_udf(_noop, "long")(F.col("id"))).count()

    for name in args.names:
        spec = specs[name]
        for rep in range(args.repeat):
            first_job = next_job_id(spark)
            prof = cProfile.Profile() if args.cprofile else None
            t0 = time.time()
            if prof:
                prof.enable()
            df = spec.fn(spark, args.sf)
            n = df.count()
            if prof:
                prof.disable()
            wall = time.time() - t0
            st = spark.sparkContext.statusTracker()
            # an id with no job info ran no job (e.g. zero partitions)
            jobs = [ji for ji in map(st.getJobInfo,
                                     range(first_job, next_job_id(spark)))
                    if ji is not None]
            njobs = len(jobs)
            # per-job wall estimate via job info (submission->completion
            # not exposed; report stage/task counts instead)
            nstages = 0
            ntasks = 0
            for ji in jobs:
                for sid in ji.stageIds:
                    si = st.getStageInfo(sid)
                    if si is not None:
                        nstages += 1
                        ntasks += si.numTasks
            print(f"== {name} rep{rep}: {wall:.3f}s  jobs={njobs} "
                  f"stages={nstages} tasks={ntasks} rows={n}",
                  flush=True)
            if prof:
                s = io.StringIO()
                ps = pstats.Stats(prof, stream=s).sort_stats("cumulative")
                ps.print_stats(30)
                print(s.getvalue())


if __name__ == "__main__":
    main()
