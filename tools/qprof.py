"""Per-query profiler: isolate one or more registry queries with the
noop sink (guide §1.4) and capture .explain('formatted') to a file.

Usage:
  python tools/qprof.py [--sf DIR] [--plans OUTDIR] [--suffix TAG]
                        [--repeats N] name [name ...]

For each query: builds the DataFrame, counting the jobs the build
starts (its builder jobs: pins, counts, collects, schema inference),
writes the formatted plan to OUTDIR/<name>_<TAG>.txt (if --plans
given), then times N noop-sink writes (df.write.format('noop')) and
prints per-run + median seconds. Unlike bench.py's count(), the noop
sink computes every column, so this is the isolation tool, not the
headline methodology. The first build of each query runs in a session
where the queries before it already filled the shared memos, so the
queries' order matters; the last line sums the builder jobs.

Builder-job census of the headline queries (no timed runs), with DIR
holding the sf0.001 tables:
  python tools/qprof.py --sf DIR --repeats 0 \
      $(python -c 'import bench; print(*bench.HEADLINE)')
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans", default=None, help="directory for explain output")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--fresh", action="store_true",
                    help="restart caches per query is NOT possible in-process; "
                    "flag only documents intent")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    from redshells_spark import get_spark_session
    from redshells_spark.queries import get_queries

    spark = get_spark_session("qprof")
    spark.sparkContext.setLogLevel("ERROR")
    queries = get_queries()
    # same warmup as bench.py, plus one pandas UDF: otherwise the first
    # Python-UDF query in the list pays the Python worker start-up
    spark.read.parquet(f"{args.sf}/lineitem.parquet").count()
    spark.range(1).mapInPandas(lambda batches: batches, "id long").collect()

    sc = spark.sparkContext
    built, build_jobs, no_job = 0, 0, 0
    for name in args.names:
        if name not in queries:
            print(f"{name}: NOT IN REGISTRY", flush=True)
            continue
        fn = queries[name]
        group = f"qprof:build:{name}"
        sc.setJobGroup(group, f"qprof:{name}")  # the description outlives the group
        t0 = time.time()
        df = fn(spark, args.sf)
        build_s = time.time() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        built, build_jobs, no_job = built + 1, build_jobs + jobs, no_job + (jobs == 0)
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.plans, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(plan)
        runs = []
        for _ in range(args.repeats):
            t0 = time.time()
            df = fn(spark, args.sf)
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
        timed = f", median {sorted(runs)[len(runs) // 2]}s of {runs}" if runs else ""
        print(f"{name}: build {build_s:.3f}s {jobs} jobs{timed}", flush=True)
        sc.setJobDescription(None)
    print(f"builder jobs: {build_jobs} over {built} queries, {no_job} built with none", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
