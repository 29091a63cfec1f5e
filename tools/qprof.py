"""Per-query profiler: isolate one or more registry queries with the
noop sink (guide §1.4) and capture .explain('formatted') to a file.

Usage:
  python tools/qprof.py [--sf DIR] [--plans OUTDIR] [--suffix TAG]
                        [--repeats N] name [name ...]

For each query: builds the DataFrame, writes the formatted plan to
OUTDIR/<name>_<TAG>.txt (if --plans given), then times N noop-sink
writes (df.write.format('noop')) and prints per-run + median seconds.
Unlike bench.py's count(), the noop sink computes every column, so
this is the isolation tool, not the headline methodology.
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

    for name in args.names:
        if name not in queries:
            print(f"{name}: NOT IN REGISTRY", flush=True)
            continue
        fn = queries[name]
        spark.sparkContext.setJobDescription(f"qprof:{name}")
        df = fn(spark, args.sf)
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
        med = sorted(runs)[len(runs) // 2]
        print(f"{name}: median {med}s of {runs}", flush=True)
        spark.sparkContext.setJobDescription(None)
    spark.stop()


if __name__ == "__main__":
    main()
