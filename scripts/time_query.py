"""Per-query timing harness for the optimization loop (guide §1.4).

Times each named registry query, build plus noop-sink write (eager build
work such as checkpoints and staged writes counts), N materializations
(fresh build each time, same session), printing every run plus the min —
min-of-N in one session cancels host drift far better than two separate
whole-registry runs, so before/after comparisons for a single query should
use this.

Usage: python scripts/time_query.py [-n N] [sf_dir] query [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    n = 5
    if args and args[0] == "-n":
        n = int(args[1])
        del args[:2]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args[0]
        del args[0]
    names = args
    if not names:
        print("usage: python scripts/time_query.py [-n N] [sf_dir] query ...")
        return 2

    from smartpool_bigdata_spark.queries import REGISTRY
    from smartpool_bigdata_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="time-query", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up: JVM, footer cache, Python worker pool.
    from pyspark.sql import functions as F

    from smartpool_bigdata_spark.catalog import load_table

    spark.range(1_000_000).groupBy(F.col("id") % 7).count().write.format(
        "noop"
    ).mode("overwrite").save()
    load_table(spark, sf_dir, "lineitem").limit(1000).write.format(
        "noop"
    ).mode("overwrite").save()
    spark.range(256).repartition(int(cpus)).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    from smartpool_bigdata_spark.ops.text import release_signature_caches

    for name in names:
        q = REGISTRY[name]
        runs = []
        for _ in range(n):
            t0 = time.perf_counter()
            df = q.build(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            release_signature_caches()
            spark.catalog.clearCache()
        print(
            f"{name}: min={min(runs):.3f}  "
            + " ".join(f"{r:.3f}" for r in runs)
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
