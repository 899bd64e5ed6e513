"""Isolated per-leg timing: median-of-N warm noop-sink passes.

Usage: python tools/time_leg.py <query> [query ...]

Each name is a ``QUERIES`` key. Same methodology as bench.py (construct
+ noop write inside the timed region, one cold pass discarded, median
of N warm passes, N = $SPARK_GRAFT_BENCH_RUNS, default 5) but over only
the named legs, so a measure/fix/re-measure loop costs seconds per leg
instead of a full suite. Each line reports the median total and the
median build time (query construction, including the eager jobs a
query fires while being built). Honors $SPARK_GRAFT_SF_DIR /
$SPARK_GRAFT_CPUS via get_spark, like bench.py.
"""

from __future__ import annotations

import gc
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from gluestick_ts_spark.plans.queries import QUERIES
from gluestick_ts_spark.session import get_spark


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print(__doc__)
        return 2
    n = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5")))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="gluestick-ts-spark-timeleg")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        fn = QUERIES[name]
        samples = []
        builds = []
        for i in range(n + 1):
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            if i > 0:  # first pass is cold (codegen/planning) — drop it
                samples.append(dt)
                builds.append(t1 - t0)
            del df
            gc.collect()
        med = statistics.median(samples)
        bmed = statistics.median(builds)
        print(
            f"{name:<36} median={med:7.3f}s (build {bmed:6.3f}s)  "
            f"samples={[round(s, 3) for s in samples]}",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
