"""Solo per-query wall measurement (the PERF.md adjudication protocol):
noise_ref bracket + N reps with the noop sink, median + spread per query.

Usage: python tools/solo_measure.py [-n REPS] name [name ...]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    args = sys.argv[1:]
    reps = 5
    if args and args[0] == "-n":
        reps = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from apache_beam_challange_spark.session import get_spark
    import __spark_entry__ as e

    spark = get_spark("solo_measure")
    qs = e.all_queries()

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    def noise():
        walls = []
        for _ in range(5):
            t0 = time.time()
            noop(
                spark.read.parquet(f"{sf_dir}/lineitem.parquet").groupBy(
                    "l_returnflag"
                ).count()
            )
            walls.append(time.time() - t0)
        return round(statistics.median(walls), 3)

    def steal():
        f = open("/proc/stat").readline().split()
        return int(f[8]), sum(int(x) for x in f[1:9])

    print(f"noise_ref(pre) = {noise()}")
    for name in args:
        spark.sparkContext.setJobDescription(f"solo:{name}")
        walls = []
        s0, j0 = steal()
        for _ in range(reps):
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            noop(df)
            walls.append(time.time() - t0)
        s1, j1 = steal()
        spark.sparkContext.setJobDescription(None)
        print(
            f"{name}: median {statistics.median(walls):.3f} "
            f"min {min(walls):.3f} max {max(walls):.3f} "
            f"walls {[round(w, 2) for w in walls]} "
            f"steal {100 * (s1 - s0) / max(1, j1 - j0):.1f}%"
        )
    print(f"noise_ref(post) = {noise()}")


if __name__ == "__main__":
    main()
