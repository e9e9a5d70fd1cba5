"""A/B: station_dbscan_clusters (and the CC family) with AQE on vs off
for the whole query — measurement harness for VERDICT r13 #6 (the LSS
loop's per-round AQE replanning on a tiny contracted graph may be pure
overhead). Brackets with noise_ref and /proc/stat steal like
tools/solo_measure.py.

Usage: python tools/dbscan_aqe_ab.py [-n REPS] name [name ...]
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
    reps = 3
    if args and args[0] == "-n":
        reps = int(args[1])
        args = args[2:]
    names = args or ["station_dbscan_clusters"]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from apache_beam_challange_spark import session as sess
    from apache_beam_challange_spark.session import get_spark
    import __spark_entry__ as e

    spark = get_spark("dbscan_aqe_ab")
    qs = e.all_queries()

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    def noise():
        walls = []
        for _ in range(5):
            t0 = time.time()
            noop(
                spark.read.parquet(f"{sf_dir}/lineitem.parquet")
                .groupBy("l_returnflag")
                .count()
            )
            walls.append(time.time() - t0)
        return round(statistics.median(walls), 3)

    def steal():
        f = open("/proc/stat").readline().split()
        return int(f[8]), sum(int(x) for x in f[1:9])

    def run(name, label):
        walls = []
        s0, j0 = steal()
        for _ in range(reps):
            t0 = time.time()
            noop(qs[name](spark, sf_dir))
            walls.append(time.time() - t0)
        s1, j1 = steal()
        print(
            f"{name} [{label}]: median {statistics.median(walls):.3f} "
            f"walls {[round(w, 2) for w in walls]} "
            f"steal {100 * (s1 - s0) / max(1, j1 - j0):.1f}%"
        )

    print(f"noise_ref(pre) = {noise()}")
    for name in names:
        run(name, "aqe_on")
    # flip AQE off for the whole session; load_table would force it back
    # on via RUNTIME_CONFS, so patch that too (experiment only)
    sess.RUNTIME_CONFS = {
        **sess.RUNTIME_CONFS,
        "spark.sql.adaptive.enabled": "false",
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    for name in names:
        run(name, "aqe_off")
    sess.RUNTIME_CONFS = {
        **sess.RUNTIME_CONFS,
        "spark.sql.adaptive.enabled": "true",
    }
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    for name in names:
        run(name, "aqe_on2")
    print(f"noise_ref(post) = {noise()}")


if __name__ == "__main__":
    main()
