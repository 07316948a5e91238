"""Product-analytics tour over the events stream — the operators an
engineer points at 100 TB of telemetry, composed as lazy plans:

    events
      -> engagement:    DAU / rolling-7-day WAU / stickiness
      -> behaviour:     Markov event transitions, top first-3-event paths
      -> retention:     activity streaks (gaps-and-islands)
      -> signal health: CUSUM changepoints, robust MAD outliers,
                        autocorrelation, delta/delta-of-delta codec stats

Run: python examples/events_analytics_demo.py [sf_dir]
"""
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from tsgen import queries_paths as qp
from tsgen.io import read_table
from tsgen.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("events-analytics-demo")
    ev = read_table(spark, sf_dir, "events")

    wau = qp.wau(ev).orderBy("day_s")
    print("== engagement (first 5 days) ==")
    wau.show(5, truncate=False)

    print("== top 5 event transitions by probability mass ==")
    qp.event_transitions(ev).orderBy(F.desc("n")).show(5, truncate=False)

    print("== top 5 first-3-event paths ==")
    qp.user_paths(ev).orderBy(F.desc("n_users")).show(5, truncate=False)

    print("== longest activity streaks ==")
    qp.streaks(ev).orderBy(F.desc("longest_streak")).show(5, truncate=False)

    print("== strongest changepoints (CUSUM) ==")
    qp.cusum(ev).orderBy(F.desc("max_abs_s")).show(5, truncate=False)

    n_out = (
        qp.outliers_mad(ev).agg(F.sum("n_outliers").alias("n")).collect()[0].n
    )
    flat = (
        qp.delta_stats(ev)
        .agg(F.avg("dod_zero_frac").alias("f"))
        .collect()[0]
        .f
    )
    print(f"robust outliers across all series: {n_out}")
    print(f"mean delta-of-delta-zero fraction (timestamp regularity): {flat:.3f}")


if __name__ == "__main__":
    main()
