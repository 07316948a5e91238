"""Warehouse-maintenance tour — the platform jobs that run AROUND the
analytics: dimension builds, data-quality gates, reconciliation, layout
optimization, and skew diagnostics, composed as lazy plans:

    events  -> SCD2 user-state dimension (type-2 intervals)
    orders  -> one-pass column profile (the ANALYZE TABLE job)
            -> content checksum per status (prod-vs-replica reconciliation)
            -> snapshot diff (yesterday vs today: added/removed/changed)
    lineitem-> join-key skew report (before choosing broadcast/salting)
            -> Z-order bucket locality stats (data-skipping layout)
    dq      -> referential-integrity / uniqueness / null-rate assertions

Run: python examples/warehouse_demo.py [sf_dir]
"""
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tsgen.io import read_table
from tsgen.queries_quality import dq_checks
from tsgen.queries_warehouse import (
    key_skew,
    scd2_intervals,
    table_checksum,
    zorder_cluster_stats,
)
from tsgen.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("warehouse-demo")

    print("== SCD2 user-state dimension (first 5 closed intervals) ==")
    scd2 = scd2_intervals(read_table(spark, sf_dir, "events"))
    scd2.filter("NOT is_current").orderBy("user_id", "version").show(5)
    n_users = scd2.filter("is_current").count()
    print(f"open intervals (one per active user): {n_users}")

    print("== column profile: orders ==")
    from tsgen.queries_warehouse import _q_table_profile

    _q_table_profile(spark, sf_dir).show(truncate=False)

    print("== content checksums per order status ==")
    table_checksum(read_table(spark, sf_dir, "orders")).show(truncate=False)

    print("== snapshot diff (synthetic yesterday vs today) ==")
    from tsgen.queries_warehouse import _q_snapshot_diff

    _q_snapshot_diff(spark, sf_dir).show()

    print("== lineitem join-key skew (top 5 partkeys) ==")
    key_skew(read_table(spark, sf_dir, "lineitem"), "l_partkey", top_n=5).show()

    print("== Z-order bucket locality (partkey x suppkey) ==")
    st = zorder_cluster_stats(
        read_table(spark, sf_dir, "lineitem"), "l_partkey", "l_suppkey"
    ).orderBy("bucket")
    st.show(8)

    print("== data-quality gate ==")
    dq = dq_checks(spark, sf_dir)
    dq.show(truncate=False)
    bad = dq.filter("NOT passed").count()
    print("ALL CHECKS PASSED" if bad == 0 else f"{bad} CHECKS FAILED")


if __name__ == "__main__":
    main()
