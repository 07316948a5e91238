"""Scalar-reference tests for the retail analytics operators
(tsgen/queries_retail.py)."""
import datetime

from tsgen.queries_retail import basket_rules, rfm_segments


def _d(s):
    return datetime.datetime.fromisoformat(s)


def test_rfm_quartiles_hand_checked(spark):
    # 8 customers, engineered so quartile membership is unambiguous:
    # custkey k has k orders of 100*k each, last order k days before gmax.
    rows = []
    gmax = _d("2020-01-31")
    for k in range(1, 9):
        for i in range(k):
            rows.append(
                (k * 1000 + i, k, "O", 100.0 * k, gmax - datetime.timedelta(days=k), "P")
            )
    orders = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    out = rfm_segments(orders).collect()
    # customer k: r_days = k (asc -> cust 1,2 in quartile 1), freq = k
    # (desc -> cust 8,7 in quartile 1), monetary = 100*k^2 (same order as
    # freq). So cells are (1,4,4) for custs {1,2}, (2,3,3) for {3,4}, etc.
    cells = {(r.r, r.f, r.m): r for r in out}
    assert set(cells) == {(1, 4, 4), (2, 3, 3), (3, 2, 2), (4, 1, 1)}
    assert all(r.n_customers == 2 for r in out)
    top = cells[(4, 1, 1)]  # customers 7 and 8
    assert abs(top.avg_freq - 7.5) < 1e-9
    assert abs(top.avg_monetary - (4900.0 + 6400.0) / 2) < 1e-9


def test_basket_rules_counts_and_lift(spark):
    # 4 baskets over items attached to brands A/B/C:
    #   o1: A,B   o2: A,B   o3: A,C   o4: B
    part = spark.createDataFrame(
        [(1, "A"), (2, "B"), (3, "C")], "p_partkey long, p_brand string"
    )
    li = spark.createDataFrame(
        [(1, 1), (1, 2), (2, 1), (2, 2), (3, 1), (3, 3), (4, 2), (4, 2)],
        "l_orderkey long, l_partkey long",
    )
    out = {(r.brand_a, r.brand_b): r for r in basket_rules(li, part, minsup_inv=4).collect()}
    # counts: A in 3, B in 3, C in 1; AB in 2, AC in 1; minsup 1/4 keeps both
    ab, ac = out[("A", "B")], out[("A", "C")]
    assert ab.n_ab == 2 and ac.n_ab == 1
    assert abs(ab.support - 2 / 4) < 1e-12
    assert abs(ab.conf_ab - 2 / 3) < 1e-12  # P(B|A)
    assert abs(ab.conf_ba - 2 / 3) < 1e-12
    assert abs(ab.lift - (4 * 2) / (3 * 3)) < 1e-12
    assert abs(ac.lift - (4 * 1) / (3 * 1)) < 1e-12
    # duplicate lineitem rows in o4 must not double-count B
    assert ("B", "C") not in out or out[("B", "C")].n_ab == 0


def test_supplier_hhi_monopoly_vs_uniform(spark):

    from tsgen.queries_retail import supplier_hhi

    li = spark.createDataFrame(
        # nation 0: one supplier takes all -> HHI 10000
        # nation 1: two equal suppliers -> HHI 5000
        [(1, 100.0, 0.0), (1, 50.0, 0.0),
         (2, 70.0, 0.0), (3, 70.0, 0.0)],
        "l_suppkey long, l_extendedprice double, l_discount double",
    )
    sup = spark.createDataFrame(
        [(1, 0), (2, 1), (3, 1)], "s_suppkey long, s_nationkey long"
    )
    nat = spark.createDataFrame(
        [(0, "MONO"), (1, "DUO")], "n_nationkey long, n_name string"
    )
    out = {r.nation: r for r in supplier_hhi(li, sup, nat).collect()}
    assert out["MONO"].hhi == 10000.0 and out["MONO"].band == "concentrated"
    assert out["DUO"].hhi == 5000.0 and out["DUO"].band == "concentrated"
    assert out["MONO"].n_suppliers == 1 and out["DUO"].n_suppliers == 2


def test_wagner_whitin_hand_computed(spark):
    from tsgen.queries_retail import wagner_whitin

    # T = 4 quarters of 1994. Part 2 (unit price 100 -> h = 5.0/quarter):
    # demands Q1+Q4; holding 3 quarters costs 150 > S=75+75, so TWO setups
    # at cost 150. Part 1 (unit price 50 -> h = 2.5): demands Q1+Q3;
    # holding 2 quarters costs 50 < 75, so ONE setup at cost 125.
    rows = [
        (1, 1, 10.0, 500.0, "1994-01-15"),
        (2, 1, 10.0, 500.0, "1994-07-15"),
        (3, 2, 10.0, 1000.0, "1994-01-15"),
        (4, 2, 10.0, 1000.0, "1994-10-15"),
    ]
    li = spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_quantity double,"
        " l_extendedprice double, l_shipdate string",
    )
    out = {r.abc_class: r for r in wagner_whitin(li).collect()}
    # revenue: part2 = 2000 (cum 2/3 <= 0.8 -> A), part1 -> C
    assert out["A"].n_parts == 1 and out["C"].n_parts == 1
    assert out["A"].avg_n_setups == 2.0 and out["A"].avg_ww_cost == 150.0
    assert out["C"].avg_n_setups == 1.0 and out["C"].avg_ww_cost == 125.0
