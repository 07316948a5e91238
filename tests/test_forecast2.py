"""Scalar-reference tests for the forecasting toolkit part 2
(tsgen/queries_forecast2.py): benchmark accuracy, Croston."""
import numpy as np

from tsgen.queries_forecast2 import croston_forecast, forecast_accuracy


def test_accuracy_scalar_reference(spark):
    rng = np.random.default_rng(5)
    y = rng.normal(size=12).cumsum()
    train_n, season = 8, 4
    rows = [(7, t, float(v)) for t, v in enumerate(y)]
    df = spark.createDataFrame(rows, "series_id long, t long, value double")
    out = {
        r.method: r
        for r in forecast_accuracy(df, train_n=train_n, season=season).collect()
    }
    assert set(out) == {"naive", "snaive", "drift"}
    test = y[train_n:]
    scale = np.mean(np.abs(np.diff(y[:train_n])))
    preds = {
        "naive": np.full(4, y[train_n - 1]),
        "snaive": y[train_n - season : train_n],
        "drift": y[train_n - 1]
        + np.arange(1, 5) * (y[train_n - 1] - y[0]) / (train_n - 1),
    }
    for m, yhat in preds.items():
        e = yhat - test
        assert abs(out[m].mae - np.mean(np.abs(e))) < 1e-9, m
        assert abs(out[m].rmse - np.sqrt(np.mean(e * e))) < 1e-9, m
        smape = np.mean(2 * np.abs(e) / (np.abs(test) + np.abs(yhat)))
        assert abs(out[m].smape - smape) < 1e-9, m
        assert abs(out[m].mase - np.mean(np.abs(e)) / scale) < 1e-9, m


def test_croston_matches_recursion(spark):
    # intermittent demand: replay the textbook SES recursions and compare
    # with the closed-form weighted-sum the query computes.
    alpha = 0.3
    demands = {3: 2.0, 7: 1.5, 8: 4.0, 15: 2.5}  # t -> size
    rows = [(1, t, demands.get(t, 0.0)) for t in range(20)]
    df = spark.createDataFrame(rows, "series_id long, t long, demand double")
    out = croston_forecast(df, alpha=alpha).collect()[0]
    ts = sorted(demands)
    sizes = [demands[t] for t in ts]
    gaps = [ts[0] + 1] + [b - a for a, b in zip(ts, ts[1:])]
    z, p = sizes[0], float(gaps[0])
    for s, g in zip(sizes[1:], gaps[1:]):
        z = alpha * s + (1 - alpha) * z
        p = alpha * g + (1 - alpha) * p
    assert out.n_arrivals == 4
    assert abs(out.z_hat - z) < 1e-12
    assert abs(out.p_hat - p) < 1e-12
    assert abs(out.rate - z / p) < 1e-12


def test_reconcile_coherence_properties(spark):
    from pyspark.sql import functions as F
    from tsgen.forecast import ses_forecast  # noqa: F401 (sanity import)
    from tsgen.queries_forecast2 import forecast_reconcile
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    for h in range(72):
        for et, base in (("a", 10.0), ("b", 20.0), ("c", 5.0)):
            eid += 1
            rows.append((eid, t0 + datetime.timedelta(hours=h), 1, et, base + 0.1 * h, "{}"))
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    out = {r.node: r for r in forecast_reconcile(ev).collect()}
    assert set(out) == {"a", "b", "c", "total"}
    tot = out["total"]
    # bottom-up total is EXACTLY the sum of leaf base forecasts (coherent)
    assert abs(tot.bu_fc - sum(out[n].base_fc for n in "abc")) < 1e-6
    # top-down leaves sum EXACTLY to the total base forecast (coherent)
    assert abs(sum(out[n].td_fc for n in "abc") - tot.base_fc) < 1e-6
    # shares reflect the planted 10/20/5 mix and sum to 1
    assert abs(sum(out[n].share for n in "abc") - 1.0) < 1e-9
    assert out["b"].share > out["a"].share > out["c"].share
    # base forecasts of leaves track their level ordering
    assert out["b"].base_fc > out["a"].base_fc > out["c"].base_fc


def test_prophet_lite_recovers_planted_trend_break_and_seasonality(spark):
    import math

    from pyspark.sql import functions as F

    from tsgen.queries_forecast2 import prophet_lite

    # planted: level 100, slope +60/30 per t-unit until t=19, then +150/30,
    # plus weekly wave 20*sin(2*pi*t/7)
    rows = []
    eid = 0
    for t in range(30):
        base = 100 + 2 * t + (5 - 2) * max(0, t - 19)
        n = int(round(base + 20 * math.sin(2 * math.pi * t / 7)))
        for _ in range(n):
            rows.append((eid, f"2024-01-{t + 1:02d} 06:00:00", eid % 5, "view", 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r.feature: r.beta for r in prophet_lite(ev).collect()}
    # lambda = 1e-4 is numerical-only, so the OLS slopes identify
    assert abs(out["trend"] - 60.0) < 6.0               # segment-1 slope
    assert abs(out["trend"] + out["hinge_10"] - 60.0) < 6.0   # segment-2 slope
    assert abs(out["hinge_19"] - 90.0) < 10.0           # slope change at 19
    assert abs(out["sin_weekly"] - 20.0) < 2.0
    assert abs(out["cos_weekly"]) < 3.0
    assert out["rmse"] < 2.0                            # near-exact fit


def test_prophet_forecast_continues_pattern(spark):
    import math

    from pyspark.sql import functions as F

    from tsgen.queries_forecast2 import prophet_forecast

    rows = []
    eid = 0
    for t in range(30):
        n = int(round(100 + 2 * t + 20 * math.sin(2 * math.pi * t / 7)))
        for _ in range(n):
            rows.append((eid, f"2024-01-{t + 1:02d} 06:00:00", eid % 5, "view", 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    out = sorted(prophet_forecast(ev).collect(), key=lambda r: r.t)
    assert [r.t for r in out] == list(range(30, 37))
    for r in out:
        truth = 100 + 2 * r.t + 20 * math.sin(2 * math.pi * r.t / 7)
        assert abs(r.yhat - truth) < 6.0        # extrapolates the pattern
        assert r.lo < r.yhat < r.hi
        assert (r.hi - r.lo) < 20.0             # tight band on a clean fit
