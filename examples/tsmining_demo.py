"""Time-series mining tour — the diagnostics a TS engine runs on raw event
telemetry and on generated series, composed from this round's operators:

    events  -> Lomb-Scargle periodogram (irregular sampling, no FFT grid)
            -> inter-arrival burstiness per event type
            -> technical indicators / peak detection / max drawdown per user
            -> hourly Poisson rate anomalies + M4 dashboard envelope
    series  -> Welch PSD, PACF (Durbin-Levinson), Ljung-Box, Mann-Kendall,
               Hurst exponent, Engle-Granger cointegration sweep
            -> GARCH(1,1) volatility + ARMA(1,1) innovations
            -> rolling-origin SES backtest (MAE/RMSE/MASE)

Run: python examples/tsmining_demo.py [sf_dir]
"""
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tsgen import forecast, generators
from tsgen.io import read_table
from tsgen.queries_tsmining import (
    gap_stats,
    hurst_rs,
    ljung_box,
    lombscargle,
    m4_downsample,
    mann_kendall,
    max_drawdown,
    pacf_durbin_levinson,
    peak_detect,
    rate_anomaly,
    welch_psd,
)
from tsgen.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("tsmining-demo")
    ev = read_table(spark, sf_dir, "events")

    print("== Lomb-Scargle periodogram (top period per type) ==")
    ls = lombscargle(ev)
    ls.orderBy("event_type", "period_hours").createOrReplaceTempView("ls")
    spark.sql(
        "SELECT event_type, period_hours, round(power_norm, 3) AS power_norm "
        "FROM (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY power DESC) rn FROM ls) "
        "WHERE rn = 1"
    ).show()

    print("== inter-arrival burstiness ==")
    gap_stats(ev).select("event_type", "mean_gap_s", "cv", "burstiness").show()

    print("== peaks / drawdowns (first users) ==")
    peak_detect(ev).orderBy("user_id", "ts_us").show(5)
    max_drawdown(ev).orderBy("user_id").show(5)

    print("== hourly rate anomalies + M4 envelope buckets ==")
    rate_anomaly(ev).show(5)
    m4_downsample(ev).orderBy("event_type", "bucket_s").show(5)

    df = generators.generate(spark, 8, 256, "mixed")
    print("== spectral / memory / stationarity diagnostics ==")
    welch_psd(df).orderBy("series_id", "k").show(5)
    pacf_durbin_levinson(df).orderBy("series_id", "lag").show(8)
    ljung_box(df).orderBy("series_id").show(4)
    mann_kendall(df).orderBy("series_id").show(4)
    hurst_rs(df).orderBy("series_id").show(4)

    print("== volatility + innovations + backtest ==")
    forecast.garch_filter(df).orderBy("series_id", "t").show(5)
    forecast.arma11_filter(df).orderBy("series_id", "t").show(5)
    forecast.ses_backtest(df).orderBy("series_id").show(8)


if __name__ == "__main__":
    main()
