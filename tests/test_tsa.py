"""AR forecast-band detectors (TSAArimaDetector analog, reference
TSAArimaDetector.py:32-560 simplified to least-squares AR)."""

from __future__ import annotations

import numpy as np
import pytest

from logdata_anomaly_miner_spark.operators.tsa import (
    ar1_forecast_bands,
    ar_forecast_bands,
    hr_arma_forecast_bands,
)


def _series(spark, vals, key="k"):
    return spark.createDataFrame(
        [(key, w, float(c)) for w, c in enumerate(vals)], "k string, w long, cnt double"
    )


def test_ar1_matches_numpy_ols(spark):
    """Slope/intercept/predictions must equal a plain numpy least-squares
    fit of cnt_t on cnt_{t-1}."""
    rng = np.random.RandomState(3)
    vals = [10.0]
    for _ in range(40):
        vals.append(0.6 * vals[-1] + 4 + rng.uniform(-1, 1))
    out = {r["w"]: r for r in ar1_forecast_bands(_series(spark, vals), ["k"]).collect()}
    x = np.array(vals[:-1])
    y = np.array(vals[1:])
    slope = np.cov(x, y, bias=True)[0, 1] / np.var(x)
    icept = y.mean() - slope * x.mean()
    pred = icept + slope * x
    sigma = float(np.sqrt(np.mean((y - pred) ** 2)))
    for t in range(1, len(vals)):
        assert out[t]["pred"] == pytest.approx(pred[t - 1], rel=1e-9)
        assert out[t]["sigma"] == pytest.approx(sigma, rel=1e-9)
    assert out[0]["pred"] is None and not out[0]["anomaly"]


def test_ar1_flags_burst(spark):
    vals = [10.0, 11.0] * 15 + [60.0, 10.0, 11.0]
    out = {r["w"]: r["anomaly"] for r in ar1_forecast_bands(_series(spark, vals), ["k"]).collect()}
    assert out[30] is True            # the burst
    assert sum(out.values()) <= 3     # burst + its immediate aftershock only


def test_ar1_constant_series_flat_forecast(spark):
    """Zero regressor variance -> regr_slope null -> flat forecast at the
    mean, no anomalies."""
    out = ar1_forecast_bands(_series(spark, [5.0] * 25), ["k"]).collect()
    assert all(not r["anomaly"] for r in out)
    assert all(r["pred"] == 5.0 for r in out if r["pred"] is not None)


def test_ar_p_flags_burst(spark):
    rng = np.random.RandomState(7)
    vals = []
    prev = [10.0, 12.0, 9.0]
    for _ in range(60):
        nxt = 0.3 * prev[-1] + 0.2 * prev[-2] + 0.1 * prev[-3] + 5 + rng.uniform(-0.5, 0.5)
        vals.append(nxt)
        prev.append(nxt)
    vals.append(100.0)  # burst at the end
    out = {r["w"]: r for r in ar_forecast_bands(_series(spark, vals), ["k"], p=3).collect()}
    assert out[len(vals) - 1]["anomaly"] is True
    normal = [w for w, r in out.items() if r["anomaly"] and w != len(vals) - 1]
    assert len(normal) <= 2


def test_hr_ma_matches_numpy_two_stage(spark):
    """ARMA(1,1) Hannan–Rissanen: coefficients and predictions must equal
    the same two-stage procedure done with numpy (stage-1 AR(1) OLS,
    stage-2 OLS of y_t on [y_{t-1}, resid_{t-1}])."""
    rng = np.random.RandomState(11)
    eps = rng.uniform(-1, 1, 60)
    vals = [10.0]
    for t in range(1, 60):
        vals.append(5 + 0.5 * vals[-1] + eps[t] + 0.4 * eps[t - 1])
    y = np.array(vals)
    # stage 1: AR(1)
    x = y[:-1]
    yy = y[1:]
    s1 = np.cov(x, yy, bias=True)[0, 1] / np.var(x)
    i1 = yy.mean() - s1 * x.mean()
    e = np.full(len(y), np.nan)
    e[1:] = yy - (i1 + s1 * x)
    # stage 2: y_t on [y_{t-1}, e_{t-1}] for t >= 2
    x1 = y[1:-1]
    x2 = e[1:-1]
    tgt = y[2:]
    A = np.column_stack([np.ones_like(x1), x1, x2])
    b0, b1, b2 = np.linalg.lstsq(A, tgt, rcond=None)[0]
    pred = b0 + b1 * x1 + b2 * x2
    sigma = float(np.sqrt(np.mean((tgt - pred) ** 2)))
    out = {r["w"]: r for r in hr_arma_forecast_bands(
        _series(spark, vals), ["k"], mode="ma"
    ).collect()}
    for t in range(2, len(vals)):
        assert out[t]["pred"] == pytest.approx(pred[t - 2], rel=1e-7)
        assert out[t]["sigma"] == pytest.approx(sigma, rel=1e-7)
    assert out[0]["pred"] is None and out[1]["pred"] is None


def test_hr_seasonal_fits_cycle(spark):
    """Seasonal AR with S=4 on a period-4 cycle: the seasonal regressor
    makes the fit near-exact, and a broken cycle point alarms."""
    cycle = [10.0, 30.0, 20.0, 5.0]
    vals = cycle * 12
    vals[30] = 60.0  # break the cycle
    out = {r["w"]: r for r in hr_arma_forecast_bands(
        _series(spark, vals), ["k"], mode="seasonal", seasonal_lag=4
    ).collect()}
    assert out[30]["anomaly"]
    clean = {r["w"]: r for r in hr_arma_forecast_bands(
        _series(spark, cycle * 12), ["k"], mode="seasonal", seasonal_lag=4
    ).collect()}
    for w, r in clean.items():
        if r["pred"] is not None:
            assert r["pred"] == pytest.approx(cycle[w % 4], abs=1e-6)
    assert not any(r["anomaly"] for r in clean.values())


def test_hr_constant_series_flat(spark):
    """Singular normal matrix (constant series) -> flat forecast at the
    mean, no anomalies, no ANSI division error."""
    out = hr_arma_forecast_bands(_series(spark, [7.0] * 30), ["k"], mode="ma").collect()
    assert all(not r["anomaly"] for r in out)
    assert all(r["pred"] == 7.0 for r in out if r["pred"] is not None)


def test_ar1_diff_handles_trend(spark):
    """diff=1 (ARIMA d=1 analog): a quadratic trend has stable increments,
    so the differenced AR(1) fits it near-perfectly and an injected spike
    stands out; predictions reconstitute to level space."""
    vals = [float(t * t) for t in range(30)]
    vals[20] += 50.0
    out = {r["w"]: r for r in ar1_forecast_bands(
        _series(spark, vals), ["k"], diff=1, min_train=5
    ).collect()}
    assert out[20]["anomaly"]
    assert not out[5]["anomaly"] and not out[10]["anomaly"]
    # level-space reconstitution on a clean quadratic: increments are 2t-1,
    # the diff-AR(1) is exact (slope 1, icept 2) -> pred == cnt everywhere
    clean = {r["w"]: r for r in ar1_forecast_bands(
        _series(spark, [float(t * t) for t in range(30)]), ["k"], diff=1, min_train=5
    ).collect()}
    assert abs(clean[10]["pred"] - 100.0) < 1e-6
    assert not any(r["anomaly"] for r in clean.values())


def test_arma_pq_recovers_and_flags(spark):
    """ARMA(2,1) via the general applyInPandas Hannan–Rissanen: on a
    synthetic ARMA(2,1) series the in-sample predictions track closely
    (sigma near the innovation scale) and an injected burst flags."""
    from logdata_anomaly_miner_spark.operators.tsa import arma_forecast_bands

    rng = np.random.RandomState(5)
    eps = rng.uniform(-1, 1, 120)
    vals = [10.0, 11.0]
    for t in range(2, 120):
        vals.append(
            4 + 0.5 * vals[-1] + 0.2 * vals[-2] + eps[t] + 0.4 * eps[t - 1]
        )
    vals.append(60.0)  # burst
    out = {r["w"]: r for r in arma_forecast_bands(
        _series(spark, vals), ["k"], p=2, q=1
    ).collect()}
    assert out[len(vals) - 1]["anomaly"] is True
    # sigma is burst-inflated (in-sample fit includes the spike: one ~45
    # residual over ~118 rows ≈ 4.1); still far below the burst residual
    sig = next(r["sigma"] for r in out.values() if r["pred"] is not None)
    assert sig < 5.0
    false_alarms = [w for w, r in out.items() if r["anomaly"] and w != len(vals) - 1]
    assert len(false_alarms) <= 3


def test_arma_seasonal_diff_combination(spark):
    """d=1 + seasonal lag: trend + period-6 cycle fits near-exactly; a
    broken cycle point flags; clean series has no alarms."""
    from logdata_anomaly_miner_spark.operators.tsa import arma_forecast_bands

    cyc = [0.0, 8.0, 3.0, -2.0, 5.0, 1.0]
    clean_vals = [0.5 * t + cyc[t % 6] for t in range(120)]
    vals = list(clean_vals)
    vals[100] += 25.0
    out = {r["w"]: r for r in arma_forecast_bands(
        _series(spark, vals), ["k"], p=1, q=0, d=1, seasonal_lag=6, min_train=10
    ).collect()}
    assert out[100]["anomaly"]
    clean = {r["w"]: r for r in arma_forecast_bands(
        _series(spark, clean_vals), ["k"], p=1, q=0, d=1, seasonal_lag=6, min_train=10
    ).collect()}
    assert not any(r["anomaly"] for r in clean.values())


def test_exact_fits_never_alarm_on_float_noise(spark):
    """The degenerate band: every band operator floors the sigma it
    compares against at a scale-relative epsilon, so an exactly-fitting
    series (sigma and residuals both float noise) raises no alarm. The
    spikes the other tests plant on such series still flag."""
    from logdata_anomaly_miner_spark.operators.tsa import arma_forecast_bands

    cyc = [0.0, 8.0, 3.0, -2.0, 5.0, 1.0]
    clean = [0.5 * t + cyc[t % 6] + 60.0 for t in range(120)]  # y_t = y_{t-6} + 3
    trend = [60.0 + 0.1 * t for t in range(120)]  # constant first difference
    runs = {
        "ar1_d1": lambda v: ar1_forecast_bands(_series(spark, v), ["k"], diff=1),
        "hr_seasonal": lambda v: hr_arma_forecast_bands(
            _series(spark, v), ["k"], mode="seasonal", seasonal_lag=6),
        "ar6": lambda v: ar_forecast_bands(_series(spark, v), ["k"], p=6, min_train=10),
        "arma_d1_seasonal": lambda v: arma_forecast_bands(
            _series(spark, v), ["k"], p=1, q=0, d=1, seasonal_lag=6, min_train=10),
    }
    for name, run in runs.items():
        series = trend if name == "ar1_d1" else clean
        rows = run(series).collect()
        assert not any(r["anomaly"] for r in rows), name
        assert all(r["sigma"] < 1e-6 for r in rows if r["sigma"] is not None), name
