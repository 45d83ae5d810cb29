"""Time-series forecast-band detectors (TSAArima analog).

Re-expresses the intent of TSAArimaDetector / PathArimaDetector
(aminer/analysis/TSAArimaDetector.py:32-560, PathArimaDetector.py:35-419):
fit a time-series model to each key's event-count series, forecast a
confidence band, and flag counts outside it. The reference fits statsmodels
ARIMA; statsmodels is not available here and a full MLE ARIMA is the wrong
shape for a 10¹²-row engine anyway, so two honest batch analogs:

- ``ar1_forecast_bands`` — AR(1) with intercept, fitted per key as plain
  least squares via the built-in regr_slope / regr_intercept aggregates:
  100% declarative (one window pass + one aggregation, whole-stage
  codegen), DuckDB-oracle-checkable, and the right default at scale.
- ``ar_forecast_bands`` — AR(p) per key via applyInPandas (numpy lstsq on
  the normal equations): one Arrow batch per key, keys distribute; for
  the minority of keys that genuinely need longer memory.

Both fit on the full series and flag in-sample one-step-ahead residuals
beyond z·σ (the reference's rolling-refit cadence collapses to per-batch
refits in a batch engine — a DOCUMENTED simplification of ARIMA(p,d,q) to
AR(p) on the already-windowed counts).
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from logdata_anomaly_miner_spark.operators.base import SIGMA_REL_FLOOR, band_sigma


def _band_sigma_np(sigma: float, lvl: np.ndarray) -> float:
    """band_sigma for the pandas fits; the scale is the key's max |count|."""
    return max(sigma, SIGMA_REL_FLOOR * float(np.max(np.abs(lvl))))


def ar1_forecast_bands(
    counts: DataFrame,
    key_cols: Sequence[str],
    z: float = 1.96,
    min_train: int = 10,
    cnt_col: str = "cnt",
    w_col: str = "w",
    diff: int = 0,
) -> DataFrame:
    """AR(1) forecast bands per key over a (key, w, cnt) window-count table.

    pred_t = intercept + slope·cnt_{t-1}; sigma = stddev_pop of in-sample
    residuals; anomaly ⟺ |cnt_t − pred_t| > z·sigma and the key has at
    least ``min_train`` training pairs. Constant series (zero variance in
    the regressor) get a null slope from regr_slope — treated as
    pred = mean (slope 0), matching the flat-forecast intuition.

    ``diff=1`` is the ARIMA d=1 analog (the reference defaults to
    ARIMA(p,d,q) with d forcible, TSAArimaDetector.py:32-560): the AR(1)
    is fitted on the FIRST DIFFERENCE Δ_t = cnt_t − cnt_{t−1} and the
    level forecast is reconstituted as pred_t = cnt_{t−1} + Δ̂_t — a
    trending series whose increments are stable no longer alarms on every
    window the way a level-AR fit would."""
    w_ord = Window.partitionBy(*key_cols).orderBy(w_col)
    lvl = F.col(cnt_col).cast("double")
    if diff == 0:
        d = counts.withColumn("_y", lvl).withColumn(
            "_base", F.lit(0.0)
        )
    elif diff == 1:
        d = counts.withColumn("_prev", F.lag(lvl).over(w_ord)).withColumn(
            "_y", lvl - F.col("_prev")
        ).withColumn("_base", F.col("_prev"))
    else:
        raise ValueError("diff must be 0 or 1")
    # The lagged frame feeds three plan branches (fit aggregation, the
    # scored join, the sigma aggregation); Catalyst does not CSE duplicated
    # subplans, so without a materialization every branch re-runs the
    # exchange+sort+window (and whatever lineage ``counts`` carries).
    # Eager localCheckpoint: the frame is |windows|·|keys| rows (bounded by
    # time span, not data volume), computed exactly once; blocks are
    # ContextCleaner-freed when the result is dropped (guide §2.4, §5).
    d = d.withColumn("_x", F.lag(F.col("_y")).over(w_ord)).localCheckpoint(
        eager=True
    )
    y = F.col("_y")
    fit = (
        d.filter(F.col("_x").isNotNull())
        .groupBy(*key_cols)
        .agg(
            F.regr_slope(y, F.col("_x")).alias("_slope"),
            F.regr_intercept(y, F.col("_x")).alias("_icept"),
            F.regr_avgy(y, F.col("_x")).alias("_my"),
            F.count(F.lit(1)).alias("n_train"),
        )
        .withColumn("_slope2", F.coalesce(F.col("_slope"), F.lit(0.0)))
        .withColumn("_icept2", F.coalesce(F.col("_icept"), F.col("_my")))
    )
    # level-space forecast: _base is 0 for diff=0 (pred = AR value) and
    # cnt_{t-1} for diff=1 (pred = previous level + predicted increment);
    # the residual lvl - pred equals the AR residual in both cases
    scored = d.join(F.broadcast(fit), list(key_cols)).withColumn(
        "pred", F.col("_base") + F.col("_icept2") + F.col("_slope2") * F.col("_x")
    )
    sig = (
        scored.filter(F.col("_x").isNotNull())
        .groupBy(*key_cols)
        .agg(
            F.stddev_pop(lvl - F.col("pred")).alias("sigma"),
            F.max(F.abs(lvl)).alias("_scale"),
        )
    )
    out = scored.join(F.broadcast(sig), list(key_cols)).withColumn(
        "anomaly",
        F.col("pred").isNotNull()
        & (F.col("n_train") >= min_train)
        & (
            F.abs(lvl - F.col("pred"))
            > F.lit(float(z)) * band_sigma(F.col("sigma"), F.col("_scale"))
        ),
    )
    return out.select(
        *key_cols,
        w_col,
        cnt_col,
        "pred",
        "sigma",
        F.col("n_train"),
        "anomaly",
    )


def hr_arma_forecast_bands(
    counts: DataFrame,
    key_cols: Sequence[str],
    mode: str = "ma",
    seasonal_lag: int = 144,
    z: float = 1.96,
    min_train: int = 10,
    cnt_col: str = "cnt",
    w_col: str = "w",
) -> DataFrame:
    """MA(1) / seasonal terms via the Hannan–Rissanen two-stage closed form
    (reference TSAArimaDetector fits full statsmodels ARIMA with a season
    parameter, TSAArimaDetector.py:32-560, season handling ~:200-300; this
    is the statsmodels-free batch analog).

    - ``mode='ma'`` — ARMA(1,1): stage 1 fits AR(1) (regr_slope) and takes
      its residuals ε̂; stage 2 regresses y_t on [y_{t-1}, ε̂_{t-1}] — the
      classic HR innovation-substitution, closed-form.
    - ``mode='seasonal'`` — seasonal AR: y_t on [y_{t-1}, y_{t-S}] with
      S = ``seasonal_lag`` windows (the reference's season parameter maps
      to S = season / window_size).

    Both are the same two-regressor least squares solved from per-key
    covariances (5 covar_pop + 3 avg in ONE aggregation, map-side
    combined) — 100% declarative, no UDF, DuckDB-oracle-checkable.
    Degenerate keys (singular normal matrix: constant series or collinear
    regressors) fall back to the flat forecast b1=b2=0, b0=mean(y) via a
    nullif guard (ANSI-safe)."""
    if mode not in ("ma", "seasonal"):
        raise ValueError("mode must be 'ma' or 'seasonal'")
    w_ord = Window.partitionBy(*key_cols).orderBy(w_col)
    d = counts.withColumn("_y", F.col(cnt_col).cast("double")).withColumn(
        "_x1", F.lag("_y").over(w_ord)
    )
    if mode == "ma":
        fit1 = (
            d.filter(F.col("_x1").isNotNull())
            .groupBy(*key_cols)
            .agg(
                F.regr_slope("_y", "_x1").alias("_s1"),
                F.regr_intercept("_y", "_x1").alias("_i1"),
                F.regr_avgy("_y", "_x1").alias("_m1"),
            )
            .withColumn("_s1", F.coalesce("_s1", F.lit(0.0)))
            .withColumn("_i1", F.coalesce("_i1", F.col("_m1")))
        )
        d = d.join(F.broadcast(fit1), list(key_cols))
        d = d.withColumn(
            "_e",
            F.when(
                F.col("_x1").isNotNull(),
                F.col("_y") - (F.col("_i1") + F.col("_s1") * F.col("_x1")),
            ),
        ).withColumn("_x2", F.lag("_e").over(w_ord))
    else:
        d = d.withColumn("_x2", F.lag("_y", seasonal_lag).over(w_ord))
    # same rationale as ar1_forecast_bands: the two-regressor frame feeds
    # the fit aggregation, the scored join and the sigma aggregation —
    # materialize the bounded |windows|·|keys| frame once instead of
    # re-running the window lineage per branch (3x in 'seasonal' mode,
    # plus the stage-1 AR fit lineage in 'ma' mode).
    d = d.localCheckpoint(eager=True)
    both = F.col("_x1").isNotNull() & F.col("_x2").isNotNull()
    fit = (
        d.filter(both)
        .groupBy(*key_cols)
        .agg(
            F.covar_pop("_x1", "_x1").alias("_c11"),
            F.covar_pop("_x2", "_x2").alias("_c22"),
            F.covar_pop("_x1", "_x2").alias("_c12"),
            F.covar_pop("_x1", "_y").alias("_c1y"),
            F.covar_pop("_x2", "_y").alias("_c2y"),
            F.avg("_x1").alias("_mx1"),
            F.avg("_x2").alias("_mx2"),
            F.avg("_y").alias("_my"),
            F.count(F.lit(1)).alias("n_train"),
        )
    )
    den = F.nullif(
        F.col("_c11") * F.col("_c22") - F.col("_c12") * F.col("_c12"), F.lit(0.0)
    )
    b1 = (F.col("_c22") * F.col("_c1y") - F.col("_c12") * F.col("_c2y")) / den
    b2 = (F.col("_c11") * F.col("_c2y") - F.col("_c12") * F.col("_c1y")) / den
    fit = (
        fit.withColumn("_b1", F.coalesce(b1, F.lit(0.0)))
        .withColumn("_b2", F.coalesce(b2, F.lit(0.0)))
        .withColumn(
            "_b0",
            F.col("_my") - F.col("_b1") * F.col("_mx1") - F.col("_b2") * F.col("_mx2"),
        )
    )
    scored = d.join(F.broadcast(fit), list(key_cols)).withColumn(
        "pred",
        F.when(
            both,
            F.col("_b0") + F.col("_b1") * F.col("_x1") + F.col("_b2") * F.col("_x2"),
        ),
    )
    sig = (
        scored.filter(F.col("pred").isNotNull())
        .groupBy(*key_cols)
        .agg(
            F.stddev_pop(F.col("_y") - F.col("pred")).alias("sigma"),
            F.max(F.abs("_y")).alias("_scale"),
        )
    )
    out = scored.join(F.broadcast(sig), list(key_cols)).withColumn(
        "anomaly",
        F.col("pred").isNotNull()
        & (F.col("n_train") >= min_train)
        & (
            F.abs(F.col("_y") - F.col("pred"))
            > F.lit(float(z)) * band_sigma(F.col("sigma"), F.col("_scale"))
        ),
    )
    return out.select(*key_cols, w_col, cnt_col, "pred", "sigma", "n_train", "anomaly")


def _nelder_mead(f, x0, maxiter=None, xatol=1e-7, fatol=1e-12):
    """Plain Nelder–Mead simplex minimizer (pure numpy; the standard
    reflection/expansion/contraction/shrink scheme with scipy's simplex
    initialization constants). Small fixed-dimension problems only — the
    CSS refinement below optimizes p+q+1(+1) parameters per key."""
    x0 = np.asarray(x0, dtype=np.float64)
    n = x0.size
    maxiter = maxiter or 200 * n
    sim = np.vstack([x0] * (n + 1))
    for i in range(n):
        if sim[i + 1, i] != 0.0:
            sim[i + 1, i] *= 1.05
        else:
            sim[i + 1, i] = 0.00025
    fx = np.array([f(s) for s in sim])
    for _ in range(maxiter):
        order = np.argsort(fx)
        sim, fx = sim[order], fx[order]
        if np.max(np.abs(sim[1:] - sim[0])) <= xatol and np.max(
            np.abs(fx[1:] - fx[0])
        ) <= fatol:
            break
        centroid = sim[:-1].mean(axis=0)
        xr = centroid + (centroid - sim[-1])
        fr = f(xr)
        if fr < fx[0]:
            xe = centroid + 2.0 * (centroid - sim[-1])
            fe = f(xe)
            sim[-1], fx[-1] = (xe, fe) if fe < fr else (xr, fr)
        elif fr < fx[-2]:
            sim[-1], fx[-1] = xr, fr
        else:
            xc = centroid + 0.5 * (sim[-1] - centroid)
            fc = f(xc)
            if fc < fx[-1]:
                sim[-1], fx[-1] = xc, fc
            else:  # shrink toward the best vertex
                sim[1:] = sim[0] + 0.5 * (sim[1:] - sim[0])
                fx[1:] = [f(s) for s in sim[1:]]
    best = int(np.argmin(fx))
    return sim[best]


def _css_innovations(params, yv, p, q, slag):
    """One-step innovations ε_t of an ARMA(p,q)(+seasonal AR) under the
    conditional-sum-of-squares convention: condition on the first
    max(p, slag) observations, pre-sample innovations fixed at 0
    (the same conditioning statsmodels uses for method='css').
    params = [c, φ_1..p, θ_1..q, (φ_s)]."""
    c = params[0]
    phi = params[1 : 1 + p]
    th = params[1 + p : 1 + p + q]
    ps = params[1 + p + q] if slag else 0.0
    n = len(yv)
    start = max(p, slag)
    base = np.full(n - start, c)
    for i in range(p):
        base += phi[i] * yv[start - 1 - i : n - 1 - i]
    if slag:
        # rows start..n-1 need yv[t - slag]; start >= slag is NOT implied
        # when p > slag, so slice relative to start, not 0
        base += ps * yv[start - slag : n - slag]
    e = np.zeros(n)
    if q == 0:
        e[start:] = yv[start:] - base
    else:
        for t in range(start, n):
            acc = base[t - start]
            for j in range(min(q, t)):
                acc += th[j] * e[t - 1 - j]
            e[t] = yv[t] - acc
    return e, start


def _arma_state_space(phi, th):
    """Harvey state-space form of a zero-mean ARMA(p,q): state dim
    r = max(p, q+1), transition T (phi in the first column + shifted
    identity), disturbance loading R = (1, th_1..th_q, 0..)."""
    p, q = len(phi), len(th)
    r = max(p, q + 1)
    T = np.zeros((r, r))
    T[:p, 0] = phi
    T[:-1, 1:] = np.eye(r - 1)
    R = np.zeros(r)
    R[0] = 1.0
    R[1 : 1 + q] = th
    return T, R


def _kalman_concentrated_nll(params, yv, p, q):
    """Exact Gaussian likelihood of ARMA(p,q)+mean via the Kalman filter
    with the stationary initial covariance (Lyapunov solve) and the
    innovation variance concentrated out:
        -2 ln L  ∝  n·ln( (1/n)·Σ v_t²/F_t ) + Σ ln F_t.
    params = [c, phi_1..p, th_1..q] in the CSS layout; the mean is
    mu = c / (1 - Σphi). Non-stationary phi → +inf."""
    c = params[0]
    phi = np.asarray(params[1 : 1 + p], dtype=np.float64)
    th = np.asarray(params[1 + p : 1 + p + q], dtype=np.float64)
    T, R = _arma_state_space(phi, th)
    r = T.shape[0]
    if np.max(np.abs(np.linalg.eigvals(T))) >= 1.0 - 1e-10:
        return np.inf, None
    denom = 1.0 - phi.sum()
    if abs(denom) < 1e-10:
        return np.inf, None
    mu = c / denom
    x = yv - mu
    RR = np.outer(R, R)
    # stationary P0: vec(P) = (I - T⊗T)^{-1} vec(RR')  (sigma² = 1)
    P = np.linalg.solve(
        np.eye(r * r) - np.kron(T, T), RR.reshape(-1)
    ).reshape(r, r)
    a = np.zeros(r)
    n = len(x)
    ssq, logf = 0.0, 0.0
    v = np.empty(n)
    Zr = np.zeros(r)
    Zr[0] = 1.0
    for t in range(n):
        f = P[0, 0]
        if f <= 0:
            return np.inf, None
        vt = x[t] - a[0]
        v[t] = vt
        ssq += vt * vt / f
        logf += np.log(f)
        k = P[:, 0] / f
        a = T @ (a + k * vt)
        P = T @ (P - np.outer(k, P[0, :])) @ T.T + RR
    nll = n * np.log(ssq / n) + logf
    return nll, yv - v  # one-step predictions in level space of yv


def arma_forecast_bands(
    counts: DataFrame,
    key_cols: Sequence[str],
    p: int = 1,
    q: int = 1,
    d: int = 0,
    seasonal_lag: int | None = None,
    z: float = 1.96,
    min_train: int = 20,
    cnt_col: str = "cnt",
    w_col: str = "w",
    css: bool = False,
    method: str | None = None,
) -> DataFrame:
    """General ARMA(p,q) (+optional d=1 differencing and one seasonal AR
    lag) per key via applyInPandas — the full-surface analog of the
    reference's statsmodels fit (TSAArimaDetector.py:32-560) for keys that
    need more memory than the declarative hr/ar1 forms.

    Hannan–Rissanen: stage 1 fits a long AR(max(p+q, 2)) by OLS and takes
    its residuals ê; stage 2 regresses y_t on [1, y_{t-1..p}, ê_{t-1..q},
    y_{t-S}] by OLS. With d=1 both stages run on the first difference and
    the level forecast is reconstituted as y_{t-1} + Δ̂_t. One ordered
    Arrow batch per key; keys distribute across executors; series length
    is bounded by the window-count domain.

    ``method`` selects the estimator tier (default 'hr'; ``css=True`` is a
    shorthand for method='css'):
    - 'hr'  — Hannan–Rissanen two-stage OLS (closed form, fastest);
    - 'css' — refines the HR estimate (its start value) by minimizing the
      conditional sum of squares with a pure-numpy Nelder–Mead; removes
      the HR innovation-substitution bias on MA terms and makes q >= 2
      accurate. Only engaged when q > 0 — for pure AR(+seasonal) models
      the stage-2 OLS already IS the exact CSS optimum.
    - 'mle' — EXACT Gaussian maximum likelihood via a Kalman filter over
      the Harvey state-space form with the stationary (Lyapunov) initial
      covariance and the innovation variance concentrated out — the
      statsmodels-equivalent estimator (ARIMA method='statespace'), pure
      numpy; started from the CSS optimum. Differs from CSS by the exact
      treatment of the first max(p,q+1) observations — the O(1/n) edge
      that matters on short series. Not available with seasonal_lag (the
      state-space form here carries no seasonal AR term)."""
    if method is None:
        method = "css" if css else "hr"
    if method not in ("hr", "css", "mle"):
        raise ValueError("method must be 'hr', 'css' or 'mle'")
    if method == "mle" and seasonal_lag:
        raise ValueError("method='mle' does not support seasonal_lag")
    in_types = {f.name: f.dataType.simpleString() for f in counts.schema.fields}
    schema = (
        ", ".join(f"{c} {in_types[c]}" for c in key_cols)
        + f", {w_col} {in_types[w_col]}, {cnt_col} double, "
        + "pred double, sigma double, anomaly boolean"
    )
    m = max(p + q, 2)
    slag = int(seasonal_lag) if seasonal_lag else 0

    def fit(key, pdf):
        pdf = pdf.sort_values(w_col).reset_index(drop=True)
        lvl = pdf[cnt_col].to_numpy(dtype=np.float64)
        n = len(lvl)
        yv = np.diff(lvl) if d == 1 else lvl
        ny = len(yv)
        # stage 1: long AR residuals
        e = np.full(ny, np.nan)
        preds_y = np.full(ny, np.nan)
        start = max(m + q, p, slag)
        if ny > start + min_train:
            x1 = np.column_stack(
                [np.ones(ny - m)] + [yv[m - k - 1 : ny - k - 1] for k in range(m)]
            )
            th1, *_ = np.linalg.lstsq(x1, yv[m:], rcond=None)
            e[m:] = yv[m:] - x1 @ th1
            # stage 2 design: AR lags, MA (lagged residual) terms, seasonal
            rows = np.arange(start, ny)
            cols = [np.ones(len(rows))]
            cols += [yv[rows - k] for k in range(1, p + 1)]
            cols += [e[rows - k] for k in range(1, q + 1)]
            if slag:
                cols.append(yv[rows - slag])
            x2 = np.column_stack(cols)
            th2, *_ = np.linalg.lstsq(x2, yv[rows], rcond=None)
            if method == "css" and q > 0 or method == "mle":
                cstart = max(p, slag)

                def loss(v):
                    inn, _ = _css_innovations(v, yv, p, q, slag)
                    return float(np.sum(inn[cstart:] ** 2))

                th_opt = _nelder_mead(loss, th2) if (p + q) else th2
                if method == "mle":
                    th_opt = _nelder_mead(
                        lambda v: _kalman_concentrated_nll(v, yv, p, q)[0],
                        th_opt,
                    )
                    _, pred_full = _kalman_concentrated_nll(th_opt, yv, p, q)
                    if pred_full is not None:
                        preds_y[rows] = pred_full[rows]
                    else:  # non-stationary optimum — fall back to CSS preds
                        e_opt, _ = _css_innovations(th_opt, yv, p, q, slag)
                        preds_y[rows] = yv[rows] - e_opt[rows]
                else:
                    e_opt, _ = _css_innovations(th_opt, yv, p, q, slag)
                    preds_y[rows] = yv[rows] - e_opt[rows]
            else:
                preds_y[rows] = x2 @ th2
        # reconstitute to level space
        preds = np.full(n, np.nan)
        if d == 1:
            preds[1:] = lvl[:-1] + preds_y
        else:
            preds = preds_y
        resid = lvl[~np.isnan(preds)] - preds[~np.isnan(preds)]
        sigma = float(np.sqrt(np.mean(resid**2))) if resid.size else float("nan")
        anom = (
            (np.abs(lvl - preds) > z * _band_sigma_np(sigma, lvl)) & ~np.isnan(preds)
            if resid.size
            else np.zeros(n, dtype=bool)
        )
        out = pd.DataFrame(
            {w_col: pdf[w_col], cnt_col: lvl, "pred": preds, "sigma": sigma,
             "anomaly": anom}
        )
        for c, v in zip(key_cols, key):
            out[c] = v
        return out[[*key_cols, w_col, cnt_col, "pred", "sigma", "anomaly"]]

    return counts.groupBy(*key_cols).applyInPandas(fit, schema)


def ar_forecast_bands(
    counts: DataFrame,
    key_cols: Sequence[str],
    p: int = 3,
    z: float = 1.96,
    min_train: int = 20,
    cnt_col: str = "cnt",
    w_col: str = "w",
) -> DataFrame:
    """AR(p) per key via applyInPandas: numpy least squares on the lag
    matrix, in-sample one-step predictions, |resid| > z·σ flags. One
    (ordered) pandas batch per key — series length is bounded by the
    window-count domain, keys distribute across executors."""
    # derive key/w types from the INPUT schema — hardcoding 'string'/'long'
    # breaks Arrow conversion (or silently coerces) for numeric keys
    in_types = {f.name: f.dataType.simpleString() for f in counts.schema.fields}
    schema = (
        ", ".join(f"{c} {in_types[c]}" for c in key_cols)
        + f", {w_col} {in_types[w_col]}, {cnt_col} double, "
        + "pred double, sigma double, anomaly boolean"
    )

    def fit(key, pdf):
        pdf = pdf.sort_values(w_col).reset_index(drop=True)
        yv = pdf[cnt_col].to_numpy(dtype=np.float64)
        n = len(yv)
        preds = np.full(n, np.nan)
        if n > p + min_train:
            x = np.column_stack(
                [np.ones(n - p)] + [yv[p - k - 1 : n - k - 1] for k in range(p)]
            )
            target = yv[p:]
            theta, *_ = np.linalg.lstsq(x, target, rcond=None)
            preds[p:] = x @ theta
        resid = target - preds[p:] if n > p + min_train else np.array([])
        sigma = float(np.sqrt(np.mean(resid**2))) if resid.size else float("nan")
        anom = (
            np.abs(yv - preds) > z * _band_sigma_np(sigma, yv)
            if resid.size
            else np.zeros(n, dtype=bool)
        )
        out = pd.DataFrame(
            {
                w_col: pdf[w_col],
                cnt_col: yv,
                "pred": preds,
                "sigma": sigma,
                "anomaly": anom & ~np.isnan(preds),
            }
        )
        for c, v in zip(key_cols, key):
            out[c] = v
        return out[[*key_cols, w_col, cnt_col, "pred", "sigma", "anomaly"]]

    return counts.groupBy(*key_cols).applyInPandas(fit, schema)
