"""Forecasting operators (north-star TS-engine extension; the reference
generates and denoises series — an engine serving its users also needs
baseline forecasters).

- seasonal_naive: ŷ(T+h) = y(T+h−m) — pure window/join SQL, oracle-checked.
- ses: simple exponential smoothing level forecast — recursive, so it runs
  batch-vectorized under generators.series_kernel (pandas-twin tested).
- anomalies: decomposition-residual z-score flags — composition of
  decompose() and per-series stats.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .decompose import decompose
from .generators import series_kernel


def _pad(vs) -> tuple[np.ndarray, np.ndarray]:
    """Stack a batch of series into an (n_series, T) matrix, NaN-padded past
    each series' end; also return the lengths n (T = n.max())."""
    arrs = [np.asarray(v, dtype=float) for v in vs]
    n = np.array([len(a) for a in arrs])
    Y = np.full((len(arrs), int(n.max())), np.nan)
    for i, a in enumerate(arrs):
        Y[i, : len(a)] = a
    return Y, n


def seasonal_naive(
    df: DataFrame, season: int, horizon: int, key: str = "series_id", value: str = "value"
) -> DataFrame:
    """Forecast the next `horizon` points as the last season's values.

    For h in 1..horizon: ŷ(T+h) = y(T + 1 + ((h−1) mod m) − m) where T is
    the last observed index. One groupBy + a broadcast-joined horizon range.
    """
    last = df.groupBy(key).agg(F.max("t").alias("_T"))
    hs = df.sparkSession.range(1, horizon + 1).select(F.col("id").alias("h"))
    want = (
        last.crossJoin(F.broadcast(hs))
        .withColumn("src_t", F.col("_T") + 1 + (F.col("h") - 1) % season - season)
        .withColumn("t", F.col("_T") + F.col("h"))
    )
    src = df.select(F.col(key), F.col("t").alias("src_t"), F.col(value).alias("forecast"))
    return want.join(src, [key, "src_t"]).select(key, "t", "h", "forecast")


def seasonal_naive_sql(inner: str, season: int, horizon: int) -> str:
    """Oracle twin over a subquery yielding (series_id, t, value)."""
    return f"""
WITH s AS ({inner}),
last AS (SELECT series_id, max(t) AS last_t FROM s GROUP BY series_id),
want AS (
  SELECT series_id, h, last_t + 1 + (h - 1) % {season} - {season} AS src_t,
         last_t + h AS t
  FROM last CROSS JOIN (SELECT range AS h FROM range(1, {horizon + 1})))
SELECT w.series_id, w.t, w.h, s.value AS forecast
FROM want w JOIN s ON w.series_id = s.series_id AND w.src_t = s.t
"""


def ses_forecast(
    df: DataFrame, alpha: float = 0.3, key: str = "series_id", value: str = "value"
) -> DataFrame:
    """Simple exponential smoothing: level_t = α·y_t + (1−α)·level_{t−1};
    the one-step-ahead forecast is the final level. Recursive → vectorized
    per Arrow batch of series by series_kernel."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        levels = []
        for vs in pdf["vs"]:
            arr = np.asarray(vs, dtype=float)
            n = len(arr)
            # Closed form of the recursion level_t = α·y_t + (1−α)·level_{t−1}:
            #   level_{n−1} = (1−α)^(n−1)·y_0 + α·Σ_{t≥1} (1−α)^(n−1−t)·y_t
            # — one vectorized dot product per series, no per-point loop.
            w = alpha * np.power(1.0 - alpha, np.arange(n - 1, -1, -1, dtype=float))
            w[0] = (1.0 - alpha) ** (n - 1)
            levels.append(float(w @ arr))
        return pd.DataFrame({key: pdf[key], "level": levels})

    return series_kernel(df, kernel, f"{key} bigint, level double", key, value)


def anomalies(
    df: DataFrame, threshold: float = 3.0, key: str = "series_id", value: str = "value"
) -> DataFrame:
    """Decomposition-residual anomalies: flag points whose residual z-score
    exceeds `threshold` — trend/seasonality-aware outlier detection."""
    # the stats branch and the z-score join both read the decomposition:
    # pin it, or each re-runs the full spectral decompose chain
    dec = decompose(df, value_col=value, key=key).localCheckpoint(eager=False)
    stats = dec.groupBy(key).agg(
        F.avg("residual").alias("_mu"), F.stddev_samp("residual").alias("_sd")
    )
    return (
        dec.join(F.broadcast(stats), key)
        .withColumn("res_z", (F.col("residual") - F.col("_mu")) / F.col("_sd"))
        .filter(F.abs(F.col("res_z")) > threshold)
        .select(key, "t", value, "residual", "res_z")
    )


def holt_forecast(
    df: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.2,
    horizon: int = 4,
    key: str = "series_id",
    value: str = "value",
) -> DataFrame:
    """Holt's linear-trend (double) exponential smoothing:
        l_t = α·y_t + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    init l_0 = y_0, b_0 = y_1 − y_0; h-step forecast = l_T + h·b_T.

    This is holt_damped_forecast at φ = 1: every φ product is then a
    multiplication by 1.0, which is exact, so the output is bit-identical
    to the undamped recursion (and to holt_sql). Series with fewer than 2
    points have no b_0 and emit no row, as in the oracle.
    """
    return holt_damped_forecast(df, alpha, beta, 1.0, horizon, key, value)


def holt_damped_forecast(
    df: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.2,
    phi: float = 0.9,
    horizon: int = 4,
    key: str = "series_id",
    value: str = "value",
) -> DataFrame:
    """Damped-trend Holt (Gardner & McKenzie 1985) — the M-competitions'
    perennial default: the trend is discounted by phi each step, so long-
    horizon forecasts flatten instead of extrapolating a straight line off
    the data:
        l_t = α·y_t + (1−α)·(l_{t−1} + φ·b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·φ·b_{t−1}
        ŷ_{T+h} = l_T + (φ + φ² + … + φ^h)·b_T
    init l_0 = y_0, b_0 = y_1 − y_0, so series with fewer than 2 points emit
    no row (the oracle's y0 ⋈ y1 seed drops them too).

    Runs under series_kernel: the recursion is sequential in t but
    independent across series, so the kernel iterates TIME steps only (T
    numpy ops), each vectorized across every series of the Arrow batch.
    Series of unequal length are NaN-padded and masked."""
    oma, ombphi = 1.0 - alpha, (1.0 - beta) * phi
    phi_sum = 0.0
    p = 1.0
    for _ in range(horizon):
        p = p * phi
        phi_sum = phi_sum + p
    cols = [key, "level", "trend", "fc"]

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[pdf["vs"].map(len) >= 2]
        if pdf.empty:
            return pd.DataFrame(columns=cols)
        Y, n = _pad(pdf["vs"])
        level = Y[:, 0].copy()
        trend = Y[:, 1] - Y[:, 0]
        for t in range(1, Y.shape[1]):
            active = t < n
            y = Y[:, t]
            l_new = alpha * y + oma * (level + phi * trend)
            b_new = beta * (l_new - level) + ombphi * trend
            level = np.where(active, l_new, level)
            trend = np.where(active, b_new, trend)
        return pd.DataFrame(
            {key: pdf[key], "level": level, "trend": trend, "fc": level + phi_sum * trend}
        )

    return series_kernel(
        df, kernel, f"{key} bigint, level double, trend double, fc double", key, value
    )


def holt_damped_sql(
    inner: str,
    alpha: float = 0.3,
    beta: float = 0.2,
    phi: float = 0.9,
    horizon: int = 4,
) -> str:
    """DuckDB oracle twin of holt_damped_forecast — same literals, same
    association order, phi-sum precomputed to the identical double."""
    from . import expr as E

    A, OMA = E.NUM(alpha), E.NUM(1.0 - alpha)
    B, OMBPHI = E.NUM(beta), E.NUM((1.0 - beta) * phi)
    PHI = E.NUM(phi)
    phi_sum = 0.0
    p = 1.0
    for _ in range(horizon):
        p = p * phi
        phi_sum = phi_sum + p
    PS = E.NUM(phi_sum)
    lnew = f"({A}*s.value + {OMA}*(r.l + {PHI}*r.b))"
    return f"""
WITH RECURSIVE src AS MATERIALIZED ({inner}),
n AS (SELECT series_id, max(t) AS tmax FROM src GROUP BY series_id),
y0 AS (SELECT series_id, value AS v0 FROM src WHERE t = 0),
y1 AS (SELECT series_id, value AS v1 FROM src WHERE t = 1),
rec(series_id, t, l, b) AS (
  SELECT y0.series_id, CAST(0 AS BIGINT), y0.v0, y1.v1 - y0.v0
  FROM y0 JOIN y1 USING (series_id)
  UNION ALL
  SELECT r.series_id, r.t + 1,
         {lnew},
         {B}*({lnew} - r.l) + {OMBPHI}*r.b
  FROM rec r JOIN src s ON s.series_id = r.series_id AND s.t = r.t + 1)
SELECT r.series_id, {E.round6('r.l')} AS level, {E.round6('r.b')} AS trend,
       {E.round6(f'r.l + {PS}*r.b')} AS fc
FROM rec r JOIN n ON r.series_id = n.series_id AND r.t = n.tmax
"""


def holt_sql(inner: str, alpha: float = 0.3, beta: float = 0.2, horizon: int = 4) -> str:
    """DuckDB oracle twin: the recursion replayed exactly (same literals,
    same association order) by a recursive CTE — one iteration per time
    step, all series advanced together per iteration."""
    from . import expr as E

    A, OMA = E.NUM(alpha), E.NUM(1.0 - alpha)
    B, OMB = E.NUM(beta), E.NUM(1.0 - beta)
    lnew = f"({A}*s.value + {OMA}*(r.l + r.b))"
    return f"""
WITH RECURSIVE src AS MATERIALIZED ({inner}),
n AS (SELECT series_id, max(t) AS tmax FROM src GROUP BY series_id),
y0 AS (SELECT series_id, value AS v0 FROM src WHERE t = 0),
y1 AS (SELECT series_id, value AS v1 FROM src WHERE t = 1),
rec(series_id, t, l, b) AS (
  SELECT y0.series_id, CAST(0 AS BIGINT), y0.v0, y1.v1 - y0.v0
  FROM y0 JOIN y1 USING (series_id)
  UNION ALL
  SELECT r.series_id, r.t + 1,
         {lnew},
         {B}*({lnew} - r.l) + {OMB}*r.b
  FROM rec r JOIN src s ON s.series_id = r.series_id AND s.t = r.t + 1)
SELECT r.series_id, {E.round6('r.l')} AS level, {E.round6('r.b')} AS trend,
       {E.round6(f'r.l + {horizon}*r.b')} AS fc
FROM rec r JOIN n ON r.series_id = n.series_id AND r.t = n.tmax
"""


def kalman_filter(
    df: DataFrame,
    q: float = 0.01,
    r: float = 0.5,
    key: str = "series_id",
    value: str = "value",
) -> DataFrame:
    """1-D Kalman filter (local-level model), the optimal online smoother:
        pv_t = v_{t−1} + q;  k_t = pv_t/(pv_t + r)
        l_t  = l_{t−1} + k_t·(y_t − l_{t−1});  v_t = (1−k_t)·pv_t
    init l_0 = y_0, v_0 = 1. Emits the filtered level and gain per point.

    Runs under series_kernel: series are independent, so the t-recursion
    runs as T numpy steps, each vectorized across every series of the Arrow
    batch; output is exploded back to long (series, t, level, gain) form."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        Y, n = _pad(pdf["vs"])
        level = Y[:, 0].copy()
        var = np.ones(len(n))
        levels = [level.copy()]
        gains = [np.zeros(len(n))]
        for t in range(1, Y.shape[1]):
            active = t < n
            pv = var + q
            k = pv / (pv + r)
            l_new = level + k * (Y[:, t] - level)
            v_new = (1.0 - k) * pv
            level = np.where(active, l_new, level)
            var = np.where(active, v_new, var)
            levels.append(level.copy())
            gains.append(np.where(active, k, 0.0))
        out = []
        for i, s in enumerate(pdf[key]):
            ln = int(n[i])
            out.append(
                pd.DataFrame(
                    {
                        key: s,
                        "t": np.arange(ln),
                        "level": [levels[t][i] for t in range(ln)],
                        "gain": [gains[t][i] for t in range(ln)],
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    return series_kernel(
        df, kernel, f"{key} bigint, t bigint, level double, gain double", key, value
    )


def kalman_sql(inner: str, q: float = 0.01, r: float = 0.5) -> str:
    """Recursive-CTE oracle replaying the exact recursion (the gain
    expression is inlined with identical association order)."""
    from . import expr as E

    Q, R = E.NUM(q), E.NUM(r)
    k = f"((rec.v + {Q}) / ((rec.v + {Q}) + {R}))"
    # src MATERIALIZED: the recursion references it once per step — inlined,
    # DuckDB would re-evaluate the (possibly generated) inner SQL every step.
    return f"""
WITH RECURSIVE src AS MATERIALIZED ({inner}),
n AS (SELECT series_id, max(t) AS tmax FROM src GROUP BY series_id),
rec(series_id, t, l, v, g) AS (
  SELECT series_id, CAST(0 AS BIGINT), value, CAST(1.0e0 AS DOUBLE), 0.0e0
  FROM src WHERE t = 0
  UNION ALL
  SELECT rec.series_id, rec.t + 1,
         rec.l + {k} * (s.value - rec.l),
         (1.0e0 - {k}) * (rec.v + {Q}),
         {k}
  FROM rec JOIN src s ON s.series_id = rec.series_id AND s.t = rec.t + 1)
SELECT series_id, t, {E.round6('l')} AS level, {E.round6('g')} AS gain
FROM rec
"""


def kalman_smoother(
    df: DataFrame,
    q: float = 0.01,
    r: float = 0.5,
    key: str = "series_id",
    value: str = "value",
) -> DataFrame:
    """Rauch–Tung–Striebel smoother over the 1-D local-level Kalman filter:
    the OFFLINE optimum that conditions every estimate on the WHOLE series
    (the filter only sees the past). Forward pass as in kalman_filter, then
        C_t  = v_t / (v_t + q)                      (smoother gain)
        sl_t = l_t + C_t·(sl_{t+1} − l_t)
        sv_t = v_t + C_t²·(sv_{t+1} − (v_t + q))
    backward from sl_T = l_T. Emits filtered `level` and smoothed `smoothed`
    per point.

    Runs under series_kernel: series are independent and the recursion is
    only over time, so both sweeps are T numpy steps vectorized across every
    series of the Arrow batch."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        Y, n = _pad(pdf["vs"])
        T = Y.shape[1]
        level = Y[:, 0].copy()
        var = np.ones(len(n))
        levels, vars_ = [level.copy()], [var.copy()]
        for t in range(1, T):
            active = t < n
            pv = var + q
            k = pv / (pv + r)
            level = np.where(active, level + k * (Y[:, t] - level), level)
            var = np.where(active, (1.0 - k) * pv, var)
            levels.append(level.copy())
            vars_.append(var.copy())
        L = np.stack(levels, axis=1)   # (series, T) filtered means
        V = np.stack(vars_, axis=1)    # (series, T) filtered vars
        SL, SV = L.copy(), V.copy()    # last point: smoothed = filtered
        for t in range(T - 2, -1, -1):
            active = (t + 1) < n
            c = V[:, t] / (V[:, t] + q)
            sl = L[:, t] + c * (SL[:, t + 1] - L[:, t])
            sv = V[:, t] + c * c * (SV[:, t + 1] - (V[:, t] + q))
            SL[:, t] = np.where(active, sl, SL[:, t])
            SV[:, t] = np.where(active, sv, SV[:, t])
        out = []
        for i, s in enumerate(pdf[key]):
            ln = int(n[i])
            out.append(
                pd.DataFrame(
                    {
                        key: s,
                        "t": np.arange(ln),
                        "level": L[i, :ln],
                        "smoothed": SL[i, :ln],
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    return series_kernel(
        df, kernel, f"{key} bigint, t bigint, level double, smoothed double", key, value
    )


def kalman_smoother_sql(inner: str, q: float = 0.01, r: float = 0.5) -> str:
    """Recursive-CTE oracle: the forward CTE replays kalman_sql's recursion,
    the backward CTE replays the RTS update with IDENTICAL association
    order (f.l + C·(rec.sl − f.l), C = f.v / (f.v + Q))."""
    from . import expr as E

    Q, R = E.NUM(q), E.NUM(r)
    k = f"((rec.v + {Q}) / ((rec.v + {Q}) + {R}))"
    c = f"(f.v / (f.v + {Q}))"
    # src + recm MATERIALIZED: without them DuckDB inlines CTE references, so
    # every backward-recursion step would replay the ENTIRE forward recursion
    # (which itself re-evaluates `inner` per step) — minutes instead of ms on
    # a 64-step series (same lesson as the k-core oracle).
    return f"""
WITH RECURSIVE src AS MATERIALIZED ({inner}),
n AS (SELECT series_id, max(t) AS tmax FROM src GROUP BY series_id),
rec(series_id, t, l, v) AS (
  SELECT series_id, CAST(0 AS BIGINT), value, CAST(1.0e0 AS DOUBLE)
  FROM src WHERE t = 0
  UNION ALL
  SELECT rec.series_id, rec.t + 1,
         rec.l + {k} * (s.value - rec.l),
         (1.0e0 - {k}) * (rec.v + {Q})
  FROM rec JOIN src s ON s.series_id = rec.series_id AND s.t = rec.t + 1),
recm AS MATERIALIZED (SELECT * FROM rec),
back(series_id, t, sl, sv) AS (
  SELECT recm.series_id, recm.t, recm.l, recm.v
  FROM recm JOIN n ON recm.series_id = n.series_id AND recm.t = n.tmax
  UNION ALL
  SELECT back.series_id, back.t - 1,
         f.l + {c} * (back.sl - f.l),
         f.v + {c} * {c} * (back.sv - (f.v + {Q}))
  FROM back JOIN recm f ON f.series_id = back.series_id AND f.t = back.t - 1
  WHERE back.t > 0)
SELECT recm.series_id, recm.t, {E.round6('recm.l')} AS level,
       {E.round6('back.sl')} AS smoothed
FROM recm JOIN back ON recm.series_id = back.series_id AND recm.t = back.t
"""


def kalman_em(
    df: DataFrame,
    q: float = 0.01,
    r: float = 0.5,
    key: str = "series_id",
    value: str = "value",
) -> DataFrame:
    """One EM iteration for the local-level model's parameters (q, r)
    (Shumway & Stoffer 1982): E-step = Kalman filter + RTS smoother under
    the CURRENT (q, r); M-step closed forms from the smoothed moments,
    using the lag-one smoothed covariance P_{t,t−1} = C_{t−1}·SV_t:
        q̂ = mean_t[(sl_t − sl_{t−1})² + sv_t + sv_{t−1} − 2·C_{t−1}·sv_t]
        r̂ = mean_t[(y_t − sl_t)² + sv_t]
    Emits (key, n_points, q_hat, r_hat) per series; iterate by calling again
    with the updated parameters (each call is one distributed pass).

    Runs under series_kernel: series are independent and the recursion is
    only over time, so both sweeps are T numpy steps vectorized across every
    series of the Arrow batch, and the M-step reduces with masked row-wise
    sums — no per-series Python loop.
    """

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        Y, n = _pad(pdf["vs"])
        T = Y.shape[1]
        level = Y[:, 0].copy()
        var = np.ones(len(n))
        levels, vars_ = [level.copy()], [var.copy()]
        for t in range(1, T):
            active = t < n
            pv = var + q
            k = pv / (pv + r)
            level = np.where(active, level + k * (Y[:, t] - level), level)
            var = np.where(active, (1.0 - k) * pv, var)
            levels.append(level.copy())
            vars_.append(var.copy())
        L = np.stack(levels, axis=1)   # (series, T) filtered means
        V = np.stack(vars_, axis=1)    # (series, T) filtered vars
        SL, SV = L.copy(), V.copy()    # last point: smoothed = filtered
        C = V / (V + q)  # smoother gains (only C[:, t-1] for t>=1 used)
        for t in range(T - 2, -1, -1):
            active = (t + 1) < n
            sl = L[:, t] + C[:, t] * (SL[:, t + 1] - L[:, t])
            sv = V[:, t] + C[:, t] * C[:, t] * (SV[:, t + 1] - (V[:, t] + q))
            SL[:, t] = np.where(active, sl, SL[:, t])
            SV[:, t] = np.where(active, sv, SV[:, t])
        tcols = np.arange(T)
        mq = tcols[None, 1:] < n[:, None]   # valid transition terms t=1..n-1
        mr = tcols[None, :] < n[:, None]    # valid observation terms t=0..n-1
        dq = (
            (SL[:, 1:] - SL[:, :-1]) ** 2
            + SV[:, 1:]
            + SV[:, :-1]
            - 2.0 * C[:, :-1] * SV[:, 1:]
        )
        dr = (Y - SL) ** 2 + SV
        q_hat = np.where(mq, dq, 0.0).sum(axis=1) / np.maximum(n - 1, 1)
        r_hat = np.where(mr, np.nan_to_num(dr), 0.0).sum(axis=1) / n
        return pd.DataFrame({key: pdf[key], "n_points": n, "q_hat": q_hat, "r_hat": r_hat})

    return series_kernel(
        df, kernel, f"{key} bigint, n_points bigint, q_hat double, r_hat double", key, value
    )


def kalman_em_sql(inner: str, q: float = 0.01, r: float = 0.5) -> str:
    """Oracle: the smoother CTEs extended with the M-step aggregations —
    per-term arithmetic has identical association order; the final mean is
    rounded to 4dp (sum association across t differs between engines)."""
    from . import expr as E

    Q, R = E.NUM(q), E.NUM(r)
    k = f"((rec.v + {Q}) / ((rec.v + {Q}) + {R}))"
    c = f"(f.v / (f.v + {Q}))"
    c0 = f"(f0.v / (f0.v + {Q}))"
    # src/recm/backm MATERIALIZED: inlined CTE references make DuckDB replay
    # the forward recursion per backward step and the backward recursion per
    # M-step join — 56 s instead of <1 s on a 64-step series.
    return f"""
WITH RECURSIVE src AS MATERIALIZED ({inner}),
n AS (SELECT series_id, max(t) AS tmax FROM src GROUP BY series_id),
rec(series_id, t, l, v) AS (
  SELECT series_id, CAST(0 AS BIGINT), value, CAST(1.0e0 AS DOUBLE)
  FROM src WHERE t = 0
  UNION ALL
  SELECT rec.series_id, rec.t + 1,
         rec.l + {k} * (s.value - rec.l),
         (1.0e0 - {k}) * (rec.v + {Q})
  FROM rec JOIN src s ON s.series_id = rec.series_id AND s.t = rec.t + 1),
recm AS MATERIALIZED (SELECT * FROM rec),
back(series_id, t, sl, sv) AS (
  SELECT recm.series_id, recm.t, recm.l, recm.v
  FROM recm JOIN n ON recm.series_id = n.series_id AND recm.t = n.tmax
  UNION ALL
  SELECT back.series_id, back.t - 1,
         f.l + {c} * (back.sl - f.l),
         f.v + {c} * {c} * (back.sv - (f.v + {Q}))
  FROM back JOIN recm f ON f.series_id = back.series_id AND f.t = back.t - 1
  WHERE back.t > 0),
backm AS MATERIALIZED (SELECT * FROM back),
tq AS (
  SELECT b1.series_id,
         (b1.sl - b0.sl) * (b1.sl - b0.sl) + b1.sv + b0.sv
           - 2.0e0 * {c0} * b1.sv AS term
  FROM backm b1
  JOIN backm b0 ON b0.series_id = b1.series_id AND b0.t = b1.t - 1
  JOIN recm f0 ON f0.series_id = b1.series_id AND f0.t = b1.t - 1),
tr AS (
  SELECT b.series_id, (s.value - b.sl) * (s.value - b.sl) + b.sv AS term
  FROM backm b JOIN src s ON s.series_id = b.series_id AND s.t = b.t)
SELECT q.series_id, n.tmax + 1 AS n_points,
       {E.roundn('q.q_hat', 4)} AS q_hat, {E.roundn('r.r_hat', 4)} AS r_hat
FROM (SELECT series_id, avg(term) AS q_hat FROM tq GROUP BY series_id) q
JOIN (SELECT series_id, avg(term) AS r_hat FROM tr GROUP BY series_id) r
  ON q.series_id = r.series_id
JOIN n ON n.series_id = q.series_id
"""


def holt_winters(
    df: DataFrame,
    season: int = 8,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    horizon: int = 8,
    key: str = "series_id",
    value: str = "value",
) -> DataFrame:
    """Additive Holt–Winters (triple exponential smoothing) — the seasonal
    completion of the SES → Holt family:
        l_t = α·(y_t − s_{t−m}) + (1−α)·(l_{t−1} + b_{t−1})
        b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
        s_t = γ·(y_t − l_t) + (1−γ)·s_{t−m}
    Deterministic init (no averages, so both engines replay bit-exactly):
    l = y_0, b = (y_m − y_0)/m, s_i = y_i − y_0 for i < m; the recursion
    consumes t = m..T−1. h-step forecast = l_T + h·b_T + s_{T−m+((h−1) mod m)+1}.

    Runs under series_kernel: T−m numpy steps, each vectorized across every
    series of the Arrow batch; the seasonal state is an (n_series, m) matrix
    indexed by t mod m. Requires equal-length series with T ≥ m+1 (generator
    output)."""
    m = season

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        Y = np.stack([np.asarray(v, dtype=float) for v in pdf["vs"]])
        T = Y.shape[1]
        L = Y[:, 0].copy()
        B = (Y[:, m] - Y[:, 0]) / m
        S = Y[:, :m] - Y[:, [0]]
        for t in range(m, T):
            s_old = S[:, t % m]
            l_new = alpha * (Y[:, t] - s_old) + (1.0 - alpha) * (L + B)
            B = beta * (l_new - L) + (1.0 - beta) * B
            S[:, t % m] = gamma * (Y[:, t] - l_new) + (1.0 - gamma) * s_old
            L = l_new
        out = []
        for h in range(1, horizon + 1):
            out.append(
                pd.DataFrame(
                    {
                        key: pdf[key],
                        "t": T - 1 + h,
                        "h": h,
                        "forecast": L + h * B + S[:, (T + h - 1) % m],
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    return series_kernel(
        df, kernel, f"{key} bigint, t bigint, h bigint, forecast double", key, value
    )


def holt_winters_sql(
    inner: str,
    season: int = 8,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    horizon: int = 8,
) -> str:
    """Recursive-CTE oracle: the seasonal state rides along as a LIST column
    (oldest index first for the CURRENT phase); each step consumes s[1]
    (= s_{t−m} when the list is kept phase-rotated) and appends the fresh
    seasonal. Identical literals + association order as the kernel."""
    from . import expr as E

    m = season
    A, OMA = E.NUM(alpha), E.NUM(1.0 - alpha)
    B_, OMB = E.NUM(beta), E.NUM(1.0 - beta)
    G, OMG = E.NUM(gamma), E.NUM(1.0 - gamma)
    lnew = f"({A}*(sv.value - r.s[1]) + {OMA}*(r.l + r.b))"
    hrows = " UNION ALL ".join(f"SELECT {h} AS h" for h in range(1, horizon + 1))
    return f"""
WITH RECURSIVE src AS MATERIALIZED ({inner}),
n AS (SELECT series_id, max(t) AS tmax FROM src GROUP BY series_id),
y0 AS (SELECT series_id, value AS v0 FROM src WHERE t = 0),
ym AS (SELECT series_id, value AS vm FROM src WHERE t = {m}),
sinit AS (
  SELECT s.series_id, list(s.value - y0.v0 ORDER BY s.t) AS s
  FROM src s JOIN y0 ON s.series_id = y0.series_id
  WHERE s.t < {m} GROUP BY s.series_id),
rec(series_id, t, l, b, s) AS (
  SELECT y0.series_id, CAST({m - 1} AS BIGINT), y0.v0,
         (ym.vm - y0.v0) / {E.NUM(float(m))}, sinit.s
  FROM y0 JOIN ym USING (series_id) JOIN sinit USING (series_id)
  UNION ALL
  SELECT r.series_id, r.t + 1,
         {lnew},
         {B_}*({lnew} - r.l) + {OMB}*r.b,
         list_append(r.s[2:], {G}*(sv.value - {lnew}) + {OMG}*r.s[1])
  FROM rec r JOIN src sv ON sv.series_id = r.series_id AND sv.t = r.t + 1)
SELECT r.series_id, n.tmax + h.h AS t, CAST(h.h AS BIGINT) AS h,
       {E.round6(f'r.l + h.h * r.b + r.s[CAST((h.h - 1) % {m} + 1 AS BIGINT)]')} AS forecast
FROM rec r
JOIN n ON r.series_id = n.series_id AND r.t = n.tmax
CROSS JOIN ({hrows}) h
"""


def theta_forecast(
    df: DataFrame,
    alpha: float = 0.3,
    horizon: int = 4,
    key: str = "series_id",
    value: str = "value",
) -> DataFrame:
    """Theta-method forecast (Assimakopoulos & Nikolopoulos 2000) in the
    Hyndman–Billah closed form: SES level plus half the linear-trend slope
    as drift,
        ŷ_{T+h} = L_T + (b/2)·(h − 1 + 1/α − (1−α)^T/α).

    Unlike SES/Holt/HW this needs NO mapInPandas: the SES level has the
    closed form Σ w_i·y_i (w_0 = (1−α)^{T−1}, w_i = α(1−α)^{T−1−i}) and the
    OLS slope is the usual moment ratio — both are single partial-agged
    aggregations, so the whole forecaster is one groupBy shuffle of
    5 doubles per series. The M3-competition winner as pure Catalyst."""
    from pyspark.sql import Window

    w = Window.partitionBy(key)
    d = df.select(
        key,
        F.col("t").cast("double").alias("x"),
        F.col(value).alias("y"),
        F.count("*").over(w).alias("n"),
    )
    oma = 1.0 - alpha
    ses_w = F.when(
        F.col("x") == 0, F.pow(F.lit(oma), F.col("n") - 1)
    ).otherwise(F.lit(alpha) * F.pow(F.lit(oma), F.col("n") - 1 - F.col("x")))
    agg = d.groupBy(key).agg(
        F.first("n").alias("n"),
        F.sum(ses_w * F.col("y")).alias("level"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    hdf = df.sparkSession.createDataFrame(
        [(h,) for h in range(1, horizon + 1)], "h long"
    )
    drift_scale = (
        F.col("h") - 1 + F.lit(1.0 / alpha)
        - F.pow(F.lit(oma), F.col("n")) / F.lit(alpha)
    )
    return (
        agg.crossJoin(F.broadcast(hdf))
        .select(
            key,
            "h",
            (F.col("level") + b / 2.0 * drift_scale).alias("forecast"),
        )
        .orderBy(key, "h")
    )


def theta_sql(inner: str, alpha: float = 0.3, horizon: int = 4) -> str:
    from . import expr as E

    A, OMA = E.NUM(alpha), E.NUM(1.0 - alpha)
    hrows = " UNION ALL ".join(f"SELECT CAST({h} AS BIGINT) AS h" for h in range(1, horizon + 1))
    return f"""
WITH src AS ({inner}),
d AS (
  SELECT series_id, CAST(t AS DOUBLE) AS x, value AS y,
         CAST(count(*) OVER (PARTITION BY series_id) AS DOUBLE) AS n
  FROM src),
agg AS (
  SELECT series_id, min(n) AS n,
         sum(CASE WHEN x = 0 THEN pow({OMA}, n - 1)
                  ELSE {A} * pow({OMA}, n - 1 - x) END * y) AS level,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM d GROUP BY series_id)
SELECT series_id, h,
       {E.roundn(f"level + ((n * sxy - sx * sy) / (n * sxx - sx * sx)) / 2.0e0 * (h - 1 + 1.0e0 / {A} - pow({OMA}, n) / {A})", 4)} AS forecast
FROM agg CROSS JOIN ({hrows})
ORDER BY series_id, h
"""


def garch_filter(
    df: DataFrame,
    omega: float = 0.05,
    alpha: float = 0.1,
    beta: float = 0.85,
    key: str = "series_id",
    value: str = "value",
) -> DataFrame:
    """GARCH(1,1) conditional-variance filter (Bollerslev 1986), the
    standard volatility-clustering model:
        r_t  = y_t − y_{t−1}
        σ²_t = ω + α·r²_{t−1} + β·σ²_{t−1},   σ²_1 = ω/(1−α−β)
    (unconditional-variance init). Emits (series, t, ret, sigma2) for t ≥ 1.

    Runs under series_kernel: series are independent, so the recursion runs
    as T numpy steps, each vectorized across every series of the Arrow
    batch."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        Y, n = _pad(pdf["vs"])
        R = Y[:, 1:] - Y[:, :-1]  # returns, column t-1 holds r_{t}
        s2 = np.full(len(n), omega / (1.0 - alpha - beta))
        sigs = [s2.copy()]
        for t in range(1, Y.shape[1] - 1):
            rp = R[:, t - 1]
            s2 = omega + alpha * (rp * rp) + beta * s2
            sigs.append(s2.copy())
        out = []
        for i, s in enumerate(pdf[key]):
            ln = int(n[i]) - 1  # returns start at t=1
            out.append(
                pd.DataFrame(
                    {
                        key: s,
                        "t": np.arange(1, ln + 1),
                        "ret": R[i, :ln],
                        "sigma2": [sigs[t][i] for t in range(ln)],
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    return series_kernel(
        df, kernel, f"{key} bigint, t bigint, ret double, sigma2 double", key, value
    )


def garch_sql(
    inner: str, omega: float = 0.05, alpha: float = 0.1, beta: float = 0.85
) -> str:
    """Recursive-CTE oracle replaying the exact recursion (same association
    order as the numpy kernel: (ω + α·r²) + β·σ²)."""
    from . import expr as E

    W, A, B = E.NUM(omega), E.NUM(alpha), E.NUM(beta)
    s20 = E.NUM(omega / (1.0 - alpha - beta))
    return f"""
WITH RECURSIVE src AS MATERIALIZED ({inner}),
r AS MATERIALIZED (
  SELECT series_id, t,
         value - lag(value) OVER (PARTITION BY series_id ORDER BY t) AS ret
  FROM src),
rec(series_id, t, ret, s2) AS (
  SELECT series_id, t, ret, CAST({s20} AS DOUBLE) FROM r WHERE t = 1
  UNION ALL
  SELECT rec.series_id, rec.t + 1, r2.ret,
         {W} + {A} * (rec.ret * rec.ret) + {B} * rec.s2
  FROM rec JOIN r r2 ON r2.series_id = rec.series_id AND r2.t = rec.t + 1)
SELECT series_id, t, {E.round6('ret')} AS ret, {E.round6('s2')} AS sigma2
FROM rec
"""


def arma11_filter(
    df: DataFrame,
    phi: float = 0.6,
    theta: float = 0.3,
    key: str = "series_id",
    value: str = "value",
) -> DataFrame:
    """ARMA(1,1) innovations filter at fixed parameters (the CSS residual
    recursion):
        e_t = y_t − φ·y_{t−1} − θ·e_{t−1},   e_0 = 0
    plus the one-step-ahead forecast ŷ_{t+1|t} = φ·y_t + θ·e_t. The
    innovation sequence is the whitened residual an ARMA diagnostic or a
    fitting loop consumes. Runs under series_kernel: series are independent,
    so the recursion is T numpy steps, each vectorized across every series
    of the Arrow batch."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        Y, n = _pad(pdf["vs"])
        e = np.zeros(len(n))
        es = [e.copy()]
        for t in range(1, Y.shape[1]):
            e = Y[:, t] - phi * Y[:, t - 1] - theta * e
            es.append(e.copy())
        out = []
        for i, s in enumerate(pdf[key]):
            ln = int(n[i])
            ei = np.array([es[t][i] for t in range(ln)])
            fc = phi * Y[i, :ln] + theta * ei
            out.append(
                pd.DataFrame(
                    {
                        key: s,
                        "t": np.arange(ln),
                        "innovation": ei,
                        "fc_next": fc,
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    return series_kernel(
        df, kernel, f"{key} bigint, t bigint, innovation double, fc_next double", key, value
    )


def arma11_sql(inner: str, phi: float = 0.6, theta: float = 0.3) -> str:
    """Recursive-CTE oracle replaying e_t = y_t − φ·y_{t−1} − θ·e_{t−1}
    with the numpy kernel's association order."""
    from . import expr as E

    P, TH = E.NUM(phi), E.NUM(theta)
    return f"""
WITH RECURSIVE src AS MATERIALIZED ({inner}),
rec(series_id, t, y, e) AS (
  SELECT series_id, t, value, 0.0e0 FROM src WHERE t = 0
  UNION ALL
  SELECT rec.series_id, rec.t + 1, s.value,
         s.value - {P} * rec.y - {TH} * rec.e
  FROM rec JOIN src s ON s.series_id = rec.series_id AND s.t = rec.t + 1)
SELECT series_id, t, {E.round6('e')} AS innovation,
       {E.round6(f'{P} * y + {TH} * e')} AS fc_next
FROM rec
"""


def ses_backtest(
    df: DataFrame,
    alpha: float = 0.3,
    key: str = "series_id",
    value: str = "value",
) -> DataFrame:
    """Rolling-origin one-step backtest of SES (the proper forecast
    evaluation protocol): at every origin t the model forecasts v_{t+1}
    with the SES level l_t (l_0 = v_0; l_t = l_{t-1} + α(v_t − l_{t-1})),
    so e_{t+1} = v_{t+1} − l_t. Emits per-series MAE, RMSE, and MASE
    (errors scaled by the in-sample naive |v_t − v_{t-1}| mean — Hyndman &
    Koehler 2006). Runs under series_kernel, one series per kernel row: the
    level recursion needs the whole t-sorted series."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for s, vs in zip(pdf[key], pdf["vs"]):
            y = np.asarray(vs, dtype=float)
            n = len(y)
            lvl = y[0]
            errs = []
            for t in range(1, n):
                errs.append(y[t] - lvl)
                lvl = lvl + alpha * (y[t] - lvl)
            e = np.asarray(errs)
            naive = np.abs(np.diff(y)).mean()
            rows.append(
                (
                    s,
                    n - 1,
                    float(np.abs(e).mean()),
                    float(np.sqrt((e * e).mean())),
                    float(np.abs(e).mean() / naive),
                )
            )
        return pd.DataFrame(rows, columns=[key, "n_origins", "mae", "rmse", "mase"])

    return series_kernel(
        df,
        kernel,
        f"{key} bigint, n_origins bigint, mae double, rmse double, mase double",
        key,
        value,
    )


def ses_backtest_sql(inner: str, alpha: float = 0.3) -> str:
    """Recursive-CTE oracle: replay the level recursion, aggregate the
    one-step errors. The MASE scale (mean |diff|) and the error aggregates
    divide two independently-summed means — matches the kernel exactly
    because both engines average over identical term sets."""
    from . import expr as E

    A = E.NUM(alpha)
    return f"""
WITH RECURSIVE src AS MATERIALIZED ({inner}),
rec(series_id, t, lvl, err) AS (
  SELECT series_id, CAST(0 AS BIGINT), value, CAST(NULL AS DOUBLE)
  FROM src WHERE t = 0
  UNION ALL
  SELECT rec.series_id, rec.t + 1,
         rec.lvl + {A} * (s.value - rec.lvl),
         s.value - rec.lvl
  FROM rec JOIN src s ON s.series_id = rec.series_id AND s.t = rec.t + 1),
agg AS (
  SELECT series_id, count(err) AS n_origins,
         avg(abs(err)) AS mae, sqrt(avg(err * err)) AS rmse
  FROM rec GROUP BY series_id),
naive AS (
  SELECT a.series_id, avg(abs(a.value - b.value)) AS scale
  FROM src a JOIN src b ON b.series_id = a.series_id AND b.t = a.t - 1
  GROUP BY a.series_id)
SELECT agg.series_id, agg.n_origins,
       {E.round6('agg.mae')} AS mae, {E.round6('agg.rmse')} AS rmse,
       {E.round6('agg.mae / naive.scale')} AS mase
FROM agg JOIN naive ON naive.series_id = agg.series_id
"""


def _backtest_sums(y: np.ndarray, alpha: float, beta: float) -> tuple[float, ...]:
    """One-step rolling-origin pass of SES, Holt (error-correction form) and
    naive over y → (l_ses, l_holt, b_holt, Σ|e_ses|, Σ|e_holt|, Σ|e_naive|),
    in the association order the model_select/forecast_combo oracles use."""
    l_s = y[0]
    l_h, b_h = y[0], 0.0
    s_ses = s_holt = s_nv = 0.0
    for t in range(1, len(y)):
        e_s = y[t] - l_s
        s_ses += abs(e_s)
        l_s = l_s + alpha * e_s
        p_h = l_h + b_h
        e_h = y[t] - p_h
        s_holt += abs(e_h)
        l_new = p_h + alpha * e_h
        b_h = b_h + beta * ((l_new - l_h) - b_h)
        l_h = l_new
        s_nv += abs(y[t] - y[t - 1])
    return l_s, l_h, b_h, s_ses, s_holt, s_nv


def model_select(
    df: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.2,
    key: str = "series_id",
    value: str = "value",
) -> DataFrame:
    """Rolling-origin model selection: run SES, Holt (error-correction
    forms), and the naive forecaster through the SAME one-step backtest per
    series and pick the MASE winner. The ratio of absolute-error sums
    equals the MASE ratio (common denominator), so selection is exact.
    Error-correction updates (l + a·(y−l)) are used in BOTH engines —
    algebraically equal to the textbook blend form but not bit-equal, so
    one form is canon. Ties (e.g., MASE exactly 1) break ses<holt<naive.
    Runs under series_kernel, one series per kernel row; the oracle replays
    all three recursions in one recursive CTE."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for s, vs in zip(pdf[key], pdf["vs"]):
            y = np.asarray(vs, dtype=float)
            _, _, _, s_ses, s_holt, s_nv = _backtest_sums(y, alpha, beta)
            m_ses = s_ses / s_nv
            m_holt = s_holt / s_nv
            cand = [(m_ses, 0, "ses"), (m_holt, 1, "holt"), (1.0, 2, "naive")]
            best = min(cand)[2]
            rows.append((s, len(y) - 1, m_ses, m_holt, best))
        return pd.DataFrame(
            rows, columns=[key, "n_origins", "mase_ses", "mase_holt", "best_model"]
        )

    return series_kernel(
        df,
        kernel,
        f"{key} bigint, n_origins bigint, mase_ses double, mase_holt double, best_model string",
        key,
        value,
    )


def model_select_sql(inner: str, alpha: float = 0.3, beta: float = 0.2) -> str:
    """Recursive-CTE oracle replaying SES + Holt + naive error sums in one
    recursion with identical association order."""
    from . import expr as E

    A, B = E.NUM(alpha), E.NUM(beta)
    return f"""
WITH RECURSIVE src AS MATERIALIZED ({inner}),
rec(series_id, t, y, ls, lh, bh, s_ses, s_holt, s_nv) AS (
  SELECT series_id, CAST(0 AS BIGINT), value, value, value, 0.0e0,
         0.0e0, 0.0e0, 0.0e0
  FROM src WHERE t = 0
  UNION ALL
  SELECT rec.series_id, rec.t + 1, s.value,
         rec.ls + {A} * (s.value - rec.ls),
         (rec.lh + rec.bh) + {A} * (s.value - (rec.lh + rec.bh)),
         rec.bh + {B} * ((((rec.lh + rec.bh) + {A} * (s.value - (rec.lh + rec.bh))) - rec.lh) - rec.bh),
         rec.s_ses + abs(s.value - rec.ls),
         rec.s_holt + abs(s.value - (rec.lh + rec.bh)),
         rec.s_nv + abs(s.value - rec.y)
  FROM rec JOIN src s ON s.series_id = rec.series_id AND s.t = rec.t + 1),
fin AS (
  SELECT series_id, t AS n_origins, s_ses / s_nv AS m_ses, s_holt / s_nv AS m_holt
  FROM rec r WHERE t = (SELECT max(t) FROM rec r2 WHERE r2.series_id = r.series_id))
SELECT series_id, n_origins,
       {E.round6('m_ses')} AS mase_ses,
       {E.round6('m_holt')} AS mase_holt,
       CASE WHEN m_ses <= m_holt AND m_ses <= 1.0e0 THEN 'ses'
            WHEN m_holt < m_ses AND m_holt <= 1.0e0 THEN 'holt'
            ELSE 'naive' END AS best_model
FROM fin
"""


def forecast_combo(
    df: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.2,
    horizon: int = 4,
    key: str = "series_id",
    value: str = "value",
) -> DataFrame:
    """Forecast combination (Bates & Granger 1969; the M4 'Comb' benchmark
    that beat most individual models, Makridakis et al. 2020): h-step
    forecasts from SES, Holt (error-correction form) and naive, combined
    two ways — equal weights and inverse-MAE weights from the SAME
    one-step rolling-origin backtest model_select runs (error sums double
    as the weights' denominators, so no second pass over the data).

        combo_imae = (f_s/S_s + f_h/S_h + f_n/S_n) / (1/S_s + 1/S_h + 1/S_n)

    written in exactly that association order in BOTH engines. Runs under
    series_kernel, one series per kernel row; the oracle replays the
    recursion once and cross-joins the horizon grid. → (series_id, h,
    f_ses, f_holt, f_naive, combo_eq, combo_imae)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for s, vs in zip(pdf[key], pdf["vs"]):
            y = np.asarray(vs, dtype=float)
            l_s, l_h, b_h, s_ses, s_holt, s_nv = _backtest_sums(y, alpha, beta)
            last = y[-1]
            for h in range(1, horizon + 1):
                f_s, f_h, f_n = l_s, l_h + h * b_h, last
                eq = (f_s + f_h + f_n) / 3.0
                # constant / length-1 series: some error sum is 0, so
                # inverse-MAE weights are undefined (numpy inf/nan vs
                # DuckDB NULL) — fall back to equal weights, both engines
                if s_ses == 0.0 or s_holt == 0.0 or s_nv == 0.0:
                    imae = eq
                else:
                    imae = (f_s / s_ses + f_h / s_holt + f_n / s_nv) / (
                        1.0 / s_ses + 1.0 / s_holt + 1.0 / s_nv
                    )
                rows.append((s, h, f_s, f_h, f_n, eq, imae))
        return pd.DataFrame(
            rows,
            columns=[key, "h", "f_ses", "f_holt", "f_naive", "combo_eq", "combo_imae"],
        )

    return series_kernel(
        df,
        kernel,
        f"{key} bigint, h bigint, f_ses double, f_holt double, f_naive double,"
        " combo_eq double, combo_imae double",
        key,
        value,
    )


def forecast_combo_sql(
    inner: str, alpha: float = 0.3, beta: float = 0.2, horizon: int = 4
) -> str:
    """Recursive-CTE oracle: the model_select recursion run once, final
    states cross-joined with the horizon grid, same association order."""
    from . import expr as E

    A, B = E.NUM(alpha), E.NUM(beta)
    return f"""
WITH RECURSIVE src AS MATERIALIZED ({inner}),
rec(series_id, t, y, ls, lh, bh, s_ses, s_holt, s_nv) AS (
  SELECT series_id, CAST(0 AS BIGINT), value, value, value, 0.0e0,
         0.0e0, 0.0e0, 0.0e0
  FROM src WHERE t = 0
  UNION ALL
  SELECT rec.series_id, rec.t + 1, s.value,
         rec.ls + {A} * (s.value - rec.ls),
         (rec.lh + rec.bh) + {A} * (s.value - (rec.lh + rec.bh)),
         rec.bh + {B} * ((((rec.lh + rec.bh) + {A} * (s.value - (rec.lh + rec.bh))) - rec.lh) - rec.bh),
         rec.s_ses + abs(s.value - rec.ls),
         rec.s_holt + abs(s.value - (rec.lh + rec.bh)),
         rec.s_nv + abs(s.value - rec.y)
  FROM rec JOIN src s ON s.series_id = rec.series_id AND s.t = rec.t + 1),
fin AS MATERIALIZED (
  SELECT series_id, y, ls, lh, bh, s_ses, s_holt, s_nv
  FROM rec r WHERE t = (SELECT max(t) FROM rec r2 WHERE r2.series_id = r.series_id)),
hs AS (SELECT unnest(range(1, {horizon + 1})) AS h)
SELECT f.series_id, CAST(hs.h AS BIGINT) AS h,
       {E.round6('f.ls')} AS f_ses,
       {E.round6('f.lh + hs.h * f.bh')} AS f_holt,
       {E.round6('f.y')} AS f_naive,
       {E.round6('(f.ls + (f.lh + hs.h * f.bh) + f.y) / 3.0e0')} AS combo_eq,
       {E.round6('CASE WHEN f.s_ses = 0.0e0 OR f.s_holt = 0.0e0 OR f.s_nv = 0.0e0'
                 ' THEN (f.ls + (f.lh + hs.h * f.bh) + f.y) / 3.0e0'
                 ' ELSE (f.ls / f.s_ses + (f.lh + hs.h * f.bh) / f.s_holt + f.y / f.s_nv)'
                 ' / (1.0e0 / f.s_ses + 1.0e0 / f.s_holt + 1.0e0 / f.s_nv) END')} AS combo_imae
FROM fin f CROSS JOIN hs ORDER BY f.series_id, hs.h
"""


# --- split-conformal prediction interval over SES -----------------------------
CONF_ALPHA, CONF_MISCOV, CONF_BURN = 0.3, 0.1, 8


def conformal_ses(
    df: DataFrame,
    alpha: float = CONF_ALPHA,
    miscoverage: float = CONF_MISCOV,
    burn: int = CONF_BURN,
    key: str = "series_id",
    value: str = "value",
) -> DataFrame:
    """Split-conformal prediction interval around the SES one-step forecast
    (Vovk et al. 2005; the distribution-free interval recipe): calibration
    scores are the absolute one-step-ahead SES errors r_t = |y_t − l_{t−1}|
    for t ≥ burn; the interval half-width is the k-th smallest score with
    k = min(m, ⌈(m+1)(1−miscoverage)⌉) — an exact order statistic, NO
    distributional assumption. Emits per series the point forecast, the
    [lo, hi] band, and the finite-sample calibration coverage (≥ 1−miscov
    by construction). Runs under series_kernel: series are independent, so
    the level recursion runs T numpy steps vectorized across the Arrow
    batch; the oracle replays it in a recursive CTE and takes the identical
    order statistic."""
    import math as _math

    oma = 1.0 - alpha

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        Y, n = _pad(pdf["vs"])
        L = np.empty(Y.shape)
        L[:, 0] = Y[:, 0]
        for t in range(1, Y.shape[1]):
            active = t < n
            l_new = alpha * Y[:, t] + oma * L[:, t - 1]
            L[:, t] = np.where(active, l_new, L[:, t - 1])
        rows = []
        for i, k_ in enumerate(pdf[key]):
            ni = int(n[i])
            scores = [
                (abs(float(Y[i, t]) - float(L[i, t - 1])), t)
                for t in range(burn, ni)
            ]
            m = len(scores)
            kk = min(m, _math.ceil((m + 1) * (1.0 - miscoverage)))
            qhat = sorted(scores)[kk - 1][0]
            cov = sum(1 for r, _ in scores if r <= qhat) / m
            fc = float(L[i, ni - 1])
            rows.append((int(k_), m, fc, qhat, fc - qhat, fc + qhat, cov))
        return pd.DataFrame(rows, columns=[key, "n_cal", "fc", "qhat", "lo", "hi", "coverage"])

    return series_kernel(
        df,
        kernel,
        f"{key} bigint, n_cal bigint, fc double, qhat double, "
        "lo double, hi double, coverage double",
        key,
        value,
    )


def conformal_ses_sql(
    inner: str,
    alpha: float = CONF_ALPHA,
    miscoverage: float = CONF_MISCOV,
    burn: int = CONF_BURN,
) -> str:
    from . import expr as E

    A, OMA = E.NUM(alpha), E.NUM(1.0 - alpha)
    COV = E.NUM(1.0 - miscoverage)
    return f"""
WITH RECURSIVE src AS MATERIALIZED ({inner}),
nn AS (SELECT series_id, max(t) AS tmax FROM src GROUP BY series_id),
rec(series_id, t, l) AS (
  SELECT series_id, CAST(0 AS BIGINT), value FROM src WHERE t = 0
  UNION ALL
  SELECT r.series_id, r.t + 1, {A}*s.value + {OMA}*r.l
  FROM rec r JOIN src s ON s.series_id = r.series_id AND s.t = r.t + 1),
res AS (
  SELECT s.series_id, s.t, abs(s.value - r.l) AS r
  FROM src s JOIN rec r ON r.series_id = s.series_id AND r.t = s.t - 1
  WHERE s.t >= {burn}),
m AS (SELECT series_id, count(*) AS m FROM res GROUP BY series_id),
kk AS (
  SELECT series_id, m,
         least(m, CAST(ceil((m + 1) * {COV}) AS BIGINT)) AS k
  FROM m),
qh AS (
  SELECT j.series_id, j.r AS qhat FROM (
    SELECT series_id, r,
           row_number() OVER (PARTITION BY series_id ORDER BY r, t) AS rn
    FROM res) j JOIN kk ON kk.series_id = j.series_id AND j.rn = kk.k),
fc AS (
  SELECT rec.series_id, rec.l AS fc
  FROM rec JOIN nn ON nn.series_id = rec.series_id AND rec.t = nn.tmax),
cov AS (
  SELECT res.series_id,
         CAST(sum(CASE WHEN res.r <= qh.qhat THEN 1 ELSE 0 END) AS DOUBLE)
           / any_value(kk.m) AS coverage
  FROM res JOIN qh ON qh.series_id = res.series_id
  JOIN kk ON kk.series_id = res.series_id
  GROUP BY res.series_id)
SELECT m.series_id, m.m AS n_cal, {E.round6('fc.fc')} AS fc,
       {E.round6('qh.qhat')} AS qhat,
       {E.round6('fc.fc - qh.qhat')} AS lo,
       {E.round6('fc.fc + qh.qhat')} AS hi,
       {E.round6('cov.coverage')} AS coverage
FROM m JOIN qh ON qh.series_id = m.series_id
JOIN fc ON fc.series_id = m.series_id
JOIN cov ON cov.series_id = m.series_id
"""
