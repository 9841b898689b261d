"""Loss reductions (SURVEY §2 C3-C5).

- mse_loss: mean((pred-target)^2) over all elements (diffusion_ts_model.py:645)
- fourier_loss: mse(time) + mse(|rfft(pred)|, |rfft(target)|) (:638-652)
- combined: mse + 0.5*fourier (:681-684)

MSE is a single partial-aggregated F.avg — one shuffle of 32 partial rows
regardless of input size. The Fourier term rides on spectral.rfft (grouped
pandas UDF) then the same scalar reduction.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def mse(df: DataFrame, pred: str, target: str, out: str = "mse") -> DataFrame:
    return df.agg(F.avg(F.pow(F.col(pred) - F.col(target), 2)).alias(out))


def fourier_loss(df: DataFrame, pred: str, target: str, seq_len: int) -> DataFrame:
    """Time-domain MSE + magnitude-spectrum MSE; returns 1 row
    (time_loss, freq_loss, fourier_loss)."""
    from .spectral import rfft

    time = df.agg(F.avg(F.pow(F.col(pred) - F.col(target), 2)).alias("time_loss"))
    pf = rfft(df, value_col=pred).select("series_id", "freq_idx", F.col("magnitude").alias("m_pred"))
    tf = rfft(df, value_col=target).select("series_id", "freq_idx", F.col("magnitude").alias("m_target"))
    freq = (
        pf.join(tf, ["series_id", "freq_idx"])
        .agg(F.avg(F.pow(F.col("m_pred") - F.col("m_target"), 2)).alias("freq_loss"))
    )
    return (
        time.crossJoin(freq)
        .withColumn("fourier_loss", F.col("time_loss") + F.col("freq_loss"))
    )


def combined_loss(df: DataFrame, pred: str, target: str, seq_len: int) -> DataFrame:
    """loss = mse + 0.5·fourier (diffusion_ts_model.py:681-684)."""
    out = fourier_loss(df, pred, target, seq_len)
    return out.withColumn(
        "combined_loss", F.col("time_loss") + F.lit(0.5) * F.col("fourier_loss")
    )
