"""Synthetic time-series sources (the engine's table-valued generators).

Re-expresses /root/reference/utils/data_generators.py:38-147 and
models/diffusion_ts_model.py:777-816 as Spark DataFrame builders.

Scale notes (100 TB design):
- `spark.range(n)` is an embarrassingly parallel source; the per-series
  sequence is exploded *within* a partition (narrow op — no shuffle at all
  in the whole generator path, verified via .explain: a single
  WholeStageCodegen span over Range → Project → Generate → Project).
- All randomness is a pure function of (series_id, t) (tsgen/expr.py), so
  output is independent of partitioning/task retries — a requirement for
  deterministic regeneration at cluster scale.
"""
from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from . import expr as E
from .normalize import znorm


def base_grid(spark: SparkSession, n_series: int, seq_len: int, partitions: int | None = None) -> DataFrame:
    """(series_id BIGINT, t BIGINT) long-format grid, no shuffle."""
    rng = spark.range(0, n_series, 1, partitions) if partitions else spark.range(n_series)
    return (
        rng.withColumnRenamed("id", "series_id")
        .select(
            "series_id",
            F.explode(F.sequence(F.lit(0), F.lit(seq_len - 1))).alias("t"),
        )
        .withColumn("t", F.col("t").cast("bigint"))
    )


def generate(
    spark: SparkSession,
    n_series: int,
    seq_len: int,
    family: str = "sine",
    lambda_decay: float = 0.5,
    noise: bool = True,
    normalize: bool = True,
    partitions: int | None = None,
) -> DataFrame:
    """create_synthetic_dataset (utils/data_generators.py:38-108) as a DataFrame.

    Returns (series_id, t, value). With noise+normalize this matches the
    reference's full pipeline: family signal → +Gaussian noise → z-norm.
    """
    value = (
        E.noisy_signal_expr(family, seq_len, lambda_decay=lambda_decay)
        if noise
        else E.signal_expr(family, seq_len, lambda_decay=lambda_decay)
    )
    df = base_grid(spark, n_series, seq_len, partitions).withColumn("value", F.expr(value))
    if normalize:
        df = znorm(df)
    return df


def generate_labeled(
    spark: SparkSession,
    n_series: int,
    seq_len: int,
    noise: bool = True,
    normalize: bool = True,
) -> DataFrame:
    """create_labeled_dataset (utils/data_generators.py:111-147): each series
    draws a family uniformly; label = index into E.LABEL_FAMILIES.

    Spark-first: the per-sample family dispatch (reference: a Python loop
    generating one series at a time) becomes a single CASE WHEN over the
    whole grid — one codegen'd pass, no per-series work on the driver.
    """
    n_fam = len(E.LABEL_FAMILIES)
    label = f"CAST(floor({E.u01('series_id', E.SALT_LABEL)} * {n_fam}) AS BIGINT)"
    cases = " ".join(
        f"WHEN {i} THEN {E.noisy_signal_expr(fam, seq_len) if noise else E.signal_expr(fam, seq_len)}"
        for i, fam in enumerate(E.LABEL_FAMILIES)
    )
    df = (
        base_grid(spark, n_series, seq_len)
        .withColumn("label", F.expr(label))
        .withColumn("value", F.expr(f"CASE label {cases} END"))
    )
    if normalize:
        df = znorm(df)
    return df


def multichannel_key(sid: str = "series_id", channel: str = "channel") -> str:
    """Combine (series_id, channel) into one param key < 2^31 so each
    channel draws independent frequencies/phases (SURVEY §1.4: dim>1 adds
    a channel column to the long format)."""
    return f"((({sid}) * 131 + ({channel})) % {E.M31})"


def generate_multichannel(
    spark: SparkSession,
    n_series: int,
    seq_len: int,
    dim: int,
    family: str = "sine",
    lambda_decay: float = 0.5,
    noise: bool = True,
    normalize: bool = True,
) -> DataFrame:
    """Multivariate generator: (series_id, channel, t, value) with
    per-(series, channel) random parameters — the dim>1 case of
    create_synthetic_dataset (utils/data_generators.py:40,51). Still
    shuffle-free: both channel and t explode within the partition."""
    ck = multichannel_key()
    value = (
        E.noisy_signal_expr(family, seq_len, sid=ck, lambda_decay=lambda_decay)
        if noise
        else E.signal_expr(family, seq_len, sid=ck, lambda_decay=lambda_decay)
    )
    df = (
        spark.range(n_series)
        .withColumnRenamed("id", "series_id")
        .select(
            "series_id",
            F.explode(F.sequence(F.lit(0), F.lit(dim - 1))).alias("channel"),
        )
        .withColumn("channel", F.col("channel").cast("bigint"))
        .select(
            "series_id",
            "channel",
            F.explode(F.sequence(F.lit(0), F.lit(seq_len - 1))).alias("t"),
        )
        .withColumn("t", F.col("t").cast("bigint"))
        .withColumn("value", F.expr(value))
    )
    if normalize:
        df = znorm(df, key=["series_id", "channel"])
    return df


def to_wide(
    df: DataFrame, keys: list[str] | None = None, value_col: str = "value", order: str = "t"
) -> DataFrame:
    """Long → wide: one row per series, `(*keys, vs ARRAY<DOUBLE>)` with `vs`
    sorted by `order` — the pandas-UDF-boundary representation (SURVEY §1.4).

    The one shuffle is the groupBy; sorting (order, v) structs and then
    projecting `.v` happens JVM-side, so only the value array crosses Arrow."""
    keys = keys or ["series_id"]
    return (
        df.groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct(order, F.col(value_col).alias("v")))).alias("_pts"))
        .select(*keys, F.col("_pts.v").alias("vs"))
    )


def series_kernel(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], pd.DataFrame],
    schema: str,
    key: str = "series_id",
    value: str = "value",
    order: str = "t",
) -> DataFrame:
    """Run a whole-series numpy kernel over every series of long-format `df`.

    Packs with `to_wide`, then one `mapInPandas`: `fn(pdf)` is called once
    per non-empty Arrow batch, where `pdf` holds columns `key` and `vs` (one
    row per series, each `vs` sorted by `order`), and must return a frame
    matching `schema`. Series are the batch axis, so a recursion over time
    runs as one numpy step per time index across the whole batch. Plan: one
    shuffle on `key`, collect_list, MapInPandas."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield fn(pdf)

    return to_wide(df, [key], value, order).mapInPandas(run, schema)


def to_long(df: DataFrame, keys: list[str] | None = None, values_col: str = "vs") -> DataFrame:
    """Wide → long via posexplode (inverse of to_wide)."""
    keys = keys or ["series_id"]
    return df.select(
        *keys, F.posexplode(values_col).alias("t", "value")
    ).withColumn("t", F.col("t").cast("bigint"))


def generate_custom_decay(
    spark: SparkSession,
    n_series: int,
    seq_len: int,
    decay_fn=None,
    noise: bool = True,
    normalize: bool = True,
) -> DataFrame:
    """custom_decay with a USER-SUPPLIED Python callable decay(t_value) —
    the reference's only user-extension point (utils/data_generators.py:43,
    92-93) and this engine's scalar-UDF surface (SURVEY §2.J).

    The callable runs as an Arrow-vectorized pandas UDF (Series → Series),
    NOT a row-at-a-time Python UDF; everything else stays in codegen.
    With decay_fn=None this matches generate(family='custom_decay').
    """
    from pyspark.sql.functions import pandas_udf

    if decay_fn is None:
        return generate(spark, n_series, seq_len, "custom_decay", noise=noise, normalize=normalize)

    @pandas_udf("double")
    def decay_udf(tv: pd.Series) -> pd.Series:
        return pd.Series(decay_fn(tv.to_numpy()))

    p = E.series_params()
    tv = E.time_grid("t", seq_len)
    periodic = (
        f"(sin({p['freq1']} * {tv} + {p['phase1']})"
        f" + 3.0e-1 * cos({p['freq2']} * {tv} + {p['phase2']}))"
    )
    df = base_grid(spark, n_series, seq_len).withColumn(
        "value", decay_udf(F.expr(tv)) * F.expr(periodic)
    )
    if noise:
        nl = E.series_params()["noise_level"]
        df = df.withColumn(
            "value", F.col("value") + F.expr(f"{nl} * {E.normal(E.pt_key(), E.SALT_NOISE)}")
        )
    if normalize:
        df = znorm(df)
    return df


def sample_data(
    spark: SparkSession, batch_size: int, seq_len: int, family: str = "sine"
) -> DataFrame:
    """create_sample_data (models/diffusion_ts_model.py:777-816): fixed-parameter
    families (no random freq/phase), plus 0.1·N(0,1) noise column.

    Returns (series_id, t, signal, noise, value=signal+noise).
    """
    tv = E.time_grid("t", seq_len)
    if family == "sine":
        sig = f"sin({tv})"
    elif family == "cosine":
        sig = f"cos({tv})"
    elif family == "mixed":
        sig = f"(5.0e-1 * sin({tv}) + 3.0e-1 * cos(2.0e0 * {tv}))"
    elif family == "exponential":
        sig = f"(exp(-5.0e-1 * {tv} / {E.NUM(4.0 * E.PI)}) * sin({tv}))"
    else:
        raise ValueError(f"unknown family: {family}")
    noise = f"(1.0e-1 * {E.normal(E.pt_key(), E.SALT_NOISE)})"
    return (
        base_grid(spark, batch_size, seq_len)
        .withColumn("signal", F.expr(sig))
        .withColumn("noise", F.expr(noise))
        .withColumn("value", F.col("signal") + F.col("noise"))
    )
