"""DuckDB oracle SQL builders.

Each builder returns SQL that recomputes a query's result from scratch in
DuckDB, reusing the exact scalar expression text from tsgen/expr.py so the
two engines agree by construction (see expr.py docstring).
"""
from __future__ import annotations

from . import expr as E
from .normalize import znorm_sql


def grid_sql(n_series: int, seq_len: int) -> str:
    """(series_id, t) long grid — DuckDB's range() TVF names its column `range`."""
    return (
        f"(SELECT range AS series_id FROM range({n_series})) "
        f"CROSS JOIN (SELECT range AS t FROM range({seq_len}))"
    )


def generate_sql(
    n_series: int,
    seq_len: int,
    family: str,
    lambda_decay: float = 0.5,
    noise: bool = True,
    normalize: bool = True,
    rounded: bool = True,
) -> str:
    """Oracle for generators.generate — same formulas over the same grid."""
    value = (
        E.noisy_signal_expr(family, seq_len, lambda_decay=lambda_decay)
        if noise
        else E.signal_expr(family, seq_len, lambda_decay=lambda_decay)
    )
    inner = f"SELECT series_id, t, {value} AS value FROM {grid_sql(n_series, seq_len)}"
    if normalize:
        inner = znorm_sql(inner)
    if not rounded:
        return inner
    return f"SELECT series_id, t, {E.round6('value')} AS value FROM ({inner})"


def generate_labeled_sql(
    n_series: int,
    seq_len: int,
    noise: bool = True,
    normalize: bool = True,
) -> str:
    n_fam = len(E.LABEL_FAMILIES)
    label = f"CAST(floor({E.u01('series_id', E.SALT_LABEL)} * {n_fam}) AS BIGINT)"
    cases = " ".join(
        f"WHEN {i} THEN {E.noisy_signal_expr(f, seq_len) if noise else E.signal_expr(f, seq_len)}"
        for i, f in enumerate(E.LABEL_FAMILIES)
    )
    inner = (
        f"SELECT series_id, t, {label} AS label, CASE {label} {cases} END AS value"
        f" FROM {grid_sql(n_series, seq_len)}"
    )
    if normalize:
        inner = znorm_sql(inner)
    return f"SELECT series_id, t, label, {E.round6('value')} AS value FROM ({inner})"


def series_stats_sql(n_series: int, seq_len: int, family: str) -> str:
    """Oracle for per-series stats over the raw (noisy, unnormalized) signal."""
    value = E.noisy_signal_expr(family, seq_len)
    inner = f"SELECT series_id, {value} AS value FROM {grid_sql(n_series, seq_len)}"
    return (
        "SELECT series_id, "
        f"{E.round6('avg(value)')} AS mean_val, "
        f"{E.round6('stddev_samp(value)')} AS std_val, "
        f"{E.round6('min(value)')} AS min_val, "
        f"{E.round6('max(value)')} AS max_val "
        f"FROM ({inner}) GROUP BY series_id"
    )


def sample_data_sql(batch_size: int, seq_len: int, family: str) -> str:
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
        raise ValueError(family)
    noise = f"(1.0e-1 * {E.normal(E.pt_key(), E.SALT_NOISE)})"
    return (
        f"SELECT series_id, t, {E.round6(sig)} AS signal, {E.round6(noise)} AS noise, "
        f"{E.round6(f'({sig} + {noise})')} AS value "
        f"FROM {grid_sql(batch_size, seq_len)}"
    )
