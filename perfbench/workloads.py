"""The benchmark's workloads: each is a fixed list of operations.

An operation has a build phase (construct the DataFrame: for a registry
query this is ``Query.spark_fn``, which also runs its eager pins, collects
and streaming replays) and an exec phase (force the result, normally into
the noop sink). ``check`` runs once per run, in the untimed warm-up pass,
and returns the problems it found; an empty list means correct.
"""
from __future__ import annotations

import json
import os
import pickle
import subprocess
import sys
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

import __spark_entry__ as entry
from tools.check_oracle import compare, duck_con
from tsgen import decompose, diffusion, expr as E, generators, io, metrics, oracle
from tsgen.queries import canon_types, registry, round6
from tsgen.queries_decompose import _decompose_chain_sql
from tsgen.schedules import duckdb_from_clause, schedule_sql, schedule_table

# graph_communities: dedup.jaccard_pairs, then label propagation with eager
# pins; stream_asof: an availableNow stateful replay; embed_mmr: similarity
# top-k plus an applyInPandas re-rank; doc_bm25: the text tokenizer and BM25.
DRIVER_LOOPS = (
    "graph_communities",
    "stream_asof",
    "embed_mmr",
    "doc_bm25",
)

# series_synth scale: the reference's sequence length (config.json: 512)
# and diffusion depth (T=500) on fewer series, so that several passes fit
# in one run.
SERIES, SEQ_LEN, TIMESTEPS = 256, 512, 500
SUBSET_SERIES = 64  # decompose and combined_loss read this many of them
SAMPLE_SERIES = 4

# pipeline stage -> its layer metric
STAGES = {
    "generate": "generators.generate_s",
    "q_sample": "diffusion.q_sample_s",
    "save_series": "io.save_series_s",
    "load_series": "io.load_series_s",
    "decompose": "decompose.decompose_s",
    "combined_loss": "metrics.combined_loss_s",
    "sample_fused": "diffusion.sample_fused_s",
}


@dataclass
class Op:
    name: str
    build: Callable[[], DataFrame]
    run: Callable[[DataFrame], None]
    check: Callable[[DataFrame], list[str]]


def force(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def expected_outputs(tables: str, sqls: dict[str, str]) -> dict:
    """Run DuckDB twins; this module's __main__ does it in a child process."""
    con = duck_con(tables)
    try:
        return {name: con.execute(sql).df() for name, sql in sqls.items()}
    finally:
        con.close()


class Checker:
    """Compares outputs with their DuckDB twins.

    The DuckDB side needs no Spark, so it runs in a child process started
    when the checker is made: it overlaps the session start, and its memory
    stays out of the driver's peak resident set.
    """

    def __init__(self, tables: str, sqls: dict[str, str], work: Path):
        self.tables = tables
        request, self.result = work / "twins.json", work / "twins.pkl"
        request.write_text(json.dumps({"tables": tables, "sqls": sqls}))
        self.proc = subprocess.Popen([sys.executable, __file__, str(request), str(self.result)])
        self._expected = None

    def expected(self) -> dict:
        if self._expected is None:
            if self.proc.wait() != 0:
                raise RuntimeError(f"DuckDB twins exited with {self.proc.returncode}")
            with open(self.result, "rb") as fh:
                self._expected = pickle.load(fh)
        return self._expected

    def check(self, name: str, df: DataFrame) -> list[str]:
        """`df`'s rows against twin `name`, through check_oracle.compare."""
        got = canon_types(df).toPandas()
        return [f"{name}: {p}" for p in compare(name, got, self.expected()[name])]

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


def qsample_salt(seed: int) -> int:
    return diffusion.step_salt(diffusion.SALT_QNOISE, seed % 1024)


def series_twin_sqls(seed: int) -> dict[str, str]:
    """DuckDB twins of the series_synth stages at the benchmark's own sizes,
    schedule and noise salt, built from the registry's oracle SQL pieces."""
    gen = oracle.generate_sql(SERIES, SEQ_LEN, "linear_sum", rounded=False)
    sched = schedule_sql(TIMESTEPS, "cosine", duckdb_from_clause(TIMESTEPS))
    noised = (
        f"WITH s AS ({gen}), sch AS ({sched}), "
        f"b AS (SELECT series_id, t, value, {diffusion.draw_t_step(TIMESTEPS)} AS t_step, "
        f"{E.normal(E.pt_key(), qsample_salt(seed))} AS noise FROM s) "
        "SELECT b.series_id, b.t, b.t_step, b.value, b.noise, "
        "sch.sqrt_ac * b.value + sch.sqrt_1m_ac * b.noise AS x_t "
        "FROM b JOIN sch ON b.t_step = sch.t_step"
    )
    subset = f"SELECT * FROM ({noised}) WHERE series_id < {SUBSET_SERIES}"
    w = f"{2 * 3.141592653589793 / SEQ_LEN:.17e}"
    loss = f"""
WITH src AS (SELECT series_id, t, x_t AS pred, value AS target FROM ({subset})),
k AS (SELECT unnest(range(0, {SEQ_LEN // 2 + 1})) AS freq_idx),
spec AS (
  SELECT series_id, freq_idx,
         sqrt(pow(sum(pred * cos({w} * freq_idx * t)), 2)
              + pow(sum(-pred * sin({w} * freq_idx * t)), 2)) AS m_pred,
         sqrt(pow(sum(target * cos({w} * freq_idx * t)), 2)
              + pow(sum(-target * sin({w} * freq_idx * t)), 2)) AS m_target
  FROM src CROSS JOIN k GROUP BY series_id, freq_idx),
tl AS (SELECT avg(pow(pred - target, 2)) AS time_loss FROM src),
fl AS (SELECT avg(pow(m_pred - m_target, 2)) AS freq_loss FROM spec)
SELECT {E.round6('time_loss')} AS time_loss, {E.round6('freq_loss')} AS freq_loss,
       {E.round6('time_loss + freq_loss')} AS fourier_loss,
       {E.round6('time_loss + 5.0e-1 * (time_loss + freq_loss)')} AS combined_loss
FROM tl CROSS JOIN fl
"""
    rounded = ", ".join(f"{E.round6(c)} AS {c}" for c in ("value", "noise", "x_t"))
    return {
        "generate": oracle.generate_sql(SERIES, SEQ_LEN, "linear_sum"),
        "q_sample": f"SELECT series_id, t, t_step, {rounded} FROM ({noised})",
        "decompose": _decompose_chain_sql(
            f"SELECT series_id, t, value FROM ({subset})", "series_id", seq_len=SEQ_LEN
        ),
        "combined_loss": loss,
        # the registry's sample_fused twin (8 x 64, T=20): DuckDB cannot
        # unroll T=500 steps, so the timed output is checked by invariants
        "sample_fused": entry.oracle_sql()["sample_fused"],
    }


def twins(workload: str, seed: int) -> dict[str, str]:
    """Twin name -> DuckDB SQL for the outputs this workload checks."""
    if workload == "series_synth":
        return series_twin_sqls(seed)
    oracles = entry.oracle_sql()
    return {name: oracles[name] for name in DRIVER_LOOPS}


def registry_ops(spark: SparkSession, tables: str, names, checker: Checker) -> list[Op]:
    reg = registry()

    def op(name: str) -> Op:
        q = reg[name]
        return Op(
            name,
            build=lambda: q.spark_fn(spark, tables),
            run=force,
            check=lambda df: checker.check(name, df),
        )

    return [op(n) for n in names]


def parquet_rows(path: str) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in Path(path).rglob("*.parquet"))


def series_ops(spark: SparkSession, tables: str, work: str, seed: int,
               checker: Checker) -> list[Op]:
    """The paper's training-data path, one operation per stage."""
    path = os.path.join(work, "series")
    rows = SERIES * SEQ_LEN

    def noised() -> DataFrame:
        sched = schedule_table(spark, TIMESTEPS, "cosine")
        clean = generators.generate(spark, SERIES, SEQ_LEN, "linear_sum")
        return diffusion.q_sample(clean, sched, TIMESTEPS, noise_salt=qsample_salt(seed))

    def loaded() -> DataFrame:
        return io.load_series(spark, path)

    def subset() -> DataFrame:
        return loaded().filter(f"series_id < {SUBSET_SERIES}")

    def save(df: DataFrame) -> None:
        io.save_series(df, path)

    def twin(name: str, *cols: str):
        return lambda df: checker.check(name, round6(df, *cols))

    def written(_df: DataFrame) -> list[str]:
        n = parquet_rows(path)
        return [] if n == rows else [f"save_series: wrote {n} rows, expected {rows}"]

    def read_back(df: DataFrame) -> list[str]:
        # the rows read back are the q_sample output that save_series wrote
        return twin("q_sample", "value", "noise", "x_t")(df)

    def sampled(df: DataFrame) -> list[str]:
        pdf = df.select("series_id", "t", "x").toPandas()
        problems = []
        if len(pdf) != SAMPLE_SERIES * SEQ_LEN or pdf.duplicated(["series_id", "t"]).any():
            problems.append(f"sample_fused: {len(pdf)} rows, expected "
                            f"{SAMPLE_SERIES * SEQ_LEN} distinct (series_id, t)")
        if not np.isfinite(pdf["x"].to_numpy()).all():
            problems.append("sample_fused: non-finite x")
        small = registry()["sample_fused"].spark_fn(spark, tables)
        return problems + checker.check("sample_fused", small)

    def executed(run, problems):
        def check(df: DataFrame) -> list[str]:
            run(df)
            return problems(df)

        return check

    builds = {
        "generate": lambda: generators.generate(spark, SERIES, SEQ_LEN, "linear_sum"),
        "q_sample": noised,
        "save_series": noised,
        "load_series": loaded,
        "decompose": lambda: decompose.decompose(subset().select("series_id", "t", "value")),
        "combined_loss": lambda: metrics.combined_loss(subset(), "x_t", "value", SEQ_LEN),
        "sample_fused": lambda: diffusion.sample_fused(
            spark, SAMPLE_SERIES, SEQ_LEN, timesteps=TIMESTEPS
        ),
    }
    problems = {
        "generate": twin("generate", "value"),
        "q_sample": twin("q_sample", "value", "noise", "x_t"),
        "save_series": written,
        "load_series": read_back,
        "decompose": twin("decompose", "value", "trend", "seasonality", "residual"),
        "combined_loss": twin(
            "combined_loss", "time_loss", "freq_loss", "fourier_loss", "combined_loss"
        ),
        "sample_fused": sampled,
    }
    ops = []
    for name in STAGES:
        run = save if name == "save_series" else force
        ops.append(Op(name, builds[name], run, executed(run, problems[name])))
    return ops


def build_ops(workload: str, spark: SparkSession, tables: str, work: str, seed: int,
              checker: Checker) -> list[Op]:
    if workload == "series_synth":
        return series_ops(spark, tables, work, seed, checker)
    return registry_ops(spark, tables, DRIVER_LOOPS, checker)


if __name__ == "__main__":
    request = json.loads(Path(sys.argv[1]).read_text())
    with open(sys.argv[2], "wb") as fh:
        pickle.dump(expected_outputs(request["tables"], request["sqls"]), fh)
