"""Benchmark runner for the tsgen engine: one workload, one process.

Usage (from the repository root):

    python3 perfbench/run.py --workload driver_loops --seed 1 --seconds 10 --trace 0

A closed loop with one client runs the workload's operations back to back
on local[nproc]. Set-up (session start plus one untimed warm-up pass that
checks every output against its DuckDB twin) is timed as ``setup_s``;
then passes run until ``--seconds`` have elapsed (at least three passes).
The last stdout line is one JSON object: correct, attempted, failed and
metrics. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs an
untraced child first, then a traced run with the Spark event log and a
streaming listener on, and prints the per-layer metrics.
"""
from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import subprocess
import sys
import time
import traceback
from datetime import datetime
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql.streaming import StreamingQueryListener

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
TABLES = HERE / "data" / "sf0.001"
# Pass 0 is the warm-up: untimed, counted in setup, and it checks every
# output. Timed passes follow, at least MIN_PASSES of them.
MIN_PASSES = 3
# Driver heap cap (TSGEN_DRIVER_MEM); it keeps a run small on a shared host.
# The heap starts small and grows within the cap. GCTimeRatio=1 makes G1 grow
# it when occupancy needs it rather than when pauses take more than 8% of
# wall time, so peak_rss_mb follows the driver's memory use and not the load
# of the host.
DRIVER_MEM = "2g"
GC_OPTS = "-XX:GCTimeRatio=1"

sys.path.insert(0, str(HERE))
from tracing import (  # noqa: E402
    PHASES, SPARK_COUNTERS, Tracer, fold_event_log, fold_progress, median, tail, union_length,
)


def spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over the given processes, in MB."""
    total_kb = 0
    for pid in pids:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                total_kb += int(line.split()[1])
    return total_kb / 1024


class Capture:
    """Send file descriptors 1 and 2 (and so the JVM and Python workers that
    inherit them) to a log file; Python's own stdout keeps the terminal."""

    def __init__(self, log_path: Path):
        self.log_path = log_path

    def __enter__(self):
        sys.stdout.flush()
        sys.stderr.flush()
        self.saved = os.dup(1), os.dup(2)
        fd = os.open(self.log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 1)
        os.dup2(fd, 2)
        os.close(fd)
        self.stdout = sys.stdout
        sys.stdout = os.fdopen(os.dup(self.saved[0]), "w", buffering=1)
        return self

    def __exit__(self, *exc):
        sys.stdout.flush()
        sys.stdout.close()
        sys.stdout = self.stdout
        sys.stderr.flush()
        os.dup2(self.saved[0], 1)
        os.dup2(self.saved[1], 2)
        for fd in self.saved:
            os.close(fd)

    def error_lines(self) -> int:
        with open(self.log_path, errors="replace") as fh:
            return sum(1 for line in fh if " ERROR " in line)

    def tail(self, n: int = 40) -> str:
        with open(self.log_path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])


def configure_env(work: Path, trace: bool) -> None:
    """Environment the JVM and its Python workers inherit: must be set
    before the session starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TSGEN_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # the JVM that spark-submit runs first to assemble the command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {GC_OPTS}"
    submit = [f"--driver-java-options={java}"]
    if trace:
        (work / "events").mkdir()
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{work / 'events'}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])


class StreamProgress(StreamingQueryListener):
    """Collects streaming progress events (the traced run registers it):
    micro-batches run on their own thread and lose the job group."""

    def __init__(self):
        self.progress: list[dict] = []
        self.started = self.terminated = 0

    def onQueryStarted(self, event):
        self.started += 1

    def onQueryProgress(self, event):
        p = event.progress
        ops = p.stateOperators or []
        self.progress.append({
            # the trigger's start; the event itself arrives later, on the
            # listener thread
            "t": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
            "run_id": str(p.runId),
            "durations_ms": dict(p.durationMs or {}),
            "state_rows": sum(o.numRowsTotal for o in ops),
            "state_bytes": sum(o.memoryUsedBytes for o in ops),
        })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated += 1


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Runner:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: Path):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.rng = random.Random(seed)
        self.tracer = Tracer()
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        # (pass, op) -> {"build": s, "exec": s}; timed passes only
        self.samples: dict[tuple[int, str], dict[str, float]] = {}
        self.windows: list[tuple[float, float, tuple[int, str, str]]] = []

    def call(self, pass_no: int, op, phase: str, fn, *args):
        """Run one phase of one operation under its job group and span."""
        self.sc.setJobGroup(f"{self.workload}:{pass_no}:{op.name}:{phase}", phase)
        span = self.tracer.open(phase, op.name)
        try:
            return fn(*args)
        finally:
            self.tracer.close(span)
            self.windows.append((span.start, span.end, (pass_no, op.name, phase)))

    def run_pass(self, pass_no: int, ops, check: bool = False) -> float:
        """One pass over the operations; returns its wall time.

        The checking (warm-up) pass runs the operations in their listed order
        (later pipeline stages read what save_series wrote), checks each
        output and records no samples; timed passes run them in an order
        drawn from the seed.
        """
        order = list(ops)
        if not check:
            self.rng.shuffle(order)
        span = self.tracer.open("pass")
        for op in order:
            self.attempted += 1
            op_span = self.tracer.open("op", op.name)
            try:
                t0 = time.perf_counter()
                df = self.call(pass_no, op, "build", op.build)
                t1 = time.perf_counter()
                problems = self.call(pass_no, op, "exec", op.check if check else op.run, df)
                t2 = time.perf_counter()
            except Exception as exc:  # an operation failure is a result, not a crash
                problems = [f"{op.name}: {type(exc).__name__}: {exc}"]
            finally:
                self.tracer.close(op_span)
            if problems:
                self.failed += 1
                self.problems += [f"pass {pass_no}: {p}" for p in problems]
            elif not check:
                self.samples[(pass_no, op.name)] = {"build": t1 - t0, "exec": t2 - t1}
        return self.tracer.close(span)

    def run(self, capture: Capture) -> dict:
        import workloads
        from tsgen.session import get_spark

        run_span = self.tracer.open("run")
        t0 = time.perf_counter()
        twins = workloads.twins(self.workload, self.seed)
        checker = workloads.Checker(str(TABLES), twins, self.work)
        try:
            spark = get_spark(f"perfbench-{self.workload}")
            try:
                r = self.measure(spark, checker, t0)
            finally:
                stop_spark(spark)
        finally:
            checker.close()
        self.tracer.close(run_span)
        r["error_lines"] = capture.error_lines()
        return r

    def measure(self, spark, checker, t0: float) -> dict:
        """Set-up (session start, then the warm-up pass checking outputs), then timed passes."""
        import workloads

        self.sc = spark.sparkContext
        start_s = time.perf_counter() - t0
        listener = None
        if self.trace:
            listener = StreamProgress()
            spark.streams.addListener(listener)
        ops = workloads.build_ops(
            self.workload, spark, str(TABLES), str(self.work), self.seed, checker
        )
        warmup_s = self.run_pass(0, ops, check=True)
        setup_s = time.perf_counter() - t0
        pass_times = []
        t_loop = time.perf_counter()
        while len(pass_times) < MIN_PASSES or time.perf_counter() - t_loop < self.seconds:
            pass_times.append(self.run_pass(1 + len(pass_times), ops))
        if listener is not None:  # progress events arrive asynchronously
            deadline = time.time() + 10
            while listener.terminated < listener.started and time.time() < deadline:
                time.sleep(0.05)
        return {
            "setup_s": setup_s,
            "start_s": start_s,
            "pass_times": pass_times,
            "warmup_s": warmup_s,
            "rss_mb": {
                "python": peak_rss_mb([os.getpid()]),
                "jvm": peak_rss_mb([self.sc._gateway.proc.pid]),
            },
            "ops": ops,
            "progress": listener.progress if listener else [],
        }

    # -- metrics -------------------------------------------------------------
    def end_to_end(self, r: dict) -> dict[str, float]:
        lat = [s["build"] + s["exec"] for s in self.samples.values()]
        tail_s, pct, beyond = tail(lat)
        per_op = " ".join(
            f"{op.name}={median(v['build'] for (_, n), v in self.samples.items() if n == op.name):.2f}"
            f"/{median(v['exec'] for (_, n), v in self.samples.items() if n == op.name):.2f}"
            for op in r["ops"]
        )
        self.note = (
            f"op_tail_s is p{pct:.1f} of {len(lat)} operation samples ({beyond} beyond); "
            f"session start {r['start_s']:.2f}; "
            f"warm-up pass {r['warmup_s']:.2f}; "
            f"passes {' '.join(f'{t:.2f}' for t in r['pass_times'])}; "
            f"peak RSS MB python {r['rss_mb']['python']:.0f} jvm {r['rss_mb']['jvm']:.0f}; "
            f"median build/exec s: {per_op}"
        )
        return {
            "setup_s": r["setup_s"],
            "pass_s": median(r["pass_times"]),
            "op_p50_s": median(lat),
            "op_tail_s": tail_s,
            "peak_rss_mb": sum(r["rss_mb"].values()),
        }

    def per_layer(self, r: dict, untraced_pass_s: float) -> dict[str, float]:
        ops = r["ops"]
        passes = sorted({p for p, _ in self.samples})
        m: dict[str, float] = {
            "session.start_s": r["start_s"],
            "session.warmup_s": r["setup_s"] - r["start_s"],
            "failed_ratio": self.failed / self.attempted,
            "log.error_lines": r["error_lines"],
            "trace.overhead_ratio": median(r["pass_times"]) / untraced_pass_s,
        }

        def per_pass(fn) -> float:
            return median(fn(p) for p in passes)

        def phase_sum(p: int, phase: str) -> float:
            return sum(v[phase] for (q, _), v in self.samples.items() if q == p)

        spark = fold_event_log(self.event_lines(), self.workload, self.windows)
        timed = {k: v for k, v in spark.items() if k[0] in passes}

        def counter(p: int, phase: str | None, name: str) -> float:
            recs = [v for (q, _, ph), v in timed.items() if q == p and phase in (None, ph)]
            if name == "task_skew":
                return max((v.get(name, 1.0) for v in recs), default=1.0)
            if name == "stages_skipped_ratio":
                launched = sum(v.get("stages_in_jobs", 0) for v in recs)
                return sum(v.get("stages_skipped", 0) for v in recs) / launched if launched else 0.0
            return sum(v.get(name, 0.0) for v in recs)

        def driver_only(p: int) -> float:
            total = 0.0
            for start, end, (q, op, phase) in self.windows:
                if q != p or phase != "build":
                    continue
                jobs = timed.get((q, op, phase), {}).get("job_intervals", [])
                covered = union_length((max(s, start), min(e, end)) for s, e in jobs)
                total += (end - start) - covered
            return total

        m["queries.build_s"] = per_pass(lambda p: phase_sum(p, "build"))
        m["queries.exec_s"] = per_pass(lambda p: phase_sum(p, "exec"))
        m["queries.build_jobs"] = per_pass(lambda p: counter(p, "build", "jobs"))
        m["queries.exec_jobs"] = per_pass(lambda p: counter(p, "exec", "jobs"))
        m["queries.build_driver_only_s"] = per_pass(driver_only)
        for name in SPARK_COUNTERS:
            m[f"spark.{name}"] = per_pass(lambda p: counter(p, None, name))
            for phase in PHASES:
                m[f"spark.{phase}.{name}"] = per_pass(lambda p: counter(p, phase, name))
        m["arrow.to_python_mb"] = per_pass(lambda p: counter(p, None, "arrow_to_python_mb"))
        m["arrow.from_python_mb"] = per_pass(lambda p: counter(p, None, "arrow_from_python_mb"))

        import workloads

        op_names = {op.name for op in ops}
        for name, layer in workloads.STAGES.items():
            m[layer] = (
                per_pass(lambda p: sum(self.samples.get((p, name), {}).values()))
                if name in op_names else 0.0
            )
        m["io.written_mb"] = (
            dir_mb(self.work / "series") if "save_series" in op_names else 0.0
        )

        stream = fold_progress(r["progress"], self.windows)
        for name in ("batches", "trigger_s", "add_batch_s", "commit_s", "state_rows", "state_mb"):
            m[f"streaming.{name}"] = per_pass(
                lambda p: sum(v.get(name, 0.0) for (q, _, _), v in stream.items() if q == p)
            )

        for name in workloads.DRIVER_LOOPS:
            for phase in PHASES:
                m[f"op.{name}.{phase}_s"] = (
                    per_pass(lambda p: self.samples.get((p, name), {}).get(phase, 0.0))
                    if name in op_names else 0.0
                )
        return m

    def event_lines(self):
        for f in sorted((self.work / "events").iterdir()):
            with open(f) as fh:
                yield from fh

    def spans_out(self) -> Path:
        out = HERE / "out"
        out.mkdir(exist_ok=True)
        path = out / f"trace-{self.workload}-seed{self.seed}.json"
        path.write_text(json.dumps({"workload": self.workload, "seed": self.seed,
                                    "spans": self.tracer.to_json()}))
        return path


def dir_mb(path: Path) -> float:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file()) / (1024 * 1024)


def untraced_child(args) -> float:
    """pass_s of an untraced run with the same arguments."""
    cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=170, cwd=ROOT)
    if out.returncode != 0:
        raise RuntimeError(f"untraced run failed ({out.returncode}): {out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])["metrics"]["pass_s"]["value"]


def main(argv=None) -> int:
    args = parse(argv)
    bench = spec()
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not (ROOT / "tsgen" / "__init__.py").is_file() or not TABLES.is_dir():
        print(f"perfbench: no tsgen package or input tables under {ROOT}", file=sys.stderr)
        return 2
    untraced_pass_s = untraced_child(args) if args.trace else None
    work = HERE / "work" / f"{args.workload}-{os.getpid()}"
    work.mkdir(parents=True)
    try:
        configure_env(work, bool(args.trace))
        sys.path.insert(0, str(ROOT))
        runner = Runner(args.workload, args.seed, args.seconds, bool(args.trace), work)
        failure = None
        with Capture(work / "spark.log") as capture:
            try:
                r = runner.run(capture)
            except Exception:  # report with the Spark log tail, print no result
                failure = traceback.format_exc() + "\n--- spark log tail ---\n" + capture.tail()
        if failure:
            print(failure, file=sys.stderr)
            return 1
        if args.trace:
            metrics = runner.per_layer(r, untraced_pass_s)
            declared = bench["per_layer"]
            print(f"spans: {runner.spans_out().relative_to(ROOT)}")
        else:
            metrics = runner.end_to_end(r)
            declared = bench["end_to_end"]
            print(runner.note)
        units = {d["name"]: d["unit"] for d in declared}
        if set(metrics) != set(units):
            raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(metrics) ^ set(units)}")
        for p in runner.problems:
            print(f"FAILED {p}")
        print(json.dumps({
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not any(work.parent.iterdir()):
            work.parent.rmdir()


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


if __name__ == "__main__":
    sys.exit(main())
