"""End-to-end benchmark of the purescript_ifrit_spark engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload dialect_queries --seed 1 --seconds 15 --trace 0

One run, one workload, one closed-loop client on local[nproc]:

1. inputs, not part of set-up time: generate the tables from --seed
   (perfbench/datagen.py), then run every shape's oracle SQL on DuckDB
   (perfbench/oracle.py), each in its own process, one after the other;
2. set-up: start Spark, read every table, run every shape once and compare
   its collected output with its oracle (the correctness gate; this cold
   cycle is also the warm-up);
3. timed window: whole cycles, each a seeded permutation of the workload's
   shapes, until --seconds have passed and at least the workload's
   MIN_CYCLES ran.
   An op is the entry's build call plus a noop write; between ops the run
   drops the SQL cache and every persisted RDD.

With --trace 0 the last stdout line carries the end-to-end metrics. With
--trace 1 the window alternates untraced and traced cycles, and the last
line carries the per-layer metrics (per-op means over the traced cycles)
plus trace.overhead_frac. Spans, per-op numbers and per-shape tables
go to .perfbench-work/traces/.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from typing import Callable, Dict, List, Optional

import pyarrow as pa

import layers
from oracle import load_expected, mismatch
from workloads import MIN_CYCLES, shapes

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
DRIVER_MEMORY = "2g"


def declared_units(trace: int) -> Dict[str, str]:
    """Name -> unit of the metrics BENCHMARK.json declares for a run with
    this --trace value."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        metrics = json.load(fh)["per_layer" if trace else "end_to_end"]
    return {m["name"]: m["unit"] for m in metrics}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least 10 of `n` samples beyond it."""
    if n < 20:
        raise ValueError(f"{n} samples leave fewer than 10 beyond the median")
    return (100 * n - 1000) // n


def percentile(values: List[float], p: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[p - 1]


# ---------------------------------------------------------------------------
# Spark session and process lifetime
# ---------------------------------------------------------------------------


def start_spark(work: str):
    """local[nproc] session whose scratch files all stay under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, then the gateway JVM and its Python workers, and wait
    until every one of those processes has ended."""
    import signal

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    orphans = layers.descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway server exits on EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    while True:
        alive = [p for p in orphans if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# The benchmark proper
# ---------------------------------------------------------------------------


class Bench:
    """Runs one workload's shapes against one Spark session."""

    def __init__(self, spark, data_dir: str, names: List[str], seed: int):
        from purescript_ifrit_spark.suite import REGISTRY

        self.spark = spark
        self.data_dir = data_dir
        self.names = names
        self.fns: Dict[str, Callable] = {n: REGISTRY[n][0] for n in names}
        self.rng = random.Random(seed)
        self.gate_errors: Dict[str, str] = {}

    def release(self) -> None:
        self.spark.catalog.clearCache()
        for rdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
            rdd.unpersist()

    def cycle(self) -> List[str]:
        order = list(self.names)
        self.rng.shuffle(order)
        return order

    def gate(self, oracle_dir: str) -> None:
        """Run every shape once (the run's first, cold cycle) and compare its
        output with its oracle; a failing shape lands in gate_errors, and
        every op of it counts as failed."""
        for name in self.cycle():
            expected = load_expected(oracle_dir, name)
            try:
                got = self.fns[name](self.spark, self.data_dir).toArrow()
            except Exception as exc:  # a failing shape is a result, not a crash
                why = f"raised {type(exc).__name__}: {str(exc)[:500]}"
            else:
                why = expected if isinstance(expected, str) else mismatch(expected, got)
            if why is not None:
                self.gate_errors[name] = why
            self.release()

    def op(self, name: str) -> None:
        df = self.fns[name](self.spark, self.data_dir)
        df.write.format("noop").mode("overwrite").save()

    def traced_op(self, tracer: layers.Tracer, name: str, i: int) -> dict:
        """One op with a span per layer; returns its per-layer metrics."""
        jvm = tracer.jvm_pid
        worker0 = layers.descendants_cpu_ms(jvm)
        with tracer.span("op", op=i, shape=name):
            with tracer.span("operators"):
                df = self.fns[name](self.spark, self.data_dir)
            phases = tracer.catalyst_phases(df._jdf)
            jvm0 = layers.proc_cpu_ms(jvm)
            with tracer.span("exec"):
                df.write.format("noop").mode("overwrite").save()
            jvm1 = layers.proc_cpu_ms(jvm)
        extra = {f"catalyst.{k}_ms": v for k, v in phases.items()}
        extra["exec.jvm_cpu_ms"] = jvm1 - jvm0
        extra["worker.cpu_ms"] = layers.descendants_cpu_ms(jvm) - worker0
        return {"op": i, "shape": name, **tracer.op_metrics(i, extra)}

    def window(
        self, seconds: float, min_cycles: int, run_op: Optional[Callable] = None
    ) -> List[dict]:
        """Whole cycles until `seconds` passed and `min_cycles` ran."""
        run_op = run_op or (lambda name, i: self.op(name))
        samples: List[dict] = []
        t0 = time.perf_counter()
        cycles = 0
        while time.perf_counter() - t0 < seconds or cycles < min_cycles:
            cycles += 1
            for name in self.cycle():
                ok = name not in self.gate_errors
                start = time.perf_counter()
                try:
                    run_op(name, len(samples))
                except Exception as exc:
                    log(f"op {name} raised {type(exc).__name__}: {str(exc)[:300]}")
                    ok = False
                samples.append({"shape": name, "s": time.perf_counter() - start, "ok": ok})
                self.release()
        return samples


def ops_per_s(samples: List[dict]) -> float:
    """Completed ops per busy second."""
    return sum(x["ok"] for x in samples) / sum(x["s"] for x in samples)


def e2e_metrics(
    samples: List[dict], tail_p: int, setup_s: float, rss_mb: float
) -> Dict[str, float]:
    lat = [x["s"] * 1e3 for x in samples]
    by_shape: Dict[str, List[float]] = {}
    for x in samples:
        by_shape.setdefault(x["shape"], []).append(x["s"] * 1e3)
    shape_p50 = {k: statistics.median(v) for k, v in sorted(by_shape.items())}
    log("per-shape median ms: " + ", ".join(f"{k} {v:.0f}" for k, v in shape_p50.items()))
    log(f"op_tail_ms is p{tail_p} of {len(lat)} ops")
    return {
        "op_p50_ms": statistics.median(lat),
        "op_tail_ms": percentile(lat, tail_p),
        "ops_per_s": ops_per_s(samples),
        "setup_s": setup_s,
        "py_rss_peak_mb": rss_mb,
    }


def traced_window(bench: Bench, seconds: float, min_cycles: int):
    """Untraced and traced cycles in alternation, so both get the same
    warm-up, until `seconds` of each passed and `min_cycles` of each ran.
    Returns the untraced samples, the traced samples, the traced ops'
    per-layer metrics and the spans."""
    tracer = layers.Tracer(bench.spark)
    layers.reset_rss_peak(tracer.jvm_pid)
    plain: List[dict] = []
    traced: List[dict] = []
    per_op: List[dict] = []
    op_ids = itertools.count()

    def traced_cycle() -> List[dict]:
        tracer.install()
        try:
            return bench.window(
                0, 1, lambda name, _: per_op.append(bench.traced_op(tracer, name, next(op_ids)))
            )
        finally:
            tracer.uninstall()

    t0 = time.perf_counter()
    cycles = 0
    while time.perf_counter() - t0 < 2 * seconds or cycles < min_cycles:
        if cycles % 2:
            traced += traced_cycle()
        plain += bench.window(0, 1)
        if not cycles % 2:
            traced += traced_cycle()
        cycles += 1
    jvm_peak = layers.rss_peak_mb(tracer.jvm_pid)
    for m in per_op:
        m["exec.jvm_rss_peak_mb"] = jvm_peak
    return plain, traced, per_op, tracer.dump()


def layer_tables(per_op: List[dict], keys: List[str]) -> dict:
    shapes: Dict[str, List[dict]] = {}
    for m in per_op:
        shapes.setdefault(m["shape"], []).append(m)
    return {
        "per_shape_median": {
            s: {k: statistics.median(m[k] for m in ms) for k in keys}
            for s, ms in sorted(shapes.items())
        },
        "workload_mean": {k: statistics.fmean(m[k] for m in per_op) for k in keys},
        "workload_median": {k: statistics.median(m[k] for m in per_op) for k in keys},
    }


def print_table(title: str, rows: Dict[str, Dict[str, float]], cols: List[str]) -> None:
    log(title)
    log("  " + "shape".ljust(28) + "".join(c.split(".", 1)[1][:14].rjust(15) for c in cols))
    for name, r in rows.items():
        log("  " + name[:28].ljust(28) + "".join(f"{r[c]:15.1f}" for c in cols))


def main(argv: Optional[List[str]] = None) -> int:
    ap = argparse.ArgumentParser(description="purescript_ifrit_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # return freed Arrow memory at once, so the gate's tables do not linger
    # in the driver's RSS for a timing-dependent while
    pa.jemalloc_set_decay_ms(0)
    from purescript_ifrit_spark.suite import REGISTRY

    units = declared_units(args.trace)
    names = shapes(args.workload, REGISTRY)
    min_cycles = MIN_CYCLES[args.workload]
    # fixed per workload, so the tail is always the same percentile
    tail_p = tail_percentile(min_cycles * len(names))
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{args.seed}-{os.getpid()}")
    data_dir = os.path.join(work, "data")
    env = {**os.environ, "PYTHONPATH": ROOT}
    try:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "datagen.py"), data_dir,
             "--seed", str(args.seed)],
            check=True,
        )
        oracle_dir = os.path.join(work, "oracle")
        t_oracle = time.perf_counter()
        subprocess.run(
            [sys.executable, os.path.join(HERE, "oracle.py"), data_dir, oracle_dir, *names],
            env=env, check=True,
        )
        log(f"DuckDB oracles took {time.perf_counter() - t_oracle:.2f} s")

        t_setup = time.perf_counter()
        spark = start_spark(work)
        log(f"set-up: spark up at {time.perf_counter() - t_setup:.2f} s")
        try:
            from purescript_ifrit_spark.sources.tables import TABLES, load_table

            for t in TABLES:
                load_table(spark, data_dir, t)
            bench = Bench(spark, data_dir, names, args.seed)
            log(f"set-up: tables read at {time.perf_counter() - t_setup:.2f} s")
            bench.gate(oracle_dir)
            for name, why in bench.gate_errors.items():
                log(f"oracle gate: {name}: {why}")
            setup_s = time.perf_counter() - t_setup
            log(f"set-up {setup_s:.2f} s; {len(names)} shapes, "
                f"{len(names) - len(bench.gate_errors)} pass the oracle gate")

            if args.trace:
                plain, traced, per_op, spans = traced_window(bench, args.seconds, min_cycles)
                attempted = plain + traced
                tables = layer_tables(
                    per_op, [k for k in units if k != "trace.overhead_frac"]
                )
                overhead = ops_per_s(traced) / ops_per_s(plain) - 1
                metrics = dict(tables["workload_mean"], **{"trace.overhead_frac": overhead})
                _write_trace(args, spans, per_op, tables, overhead)
                print_table(
                    f"{args.workload}: per-shape medians of the traced cycles",
                    tables["per_shape_median"],
                    ["operators.construct_ms", "operators.eager_jobs", "exec.ms",
                     "exec.jobs", "exec.stages", "worker.cpu_ms"],
                )
            else:
                layers.trim_own_memory()
                log(f"driver RSS at window start: {layers.rss_mb():.1f} MB")
                layers.reset_rss_peak()
                attempted = bench.window(args.seconds, min_cycles)
                metrics = e2e_metrics(attempted, tail_p, setup_s, layers.rss_peak_mb())
                for k, v in metrics.items():
                    log(f"{k} = {v:.4f}")
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not x["ok"] for x in attempted)
    result = {
        "correct": not bench.gate_errors and failed == 0,
        "attempted": len(attempted),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    log(f"op_fail_frac = {failed / len(attempted):.4f} ({failed} of {len(attempted)} ops)")
    print(json.dumps(result))
    return 0


def _write_trace(args, spans, per_op, tables, overhead) -> None:
    out_dir = os.path.join(ROOT, ".perfbench-work", "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(
            {"workload": args.workload, "seed": args.seed, "overhead_frac": overhead,
             **tables, "per_op": per_op, "spans": spans},
            fh,
        )
    log(f"spans and layer tables written to {path}")


if __name__ == "__main__":
    sys.exit(main())
