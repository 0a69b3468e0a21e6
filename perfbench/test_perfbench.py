"""Self-tests of the benchmark: the layer contrasts its traced run predicts,
and a correctness gate that rejects perturbed output.

    python3 -m pytest perfbench -q        (from the repository root)
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    path = tmp_path_factory.mktemp("perfbench")
    datagen.write_tables(str(path / "data"), seed=11)
    return path


@pytest.fixture(scope="module")
def spark(work):
    session = run.start_spark(str(work))
    yield session
    run.stop_spark(session)


def traced(spark, work, name: str) -> dict:
    """Per-layer metrics of `name`'s second op (the first pays cold start)."""
    bench = run.Bench(spark, str(work / "data"), [name], seed=0)
    tracer = layers.Tracer(spark)
    tracer.install()
    try:
        bench.traced_op(tracer, name, 0)
        bench.release()
        return bench.traced_op(tracer, name, 1)
    finally:
        tracer.uninstall()
        bench.release()


def test_dialect_shape_runs_no_eager_jobs_and_no_python_workers(spark, work):
    m = traced(spark, work, "a4_group_sum")
    assert m["operators.eager_jobs"] == 0
    assert m["worker.cpu_ms"] == 0
    assert m["compile.tokens"] > 0 and m["planner.py4j_calls"] > 0
    assert m["sources.jobs"] >= 1 and m["exec.jobs"] >= 1


def test_minhash_dedup_reports_its_eager_construction_jobs(spark, work):
    m = traced(spark, work, "x_dedup_minhash_planted")
    assert m["operators.eager_jobs"] >= 5
    assert m["planner.build_ms"] == 0  # an operator shape: no dialect planner


def test_arrow_retrieval_shape_reports_python_worker_cpu(spark, work):
    m = traced(spark, work, "x_ann_batch")
    assert m["worker.cpu_ms"] > 0
    assert m["exec.tasks"] >= m["exec.stages"] >= 1


def test_tracer_restores_every_wrapped_function(spark, work):
    import purescript_ifrit_spark.api as api
    import purescript_ifrit_spark.suite._registry as registry

    before = (api.lexer.tokenize, api.P.build, registry.load_table)
    client = spark.sparkContext._gateway._gateway_client
    tracer = layers.Tracer(spark)
    tracer.install()
    assert registry.load_table is not before[2]
    tracer.uninstall()
    assert (api.lexer.tokenize, api.P.build, registry.load_table) == before
    assert "send_command" not in vars(client)


@pytest.fixture(scope="module")
def gate_case(spark, work):
    """An entry's engine output and its DuckDB oracle output."""
    from purescript_ifrit_spark.suite import REGISTRY

    name = "b1_avg_array"  # an integer key and a float aggregate
    out = str(work / "oracle")
    oracle.run_oracles(str(work / "data"), out, [name])
    got = REGISTRY[name][0](spark, str(work / "data")).toArrow()
    return oracle.load_expected(out, name), got


def _replace(table: pa.Table, name: str, column) -> pa.Table:
    return table.set_column(table.column_names.index(name), name, column)


def test_gate_accepts_the_true_output(gate_case):
    expected, got = gate_case
    assert oracle.mismatch(expected, got) is None
    shuffled = got.take(pa.array(list(reversed(range(got.num_rows)))))
    assert oracle.mismatch(expected, shuffled) is None


def test_gate_rejects_perturbed_output(gate_case):
    expected, got = gate_case
    floats = [f.name for f in got.schema if pa.types.is_floating(f.type)]
    ints = [f.name for f in got.schema if pa.types.is_integer(f.type)]
    assert floats and ints

    nudged = pc.add(got.column(floats[0]), 0.001)
    assert "differs" in oracle.mismatch(expected, _replace(got, floats[0], nudged))
    assert "rows" in oracle.mismatch(expected, got.slice(1))
    as_float = got.column(ints[0]).cast(pa.float64())
    assert "type classes" in oracle.mismatch(expected, _replace(got, ints[0], as_float))
    renamed = got.rename_columns([c + "_x" for c in got.column_names])
    assert "columns" in oracle.mismatch(expected, renamed)


def test_generated_tables_keep_the_test_data_statistics():
    """The figures README.md records for the sf 0.1 test data."""
    tables = datagen.make_tables(seed=3)
    rows = {name: t.num_rows for name, t in tables.items()}
    assert rows == {
        "region": 5, "nation": 25, "customer": 15_000, "supplier": 1_000,
        "part": 20_000, "orders": 150_000, "lineitem": 600_000,
        "events": 100_000, "documents": 5_000, "embeddings": 2_000,
    }
    for table, col in (("orders", "o_orderdate"), ("lineitem", "l_shipdate"),
                       ("events", "ts")):
        assert tables[table].schema.field(col).type == pa.timestamp("us")

    texts = tables["documents"].column("text").to_pylist()
    near = [t for t in texts if t.endswith(" dup")]
    assert len(near) == 250
    assert sum(t[: -len(" dup")] in set(texts) for t in near) > 230
    words = [len(t.split()) for t in texts if not t.endswith(" dup")]
    assert min(words) == 10 and max(words) == 99
    assert {w for t in texts for w in t.split()} == set(datagen.VOCAB) | {"dup"}


def test_tail_percentile_keeps_ten_samples_beyond_it():
    for n in (20, 28, 40, 120, 1000):
        p = run.tail_percentile(n)
        assert n * (100 - p) >= 1000 > n * (100 - p - 1)
    assert run.tail_percentile(40) == 75
    with pytest.raises(ValueError):
        run.tail_percentile(19)


def test_exits_nonzero_without_the_engine(tmp_path):
    """In a directory holding only the benchmark the run must fail fast and
    print no result."""
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "dialect_queries",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
