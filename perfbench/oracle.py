"""Correctness gate: each shape's output against its DuckDB oracle.

Each registry entry carries an ANSI-SQL oracle. `run_oracles` runs them on
DuckDB over the benchmark's generated parquet tables; `mismatch` compares an
oracle's result with what the engine produced. Both sides are Arrow tables,
normalized by the rules of the repository's oracle-parity tests, applied
column-wise:

- column names compare as sets;
- every column keeps a type class (bool, integer, float, other), so an
  int-vs-float divergence fails even when the values agree;
- floats are rounded to 5 decimals, -0.0 folds into 0.0 and NaN equals NaN;
- rows compare as multisets (both sides sorted on every column).

The oracles run in their own process so that DuckDB's memory never counts
toward the engine driver's peak RSS:

    python3 perfbench/oracle.py DATA_DIR OUT_DIR NAME [NAME ...]

writes OUT_DIR/NAME.arrow, or OUT_DIR/NAME.err when DuckDB failed.
"""

from __future__ import annotations

import os
import sys
from typing import List, Optional, Sequence, Tuple

import pyarrow as pa
import pyarrow.compute as pc


def _type_class(t: pa.DataType) -> str:
    if pa.types.is_boolean(t):
        return "b"
    if pa.types.is_integer(t):
        return "i"
    if pa.types.is_floating(t):
        return "f"
    return "o"


def _norm_column(col: pa.ChunkedArray) -> List[Tuple[str, pa.ChunkedArray]]:
    t = col.type
    if pa.types.is_integer(t):
        return [("", col.cast(pa.int64()))]
    if pa.types.is_floating(t):
        col = col.cast(pa.float64())
        nan = pc.is_nan(col)
        # + 0.0 folds -0.0 (and values that round to it) into 0.0
        val = pc.add(pc.round(pc.if_else(nan, 0.0, col), 5), 0.0)
        return [("", val), ("#nan", nan)]
    if pa.types.is_timestamp(t):
        # the engine's session is UTC; compare instants, not tz annotations
        return [("", col.cast(pa.timestamp(t.unit)).cast(pa.int64()))]
    if pa.types.is_large_string(t):
        return [("", col.cast(pa.string()))]
    return [("", col)]


def normalize(table: pa.Table) -> Tuple[List[str], pa.Table]:
    """(type class per column, table with sorted columns and sorted rows)."""
    names = sorted(table.column_names)
    classes = [_type_class(table.column(n).type) for n in names]
    cols = {}
    for n in names:
        for suffix, arr in _norm_column(table.column(n)):
            cols[n + suffix] = arr
    norm = pa.table(cols)
    return classes, norm.sort_by([(n, "ascending") for n in norm.column_names])


def mismatch(expected: pa.Table, got: pa.Table) -> Optional[str]:
    """None when the engine's output equals the oracle's, else why not."""
    if sorted(got.column_names) != sorted(expected.column_names):
        return f"columns {sorted(got.column_names)} != oracle {sorted(expected.column_names)}"
    if got.num_rows != expected.num_rows:
        return f"{got.num_rows} rows != oracle {expected.num_rows}"
    (exp_cls, exp), (got_cls, norm) = normalize(expected), normalize(got)
    if got_cls != exp_cls:
        return f"type classes {got_cls} != oracle {exp_cls} (columns {exp.column_names})"
    for name in exp.column_names:
        a, b = norm.column(name), exp.column(name)
        if not a.equals(b):
            same = pc.fill_null(pc.equal(a, b), False)
            both_null = pc.and_(pc.is_null(a), pc.is_null(b))
            i = pc.index(pc.or_(same, both_null), False).as_py()
            if i < 0:
                return f"column {name} differs in type: {a.type} != oracle {b.type}"
            return f"column {name} differs; first at sorted row {i}: {a[i]} != oracle {b[i]}"
    return None


def run_oracles(data_dir: str, out_dir: str, names: Sequence[str]) -> None:
    import duckdb
    import pyarrow.ipc as ipc

    from purescript_ifrit_spark.sources.tables import TABLES
    from purescript_ifrit_spark.suite import REGISTRY

    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect(config={"threads": 2, "temp_directory": os.path.join(out_dir, "tmp")})
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for name in names:
            try:
                table = con.execute(REGISTRY[name][1]).arrow()
            except duckdb.Error as exc:
                with open(os.path.join(out_dir, f"{name}.err"), "w") as fh:
                    fh.write(f"oracle failed: {exc}")
                continue
            with ipc.new_file(os.path.join(out_dir, f"{name}.arrow"), table.schema) as w:
                w.write_table(table)
    finally:
        con.close()


def load_expected(out_dir: str, name: str):
    """The oracle's table for `name`, or the error text it left."""
    import pyarrow.ipc as ipc

    err = os.path.join(out_dir, f"{name}.err")
    if os.path.exists(err):
        with open(err) as fh:
            return fh.read()
    path = os.path.join(out_dir, f"{name}.arrow")
    if not os.path.exists(path):
        return "no oracle result"
    with ipc.open_file(path) as r:
        return r.read_all()


if __name__ == "__main__":
    data_dir, out_dir, *shape_names = sys.argv[1:]
    run_oracles(data_dir, out_dir, shape_names)
