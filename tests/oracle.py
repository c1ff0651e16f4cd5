"""Local replica of the driver's DuckDB differential-testing oracle.

Runs a registered Spark query and its oracle SQL side-by-side on the same
parquet tables and compares row count, column names, and an
order-insensitive canonical form of all values (the driver hashes; we diff
so failures are debuggable). Floats are compared exactly — queries are
expected to round on BOTH sides so values are bit-identical
(FIXTURES.md oracle-compatibility rules).
"""

from __future__ import annotations

import atexit
import datetime as _dt
import math
import os
import shutil
import tempfile

import duckdb
import numpy as np

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_T2", "/root/testdata/sf0.01")


_SCRATCH: list[str] = []


def scratch_connect() -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB connection that spills to a per-process
    scratch directory, removed at exit. Left to itself an in-memory
    connection spills to ``.tmp/`` under the working directory."""
    if not _SCRATCH:
        _SCRATCH.append(tempfile.mkdtemp(prefix="duckdb-oracle-"))
        atexit.register(shutil.rmtree, _SCRATCH[0], True)
    return duckdb.connect(config={"temp_directory": _SCRATCH[0]})


def duckdb_connect(sf_dir: str = DEFAULT_SF_DIR) -> duckdb.DuckDBPyConnection:
    con = scratch_connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_cell(v):
    """Canonicalize one value for order-insensitive comparison."""
    if v is None:
        return "∅"
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "∅"
        if f == 0.0:  # -0.0 == 0.0
            return "0.0"
        return repr(f)
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if hasattr(v, "isoformat"):  # pandas Timestamp
        return _canon_cell(v.to_pydatetime())
    return str(v)


def _canon_column(s) -> "np.ndarray":
    """Vectorized per-column canonicalization producing the exact same
    strings as ``_canon_cell`` for that column's dtype. Column-wise numpy
    formatting replaces the per-cell Python loop — at sf1 a single key
    can return 6M rows × 10 cols, and 60M ``_canon_cell`` calls per side
    turned the parity sweep into hours of pure canonicalization."""
    import pandas as pd

    dt = s.dtype
    if pd.api.types.is_bool_dtype(dt) and not pd.api.types.is_object_dtype(dt):
        return np.where(s.to_numpy(dtype=bool), "True", "False").astype(object)
    if pd.api.types.is_integer_dtype(dt):
        if pd.api.types.is_unsigned_integer_dtype(dt):
            # uint64 > 2^63 (possible from DuckDB UBIGINT) would silently
            # wrap under a to_numpy(int64) cast — per-cell path is exact
            return s.astype(object).map(_canon_cell).to_numpy(dtype=object)
        if s.isna().any():  # nullable Int64 with missing → per-cell path
            return s.astype(object).map(_canon_cell).to_numpy(dtype=object)
        return s.to_numpy(dtype=np.int64).astype(str).astype(object)
    if pd.api.types.is_float_dtype(dt):
        # float64 first so float32 columns canonicalize through the same
        # double repr as _canon_cell's float(v)
        v = s.to_numpy(dtype=np.float64)
        out = v.astype(str).astype(object)  # numpy uses shortest-repr, == repr()
        out[v == 0.0] = "0.0"  # -0.0 folds in (NaN == 0.0 is False)
        out[np.isnan(v)] = "∅"
        return out
    if pd.api.types.is_datetime64_any_dtype(dt):
        if getattr(s.dt, "tz", None) is not None:
            s = s.dt.tz_localize(None)  # keep wall clock, like replace(tzinfo=None)
        v = s.to_numpy(dtype="datetime64[us]")
        out = np.char.replace(v.astype(str), "T", " ").astype(object)
        out[pd.isna(v)] = "∅"
        return out
    # strings, lists/arrays, decimals, dates, bytes → exact legacy behavior
    return s.map(_canon_cell).to_numpy(dtype=object)


def _canon_frame(pdf) -> tuple[list[str], "object"]:
    """Canonical string DataFrame with sorted columns (rows unsorted)."""
    import pandas as pd

    cols = sorted(pdf.columns)
    canon = pd.DataFrame(
        {c: _canon_column(pdf[c]) for c in cols},
        index=range(len(pdf)),
        columns=cols,
    )
    return cols, canon


def _row_hashes(canon) -> "np.ndarray":
    """Sorted per-row uint64 hashes of the canonical frame — the
    multiset-equality fast path (C-speed vs sorting object strings)."""
    from pandas.util import hash_pandas_object

    return np.sort(hash_pandas_object(canon, index=False).to_numpy())


def canonicalize(pdf) -> tuple[list[str], "np.ndarray"]:
    """Sorted-column, sorted-row canonical string matrix (rows × cols).

    Row order is a deterministic multi-key sort over the canonical
    strings; both sides sort identically, so multiset equality ⇔ matrix
    equality (ties across all columns are identical rows, so tie order
    can't differ)."""
    cols, canon = _canon_frame(pdf)
    if not cols or len(pdf) == 0:
        return cols, np.empty((len(pdf), len(cols)), dtype=object)
    canon = canon.sort_values(cols, kind="stable", ignore_index=True)
    return cols, canon.to_numpy(dtype=object)


def _spark_dtype_class(dt) -> str:
    """Coarse type class of a Spark DataType — the granularity at which
    engine and oracle must agree (int/float/decimal/str/date/timestamp/
    bool/list/binary). Canonical-value equality alone is blind to e.g.
    a DATE column whose oracle emits VARCHAR (both canonicalize to
    'yyyy-MM-dd'); a driver that hashes dtypes would flag it, so the
    in-repo gate must too (round-9 verdict item #2)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.BooleanType):
        return "bool"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.ArrayType):
        return "list"
    if isinstance(dt, T.BinaryType):
        return "binary"
    return "other:" + dt.simpleString()


def _duckdb_dtype_class(type_name: str) -> str:
    """Coarse type class of a DuckDB ``DESCRIBE`` type string."""
    t = type_name.upper()
    if t.endswith("[]") or t.startswith(("LIST", "ARRAY")):
        return "list"
    if t == "BOOLEAN":
        return "bool"
    if t in {
        "TINYINT",
        "SMALLINT",
        "INTEGER",
        "BIGINT",
        "HUGEINT",
        "UTINYINT",
        "USMALLINT",
        "UINTEGER",
        "UBIGINT",
    }:
        return "int"
    if t in {"FLOAT", "REAL", "DOUBLE"}:
        return "float"
    if t.startswith("DECIMAL"):
        return "decimal"
    if t == "VARCHAR":
        return "str"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "BLOB":
        return "binary"
    return "other:" + t


def compare(spark_df, oracle_sql: str, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Raise AssertionError with a useful diff if the two sides disagree."""
    spark_classes = {
        f.name: _spark_dtype_class(f.dataType) for f in spark_df.schema.fields
    }
    spark_pdf = spark_df.toPandas()
    con = duckdb_connect(sf_dir)
    try:
        duck_pdf = con.execute(oracle_sql).fetch_df()
        duck_classes = {
            name: _duckdb_dtype_class(type_name)
            for name, type_name, *_ in con.execute(
                "DESCRIBE " + oracle_sql
            ).fetchall()
        }
    finally:
        con.close()

    drift = {
        c: (spark_classes[c], duck_classes[c])
        for c in spark_classes
        if c in duck_classes and spark_classes[c] != duck_classes[c]
    }
    assert not drift, (
        "dtype-class drift (values may still canonicalize equal, but a "
        "dtype-hashing driver would flag it): "
        + ", ".join(
            f"{c}: spark={s} duckdb={d}" for c, (s, d) in sorted(drift.items())
        )
    )

    s_cols, s_canon = _canon_frame(spark_pdf)
    d_cols, d_canon = _canon_frame(duck_pdf)

    assert s_cols == d_cols, f"column mismatch: spark={s_cols} duckdb={d_cols}"
    assert len(s_canon) == len(d_canon), (
        f"row count mismatch: spark={len(s_canon)} duckdb={len(d_canon)}\n"
        f"spark head: {s_canon.head(3).to_numpy().tolist()}\n"
        f"duckdb head: {d_canon.head(3).to_numpy().tolist()}"
    )
    if len(s_canon) == 0 or np.array_equal(_row_hashes(s_canon), _row_hashes(d_canon)):
        return  # multisets equal (vectorized hash fast path)

    # mismatch: pay the full sorted-matrix diff for a debuggable message
    s_rows = s_canon.sort_values(s_cols, kind="stable", ignore_index=True).to_numpy(
        dtype=object
    )
    d_rows = d_canon.sort_values(d_cols, kind="stable", ignore_index=True).to_numpy(
        dtype=object
    )
    bad = np.nonzero((s_rows != d_rows).any(axis=1))[0]
    head = "\n".join(
        f"  row {i}:\n    spark : {tuple(s_rows[i])}\n"
        f"    duckdb: {tuple(d_rows[i])}"
        for i in bad[:5]
    )
    raise AssertionError(
        f"value mismatch in {len(bad)}/{len(s_rows)} rows (sorted):\n{head}"
    )
