"""Local mirror of the driver's correctness gate: run every __spark_entry__
query at sf0.01 and compare against its DuckDB oracle — row count, column
names, and order-insensitive value equality."""

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod


@pytest.fixture(scope="module")
def ddb(sf01_dir):
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf01_dir}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda x: float(x) if isinstance(x, (int,)) else x)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            out[c] = pd.to_datetime(s).dt.tz_localize(None)
        elif s.dtype == object and len(s) and isinstance(s.dropna().iloc[0] if s.dropna().size else None, (bytes,)):
            out[c] = s.map(lambda b: b.hex() if isinstance(b, bytes) else b)
        elif pd.api.types.is_integer_dtype(s) or str(s.dtype) in ("UInt64", "Int32", "Int64"):
            out[c] = s.astype("float64")  # unify int widths across engines
        elif str(s.dtype).startswith("decimal") or s.dtype == object:
            try:
                out[c] = s.astype("float64")
            except (ValueError, TypeError):
                pass
    return out


NAMES = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, sf01_dir, ddb, name):
    q = entrymod.queries()[name]
    spark_pdf = q(spark, sf01_dir).toPandas()
    duck_pdf = ddb.execute(entrymod.oracle_sql()[name]).fetchdf()

    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: columns {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
    )
    assert len(spark_pdf) == len(duck_pdf), f"{name}: rows {len(spark_pdf)} vs {len(duck_pdf)}"

    a = _canon(_normalize(spark_pdf))
    b = _canon(_normalize(duck_pdf))
    for col in a.columns:
        av, bv = a[col].tolist(), b[col].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            try:
                if pd.isna(x) and pd.isna(y):
                    continue
            except (TypeError, ValueError):
                pass
            if isinstance(x, float) and isinstance(y, float):
                if math.isnan(x) and math.isnan(y):
                    continue
                assert abs(x - y) <= 1e-6 + 1e-9 * abs(y), f"{name}.{col}[{i}]: {x} != {y}"
            else:
                assert x == y, f"{name}.{col}[{i}]: {x!r} != {y!r}"


def test_rows_only_queries_run(spark, sf_dir):
    """Entries without oracles must still execute and return a schema."""
    for name, q in entrymod.queries().items():
        if name in entrymod.oracle_sql():
            continue
        df = q(spark, sf_dir)
        assert df.columns
        assert df.count() >= 0


def test_entry_smoke(spark):
    out = entrymod.entry(spark)
    assert out.count() > 0
    assert set(out.columns) == {"lang", "files", "repos", "bytes"}


def test_oracle_sql_text_is_identical_across_processes():
    """With CDC_GATE_WAL_SUFFIX set, two processes bake the same gate WAL
    path into their oracle SQL, so the text compares byte for byte."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import hashlib, json, __spark_entry__ as e;"
        "print(hashlib.sha256(json.dumps(e.oracle_sql(), sort_keys=True).encode()).hexdigest())"
    )
    env = dict(os.environ, CDC_GATE_WAL_SUFFIX="fixed", PYTHONPATH=root)
    digests = {
        subprocess.run(
            [sys.executable, "-c", code], cwd=root, env=env, check=True,
            capture_output=True, text=True,
        ).stdout.strip()
        for _ in range(2)
    }
    assert len(digests) == 1, digests
