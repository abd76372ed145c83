"""Shared fixtures: one tuned SparkSession per test run + a DuckDB
oracle comparator that mirrors the driver's compare (column-name-sorted,
order-insensitive, value compare) with float tolerance."""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from recommendation_system_spark_ml_spark.session import get_spark
from recommendation_system_spark_ml_spark.sources.catalog import TABLES, path_for

SF_SMOKE = "/root/testdata/sf0.001"
SF_CHECK = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        for sf_dir in (SF_SMOKE, SF_CHECK):
            pass  # views are per-sf; use oracle_df(con, sql, sf_dir) instead
    yield con
    con.close()


def _specs():
    """The query registry, in ``all_specs()`` order. The registry is
    imported on first call, not when conftest loads."""
    from recommendation_system_spark_ml_spark.registry import all_specs
    return all_specs()


def _plan(df) -> str:
    """The formatted physical plan of ``df``."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def oracle_df(con: duckdb.DuckDBPyConnection, sql: str, sf_dir: str) -> pd.DataFrame:
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path_for(sf_dir, t)}')")
    return con.execute(sql).df()


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf.copy()
    for c in out.columns:
        if pd.api.types.is_datetime64_any_dtype(out[c]):
            try:
                out[c] = out[c].dt.tz_localize(None)
            except TypeError:
                out[c] = out[c].dt.tz_convert("UTC").dt.tz_localize(None)
        elif out[c].dtype == object:
            # uniform NULL sentinel BEFORE stringifying: Spark hands
            # None where DuckDB hands NaN for the same SQL NULL (e.g.
            # boolean columns), and astype(str) would render them as
            # the distinct strings 'None' vs 'nan'
            out[c] = out[c].map(
                lambda v: "<NULL>" if pd.isna(v) else str(v))
        elif pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("int64")
        elif pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].astype("float64")
    return out[sorted(out.columns)]


def assert_df_matches(spark_df, oracle_pdf: pd.DataFrame, rtol=1e-6, atol=1e-9):
    """Mirror of the driver's compare: sorted columns, order-insensitive
    rows, values equal (floats within tolerance)."""
    got = _normalize(spark_df.toPandas())
    want = _normalize(oracle_pdf)
    assert sorted(got.columns) == sorted(want.columns), \
        f"columns differ: {sorted(got.columns)} vs {sorted(want.columns)}"
    assert len(got) == len(want), f"row count {len(got)} vs {len(want)}"
    sort_cols = list(got.columns)
    got = got.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    want = want.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    for c in got.columns:
        if pd.api.types.is_float_dtype(got[c]):
            g, w = got[c].to_numpy(), want[c].to_numpy()
            both_nan = np.isnan(g) & np.isnan(w)
            ok = np.isclose(g, w, rtol=rtol, atol=atol) | both_nan
            assert ok.all(), f"float col {c} mismatch at rows {np.where(~ok)[0][:5]}: " \
                             f"{g[~ok][:5]} vs {w[~ok][:5]}"
        else:
            eq = got[c].eq(want[c]) | (got[c].isna() & want[c].isna())
            assert eq.all(), f"col {c} mismatch at rows {np.where(~eq)[0][:5]}: " \
                             f"{got[c][~eq.to_numpy()][:5].tolist()} vs {want[c][~eq.to_numpy()][:5].tolist()}"
