"""Local replica of the driver's DuckDB-oracle comparison (SURVEY.md §5.2).

For a query key: run the Spark DataFrame query AND the DuckDB oracle SQL on
the same sf dir, canonicalize (sort columns by name, normalize dtypes,
timestamps to µs, sort rows), and assert exact equality. Stricter than the
driver (which hashes) so any drift is visible locally first.
"""

from __future__ import annotations

import datetime
import decimal

import numpy as np
import pandas as pd

from data_integration_exercise_spark.registry import oracle_sql, queries
from tools.emulate_driver import duck_con


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Canonicalize a result frame for order-insensitive comparison."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in pdf.columns:
        s = pdf[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            # floor to µs (DuckDB may hand back ns precision)
            pdf[c] = s.dt.floor("us").astype("datetime64[us]")
        elif s.dtype == object and s.map(
            lambda v: isinstance(v, (list, np.ndarray, dict)), na_action="ignore"
        ).any():
            pdf[c] = s.map(
                lambda v: str(list(v) if isinstance(v, np.ndarray) else v),
                na_action="ignore",
            )
        elif s.dtype == object and s.map(
            lambda v: isinstance(v, decimal.Decimal), na_action="ignore"
        ).any():
            pdf[c] = s.astype("float64")
        elif s.dtype == object and s.map(
            lambda v: isinstance(v, datetime.date), na_action="ignore"
        ).any():
            pdf[c] = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            pdf[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            pdf[c] = s.astype("float64")
        elif pd.api.types.is_bool_dtype(s):
            pdf[c] = s.astype("bool")
    if len(pdf.columns):
        pdf = pdf.sort_values(by=list(pdf.columns), na_position="last", kind="mergesort")
    return pdf.reset_index(drop=True)


def assert_parity(spark, key: str, sf_dir: str = "/root/testdata/sf0.01") -> None:
    q = queries()[key]
    sql = oracle_sql().get(key)
    assert sql is not None, f"{key}: no oracle SQL declared (rows-only op?)"

    spark_pdf = q(spark, sf_dir).toPandas()
    con = duck_con(sf_dir)
    try:
        duck_pdf = con.execute(sql).df()
    finally:
        con.close()

    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{key}: column mismatch spark={sorted(spark_pdf.columns)} "
        f"duck={sorted(duck_pdf.columns)}"
    )
    assert len(spark_pdf) == len(duck_pdf), (
        f"{key}: row count spark={len(spark_pdf)} duck={len(duck_pdf)}"
    )

    a, b = canon(spark_pdf), canon(duck_pdf)
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError:
        # fall back to a tolerance check so we can see HOW close we are
        pd.testing.assert_frame_equal(
            a, b, check_dtype=False, check_exact=False, rtol=0, atol=1e-9
        )
        raise AssertionError(
            f"{key}: values within 1e-9 but not exactly equal — "
            "tighten rounding in query+oracle"
        )


def run_rows_only(spark, key: str, sf_dir: str = "/root/testdata/sf0.01") -> int:
    """For ops without an oracle: assert the query runs and yields >=0 rows."""
    q = queries()[key]
    pdf = q(spark, sf_dir).toPandas()
    return len(pdf)
