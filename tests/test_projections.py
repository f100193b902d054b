"""Oracle-parity tests for §2.2 projection/filter operators."""

from __future__ import annotations

import pytest

from data_integration_exercise_spark.operators import projections

from .conftest import SF_SMOKE
from .parity import assert_parity


@pytest.mark.parametrize("key", sorted(projections.ORACLES))
def test_parity(spark, key):
    assert_parity(spark, key)


def test_sql_interface_runs_the_oracle_text_verbatim(spark, monkeypatch):
    """The compatibility claim: the EXACT SQL string the oracle runs on
    DuckDB is what spark.sql() executes — record every text the operator
    hands to spark.sql() and assert it is the registered oracle text."""
    import textwrap

    from data_integration_exercise_spark.operators import projections

    ran, sql = [], spark.sql

    def record(q, *args, **kwargs):
        ran.append(q)
        return sql(q, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", record)
    projections.sql_adhoc_interface(spark, SF_SMOKE)
    oracle = projections.ORACLES["sql_adhoc_interface"]
    norm = lambda s: " ".join(textwrap.dedent(s).split())  # noqa: E731
    assert [norm(q) for q in ran] == [norm(oracle)]


def test_recursive_cte_depth_and_coverage(spark):
    """The recursion must reach every customer exactly once, depth must be
    the decimal-digit depth of the key, and each path balance must equal
    the sum of cents along the div-10 ancestor chain."""
    from data_integration_exercise_spark.operators import projections

    pdf = (
        projections.QUERIES["sql_recursive_cte"](spark, "/root/testdata/sf0.01")
        .toPandas()
        .set_index("c_custkey")
        .sort_index()
    )
    assert len(pdf) == 1500 and pdf.index.is_unique
    import duckdb

    bal = dict(
        duckdb.sql(
            "SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) "
            "FROM '/root/testdata/sf0.01/customer.parquet'"
        ).fetchall()
    )
    for ck in [0, 7, 42, 999, 1499]:
        row = pdf.loc[ck]
        expect_depth = 0 if ck < 10 else len(str(ck)) - 1
        assert row.depth == expect_depth
        total, cur = 0, ck
        while True:
            total += bal[cur]
            if cur < 10:
                assert row.root_key == cur
                break
            cur //= 10
        assert row.path_balance_cents == total
