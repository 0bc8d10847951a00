from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.session import (  # noqa: E402
    get_spark,
)

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"
SF_DIR_LARGE = str(Path(SF_DIR).with_name("sf0.1"))


def pytest_terminal_summary(terminalreporter):
    """Say so when the default tier left out `slow` tests (pytest.ini
    deselects them), and how to run them."""
    deselected = terminalreporter.stats.get("deselected", [])
    slow = sum(1 for item in deselected if item.get_closest_marker("slow"))
    if slow:
        terminalreporter.write_line(
            f'deselected {slow} slow-marked test(s); run them with: python -m pytest tests/ -m ""'
        )


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("phsqis-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def duckdb_oracle(sql: str, sf_dir: str = SF_DIR):
    """Run oracle SQL in DuckDB with the testdata tables registered as views,
    mirroring the driver's harness."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con.execute(sql).fetch_df()


def assert_matches_oracle(spark_df, sql: str, sf_dir: str = SF_DIR, float_tol: float = 1e-9):
    """Order-insensitive comparison of a Spark result against DuckDB output,
    approximating the driver's row-count + schema + value-hash check."""
    import pandas as pd

    actual = spark_df.toPandas()
    expected = duckdb_oracle(sql, sf_dir)
    assert sorted(actual.columns) == sorted(expected.columns), (
        f"columns differ: {sorted(actual.columns)} vs {sorted(expected.columns)}"
    )
    cols = sorted(actual.columns)
    actual = actual[cols].sort_values(cols).reset_index(drop=True)
    expected = expected[cols].sort_values(cols).reset_index(drop=True)
    assert len(actual) == len(expected), f"row count {len(actual)} != {len(expected)}"
    for c in cols:
        a, e = actual[c], expected[c]
        if pd.api.types.is_float_dtype(a) or pd.api.types.is_float_dtype(e):
            pd.testing.assert_series_equal(
                a.astype(float), e.astype(float), check_names=False,
                rtol=float_tol, atol=float_tol,
            )
        else:
            assert a.astype(str).tolist() == e.astype(str).tolist(), f"column {c} differs"
