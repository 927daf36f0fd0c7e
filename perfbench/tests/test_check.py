"""The vectorised oracle comparison agrees with the row-wise one."""

import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "tests"))

import oracle_compare  # noqa: E402
from worker import numeric_rows_equal  # noqa: E402

BASE = pd.DataFrame(
    {
        "a": np.array([3, 1, 2, 2], dtype=np.int64),
        "b": [0.5, np.nan, -0.0, 1.25],
        "c": [True, False, True, True],
    }
)


def _row_wise(pdf, con, sql) -> bool:
    cols = sorted(pdf.columns)
    rows = [tuple(oracle_compare._norm(v) for v in r) for r in pdf[cols].itertuples(index=False)]
    return (cols, sorted(rows, key=oracle_compare._sort_key)) == oracle_compare.duck_rows(con, sql)


@pytest.fixture()
def con():
    c = duckdb.connect()
    c.register("t", BASE)
    return c


@pytest.mark.parametrize(
    "pdf, sql",
    [
        (BASE.sample(frac=1, random_state=1), "SELECT * FROM t"),
        (BASE.assign(b=[0.5, np.nan, 0.0, 1.25]), "SELECT c, b, a FROM t"),
        (BASE.assign(a=BASE.a.astype(np.int32)), "SELECT * FROM t"),
        (BASE, "SELECT a + 1 AS a, b, c FROM t"),
        (BASE, "SELECT * FROM t WHERE a > 1"),
        (BASE.iloc[[0, 0, 1, 2]], "SELECT * FROM t"),  # same rows, other multiplicities
    ],
)
def test_agrees_with_row_wise_comparison(con, pdf, sql):
    assert numeric_rows_equal(pdf, con.execute(sql).fetch_arrow_table()) == _row_wise(pdf, con, sql)


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT a::DOUBLE AS a, b, c FROM t",  # integer vs float kind
        "SELECT a, b::DECIMAL(9, 2) AS b, c FROM t",
        "SELECT a, b, c::VARCHAR AS c FROM t",
        "SELECT a, b FROM t",  # other columns
    ],
)
def test_other_types_fall_back_to_row_wise(con, sql):
    assert numeric_rows_equal(BASE, con.execute(sql).fetch_arrow_table()) is None
