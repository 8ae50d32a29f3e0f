"""The driver contract's ER registry queries against their oracles.

Each query runs at sf0.001 and is compared with its ``oracle_sql()``
text in DuckDB through ``tools/oracle_check.py``'s comparison: column
names, row count and exact order-insensitive values. The x10 corpus
(5,000 docs) stays in ``tools/oracle_check.py``.
"""

from __future__ import annotations

import importlib.util
import os

import pytest

import __spark_entry__ as entry

_spec = importlib.util.spec_from_file_location(
    "oracle_check",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "oracle_check.py",
    ),
)
oracle_check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(oracle_check)

# the smallest pinned corpus, beside the tool's default scale factor
SF_DIR = os.path.join(os.path.dirname(oracle_check.SF_DIR), "sf0.001")


@pytest.fixture(scope="module")
def duck():
    con = oracle_check.duck_views(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "er_pipeline_clusters",
        "er_pipeline_size_hist",
        "er_pipeline_f1",
        "incremental_er_clusters",
        "incremental_er_drift",
    ],
)
def test_er_query_matches_oracle(spark, duck, name):
    got = entry.queries()[name](spark, SF_DIR).toPandas()
    want = duck.execute(entry.oracle_sql()[name]).fetchdf()
    assert len(got) > 0
    assert oracle_check.compare(name, got, want) == []
