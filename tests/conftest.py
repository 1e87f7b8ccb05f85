from __future__ import annotations

import functools
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from ocr_spark.session import get_spark

    s = get_spark("ocr-spark-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def registry_plans(spark):
    """``registry_plans(sf_dir)`` -> {name: formatted physical plan} of
    every registered query, planned once per session and sf_dir for the
    whole-registry audits."""
    from ocr_spark.queries import QUERIES

    def plan(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    @functools.cache
    def plans(sf_dir):
        return {name: plan(fn(spark, sf_dir)) for name, fn in QUERIES.items()}

    return plans
