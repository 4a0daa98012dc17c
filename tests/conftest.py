from __future__ import annotations

import os

import pytest

from etl_weather_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="etl-weather-spark-tests",
        master="local[8]",
        shuffle_partitions=4,
        extra_conf={"spark.default.parallelism": "8"},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture
def count_fences(monkeypatch):
    """Route one module's ``fence`` through a counter: ``count_fences(mod)``
    returns the list that gets each call's ``eager`` flag appended."""

    def install(module):
        calls: list[bool] = []
        real = module.fence

        def counting(df, *, eager=False):
            calls.append(eager)
            return real(df, eager=eager)

        monkeypatch.setattr(module, "fence", counting)
        return calls

    return install
