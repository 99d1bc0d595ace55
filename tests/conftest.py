from __future__ import annotations

import contextlib

import pytest

from simkit_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("simkit_spark_tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny5(spark):
    """The reference's golden 5-point dataset
    (/root/reference/src/data/test.csv; FIXTURES.md F1)."""
    rows = [
        (0, [1.0, 7.0]),
        (1, [1.0, 6.0]),
        (2, [6.0, 2.0]),
        (3, [8.0, 1.0]),
        (4, [10.0, 2.0]),
    ]
    return spark.createDataFrame(rows, "id long, vec array<double>")


@pytest.fixture
def force_distributed(monkeypatch):
    """Context manager that sends every size-dispatched operator down
    its distributed path: inside ``with force_distributed():`` the
    dispatch budget ``simkit_spark.util.local_dispatch_rows`` is -1, so
    even an empty input is "too large" for the driver."""

    @contextlib.contextmanager
    def forced():
        with monkeypatch.context() as mp:
            mp.setattr(
                "simkit_spark.util.local_dispatch_rows", lambda *a, **k: -1
            )
            yield

    return forced
