import contextlib

import pytest


@pytest.fixture(scope="session")
def spark():
    from balrog_spark.session import get_spark
    s = get_spark(app="balrog-tests", master="local[4]",
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def tiny_arrow_batches(spark):
    """Context manager: ``rows``-row Arrow batches while it is open, so the
    key groups of the grouped Python stages straddle batch boundaries."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"

    @contextlib.contextmanager
    def tiny(rows: int = 7):
        old = spark.conf.get(key)
        spark.conf.set(key, str(rows))
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return tiny
