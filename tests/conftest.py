import pytest

from validate_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="validate_spark_tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """A checkpoint dir for one test: the loops that checkpoint through
    ``session.checkpoint`` switch to reliable checkpoints while it is
    set. Teardown restores "no dir" — the session outlives the test,
    and a dir left behind would silently switch every later loop."""
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    yield
    sc._jsc.sc().setCheckpointDir(None)


def rows_to_set(df, cols=None):
    """Order-insensitive row comparison helper."""
    if cols:
        df = df.select(*cols)
    return {tuple(r) for r in df.collect()}
