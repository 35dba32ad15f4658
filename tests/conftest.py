from __future__ import annotations

import pytest

from spanmarkerner_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def session_checkpoint_dir(spark, tmp_path):
    """Give the shared session a reliable checkpoint dir for one test,
    as `spark.checkpoint.dir` does for a deployment; cleared afterwards
    so later tests keep local cuts."""
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        yield sc.getCheckpointDir()
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
