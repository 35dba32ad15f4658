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


@pytest.fixture
def frozen_shuffle_width(spark, monkeypatch):
    """Make any write of spark.sql.shuffle.partitions raise, from any
    driver thread, for one test: operators size their shuffles in the
    plan (session.narrow), never through the session conf. Yields the
    session width, which must be unchanged afterwards."""
    from pyspark.sql.conf import RuntimeConfig

    key = "spark.sql.shuffle.partitions"

    def guard(write):
        def guarded(self, k, *args):
            if k == key:
                raise AssertionError(f"operator wrote session conf {k}")
            return write(self, k, *args)

        return guarded

    monkeypatch.setattr(RuntimeConfig, "set", guard(RuntimeConfig.set))
    monkeypatch.setattr(RuntimeConfig, "unset", guard(RuntimeConfig.unset))
    width = spark.conf.get(key)
    yield width
    assert spark.conf.get(key) == width
