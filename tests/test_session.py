"""Runtime tuning: the shuffle-partition dial and sessions without a
SparkContext."""

import pytest

from temporalvault_spark.session import (
    RUNTIME_CONFS,
    SHUFFLE_PARTITIONS_CAP,
    _shuffle_partitions,
    tune,
)

TIB = 1 << 40


@pytest.mark.parametrize("bad", ["abc", "0", "-4", "1.5"])
def test_bad_shuffle_partitions_env_raises(spark, monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", bad)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(ValueError, match="SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        tune(spark)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_shuffle_partitions_env_overrides(spark, monkeypatch):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "12")
    try:
        tune(spark)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "12"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_shuffle_partitions_bytes_term(spark):
    cores = spark.sparkContext.defaultParallelism
    assert _shuffle_partitions(spark, TIB) == 8192
    assert _shuffle_partitions(spark, 100 * TIB) == SHUFFLE_PARTITIONS_CAP == 65_536
    assert _shuffle_partitions(spark, 1024) == cores
    assert _shuffle_partitions(spark) == cores


class _Conf:
    def __init__(self):
        self.values = {}

    def set(self, k, v):
        self.values[k] = v


class _ConnectLikeSession:
    """A session without a SparkContext, as under Spark Connect."""

    def __init__(self):
        self.conf = _Conf()

    @property
    def sparkContext(self):
        raise RuntimeError("no SparkContext on this session")


def test_tune_without_spark_context(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    s = _ConnectLikeSession()
    assert tune(s) is s
    for k, v in RUNTIME_CONFS.items():
        assert s.conf.values[k] == v
    assert s.conf.values["spark.sql.shuffle.partitions"] == "64"
