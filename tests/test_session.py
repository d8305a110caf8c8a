"""Session factory configuration, including GPU resource scheduling."""

from __future__ import annotations

import os

from aicoe_osc_demo_spark.session import default_cpus, get_spark, session_confs


def test_default_confs_pin_determinism_and_aqe():
    confs = session_confs(cpus="8")
    assert confs["spark.sql.session.timeZone"] == "UTC"
    assert confs["spark.sql.adaptive.enabled"] == "true"
    assert confs["spark.sql.shuffle.partitions"] == "8"
    # the events read needs it; set once so no read flips it mid-session
    assert confs["spark.sql.legacy.parquet.nanosAsLong"] == "true"
    assert "spark.task.resource.gpu.amount" not in confs


def test_gpu_resource_confs_land():
    confs = session_confs(cpus="8", gpus_per_task=0.5, gpus_per_executor=4)
    assert confs["spark.task.resource.gpu.amount"] == "0.5"
    assert confs["spark.executor.resource.gpu.amount"] == "4"


def test_get_spark_applies_conf_map(spark):
    # get_spark reuses the live test session; SQL confs still land, which
    # proves the builder path applies session_confs verbatim
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        s = get_spark(cpus="8")
        assert s.conf.get("spark.sql.session.timeZone") == "UTC"
        assert s.conf.get("spark.sql.shuffle.partitions") == "8"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_default_cpus_follows_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == "3"
