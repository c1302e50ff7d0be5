"""concurrent_writes.write_all: per-thread Spark local properties and
the failure contract (wait for the running writes, raise the first
error)."""

from __future__ import annotations

import time

import pytest

from serverless_smurf_etl_and_analytics_spark.concurrent_writes import (
    write_all,
)


def test_each_write_gets_its_own_copy_of_the_callers_properties(spark):
    """Every write starts with the caller's job group, and a property
    one write sets (as Spark sets spark.sql.execution.id per query)
    is seen by no other write and not by the caller."""
    sc = spark.sparkContext

    def probe(tag):
        def run():
            group = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("probe", tag)
            time.sleep(0.3)
            return group, sc.getLocalProperty("probe")

        return run

    sc.setJobGroup("write-all-test", "local property probe")
    try:
        got = write_all({tag: probe(tag) for tag in "abc"})
    finally:
        sc._jsc.clearJobGroup()
    assert got == {tag: ("write-all-test", tag) for tag in "abc"}
    assert sc.getLocalProperty("probe") is None


def test_a_failed_write_waits_for_the_running_ones(spark):
    finished = []

    def slow():
        time.sleep(0.5)
        finished.append("slow")
        return 1

    def bad():
        raise ValueError("bad write")

    with pytest.raises(ValueError, match="bad write"):
        write_all({"slow": slow, "bad": bad})
    assert finished == ["slow"]
    assert write_all({}) == {}
