import time

import pytest

from sparkmetrics import SparkCollector, _union_length


def test_union_length():
    assert _union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert _union_length([]) == 0


def test_collector_on_a_tiny_job(spark):
    c = SparkCollector(spark)
    c.set_group("tiny")
    t0 = time.time()
    rows = spark.range(10_000).selectExpr("id % 7 as k").groupBy("k").count().collect()
    t1 = time.time()
    c.clear_group()
    m = c.collect("tiny", t0, t1)
    assert len(rows) == 7
    assert m.jobs >= 1 and m.stages >= 2 and m.tasks >= 2
    assert m.shuffle_write_mb > 0 and m.shuffle_read_mb > 0
    assert m.executor_run_s >= 0 and m.executor_cpu_s > 0
    assert 0 < m.job_s <= t1 - t0
    assert m.job_s + m.driver_s == pytest.approx(t1 - t0)
    # a group with no jobs reads as all driver time
    empty = c.collect("nothing-ran", t0, t1)
    assert empty.jobs == 0 and empty.driver_s == pytest.approx(t1 - t0)
