"""The event-log reader, on a small recorded log.

fixtures/eventlog_small was recorded with Spark 4.1 (``local[2]``,
``spark.eventLog.compress=false``, two shuffle partitions) from two
actions, then trimmed to the core listener events (the SQL-UI and
environment events, which the reader skips, are dropped):

  group "alpha": spark.range(0, 1000, 1, 4).groupBy(id % 10).count().collect()
  group "beta":  a 2-partition mapInPandas identity over 100 rows, collected

The expected numbers below were read off the raw events.
"""

import os

import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small")


def test_totals_by_group():
    totals = eventlog.totals_by_group(FIXTURE)
    assert set(totals) == {"alpha", "beta"}
    a, b = totals["alpha"], totals["beta"]
    # alpha: a 4-task map stage writing 182 shuffle bytes per task, then
    # one reduce task (AQE coalesced) reading all 728 back, over 2 jobs
    assert (a.jobs, a.tasks, len(a.stages)) == (2, 5, 2)
    assert (a.shuffle_write_bytes, a.shuffle_read_bytes) == (728, 728)
    assert a.task_ms == 297 + 292 + 37 + 48 + 127
    assert a.python_in_bytes == 0
    # beta: one stage of 2 tasks, each shipping 592 Arrow bytes to Python
    assert (b.jobs, b.tasks, len(b.stages)) == (1, 2, 1)
    assert b.python_in_bytes == 2 * 592
    assert b.task_ms == 2233 + 2290
    assert (b.shuffle_write_bytes, b.shuffle_read_bytes, b.spill_bytes) == (0, 0, 0)
    assert a.cpu_ns > 0 and b.cpu_ns > 0


def test_events_read_the_whole_log(tmp_path):
    kinds = [e["Event"] for e in eventlog.events(FIXTURE)]
    assert kinds[0] == "SparkListenerLogStart"
    assert kinds[-1] == "SparkListenerApplicationEnd"
    # a single-file log reads the same as the rolling-log directory
    (name,) = os.listdir(FIXTURE)
    single = tmp_path / "app-1"
    single.write_bytes(open(os.path.join(FIXTURE, name), "rb").read())
    assert [e["Event"] for e in eventlog.events(str(single))] == kinds
    assert eventlog.find_log(str(tmp_path)) == str(single)
