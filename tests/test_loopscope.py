"""loopscope.small_state_scope: conf save/restore under threads and
non-integer session values."""

from __future__ import annotations

import threading
import time

from commoncrawl_crawler_spark import loopscope

PARTS = "spark.sql.shuffle.partitions"
AQE = "spark.sql.adaptive.enabled"


class _Conf:
    """Dict-backed stand-in for `spark.conf` that accepts any value,
    like sessions whose partition count may be "auto"."""

    def __init__(self, values):
        self.values = dict(values)

    def get(self, key):
        return self.values[key]

    def set(self, key, value):
        self.values[key] = value


class _Session:
    def __init__(self, values):
        self.conf = _Conf(values)


def test_scope_leaves_non_integer_partition_count_alone():
    s = _Session({PARTS: "auto", AQE: "true"})
    with loopscope.small_state_scope(s, 10):
        assert s.conf.values == {PARTS: "auto", AQE: "false"}
    assert s.conf.values == {PARTS: "auto", AQE: "true"}


def test_scope_shrinks_partitions_and_restores(spark):
    before = (spark.conf.get(PARTS), spark.conf.get(AQE))
    with loopscope.small_state_scope(spark, 10):
        assert spark.conf.get(PARTS) == "1"
        assert spark.conf.get(AQE) == "false"
    assert (spark.conf.get(PARTS), spark.conf.get(AQE)) == before


def test_overlapping_scopes_in_two_threads_restore_session_conf(spark):
    # the second thread asks for a scope while the first one is open
    # and closes it after the first one closed: without the lock it
    # saves the first scope's values and restores them at the end
    before = (spark.conf.get(PARTS), spark.conf.get(AQE))
    first_in, first_out = threading.Event(), threading.Event()
    seen, errors = [], []

    def first():
        try:
            with loopscope.small_state_scope(spark, 10):
                first_in.set()
                time.sleep(0.3)  # the second thread asks meanwhile
                seen.append((spark.conf.get(PARTS), spark.conf.get(AQE)))
        except Exception as e:  # surfaced by the assert below
            errors.append(e)
        finally:
            first_in.set()
            first_out.set()

    def second():
        try:
            first_in.wait(30)
            with loopscope.small_state_scope(spark, 10):
                first_out.wait(30)
                seen.append((spark.conf.get(PARTS), spark.conf.get(AQE)))
        except Exception as e:
            errors.append(e)

    threads = [threading.Thread(target=f) for f in (first, second)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert seen == [("1", "false"), ("1", "false")]
    assert (spark.conf.get(PARTS), spark.conf.get(AQE)) == before


def test_partitions_for_rows(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOOP_ROWS_PER_PART", "100")
    assert [loopscope.partitions_for_rows(n) for n in (0, 1, 100, 101)] == [
        1, 1, 1, 2,
    ]
