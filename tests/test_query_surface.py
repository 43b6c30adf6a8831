"""The read-only SQL surface: the row cap's take, its job count, and the
SQL-on-files guard under concurrent callers."""

from __future__ import annotations

import threading

import pytest

from tests.test_change_capture import _env, _jobs_in_group, _table
from webhookdb_spark.operators.upsert import upsert_envelopes
from webhookdb_spark.plans import query_surface
from webhookdb_spark.plans.query_surface import readonly_df, run_readonly_sql
from webhookdb_spark.replicators.fake import FAKE_V1


def test_point_lookup_runs_one_job(spark, tmp_warehouse):
    """A point lookup returns fewer rows than the cap, so the take scans
    every partition: its first attempt covers one wave of task slots, so
    that is one job, not a 1-partition job and then a job for the rest."""
    t = _table(spark, tmp_warehouse)
    t.create(FAKE_V1.schema(), key="my_id", n_buckets=16)
    upsert_envelopes(t, _env(spark, [
        (f"k{i}", "2024-01-01T00:00:00Z") for i in range(256)]), FAKE_V1)
    assert len(t.manifest.buckets) == 16
    t.read().createOrReplaceTempView("qs_point_lookup")
    sql = "SELECT my_id FROM qs_point_lookup WHERE my_id = 'k7'"
    res = []
    n_jobs = _jobs_in_group(spark, "qs-point-lookup",
                            lambda: res.append(run_readonly_sql(spark, sql)))
    assert res[0].rows == [("k7",)] and not res[0].max_rows_reached
    assert n_jobs == 1


@pytest.mark.parametrize("where, n, over", [
    ("", 1000, True),
    ("WHERE id < 1000", 1000, False),
    ("WHERE id < 999", 999, False),
])
def test_row_cap_over_more_partitions_than_cores(spark, where, n, over):
    """The cap holds over a view with more partitions than one wave,
    whether the first attempt fills the cap or later attempts must scan
    the rest."""
    spark.range(5000, numPartitions=16).createOrReplaceTempView("qs_cap")
    res = run_readonly_sql(spark, f"SELECT id FROM qs_cap {where}")
    assert len(res.rows) == n
    assert res.max_rows_reached is over
    if not over:
        assert sorted(r[0] for r in res.rows) == list(range(n))


class _Conf:
    def __init__(self):
        self.values = {"spark.sql.runSQLOnFiles": "true"}

    def get(self, k, default=None):
        return self.values.get(k, default)

    def set(self, k, v):
        self.values[k] = v


class _PausingSpark:
    """A session whose ``sql`` runs a per-statement hook, so a test can
    hold one caller inside the guard while another one starts."""

    def __init__(self):
        self.conf = _Conf()
        self.hooks = {}

    def sql(self, text):
        self.hooks[text]()


def test_sql_on_files_guard_is_serialized():
    """Two overlapping guards: the second caller's SQL is analyzed with
    SQL-on-files off from start to end, and the session conf reads
    "true" once both are done."""
    a_in, release_a = threading.Event(), threading.Event()
    b_in, release_b = threading.Event(), threading.Event()
    seen_by_b = []
    spark = _PausingSpark()

    def hold_a():
        a_in.set()
        release_a.wait(10)

    def hold_b():
        seen_by_b.append(spark.conf.get("spark.sql.runSQLOnFiles"))
        b_in.set()
        release_b.wait(10)
        seen_by_b.append(spark.conf.get("spark.sql.runSQLOnFiles"))

    spark.hooks.update({"SELECT 'a'": hold_a, "SELECT 'b'": hold_b})
    a = threading.Thread(target=readonly_df, args=(spark, "SELECT 'a'"))
    b = threading.Thread(target=readonly_df, args=(spark, "SELECT 'b'"))
    a.start()
    assert a_in.wait(10)
    b.start()
    b_in.wait(0.5)  # unserialized, b is inside the guard by now
    release_a.set()
    a.join(10)
    assert b_in.wait(10)
    release_b.set()
    b.join(10)
    assert seen_by_b == ["false", "false"]
    assert spark.conf.get("spark.sql.runSQLOnFiles") == "true"
    assert not query_surface._SQL_ON_FILES_LOCK.locked()
