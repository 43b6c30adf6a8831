"""Single-pass change capture: the MERGE write stages the change set in
its own job, and the commit promotes it to ``_changes/txn_N``; the
change-feed readers and the ingest routing that ride on it.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from webhookdb_spark.operators.upsert import (
    MergeResult,
    change_txns,
    changes_since,
    merge_upsert,
    upsert_envelopes,
)
from webhookdb_spark.replicators.fake import FAKE_V1
from webhookdb_spark.storage import (
    CHANGES_PART,
    PART_COL,
    ConcurrentWriteError,
    ManagedTable,
    Warehouse,
    _ManifestLock,
)


def _env(spark, items):
    """Envelopes for FAKE_V1 bodies ``(my_id, at)``, in arrival order."""
    return spark.createDataFrame(
        [("fake_v1", json.dumps({"my_id": k, "at": at}), None)
         for k, at in items],
        "opaque_id string, body string, received_at timestamp",
    )


def _table(spark, tmp_warehouse) -> ManagedTable:
    return Warehouse(spark, tmp_warehouse / "wh").table("org", "fake_v1")


def _data_files(d):
    return sorted(p.name for p in d.rglob("*.parquet") if not p.name.startswith("."))


def _preload(spark, t, n=40):
    upsert_envelopes(t, _env(spark, [
        (f"k{i}", "2024-01-02T00:00:00Z") for i in range(n)]), FAKE_V1)


def test_change_set_is_one_file_of_post_images(spark, tmp_warehouse):
    """A webhook-sized batch's txn dir holds exactly its inserted and
    updated post-images, tagged with ``_action``, in a single file —
    stale and duplicate redeliveries leave no change row."""
    t = _table(spark, tmp_warehouse)
    _preload(spark, t)
    batch = (
        [(f"k{i}", "2024-01-03T00:00:00Z") for i in range(10)]        # update
        + [(f"n{i}", "2024-01-01T00:00:00Z") for i in range(5)]       # insert
        + [(f"k{i}", "2023-12-01T00:00:00Z") for i in range(10, 13)]  # stale
        + [("k0", "2024-01-03T00:00:00Z")] * 2                        # dup
    )
    res = upsert_envelopes(t, _env(spark, batch), FAKE_V1)
    assert (res.inserted, res.updated) == (5, 10)
    txn = t.manifest.txn
    assert change_txns(t)[-1] == txn
    txn_dir = t.path / "_changes" / f"txn_{txn}"
    assert len(_data_files(txn_dir)) == 1
    raw = spark.read.parquet(str(txn_dir))
    assert raw.columns == [f.name for f in t.schema().fields] + ["_action"]
    got = {r.my_id: (r._action, r.at.isoformat()) for r in raw.collect()}
    assert got == {
        **{f"k{i}": ("update", "2024-01-03T00:00:00") for i in range(10)},
        **{f"n{i}": ("insert", "2024-01-01T00:00:00") for i in range(5)},
    }
    # the post-images are the committed rows, column for column
    current = t.read().where(F.col("my_id").isin(list(got)))
    assert sorted(res.changed.drop("_action").collect()) == sorted(
        current.collect())
    # nothing reserved reaches the table's buckets
    assert sorted(p.name for p in (t.path / "buckets").iterdir()) == sorted(
        t.manifest.buckets)


def test_no_change_batch_leaves_empty_txn_dir(spark, tmp_warehouse):
    """A batch of only stale or duplicate redeliveries still commits a
    txn with a (row-less) change set: change_txns lists it and
    changes_since reads it as zero rows."""
    t = _table(spark, tmp_warehouse)
    _preload(spark, t, n=8)
    t1 = t.manifest.txn
    res = upsert_envelopes(t, _env(spark, [
        ("k1", "2023-01-01T00:00:00Z"),   # stale
        ("k2", "2024-01-02T00:00:00Z"),   # duplicate of the stored row
        ("k2", "2024-01-02T00:00:00Z"),
    ]), FAKE_V1)
    # noop counts every row of the touched buckets, kept as they were
    assert (res.inserted, res.updated) == (0, 0) and res.noop >= 2
    t2 = t.manifest.txn
    assert t2 == t1 + 1
    assert change_txns(t) == [t1, t2]
    assert changes_since(t, t1).count() == 0
    assert res.changed.count() == 0
    assert changes_since(t, 0).count() == 8


def test_cas_loser_leaves_no_change_set(spark, tmp_warehouse, monkeypatch):
    """A MERGE that loses the manifest CAS to a concurrent commit raises
    ConcurrentWriteError and leaves no ``_changes/txn_*`` dir, no staging
    dir and no reserved-partition dir under ``buckets/``."""
    t = _table(spark, tmp_warehouse)
    _preload(spark, t, n=8)
    before = change_txns(t)
    rival = ManagedTable(spark, t.path)
    rival_df = rival.read().withColumn(PART_COL, F.lit(0))
    enter = _ManifestLock.__enter__
    fired = []

    def racing_enter(self):
        # a rival commit lands just before the merge takes the lock
        if not fired:
            fired.append(1)
            rival.overwrite_buckets(rival_df.where(F.lit(False)), [0])
        return enter(self)

    monkeypatch.setattr(_ManifestLock, "__enter__", racing_enter)
    with pytest.raises(ConcurrentWriteError):
        upsert_envelopes(t, _env(spark, [("n1", "2024-01-05T00:00:00Z")]),
                         FAKE_V1)
    monkeypatch.undo()
    assert fired
    assert change_txns(t) == before
    assert not list(t.path.glob("_staging_*"))
    assert not list(t.path.rglob(f"{PART_COL}=*"))
    assert not list((t.path / "buckets").glob(f"{CHANGES_PART}*"))
    assert not [p for p in (t.path / "buckets").rglob("v*")
                if p.name.startswith(f"v{t.manifest.txn + 1}_")]


def test_capture_off_writes_no_changes_partition(spark, tmp_warehouse,
                                                  monkeypatch):
    """capture_changes=False routes no row to the reserved change-set
    partition (and makes no ``_changes`` dir); the default routes one
    copy of every inserted or updated row there and no kept row."""
    t = _table(spark, tmp_warehouse)
    t.create(FAKE_V1.schema(), key="my_id", n_buckets=FAKE_V1.n_buckets)
    routed = []
    real = ManagedTable.overwrite_buckets

    def spy(self, df, buckets, **kw):
        routed.append(df.where(F.col(PART_COL) == CHANGES_PART).count())
        return real(self, df, buckets, **kw)

    monkeypatch.setattr(ManagedTable, "overwrite_buckets", spy)
    shaped = FAKE_V1.shape(_env(spark, [
        (f"k{i}", "2024-01-02T00:00:00Z") for i in range(6)]))
    res = merge_upsert(t, shaped, FAKE_V1, capture_changes=False)
    assert res.inserted == 6 and routed == [0]
    assert not (t.path / "_changes").exists()
    res = merge_upsert(t, FAKE_V1.shape(_env(spark, [
        ("k0", "2024-01-03T00:00:00Z"), ("k9", "2024-01-01T00:00:00Z")])),
        FAKE_V1)
    assert (res.inserted, res.updated) == (1, 1)
    assert routed == [0, 2]


def test_changes_since_txn_from_nested_file(spark, tmp_warehouse):
    """A change file one level below its txn dir is still read, and its
    ``_txn`` comes from that txn dir instead of a silent NULL; a table
    whose own path looks like a txn dir cannot fool the derivation."""
    t = Warehouse(spark, tmp_warehouse / "txn_77").table("org", "txn_88")
    _preload(spark, t, n=3)
    upsert_envelopes(t, _env(spark, [("k9", "2024-01-01T00:00:00Z")]),
                     FAKE_V1)
    t1, t2 = change_txns(t)
    for txn in (t1, t2):  # every change file moves one level deeper
        d = t.path / "_changes" / f"txn_{txn}"
        nested = d / ("nested" if txn == t2 else "shard=0")
        nested.mkdir()
        for f in list(d.iterdir()):
            if f.is_file():
                f.rename(nested / f.name)
    got = {(r.my_id, r._txn) for r in changes_since(t, 0).collect()}
    assert got == {("k0", t1), ("k1", t1), ("k2", t1), ("k9", t2)}


class _FeedConsumer:
    """One consumer of a FAKE_V1 table's change feed — a DB sync, an
    HTTP sync (both trim after the commit) or an IVM maintainer — as
    ``run(table, now)``, its committed ``watermark()`` and the keys it
    has ``delivered()`` so far."""

    def __init__(self, spark, kind, d):
        from webhookdb_spark.operators.matview import IncrementalAggMaintainer
        from webhookdb_spark.sinks.sync_target import (
            DatabaseSyncTarget,
            HttpSyncTarget,
            SyncState,
        )

        self.spark, self.kind, self.d = spark, kind, d
        state = SyncState(d / f"{kind}_st.json")
        if kind == "db":
            self.tgt = DatabaseSyncTarget(
                state=state, ts_col="at", key_col="my_id",
                dest_path=d / "replica",
            )
        elif kind == "http":
            self.posted: list[str] = []
            self.tgt = HttpSyncTarget(
                state=state, ts_col="at", page_size=3,
                post=lambda rows, now: self.posted.extend(
                    r["my_id"] for r in rows),
            )
        else:
            self.ivm = IncrementalAggMaintainer(
                spark, str(d / "ivm"), "my_id", "g", "v",
                project=lambda df: df.select(
                    "my_id", F.lit("g").alias("g"), F.lit(1).alias("v")),
            )

    def run(self, t, now):
        if self.kind == "ivm":
            return self.ivm.run(t)
        return self.tgt.run_sync_changes(t, now)

    def watermark(self):
        if self.kind == "ivm":
            return self.ivm.watermark
        return int(self.tgt.state.load().get("last_synced_txn", 0))

    def delivered(self):
        if self.kind == "http":
            return sorted(self.posted)
        if self.kind == "ivm":
            return sorted(r.key for r in self.ivm.state().collect())
        replica = self.spark.read.parquet(str(self.d / "replica"))
        return sorted(r.my_id for r in replica.collect())


@pytest.mark.parametrize("consumer", ["db", "http", "ivm"])
def test_db_sync_window_ends_at_listed_txn(spark, tmp_warehouse,
                                            monkeypatch, consumer):
    """Every change-feed consumer reads exactly the txns it listed: a
    txn that commits between the listing and the window read is
    delivered by the next cycle, once, instead of riding this cycle
    under a watermark that does not cover it and being delivered again
    (or trimmed unread)."""
    import webhookdb_spark.operators.upsert as upsert_mod

    t = _table(spark, tmp_warehouse)
    _preload(spark, t, n=4)
    t1 = t.manifest.txn
    c = _FeedConsumer(spark, consumer, tmp_warehouse)
    # rows synced per cycle; IVM counts the txns it applied
    first, late_n = (1, 1) if consumer == "ivm" else (4, 2)
    real = upsert_mod.changes_since
    late = []

    def changes_since_after_a_commit(table, since_txn=0, end_txn=None):
        if not late:
            late.append(upsert_envelopes(t, _env(spark, [
                ("n1", "2024-01-05T00:00:00Z"),
                ("n2", "2024-01-05T00:00:00Z")]), FAKE_V1))
        return real(table, since_txn, end_txn)

    monkeypatch.setattr(upsert_mod, "changes_since",
                        changes_since_after_a_commit)
    assert c.run(t, "2024-01-06 00:00:00") == first
    monkeypatch.undo()
    assert c.watermark() == t1
    kept = [t.manifest.txn] if consumer != "ivm" else [t1, t.manifest.txn]
    assert change_txns(t) == kept  # the late txn is kept
    assert c.run(t, "2024-01-07 00:00:00") == late_n
    assert c.run(t, "2024-01-08 00:00:00") == 0
    assert c.watermark() == t.manifest.txn
    assert c.delivered() == ["k0", "k1", "k2", "k3", "n1", "n2"]


@pytest.mark.parametrize("consumer", ["db", "http", "ivm"])
def test_feed_window_ending_in_empty_change_set(spark, tmp_warehouse,
                                                consumer):
    """A window whose txns hold only empty change sets (an all-stale
    MERGE) still moves each consumer's watermark to the listed end, and
    a sync's trim removes those dirs instead of re-reading them every
    cycle."""
    t = _table(spark, tmp_warehouse)
    _preload(spark, t, n=4)
    c = _FeedConsumer(spark, consumer, tmp_warehouse)
    c.run(t, "2024-01-06 00:00:00")
    upsert_envelopes(t, _env(spark, [("k1", "2023-01-01T00:00:00Z")]),
                     FAKE_V1)  # stale: an empty change set
    stale_txn = t.manifest.txn
    assert change_txns(t)[-1] == stale_txn
    assert c.run(t, "2024-01-07 00:00:00") == (
        1 if consumer == "ivm" else 0)
    assert c.watermark() == stale_txn
    if consumer != "ivm":  # the syncs trim; IVM leaves the feed alone
        assert change_txns(t) == []
    assert c.delivered() == ["k0", "k1", "k2", "k3"]


def test_ivm_over_empty_change_sets_moves_only_its_watermark(
        spark, tmp_warehouse):
    """Past its first run, IVM over a window of empty change sets writes
    no new generation: the watermark moves to the listed end and the
    aggregate stays as it was."""
    t = _table(spark, tmp_warehouse)
    _preload(spark, t, n=4)
    c = _FeedConsumer(spark, "ivm", tmp_warehouse)
    c.run(t, "2024-01-06 00:00:00")
    gens = sorted(p.name for p in c.ivm.path.glob("v_*"))
    agg = sorted(c.ivm.aggregate().collect())
    upsert_envelopes(t, _env(spark, [("k1", "2023-01-01T00:00:00Z")]),
                     FAKE_V1)  # stale: an empty change set
    assert c.run(t, "2024-01-07 00:00:00") == 1
    assert c.watermark() == change_txns(t)[-1] == t.manifest.txn
    assert sorted(p.name for p in c.ivm.path.glob("v_*")) == gens
    assert sorted(c.ivm.aggregate().collect()) == agg == [("g", 4, 4)]


def _wire_envelopes(spark, rows):
    return spark.createDataFrame(
        [(oid, json.dumps({"my_id": k, "at": "2024-06-01T00:00:00Z"}),
          "2024-06-01 00:00:00") for oid, k in rows],
        "integration_opaque_id string, body string, received_at string",
    ).withColumn("received_at", F.col("received_at").cast("timestamp"))


def test_audited_batch_routes_from_audit_write(spark, tmp_warehouse):
    """With audit on, the integrations present come from the audit
    write: two registered integrations are merged into their own tables,
    an unknown id is archived but not replicated, and an empty batch is a
    no-op."""
    from webhookdb_spark.streaming.ingest import IngestPipeline, IntegrationRuntime

    wh = Warehouse(spark, tmp_warehouse / "wh")
    audit = str(tmp_warehouse / "audit")
    pipeline = IngestPipeline(warehouse=wh, audit_table_path=audit)
    pipeline.register(IntegrationRuntime("svi_a", "org1", FAKE_V1))
    pipeline.register(IntegrationRuntime("svi_b", "org2", FAKE_V1))
    pipeline.process_batch(_wire_envelopes(spark, [
        ("svi_a", "a1"), ("svi_a", "a2"), ("svi_b", "b1"), ("svi_zz", "z1"),
    ]), audit_batch_id=1)
    assert sorted(r.my_id for r in wh.table("org1", "fake_v1").read()
                  .collect()) == ["a1", "a2"]
    assert [r.my_id for r in wh.table("org2", "fake_v1").read()
            .collect()] == ["b1"]
    assert sorted(oid for oid, _ in pipeline.merge_log) == ["svi_a", "svi_b"]
    assert spark.read.parquet(audit).count() == 4

    pipeline.process_batch(_wire_envelopes(spark, []), audit_batch_id=2)
    assert len(pipeline.merge_log) == 2


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_audited_batch_runs_no_presence_job(spark, tmp_warehouse):
    """An audited process_batch submits only the audit write's jobs (the
    merges are stubbed out here): no extra scan finds the integrations
    present."""
    from webhookdb_spark.streaming.ingest import IngestPipeline, IntegrationRuntime

    env = _wire_envelopes(spark, [("svi_a", "a1"), ("svi_b", "b1")])
    merged = []

    def no_merge(table, subset, spec):
        merged.append(table.path.parent.name)
        return MergeResult(0, 0, 0, subset)

    pipeline = IngestPipeline(
        warehouse=Warehouse(spark, tmp_warehouse / "wh"),
        audit_table_path=str(tmp_warehouse / "audit"), _merge_fn=no_merge)
    pipeline.register(IntegrationRuntime("svi_a", "org1", FAKE_V1))
    pipeline.register(IntegrationRuntime("svi_b", "org2", FAKE_V1))
    ref = IngestPipeline(warehouse=pipeline.warehouse,
                         audit_table_path=str(tmp_warehouse / "audit_ref"))
    n_audit = _jobs_in_group(
        spark, "audit-only", lambda: ref._write_audit(env, 1))
    n_batch = _jobs_in_group(
        spark, "audited-batch", lambda: pipeline.process_batch(
            env, audit_batch_id=1))
    assert sorted(merged) == ["org1", "org2"]
    assert n_batch == n_audit
