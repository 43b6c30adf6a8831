"""Upsert-engine conformance — ports of the reference's shared examples
(lib/webhookdb/spec_helpers/shared_examples_for_replicators.rb):

- "a replicator": upsert once → one row, data round-trips (:46-56)
- idempotence: same envelope twice → one row, no change event (:100-113)
- "prevents overwriting new data with old" (:263-326)
- intra-batch dedup, last wins (backfiller.rb:75-83)
- conditional value-diff guard (transistor, "upserts only under specific
  conditions" :569)
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from webhookdb_spark.operators.upsert import merge_upsert, upsert_envelopes
from webhookdb_spark.replicators.fake import FAKE_V1
from webhookdb_spark.replicators.stripe_charge_v1 import STRIPE_CHARGE_V1
from webhookdb_spark.replicators.transistor_episode_stats_v1 import (
    TRANSISTOR_EPISODE_STATS_V1,
)
from webhookdb_spark.storage import ManagedTable


def env_df(spark, bodies, received=None):
    rows = []
    for i, b in enumerate(bodies):
        rows.append(
            (
                "svi_fake",
                json.dumps(b),
                f"2024-01-01T00:00:{(received or [0] * len(bodies))[i]:02d}",
            )
        )
    df = spark.createDataFrame(rows, "opaque_id string, body string, received_at_s string")
    return df.withColumn("received_at", F.col("received_at_s").cast("timestamp")).drop(
        "received_at_s"
    )


def fake_table(spark, tmp_warehouse):
    return ManagedTable(spark, tmp_warehouse / "org" / "fake_v1")


def test_upsert_once_roundtrips_data(spark, tmp_warehouse):
    t = fake_table(spark, tmp_warehouse)
    body = {"my_id": "abc", "at": "2024-06-01T12:00:00Z", "extra": {"z": 1, "a": 2}}
    res = upsert_envelopes(t, env_df(spark, [body]), FAKE_V1)
    assert (res.inserted, res.updated, res.noop) == (1, 0, 0)
    rows = t.read().collect()
    assert len(rows) == 1
    assert rows[0]["my_id"] == "abc"
    assert str(rows[0]["at"]) == "2024-06-01 12:00:00"
    assert json.loads(rows[0]["data"]) == body


def test_idempotent_reupsert_no_change_event(spark, tmp_warehouse):
    t = fake_table(spark, tmp_warehouse)
    body = {"my_id": "abc", "at": "2024-06-01T12:00:00Z"}
    upsert_envelopes(t, env_df(spark, [body]), FAKE_V1)
    res2 = upsert_envelopes(t, env_df(spark, [body]), FAKE_V1)
    # update_where `at < excluded.at` is false for equal timestamps →
    # no write, no rowupsert event (base.rb:772-784).
    assert (res2.inserted, res2.updated, res2.noop) == (0, 0, 1)
    assert res2.changed.count() == 0
    assert t.read().count() == 1


def test_prevents_overwriting_new_with_old(spark, tmp_warehouse):
    t = fake_table(spark, tmp_warehouse)
    upsert_envelopes(t, env_df(spark, [{"my_id": "k", "at": "2024-06-02T00:00:00Z"}]), FAKE_V1)
    res = upsert_envelopes(
        t, env_df(spark, [{"my_id": "k", "at": "2024-06-01T00:00:00Z"}]), FAKE_V1
    )
    assert res.noop == 1 and res.updated == 0
    assert str(t.read().first()["at"]) == "2024-06-02 00:00:00"
    # newer wins
    res = upsert_envelopes(
        t, env_df(spark, [{"my_id": "k", "at": "2024-06-03T00:00:00Z"}]), FAKE_V1
    )
    assert res.updated == 1
    assert str(t.read().first()["at"]) == "2024-06-03 00:00:00"


def test_intra_batch_dedup_last_wins(spark, tmp_warehouse):
    t = fake_table(spark, tmp_warehouse)
    bodies = [
        {"my_id": "k", "at": "2024-06-01T00:00:00Z"},
        {"my_id": "k", "at": "2024-06-05T00:00:00Z"},
        {"my_id": "k", "at": "2024-06-03T00:00:00Z"},
    ]
    res = upsert_envelopes(t, env_df(spark, bodies, received=[1, 2, 3]), FAKE_V1)
    assert res.inserted == 1
    # last arrival (at=06-03) wins, reproducing the reference's page-hash
    # overwrite semantics (backfiller.rb:75-83).
    assert str(t.read().first()["at"]) == "2024-06-03 00:00:00"


def test_multiple_keys_and_buckets(spark, tmp_warehouse):
    t = fake_table(spark, tmp_warehouse)
    bodies = [{"my_id": f"k{i}", "at": "2024-06-01T00:00:00Z"} for i in range(50)]
    res = upsert_envelopes(t, env_df(spark, bodies), FAKE_V1)
    assert res.inserted == 50
    assert t.read().count() == 50
    # bucket routing read finds exactly the right row
    assert t.read_for_key("k7").count() == 1


def test_stripe_event_envelope_unwrap(spark, tmp_warehouse):
    t = ManagedTable(spark, tmp_warehouse / "org" / "stripe_charge_v1")
    charge = {
        "id": "ch_1",
        "object": "charge",
        "amount": 500,
        "created": 1700000000,
        "updated": 1700000100,
        "status": "succeeded",
        "billing_details": {"email": "x@y.z"},
        "payment_method_details": {"type": "card"},
    }
    event = {"object": "event", "type": "charge.updated", "data": {"object": charge}}
    res = upsert_envelopes(t, env_df(spark, [event]), STRIPE_CHARGE_V1)
    assert res.inserted == 1
    row = t.read().first()
    assert row["stripe_id"] == "ch_1"
    assert row["amount"] == 500
    assert row["billing_email"] == "x@y.z"
    assert str(row["created"]) == "2023-11-14 22:13:20"
    # data holds the unwrapped resource, not the event envelope
    assert json.loads(row["data"])["object"] == "charge"


def test_value_diff_guard_transistor(spark, tmp_warehouse):
    t = ManagedTable(spark, tmp_warehouse / "org" / "transistor")
    spec = TRANSISTOR_EPISODE_STATS_V1
    b = {"episode_id": "ep1", "date": "28-02-2025", "downloads": 10}
    res = upsert_envelopes(t, env_df(spark, [b]), spec)
    assert res.inserted == 1
    row = t.read().first()
    assert row["compound_id"] == "ep1-2025-02-28"
    # same downloads → noop even though row_updated_at would differ
    res2 = upsert_envelopes(t, env_df(spark, [b]), spec)
    assert res2.noop == 1 and res2.changed.count() == 0
    # changed downloads → update
    b2 = dict(b, downloads=25)
    res3 = upsert_envelopes(t, env_df(spark, [b2]), spec)
    assert res3.updated == 1
    assert t.read().first()["downloads"] == 25


def test_skip_nil_and_coalesce_on_update(spark, tmp_warehouse):
    from webhookdb_spark.spec import Col, ReplicatorSpec
    from webhookdb_spark.types import ColumnType

    spec = ReplicatorSpec(
        name="t_skipnil",
        table="t_skipnil",
        remote_key=Col("my_id", ColumnType.TEXT),
        denorm_cols=(
            Col("at", ColumnType.TIMESTAMP),
            Col("note", ColumnType.TEXT, skip_nil=True, optional=True),
            Col("first_seen", ColumnType.TEXT, optional=True),
        ),
        update_where=lambda s, t: t("at") < s("at"),
        coalesce_on_update=("first_seen",),
    )
    t = ManagedTable(spark, tmp_warehouse / "org" / "t_skipnil")
    upsert_envelopes(
        t,
        env_df(spark, [{"my_id": "k", "at": "2024-01-01T00:00:00Z", "note": "keep", "first_seen": "a"}]),
        spec,
    )
    upsert_envelopes(
        t,
        env_df(spark, [{"my_id": "k", "at": "2024-02-01T00:00:00Z", "first_seen": "b"}]),
        spec,
    )
    row = t.read().first()
    # skip_nil: incoming NULL note didn't clobber (column.rb:362-366)
    assert row["note"] == "keep"
    # coalesce_on_update: first-written value retained (base.rb:958-974)
    assert row["first_seen"] == "a"


def test_changed_rows_feed_fanout(spark, tmp_warehouse):
    t = fake_table(spark, tmp_warehouse)
    res = upsert_envelopes(
        t,
        env_df(
            spark,
            [
                {"my_id": "a", "at": "2024-06-01T00:00:00Z"},
                {"my_id": "b", "at": "2024-06-01T00:00:00Z"},
            ],
        ),
        FAKE_V1,
    )
    changed = {r["my_id"]: r["_action"] for r in res.changed.collect()}
    assert changed == {"a": "insert", "b": "insert"}


def test_delete_where_single_pass_counts(spark, tmp_warehouse):
    """delete_where returns the dropped-row count from an Observation on
    the single rewrite pass — including the shapes that used to prune
    the metrics node (bucket emptied at runtime; constant condition
    folded at optimization time)."""
    from pyspark.sql import types as T

    from webhookdb_spark.storage import PART_COL, Warehouse, bucket_expr

    t = Warehouse(spark, str(tmp_warehouse)).table("o", "delt")
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    t.create(schema, key="k", n_buckets=4)

    def fill():
        df = spark.createDataFrame(
            [("a", 1), ("b", 2), ("c", 3)], schema
        ).withColumn(PART_COL, bucket_expr("k", 4))
        t.overwrite_buckets(df, [0, 1, 2, 3])

    fill()
    assert t.delete_where(F.col("v") >= 2) == 2
    assert t.read().count() == 1
    assert t.delete_where(F.col("v") >= 100) == 0  # zero matches
    # empties every affected bucket at runtime (AQE empty-propagation shape)
    assert t.delete_where(F.col("v") >= 0) == 1
    assert t.read().count() == 0
    fill()
    # constant condition: the filter folds statically — full wipe
    assert t.delete_where(F.lit(True)) == 3
    assert t.read().count() == 0
    # empty table: nothing to delete, no write
    t2 = Warehouse(spark, str(tmp_warehouse)).table("o", "delt2")
    t2.create(schema, key="k", n_buckets=4)
    assert t2.delete_where(F.col("v") > 0) == 0


def test_capture_changes_off_skips_cdc_write(spark, tmp_warehouse):
    """capture_changes=False must not create a _changes txn dir, while
    MergeResult.changed stays readable (lazily, from the bucket files)
    and the observed counts are unaffected."""
    import datetime as dt
    import json

    from webhookdb_spark.replicators.fake import FAKE_V1
    from webhookdb_spark.storage import Warehouse

    t = Warehouse(spark, str(tmp_warehouse)).table("org", "fake_v1")
    env = spark.createDataFrame(
        [(json.dumps({"my_id": f"k{i}", "at": "2024-06-01T00:00:00Z"}),
          dt.datetime(2026, 1, 1)) for i in range(5)],
        "body string, received_at timestamp",
    )
    res = upsert_envelopes(t, env, FAKE_V1, capture_changes=False)
    assert res.inserted == 5
    assert res.changed.where("_action != 'keep'").count() == 5
    changes_dir = tmp_warehouse / "org" / "fake_v1" / "_changes"
    assert not changes_dir.exists() or not any(changes_dir.iterdir())
    # default path still persists the change set
    env2 = spark.createDataFrame(
        [(json.dumps({"my_id": "k9", "at": "2024-06-02T00:00:00Z"}),
          dt.datetime(2026, 1, 2))],
        "body string, received_at timestamp",
    )
    upsert_envelopes(t, env2, FAKE_V1)
    assert any((tmp_warehouse / "org" / "fake_v1" / "_changes").iterdir())


def test_hinted_merge_empty_batch_no_txn_churn(spark, tmp_warehouse):
    """A buckets hint must not defeat the empty-batch early return: a
    hinted merge of ZERO rows (e.g. a contract upsert whose batch fully
    quarantined) takes the no-op path — zero counts, no txn bump, no
    bucket rewrites. Regression pin: on an empty table the hinted empty
    merge used to collapse the observed plan to an empty LocalRelation,
    dropping the CollectMetrics node so Observation.get raised a py4j
    assertion; on a non-empty table it rewrote every hinted bucket as
    'keep' rows."""
    import datetime as dt
    import json

    from webhookdb_spark.replicators.fake import FAKE_V1
    from webhookdb_spark.storage import Warehouse

    t = Warehouse(spark, str(tmp_warehouse)).table("org", "fake_hint")
    hint = range(FAKE_V1.n_buckets)
    empty_env = spark.createDataFrame(
        [], "body string, received_at timestamp"
    )
    # empty table: the shape that asserted inside Observation.get
    res = upsert_envelopes(t, empty_env, FAKE_V1, buckets=hint)
    assert (res.inserted, res.updated, res.noop) == (0, 0, 0)
    assert res.changed.count() == 0
    txn0 = t.manifest.txn
    # non-empty table: still a no-op — no txn bump, rows intact
    env = spark.createDataFrame(
        [(json.dumps({"my_id": "k1", "at": "2024-06-01T00:00:00Z"}),
          dt.datetime(2026, 1, 1))],
        "body string, received_at timestamp",
    )
    upsert_envelopes(t, env, FAKE_V1, buckets=hint)
    txn1 = t.manifest.txn
    assert txn1 == txn0 + 1
    res2 = upsert_envelopes(t, empty_env, FAKE_V1, buckets=hint)
    assert (res2.inserted, res2.updated, res2.noop) == (0, 0, 0)
    assert t.manifest.txn == txn1
    assert t.read().count() == 1


def test_zorder_write_narrows_file_stats_on_both_dimensions(spark, tmp_path):
    """A table created with zorder=(x, y) must produce parquet files
    whose min/max stats are narrow on BOTH columns, so a predicate on
    either dimension skips most files — vs the unsorted layout, where
    every file spans essentially the full range of both."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from webhookdb_spark.storage import PART_COL, ManagedTable, bucket_expr

    n = 64  # 64x64 grid, 4096 rows
    rows = [(f"k{i}", i % n, i // n) for i in range(n * n)]
    df = spark.createDataFrame(rows, "id string, x long, y long")
    schema = df.schema

    def write(zorder):
        t = ManagedTable(spark, tmp_path / ("z" if zorder else "plain"))
        t.create(schema, key="id", n_buckets=2, zorder=zorder)
        spark.conf.set("spark.sql.files.maxRecordsPerFile", "128")
        try:
            t.overwrite_all(df.withColumn(PART_COL, bucket_expr("id", 2)))
        finally:
            spark.conf.unset("spark.sql.files.maxRecordsPerFile")
        return t

    def file_spans(t):
        spans = []
        for f in Path(t.path).rglob("*.parquet"):
            md = pq.ParquetFile(f).metadata
            mins = {"x": None, "y": None}
            maxs = {"x": None, "y": None}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema
                    if name in mins:
                        st = col.statistics
                        mins[name] = st.min if mins[name] is None else min(mins[name], st.min)
                        maxs[name] = st.max if maxs[name] is None else max(maxs[name], st.max)
            spans.append((maxs["x"] - mins["x"], maxs["y"] - mins["y"],
                          mins["x"], maxs["x"], mins["y"], maxs["y"]))
        return spans

    zt, pt = write(("x", "y")), write(None)
    zs, ps = file_spans(zt), file_spans(pt)
    assert len(zs) >= 8  # maxRecordsPerFile split each bucket
    # Z-order: most files' spans are a fraction of the 0..63 range on
    # BOTH dims (files straddling a major quadrant seam are legitimately
    # wide — inherent to Morton order); unsorted: every file spans
    # (nearly) everything on both
    narrow = [s for s in zs if s[0] <= n // 2 and s[1] <= n // 2]
    assert len(narrow) >= (3 * len(zs)) // 4, zs
    # the unsorted write lands in row-major generation order — i.e. a
    # single-dimension sort on y: narrow y spans, but every file spans
    # the FULL x range, the exact limitation Z-order removes
    wide = [s for s in ps if s[0] > n // 2]
    assert len(wide) >= (3 * len(ps)) // 4, ps  # small remainder files excepted

    # file skipping for a predicate on either single dimension: the
    # fraction of files whose [min,max] admits the slice
    def admitted(spans, dim_lo, dim_hi, dim):
        lo_i, hi_i = (2, 3) if dim == "x" else (4, 5)
        return sum(1 for s in spans if not (s[hi_i] < dim_lo or s[lo_i] > dim_hi))

    assert admitted(zs, 0, 7, "x") <= len(zs) // 2
    assert admitted(zs, 0, 7, "y") <= len(zs) // 2
    # y-sorted plain layout skips on y but admits EVERY file for an
    # x-slice; Z-order skips on either
    assert admitted(ps, 0, 7, "x") >= len(ps) - 1  # remainder file excepted

    # the layout is a pure sort: contents identical either way
    assert sorted(map(tuple, zt.read().collect())) == sorted(rows)


def test_zorder_survives_subsequent_writes_and_conflicts_detected(spark, tmp_path):
    """Two regressions pinned: (1) the manifest re-save must CARRY the
    zorder spec — dropping it silently stops Z-sorting after the first
    write; (2) a concurrent writer committing mid-write must raise
    ConcurrentWriteError, not silently clobber the other txn."""
    import json

    from webhookdb_spark.storage import (
        PART_COL,
        ConcurrentWriteError,
        ManagedTable,
        Manifest,
        bucket_expr,
    )

    df = spark.createDataFrame(
        [(f"k{i}", i % 8, i // 8) for i in range(64)],
        "id string, x long, y long",
    )
    t = ManagedTable(spark, tmp_path / "z2")
    t.create(df.schema, key="id", n_buckets=2, zorder=("x", "y"))
    part = df.withColumn(PART_COL, bucket_expr("id", 2))
    t.overwrite_all(part)
    assert t.manifest.zorder == ["x", "y"]          # carried through save
    t.overwrite_all(part)
    assert t.manifest.zorder == ["x", "y"]          # and again

    # conflict: bump the manifest txn out-of-band mid-"write" by
    # simulating what a concurrent committer does
    m = t.manifest
    Manifest(
        key=m.key, n_buckets=m.n_buckets, txn=m.txn + 1,
        buckets=m.buckets, schema_json=m.schema_json, zorder=m.zorder,
    ).save(t.path)
    import pytest as _pt

    class _Racy(ManagedTable):
        @property
        def manifest(self):
            return m  # stale view captured before the other commit

    racy = _Racy(spark, t.path)
    with _pt.raises(ConcurrentWriteError, match="reload and retry"):
        racy.overwrite_buckets(part, [0, 1])
    # the losing writer cleaned up its staged version dirs
    staged = [p for p in (t.path / "buckets" / "0").iterdir()]
    assert all("v%d" % (m.txn + 1) != p.name for p in staged)


def test_variant_shape_engine_matches_default(spark):
    """shape(engine="variant") — one try_parse_json bound for the whole
    projection — must produce row-identical output to the default
    per-column get_json_object path across the dig/converter surface:
    nested walks, array indexes, bracket-quoted keys, typed arrays,
    converters, defaulters, missing keys, NULLs, unicode."""
    import datetime as dt
    import json

    from webhookdb_spark.functions.converters import CONV_TO_I, CONV_UNIX_TS
    from webhookdb_spark.spec import Col, ReplicatorSpec
    from webhookdb_spark.types import ColumnType

    spec = ReplicatorSpec(
        name="variant_probe",
        table="variant_probe",
        remote_key=Col("my_id", ColumnType.TEXT, data_key="id"),
        denorm_cols=(
            Col("amount", ColumnType.INTEGER, converter=CONV_TO_I),
            Col("created", ColumnType.TIMESTAMP, converter=CONV_UNIX_TS),
            Col("nested", ColumnType.TEXT, data_key=["a", "b", "c"]),
            Col("first_email", ColumnType.TEXT, data_key=["to", 0, "email"]),
            Col("weird", ColumnType.TEXT, data_key="georss:point"),
            Col("tags", ColumnType.TEXT_ARRAY),
            Col("missing", ColumnType.TEXT, optional=True),
            Col("flag", ColumnType.BOOLEAN, defaulter="tofalse"),
        ),
        timestamp_col="created",
    )
    payloads = [
        {"id": "x1", "amount": 7, "created": 1700000000,
         "a": {"b": {"c": "deep"}}, "to": [{"email": "a@b.c"}],
         "georss:point": "1 2", "tags": ["p", "q"], "flag": True},
        {"id": "x2", "amount": "12", "created": 1700000100,
         "a": {"b": {}}, "to": [], "tags": [], "flag": None},
        {"id": "ü3", "amount": None, "created": 1700000200,
         "tags": None, "extra": {"unused": 1}},
    ]
    env = spark.createDataFrame(
        [(json.dumps(p, ensure_ascii=False), dt.datetime(2026, 1, 1)) for p in payloads],
        "body string, received_at timestamp",
    )
    base = sorted(map(tuple, spec.shape(env).drop("received_at").collect()))
    var = sorted(
        map(tuple, spec.shape(env, engine="variant").drop("received_at").collect())
    )
    assert base == var
    # sanity: the probe actually extracted things
    by_id = {r[0]: r for r in base}
    assert by_id["x1"][3] == "deep" and by_id["x1"][4] == "a@b.c"
    assert by_id["x1"][6] == ["p", "q"]
    assert by_id["ü3"][1] is None


def test_three_column_zorder_write_narrows_all_three(spark, tmp_path):
    """zorder=(x, y, z) Morton-sorts on three dimensions: most files'
    min/max spans are narrow on ALL THREE columns (the row-major
    baseline covered by the 2-D test would be full-width on two)."""
    import pyarrow.parquet as pq
    from pathlib import Path

    from webhookdb_spark.storage import PART_COL, ManagedTable, bucket_expr

    n = 16  # 16^3 = 4096 rows
    rows = [
        (f"k{i}", i % n, (i // n) % n, i // (n * n)) for i in range(n ** 3)
    ]
    df = spark.createDataFrame(rows, "id string, x long, y long, z long")
    t = ManagedTable(spark, tmp_path / "z3")
    t.create(df.schema, key="id", n_buckets=2, zorder=("x", "y", "z"))
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "128")
    try:
        t.overwrite_all(df.withColumn(PART_COL, bucket_expr("id", 2)))
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")

    spans = []
    for f in Path(t.path).rglob("*.parquet"):
        md = pq.ParquetFile(f).metadata
        mm = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema in ("x", "y", "z"):
                    st = col.statistics
                    lo, hi = mm.get(col.path_in_schema, (st.min, st.max))
                    mm[col.path_in_schema] = (min(lo, st.min), max(hi, st.max))
        spans.append(tuple(mm[c][1] - mm[c][0] for c in ("x", "y", "z")))
    assert len(spans) >= 8
    # boundary files straddling a major Morton plane legitimately span
    # wider on one dim; the layout claim is that MOST files are well
    # inside the 0..15 range on ALL THREE dims and the average span is
    # far below full width (a row-major write is full-width on two)
    narrow = [s for s in spans if all(d <= (3 * n) // 4 for d in s)]
    assert len(narrow) >= (3 * len(spans)) // 4, spans
    for dim in range(3):
        mean = sum(s[dim] for s in spans) / len(spans)
        # full-width (row-major on the other dims) would average n-1
        assert mean <= (3 * n) // 4, (dim, mean, spans)
    assert sorted(map(tuple, t.read().collect())) == sorted(rows)


def test_concurrent_writers_cas_exactly_one_wins(spark, tmp_path):
    """Two real writers racing on the same table (the ADVICE storage.py
    scenario): version dirs are writer-unique and the manifest commit is
    a locked compare-and-swap, so per txn exactly one writer commits,
    losers raise ConcurrentWriteError and roll back ONLY their own dirs,
    and the table stays readable with every manifest-referenced dir
    present throughout."""
    import threading

    from webhookdb_spark.storage import (
        PART_COL,
        ConcurrentWriteError,
        ManagedTable,
        bucket_expr,
    )

    df = spark.createDataFrame(
        [(f"k{i}", i) for i in range(64)], "id string, v long"
    )
    t = ManagedTable(spark, tmp_path / "race")
    t.create(df.schema, key="id", n_buckets=2)
    part = df.withColumn(PART_COL, bucket_expr("id", 2)).localCheckpoint()

    commits = []
    conflicts = []
    errors = []

    def writer(n_writes: int) -> None:
        w = ManagedTable(spark, t.path)
        for _ in range(n_writes):
            while True:
                try:
                    w.overwrite_all(part)
                    commits.append(1)
                    break
                except ConcurrentWriteError:
                    conflicts.append(1)
                except Exception as e:  # pragma: no cover - diagnostic
                    errors.append(e)
                    return

    threads = [threading.Thread(target=writer, args=(3,)) for _ in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()

    assert not errors, errors
    m = t.manifest
    # every successful overwrite bumped the txn exactly once
    assert m.txn == len(commits) == 6
    # every referenced bucket dir survived the losers' rollbacks
    for rel in m.buckets.values():
        assert (t.path / rel).exists(), rel
    assert sorted(r.id for r in t.read().collect()) == sorted(
        f"k{i}" for i in range(64)
    )
    # the lock is released (no writer crashed holding it)
    assert not (t.path / "_manifest.lock").exists()


def test_variant_engine_event_key_parity_and_single_event_parse(spark):
    """Event-wrapped payloads under the variant engine: event_key digs
    must be row-identical to the json_path engine — event value wins,
    resource fallback when the event lacks the key, nested event
    paths, typed arrays with event precedence, NULLs, non-event rows —
    and the plan must bind try_parse_json over the EVENT exactly once
    (per-column re-parses of the event JSON were the remaining
    parse-O(columns) path after the r6 resource-side fix)."""
    import datetime as dt
    import json

    from webhookdb_spark.functions.converters import CONV_UNIX_TS
    from webhookdb_spark.spec import Col, ReplicatorSpec
    from webhookdb_spark.types import ColumnType

    def _rae(body):
        is_event = F.get_json_object(body, "$.object") == F.lit("event")
        resource = F.when(
            is_event, F.get_json_object(body, "$.data.object")
        ).otherwise(body)
        return resource, F.when(is_event, body)

    spec = ReplicatorSpec(
        name="variant_event_probe",
        table="variant_event_probe",
        remote_key=Col("my_id", ColumnType.TEXT, data_key="id"),
        denorm_cols=(
            # event wins over resource (column.rb:321-326 precedence)
            Col("updated", ColumnType.TIMESTAMP, data_key="created",
                event_key="created", converter=CONV_UNIX_TS),
            # nested event path with resource fallback
            Col("req_id", ColumnType.TEXT, data_key="fallback_req",
                event_key=["request", "id"], optional=True),
            # typed array with event precedence
            Col("tags", ColumnType.TEXT_ARRAY, event_key="evt_tags"),
            Col("amount", ColumnType.INTEGER),
        ),
        timestamp_col="updated",
        resource_and_event=_rae,
    )
    charge = {"id": "c1", "amount": 5, "created": 100,
              "fallback_req": "from_rsrc", "tags": ["r1", "r2"]}
    payloads = [
        # event envelope: created/request.id/evt_tags come from it
        {"object": "event", "created": 999, "request": {"id": "req_7"},
         "evt_tags": ["e1"], "data": {"object": charge}},
        # event envelope missing request/evt_tags: resource fallback
        {"object": "event", "created": 888,
         "data": {"object": {"id": "c2", "amount": 6, "created": 200,
                             "tags": ["x"]}}},
        # bare resource (no event): every event_key falls back
        {"id": "c3", "amount": 7, "created": 300, "tags": ["y", "z"],
         "fallback_req": "bare"},
    ]
    env = spark.createDataFrame(
        [(json.dumps(p), dt.datetime(2026, 1, 1)) for p in payloads],
        "body string, received_at timestamp",
    )
    base = sorted(map(tuple, spec.shape(env, engine="json_path")
                      .drop("received_at").collect()))
    var = sorted(map(tuple, spec.shape(env, engine="variant")
                     .drop("received_at").collect()))
    assert base == var
    by_id = {r[0]: r for r in var}
    assert by_id["c1"][1] == dt.datetime(1970, 1, 1, 0, 16, 39)  # evt 999
    assert by_id["c1"][2] == "req_7" and by_id["c1"][3] == ["e1"]
    assert by_id["c2"][1] == dt.datetime(1970, 1, 1, 0, 14, 48)  # evt 888
    assert by_id["c2"][2] is None and by_id["c2"][3] == ["x"]
    assert by_id["c3"][1] == dt.datetime(1970, 1, 1, 0, 5)       # rsrc 300
    assert by_id["c3"][2] == "bare" and by_id["c3"][3] == ["y", "z"]

    # plan gate: exactly ONE try_parse_json of the event (and one of
    # the resource) — no per-column event re-parse
    plan = spec.shape(env, engine="variant")._jdf.queryExecution() \
        .optimizedPlan().toString()
    # try_parse_json renders as VariantExpressionEvalUtils.parseJson
    # in the optimized plan
    assert plan.count("parseJson") == 2, plan


def test_time_travel_retention_and_gc(spark, tmp_path):
    """keep_versions=2: reads at retained txns return those snapshots
    exactly; snapshots beyond the window are GC'd (dirs deleted,
    at_txn raises); dirs shared between retained snapshots survive the
    GC; keep_versions=0 keeps the immediate-GC behavior."""
    import pytest as _pt

    from webhookdb_spark.storage import PART_COL, ManagedTable, bucket_expr

    def df_of(vals):
        return spark.createDataFrame(
            [(f"k{i}", v) for i, v in vals], "id string, v long"
        ).withColumn(PART_COL, bucket_expr("id", 2))

    t = ManagedTable(spark, tmp_path / "tt")
    t.create(
        spark.createDataFrame([], "id string, v long").schema,
        key="id", n_buckets=2, keep_versions=2,
    )
    t.overwrite_all(df_of([(i, 1) for i in range(8)]))      # txn1: v=1
    t.overwrite_all(df_of([(i, 2) for i in range(8)]))      # txn2: v=2
    t.overwrite_all(df_of([(i, 3) for i in range(8)]))      # txn3: v=3
    t.overwrite_all(df_of([(i, 4) for i in range(8)]))      # txn4: v=4

    assert {r.v for r in t.read().collect()} == {4}
    assert {r.v for r in t.read(at_txn=3).collect()} == {3}
    assert {r.v for r in t.read(at_txn=2).collect()} == {2}
    # txn1 fell out of the 2-deep window: dirs gone, read raises
    with _pt.raises(ValueError, match="not a retained snapshot"):
        t.read(at_txn=1)
    m = t.manifest
    assert [s["txn"] for s in m.history] == [3, 2]
    # only retained dirs remain on disk
    import os

    live = set()
    for b in ("0", "1"):
        live |= {f"buckets/{b}/{d}" for d in os.listdir(t.path / "buckets" / b)}
    referenced = set(m.buckets.values())
    for s in m.history:
        referenced |= set(s["buckets"].values())
    assert live == referenced, (live, referenced)

    # a partial write (one bucket replaced) shares the untouched
    # bucket's dir across snapshots — GC must not delete it while
    # retained, and the at_txn=4 snapshot stays fully intact
    part = df_of([(0, 5)])
    b0 = int(part.select(PART_COL).first()[0])
    t.overwrite_buckets(part, [b0])  # txn5: bucket b0 now holds ONLY k0
    assert {r.v for r in t.read(at_txn=4).collect()} == {4}
    assert t.read(at_txn=4).count() == 8
    got5 = {r.id: r.v for r in t.read().collect()}
    assert got5["k0"] == 5
    # the untouched bucket's keys survive at v=4
    assert all(v == 4 for k, v in got5.items() if k != "k0")

    # keep_versions=0 table: superseded dirs deleted immediately
    t0 = ManagedTable(spark, tmp_path / "nott")
    t0.create(
        spark.createDataFrame([], "id string, v long").schema,
        key="id", n_buckets=2,
    )
    t0.overwrite_all(df_of([(i, 1) for i in range(4)]))
    t0.overwrite_all(df_of([(i, 2) for i in range(4)]))
    for b in ("0", "1"):
        assert len(os.listdir(t0.path / "buckets" / b)) == 1


def test_snapshot_diff_added_removed_changed_with_bucket_pruning(
    spark, tmp_path
):
    """snapshot_diff over retained snapshots classifies added / removed
    / changed keys exactly; untouched keys never appear; the
    manifest-level pruning (changed_buckets) lists ONLY buckets whose
    version dir moved — a one-bucket write diffs by reading one
    bucket; diffing a snapshot against itself is empty with zero
    buckets read."""
    from webhookdb_spark.operators.digest import (
        changed_buckets,
        snapshot_diff,
    )
    from webhookdb_spark.storage import PART_COL, ManagedTable, bucket_expr

    def df_of(rows):
        return spark.createDataFrame(
            rows, "id string, v long"
        ).withColumn(PART_COL, bucket_expr("id", 4))

    t = ManagedTable(spark, tmp_path / "sd")
    t.create(
        spark.createDataFrame([], "id string, v long").schema,
        key="id", n_buckets=4, keep_versions=3,
    )
    base = [(f"k{i}", 1) for i in range(12)]
    t.overwrite_all(df_of(base))                      # txn1
    # txn2: k0 changed, k12 added, k5 removed, everything else intact
    nxt = {k: v for k, v in base}
    nxt["k0"] = 99
    del nxt["k5"]
    nxt["k12"] = 1
    t.overwrite_all(df_of(sorted(nxt.items())))       # txn2

    got = {
        (r.id, r.change) for r in snapshot_diff(t, 1, 2).collect()
    }
    assert got == {("k0", "changed"), ("k5", "removed"), ("k12", "added")}

    # self-diff: no changed buckets, empty result, right schema
    assert changed_buckets(t, 2, 2) == []
    empty = snapshot_diff(t, 2, 2)
    assert empty.count() == 0 and empty.columns == ["id", "change"]

    # single-bucket write: pruning must name exactly that bucket
    one = df_of([("k0", 123)])
    b0 = int(one.select(PART_COL).first()[0])
    t.overwrite_buckets(one, [b0])                    # txn3
    assert changed_buckets(t, 2, 3) == [b0]
    d = {(r.id, r.change) for r in snapshot_diff(t, 2, 3).collect()}
    # bucket b0 held other keys before the one-row overwrite replaced
    # its contents: k0 changed, the rest of b0's keys removed
    assert ("k0", "changed") in d
    assert all(c in ("removed", "changed") for _, c in d)


def test_incremental_agg_maintainer_feed_equals_recompute(spark, tmp_path):
    """IVM from the MERGE feed: the maintained (group, n_keys, total)
    must equal a from-scratch groupBy of the table's current rows
    after every run — including keys MOVING between groups (two-sided
    deltas) and a run folding several queued txns; re-runs are
    watermark no-ops."""
    import json

    from pyspark.sql import functions as F

    from webhookdb_spark.operators.matview import IncrementalAggMaintainer
    from webhookdb_spark.operators.upsert import upsert_envelopes
    from webhookdb_spark.replicators.fake import FAKE_V1
    from webhookdb_spark.storage import Warehouse

    def env(items):
        return spark.createDataFrame(
            [("fake_v1", json.dumps(it), None) for it in items],
            "opaque_id string, body string, received_at timestamp",
        )

    wh = Warehouse(spark, tmp_path / "wh")
    t = wh.table("org", "fake_v1")
    shape = lambda b: b.select(  # noqa: E731
        "my_id",
        F.get_json_object(F.col("data").cast("string"), "$.g").alias("g"),
        F.get_json_object(F.col("data").cast("string"), "$.v")
        .cast("long")
        .alias("v"),
    )
    mt = IncrementalAggMaintainer(
        spark, str(tmp_path / "ivm"), "my_id", "g", "v", project=shape
    )

    def recompute():
        cur = t.read().select(
            F.get_json_object(F.col("data").cast("string"), "$.g").alias(
                "group"
            ),
            F.get_json_object(F.col("data").cast("string"), "$.v")
            .cast("long")
            .alias("v"),
        )
        return {
            (r.group, r.n_keys, r.total)
            for r in cur.groupBy("group")
            .agg(
                F.count("*").cast("long").alias("n_keys"),
                F.sum("v").cast("long").alias("total"),
            )
            .collect()
        }

    def maintained():
        return {
            (r.group, r.n_keys, r.total) for r in mt.aggregate().collect()
        }

    upsert_envelopes(t, env([
        {"my_id": "a", "at": "2024-01-01T00:00:00Z", "g": "x", "v": 10},
        {"my_id": "b", "at": "2024-01-01T00:00:00Z", "g": "x", "v": 5},
        {"my_id": "c", "at": "2024-01-01T00:00:00Z", "g": "y", "v": 7},
    ]), FAKE_V1)
    assert mt.run(t) == 1
    assert maintained() == recompute() == {("x", 2, 15), ("y", 1, 7)}
    assert mt.run(t) == 0  # watermark no-op

    # two queued txns folded in ONE run; "a" moves group x -> y, "b"
    # changes value in place, "d" is new
    upsert_envelopes(t, env([
        {"my_id": "a", "at": "2024-01-02T00:00:00Z", "g": "y", "v": 20},
    ]), FAKE_V1)
    upsert_envelopes(t, env([
        {"my_id": "b", "at": "2024-01-03T00:00:00Z", "g": "x", "v": 6},
        {"my_id": "d", "at": "2024-01-03T00:00:00Z", "g": "z", "v": 1},
    ]), FAKE_V1)
    assert mt.run(t) == 2
    assert maintained() == recompute() == {
        ("x", 1, 6), ("y", 2, 27), ("z", 1, 1),
    }

    # a group emptying out disappears from the aggregate
    upsert_envelopes(t, env([
        {"my_id": "d", "at": "2024-01-04T00:00:00Z", "g": "x", "v": 2},
    ]), FAKE_V1)
    assert mt.run(t) == 1
    assert maintained() == recompute() == {("x", 2, 8), ("y", 2, 27)}


def test_contract_upsert_quarantines_violating_rows(spark, tmp_warehouse):
    """Rows failing the landing contract (null key via missing my_id
    is already dropped by shaping; here: 'at' outside the declared
    window) land in the quarantine parquet with the first-failing
    reason; clean rows merge normally; the table never sees the bad
    rows; a second batch appends to the same quarantine."""
    from webhookdb_spark.operators.upsert import upsert_envelopes_with_contract

    t = fake_table(spark, tmp_warehouse)
    qdir = str(tmp_warehouse / "quarantine")
    rules = [
        ("not_null", "at"),
        ("between", "at", "2024-01-01 00:00:00", "2024-12-31 23:59:59"),
    ]
    bodies = [
        {"my_id": "good1", "at": "2024-06-01T00:00:00Z"},
        {"my_id": "old", "at": "1999-01-01T00:00:00Z"},     # before window
        {"my_id": "good2", "at": "2024-07-01T00:00:00Z"},
        {"my_id": "future", "at": "2031-01-01T00:00:00Z"},  # after window
    ]
    res, n_bad = upsert_envelopes_with_contract(
        t, env_df(spark, bodies), FAKE_V1, rules, qdir
    )
    assert n_bad == 2 and res.inserted == 2
    kept = sorted(r["my_id"] for r in t.read().collect())
    assert kept == ["good1", "good2"]
    quar = spark.read.parquet(qdir).collect()
    reasons = {r["my_id"]: r["_contract_reason"] for r in quar}
    assert set(reasons) == {"old", "future"}
    assert all(v.startswith("between(at") for v in reasons.values())
    # second batch appends; clean row upserts into the live table
    res2, n_bad2 = upsert_envelopes_with_contract(
        t, env_df(spark, [{"my_id": "old2", "at": "1998-01-01T00:00:00Z"},
                          {"my_id": "good3", "at": "2024-08-01T00:00:00Z"}]),
        FAKE_V1, rules, qdir,
    )
    assert n_bad2 == 1 and res2.inserted == 1
    assert spark.read.parquet(qdir).count() == 3
    assert t.read().count() == 3


def test_zonemap_range_read_prunes_buckets_exactly(spark, tmp_warehouse):
    """A range read over a zone-mapped column opens ONLY buckets whose
    [min,max] intersects the range (verified via inputFiles), returns
    exactly the rows a full-scan filter returns, stats refresh on
    rewrite, and untracked columns / stat-less buckets fall back to
    reading everything."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    t = ManagedTable(spark, tmp_warehouse / "org" / "zm")
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("v", T.LongType()),
        T.StructField("data", T.StringType()),
    ])
    t.create(schema, key="k", n_buckets=8, zonemap_cols=("v",))
    # zone maps on HASH buckets pay only when the tracked column
    # correlates with the key's bucket — build that correlation
    # explicitly (v = bucket * 1000 + i), which makes the pruning
    # assertions DETERMINISTIC instead of luck-of-distribution
    from webhookdb_spark.functions.converters import str2inthash_py

    rows = [(f"k{i}", str2inthash_py(f"k{i}") % 8 * 1000 + i, "d")
            for i in range(100)]
    df = spark.createDataFrame(rows, schema)
    t.overwrite_all(df)

    m = t.manifest
    assert m.zonemap_cols == ["v"] and len(m.zonemaps) == 8
    for b, stats in m.zonemaps.items():
        assert stats["v"][0] <= stats["v"][1]

    # a narrow range hits exactly the buckets whose band intersects
    got = t.read_where_range("v", 0, 1999)
    want = sorted(r.k for r in t.read().where("v between 0 and 1999").collect())
    assert sorted(r.k for r in got.collect()) == want
    opened = {p.split("/buckets/")[1].split("/")[0] for p in got.inputFiles()}
    expected = {b for b, s in m.zonemaps.items()
                if not (s["v"][1] < 0 or s["v"][0] > 1999)}
    assert opened == expected == {"0", "1"}

    # rewrite shifts values: stats must refresh and pruning follow
    df2 = spark.createDataFrame(
        [(f"k{i}", str2inthash_py(f"k{i}") % 8 * 1000 + i + 100000, "d")
         for i in range(100)], schema)
    t.overwrite_all(df2)
    m2 = t.manifest
    assert all(s["v"][0] >= 100000 for s in m2.zonemaps.values())
    assert t.read_where_range("v", 0, 1999).count() == 0
    got3 = t.read_where_range("v", 100000, 101999)
    assert got3.count() == t.read().where(
        "v between 100000 and 101999").count() > 0

    # untracked column: no pruning, plain filtered read
    assert t.read_where_range("k", "k0", "k99").count() == 100


def test_contract_upsert_single_materialization_of_shaped_batch(
    spark, tmp_warehouse
):
    """The shaped+flagged batch must be evaluated exactly ONCE
    (operators/upsert.py localCheckpoint): the source scan count —
    measured by an accumulator in the envelope lineage — must equal
    one pass over the input rows, no matter how many downstream
    actions (quarantine count, quarantine write, merge) consume it.
    Pre-fix the lineage was recomputed three times, and the
    monotonically_increasing_id _seq could shift between the
    quarantine write and the merge."""
    from webhookdb_spark.operators.upsert import upsert_envelopes_with_contract

    t = fake_table(spark, tmp_warehouse)
    qdir = str(tmp_warehouse / "quarantine_scans")
    rules = [
        ("between", "at", "2024-01-01 00:00:00", "2024-12-31 23:59:59"),
    ]
    bodies = [
        {"my_id": "good1", "at": "2024-06-01T00:00:00Z"},
        {"my_id": "bad1", "at": "1999-01-01T00:00:00Z"},
        {"my_id": "good2", "at": "2024-07-01T00:00:00Z"},
    ]
    base = env_df(spark, bodies)
    acc = spark.sparkContext.accumulator(0)

    def counting(rows):
        for r in rows:
            acc.add(1)
            yield r

    env = spark.createDataFrame(
        base.rdd.mapPartitions(counting), base.schema
    )
    res, n_bad = upsert_envelopes_with_contract(t, env, FAKE_V1, rules, qdir)
    assert n_bad == 1 and res.inserted == 2
    assert acc.value == len(bodies), (
        f"shaped batch evaluated {acc.value / len(bodies):.1f}x; "
        "contract upsert must materialize it exactly once"
    )


def test_contract_upsert_releases_checkpoint_blocks(spark, tmp_warehouse):
    """The eager localCheckpoint that pins the shaped batch must be
    freed once the merge commits: a streaming ingest calls the
    contract upsert per micro-batch, and leaked checkpoint blocks
    accumulate on executor storage until driver GC. After the call,
    no persistent RDDs may remain beyond those present before it."""
    from webhookdb_spark.operators.upsert import upsert_envelopes_with_contract

    t = fake_table(spark, tmp_warehouse)
    qdir = str(tmp_warehouse / "quarantine_release")
    rules = [
        ("between", "at", "2024-01-01 00:00:00", "2024-12-31 23:59:59"),
    ]
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    for batch in range(2):  # per-micro-batch: no growth across calls
        env = env_df(spark, [
            {"my_id": f"k{batch}a", "at": "2024-06-01T00:00:00Z"},
            {"my_id": f"k{batch}b", "at": "1999-01-01T00:00:00Z"},
        ])
        res, n_bad = upsert_envelopes_with_contract(
            t, env, FAKE_V1, rules, qdir
        )
        assert n_bad == 1 and res.total_changed == 1
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after <= before, (
        f"contract upsert leaked {after - before} checkpointed RDD(s)"
    )


def test_zonemap_stats_exclude_sentinel_and_out_of_hint_rows(spark, tmp_warehouse):
    """r13 code review: the zone-map refresh aggregates ONLY the listed
    buckets' staging partitions. delete_where's _part=-1 schema
    sentinel must not persist a bogus '-1' zonemaps entry, and rows
    routed outside the buckets hint (the documented-lost-rows misuse)
    must not overwrite an untouched bucket's stats with bounds over
    data that is then discarded."""
    from pyspark.sql import types as T

    from webhookdb_spark.functions.converters import str2inthash_py
    from webhookdb_spark.storage import PART_COL

    t = ManagedTable(spark, tmp_warehouse / "org" / "zmsent")
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("v", T.LongType()),
        T.StructField("data", T.StringType()),
    ])
    t.create(schema, key="k", n_buckets=4, zonemap_cols=("v",))
    rows = [(f"k{i}", str2inthash_py(f"k{i}") % 4 * 1000 + i, "d")
            for i in range(40)]
    t.overwrite_all(spark.createDataFrame(rows, schema))
    before = dict(t.manifest.zonemaps)
    assert set(before) <= {"0", "1", "2", "3"} and "-1" not in before

    # delete_where stages its all-NULL sentinel under _part=-1
    t.delete_where(F.col("v") < 0)  # deletes nothing, rewrites nothing
    assert "-1" not in (t.manifest.zonemaps or {})

    # out-of-hint rows: write bucket-0 rows while hinting only their
    # bucket, but smuggle a stray row routed to another bucket — its
    # stats must NOT touch the unlisted bucket's entry
    b0_keys = [f"k{i}" for i in range(40)
               if str2inthash_py(f"k{i}") % 4 == 0]
    stray_key = next(f"s{i}" for i in range(100)
                     if str2inthash_py(f"s{i}") % 4 == 1)
    from webhookdb_spark.storage import bucket_expr

    part = spark.createDataFrame(
        [(k, 5, "d") for k in b0_keys] + [(stray_key, 999999999, "d")],
        schema,
    ).withColumn(PART_COL, bucket_expr("k", 4))
    t.overwrite_buckets(part, [0])
    after = t.manifest.zonemaps
    assert after["0"]["v"] == [5, 5]
    assert after["1"] == before["1"]  # unlisted bucket stats untouched


@pytest.mark.parametrize("zorder", [None, ("a", "v")])
def test_zonemap_empty_bucket_list_and_empty_rewrites(
        spark, tmp_warehouse, zorder):
    """Zone-map refresh on degenerate rewrites: an empty ``buckets``
    list commits without observing anything (observe() refuses zero
    expressions) and leaves rows and stats alone; a rewrite that empties
    its listed buckets — statically or only at run time — drops exactly
    their stats. Holds with a zorder sort on the write too."""
    from pyspark.sql import types as T

    from webhookdb_spark.storage import PART_COL, bucket_expr

    t = ManagedTable(spark, tmp_warehouse / "org" / f"zmempty{len(zorder or ())}")
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("a", T.LongType()),
        T.StructField("v", T.LongType()),
    ])
    t.create(schema, key="k", n_buckets=4, zorder=zorder,
             zonemap_cols=("v",))
    t.overwrite_all(spark.createDataFrame(
        [(f"k{i}", i, i * 10) for i in range(40)], schema))
    zm0, n0 = dict(t.manifest.zonemaps), t.read().count()
    assert sorted(zm0) == ["0", "1", "2", "3"]

    txn = t.manifest.txn
    t.overwrite_buckets(t.read().withColumn(PART_COL, bucket_expr("k", 4)), [])
    assert t.manifest.txn == txn + 1
    assert t.manifest.zonemaps == zm0 and t.read().count() == n0

    # statically empty: the plan is an empty local relation
    empty = spark.createDataFrame([], schema).withColumn(PART_COL, F.lit(1))
    t.overwrite_buckets(empty, [1])
    # empty only at run time: a filter no row passes
    gone = t.read(buckets=[2]).where(F.col("v") < -1).withColumn(
        PART_COL, bucket_expr("k", 4))
    t.overwrite_buckets(gone, [2])
    zm = t.manifest.zonemaps
    assert sorted(zm) == ["0", "3"]
    assert zm["0"] == zm0["0"] and zm["3"] == zm0["3"]
    assert t.read(buckets=[1, 2]).count() == 0
    assert t.read().count() == t.read(buckets=[0, 3]).count() > 0


def test_bind_rejects_existing_column_without_assert(spark):
    """bind() refuses to shadow an existing column with a ValueError —
    an explicit check that ``python -O`` cannot strip."""
    from webhookdb_spark.operators.util import bind

    df = spark.range(2).withColumnRenamed("id", "x")
    with pytest.raises(ValueError, match="already exists"):
        bind(df, "x", F.col("x") + 1)
    assert bind(df, "y", F.col("x") + 1).columns == ["x", "y"]


def test_add_columns_aborts_if_commit_lands_before_rewrite(
        spark, tmp_warehouse, monkeypatch):
    """r13 ADVICE: add_columns once read the table through one manifest
    load and CAS'd against a second — a commit landing between the two
    passed the txn check yet got silently rewritten away. Now one
    snapshot drives read + schema + CAS, and the final rewrite is
    pinned to the schema-save txn via expected_txn: a commit sneaking
    in between the schema save and the rewrite must raise
    ConcurrentWriteError instead of discarding the concurrent rows."""
    import pytest
    from pyspark.sql import types as T

    from webhookdb_spark.storage import ConcurrentWriteError

    t = ManagedTable(spark, tmp_warehouse / "org" / "evolve_toctou")
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("data", T.StringType()),
    ])
    t.create(schema, key="k", n_buckets=2)
    t.overwrite_all(spark.createDataFrame([("a", "{}")], schema))

    other = ManagedTable(spark, tmp_warehouse / "org" / "evolve_toctou")
    orig = ManagedTable.overwrite_all

    def hooked(self, df, expected_txn=None):
        # Concurrent writer commits AFTER add_columns' schema save but
        # BEFORE its rewrite (the narrowest remaining window). It plans
        # from the post-save manifest, so it writes the evolved schema.
        monkeypatch.setattr(ManagedTable, "overwrite_all", orig)
        evolved = T.StructType([
            T.StructField("k", T.StringType()),
            T.StructField("extra", T.LongType()),
            T.StructField("data", T.StringType()),
        ])
        other.overwrite_all(spark.createDataFrame(
            [("a", 5, "{}"), ("b", 6, "{}")], evolved))
        return orig(self, df, expected_txn=expected_txn)

    monkeypatch.setattr(ManagedTable, "overwrite_all", hooked)
    with pytest.raises(ConcurrentWriteError):
        t.add_columns([T.StructField("extra", T.LongType())],
                      backfill={"extra": F.lit(7)})
    # The concurrent writer's row survives; schema evolved additively
    # (old files surface NULL for the new column), nothing was lost.
    rows = {r["k"] for r in t.read().collect()}
    assert rows == {"a", "b"}
    # The advised retry must COMPLETE the interrupted evolution (r14
    # code review): the column is already in the schema, so a bare
    # early return would skip the backfill forever. The retry
    # re-applies it NULL-preserving — the concurrent writer's own
    # value (6) survives the coalesce.
    t2 = ManagedTable(spark, tmp_warehouse / "org" / "evolve_toctou")
    t2.add_columns([T.StructField("extra", T.LongType())],
                   backfill={"extra": F.lit(7)})
    got = {r["k"]: r["extra"] for r in t2.read().collect()}
    assert got == {"a": 5, "b": 6}


def test_add_columns_bumps_txn_under_cas(spark, tmp_warehouse):
    """r13 code review: schema evolution's manifest save goes through
    the lock + CAS like every other write and bumps txn — an unguarded
    same-txn save could clobber a concurrent MERGE's committed
    manifest with the pre-merge buckets map."""
    from pyspark.sql import types as T

    t = ManagedTable(spark, tmp_warehouse / "org" / "evolve_cas")
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("data", T.StringType()),
    ])
    t.create(schema, key="k", n_buckets=2)
    t.overwrite_all(spark.createDataFrame([("a", "{}")], schema))
    txn0 = t.manifest.txn
    t.add_columns([T.StructField("extra", T.LongType())],
                  backfill={"extra": F.lit(7)})
    # schema save bumped txn once, the rewrite committed once more
    assert t.manifest.txn == txn0 + 2
    got = t.read().collect()
    assert got[0]["extra"] == 7


def test_add_columns_redo_skips_rewrite_when_backfill_complete(
    spark, tmp_warehouse
):
    """r14 ADVICE: a routine idempotent ensure-columns call that passes
    a backfill expression for an already-present column paid a full
    table rewrite on EVERY invocation. The redo path now probes for
    remaining NULLs (LIMIT 1) and early-returns when the first
    attempt's backfill already completed — no manifest commit, no
    rewrite. A column that genuinely still has NULLs keeps rewriting."""
    from pyspark.sql import types as T

    t = ManagedTable(spark, tmp_warehouse / "org" / "evolve_redo")
    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("data", T.StringType()),
    ])
    t.create(schema, key="k", n_buckets=2)
    t.overwrite_all(spark.createDataFrame([("a", "{}"), ("b", "{}")], schema))
    t.add_columns([T.StructField("extra", T.LongType())],
                  backfill={"extra": F.lit(7)})
    txn_after_first = t.manifest.txn
    # idempotent re-run (startup ensure-columns): nothing left to fill
    t.add_columns([T.StructField("extra", T.LongType())],
                  backfill={"extra": F.lit(7)})
    assert t.manifest.txn == txn_after_first  # no commit, no rewrite
    assert sorted(r["extra"] for r in t.read().collect()) == [7, 7]

    # a redo with NULLs remaining still completes the backfill
    t2 = ManagedTable(spark, tmp_warehouse / "org" / "evolve_redo2")
    t2.create(schema, key="k", n_buckets=2)
    t2.overwrite_all(spark.createDataFrame([("a", "{}")], schema))
    t2.add_columns([T.StructField("extra", T.LongType())], backfill=None)
    assert t2.read().collect()[0]["extra"] is None
    t2.add_columns([T.StructField("extra", T.LongType())],
                   backfill={"extra": F.lit(9)})
    assert t2.read().collect()[0]["extra"] == 9


@pytest.mark.parametrize("keep_versions", [0, 1])
@pytest.mark.parametrize("op", [
    "merge_upsert", "delete_where", "delete_stale_rows",
    "cancellation_sweep", "icalendar_sweep",
])
def test_write_cas_pins_the_snapshot_that_planned_it(
        spark, tmp_warehouse, monkeypatch, op, keep_versions):
    """Every writer plans from one manifest load and must CAS against
    it: a commit landing before its overwrite must raise
    ConcurrentWriteError and leave the competing row intact. CAS
    against a later load let such a commit pass; the stale write then
    overwrote it (keep_versions>=1) or died reading the GC'd files
    (keep_versions=0)."""
    import dataclasses

    from webhookdb_spark.operators.retention import (
        cancellation_sweep,
        delete_stale_rows,
    )
    from webhookdb_spark.replicators.icalendar_calendar_v1 import (
        _sweep,
        sync_feed,
    )
    from webhookdb_spark.replicators.icalendar_event_v1 import (
        ICALENDAR_EVENT_V1,
    )
    from webhookdb_spark.spec import Col
    from webhookdb_spark.storage import ConcurrentWriteError, Warehouse
    from webhookdb_spark.types import ColumnType

    if op == "icalendar_sweep":
        wh = Warehouse(spark, tmp_warehouse)
        t = wh.table("org", ICALENDAR_EVENT_V1.table)
        t.create(ICALENDAR_EVENT_V1.schema(), key="compound_identity",
                 n_buckets=1, keep_versions=keep_versions,
                 part_key="calendar_external_id")
        ics = ("BEGIN:VCALENDAR\nBEGIN:VEVENT\nUID:ev\n"
               "DTSTART:20240101T100000Z\nEND:VEVENT\nEND:VCALENDAR\n")

        def add(cal):
            sync_feed(spark, wh, "org", cal, ics)
        key = "calendar_external_id"
    else:
        # cancellation_sweep needs a status column
        spec = FAKE_V1 if op != "cancellation_sweep" else dataclasses.replace(
            FAKE_V1, denorm_cols=(*FAKE_V1.denorm_cols,
                                  Col("status", ColumnType.TEXT, optional=True)))
        t = ManagedTable(spark, tmp_warehouse / "org" / "cas_snapshot")
        t.create(spec.schema(), key="my_id", n_buckets=1,
                 keep_versions=keep_versions)

        def add(k):
            upsert_envelopes(t, env_df(spark, [
                {"my_id": k, "at": "2024-01-01T00:00:00Z"}]), spec)
        key = "my_id"
    add("a")

    orig = ManagedTable.overwrite_buckets

    def rival_commits_first(self, df, buckets, *a, **kw):
        monkeypatch.setattr(ManagedTable, "overwrite_buckets", orig)
        add("rival")
        return orig(self, df, buckets, *a, **kw)

    monkeypatch.setattr(ManagedTable, "overwrite_buckets", rival_commits_first)
    with pytest.raises(ConcurrentWriteError):
        if op == "merge_upsert":
            add("mine")
        elif op == "delete_where":
            t.delete_where(F.col("my_id") == "a")
        elif op == "delete_stale_rows":
            delete_stale_rows(t, "at", stale_cutoff="2024-01-02 00:00:00",
                              lookback_cutoff="2023-12-31 00:00:00")
        elif op == "cancellation_sweep":
            cancellation_sweep(t, spark.createDataFrame([], "my_id string"),
                               "my_id")
        else:
            _sweep(spark, t,
                   synced_cals=spark.createDataFrame([("a",)], "cal string"),
                   upserted=spark.createDataFrame([], "k string"),
                   max_seqs=spark.createDataFrame(
                       [], "cal string, ruid string, max_seq int"))
    assert sorted(r[key] for r in t.read().collect()) == ["a", "rival"]
