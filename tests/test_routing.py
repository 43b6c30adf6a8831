"""Bucket routing has one owner: the manifest.

A table's routing column is fixed at ``create`` and recorded in its
manifest; every write that routes rows (MERGE, ``overwrite_all``,
``add_columns``, ``_rewrite_buckets`` and its users) and every key read
goes through ``Manifest.bucket_col`` / ``Manifest.buckets_for``. A rewriter
that bucketed by the key instead re-bucketed a table routed by another
column, so the next MERGE missed the moved rows and stored their keys
twice (partitionable_mixin.rb:49-54 keeps one partition-key expression
for every read and write).
"""

from __future__ import annotations

import dataclasses
import json
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webhookdb_spark.functions.converters import str2inthash_py
from webhookdb_spark.operators.evolution import evolve_table
from webhookdb_spark.operators.retention import (
    cancellation_sweep,
    delete_stale_rows,
)
from webhookdb_spark.operators.upsert import upsert_envelopes
from webhookdb_spark.replicators.fake import FAKE_V1
from webhookdb_spark.spec import Col
from webhookdb_spark.storage import ManagedTable, Manifest
from webhookdb_spark.types import ColumnType

# FAKE_V1 routed by a group column instead of its key, with a string
# day column (zone maps track numeric/string columns) and a status.
GROUPED = dataclasses.replace(
    FAKE_V1,
    name="fake_grouped_v1",
    table="fake_grouped_v1",
    denorm_cols=(
        *FAKE_V1.denorm_cols,
        Col("grp", ColumnType.TEXT),
        Col("day", ColumnType.TEXT),
        Col("status", ColumnType.TEXT, optional=True),
    ),
    partition_key_source="grp",
)
GROUPED_V2 = dataclasses.replace(
    GROUPED,
    denorm_cols=(*GROUPED.denorm_cols,
                 Col("extra", ColumnType.TEXT, optional=True)),
)
KEYS = [f"k{i}" for i in range(6)]


def _env(spark, at: str):
    bodies = [
        {"my_id": k, "grp": f"g{i % 3}", "day": f"2024-01-0{i + 1} 00:00:00",
         "status": "OPEN", "at": at}
        for i, k in enumerate(KEYS)
    ]
    return spark.createDataFrame(
        [("svi_fake", json.dumps(b)) for b in bodies],
        "opaque_id string, body string",
    ).withColumn("received_at", F.lit(at).cast("timestamp"))


def _bucket(v: str) -> int:
    return str2inthash_py(v) % GROUPED.n_buckets


def _run(op: str, t: ManagedTable, spark):
    if op == "evolve_table":
        assert evolve_table(t, GROUPED_V2) == ["extra"]
    elif op == "delete_stale_rows":
        # a window before every row: deletes nothing, scans every bucket
        assert delete_stale_rows(
            t, "day", stale_cutoff="2023-01-02 00:00:00",
            lookback_cutoff="2023-01-01 00:00:00") == 0
    elif op == "delete_stale_rows_zonemap":
        lo, hi = "2024-01-01 00:00:00", "2024-01-02 00:00:00"
        cands = t.zonemap_candidates("day", lo, hi, hi_inclusive=False)
        assert cands == [_bucket("g0")]  # pruned to one of three
        assert delete_stale_rows(
            t, "day", stale_cutoff=hi, lookback_cutoff=lo,
            condition=F.col("status") == "GONE") == 0
    elif op == "cancellation_sweep":
        upserted = spark.createDataFrame([(k,) for k in KEYS], "my_id string")
        assert cancellation_sweep(t, upserted, "my_id") == 0
    elif op == "delete_where":
        assert t.delete_where(F.col("my_id") == "absent") == 0
    else:
        t.overwrite_all(t.read())


@pytest.mark.parametrize("op", [
    "evolve_table", "delete_stale_rows", "delete_stale_rows_zonemap",
    "cancellation_sweep", "delete_where", "overwrite_all",
])
def test_rewrites_keep_a_partition_routed_table_routed(
        spark, tmp_warehouse, op):
    """After any non-MERGE rewrite of a table routed by ``grp``,
    re-merging every key updates each row in place (no insert, no
    duplicate key) and the key reads find every row."""
    assert {_bucket(k) for k in KEYS} != {_bucket(f"g{i % 3}") for i in range(6)}
    t = ManagedTable(spark, tmp_warehouse / "org" / "grouped")
    if op == "delete_stale_rows_zonemap":
        t.create(GROUPED.schema(), key="my_id", n_buckets=GROUPED.n_buckets,
                 zonemap_cols=("day",), part_key="grp")
    res = upsert_envelopes(t, _env(spark, "2024-01-01T00:00:00Z"), GROUPED)
    assert res.inserted == len(KEYS)

    _run(op, t, spark)

    spec = GROUPED_V2 if op == "evolve_table" else GROUPED
    res = upsert_envelopes(t, _env(spark, "2024-02-01T00:00:00Z"), spec)
    assert (res.inserted, res.updated) == (0, len(KEYS))
    # the key is not the routing column: key reads scan every bucket
    assert t.manifest.buckets_for("my_id", KEYS) is None
    # one job: every key once in the table, in read_for_keys and in its
    # own read_for_key
    reads = [t.read(), t.read_for_keys(KEYS), *map(t.read_for_key, KEYS)]
    got = reduce(DataFrame.unionByName, [df.select("my_id") for df in reads])
    assert sorted(r.my_id for r in got.collect()) == sorted(KEYS * 3)


def test_merge_rejects_a_spec_routed_by_another_column(spark, tmp_warehouse):
    """A spec whose routing disagrees with the table's recorded column
    would write rows into buckets no reader routes to."""
    keyed = ManagedTable(spark, tmp_warehouse / "org" / "keyed")
    upsert_envelopes(keyed, _env(spark, "2024-01-01T00:00:00Z"), FAKE_V1)
    with pytest.raises(ValueError, match="routes by 'grp'"):
        upsert_envelopes(keyed, _env(spark, "2024-02-01T00:00:00Z"), GROUPED)
    grouped = ManagedTable(spark, tmp_warehouse / "org" / "grouped")
    grouped.create(GROUPED.schema(), key="my_id", n_buckets=8, part_key="grp")
    with pytest.raises(ValueError, match="routes by 'my_id'"):
        upsert_envelopes(grouped, _env(spark, "2024-01-01T00:00:00Z"), FAKE_V1)
    assert keyed.read().count() == len(KEYS) and grouped.read().count() == 0


def test_manifest_without_routing_field_routes_by_key(spark, tmp_warehouse):
    """A ``_manifest.json`` written before the routing field existed
    loads, routes by its key, and prunes key reads to one bucket."""
    t = ManagedTable(spark, tmp_warehouse / "org" / "legacy")
    upsert_envelopes(t, _env(spark, "2024-01-01T00:00:00Z"), FAKE_V1)
    path = t.path / "_manifest.json"
    raw = json.loads(path.read_text())
    assert raw.pop("part_key") is None
    path.write_text(json.dumps(raw))

    m = Manifest.load(t.path)
    assert m.part_key is None and m.route_col == "my_id"
    assert m.buckets_for("my_id", ["k1"]) == [_bucket("k1")]
    assert m.buckets_for("grp", ["g0"]) is None
    assert [r.my_id for r in t.read_for_key("k1").collect()] == ["k1"]
    res = upsert_envelopes(t, _env(spark, "2024-02-01T00:00:00Z"), FAKE_V1)
    assert (res.inserted, res.updated) == (0, len(KEYS))
    assert sorted(r.my_id for r in t.read().collect()) == KEYS
