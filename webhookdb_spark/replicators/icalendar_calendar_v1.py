"""iCalendar calendar replicator + distributed feed sync
(reference: lib/webhookdb/replicator/icalendar_calendar_v1.rb).

Calendar rows arrive as ``{"type": "SYNC"|"__DELETE__", "external_id",
"ics_url"}`` webhooks (:114-133). Feed sync then:

1. fetches the ICS body (conditional: skip when md5/etag unchanged —
   feed_changed?, :703-739; the fetcher is injected so tests stay
   offline),
2. parses + projects events (sources/ics.py, operators/recurrence.py),
3. bulk-upserts projected rows (page 2000, :165),
4. cancels rows not present in this sync (non-recurring) and deletes
   recurring rows beyond each UID's max sequence (:245-261, :445-450).

Spark-first scaling: ``sync_feeds_distributed`` takes a DataFrame of
(calendar_external_id, ics_text) and runs parse+projection inside
``mapInPandas`` — per-feed state never leaves its partition, so 10k
feeds fan out across executors instead of the reference's
5 s/feed × 10k ≈ 14 h single-thread estimate (lib/webhookdb/icalendar.rb:20-23).
The downstream upsert + sweeps are set-based DataFrame ops.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from webhookdb_spark.functions.converters import converter_gsub
from webhookdb_spark.operators.recurrence import FeedProjector
from webhookdb_spark.operators.upsert import MergeResult, upsert_envelopes
from webhookdb_spark.replicators.icalendar_event_v1 import (
    ICALENDAR_EVENT_V1,
    projected_resource_to_row,
)
from webhookdb_spark.sources.envelopes import ENVELOPE_SCHEMA
from webhookdb_spark.sources.ics import each_feed_event, feed_hash
from webhookdb_spark.spec import Col, ReplicatorSpec, register
from webhookdb_spark.storage import Warehouse
from webhookdb_spark.types import ColumnType

ICALENDAR_CALENDAR_V1 = register(
    ReplicatorSpec(
        name="icalendar_calendar_v1",
        supports_backfill=False,  # feed-synced, not manually backfillable
        documentation_url="https://docs.webhookdb.com/guides/icalendar/",
        table="icalendar_calendar_v1",
        remote_key=Col("external_id", ColumnType.TEXT),
        denorm_cols=(
            # webcal:// feeds are https (converter_gsub use,
            # icalendar_calendar_v1.rb:80)
            Col("ics_url", ColumnType.TEXT,
                converter=converter_gsub("^webcal", "https")),
            Col("row_created_at", ColumnType.TIMESTAMP, defaulter="now"),
            Col("row_updated_at", ColumnType.TIMESTAMP, defaulter="now"),
            Col("last_synced_at", ColumnType.TIMESTAMP, optional=True),
            Col("last_fetch_context", ColumnType.OBJECT, optional=True),
        ),
        timestamp_col="row_updated_at",
        # first-written creation timestamp survives updates
        # (icalendar_calendar_v1.rb:100-105)
        coalesce_on_update=("row_created_at",),
    )
)


def project_feed(
    calendar_external_id: str, ics_text: str, now: datetime
) -> tuple[list[dict], dict[str, int]]:
    """Parse + project one feed → (row dicts, uid→max_sequence)."""
    projector = FeedProjector(now)
    rows: list[dict] = []
    for vevent in each_feed_event(ics_text):
        for projected in projector.project(vevent):
            rows.append(
                projected_resource_to_row(projected, calendar_external_id, now)
            )
    return rows, projector.delete_conditions()


#: icalendar.rb:23 — hours between periodic feed syncs.
SYNC_PERIOD_HOURS = 6


def rows_needing_sync(
    calendars: "DataFrame",
    now: datetime,
    sync_period_hours: int = SYNC_PERIOD_HOURS,
) -> "DataFrame":
    """Calendars due for a feed sync (icalendar_calendar_v1.rb:135-138):
    never synced, or last synced before now - sync_period_hours. The
    enqueue job runs this every 30 minutes with a splay
    (jobs/icalendar_enqueue_syncs.rb:14-33) so duplicates are expected;
    the sync itself re-checks the same cutoff and noops when the row
    was synced in the meantime (sync_row's should_sync gate,
    icalendar_calendar_v1.rb:175-188) — that re-check is the
    thundering-herd thinner, not the enqueue filter."""
    from pyspark.sql import functions as F

    cutoff = now - timedelta(hours=sync_period_hours)
    return calendars.where(
        F.col("last_synced_at").isNull()
        | (F.col("last_synced_at") < F.lit(cutoff))
    )


def should_sync(last_synced_at, now: datetime,
                sync_period_hours: int = SYNC_PERIOD_HOURS,
                force: bool = False) -> bool:
    """The sync job's noop gate (icalendar_calendar_v1.rb:175-188,
    minus the proxy branch — no proxy in this engine)."""
    if force or last_synced_at is None:
        return True
    return last_synced_at < now - timedelta(hours=sync_period_hours)


def sync_feed(
    spark: SparkSession,
    warehouse: Warehouse,
    org: str,
    calendar_external_id: str,
    ics_text: str,
    now: datetime | None = None,
) -> MergeResult:
    """Single-feed sync (driver-side projection; use
    :func:`sync_feeds_distributed` for fleets)."""
    now = now or datetime.now(timezone.utc)
    rows, max_seqs = project_feed(calendar_external_id, ics_text, now)
    return _upsert_and_sweep(
        spark, warehouse, org, {calendar_external_id: max_seqs}, rows
    )


def sync_feeds_distributed(
    spark: SparkSession,
    warehouse: Warehouse,
    org: str,
    feeds: DataFrame,
    now: datetime | None = None,
) -> MergeResult:
    """Fleet sync: ``feeds`` = (calendar_external_id string, ics_text
    string). Projection runs in ``mapInPandas`` partitioned by feed; the
    merged row stream lands in one bulk upsert + sweep."""
    now = now or datetime.now(timezone.utc)
    now_iso = now.strftime("%Y-%m-%dT%H:%M:%SZ")

    def expand(batches) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out_rows = []
            for cal_id, text in zip(pdf["calendar_external_id"], pdf["ics_text"]):
                rows, max_seqs = project_feed(cal_id, text, now)
                for i, r in enumerate(rows):
                    out_rows.append(
                        {"calendar_external_id": cal_id, "body": json.dumps(r),
                         "_seq": i}
                    )
                # one marker row per feed carrying its uid→max_seq map;
                # routed ONLY by the _seq == -1 sentinel (event rows are
                # always _seq >= 0), never by body content — a payload
                # may legitimately contain any literal.
                out_rows.append(
                    {
                        "calendar_external_id": cal_id,
                        "body": json.dumps(max_seqs),
                        "_seq": -1,
                    }
                )
            yield pd.DataFrame(
                out_rows, columns=["calendar_external_id", "body", "_seq"]
            )

    projected = feeds.repartition("calendar_external_id").mapInPandas(
        expand, schema="calendar_external_id string, body string, _seq long"
    )
    projected = projected.persist()
    try:
        # Per-feed recurrence state stays distributed: markers explode to
        # a (cal, ruid, max_seq) DataFrame that _sweep joins — nothing
        # round-trips through the driver (at 10k feeds × many recurring
        # UIDs a collect() here is a driver memory bottleneck).
        markers = projected.where(F.col("_seq") == -1)
        synced_cals = markers.select(
            F.col("calendar_external_id").alias("cal")
        ).distinct()
        max_seqs = (
            markers.select(
                F.col("calendar_external_id").alias("cal"),
                F.explode(F.from_json("body", "map<string,int>")).alias(
                    "ruid", "max_seq"
                ),
            )
        )
        event_rows = projected.where(F.col("_seq") >= 0)
        env = event_rows.select(
            F.lit("icalendar_event_v1").alias("integration_opaque_id"),
            F.lit("icalendar_event_v1").alias("service_name"),
            F.lit("POST").alias("request_method"),
            F.lit("/sync").alias("request_path"),
            F.create_map().cast("map<string,string>").alias("headers"),
            F.col("body"),
            F.lit(now_iso).cast("timestamp").alias("received_at"),
            F.col("_seq"),
        )
        table = warehouse.table(org, ICALENDAR_EVENT_V1.table)
        result = upsert_envelopes(table, env, ICALENDAR_EVENT_V1)
        _sweep(
            spark, table,
            synced_cals=synced_cals,
            upserted=env.select(
                F.get_json_object("body", "$.compound_identity").alias("k")
            ),
            max_seqs=max_seqs,
        )
        return result
    finally:
        projected.unpersist()


def _upsert_and_sweep(spark, warehouse, org, max_seqs_by_cal, rows) -> MergeResult:
    now_iso = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
    env_rows = [
        ("icalendar_event_v1", "icalendar_event_v1", "POST", "/sync", {},
         json.dumps(r), None, i)
        for i, r in enumerate(rows)
    ]
    from pyspark.sql import types as T

    schema = T.StructType(
        list(ENVELOPE_SCHEMA.fields) + [T.StructField("_seq", T.LongType())]
    )
    env = spark.createDataFrame(env_rows, schema)
    table = warehouse.table(org, ICALENDAR_EVENT_V1.table)
    result = upsert_envelopes(table, env, ICALENDAR_EVENT_V1)
    upserted = spark.createDataFrame(
        [(r["compound_identity"],) for r in rows] or [("",)], "k string"
    )
    synced_cals = spark.createDataFrame(
        [(c,) for c in max_seqs_by_cal], "cal string"
    )
    seq_rows = [
        (cal, uid, mx)
        for cal, seqs in max_seqs_by_cal.items()
        for uid, mx in seqs.items()
    ]
    max_seqs = spark.createDataFrame(seq_rows, "cal string, ruid string, max_seq int")
    _sweep(spark, table, synced_cals, upserted, max_seqs)
    return result


def _sweep(spark, table, synced_cals, upserted, max_seqs) -> None:
    """Post-sync cleanup, set-based AND bucket-pruned:

    - recurring rows beyond a UID's max sequence → DELETE (:445-450)
    - other rows of the synced calendars not in the upserted set and not
      CANCELLED → status 'CANCELLED' + data patch (:245-261)

    ``synced_cals``: DataFrame ``(cal string)`` — calendars in this sync.
    ``max_seqs``: DataFrame ``(cal string, ruid string, max_seq int)``.
    ``upserted``: DataFrame ``(k string)`` — upserted compound identities.

    Only the hash buckets owning the synced calendars are read and
    rewritten — ``str2inthash(calendar_external_id)`` routing, the same
    trick ``delete_calendar_cascade`` uses and the Spark analog of the
    reference's single-partition delete (partitionable_mixin.rb:49-54).
    A one-calendar sync against a fleet-sized table rewrites exactly one
    bucket. The calendar-id collect is metadata-sized (one string per
    synced feed); everything row-shaped stays distributed. The table is
    read and CAS-committed from one snapshot
    (``ManagedTable._rewrite_buckets``).
    """
    cals = [r[0] for r in synced_cals.distinct().collect()]
    if not cals:
        return
    scope = synced_cals.select(F.col("cal").alias("_scope_cal")).distinct()
    keys = upserted.select(F.col("k")).distinct()

    def transform(df):
        df = df.join(
            F.broadcast(scope),
            df.calendar_external_id == F.col("_scope_cal"),
            "left_outer",
        )
        df = df.join(
            F.broadcast(max_seqs),
            (df.calendar_external_id == max_seqs.cal)
            & (df.recurring_event_id == max_seqs.ruid),
            "left_outer",
        )
        joined = df.join(keys, df.compound_identity == F.col("k"), "left_outer")
        flip = (
            F.col("k").isNull()
            & F.col("_scope_cal").isNotNull()
            & (F.coalesce(F.col("status") != "CANCELLED", F.lit(True)))
        )
        return joined.withColumn(
            "status", F.when(flip, F.lit("CANCELLED")).otherwise(F.col("status"))
        ).withColumn(
            "row_updated_at",
            F.when(flip, F.current_timestamp()).otherwise(F.col("row_updated_at")),
        )

    table._rewrite_buckets(
        buckets=lambda m: m.buckets_for("calendar_external_id", cals),
        transform=transform,
        keep=F.col("max_seq").isNull()
        | (F.col("recurring_event_sequence") <= F.col("max_seq")),
    )


def build_fetch_context(ics_text: str, content_type: str = "text/calendar") -> dict:
    """The conditional-fetch context stored per calendar
    (feed_changed?, icalendar_calendar_v1.rb:703-739)."""
    body = ics_text.encode("utf-8", errors="replace")
    return {
        "hash": feed_hash(ics_text),
        "content_type": content_type,
        "content_length": str(len(body)),
        "parser_version": 1,
    }


def feed_changed(last_fetch_context: dict | None, ics_text: str,
                 content_type: str = "text/calendar") -> bool:
    """Skip-unchanged check: sync when no context, parser bumped, headers
    differ, or body hash differs."""
    if not last_fetch_context:
        return True
    if last_fetch_context.get("parser_version") != 1:
        return True
    ctx = build_fetch_context(ics_text, content_type)
    if (
        ctx["content_type"] == last_fetch_context.get("content_type")
        and last_fetch_context.get("content_length") is not None
        and ctx["content_length"] == last_fetch_context.get("content_length")
        and ctx["hash"] == last_fetch_context.get("hash")
    ):
        return False
    return True


def delete_calendar_cascade(warehouse, org: str, external_id: str) -> dict[str, int]:
    """DELETE webhook handling (icalendar_calendar_v1.rb:119-153
    ``delete_data_for_external_id``): remove the calendar row and every
    dependent event row for that calendar.

    Bucket routing keeps both deletes narrow: the calendar table is
    keyed by external_id and the event table is hash-partitioned by
    calendar_external_id, so each delete rewrites exactly ONE bucket —
    the Spark analog of the reference's ``append_partition_key``
    single-partition delete (icalendar_calendar_v1.rb:145-149).
    """
    deleted: dict[str, int] = {}
    for spec, col in ((ICALENDAR_CALENDAR_V1, "external_id"),
                      (ICALENDAR_EVENT_V1, "calendar_external_id")):
        t = warehouse.table(org, spec.table)
        if t.exists():
            deleted[spec.table] = t.delete_where(
                F.col(col) == external_id,
                buckets=lambda m, col=col: m.buckets_for(col, [external_id]),
            )
    return deleted
