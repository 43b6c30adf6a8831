"""Retention operators: stale-row deletes, cancellation sweeps, audit trims.

Reference:

- Stale-row deleter (lib/webhookdb/replicator/base_stale_row_deleter.rb:6-174):
  delete rows with ``updated_at ∈ [now-stale_at-lookback, now-stale_at)``
  AND a condition (e.g. status='CANCELLED'); chunked 10k/hour-windows to
  bound Postgres locks.
- Cancellation sweep (icalendar_calendar_v1.rb:245-261): after a feed
  sync, rows NOT in the upserted identity set and not yet CANCELLED get
  status='CANCELLED'.
- Logged-webhook trims (logged_webhook.rb:40-90).

Spark shape: snapshot isolation makes the chunking dance unnecessary —
each is ONE declarative predicate applied via a bucket-scoped rewrite,
``ManagedTable._rewrite_buckets`` (delete = ``delete_where``'s
anti-filter; the sweep = a row transform; both read and CAS against one
manifest snapshot and count through an Observation on the write
itself). At 100 TB on Delta these are ``DELETE FROM … WHERE`` /
``MERGE`` statements and the predicates partition-prune by date/bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Column

from webhookdb_spark.storage import ManagedTable


def delete_stale_rows(
    table: ManagedTable,
    ts_col: str,
    stale_cutoff: str,
    lookback_cutoff: str,
    condition: Column | None = None,
) -> int:
    """base_stale_row_deleter semantics: delete rows whose ``ts_col`` is
    in [lookback_cutoff, stale_cutoff) and that match ``condition``.
    Returns number of rows deleted.

    Zone-map bucket pruning: when ``ts_col`` is a tracked zonemap
    column, buckets whose [min, max] cannot intersect the half-open
    delete window are neither READ nor REWRITTEN — the delete touches
    only candidate bucket dirs, the manifest entries of skipped
    buckets stay byte-identical (the Delta-DELETE partition-pruning
    analog; on a 100 TB table a retention sweep over the last day must
    not rewrite years of cold buckets). Conservative: overlapping or
    stat-less buckets are always candidates, so results equal the
    full-scan path exactly. Pruning validity requires the cutoff
    strings to be in the SAME lexical format as the stored column
    (e.g. both ``yyyy-MM-dd HH:mm:ss``) — the row filter casts to
    timestamp and is format-robust, but zone stats compare as the
    column's native type. Survivor semantics are SQL DELETE's: only
    rows where the predicate is TRUE are removed — NULL ``ts_col``
    rows survive (coalesce, both paths)."""
    doomed = (
        (F.col(ts_col) >= F.lit(lookback_cutoff).cast("timestamp"))
        & (F.col(ts_col) < F.lit(stale_cutoff).cast("timestamp"))
    )
    if condition is not None:
        doomed = doomed & condition
    return table.delete_where(
        F.coalesce(doomed, F.lit(False)),
        buckets=lambda m: m.zonemap_candidates(
            ts_col, lookback_cutoff, stale_cutoff, hi_inclusive=False),
    )


def cancellation_sweep(
    table: ManagedTable,
    upserted_keys: DataFrame,
    key_col: str,
    status_col: str = "status",
    cancelled_value: str = "CANCELLED",
    scope: Column | None = None,
) -> int:
    """Rows in scope, not in ``upserted_keys``, not yet cancelled →
    status := CANCELLED (icalendar_calendar_v1.rb:245-261).
    Returns number of rows flipped."""
    keys = upserted_keys.select(F.col(key_col).alias("__k")).distinct()
    flip = (
        F.col("__k").isNull()
        & (F.lit(True) if scope is None else scope)
        & F.coalesce(F.col(status_col) != cancelled_value, F.lit(True))
    )

    def transform(df: DataFrame) -> DataFrame:
        return df.join(
            F.broadcast(keys), df[key_col] == F.col("__k"), "left_outer"
        ).withColumn("__flip", flip).withColumn(
            status_col,
            F.when(F.col("__flip"), F.lit(cancelled_value))
            .otherwise(F.col(status_col)),
        )

    return table._rewrite_buckets(
        transform=transform,
        counts={"flipped": F.sum(F.col("__flip").cast("int"))},
    )["flipped"]


def trim_audit_log(
    spark_df: DataFrame, received_col: str, max_age_days: int
) -> DataFrame:
    """Simple age-based audit trim for the envelope archive (callers
    overwrite the audit directory with the result). The full
    logged-webhook policy with per-class truncation is
    :func:`trim_logged_webhooks`."""
    cutoff = F.date_sub(F.current_date(), max_age_days)
    return spark_df.where(F.col(received_col).cast("date") >= cutoff)


# logged_webhook.rb:39-43
DELETE_UNOWNED_DAYS = 14
DELETE_SUCCESSES_DAYS = 90
TRUNCATE_SUCCESSES_DAYS = 7
DELETE_FAILURES_DAYS = 90
TRUNCATE_FAILURES_DAYS = 30


def trim_logged_webhooks(df: DataFrame, now) -> DataFrame:
    """The reference's full logged-webhook trim policy
    (logged_webhook.rb:87-113), as one declarative transform over a
    DataFrame with (organization_id, response_status, inserted_at,
    truncated_at, request_body, request_headers):

    - unowned rows (NULL organization_id) older than 14 days → deleted
    - owned successes (status < 400): already-truncated rows older
      than 90 days → deleted; rows older than 7 days → truncated
    - owned failures (status >= 400): already-truncated rows older
      than 90 days → deleted; rows older than 30 days → truncated

    Deleting only already-truncated rows is deliberate in the
    reference (keeps its partial indexes small); here it means an
    untruncated 100-day row is truncated this run and deleted the
    next — same convergence. Truncation blanks request_body, sets
    request_headers to '{}', and stamps truncated_at = now; rows
    already truncated keep their original truncated_at (the SQL
    UPDATE filters truncated_at IS NULL).

    Pure Column predicates over the age partitions — at scale this is
    a partition-pruned scan-and-rewrite, never a row-at-a-time job.
    """
    owned = F.col("organization_id").isNotNull()
    success = F.col("response_status") < 400
    age = lambda days: F.col("inserted_at") < (  # noqa: E731
        F.lit(now) - F.expr(f"INTERVAL {int(days)} DAYS")
    )
    was_truncated = F.col("truncated_at").isNotNull()
    delete = (
        (~owned & age(DELETE_UNOWNED_DAYS))
        | (owned & success & was_truncated & age(DELETE_SUCCESSES_DAYS))
        | (owned & ~success & was_truncated & age(DELETE_FAILURES_DAYS))
    )
    truncate_now = (
        owned
        & ~was_truncated
        & (
            (success & age(TRUNCATE_SUCCESSES_DAYS))
            | (~success & age(TRUNCATE_FAILURES_DAYS))
        )
    )
    kept = df.where(~delete)
    return (
        kept.withColumn(
            "request_body",
            F.when(truncate_now, F.lit("")).otherwise(F.col("request_body")),
        )
        .withColumn(
            "request_headers",
            F.when(truncate_now, F.lit("{}")).otherwise(
                F.col("request_headers")
            ),
        )
        .withColumn(
            "truncated_at",
            F.when(truncate_now, F.lit(now)).otherwise(F.col("truncated_at")),
        )
    )
