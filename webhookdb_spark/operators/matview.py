"""Incremental materialized-aggregate maintenance over the change feed.

The reference's "materialized view" analog (plans/query_surface.py)
recomputes saved queries on refresh; a warehouse serving dashboards
over a 100 TB managed table wants the opposite: a grouped aggregate
kept current BY the ingest feed, with per-batch work proportional to
the batch — classic incremental view maintenance (IVM), the
self-maintainable subset (SUM/COUNT-family over a keyed table whose
MERGE feed delivers post-images).

The trick that makes post-image-only CDC sufficient: the maintainer
keeps a per-key CONTRIBUTION state (the key's current projection into
the aggregate). A new post-image for a key retracts the stored
contribution and applies the new one — no pre-images needed from the
feed, and a key moving between groups emits (-old_group, +new_group)
deltas. Deletes are out of scope (the MERGE feed carries
insert/update only); a delete sweep rebuilds or emits explicit
retractions upstream.

Per-run work: one read of the new txn dirs (compacted last-per-key —
replace semantics make intermediate post-images irrelevant to the
final aggregate), one key-equi join against contribution state
restricted to the batch's keys, one group-keyed fold of the deltas
into the (tiny) aggregate table. History size never enters.

Persistence is storage.VersionedState, shared with
operators/history.py's Scd2Maintainer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webhookdb_spark.storage import VersionedState


class IncrementalAggMaintainer(VersionedState):
    """Maintain ``(group, n_keys, total)`` — COUNT of keys and an
    exact BIGINT SUM of ``value_col`` per ``group_col`` of a managed
    table's CURRENT rows — from the table's MERGE change feed.

    ``project``: optional ``DataFrame -> DataFrame`` shaping each txn's
    post-images into (key, group, value) columns (derive/clean exactly
    like Scd2Maintainer's hook). ``value_col`` must be integer-typed:
    exact arithmetic is what lets the maintained aggregate value-hash
    against a from-scratch oracle (double sums are order-sensitive).

    Layout under ``path``: ``v_<txn>/state`` (per-key contributions)
    + ``v_<txn>/agg`` (the aggregate) + ``meta.json``.
    """

    def __init__(
        self,
        spark,
        path: str,
        key_col: str,
        group_col: str,
        value_col: str,
        project=None,
    ) -> None:
        super().__init__(spark, path)
        self.key_col = key_col
        self.group_col = group_col
        self.value_col = value_col
        self.project = project

    def state(self) -> DataFrame | None:
        """Per-key contributions (key, group, value), or None before
        the first run."""
        return self._read("state")

    def aggregate(self) -> DataFrame | None:
        """(group, n_keys, total), or None before the first run."""
        return self._read("agg")

    def run(self, table) -> int:
        """Fold new feed transactions; returns how many were applied."""
        from webhookdb_spark.operators.upsert import feed_window

        m = self._meta()
        window = feed_window(table, int(m["watermark"]))
        if window is None:
            return 0
        # Replace semantics: only each key's LAST post-image in the
        # window contributes; intermediate states cancel exactly.
        new_wm, compacted, n_txns = window
        # A window of empty change sets (all-stale MERGEs) changes no
        # contribution: past the first run, move the watermark only
        # (a driver-side listing, as in DatabaseSyncTarget).
        if m["current"] and not compacted.inputFiles():
            self._advance(new_wm, m["current"])
            return n_txns
        if self.project is not None:
            compacted = self.project(compacted)
        # The per-cycle expression trees below are pure functions of the
        # maintainer's column names — memoized so the N-cycle composite
        # queries build them once per process (guide §5 driver work).
        from webhookdb_spark.operators.util import memo_col

        mk = ("ivm", self.key_col, self.group_col, self.value_col)
        fresh = compacted.select(
            memo_col(mk + ("key",), lambda: F.col(self.key_col).alias("key")),
            memo_col(mk + ("group",), lambda: F.col(self.group_col).alias("group")),
            memo_col(
                mk + ("value",),
                lambda: F.col(self.value_col).cast("long").alias("value"),
            ),
        )
        # Materialize the compacted window ONCE: fresh feeds the
        # retract semi-join, the apply deltas, AND the new-state union
        # — un-pinned, each consumer re-reads the feed dirs and re-runs
        # the per-key compaction window (4 passes per run). Batch-sized
        # by construction (one row per touched key), the same posture
        # as the upsert path's shaped-batch checkpoint.
        fresh = fresh.localCheckpoint(eager=True)

        state = self._read(
            "state",
            schema=fresh.schema,  # state IS last run's new_state shape
        )
        if state is None:
            state = self.spark.createDataFrame(
                [], "key long, group string, value long"
            ).select(
                F.col("key").cast(dict(fresh.dtypes)["key"]).alias("key"),
                "group",
                "value",
            )
        # retract the touched keys' stored contributions, apply fresh
        touched_old = state.join(
            fresh.select("key").distinct(), "key", "semi"
        )
        deltas = touched_old.select(
            "group",
            memo_col(("ivm_dk", -1), lambda: F.lit(-1).cast("long").alias("dk")),
            memo_col(
                ("ivm_dv", -1),
                lambda: (-F.col("value")).cast("long").alias("dv"),
            ),
        ).unionByName(
            fresh.select(
                "group",
                memo_col(("ivm_dk", 1), lambda: F.lit(1).cast("long").alias("dk")),
                memo_col(
                    ("ivm_dv", 1),
                    lambda: F.col("value").cast("long").alias("dv"),
                ),
            )
        )
        from pyspark.sql import types as _T

        agg = self._read(
            "agg",
            schema=_T.StructType(
                [
                    fresh.schema["group"],
                    _T.StructField("n_keys", _T.LongType()),
                    _T.StructField("total", _T.LongType()),
                ]
            ),
        )
        base = (
            agg.select(
                "group",
                memo_col(
                    ("ivm_base_dk",),
                    lambda: F.col("n_keys").cast("long").alias("dk"),
                ),
                memo_col(
                    ("ivm_base_dv",),
                    lambda: F.col("total").cast("long").alias("dv"),
                ),
            )
            if agg is not None
            else deltas.limit(0)
        )
        new_agg = (
            base.unionByName(deltas)
            .groupBy("group")
            .agg(
                memo_col(
                    ("ivm_agg_nk",),
                    lambda: F.sum("dk").cast("long").alias("n_keys"),
                ),
                memo_col(
                    ("ivm_agg_tot",),
                    lambda: F.sum("dv").cast("long").alias("total"),
                ),
            )
            .where(memo_col(("ivm_agg_pos",), lambda: F.col("n_keys") > 0))
        )
        new_state = state.join(
            fresh.select("key").distinct(), "key", "anti"
        ).unionByName(fresh)

        new_dir = self.path / f"v_{new_wm}"
        new_state.write.mode("overwrite").parquet(str(new_dir / "state"))
        new_agg.write.mode("overwrite").parquet(str(new_dir / "agg"))
        from webhookdb_spark.operators.upsert import (
            _release_local_checkpoint,
        )

        _release_local_checkpoint(fresh)
        self._commit(new_wm, m["current"])
        return n_txns
