"""Conditional keyed MERGE upsert — the engine's core operator.

Reference semantics (lib/webhookdb/replicator/base.rb:762-785,931-974;
lib/webhookdb/backfiller.rb:58-114):

- ``INSERT … ON CONFLICT (remote_key) DO UPDATE SET … WHERE <update_where>``
- intra-batch duplicate keys: last one wins (backfiller.rb:75-83)
- ``update_where`` false ⇒ row untouched AND no row-change event emitted
- ``skip_nil`` columns update as ``coalesce(excluded.col, t.col)``
- insert-only columns update as ``coalesce(t.col, excluded.col)``
  (base.rb:958-974)

Spark-first shape: a full-outer join of the (deduped) batch against ONLY
the hash buckets the batch touches, a single ``when`` cascade per column,
and a bucket-scoped overwrite. On Delta this whole function is one
``MERGE INTO``; the join rewrite keeps identical semantics on plain
parquet. Changed rows (insert/update) come back as a DataFrame — they
drive dependent-notification and webhook fan-out (base.rb:813-838).

Scale notes: the join shuffles only the affected buckets of the target —
for a B-bucket table and a batch touching k keys, that is O(k/B) of the
table, matching the reference's partition-routing trick. The batch side
is typically broadcastable. Skewed hot keys are handled by AQE skew-join
(enabled in session.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from webhookdb_spark.functions.converters import json_merge_udf
from webhookdb_spark.spec import ReplicatorSpec
from webhookdb_spark.operators.util import memo_col
from webhookdb_spark.storage import (
    CHANGES_PART,
    PART_COL,
    ManagedTable,
    read_json,
)

ACTION_COL = "_action"


class IntegrationSequence:
    """Cross-batch unique-monotonic counter — the PG ``nextval`` analog
    (column.rb:277-280, base.rb:689-699) and a SURVEY §7 hard part.

    PG sequences promise uniqueness and monotonic growth but tolerate
    gaps; that contract is reproducible distributed-ly without any
    global coordination: each batch's values are
    ``watermark + monotonically_increasing_id() + 1`` (unique within
    the batch, partition-parallel), and the watermark then advances
    past the batch's max. Values are dense per-partition but gappy
    across partitions — exactly as gappy as sequence caching makes PG.
    State is one JSON file beside the table.
    """

    def __init__(self, path) -> None:
        from pathlib import Path

        self.file = Path(path) / "_sequence.json"
        # Test seam: tests shorten the blocked-waiter deadline so a
        # fresh foreign lock can be proven un-evictable in <1s.
        self.lock_timeout = 30.0

    def watermark(self) -> int:
        return read_json(self.file, {"watermark": 0})["watermark"]

    def _reserve(self, n: int) -> int:
        """Atomically reserve ``n`` values; returns the watermark the
        range starts from. Serialized by the identity-verified
        ``_ManifestLock`` (token + rename-and-verify steal/release):
        without the lock two concurrent fills read the same watermark
        and issue DUPLICATE 'unique' values, and a plain write_text
        torn by a crash leaves unparseable state. The r13 version's
        blind stale-unlink let two waiters that both passed the
        staleness check evict each other's FRESH lock and both enter
        the critical section (r13 ADVICE); the steal pattern renames
        the suspect lock aside, verifies its content is the measured
        stale token, and the ``holds()`` check below makes a wrongly
        evicted holder abort — except in the instruction-width window
        between its holds() read and its os.replace, the same residual
        every optimistic file lock here accepts (a steal requires the
        holder to have stalled >10s first, and the whole critical
        section is a microsecond JSON RMW; fully closing it needs
        kernel locks, which the shared-filesystem posture rules out —
        flock is unreliable on NFS)."""
        import json
        import os
        import uuid as _uuid

        from webhookdb_spark.storage import (
            ConcurrentWriteError,
            _ManifestLock,
        )

        self.file.parent.mkdir(parents=True, exist_ok=True)
        # The critical section is one JSON read + one JSON write —
        # never a Spark job — so a 10s stale bound is still generous;
        # 30s total wait matches the old deadline.
        lock = _ManifestLock(
            self.file.parent, timeout=self.lock_timeout, stale_after=10.0,
            lock_name=self.file.name + ".lock",
        )
        with lock:
            wm = self.watermark()
            # Writer-unique tmp: a holder stolen mid-section and the
            # thief must not interleave writes through one tmp path.
            # Deliberately not storage.write_atomic: the holds() check
            # must sit between the tmp write and the replace, and the
            # helper would widen that window by a write plus an fsync.
            tmp = self.file.with_suffix(
                f".tmp.{os.getpid()}.{_uuid.uuid4().hex}")
            tmp.write_text(json.dumps({"watermark": wm + n}))
            if not lock.holds():
                # Stolen (we stalled past stale_after): committing now
                # could race the thief's own read→replace window and
                # hand out a duplicate range. Abort; caller retries.
                tmp.unlink(missing_ok=True)
                raise ConcurrentWriteError(
                    f"sequence lock {lock.lock_path} stolen during "
                    "reservation; retry"
                )
            os.replace(tmp, self.file)
            return wm

    def fill(self, df: DataFrame, col: str,
             checkpointed: bool = False) -> DataFrame:
        """Fill NULLs of ``col`` with fresh sequence values and advance
        the watermark. Pass ``checkpointed=True`` when ``df`` is
        already pinned (an eager localCheckpoint or a plan rooted in
        one) — a multi-sequence spec then pins the batch ONCE instead
        of stacking one never-released checkpoint per column (r13 code
        review).

        Dense assignment without global coordination: one cheap
        per-partition count job computes cumulative offsets (the
        ``zipWithIndex`` algorithm, kept JVM-side), then each row gets
        ``watermark + offset[partition] + row_number_in_partition``.
        The input is materialized with an EAGER localCheckpoint first —
        not a mere persist — so partition membership is pinned: a cached
        partition that was evicted and recomputed through lineage could
        land rows in different partitions between the count job and the
        downstream write, shifting or colliding assigned values after
        the watermark already advanced. Checkpointing truncates lineage,
        making the assignment stable before the watermark moves. The
        watermark advances by the batch's row count, so values stay
        compact — a ``monotonically_increasing_id`` offset would inflate
        the counter by 2^33 per partition per batch. The range is
        RESERVED atomically after counting (``_reserve``), so
        concurrent fills on the same table get disjoint ranges."""
        if not checkpointed:
            df = df.localCheckpoint(eager=True)
        with_pid = df.withColumn("_pid", F.spark_partition_id())
        # Count only rows that actually DRAW (col IS NULL): the
        # reference's defaulter calls nextval per nil value
        # (column.rb:132-152), so a batch with no nils must not move
        # the watermark — column_spec.rb:908-938 pins the first draw
        # of the exhaustive body's int_or_seq_has_not at exactly 1,
        # with the regex-satisfied sibling column drawing nothing.
        counts = {
            r["_pid"]: r["n"]
            for r in with_pid.where(F.col(col).isNull())
            .groupBy("_pid").agg(F.count("*").alias("n")).collect()
        }
        if not counts:
            return df
        offsets, acc = {}, 0
        for pid in sorted(counts):
            offsets[pid] = acc
            acc += counts[pid]
        # A stolen lock aborts the reservation without committing
        # anything (r14 ADVICE: _reserve's "caller retries" contract
        # was aspirational — nothing retried). One immediate retry is
        # safe (the aborted attempt wrote nothing) and absorbs the
        # transient steal; a second failure propagates, since repeated
        # steals mean the 10s stale bound is genuinely being tripped.
        from webhookdb_spark.storage import ConcurrentWriteError

        try:
            wm = self._reserve(acc)
        except ConcurrentWriteError:
            wm = self._reserve(acc)
        off = F.element_at(
            F.create_map(*[F.lit(x) for kv in sorted(offsets.items()) for x in kv]),
            F.col("_pid"),
        )
        w = Window.partitionBy("_pid").orderBy(F.monotonically_increasing_id())
        # running count of nulls within the partition = this row's
        # 1-based index among the partition's draws
        draw_idx = F.sum(
            F.when(F.col(col).isNull(), 1).otherwise(0)
        ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        fresh = (F.lit(wm) + off + draw_idx).cast("long")
        return with_pid.withColumn(
            col, F.coalesce(F.col(col), fresh)).drop("_pid")


def _obs_count_exprs() -> list[Column]:
    """The constant insert/update/keep tallies every MERGE observes —
    built once (Observation.observe copies the trees into each plan)."""
    return memo_col(
        ("merge_obs_counts",),
        lambda: [
            F.count(F.when(F.col(ACTION_COL) == a, 1)).alias(a)
            for a in ("insert", "update", "keep")
        ],
    )


def _changes_fanout() -> Column:
    """The new ``PART_COL`` of a change-capturing MERGE write: a kept
    row stays in its bucket; an inserted or updated row is emitted
    twice, into its bucket and into the reserved ``CHANGES_PART``."""
    part = F.col(PART_COL)
    return F.explode(
        F.when(F.col(ACTION_COL) == "keep", F.array(part))
        .otherwise(F.array(part, F.lit(CHANGES_PART)))
    )


@dataclass
class MergeResult:
    inserted: int
    updated: int
    noop: int
    changed: DataFrame  # rows that were inserted or updated (post-image)

    @property
    def total_changed(self) -> int:
        return self.inserted + self.updated


def dedupe_last_wins(batch: DataFrame, key: str, order_col: str = "_received_at") -> DataFrame:
    """Intra-batch dedup, last wins (backfiller.rb:75-83).

    The reference accumulates a page into a hash keyed by remote key, so
    the final occurrence of a key replaces earlier ones. ``order_col``
    plus ``_seq`` (attach upstream when arrival order matters within
    equal timestamps) define "last" here.
    """
    # max_by over an ordering struct instead of a row_number window: the
    # aggregation gets map-side partial combine, so a dup-heavy webhook
    # batch collapses BEFORE the shuffle (a window shuffles every row).
    # Struct comparison puts NULL order keys lowest, matching
    # desc_nulls_last; `_seq` breaks received_at ties by arrival order.
    # The agg expression is a pure tree of (key, order_col, columns) —
    # memoized because the ingest composites dedupe a batch with the
    # same shaped schema every MERGE cycle (guide §5 driver work).
    cols = tuple(batch.columns)

    def build() -> Column:
        order_cols = [F.col(order_col)]
        if "_seq" in cols:
            order_cols.append(F.col("_seq"))
        others = [c for c in cols if c != key]
        return F.max_by(F.struct(*others), F.struct(*order_cols)).alias("_r")

    agg = memo_col(("dedupe_last_wins", key, order_col, cols), build)
    return batch.groupBy(key).agg(agg).select(key, "_r.*")


def merge_upsert(
    table: ManagedTable,
    batch: DataFrame,
    spec: ReplicatorSpec,
    buckets: list[int] | None = None,
    capture_changes: bool = True,
) -> MergeResult:
    """Merge a shaped batch into ``table`` under ``spec``'s semantics.

    Single-pass plan: the merged result is written exactly once, and
    that one write also produces the change set. Action counts ride it
    as an ``Observation``; after the observation an ``explode``
    duplicates every inserted/updated row into the reserved
    ``CHANGES_PART`` partition, which ``overwrite_buckets`` stages with
    the buckets and promotes to ``_changes/txn_<committed txn>`` right
    after the manifest CAS. So the change set costs no extra job and no
    re-read of the touched buckets, and it exists only for a committed
    txn. The duplicates are counted before they are made, so the
    counts stay per row. No ``persist`` — the only lineage
    recomputation is a column-pruned pass to discover affected
    buckets, which Catalyst reduces to parsing the key alone. Batches
    landing in untouched buckets (the initial-backfill case) skip the
    join entirely.

    ``buckets`` is the caller's routing hint: a bulk load that touches the
    whole keyspace should pass ``range(n_buckets)`` to skip the discovery
    pass, and a caller that already knows its keys (e.g. a single-feed
    sync routed by partition key) passes just those — the reference's
    partition-key routing (partitionable_mixin.rb:49-54). Rows hashing
    outside the hint would be lost; the hint must be a superset.

    ``capture_changes=False`` writes no change set: no row is
    duplicated and no ``_changes`` dir is made. ``MergeResult.changed``
    is then a lazy filter over the just-written bucket files, valid
    only until the NEXT transaction rewrites those buckets. Use it for
    bulk loads with no fan-out/dependent consumers (the reference skips
    ``_publish_rowupsert`` exactly when nothing subscribes,
    base.rb:820-827); any pipeline that notifies dependents or webhooks
    must keep the durable default.
    """
    from pyspark.sql import Observation

    m = table.manifest
    route = spec.partition_key_source or spec.remote_key.name
    if route != m.route_col:
        # rows routed by another column would land in buckets no reader
        # or rewrite of this table routes to
        raise ValueError(f"{spec.name} routes by {route!r} but table "
                         f"{table.path} routes by {m.route_col!r}")
    if buckets is not None:
        # The hint skips discovery, but an empty batch must still take the
        # no-txn-churn early return below (discovery would have found no
        # buckets): without it a hinted no-op merge rewrites every hinted
        # bucket as "keep" rows, and on an empty table the merged plan
        # collapses to an empty LocalRelation, dropping the CollectMetrics
        # node so Observation.get fails. isEmpty is a limit-1 take whose
        # first attempt scans one wave of the (already checkpointed)
        # batch's partitions — far cheaper than the distinct
        # shuffle+collect the hint replaced.
        affected = [] if batch.isEmpty() else list(buckets)
    else:
        # Column-pruned discovery pass over the PRE-dedup batch: dedup
        # never changes the key set, so this skips the row_number shuffle
        # and Catalyst prunes the scan to the key column alone.
        affected = [
            r[0]
            for r in batch.select(m.bucket_col().alias(PART_COL))
            .distinct()
            .collect()
        ]
    changed_schema = table.schema().add(ACTION_COL, "string")
    if not affected:  # empty batch: no txn churn
        empty = table.spark.createDataFrame([], changed_schema)
        return MergeResult(inserted=0, updated=0, noop=0, changed=empty)

    merged = build_merge(table, batch, spec, affected)

    obs = Observation()
    merged = merged.observe(obs, *_obs_count_exprs())
    if capture_changes:
        merged = merged.withColumn(PART_COL, _changes_fanout())
    # CAS against the snapshot that planned this merge (``m``): a
    # commit landing after that load must fail this one, not be
    # overwritten by a merge computed from the older buckets.
    committed_txn, committed_buckets = table.overwrite_buckets(
        merged, affected, extra_cols=[ACTION_COL], expected_txn=m.txn,
        capture_changes=capture_changes)
    counts = obs.get
    # Change set (post-image of inserted/updated rows): feeds dependent
    # notification and webhook fan-out (base.rb:813-838) and is the CDC
    # analog of Delta CDF. Located by the txn and bucket dirs THIS
    # commit wrote (overwrite_buckets' return — re-reading
    # table.manifest here could see a concurrent writer's later txn;
    # r13 code review).
    if capture_changes:
        changed = table.spark.read.schema(changed_schema).parquet(
            str(table.path / "_changes" / f"txn_{committed_txn}"))
    else:
        written = [str(table.path / committed_buckets[str(b)]) for b in affected]
        changed = (
            table.spark.read.schema(changed_schema)
            .parquet(*written)
            .where(F.col(ACTION_COL) != "keep")
        )
    return MergeResult(
        inserted=counts.get("insert", 0),
        updated=counts.get("update", 0),
        noop=counts.get("keep", 0),
        changed=changed,
    )


def build_merge(
    table: ManagedTable,
    batch: DataFrame,
    spec: ReplicatorSpec,
    affected: list[int],
) -> DataFrame:
    """The declarative merge plan (pre-write): deduped batch full-outer
    joined with the affected buckets, action-tagged per row. Exposed so
    the plan-quality gates can pin its shuffle structure without running
    a write."""
    m = table.manifest
    key = spec.remote_key.name
    data_cols = [f.name for f in table.schema().fields]

    batch = dedupe_last_wins(batch, key).withColumn(PART_COL, m.bucket_col())
    if not any(str(b) in m.buckets for b in affected):
        # All-insert fast path: every touched bucket is empty, so the
        # deduped batch IS the merge result — no join, no target scan.
        merged = batch.select(
            *data_cols, F.col(PART_COL), F.lit("insert").alias(ACTION_COL)
        )
    else:
        target = table.read(buckets=affected).withColumn(
            PART_COL, m.bucket_col()
        )

        s = batch.alias("s")
        t = target.alias("t")
        joined = s.join(t, on=F.col(f"s.{key}") == F.col(f"t.{key}"), how="full_outer")
        action, out_cols = _merge_exprs(spec, key, tuple(data_cols))
        merged = joined.withColumn(ACTION_COL, action).select(
            *out_cols,
            F.coalesce(F.col(f"s.{PART_COL}"), F.col(f"t.{PART_COL}")).alias(PART_COL),
            F.col(ACTION_COL),
        )
    return merged


def _merge_exprs(
    spec: ReplicatorSpec, key: str, data_cols: tuple[str, ...]
) -> tuple[Column, list[Column]]:
    """The action-tag and per-column merge expressions of
    :func:`build_merge` — pure functions of (spec, key, data_cols)
    referencing only the ``s.``/``t.`` join aliases, so the immutable
    trees are memoized per spec: the composite ingest queries run many
    MERGE cycles per query, and rebuilding these CASE chains cost one
    py4j round-trip per Column operator per cycle (guide §5)."""
    return memo_col(
        ("merge_exprs", spec, key, data_cols),
        lambda: _build_merge_exprs(spec, key, data_cols),
    )


def _build_merge_exprs(
    spec: ReplicatorSpec, key: str, data_cols: tuple[str, ...]
) -> tuple[Column, list[Column]]:
    def sc(name: str) -> Column:
        return F.col(f"s.{name}")

    def tc(name: str) -> Column:
        return F.col(f"t.{name}")

    matched = sc(key).isNotNull() & tc(key).isNotNull()
    update_ok = (
        spec.update_where(sc, tc) if spec.update_where is not None else F.lit(True)
    )
    action = (
        F.when(tc(key).isNull(), F.lit("insert"))
        .when(matched & update_ok, F.lit("update"))
        .otherwise(F.lit("keep"))
    )

    skip_nil = {c.name for c in spec.all_cols if c.skip_nil}
    coalesce_upd = set(spec.coalesce_on_update)
    out_cols: list[Column] = []
    for name in data_cols:
        if name in spec.custom_update_exprs:
            # _upsert_update_expr override (base.rb:931-956)
            upd = spec.custom_update_exprs[name](sc, tc)
        elif name == "data" and spec.merge_data_on_update:
            # jsonb `t.data || excluded.data` (base.rb:948-949):
            # shallow object merge, incoming keys win. Arrow-batched
            # UDF — a faithful shallow merge must preserve nested
            # values verbatim, which map<string,string> round-trips
            # cannot. Opt-in per replicator, off the default path.
            upd = json_merge_udf()(tc(name), sc(name))
        elif name in coalesce_upd:
            upd = F.coalesce(tc(name), sc(name))
        elif name in skip_nil:
            upd = F.coalesce(sc(name), tc(name))
        else:
            upd = sc(name)
        val = (
            F.when(F.col(ACTION_COL) == "keep", tc(name))
            .when(F.col(ACTION_COL) == "insert", sc(name))
            .otherwise(upd)
        )
        out_cols.append(val.alias(name))
    return action, out_cols


def upsert_envelopes(
    table: ManagedTable,
    envelopes: DataFrame,
    spec: ReplicatorSpec,
    buckets: list[int] | None = None,
    capture_changes: bool = True,
) -> MergeResult:
    """Full ingest path: shape envelopes then merge (base.rb:731-785).

    ``buckets``: optional routing hint forwarded to :func:`merge_upsert`
    (pass ``range(spec.n_buckets)`` for whole-keyspace bulk loads);
    ``capture_changes`` forwarded likewise (False = skip the durable
    CDC write for subscriber-less bulk loads).
    """
    shaped = _shape_for_merge(table, envelopes, spec)
    return merge_upsert(
        table, shaped, spec, buckets=buckets, capture_changes=capture_changes
    )


def _shape_for_merge(
    table: ManagedTable, envelopes: DataFrame, spec: ReplicatorSpec
) -> DataFrame:
    """Shared shaping front-half of the ingest path: create the table,
    stamp the arrival ordinal, shape, fill sequence defaults."""
    if not table.exists():
        table.create(spec.schema(), key=spec.remote_key.name,
                     n_buckets=spec.n_buckets,
                     part_key=spec.partition_key_source)
    if "_seq" not in envelopes.columns:
        # Arrival ordinal: duplicate keys in one batch resolve to the
        # LAST occurrence even when timestamps tie (backfiller.rb:75-83's
        # hash-overwrite order). monotonically_increasing_id encodes
        # (partition index, row-in-partition), which preserves source
        # order for any ordered batch source.
        envelopes = envelopes.withColumn("_seq", F.monotonically_increasing_id())
    shaped = spec.shape(envelopes)
    seq_cols = [
        c.name
        for c in spec.all_cols
        if c.defaulter == "sequence"
        or (c.converter is not None and c.converter.needs_sequence)
    ]
    if seq_cols:
        seq = IntegrationSequence(table.path)
        # one pinned batch for every sequence column — each fill only
        # coalesces its own column, so chaining plans over the single
        # checkpoint is equivalent and avoids per-column checkpoints
        shaped = shaped.localCheckpoint(eager=True)
        for name in seq_cols:
            shaped = seq.fill(shaped, name, checkpointed=True)
    return shaped


def _release_local_checkpoint(df: DataFrame) -> None:
    """Unpersist the RDD blocks behind an eager ``localCheckpoint``.

    PySpark exposes no public API for this (the blocks normally live
    until the driver GCs the RDD), so reach through the analyzed plan
    — a checkpointed DataFrame's plan IS a LogicalRDD over the
    materialized blocks. Best-effort by design: the reflective path is
    version-sensitive, and failing to free early is only the status
    quo (GC frees later). Call ONLY after every consumer of the
    checkpointed batch has fully materialized — a localCheckpoint has
    no lineage, so a read after release fails instead of recomputing.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def upsert_envelopes_with_contract(
    table: ManagedTable,
    envelopes: DataFrame,
    spec: ReplicatorSpec,
    rules,
    quarantine_path: str,
    buckets: list[int] | None = None,
    capture_changes: bool = True,
) -> tuple[MergeResult, int]:
    """Landing-contract ingest: shape as usual, then route SHAPED rows
    failing any row-level expectation (profile.expectation_reason's
    rule grammar) to an append-only quarantine parquet — with the
    first-failing-rule reason stamped on each row — and merge only the
    clean remainder. Returns (MergeResult, n_quarantined).

    The warehouse-side twin of the JSONL source quarantine
    (sources/jsonl.py): the source contract rejects lines that do not
    parse; this one rejects rows that parse but violate the TABLE's
    declared invariants (the reference analog is the per-replicator
    webhook validation that 400s bad bodies at the API door,
    lib/webhookdb/api/helpers.rb:218-231 — at bulk scale the job must
    keep running and keep the evidence instead).

    Scale: the reason is one narrow CASE over the shaped batch; the
    shaped+flagged batch is materialized exactly ONCE (eager
    localCheckpoint), then the quarantine count, quarantine write, and
    clean-side merge all read the pinned partitions — no recompute of
    the shaping lineage, and (critically) the ``_seq``
    monotonically_increasing_id values cannot shift between the
    quarantine write and the merge under task retries. The quarantine
    is a plain parquet append — violating rows may lack valid keys, so
    a keyed MERGE is exactly the wrong sink for them.

    The checkpoint blocks are freed once the merge commits: a
    long-running streaming ingest calls this per micro-batch, and
    without the explicit release each batch would pin its blocks on
    executor storage until driver GC happens to collect the RDD.
    Safe because nothing downstream re-reads the batch lineage —
    MergeResult.changed reads the committed change set (or, with
    ``capture_changes=False``, the just-written bucket files), and the
    quarantine is already on disk.
    """
    from webhookdb_spark.operators.profile import expectation_reason

    shaped = _shape_for_merge(table, envelopes, spec)
    flagged = shaped.withColumn(
        "_contract_reason", expectation_reason(rules)
    ).localCheckpoint(eager=True)
    try:
        bad = flagged.where(F.col("_contract_reason").isNotNull())
        n_bad = bad.count()
        if n_bad:
            bad.write.mode("append").parquet(quarantine_path)
        clean = flagged.where(F.col("_contract_reason").isNull()).drop(
            "_contract_reason"
        )
        res = merge_upsert(
            table, clean, spec, buckets=buckets,
            capture_changes=capture_changes,
        )
    finally:
        _release_local_checkpoint(flagged)
    return res, n_bad


# ---------------------------------------------------------------------------
# Change-feed consumer — the read side of the per-transaction CDC dirs
# merge_upsert writes (_changes/txn_N, the Delta CDF analog). Producers
# existed since r5; this is the consumer contract a downstream
# incremental pipeline needs: read exactly the post-images of txns
# (since, end], compact to one row per key, trim delivered history.
# ---------------------------------------------------------------------------

# A change row's txn is the name of the txn dir holding its file, at any
# depth below it; the table's own path cannot match, whatever it is named.
_TXN_FROM_PATH = r"/_changes/txn_(\d+)/"


def change_txns(table: ManagedTable) -> list[int]:
    """Transaction ids with a captured change set, ascending."""
    root = table.path / "_changes"
    if not root.exists():
        return []
    out = []
    for p in root.iterdir():
        if p.name.startswith("txn_"):
            try:
                out.append(int(p.name[4:]))
            except ValueError:
                continue
    return sorted(out)


def changes_since(
    table: ManagedTable,
    since_txn: int = 0,
    end_txn: int | None = None,
) -> DataFrame:
    """Post-image change rows for every captured transaction in
    ``(since_txn, end_txn]``, with ``_action`` ('insert'/'update') and
    ``_txn`` columns — the incremental-consumer read that replaces
    rescanning the table by timestamp: at 100 TB a day's changes are a
    few txn dirs, not a predicate over the whole store. Rows for a key
    touched in several txns appear once PER txn (the full history;
    see :func:`latest_change_per_key` for the compacted view)."""
    schema = table.schema().add(ACTION_COL, "string")
    txns = [
        t for t in change_txns(table)
        if t > since_txn and (end_txn is None or t <= end_txn)
    ]
    spark = table.spark
    if not txns:
        return spark.createDataFrame([], schema.add("_txn", "long"))
    # ONE multi-path scan instead of a per-txn read + unionByName chain:
    # a window of K txns cost K schema conversions, K FileIndex setups
    # and a K-leg union plan (K+ driver jobs); the single scan derives
    # each row's _txn from its file path — the txn dir name IS the txn
    # id, so the rows are identical by construction (guide §6 listing /
    # §5 driver work).
    # recursiveFileLookup: change files are read at any depth below
    # their txn dir (partition discovery would skip or reject a nested
    # layout), and each keeps the txn of the dir it sits under.
    paths = [str(table.path / "_changes" / f"txn_{t}") for t in txns]
    return (
        spark.read.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(*paths)
        .withColumn(
            "_txn",
            F.regexp_extract(
                F.col("_metadata.file_path"), _TXN_FROM_PATH, 1
            ).cast("long"),
        )
    )


def feed_window(
    table: ManagedTable, since_txn: int
) -> tuple[int, DataFrame, int] | None:
    """The one window every change-feed consumer reads: list the txn
    dirs once and fix the window's end at the highest listed txn past
    ``since_txn``, before any row is read (the offset-log rule of
    Structured Streaming). Returns ``(end_txn, rows, n_txns)``: one
    post-image per key of ``(since_txn, end_txn]``
    (:func:`latest_change_per_key`, with ``_action`` and ``_txn``) and
    how many txns the window spans; None when no txn is listed.

    A consumer that commits ``end_txn`` as its watermark covers exactly
    what it read: a txn that commits after the listing is left whole
    for the next cycle, and a window of empty change sets (an all-stale
    MERGE) still moves the watermark past them."""
    txns = [t for t in change_txns(table) if t > since_txn]
    if not txns:
        return None
    end_txn = txns[-1]
    rows = latest_change_per_key(
        changes_since(table, since_txn, end_txn), table.manifest.key)
    return end_txn, rows, len(txns)


def latest_change_per_key(changes: DataFrame, key: str) -> DataFrame:
    """Compact a :func:`changes_since` window to one row per key (the
    highest-txn post-image) — what a warehouse MERGE consumer wants.
    The window partitions on the key: per-key work, never global.
    The row_number-over-window tree is memoized per key (guide §5:
    the feed consumers compact every sync cycle)."""
    rn = memo_col(
        ("latest_change_rn", key),
        lambda: F.row_number().over(
            Window.partitionBy(key).orderBy(F.col("_txn").desc())
        ),
    )
    return (
        changes.withColumn("_rn", rn)
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def trim_changes(table: ManagedTable, delivered_txn: int) -> int:
    """Delete change dirs for txns <= ``delivered_txn`` (the retention
    trim a consumer runs after committing its watermark — the
    logged-webhook trim analog, logged_webhook.rb:40-90). Returns the
    number of dirs removed."""
    import shutil as _sh

    n = 0
    for t in change_txns(table):
        if t <= delivered_txn:
            _sh.rmtree(table.path / "_changes" / f"txn_{t}", ignore_errors=True)
            n += 1
    return n


def stream_changes(
    table: ManagedTable, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Structured-Streaming source over the change feed: a
    ``readStream`` of the ``_changes/txn_*`` dirs with the table's
    schema (+ ``_action``/``_txn``), so every committed MERGE's
    post-images arrive as exactly-once streaming input for downstream
    consumers — dependent tables, fan-out, warehouse sync — with
    offsets carried by the consumer's own checkpoint instead of the
    txn-watermark bookkeeping :func:`changes_since` does for batch.
    ``_txn`` derives from the file path. ``max_files_per_trigger`` is
    the standard file-source backpressure cap (SURVEY §2.9)."""
    schema = table.schema().add(ACTION_COL, "string")
    reader = table.spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(str(table.path / "_changes" / "txn_*"))
    txn = F.regexp_extract(F.input_file_name(), _TXN_FROM_PATH, 1).cast("long")
    return df.withColumn("_txn", txn)
