"""Structured-Streaming ingestion: envelope stream → routed upserts.

Reference lifecycle (SURVEY §3.1): webhook HTTP intake → audit log →
queue → per-integration upsert → dependent notification → fan-out.
Spark shape: ``readStream`` over envelopes → ``foreachBatch`` doing
(1) audit-log append, (2) per-integration shaping + MERGE, (3)
changed-row side-outputs for dependents/subscriptions.

Delivery guarantee: the file/Kafka source with checkpointing is
at-least-once per micro-batch; the keyed conditional MERGE is
idempotent, so the pipeline is effectively exactly-once — the same
argument the reference makes for Sidekiq retries + ON CONFLICT
(jobs/process_webhook.rb:11-14, base.rb:774-785).
"""

from __future__ import annotations

import threading
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from webhookdb_spark.operators.upsert import MergeResult, upsert_envelopes
from webhookdb_spark.spec import ReplicatorSpec
from webhookdb_spark.storage import Warehouse

# process_webhook.rb:15-24: at most this many concurrent webhook-process
# jobs per organization — one tenant's flood cannot monopolize the pool.
DEFAULT_MAX_CONCURRENT_PER_ORG = 10


@dataclass
class IntegrationRuntime:
    """One live service integration: spec + org + hooks
    (reference: ServiceIntegration row, service_integration.rb:8-80)."""

    opaque_id: str
    org: str
    spec: ReplicatorSpec
    # Called with the changed-row DataFrame after each merge — feeds
    # dependent replicators (base.rb:814-818) and webhook subscriptions
    # (base.rb:820-838).
    on_rowupsert: Callable[[DataFrame], None] | None = None


@dataclass
class IngestPipeline:
    warehouse: Warehouse
    integrations: dict[str, IntegrationRuntime] = field(default_factory=dict)
    audit_table_path: str | None = None
    merge_log: list[tuple[str, MergeResult]] = field(default_factory=list)
    # Per-integration merges within a micro-batch run on this many
    # threads (Spark job submission is thread-safe; each merge touches
    # its own table). 1 = sequential.
    max_parallel_merges: int = 1
    # Per-org fairness bound (process_webhook.rb:15-24 semaphore parity):
    # however large the pool, at most this many merges of ONE org run
    # concurrently, so a flooding tenant leaves slots for the rest.
    max_concurrent_per_org: int = DEFAULT_MAX_CONCURRENT_PER_ORG
    _org_sems: dict[str, threading.BoundedSemaphore] = field(
        default_factory=dict, repr=False
    )
    # The manifest swap is last-writer-wins, so two merges into the SAME
    # table must never overlap (the reference gets this for free from
    # Postgres MERGE transactionality); merges into different tables
    # parallelize freely.
    _table_locks: dict[str, threading.Lock] = field(default_factory=dict, repr=False)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)
    # Drop intra-batch duplicate deliveries (same integration + same raw
    # body) AFTER the audit append — the reference logs every delivery
    # at intake before processing (api/helpers.rb:271), so dedup must
    # never starve the audit archive. Cross-batch retries are absorbed
    # by the idempotent MERGE itself; this knob only saves the
    # shape+merge cost for retry bursts landing in one micro-batch.
    dedup_deliveries: bool = False
    # Injection point for tests; production always merges via
    # upsert_envelopes.
    _merge_fn: Callable = upsert_envelopes

    def register(self, rt: IntegrationRuntime) -> None:
        self.integrations[rt.opaque_id] = rt

    def _org_semaphore(self, org: str) -> threading.BoundedSemaphore:
        with self._lock:
            sem = self._org_sems.get(org)
            if sem is None:
                sem = self._org_sems[org] = threading.BoundedSemaphore(
                    self.max_concurrent_per_org
                )
            return sem

    def _table_lock(self, key: str) -> threading.Lock:
        with self._lock:
            lk = self._table_locks.get(key)
            if lk is None:
                lk = self._table_locks[key] = threading.Lock()
            return lk

    # -- batch path --------------------------------------------------------
    def _write_audit(self, enveloped: DataFrame,
                     audit_batch_id: int | None) -> list[str]:
        """Archive one batch into the audit table, partitioned
        ``_batch=<id>/_day=<date>``. Returns the distinct non-NULL
        integration ids of the archived rows, observed on the write
        itself, so routing the batch needs no scan of its own.

        With ``audit_batch_id`` (the foreachBatch batch id — stable
        across checkpointed re-execution) the write is mode-OVERWRITE
        on the batch's own ``_batch=<id>`` subdirectory: a micro-batch
        re-executed after a crash between the audit append and the
        checkpoint commit REPLACES its earlier (possibly partial) audit
        rows instead of appending them twice (r13 ADVICE) — verdicts
        are batch-clock-derived, so the re-run writes identical rows.
        Assumes one streaming query per audit path (batch ids from two
        checkpoints would collide — the endpoint model is one intake
        stream per archive). Without it (direct synchronous calls, no
        redelivery machinery) the write appends under ``_batch=-1``,
        which keeps the directory's partition layout uniform so readers
        discover one consistent schema.

        Archives written by the pre-r14 layout (``_day=...`` at the
        root) are migrated in place on first write: mixing leaf files
        at two partition depths would fail Spark's partition discovery
        ('Conflicting directory structures'), so legacy day dirs are
        renamed under ``_batch=-1/`` — same data, same append
        semantics, one directory level deeper."""
        import os
        from pathlib import Path

        root = Path(self.audit_table_path)
        # One-shot migration (r14 ADVICE): once a scan has found no
        # legacy dirs, every later micro-batch skips the iterdir — the
        # pre-r14 layout cannot reappear under this pipeline. The flag
        # is per-instance, so a fresh process re-checks once, which is
        # exactly the migration contract. NOTE: while dirs are
        # mid-rename a concurrent READER can transiently hit Spark's
        # 'Conflicting directory structures' partition-discovery error
        # — the window is one os.rename per legacy day and closes
        # permanently after the first post-migration write.
        if getattr(self, "_audit_migrated", False):
            legacy = []
        elif root.is_dir():
            legacy = [p for p in root.iterdir()
                      if p.is_dir() and p.name.startswith("_day=")]
            self._audit_migrated = not legacy
        else:
            legacy = []
        if legacy:
            dest = root / "_batch=-1"
            dest.mkdir(exist_ok=True)
            for p in legacy:
                try:
                    os.rename(p, dest / p.name)
                except OSError:
                    # a concurrent writer migrated it first, or the
                    # target day already exists (two legacy writers)
                    # — merge file-by-file in that case
                    tgt = dest / p.name
                    if tgt.is_dir():
                        for f in p.iterdir():
                            try:
                                os.rename(f, tgt / f.name)
                            except OSError:
                                pass
                        try:
                            p.rmdir()
                        except OSError:
                            pass
            self._audit_migrated = True
        from pyspark.sql import Observation

        obs = Observation()
        audited = enveloped.withColumn("_day", F.to_date("received_at")).observe(
            obs, F.collect_set("integration_opaque_id").alias("ids"))
        if audit_batch_id is None:
            (
                audited.write.mode("append").partitionBy("_day")
                .parquet(f"{self.audit_table_path}/_batch=-1")
            )
        else:
            (
                audited.write.mode("overwrite").partitionBy("_day")
                # whole-batch replace IS the idempotence contract: a
                # re-executed micro-batch rewrites its _batch dir with
                # identical content, so the static commit path (replace
                # the dir) is equivalent to dynamic and skips its
                # slower per-partition protocol
                .option("partitionOverwriteMode", "static")
                .parquet(f"{self.audit_table_path}/_batch={int(audit_batch_id)}")
            )
        return sorted(obs.get["ids"])

    def process_batch(self, envelopes: DataFrame, batch_id: int = 0,
                      skip_audit: bool = False,
                      audit_batch_id: int | None = None) -> None:
        """The foreachBatch body.

        Routing: one pass over the micro-batch per *distinct integration
        present in it* (not per registered integration) — the batch is
        persisted once and filtered per target, so each integration's
        shaping+merge reads from cache. The integrations present come
        from the audit write when there is one (an Observation on that
        write); only an unaudited batch (replay, ``skip_audit``, no
        audit path) pays a distinct-collect job for them.
        """
        # Replayed envelopes carry a marker so they are not re-logged
        # (LoggedWebhook::RETRY_HEADER parity, logged_webhook.rb:44-45) —
        # otherwise every replay would double the audit archive.
        is_replay = "_replay" in envelopes.columns
        if is_replay:
            envelopes = envelopes.drop("_replay")
        envelopes = envelopes.persist()
        present = None
        try:
            if self.audit_table_path and not is_replay and not skip_audit:
                # Audit log (logged_webhooks analog, api/helpers.rb:227-230):
                # partitioned by arrival date for the trim jobs. This
                # runs BEFORE any delivery dedup: the reference logs
                # every delivery at intake (api/helpers.rb:271), retries
                # included, so replay/forensics never lose rows. Dedup
                # below keeps one row of every integration, so the
                # archived ids are the routed ids.
                present = self._write_audit(envelopes, audit_batch_id)
            if self.dedup_deliveries:
                deduped = (
                    envelopes.withColumn(
                        "_dk",
                        F.md5(F.concat_ws("|", "integration_opaque_id", "body")),
                    )
                    .dropDuplicates(["_dk"])
                    .drop("_dk")
                    .persist()
                )
                envelopes.unpersist()
                envelopes = deduped
            if present is None:
                present = [
                    r[0]
                    for r in envelopes.select("integration_opaque_id")
                    .distinct().collect()
                ]

            def run_one(opaque_id: str) -> None:
                rt = self.integrations.get(opaque_id)
                if rt is None:
                    return  # unknown integration: logged but not replicated
                subset = envelopes.where(
                    F.col("integration_opaque_id") == opaque_id
                )
                table = self.warehouse.table(rt.org, rt.spec.table)
                # the per-org semaphore is held across the merge only —
                # fan-out happens outside it like the reference's job body
                with self._org_semaphore(rt.org), self._table_lock(
                    f"{rt.org}/{rt.spec.table}"
                ):
                    result = self._merge_fn(table, subset, rt.spec)
                with self._lock:
                    self.merge_log.append((opaque_id, result))
                if rt.on_rowupsert is not None and result.total_changed:
                    rt.on_rowupsert(result.changed)

            if self.max_parallel_merges <= 1 or len(present) <= 1:
                for opaque_id in present:
                    run_one(opaque_id)
            else:
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(
                    max_workers=self.max_parallel_merges
                ) as ex:
                    # list() propagates the first worker exception
                    list(ex.map(run_one, present))
        finally:
            envelopes.unpersist()

    # -- endpoint-shaped intake --------------------------------------------
    def intake_batch(
        self,
        envelopes: DataFrame,
        secrets: dict[str, tuple[str, str]],
        now_ts: int | None = None,
        audit_batch_id: int | None = None,
    ) -> tuple[int, DataFrame]:
        """One webhook-ENDPOINT intake batch with the reference's exact
        ordering (api/helpers.rb:182-271): bot GETs are dropped before
        anything else (:182-198, never logged), then EVERY surviving
        delivery is archived with its verification verdict (:227-230 —
        the logged-webhooks table records 401s too, which is what makes
        a misconfigured-secret outage replayable), then verification
        runs and only verified envelopes proceed to shaping + MERGE
        (:259-271's 401-vs-enqueue fork).

        ``secrets`` maps integration_opaque_id -> (scheme, secret) as
        in :func:`~webhookdb_spark.functions.verification.verify_envelopes`.
        Returns ``(n_accepted, rejected)`` where ``rejected`` carries
        ``_reject_reason`` — the endpoint's 401 stream.
        """
        from webhookdb_spark.functions.verification import (
            accepted,
            rejected,
            verify_envelopes,
        )
        from webhookdb_spark.sources.envelopes import (
            _with_canonical_headers,
            reject_bot_gets,
        )

        if now_ts is None:
            # pin the verification clock to ONE intake instant: the
            # rejected stream returned below recomputes from lineage
            # after unpersist, and timestamp-windowed schemes (Stripe
            # ±300s) must not re-evaluate against a later wall clock —
            # a boundary envelope could otherwise be merged as accepted
            # AND later read back as rejected.
            import time as _time

            now_ts = int(_time.time())
        # canonicalize at the endpoint boundary (the reference downcases
        # header keys on save, logged_webhook.rb:186-188) so producers
        # that bypass read_envelopes still hit the same predicates
        verified = verify_envelopes(
            reject_bot_gets(_with_canonical_headers(envelopes)),
            secrets, now_ts=now_ts,
        ).persist()
        try:
            # an all-bot batch writes nothing (an empty parquet append
            # still creates a schemaless directory); with
            # audit_batch_id the write is idempotent per micro-batch
            # (overwrite on _batch=<id> — see _write_audit)
            if self.audit_table_path and verified.count():
                self._write_audit(verified, audit_batch_id)
            ok = accepted(verified)
            n_ok = ok.count()
            if n_ok:
                # already archived above — with verdicts, which the
                # plain per-batch append does not record
                self.process_batch(ok, skip_audit=True)
            # unpersisting only drops the cache; the rejected stream's
            # lineage stays valid and recomputes if the caller reads it
            return n_ok, rejected(verified)
        finally:
            verified.unpersist()

    # -- streaming path ----------------------------------------------------
    def start(
        self,
        envelope_stream: DataFrame | str,
        checkpoint_dir: str,
        trigger_once: bool = False,
        processing_time: str = "10 seconds",
        max_files_per_trigger: int | None = None,
        max_offsets_per_trigger: int | None = None,
        dedup_deliveries_watermark: str | None = None,
        verify_secrets: dict[str, tuple[str, str]] | None = None,
    ) -> StreamingQuery:
        """Run the pipeline as a streaming query.

        The checkpoint directory carries the source offsets — the
        durable-cursor story that replaces the reference's Sidekiq
        durable jobs + last_backfilled_at bookkeeping for the hot path.

        ``envelope_stream`` may be a pre-built streaming DataFrame or a
        landing-directory path; with a path, the per-trigger intake caps
        (maxFilesPerTrigger / maxOffsetsPerTrigger — SURVEY §2.9
        backpressure) are applied to the source. They are source options,
        so with a pre-built DataFrame set them where it was built
        (sources.envelopes.read_envelope_stream takes the same kwargs).

        ``dedup_deliveries_watermark`` (e.g. ``"1 hour"``) inserts the
        watermark-bounded delivery dedup (streaming/windows.py) ahead of
        shaping: provider retry storms are absorbed before they cost a
        shape + MERGE pass, with state bounded by the retry horizon.

        AUDIT SEMANTICS: the stream-level dedup runs upstream of
        ``foreachBatch``, so dropped retries never reach the audit
        append — the archive records only the first delivery. The
        reference logs EVERY delivery before processing
        (api/helpers.rb:271); for that parity leave this unset and use
        ``IngestPipeline.dedup_deliveries`` instead, which dedups after
        the audit append inside the batch. Use the watermark variant
        when retry-storm volume itself is the problem (it also spares
        the audit write) and the trade is acceptable.

        ``verify_secrets`` makes each micro-batch run the full
        ENDPOINT-shaped intake (:meth:`intake_batch`: bot-GET drop →
        archive-with-verdict → verify → merge accepted only) instead of
        the pre-verified worker path (:meth:`process_batch`, the
        reference's Sidekiq boundary, jobs/process_webhook.rb:26-44).
        Use it when the deployment has no separate endpoint tier in
        front of the stream — a bad-secret delivery then lands in the
        audit archive with its 401 verdict and never reaches the table,
        and the checkpointed re-execution of a micro-batch re-verifies
        identically (the clock pins to the batch's own newest
        received_at — data-derived, so a crash-restart re-run minutes
        later reaches the same timestamp-window verdicts and the
        at-least-once redelivery converges on the idempotent MERGE).
        Mutually
        exclusive with ``dedup_deliveries_watermark``: stream-level
        dedup drops retries BEFORE the archive, which would break the
        endpoint's log-every-delivery contract.
        """
        if verify_secrets is not None and dedup_deliveries_watermark is not None:
            raise ValueError(
                "verify_secrets is the endpoint-shaped intake: every "
                "delivery must reach the verdict archive, so stream-level "
                "dedup_deliveries_watermark cannot run ahead of it (use "
                "dedup_deliveries, which dedups after the audit append)"
            )
        if isinstance(envelope_stream, str):
            from webhookdb_spark.sources.envelopes import read_envelope_stream

            envelope_stream = read_envelope_stream(
                self.warehouse.spark,
                envelope_stream,
                max_files_per_trigger=max_files_per_trigger,
                max_offsets_per_trigger=max_offsets_per_trigger,
            )
        elif max_files_per_trigger or max_offsets_per_trigger:
            raise ValueError(
                "per-trigger caps are streaming-source options; pass a path, or "
                "set them on read_envelope_stream when building the DataFrame"
            )
        if dedup_deliveries_watermark is not None:
            from webhookdb_spark.streaming.windows import dedup_deliveries_stream

            # envelopes carry no provider delivery id, so a retry is
            # identified by content: same integration + same raw body
            envelope_stream = dedup_deliveries_stream(
                envelope_stream.withColumn(
                    "_delivery_key",
                    F.md5(F.concat_ws("|", "integration_opaque_id", "body")),
                ),
                id_col="_delivery_key",
                watermark=dedup_deliveries_watermark,
            ).drop("_delivery_key")
        if verify_secrets is not None:
            def _body(df, bid):
                # Pin the verification clock to the BATCH'S OWN newest
                # arrival instant, not the wall clock: foreachBatch can
                # re-execute a micro-batch after a crash (same batch id,
                # minutes later), and a wall clock would flip
                # timestamp-window verdicts (Stripe ±300 s) between the
                # original run and the re-run — the re-executed batch
                # must archive the SAME verdicts it archived before.
                # max(received_at) is derived from the batch's data, so
                # re-execution is deterministic, and at first execution
                # it is within the trigger interval of the wall clock.
                import datetime as _dt

                newest = df.agg(F.max("received_at")).first()[0]
                # collected timestamps are naive session-UTC; stamp the
                # zone so .timestamp() cannot drift on a non-UTC host
                now_ts = (
                    int(newest.replace(
                        tzinfo=_dt.timezone.utc).timestamp())
                    if newest is not None and newest.tzinfo is None
                    else int(newest.timestamp()) if newest is not None
                    else None
                )
                self.intake_batch(df, secrets=verify_secrets,
                                  now_ts=now_ts, audit_batch_id=bid)
        else:
            def _body(df, bid):
                self.process_batch(df, bid, audit_batch_id=bid)
        writer = (
            envelope_stream.writeStream.foreachBatch(_body)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()
