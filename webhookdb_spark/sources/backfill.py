"""Paginated backfill framework.

Reference semantics (lib/webhookdb/backfiller.rb:13-114,
lib/webhookdb/replicator/base.rb:1101-1247, lib/webhookdb/jobs/backfill.rb):

- loop ``fetch_backfill_page(token, last_backfilled)`` → (items, next
  token); stop on blank token
- page fetch retried with backoff (3 attempts); HTTP 401 fails fast
- incremental mode passes ``last_backfilled_at`` as the low cursor
- pages accumulate into bulk upserts (intra-page last-wins dedup)
- after success: persist new cursor, enqueue dependent integrations
  (recursive backfill)
- optional parallel fan-out over independent backfillers

Spark split: page *fetching* is inherently driver-side sequential HTTP
(rate limits live with the token), but page *processing* is the same
distributed shape-and-merge as streaming. Fetching can overlap
processing: pages are buffered and merged in chunks of
``upsert_page_size`` so the cluster sees few large merges rather than
many small ones.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterable, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any

from pyspark.sql import SparkSession

from webhookdb_spark.operators.upsert import MergeResult, upsert_envelopes
from webhookdb_spark.sources.envelopes import ENVELOPE_SCHEMA
from webhookdb_spark.spec import ReplicatorSpec
from webhookdb_spark.storage import Warehouse, read_json, write_atomic


class BackfillAuthError(RuntimeError):
    """HTTP 401 — fail fast, no retry (backfiller.rb:48-56)."""


class BackfillNotSupported(RuntimeError):
    """Manual backfill on a webhook-only spec (base.rb:1105's
    InvariantViolation). ``str(exc)`` is the user-facing message the
    reference CLI prints (spec.backfill_not_supported_message)."""


class CredentialsMissing(RuntimeError):
    """Backfill credentials absent (replicator.rb:22) — terminal, never
    retried (jobs/backfill.rb:41 rescues it as a no-op). Raised by the
    pre-flight ``credential_check`` (base.rb:1107-1109's blank
    key+secret+depends_on gate) or by a ``fetch_page`` closure that
    discovers its dependency's auth is gone mid-run (the per-family
    raises: intercom_v1_mixin.rb:80, sponsy_v1_mixin.rb:112,
    email_octopus_list_v1.rb:94). ``str(exc)`` is the user-facing
    message the concrete replicator specs pin."""


PageFetcher = Callable[[str | None, Any], tuple[Sequence[dict], str | None]]
# (pagination_token, last_backfilled) -> (items, next_token)


@dataclass
class CursorStore:
    """Per-integration incremental cursors (``last_backfilled_at``,
    service_integration.rb cursor fields) persisted as JSON."""

    path: Path

    def get(self, key: str) -> str | None:
        return read_json(self.path, {}).get(key)

    def set(self, key: str, value: str) -> None:
        data = read_json(self.path, {})
        data[key] = value
        write_atomic(self.path, json.dumps(data))


@dataclass
class Backfiller:
    """Driver-side pagination loop feeding distributed merges."""

    spark: SparkSession
    warehouse: Warehouse
    org: str
    spec: ReplicatorSpec
    fetch_page: PageFetcher
    opaque_id: str = "backfill"
    page_retries: int = 3
    retry_base_sleep: float = 0.1  # backfiller.rb:37-46 backoff (scaled down)
    upsert_page_size: int = 2000  # icalendar_calendar_v1.rb:165
    cursors: CursorStore | None = None
    # Pre-flight credentials gate (base.rb:1107-1109 / find_at_root!,
    # replicator.rb:222-230): called before the first fetch; raise
    # CredentialsMissing when the integration (or the dependency it
    # borrows auth from) has no usable credentials.
    credential_check: Callable[[], None] | None = None
    # Per-item body transform applied between fetch and upsert — the
    # reference Backfiller's prepare_body hook (backfiller.rb:60,76;
    # e.g. sponsy_v1_mixin.rb:151-154 stamping publication_id into
    # every body of a per-publication child backfiller).
    prepare_item: Callable[[dict], dict] | None = None
    # dependent integrations to backfill after this one
    # (recursive backfill, base.rb:215-226)
    children: list["Backfiller"] = field(default_factory=list)
    merge_results: list[MergeResult] = field(default_factory=list)

    def _fetch_with_retry(self, token: str | None, last: Any):
        attempt = 0
        while True:
            try:
                return self.fetch_page(token, last)
            except (BackfillAuthError, CredentialsMissing):
                raise
            except Exception:
                attempt += 1
                if attempt >= self.page_retries:
                    raise
                time.sleep(self.retry_base_sleep * (2 ** (attempt - 1)))

    def _flush(self, items: list[dict]) -> None:
        if not items:
            return
        rows = [
            (
                self.opaque_id,
                self.spec.name,
                "POST",
                f"/v1/service_integrations/{self.opaque_id}",
                {},
                json.dumps(it),
                None,
            )
            for it in items
        ]
        env = self.spark.createDataFrame(rows, ENVELOPE_SCHEMA)
        table = self.warehouse.table(self.org, self.spec.table)
        from webhookdb_spark.storage import ConcurrentWriteError

        # Concurrent backfillers can target the SAME table (e.g.
        # per-publication sponsy children through parallel_backfill);
        # the manifest CAS makes the loser safe but raises. The MERGE
        # is idempotent and upsert_envelopes re-reads the manifest per
        # call, so reload-and-retry converges — bounded to the same
        # attempt budget as a flaky page fetch (min 1: the merge must
        # always run even under a fail-fast page_retries=0 config).
        attempts = max(1, self.page_retries)
        for attempt in range(attempts):
            try:
                self.merge_results.append(
                    upsert_envelopes(table, env, self.spec))
                return
            except ConcurrentWriteError:
                if attempt == attempts - 1:
                    raise
                time.sleep(self.retry_base_sleep * (2 ** attempt))

    def backfill(self, incremental: bool = True, recursive: bool = True) -> int:
        """Run to exhaustion; returns total items processed."""
        if not self.spec.supports_backfill:
            raise BackfillNotSupported(
                self.spec.backfill_not_supported_message())
        if self.credential_check is not None:
            self.credential_check()
        last = (
            self.cursors.get(self.opaque_id)
            if (incremental and self.cursors)
            else None
        )
        started_at = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
        token: str | None = None
        buffer: list[dict] = []
        total = 0
        while True:
            items, token = self._fetch_with_retry(token, last)
            if self.prepare_item is not None:
                items = [self.prepare_item(it) for it in items]
            buffer.extend(items)
            total += len(items)
            if len(buffer) >= self.upsert_page_size:
                self._flush(buffer)
                buffer = []
            if not token:
                break
        self._flush(buffer)
        if self.cursors:
            # cursor = job start time, matching the reference's
            # last_backfilled_at semantics (base.rb:1110-1130)
            self.cursors.set(self.opaque_id, started_at)
        if recursive:
            for child in self.children:
                child.backfill(incremental=incremental, recursive=True)
        return total


def dependency_table_pager(
    table,
    json_path: str,
    ts_col: str = "updated_at",
    page_size: int = 1000,
) -> PageFetcher:
    """PageFetcher reading the managed TABLE of a dependency
    integration — the reference's "a replicator backfilling against
    the table of its dependency" shared example
    (shared_examples_for_replicators.rb:964-1021; the concrete shape
    is sponsy_customer_v1.rb:30-53: customers are projected out of the
    slot table's data bodies). One page: dependency rows newer than
    ``last_backfilled`` when incremental (every row otherwise), each
    row's ``json_path`` projection of its data body becoming one
    backfill item. Rows whose projection is absent are skipped, like
    the reference's nil-customer slots.

    Scale note: the filter + JSON projection run IN SPARK and the
    driver sees at most ``page_size`` projected bodies per fetch —
    keyset pagination on the table's (unique, non-null) remote key,
    matching the reference's 1,000-row page envelope
    (organization.rb:24). Each page is one ordered top-K job; the
    cursor token is the last key of the previous page, so a
    dimension-sized OR large dependency table streams through bounded
    driver memory. For a corpus-sized dependency feed the right tool
    is still the change-stream consumer (operators/matview.scd2 /
    stream_changes), not a paged backfill."""
    from pyspark.sql import functions as F

    def fetch(token: str | None, last) -> tuple[list[dict], str | None]:
        df = table.read()
        if last:
            df = df.where(F.col(ts_col) > F.lit(str(last)).cast("timestamp"))
        key = table.manifest.key
        ktype = df.schema[key].dataType
        proj = df.select(
            F.col(key).alias("_k"),
            F.get_json_object(F.col("data"), f"$.{json_path}").alias("_b"),
        ).where(F.col("_b").isNotNull())
        if token is not None:
            proj = proj.where(F.col("_k") > F.lit(token).cast(ktype))
        rows = proj.orderBy("_k").limit(page_size).collect()
        items = [json.loads(r["_b"]) for r in rows]
        next_token = (
            str(rows[-1]["_k"]) if len(rows) == page_size else None
        )
        return items, next_token

    return fetch


def parallel_backfill(backfillers: Iterable[Backfiller], degree: int = 3) -> list[int]:
    """Thread-pool fan-out over independent backfillers
    (base.rb:1134-1192 ``_do_parallel_backfill``; e.g. aws_pricing = 3).

    Threads block on driver-side HTTP; Spark merges from different
    tables proceed concurrently through the shared scheduler.
    """
    with ThreadPoolExecutor(max_workers=degree) as pool:
        return list(pool.map(lambda b: b.backfill(), backfillers))
