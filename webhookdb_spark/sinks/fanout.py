"""Webhook-subscription fan-out: per-changed-row outbound delivery.

Reference (lib/webhookdb/webhook_subscription.rb:36-180,
base.rb:820-838): on each changed row, emit a ``rowupsert`` payload to
every active subscription URL; deliveries are tracked in a table with
attempt counts, retried with backoff up to 25 attempts, then abandoned.

Spark shape: the changed-row DataFrame (MERGE CDC output) is appended
to a durable delivery-queue table; a delivery pump drains pending rows
via ``foreachPartition``-style batches. At-least-once with a delivery
ledger is the honest contract (SURVEY §7) — consumers dedupe on
(subscription_id, row key, row timestamp).
"""

from __future__ import annotations

import json
import time
import uuid
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from pathlib import Path

from webhookdb_spark.storage import write_atomic

MAX_ATTEMPTS = 25  # webhook_subscription.rb:38
DELIVER_TIMEOUT = 10.0  # webhook_subscription.rb:36-38


@dataclass
class Subscription:
    id: str
    url: str
    secret: str = ""
    active: bool = True


Deliverer = Callable[[str, dict], None]
# (url, payload) -> None; raises on failure


@dataclass
class DeliveryLedger:
    """File-backed delivery queue (the webhook_subscription deliveries
    table analog). One JSON record per pending delivery."""

    path: Path

    def _load(self) -> list[dict]:
        if not self.path.exists():
            return []
        return [json.loads(l) for l in self.path.read_text().splitlines() if l]

    def _save(self, records: list[dict]) -> None:
        # default=str: row payloads carry timestamps/dates/decimals from
        # Spark rows; they serialize as ISO strings, matching the JSON
        # the reference POSTs (webhook_subscription.rb:74-110).
        write_atomic(
            self.path,
            "".join(json.dumps(r, default=str) + "\n" for r in records))

    def enqueue(self, sub_id: str, payload: dict) -> str:
        records = self._load()
        did = uuid.uuid4().hex
        records.append(
            {"id": did, "sub_id": sub_id, "payload": payload, "attempts": 0,
             "state": "pending"}
        )
        self._save(records)
        return did

    def pending(self) -> list[dict]:
        return [r for r in self._load() if r["state"] == "pending"]

    def mark(self, delivery_id: str, state: str, attempts: int) -> None:
        records = self._load()
        for r in records:
            if r["id"] == delivery_id:
                r["state"] = state
                r["attempts"] = attempts
        self._save(records)


@dataclass
class FanoutSink:
    subscriptions: list[Subscription]
    ledger: DeliveryLedger
    deliver: Deliverer
    max_attempts: int = MAX_ATTEMPTS
    backoff_base: float = 0.01  # scaled-down exponential backoff

    def on_rowupsert(self, changed_rows: Sequence[dict], *, integration_id: str,
                     table: str) -> None:
        """Enqueue one delivery per (changed row, active subscription)
        — the rowupsert event shape (base.rb:820-838)."""
        for sub in self.subscriptions:
            if not sub.active:
                continue
            for row in changed_rows:
                payload = {
                    "event": "rowupsert",
                    "integration_id": integration_id,
                    "table": table,
                    "row": row,
                }
                self.ledger.enqueue(sub.id, payload)

    def pump(self, max_rounds: int = 1) -> tuple[int, int]:
        """Attempt pending deliveries; returns (delivered, abandoned)."""
        subs = {s.id: s for s in self.subscriptions}
        delivered = abandoned = 0
        for _ in range(max_rounds):
            todo = self.ledger.pending()
            if not todo:
                break
            for rec in todo:
                sub = subs.get(rec["sub_id"])
                if sub is None or not sub.active:
                    self.ledger.mark(rec["id"], "abandoned", rec["attempts"])
                    abandoned += 1
                    continue
                attempts = rec["attempts"]
                try:
                    self.deliver(sub.url, rec["payload"])
                    self.ledger.mark(rec["id"], "delivered", attempts + 1)
                    delivered += 1
                except Exception:
                    attempts += 1
                    if attempts >= self.max_attempts:
                        self.ledger.mark(rec["id"], "abandoned", attempts)
                        abandoned += 1
                    else:
                        self.ledger.mark(rec["id"], "pending", attempts)
                        time.sleep(self.backoff_base * attempts)
        return delivered, abandoned
