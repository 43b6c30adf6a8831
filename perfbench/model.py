"""Reference model of a ``stripe_charge_v1`` table: a Python dict.

It replays each batch the package actually received under the
documented MERGE semantics, reading nothing but the envelope bodies:

1. intra-batch dedup: per key, the last arrival wins
   (``received_at``, then arrival position);
2. the winner inserts if the key is new, updates if
   ``table.updated < winner.updated``, and is kept unchanged otherwise.

Each replay returns the insert/update/keep counts the package's
``MergeResult`` must report for the same batch.
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import dataclass

# the table columns the model checks; a model row holds COLUMNS[1:]
COLUMNS = (
    "stripe_id", "amount", "balance_transaction", "billing_email", "created",
    "customer", "invoice", "payment_type", "receipt_email", "status", "updated",
)


def _ts(unix: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(unix, dt.timezone.utc).replace(tzinfo=None)


def parse(body: str) -> tuple[str, tuple]:
    """Body → (key, expected row values without the key)."""
    obj = json.loads(body)
    if obj.get("object") == "event":
        res, updated = obj["data"]["object"], obj["created"]
    else:
        res, updated = obj, obj["created"]
    return res["id"], (
        res["amount"],
        res["balance_transaction"],
        (res.get("billing_details") or {}).get("email"),
        _ts(res["created"]),
        res.get("customer"),
        res.get("invoice"),
        (res.get("payment_method_details") or {}).get("type"),
        res.get("receipt_email"),
        res["status"],
        _ts(updated),
    )


@dataclass
class Outcome:
    inserted: int
    updated: int
    noop: int
    stale_overrides: int


class ChargeModel:
    def __init__(self, n_buckets: int, bucket_of) -> None:
        self.rows: dict[str, tuple] = {}
        self.n_buckets = n_buckets
        self._bucket_of = bucket_of
        self._bucket_size = [0] * n_buckets
        self._bucket_cache: dict[str, int] = {}

    def bucket(self, key: str) -> int:
        b = self._bucket_cache.get(key)
        if b is None:
            b = self._bucket_cache[key] = self._bucket_of(key) % self.n_buckets
        return b

    def apply(self, bodies: list[str]) -> Outcome:
        """Replay one batch (bodies in arrival order)."""
        winners: dict[str, tuple] = {}
        newest: dict[str, object] = {}
        for body in bodies:
            key, row = parse(body)
            winners[key] = row  # later arrival replaces earlier
            if key not in newest or row[-1] > newest[key]:
                newest[key] = row[-1]
        ins = upd = overrides = 0
        for key, row in winners.items():
            cur = self.rows.get(key)
            if cur is None:
                ins += 1
                self.rows[key] = row
                self._bucket_size[self.bucket(key)] += 1
            elif cur[-1] < row[-1]:
                upd += 1
                self.rows[key] = row
            if newest[key] > row[-1] and (cur is None or cur[-1] < newest[key]):
                # a later, older redelivery displaced a version the
                # guard would have accepted
                overrides += 1
        touched = {self.bucket(k) for k in winners}
        in_buckets = sum(self._bucket_size[b] for b in touched)
        return Outcome(ins, upd, in_buckets - ins - upd, overrides)


def diff_rows(expected: dict[str, tuple], actual: dict[str, tuple],
              limit: int = 3) -> list[str]:
    """Human-readable mismatches between two key → row maps."""
    out = []
    for k in expected.keys() - actual.keys():
        out.append(f"missing {k}")
    for k in actual.keys() - expected.keys():
        out.append(f"unexpected {k}")
    for k in expected.keys() & actual.keys():
        if expected[k] != actual[k]:
            out.append(f"{k}: expected {expected[k]} got {actual[k]}")
        if len(out) >= limit:
            break
    return out[:limit]
