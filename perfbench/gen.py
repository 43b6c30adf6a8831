"""Seeded input generator: Stripe charge webhooks (FIXTURES.md F2).

Everything here is plain Python driven by one ``random.Random(seed)``;
the package under test only ever sees the envelopes this module emits
(parquet pages on disk, or local rows for a micro-batch).

Payloads are bare charge resources or ``charge.updated`` event
envelopes (half each), with nullable fields, ten extra keys kept only
in ``data``, and sorted-key JSON. Every version of a key carries a
``created`` stamp no other version of that key has, so the
``updated < excluded.updated`` guard never sees a tie.
"""

from __future__ import annotations

import bisect
import json
import random
from dataclasses import dataclass

PRELOAD_STAMP0 = 1_600_000_000
STREAM_STAMP0 = 1_700_000_000
OPAQUE_ID = "svi_perfbench"

# stream key mix (shares of envelopes)
MIX = (("update", 0.80), ("new", 0.10), ("stale", 0.05), ("duplicate", 0.05))
ZIPF_S = 1.1

STATUSES = ("succeeded", "pending", "failed")
PAYMENT_TYPES = ("card", "ach_debit", "sepa_debit", "link")
CURRENCIES = ("usd", "eur", "gbp")


@dataclass(frozen=True)
class Envelope:
    """One delivery: ``kind`` is the generator's intent (the model never
    reads it; it re-derives outcomes from the body alone)."""

    body: str
    kind: str


class ChargeGen:
    """Key space, version stamps and payload bodies for one seed."""

    def __init__(self, seed: int, n_keys: int) -> None:
        self.rng = random.Random(seed)
        self.keys: list[str] = []
        self._ids: set[str] = set()
        self.stamps: dict[str, set[int]] = {}
        self.latest: dict[str, int] = {}
        self.clock = STREAM_STAMP0
        self.recent: list[str] = []
        for i in range(n_keys):
            self._new_key(PRELOAD_STAMP0 + i)
        # Zipf over the preloaded keys: rank r is drawn with weight
        # 1/r^s, and a seeded permutation maps ranks to keys so the hot
        # keys are spread over every bucket.
        acc, self._cdf = 0.0, []
        for r in range(1, n_keys + 1):
            acc += 1.0 / r ** ZIPF_S
            self._cdf.append(acc)
        self._rank_to_key = list(self.keys)
        self.rng.shuffle(self._rank_to_key)
        self._mix_cdf = []
        acc = 0.0
        for kind, share in MIX:
            acc += share
            self._mix_cdf.append((acc, kind))

    def _new_key(self, stamp: int) -> str:
        while True:
            k = f"ch_{self.rng.getrandbits(32):08x}"
            if k not in self._ids:
                break
        self._ids.add(k)
        self.keys.append(k)
        self.stamps[k] = {stamp}
        self.latest[k] = stamp
        return k

    def _zipf_key(self) -> str:
        u = self.rng.random() * self._cdf[-1]
        return self._rank_to_key[bisect.bisect_left(self._cdf, u)]

    def _tick(self) -> int:
        self.clock += self.rng.randint(1, 3)
        return self.clock

    def _hex(self, prefix: str) -> str:
        return f"{prefix}_{self.rng.getrandbits(32):08x}"

    def body(self, key: str, stamp: int) -> str:
        """One version of charge ``key`` stamped ``stamp``."""
        r = self.rng.getrandbits(96)  # 83 bits are drawn below

        def bits(n: int) -> int:
            nonlocal r
            v = r & ((1 << n) - 1)
            r >>= n
            return v

        email = f"{key[3:]}@example.com" if bits(4) < 11 else None
        resource = {
            "id": key,
            "object": "charge",
            "amount": 50 + bits(19),
            "balance_transaction": self._hex("txn"),
            "billing_details": {"email": email, "name": None},
            "created": stamp,
            "customer": self._hex("cus") if bits(4) < 11 else None,
            "invoice": self._hex("in") if bits(1) else None,
            "payment_method_details": {"type": PAYMENT_TYPES[bits(2)]},
            "receipt_email": email if bits(4) < 10 else None,
            "status": STATUSES[bits(4) % 3],
            # ten extra keys, kept only in `data`
            "amount_refunded": bits(6),
            "captured": bits(4) < 14,
            "currency": CURRENCIES[bits(4) % 3],
            "description": f"order {bits(20)}" if bits(1) else None,
            "livemode": False,
            "metadata": {"n": bits(3)},
            "outcome": {"type": "authorized", "risk_score": bits(6)},
            "paid": True,
            "refunded": False,
            "statement_descriptor": None,
        }
        if bits(1):
            payload = resource
        else:
            payload = {
                "object": "event",
                "id": self._hex("evt"),
                "type": "charge.updated",
                "created": stamp,
                "data": {"object": resource},
            }
        return json.dumps(payload, sort_keys=True)

    def preload_bodies(self) -> list[str]:
        return [self.body(k, self.latest[k]) for k in self.keys]

    def next_envelope(self) -> Envelope:
        u = self.rng.random()
        kind = next(k for acc, k in self._mix_cdf if u < acc)
        if kind == "duplicate" and not self.recent:
            kind = "update"
        if kind == "duplicate":
            body = self.rng.choice(self.recent[-64:])
            return Envelope(body, kind)
        if kind == "new":
            stamp = self._tick()
            key = self._new_key(stamp)
        elif kind == "update":
            key = self._zipf_key()
            stamp = self._tick()
            self.stamps[key].add(stamp)
            self.latest[key] = stamp
        else:  # stale: older than the newest version generated so far
            key = self._zipf_key()
            used = self.stamps[key]
            stamp = self.latest[key] - self.rng.randint(1, 50)
            while stamp in used:
                stamp -= 1
            used.add(stamp)
        body = self.body(key, stamp)
        self.recent.append(body)
        del self.recent[:-64]
        return Envelope(body, kind)


def poisson_offsets(rng: random.Random, rate: float, seconds: float) -> list[float]:
    """Seeded Poisson arrival offsets in ``[0, seconds)``."""
    out, t = [], 0.0
    while True:
        t += rng.expovariate(rate)
        if t >= seconds:
            return out
        out.append(t)
