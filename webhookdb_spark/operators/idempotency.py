"""Keyed idempotent side-effect gate (reference:
lib/webhookdb/idempotency.rb).

The reference guards non-idempotent side effects — alert emails, sync
kickoffs, once-only migrations, log sampling — behind a keyed row:
``once_ever.under_key(k) { .. }`` runs the block at most once per key
ever, ``every(interval).under_key(k) { .. }`` at most once per key per
interval, both returning the block result when it ran and ``NOOP``
(or, with ``stored``, the JSON-round-tripped stored result) when
skipped. ``in_memory`` keeps the gate process-local.

Spark-first placement: this is DRIVER-side orchestration state, not
data-plane work — the same altitude as the cron scheduler
(sources/cron.py) and sync scheduling (sinks/sync_target.py) that use
exactly this pattern in the reference. Per-key state lives as one JSON
file in a warehouse-style directory; mutual exclusion across driver
processes reuses the storage layer's identity-verified O_EXCL lock
(the reference's ``FOR UPDATE`` row lock analog), held across the
callback so a concurrent caller blocks and then observes ``last_run``
— matching idempotency.rb:136-148, where the row lock covers the
yield. Because the callback can run arbitrarily long, the lock is held
with callback-sized parameters (block up to an hour, like FOR UPDATE)
and a mtime heartbeat that keeps a LIVE holder un-stealable while dead
holders still recover in ~2 minutes; ``finish`` refuses to record a
run whose lock was stolen mid-callback. The reference's in-transaction checks have no analog here (no
ambient transaction); ``using_seperate_connection`` degenerates to the
default path and is accepted as a no-op chain for API parity.

Semantics pinned against spec/webhookdb/idempotency_spec.rb in
tests/test_idempotency.py.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import threading
from collections.abc import Callable
from pathlib import Path
from typing import Any

from webhookdb_spark.storage import (
    ConcurrentWriteError,
    _ManifestLock,
    read_json,
    write_atomic,
)

#: Lock parameters sized for ARBITRARY-duration callbacks, not the
#: microsecond manifest-commit window _ManifestLock defaults to. A
#: waiter blocks up to LOCK_TIMEOUT and then observes last_run — the
#: analog of the reference's blocking FOR UPDATE (idempotency.rb:136) —
#: rather than erroring after 10s. Staleness (crash recovery) stays at
#: a couple of minutes because a LIVE holder heartbeats the lock mtime
#: every LOCK_STALE_AFTER/4 for as long as the callback runs, so only
#: a genuinely dead holder ever looks stale.
LOCK_TIMEOUT = 3600.0
LOCK_STALE_AFTER = 120.0


class _HeartbeatLock:
    """_ManifestLock held across a long-running callback: a daemon
    thread refreshes the lock file's mtime (same token bytes, so
    ``holds()`` and steal-verification are unaffected) while the lock
    is held, keeping a live holder un-stealable without inflating the
    crash-recovery window for dead ones."""

    def __init__(self, table_path: Path, timeout: float,
                 stale_after: float):
        self._inner = _ManifestLock(
            table_path, timeout=timeout, stale_after=stale_after)
        self._interval = stale_after / 4.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def holds(self) -> bool:
        return self._inner.holds()

    def _beat(self) -> None:
        while not self._stop.wait(self._interval):
            if not self._inner.holds():
                return  # stolen out from under us; stop touching
            try:
                os.utime(self._inner.lock_path)
            except OSError:
                # transient (EINTR-ish, fs hiccup): keep beating — a
                # permanent loss shows up as holds() False next round.
                # Returning here would leave a LIVE holder stale-able.
                continue

    def __enter__(self) -> "_HeartbeatLock":
        self._inner.__enter__()
        self._thread = threading.Thread(
            target=self._beat, name="idempotency-lock-heartbeat",
            daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()  # never touch mtime after release
        self._inner.__exit__(*exc)


class _Noop:
    def __repr__(self) -> str:  # pragma: no cover
        return "Idempotency.NOOP"


#: Returned when the gate skips the callback (the reference's :skipped).
NOOP = _Noop()


class Idempotency:
    """Factory bound to a state directory (and, for tests, a clock)."""

    NOOP = NOOP

    def __init__(self, root: str | Path,
                 now: Callable[[], dt.datetime] | None = None,
                 lock_timeout: float = LOCK_TIMEOUT,
                 lock_stale_after: float = LOCK_STALE_AFTER):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self._now = now or (lambda: dt.datetime.now(dt.timezone.utc))
        self._lock_timeout = lock_timeout
        self._lock_stale_after = lock_stale_after
        self._memory_cache: dict[str, dt.datetime] = {}
        self._memory_results: dict[str, Any] = {}

    def once_ever(self) -> "Builder":
        b = Builder(self)
        b._once_ever = True
        return b

    def every(self, interval: dt.timedelta) -> "Builder":
        b = Builder(self)
        b._every = interval
        return b


class Builder:
    """Chainable builder mirroring idempotency.rb's Builder."""

    def __init__(self, parent: Idempotency):
        self._parent = parent
        self._once_ever = False
        self._every: dt.timedelta | None = None
        self._stored = False
        self._in_memory = False
        self._key: str | None = None

    def stored(self) -> "Builder":
        self._stored = True
        return self

    def in_memory(self) -> "Builder":
        self._in_memory = True
        return self

    def transaction_ok(self) -> "Builder":  # API parity; no ambient txn
        return self

    def using_seperate_connection(self) -> "Builder":  # sic, as reference
        return self

    def under_key(self, key: str,
                  fn: Callable[[], Any] | None = None) -> Any:
        self._key = key
        if fn is not None:
            return self.execute(fn)
        return self

    # -- execution -----------------------------------------------------

    def execute(self, fn: Callable[[], Any]) -> Any:
        assert self._key is not None, "chain under_key(...) first"
        if self._in_memory:
            return self._run(fn, _InMemory(self._parent))
        return self._run(fn, _InFiles(self._parent))

    def _run(self, fn, db) -> Any:
        with db.lock(self._key):
            last_run, stored_result = db.read(self._key)
            if last_run is None:
                return self._update(fn, db)
            noop_result = stored_result if self._stored else NOOP
            if self._once_ever:
                return noop_result
            now = self._parent._now()
            if now < last_run + self._every:
                return noop_result
            return self._update(fn, db)

    def _update(self, fn, db) -> Any:
        result = fn()
        if self._stored:
            # the reference stores result.as_json and returns the
            # JSON-round-tripped value in all cases ({x: 1} → {"x": 1})
            result = json.loads(json.dumps(result))
        db.finish(self._key, self._parent._now(), self._stored, result)
        return result


class _InMemory:
    def __init__(self, parent: Idempotency):
        self._cache = parent._memory_cache
        self._store = parent._memory_results

    class _NullLock:
        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    def lock(self, key):  # process-local; GIL-atomic dict ops suffice
        return self._NullLock()

    def read(self, key):
        return self._cache.get(key), self._store.get(key)

    def finish(self, key, last_run, stored, result):
        self._cache[key] = last_run
        if stored:
            self._store[key] = result


class _InFiles:
    """One JSON state file per key; crash-consistent via
    ``storage.write_atomic``, serialized by the same identity-verified
    lock the manifest commit path uses."""

    def __init__(self, parent: Idempotency):
        self._root = parent.root
        self._lock_timeout = parent._lock_timeout
        self._lock_stale_after = parent._lock_stale_after
        self._held: _HeartbeatLock | None = None

    def _dir(self, key: str) -> Path:
        d = self._root / hashlib.sha256(key.encode()).hexdigest()[:24]
        d.mkdir(exist_ok=True)
        return d

    def lock(self, key: str):
        self._held = _HeartbeatLock(
            self._dir(key), timeout=self._lock_timeout,
            stale_after=self._lock_stale_after)
        return self._held

    def read(self, key: str):
        doc = read_json(self._dir(key) / "state.json", {})
        last = doc.get("last_run")
        return (
            dt.datetime.fromisoformat(last) if last else None,
            doc.get("stored_result"),
        )

    def finish(self, key: str, last_run: dt.datetime, stored: bool,
               result: Any) -> None:
        if self._held is not None and not self._held.holds():
            # Lock stolen mid-callback (holder stalled past staleness
            # despite the heartbeat — e.g. the whole process was
            # SIGSTOPped): the side effect already ran, but recording
            # the run would race the thief's own read-run-record cycle,
            # so surface the conflict instead of silently last-writing.
            raise ConcurrentWriteError(
                f"idempotency lock for key {key!r} was stolen during "
                "the callback; refusing to record the run")
        d = self._dir(key)
        doc: dict[str, Any] = {"key": key, "last_run": last_run.isoformat()}
        if stored:
            doc["stored_result"] = result
        else:  # preserve any previously stored result, like the SQL UPDATE
            _, prev = self.read(key)
            if prev is not None:
                doc["stored_result"] = prev
        write_atomic(d / "state.json", json.dumps(doc))
