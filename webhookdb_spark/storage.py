"""Managed replicated tables: hash-bucketed, manifest-versioned parquet.

The reference stores one Postgres table per integration, optionally
``PARTITION BY HASH(str2inthash(key))`` so upserts/deletes touch one
partition (lib/webhookdb/db_adapter/pg.rb:65-139,
lib/webhookdb/replicator/partitionable_mixin.rb). The Spark-native
equivalent here:

- Rows are hash-bucketed by ``pmod(str2inthash(partition_key), n_buckets)``
  — the exact same hash as the reference (vector-pinned), so key-routing
  predicates prune to a single bucket on both systems.
- Each bucket directory is versioned (``buckets/<k>/v<txn>/``) with a
  table-level ``_manifest.json`` mapping bucket → current version. A MERGE
  rewrites only the buckets the batch touches and then atomically swaps
  the manifest — snapshot isolation without rewriting unaffected data.
  This is a minimal file-based stand-in for what Delta/Iceberg provide on
  a real cluster; the MERGE call-sites would translate 1:1 to
  ``MERGE INTO`` on Delta.

At 100 TB: n_buckets is sized so each bucket is a few GB (e.g. 4096+
buckets); an upsert batch touching K distinct keys reads/writes at most
K buckets, not the table. Bucket pruning happens by path selection, which
is strictly stronger than relying on min/max stats.

CRASH-CONSISTENCY CONTRACT — what an operator built on this module may
assume without re-deriving it (each guarantee is pinned by the cited
tests):

===================  =======================================================
Guarantee            Mechanism / test
===================  =======================================================
State files are      ``write_atomic`` is the one commit path for small
ATOMIC               state files: a writer-unique tmp file, fsync,
                     ``os.replace``, directory fsync — a reader (or a
                     concurrent writer) sees the old or the new file,
                     never a torn or missing one. Users: the manifest
                     (``Manifest.save``), ``VersionedState``'s
                     ``meta.json`` (IVM and SCD2 maintainers), sync
                     state, backfill cursors, migration state, the
                     delivery ledger, idempotency ``state.json``, and the
                     span/inverted-index/LSH/IVF/PQ/IVF-PQ/PCA metas.
                     ``read_json`` is the matching read. Sole exception:
                     ``IntegrationSequence._reserve``, whose stolen-lock
                     check sits between its tmp write and its replace.
                     tests/test_state_files.py (racing writers and
                     readers, guard scan).
Commit is CAS        ``_cas_save`` is the one verify→save: under
(exactly one         ``_ManifestLock`` it re-checks the planned txn and
winner)              ``holds()``; of N racing writers exactly one
                     commits, losers raise ``ConcurrentWriteError`` and
                     roll back ONLY their writer-unique
                     ``v{txn}_{wtoken}`` dirs — a loser can never delete
                     a winner's data. Users: ``overwrite_buckets`` and
                     ``add_columns``' schema save. Every write plans from
                     one manifest load and CASes against it
                     (``expected_txn``), so a commit landing after that
                     load fails it too: ``merge_upsert``,
                     ``add_columns``, and ``_rewrite_buckets`` — the one
                     non-MERGE bucket rewrite (read the snapshot's
                     buckets, row transform, counts as an Observation on
                     the write)
                     behind ``delete_where``, ``delete_stale_rows``,
                     ``cancellation_sweep``, the iCalendar sweep and
                     ``delete_calendar_cascade``.
                     tests/test_manifest_lock.py::
                     test_steal_storm_mutual_exclusion, tests/
                     test_upsert.py (CAS pins the planning snapshot).
Bucket routing       The manifest records the routing column at
has one owner        ``create(part_key=...)`` (absent = the key, so older
                     manifests route as before); ``Manifest.bucket_col``
                     (a row's bucket) and ``Manifest.buckets_for`` (the
                     buckets of driver-side values, or every bucket when
                     the column is not the routing one) are the only
                     routing, used by MERGE, ``overwrite_all``,
                     ``add_columns``, ``_rewrite_buckets`` and the key
                     reads.
                     ``merge_upsert`` raises ``ValueError`` when its
                     spec routes by another column. tests/
                     test_routing.py.
Lock steal is        A stealer measures (stat→read→stat, same-incarnation
identity-verified    check), renames the lock aside, re-verifies the stale
                     content, and restores a fresh lock via ``os.link`` on
                     mismatch; a victim whose lock was broken fails
                     ``holds()`` and aborts rather than commit.
                     tests/test_manifest_lock.py (fresh-acquirer restore,
                     TOCTOU incarnation check).
Readers are          A reader resolves the manifest ONCE and reads only
snapshot-isolated    the version dirs that snapshot names; a concurrent
(keep_versions>=1)   commit creates NEW ``v{txn}_{wtoken}`` dirs and GC
                     deletes only dirs a retained snapshot references —
                     a mid-compaction/mid-merge reader keeps a complete,
                     consistent file list PROVIDED its snapshot is
                     retained. At the default ``keep_versions=0`` GC
                     reclaims the superseded dirs at commit, so a
                     reader mid-scan across a concurrent overwrite of
                     the same bucket can hit FileNotFound (retry by
                     re-resolving the manifest); size retention to the
                     longest expected scan. tests/test_upsert.py
                     (time travel / keep_versions).
Staging is           Data lands in a writer-unique ``_staging_*`` dir and
invisible until      is promoted by per-bucket ``os.replace``; nothing
commit               under ``buckets/`` is referenced until the manifest
                     flip, so a crash mid-write leaves garbage dirs but a
                     correct table (garbage is bounded by wtoken
                     uniqueness and removed by the next writer's abort
                     path or GC). A MERGE's change set is staged by the
                     same write and promoted to ``_changes/txn_N`` only
                     after the flip, so a loser or a crash before the
                     flip leaves no change set. tests/
                     test_change_capture.py (CAS loser).
Retries are          A re-run of a failed MERGE re-plans from the current
idempotent           manifest; committed effects are keyed by txn, so
                     replaying an uncommitted batch cannot double-apply.
                     tests/test_streaming_ingest.py (effectively-once).
Replica swap keeps   ``DatabaseSyncTarget`` stages a sync's merged
the replica          replica in ``<dest>.staging``, sets the live one
                     aside as ``<dest>.old``, then renames the staged dir
                     in; a crash or failed rename between the two leaves
                     ``<dest>.old``, which the next run restores before
                     merging (the watermark has not moved, so it
                     re-merges the same window). tests/
                     test_backfill_sync.py (failed swap rename).
===================  =======================================================
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
import dataclasses
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webhookdb_spark.functions.converters import CONV_STR2HASH, str2inthash_py
from webhookdb_spark.operators.util import memo_col

PART_COL = "_part"
# Reserved PART_COL values: staged like a bucket, never promoted into
# buckets/. DISCARD_PART rows are dropped with the staging dir (they keep
# a written plan non-empty so its Observations materialize);
# CHANGES_PART rows become the committed txn's change set
# (``overwrite_buckets(..., capture_changes=True)``).
DISCARD_PART = -1
CHANGES_PART = -2


class ConcurrentWriteError(RuntimeError):
    """A concurrent writer committed a manifest txn while this write
    was staging; the caller must reload the table state and retry."""


class _ManifestLock:
    """O_EXCL lock file serializing the manifest verify→save window.

    The commit decision (``current.txn == planned.txn`` then save) must
    be atomic: without the lock, two writers that both planned from txn
    N can both pass the check and both save (last save silently orphans
    the first writer's bucket dirs). The lock is held only for the
    microseconds of one JSON read + one JSON write, so contention is
    resolved by a short spin; a crashed holder is detected by lock age
    and the stale lock is broken.

    Identity-verified steal: every acquire writes a unique token
    (pid + uuid) into the lock file. A stealer captures the victim's
    (content, mtime) BEFORE renaming the lock aside, then re-verifies
    the renamed file still carries exactly that stale content. If the
    old holder released and a NEW writer acquired between the staleness
    stat and the rename, the contents differ — the stealer restores the
    fresh lock with ``os.link`` (which, unlike rename-back, can never
    clobber a lock acquired while the path was vacant) and loses the
    steal. Release and commit both verify the file still holds our own
    token (``holds()``) so a writer whose lock was broken underneath it
    can never unlink someone else's lock or commit a manifest.
    """

    def __init__(self, table_path: Path, timeout: float = 10.0,
                 stale_after: float = 60.0,
                 lock_name: str = "_manifest.lock"):
        self.lock_path = table_path / lock_name
        self.timeout = timeout
        self.stale_after = stale_after
        self.token = f"{os.getpid()}.{uuid.uuid4().hex}".encode()

    def holds(self) -> bool:
        """True iff the lock file still carries OUR token (it can be
        stolen out from under a holder that stalls past stale_after)."""
        try:
            return self.lock_path.read_bytes() == self.token
        except OSError:
            return False

    def __enter__(self) -> "_ManifestLock":
        import time

        deadline = time.monotonic() + self.timeout
        # Spin fast for the microsecond manifest-commit window, then
        # back off geometrically toward 1s: idempotency holders keep
        # this lock for whole callbacks (timeout up to an hour), and a
        # flat 10ms poll would cost a blocked waiter ~100 stat+read
        # syscall rounds per second for the duration.
        sleep = 0.01
        while True:
            try:
                fd = os.open(
                    self.lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                os.write(fd, self.token)
                os.close(fd)
                return self
            except FileExistsError:
                try:  # break locks abandoned by a crashed writer
                    # stat → read → stat: age and observed must describe
                    # the SAME lock incarnation. Without the second stat
                    # there is a TOCTOU — the stale holder releases and a
                    # fresh writer acquires between the first stat and
                    # the read, so age reflects the abandoned lock while
                    # observed captures the fresh token, and the steal's
                    # content check below would "verify" and destroy an
                    # active lock (the victim aborts via holds(), safe
                    # but spuriously failed).
                    st = self.lock_path.stat()
                    observed = self.lock_path.read_bytes()
                    st2 = self.lock_path.stat()
                    if (st2.st_ino, st2.st_mtime) != (st.st_ino, st.st_mtime):
                        continue  # lock changed incarnation mid-measure
                    age = time.time() - st.st_mtime
                    if age > self.stale_after:
                        # Steal in two steps: rename the lock to a
                        # unique name (serializes concurrent stealers —
                        # rename fails for all but one), then VERIFY
                        # the renamed file is the same stale lock we
                        # measured. Between the stat and the rename the
                        # old holder can release and a new writer
                        # O_EXCL-acquire a fresh lock; a blind unlink
                        # here would destroy that fresh lock and admit
                        # two writers. The content token disambiguates:
                        # mismatch → we grabbed a fresh lock → give it
                        # back via link() and retry as a loser.
                        steal = self.lock_path.with_suffix(
                            f".steal.{os.getpid()}.{time.monotonic_ns()}"
                        )
                        try:
                            self.lock_path.rename(steal)
                        except OSError:
                            continue  # lost the steal race; re-acquire
                        try:
                            stolen = steal.read_bytes()
                        except OSError:
                            stolen = None
                        if stolen != observed:
                            # Fresh-acquirer race hit: restore. link()
                            # fails (harmlessly) if yet another writer
                            # acquired while the path was vacant — the
                            # victim then loses its lock, but holds()
                            # stops it from committing or unlinking.
                            try:
                                os.link(steal, self.lock_path)
                            except OSError:
                                pass
                        steal.unlink(missing_ok=True)
                        continue
                except OSError:
                    pass  # holder released between exists and stat
                if time.monotonic() > deadline:
                    raise ConcurrentWriteError(
                        f"manifest lock {self.lock_path} held past "
                        f"{self.timeout}s; reload and retry"
                    ) from None
                time.sleep(sleep)
                sleep = min(sleep * 1.5, 1.0)

    def __exit__(self, *exc) -> None:
        # Release with the same rename-and-verify shape as the steal
        # path: a bare holds()-then-unlink is a TOCTOU — a stealer can
        # swap in ITS fresh lock between our read and our unlink, and
        # the blind unlink would destroy that fresh lock and admit two
        # writers (r13 code review). rename serializes against every
        # other rename/acquire; the token check decides whose lock we
        # actually took off the path.
        rel = self.lock_path.with_suffix(
            f".rel.{os.getpid()}.{uuid.uuid4().hex}")
        try:
            self.lock_path.rename(rel)
        except OSError:
            return  # already stolen and released; nothing of ours left
        try:
            content = rel.read_bytes()
        except OSError:
            content = None
        if content != self.token:
            # we grabbed a stealer's fresh lock — put it back (link
            # fails harmlessly if yet another writer acquired
            # meanwhile; that stealer's holds() check protects it)
            try:
                os.link(rel, self.lock_path)
            except OSError:
                pass
        rel.unlink(missing_ok=True)


_REQUIRED = object()


def read_json(path: Path, default=_REQUIRED):
    """Parse the JSON file at ``path``. A missing file returns
    ``default``, or raises ``FileNotFoundError`` when none is given."""
    try:
        return json.loads(Path(path).read_text())
    except FileNotFoundError:
        if default is _REQUIRED:
            raise
        return default


def write_atomic(path: Path, text: str) -> None:
    """Atomically and durably replace the file at ``path`` with
    ``text``, creating its directory if needed: every small state file
    (manifest, watermarks, cursors, meta pointers) is committed here.

    The tmp name is writer-unique, so concurrent writers never share
    (and rename away) one another's tmp file, and ``os.replace`` means a
    reader sees the old or the new text, never a torn or missing file.
    File and directory are fsynced around the rename: without it a
    power loss can persist the rename metadata ahead of the tmp file's
    data blocks, leaving a zero-length or torn file."""
    path = Path(path)
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_name(f"{path.name}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)
    try:
        dfd = os.open(path.parent, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass  # some filesystems refuse directory fsync


class VersionedState:
    """A feed consumer's state as ``path/v_<txn>/`` generations behind
    the ``path/meta.json`` pointer ``{"watermark": txn, "current":
    "v_<txn>"}`` (watermark 0 and no current before the first commit).

    A run writes its new generation in full, then ``_commit`` flips the
    pointer with :func:`write_atomic` and deletes every generation but
    the new one and the one it replaced, so a reader still holding the
    old pointer never sees missing files."""

    def __init__(self, spark: SparkSession, path: str | Path) -> None:
        self.spark = spark
        self.path = Path(path)

    def _meta(self) -> dict:
        return read_json(self.path / "meta.json",
                         {"watermark": 0, "current": None})

    @property
    def watermark(self) -> int:
        return int(self._meta()["watermark"])

    def _read(self, part: str = "", schema=None) -> DataFrame | None:
        """``part`` of the current generation, or None before the first
        commit; ``schema`` skips footer schema inference."""
        current = self._meta()["current"]
        if not current:
            return None
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(str(self.path / current / part))

    def _advance(self, txn: int, current: str) -> None:
        """Move the watermark to ``txn`` and point meta.json at the
        generation ``current``."""
        write_atomic(self.path / "meta.json",
                     json.dumps({"watermark": txn, "current": current}))

    def _commit(self, txn: int, replaced: str | None) -> None:
        """Point meta.json at the fully written ``v_<txn>`` and drop all
        generations but it and ``replaced`` (the previous current)."""
        new = f"v_{txn}"
        self._advance(txn, new)
        for p in self.path.iterdir():
            if p.name.startswith("v_") and p.name not in (new, replaced):
                shutil.rmtree(p, ignore_errors=True)


def bucket_expr(key_col: str, n_buckets: int):
    """pmod(str2inthash(key), n) — reference partition routing
    (partitionable_mixin.rb:49-54); managed tables route through
    ``Manifest.bucket_col``, never by a column of their own. Memoized: the expression is a pure
    immutable tree of (key_col, n_buckets) and the ingest composites
    rebuild it several times per MERGE cycle (guide §5 driver work)."""
    return memo_col(
        ("bucket_expr", key_col, n_buckets),
        lambda: F.pmod(
            CONV_STR2HASH.spark(F.col(key_col).cast("string")), F.lit(n_buckets)
        ),
    )


@dataclass
class Manifest:
    key: str
    n_buckets: int
    txn: int
    buckets: dict[str, str]  # bucket id -> relative data dir
    schema_json: str
    # optional (a, b) integer columns to Z-order within each bucket on
    # write — default None keeps pre-existing manifests loading as-is
    zorder: list[str] | None = None
    # time travel: how many superseded snapshots to retain (0 = GC
    # immediately, the pre-r7 behavior) and the retained snapshots
    # themselves, newest first, each {"txn": N, "buckets": {...}}.
    # Defaults keep pre-existing manifests loading unchanged.
    keep_versions: int = 0
    history: list[dict] | None = None
    # zone maps: optional per-bucket column min/max for range-predicate
    # bucket pruning (the manifest-level analog of parquet footer
    # stats — prunes DIRECTORIES before any file is listed). Tracked
    # columns are declared at create(); stats refresh on every bucket
    # write. int/double/string columns only (JSON-portable ordering).
    zonemap_cols: list[str] | None = None
    zonemaps: dict | None = None  # bucket id -> {col: [min, max]}
    # bucket routing column, fixed at create(); None (and every manifest
    # written before the field existed) routes by ``key``
    part_key: str | None = None

    @classmethod
    def load(cls, path: Path) -> "Manifest":
        return cls(**read_json(path / "_manifest.json"))

    def save(self, path: Path) -> None:
        write_atomic(path / "_manifest.json", json.dumps(self.__dict__))

    @property
    def route_col(self) -> str:
        return self.part_key or self.key

    def bucket_col(self) -> Column:
        """The bucket of each row: every write that routes rows to
        buckets computes ``PART_COL`` with this."""
        return bucket_expr(self.route_col, self.n_buckets)

    def buckets_for(self, col: str, values) -> list[int] | None:
        """The buckets that can hold rows whose ``col`` is one of the
        driver-side ``values``: one per value when ``col`` is the
        routing column, else None (any bucket may, scan them all)."""
        if col != self.route_col:
            return None
        return sorted({str2inthash_py(str(v)) % self.n_buckets
                       for v in values})

    def zonemap_candidates(
        self, col: str, lo, hi, hi_inclusive: bool = True
    ) -> list[int] | None:
        """Bucket ids that MAY hold rows with ``col`` in ``[lo, hi]``
        (``[lo, hi)`` when ``hi_inclusive=False``), by the zone maps.
        ``None`` = column untracked, caller must scan every bucket.
        Conservative: buckets without stats are candidates; overlapping
        ranges are never skipped; an all-NULL bucket (min is NULL) is
        skipped — no range predicate matches NULL."""
        if col not in (self.zonemap_cols or []):
            return None
        zm = self.zonemaps or {}
        keep: list[int] = []
        for b in self.buckets:
            stats = (zm.get(b) or {}).get(col)
            if stats is None:
                keep.append(int(b))
                continue
            mn, mx = stats
            if mn is None:
                continue
            # Incomparable stats vs bounds (e.g. a numeric tracked
            # column probed with string cutoffs) must degrade to "may
            # hold rows", not raise — pruning is an optimization and
            # the residual filter keeps results exact either way.
            try:
                if mx < lo:
                    continue
                if (mn > hi) if hi_inclusive else (mn >= hi):
                    continue
            except TypeError:
                pass
            keep.append(int(b))
        return keep


class ManagedTable:
    """One replicated table on disk."""

    def __init__(self, spark: SparkSession, path: str | Path):
        self.spark = spark
        self.path = Path(path)

    # -- lifecycle ---------------------------------------------------------
    def exists(self) -> bool:
        return (self.path / "_manifest.json").exists()

    def create(
        self,
        schema: T.StructType,
        key: str,
        n_buckets: int = 16,
        zorder: tuple[str, ...] | None = None,
        keep_versions: int = 0,
        zonemap_cols: tuple[str, ...] | None = None,
        part_key: str | None = None,
    ) -> None:
        """``part_key`` is the column rows are bucketed by (default: the
        key), fixed for the table's life. ``zorder=(a, b[, c[, d]])``
        declares 2-4 integer columns to Morton-sort within every bucket
        on each write (see
        ``overwrite_buckets``); parquet min/max stats per file then
        stay narrow on EVERY listed column, so predicate reads on any
        of the dimensions skip files. 2 columns allow values < 2^31;
        3-4 columns < 2^15 (zorder_key4's slice bound)."""
        if zorder is not None and not 2 <= len(zorder) <= 4:
            raise ValueError("zorder takes 2-4 columns")
        if zonemap_cols:
            ok = ("integer", "long", "short", "byte", "double", "float",
                  "string")
            by_name = {f.name: f.dataType.typeName() for f in schema.fields}
            for c in zonemap_cols:
                if by_name.get(c) not in ok:
                    raise ValueError(
                        f"zonemap column {c!r} must exist with a numeric or "
                        f"string type (got {by_name.get(c)})"
                    )
        self.path.mkdir(parents=True, exist_ok=True)
        Manifest(
            key=key,
            n_buckets=n_buckets,
            txn=0,
            buckets={},
            schema_json=schema.json(),
            zorder=list(zorder) if zorder else None,
            keep_versions=keep_versions,
            history=[] if keep_versions else None,
            zonemap_cols=list(zonemap_cols) if zonemap_cols else None,
            zonemaps={} if zonemap_cols else None,
            part_key=part_key if part_key != key else None,
        ).save(self.path)

    def drop(self) -> None:
        if self.path.exists():
            shutil.rmtree(self.path)

    @property
    def manifest(self) -> Manifest:
        return Manifest.load(self.path)

    def schema(self) -> T.StructType:
        return T.StructType.fromJson(json.loads(self.manifest.schema_json))

    # -- read --------------------------------------------------------------
    def read(
        self, buckets: list[int] | None = None, at_txn: int | None = None
    ) -> DataFrame:
        """Current snapshot; ``buckets`` restricts to those hash buckets
        (path-level pruning — the scan never opens other buckets).
        ``at_txn`` time-travels to a RETAINED snapshot (the table must
        have been created with ``keep_versions`` > 0 and the snapshot
        still within the retention window); reads use the current
        schema — evolution is additive-only, so older files surface
        NULLs for later columns."""
        m = self.manifest
        if at_txn is not None and at_txn != m.txn:
            for snap in m.history or []:
                if snap["txn"] == at_txn:
                    m = Manifest(
                        key=m.key, n_buckets=m.n_buckets, txn=at_txn,
                        buckets=snap["buckets"], schema_json=m.schema_json,
                    )
                    break
            else:
                raise ValueError(
                    f"txn {at_txn} is not a retained snapshot (retained: "
                    f"{[s['txn'] for s in m.history or []]} + {m.txn})"
                )
        return self._scan(m, buckets)

    def _scan(self, m: Manifest, buckets: list[int] | None = None
              ) -> DataFrame:
        """The files snapshot ``m`` names for ``buckets`` (all when
        None), read with its schema."""
        sel = m.buckets if buckets is None else {
            str(b): m.buckets[str(b)] for b in buckets if str(b) in m.buckets
        }
        paths = [str(self.path / rel) for rel in sel.values()]
        schema = T.StructType.fromJson(json.loads(m.schema_json))
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def read_where_range(self, col: str, lo, hi) -> DataFrame:
        """Range-predicate read with ZONE-MAP bucket pruning: buckets
        whose tracked [min, max] for ``col`` cannot intersect
        [lo, hi] are never opened (directory-level skipping, one step
        above parquet footer stats). HONEST CAVEAT: buckets are HASH
        partitions, so pruning pays only when the tracked column
        CORRELATES with the key's hash-cohort (tenant-homogeneous
        buckets, per-key monotone values) — a column uniform across
        keys spans every bucket and prunes nothing (the same reason
        Delta file stats need clustering to bite; WITHIN a bucket,
        the declared ``zorder`` sort + parquet footers do the
        file-level skipping instead). Conservative by construction:
        buckets with no stats (untracked column, or data written
        before the table declared zone maps) are always read; a
        bucket whose min is NULL holds only NULLs in ``col`` and is
        skipped (a BETWEEN never matches NULL). The residual between
        filter still applies, so results are exact regardless of
        pruning."""
        keep = self.zonemap_candidates(col, lo, hi)
        if keep is None:
            return self.read().where(F.col(col).between(F.lit(lo), F.lit(hi)))
        return self.read(buckets=keep).where(
            F.col(col).between(F.lit(lo), F.lit(hi))
        )

    def zonemap_candidates(
        self, col: str, lo, hi, hi_inclusive: bool = True
    ) -> list[int] | None:
        """:meth:`Manifest.zonemap_candidates` of the current snapshot."""
        return self.manifest.zonemap_candidates(col, lo, hi, hi_inclusive)

    def read_for_key(self, key_value: str) -> DataFrame:
        """Key-routing read: prune to the single bucket owning the key
        (partitionable_mixin.rb:49-54 parity) when the table routes by
        its key; a table routed by another column scans every bucket."""
        m = self.manifest
        return self._scan(m, m.buckets_for(m.key, [key_value])).where(
            F.col(m.key) == F.lit(key_value))

    def read_for_keys(self, key_values: list[str]) -> DataFrame:
        """IN-list key routing: prune to the union of the buckets
        owning any of the keys — a 1000-key lookup against a
        4096-bucket table opens at most 1000 bucket dirs, not the
        table — then the residual isin filter pushes into those
        scans."""
        m = self.manifest
        vals = [str(v) for v in key_values]
        return self._scan(m, m.buckets_for(m.key, vals)).where(
            F.col(m.key).isin(vals))

    # -- write -------------------------------------------------------------
    def overwrite_buckets(
        self, df: DataFrame, buckets: list[int],
        extra_cols: list[str] | None = None,
        expected_txn: int | None = None,
        capture_changes: bool = False,
    ) -> tuple[int, dict[str, str]]:
        """Swap in new data for the given buckets; df must carry PART_COL.
        Returns ``(committed_txn, {bucket_id: rel_dir})`` for the
        written buckets — callers needing the just-committed files
        must use this instead of re-reading ``self.manifest``, which a
        concurrent writer may have advanced past this commit in the
        meantime.

        Writes the new bucket files under a fresh writer-unique version
        directory, then atomically replaces the manifest — readers of
        the old snapshot keep their file list. ``extra_cols`` are
        written into the files beyond the declared schema (reads with
        an explicit schema prune them; MERGE uses this to persist its
        action tag in one pass).

        Concurrency: optimistic, with a safe loser. Version dirs are
        ``buckets/<b>/v<txn>_<writer-uuid>`` so two writers planning
        from the same txn never share a path — the loser can only ever
        delete its own dirs, never the winner's committed data. The
        manifest txn is verified BEFORE staged dirs are promoted (early
        abort) and again INSIDE an O_EXCL lock-file critical section
        around the verify→save pair, which makes the commit a true
        compare-and-swap. Losers raise :class:`ConcurrentWriteError`
        after removing only their own staging/version dirs.

        ``expected_txn`` pins the CAS baseline to a snapshot the CALLER
        already holds (r13 ADVICE: add_columns' TOCTOU): when given,
        the write aborts unless the manifest is still at exactly that
        txn at plan time, so a ``df`` derived from the caller's
        snapshot can never overwrite a commit that landed between the
        caller's manifest load and this call.

        ``capture_changes=True`` turns the rows ``df`` routes to the
        reserved ``CHANGES_PART`` partition into the change set of the
        committed txn: that partition is staged by the same write as
        the buckets, and right after the manifest CAS one ``os.replace``
        promotes its dir to ``_changes/txn_<committed txn>`` (an empty
        dir when no row was routed there, so every captured txn is
        listed). A loser's staged change set goes with its staging dir,
        so an aborted write leaves no ``_changes`` entry. Rows routed to
        any other unlisted partition (``DISCARD_PART``) are dropped.
        """
        m = self.manifest
        if expected_txn is not None and m.txn != expected_txn:
            raise ConcurrentWriteError(
                f"manifest advanced past caller snapshot txn "
                f"{expected_txn} -> {m.txn}; reload and retry"
            )
        txn = m.txn + 1
        wtoken = uuid.uuid4().hex[:8]
        staging = self.path / f"_staging_{txn}_{wtoken}"
        out = df.select(
            *[f.name for f in self.schema().fields], *(extra_cols or []), PART_COL
        )
        # Zone-map refresh rides the staged write as an Observation
        # (guide §5: fuse driver actions): per listed bucket, a count
        # (so an empty bucket drops its stats, exactly like the old
        # staged-files re-read) and min/max per tracked column,
        # restricted by the same listed-bucket condition the old
        # `.where(PART_COL isin buckets)` enforced — stray partitions
        # and the reserved DISCARD_PART/CHANGES_PART rows never leak
        # into stats.
        # This replaces a whole post-write read job per commit. With no
        # listed bucket there is nothing to observe (and observe() refuses
        # zero expressions).
        zm_cols = getattr(m, "zonemap_cols", None) if buckets else None
        zm_obs = None
        if zm_cols:
            # A discarded sentinel row keeps the observed plan non-empty
            # when every listed bucket is rewritten empty — the same
            # guard as _rewrite_buckets': empty-relation propagation could
            # otherwise drop the CollectMetrics node and zm_obs.get
            # would fail.
            out = out.unionByName(self._sentinel(out.schema, DISCARD_PART))
            zm_obs = Observation()
            zm_aggs = []
            for b in buckets:
                bb = int(b)
                cond = F.col(PART_COL) == bb
                zm_aggs.append(
                    F.count(F.when(cond, F.lit(1))).alias(f"n_{bb}")
                )
                for c in zm_cols:
                    v = F.when(cond, F.col(c))
                    zm_aggs.append(F.min(v).alias(f"mn_{bb}_{c}"))
                    zm_aggs.append(F.max(v).alias(f"mx_{bb}_{c}"))
        out = out.repartition(max(len(buckets), 1), F.col(PART_COL))
        if zm_obs is not None:
            # observed BEFORE the optional zorder sort so the sort stays
            # the write's direct child (file-level Morton clustering
            # depends on that ordering reaching the writer)
            out = out.observe(zm_obs, *zm_aggs)
        if m.zorder:
            # Morton-sort within each bucket task: with a rolling
            # maxRecordsPerFile (or parquet's own row groups) every
            # produced file covers one contiguous Z range, so its
            # min/max stats are narrow on BOTH zorder columns and scans
            # filtering on either one skip it. Sort keys are
            # expressions — nothing extra lands in the files.
            from webhookdb_spark.operators.layout import (
                zorder_key,
                zorder_key4,
            )

            zcols = list(m.zorder)
            if len(zcols) == 2:
                zkey = zorder_key(F.col(zcols[0]), F.col(zcols[1]))
            else:
                # 3 or 4 dims: pad to 4 with a zero column (bits idle,
                # order restricted to the real dims is still Morton);
                # zorder_key4 bounds each dim to 2^15
                padded = [F.col(c) for c in zcols] + [
                    F.lit(0).cast("long")
                ] * (4 - len(zcols))
                zkey = zorder_key4(*padded)
            out = out.sortWithinPartitions(F.col(PART_COL), zkey)
        (
            out.write.partitionBy(PART_COL)
            .mode("overwrite")
            # staging dir is fresh (txn+writer-unique): the session-wide
            # dynamic overwrite mode would route this through the slower
            # per-partition commit for nothing
            .option("partitionOverwriteMode", "static")
            .parquet(str(staging))
        )
        def _abort(reason: str) -> None:
            # Loser cleanup touches ONLY this writer's paths: staging
            # plus v{txn}_{wtoken} dirs (writer-unique, so a winner's
            # committed v{txn}_{other} data is never at risk).
            shutil.rmtree(staging, ignore_errors=True)
            for bb in buckets:
                shutil.rmtree(self.path / f"buckets/{bb}/v{txn}_{wtoken}",
                              ignore_errors=True)
            raise ConcurrentWriteError(reason)

        # Early verify BEFORE promoting staged dirs: a concurrent commit
        # means this write planned from a superseded snapshot — abort
        # without ever touching buckets/.
        current = Manifest.load(self.path)
        if current.txn != m.txn:
            _abort(
                f"manifest advanced txn {m.txn} -> {current.txn} before "
                "promote; reload and retry"
            )
        # Zone-map refresh for the written buckets, read from the
        # Observation that rode the staged write (values are the same
        # rows the old staged-files re-read aggregated; an all-NULL
        # column in a non-empty bucket stores [None, None] exactly as
        # the groupBy row did). Buckets written empty lose their stats;
        # untouched buckets keep theirs.
        new_zonemaps = dict(getattr(m, "zonemaps", None) or {})
        if zm_cols:
            vals = zm_obs.get
            for b in buckets:
                bb = int(b)
                bid = str(b)
                if vals[f"n_{bb}"]:
                    new_zonemaps[bid] = {
                        c: [vals[f"mn_{bb}_{c}"], vals[f"mx_{bb}_{c}"]]
                        for c in zm_cols
                    }
                else:
                    new_zonemaps.pop(bid, None)
        new_buckets = dict(m.buckets)
        for b in buckets:
            src = staging / f"{PART_COL}={b}"
            rel = f"buckets/{b}/v{txn}_{wtoken}"
            dst = self.path / rel
            dst.parent.mkdir(parents=True, exist_ok=True)
            if src.exists():
                os.replace(src, dst)
            else:  # bucket became empty (e.g. all rows deleted)
                dst.mkdir(parents=True, exist_ok=True)
            new_buckets[str(b)] = rel
        # Retention: the superseded snapshot joins the history, the
        # oldest entries beyond keep_versions drop out, and GC deletes
        # only dirs no retained snapshot (nor the new manifest)
        # references — keep_versions=0 degenerates to immediate GC.
        keep = getattr(m, "keep_versions", 0) or 0
        prior = [{"txn": m.txn, "buckets": dict(m.buckets)}] + list(
            m.history or []
        )
        new_history = prior[:keep] if keep else []
        dropped = prior[keep:] if keep else prior
        referenced = set(new_buckets.values())
        for snap in new_history:
            referenced.update(snap["buckets"].values())
        try:
            # dataclasses.replace carries EVERY manifest field (zorder,
            # zonemap declarations, ...) — a hand-listed constructor
            # here once silently dropped new fields on rewrite
            self._cas_save(m, dataclasses.replace(
                m,
                txn=txn,
                buckets=new_buckets,
                keep_versions=keep,
                history=new_history if keep else m.history,
                zonemaps=new_zonemaps if zm_cols else getattr(
                    m, "zonemaps", None),
            ))
        except ConcurrentWriteError as e:
            _abort(str(e))
        if capture_changes:
            src = staging / f"{PART_COL}={CHANGES_PART}"
            dst = self.path / "_changes" / f"txn_{txn}"
            dst.parent.mkdir(exist_ok=True)
            # txn ids restart when a table is re-created in place, so an
            # old change set may hold this name; the new one replaces it
            shutil.rmtree(dst, ignore_errors=True)
            if src.exists():
                os.replace(src, dst)
            else:  # nothing inserted or updated: empty change set
                dst.mkdir()
        shutil.rmtree(staging, ignore_errors=True)
        for snap in dropped:  # GC dirs beyond the retention window
            for rel in snap["buckets"].values():
                if rel not in referenced:
                    shutil.rmtree(self.path / rel, ignore_errors=True)
        return txn, {str(b): new_buckets[str(b)] for b in buckets}

    def _cas_save(self, planned: Manifest, new: Manifest) -> None:
        """Commit = compare-and-swap under the manifest lock: save
        ``new`` only if the manifest is still at ``planned.txn`` and the
        lock is still ours, else raise :class:`ConcurrentWriteError`.
        Of N racing writers exactly one commits. A writer whose lock was
        stolen (it stalled past stale_after and another writer broke
        it) must not commit: that could race the thief's own
        verify→save window."""
        with _ManifestLock(self.path) as lk:
            current = Manifest.load(self.path)
            if current.txn != planned.txn:
                raise ConcurrentWriteError(
                    f"manifest advanced txn {planned.txn} -> {current.txn} "
                    "during write; reload and retry"
                )
            if not lk.holds():
                raise ConcurrentWriteError(
                    "manifest lock stolen during commit (holder stalled "
                    "past stale_after); reload and retry"
                )
            new.save(self.path)

    def _sentinel(self, schema: T.StructType, part: int) -> DataFrame:
        """One all-NULL row of ``schema`` routed to reserved partition
        ``part``."""
        return self.spark.range(1).select(
            *[F.lit(None).cast(f.dataType).alias(f.name)
              for f in schema.fields if f.name != PART_COL],
            F.lit(part).alias(PART_COL),
        )

    def overwrite_all(self, df: DataFrame,
                      expected_txn: int | None = None) -> None:
        m = self.manifest
        if PART_COL not in df.columns:
            df = df.withColumn(PART_COL, m.bucket_col())
        self.overwrite_buckets(df, list(range(m.n_buckets)),
                               expected_txn=expected_txn)

    def _rewrite_buckets(
        self,
        buckets=None,
        transform=None,
        keep: Column | None = None,
        counts: dict[str, Column] | None = None,
    ) -> dict[str, int]:
        """The one bucket rewrite that is not a MERGE (deletes, sweeps,
        retention): load ONE manifest snapshot, read ``buckets`` from it
        (all when None; a callable gets the snapshot and returns the
        list or None), apply ``transform`` (df → df; columns beyond the
        schema are dropped), keep the rows where ``keep`` is true, route
        them with :meth:`Manifest.bucket_col` and commit with a CAS
        against that snapshot. ``counts`` ({name: aggregate Column} over
        the transformed rows, before ``keep``) ride the write as one
        Observation; returns them, all 0 when no listed bucket holds
        data (nothing is written then).

        A zero-change rewrite still swaps in identical data for the
        listed buckets: the counts are known only once the write ran,
        and one bounded write beats separate count jobs on every real
        change."""
        m = self.manifest
        if callable(buckets):
            buckets = buckets(m)
        affected = list(range(m.n_buckets)) if buckets is None else buckets
        counts = counts or {}
        # No data in any affected bucket → nothing to rewrite. (Also
        # required for the Observation below: an empty table reads as a
        # local relation whose CollectMetrics node Catalyst folds away,
        # so the metric would never materialize.)
        if not any(str(b) in m.buckets for b in affected):
            return dict.fromkeys(counts, 0)
        df = self._scan(m, affected)
        if transform is not None:
            df = transform(df)
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("_rows"),
                        *[c.alias(n) for n, c in counts.items()])
        if keep is not None:
            # The always-false nondeterministic disjunct changes nothing
            # per row but blocks constant folding: a literal predicate
            # (e.g. a full wipe) would otherwise fold the filter and
            # prune the CollectMetrics branch at optimization time.
            df = df.where(keep | (F.monotonically_increasing_id() < F.lit(-1)))
        # When the rewrite empties every affected bucket, AQE's
        # empty-relation propagation replaces the map-stage subtree —
        # CollectMetrics included — with an empty LocalRelation, and the
        # observation never materializes (obs.get then dies in toPyRow
        # on Row.empty). A sentinel row routed to DISCARD_PART keeps the
        # written plan non-empty; overwrite_buckets only promotes dirs
        # for the listed buckets, so the sentinel's staging dir is
        # discarded with the staging area.
        fields = T.StructType.fromJson(json.loads(m.schema_json))
        out = df.select(
            *[f.name for f in fields], m.bucket_col().alias(PART_COL)
        ).unionByName(self._sentinel(fields, DISCARD_PART))
        self.overwrite_buckets(out, affected, expected_txn=m.txn)
        got = obs.get
        return {n: int(got[n] or 0) for n in counts}

    def delete_where(self, condition: Column, buckets=None) -> int:
        """Predicate delete (the Delta ``DELETE WHERE`` analog): rewrite
        only the affected buckets without the rows where ``condition``
        is true or NULL. Returns the number of rows deleted.

        Pass ``buckets`` (a list, or a callable of the snapshot such as
        ``lambda m: m.buckets_for(col, values)``) to prune the rewrite —
        the reference's partition-key routing trick
        (partitionable_mixin.rb:49-54) that keeps a keyed delete from
        touching the whole table.
        """
        return self._rewrite_buckets(
            buckets, keep=~condition,
            # mirror where(~condition) exactly: a NULL condition drops
            # the row, so it must count as deleted
            counts={"deleted": F.sum(F.when(~condition, 0).otherwise(1))},
        )["deleted"]

    # -- schema evolution (additive only, base.rb:557-631) -----------------
    def add_columns(self, new_fields: list[T.StructField], backfill: dict | None = None) -> None:
        """Additive schema evolution: extend the schema and rewrite with
        backfill expressions derived from `data` (base.rb:600-631's chunked
        UPDATE, collapsed to one declarative rewrite).

        One manifest snapshot ``m`` drives the read (explicit bucket
        paths), the schema, AND the CAS baseline (r13 ADVICE: a
        ``self.read()`` here plus a separate ``self.manifest`` reload
        for the CAS was a TOCTOU — a commit landing between the two
        loads passed the txn check, yet the rewrite then replayed every
        bucket from the pre-commit file list, silently discarding the
        concurrent writer's rows). The final ``overwrite_all`` is
        additionally pinned to the schema-save txn via ``expected_txn``
        so the window between the two commits is closed too.
        """
        m = self.manifest
        schema = T.StructType.fromJson(json.loads(m.schema_json))
        existing = {f.name for f in schema.fields}
        add = [f for f in new_fields if f.name not in existing]
        # Retry idempotence (r14 code review): add_columns commits
        # TWICE (schema save, then the backfill rewrite). If the first
        # attempt's rewrite lost its CAS, the advised retry arrives
        # with the column already in the schema — a bare early return
        # would silently skip the backfill forever. Fields already
        # present whose caller supplied a backfill expression re-apply
        # it NULL-preserving (coalesce keeps values a completed first
        # attempt wrote), making the whole operation safely re-runnable.
        redo = [
            f for f in new_fields
            if f.name in existing and (backfill or {}).get(f.name) is not None
        ]
        if not add and not redo:
            return
        base = self._scan(m)
        if not add:
            # Redo-only retry (r14 ADVICE): a routine idempotent
            # ensure-columns call that passes a backfill expression for
            # an already-present column must not pay a full-table
            # rewrite on every invocation. The coalesce rewrite only
            # changes NULL cells, so one bounded existence probe (any
            # NULL in any redo column, LIMIT 1) decides whether there
            # is anything left to complete.
            has_null = None
            for f in redo:
                c = F.col(f.name).isNull()
                has_null = c if has_null is None else (has_null | c)
            if not base.where(has_null).limit(1).take(1):
                return
        df = base.withColumn(PART_COL, m.bucket_col())
        for fld in add:
            expr = (backfill or {}).get(fld.name)
            df = df.withColumn(
                fld.name, (expr if expr is not None else F.lit(None)).cast(fld.dataType)
            )
        for fld in redo:
            expr = (backfill or {})[fld.name]
            df = df.withColumn(
                fld.name,
                F.coalesce(F.col(fld.name), expr.cast(fld.dataType)),
            )
        # data column stays last, matching the reference layout (base.rb:344-369)
        front = [f.name for f in schema.fields if f.name != "data"]
        new_order = front + [f.name for f in add] + ["data"]
        new_schema = T.StructType(
            [f for f in schema.fields if f.name != "data"]
            + add
            + [f for f in schema.fields if f.name == "data"]
        )
        if add:
            # Schema save goes through the SAME CAS as every other
            # manifest write (r13 code review): an unguarded save here
            # could clobber a concurrent MERGE's committed manifest with
            # this pre-merge buckets map, silently rolling the table
            # back. The CAS baseline is THE snapshot the read above
            # derives from. replace() carries every manifest field
            # (zorder, zone maps, retention, routing); txn bumps so
            # concurrent writers planning from the old schema lose their
            # CAS instead of committing rows missing the columns.
            self._cas_save(m, dataclasses.replace(
                m, txn=m.txn + 1, schema_json=new_schema.json()))
        # Pin the rewrite to the txn the schema save just produced (or,
        # on a redo-only retry, to the snapshot read above): a commit
        # sneaking in between would otherwise be replayed over from the
        # pre-save file list.
        self.overwrite_all(df.select(*new_order, PART_COL),
                           expected_txn=m.txn + 1 if add else m.txn)


class Warehouse:
    """Per-organization namespaces of managed tables
    (reference: one Postgres DB per org, organization/db_builder.rb)."""

    def __init__(self, spark: SparkSession, root: str | Path):
        self.spark = spark
        self.root = Path(root)

    def table(self, org: str, name: str) -> ManagedTable:
        return ManagedTable(self.spark, self.root / org / name)
