"""Org database migration — copy every replicated table to a new
warehouse, resumably (reference:
lib/webhookdb/organization/database_migration.rb:70-119).

The reference walks integrations in id order with a two-level cursor
``(last integration, last timestamp)``, paging 1,000 rows at a time
through a server-side cursor and conditionally upserting each chunk.
Spark shape: the paging machinery collapses — each table copies in ONE
distributed conditional merge of ``rows where ts > cursor`` — but the
resumable two-level cursor survives verbatim, so an interrupted
migration continues from the last completed table / timestamp instead
of restarting. At 100 TB this is the difference between re-reading
everything and re-reading one table's tail.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import functions as F

from webhookdb_spark.operators.upsert import merge_upsert
from webhookdb_spark.spec import ReplicatorSpec
from webhookdb_spark.storage import Warehouse, read_json, write_atomic


class MigrationAlreadyFinished(RuntimeError):
    pass


@dataclass
class MigrationState:
    """(last integration, last timestamp) cursor, persisted per
    migration (database_migration.rb columns)."""

    path: Path

    def load(self) -> dict:
        return read_json(self.path, {"last_integration": "",
                                     "last_timestamp": None,
                                     "finished": False})

    def save(self, **updates) -> dict:
        st = {**self.load(), **updates}
        write_atomic(self.path, json.dumps(st))
        return st


def migrate_organization(
    src: Warehouse,
    dst: Warehouse,
    org: str,
    specs: list[ReplicatorSpec],
    state_path: str | Path,
    fail_after: str | None = None,
) -> dict[str, int]:
    """Copy ``org``'s tables from ``src`` to ``dst`` under each spec's
    conditional-upsert semantics. Returns {table: rows_merged}.

    ``fail_after`` injects a failure after the named table completes —
    test hook for resumability, mirroring the reference's
    heartbeat/interrupt tolerance.
    """
    state = MigrationState(Path(state_path))
    st = state.load()
    if st["finished"]:
        raise MigrationAlreadyFinished(str(state_path))
    copied: dict[str, int] = {}
    for spec in sorted(specs, key=lambda s: s.name):
        if spec.name <= st["last_integration"]:
            continue  # already migrated (id-order skip, :75-77)
        src_table = src.table(org, spec.table)
        if not src_table.exists():
            # integration never synced in the old warehouse → skip (:88-89)
            state.save(last_integration=spec.name, last_timestamp=None)
            continue
        dst_table = dst.table(org, spec.table)
        if not dst_table.exists():
            dst_table.create(
                spec.schema(), key=spec.remote_key.name,
                n_buckets=spec.n_buckets, part_key=spec.partition_key_source,
            )
        df = src_table.read()
        # The timestamp half of the cursor applies only to the table a
        # prior run died inside of (:91-93). A merge here is atomic per
        # table, so the cursor is honored when present (set by an
        # interrupted chunked copy) and cleared on completion.
        if st.get("resuming") == spec.name and st["last_timestamp"]:
            df = df.where(
                F.col(spec.timestamp_col) > F.lit(st["last_timestamp"]).cast("timestamp")
            )
        batch = df.withColumn("_received_at", F.current_timestamp())
        res = merge_upsert(dst_table, batch, spec)
        copied[spec.table] = res.total_changed
        state.save(last_integration=spec.name, last_timestamp=None, resuming=None)
        if fail_after == spec.name:
            raise RuntimeError(f"injected failure after {spec.name}")
    state.save(finished=True)
    return copied


def rename_table(wh: Warehouse, org: str, old: str, new: str) -> None:
    """Table rename (reference: service_integration table rename /
    ALTER TABLE … RENAME, db_builder.rb:402-430): move the managed
    table's directory; the manifest rides along."""
    src = wh.table(org, old)
    dst = wh.table(org, new)
    if not src.exists():
        raise FileNotFoundError(str(src.path))
    if dst.exists():
        raise FileExistsError(str(dst.path))
    src.path.rename(dst.path)
