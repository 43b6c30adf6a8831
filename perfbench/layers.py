"""Per-layer metrics of the traced run, computed from its spans.

``PER_LAYER`` is the one list of layer metrics: name, unit, better
direction, and the end-to-end metric each one should move, named by
its user-facing name (``E2E_MEANING`` maps those onto the reported
end-to-end keys per workload).
A workload that does not exercise a layer reports 0 for its metrics.
"""

from __future__ import annotations

import statistics

import accounting

# end-to-end key -> what it means on each workload. Every time but
# setup_s is scaled by a host-speed canary (canary.py); the unscaled
# values are printed as the run's notes.
E2E_MEANING = {
    "op_p50_s": {
        "webhook_freshness": "freshness_p50_s: envelope due time -> commit of the MERGE holding it",
        "feed_sync_query": "query_p50_s: one run_readonly_sql call, plan + collect",
    },
    "op_p90_s": {
        "webhook_freshness": "freshness_p90_s",
        "feed_sync_query": "query_p90_s",
    },
    "cycle_p50_s": {
        "webhook_freshness": "micro-batch cycle: createDataFrame + process_batch",
        "feed_sync_query": "replica_lag_p50_s: batch submit -> table, matview and replica all reflect it",
    },
    "store_bytes_per_row": {
        "webhook_freshness": "table dir (buckets, _changes, staging, orphans) / live rows",
        "feed_sync_query": "table dir + replica + matview state / live rows",
    },
    "setup_s": {"*": "set-up, timed once, not scaled: the preload (+ matview and replica bootstrap)"},
}

# (name, unit, better, end-to-end metric(s) it should move)
PER_LAYER = (
    ("ingest.cycle_s", "s", "lower", "freshness_p50_s"),
    ("ingest.batch_rows", "count", "higher", "freshness_p50_s"),
    ("ingest.jobs", "count", "lower", "freshness_p50_s"),
    ("ingest.backlog_end", "count", "lower", "freshness_p90_s"),
    ("ingest.stale_overrides", "count", "lower", "correctness (counted, not fixed)"),
    ("spec.shape_build_s", "s", "lower", "freshness_p50_s"),
    ("spec.py4j_calls", "count", "lower", "freshness_p50_s"),
    ("upsert.merge_self_s", "s", "lower", "freshness_p50_s, backfill_rows_per_s"),
    ("upsert.jobs", "count", "lower", "freshness_p50_s, backfill_rows_per_s"),
    ("upsert.stages", "count", "lower", "freshness_p50_s, backfill_rows_per_s"),
    ("upsert.tasks", "count", "lower", "freshness_p50_s, backfill_rows_per_s"),
    ("upsert.py4j_calls", "count", "lower", "freshness_p50_s, backfill_rows_per_s"),
    ("upsert.rows_changed", "count", "higher", "freshness_p90_s, backfill_rows_per_s"),
    ("upsert.rows_kept", "count", "lower", "freshness_p90_s, backfill_rows_per_s"),
    ("upsert.useful_ratio", "ratio", "higher", "freshness_p90_s, backfill_rows_per_s"),
    ("cdc.copy_bytes", "bytes", "lower", "freshness_p50_s"),
    ("cdc.read_s", "s", "lower", "replica_lag_p50_s"),
    ("cdc.txn_dirs", "count", "lower", "replica_lag_p50_s"),
    ("storage.commit_s", "s", "lower", "freshness_p50_s, backfill_rows_per_s"),
    ("storage.bytes_written", "bytes", "lower", "freshness_p50_s, backfill_rows_per_s"),
    ("storage.files_written", "count", "lower", "freshness_p50_s, backfill_rows_per_s"),
    ("storage.bytes_per_changed_row", "bytes", "lower", "freshness_p50_s, backfill_rows_per_s"),
    ("storage.orphan_bytes", "bytes", "lower", "store_bytes_per_row"),
    ("matview.run_s", "s", "lower", "replica_lag_p50_s"),
    ("matview.jobs", "count", "lower", "replica_lag_p50_s"),
    ("sync.run_s", "s", "lower", "replica_lag_p50_s"),
    ("sync.jobs", "count", "lower", "replica_lag_p50_s"),
    ("sync.rows", "count", "lower", "replica_lag_p50_s"),
    ("sync.replica_bytes_rewritten", "bytes", "lower", "replica_lag_p50_s"),
    ("query.plan_s", "s", "lower", "query_p50_s, query_p90_s"),
    ("query.exec_s", "s", "lower", "query_p50_s, query_p90_s"),
    ("query.jobs", "count", "lower", "query_p50_s, query_p90_s"),
    ("query.tasks", "count", "lower", "query_p50_s, query_p90_s"),
    ("driver.py4j_calls", "count", "lower", "freshness_p50_s"),
    ("jvm.gc_s", "s", "lower", "op_p90_s, mem.peak_rss_mb"),
    ("mem.peak_rss_mb", "MB", "lower", "none: VmHWM of the Python driver + the JVM"),
    ("cpu.cycle_s", "s", "lower", "cycle_p50_s: CPU seconds (Python driver + JVM) of one cycle"),
    ("trace.overhead_s", "s", "lower", "none: tracer bookkeeping per op"),
)


def install_hooks(tracer) -> None:
    """Outside-in counters attached to span boundaries."""
    import time as _time

    def merge_end(span, args, result):
        if result is None:
            return
        table = args[0]
        span.attrs["rows_changed"] = result.total_changed
        span.attrs["rows_kept"] = result.noop
        txn_dir = table.path / "_changes" / f"txn_{table.manifest.txn}"
        span.attrs["copy_bytes"] = accounting.tree_size(txn_dir)[0]

    def overwrite_end(span, args, result):
        if result is None:
            return
        table, (_txn, dirs) = args[0], result
        b = f = 0
        for rel in dirs.values():
            nb, nf = accounting.tree_size(table.path / rel)
            b, f = b + nb, f + nf
        span.attrs["bytes_written"] = b
        span.attrs["files_written"] = f

    def changes_start(span, args):
        root = args[0].path / "_changes"
        span.attrs["txn_dirs"] = (
            sum(1 for p in root.iterdir() if p.name.startswith("txn_"))
            if root.exists() else 0)

    def sync_start(span, args):
        span.attrs["t_wall"] = _time.time()

    def sync_end(span, args, result):
        span.attrs["rows"] = result or 0
        span.attrs["replica_bytes"] = accounting.files_newer_than(
            args[0].dest_path, span.attrs["t_wall"])[0]

    tracer.on_end.setdefault("upsert.merge_upsert", []).append(merge_end)
    tracer.on_end.setdefault("storage.overwrite_buckets", []).append(overwrite_end)
    tracer.on_start.setdefault("cdc.changes_since", []).append(changes_start)
    tracer.on_start.setdefault("sync.run_sync_changes", []).append(sync_start)
    tracer.on_end.setdefault("sync.run_sync_changes", []).append(sync_end)


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def compute(tracer, spans, extra: dict) -> dict[str, float]:
    """Per-layer values over ``spans`` (the measured window)."""
    by: dict[str, list] = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)
    ids = {s.id for s in spans}
    roots = [s for s in spans if s.parent is None or s.parent not in ids]
    incl = tracer.inclusive

    pb = by.get("ingest.process_batch", [])
    mu = by.get("upsert.merge_upsert", [])
    ow = by.get("storage.overwrite_buckets", [])
    rq = by.get("query.run_readonly_sql", [])
    plan = {s.parent: s.wall for s in by.get("query.spark_sql", []) if s.parent is not None}
    changed = sum(s.attrs.get("rows_changed", 0) for s in mu)
    kept = sum(s.attrs.get("rows_kept", 0) for s in mu)
    written = sum(s.attrs.get("bytes_written", 0) for s in ow)

    cdc_per_op: dict[int, float] = {}
    for s in by.get("cdc.changes_since", []) + by.get("cdc.latest_change_per_key", []):
        cdc_per_op[s.op] = cdc_per_op.get(s.op, 0.0) + s.wall

    out = {
        "ingest.cycle_s": _med(s.wall for s in pb),
        "ingest.batch_rows": _med(extra.get("batch_rows", [])),
        "ingest.jobs": _med(incl(s, "jobs") for s in pb),
        "ingest.backlog_end": float(extra.get("ingest.backlog_end", 0.0)),
        "ingest.stale_overrides": float(extra.get("ingest.stale_overrides", 0.0)),
        "spec.shape_build_s": _med(s.wall for s in by.get("spec.shape", [])),
        "spec.py4j_calls": _med(s.py4j for s in by.get("spec.shape", [])),
        "upsert.merge_self_s": _med(s.self_s for s in mu),
        "upsert.jobs": _med(incl(s, "jobs") for s in mu),
        "upsert.stages": _med(incl(s, "stages") for s in mu),
        "upsert.tasks": _med(incl(s, "tasks") for s in mu),
        "upsert.py4j_calls": _med(incl(s, "py4j") for s in mu),
        "upsert.rows_changed": _med(s.attrs.get("rows_changed", 0) for s in mu),
        "upsert.rows_kept": _med(s.attrs.get("rows_kept", 0) for s in mu),
        "upsert.useful_ratio": changed / (changed + kept) if changed + kept else 0.0,
        "cdc.copy_bytes": _med(s.attrs.get("copy_bytes", 0) for s in mu),
        "cdc.read_s": _med(cdc_per_op.values()),
        "cdc.txn_dirs": _med(s.attrs.get("txn_dirs", 0) for s in by.get("cdc.changes_since", [])),
        "storage.commit_s": _med(s.self_s for s in ow),
        "storage.bytes_written": _med(s.attrs.get("bytes_written", 0) for s in ow),
        "storage.files_written": _med(s.attrs.get("files_written", 0) for s in ow),
        "storage.bytes_per_changed_row": written / changed if changed else 0.0,
        "storage.orphan_bytes": float(extra.get("storage.orphan_bytes", 0)),
        "matview.run_s": _med(s.wall for s in by.get("matview.run", [])),
        "matview.jobs": _med(incl(s, "jobs") for s in by.get("matview.run", [])),
        "sync.run_s": _med(s.wall for s in by.get("sync.run_sync_changes", [])),
        "sync.jobs": _med(incl(s, "jobs") for s in by.get("sync.run_sync_changes", [])),
        "sync.rows": _med(s.attrs.get("rows", 0) for s in by.get("sync.run_sync_changes", [])),
        "sync.replica_bytes_rewritten": _med(
            s.attrs.get("replica_bytes", 0) for s in by.get("sync.run_sync_changes", [])),
        "query.plan_s": _med(plan.get(s.id, 0.0) for s in rq),
        "query.exec_s": _med(s.wall - plan.get(s.id, 0.0) for s in rq),
        "query.jobs": _med(incl(s, "jobs") for s in rq),
        "query.tasks": _med(incl(s, "tasks") for s in rq),
        "driver.py4j_calls": _med(incl(s, "py4j") for s in roots),
        "jvm.gc_s": float(extra.get("jvm.gc_s", 0.0)),
        "mem.peak_rss_mb": float(extra.get("mem.peak_rss_mb", 0.0)),
        "cpu.cycle_s": float(extra.get("cpu.cycle_s", 0.0)),
        "trace.overhead_s": float(extra.get("trace.overhead_s", 0.0)),
    }
    return out


def useful_ratio_base(spans) -> tuple[int, int]:
    """(rows changed, rows rewritten) behind ``upsert.useful_ratio``."""
    mu = [s for s in spans if s.name == "upsert.merge_upsert"]
    changed = sum(s.attrs.get("rows_changed", 0) for s in mu)
    kept = sum(s.attrs.get("rows_kept", 0) for s in mu)
    return changed, changed + kept
