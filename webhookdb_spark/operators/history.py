"""Slowly-changing-dimension (SCD Type-2) history builds over change
streams.

The reference keeps exactly one current row per resource key (the
conditional upsert, lib/webhookdb/replicator/base.rb upsert path) and
discards prior versions. Analytics over a webhook stream routinely
needs the opposite: the full version history of each key — "what was
this subscription's status on March 3rd?". ``scd2_history`` derives
that table from the raw event stream itself: one row per (key,
attribute-state) run, with ``valid_from`` / ``valid_to`` interval
bounds and an ``is_current`` flag.

Distributed shape: both windows (the change-detection LAG and the
interval LEAD / version ROW_NUMBER) are partitioned on the key column,
so the whole build is ONE shuffle on the key followed by two local
sorts — Catalyst reuses the exchange between them. No window ever
sees more than one key's rows; state per task is bounded by the
largest single key's history, not the table. At 100 TB this is the
same plan, just more partitions.

Determinism: rows are ordered by (ts, seq) where ``seq_col`` breaks
exact-timestamp ties (event_id in the test stream), so the collapse of
no-op updates and the version numbering are reproducible and the
DuckDB twin hashes identically. Attribute comparison is null-safe
(``IS DISTINCT FROM`` semantics) so NULL -> 'x' and 'x' -> NULL both
open a new version.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from webhookdb_spark.operators.util import memo_col
from webhookdb_spark.storage import VersionedState


def scd2_history(
    df: DataFrame,
    key_col: str,
    attr_cols: tuple[str, ...],
    ts_col: str = "ts",
    seq_col: str | None = None,
    open_end_ts: str | None = None,
) -> DataFrame:
    """Build the SCD Type-2 version table of ``attr_cols`` per
    ``key_col`` from an append-only change stream.

    Returns one row per attribute-state RUN: consecutive events whose
    attributes are unchanged collapse into the earliest one, and each
    surviving row carries ``valid_from`` (its own ts), ``valid_to``
    (the next version's ts; for the open interval, NULL — or the
    ``open_end_ts`` sentinel, e.g. '9999-12-31 00:00:00', the
    conventional SCD2 high date), ``version`` (1-based per key) and
    ``is_current``.
    """
    order = [F.col(ts_col)] + ([F.col(seq_col)] if seq_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)

    lagged = df.select(
        key_col, ts_col, *([seq_col] if seq_col else []), *attr_cols
    ).select(
        "*",
        *[
            F.lag(c).over(w).alias(f"_prev_{c}")
            for c in attr_cols
        ],
        F.row_number().over(w).alias("_rn"),
    )
    # Null-safe "any attribute changed" (first row of a key always
    # changes). eqNullSafe == IS NOT DISTINCT FROM; negate for change.
    changed = F.lit(False)
    for c in attr_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"_prev_{c}"))
    kept = lagged.where((F.col("_rn") == 1) | changed)

    w2 = Window.partitionBy(key_col).orderBy(*order)
    lead_ts = F.lead(ts_col).over(w2)
    valid_to = (
        F.coalesce(lead_ts, F.lit(open_end_ts).cast("timestamp"))
        if open_end_ts
        else lead_ts
    )
    out = kept.select(
        F.col(key_col),
        *[F.col(c) for c in attr_cols],
        F.col(ts_col).alias("valid_from"),
        valid_to.alias("valid_to"),
        F.row_number().over(w2).alias("version"),
        lead_ts.isNull().alias("is_current"),
    )
    return out


def sql_scd2_history(
    table: str,
    key_col: str,
    attr_cols: tuple[str, ...],
    ts_col: str = "ts",
    seq_col: str | None = None,
    open_end_ts: str | None = None,
) -> str:
    """DuckDB twin of :func:`scd2_history` — same windows, same
    null-safe change detection (IS DISTINCT FROM), same tie-break."""
    vt = f"lead({ts_col}) OVER w2"
    if open_end_ts:
        vt = f"COALESCE({vt}, TIMESTAMP '{open_end_ts}')"
    order = f"{ts_col}" + (f", {seq_col}" if seq_col else "")
    seq_sel = f", {seq_col}" if seq_col else ""
    attrs = ", ".join(attr_cols)
    prevs = ",\n             ".join(
        f"lag({c}) OVER w AS _prev_{c}" for c in attr_cols
    )
    change = " OR ".join(
        f"{c} IS DISTINCT FROM _prev_{c}" for c in attr_cols
    )
    return f"""
    WITH lagged AS (
      SELECT {key_col}, {ts_col}{seq_sel}, {attrs},
             {prevs},
             row_number() OVER w AS _rn
      FROM {table}
      WINDOW w AS (PARTITION BY {key_col} ORDER BY {order})
    ),
    kept AS (
      SELECT * FROM lagged WHERE _rn = 1 OR {change}
    )
    SELECT {key_col}, {attrs},
           {ts_col} AS valid_from,
           {vt} AS valid_to,
           CAST(row_number() OVER w2 AS INTEGER) AS version,
           (lead({ts_col}) OVER w2 IS NULL) AS is_current
    FROM kept
    WINDOW w2 AS (PARTITION BY {key_col} ORDER BY {order})
    """


def scd2_apply(
    history: DataFrame,
    batch: DataFrame,
    key_col: str,
    attr_cols: tuple[str, ...],
    ts_col: str = "ts",
    seq_col: str | None = None,
    open_end_ts: str | None = None,
) -> DataFrame:
    """Incrementally fold one in-order batch of change events into an
    existing SCD2 table (the output of :func:`scd2_history` /
    a prior ``scd2_apply``), touching ONLY the keys present in the
    batch — the maintenance mode a change-feed consumer runs per
    micro-batch instead of rebuilding history from the full raw
    stream.

    Contract: batches are per-key in-order — every batch event's
    (ts, seq) is >= the key's current ``valid_from`` (what a
    change-feed delivers; ``stream_changes``' txn ordering and the
    upsert guard enforce it upstream). Under that contract the result
    is EXACTLY ``scd2_history`` over the concatenated raw stream,
    which is what lets the incremental query share the full-build SQL
    oracle. Late events that predate a key's current version would
    need a rebuild of that key from raw history — out of contract
    here, as for any run-compressed store.

    Distributed shape: one semi/anti split of history on the batch's
    key set, then the same key-partitioned windows as the full build,
    but over (current rows of touched keys + batch) only — work is
    proportional to the batch and the touched keys' CURRENT rows,
    never to history size. Closed versions stream through untouched.
    """
    keys = batch.select(key_col).distinct()
    touched = history.join(keys, key_col, "semi")
    untouched = history.join(keys, key_col, "anti")
    closed = touched.where(~F.col("is_current"))
    cur = touched.where(F.col("is_current"))

    args = (
        key_col,
        tuple(attr_cols),
        ts_col,
        seq_col,
        dict(batch.dtypes)[seq_col] if seq_col else None,
        open_end_ts,
    )
    x = memo_col(("scd2_apply", *args), lambda: _scd2_apply_exprs(*args))

    # Pseudo-event: each touched key's current state re-asserted at its
    # valid_from with _src=0, so it sorts before any equal-ts batch
    # event and provides the LAG baseline for change detection.
    pseudo = cur.select(*x["pseudo_cols"])
    ev = pseudo.unionByName(batch.select(*x["batch_cols"]))
    lagged = ev.select("*", *x["lag_cols"])
    # batch rows only: for touched keys the pseudo row holds _rn=1, so
    # a batch row is kept iff it differs from its predecessor; for NEW
    # keys the first batch row has _rn=1 and is always kept.
    kept = lagged.where(x["kept_cond"])

    base = cur.select(F.col(key_col), F.col("version").alias("_base"))
    new_versions = (
        kept.select(*x["nv_cols"])
        .join(F.broadcast(base), key_col, "left")
        .select(*x["nv_out_cols"])
    )
    # Close each current row whose key opened a new version; keys whose
    # whole batch collapsed away (no state change) stay current.
    first_new = new_versions.groupBy(key_col).agg(
        F.min("valid_from").alias("_next_from")
    )
    # base / first_new are bounded by the BATCH's key count, so they
    # broadcast — and the broadcast is also a correctness guard: a
    # sort-merge left-join here can consume ``history``'s prior-apply
    # union under a bogus satisfied-distribution claim (the union's
    # per-branch hashpartitioning) and die zipping 3N-vs-N partition
    # RDDs; broadcast hash joins never zip.
    cur_updated = cur.join(F.broadcast(first_new), key_col, "left").select(
        *x["cur_upd_cols"]
    )
    cols = [
        key_col, *attr_cols, "valid_from", "valid_to", "version", "is_current"
    ]
    return (
        untouched.select(*cols)
        .unionByName(closed.select(*cols))
        .unionByName(cur_updated.select(*cols))
        .unionByName(new_versions.select(*cols))
    )


def _scd2_apply_exprs(
    key_col: str,
    attr_cols: tuple[str, ...],
    ts_col: str,
    seq_col: str | None,
    seq_dtype: str | None,
    open_end_ts: str | None,
) -> dict:
    """The pure expression trees of :func:`scd2_apply`, which memoizes
    them on the full parameter tuple: the feed maintainers run one apply
    per batch window, and each rebuild cost one py4j round-trip per
    Column operator (guide §5 driver work). Trees reference column
    NAMES only, so reuse across batches is exactly the
    module-level-constant semantics."""
    order = [F.col(ts_col), F.col("_src")] + (
        [F.col(seq_col)] if seq_col else []
    )
    w = Window.partitionBy(key_col).orderBy(*order)
    w2 = Window.partitionBy(key_col).orderBy(*order)

    pseudo_cols = [
        F.col(key_col),
        F.col("valid_from").alias(ts_col),
        *[F.col(c) for c in attr_cols],
        F.lit(0).alias("_src"),
        *(
            [F.lit(None).cast(seq_dtype).alias(seq_col)]
            if seq_col
            else []
        ),
    ]
    batch_cols = [
        F.col(key_col),
        F.col(ts_col),
        *[F.col(c) for c in attr_cols],
        F.lit(1).alias("_src"),
        *([F.col(seq_col)] if seq_col else []),
    ]
    lag_cols = [
        *[F.lag(c).over(w).alias(f"_prev_{c}") for c in attr_cols],
        F.row_number().over(w).alias("_rn"),
    ]
    changed = F.lit(False)
    for c in attr_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.col(f"_prev_{c}"))
    kept_cond = (F.col("_src") == 1) & ((F.col("_rn") == 1) | changed)

    lead_ts = F.lead(ts_col).over(w2)
    new_valid_to = (
        F.coalesce(lead_ts, F.lit(open_end_ts).cast("timestamp"))
        if open_end_ts
        else lead_ts
    )
    nv_cols = [
        F.col(key_col),
        *[F.col(c) for c in attr_cols],
        F.col(ts_col).alias("valid_from"),
        new_valid_to.alias("valid_to"),
        F.row_number().over(w2).alias("_vn"),
        lead_ts.isNull().alias("is_current"),
    ]
    nv_out_cols = [
        F.col(key_col),
        *[F.col(c) for c in attr_cols],
        "valid_from",
        "valid_to",
        (F.coalesce(F.col("_base"), F.lit(0)) + F.col("_vn"))
        .cast("int")
        .alias("version"),
        "is_current",
    ]
    cur_upd_cols = [
        F.col(key_col),
        *[F.col(c) for c in attr_cols],
        "valid_from",
        F.coalesce(F.col("_next_from"), F.col("valid_to")).alias("valid_to"),
        "version",
        (F.col("_next_from").isNull() & F.col("is_current")).alias(
            "is_current"
        ),
    ]
    return {
        "pseudo_cols": pseudo_cols,
        "batch_cols": batch_cols,
        "lag_cols": lag_cols,
        "kept_cond": kept_cond,
        "nv_cols": nv_cols,
        "nv_out_cols": nv_out_cols,
        "cur_upd_cols": cur_upd_cols,
    }


def scd2_from_feed(
    table,
    key_col: str,
    attr_cols: tuple[str, ...],
    ts_col: str = "ts",
    history: DataFrame | None = None,
    since_txn: int = 0,
    project=None,
) -> tuple[DataFrame | None, int, int]:
    """Fold every captured change transaction in ``(since_txn, latest]``
    of a managed table's MERGE feed (operators/upsert.py
    ``_changes/txn_*``) into an SCD2 ``history``, one
    :func:`scd2_apply` per transaction in txn order. Returns
    ``(new_history, new_watermark, n_applied)`` — history is ``None``
    only when there was nothing to fold and none was passed;
    ``n_applied`` counts the transactions actually folded (NOT the
    txn-id delta, which overcounts under sparse feed ids).

    This is the consumer that keeps an SCD2 table maintained BY
    ingestion: each committed MERGE's post-images are exactly the
    per-key state observations scd2_apply's in-order contract wants
    (the upsert guard rejects out-of-order updates upstream, and a txn
    carries at most one row per key). Per-txn work is proportional to
    the txn's rows and touched keys' current versions — never to
    history size or the raw stream.

    ``project``: optional ``DataFrame -> DataFrame`` applied to each
    txn's post-images before the apply — rename/derive the (key, ts,
    attrs) columns from the table's own schema (e.g. ``at -> ts``,
    ``data -> state``).
    """
    from webhookdb_spark.operators.upsert import change_txns, changes_since

    txns = [t for t in change_txns(table) if t > since_txn]
    watermark = since_txn
    for t in sorted(txns):
        batch = changes_since(table, t - 1, t)
        if project is not None:
            batch = project(batch)
        batch = batch.select(key_col, ts_col, *attr_cols)
        if history is None:
            history = scd2_history(batch, key_col, attr_cols, ts_col)
        else:
            history = scd2_apply(
                # bound lineage growth across applies, as the
                # incremental query does (one consumer run may fold
                # many queued txns)
                history.localCheckpoint(eager=False),
                batch, key_col, attr_cols, ts_col,
            )
        watermark = t
    return history, watermark, len(txns)


class Scd2Maintainer(VersionedState):
    """Durable feed-driven SCD2 maintenance: persists the history table
    and the delivered-txn watermark under ``path``, so each ``run``
    folds only new transactions — the warehouse pattern where a
    dimension's version history is maintained by the ingest feed, with
    restart safety.

    Layout (storage.VersionedState): ``path/v_<txn>/`` (parquet history
    as of txn) + ``path/meta.json``. The new version is fully written
    before meta.json flips to it, and the previous version is kept for
    one generation so a reader holding the old meta never sees missing
    files.
    """

    def __init__(
        self,
        spark,
        path: str,
        key_col: str,
        attr_cols: tuple[str, ...],
        ts_col: str = "ts",
        project=None,
    ) -> None:
        super().__init__(spark, path)
        self.key_col = key_col
        self.attr_cols = tuple(attr_cols)
        self.ts_col = ts_col
        self.project = project

    def history(self) -> DataFrame | None:
        """The persisted history table, or None before the first run."""
        return self._read()

    def run(self, table) -> int:
        """Fold new feed transactions; returns the count of
        transactions applied (``len(txns)``, matching
        ``IncrementalAggMaintainer.run`` — not the txn-id delta, which
        overcounts when the feed's txn ids are sparse)."""
        m = self._meta()
        hist, new_wm, applied = scd2_from_feed(
            table, self.key_col, self.attr_cols, self.ts_col,
            history=self.history(), since_txn=int(m["watermark"]),
            project=self.project,
        )
        if applied <= 0 or hist is None:
            return 0
        hist.write.mode("overwrite").parquet(str(self.path / f"v_{new_wm}"))
        self._commit(new_wm, m["current"])
        return applied


def scd2_lookup(
    history: DataFrame,
    probes: DataFrame,
    key_col: str,
    ts_col: str = "ts",
) -> DataFrame:
    """Point-in-time join: for each probe (key, ts) return the SCD2
    version whose [valid_from, valid_to) interval contains ts — "what
    was this key's state when the event happened". Probes before a
    key's first version (or for unknown keys) drop out (inner join).

    Distributed shape: an equi-join on the KEY carries the whole
    lookup — the interval test is a post-join filter, so this is a
    plain hash/broadcast join keyed on ``key_col``, never a range or
    cartesian join. A key's probe joins against only that key's
    versions (per-key history is short — runs, not raw events), so
    fan-out per probe is the key's version count, pruned to 1 by the
    filter. An open interval (NULL valid_to or the high-date sentinel)
    matches everything from valid_from on.
    """
    h = history.select(
        F.col(key_col).alias("_hk"),
        *[
            F.col(c)
            for c in history.columns
            if c != key_col
        ],
    )
    cond = (
        (F.col("_hk") == probes[key_col])
        & (probes[ts_col] >= F.col("valid_from"))
        & (
            F.col("valid_to").isNull()
            | (probes[ts_col] < F.col("valid_to"))
        )
    )
    return probes.join(h, cond, "inner").drop("_hk")
