"""The benchmark workloads. Each drives the package only through its
public entry points and returns a :class:`Result`.

``webhook_freshness``: open loop. Seeded Poisson arrivals at ``RATE``
envelopes/s; one client thread drains every envelope already due into
one ``IngestPipeline.process_batch`` call (audit on) and repeats.

``feed_sync_query``: closed loop, one client. Each cycle merges a
``FS_BATCH``-envelope batch with ``upsert_envelopes``, folds it into an
``IncrementalAggMaintainer``, syncs a ``DatabaseSyncTarget`` replica
from the change feed (trim on), then runs read-only SQL through
``run_readonly_sql`` against a view over ``ManagedTable.read()``.

Times of the measured window are put on an idle-host scale by a canary
timed next to them (``canary.py``): ``webhook_freshness`` times
``Canary`` just before and just after its window, ``feed_sync_query``
times ``QueryCanary`` before each merge and after each round of
queries. ``setup_s`` is reported as measured (see :func:`scaled`).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import random
import time
from dataclasses import dataclass
from pathlib import Path

import accounting
import gen
import model as modelmod
from canary import Canary, QueryCanary

WEBHOOK_ROWS = 20_000  # preloaded table, webhook_freshness
FEED_ROWS = 10_000  # preloaded table, feed_sync_query
RATE = 20.0  # envelopes per second, webhook_freshness
WARMUP_BATCH_ROWS = 8
PRE_ROLL = 8.0  # s of open loop before the measured window
POST_ROLL = 8.0  # s of arrivals generated past it (only what is due gets sent)
FS_BATCH = 64
FS_WARMUP_CYCLES = 1
FS_WARMUP_ROUNDS = 2  # query rounds of a warm-up cycle
FS_QUERY_ROUNDS = 7  # per measured cycle: 2 cycles give 112 queries, 11 beyond p90
# a round of queries: FS_LOOKUPS point lookups of changed keys, as many
# of random keys, a GROUP BY status and the FS_TOP_N newest rows
FS_LOOKUPS = 3
FS_TOP_N = 50

ENV_SCHEMA = "integration_opaque_id string, body string, received_at timestamp"
VIEW = "perfbench_charges"
ORG = "perfbench"


@dataclass
class Result:
    e2e: dict[str, float]
    layers: dict[str, float]
    attempted: int
    failed: int
    failures: list[str]
    table: object  # the ManagedTable the run merged into


class Checks:
    """Counts attempted ops and failed ones; a failed check is a failed op."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def op(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.messages.append(what)
        return ok


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q`` quantile (0..1) of ``values``."""
    s = sorted(values)
    if not s:
        return 0.0
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _utc(t_wall: float) -> dt.datetime:
    return dt.datetime.fromtimestamp(t_wall, dt.timezone.utc)


def _spec():
    from webhookdb_spark.replicators.stripe_charge_v1 import STRIPE_CHARGE_V1

    return STRIPE_CHARGE_V1


def new_model():
    from webhookdb_spark.functions.converters import str2inthash_py

    return modelmod.ChargeModel(_spec().n_buckets, str2inthash_py)


def write_page(path: Path, bodies: list[str], t_wall: float) -> None:
    """One envelope page on disk (the backfill input form)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(
        pa.table({
            "integration_opaque_id": [gen.OPAQUE_ID] * len(bodies),
            "body": bodies,
            "received_at": pa.array(
                [int(t_wall * 1e6)] * len(bodies), pa.timestamp("us", tz="UTC")),
        }),
        path,
    )


def read_table_rows(df) -> dict[str, tuple]:
    """Collect ``modelmod.COLUMNS`` of a DataFrame into key → row."""
    tab = df.select(*modelmod.COLUMNS).toArrow()
    cols = [tab.column(c).to_pylist() for c in modelmod.COLUMNS]
    out = {}
    for row in zip(*cols):
        row = tuple(
            v.astimezone(dt.timezone.utc).replace(tzinfo=None)
            if isinstance(v, dt.datetime) and v.tzinfo is not None else v
            for v in row
        )
        out[row[0]] = row[1:]
    return out


def check_table(checks: Checks, what: str, df, expected: dict) -> None:
    actual = read_table_rows(df)
    bad = modelmod.diff_rows(expected, actual)
    checks.op(not bad, f"{what}: {bad}")


def check_counts(checks: Checks, what: str, res, exp) -> None:
    got = (res.inserted, res.updated, res.noop)
    want = (exp.inserted, exp.updated, exp.noop)
    checks.op(got == want, f"{what}: MergeResult {got} != model {want}")


def preload(ctx, table, page: Path, capture_changes: bool):
    from webhookdb_spark.operators.upsert import upsert_envelopes

    spec = _spec()
    return upsert_envelopes(
        table, ctx.spark.read.parquet(str(page)), spec,
        buckets=list(range(spec.n_buckets)), capture_changes=capture_changes,
    )


def timed_setup(ctx, build):
    """Run the workload's set-up once and time it. The JVM is fresh, so
    this includes compiling the ingest path; the run budget leaves no
    room to repeat a full-size set-up."""
    t0 = time.perf_counter()
    state = build()
    ctx.mark("setup")
    return time.perf_counter() - t0, state


def scaled(ctx, canary, times: dict[str, float]) -> dict[str, float]:
    """Time metrics of the measured window on the canary's idle-host
    scale; the measured values and the canary go to the run's notes.
    ``setup_s`` is reported as measured: the set-up runs in a cold JVM
    before the window, where the canary does not follow the host, and
    scaling it by the window's canary widened its spread over five runs
    (quartile distance over median): from 0.11 to 0.30 with ``Canary``,
    and from 0.11 to 0.46 with ``QueryCanary`` while the host's steal
    share moved between 0.5% and 23%."""
    ctx.notes["canary_s"] = canary.median()
    ctx.notes["unscaled_s"] = {name: round(t, 4) for name, t in times.items()}
    k = canary.scale()
    return {name: t * k for name, t in times.items()}


def peak_rss_mb(spark) -> float:
    kb = accounting.vm_hwm_kb("self")
    pid = accounting.jvm_pid(spark)
    if pid:
        kb += accounting.vm_hwm_kb(pid)
    return kb / 1024.0


# ---------------------------------------------------------------------------
# webhook_freshness
# ---------------------------------------------------------------------------

def webhook_freshness(ctx) -> Result:
    from webhookdb_spark.storage import Warehouse
    from webhookdb_spark.streaming.ingest import IngestPipeline, IntegrationRuntime

    spark, spec, checks = ctx.spark, _spec(), Checks()
    g = gen.ChargeGen(ctx.seed, WEBHOOK_ROWS)
    bodies = g.preload_bodies()
    page = ctx.work / "preload.parquet"
    write_page(page, bodies, time.time() - 86_400)
    model = new_model()
    exp_preload = model.apply(bodies)
    ctx.mark("generate")

    d = ctx.work / "state"

    def build():
        table = Warehouse(spark, d / "wh").table(ORG, spec.table)
        return table, preload(ctx, table, page, capture_changes=False)

    setup_s, (table, res) = timed_setup(ctx, build)
    check_counts(checks, "preload", res, exp_preload)
    pipeline = IngestPipeline(warehouse=Warehouse(spark, d / "wh"),
                              audit_table_path=str(d / "audit"))
    pipeline.register(IntegrationRuntime(gen.OPAQUE_ID, ORG, spec))
    manifest = table.path / "_manifest.json"
    batch_no = 0
    delivered = 0

    def run_batch(bodies: list[str], dues: list[float]):
        """Deliver one micro-batch; returns (commit wall time, cycle s,
        the model's outcome)."""
        nonlocal batch_no, delivered
        t_pick, c_pick = time.perf_counter(), ctx.cpu()
        df = spark.createDataFrame(
            [(gen.OPAQUE_ID, b, _utc(t)) for b, t in zip(bodies, dues)], ENV_SCHEMA)
        txn0 = table.manifest.txn
        pipeline.process_batch(df, batch_id=batch_no, audit_batch_id=batch_no)
        cycle, cycle_cpu = time.perf_counter() - t_pick, ctx.cpu() - c_pick
        commit = manifest.stat().st_mtime_ns / 1e9
        batch_no += 1
        delivered += len(bodies)
        exp = model.apply(bodies)
        ok = checks.op(table.manifest.txn == txn0 + 1,
                       f"batch {batch_no}: no single commit")
        if ok:
            check_counts(checks, f"batch {batch_no}", pipeline.merge_log[-1][1], exp)
        return commit, (cycle, cycle_cpu), exp

    # One warm-up micro-batch compiles the MERGE's join path. The open
    # loop then runs PRE_ROLL s before the measured window opens, so the
    # window sees the loop's steady state rather than its start-up
    # backlog, and arrivals continue past the window until the batch
    # holding the window's last envelope has committed.
    now = time.time()
    run_batch([g.next_envelope().body for _ in range(WARMUP_BATCH_ROWS)],
              [now + i * 1e-4 for i in range(WARMUP_BATCH_ROWS)])
    ctx.mark("warmup")

    canary = Canary(spark)
    canary.measure()
    arrivals = random.Random(ctx.seed ^ 0x5EED)
    offsets = gen.poisson_offsets(arrivals, RATE, PRE_ROLL + ctx.seconds + POST_ROLL)
    stream = [g.next_envelope() for _ in offsets]
    t0 = time.time() + 0.05
    dues = [t0 + o for o in offsets]
    w0, w1 = t0 + PRE_ROLL, t0 + PRE_ROLL + ctx.seconds
    last = next(k for k, due in enumerate(dues) if due >= w1)
    fresh, cycles, cycles_cpu, late, picks = [], [], [], [], []
    steal = accounting.StealShare()
    measuring = False
    i = 0
    while i < last:
        now = time.time()
        j = i
        while j < len(stream) and dues[j] <= now:
            j += 1
        if j == i:
            time.sleep(max(0.0, dues[i] - now))
            continue
        in_window = w0 <= now < w1
        if in_window and not measuring:
            measuring = True
            ctx.begin_measure()
            steal.start()
        elif measuring and now >= w1:
            measuring = False
            ctx.end_measure()
        picks.extend([now] * (j - i))
        commit, (cycle, cycle_cpu), exp = run_batch(
            [e.body for e in stream[i:j]], dues[i:j])
        fresh.extend(commit - dues[k] for k in range(i, j) if w0 <= dues[k] < w1)
        if in_window:
            late.append(now - dues[i])
            cycles.append(cycle)
            cycles_cpu.append(cycle_cpu)
            ctx.batch_rows.append(j - i)
            ctx.stale_overrides += exp.stale_overrides
        i = j
    if measuring:
        ctx.end_measure()
    canary.measure()
    ctx.mark("measure")
    backlog_end = sum(1 for due, p in zip(dues, picks) if due <= w1 < p)

    # end-of-run correctness: table == model, every delivery archived
    check_table(checks, "final table", table.read(), model.rows)
    n_audit = spark.read.parquet(str(d / "audit")).count()
    checks.op(n_audit == delivered, f"audit rows {n_audit} != deliveries {delivered}")

    ctx.mark("checks")
    live = len(model.rows)
    store = accounting.tree_size(table.path)[0]
    e2e = scaled(ctx, canary, {
        "op_p50_s": percentile(fresh, 0.5),
        "op_p90_s": percentile(fresh, 0.9),
        "cycle_p50_s": percentile(cycles, 0.5),
    })
    e2e["setup_s"] = setup_s
    e2e["store_bytes_per_row"] = store / live
    ctx.notes.update({
        "steal_share": steal.share(),
        "freshness_samples": len(fresh), "cycles_s": [round(c, 2) for c in cycles],
        "batch_rows": list(ctx.batch_rows),
        "generator_late_p50_s": percentile(late, 0.5),
        "generator_late_max_s": max(late) if late else 0.0,
        "live_rows": live, "store_bytes": store,
        "stale_overrides": ctx.stale_overrides,
        "merge_log_len": len(pipeline.merge_log),
    })
    layers = {
        "ingest.backlog_end": float(backlog_end),
        "ingest.stale_overrides": float(ctx.stale_overrides),
        "mem.peak_rss_mb": peak_rss_mb(spark),
        "cpu.cycle_s": percentile(cycles_cpu, 0.5),
    }
    return Result(e2e, layers, checks.attempted, checks.failed, checks.messages, table)


# ---------------------------------------------------------------------------
# feed_sync_query
# ---------------------------------------------------------------------------

def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def feed_sync_query(ctx) -> Result:
    from webhookdb_spark.operators.matview import IncrementalAggMaintainer
    from webhookdb_spark.operators.upsert import upsert_envelopes
    from webhookdb_spark.plans import query_surface
    from webhookdb_spark.sinks.sync_target import DatabaseSyncTarget, SyncState
    from webhookdb_spark.storage import Warehouse

    spark, spec, checks = ctx.spark, _spec(), Checks()
    g = gen.ChargeGen(ctx.seed, FEED_ROWS)
    bodies = g.preload_bodies()
    page = ctx.work / "preload.parquet"
    write_page(page, bodies, time.time() - 86_400)
    model = new_model()
    exp_preload = model.apply(bodies)
    ctx.mark("generate")

    d = ctx.work / "state"

    def build():
        table = Warehouse(spark, d / "wh").table(ORG, spec.table)
        res = preload(ctx, table, page, capture_changes=True)
        mt = IncrementalAggMaintainer(spark, str(d / "ivm"), "stripe_id", "status", "amount")
        mt.run(table)
        sync = DatabaseSyncTarget(
            state=SyncState(d / "sync_state.json"), ts_col="updated",
            key_col="stripe_id", dest_path=d / "replica",
        )
        sync.run_sync_changes(table, now=_utc(time.time()).isoformat(), trim=True)
        return table, res, mt, sync

    setup_s, (table, res, mt, sync) = timed_setup(ctx, build)
    check_counts(checks, "preload", res, exp_preload)
    speed = QueryCanary(spark, ctx.work / "canary.parquet")
    qrng = random.Random(ctx.seed ^ 0xC0FFEE)
    lags, lags_cpu, qtimes, cycle_no = [], [], [], 0

    def probe() -> None:
        """One canary sample: before each merge, after each round."""
        with (ctx.tracer.unbilled() if ctx.tracer is not None
              else contextlib.nullcontext()):
            speed.sample()

    def query(sql: str, expect) -> None:
        t = time.perf_counter()
        r = query_surface.run_readonly_sql(spark, sql)
        qtimes.append(time.perf_counter() - t)
        got = sorted(tuple(x) for x in r.rows)
        checks.op(got == expect, f"query {sql[:60]}...: {got[:2]} != {expect[:2]}")

    def cycle(measured: bool, rounds: int) -> None:
        nonlocal cycle_no
        cycle_no += 1
        bodies = [g.next_envelope().body for _ in range(FS_BATCH)]
        now = time.time()
        df = spark.createDataFrame(
            [(gen.OPAQUE_ID, b, _utc(now + i * 1e-4)) for i, b in enumerate(bodies)],
            ENV_SCHEMA)
        probe()
        t_sub, c_sub = time.perf_counter(), ctx.cpu()
        res = upsert_envelopes(table, df, spec)
        mt.run(table)
        sync.run_sync_changes(table, now=_utc(now).isoformat(), trim=True)
        lag, lag_cpu = time.perf_counter() - t_sub, ctx.cpu() - c_sub
        exp = model.apply(bodies)
        ctx.stale_overrides += exp.stale_overrides
        check_counts(checks, f"cycle {cycle_no}", res, exp)
        if measured:
            lags.append(lag)
            lags_cpu.append(lag_cpu)
        table.read().createOrReplaceTempView(VIEW)
        rows = model.rows
        changed = sorted({modelmod.parse(b)[0] for b in bodies})
        agg: dict[str, list[int]] = {}
        for r in rows.values():
            a = agg.setdefault(r[8], [0, 0])
            a[0] += 1
            a[1] += r[0]
        by_status = sorted((s, n, t) for s, (n, t) in agg.items())
        top = sorted(rows.items(), key=lambda kv: (-kv[1][9].timestamp(), kv[0]))[:FS_TOP_N]
        top = sorted((k, r[9]) for k, r in top)
        for _ in range(rounds):
            keys = (qrng.sample(changed, min(FS_LOOKUPS, len(changed)))
                    + qrng.sample(g.keys, FS_LOOKUPS))
            for k in keys:
                r = rows[k]
                query(
                    f"SELECT stripe_id, amount, status, updated FROM {VIEW} "
                    f"WHERE stripe_id = {_sql_str(k)}",
                    [(k, r[0], r[8], r[9])],
                )
            query(
                f"SELECT status, count(*) AS n, sum(amount) AS total FROM {VIEW} "
                "GROUP BY status",
                by_status,
            )
            query(
                f"SELECT stripe_id, updated FROM {VIEW} "
                f"ORDER BY updated DESC, stripe_id LIMIT {FS_TOP_N}",
                top,
            )
            probe()

    for _ in range(FS_WARMUP_CYCLES):
        cycle(measured=False, rounds=FS_WARMUP_ROUNDS)
    qtimes.clear()
    speed.samples.clear()
    ctx.mark("warmup")
    ctx.begin_measure()
    steal = accounting.StealShare()
    # At least two cycles; after that, none predicted to end past the
    # window, so every run measures the same number of cycles unless
    # the host slows down.
    t_end = time.perf_counter() + ctx.seconds
    last = 0.0
    while True:
        now = time.perf_counter()
        if len(lags) >= 2 and now + last > t_end:
            break
        with (ctx.tracer.op_span("feed.cycle") if ctx.tracer is not None
              else contextlib.nullcontext()):
            cycle(measured=True, rounds=FS_QUERY_ROUNDS)
        last = time.perf_counter() - now
    ctx.end_measure()
    steal_share = steal.share()
    ctx.mark("measure")

    # end-of-run correctness: table, replica and matview against the model
    expected = model.rows
    check_table(checks, "final table", table.read(), expected)
    check_table(checks, "replica", spark.read.parquet(str(d / "replica")), expected)
    agg: dict[str, tuple[int, int]] = {}
    for r in expected.values():
        n, t = agg.get(r[8], (0, 0))
        agg[r[8]] = (n + 1, t + r[0])
    got = {r["group"]: (r["n_keys"], r["total"]) for r in mt.aggregate().collect()}
    checks.op(got == agg, f"matview {got} != GROUP BY {agg}")

    ctx.mark("checks")
    live = len(expected)
    store = sum(accounting.tree_size(p)[0]
                for p in (table.path, d / "replica", d / "ivm"))
    e2e = scaled(ctx, speed, {
        "op_p50_s": percentile(qtimes, 0.5),
        "op_p90_s": percentile(qtimes, 0.9),
        "cycle_p50_s": percentile(lags, 0.5),
    })
    e2e["setup_s"] = setup_s
    e2e["store_bytes_per_row"] = store / live
    ctx.notes.update({
        "steal_share": steal_share,
        "query_samples": len(qtimes), "cycles": len(lags),
        "replica_lag_p90_s": percentile(lags, 0.9),
        "live_rows": live, "store_bytes": store,
        "stale_overrides": ctx.stale_overrides,
    })
    layers = {
        "ingest.stale_overrides": float(ctx.stale_overrides),
        "mem.peak_rss_mb": peak_rss_mb(spark),
        "cpu.cycle_s": percentile(lags_cpu, 0.5),
    }
    return Result(e2e, layers, checks.attempted, checks.failed, checks.messages, table)


WORKLOADS = {
    "webhook_freshness": webhook_freshness,
    "feed_sync_query": feed_sync_query,
}
