"""Repository benchmark: run one workload from a seed and print metrics.

    python3 perfbench/run.py --workload webhook_freshness --seed 1 \\
        --seconds 15 --trace 0

Run from the root of a checkout. The package is imported from that
checkout; everything the run writes goes under ``.perfbench/`` there
(the per-run work dir is removed at the end; span dumps and the last
untraced result per workload stay in ``.perfbench/out``).

Human-readable lines go first; the LAST line of stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, measured untraced.
With ``--trace 1`` the package entry points are wrapped in spans (see
``tracing.py``) and the metrics are the per-layer ones; the traced run
also prints its end-to-end values and the tracing overhead against
the last untraced run of the same workload and seed, if there is one.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CPUS = 4  # local[4], one client thread
DRIVER_MEMORY = "2g"

E2E_UNITS = {
    "op_p50_s": "s",
    "op_p90_s": "s",
    "cycle_p50_s": "s",
    "store_bytes_per_row": "B/row",
    "setup_s": "s",
}


class Ctx:
    """What a workload gets: session, seed, clock window, tracer."""

    def __init__(self, spark, seed: int, seconds: int, work: Path, tracer) -> None:
        import accounting

        self.spark = spark
        self.cpu = accounting.CpuClock(accounting.jvm_pid(spark))
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.notes: dict = {}
        self.stale_overrides = 0
        self.batch_rows: list[int] = []
        self.span_window = (0, 0)
        self.gc_window = (0.0, 0.0)
        self._t0 = time.perf_counter()
        self.notes["phases_s"] = {}

    def mark(self, phase: str) -> None:
        """Record how far into the run ``phase`` ended."""
        self.notes["phases_s"][phase] = round(time.perf_counter() - self._t0, 2)

    def begin_measure(self) -> None:
        if self.tracer is not None:
            import accounting

            self.span_window = (len(self.tracer.spans), 0)
            self.gc_window = (accounting.jvm_gc_seconds(self.spark), 0.0)

    def end_measure(self) -> None:
        if self.tracer is not None:
            import accounting

            self.span_window = (self.span_window[0], len(self.tracer.spans))
            self.gc_window = (self.gc_window[0], accounting.jvm_gc_seconds(self.spark))


def _args(argv):
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: Path) -> None:
    """Keep every file the run writes inside the checkout, and make
    the package importable by the driver and the Python workers."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, str(ROOT))


def _start_spark(work: Path):
    from webhookdb_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench", cpus=CPUS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception as e:  # already closed by stop(); nothing left to do
        print(f"gateway shutdown: {e}", file=sys.stderr)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _fmt(v: float) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main(argv=None) -> int:
    if not (ROOT / "webhookdb_spark" / "__init__.py").is_file():
        print(f"perfbench: package webhookdb_spark not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    args = _args(argv)
    import accounting
    import layers
    import workloads

    out_dir = ROOT / ".perfbench" / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    work = ROOT / ".perfbench" / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _environment(work)
    t_start = time.perf_counter()
    spark = _start_spark(work)
    session_s = time.perf_counter() - t_start
    tracer = None
    try:
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            layers.install_hooks(tracer)
            tracer.install()
        ctx = Ctx(spark, args.seed, args.seconds, work, tracer)
        try:
            res = workloads.WORKLOADS[args.workload](ctx)
        finally:
            if tracer is not None:
                tracer.uninstall()
        orphans = accounting.orphan_bytes(res.table.path)
        print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} "
              f"trace {args.trace} local[{CPUS}] session_start_s {session_s:.3f}")
        for k, v in sorted(ctx.notes.items()):
            print(f"  note {k} = {v}")
        print("end-to-end" + (" (traced)" if args.trace else ""))
        meaning = layers.E2E_MEANING
        for k, v in res.e2e.items():
            desc = meaning[k].get(args.workload) or meaning[k].get("*", "")
            print(f"  {k:<22} {_fmt(v):>14} {E2E_UNITS[k]:<6} {desc}")
        frac = res.failed / res.attempted if res.attempted else 0.0
        print(f"  {'failed_frac':<22} {_fmt(frac):>14} ratio  "
              f"{res.failed} failed of {res.attempted} attempted ops")
        for m in res.failures[:10]:
            print(f"  FAILED {m}")
        last_untraced = out_dir / f"last_untraced_{args.workload}_{args.seed}.json"
        if not args.trace:
            last_untraced.write_text(json.dumps(res.e2e))
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in res.e2e.items()}
        else:
            spans = tracer.finish()
            lo, hi = ctx.span_window
            window = spans[lo:hi]
            n_ops = len({s.op for s in window}) or 1
            extra = dict(res.layers)
            extra.update({
                "batch_rows": ctx.batch_rows,
                "storage.orphan_bytes": orphans,
                "jvm.gc_s": ctx.gc_window[1] - ctx.gc_window[0],
                "trace.overhead_s": tracer.overhead_s / n_ops,
            })
            vals = layers.compute(tracer, window, extra)
            changed, rewritten = layers.useful_ratio_base(window)
            print(f"per-layer ({n_ops} measured ops, {len(window)} spans; "
                  f"tracer {tracer.overhead_s:.3f} s, {tracer.overhead_calls} py4j calls)")
            for name, unit, _better, moves in layers.PER_LAYER:
                base = (f" [{changed} changed / {rewritten} rewritten]"
                        if name == "upsert.useful_ratio" else "")
                print(f"  {name:<32} {_fmt(vals[name]):>14} {unit:<6} -> {moves}{base}")
            if last_untraced.exists():
                ref = json.loads(last_untraced.read_text())
                print("tracing overhead (traced - untraced, same workload and seed)")
                for k, v in res.e2e.items():
                    if k in ref:
                        print(f"  {k:<22} {_fmt(v - ref[k]):>14} {E2E_UNITS[k]}")
            tracer.write(out_dir / f"spans_{args.workload}_{args.seed}.jsonl")
            units = {n: u for n, u, _b, _m in layers.PER_LAYER}
            metrics = {k: {"value": v, "unit": units[k]} for k, v in vals.items()}
        print(json.dumps({
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
