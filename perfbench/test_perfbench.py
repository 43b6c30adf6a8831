"""Self-tests of the benchmark (not of the package):

    python3 -m pytest perfbench -q -p no:cacheprovider

- the generator is deterministic per seed;
- the reference model agrees with the package on a tiny seed, batch by
  batch (MergeResult counts) and on the final table;
- corrupting one row of a finished table makes the table check fail;
- per op, the span self times sum to the op's wall time.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import gen  # noqa: E402
import workloads  # noqa: E402


def _stream(seed: int, n_keys: int, n: int) -> tuple[list[str], list[str]]:
    g = gen.ChargeGen(seed, n_keys)
    return g.preload_bodies(), [g.next_envelope().body for _ in range(n)]


def test_generator_is_deterministic_per_seed():
    assert _stream(11, 300, 200) == _stream(11, 300, 200)
    assert _stream(11, 300, 200) != _stream(12, 300, 200)
    import random

    assert (gen.poisson_offsets(random.Random(3), 8.0, 5.0)
            == gen.poisson_offsets(random.Random(3), 8.0, 5.0))


def test_generator_mix_and_unique_stamps():
    g = gen.ChargeGen(5, 500)
    kinds = [g.next_envelope().kind for _ in range(4000)]
    for kind, share in gen.MIX:
        assert abs(kinds.count(kind) / len(kinds) - share) < 0.03, kind
    # every version of a key carries its own `created` stamp
    for key, stamps in g.stamps.items():
        assert g.latest[key] in stamps


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("TZ", "UTC")
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(HERE.parent), os.environ.get("PYTHONPATH", "")) if p)
    from webhookdb_spark.session import get_spark

    s = get_spark(app_name="perfbench-selftest", cpus=2,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def tiny_run(spark, tmp_path_factory):
    """Preload 300 keys, then 4 traced micro-batches of 40 envelopes
    through IngestPipeline.process_batch, replayed on the model."""
    from tracing import Tracer

    import layers
    from webhookdb_spark.storage import Warehouse
    from webhookdb_spark.streaming.ingest import IngestPipeline, IntegrationRuntime

    root = tmp_path_factory.mktemp("tiny")
    spec = workloads._spec()
    g = gen.ChargeGen(21, 300)
    bodies = g.preload_bodies()
    page = root / "preload.parquet"
    workloads.write_page(page, bodies, time.time() - 3600)
    model = workloads.new_model()
    outcomes = [(model.apply(bodies), None)]
    table = Warehouse(spark, root / "wh").table("org", spec.table)
    ctx = type("Ctx", (), {"spark": spark})()
    outcomes[0] = (outcomes[0][0], workloads.preload(ctx, table, page, False))

    pipeline = IngestPipeline(warehouse=Warehouse(spark, root / "wh"),
                              audit_table_path=str(root / "audit"))
    pipeline.register(IntegrationRuntime(gen.OPAQUE_ID, "org", spec))
    tracer = Tracer(spark)
    layers.install_hooks(tracer)
    tracer.install()
    try:
        for b in range(4):
            batch = [g.next_envelope().body for _ in range(40)]
            now = time.time()
            df = spark.createDataFrame(
                [(gen.OPAQUE_ID, x, workloads._utc(now + i * 1e-3))
                 for i, x in enumerate(batch)], workloads.ENV_SCHEMA)
            pipeline.process_batch(df, batch_id=b)
            outcomes.append((model.apply(batch), pipeline.merge_log[-1][1]))
    finally:
        tracer.uninstall()
    return table, model, outcomes, tracer


def test_model_agrees_with_package_on_tiny_seed(tiny_run):
    table, model, outcomes, _ = tiny_run
    for exp, got in outcomes:
        assert (got.inserted, got.updated, got.noop) == (
            exp.inserted, exp.updated, exp.noop)
    checks = workloads.Checks()
    workloads.check_table(checks, "tiny", table.read(), model.rows)
    assert (checks.attempted, checks.failed) == (1, 0), checks.messages


def test_corrupting_one_row_fails_the_check(tiny_run, spark):
    from pyspark.sql import functions as F

    from webhookdb_spark.functions.converters import str2inthash_py
    from webhookdb_spark.storage import PART_COL

    table, model, _, _ = tiny_run
    victim = sorted(model.rows)[0]
    n = table.manifest.n_buckets
    b = str2inthash_py(victim) % n
    bucket = table.read(buckets=[b]).localCheckpoint(eager=True)
    corrupted = bucket.withColumn(
        "amount",
        F.when(F.col("stripe_id") == victim, F.col("amount") + 1)
        .otherwise(F.col("amount")),
    ).withColumn(PART_COL, F.lit(b))
    table.overwrite_buckets(corrupted, [b])
    checks = workloads.Checks()
    workloads.check_table(checks, "corrupted", table.read(), model.rows)
    assert checks.failed == 1
    assert victim in checks.messages[0]


def test_span_self_times_sum_to_op_wall(tiny_run):
    _, _, _, tracer = tiny_run
    spans = tracer.finish()
    roots = [s for s in spans if s.parent is None]
    assert len(roots) == 4
    assert {s.name for s in roots} == {"ingest.process_batch"}
    for root in roots:
        own = [s for s in spans if s.op == root.op]
        assert len(own) > 1
        assert sum(s.self_s for s in own) == pytest.approx(root.wall, abs=1e-9)
        assert all(s.self_s >= 0 for s in own)
    # a webhook-sized MERGE runs Spark jobs, all billed inside its op
    merges = [s for s in spans if s.name == "upsert.merge_upsert"]
    assert all(tracer.inclusive(s, "jobs") > 0 for s in merges)
