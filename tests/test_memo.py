"""The package's one expression cache, ``operators.util.memo_col``.

Pins the three properties the memo must have beyond "returns the same
tree twice": it is LRU-bounded, it is tied to the SparkContext whose
JVM handles its trees hold, and spec-keyed trees key on the spec
object itself (never its name, which ``dataclasses.replace`` copies
keep). A guard scan keeps a second cache from growing back.
"""

from __future__ import annotations

import ast
import dataclasses
import json
from pathlib import Path

from pyspark.sql import functions as F

from webhookdb_spark.operators import util

REPO = Path(__file__).resolve().parent.parent
MEMO_HOME = REPO / "webhookdb_spark" / "operators" / "util.py"


def test_memo_is_lru_bounded(spark):
    bound = util.MEMO_BOUND
    builds: list = []

    def get(i):
        return util.memo_col(
            ("test_memo_lru", i), lambda: builds.append(i) or object()
        )

    for i in range(bound + 1):
        get(i)
    assert len(util._MEMO) == bound
    assert builds == list(range(bound + 1))
    newest = get(bound)
    assert get(bound) is newest and len(builds) == bound + 1  # still a hit
    get(0)  # the oldest key was evicted: rebuilt (evicting key 1)
    assert builds[-1] == 0 and len(builds) == bound + 2
    get(2)  # a hit refreshes recency ...
    get("one more")  # ... so this insert evicts key 3, not key 2
    n = len(builds)
    get(2)
    assert len(builds) == n
    get(3)
    assert builds[-1] == 3 and len(util._MEMO) == bound


def test_memo_survives_concurrent_callers(spark, monkeypatch):
    """Streaming callbacks and concurrent backfillers share the memo
    from several threads: hits, inserts and evictions must not race."""
    import random
    import sys
    import threading

    bound = 16
    monkeypatch.setattr(util, "MEMO_BOUND", bound, raising=False)
    errors: list = []

    def work(seed):
        rng = random.Random(seed)
        try:
            for _ in range(3000):
                k = rng.randrange(4 * bound)
                got = util.memo_col(("test_memo_threads", k), lambda: ("v", k))
                assert got == ("v", k)
        except Exception as ex:  # reported by the assertion below
            errors.append(repr(ex))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(i,)) for i in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert len(util._MEMO) <= bound


def test_expectation_reason_memo_stays_bounded(spark, monkeypatch):
    """A landing contract with data-derived thresholds builds a new
    CASE chain per distinct threshold; the memo must not keep them
    all."""
    from webhookdb_spark.operators.profile import expectation_reason

    bound = 32
    monkeypatch.setattr(util, "MEMO_BOUND", bound, raising=False)
    first = expectation_reason([("between", "x", 0, 0)])
    assert expectation_reason([("between", "x", 0, 0)]) is first
    for hi in range(1, 2 * bound):
        expectation_reason([("between", "x", 0, hi)])
    assert expectation_reason([("between", "x", 0, 0)]) is not first, (
        "the oldest contract's tree outlived the bound"
    )
    assert len(util._MEMO) <= bound


def test_memo_is_rebuilt_under_a_new_context():
    """Trees hold their SparkContext's JVM handles: after stop() and a
    new session the memo must rebuild, and the rebuilt tree must
    evaluate. Runs in a subprocess: the suite's shared session must
    stay up."""
    import subprocess
    import sys

    code = """
import sys
sys.path.insert(0, {repo!r})
from webhookdb_spark.operators.profile import expectation_reason
from webhookdb_spark.session import get_spark
rules = [("between", "x", 0, 10)]
s = get_spark(app_name="memo-proc", cpus=1, shuffle_partitions=1)
first = expectation_reason(rules)
assert expectation_reason(rules) is first
s.stop()
s2 = get_spark(app_name="memo-proc-2", cpus=1, shuffle_partitions=1)
second = expectation_reason(rules)
assert second is not first, "a stopped context's tree was reused"
df = s2.createDataFrame([(1, 5), (2, 11)], "i int, x int")
got = [r[0] for r in df.orderBy("i").select(second).collect()]
assert got == [None, "between(x,0,10)"], got
s2.stop()
print("MEMO_CONTEXT_OK")
""".format(repo=str(REPO))
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=240)
    assert "MEMO_CONTEXT_OK" in out.stdout, out.stdout + out.stderr


def test_replaced_specs_sharing_a_name_merge_by_their_own_rule(
    spark, tmp_path
):
    """Two ``dataclasses.replace`` copies keep the name ``fake_v1`` and
    differ only in ``update_where``: each must MERGE the same batch by
    its own rule, so the shape/merge trees cannot be keyed by name."""
    from webhookdb_spark.operators.upsert import upsert_envelopes
    from webhookdb_spark.replicators.fake import FAKE_V1
    from webhookdb_spark.storage import Warehouse

    always = dataclasses.replace(FAKE_V1, update_where=lambda s, t: F.lit(True))
    never = dataclasses.replace(FAKE_V1, update_where=lambda s, t: F.lit(False))
    assert always.name == never.name == FAKE_V1.name

    def env(v):
        body = {"my_id": "a", "at": "2024-01-01T00:00:00Z", "v": v}
        return spark.createDataFrame(
            [("fake_v1", json.dumps(body), None)],
            "opaque_id string, body string, received_at timestamp",
        )

    got = {}
    for label, spec in (("always", always), ("never", never)):
        t = Warehouse(spark, tmp_path / label).table("org", "fake_v1")
        assert upsert_envelopes(t, env(1), spec).inserted == 1
        res = upsert_envelopes(t, env(2), spec)
        got[label] = (
            res.updated,
            res.noop,
            json.loads(t.read().select("data").first()[0])["v"],
        )
    assert got == {"always": (1, 0, 2), "never": (0, 1, 1)}, got


def _cache_sites(path: Path) -> list[str]:
    """Module-level empty containers bound to a *MEMO*/*CACHE* name, and
    ``object.__setattr__(..., "_...memo")`` calls, in one source file."""
    tree = ast.parse(path.read_text(), filename=str(path))
    hits = []
    empty_calls = {"dict", "list", "set", "OrderedDict"}
    for node in tree.body:
        if isinstance(node, ast.Assign):
            targets, value = node.targets, node.value
        elif isinstance(node, ast.AnnAssign) and node.value is not None:
            targets, value = [node.target], node.value
        else:
            continue
        empty = (
            isinstance(value, (ast.Dict, ast.List, ast.Set)) and not (
                value.keys if isinstance(value, ast.Dict) else value.elts
            )
        ) or (
            isinstance(value, ast.Call)
            and not value.args
            and getattr(value.func, "id", getattr(value.func, "attr", None))
            in empty_calls
        )
        for tgt in targets:
            name = getattr(tgt, "id", "")
            if empty and ("MEMO" in name.upper() or "CACHE" in name.upper()):
                if (path, name) != (MEMO_HOME, "_MEMO"):
                    hits.append(f"{path.name}:{node.lineno} {name}")
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "__setattr__"
            and getattr(node.func.value, "id", None) == "object"
            and len(node.args) >= 2
            and isinstance(node.args[1], ast.Constant)
            and isinstance(node.args[1].value, str)
            and node.args[1].value.startswith("_")
            and node.args[1].value.lower().endswith("memo")
        ):
            hits.append(f"{path.name}:{node.lineno} {node.args[1].value}")
    return hits


def test_no_second_expression_cache():
    files = sorted((REPO / "webhookdb_spark").rglob("*.py"))
    files.append(REPO / "__spark_entry__.py")
    hits = [h for f in files for h in _cache_sites(f)]
    assert not hits, (
        "expression caches outside operators.util.memo_col: " + ", ".join(hits)
    )
