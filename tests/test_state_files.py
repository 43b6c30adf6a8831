"""Small state files (watermarks, cursors, meta pointers) are committed
through one atomic write: concurrent writers never expose a torn or
missing file to a reader, and no module hand-rolls its own tmp+rename.

Pure Python: no Spark session is started.
"""

from __future__ import annotations

import ast
import json
import sys
import threading
from pathlib import Path

import pytest

from webhookdb_spark.sinks.migration import MigrationState
from webhookdb_spark.sinks.sync_target import SyncState
from webhookdb_spark.sources.backfill import CursorStore

PKG = Path(__file__).resolve().parent.parent / "webhookdb_spark"


@pytest.fixture()
def busy_switching():
    """Switch threads as often as the interpreter allows, so a write
    that is not atomic is caught between its steps."""
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    yield
    sys.setswitchinterval(old)


def _race(write, read, n_writers: int, n_writes: int) -> list[Exception]:
    """Run ``n_writers`` threads each calling ``write(i)`` ``n_writes``
    times while one reader calls ``read()`` until they finish; return
    every exception raised on either side."""
    errors: list[Exception] = []
    done = threading.Event()

    def writer(w: int) -> None:
        try:
            for i in range(n_writes):
                write(w * n_writes + i)
        except Exception as e:  # collected for the assert
            errors.append(e)

    def reader() -> None:
        while not done.is_set():
            try:
                read()
            except Exception as e:
                errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,))
               for w in range(n_writers)]
    r = threading.Thread(target=reader)
    r.start()
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    done.set()
    r.join(timeout=60)
    assert not any(t.is_alive() for t in [*threads, r]), "race did not finish"
    return errors


def _sync_state(path: Path, monkeypatch):
    st = SyncState(path / "sync_state.json")

    def write(i: int) -> None:
        st.save({"last_synced_at": f"2024-01-01 00:00:{i % 60:02d}",
                 "stats": [{"synced": i, "at": "x" * (i % 97)}]})

    def read() -> None:
        assert st.load()["last_synced_at"] is not None

    return write, read


def _cursor_store(path: Path, monkeypatch):
    cs = CursorStore(path / "cursors.json")

    def write(i: int) -> None:
        cs.set("org/fake_v1", f"2024-01-01T00:00:00Z/{'y' * (i % 97)}")

    def read() -> None:
        assert cs.get("org/fake_v1") is not None

    return write, read


def _migration_state(path: Path, monkeypatch):
    ms = MigrationState(path / "migration.json")

    def write(i: int) -> None:
        ms.save(last_integration=f"svi_{i}", last_timestamp="z" * (i % 97))

    def read() -> None:
        assert ms.load()["last_integration"] != ""

    return write, read


@pytest.mark.parametrize(
    "make", [_sync_state, _cursor_store, _migration_state],
    ids=["SyncState", "CursorStore", "MigrationState"])
def test_concurrent_writers_never_expose_torn_or_missing_state(
    tmp_path, monkeypatch, busy_switching, make
):
    """Several writers of one state file, one reader: no writer loses
    its tmp file to another, and the reader always parses a complete
    state (the default a missing file would yield fails its check)."""
    write, read = make(tmp_path, monkeypatch)
    write(0)
    errors = _race(write, read, n_writers=4, n_writes=50)
    assert not errors, f"{len(errors)} errors, first: {errors[0]!r}"
    assert [p.name for p in tmp_path.iterdir() if ".tmp" in p.name] == []


def _inverted_index_meta(path: Path, monkeypatch):
    """Single appender of an inverted index's meta sidecar; the segment
    build and write are stubbed, so an append is the meta's
    read-modify-write alone."""
    from webhookdb_spark.operators import corpus

    monkeypatch.setattr(corpus, "inverted_index_bucketed",
                        lambda df, *a, **kw: df)
    monkeypatch.setattr(corpus, "_ii_write_segment", lambda idx, d: None)
    root = path / "ii"
    root.mkdir()
    (root / corpus._II_META).write_text(json.dumps({
        "n_shards": 2, "postings_per_row": 8, "text_col": "text",
        "segments": ["seg_0"]}))

    def write(i: int) -> None:
        corpus.append_inverted_index(None, str(root))

    def read() -> None:
        json.loads((root / corpus._II_META).read_text())

    return write, read


@pytest.mark.parametrize(
    "make", [_migration_state, _inverted_index_meta],
    ids=["MigrationState.save", "append_inverted_index"])
def test_reader_racing_a_single_writer_always_parses(
    tmp_path, monkeypatch, busy_switching, make
):
    """Even one writer must never leave a reader a half-written file
    (a plain ``write_text`` truncates first, then writes)."""
    write, read = make(tmp_path, monkeypatch)
    write(0)
    errors = _race(write, read, n_writers=1, n_writes=150)
    assert not errors, f"{len(errors)} errors, first: {errors[0]!r}"


# -- guard: no hand-rolled state commit outside the helper ---------------

# (file relative to the package, function) allowed to rename a tmp file
# itself: the helper, and the sequence reservation whose stolen-lock
# check must sit between its tmp write and its replace.
_ALLOWED = {("storage.py", "write_atomic"), ("operators/upsert.py", "_reserve")}


def _looks_like_state_path(node: ast.AST, assigned: dict[str, str]) -> bool:
    text = ast.unparse(node)
    if isinstance(node, ast.Name):
        text = assigned.get(node.id, text)
    return ".tmp" in text or ".json" in text


def _state_commit_violations(path: Path) -> list[str]:
    tree = ast.parse(path.read_text())
    rel = path.relative_to(PKG).as_posix()
    out = []
    funcs = [n for n in ast.walk(tree)
             if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    for fn in funcs:
        if (rel, fn.name) in _ALLOWED:
            continue
        assigned = {
            t.id: ast.unparse(n.value)
            for n in ast.walk(fn) if isinstance(n, ast.Assign)
            for t in n.targets if isinstance(t, ast.Name)
        }
        for call in ast.walk(fn):
            if not (isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Attribute)):
                continue
            attr, owner = call.func.attr, call.func.value
            where = f"{rel}:{call.lineno} ({fn.name})"
            if attr == "write_text" and call.args and "dumps(" in ast.unparse(
                    call.args[0]):
                out.append(f"{where}: write_text(json.dumps(...))")
            elif attr == "replace" and not call.keywords:
                if isinstance(owner, ast.Name) and owner.id in ("os", "_os"):
                    operands = call.args
                elif len(call.args) == 1:  # Path.replace(target)
                    operands = [owner, *call.args]
                else:  # str.replace(old, new) and friends
                    continue
                if any(_looks_like_state_path(a, assigned) for a in operands):
                    out.append(f"{where}: replace of a state file")
    return sorted(set(out))  # a nested function is walked twice


def test_guard_every_state_commit_goes_through_write_atomic():
    """Scan the package: a ``write_text(json.dumps(...))`` or an
    ``os.replace``/``Path.replace`` of a ``*.tmp``/``*.json`` path
    outside ``storage.write_atomic`` (and ``IntegrationSequence._reserve``)
    is a second, hand-rolled commit path."""
    violations = [v for p in sorted(PKG.rglob("*.py"))
                  for v in _state_commit_violations(p)]
    assert violations == [], "\n".join(violations)


def test_guard_flags_a_hand_rolled_commit(tmp_path, monkeypatch):
    """The guard itself: both hand-rolled shapes are caught."""
    src = tmp_path / "mod.py"
    src.write_text(
        "import os, json\n"
        "def save(p, d):\n"
        "    tmp = p.with_suffix('.tmp')\n"
        "    tmp.write_text(json.dumps(d))\n"
        "    tmp.replace(p)\n"
        "def save2(p, d):\n"
        "    os.replace(p / 'x.json.tmp', p / 'x.json')\n")
    monkeypatch.setattr(sys.modules[__name__], "PKG", tmp_path)
    found = _state_commit_violations(src)
    assert len(found) == 3, found
