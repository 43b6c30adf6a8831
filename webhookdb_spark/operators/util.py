"""Shared operator plumbing.

``scale_out`` fixes the "one fat file = one task" trap: a narrow,
CPU-heavy map (minhash, simhash, language-ID) inherits the scan's
partitioning, and a single parquet file with one row group yields a
single task no matter how many cores exist. One round-robin shuffle of
the input bytes buys full-cluster parallelism for the expensive
compute that follows — worth it exactly when the per-row work dwarfs
one pass of I/O, which is true for all the hashing operators here.

On a real cluster reading 100 TB the scan already produces thousands
of splits, so the guard (`partitions >= defaultParallelism`) makes
this a no-op there; it only fires for coarse inputs.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def scale_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ``df`` up to the cluster's parallelism iff its
    current partitioning would leave cores idle.

    Gates on the scan's file count (a metadata listing) rather than
    ``df.rdd.getNumPartitions()`` — the RDD hop forces plan analysis
    and a JVM round-trip on every operator entry. Files under-count
    splits (a file can hold many row groups), which only errs toward a
    harmless extra repartition of an already-parallel input.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target)


def sql_doubles(vals) -> str:
    """The SQL text of :func:`lit_doubles` — for callers composing a
    larger single-``expr`` string around the literal."""
    import math

    def render(v) -> str:
        if isinstance(v, (list, tuple)):
            if not v:
                raise ValueError("lit_doubles: empty array level")
            return "array(" + ",".join(render(x) for x in v) + ")"
        f = float(v)
        if not math.isfinite(f):
            raise ValueError(f"lit_doubles: non-finite value {v!r}")
        return f"CAST('{f!r}' AS DOUBLE)"

    return render(vals)


def lit_doubles(vals) -> Column:
    """A (possibly nested) list of finite floats as ONE array literal.

    ``F.array(*[F.lit(x) ...])`` costs one py4j round-trip per element
    — a 8x64 centroid matrix is ~500 driver calls (~0.4 s measured),
    and the ANN operators build several per query. Rendering the whole
    nested array as a single ``expr`` string is one round-trip and
    value-identical: ``repr(float)`` is the shortest IEEE-754
    round-trip form, and CAST(string AS DOUBLE) parses it back to the
    same bits. Guarded to finite values (the callers' md5-derived
    planes/centroids/codebooks are always finite).
    """
    return F.expr(sql_doubles(vals))


def sql_str_lit(x) -> str:
    """Render a Python string as a SQL string literal, escaping embedded
    single quotes (the only metacharacter inside a standard literal).
    Every oracle-twin builder that interpolates user-supplied strings
    must route through this (or :func:`sql_str_list`)."""
    return "'" + str(x).replace("'", "''") + "'"


def sql_str_list(items) -> str:
    """Render a string iterable as a comma-separated SQL literal list."""
    return ", ".join(sql_str_lit(x) for x in items)


# The package's one expression cache (see :func:`memo_col`).
MEMO_BOUND = 4096
_MEMO: OrderedDict = OrderedDict()
_MEMO_LOCK = threading.Lock()
_memo_sc = None  # the SparkContext the stored trees were built under
_MISS = object()


def memo_col(key: tuple, build):
    """Memoize a pure constructed Column expression by parameter key.

    A Column is an immutable unresolved expression tree, but BUILDING
    one costs one py4j round-trip (~0.13-0.5 ms) per operator — the
    hashing/shingling operators rebuild identical 50-200-operator trees
    on every call, and a composite query calls them dozens of times
    (guide §5: driver work). Keys must capture every parameter the
    expression depends on (column NAMES, not DataFrames — the trees
    bind by name at analysis time, so reuse across inputs is exactly
    the semantics of writing the expression once at module level).
    ``build()`` may return a Column or a list/tuple/dict of Columns.

    The store is LRU-bounded by ``MEMO_BOUND`` and belongs to the
    active SparkContext: trees hold that context's JVM handles, so the
    store is emptied when the context changes (a plain attribute read,
    no py4j call)."""
    global _memo_sc
    sc = SparkContext._active_spark_context
    with _MEMO_LOCK:
        if sc is not _memo_sc:
            _MEMO.clear()
            _memo_sc = sc
        hit = _MEMO.get(key, _MISS)
        if hit is not _MISS:
            _MEMO.move_to_end(key)
            return hit
    hit = build()
    with _MEMO_LOCK:
        if sc is _memo_sc:
            _MEMO[key] = hit
            while len(_MEMO) > MEMO_BOUND:
                _MEMO.popitem(last=False)
    return hit


def bind(df: DataFrame, name: str, expr: Column) -> DataFrame:
    """Materialize ``expr`` as column ``name`` behind a projection
    barrier, guaranteeing it is evaluated exactly once per row.

    ``explode(array(expr))`` is a single-element Generate: it never
    changes the row count (a NULL result is a one-element [NULL]
    array), but CollapseProject cannot inline expressions through a
    Generate node, so downstream references see a cheap attribute.

    This matters in two situations the optimizer does not handle:
    (1) an expensive expression referenced by many output columns —
    higher-order functions are interpreted, outside whole-stage
    codegen's subexpression elimination; (2) an array expression
    referenced *inside* a lambda (e.g. ``element_at(split(x), i)`` in a
    ``transform``) — the inner expression is re-evaluated per array
    element, turning a linear scan quadratic.

    withColumn instead of ``select(*df.columns, …)``: same Generate
    plan (generators are legal in withColumn), but ONE py4j call where
    select paid one per column name (guide §5) — bind() runs dozens of
    times per dedup composite. ``name`` must be fresh (select would
    reject a duplicate; withColumn would silently replace).
    """
    if name in df.columns:
        raise ValueError(f"bind: column {name!r} already exists")
    return df.withColumn(name, F.explode(F.array(expr)))
