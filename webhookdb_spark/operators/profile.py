"""Column profiling — the data-quality pass a pipeline runs before
trusting a new table (null rates, cardinalities, ranges, modes).

The reference exposes per-table stats through its admin surface
(organization stats / table row counts); this generalizes that to a
per-column profile computed in two aggregate passes, and is equally
the first step of a training-data audit (how many null texts, how
skewed is `source`, what is the dominant label).

Distributed shape: every column's values are canonicalized to strings
with ENGINE-PORTABLE casts (numerics via TRY_CAST to DECIMAL(38,6) —
raw double→string formatting diverges between engines on
exponent-range values; magnitudes beyond 32 integer digits
canonicalize to NULL on BOTH engines, a documented bound, instead of
one engine nulling and the other raising;
timestamps/strings cast directly, verified byte-identical),
then unpivoted into a narrow (col_name, v) stream with ONE explode —
no per-column job. Null/distinct/min/max ride one groupBy on
col_name; the mode takes a (col_name, v) count plus a
C-partition window. Both shuffles carry narrow keys; map-side combine
applies to each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from webhookdb_spark.operators.util import memo_col

_NUM_TYPES = ("int", "bigint", "double", "float", "decimal", "smallint", "tinyint")


def _canon(df: DataFrame, c: str):
    dt = dict(df.dtypes)[c]
    if any(dt.startswith(t) for t in _NUM_TYPES):
        # route through the string repr BEFORE the decimal cast: for
        # doubles beyond 2^53 Spark decimalizes the shortest round-trip
        # repr (1e30 -> 1e30 exactly) while DuckDB decimalizes the exact
        # binary value (1e30 -> ...042420637374017.961984); both engines'
        # double->string is the shortest repr, so parsing THAT into
        # decimal(38,6) agrees everywhere
        return (
            F.col(c).cast("string").try_cast("decimal(38,6)").cast("string")
        )
    return F.col(c).cast("string")


def profile_columns(
    df: DataFrame,
    columns: list[str] | None = None,
    approx: bool = False,
    kmv_k: int = 256,
) -> DataFrame:
    """(col_name, n_rows, n_null, n_distinct, min_v, max_v, top_value,
    top_count): per-column profile. ``top_value`` is the mode over
    non-null values, ties to the lexicographically lowest value; an
    all-null column profiles with a NULL mode and top_count 0.

    ``approx=True`` swaps the one heavy aggregate — exact
    ``countDistinct`` keeps every distinct value as shuffle state,
    which for a near-unique column at 100 TB IS the column — for the
    KMV sketch (:func:`webhookdb_spark.operators.sketches.kmv_distinct`,
    ~1/sqrt(k-2) relative error, exact below ``kmv_k`` distincts).
    Same output schema; every other statistic stays exact. The exact
    mode remains the oracle twin."""
    from webhookdb_spark.operators.util import scale_out

    cols = columns or df.columns
    # The explode amplifies every input row by len(cols) and both
    # aggregations inherit the scan's partitioning — a one-file table
    # profiles in ONE task without this (scale_out is a no-op once the
    # scan itself is parallel).
    stream = scale_out(df.select(*cols)).select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("col_name"), _canon(df, c).alias("v")
                )
                for c in cols
            ])
        ).alias("_e")
    ).select("_e.col_name", "_e.v")
    base = stream.groupBy("col_name").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).cast("long").alias("n_null"),
        *([] if approx else [F.countDistinct("v").alias("n_distinct")]),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )
    if approx:
        from webhookdb_spark.operators.sketches import kmv_distinct

        est = kmv_distinct(
            stream.where(F.col("v").isNotNull()), "col_name", "v", k=kmv_k
        ).select(
            "col_name", F.col("est_distinct").alias("_est")
        )
        base = base.join(est, "col_name", "left").withColumn(
            "n_distinct", F.coalesce(F.col("_est"), F.lit(0)).cast("long")
        ).drop("_est")
    counts = (
        stream.where(F.col("v").isNotNull())
        .groupBy("col_name", "v")
        .agg(F.count("*").alias("_c"))
    )
    w = Window.partitionBy("col_name").orderBy(F.col("_c").desc(), F.col("v").asc())
    mode = (
        counts.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("col_name", F.col("v").alias("top_value"), F.col("_c").alias("top_count"))
    )
    return (
        base.join(mode, "col_name", "left")
        .select(
            "col_name", "n_rows", "n_null", "n_distinct", "min_v", "max_v",
            "top_value",
            F.coalesce("top_count", F.lit(0)).cast("long").alias("top_count"),
        )
        .orderBy("col_name")
    )


def sql_profile_columns_approx(
    table: str, col_kinds: dict[str, str], kmv_k: int = 256
) -> str:
    """DuckDB twin of ``profile_columns(approx=True)`` — the KMV
    estimator is the same integer arithmetic over the same md5-prefix
    hash as :func:`webhookdb_spark.operators.sketches.kmv_distinct`,
    so even the APPROXIMATE profile hash-matches across engines."""
    m = 1 << 28
    parts = []
    for c, kind in col_kinds.items():
        canon = (
            f"CAST(TRY_CAST(CAST({c} AS VARCHAR) AS DECIMAL(38,6)) AS VARCHAR)"
            if kind == "num" else f"CAST({c} AS VARCHAR)"
        )
        parts.append(f"SELECT '{c}' AS col_name, {canon} AS v FROM {table}")
    stream = " UNION ALL ".join(parts)
    return f"""
    WITH s AS ({stream}),
    base AS (
      SELECT col_name, count(*) AS n_rows,
             CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             min(v) AS min_v, max(v) AS max_v
      FROM s GROUP BY col_name
    ),
    h AS (
      SELECT DISTINCT col_name,
             CAST('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 7) AS BIGINT) AS hv
      FROM s WHERE v IS NOT NULL
    ),
    topk AS (
      SELECT col_name, hv,
             row_number() OVER (PARTITION BY col_name ORDER BY hv ASC) AS rn
      FROM h
    ),
    est AS (
      SELECT col_name,
             CAST(CASE WHEN count(*) < {kmv_k} THEN count(*)
                       ELSE CAST({kmv_k} - 1 AS BIGINT) * {m} // max(hv)
                  END AS BIGINT) AS n_distinct
      FROM topk WHERE rn <= {kmv_k} GROUP BY col_name
    ),
    mode AS (
      SELECT col_name, v AS top_value, c AS top_count FROM (
        SELECT col_name, v, count(*) AS c,
               row_number() OVER (PARTITION BY col_name
                                  ORDER BY count(*) DESC, v ASC) AS rn
        FROM s WHERE v IS NOT NULL GROUP BY col_name, v
      ) WHERE rn = 1
    )
    SELECT b.col_name, b.n_rows, b.n_null,
           CAST(coalesce(e.n_distinct, 0) AS BIGINT) AS n_distinct,
           b.min_v, b.max_v,
           m.top_value, CAST(coalesce(m.top_count, 0) AS BIGINT) AS top_count
    FROM base b
    LEFT JOIN est e ON b.col_name = e.col_name
    LEFT JOIN mode m ON b.col_name = m.col_name
    ORDER BY b.col_name
    """


def sql_profile_columns(table: str, col_kinds: dict[str, str]) -> str:
    """DuckDB twin of :func:`profile_columns`. ``col_kinds`` maps each
    column to 'num' (decimal canon) or 'raw' (direct VARCHAR cast) —
    the same canonicalization the Spark side derives from dtypes."""
    parts = []
    for c, kind in col_kinds.items():
        canon = (
            f"CAST(TRY_CAST(CAST({c} AS VARCHAR) AS DECIMAL(38,6)) AS VARCHAR)"
            if kind == "num" else f"CAST({c} AS VARCHAR)"
        )
        parts.append(f"SELECT '{c}' AS col_name, {canon} AS v FROM {table}")
    stream = " UNION ALL ".join(parts)
    return f"""
    WITH s AS ({stream}),
    base AS (
      SELECT col_name, count(*) AS n_rows,
             CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             count(DISTINCT v) AS n_distinct,
             min(v) AS min_v, max(v) AS max_v
      FROM s GROUP BY col_name
    ),
    mode AS (
      SELECT col_name, v AS top_value, c AS top_count FROM (
        SELECT col_name, v, count(*) AS c,
               row_number() OVER (PARTITION BY col_name
                                  ORDER BY count(*) DESC, v ASC) AS rn
        FROM s WHERE v IS NOT NULL GROUP BY col_name, v
      ) WHERE rn = 1
    )
    SELECT b.col_name, b.n_rows, b.n_null, b.n_distinct, b.min_v, b.max_v,
           m.top_value, CAST(coalesce(m.top_count, 0) AS BIGINT) AS top_count
    FROM base b LEFT JOIN mode m ON b.col_name = m.col_name
    ORDER BY b.col_name
    """


# ---------------------------------------------------------------------------
# Data-quality expectations — declarative table contracts (the
# dbt-test / Deequ shape): every rule compiles into ONE aggregate pass
# over the table, so a 100 TB contract check costs one scan no matter
# how many rules it carries. Distinct from profiling: the profiler
# DESCRIBES a table, expectations ASSERT it and report violations.
# ---------------------------------------------------------------------------

def check_expectations(df, rules) -> "DataFrame":
    """(rule, n_violations, passed): evaluate declarative rules in one
    aggregate. ``rules`` is a list of tuples:

    - ``("not_null", col)``
    - ``("unique", col)`` — duplicate rows counted as n - n_distinct
      (NULLs don't count toward either)
    - ``("in_set", col, (v1, v2, ...))`` — NULL passes (compose with
      not_null to forbid it)
    - ``("between", col, lo, hi)`` — inclusive; NULL passes
    - ``("regex", col, pattern)`` — full-match; NULL passes
    - ``("non_negative", col)``

    All violation counters are conditional counts inside one
    two-phase aggregate; ``unique`` adds a count_distinct to the same
    pass. The result rows come from the single aggregate row via one
    explode (never a per-rule union — the lesson the correlations
    plan gate taught)."""
    aggs = []
    names = []
    for rule in rules:
        kind, col = rule[0], rule[1]
        name = f"{kind}({col})"
        c = F.col(col)
        if kind == "not_null":
            viol = F.count(F.when(c.isNull(), 1))
        elif kind == "unique":
            viol = (
                F.count(c) - F.count_distinct(c)
            )
        elif kind == "in_set":
            vals = list(rule[2])
            name = f"in_set({col})"
            viol = F.count(F.when(c.isNotNull() & ~c.isin(*vals), 1))
        elif kind == "between":
            lo, hi = rule[2], rule[3]
            name = f"between({col},{lo},{hi})"
            viol = F.count(
                F.when(c.isNotNull() & ((c < lo) | (c > hi)), 1)
            )
        elif kind == "regex":
            pat = rule[2]
            viol = F.count(
                F.when(c.isNotNull() & ~c.cast("string").rlike(f"^(?:{pat})$"), 1)
            )
        elif kind == "non_negative":
            viol = F.count(F.when(c.isNotNull() & (c < 0), 1))
        else:
            raise ValueError(f"unknown expectation kind {kind!r}")
        aggs.append(viol.cast("long").alias(f"v{len(names)}"))
        names.append(name)
    one = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(n).alias("rule"),
            F.col(f"v{i}").alias("n_violations"),
            (F.col(f"v{i}") == 0).alias("passed"),
        )
        for i, n in enumerate(names)
    ]
    return one.select(F.explode(F.array(*structs)).alias("_r")).select("_r.*")


def sql_check_expectations(rules, table: str) -> str:
    """DuckDB twin of :func:`check_expectations` — identical rule
    names, identical counters."""
    from webhookdb_spark.operators.util import sql_str_lit, sql_str_list

    parts = []
    for rule in rules:
        kind, col = rule[0], rule[1]
        name = f"{kind}({col})"
        if kind == "not_null":
            viol = f"count(CASE WHEN {col} IS NULL THEN 1 END)"
        elif kind == "unique":
            viol = f"count({col}) - count(DISTINCT {col})"
        elif kind == "in_set":
            vals = sql_str_list(rule[2])
            viol = (
                f"count(CASE WHEN {col} IS NOT NULL AND"
                f" {col} NOT IN ({vals}) THEN 1 END)"
            )
        elif kind == "between":
            lo, hi = rule[2], rule[3]
            name = f"between({col},{lo},{hi})"
            viol = (
                f"count(CASE WHEN {col} IS NOT NULL AND"
                f" ({col} < {lo} OR {col} > {hi}) THEN 1 END)"
            )
        elif kind == "regex":
            pat = rule[2]
            viol = (
                f"count(CASE WHEN {col} IS NOT NULL AND NOT"
                f" regexp_full_match(CAST({col} AS VARCHAR), {sql_str_lit(pat)})"
                " THEN 1 END)"
            )
        elif kind == "non_negative":
            viol = f"count(CASE WHEN {col} IS NOT NULL AND {col} < 0 THEN 1 END)"
        else:
            raise ValueError(f"unknown expectation kind {kind!r}")
        parts.append(
            f"SELECT {sql_str_lit(name)} AS rule,"
            f" CAST({viol} AS BIGINT) AS n_violations,"
            f" {viol} = 0 AS passed FROM {table}"
        )
    return " UNION ALL ".join(parts)


def fk_orphans(
    child: "DataFrame",
    parent: "DataFrame",
    child_key: str,
    parent_key: str,
) -> "DataFrame":
    """One row (child_key, parent_key, n_child, n_orphans, passed):
    referential-integrity audit — how many child rows reference a key
    absent from the parent. The cross-table member of the
    data-quality family (:func:`check_expectations` covers
    single-table rules). NULL child keys are not orphans (SQL FK
    semantics: NULL references nothing).

    Shape: one anti-join on the key (the parent side ships only its
    key column; broadcast when dimension-sized, shuffle otherwise —
    Catalyst's call) + two 1-row counts. At 100 TB this is the
    cheapest possible audit for the question asked.
    """
    from pyspark.sql import functions as F

    nn = child.where(F.col(child_key).isNotNull())
    orphans = nn.join(
        parent.select(F.col(parent_key).alias(child_key)).distinct(),
        child_key,
        "anti",
    )
    tot = nn.agg(F.count(F.lit(1)).alias("_n"))
    orf = orphans.agg(F.count(F.lit(1)).alias("_o"))
    return tot.crossJoin(orf).select(
        F.lit(child_key).alias("child_key"),
        F.lit(parent_key).alias("parent_key"),
        F.col("_n").cast("long").alias("n_child"),
        F.col("_o").cast("long").alias("n_orphans"),
        (F.col("_o") == 0).alias("passed"),
    )


def sql_fk_orphans(
    child_table: str, parent_table: str, child_key: str, parent_key: str
) -> str:
    """DuckDB twin of :func:`fk_orphans`."""
    return f"""
    WITH nn AS (
      SELECT {child_key} AS k FROM {child_table}
      WHERE {child_key} IS NOT NULL
    ),
    o AS (
      SELECT count(*) AS _o FROM nn
      WHERE k NOT IN (SELECT DISTINCT {parent_key} FROM {parent_table}
                      WHERE {parent_key} IS NOT NULL)
    )
    SELECT '{child_key}' AS child_key, '{parent_key}' AS parent_key,
           (SELECT CAST(count(*) AS BIGINT) FROM nn) AS n_child,
           CAST(_o AS BIGINT) AS n_orphans,
           _o = 0 AS passed
    FROM o
    """


def anonymity_audit(
    df: DataFrame,
    qi_cols: list[str],
    sensitive_col: str,
    k: int = 5,
    l: int = 2,
) -> DataFrame:
    """k-anonymity + l-diversity audit — the governance pass a corpus
    runs before releasing structured records: every equivalence class
    over the quasi-identifier columns ``qi_cols`` with its size
    (k-anonymity: a class smaller than ``k`` re-identifies its
    members) and the number of DISTINCT values of ``sensitive_col``
    inside it (l-diversity: a class with fewer than ``l`` distinct
    sensitive values leaks the attribute by membership alone, however
    large it is). Returns (qi..., group_size, n_sensitive_distinct,
    violates_k, violates_l) — violations as int flags so the caller
    can aggregate rates without a reshuffle.

    Scale shape: ONE shuffle on the QI key; the exact distinct count
    rides the same aggregate. At 100 TB the QI key is low-cardinality
    by construction (that is what makes it a quasi-identifier), so
    map-side combine collapses almost everything before the exchange;
    a high-cardinality "QI" would mean the table is already
    pseudonymous and the audit trivially passes.
    """
    g = df.groupBy(*qi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("group_size"),
        F.countDistinct(sensitive_col).cast("long").alias("n_sensitive_distinct"),
    )
    return g.select(
        *qi_cols,
        "group_size",
        "n_sensitive_distinct",
        (F.col("group_size") < k).cast("int").alias("violates_k"),
        (F.col("n_sensitive_distinct") < l).cast("int").alias("violates_l"),
    )


def sql_anonymity_audit(
    table: str,
    qi_exprs: list[tuple[str, str]],
    sensitive_col: str,
    k: int = 5,
    l: int = 2,
) -> str:
    """DuckDB twin of :func:`anonymity_audit`. ``qi_exprs`` is
    (expr, alias) pairs so generalization bands (e.g. floor(x/1000))
    stay identical in both engines."""
    sel = ", ".join(f"{e} AS {a}" for e, a in qi_exprs)
    keys = ", ".join(a for _, a in qi_exprs)
    return f"""
    SELECT {keys},
           CAST(COUNT(*) AS BIGINT) AS group_size,
           CAST(COUNT(DISTINCT {sensitive_col}) AS BIGINT)
             AS n_sensitive_distinct,
           CAST(COUNT(*) < {k} AS INTEGER) AS violates_k,
           CAST(COUNT(DISTINCT {sensitive_col}) < {l} AS INTEGER)
             AS violates_l
    FROM (SELECT {sel}, {sensitive_col} FROM {table})
    GROUP BY {keys}
    """


def fd_audit(
    df: DataFrame, candidates: list[tuple[str, str]]
) -> DataFrame:
    """Functional-dependency audit: for each candidate ``determinant
    -> dependent`` pair, does one determinant value ever map to more
    than one dependent value? Returns one row per candidate:
    (determinant, dependent, n_det_values, n_violating,
    max_branching, holds) — ``n_violating`` determinant values map to
    2+ dependents, ``max_branching`` is the worst fan-out, ``holds``
    is the FD verdict as an int flag. The discovery pass a warehouse
    runs before trusting a column as derivable (and the audit that
    catches a denormalized copy drifting from its source).

    Scale shape: one determinant-keyed aggregate per candidate (the
    keys differ, so the shuffles are inherent — candidates is a
    short, caller-curated list, not a column cross-product), each
    collapsed to a single summary row before the union; nothing
    row-sized crosses stages.
    """
    parts = []
    for det, dep in candidates:
        g = df.groupBy(det).agg(F.countDistinct(dep).alias("_nd"))
        parts.append(
            g.agg(
                F.lit(det).alias("determinant"),
                F.lit(dep).alias("dependent"),
                F.count(F.lit(1)).cast("long").alias("n_det_values"),
                F.sum((F.col("_nd") > 1).cast("long")).alias("n_violating"),
                F.max("_nd").cast("long").alias("max_branching"),
                (F.sum((F.col("_nd") > 1).cast("long")) == 0)
                .cast("int")
                .alias("holds"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def sql_fd_audit(table: str, candidates: list[tuple[str, str]]) -> str:
    """DuckDB twin of :func:`fd_audit`."""
    selects = []
    for det, dep in candidates:
        selects.append(f"""
    SELECT '{det}' AS determinant, '{dep}' AS dependent,
           CAST(COUNT(*) AS BIGINT) AS n_det_values,
           CAST(SUM(CASE WHEN _nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(MAX(_nd) AS BIGINT) AS max_branching,
           CAST(SUM(CASE WHEN _nd > 1 THEN 1 ELSE 0 END) = 0 AS INTEGER)
             AS holds
    FROM (SELECT {det}, COUNT(DISTINCT {dep}) AS _nd
          FROM {table} GROUP BY {det})""")
    return " UNION ALL ".join(selects)


def expectation_reason(rules) -> "Column":
    """Per-ROW companion to :func:`check_expectations`: the first
    failing rule's name as a Column (NULL when every rule passes) —
    the routing expression a landing contract uses to quarantine
    violating rows instead of merging them. Row-local rules only
    (``unique`` is an aggregate property and raises here); same NULL
    semantics as the aggregate form (in_set/between/regex pass on
    NULL — compose with not_null to forbid it). One narrow CASE
    chain, shuffle-free. Memoized per canonicalized rule tuple: the
    landing-contract composites evaluate the SAME contract every
    micro-batch, and this chain costs one py4j round-trip per Column
    operator to build (guide §5 driver work).
    """
    mkey = tuple(
        tuple(tuple(p) if isinstance(p, (list, tuple, set)) else p for p in r)
        for r in rules
    )
    return memo_col(("expectation_reason", mkey), lambda: _build_reason(rules))


def _build_reason(rules) -> "Column":
    reason = None
    for rule in rules:
        kind, col = rule[0], rule[1]
        c = F.col(col)
        if kind == "not_null":
            cond, name = c.isNull(), f"not_null({col})"
        elif kind == "in_set":
            vals = list(rule[2])
            cond = c.isNotNull() & ~c.isin(*vals)
            name = f"in_set({col})"
        elif kind == "between":
            lo, hi = rule[2], rule[3]
            cond = c.isNotNull() & ((c < lo) | (c > hi))
            name = f"between({col},{lo},{hi})"
        elif kind == "regex":
            cond = c.isNotNull() & ~c.rlike(rule[2])
            name = f"regex({col})"
        elif kind == "non_negative":
            cond = c.isNotNull() & (c < 0)
            name = f"non_negative({col})"
        elif kind == "unique":
            raise ValueError(
                "unique is an aggregate rule; row-level contracts "
                "cannot evaluate it (use check_expectations)"
            )
        else:
            raise ValueError(f"unknown rule kind: {kind}")
        arm = F.when(cond, F.lit(name))
        reason = arm if reason is None else reason.when(cond, F.lit(name))
    return reason if reason is not None else F.lit(None).cast("string")
