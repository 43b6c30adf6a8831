"""The user query surface: SQL over replicated tables.

Reference behavior (lib/webhookdb/organization.rb:146-195): user SQL
runs on a *read-only* connection (enforced by Postgres roles), streams
rows, and stops at ``max_query_rows`` (default 1000) with an overflow
flag. Saved queries/views are named SQL registered in the org DB
(saved_query.rb, saved_view.rb:20-40).

Spark has no engine-level read-only role, so read-only-ness is enforced
by SQL validation (SURVEY §7): reject DDL/DML/auxiliary statements
before handing the text to ``spark.sql``. Parsing uses Spark's own
parser (via the catalyst plan's class name) plus a defense-in-depth
keyword screen.
"""

from __future__ import annotations

import re
import threading
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

DEFAULT_MAX_ROWS = 1000  # organization.rb:23

# Statements that mutate state or escape the sandbox. Screened as word
# tokens outside of string literals.
_FORBIDDEN = re.compile(
    r"\b(insert|update|delete|merge|drop|create|alter|truncate|grant|revoke|"
    r"set|reset|refresh|cache|uncache|analyze|msck|call|copy|vacuum|optimize|"
    r"add\s+jar|add\s+file|list\s+jar|list\s+file|"
    # arbitrary static-method invocation from SQL — a full JVM escape
    r"reflect|java_method)\b",
    re.IGNORECASE,
)

# Hive script transform runs a shell command; after literal stripping
# the script string is '', so `USING ''` is its exact signature (join
# USING takes parenthesized columns, never a string literal).
_SCRIPT_TRANSFORM = re.compile(r"\busing\s*''", re.IGNORECASE)

# Path-backed tables (`parquet.`/some/path``, `text.`/etc/passwd``)
# read arbitrary filesystem paths, bypassing the per-org catalog — the
# reference scopes users to their org database (organization.rb:146-164).
# This denylist covers the common formats with a CLEAR error message;
# the STRUCTURAL guard is `_no_sql_on_files` below, which disables
# Spark's SQL-on-files resolution entirely during analysis, so ANY
# registered datasource name (libsvm, xml, jdbc, iceberg, ...) fails
# table resolution instead of reading the filesystem.
_PATH_TABLE = re.compile(
    r"\b(parquet|json|csv|orc|avro|text|binaryfile|delta)\s*\.\s*`",
    re.IGNORECASE,
)


# The guard flips a session-wide conf: overlapping guards would restore
# it out of order, re-enabling SQL-on-files while another thread's user
# SQL is still being analyzed, or leaving it disabled for good.
_SQL_ON_FILES_LOCK = threading.Lock()


@contextmanager
def _no_sql_on_files(spark: SparkSession):
    """Disable ``format.`path``` table resolution while user SQL is
    ANALYZED (``spark.sql`` analyzes eagerly, so wrapping the call is
    sufficient; later execution reuses the resolved plan). This is the
    allowlist the regex screen can't be: only catalog-registered
    tables/views resolve, no matter which datasource name is used.
    Guards run one at a time (``_SQL_ON_FILES_LOCK``)."""
    with _SQL_ON_FILES_LOCK:
        old = spark.conf.get("spark.sql.runSQLOnFiles", "true")
        spark.conf.set("spark.sql.runSQLOnFiles", "false")
        try:
            yield
        finally:
            spark.conf.set("spark.sql.runSQLOnFiles", old)


class QueryNotAllowed(ValueError):
    pass


def _strip_literals(sql: str) -> str:
    # remove '...' and "..." literals (with '' escapes) and comments so
    # keywords inside strings don't trip the screen
    sql = re.sub(r"'(?:[^']|'')*'", "''", sql)
    sql = re.sub(r'"(?:[^"]|"")*"', '""', sql)
    sql = re.sub(r"--[^\n]*", "", sql)
    sql = re.sub(r"/\*.*?\*/", "", sql, flags=re.DOTALL)
    return sql


def validate_readonly(sql: str) -> None:
    stripped = _strip_literals(sql).strip()
    if not re.match(r"^\s*(select|with|values|table|explain|show|describe|desc)\b",
                    stripped, re.IGNORECASE):
        raise QueryNotAllowed("only SELECT-style statements are allowed")
    m = _FORBIDDEN.search(stripped)
    if m:
        raise QueryNotAllowed(f"statement contains forbidden keyword {m.group(0)!r}")
    if _PATH_TABLE.search(stripped):
        raise QueryNotAllowed("path-backed tables are not allowed")
    if _SCRIPT_TRANSFORM.search(stripped):
        raise QueryNotAllowed("script transform (TRANSFORM ... USING) is not allowed")
    if ";" in stripped.rstrip().rstrip(";"):
        raise QueryNotAllowed("multiple statements are not allowed")


@dataclass
class QueryResult:
    columns: list[str]
    rows: list[tuple]
    max_rows_reached: bool


def run_readonly_sql(
    spark: SparkSession, sql: str, max_rows: int = DEFAULT_MAX_ROWS
) -> QueryResult:
    """Execute user SQL read-only with the reference's row-cap contract
    (organization.rb:146-195): fetch max_rows+1, flag overflow."""
    validate_readonly(sql)
    with _no_sql_on_files(spark):
        df = spark.sql(sql)
    rows = df.limit(max_rows + 1).collect()
    over = len(rows) > max_rows
    return QueryResult(
        columns=list(df.columns),
        rows=[tuple(r) for r in rows[:max_rows]],
        max_rows_reached=over,
    )


def readonly_df(spark: SparkSession, sql: str) -> DataFrame:
    """Validated SQL → DataFrame (no row cap applied)."""
    validate_readonly(sql)
    with _no_sql_on_files(spark):
        return spark.sql(sql)


# -- retrieval through the SQL surface -------------------------------------

def create_retrieval_view(
    spark: SparkSession,
    name: str,
    source_view: str,
    terms: tuple[str, ...],
    mode: str = "ranked",
    k: int = 10,
    text_col: str = "text",
) -> None:
    """Register a retrieval result as a temp view reachable from the
    read-only SQL surface — the reference exposes every capability
    through the org's SQL connection (organization.rb:146-164), so the
    retrieval operators (operators/corpus.py) get the same posture:
    compute over a CATALOG view (never a path), register the result,
    and let users compose it with plain validated SELECTs.

    ``mode``: ``"ranked"`` → :func:`~webhookdb_spark.operators.corpus.
    search_ranked` (doc_id, score, n_terms_matched, rank);
    ``"all_terms"`` → conjunctive :func:`search_all_terms`.

    ``source_view`` resolves through ``spark.table`` under the same
    no-SQL-on-files guard as user SQL, so only registered tables/views
    can be searched. The view name is validated as an identifier (it is
    interpolated into DDL)."""
    from webhookdb_spark.operators.corpus import search_all_terms, search_ranked

    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise QueryNotAllowed(f"invalid view name {name!r}")
    with _no_sql_on_files(spark):
        src = spark.table(source_view)
    if mode == "ranked":
        df = search_ranked(src, terms, text_col=text_col, k=k)
    elif mode == "all_terms":
        df = search_all_terms(src, terms, text_col=text_col)
    else:
        raise QueryNotAllowed(f"unknown retrieval mode {mode!r}")
    df.createOrReplaceTempView(name)


# -- saved queries / views (saved_query.rb, saved_view.rb) -----------------

class SavedQueries:
    """Org-scoped named SQL (reference: saved_query.rb:3-29)."""

    def __init__(self) -> None:
        self._queries: dict[str, str] = {}

    def upsert(self, name: str, sql: str) -> None:
        validate_readonly(sql)
        self._queries[name] = sql

    def run(self, spark: SparkSession, name: str, max_rows: int = DEFAULT_MAX_ROWS) -> QueryResult:
        return run_readonly_sql(spark, self._queries[name], max_rows)

    def delete(self, name: str) -> None:
        self._queries.pop(name, None)

    def names(self) -> list[str]:
        return sorted(self._queries)


def create_saved_view(spark: SparkSession, name: str, sql: str) -> None:
    """Validated read-only SQL → catalog view (saved_view.rb:20-40:
    CREATE OR REPLACE VIEW after both validations). The name must pass
    the identifier rules (db_adapter.rb:10,203-213 — 'hi-there'
    raises InvalidIdentifier) and is always quoted, so names with
    spaces ('x y') work — both pinned by the reference's
    saved_view_spec."""
    from webhookdb_spark.types import validate_identifier

    validate_identifier(name, "view")
    validate_readonly(sql)
    with _no_sql_on_files(spark):
        spark.sql(f"CREATE OR REPLACE TEMP VIEW `{name}` AS {sql}")


def drop_saved_view(spark: SparkSession, name: str) -> None:
    """Saved-view destroy (saved_view.rb:42-55): drops the view if it
    exists, noops when absent, and refuses a name that fails the
    identifier rules (the spec's 'became invalid' invariant)."""
    from webhookdb_spark.types import validate_identifier

    validate_identifier(name, "view")
    spark.sql(f"DROP VIEW IF EXISTS `{name}`")


class MaterializedViews:
    """FDW materialized-view analog (db_builder.rb:358-401): the
    reference imports replicated tables over postgres_fdw and snapshots
    them as matviews. Here a matview is a validated CTAS to parquet
    plus a registered view over the snapshot; ``refresh`` re-runs the
    CTAS — the same REFRESH MATERIALIZED VIEW contract, executed as a
    distributed write instead of a single-node rescan."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        self._sql: dict[str, str] = {}

    def _path(self, name: str) -> str:
        return f"{self.root}/{name}"

    def create(self, name: str, sql: str) -> None:
        validate_readonly(sql)
        self._sql[name] = sql
        self.refresh(name)

    def refresh(self, name: str) -> None:
        sql = self._sql[name]
        with _no_sql_on_files(self.spark):
            df = self.spark.sql(sql)
        df.write.mode("overwrite").parquet(self._path(name))
        self.spark.read.parquet(self._path(name)).createOrReplaceTempView(name)

    def names(self) -> list[str]:
        return sorted(self._sql)


# -- plan guardrails --------------------------------------------------------

class QueryTooExpensive(QueryNotAllowed):
    """The validated SQL compiled to a plan that multi-tenant surfaces
    must not run (unbounded cartesian pairing)."""


def validate_plan_cost(
    spark: SparkSession, sql: str, allow_cartesian: bool = False
) -> None:
    """Reject user SQL whose OPTIMIZED plan contains an unbounded
    cartesian pairing (CartesianProduct, or a BroadcastNestedLoopJoin
    with a non-equi/absent condition). Read-only validation keeps the
    surface safe; this keeps it LIVE — on a shared cluster one
    accidental `FROM a, b` without a join predicate pairs two fact
    tables and starves every tenant. Runs at plan time (no execution);
    broadcast NLJ against sub-threshold dims survives AQE only when
    Catalyst already proved one side tiny, so genuine small-dim
    queries still pass once written with predicates.

    BEST-EFFORT: the guard pattern-matches the plan text. A nested-loop
    pairing whose condition Catalyst cannot fold away (a tautology over
    columns like ``ON a.x = a.x OR a.x IS NULL``) still scans the full
    product but carries a trailing condition and passes — bounding by
    estimated row counts would need CBO stats the surface's ad-hoc
    views don't have. What IS caught: predicate-less inner/cross
    pairings, and (outer/semi/anti/existence) BNLJ variants with no
    condition at all."""
    validate_readonly(sql)
    with _no_sql_on_files(spark):
        df = spark.sql(sql)
    plan = df._jdf.queryExecution().executedPlan().toString()
    if allow_cartesian:
        return
    if "CartesianProduct" in plan:
        raise QueryTooExpensive(
            "query compiles to a CartesianProduct; add a join predicate"
        )
    for line in plan.splitlines():
        # a predicate-less pairing that Catalyst broadcast-paired
        # renders as "BroadcastNestedLoopJoin BuildX, <joinType>" with
        # NO trailing condition (or the literal `true` an `ON true`
        # leaves behind) — for ANY join type (Inner, Cross, LeftOuter,
        # RightOuter, FullOuter, LeftSemi, LeftAnti, ExistenceJoin);
        # genuine non-equi joins carry a real condition
        # ("..., Inner, (a < b)") and pass
        if re.search(
            r"BroadcastNestedLoopJoin Build(Left|Right),\s*"
            r"(Inner|Cross|LeftOuter|RightOuter|FullOuter|LeftSemi"
            r"|LeftAnti|ExistenceJoin[^,]*)(,\s*true)?\s*$",
            line,
        ):
            raise QueryTooExpensive(
                "query compiles to an unconditioned cross pairing; "
                "add a join predicate"
            )
