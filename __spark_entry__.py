"""Driver contract for the webhookdb_spark engine.

``queries()`` maps operator-inventory names (SURVEY.md §2 + the
training-data-pipeline operators) to Spark implementations;
``oracle_sql()`` carries the DuckDB twin for each. Column names and
arithmetic are engine-portable by construction: exact decimal sums cast
to double, ``round(x, 6)`` on float-valued results, deterministic
tie-breaks on every ranking.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

sys.path.insert(0, str(Path(__file__).resolve().parent))

from webhookdb_spark.functions.converters import CONV_STR2HASH, CONV_TO_I  # noqa: E402
from webhookdb_spark.operators import corpus as C  # noqa: E402
from webhookdb_spark.operators import joins as J  # noqa: E402
from webhookdb_spark.operators import sketches as SK  # noqa: E402
from webhookdb_spark.operators import dedup as D  # noqa: E402
from webhookdb_spark.operators import multimodal as M  # noqa: E402
from webhookdb_spark.operators import sampling as SA  # noqa: E402
from webhookdb_spark.operators import similarity as S  # noqa: E402
from webhookdb_spark.operators import layout as LA  # noqa: E402
from webhookdb_spark.operators import profile as PR  # noqa: E402
from webhookdb_spark.operators import text as TX  # noqa: E402
from webhookdb_spark.operators import analytics as AN  # noqa: E402
from webhookdb_spark.operators import graph as GR  # noqa: E402
from webhookdb_spark.sources import jsonl as JS  # noqa: E402
from webhookdb_spark.operators import history as H  # noqa: E402
from webhookdb_spark.operators import skew as SKW  # noqa: E402
from webhookdb_spark.operators import digest as DG  # noqa: E402
from webhookdb_spark.operators import text as X  # noqa: E402
from webhookdb_spark.operators.util import memo_col, scale_out  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

from webhookdb_spark.spec import Col as _SCol, ReplicatorSpec as _RSpec  # noqa: E402
from webhookdb_spark.types import ColumnType as _SCT  # noqa: E402

# Replicator specs for the storage-composite queries, hoisted to module
# level so the per-spec expression memos (shape projection, merge CASE
# chains) persist across bench runs and merge cycles — a frozen
# dataclass built per call produced the identical value anyway, but a
# fresh instance starts every memo cold (guide §5 driver work).
_EVENTS_SIM_SPEC = _RSpec(
    name="events_sim",
    table="events_sim",
    remote_key=_SCol("k", _SCT.TEXT),
    denorm_cols=(
        _SCol("ts", _SCT.TIMESTAMP),
        _SCol("event_id", _SCT.BIGINT),
        _SCol("value", _SCT.DOUBLE),
    ),
    timestamp_col="ts",
    update_where=lambda s, t: t("ts") < s("ts"),
    n_buckets=8,
)
# shared by scd2_feed_maintained and table_diff (identical value)
_USER_STATE_SPEC = _RSpec(
    name="user_state_v1",
    table="user_state_v1",
    remote_key=_SCol("user_id", _SCT.BIGINT),
    denorm_cols=(
        _SCol("event_type", _SCT.TEXT),
        _SCol("ts_us", _SCT.BIGINT),
    ),
    timestamp_col="ts_us",
    update_where=lambda s, t: s("ts_us") > t("ts_us"),
    n_buckets=4,
)
_USER_STATE_IVM_SPEC = _RSpec(
    name="user_state_v1",
    table="user_state_v1",
    remote_key=_SCol("user_id", _SCT.BIGINT),
    denorm_cols=(
        _SCol("event_type", _SCT.TEXT),
        _SCol("ts_us", _SCT.BIGINT),
        _SCol("value_cents", _SCT.BIGINT),
    ),
    timestamp_col="ts_us",
    update_where=lambda s, t: s("ts_us") > t("ts_us"),
    n_buckets=4,
)
_PIPELINE_DEMO_SPEC = _RSpec(
    name="pipeline_demo_v1",
    table="pipeline_demo_v1",
    remote_key=_SCol("user_id", _SCT.BIGINT),
    denorm_cols=(
        _SCol("event_type", _SCT.TEXT),
        _SCol("ts_us", _SCT.BIGINT),
        _SCol("value_cents", _SCT.BIGINT),
    ),
    timestamp_col="ts_us",
    update_where=lambda s, t: s("ts_us") > t("ts_us"),
    n_buckets=4,
)


# Constructed base-table plans, keyed by session then (sf_dir, table).
# spark.read.parquet() re-derives metadata on EVERY call — parquet
# footer schema inference plus DataSource/FileIndex setup, measured
# 85-100 ms per call on local files — and a query touches up to 6
# tables, so plan CONSTRUCTION paid ~0.2-0.5 s of pure metadata
# re-derivation per query. The input files are immutable for a given
# sf_dir, so the first read's plan is authoritative; later loads reuse
# it (guide §6: explicit ReadSchema / listing reuse — the same
# footer-skip the storage/matview reads already use, and what
# spark.table() gives you for free on a catalog table). Only the LAZY
# plan (schema + file listing) is reused: DataFrames are immutable,
# nothing row-valued is cached, and every action still computes from
# the parquet inputs. Keyed by id(session), value = (weakref(session),
# plans); identity keying still prevents cross-session reuse, and every
# load() sweeps entries whose session died or was STOPPED — a plain
# WeakKeyDictionary can never reclaim here because the cached
# DataFrames strongly reference their session (value→key cycle, r15
# driver ADVICE), and pyspark itself retains stopped sessions via
# internal closures, so eager stopped-session eviction is the only
# deterministic cleanup.
import weakref  # noqa: E402

_LOAD_PLANS: dict[int, tuple] = {}


def _session_stopped(spark) -> bool:
    try:
        sc = spark._sc
        return sc is None or sc._jsc is None
    except Exception:
        return True


def clear_plan_cache(spark: SparkSession | None = None) -> None:
    """Drop cached base-table read plans (all sessions, or one).

    Call this if a test/tool ever regenerates a parquet under an
    sf_dir within one session — otherwise later load() calls would
    silently reuse the first read's file listing (r15 ADVICE: make
    in-session regeneration fail loudly, not read stale data)."""
    if spark is None:
        _LOAD_PLANS.clear()
    else:
        _LOAD_PLANS.pop(id(spark), None)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    for k in [k for k, (ref, _) in _LOAD_PLANS.items()
              if (obj := ref()) is None or _session_stopped(obj)]:
        _LOAD_PLANS.pop(k, None)
    sid = id(spark)
    ent = _LOAD_PLANS.get(sid)
    if ent is None or ent[0]() is not spark:
        per_session: dict[tuple[str, str], DataFrame] = {}
        _LOAD_PLANS[sid] = (weakref.ref(spark), per_session)
    else:
        per_session = ent[1]
    key = (sf_dir, name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark 4 rejects
        # natively; read it as long ns (runtime-settable legacy conf)
        # and truncate to µs exactly like DuckDB's ns→µs read.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # Keep the raw int64 alongside the derived timestamp: filters
        # on a derived column cannot reach the parquet scan, so range
        # queries add an equivalent `_ts_ns` predicate (ts_filter) and
        # get row-group pruning back.
        df = df.withColumn("_ts_ns", F.col("ts")).withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    per_session[key] = df
    return df


def _epoch_us(ts_str: str) -> int:
    import datetime as dt

    d = dt.datetime.fromisoformat(ts_str).replace(tzinfo=dt.timezone.utc)
    return int(d.timestamp()) * 1_000_000 + d.microsecond


def ts_filter(events: DataFrame, *, gt: str | None = None, le: str | None = None,
              lt: str | None = None) -> DataFrame:
    """Timestamp-range filter that survives the ns→µs derivation.

    The exact predicate stays on the derived ``ts``; when the raw
    ``_ts_ns`` int64 is present an equivalent (superset) predicate on it
    is added so the parquet scan shows ``PushedFilters: [GreaterThan…]``
    and prunes row groups — the difference between scanning a day and
    scanning 100 TB on an incremental export."""
    conds = []
    if gt is not None:
        conds.append(F.col("ts") > F.lit(gt).cast("timestamp"))
    if le is not None:
        conds.append(F.col("ts") <= F.lit(le).cast("timestamp"))
    if lt is not None:
        conds.append(F.col("ts") < F.lit(lt).cast("timestamp"))
    if "_ts_ns" in events.columns:
        if gt is not None:
            conds.append(F.col("_ts_ns") > F.lit(_epoch_us(gt) * 1000))
        if le is not None:
            conds.append(F.col("_ts_ns") <= F.lit(_epoch_us(le) * 1000 + 999))
        if lt is not None:
            conds.append(F.col("_ts_ns") < F.lit(_epoch_us(lt) * 1000))
    out = conds[0]
    for c in conds[1:]:
        out = out & c
    return events.where(out)


def _dec(c: str, scale: int = 4):
    return F.col(c).cast(f"decimal(18,{scale})")


def _sum_d(col, alias: str):
    """Exact decimal sum surfaced as a double, rounding in the DECIMAL
    domain first (engine-portable): round(double, 6) is undefined
    territory above ~1e3 where doubles cannot hold 6 decimals, and the
    engines' double-round implementations disagree in the last ulp on
    such values (seen on revenue_by_region at sf0.1, where the exact
    decimal sums matched but the double-domain rounds differed by one
    ulp). Decimal-domain round is exact and identical on both engines;
    the single decimal→double cast after it is IEEE
    correctly-rounded — also identical. SQL twins mirror as
    CAST(round(SUM(..), 6) AS DOUBLE)."""
    return F.round(F.sum(col), 6).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# Relational queries (SURVEY §2.5-2.8 surface re-expressed over testdata)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H-Q1-style aggregation: partial-agg friendly groupBy."""
    l = load(spark, sf, "lineitem").where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    return l.groupBy("l_returnflag", "l_linestatus").agg(
        _sum_d(_dec("l_quantity"), "sum_qty"),
        _sum_d(_dec("l_extendedprice"), "sum_base_price"),
        _sum_d(disc_price, "sum_disc_price"),
        F.round(F.sum(_dec("l_quantity")).cast("double") / F.count("*"), 6).alias("avg_qty"),
        F.round(F.sum(_dec("l_discount")).cast("double") / F.count("*"), 6).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
  CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,4))), 6) AS DOUBLE) AS sum_qty,
  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 6) AS DOUBLE) AS sum_base_price,
  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 6) AS DOUBLE) AS sum_disc_price,
  round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
  round(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_revenue_by_region(spark: SparkSession, sf: str) -> DataFrame:
    """Star join: broadcast the small dims, shuffle only the fact side."""
    region = F.broadcast(load(spark, sf, "region"))
    nation = F.broadcast(load(spark, sf, "nation"))
    customer = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    lineitem = load(spark, sf, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(_sum_d(disc_price, "revenue"), F.count("*").alias("n_lineitems"))
    )


SQL_REVENUE_BY_REGION = """
SELECT r_name AS region,
  CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 6) AS DOUBLE) AS revenue,
  COUNT(*) AS n_lineitems
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_semi_customers_with_open_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Left-semi join (reference: staging `pk IN (SELECT pk …)` split,
    db_adapter/pg.rb:213-221)."""
    customer = load(spark, sf, "customer")
    open_orders = load(spark, sf, "orders").where(F.col("o_orderstatus") == "O")
    return customer.join(
        open_orders, customer.c_custkey == open_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


SQL_SEMI = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
"""


def q_anti_customers_without_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Left-anti join — the cancellation-sweep shape
    (icalendar_calendar_v1.rb:245-261: rows not in the upserted set)."""
    customer = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_nationkey")


SQL_ANTI = """
SELECT c_custkey, c_name, c_nationkey FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
"""


def q_window_top_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Ranking window — top-3 orders per customer, deterministic ties."""
    orders = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


SQL_WINDOW_TOP = """
SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(row_number() OVER (PARTITION BY o_custkey
                                 ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rank
  FROM orders
) WHERE rank <= 3
"""


def q_latest_event_per_user(spark: SparkSession, sf: str) -> DataFrame:
    """Last-wins dedup — the upsert engine's intra-batch semantics
    (backfiller.rb:75-83) expressed as a pure query."""
    events = load(spark, sf, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
    )


SQL_LATEST_EVENT = """
SELECT user_id, event_type, event_id, ts, value FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts DESC, event_id DESC) AS _rn
  FROM events
) WHERE _rn = 1
"""


SYNC_LO, SYNC_HI = "2024-01-10 00:00:00", "2024-01-20 00:00:00"


def q_incremental_sync_window(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental export window: ts ∈ (last, now] ordered by ts
    (sync_target.rb:428-447 dataset_to_sync)."""
    events = load(spark, sf, "events")
    return (
        ts_filter(events, gt=SYNC_LO, le=SYNC_HI)
        .orderBy("ts", "event_id")
        .select("event_id", "ts", "user_id", "event_type")
    )


SQL_SYNC_WINDOW = f"""
SELECT event_id, ts, user_id, event_type FROM events
WHERE ts > TIMESTAMP '{SYNC_LO}' AND ts <= TIMESTAMP '{SYNC_HI}'
ORDER BY ts, event_id
"""


def q_str2inthash_buckets(spark: SparkSession, sf: str) -> DataFrame:
    """Partition routing parity: the reference's str2inthash bucket for
    each user — counts per bucket must match across engines exactly
    (partitionable_mixin.rb:74-90; vectors spec/data/str2hashconv_spec.json)."""
    events = load(spark, sf, "events")
    bucket = F.pmod(CONV_STR2HASH.spark(F.col("user_id").cast("string")), F.lit(16))
    return (
        events.groupBy(bucket.cast("int").alias("bucket"))
        .agg(F.count("*").alias("n_events"), F.countDistinct("user_id").alias("n_users"))
    )


SQL_STR2INTHASH = f"""
SELECT CAST((({CONV_STR2HASH.sql("user_id")} % 16) + 16) % 16 AS INTEGER) AS bucket,
       COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
"""


def q_json_extraction(spark: SparkSession, sf: str) -> DataFrame:
    """The ingest-path JSON column extraction (column DSL) as a query:
    dig into `props` and convert with CONV_TO_I (column.rb:30-33)."""
    events = load(spark, sf, "events")
    k = CONV_TO_I.spark(F.get_json_object(F.col("props"), "$.k"))
    return events.select("event_id", k.alias("k_int"), "event_type").where(
        F.col("k_int").isNotNull()
    )


SQL_JSON_EXTRACTION = f"""
SELECT event_id, {CONV_TO_I.sql("json_extract_string(props, '$.k')")} AS k_int, event_type
FROM events
WHERE {CONV_TO_I.sql("json_extract_string(props, '$.k')")} IS NOT NULL
"""


def q_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: revenue of undelivered orders by order, top 10.
    Exact-decimal revenue; (revenue desc, orderkey asc) tie-break keeps
    the limit deterministic. The limit rides a TakeOrderedAndProject —
    each task keeps its local top-10, no global sort materializes."""
    orders = load(spark, sf, "orders")
    lineitem = load(spark, sf, "lineitem")
    customer = load(spark, sf, "customer")
    cutoff = "1995-03-15"
    joined = (
        customer.where(F.col("c_mktsegment") == "BUILDING")
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .where(F.col("o_orderdate") < cutoff)
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.col("l_shipdate") > cutoff)
    )
    rev = F.sum(
        _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(rev, 6).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


def q_big_spenders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    lineitem quantity clears a threshold, joined back to the customer —
    a HAVING-over-join with map-side partial aggregation."""
    orders = load(spark, sf, "orders")
    lineitem = load(spark, sf, "lineitem")
    customer = load(spark, sf, "customer")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity", 2)).alias("_qty"))
        .where(F.col("_qty") > 150)
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").alias("orderdate"),
            F.round(F.col("o_totalprice").cast("double"), 6).alias("totalprice"),
            F.col("_qty").cast("double").alias("total_qty"),
        )
    )


SQL_SHIPPING_PRIORITY = """
SELECT l_orderkey,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                      * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 6) AS DOUBLE) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""

SQL_BIG_SPENDERS = """
WITH big AS (
  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty
  FROM lineitem GROUP BY l_orderkey HAVING qty > 150
)
SELECT c_name, c_custkey, o_orderkey,
       o_orderdate AS orderdate,
       round(CAST(o_totalprice AS DOUBLE), 6) AS totalprice,
       CAST(qty AS DOUBLE) AS total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q_order_priority_check(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape (order priority checking): orders in a half-year
    window with at least one late-shipping lineitem (ship > order
    date + 60d — the fixture lacks commit/receipt dates, so lateness is
    defined against the order date), counted per priority. The EXISTS
    becomes a LEFT SEMI join: the probe stays a semi (no fan-out on
    multi-lineitem orders, no post-join distinct), and both sides
    prune to two columns at the scan."""
    orders = load(spark, sf, "orders")
    lineitem = load(spark, sf, "lineitem")
    o = orders.where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    late = o.join(
        lineitem,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("late_orders"))
        .orderBy("o_orderpriority")
    )


SQL_ORDER_PRIORITY = """
SELECT o_orderpriority, count(*) AS late_orders
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_promo_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): per ship-month, the share of
    discounted revenue from PROMO-type parts. part (2k rows) is
    broadcast so the lineitem scan never shuffles; sums stay exact
    DECIMAL through the aggregate and only the final ratio goes
    through doubles — quantized with floor(x*1e6)/1e6, which is
    midpoint-free and therefore engine-portable where round() is not
    (the identical decimal→double casts and the identical multiply/
    divide sequence make the pre-quantization double bit-equal in both
    engines)."""
    lineitem = load(spark, sf, "lineitem")
    part = F.broadcast(load(spark, sf, "part"))
    disc = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(18,4)") - _dec("l_discount")
    )
    j = lineitem.join(part, F.col("l_partkey") == F.col("p_partkey")).select(
        F.date_trunc("month", F.col("l_shipdate")).alias("ship_month"),
        F.when(F.col("p_type") == "PROMO", disc)
        .otherwise(F.lit(0).cast("decimal(18,4)"))
        .alias("promo_rev"),
        disc.alias("rev"),
    )
    agg = j.groupBy("ship_month").agg(
        F.sum("promo_rev").alias("_num"), F.sum("rev").alias("_den")
    )
    num = F.col("_num").cast("double")
    den = F.col("_den").cast("double")
    pct = F.floor(F.lit(100.0) * num / den * F.lit(1e6)) / F.lit(1e6)
    return agg.select(
        "ship_month",
        pct.alias("promo_pct"),
        F.round(F.col("_den"), 6).cast("double").alias("total_revenue"),
    ).orderBy("ship_month")


SQL_PROMO_REVENUE = """
WITH j AS (
  SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
         CASE WHEN p_type = 'PROMO'
              THEN CAST(l_extendedprice AS DECIMAL(18,4))
                   * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))
              ELSE CAST(0 AS DECIMAL(18,4)) END AS promo_rev,
         CAST(l_extendedprice AS DECIMAL(18,4))
           * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4))) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
)
SELECT ship_month,
       floor(100.0 * CAST(sum(promo_rev) AS DOUBLE)
             / CAST(sum(rev) AS DOUBLE) * 1e6) / 1e6 AS promo_pct,
       CAST(round(sum(rev), 6) AS DOUBLE) AS total_revenue
FROM j
GROUP BY ship_month
ORDER BY ship_month
"""


def q_small_qty_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): per brand, the
    revenue from lineitems whose quantity is below 20% of that part's
    average. The correlated AVG becomes a per-part pre-aggregate
    joined back broadcast (|part| rows — never a shuffle of lineitem),
    and the 0.2*avg comparison is exact int64 (10*qty*cnt < 2*sum,
    quantities are integral) so no engine ever divides."""
    lineitem = load(spark, sf, "lineitem")
    part = F.broadcast(load(spark, sf, "part"))
    qty = F.col("l_quantity").cast("bigint")
    per_part = F.broadcast(
        lineitem.groupBy("l_partkey").agg(
            F.sum(qty).alias("_sq"), F.count("*").alias("_nq")
        ).select(F.col("l_partkey").alias("_pk"), "_sq", "_nq")
    )
    small = (
        lineitem.join(per_part, F.col("l_partkey") == F.col("_pk"))
        .where(F.lit(10) * qty * F.col("_nq") < F.lit(2) * F.col("_sq"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
    )
    return (
        small.groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            _sum_d(_dec("l_extendedprice"), "revenue"),
        )
        .orderBy("p_brand")
    )


SQL_SMALL_QTY = """
WITH pp AS (
  SELECT l_partkey AS pk,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
         count(*) AS nq
  FROM lineitem GROUP BY l_partkey
)
SELECT p_brand, count(*) AS n_lines,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 6) AS DOUBLE) AS revenue
FROM lineitem
JOIN pp ON l_partkey = pk
JOIN part ON l_partkey = p_partkey
WHERE 10 * CAST(l_quantity AS BIGINT) * nq < 2 * sq
GROUP BY p_brand
ORDER BY p_brand
"""


def q_global_sales_opportunity(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers with an
    above-average positive balance and no RECENT orders (none since
    2000-01-01 — the synthetic fixture gives every customer at least
    one lifetime order, so the classic no-orders-ever predicate is
    vacuously empty), per nation. The
    scalar subquery (global avg balance) broadcasts as a 1-row
    crossJoin; customers-without-orders is a LEFT ANTI join. The
    above-average test is exact int64 on floor-cents
    (cents*n > total_cents ⟺ acctbal > avg) — floor(x*100) of the
    same double is engine-identical, so no floating comparison
    decides membership."""
    customer = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    cents = F.floor(F.col("c_acctbal") * F.lit(100.0)).cast("bigint")
    pos = customer.where(F.col("c_acctbal") > 0)
    glob = F.broadcast(
        pos.agg(
            F.sum(cents).alias("_tot"), F.count("*").alias("_n")
        )
    )
    rich = (
        pos.crossJoin(glob)
        .where(cents * F.col("_n") > F.col("_tot"))
        .join(
            orders.where(F.col("o_orderdate") >= "2000-01-01"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
    )
    return (
        rich.groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            _sum_d(_dec("c_acctbal", 2), "totacctbal"),
        )
        .orderBy("c_nationkey")
    )


SQL_GLOBAL_SALES_OPP = """
WITH pos AS (
  SELECT *, CAST(floor(c_acctbal * 100.0) AS BIGINT) AS cents
  FROM customer WHERE c_acctbal > 0
),
tot_n AS (
  SELECT CAST(sum(cents) AS BIGINT) AS tot, count(*) AS n FROM pos
)
SELECT c_nationkey, count(*) AS numcust,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 6) AS DOUBLE) AS totacctbal
FROM pos, tot_n
WHERE cents * n > tot
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def q_pivot_status(spark: SparkSession, sf: str) -> DataFrame:
    """PIVOT surface: order counts and exact-decimal revenue per
    market segment, one column pair per order status. The status list
    is explicit — with it, Spark skips the extra distinct-values job
    and the output schema is deterministic (required for the oracle
    and for any production pivot at scale)."""
    orders = load(spark, sf, "orders")
    customer = load(spark, sf, "customer")
    j = orders.join(customer, F.col("o_custkey") == F.col("c_custkey")).select(
        "c_mktsegment", "o_orderstatus", _dec("o_totalprice").alias("_p")
    )
    piv = (
        j.groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("_p"), 6).cast("double").alias("rev"),
        )
    )
    return piv.select(
        "c_mktsegment",
        F.coalesce("F_n", F.lit(0)).alias("f_n"),
        F.coalesce("F_rev", F.lit(0.0)).alias("f_rev"),
        F.coalesce("O_n", F.lit(0)).alias("o_n"),
        F.coalesce("O_rev", F.lit(0.0)).alias("o_rev"),
        F.coalesce("P_n", F.lit(0)).alias("p_n"),
        F.coalesce("P_rev", F.lit(0.0)).alias("p_rev"),
    ).orderBy("c_mktsegment")


SQL_PIVOT_STATUS = """
SELECT c_mktsegment,
       CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS f_n,
       coalesce(CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4)))
           FILTER (o_orderstatus = 'F'), 6) AS DOUBLE), 0.0) AS f_rev,
       CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS o_n,
       coalesce(CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4)))
           FILTER (o_orderstatus = 'O'), 6) AS DOUBLE), 0.0) AS o_rev,
       CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS p_n,
       coalesce(CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4)))
           FILTER (o_orderstatus = 'P'), 6) AS DOUBLE), 0.0) AS p_rev
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q_important_parts(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts whose revenue exceeds
    1/1800th of the global total (the classic 0.1% cut is above every
    part share in this uniform fixture). Both sides stay exact
    DECIMAL (part_total * 1800 > global_total — no division, no
    doubles), the global total rides a 1-row broadcast."""
    lineitem = load(spark, sf, "lineitem")
    val = _dec("l_extendedprice") * _dec("l_quantity", 2)
    per_part = lineitem.groupBy("l_partkey").agg(F.sum(val).alias("_v"))
    total = F.broadcast(per_part.agg(F.sum("_v").alias("_tot")))
    return (
        per_part.crossJoin(total)
        .where(F.col("_v") * 1800 > F.col("_tot"))
        .select(
            "l_partkey",
            F.round(F.col("_v").cast("double"), 6).alias("part_value"),
        )
        .orderBy("l_partkey")
    )


SQL_IMPORTANT_PARTS = """
WITH pp AS (
  SELECT l_partkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,4))
             * CAST(l_quantity AS DECIMAL(18,2))) AS v
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT sum(v) AS t FROM pp)
SELECT l_partkey, round(CAST(v AS DOUBLE), 6) AS part_value
FROM pp, tot
WHERE v * 1800 > t
ORDER BY l_partkey
"""


def q_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): the supplier(s) with maximum
    revenue in a quarter. The max-over-aggregate is an exact DECIMAL
    equality against a 1-row broadcast max — no window, and no
    double-compare ambiguity deciding the winner."""
    lineitem = load(spark, sf, "lineitem")
    supplier = F.broadcast(load(spark, sf, "supplier"))
    rev = (
        lineitem.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1).cast("decimal(18,4)") - _dec("l_discount"))
            ).alias("_r")
        )
    )
    mx = F.broadcast(rev.agg(F.max("_r").alias("_mx")))
    return (
        rev.crossJoin(mx)
        .where(F.col("_r") == F.col("_mx"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name",
            F.round(F.col("_r").cast("double"), 6).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


SQL_TOP_SUPPLIER = """
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,4))
             * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) AS r
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
),
mx AS (SELECT max(r) AS m FROM rev)
SELECT s_suppkey, s_name, round(CAST(r AS DOUBLE), 6) AS total_revenue
FROM rev, mx
JOIN supplier ON l_suppkey = s_suppkey
WHERE r = m
ORDER BY s_suppkey
"""


def q_waiting_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): on
    multi-supplier orders, the supplier who shipped late (> order
    date + 90d) while every other supplier shipped on time — the
    EXISTS/NOT-EXISTS pair becomes one (order, supplier) aggregate
    plus one order-level aggregate broadcast back; no correlated
    re-scans of lineitem."""
    lineitem = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    li = lineitem.join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select(
        "l_orderkey", "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .alias("_late"),
    )
    per_os = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.col("_late").cast("int")).alias("_supp_late")
    )
    # order-level totals as a window over the SAME (order, supplier)
    # aggregate — a self-join here would recompute the lineitem⋈orders
    # subtree (Catalyst plans the two aggregate levels independently);
    # the window reuses the groupBy's partitioning, one pass total
    wo = Window.partitionBy("l_orderkey")
    guilty = per_os.select(
        "l_orderkey", "l_suppkey", "_supp_late",
        F.count("*").over(wo).alias("_n_supp"),
        F.sum("_supp_late").over(wo).alias("_n_late"),
    ).where(
        (F.col("_supp_late") == 1)
        & (F.col("_n_late") == 1)
        & (F.col("_n_supp") >= 2)
    )
    return (
        guilty.groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("l_suppkey").asc())
        .limit(20)
    )


SQL_WAITING_SUPPLIERS = """
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
              THEN 1 ELSE 0 END AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
per_os AS (
  SELECT l_orderkey, l_suppkey, max(late) AS supp_late
  FROM li GROUP BY l_orderkey, l_suppkey
),
per_o AS (
  SELECT l_orderkey, count(*) AS n_supp,
         CAST(sum(supp_late) AS BIGINT) AS n_late
  FROM per_os GROUP BY l_orderkey
)
SELECT l_suppkey, count(*) AS numwait
FROM per_os JOIN per_o USING (l_orderkey)
WHERE supp_late = 1 AND n_late = 1 AND n_supp >= 2
GROUP BY l_suppkey
ORDER BY numwait DESC, l_suppkey ASC
LIMIT 20
"""


def q_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier): for each SMALL-type part,
    the EUROPE supplier offering it at the minimum price — the classic
    correlated scalar-MIN subquery. Decorrelated the Spark-first way:
    per-(part, supplier) offers aggregate ONCE, the per-part minimum
    derives from that SAME aggregate, and the "cost = min cost" filter
    is an exact-DECIMAL equi-join on (partkey, cost) — no per-part
    rescan of lineitem, ever. Dims (region→nation→supplier, part)
    broadcast. Without a partsupp table, the offer price is the
    supplier's minimum extended price for the part over its lineitems.
    Ties keep every minimal supplier, as in real Q2."""
    lineitem = load(spark, sf, "lineitem")
    part = load(spark, sf, "part")
    nation = load(spark, sf, "nation")
    region = load(spark, sf, "region")
    supplier = load(spark, sf, "supplier")
    euro_supp = F.broadcast(
        supplier.join(
            nation.join(
                region.where(F.col("r_name") == "EUROPE"),
                F.col("n_regionkey") == F.col("r_regionkey"),
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    offers = (
        lineitem.join(
            euro_supp, F.col("l_suppkey") == F.col("s_suppkey")
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(_dec("l_extendedprice")).alias("_cost"))
    )
    # per-part minimum as a window over the SAME aggregate (the Q21
    # trick): a groupBy+self-join would plan the lineitem⋈supplier
    # subtree twice; the window reuses the groupBy's partitioning
    wp = Window.partitionBy("l_partkey")
    small_parts = F.broadcast(
        part.where((F.col("p_type") == "SMALL") & (F.col("p_size") < 25))
        .select("p_partkey", "p_name")
    )
    return (
        offers.withColumn("_min_cost", F.min("_cost").over(wp))
        .where(F.col("_cost") == F.col("_min_cost"))
        .join(small_parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(euro_supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            F.round(F.col("_cost").cast("double"), 6).alias("min_cost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey"
        )
        .limit(100)
    )


# the oracle states Q2 in its textbook CORRELATED form — DuckDB
# decorrelates it internally; matching it proves the manual Spark
# decorrelation preserves the scalar-subquery semantics (incl. ties)
SQL_MIN_COST_SUPPLIER = """
WITH euro_supp AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
),
offers AS (
  SELECT l_partkey, l_suppkey,
         min(CAST(l_extendedprice AS DECIMAL(18,4))) AS cost
  FROM lineitem JOIN euro_supp ON l_suppkey = s_suppkey
  GROUP BY l_partkey, l_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       round(CAST(o.cost AS DOUBLE), 6) AS min_cost
FROM part
JOIN offers o ON o.l_partkey = p_partkey
JOIN euro_supp ON o.l_suppkey = s_suppkey
WHERE p_type = 'SMALL' AND p_size < 25
  AND o.cost = (
    SELECT min(o2.cost) FROM offers o2 WHERE o2.l_partkey = p_partkey
  )
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q_excess_shippers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape (excess shippers): suppliers who shipped more
    than 40 units of some 'small…' part during 1996 — the classic
    nested IN-with-aggregate (supplier IN (… GROUP BY … HAVING
    sum(qty) > T) with an inner part-name IN). Spark-first: the inner
    IN is a broadcast semi-join onto lineitem, the HAVING is one
    (suppkey, partkey) aggregate, and the outer IN is a left-semi join
    from supplier — no correlated re-evaluation per supplier."""
    lineitem = load(spark, sf, "lineitem")
    part = load(spark, sf, "part")
    supplier = load(spark, sf, "supplier")
    small_parts = F.broadcast(
        part.where(F.col("p_name").startswith("small"))
        .select("p_partkey")
    )
    heavy = (
        lineitem.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
        )
        .join(
            small_parts,
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(_dec("l_quantity", 2)).alias("_qty"))
        .where(F.col("_qty") > 40)
    )
    return (
        supplier.join(
            heavy.select("l_suppkey").distinct(),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    )


SQL_EXCESS_SHIPPERS = """
SELECT s_suppkey, s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM lineitem
  WHERE l_partkey IN (
    SELECT p_partkey FROM part WHERE p_name LIKE 'small%'
  )
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY l_suppkey, l_partkey
  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 40
)
ORDER BY s_suppkey
"""


def q_forecast_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): pure filter+aggregate
    over the fact table — the query every column-pruning and
    predicate-pushdown gate exists for. Bounds compare in DECIMAL on
    both engines (the stored doubles round to 4 digits first, so the
    edge rows agree)."""
    lineitem = load(spark, sf, "lineitem")
    d = _dec("l_discount")
    return (
        lineitem.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (d >= F.lit("0.05").cast("decimal(18,4)"))
            & (d <= F.lit("0.07").cast("decimal(18,4)"))
            & (_dec("l_quantity", 2) < 24)
        )
        .agg(
            _sum_d(_dec("l_extendedprice") * d, "revenue"),
            F.count("*").cast("long").alias("n_rows"),
        )
    )


SQL_FORECAST_REVENUE = """
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                     * CAST(l_discount AS DECIMAL(18,4))), 6) AS DOUBLE)
         AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND CAST(l_discount AS DECIMAL(18,4)) >= CAST('0.05' AS DECIMAL(18,4))
  AND CAST(l_discount AS DECIMAL(18,4)) <= CAST('0.07' AS DECIMAL(18,4))
  AND CAST(l_quantity AS DECIMAL(18,2)) < 24
"""


def _rev():
    return _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(18,4)") - _dec("l_discount")
    )


_SQL_REV = (
    "CAST(l_extendedprice AS DECIMAL(18,4))"
    " * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))"
)


def q_local_supplier_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): revenue where customer
    and supplier share a nation, per ASIA nation for one year. The
    c_nationkey = s_nationkey condition rides the join, dims broadcast,
    one shuffle per fact-side aggregation key."""
    lineitem = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    customer = load(spark, sf, "customer")
    supplier = load(spark, sf, "supplier")
    nation = load(spark, sf, "nation")
    region = load(spark, sf, "region")
    asia_nations = F.broadcast(
        nation.join(
            region.where(F.col("r_name") == "ASIA"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    return (
        lineitem.join(
            orders.where(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1997-01-01")
            ).select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(asia_nations, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(_sum_d(_rev(), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


SQL_LOCAL_SUPPLIER_VOLUME = f"""
SELECT n_name,
       CAST(round(sum({_SQL_REV}), 6) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q_nation_trade_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping between nations): revenue
    flowing either direction between two named nations, by supplier
    nation / customer nation / ship year — the symmetric two-nation
    disjunction resolved at the dim level before it ever touches the
    fact table."""
    lineitem = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    customer = load(spark, sf, "customer")
    supplier = load(spark, sf, "supplier")
    nation = load(spark, sf, "nation")
    n1, n2 = "NATION_1", "NATION_2"
    nat = nation.select("n_nationkey", "n_name")
    supp = F.broadcast(
        supplier.join(
            nat.where(F.col("n_name").isin(n1, n2)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = F.broadcast(
        customer.join(
            nat.where(F.col("n_name").isin(n1, n2)),
            F.col("c_nationkey") == F.col("n_nationkey"),
        ).select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    return (
        lineitem.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(_sum_d(_rev(), "revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


SQL_NATION_TRADE_VOLUME = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS l_year,
       CAST(round(sum({_SQL_REV}), 6) AS DOUBLE) AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def q_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): NATION_6's share of
    AMERICA's ECONOMY-part order volume per year. Numerator and
    denominator sum in exact DECIMAL; the single final division is one
    IEEE double op on identical inputs in both engines, so the rounded
    share is bit-stable."""
    lineitem = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    customer = load(spark, sf, "customer")
    supplier = load(spark, sf, "supplier")
    nation = load(spark, sf, "nation")
    region = load(spark, sf, "region")
    part = load(spark, sf, "part")
    eco_parts = F.broadcast(
        part.where(F.col("p_type") == "ECONOMY").select("p_partkey")
    )
    america_cust = F.broadcast(
        customer.join(
            nation.join(
                region.where(F.col("r_name") == "AMERICA"),
                F.col("n_regionkey") == F.col("r_regionkey"),
            ).select("n_nationkey"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        ).select("c_custkey")
    )
    supp_nat = F.broadcast(
        supplier.join(
            nation.select(
                F.col("n_nationkey").alias("_snk"),
                F.col("n_name").alias("supp_nation"),
            ),
            F.col("s_nationkey") == F.col("_snk"),
        ).select("s_suppkey", "supp_nation")
    )
    vol = (
        lineitem.join(eco_parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(
            orders.where(
                (F.col("o_orderdate") >= "1995-01-01")
                & (F.col("o_orderdate") < "1997-01-01")
            ).select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(america_cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .join(supp_nat, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    agg = vol.groupBy(
        F.year("o_orderdate").cast("int").alias("o_year")
    ).agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_6", _rev()).otherwise(
                F.lit(0).cast("decimal(18,4)")
            )
        ).alias("_num"),
        F.sum(_rev()).alias("_den"),
    )
    return agg.select(
        "o_year",
        F.round(F.col("_num").cast("double") / F.col("_den").cast("double"), 6)
        .alias("mkt_share"),
        F.round(F.col("_den"), 6).cast("double").alias("total_volume"),
    ).orderBy("o_year")


SQL_MARKET_SHARE = f"""
WITH vol AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
         {_SQL_REV} AS rev,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
    AND o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate < TIMESTAMP '1997-01-01'
)
SELECT o_year,
       round(CAST(sum(CASE WHEN supp_nation = 'NATION_6' THEN rev
                           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(sum(rev) AS DOUBLE), 6) AS mkt_share,
       CAST(round(sum(rev), 6) AS DOUBLE) AS total_volume
FROM vol GROUP BY o_year ORDER BY o_year
"""


def q_product_profit(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year) with
    the part's retail price standing in for ps_supplycost (no partsupp
    table in this corpus): profit = revenue - retailprice*qty over
    'red…' parts, grouped by supplier nation and order year."""
    lineitem = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    supplier = load(spark, sf, "supplier")
    nation = load(spark, sf, "nation")
    part = load(spark, sf, "part")
    red_parts = F.broadcast(
        part.where(F.col("p_name").startswith("red")).select(
            "p_partkey", "p_retailprice"
        )
    )
    supp_nat = F.broadcast(
        supplier.join(
            nation.select("n_nationkey", "n_name"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey", "n_name")
    )
    amount = _rev() - _dec("p_retailprice") * _dec("l_quantity", 2)
    return (
        lineitem.join(red_parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp_nat, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(_sum_d(amount, "sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


SQL_PRODUCT_PROFIT = f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(round(sum({_SQL_REV}
                - CAST(p_retailprice AS DECIMAL(18,4))
                  * CAST(l_quantity AS DECIMAL(18,2))), 6) AS DOUBLE)
         AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE 'red%'
GROUP BY 1, 2 ORDER BY nation, o_year DESC
"""


def q_returned_item_losses(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item losses): the 20 customers whose
    returned lineitems cost the most revenue in a quarter. Top-20 via
    orderBy+limit -> TakeOrderedAndProject (deterministic c_custkey
    tie-break), never a global sort."""
    lineitem = load(spark, sf, "lineitem")
    orders = load(spark, sf, "orders")
    customer = load(spark, sf, "customer")
    nation = load(spark, sf, "nation")
    cust = F.broadcast(
        customer.join(
            nation.select("n_nationkey", "n_name"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        ).select("c_custkey", "c_name", "c_acctbal", "n_name")
    )
    return (
        lineitem.where(F.col("l_returnflag") == "R")
        .join(
            orders.where(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1996-04-01")
            ).select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_sum_d(_rev(), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


SQL_RETURNED_ITEM_LOSSES = f"""
SELECT c_custkey, c_name, c_acctbal, n_name,
       CAST(round(sum({_SQL_REV}), 6) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_customer_order_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT join
    customers to their non-urgent orders, count per customer (zeroes
    kept — the outer join is the point), then the histogram of those
    counts. Two aggregations, each on a narrow key; no window."""
    orders = load(spark, sf, "orders")
    customer = load(spark, sf, "customer")
    per_cust = (
        customer.select("c_custkey")
        .join(
            orders.where(F.col("o_orderpriority") != "1-URGENT").select(
                "o_orderkey", "o_custkey"
            ),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("long").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


SQL_CUSTOMER_ORDER_DISTRIBUTION = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
    AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_parts_supplier_count(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship count): distinct
    suppliers per (p_brand, p_size) over observed lineitem pairs,
    excluding PROMO parts and negative-balance suppliers (the
    complaints stand-in). The NOT-IN over suppliers is a broadcast
    anti-join; the distinct count rides the (brand, size) shuffle."""
    lineitem = load(spark, sf, "lineitem")
    part = load(spark, sf, "part")
    supplier = load(spark, sf, "supplier")
    bad_supp = F.broadcast(
        supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    )
    parts = F.broadcast(
        part.where(
            (F.col("p_type") != "PROMO") & F.col("p_size").isin(5, 15, 25, 35)
        ).select("p_partkey", "p_brand", "p_size")
    )
    return (
        lineitem.select("l_partkey", "l_suppkey")
        .join(parts, F.col("l_partkey") == F.col("p_partkey"))
        .join(
            bad_supp, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti"
        )
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), F.col("p_brand"), F.col("p_size")
        )
    )


SQL_PARTS_SUPPLIER_COUNT = """
SELECT p_brand, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'PROMO' AND p_size IN (5, 15, 25, 35)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
"""


def q_discounted_brand_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape (disjunctive predicate revenue): an OR of three
    (brand, size-range, quantity-range) conjunct groups. Expressed as
    ONE join + one disjunctive filter so Catalyst can push the common
    p_partkey equi-join and evaluate the OR post-join — never three
    unioned scans."""
    lineitem = load(spark, sf, "lineitem")
    part = load(spark, sf, "part")
    q = _dec("l_quantity", 2)
    branch = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & q.between(1, 15)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(5, 25)
            & q.between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(15, 40)
            & q.between(20, 50)
        )
    )
    return (
        lineitem.join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .where(branch)
        .agg(
            _sum_d(_rev(), "revenue"),
            F.count("*").cast("long").alias("n_rows"),
        )
    )


SQL_DISCOUNTED_BRAND_REVENUE = f"""
SELECT CAST(round(sum({_SQL_REV}), 6) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND CAST(l_quantity AS DECIMAL(18,2)) BETWEEN 1 AND 15)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 25
       AND CAST(l_quantity AS DECIMAL(18,2)) BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 15 AND 40
       AND CAST(l_quantity AS DECIMAL(18,2)) BETWEEN 20 AND 50)
"""


def q_skew_salted_join(spark: SparkSession, sf: str) -> DataFrame:
    """Per-mktsegment event volume through the salted hot-key join
    (`operators/skew.py`): events (big, potentially hot user_ids) join
    customer (small) on user_id = c_custkey with a 16-way salt, so a
    single user producing half the stream spreads over 16 tasks
    instead of stalling one. Output is row-identical to the plain
    join — which is exactly what the DuckDB twin runs."""
    from webhookdb_spark.operators.skew import salted_join

    events = load(spark, sf, "events")
    customer = load(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    j = salted_join(events.select("user_id", "value"), customer, on="user_id")
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            _sum_d(_dec("value"), "total_value"),
        )
        .orderBy("c_mktsegment")
    )


SQL_SKEW_SALTED = """
SELECT c_mktsegment, count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(18,4))), 6) AS DOUBLE) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q_event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    """Markov-style event-type transition counts: LAG over each user's
    (ts, event_id)-ordered stream, then count (prev -> curr) pairs.
    One shuffle on user_id serves the window; the transition count is
    a map-side-combinable aggregate on top."""
    events = load(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = events.select(
        "user_id", "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).where(F.col("prev_type").isNotNull())
    return (
        t.groupBy("prev_type", F.col("event_type").alias("curr_type"))
        .agg(F.count("*").alias("n"))
        .orderBy("prev_type", "curr_type")
    )


SQL_EVENT_TRANSITIONS = """
WITH t AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
)
SELECT prev_type, event_type AS curr_type, count(*) AS n
FROM t WHERE prev_type IS NOT NULL
GROUP BY prev_type, curr_type
ORDER BY prev_type, curr_type
"""


def q_order_percentiles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact interpolated percentiles (p25/p50/p75/p90) of order value
    per priority — Spark's exact `percentile` aggregate against
    DuckDB's `quantile_cont`. Both define rank = p*(n-1) with linear
    interpolation on the same sorted doubles, but the FORMULAS differ
    (Spark a+f*(b-a), DuckDB (1-f)*a+f*b) by a last ulp — and 2-dp
    money values at 1- or 2-dp interpolation factors put the true
    x*1e6 exactly ON integers, so floor would flip across engines
    right at the attractor (the mixture_plan ulp class, r10). The
    quantization is round(x*1e6)/1e6: a half-integer at 1e6 scale
    would need a 5 in the 7th decimal of a <=4-dp true value —
    impossible. Exact percentile is a sort-per-group; at 100 TB swap
    in approx_percentile (t-digest, mergeable, one pass) — this query
    pins the exact semantics."""
    orders = load(spark, sf, "orders")
    pcts = [0.25, 0.5, 0.75, 0.9]
    agg = orders.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", pcts).alias("_p"),
        F.count("*").alias("n_orders"),
    )
    cols = [
        (F.round(F.element_at("_p", i + 1) * F.lit(1e6), 0) / F.lit(1e6))
        .alias(a)
        for i, a in enumerate(["p25", "p50", "p75", "p90"])
    ]
    return agg.select("o_orderpriority", "n_orders", *cols).orderBy("o_orderpriority")


SQL_ORDER_PERCENTILES = """
SELECT o_orderpriority, count(*) AS n_orders,
       round(quantile_cont(o_totalprice, 0.25) * 1e6, 0) / 1e6 AS p25,
       round(quantile_cont(o_totalprice, 0.5) * 1e6, 0) / 1e6 AS p50,
       round(quantile_cont(o_totalprice, 0.75) * 1e6, 0) / 1e6 AS p75,
       round(quantile_cont(o_totalprice, 0.9) * 1e6, 0) / 1e6 AS p90
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_order_deciles(spark: SparkSession, sf: str) -> DataFrame:
    """NTILE(10) decile profile of order values: deterministic bucket
    assignment via a total order (o_totalprice, o_orderkey), then
    per-decile count / min / max / exact-decimal sum. A naive
    `ntile(10) OVER (ORDER BY ...)` collapses to ONE partition (Spark
    warns and ships every row to a single task), so the bucket comes
    from the distributed two-phase global rank (`sampling.global_rank`:
    range-partitioned parallel windows + metadata-sized offsets) and
    the exact integer NTILE remainder rule (`sampling.ntile_assign`) —
    output identical to the window, scalable like a sort."""
    orders = load(spark, sf, "orders")
    ranked = SA.global_rank(
        orders.select("o_totalprice", "o_orderkey"),
        ["o_totalprice", "o_orderkey"],
    )
    total = F.broadcast(ranked.agg(F.count("*").alias("_n")))
    d = ranked.crossJoin(total).select(
        "o_totalprice",
        SA.ntile_assign(F.col("rank"), F.col("_n"), 10).alias("decile"),
    )
    return (
        d.groupBy("decile")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 6).alias("min_value"),
            F.round(F.max("o_totalprice"), 6).alias("max_value"),
            _sum_d(_dec("o_totalprice"), "total_value"),
        )
        .orderBy("decile")
    )


SQL_ORDER_DECILES = """
WITH d AS (
  SELECT o_totalprice,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
  FROM orders
)
SELECT decile, count(*) AS n_orders,
       round(min(o_totalprice), 6) AS min_value,
       round(max(o_totalprice), 6) AS max_value,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 6) AS DOUBLE) AS total_value
FROM d
GROUP BY decile
ORDER BY decile
"""


def q_profile_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-column profile of the orders table (null rate,
    cardinality, range, mode) via the single-explode unpivot."""
    return PR.profile_columns(load(spark, sf, "orders"))


SQL_PROFILE_ORDERS_KINDS = {
    "o_orderkey": "num", "o_custkey": "num", "o_orderstatus": "raw",
    "o_totalprice": "num", "o_orderdate": "raw", "o_orderpriority": "raw",
}


def q_orders_digest(spark: SparkSession, sf: str) -> DataFrame:
    """Commutative per-bucket checksum of orders — the anti-entropy
    primitive a sync target uses to verify a replica without moving
    rows; one narrow map + one map-side-combined SUM onto 32 keys."""
    return DG.table_digest(
        load(spark, sf, "orders"), key_col="o_orderkey", n_buckets=32
    )


def q_profile_orders_approx(spark: SparkSession, sf: str) -> DataFrame:
    """KMV-sketched profile of orders: same schema as profile_orders,
    n_distinct estimated by the portable k-minimum-values sketch — the
    estimator is deterministic integer arithmetic, so even the
    APPROXIMATE output carries a full value-hash oracle."""
    return PR.profile_columns(load(spark, sf, "orders"), approx=True)


def q_zorder_layout(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order layout report over events (user_id × event-time):
    Morton-key range buckets with both dimensions' min/max spans —
    the file-statistics a Z-ordered writer would persist for
    two-dimensional min/max pruning."""
    ev = load(spark, sf, "events").select(
        "user_id", F.col("ts").cast("timestamp").cast("long").alias("epoch_s")
    )
    return LA.zorder_layout(ev, "user_id", "epoch_s", bucket_bits=36)


def q_cluster_profile(spark: SparkSession, sf: str) -> DataFrame:
    """IVF cluster profile of the embeddings corpus: per-cell size,
    fixed-point mean cosine tightness, dominant label + share."""
    return S.embedding_cluster_profile(load(spark, sf, "embeddings"))


def q_pipeline_pack(spark: SparkSession, sf: str) -> DataFrame:
    """The training pipeline END-TO-END under one value-hash oracle:
    C4-style filter cascade → exact-dedup canonical keep (lowest
    doc_id per normalized fingerprint) → deterministic train split →
    GPT-style sequence packing. One lazy dataflow, schemas lining up
    at every hop; the oracle nests each stage's existing DuckDB twin
    as a CTE, so the COMPOSITION is verified, not just the parts."""
    from webhookdb_spark.operators.text import WS, ascii_lower

    docs = load(spark, sf, "documents")
    kept = docs.join(
        C.corpus_filter(docs).where("keep").select("doc_id"), "doc_id"
    )
    fp = F.md5(ascii_lower(F.regexp_replace(F.trim(F.col("text")), WS, " ")))
    w = Window.partitionBy(fp).orderBy("doc_id")
    canon = (
        kept.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    train = SA.corpus_split(canon).where("split = 'train'")
    return SA.sequence_pack(train, context_len=128)


def sql_pipeline_pack() -> str:
    fp = (
        "md5(translate(regexp_replace(trim(text, ' '),"
        " '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'),"
        " 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'))"
    )
    return f"""
    WITH kept AS (
      SELECT d.* FROM documents d
      JOIN ({C.sql_corpus_filter()}) v USING (doc_id)
      WHERE v.keep
    ),
    canon AS (
      SELECT * FROM (
        SELECT k.*, row_number() OVER (PARTITION BY {fp}
                                       ORDER BY doc_id) AS rn
        FROM kept k
      ) WHERE rn = 1
    ),
    train_t AS (
      SELECT c.* FROM canon c
      JOIN ({SA.sql_corpus_split(table="canon")}) s USING (doc_id)
      WHERE s.split = 'train'
    )
    SELECT * FROM ({SA.sql_sequence_pack(table="train_t", context_len=128)})
    """


def q_vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    """Vocabulary OOV-rate profile of the held-out split against a
    top-200 vocabulary fit on the train split (corpus.py)."""
    return C.vocab_coverage(load(spark, sf, "documents"))


def q_revenue_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPING SETS ((segment, priority), (segment), ()) revenue —
    the general form rollup/cube specialize; grouping_id disambiguates
    NULL-as-subtotal from NULL-as-value. One expand + one aggregate;
    map-side combine applies per set."""
    orders = load(spark, sf, "orders")
    customer = load(spark, sf, "customer")
    j = orders.join(customer, F.col("o_custkey") == F.col("c_custkey")).select(
        "c_mktsegment", "o_orderpriority", "o_totalprice"
    )
    return (
        j.groupingSets(
            [["c_mktsegment", "o_orderpriority"], ["c_mktsegment"], []],
            "c_mktsegment",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count("*").alias("n_orders"),
            _sum_d(_dec("o_totalprice"), "revenue"),
        )
        # subtotal NULLs become a sentinel: every output column stays a
        # non-null scalar, which any canonicalizer can sort and hash
        .select(
            F.coalesce("c_mktsegment", F.lit("(all)")).alias("segment"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "gid", "n_orders", "revenue",
        )
        .orderBy("gid", "segment", "priority")
    )


SQL_REVENUE_GROUPING_SETS = """
SELECT coalesce(c_mktsegment, '(all)') AS segment,
       coalesce(o_orderpriority, '(all)') AS priority,
       CAST(GROUPING(c_mktsegment, o_orderpriority) AS INTEGER) AS gid,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 6) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority), (c_mktsegment), ())
ORDER BY gid, segment, priority
"""


def q_rollup_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP aggregation over the region/nation hierarchy."""
    nation = F.broadcast(load(spark, sf, "nation"))
    region = F.broadcast(load(spark, sf, "region"))
    customer = load(spark, sf, "customer")
    orders = load(spark, sf, "orders")
    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(nation, customer.c_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
    )
    return joined.rollup(
        F.col("r_name").alias("region"), F.col("n_name").alias("nation")
    ).agg(
        _sum_d(_dec("o_totalprice"), "total_revenue"),
        F.count("*").alias("n_orders"),
    )


SQL_ROLLUP = """
SELECT r_name AS region, n_name AS nation,
  CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 6) AS DOUBLE) AS total_revenue,
  COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY ROLLUP(r_name, n_name)
"""


def q_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    """UNION / EXCEPT set algebra (SURVEY §2.8)."""
    customer = load(spark, sf, "customer")
    building = customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = customer.where(F.col("c_acctbal") > 5000).select("c_custkey")
    nation3 = customer.where(F.col("c_nationkey") == 3).select("c_custkey")
    return building.union(rich).distinct().subtract(nation3)


SQL_SET_OPS = """
(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
 UNION
 SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
EXCEPT
SELECT c_custkey FROM customer WHERE c_nationkey = 3
"""


def q_row_cap(spark: SparkSession, sf: str) -> DataFrame:
    """The 1000-row query cap (organization.rb:23,146-164) with a total
    order so the capped set is deterministic."""
    lineitem = load(spark, sf, "lineitem")
    return (
        lineitem.orderBy(
            F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")
        )
        .limit(1000)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


SQL_ROW_CAP = """
SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
LIMIT 1000
"""


RETENTION_CUTOFF = "2024-01-25 00:00:00"


def q_retention_candidates(spark: SparkSession, sf: str) -> DataFrame:
    """Stale-row retention sweep predicate (base_stale_row_deleter.rb:6-174)
    as a per-day candidate count."""
    events = load(spark, sf, "events")
    return (
        ts_filter(events, lt=RETENTION_CUTOFF)
        .where(F.col("event_type") == "error")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").alias("n_stale"))
    )


SQL_RETENTION = f"""
SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_stale FROM events
WHERE ts < TIMESTAMP '{RETENTION_CUTOFF}' AND event_type = 'error'
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Training-data pipeline operators (documents / embeddings)
# ---------------------------------------------------------------------------

UPSERT_SPLIT = "2024-01-15 00:00:00"


def q_upsert_merge(spark: SparkSession, sf: str) -> DataFrame:
    """THE core engine operator under oracle check: conditional keyed
    MERGE (insert / newer-wins update / stale no-op + intra-batch
    last-wins) driven with real data.

    Events become webhook envelopes keyed by (user_id, event_type);
    they ingest as two batches split at a date boundary through the
    actual warehouse upsert path. The oracle reproduces the semantics
    in pure SQL: per key, batch-2's winner replaces batch-1's winner
    only when strictly newer (ties by event_id within a batch).
    """
    import atexit
    import shutil
    import tempfile

    from webhookdb_spark.operators.upsert import upsert_envelopes
    from webhookdb_spark.spec import Col, ReplicatorSpec
    from webhookdb_spark.storage import Warehouse
    from webhookdb_spark.types import ColumnType

    spec = _EVENTS_SIM_SPEC
    # events.parquet is one row group → a single scan task; spread the
    # envelope construction across cores the way a real webhook source
    # (Kafka partitions / many files) would arrive already parallel.
    events = load(spark, sf, "events").repartition(32)
    env = events.select(
        F.to_json(
            F.struct(
                F.concat_ws("|", "user_id", "event_type").alias("k"),
                F.col("ts").cast("string").alias("ts"),
                "event_id",
                "value",
            )
        ).alias("body"),
        F.col("ts").alias("received_at"),
        F.col("event_id").alias("_seq"),
    )
    split = F.lit(UPSERT_SPLIT).cast("timestamp")
    wh_dir = tempfile.mkdtemp(prefix="whdb_q_upsert_")
    # The result DataFrame is lazy over these parquet files, so the
    # warehouse must outlive the function — reclaim it at interpreter
    # exit instead (a bench/correctness run calls this repeatedly).
    atexit.register(shutil.rmtree, wh_dir, ignore_errors=True)
    t = Warehouse(spark, wh_dir).table("org", "events_sim")
    # Bulk loads touch the whole keyspace: the bucket hint skips the
    # per-batch discovery scan (merge_upsert docstring).
    all_buckets = list(range(spec.n_buckets))
    # capture_changes=False: a bulk load with no fan-out/dependent
    # consumers skips the durable CDC write (one whole write per MERGE).
    upsert_envelopes(t, env.where(F.col("received_at") < split), spec,
                     buckets=all_buckets, capture_changes=False)
    upsert_envelopes(t, env.where(F.col("received_at") >= split), spec,
                     buckets=all_buckets, capture_changes=False)
    return t.read().select("k", "ts", "event_id", F.round("value", 6).alias("value"))


SQL_UPSERT_MERGE = f"""
WITH keyed AS (
  SELECT user_id || '|' || event_type AS k, ts, event_id, round(value, 6) AS value,
         CASE WHEN ts < TIMESTAMP '{UPSERT_SPLIT}' THEN 1 ELSE 2 END AS batch
  FROM events
),
winners AS (
  SELECT k, batch, ts, event_id, value FROM (
    SELECT *, row_number() OVER (PARTITION BY k, batch
                                 ORDER BY ts DESC, event_id DESC) AS rn
    FROM keyed
  ) WHERE rn = 1
),
b1 AS (SELECT * FROM winners WHERE batch = 1),
b2 AS (SELECT * FROM winners WHERE batch = 2)
SELECT coalesce(b2.k, b1.k) AS k,
       CASE WHEN b1.k IS NULL OR (b2.k IS NOT NULL AND b2.ts > b1.ts)
            THEN b2.ts ELSE b1.ts END AS ts,
       CASE WHEN b1.k IS NULL OR (b2.k IS NOT NULL AND b2.ts > b1.ts)
            THEN b2.event_id ELSE b1.event_id END AS event_id,
       CASE WHEN b1.k IS NULL OR (b2.k IS NOT NULL AND b2.ts > b1.ts)
            THEN b2.value ELSE b1.value END AS value
FROM b1 FULL OUTER JOIN b2 ON b1.k = b2.k
"""


def q_windowed_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling event-time windows (streaming §2.9 surface; same plan
    runs batch or stream — here batch for the oracle)."""
    from webhookdb_spark.streaming.windows import windowed_event_counts

    return windowed_event_counts(load(spark, sf, "events"), window="1 hour")


SQL_WINDOWED_COUNTS = """
SELECT date_trunc('hour', ts) AS window_start,
       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
       event_type, COUNT(*) AS n_events
FROM events GROUP BY 1, 2, 3
"""


def q_sessionized(spark: SparkSession, sf: str) -> DataFrame:
    """Session windows (30-min gap) per user — the native
    session_window; oracle reproduces it with gaps-and-islands SQL."""
    from webhookdb_spark.streaming.windows import sessionized_counts

    return sessionized_counts(load(spark, sf, "events"), gap="30 minutes")


SQL_SESSIONIZED = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
  FROM events
),
grouped AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS grp
  FROM marked
)
SELECT MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       user_id, COUNT(*) AS n_events
FROM grouped GROUP BY user_id, grp
"""


def q_text_token_count(spark: SparkSession, sf: str) -> DataFrame:
    """Whitespace-token and character counts per document — the basic
    length accounting every corpus budget starts from; pure built-in
    expressions, one narrow scan."""
    return X.token_count(load(spark, sf, "documents"))


def q_text_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Heuristic quality score per document (length, punctuation
    density, stopword ratio, uppercase share — the C4/Gopher-style
    signals) computed as one expression tree over a single scan."""
    return X.quality_score(load(spark, sf, "documents"))


def q_text_langid(spark: SparkSession, sf: str) -> DataFrame:
    """Stopword-profile language ID per document: scores each text
    against small per-language marker-word lists with built-in
    expressions (no UDF), argmax with a deterministic tie-break."""
    return X.langid(load(spark, sf, "documents"))


def q_text_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Normalized-text md5 fingerprint per document (case-fold +
    whitespace collapse) — the join key for exact dedup and the
    decontamination blocklists."""
    return X.fingerprint(load(spark, sf, "documents"))


def q_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact duplicate groups: normalized-fingerprint groupBy with
    map-side partial aggregation, HAVING count > 1 — the O(n) first
    pass of every dedup cascade."""
    return D.exact_duplicates(load(spark, sf, "documents")).select(
        "fingerprint", "n_docs"
    )


SQL_DEDUP_EXACT = """
SELECT md5(translate(regexp_replace(trim(text, ' '), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fingerprint,
       COUNT(*) AS n_docs
FROM documents GROUP BY 1 HAVING COUNT(*) > 1
"""


def q_dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: shingle -> 32 md5 minhashes
    -> banded bucket equi-join (candidates only from shared bands,
    never all-pairs) -> exact Jaccard verification."""
    return D.minhash_dedup_pairs(load(spark, sf, "documents"))


def q_dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """64-bit SimHash per document: sign-aggregated token-hash bits
    in pure integer expressions — the constant-size signature whose
    hamming distance approximates cosine token similarity."""
    return D.simhash(load(spark, sf, "documents"))


def q_dedup_ngram(spark: SparkSession, sf: str) -> DataFrame:
    """Standalone all-pairs n-gram Jaccard over a bounded id window
    (quadratic by definition — the scale path is minhash LSH candidates
    → the same jaccard verification)."""
    docs = load(spark, sf, "documents").where(F.col("doc_id") < 500)
    return D.jaccard_pairs(docs, None, threshold=0.5)


def q_dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Transitive closure of the minhash near-dup pairs (contraction
    connected components) + canonical pick per cluster — the keep-list
    step that turns pair detection into an actual dedup."""
    return D.dedup_clusters(load(spark, sf, "documents"))


def q_kmv_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """KMV distinct-count sketch per language — unlike HLL the md5-based
    k-minimum-values estimator is bit-reproducible in any engine, so
    the sketch itself carries a value-hash oracle. WindowGroupLimit
    keeps the per-group selection map-side-pruned."""
    return SK.kmv_distinct(load(spark, sf, "documents"), "lang", "text", k=64)


def q_token_countmin(spark: SparkSession, sf: str) -> DataFrame:
    """Count-min frequency sketch of the document token stream: a
    fixed depth*width counter table (the distributed heavy-hitter
    state) — deterministic multiset arithmetic, so the sketch itself
    hash-matches the DuckDB twin cell for cell."""
    from webhookdb_spark.operators.text import WS

    docs = load(spark, sf, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.col("text")), WS)).alias("token")
    )
    return SK.countmin_sketch(toks, "token", depth=4, width=512)


def q_token_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Frequency upper-bounds for a fixed candidate-token list, probed
    from the count-min sketch — the full sketch->estimate path under
    one value-hash oracle."""
    from webhookdb_spark.operators.text import WS

    docs = load(spark, sf, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.col("text")), WS)).alias("token")
    )
    sk = SK.countmin_sketch(toks, "token", depth=4, width=512)
    return SK.countmin_estimate(sk, _HH_CANDIDATES, depth=4, width=512)


_HH_CANDIDATES = ["spark", "merge", "window", "the", "dup", "zzz_absent"]


def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """Attribution as-of join: each purchase picks up the user's latest
    prior click via the union-merge window construction (one shuffle,
    no per-key cross product). Oracle is DuckDB's NATIVE ASOF JOIN."""
    ev = load(spark, sf, "events")
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.where(F.col("event_type") == "click")
    return J.asof_join(
        left, right, key="user_id", ts="ts", right_cols=("event_id", "value")
    )


def q_asof_join_forward(spark: SparkSession, sf: str) -> DataFrame:
    """Forward as-of: each purchase picks up the user's NEXT click
    (earliest click at-or-after) — the mirrored union-merge window."""
    ev = load(spark, sf, "events")
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.where(F.col("event_type") == "click")
    return J.asof_join(
        left, right, key="user_id", ts="ts",
        right_cols=("event_id", "value"), direction="forward",
    )


def q_asof_join_nearest(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest as-of: the closer of the prior/next click, ties going
    backward (pandas merge_asof's rule) — both single-shuffle passes
    plus a per-row pick."""
    ev = load(spark, sf, "events")
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = ev.where(F.col("event_type") == "click")
    return J.asof_join(
        left, right, key="user_id", ts="ts",
        right_cols=("event_id", "value"), direction="nearest",
    )


def q_interval_overlap(spark: SparkSession, sf: str) -> DataFrame:
    """Interval×interval overlap join (15-min error windows against
    15-min signup windows per user) via grid-cell bucketing on both
    sides — equi-join + residual filter, no per-key cross product."""
    ev = load(spark, sf, "events")
    w = 900

    def win(t: str) -> DataFrame:
        return ev.where(F.col("event_type") == t).select(
            "user_id",
            F.col("ts").alias("start_ts"),
            (F.col("ts") + F.expr(f"INTERVAL {w} SECONDS")).alias("end_ts"),
            "event_id",
        )

    return J.interval_overlap_join(
        win("error"), win("signup"), key="user_id",
        grid_seconds=w, a_cols=("event_id",), b_cols=("event_id",),
    )


def q_range_join(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-interval join (clicks inside 30-minute error windows)
    via grid-cell bucketing: equi-join on (user, cell) + exact residual
    filter — bounded fan-out instead of a per-key cross product."""
    ev = load(spark, sf, "events")
    points = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    intervals = ev.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 1800 SECOND")).alias("end_ts"),
        "event_id",
    )
    return J.range_join(
        points, intervals, key="user_id",
        grid_seconds=1800, interval_cols=("event_id",),
    )


def q_inverted_index(spark: SparkSession, sf: str) -> DataFrame:
    """Token -> (df_count, sorted postings): one groupBy over distinct
    doc tokens — the buildable-and-bucketable retrieval index."""
    return C.inverted_index(load(spark, sf, "documents"))


def q_inverted_index_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    """The 100 TB posting store: document-partitioned shards, hard
    per-row postings cap — no row ever holds a whole token's postings
    (the scale gap the flat index documents)."""
    return C.inverted_index_bucketed(load(spark, sf, "documents"))


def q_inverted_index_persisted(spark: SparkSession, sf: str) -> DataFrame:
    """The persisted, appendable posting store end-to-end: write half
    the corpus, APPEND the other half as its own segment, compact, and
    return the logical index rows — which must be row-identical to a
    one-shot build (the oracle builds the index directly in SQL), so
    this one driver row checks write + append + compact + read
    together. Storage lives in a fresh temp dir per invocation."""
    import tempfile

    docs = load(spark, sf, "documents")
    path = tempfile.mkdtemp(prefix="whdb_ii_")
    C.write_inverted_index(
        docs.where("doc_id % 2 = 0"), path, n_shards=8, postings_per_row=64
    )
    C.append_inverted_index(docs.where("doc_id % 2 = 1"), path)
    C.compact_inverted_index(spark, path)
    return C.read_inverted_index(spark, path)


def q_search_terms(spark: SparkSession, sf: str) -> DataFrame:
    """Conjunctive boolean retrieval by count-matching: docs containing
    every query term, no driver-side posting intersection."""
    return C.search_all_terms(
        load(spark, sf, "documents"), ("spark", "merge", "window")
    )


def q_search_ranked(spark: SparkSession, sf: str) -> DataFrame:
    """TF-IDF-style ranked retrieval with an exact-integer idf proxy
    (log-free so the ranking is oracle-verifiable); top-k rides
    TakeOrderedAndProject, never a global sort."""
    return C.search_ranked(
        load(spark, sf, "documents"), ("spark", "merge", "window")
    )


def q_corpus_filter(spark: SparkSession, sf: str) -> DataFrame:
    """C4/Gopher-style rule cascade (lang allowlist, source blocklist,
    length bounds, badword screen) as one shuffle-free narrow map with
    a deterministic first-failing-rule reason column."""
    return C.corpus_filter(load(spark, sf, "documents"))


def q_length_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language exact token-length percentiles (the profile that
    drives filter thresholds and mixture weights)."""
    return C.length_stats(load(spark, sf, "documents"))


def q_sequence_pack(spark: SparkSession, sf: str) -> DataFrame:
    """GPT-style concat-then-chunk sequence packing over the
    deterministic shuffle order — a distributed two-phase prefix sum
    (never a single-partition window) assigns every doc its global
    token offset and pack coordinates."""
    return SA.sequence_pack(load(spark, sf, "documents"))


def q_text_lm_score(spark: SparkSession, sf: str) -> DataFrame:
    """CCNet-style LM quality scoring: train a bigram familiarity model
    on the %5!=0 reference slice, score the held-out %5==0 slice —
    exact integer fixed-point so the hash matches across engines (no
    libm transcendentals)."""
    docs = load(spark, sf, "documents")
    ref = docs.where(F.col("doc_id") % 5 != 0)
    held = docs.where(F.col("doc_id") % 5 == 0)
    return X.lm_familiarity(held, model_df=ref)


def q_dedup_segments(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-corpus exact segment dedup (RefinedWeb-style remove-the-
    span): duplicated aligned 8-token segments are stripped from every
    occurrence but the first, and documents are rebuilt from the
    surviving segments."""
    return D.segment_dedup(load(spark, sf, "documents"))


def q_dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Batch-vs-corpus incremental near-dedup: the %10 'incoming batch'
    joins its LSH bands against the standing corpus's band index —
    batch-sized work per refresh, never a corpus recompute."""
    docs = load(spark, sf, "documents")
    return D.incremental_minhash_dedup(
        docs.where(F.col("doc_id") % 10 == 0),
        docs.where(F.col("doc_id") % 10 != 0),
    )


def q_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word 5-gram
    with the (deterministically carved) eval slice are flagged — the
    GPT-3-style n-gram overlap audit as a broadcast gram probe. The %7
    carve overlaps the planted near-dup structure, so the oracle checks
    real hits (12 contaminated docs at sf0.01), not an all-zero column."""
    docs = load(spark, sf, "documents")
    ev = docs.where(F.col("doc_id") % 7 == 0)
    train = docs.where(F.col("doc_id") % 7 != 0)
    return D.decontaminate(train, ev)


def q_decontaminate_bloom(spark: SparkSession, sf: str) -> DataFrame:
    """Bloom-filter decontamination: the eval set compressed to a fixed
    8 KB bitmap, every training gram probed with 3 bit tests — a pure
    narrow map with zero joins, the shape that holds when the union of
    all benchmark suites is itself too large to broadcast. FP rate is
    deterministic (md5 positions), so the oracle checks it exactly."""
    docs = load(spark, sf, "documents")
    return D.bloom_decontaminate(
        docs.where(F.col("doc_id") % 7 != 0),
        docs.where(F.col("doc_id") % 7 == 0),
    )


def q_stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic per-language quota sample (md5-ordered top-N per
    stratum; WindowGroupLimit keeps the shuffle bounded by the quota)."""
    return SA.stratified_sample_n(load(spark, sf, "documents"), "lang", 20).select(
        "doc_id", "lang", "source", "n_chars"
    )


def q_hash_fraction_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic ~10% corpus sample — pure map-side hash filter, the
    no-shuffle scale path for fractional quotas."""
    return SA.hash_fraction_sample(load(spark, sf, "documents"), 0.1).select(
        "doc_id", "lang", "source", "n_chars"
    )


# documents.source is src0..src19; exercise full-keep, partial, zero,
# and unlisted-passthrough paths of the mixture.
MIX_WEIGHTS = {"src0": 1.0, "src1": 0.5, "src2": 0.1, "src3": 0.0}


def q_corpus_split(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic leak-free train/val/test assignment (salted-hash
    thresholds, map-side only)."""
    return SA.corpus_split(load(spark, sf, "documents")).select(
        "doc_id", "lang", "source", "split"
    )


def q_weighted_mix(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source corpus-mixture subsampling; unlisted sources pass
    through whole."""
    return SA.weighted_mix(load(spark, sf, "documents"), MIX_WEIGHTS).select(
        "doc_id", "lang", "source"
    )


def q_text_repetition(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher-style intra-document repetition filter features."""
    return X.repetition_stats(load(spark, sf, "documents"))


def q_text_token_count_bpe(spark: SparkSession, sf: str) -> DataFrame:
    """BPE-ish regex token counting (training-cost estimator)."""
    return X.token_count_bpe(load(spark, sf, "documents"))


def q_text_token_count_bpe2(spark: SparkSession, sf: str) -> DataFrame:
    """REAL BPE token counting: trained merge table (tools/train_bpe.py,
    deterministic) applied in rank order per letter run — counts credit
    actual merges instead of pretokenizer splits."""
    return X.token_count_bpe2(load(spark, sf, "documents"))


def q_text_scrub_pii(spark: SparkSession, sf: str) -> DataFrame:
    """PII redaction. The synthetic corpus carries no PII, so the query
    plants a deterministic email/URL/phone per document (both engines
    build the identical text) and the operator must find and redact
    exactly those."""
    docs = load(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.format_string(
                " contact user%s@example.com or https://ex.io/d/%s tel +1-555-%04d-99",
                F.col("doc_id"), F.col("doc_id"), F.col("doc_id") % 10000,
            ),
        ).alias("text"),
    )
    return X.scrub_pii(docs)


def q_text_winnow(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling-hash winnowing fingerprints (one row per selected hash)."""
    return X.winnow_fingerprints(load(spark, sf, "documents"))


def q_media_summary(spark: SparkSession, sf: str) -> DataFrame:
    """Multimodal binary-column plumbing: documents → opaque media
    payloads + typed metadata → native summary (no UDF)."""
    return M.media_summary(M.media_from_documents(load(spark, sf, "documents")))


def q_media_features(spark: SparkSession, sf: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction over binary payloads
    (byte-histogram stand-in for a codec-backed embedder); emits scalar
    f0..f15 doubles so the result is fully hash-checkable."""
    return M.byte_histogram_features(M.media_from_documents(load(spark, sf, "documents")))


def q_media_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL image decode, zero dependencies: documents become
    structurally valid BMPs (native hex-assembled binary), and the
    kernel parses width/height back out of the actual header bytes.
    The oracle rebuilds the same bytes and re-parses them in SQL."""
    return M.decode_images(M.media_bmp_from_documents(load(spark, sf, "documents")))


def q_media_jpeg_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL JPEG dimension decode, zero dependencies: documents become
    structurally valid baseline JPEGs (SOI/APP0/SOF0/SOS marker stream,
    native hex assembly) and the kernel walks the markers to the SOF0
    frame header — the majority format of a real image corpus, no codec
    involved. The oracle rebuilds the bytes and re-parses the
    big-endian SOF fields in SQL."""
    return M.decode_images(M.media_jpeg_from_documents(load(spark, sf, "documents")))


def q_media_jpeg_decode_progressive(spark: SparkSession, sf: str) -> DataFrame:
    """REAL progressive-JPEG dimension decode (r13 verdict item 6):
    documents become SOF2 marker streams with a DHT segment BEFORE the
    frame header, so the walker must skip C4 (huffman tables) and read
    the SOF2 fields — the non-baseline half of a real image corpus,
    still zero codec dependencies. Oracle rebuilds the bytes and parses
    the post-DHT big-endian offsets in SQL."""
    return M.decode_images(
        M.media_jpeg_progressive_from_documents(load(spark, sf, "documents"))
    )


def q_media_tiff_webp_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL TIFF + WebP dimension decode: documents become one of
    three wire formats by doc_id % 3 — little-endian TIFF (IFD0 tag
    walk), WebP VP8L (14+14-bit packed dims behind the lossless
    signature), WebP VP8X (24-bit canvas minus-one fields) — and the
    kernel parses width/height back out of the actual header bytes.
    (The VP8-lossy, big-endian-TIFF, and SHORT-typed branches run in
    the unit/property suites, not at registry scale.) Oracle
    rebuilds the same bytes and re-parses each variant's own fields
    in SQL (mod/div lane arithmetic for VP8L)."""
    return M.decode_images(
        M.media_tiff_webp_from_documents(load(spark, sf, "documents"))
    )


def q_media_wav_decode(spark: SparkSession, sf: str) -> DataFrame:
    """REAL audio decode: canonical PCM WAV payloads, chunk-walking
    parser extracting (sample_rate, channels, bits, n_samples)."""
    return M.decode_audio(M.media_wav_from_documents(load(spark, sf, "documents")))


def q_media_pixel_features(spark: SparkSession, sf: str) -> DataFrame:
    """REAL pixel-domain image stats: stride-aware walk of the BMP
    pixel array, per-channel BGR means over every complete pixel —
    exact integer division keeps float-free parity with the twin."""
    return M.image_pixel_features(
        M.media_bmp_from_documents(load(spark, sf, "documents"))
    )


def q_media_audio_features(spark: SparkSession, sf: str) -> DataFrame:
    """REAL waveform DSP (not header fields): mean-square energy,
    zero-crossings, and peak over the decoded int16 PCM stream, all in
    exact integer math so the sketchiest stage of a real pipeline —
    float DSP — still carries a value-hash oracle. The ASCII-byte
    fixture yields all-positive samples (zero_crossings exercises its
    negative-sample branch in the unit suite)."""
    return M.audio_features(M.media_wav_from_documents(load(spark, sf, "documents")))


def q_media_avi_frames(spark: SparkSession, sf: str) -> DataFrame:
    """REAL frame extraction: documents become structurally valid
    RIFF/AVI containers (native hex assembly) and the kernel demuxes
    the movi chunk list — the row-multiplying UDTF shape with a genuine
    parser. The oracle rebuilds the container and re-slices each frame
    at its chunk offset."""
    return M.demux_avi_frames(M.media_avi_from_documents(load(spark, sf, "documents")))


def q_ann_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-k (the exact ANN baseline every
    approximate variant is measured against): broadcast the query
    block, expression-level dot products, per-query rank window with
    deterministic tie-breaks."""
    emb = load(spark, sf, "embeddings")
    return S.cosine_topk(emb, emb.where(F.col("vec_id") < 3), k=5)


def q_ann_lsh_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Hamming-1 multiprobe sign-LSH ANN. Deterministic (rounded sign
    bits, fixed tie-breaks) so it carries a full value-hash oracle."""
    emb = load(spark, sf, "embeddings")
    return S.ann_topk_lsh(emb, emb.where(F.col("vec_id") < 3), k=5, n_dims=64)


def q_ann_lsh_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@5 of the multiprobe LSH ANN vs exact cosine top-5, per
    query — the approximate operator's self-check."""
    emb = load(spark, sf, "embeddings")
    return S.ann_lsh_recall(emb, emb.where(F.col("vec_id") < 3), k=5, n_dims=64)


def q_ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF ANN: deterministic Lloyd centroids (metadata-sized driver
    training) partition the corpus into cells; queries scan only their
    nprobe nearest cells via a broadcast cell-route join — the
    scan-fraction scale path for large corpora."""
    emb = load(spark, sf, "embeddings")
    return S.ann_topk_ivf(emb, emb.where(F.col("vec_id") < 3), k=5)


def q_ann_pq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Product-quantization ANN (asymmetric distance): 64 floats become
    8 one-byte codes (32x compression), queries score the corpus with
    m LUT lookups per vector — the compressed-domain scan path for
    100 TB embedding stores. Deterministic fixed-point codebooks, full
    value-hash oracle."""
    emb = load(spark, sf, "embeddings")
    return S.ann_topk_pq(emb, emb.where(F.col("vec_id") < 3), k=5)


def q_ann_ivfpq_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-PQ composition (the FAISS billion-scale default): coarse
    cells route the probe, PQ codes make the probed scan 32x smaller —
    at 100 TB a query reads nprobe/C of an already-compressed store."""
    emb = load(spark, sf, "embeddings")
    return S.ann_topk_ivfpq(emb, emb.where(F.col("vec_id") < 3), k=5)


def q_ann_ivfpq_persisted(spark: SparkSession, sf: str) -> DataFrame:
    """The persisted IVF-PQ store end-to-end: quantizer trained
    offline on the full corpus (centroids + subspace codebooks, the
    production flow), index built by writing HALF the vectors and
    APPENDING the other half with the frozen quantizer, then queried —
    results must match the full-corpus SQL twin exactly, so this one
    driver row checks write + append + query with the oracle. Storage
    lives in a fresh temp dir per invocation."""
    import tempfile

    emb = load(spark, sf, "embeddings")
    cents = S.ivf_centroids(emb, 8)
    cents = S.ivf_refine(emb, cents)
    cbs = S.pq_codebooks(emb, 8, 8, 1)
    path = tempfile.mkdtemp(prefix="whdb_ivfpq_")
    S.write_ivfpq_index(
        emb.where("vec_id % 2 = 0"), path, centroids=cents, codebooks=cbs
    )
    S.append_to_ivfpq_index(emb.where("vec_id % 2 = 1"), path)
    return S.query_ivfpq_index(
        spark, path, emb.where(F.col("vec_id") < 3), k=5, nprobe=2
    )


FUNNEL_STEPS = ("signup", "purchase", "refund")
CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def q_embed_rp_project(spark: SparkSession, sf: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64d -> 16d with
    deterministic md5 planes: one array-literal transform per row, no
    shuffle, no UDF — and exactly reproducible in SQL, so a learned-
    reduction-shaped operator carries a full value-hash oracle.
    Output is exploded to one (vec_id, dim, value) row per projected
    component — a strictly stronger oracle than the array column
    (every component is individually hash-checked) and the shape the
    driver's scalar-column comparator can digest."""
    proj = S.rp_project(load(spark, sf, "embeddings"), 16)
    return proj.select(
        "vec_id", F.posexplode("embedding").alias("dim", "value")
    ).select("vec_id", F.col("dim").cast("int").alias("dim"), "value")


def q_ann_rp_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute cosine top-k in the projected space — the JL reduction's
    quality floor, composed from rp_project + cosine_topk."""
    emb = load(spark, sf, "embeddings")
    return S.ann_topk_rp(emb, emb.where(F.col("vec_id") < 3), k=5, out_dims=16)


def q_trade_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Integer fixed-point PageRank (3 rounds) over the symmetrized
    customer-supplier trade graph — the link-graph quality signal a
    corpus pipeline computes before sampling. Exact BIGINT arithmetic
    per round, so a 5-way iterative distributed algorithm still
    carries a full value-hash oracle (the SQL twin unrolls identical
    rounds as CTEs)."""
    o = load(spark, sf, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    ed = o.join(li, o.o_orderkey == li.l_orderkey).select(
        F.col("o_custkey").alias("src"),
        (F.col("l_suppkey") + 1000000).alias("dst"),
    )
    edges = ed.unionByName(
        ed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return GR.pagerank(edges, iters=3)


TRADE_EDGES_SQL = (
    "(WITH ed AS (SELECT o_custkey AS src, l_suppkey + 1000000 AS dst"
    " FROM orders JOIN lineitem ON o_orderkey = l_orderkey)"
    " SELECT src, dst FROM ed UNION ALL SELECT dst, src FROM ed)"
)


def q_activity_gaps(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user silences >= 6h in the event stream ("did this
    integration stop sending?"): one user-keyed LAG window + filter,
    integer epoch-second gap lengths."""
    return AN.activity_gaps(load(spark, sf, "events"), 6 * 3600)


def q_value_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Tukey-fence (IQR) numeric outlier audit over event values: one
    1-row exact-quartile aggregate broadcast onto the scan, then the
    fence filter — one profile + one scan at any size. Rational fence
    factor keeps the double arithmetic engine-identical."""
    return AN.outliers_iqr(load(spark, sf, "events"), "value", "event_id")


EXPECTATION_RULES = [
    ("not_null", "o_custkey"),
    ("unique", "o_orderkey"),
    ("in_set", "o_orderstatus", ("O", "F", "P")),
    ("between", "o_totalprice", 0, 1000000),
    ("non_negative", "o_custkey"),
    ("regex", "o_orderpriority", "[1-5]-[A-Z]+"),
]


def q_orders_expectations(spark: SparkSession, sf: str) -> DataFrame:
    """Declarative data-quality contract over orders (dbt-test/Deequ
    shape): six rules — including one that genuinely FAILS on the
    synthetic data, exercising the violation path — all compiled into
    ONE aggregate pass (one scan regardless of rule count; rule rows
    come from the single aggregate row via explode)."""
    return PR.check_expectations(load(spark, sf, "orders"), EXPECTATION_RULES)


def q_scd2_user_state(spark: SparkSession, sf: str) -> DataFrame:
    """SCD Type-2 history of each user's event_type state: one row per
    run of consecutive identical states, with [valid_from, valid_to)
    interval bounds, 1-based version and is_current — the "what was
    this key's state on date X" table the reference's current-row-only
    upsert cannot answer. Two key-partitioned windows over ONE shuffle
    (exchange reused); event_id breaks exact-ts ties so both engines
    collapse runs identically. Current rows carry NULL valid_to (the
    lookup path treats NULL as the open interval, history.py:315-316);
    the conventional 9999-12-31 high-date sentinel stays an opt-in
    because it overflows pandas' ns-timestamp range downstream."""
    return H.scd2_history(
        load(spark, sf, "events"), "user_id", ("event_type",), "ts",
        "event_id",
    )


def q_scd2_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental SCD2 maintenance: history built from events before
    Jan 15, then TWO change batches (Jan 15-22, Jan 23+) folded in
    with scd2_apply — per-batch work is proportional to the batch and
    touched keys' current rows, never to history. The oracle is the
    FULL-build SQL over all events: a green row proves incremental ==
    rebuild exactly."""
    ev = load(spark, sf, "events")
    splits = ("2024-01-15", "2024-01-23")
    hist = H.scd2_history(
        ev.where(F.col("ts") < splits[0]),
        "user_id", ("event_type",), "ts", "event_id",
    )
    b1 = ev.where((F.col("ts") >= splits[0]) & (F.col("ts") < splits[1]))
    b2 = ev.where(F.col("ts") >= splits[1])
    for b in (b1, b2):
        # materialize history between applies — what a change-feed
        # consumer does anyway (state lives in a table between
        # micro-batches), and it stops the nested-union lineage from
        # quadrupling per batch: 4.2-9.7 s -> 1.9-2.3 s at sf0.1
        hist = H.scd2_apply(
            hist.localCheckpoint(eager=False), b,
            "user_id", ("event_type",), "ts", "event_id",
        )
    return hist


def _event_env_cols(value_cents: bool = False) -> list:
    """The events→envelope projection the ingest composites build per
    arrival window: (opaque_id, body, received_at, _seq) with the JSON
    body carrying (user_id, event_type, ts_us[, value_cents]). A pure
    constant tree (~30 py4j round-trips to build) shared by four
    composite queries × N windows each — memoized (see memo_col)
    (guide §5 driver work)."""

    def build() -> list:
        fields = [
            "user_id",
            "event_type",
            # ts may load as TIMESTAMP_NTZ; session TZ is UTC so the
            # cast is value-identity
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        ]
        if value_cents:
            fields.append(
                F.floor(F.col("value") * 100).cast("long").alias("value_cents")
            )
        return [
            F.col("event_id").cast("string").alias("opaque_id"),
            F.to_json(F.struct(*fields)).alias("body"),
            F.col("ts").alias("received_at"),
            F.col("event_id").alias("_seq"),
        ]

    return memo_col(("event_env_cols", value_cents), build)


def q_scd2_feed_maintained(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 history maintained BY INGESTION: events land in a managed
    table through the real envelope->shape->MERGE path in three
    batches (capture_changes on), and a durable Scd2Maintainer folds
    each committed transaction's post-images from the _changes feed —
    the warehouse pattern where a dimension's version history is a
    change-feed consumer, not a rebuild job. The timestamp rides as
    epoch-micros BIGINT so the JSON envelope round-trip is lossless.
    The oracle recomputes what the feed provably carries: per (user,
    batch) the MERGE's last-wins winner (argmax ts — the intra-batch
    dedupe), then the SCD2 run-collapse over those winners; a green
    row proves envelope ingest + MERGE change capture + feed-driven
    apply compose to exactly the declarative history."""
    import shutil
    import tempfile

    from webhookdb_spark.operators.upsert import upsert_envelopes
    from webhookdb_spark.spec import Col, ReplicatorSpec
    from webhookdb_spark.storage import Warehouse
    from webhookdb_spark.types import ColumnType

    spec = _USER_STATE_SPEC
    ev = load(spark, sf, "events")
    root = tempfile.mkdtemp(prefix="whdb_scd2feed_")
    try:
        table = Warehouse(spark, f"{root}/wh").table("org", "user_state_v1")
        mt = H.Scd2Maintainer(
            spark, f"{root}/scd2", "user_id", ("event_type",), "ts_us"
        )
        splits = ("2024-01-15", "2024-01-23")
        windows = [
            ev.where(F.col("ts") < splits[0]),
            ev.where((F.col("ts") >= splits[0]) & (F.col("ts") < splits[1])),
            ev.where(F.col("ts") >= splits[1]),
        ]
        for w in windows:
            env = w.select(*_event_env_cols())
            # Whole-keyspace batches: every window spans the user_id
            # space, so pass the documented bulk-load routing hint and
            # skip the per-batch bucket-discovery scan (merge_upsert
            # docstring). Feed-driven consumers see the same change
            # set — "keep" rows never enter the feed.
            upsert_envelopes(table, env, spec,
                             buckets=list(range(spec.n_buckets)))
            mt.run(table)
        return mt.history().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _sql_scd2_feed_maintained() -> str:
    winners = """
    SELECT user_id, event_type, ts_us FROM (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us,
             row_number() OVER (
               PARTITION BY user_id, b ORDER BY ts DESC
             ) AS rn
      FROM (
        SELECT user_id, event_type, ts,
               CASE WHEN ts < TIMESTAMP '2024-01-15' THEN 1
                    WHEN ts < TIMESTAMP '2024-01-23' THEN 2
                    ELSE 3 END AS b
        FROM events
      )
    ) WHERE rn = 1
    """
    return H.sql_scd2_history(
        f"({winners})", "user_id", ("event_type",), "ts_us"
    )


def q_scd2_pit_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """Point-in-time lookup against the SCD2 table: for every 17th
    event, the user's state version that was active THREE DAYS BEFORE
    the event — a key-equi join with an interval post-filter (never a
    range/cartesian join); probes predating the user's first version
    drop out."""
    ev = load(spark, sf, "events")
    hist = H.scd2_history(
        ev, "user_id", ("event_type",), "ts", "event_id"
    )
    probes = ev.where(F.col("event_id") % 17 == 0).select(
        "event_id",
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 3 DAYS")).alias("ts"),
    )
    return H.scd2_lookup(hist, probes, "user_id", "ts").select(
        "event_id",
        "user_id",
        F.col("event_type").alias("state_type"),
        "version",
        "valid_from",
    )


SQL_SCD2_PIT = """
    WITH lagged AS (
      SELECT user_id, ts, event_id, event_type,
             lag(event_type) OVER w AS _prev,
             row_number() OVER w AS _rn
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    kept AS (
      SELECT * FROM lagged WHERE _rn = 1 OR event_type IS DISTINCT FROM _prev
    ),
    hist AS (
      SELECT user_id, event_type, ts AS valid_from,
             lead(ts) OVER w2 AS valid_to,
             CAST(row_number() OVER w2 AS INTEGER) AS version
      FROM kept
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    probes AS (
      SELECT event_id, user_id, ts - INTERVAL 3 DAY AS ts
      FROM events WHERE event_id % 17 = 0
    )
    SELECT p.event_id, p.user_id, h.event_type AS state_type,
           h.version, h.valid_from
    FROM probes p JOIN hist h
      ON p.user_id = h.user_id
     AND p.ts >= h.valid_from
     AND (h.valid_to IS NULL OR p.ts < h.valid_to)
"""


def q_gapfill_user_daily(spark: SparkSession, sf: str) -> DataFrame:
    """Dense per-user daily calendar between first and last active
    day: zero-filled counts, exact-decimal day sums, forward-filled
    last observation. Spine is a per-user sequence/explode — sized by
    each user's span, never a global calendar cross join."""
    return AN.gapfill_daily(load(spark, sf, "events"))


def q_rolling_user_weekly(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing 7-day per-user value sum on active days via a
    value-based RANGE frame on the integer day number — the frame
    skips silent days itself, no spine materialized. Decimal-exact
    until the final double cast."""
    return AN.rolling_daily_sum(load(spark, sf, "events"), 7)


def q_jaccard_prefix_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT shingle-Jaccard >= 0.8 similarity join via PPJoin-style
    prefix filtering (global rarest-first token order; integer-exact
    prefix bound and cross-multiplied threshold) over word-3-gram
    shingles — the combinatorial shingle space is what makes prefixes
    discriminative on this corpus's 31-word vocabulary (word-level
    prefixes degenerate to near-all-pairs there: measured 9.7M
    candidates vs ~25 true pairs at sf0.1). The oracle is the
    brute-force all-pairs SQL sharing none of the filter machinery, so
    a green row proves the prefix filter misses no pair."""
    return D.prefix_jaccard_join(
        load(spark, sf, "documents"), "text", 4, 5, ngram=3
    )


def q_media_dhash(spark: SparkSession, sf: str) -> DataFrame:
    """Perceptual image hashing: 63-bit dHash per synthetic BMP on a
    uniform 32x24 canvas — Arrow-batched sampling of the REAL byte
    layout (positions wrap modulo the usable payload, so complete
    pixel arrays sample at true offsets and fixture streams tile).
    The oracle recomputes the full sampling/luminance/bit pipeline
    from the hex-built payload in SQL — a per-image value match over
    the whole kernel. The banded near-dup join
    (image_dhash_pairs) is pigeonhole-complete for hamming <= k and
    proven against brute force in pytest: this corpus has no
    byte-identical texts, so its fixture images have no close pairs
    to emit here."""
    media = M.media_bmp_from_documents(
        load(spark, sf, "documents"), fixed_w=32, fixed_h=24
    )
    return M.image_dhash(media)


def q_media_audio_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Audio-modality dedup primitive: 31-bit energy-envelope
    fingerprint per synthetic WAV (32 equal PCM frames, exact integer
    mean-square energies, delta bits) — same delta-hash family as the
    image dHash, same banded near-dup join downstream. Oracle
    recomputes the whole framing/energy/bit pipeline from the
    hex-built WAV."""
    media = M.media_wav_from_documents(load(spark, sf, "documents"))
    return M.audio_fingerprint(media).where(F.col("dhash").isNotNull())


def q_customer_entity_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution end-to-end: blocked fuzzy linkage pairs
    (edit distance <= 1) -> contraction connected-components ->
    (custkey, entity_id) with singletons as their own entity — the
    cluster table a dedupe/merge job consumes. The oracle re-derives
    components with a recursive min-label CTE over the identical pair
    set. Blocking is cardinality-ADAPTIVE (split_threshold=64): base
    3-char suffix buckets that exceed 64 rows re-key to 6-char
    suffixes, so in-bucket pair growth is bounded by the data instead
    of a hand-tuned block length (the fixed 3-char form measured 22.5M
    candidates at sf1 vs 225k at sf0.1 — quadratic; the fixed 5-char
    form fixed sf1 but would degenerate identically at 100x). The
    COMPLETE alternative (fuzzy_link_deletions) degenerates on this
    synthetic name corpus where every name has ~27 distance-1
    neighbors."""
    cust = load(spark, sf, "customer")
    pairs = J.fuzzy_link(
        cust, cust, "c_custkey", "c_custkey", "c_name", "c_name",
        max_dist=1, block_chars=3, split_threshold=64,
    )
    edges = pairs.where(F.col("left_id") < F.col("right_id")).select(
        F.col("left_id").alias("doc_a"), F.col("right_id").alias("doc_b")
    )
    cc = D.connected_components(edges).select(
        F.col("v").alias("c_custkey"), F.col("label").alias("_ent")
    )
    return (
        cust.select("c_custkey")
        .join(cc, "c_custkey", "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("_ent"), F.col("c_custkey"))
            .cast("long")
            .alias("entity_id"),
        )
    )


def _sql_customer_entity_clusters() -> str:
    pairs = J.sql_fuzzy_link(
        "customer", "customer", "c_custkey", "c_custkey",
        "c_name", "c_name", 1, block_chars=3, split_threshold=64,
    )
    return f"""
    WITH RECURSIVE pairs_ AS ({pairs}),
    edges AS (
      SELECT left_id AS src, right_id AS dst FROM pairs_
      UNION
      SELECT right_id AS src, left_id AS dst FROM pairs_
    ),
    walk(v, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, w.label FROM walk w JOIN edges e ON e.src = w.v
    ),
    cc AS (SELECT v, min(label) AS label FROM walk GROUP BY v)
    SELECT c.c_custkey,
           CAST(COALESCE(cc.label, c.c_custkey) AS BIGINT) AS entity_id
    FROM customer c LEFT JOIN cc ON cc.v = c.c_custkey
    """


def q_golden_records(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution completed end-to-end: the fuzzy-link +
    connected-components cluster table feeds SURVIVORSHIP — one
    golden record per entity under deterministic field rules
    (smallest key canonical, longest-name text, majority nation with
    ties to the smallest, max balance in exact decimal). All stages
    keyed on the entity id, so the merge shares one partitioning."""
    clusters = q_customer_entity_clusters(spark, sf)
    members = load(spark, sf, "customer").join(clusters, "c_custkey")
    return J.golden_records(
        members, entity_col="entity_id", key_col="c_custkey",
        text_col="c_name", cat_col="c_nationkey", num_col="c_acctbal",
    )


def _sql_golden_records() -> str:
    members = f"""
      SELECT c.*, e.entity_id
      FROM customer c JOIN ({_sql_customer_entity_clusters()}) e
        USING (c_custkey)
    """
    return J.sql_golden_records(
        members, entity_col="entity_id", key_col="c_custkey",
        text_col="c_name", cat_col="c_nationkey", num_col="c_acctbal",
    )


def q_pipeline_curate(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end curation pipeline composing the round-7 operators:
    EXACT shingle-Jaccard near-dup removal (prefix-filtered join,
    keep-min per pair — cliques collapse to their smallest id), the
    C4-style quality cascade, per-language weighted sampling without
    replacement (importance = n_chars, 16 per language), and the
    leak-free hash split assignment. Every stage is the already-green
    operator; the oracle chains the four SQL twins as CTEs — one
    composed value-hash over the whole pipeline."""
    docs = load(spark, sf, "documents")
    pairs = D.prefix_jaccard_join(docs, "text", 4, 5, ngram=3)
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    deduped = docs.join(dropped, "doc_id", "anti")
    verdict = C.corpus_filter(deduped)
    kept = deduped.join(
        verdict.where("keep").select("doc_id"), "doc_id", "semi"
    )
    sampled = SA.weighted_sample_k_per_group(
        kept, 16, "n_chars", "lang", "doc_id"
    )
    return SA.corpus_split(sampled).select("doc_id", "lang", "split")


def q_table_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot diff over the managed store's time travel: events land
    via the real envelope->MERGE path in two batches into a table
    retaining version history, then snapshot_diff(txn1, txn2) answers
    "which keys did the second batch add or change" — with
    manifest-level bucket pruning (immutable version dirs) so only the
    buckets the second MERGE rewrote are ever read. The oracle
    re-derives the per-user outcome from raw events: present in both
    windows = changed (the winner's ts always advances), first seen in
    window 2 = added."""
    import shutil
    import tempfile

    from webhookdb_spark.operators.digest import snapshot_diff
    from webhookdb_spark.operators.upsert import upsert_envelopes
    from webhookdb_spark.spec import Col, ReplicatorSpec
    from webhookdb_spark.storage import Warehouse
    from webhookdb_spark.types import ColumnType

    spec = _USER_STATE_SPEC
    ev = load(spark, sf, "events")
    split = "2024-01-15"
    root = tempfile.mkdtemp(prefix="whdb_tdiff_")
    try:
        table = Warehouse(spark, f"{root}/wh").table("org", "user_state_v1")
        table.create(
            spec.schema(), key="user_id", n_buckets=4, keep_versions=2
        )
        txns = []
        for w in (
            ev.where(F.col("ts") < split),
            ev.where(F.col("ts") >= split),
        ):
            env = w.select(*_event_env_cols())
            upsert_envelopes(table, env, spec)
            txns.append(table.manifest.txn)
        return snapshot_diff(table, txns[0], txns[1]).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


SQL_TABLE_DIFF = """
SELECT user_id,
       CASE WHEN min_ts >= TIMESTAMP '2024-01-15' THEN 'added'
            ELSE 'changed' END AS change
FROM (
  SELECT user_id, min(ts) AS min_ts, max(ts) AS max_ts
  FROM events GROUP BY user_id
)
WHERE max_ts >= TIMESTAMP '2024-01-15'
"""


def q_text_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Character-distribution Shannon entropy per document (nats) —
    the cheap gibberish / degenerate-repetition gate of a quality
    cascade: near-zero = one repeated character, ~ln(alphabet) =
    uniform noise. Expression-only with a sorted fold order so the
    double summation value-hashes across engines."""
    return X.char_entropy(load(spark, sf, "documents"))


def q_matview_event_totals(spark: SparkSession, sf: str) -> DataFrame:
    """Incremental materialized aggregate (IVM): per-event-type key
    count and exact BIGINT value sum over a managed table's CURRENT
    rows, maintained purely from the MERGE change feed in three
    batches — per-batch work proportional to the batch via the
    per-key contribution state (retract old, apply new; keys moving
    between event types emit two-sided deltas), never a table rescan.
    The oracle recomputes from scratch: last event per user over all
    events, grouped by its event_type."""
    import shutil
    import tempfile

    from webhookdb_spark.operators.matview import IncrementalAggMaintainer
    from webhookdb_spark.operators.upsert import upsert_envelopes
    from webhookdb_spark.spec import Col, ReplicatorSpec
    from webhookdb_spark.storage import Warehouse
    from webhookdb_spark.types import ColumnType

    spec = _USER_STATE_IVM_SPEC
    ev = load(spark, sf, "events")
    splits = ("2024-01-15", "2024-01-23")
    windows = [
        ev.where(F.col("ts") < splits[0]),
        ev.where((F.col("ts") >= splits[0]) & (F.col("ts") < splits[1])),
        ev.where(F.col("ts") >= splits[1]),
    ]
    root = tempfile.mkdtemp(prefix="whdb_ivm_")
    try:
        table = Warehouse(spark, f"{root}/wh").table("org", "user_state_v1")
        mt = IncrementalAggMaintainer(
            spark, f"{root}/ivm", "user_id", "event_type", "value_cents"
        )
        for w in windows:
            env = w.select(*_event_env_cols(value_cents=True))
            # Whole-keyspace batches (see scd2_feed_maintained): the
            # routing hint skips the per-batch discovery scan; the IVM
            # consumes the identical change feed.
            upsert_envelopes(table, env, spec,
                             buckets=list(range(spec.n_buckets)))
            mt.run(table)
        return mt.aggregate().select(
            F.col("group").alias("event_type"), "n_keys", "total"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


SQL_MATVIEW_TOTALS = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(value_cents) AS BIGINT) AS total
FROM (
  SELECT user_id, event_type,
         CAST(floor(value * 100) AS BIGINT) AS value_cents,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC) AS rn
  FROM events
) WHERE rn = 1
GROUP BY event_type
"""


def q_corpus_cap_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language quality cap (the corpus-mixing quota rule "at most
    12 documents per language, highest quality first"): quality_score
    joined back onto the doc spine, then cap_per_group — a rank-limit
    window whose predicate compiles to WindowGroupLimit, so every task
    prunes to its local top-12 per language BEFORE the one group-keyed
    shuffle."""
    docs = load(spark, sf, "documents")
    scored = X.quality_score(docs).select("doc_id", "quality_score")
    joined = docs.select("doc_id", "lang").join(scored, "doc_id")
    return SA.cap_per_group(joined, "lang", 12, "quality_score").select(
        "doc_id", "lang", "quality_score"
    )


def _sql_pipeline_curate() -> str:
    pairs = D.sql_prefix_jaccard_join("documents", "text", 4, 5, ngram=3)
    filt = C.sql_corpus_filter("dedup")
    samp = SA.sql_weighted_sample_k_per_group(
        "kept", 16, "n_chars", "lang", "doc_id",
        cols="doc_id, lang, n_chars",
    )
    split = SA.sql_corpus_split("sampled", cols="doc_id, lang")
    return f"""
    WITH pairs AS ({pairs}),
    dropped AS (SELECT DISTINCT doc_b AS doc_id FROM pairs),
    dedup AS (
      SELECT * FROM documents
      WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
    ),
    verdict AS ({filt}),
    kept AS (
      SELECT d.* FROM dedup d
      JOIN verdict v USING (doc_id) WHERE v.keep
    ),
    sampled AS ({samp})
    {split}
    """


def q_fk_integrity(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-table referential-integrity audit: orphan counts for the
    three core FK edges (orders->customer, lineitem->part,
    lineitem->supplier) — one anti-join + two 1-row counts per edge,
    parent side shipping only its key column."""
    o = PR.fk_orphans(
        load(spark, sf, "orders"), load(spark, sf, "customer"),
        "o_custkey", "c_custkey",
    )
    lp = PR.fk_orphans(
        load(spark, sf, "lineitem"), load(spark, sf, "part"),
        "l_partkey", "p_partkey",
    )
    ls = PR.fk_orphans(
        load(spark, sf, "lineitem"), load(spark, sf, "supplier"),
        "l_suppkey", "s_suppkey",
    )
    return o.unionByName(lp).unionByName(ls)


def q_search_bm25(spark: SparkSession, sf: str) -> DataFrame:
    """Okapi BM25 ranked retrieval (k1=1.2, b=0.75): log-idf and
    length normalization in doubles from exact integer tf/df/N/|d|,
    per-term scores long-scaled (1e9) so the per-doc sum is
    order-independent and the full ranking hash-matches the twin.
    Complements search_ranked's log-free integer proxy with the
    industry-standard scoring."""
    return C.search_bm25(
        load(spark, sf, "documents"), ("spark", "merge", "window")
    )


def q_media_video_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Video near-duplicate detection: exact Jaccard >= 0.8 over each
    video's distinct frame-checksum set (frames from the REAL RIFF/AVI
    demuxer) — the video member of the dedup family. Candidates come
    from the content-addressed checksum join, never all-pairs."""
    media = M.media_avi_from_documents(load(spark, sf, "documents"))
    return M.frame_set_similarity(M.demux_avi_frames(media), 4, 5)


def q_corpus_overlap_kmv(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-corpus overlap audit from sketches alone: per-language
    distinct-text overlap between the even- and odd-id halves of the
    corpus, estimated from two KMV states (union via sketch merge,
    intersection by inclusion-exclusion) — "how much does crawl B
    repeat crawl A" without ever joining the raw corpora."""
    docs = load(spark, sf, "documents")
    a = SK.kmv_state(docs.where("doc_id % 2 = 0"), "lang", "text")
    b = SK.kmv_state(docs.where("doc_id % 2 = 1"), "lang", "text")
    return SK.kmv_overlap(a, b)


def q_value_quantiles_by_type(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type p50/p90/p99 from the GROUPED log-bucketed
    quantile sketch — per-key latency-style percentiles at 100 TB: one
    (group, bucket) groupBy, cumulative windows partitioned per group,
    sketch-sized state, no sort of the data and no single-partition
    stage anywhere."""
    st = SK.log_histogram_state_by(
        load(spark, sf, "events"), "event_type", "value"
    )
    return SK.log_histogram_quantiles_by(st, [0.5, 0.9, 0.99])


def q_user_key_skew_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Join-key skew pre-flight: the 10 heaviest user_id keys in the
    event stream with exact share-of-table and multiple-of-mean — the
    audit that decides between salting (skew_salted_join) and AQE
    skew-split before a 100 TB join. groupBy + top-k, no global
    sort."""
    return SKW.join_key_skew_audit(load(spark, sf, "events"), "user_id", 10)


def q_price_quantile_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """One-pass mergeable quantile sketch (DDSketch-style log buckets,
    1% relative error): p50/p90/p99 of order value from a
    sketch built as TWO half-states folded with log_histogram_merge —
    exact integer bucket counts make the state and the estimates fully
    hash-matchable, and merged == one-shot by construction. The 100 TB
    quantile path where exact percentile's per-group sort won't fly."""
    orders = load(spark, sf, "orders")
    a = SK.log_histogram_state(
        orders.where("o_orderkey % 2 = 0"), "o_totalprice"
    )
    b = SK.log_histogram_state(
        orders.where("o_orderkey % 2 = 1"), "o_totalprice"
    )
    st = SK.log_histogram_merge(a, b)
    return SK.log_histogram_quantiles(st, [0.5, 0.9, 0.99])


def q_event_type_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Distribution drift between the first and second half of the
    event month: per-event-type proportions, Jensen-Shannon term, and
    absolute shift — "did the mix change between crawls". One
    conditional-count groupBy; js terms long-scaled for order-safe
    downstream sums."""
    return AN.distribution_drift(
        load(spark, sf, "events"), "event_type",
        F.col("ts") < "2024-01-16",
    )


def q_weighted_sample_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language weighted document sampling without replacement
    (importance = n_chars): 8 docs per language via per-group
    Efraimidis-Spirakis rank windows — per-source corpus quotas with
    quality weighting, never a global sort."""
    return SA.weighted_sample_k_per_group(
        load(spark, sf, "documents"), 8, "n_chars", "lang", "doc_id"
    ).select("doc_id", "lang", "n_chars")


def q_order_status_priority_mi(spark: SparkSession, sf: str) -> DataFrame:
    """Categorical dependence audit: mutual information + entropies
    (nats) between order status and priority — one (a,b) groupBy, all
    further work on the vocabulary-sized cell table; per-cell terms
    long-scaled so the distributed sum is integer-exact."""
    return AN.categorical_dependence(
        load(spark, sf, "orders"), "o_orderstatus", "o_orderpriority"
    )


def q_weighted_sample_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic weighted sampling without replacement: the 64
    orders drawn with probability proportional to o_totalprice via
    Efraimidis-Spirakis order keys on the salted md5-uniform — the
    data-mix primitive for importance-weighted corpus subsetting.
    Top-k only (TakeOrderedAndProject), never a global sort."""
    return SA.weighted_sample_k(
        load(spark, sf, "orders"), 64, "o_totalprice", "o_orderkey"
    ).select("o_orderkey", "o_totalprice")


def q_parts_bought_together(spark: SparkSession, sf: str) -> DataFrame:
    """Market-basket affinity: top-20 part pairs co-occurring in
    orders, with integer-exact confidence. The pair stream is a
    basket-keyed self-join (co-partitioned; never all-pairs), counting
    is map-side-combinable, supports broadcast back."""
    return AN.co_occurrence(
        load(spark, sf, "lineitem"), "l_orderkey", "l_partkey",
        k=20, min_support=2,
    )


def q_kmv_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable KMV cardinality: sketch state built from THREE
    separate batches and folded with kmv_merge, then estimated — must
    equal the one-shot sketch exactly (k smallest of a union is the k
    smallest of the parts' k-smallest sets), so the incremental path
    shares the one-shot SQL oracle."""
    docs = load(spark, sf, "documents")
    k = 64
    st = None
    for m in range(3):
        b = SK.kmv_state(docs.where(f"doc_id % 3 = {m}"), "lang", "text", k)
        st = b if st is None else SK.kmv_merge(st, b, k)
    return SK.kmv_estimate_from_state(st, k)


PHRASE = ("key", "agg")


def q_phrase_search(spark: SparkSession, sf: str) -> DataFrame:
    """Positional phrase retrieval: docs containing the exact adjacent
    token sequence, via k-1 doc-keyed adjacency joins over the
    isin-pre-shrunk (doc, token, pos) stream — what conjunctive
    count-matching can't express."""
    return C.phrase_search(load(spark, sf, "documents"), PHRASE)


def q_fuzzy_link_customers(spark: SparkSession, sf: str) -> DataFrame:
    """Blocked fuzzy record linkage (entity resolution): customer-name
    pairs within edit distance 1, candidates from a (suffix, length
    band) blocking join — the distance runs only inside blocks, never
    over the cross product. Blocking is cardinality-ADAPTIVE
    (split_threshold=64): customer names end in digits, so the 3-char
    suffix space saturates at 1,000 buckets and fixed-length blocking
    goes quadratic with corpus size (measured 81x time at 10x data
    before the split; ~6x after — SCALE_r08.md). levenshtein is
    integer-exact in both engines, so the oracle is a full value-hash
    match including the blocking's documented recall contract."""
    cust = load(spark, sf, "customer")
    return J.fuzzy_link(
        cust, cust, "c_custkey", "c_custkey", "c_name", "c_name",
        max_dist=1, block_chars=3, split_threshold=64,
    )


def q_normalize_text(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic text canonicalization (defined accent table +
    ASCII lowercase + punctuation/whitespace collapse) — the pass that
    makes exact dedup catch case/punctuation variants. One projection,
    no UDF, byte-reproducible across engines."""
    return X.normalize_text(load(spark, sf, "documents"))


def q_chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding-window document chunking (32 tokens, overlap 8) — the
    splitter between cleaning and packing in a pretraining/RAG
    pipeline; map-only, no shuffle, integer boundary arithmetic
    identical across engines."""
    return C.chunk_documents(
        load(spark, sf, "documents"), chunk_tokens=32, overlap=8
    )


def q_pareto_lineitems(spark: SparkSession, sf: str) -> DataFrame:
    """2-D Pareto front (skyline) over lineitem maximizing price AND
    quantity — the multi-objective selection primitive. Runs the
    distributed suffix-max decomposition (per-bucket windows + an
    n_buckets-row carry); the oracle runs the O(n^2) NOT-EXISTS
    dominance definition the distributed form exists to avoid."""
    li = load(spark, sf, "lineitem").select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("doc_id"),
        "l_extendedprice", "l_quantity",
    )
    return AN.pareto_front(li, "l_extendedprice", "l_quantity")


PARETO_LI_SQL = (
    "(SELECT l_orderkey * 10 + l_linenumber AS doc_id,"
    " l_extendedprice, l_quantity FROM lineitem)"
)


def q_embed_pca_project(spark: SparkSession, sf: str) -> DataFrame:
    """Learned-rotation counterpart of embed_rp_project: train PCA
    (per-partition Arrow partial sums -> driver eigh, collect is
    metadata-sized), then emit per-vector SQL-CHECKABLE invariants of
    the frozen model — raw projections are eigensolver-dependent (sign
    flips, near-tie order) and not replayable in SQL, but (a) the
    rotation's orthonormality residual in ppm and (b) the quantized
    Pythagoras sum ``‖proj‖² + ‖reconstruction residual‖²`` are: the
    latter must equal ``‖x − μ‖²``, which DuckDB computes from the
    parquet alone. Any bug in centering/rotation/orthonormality breaks
    the value hash; subspace OPTIMALITY stays pinned by
    test_pca_recovers_planted_structure_and_freezes (not
    SQL-expressible)."""
    emb = load(spark, sf, "embeddings")
    model = S.pca_train(emb, k=8)
    return S.pca_invariants(emb, model)


def q_funnel_conversion(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered funnel over the event stream (first-touch semantics,
    30-day horizon): k user-keyed joins sharing one hash partitioning
    — never a per-user event array."""
    return AN.funnel(
        load(spark, sf, "events"), FUNNEL_STEPS, within_seconds=86400 * 30
    )


def q_cohort_retention(spark: SparkSession, sf: str) -> DataFrame:
    """Weekly retention matrix: cohort by first-seen epoch-week
    (integer arithmetic — portable across engines, unlike
    date_trunc('week')), distinct actives per (cohort, offset)."""
    return AN.cohort_retention(load(spark, sf, "events"))


def q_price_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-width histogram of l_extendedprice: a 1-row min/max
    aggregate broadcast onto the scan, then a 20-key groupBy."""
    return AN.column_histogram(load(spark, sf, "lineitem"), "l_extendedprice", 20)


def q_lineitem_correlations(spark: SparkSession, sf: str) -> DataFrame:
    """Pairwise Pearson over lineitem's numerics in ONE aggregate pass
    with exact-decimal moment sums (order-independent, so the
    value-hash oracle holds where double sums would drift)."""
    return AN.numeric_correlations(load(spark, sf, "lineitem"), CORR_COLS)


def q_embed_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dedup. The synthetic embeddings are random
    (no natural cos ≥ 0.95 pairs), so the query corpus plants exact
    duplicates — every 20th vector re-appears under vec_id+1000000 — and
    the operator must recover precisely those pairs via LSH buckets."""
    emb = load(spark, sf, "embeddings")
    planted = emb.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label"
    )
    return S.embedding_near_dup_pairs(emb.unionByName(planted), n_dims=64)


def q_embed_near_dup_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF-celled near-dedup — the density-adaptive counterpart of the
    LSH-bucketed embed_near_dup: candidates are pairs sharing their
    argmax coarse cell (deterministic Lloyd), so exact duplicates are
    recovered with EXACT recall (identical vectors share the cell by
    construction). Same planted corpus: every 20th vector re-appears
    under vec_id+1000000. split_threshold is the cardinality-adaptive
    knob: cells over 64 rows sub-key by an 8-bit sign-LSH signature
    (exact duplicates share every bit, so planted-pair recall
    survives), bounding in-cell candidate growth without retuning the
    cell count per corpus size."""
    emb = load(spark, sf, "embeddings")
    planted = emb.where(F.col("vec_id") % 20 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding", "label"
    )
    return S.embedding_near_dup_ivf(
        emb.unionByName(planted), n_centroids=32, split_threshold=64,
        n_dims=64,
    )


def q_span_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document span novelty over every overlapping 8-token
    window: how much of a doc is verbatim-unique in the corpus
    (self-repeats count as dups, the Lee-et-al posture). The sliding
    audit complement of dedup_segments' aligned rewrite — one shuffle
    keyed by window hash, integer-ppm score."""
    return D.span_novelty(load(spark, sf, "documents"))


def q_source_span_leakage(spark: SparkSession, sf: str) -> DataFrame:
    """Verbatim-leakage matrix between corpus sources: distinct
    8-token windows shared by each source pair — the independence
    audit run before declaring train/eval subsets disjoint. Per-hash
    source sets stay bounded by source cardinality, never corpus
    size."""
    return D.source_span_leakage(load(spark, sf, "documents"))


def q_dsir_importance(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR importance reweighting (Xie et al. 2023): hashed
    unigram+bigram bucket counts score every doc by log p_target -
    log p_raw toward the 'en' slice; bucket-level micro quantization
    makes each doc's score a pure integer sum (order-independent
    across engines). Feeds weighted_sample for the resampling step."""
    return C.dsir_logweights(load(spark, sf, "documents"))


def q_ann_hard_negatives(spark: SparkSession, sf: str) -> DataFrame:
    """Contrastive hard-negative mining: for each of 3 query vectors,
    the 5 nearest corpus embeddings with a DIFFERENT label — exact
    broadcast nested-loop form, the recall oracle for an IVF
    over-fetch variant at scale."""
    emb = load(spark, sf, "embeddings")
    return S.hard_negatives(emb, emb.where(F.col("vec_id") < 3))


def q_doc_feature_matrix(spark: SparkSession, sf: str) -> DataFrame:
    """The classifier-training feature matrix: one wide row per doc
    joining the independent per-doc signals — token/unique counts,
    quality heuristics, character entropy, predicted language, and
    corpus-level span novelty (LEFT join: docs shorter than the
    window carry NULL novelty). Each signal is its own already-green
    operator; the four narrow ones are shuffle-free maps, novelty is
    the one hash-shuffle, and every join co-partitions on doc_id, so
    the matrix costs one shuffle more than its most expensive member.
    Oracle chains the five SQL twins as CTEs."""
    docs = load(spark, sf, "documents")
    tc = TX.token_count(docs).select("doc_id", "n_tokens", "n_unique_tokens")
    q = TX.quality_score(docs).select(
        "doc_id", "mean_word_len", "stopword_ratio", "type_token_ratio",
        "quality_score",
    )
    ent = TX.char_entropy(docs).select("doc_id", "entropy")
    lid = TX.langid(docs).select("doc_id", "lang_pred")
    nov = D.span_novelty(docs).select("doc_id", "novelty_ppm")
    return (
        docs.select("doc_id", "lang", "source")
        .join(tc, "doc_id")
        .join(q, "doc_id")
        .join(ent, "doc_id")
        .join(lid, "doc_id")
        .join(nov, "doc_id", "left")
    )


def _sql_doc_feature_matrix() -> str:
    return f"""
    WITH tc AS ({TX.sql_token_count()}),
    q AS ({TX.sql_quality_score()}),
    ent AS ({TX.sql_char_entropy("documents")}),
    lid AS ({TX.sql_langid("documents")}),
    nov AS ({D.sql_span_novelty()})
    SELECT d.doc_id, d.lang, d.source,
           tc.n_tokens, tc.n_unique_tokens,
           q.mean_word_len, q.stopword_ratio, q.type_token_ratio,
           q.quality_score,
           ent.entropy, lid.lang_pred, nov.novelty_ppm
    FROM documents d
    JOIN tc USING (doc_id)
    JOIN q USING (doc_id)
    JOIN ent USING (doc_id)
    JOIN lid USING (doc_id)
    LEFT JOIN nov USING (doc_id)
    """


def q_span_store_incremental(spark: SparkSession, sf: str) -> DataFrame:
    """The persisted window-hash store end-to-end: write 80% of the
    corpus, APPEND another 10% as its own segment, compact, then score
    the remaining 10% 'incoming batch' incrementally against the
    store. By the grown == one-shot contract the result must equal
    one-shot span_novelty over the WHOLE corpus restricted to the
    batch docs — which is exactly what the oracle computes, so this
    one row checks write + append + compact + probe together."""
    import tempfile

    docs = load(spark, sf, "documents")
    path = tempfile.mkdtemp(prefix="whdb_spans_")
    D.write_span_store(docs.where("doc_id % 10 > 1"), path, k=8)
    D.append_span_store(docs.where("doc_id % 10 = 1"), path)
    D.compact_span_store(spark, path)
    return D.batch_span_novelty(docs.where("doc_id % 10 = 0"), spark, path)


SQL_SPAN_STORE_INC = """
    WITH full_nov AS ({base})
    SELECT * FROM full_nov WHERE doc_id % 10 = 0
"""


def q_mixture_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Temperature-scaled pretraining mixture plan (w_s ∝ n_s^0.7):
    per-source token mass, micro-quantized sampling weight, and the
    expected epoch count to fill a 10M-token budget — epochs over 1e6
    micro flag sources that would repeat."""
    return SA.mixture_plan(load(spark, sf, "documents"))


def q_fuzzy_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """Near-duplicate decontamination ACROSS corpora: training docs
    whose shingle-Jaccard to ANY eval doc (the doc_id % 7 = 0 slice,
    the same fixture convention as the exact n-gram pass) is ≥ 0.5 —
    the fuzzy tier that catches paraphrase-level benchmark leakage
    exact n-gram matching misses. Eval side is broadcast at both the
    LSH band join and the verify join, so the train corpus is never
    shuffled on band keys."""
    docs = load(spark, sf, "documents")
    return D.fuzzy_decontaminate(
        docs.where("doc_id % 7 != 0"), docs.where("doc_id % 7 = 0")
    )


def q_embed_decontaminate(spark: SparkSession, sf: str) -> DataFrame:
    """EMBEDDING-space decontamination — the third leakage tier after
    exact n-gram (source_span_leakage) and shingle-Jaccard
    (fuzzy_decontaminate): train vectors whose cosine to any eval
    vector (the vec_id % 7 = 0 slice, same fixture convention) is
    >= 0.9, each with its best-matching eval vector. Planted leakage:
    every third eval vector re-enters the train side under
    vec_id + 10^7 SCALED BY 2 — cosine-invariant but not
    byte-identical, so equality/hash dedup cannot find it and the
    operator must. Eval sides are benchmarks (metadata-sized by
    construction): broadcast map-side nested loop fused into the train
    scan, zero shuffles before the thresholded match stream."""
    train, ev = _embed_decon_sides(spark, sf)
    return S.embed_decontaminate(train, ev, threshold=0.9)


SQL_EMBED_DECON_TRAIN = """
    SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding
    FROM embeddings WHERE vec_id % 7 != 0
    UNION ALL
    SELECT vec_id + 10000000,
           list_transform(embedding, x -> x::DOUBLE * 2)
    FROM embeddings WHERE vec_id % 7 = 0 AND vec_id % 3 = 0
"""
SQL_EMBED_DECON_EVAL = (
    "SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 = 0"
)


def _embed_decon_sides(spark: SparkSession, sf: str):
    """The planted-leakage train/eval fixture shared by the brute and
    IVF decontamination queries (see q_embed_decontaminate)."""
    emb = load(spark, sf, "embeddings")
    ev = emb.where("vec_id % 7 = 0").select("vec_id", "embedding")
    as_double = F.transform("embedding", lambda x: x.cast("double"))
    planted = ev.where("vec_id % 3 = 0").select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 2.0
                    ).alias("embedding"),
    )
    train = (
        emb.where("vec_id % 7 != 0")
        .select("vec_id", as_double.alias("embedding"))
        .unionByName(planted)
    )
    return train, ev


def q_embed_decontaminate_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """The corpus-scale decontamination path: same planted-leakage
    fixture and output contract as embed_decontaminate, but candidates
    come from IVF cells (train assigned by one narrow literal-centroid
    map, eval probing its nprobe nearest cells) instead of the brute
    train×eval nested loop — per train row the work is
    |eval|·nprobe/C cosines, not |eval|, which is what makes
    decontaminating against a corpus-sized eval side executable at
    100 TB. Every planted (scaled-copy) leak is recovered by
    construction: a scaled copy is cosine-identical to its eval
    source, so both share the argmax cell."""
    train, ev = _embed_decon_sides(spark, sf)
    # broadcast_probes: this fixture's eval side is benchmark-sized by
    # construction, so pin the small side instead of letting AQE
    # broadcast the (conceptually 100 TB) train side at toy scale
    return S.embed_decontaminate_ivf(
        train, ev, threshold=0.9, n_centroids=8, nprobe=2,
        broadcast_probes=True)


def q_cluster_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-free train/val/test split: near-dup CLUSTERS — not
    documents — are hashed into splits, so no near-duplicate pair can
    straddle the eval boundary (the doc-level hash split scatters a
    dup pair across train/test with probability 2p(1-p)). Split
    assignment adds zero shuffles on top of the clustering."""
    return D.cluster_safe_split(load(spark, sf, "documents"))


_QF_Z = (
    "-4.0 + 1.2 * quality_score + 2.0 * type_token_ratio"
    " - 1.5 * stopword_ratio + 0.6 * entropy"
    " + 0.25 * ln(1.0 + n_tokens)"
    " + coalesce(novelty_ppm, 1000000) / 1000000.0"
    " + 0.5 * (CASE WHEN lang_pred = lang THEN 1.0 ELSE 0.0 END)"
)


def q_quality_filter(spark: SparkSession, sf: str) -> DataFrame:
    """The classifier-driven quality gate applied at scale: a fixed
    linear model (fastText-style quality filter posture — published
    weights frozen at training time, applied as pure arithmetic over
    the doc feature matrix) produces a logistic keep-score per doc and
    the keep decision at 0.5. Runtime cost is the feature matrix plus
    a shuffle-free map; the score is rounded to 4 decimals so both
    engines agree at driver precision."""
    feats = q_doc_feature_matrix(spark, sf)
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.expr(_QF_Z))), 4)
    return feats.select(
        "doc_id", "source",
        score.alias("keep_score"),
        (score >= 0.5).alias("keep"),
    )


def _sql_quality_filter() -> str:
    return f"""
    WITH feats AS ({_sql_doc_feature_matrix()})
    SELECT doc_id, source,
           round(1.0 / (1.0 + exp(-({_QF_Z}))), 4) AS keep_score,
           round(1.0 / (1.0 + exp(-({_QF_Z}))), 4) >= 0.5 AS keep
    FROM feats
    """


def q_dsir_resample(spark: SparkSession, sf: str) -> DataFrame:
    """DSIR end-to-end: importance weights from hashed-gram bucket
    counts, then the RESAMPLING step — 100 docs drawn without
    replacement with probability ∝ exp(logw) via deterministic
    Gumbel-key order (ln(-ln(u)) - logw, u from the salted md5 of the
    id; the overflow-free form of the Efraimidis-Spirakis key). The
    selection is a top-k (TakeOrderedAndProject), never a global
    sort."""
    w = C.dsir_logweights(load(spark, sf, "documents"))
    u = (SA._bucket28(F.col("doc_id"), "dsir:") + F.lit(0.5)) / F.lit(
        float(1 << 28)
    )
    key = F.log(-F.log(u)) - F.col("logw_micro") / F.lit(1000000.0)
    return (
        w.withColumn("_k", key)
        .orderBy(F.asc("_k"), F.col("doc_id"))
        .limit(100)
        .select("doc_id", "lang", "logw_micro")
    )


def _sql_dsir_resample() -> str:
    b = SA._sql_bucket28("doc_id", "dsir:")
    return f"""
    WITH w AS ({C.sql_dsir_logweights()})
    SELECT doc_id, lang, logw_micro FROM (
      SELECT *, ln(-ln(({b} + 0.5) / 268435456.0)) - logw_micro / 1000000.0 AS _k
      FROM w ORDER BY _k ASC, doc_id LIMIT 100
    )
    """


_MARKUP_WRAP_SPARK = (
    "concat('<html><head><style>body {margin:0}</style>"
    "<script>var x = \"<p>\";</script></head><body><h1>', source, "
    "'</h1><p>', text, '</p><!-- id ', cast(doc_id as string), "
    "' --></body></html>')"
)
_MARKUP_WRAP_SQL = (
    "'<html><head><style>body {margin:0}</style>"
    "<script>var x = \"<p>\";</script></head><body><h1>' || source || "
    "'</h1><p>' || text || '</p><!-- id ' || CAST(doc_id AS VARCHAR) || "
    "' --></body></html>'"
)


def q_markup_strip(spark: SparkSession, sf: str) -> DataFrame:
    """The web-corpus HTML extraction stage: each doc is wrapped in
    deterministic markup (head/style, a script whose STRING BODY
    contains a tag, heading, comment) and strip_markup must recover
    'source text' — script/style/comment bodies dropped, block tags
    to spaces, entities decoded, whitespace collapsed. A fixed regex
    pipeline (narrow, shuffle-free, no UDF), not a DOM parse: the
    rule list is the cross-engine contract and survives the malformed
    HTML a crawl actually contains."""
    docs = load(spark, sf, "documents").selectExpr(
        "doc_id", f"{_MARKUP_WRAP_SPARK} AS text"
    )
    return TX.strip_markup(docs)


def q_dup_rate_by_source(spark: SparkSession, sf: str) -> DataFrame:
    """Duplication-rate audit per corpus source: a doc is a redundant
    copy when an earlier doc_id anywhere in the corpus carries the
    same normalized fingerprint. Returns per-source doc counts,
    redundant-copy counts, and the rate in ppm (integer — no float
    seam). One shuffle on the fingerprint, one on source."""
    docs = load(spark, sf, "documents")
    norm = TX.ascii_lower(F.regexp_replace(F.trim(F.col("text")), TX.WS, " "))
    w = Window.partitionBy(F.md5(norm)).orderBy("doc_id")
    per = docs.select(
        "source", (F.row_number().over(w) > 1).cast("int").alias("_red")
    )
    n = F.count(F.lit(1)).cast("long")
    red = F.sum("_red").cast("long")
    return per.groupBy("source").agg(
        n.alias("n_docs"),
        red.alias("n_redundant"),
        F.expr("cast(sum(_red) * 1000000 as bigint) div count(1)")
        .cast("long").alias("dup_ppm"),
    )


SQL_DUP_RATE_BY_SOURCE = """
WITH per AS (
  SELECT source,
         CAST(row_number() OVER (
           PARTITION BY md5(translate(regexp_replace(trim(text, ' '), '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'))
           ORDER BY doc_id) > 1 AS INTEGER) AS _red
  FROM documents
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(_red) AS BIGINT) AS n_redundant,
       CAST(sum(_red) * 1000000 // count(*) AS BIGINT) AS dup_ppm
FROM per GROUP BY source
"""


def q_contamination_report(spark: SparkSession, sf: str) -> DataFrame:
    """The audit table a release manager reads before shipping a
    corpus: per source, training docs flagged by the EXACT n-gram
    pass and by the FUZZY MinHash pass against the eval slice
    (doc_id % 7 = 0) — both tiers in one report, so exact-only vs
    paraphrase-level leakage is visible per source."""
    docs = load(spark, sf, "documents")
    train = docs.where("doc_id % 7 != 0")
    ev = docs.where("doc_id % 7 = 0")
    exact = D.decontaminate(train, ev).select(
        "doc_id", F.col("contaminated").cast("int").alias("_ex")
    )
    fuzzy = D.fuzzy_decontaminate(train, ev).select(
        "doc_id", F.col("contaminated").cast("int").alias("_fz")
    )
    return (
        train.select("doc_id", "source")
        .join(exact, "doc_id")
        .join(fuzzy, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train_docs"),
            F.sum("_ex").cast("long").alias("n_exact_contaminated"),
            F.sum("_fz").cast("long").alias("n_fuzzy_contaminated"),
        )
    )


def _sql_contamination_report() -> str:
    return f"""
    WITH exact_ AS ({D.sql_decontaminate()}),
    fuzzy_ AS ({D.sql_fuzzy_decontaminate()})
    SELECT d.source,
           count(*) AS n_train_docs,
           CAST(sum(CASE WHEN e.contaminated THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact_contaminated,
           CAST(sum(CASE WHEN f.contaminated THEN 1 ELSE 0 END) AS BIGINT)
             AS n_fuzzy_contaminated
    FROM documents d
    JOIN exact_ e ON e.doc_id = d.doc_id
    JOIN fuzzy_ f ON f.doc_id = d.doc_id
    WHERE d.doc_id % 7 != 0
    GROUP BY d.source
    """


def q_bpe_train_merges(spark: SparkSession, sf: str) -> DataFrame:
    """Distributed BPE tokenizer TRAINING (the learning side of the
    merge table token_count_bpe2 applies): one corpus shuffle
    compresses the corpus to a (word, count) vocabulary, then each
    merge round — pair explode, weighted count, global argmax, vocab
    rewrite — is bounded by vocabulary size, not corpus size. The
    first 6 learned merges with their corpus-weighted pair counts;
    semantics pinned to tools/train_bpe.py (pytest proves the
    distributed trainer reproduces the committed BPE_MERGES table)."""
    return TX.bpe_train(load(spark, sf, "documents"), n_merges=6)


def _jsonl_lines_spark(docs: DataFrame) -> DataFrame:
    """(src_id, line): documents serialized to JSONL with a
    deterministic doc_id%17 slice corrupted — truncated JSON, missing
    text, missing lang, explicit-null lang, non-numeric n_chars — the
    shared fixture feed for the raw-ingestion audits."""
    q = F.lit('"')
    esc = F.replace(
        F.replace(F.col("text"), F.lit("\\"), F.lit("\\\\")), q, F.lit('\\"')
    )
    did, nch = F.col("doc_id").cast("string"), F.col("n_chars").cast("string")
    head = F.concat(F.lit('{"doc_id": '), did)
    txt = F.concat(F.lit(', "text": "'), esc, q)
    lng = F.concat(F.lit(', "lang": "'), F.col("lang"), q)
    tail = F.concat(F.lit(', "n_chars": '), nch, F.lit("}"))
    full = F.concat(head, txt, lng, tail)
    m = F.col("doc_id") % 17
    line = (
        F.when(m == 3, full.substr(F.lit(1), F.length(full) - 1))
        .when(m == 5, F.concat(head, txt, tail))
        .when(m == 7, F.concat(head, lng, tail))
        .when(m == 9, F.concat(head, txt, F.lit(', "lang": null'), tail))
        .when(m == 11, F.concat(head, txt, lng, F.lit(', "n_chars": "xx"}')))
        .otherwise(full)
    )
    return docs.select(F.col("doc_id").alias("src_id"), line.alias("line"))


def q_jsonl_quarantine(spark: SparkSession, sf: str) -> DataFrame:
    """Bulk JSONL ingestion with quarantine routing (the corpus-scale
    envelope validator): each doc is serialized to a JSONL line and a
    deterministic doc_id%17 slice is corrupted — truncated JSON,
    missing text, missing lang, explicit-null lang, non-numeric
    n_chars — then parse_jsonl_with_quarantine must classify every
    line (valid vs quarantined + machine-readable first-failure
    reason) and surface try_cast'ed typed values, in ONE narrow
    shuffle-free map. The reject stream gets a reason a replayer can
    route on, instead of FAILFAST (job dies) or naive PERMISSIVE
    (silent nulls)."""
    docs = load(spark, sf, "documents")
    out = JS.parse_jsonl_with_quarantine(
        _jsonl_lines_spark(docs),
        fields=[("doc_id", "bigint"), ("text", "string"),
                ("lang", "string"), ("n_chars", "bigint")],
        required=("text", "lang"),
    )
    # reason is NULL on valid rows by operator contract; the driver's
    # pandas canonicalizer cannot sort mixed None/str, so the QUERY
    # ships a sentinel (the r7 lesson: output shape is the contract)
    return out.select(
        "src_id",
        F.coalesce(F.col("lang_val"), F.lit("")).alias("lang_val"),
        F.coalesce(F.col("n_chars_val"), F.lit(-1).cast("bigint")).alias("n_chars_val"),
        "status",
        F.coalesce(F.col("reason"), F.lit("ok")).alias("reason"),
    )


_SQL_JSONL_LINES = """
    SELECT src_id,
      CASE
        WHEN doc_id % 17 = 3 THEN substr(l_full, 1, length(l_full) - 1)
        WHEN doc_id % 17 = 5 THEN h || t || tail
        WHEN doc_id % 17 = 7 THEN h || lg || tail
        WHEN doc_id % 17 = 9 THEN h || t || ', "lang": null' || tail
        WHEN doc_id % 17 = 11 THEN h || t || lg || ', "n_chars": "xx"}'
        ELSE l_full END AS line
    FROM (
      SELECT doc_id AS src_id, doc_id,
             h, t, lg, tail, h || t || lg || tail AS l_full
      FROM (
        SELECT doc_id, lang, n_chars,
               '{"doc_id": ' || doc_id AS h,
               ', "text": "' || replace(replace(text, '\\', '\\\\'), '"', '\\"') || '"' AS t,
               ', "lang": "' || lang || '"' AS lg,
               ', "n_chars": ' || n_chars || '}' AS tail
        FROM documents))
    """


def _sql_jsonl_quarantine() -> str:
    inner = JS.sql_parse_jsonl_with_quarantine(
        _SQL_JSONL_LINES,
        fields=[("doc_id", "bigint"), ("text", "string"),
                ("lang", "string"), ("n_chars", "bigint")],
        required=("text", "lang"),
        keep=("src_id",),
    )
    return (
        "SELECT src_id, COALESCE(lang_val, '') AS lang_val,"
        " CAST(COALESCE(n_chars_val, -1) AS BIGINT) AS n_chars_val, status,"
        " COALESCE(reason, 'ok') AS reason"
        f" FROM ({inner})"
    )


def q_json_key_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Schema-drift audit over the raw JSONL feed: per top-level key,
    the observed normalized value-class distribution. On the
    corrupted fixture feed this surfaces exactly what a drifting
    producer looks like — n_chars counts as 'int' on clean lines and
    'string' on the bad-type slice, lang shows a 'null' class, and
    the missing-field slices show up as lower key totals. One narrow
    parse+explode, one schema-sized groupBy."""
    docs = load(spark, sf, "documents")
    return JS.json_key_profile(_jsonl_lines_spark(docs))


def q_k_anonymity(spark: SparkSession, sf: str) -> DataFrame:
    """k-anonymity + l-diversity audit over customers: equivalence
    classes keyed by (market segment, $1000 account-balance band),
    nation as the sensitive attribute — class sizes, distinct-nation
    counts, and k<5 / l<3 violation flags, from ONE QI-keyed
    aggregate. The release-gate audit for structured records."""
    cust = load(spark, sf, "customer")
    band = F.floor(F.col("c_acctbal") / F.lit(1000)).cast("int")
    return PR.anonymity_audit(
        cust.select("c_mktsegment", band.alias("bal_band"), "c_nationkey"),
        qi_cols=["c_mktsegment", "bal_band"],
        sensitive_col="c_nationkey",
        k=5, l=3,
    )


def q_token_budget_select(spark: SparkSession, sf: str) -> DataFrame:
    """Greedy best-first corpus fill under a per-source TOKEN budget
    (the selection step of a pretraining recipe — "take the best 800
    tokens per source", ~60% of each fixture source): exact-decimal
    quality ranking, doc_id
    tie-break, rows-frame running token sum, keep while within budget.
    Token-budget counterpart of corpus_cap_quality's count cap; the
    one wide shuffle is the per-source sort (a running sum cannot
    WindowGroupLimit-prune)."""
    return SA.token_budget_select(
        load(spark, sf, "documents"), budget_tokens=800
    )


def q_neyman_allocation(spark: SparkSession, sf: str) -> DataFrame:
    """Variance-optimal (Neyman) sample allocation over event types:
    per stratum, exact-decimal moment sums -> population stddev ->
    integer weight N_h*S_h*1e6 -> integer-division allocation of a
    1000-draw budget, capped at stratum size. The principled form of
    'sample noisy sources more'; one stratum-keyed aggregate + a
    1-row broadcast total."""
    return SA.neyman_allocation(
        load(spark, sf, "events"), "event_type", "value", total_n=1000
    )


def q_neyman_sample(spark: SparkSession, sf: str) -> DataFrame:
    """The Neyman draw itself: deterministic md5-order pick of each
    stratum's allocation (WindowGroupLimit keeps per-task state at
    the allocation bound, never the stratum)."""
    return SA.neyman_sample(
        load(spark, sf, "events"), "event_type", "value",
        id_col="event_id", total_n=1000,
    )


def q_attribution_multi_touch(spark: SparkSession, sf: str) -> DataFrame:
    """Position-weighted (U-shaped) multi-touch attribution: each
    purchase splits exactly 1e6 credit-ppm over the user's lookback
    touches — 40/40 first/last, middle 20% integer-divided with the
    remainder pinned to the last interior touch so totals are exact;
    attributed revenue stays in decimal micro-units. One user-keyed
    join + one per-conversion window + one touch-type aggregate."""
    return AN.multi_touch_attribution(load(spark, sf, "events"))


def q_corpus_release_report(spark: SparkSession, sf: str) -> DataFrame:
    """THE release gate: one per-source table composing the corpus
    audits a release manager signs off on — doc counts, redundant-copy
    ppm (exact fingerprint dedup), exact + fuzzy eval-contamination
    counts, the exact median token count, and the median quality score
    — every column an already-oracle-green operator, joined on source.
    The composition IS the product: a user of this engine runs one
    query, not five."""
    docs = load(spark, sf, "documents")
    dup = q_dup_rate_by_source(spark, sf).select(
        "source", "n_docs", "dup_ppm")
    cont = q_contamination_report(spark, sf).select(
        "source", "n_exact_contaminated", "n_fuzzy_contaminated")
    q = TX.quality_score(docs).select("doc_id", "quality_score", "n_tokens")
    med = (
        docs.select("doc_id", "source").join(q, "doc_id")
        .groupBy("source")
        .agg(
            F.percentile(F.col("n_tokens"), F.lit(0.5)).alias("_mt"),
            # quality_score is exact at 6dp, so its micro-scaling is an
            # exact integer and the even-count median interpolation is
            # an exact X.5 midpoint — round half-up to BIGINT is then
            # engine-deterministic. Rounding the raw double median at 6
            # decimals is NOT: the interpolated value can land on a
            # 1e-6 tie where the engines' double-rounds differ in the
            # last digit (seen at sf0.1, src1: .499541 vs .499542).
            F.percentile(F.col("quality_score") * F.lit(1e6), F.lit(0.5))
            .alias("_mq"),
        )
        .select(
            "source",
            F.round("_mt", 6).alias("median_tokens"),
            F.round("_mq", 0).cast("long").alias("median_quality_micro"),
        )
    )
    return (
        dup.join(cont, "source").join(med, "source")
        .select("source", "n_docs", "dup_ppm", "n_exact_contaminated",
                "n_fuzzy_contaminated", "median_tokens",
                "median_quality_micro")
    )


def _sql_corpus_release_report() -> str:
    q = X.sql_quality_score()
    return f"""
    WITH dup_ AS ({SQL_DUP_RATE_BY_SOURCE}),
    cont_ AS ({_sql_contamination_report()}),
    q_ AS (SELECT doc_id, quality_score, n_tokens FROM ({q})),
    med_ AS (
      SELECT d.source,
             round(quantile_cont(q_.n_tokens, 0.5), 6) AS median_tokens,
             CAST(round(quantile_cont(q_.quality_score * 1e6, 0.5))
               AS BIGINT) AS median_quality_micro
      FROM documents d JOIN q_ ON q_.doc_id = d.doc_id
      GROUP BY d.source
    )
    SELECT dup_.source, dup_.n_docs, dup_.dup_ppm,
           cont_.n_exact_contaminated, cont_.n_fuzzy_contaminated,
           med_.median_tokens, med_.median_quality_micro
    FROM dup_ JOIN cont_ USING (source) JOIN med_ USING (source)
    """


def q_filter_config_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Curation config change-impact audit: run the filter cascade
    under the CURRENT config and a PROPOSED tightening (min 12->16
    tokens, max 90->80, one more blocked source), then report per
    source how many docs each config keeps, how many flip
    kept->dropped and dropped->kept, and the proposed config's
    first-failing reason for the newly dropped — the table a data
    lead reads before rolling a threshold change. Two narrow filter
    passes joined on doc_id, one source rollup."""
    docs = load(spark, sf, "documents")
    cur = C.corpus_filter(docs).select(
        "doc_id", F.col("keep").alias("_ka"))
    prop = C.corpus_filter(
        docs, blocked_sources=("src13", "src17", "src5"),
        min_tokens=16, max_tokens=80,
    ).select("doc_id", F.col("keep").alias("_kb"),
             F.col("reason").alias("_rb"))
    j = (
        docs.select("doc_id", "source")
        .join(cur, "doc_id").join(prop, "doc_id")
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("_ka").cast("long")).cast("long").alias("kept_current"),
        F.sum(F.col("_kb").cast("long")).cast("long").alias("kept_proposed"),
        F.sum((F.col("_ka") & ~F.col("_kb")).cast("long")).cast("long")
        .alias("newly_dropped"),
        F.sum((~F.col("_ka") & F.col("_kb")).cast("long")).cast("long")
        .alias("newly_kept"),
        F.max(F.when(F.col("_ka") & ~F.col("_kb"), F.col("_rb")))
        .alias("top_new_drop_reason"),
    )


def _sql_filter_config_diff() -> str:
    cur = C.sql_corpus_filter("documents")
    prop = C.sql_corpus_filter(
        "documents", blocked_sources=("src13", "src17", "src5"),
        min_tokens=16, max_tokens=80,
    )
    return f"""
    WITH cur AS (SELECT doc_id, keep AS _ka FROM ({cur})),
    prop AS (SELECT doc_id, keep AS _kb, reason AS _rb FROM ({prop}))
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN _ka THEN 1 ELSE 0 END) AS BIGINT)
             AS kept_current,
           CAST(SUM(CASE WHEN _kb THEN 1 ELSE 0 END) AS BIGINT)
             AS kept_proposed,
           CAST(SUM(CASE WHEN _ka AND NOT _kb THEN 1 ELSE 0 END) AS BIGINT)
             AS newly_dropped,
           CAST(SUM(CASE WHEN _kb AND NOT _ka THEN 1 ELSE 0 END) AS BIGINT)
             AS newly_kept,
           MAX(CASE WHEN _ka AND NOT _kb THEN _rb END)
             AS top_new_drop_reason
    FROM documents d
    JOIN cur USING (doc_id) JOIN prop USING (doc_id)
    GROUP BY d.source
    """


def q_activity_heatmap(spark: SparkSession, sf: str) -> DataFrame:
    """Ops heatmap: events per (ISO day-of-week, hour-of-day) cell
    with exact-decimal value sums — the table behind every on-call
    dashboard's weekly rhythm plot. dayofweek is computed as integer
    epoch-day arithmetic ((day + 3) % 7: 1970-01-01 was a Thursday,
    so day 0 maps to 3 under Monday = 0) so both engines agree without locale-dependent DOW
    functions. One narrow aggregate."""
    ev = load(spark, sf, "events")
    day = F.datediff(
        F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")
    )
    return ev.groupBy(
        ((day + 3) % 7).cast("int").alias("dow_monday0"),
        F.hour(F.col("ts").cast("timestamp")).cast("int").alias("hour"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.col("value").cast("string").try_cast("decimal(18,6)"))
        .cast("double").alias("value_sum"),
    )


SQL_ACTIVITY_HEATMAP = """
SELECT CAST((datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) + 3) % 7
            AS INTEGER) AS dow_monday0,
       CAST(extract(hour FROM ts) AS INTEGER) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(TRY_CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6)))
            AS DOUBLE) AS value_sum
FROM events GROUP BY 1, 2
"""


def q_length_quality_grid(spark: SparkSession, sf: str) -> DataFrame:
    """Dependence-structure audit: the joint decile grid of document
    length vs quality score — are long docs the good docs? Both
    decile assignments come from the DISTRIBUTED global rank + the
    exact ANSI NTILE remainder rule (never a single-partition
    window), so the grid is value-hash exact. Output one row per
    occupied (len_decile, quality_decile) cell."""
    docs = load(spark, sf, "documents")
    # Four consumers (the count, both global ranks, the join spine)
    # otherwise re-execute the quality_score text heuristics — the
    # query's CPU cost. Pin the narrow 3-col result once.
    q = (
        TX.quality_score(docs)
        .select("doc_id", "n_tokens", "quality_score")
        .localCheckpoint(eager=True)
    )
    n = q.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    rl = SA.global_rank(q, ["n_tokens", "doc_id"], rank_col="_rl").select(
        "doc_id", "_rl"
    )
    rq = SA.global_rank(q, ["quality_score", "doc_id"], rank_col="_rq").select(
        "doc_id", "_rq"
    )
    j = q.select("doc_id").join(rl, "doc_id").join(rq, "doc_id").crossJoin(
        F.broadcast(n)
    )
    return (
        j.select(
            SA.ntile_assign(F.col("_rl"), F.col("_n"), 10).alias("len_decile"),
            SA.ntile_assign(F.col("_rq"), F.col("_n"), 10)
            .alias("quality_decile"),
        )
        .groupBy("len_decile", "quality_decile")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def _sql_length_quality_grid() -> str:
    q = X.sql_quality_score()
    return f"""
    WITH q AS (SELECT doc_id, n_tokens, quality_score FROM ({q})),
    r AS (
      SELECT doc_id,
             ntile(10) OVER (ORDER BY n_tokens, doc_id) AS len_decile,
             ntile(10) OVER (ORDER BY quality_score, doc_id)
               AS quality_decile
      FROM q
    )
    SELECT CAST(len_decile AS INTEGER) AS len_decile,
           CAST(quality_decile AS INTEGER) AS quality_decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM r GROUP BY 1, 2
    """


def q_brand_velocity_shift(spark: SparkSession, sf: str) -> DataFrame:
    """Merchandising velocity shift: per part brand, shipped quantity
    in the corpus's final 180 days vs the prior 180 (the anchor is
    the observed max ship date, so the window is data-relative and
    reproducible), with the shift in ppm of the prior period —
    integer-exact via decimal quantity sums. One brand-keyed
    aggregate over a date-filtered scan + a broadcast anchor."""
    li = load(spark, sf, "lineitem")
    part = load(spark, sf, "part")
    dec = "decimal(18,6)"
    anchor = li.agg(F.max(F.col("l_shipdate").cast("date")).alias("_mx"))
    j = (
        li.select("l_partkey", "l_shipdate",
                  F.col("l_quantity").cast("string").try_cast(dec).alias("_q"))
        .crossJoin(F.broadcast(anchor))
        .withColumn(
            "_age",
            F.datediff(F.col("_mx"), F.col("l_shipdate").cast("date")),
        )
        .where(F.col("_age") < 360)
        .join(F.broadcast(part.select("p_partkey", "p_brand")),
              F.col("l_partkey") == F.col("p_partkey"))
    )
    agg = j.groupBy("p_brand").agg(
        F.sum(F.when(F.col("_age") < 180, F.col("_q"))).alias("_recent"),
        F.sum(F.when(F.col("_age") >= 180, F.col("_q"))).alias("_prior"),
    )
    return agg.select(
        "p_brand",
        F.coalesce(F.col("_recent").cast("double"), F.lit(0.0))
        .alias("qty_recent_180d"),
        F.coalesce(F.col("_prior").cast("double"), F.lit(0.0))
        .alias("qty_prior_180d"),
        F.when(
            F.col("_prior").isNotNull() & (F.col("_prior") != 0),
            # integral intermediates before the truncating division
            # (fractional-decimal div rounds differently per engine)
            F.expr(
                "cast(cast((coalesce(_recent, 0) - _prior) * 1000000"
                " as decimal(38,0)) * 1000000"
                " div cast(_prior * 1000000 as decimal(38,0)) as bigint)"
            ),
        ).alias("shift_ppm"),
    )


SQL_BRAND_VELOCITY_SHIFT = """
WITH anchor AS (
  SELECT MAX(CAST(l_shipdate AS DATE)) AS _mx FROM lineitem
), j AS (
  SELECT p.p_brand,
         datediff('day', CAST(l.l_shipdate AS DATE),
                  (SELECT _mx FROM anchor)) AS _age,
         TRY_CAST(CAST(l.l_quantity AS VARCHAR) AS DECIMAL(18,6)) AS _q
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE datediff('day', CAST(l.l_shipdate AS DATE),
                 (SELECT _mx FROM anchor)) < 360
), agg AS (
  SELECT p_brand,
         SUM(CASE WHEN _age < 180 THEN _q END) AS _recent,
         SUM(CASE WHEN _age >= 180 THEN _q END) AS _prior
  FROM j GROUP BY p_brand
)
SELECT p_brand,
       COALESCE(CAST(_recent AS DOUBLE), 0.0) AS qty_recent_180d,
       COALESCE(CAST(_prior AS DOUBLE), 0.0) AS qty_prior_180d,
       CASE WHEN _prior IS NOT NULL AND _prior != 0 THEN
         CAST(CAST((COALESCE(_recent, 0) - _prior) * 1000000 AS HUGEINT)
              * 1000000 // CAST(_prior * 1000000 AS HUGEINT) AS BIGINT)
       END AS shift_ppm
FROM agg
"""


def q_supplier_return_rates(spark: SparkSession, sf: str) -> DataFrame:
    """Supplier quality signal: per supplier, shipped lineitems,
    returned lineitems (returnflag R), and the return rate in ppm —
    limited to suppliers with >= 20 lineitems so the rate is
    meaningful, ranked worst-first with a deterministic tie-break.
    One supplier-keyed aggregate."""
    li = load(spark, sf, "lineitem")
    agg = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).cast("long")
        .alias("n_returned"),
    ).where(F.col("n_items") >= 20)
    return (
        agg.select(
            F.col("l_suppkey").alias("suppkey"), "n_items", "n_returned",
            F.expr("(n_returned * 1000000) div n_items").cast("long")
            .alias("return_ppm"),
        )
        .orderBy(F.col("return_ppm").desc(), F.col("suppkey").asc())
        .limit(25)
    )


SQL_SUPPLIER_RETURN_RATES = """
SELECT l_suppkey AS suppkey,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returned,
       CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS return_ppm
FROM lineitem
GROUP BY l_suppkey HAVING COUNT(*) >= 20
ORDER BY return_ppm DESC, suppkey ASC
LIMIT 25
"""


def q_reorder_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """Repeat-purchase cadence: the distribution of days between a
    customer's consecutive orders — per order priority of the LATER
    order, exact p50/p90 gap and mean gap in micro-days (exact
    integer sums) — the replenishment-cycle readout. One
    customer-keyed LAG window (distributed by customer), one
    priority aggregate."""
    orders = load(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").cast("date"), F.col("o_orderkey")
    )
    gaps = orders.select(
        "o_orderpriority",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).cast("long").alias("_gap"),
    ).where(F.col("_gap").isNotNull())
    return gaps.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.round(F.percentile(F.col("_gap"), F.lit(0.5)), 6).alias("p50_days"),
        F.round(F.percentile(F.col("_gap"), F.lit(0.9)), 6).alias("p90_days"),
        F.expr("(sum(_gap) * 1000000) div count(1)").cast("long")
        .alias("mean_gap_micro_days"),
    )


SQL_REORDER_INTERVALS = """
WITH gaps AS (
  SELECT o_orderpriority,
         CAST(datediff('day',
              lag(CAST(o_orderdate AS DATE)) OVER (
                PARTITION BY o_custkey
                ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
              CAST(o_orderdate AS DATE)) AS BIGINT) AS _gap
  FROM orders
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       round(quantile_cont(_gap, 0.5), 6) AS p50_days,
       round(quantile_cont(_gap, 0.9), 6) AS p90_days,
       CAST(SUM(_gap) * 1000000 // COUNT(*) AS BIGINT)
         AS mean_gap_micro_days
FROM gaps WHERE _gap IS NOT NULL
GROUP BY o_orderpriority
"""


def q_cohort_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """Cohort LTV curve: exact cumulative-ready revenue per (first-
    order cohort week, weeks-since-first) cell — the money companion
    of cohort_retention's user counts (epoch-week integer arithmetic,
    exact decimal sums). Two customer-keyed aggregates."""
    orders = load(spark, sf, "orders")
    dec = "decimal(18,6)"
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    )
    ev = orders.select(
        "o_custkey",
        F.floor(day / 7).cast("int").alias("wk"),
        F.col("o_totalprice").cast("string").try_cast(dec).alias("_v"),
    )
    first = ev.groupBy("o_custkey").agg(F.min("wk").alias("cohort_week"))
    return (
        ev.join(first, "o_custkey")
        .where((F.col("wk") - F.col("cohort_week")) <= 52)
        .groupBy(
            "cohort_week",
            (F.col("wk") - F.col("cohort_week")).cast("int").alias("period"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("_v").cast("double").alias("revenue"),
        )
    )


SQL_COHORT_REVENUE = """
WITH ev AS (
  SELECT o_custkey,
         CAST(floor(datediff('day', DATE '1970-01-01',
              CAST(o_orderdate AS DATE)) / 7) AS INTEGER) AS wk,
         TRY_CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(18,6)) AS _v
  FROM orders
), first AS (
  SELECT o_custkey, MIN(wk) AS cohort_week FROM ev GROUP BY o_custkey
)
SELECT f.cohort_week,
       CAST(e.wk - f.cohort_week AS INTEGER) AS period,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(e._v) AS DOUBLE) AS revenue
FROM ev e JOIN first f USING (o_custkey)
WHERE e.wk - f.cohort_week <= 52
GROUP BY f.cohort_week, period
"""


def q_order_ship_latency(spark: SparkSession, sf: str) -> DataFrame:
    """Fulfillment latency SLA report: per order priority, exact
    p50/p90/p99 of days from order date to each lineitem's ship date,
    plus the late-rate ppm beyond a 90-day SLA — the logistics
    readout every ops team keeps on a wall. One order-keyed join
    (both sides pre-pruned to two columns), one priority-keyed
    aggregate with exact interpolated percentiles."""
    orders = load(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate")
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    j = orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).select(
        "o_orderpriority",
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).cast("int").alias("_lat"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_lineitems"),
        F.round(F.percentile(F.col("_lat"), F.lit(0.5)), 6).alias("p50_days"),
        F.round(F.percentile(F.col("_lat"), F.lit(0.9)), 6).alias("p90_days"),
        F.round(F.percentile(F.col("_lat"), F.lit(0.99)), 6).alias("p99_days"),
        F.expr(
            "(sum(if(_lat > 90, 1L, 0L)) * 1000000) div count(1)"
        ).cast("long").alias("late_ppm"),
    )


SQL_ORDER_SHIP_LATENCY = """
WITH j AS (
  SELECT o.o_orderpriority,
         CAST(datediff('day', CAST(o.o_orderdate AS DATE),
              CAST(l.l_shipdate AS DATE)) AS INTEGER) AS _lat
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       round(quantile_cont(_lat, 0.5), 6) AS p50_days,
       round(quantile_cont(_lat, 0.9), 6) AS p90_days,
       round(quantile_cont(_lat, 0.99), 6) AS p99_days,
       CAST(SUM(CASE WHEN _lat > 90 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS late_ppm
FROM j GROUP BY o_orderpriority
"""


def q_revenue_autocorrelation(spark: SparkSession, sf: str) -> DataFrame:
    """Time-series diagnostic: lag-1..7 autocorrelation of daily
    order revenue — the seasonality fingerprint (a weekly cycle shows
    as a lag-7 spike). Daily series from one aggregate; each lag pairs
    via LAG over the (date-range-sized) day spine; Pearson per lag
    from exact decimal moments, floor-quantized ppm (NULL for lags
    with zero variance). One narrow moment aggregate per lag over the
    tiny daily table."""
    orders = load(spark, sf, "orders")
    dec = "decimal(18,6)"
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    )
    daily = orders.groupBy(day.alias("d")).agg(
        F.sum(F.col("o_totalprice").cast("string").try_cast(dec)).alias("x")
    )
    w = Window.orderBy("d")
    lags = daily.select(
        "d", "x",
        *[F.lag("x", k).over(w).alias(f"x_{k}") for k in range(1, 8)],
    )
    rows = []
    for k in range(1, 8):
        y = F.col(f"x_{k}")
        ok = y.isNotNull()
        xx = F.when(ok, F.col("x"))
        n = F.count(xx).cast("double")
        sx, sy = F.sum(xx).cast("double"), F.sum(F.when(ok, y)).cast("double")
        sxy = F.sum((xx * y).cast("decimal(38,12)")).cast("double")
        sxx = F.sum((xx * xx).cast("decimal(38,12)")).cast("double")
        syy = F.sum(
            (F.when(ok, y) * F.when(ok, y)).cast("decimal(38,12)")
        ).cast("double")
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        # round, not floor: perfect correlation (r exactly +/-1 — any
        # lag with 2 pairs) is a COMMON outcome, and the engines'
        # decimal->double conversions land one ulp apart around exact
        # integers, so floor(r*1e6) split 1000000 vs 999999 (caught by
        # the hypothesis cross-engine pin). round is stable within
        # ulp of integers; a .5-micro boundary needs r*1e6 exactly on
        # .5, unreachable for the sqrt-valued statistic.
        corr = F.when(
            (vx > 0) & (vy > 0),
            F.round((n * sxy - sx * sy) / F.sqrt(vx) / F.sqrt(vy) * 1e6, 0),
        ).cast("long")
        rows.append(F.struct(
            F.lit(k).alias("lag"),
            n.cast("long").alias("n_pairs"),
            corr.alias("autocorr_ppm"),
        ))
    agg = lags.agg(*[r.alias(f"_s{k}") for k, r in enumerate(rows)])
    return agg.select(
        F.explode(F.array(*[F.col(f"_s{k}") for k in range(len(rows))]))
        .alias("_r")
    ).select("_r.*")


def _sql_revenue_autocorrelation() -> str:
    d = "TRY_CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(18,6))"
    selects = []
    for k in range(1, 8):
        selects.append(f"""
    SELECT {k} AS lag,
           CAST(COUNT(CASE WHEN x_{k} IS NOT NULL THEN 1 END) AS BIGINT)
             AS n_pairs,
           CASE WHEN
             CAST(COUNT(CASE WHEN x_{k} IS NOT NULL THEN 1 END) AS DOUBLE)
               * CAST(SUM(CASE WHEN x_{k} IS NOT NULL
                      THEN CAST(x * x AS DECIMAL(38,12)) END) AS DOUBLE)
               - CAST(SUM(CASE WHEN x_{k} IS NOT NULL THEN x END) AS DOUBLE)
                 * CAST(SUM(CASE WHEN x_{k} IS NOT NULL THEN x END) AS DOUBLE) > 0
            AND
             CAST(COUNT(CASE WHEN x_{k} IS NOT NULL THEN 1 END) AS DOUBLE)
               * CAST(SUM(CAST(x_{k} * x_{k} AS DECIMAL(38,12))) AS DOUBLE)
               - CAST(SUM(x_{k}) AS DOUBLE) * CAST(SUM(x_{k}) AS DOUBLE) > 0
           THEN
             CAST(round(
               (CAST(COUNT(CASE WHEN x_{k} IS NOT NULL THEN 1 END) AS DOUBLE)
                * CAST(SUM(CAST(x * x_{k} AS DECIMAL(38,12))) AS DOUBLE)
                - CAST(SUM(CASE WHEN x_{k} IS NOT NULL THEN x END) AS DOUBLE)
                  * CAST(SUM(x_{k}) AS DOUBLE))
               / sqrt(CAST(COUNT(CASE WHEN x_{k} IS NOT NULL THEN 1 END) AS DOUBLE)
                 * CAST(SUM(CASE WHEN x_{k} IS NOT NULL
                        THEN CAST(x * x AS DECIMAL(38,12)) END) AS DOUBLE)
                 - CAST(SUM(CASE WHEN x_{k} IS NOT NULL THEN x END) AS DOUBLE)
                   * CAST(SUM(CASE WHEN x_{k} IS NOT NULL THEN x END) AS DOUBLE))
               / sqrt(CAST(COUNT(CASE WHEN x_{k} IS NOT NULL THEN 1 END) AS DOUBLE)
                 * CAST(SUM(CAST(x_{k} * x_{k} AS DECIMAL(38,12))) AS DOUBLE)
                 - CAST(SUM(x_{k}) AS DOUBLE) * CAST(SUM(x_{k}) AS DOUBLE))
               * 1e6) AS BIGINT)
           END AS autocorr_ppm
    FROM lags""")
    lag_cols = ", ".join(
        f"lag(x, {k}) OVER (ORDER BY d) AS x_{k}" for k in range(1, 8)
    )
    return f"""
    WITH daily AS (
      SELECT datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
               AS d,
             SUM({d}) AS x
      FROM orders GROUP BY 1
    ), lags AS (
      SELECT d, x, {lag_cols} FROM daily
    )
    {" UNION ALL ".join(selects)}
    """


def q_ks_statistic(spark: SparkSession, sf: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance for click-vs-view
    values, EXACT and distributed: per-distinct-value group counts,
    cumulative counts via the reusable two-phase distributed prefix
    sum (operators/sampling.prefix_sums — never a single-partition
    window over the sample), and D as the max of the integer
    cross-multiplied |c1*n2 - c2*n1| — ks_ppm = max * 1e6 div
    (n1*n2), no float in the statistic. Completes the two-sample
    family (Welch parametric, Mann-Whitney rank, KS distributional)."""
    ev = load(spark, sf, "events")
    d = F.col("value").cast("string").try_cast("decimal(18,6)")
    comb = ev.where(F.col("event_type").isin("click", "view")).select(
        d.alias("_v"), F.col("event_type").alias("_g")
    ).where(F.col("_v").isNotNull())
    per_v = comb.groupBy("_v").agg(
        F.sum((F.col("_g") == "click").cast("long")).alias("c1"),
        F.sum((F.col("_g") == "view").cast("long")).alias("c2"),
    )
    cum = SA.prefix_sums(per_v, ["_v"], ["c1", "c2"])
    tot = per_v.agg(
        F.sum("c1").cast("long").alias("_n1"),
        F.sum("c2").cast("long").alias("_n2"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "_n1", "_n2",
            F.abs(
                F.col("c1_cum").cast("decimal(38,0)") * F.col("_n2")
                - F.col("c2_cum").cast("decimal(38,0)") * F.col("_n1")
            ).alias("_dx"),
        )
        .groupBy("_n1", "_n2")
        .agg(F.max("_dx").alias("_dmax"))
        .select(
            F.col("_n1").cast("long").alias("n_click"),
            F.col("_n2").cast("long").alias("n_view"),
            F.expr(
                "cast(_dmax * 1000000 div"
                " (cast(_n1 as decimal(38,0)) * _n2) as bigint)"
            ).alias("ks_ppm"),
        )
    )


SQL_KS_STATISTIC = """
WITH comb AS (
  SELECT TRY_CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6)) AS _v,
         event_type AS _g
  FROM events
  WHERE event_type IN ('click', 'view')
    AND TRY_CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6)) IS NOT NULL
), per_v AS (
  SELECT _v,
         SUM(CASE WHEN _g = 'click' THEN 1 ELSE 0 END) AS c1,
         SUM(CASE WHEN _g = 'view' THEN 1 ELSE 0 END) AS c2
  FROM comb GROUP BY _v
), cum AS (
  SELECT _v,
         SUM(c1) OVER w AS c1_cum, SUM(c2) OVER w AS c2_cum
  FROM per_v
  WINDOW w AS (ORDER BY _v ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), tot AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS _n1, CAST(SUM(c2) AS BIGINT) AS _n2
  FROM per_v
)
SELECT t._n1 AS n_click, t._n2 AS n_view,
       CAST(MAX(abs(CAST(c.c1_cum AS HUGEINT) * t._n2
                    - CAST(c.c2_cum AS HUGEINT) * t._n1)) * 1000000
            // (CAST(t._n1 AS HUGEINT) * t._n2) AS BIGINT) AS ks_ppm
FROM cum c CROSS JOIN tot t
GROUP BY t._n1, t._n2
"""


def q_mannwhitney_u(spark: SparkSession, sf: str) -> DataFrame:
    """Mann-Whitney U (the nonparametric partner of the Welch
    readout) for click-vs-view values, EXACT and distributed: the
    combined sample ranks come from the two-phase distributed
    global_rank (never a single-partition window), ties are corrected
    with the integer identity avgrank*2 = 2*min_rank + cnt - 1 per
    distinct value, rank sums accumulate in decimal(38,0) (int64
    would overflow at ~1e12 rows), and U and the common-language
    effect size come out as exact integers — U1*2 = 2*R1 - n1(n1+1),
    effect_ppm = U1*2*1e6 div (2*n1*n2). No float enters the
    statistic at all."""
    ev = load(spark, sf, "events")
    d = F.col("value").cast("string").try_cast("decimal(18,6)")
    comb = ev.where(F.col("event_type").isin("click", "view")).select(
        d.alias("_v"), F.col("event_type").alias("_g"),
        F.col("event_id").alias("_id"),
    ).where(F.col("_v").isNotNull())
    ranked = SA.global_rank(comb, ["_v", "_g", "_id"], rank_col="_rk")
    per_v = ranked.groupBy("_v").agg(
        F.min("_rk").alias("_mnr"), F.count(F.lit(1)).alias("_cnt")
    )
    j = ranked.join(per_v, "_v")
    agg = j.agg(
        F.sum(
            F.when(F.col("_g") == "click",
                   (F.col("_mnr") * 2 + F.col("_cnt") - 1)
                   .cast("decimal(38,0)"))
        ).alias("_r1x2"),
        F.sum((F.col("_g") == "click").cast("long")).alias("_n1"),
        F.sum((F.col("_g") == "view").cast("long")).alias("_n2"),
    )
    return agg.select(
        F.col("_n1").cast("long").alias("n_click"),
        F.col("_n2").cast("long").alias("n_view"),
        F.expr(
            "cast(_r1x2 - cast(_n1 as decimal(38,0)) * (_n1 + 1) as bigint)"
        ).alias("u_click_x2"),
        F.expr(
            "cast((_r1x2 - cast(_n1 as decimal(38,0)) * (_n1 + 1)) * 1000000"
            " div (cast(_n1 as decimal(38,0)) * _n2 * 2) as bigint)"
        ).alias("effect_ppm"),
    )


SQL_MANNWHITNEY_U = """
WITH comb AS (
  SELECT TRY_CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6)) AS _v,
         event_type AS _g, event_id AS _id
  FROM events
  WHERE event_type IN ('click', 'view')
    AND TRY_CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6)) IS NOT NULL
), ranked AS (
  SELECT *, row_number() OVER (ORDER BY _v, _g, _id) AS _rk FROM comb
), per_v AS (
  SELECT _v, MIN(_rk) AS _mnr, COUNT(*) AS _cnt FROM ranked GROUP BY _v
), agg AS (
  SELECT SUM(CASE WHEN r._g = 'click'
             THEN CAST(p._mnr * 2 + p._cnt - 1 AS HUGEINT) END) AS _r1x2,
         SUM(CASE WHEN r._g = 'click' THEN 1 ELSE 0 END) AS _n1,
         SUM(CASE WHEN r._g = 'view' THEN 1 ELSE 0 END) AS _n2
  FROM ranked r JOIN per_v p USING (_v)
)
SELECT CAST(_n1 AS BIGINT) AS n_click,
       CAST(_n2 AS BIGINT) AS n_view,
       CAST(_r1x2 - CAST(_n1 AS HUGEINT) * (_n1 + 1) AS BIGINT)
         AS u_click_x2,
       CAST((_r1x2 - CAST(_n1 AS HUGEINT) * (_n1 + 1)) * 1000000
            // (CAST(_n1 AS HUGEINT) * _n2 * 2) AS BIGINT) AS effect_ppm
FROM agg
"""


def q_chi2_contingency(spark: SparkSession, sf: str) -> DataFrame:
    """Chi-square independence audit of the order status x priority
    contingency table: per-cell observed counts, expected counts in
    micro units, and the chi-square contribution in ppm — computed as
    the exact integer identity (O*N - row*col)^2 * 1e6 div
    (N*row*col) with decimal(38,0)/HUGEINT intermediates, so the
    whole test statistic is a SUM OF INTEGERS (no float-order seam
    anywhere; the complement of the mutual-information audit). One
    cell aggregate + broadcast marginals."""
    orders = load(spark, sf, "orders")
    cells = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("observed")
    )
    rows_m = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("_row")
    )
    cols_m = orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("_col")
    )
    n = orders.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    j = (
        cells.join(F.broadcast(rows_m), "o_orderstatus")
        .join(F.broadcast(cols_m), "o_orderpriority")
        .crossJoin(F.broadcast(n))
    )
    return j.select(
        "o_orderstatus", "o_orderpriority", "observed",
        F.expr(
            "cast((cast(_row AS decimal(38,0)) * _col * 1000000)"
            " div cast(_n AS decimal(38,0)) as bigint)"
        ).alias("expected_micro"),
        F.expr(
            "cast((cast(observed AS decimal(38,0)) * _n"
            " - cast(_row AS decimal(38,0)) * _col)"
            " * (cast(observed AS decimal(38,0)) * _n"
            " - cast(_row AS decimal(38,0)) * _col) * 1000000"
            " div (cast(_n AS decimal(38,0)) * _row * _col) as bigint)"
        ).alias("chi2_contrib_ppm"),
    )


SQL_CHI2_CONTINGENCY = """
WITH cells AS (
  SELECT o_orderstatus, o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS observed
  FROM orders GROUP BY 1, 2
), rows_m AS (
  SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS _row
  FROM orders GROUP BY 1
), cols_m AS (
  SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS _col
  FROM orders GROUP BY 1
), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS _n FROM orders)
SELECT c.o_orderstatus, c.o_orderpriority, c.observed,
       CAST((CAST(r._row AS HUGEINT) * cl._col * 1000000)
            // CAST(n._n AS HUGEINT) AS BIGINT) AS expected_micro,
       CAST((CAST(c.observed AS HUGEINT) * n._n
             - CAST(r._row AS HUGEINT) * cl._col)
            * (CAST(c.observed AS HUGEINT) * n._n
               - CAST(r._row AS HUGEINT) * cl._col) * 1000000
            // (CAST(n._n AS HUGEINT) * r._row * cl._col) AS BIGINT)
         AS chi2_contrib_ppm
FROM cells c
JOIN rows_m r USING (o_orderstatus)
JOIN cols_m cl USING (o_orderpriority)
CROSS JOIN n
"""


def q_ab_test_readout(spark: SparkSession, sf: str) -> DataFrame:
    """Experiment readout: Welch's t statistic between every pair of
    event types' value distributions — means in EXACT integer micro
    units ((s1*1e6) div n), the t statistic and Welch-Satterthwaite
    degrees of freedom round-quantized micro — all from ONE
    exact-decimal moment aggregate per type, pairs composed from the
    (tiny) per-type summary. The p-value needs a t-distribution CDF
    (a libm seam), so the readout ships the statistic — what an
    experimentation platform stores anyway."""
    ev = load(spark, sf, "events")
    dec = "decimal(18,6)"
    d = F.col("value").cast("string").try_cast(dec)
    m = ev.groupBy("event_type").agg(
        F.count(d).cast("long").alias("n"),
        F.sum(d).alias("_s1"),
        F.sum((d * d).cast("decimal(38,12)")).alias("_s2"),
    )
    a = m.select(F.col("event_type").alias("type_a"),
                 F.col("n").alias("na"), F.col("_s1").alias("sa"),
                 F.col("_s2").alias("qa"))
    b = m.select(F.col("event_type").alias("type_b"),
                 F.col("n").alias("nb"), F.col("_s1").alias("sb"),
                 F.col("_s2").alias("qb"))
    j = a.crossJoin(b).where(F.col("type_a") < F.col("type_b"))
    na, nb = F.col("na").cast("double"), F.col("nb").cast("double")
    ma = F.col("sa").cast("double") / na
    mb = F.col("sb").cast("double") / nb
    va = (F.col("qa").cast("double") - na * ma * ma) / (na - 1)
    vb = (F.col("qb").cast("double") - nb * mb * mb) / (nb - 1)
    se2 = va / na + vb / nb
    t = (ma - mb) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (va / na) * (va / na) / (na - 1) + (vb / nb) * (vb / nb) / (nb - 1)
    )
    # Quantization discipline (hypothesis cross-engine pin findings):
    # the means are RATIONAL — quantize them in exact integer
    # arithmetic ((s1*1e6) div n; both engines truncate div toward
    # zero identically), because the engines' decimal->double
    # conversions land one ulp apart around exact-6dp means (DuckDB's
    # 900000*1e-6 = 0.8999999999999999) and floor(mean*1e6) splits.
    # t and df are sqrt-valued irrationals — round(x*1e6), stable
    # within an ulp of integers, and a .5-micro landing is
    # unreachable for them.
    return j.select(
        "type_a", "type_b",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.expr("cast(cast(sa * 1000000 as decimal(38,0)) div na as long)")
        .alias("mean_a_micro"),
        F.expr("cast(cast(sb * 1000000 as decimal(38,0)) div nb as long)")
        .alias("mean_b_micro"),
        F.round(t * 1e6, 0).cast("long").alias("welch_t_micro"),
        F.round(dof * 1e6, 0).cast("long").alias("welch_df_micro"),
    )


SQL_AB_TEST_READOUT = """
WITH m AS (
  SELECT event_type,
         CAST(COUNT(TRY_CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6)))
              AS BIGINT) AS n,
         SUM(TRY_CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6))) AS _s1,
         SUM(CAST(TRY_CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6))
             * TRY_CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6))
             AS DECIMAL(38,12))) AS _s2
  FROM events GROUP BY event_type
), j AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.n AS na, a._s1 AS sa_dec,
         CAST(a._s1 AS DOUBLE) AS sa, CAST(a._s2 AS DOUBLE) AS qa,
         b.n AS nb, b._s1 AS sb_dec,
         CAST(b._s1 AS DOUBLE) AS sb, CAST(b._s2 AS DOUBLE) AS qb
  FROM m a CROSS JOIN m b WHERE a.event_type < b.event_type
)
SELECT type_a, type_b,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(CAST(sa_dec * 1000000 AS HUGEINT) // na AS BIGINT)
         AS mean_a_micro,
       CAST(CAST(sb_dec * 1000000 AS HUGEINT) // nb AS BIGINT)
         AS mean_b_micro,
       CAST(round((sa / na - sb / nb)
            / sqrt(((qa - na * (sa / na) * (sa / na)) / (na - 1)) / na
                   + ((qb - nb * (sb / nb) * (sb / nb)) / (nb - 1)) / nb)
            * 1e6) AS BIGINT) AS welch_t_micro,
       CAST(round(
         ((((qa - na * (sa / na) * (sa / na)) / (na - 1)) / na
           + ((qb - nb * (sb / nb) * (sb / nb)) / (nb - 1)) / nb)
          * (((qa - na * (sa / na) * (sa / na)) / (na - 1)) / na
             + ((qb - nb * (sb / nb) * (sb / nb)) / (nb - 1)) / nb))
         / ((((qa - na * (sa / na) * (sa / na)) / (na - 1)) / na)
            * (((qa - na * (sa / na) * (sa / na)) / (na - 1)) / na) / (na - 1)
            + (((qb - nb * (sb / nb) * (sb / nb)) / (nb - 1)) / nb)
              * (((qb - nb * (sb / nb) * (sb / nb)) / (nb - 1)) / nb) / (nb - 1))
         * 1e6) AS BIGINT) AS welch_df_micro
FROM j
"""


def q_bootstrap_value_ci(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic Poisson bootstrap 95% CI for the mean event
    value: 100 replicates whose per-row multiplicities come from
    md5-uniform draws pushed through literal Poisson(1) CDF
    thresholds (no RNG, no libm — fully reproducible in any engine),
    replicate means from exact decimal weighted sums, CI from exact
    interpolated percentiles. The distributed bootstrap: data is
    never physically resampled, just weighted."""
    return AN.poisson_bootstrap_ci(
        load(spark, sf, "events"), "event_id", "value", n_replicates=100
    )


def q_doc_keywords(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document keyword extraction: each doc's top-3 terms by an
    integer TF-IDF score (tf * (1e6 * n_docs div df) — the same
    exact-integer idf proxy as ranked retrieval, so ties and ranks
    hash identically), ties to the lexicographically smaller term.
    One token aggregate for df (broadcast), one (doc, term) tf
    aggregate, one doc-keyed top-k window (WindowGroupLimit keeps
    per-task state at k)."""
    docs = load(spark, sf, "documents")
    toks = docs.select(
        "doc_id", F.explode(TX.tokens(F.col("text"))).alias("term")
    ).where(F.length("term") > 0)
    tf = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_t = toks.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count(F.lit(1)).cast("long").alias("df")
    )
    nd = docs.agg(F.count(F.lit(1)).cast("long").alias("_nd"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id", "term", "tf",
            F.expr("tf * ((1000000 * _nd) div df)").cast("long")
            .alias("tfidf_score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf_score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= 3)
        .select("doc_id", F.col("_r").cast("int").alias("rank"),
                "term", "tf", "tfidf_score")
    )


def _sql_doc_keywords() -> str:
    t = TX.SQL_TOKENS.format(c="text")
    return f"""
    WITH toks AS (
      SELECT doc_id, tok AS term FROM (
        SELECT doc_id, unnest({t}) AS tok FROM documents
      ) WHERE len(tok) > 0
    ), tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, term
    ), dft AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM toks GROUP BY term
    ), nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS _nd FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             CAST(tf.tf * ((1000000 * nd._nd) // dft.df) AS BIGINT)
               AS tfidf_score
      FROM tf JOIN dft USING (term) CROSS JOIN nd
    )
    SELECT doc_id, CAST(_r AS INTEGER) AS rank, term, tf, tfidf_score
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id
        ORDER BY tfidf_score DESC, term ASC) AS _r
      FROM scored
    ) WHERE _r <= 3
    """


def q_part_triangles(spark: SparkSession, sf: str) -> DataFrame:
    """Exact triangle census of the part co-purchase graph (edges =
    part pairs co-occurring in >= 3 orders): edge count, wedge count
    (paths of length 2, from degrees — sum deg*(deg-1)/2 in exact
    ints), triangle count via the ordered two-join (a<b<c, so each
    triangle counts exactly once), and the global clustering
    coefficient in ppm (3*triangles*1e6 div wedges). The density
    audit for any projected graph; every join is edge-keyed, the
    orientation bounds the join fanout by the smaller endpoint's
    degree."""
    li = load(spark, sf, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a, b = li.alias("a"), li.alias("b")
    pairs = (
        a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
               & (F.col("a.l_partkey") < F.col("b.l_partkey")))
        .groupBy(F.col("a.l_partkey").alias("u"),
                 F.col("b.l_partkey").alias("v"))
        .agg(F.count(F.lit(1)).alias("_s"))
        .where(F.col("_s") >= 3)
        .select("u", "v")
    )
    deg = (
        pairs.select(F.col("u").alias("n")).unionAll(
            pairs.select(F.col("v").alias("n")))
        .groupBy("n").agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    wedges = deg.agg(
        F.sum(F.expr("d * (d - 1) div 2")).cast("long").alias("n_wedges")
    )
    e1, e2, e3 = pairs.alias("e1"), pairs.alias("e2"), pairs.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(e3, (F.col("e1.u") == F.col("e3.u"))
              & (F.col("e2.v") == F.col("e3.v")))
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    n_edges = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        n_edges.crossJoin(F.broadcast(wedges)).crossJoin(F.broadcast(tri))
        .select(
            "n_edges", "n_wedges", "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.expr("(n_triangles * 3000000) div n_wedges"),
            ).cast("long").alias("clustering_ppm"),
        )
    )


SQL_PART_TRIANGLES = """
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 3
), deg AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
    SELECT u AS n FROM pairs UNION ALL SELECT v AS n FROM pairs
  ) GROUP BY n
), wedges AS (
  SELECT CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg
), tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM pairs e1
  JOIN pairs e2 ON e1.v = e2.u
  JOIN pairs e3 ON e1.u = e3.u AND e2.v = e3.v
), ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pairs)
SELECT ne.n_edges, w.n_wedges, t.n_triangles,
       CASE WHEN w.n_wedges > 0
            THEN CAST((t.n_triangles * 3000000) // w.n_wedges AS BIGINT)
       END AS clustering_ppm
FROM ne CROSS JOIN wedges w CROSS JOIN tri t
"""


def q_dedup_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup self-evaluation: the MinHash-LSH pipeline's verified
    pairs measured against the EXACT prefix-filtered Jaccard join as
    ground truth at the same 0.7 shingle threshold — one row of
    (n_true_pairs, n_verified_pairs, n_missed, n_extra, recall_ppm).
    The honest answer to 'what does the probabilistic path lose';
    pair sets compared by full outer join so the metric stays
    well-defined even on rounding-boundary pairs."""
    docs = load(spark, sf, "documents")
    truth = D.prefix_jaccard_join(docs, "text", 7, 10, ngram=3).select(
        "doc_a", "doc_b", F.lit(1).alias("_t")
    )
    sigs = D.minhash_signatures(docs, "text", shingle_n=3)
    cand = D.lsh_candidate_pairs(sigs)
    ver = D.jaccard_pairs(docs, cand, "text", 3, 0.7).select(
        "doc_a", "doc_b", F.lit(1).alias("_v")
    )
    j = truth.join(ver, ["doc_a", "doc_b"], "full")
    return j.agg(
        F.sum("_t").cast("long").alias("n_true_pairs"),
        F.sum("_v").cast("long").alias("n_verified_pairs"),
        F.sum(((F.col("_t") == 1) & F.col("_v").isNull()).cast("long"))
        .cast("long").alias("n_missed"),
        F.sum(((F.col("_v") == 1) & F.col("_t").isNull()).cast("long"))
        .cast("long").alias("n_extra"),
        F.expr(
            "(sum(if(_t = 1 AND _v = 1, 1, 0)) * 1000000) div sum(_t)"
        ).cast("long").alias("recall_ppm"),
    )


def _sql_dedup_eval() -> str:
    truth = D.sql_prefix_jaccard_join("documents", "text", 7, 10, ngram=3)
    ver = D.sql_minhash_dedup_pairs("documents", shingle_n=3, threshold=0.7)
    return f"""
    WITH truth_ AS (SELECT doc_a, doc_b, 1 AS _t FROM ({truth})),
    ver_ AS (SELECT doc_a, doc_b, 1 AS _v FROM ({ver})),
    j AS (
      SELECT COALESCE(t._t, 0) AS _t, COALESCE(v._v, 0) AS _v
      FROM truth_ t FULL OUTER JOIN ver_ v
        ON t.doc_a = v.doc_a AND t.doc_b = v.doc_b
    )
    SELECT CAST(SUM(_t) AS BIGINT) AS n_true_pairs,
           CAST(SUM(_v) AS BIGINT) AS n_verified_pairs,
           CAST(SUM(CASE WHEN _t = 1 AND _v = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_missed,
           CAST(SUM(CASE WHEN _v = 1 AND _t = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_extra,
           CAST(SUM(CASE WHEN _t = 1 AND _v = 1 THEN 1 ELSE 0 END) * 1000000
                // SUM(_t) AS BIGINT) AS recall_ppm
    FROM j
    """


def q_source_vocab_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-source vocabulary comparison: EXACT Jaccard similarity
    of the distinct-token vocabularies for every source pair — the
    drift audit that says which feeds speak the same language (the
    exact counterpart of corpus_overlap_kmv's sketch estimate). One
    token-keyed self-join over the (vocab x source) distinct table
    (per-token fanout is bounded by the source count, never corpus
    rows); vocab sizes broadcast; jaccard in integer ppm."""
    docs = load(spark, sf, "documents")
    vs = (
        docs.select("source", F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .where(F.length("tok") > 0)
        .distinct()
    )
    sizes = vs.groupBy("source").agg(F.count(F.lit(1)).alias("n_vocab"))
    a = vs.select(F.col("source").alias("src_a"), "tok")
    b = vs.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    return (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("source", "src_a")
                        .withColumnRenamed("n_vocab", "n_a")), "src_a")
        .join(
            F.broadcast(sizes.withColumnRenamed("source", "src_b")
                        .withColumnRenamed("n_vocab", "n_b")), "src_b")
        .select(
            "src_a", "src_b", "n_inter",
            F.expr("n_a + n_b - n_inter").cast("long").alias("n_union"),
            F.expr("n_inter * 1000000 div (n_a + n_b - n_inter)")
            .cast("long").alias("jaccard_ppm"),
        )
    )


def _sql_source_vocab_jaccard() -> str:
    t = TX.SQL_TOKENS.format(c="text")
    return f"""
    WITH vs AS (
      SELECT DISTINCT source, tok FROM (
        SELECT source, unnest({t}) AS tok FROM documents
      ) WHERE len(tok) > 0
    ), sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_vocab FROM vs GROUP BY 1
    ), inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM vs a JOIN vs b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, i.n_inter,
           CAST(sa.n_vocab + sb.n_vocab - i.n_inter AS BIGINT) AS n_union,
           CAST(i.n_inter * 1000000
                // (sa.n_vocab + sb.n_vocab - i.n_inter) AS BIGINT)
             AS jaccard_ppm
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    """


def q_revenue_cusum(spark: SparkSession, sf: str) -> DataFrame:
    """CUSUM changepoint detection on daily order revenue: the
    classic recursive statistic S_t = max(0, S_{t-1} + (x_t - mu - k))
    rewritten EXACTLY as cum_t - min_prefix(cum_t) of the drift-
    adjusted series — a pure window identity, so the whole detector
    is two cumulative windows over exact decimals with no recursion
    and no float seam (mu is the global daily mean as an exact
    decimal ratio; drift k = mu/10; returns days where the statistic
    crosses 3*mu). One day aggregate + one 1-row broadcast + ordered
    windows over the (date-range-sized) daily series."""
    orders = load(spark, sf, "orders")
    dec = "decimal(18,6)"
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    )
    daily = orders.groupBy(day.alias("day_num")).agg(
        F.sum(F.col("o_totalprice").cast("string").try_cast(dec)).alias("_x")
    )
    g = daily.agg(
        F.sum("_x").alias("_sx"),
        F.count(F.lit(1)).cast("long").alias("_nd"),
    )
    j = daily.crossJoin(F.broadcast(g))
    # drift-adjusted term in EXACT decimal: x - mu - mu/10 where
    # mu = _sx/_nd; scale by _nd*10 to stay integral-decimal:
    # adj = x*_nd*10 - _sx*11  (all decimal, order-independent sums)
    adj = (
        F.col("_x").cast("decimal(38,6)") * F.col("_nd") * 10
        - F.col("_sx").cast("decimal(38,6)") * 11
    ).cast("decimal(38,6)")
    w = Window.orderBy("day_num").rowsBetween(Window.unboundedPreceding, 0)
    c = j.select(
        "day_num", "_x", "_sx", "_nd",
        F.sum(adj).over(w).alias("_cum"),
    )
    # the identity needs min(0, min_prefix): an all-positive prefix
    # must subtract 0, not its own first element
    c = c.withColumn(
        "_minpfx",
        F.least(F.lit(0).cast("decimal(38,6)"), F.min("_cum").over(w)),
    )
    # S_t in the scaled space; threshold 3*mu scaled = 3*_sx*10
    s_scaled = F.col("_cum") - F.col("_minpfx")
    return (
        c.where(s_scaled > F.col("_sx").cast("decimal(38,6)") * 30)
        .select(
            F.col("day_num").cast("int").alias("day_num"),
            F.col("_x").cast("double").alias("daily_revenue"),
            # statistic reported in mu units, ppm: S/(mu*scale)*1e6
            # integral intermediates before the truncating division —
            # fractional-decimal div rounds differently per engine
            F.expr(
                "cast(cast((_cum - _minpfx) * 1000000 AS decimal(38,0))"
                " * 100000 div cast(_sx * 10000000 AS decimal(38,0))"
                " as bigint)"
            ).alias("cusum_decimicro_mu"),
        )
    )


SQL_REVENUE_CUSUM = """
WITH daily AS (
  SELECT datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS day_num,
         SUM(TRY_CAST(CAST(o_totalprice AS VARCHAR) AS DECIMAL(18,6))) AS _x
  FROM orders GROUP BY 1
), g AS (
  SELECT SUM(_x) AS _sx, CAST(COUNT(*) AS BIGINT) AS _nd FROM daily
), c AS (
  SELECT d.day_num, d._x, g._sx, g._nd,
         SUM(CAST(CAST(d._x AS DECIMAL(38,6)) * g._nd * 10
             - CAST(g._sx AS DECIMAL(38,6)) * 11 AS DECIMAL(38,6)))
           OVER (ORDER BY d.day_num
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS _cum
  FROM daily d CROSS JOIN g
), m AS (
  SELECT *, least(CAST(0 AS DECIMAL(38,6)),
            MIN(_cum) OVER (ORDER BY day_num
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS _minpfx
  FROM c
)
SELECT CAST(day_num AS INTEGER) AS day_num,
       CAST(_x AS DOUBLE) AS daily_revenue,
       CAST(CAST((_cum - _minpfx) * 1000000 AS HUGEINT) * 100000
            // CAST(_sx * 10000000 AS HUGEINT) AS BIGINT)
         AS cusum_decimicro_mu
FROM m
WHERE (_cum - _minpfx) > CAST(_sx AS DECIMAL(38,6)) * 30
"""


def q_packing_efficiency(spark: SparkSession, sf: str) -> DataFrame:
    """Pretraining packing cost table: for context lengths 64/128/256
    and both packing strategies — 'concat' (dense, documents flow
    across sequence boundaries) vs 'doc_boundary' (every document
    padded to its own sequence multiple) — the sequence count and
    padding waste in ppm. The table a team reads before picking a
    context length; exact integer arithmetic from ONE per-doc token
    count pass."""
    docs = load(spark, sf, "documents")
    b = docs.select(
        F.size(TX.tokens(F.col("text"))).cast("long").alias("_n")
    )
    aggs = [F.sum("_n").alias("_total")]
    for L in (64, 128, 256):
        aggs.append(
            F.sum(F.expr(f"(_n + {L} - 1) div {L}")).alias(f"_docseq_{L}")
        )
    m = b.agg(*aggs)
    rows = []
    for L in (64, 128, 256):
        concat_seq = F.expr(f"(_total + {L} - 1) div {L}")
        rows.append(F.struct(
            F.lit(L).alias("context_len"),
            F.lit("concat").alias("strategy"),
            concat_seq.cast("long").alias("n_sequences"),
            F.expr(
                f"((((_total + {L} - 1) div {L}) * {L} - _total) * 1000000)"
                f" div (((_total + {L} - 1) div {L}) * {L})"
            ).cast("long").alias("waste_ppm"),
        ))
        rows.append(F.struct(
            F.lit(L).alias("context_len"),
            F.lit("doc_boundary").alias("strategy"),
            F.col(f"_docseq_{L}").cast("long").alias("n_sequences"),
            F.expr(
                f"((_docseq_{L} * {L} - _total) * 1000000)"
                f" div (_docseq_{L} * {L})"
            ).cast("long").alias("waste_ppm"),
        ))
    return m.select(F.explode(F.array(*rows)).alias("_r")).select("_r.*")


def _sql_packing_efficiency() -> str:
    t = TX.SQL_TOKENS.format(c="text")
    selects = []
    for L in (64, 128, 256):
        selects.append(f"""
    SELECT {L} AS context_len, 'concat' AS strategy,
           CAST((_total + {L} - 1) // {L} AS BIGINT) AS n_sequences,
           CAST((((_total + {L} - 1) // {L}) * {L} - _total) * 1000000
                // (((_total + {L} - 1) // {L}) * {L}) AS BIGINT) AS waste_ppm
    FROM m""")
        selects.append(f"""
    SELECT {L} AS context_len, 'doc_boundary' AS strategy,
           CAST(_docseq_{L} AS BIGINT) AS n_sequences,
           CAST((_docseq_{L} * {L} - _total) * 1000000
                // (_docseq_{L} * {L}) AS BIGINT) AS waste_ppm
    FROM m""")
    cols = ", ".join(
        f"SUM((_n + {L} - 1) // {L}) AS _docseq_{L}" for L in (64, 128, 256)
    )
    return f"""
    WITH b AS (
      SELECT CAST(len({t}) AS BIGINT) AS _n FROM documents
    ), m AS (
      SELECT SUM(_n) AS _total, {cols} FROM b
    )
    {" UNION ALL ".join(selects)}
    """


def q_stratified_kfold(spark: SparkSession, sf: str) -> DataFrame:
    """Stratified k-fold assignment (k=5): within each language
    stratum, docs take folds round-robin in deterministic md5-of-id
    order, so every stratum's folds are balanced within one row and
    the assignment is reproducible across runs and engines — the
    cross-validation splitter that never lets a small language vanish
    from a fold. One stratum-keyed rank window (WindowGroupLimit-free
    but stratum-sized state only)."""
    docs = load(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return docs.select(
        "doc_id", "lang",
        ((F.row_number().over(w) - 1) % 5).cast("int").alias("fold"),
    )


SQL_STRATIFIED_KFOLD = """
SELECT doc_id, lang,
       CAST((row_number() OVER (
         PARTITION BY lang
         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1) % 5
       AS INTEGER) AS fold
FROM documents
"""


def q_kmv_accuracy_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch self-validation: the KMV distinct estimate vs the EXACT
    distinct count for each event type, with the signed error in ppm
    — the audit that tells an operator whether the k=256 sketch is
    trustworthy on their data before they rely on it at 100 TB (where
    the exact count is the expensive side and this audit runs on a
    slice). Both sides in one pass each; error integer-exact."""
    ev = load(spark, sf, "events")
    est = SK.kmv_distinct(ev, "event_type", "user_id", k=256).select(
        F.col("event_type"), F.col("est_distinct")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct")
    )
    return (
        exact.join(est, "event_type")
        .select(
            "event_type", "exact_distinct",
            F.col("est_distinct").cast("long").alias("est_distinct"),
            F.expr(
                "(cast(est_distinct AS bigint) - exact_distinct) * 1000000"
                " div exact_distinct"
            ).cast("long").alias("err_ppm"),
        )
    )


def _sql_kmv_accuracy_audit() -> str:
    est = SK.sql_kmv_distinct("events", "event_type", "user_id", k=256)
    return f"""
    WITH est AS ({est}),
    exact_ AS (
      SELECT event_type,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
      FROM events GROUP BY event_type
    )
    SELECT x.event_type, x.exact_distinct,
           CAST(e.est_distinct AS BIGINT) AS est_distinct,
           CAST((CAST(e.est_distinct AS BIGINT) - x.exact_distinct) * 1000000
                // x.exact_distinct AS BIGINT) AS err_ppm
    FROM exact_ x JOIN est e USING (event_type)
    """


def q_weighted_median_price(spark: SparkSession, sf: str) -> DataFrame:
    """Weighted order statistic: the quantity-weighted median
    extended price per returnflag — the smallest price whose
    cumulative weight reaches half the group total, computed with an
    exact-decimal cumulative window (no engine has a portable
    weighted-quantile builtin; the cumulative form is exact in both).
    One group-keyed window over (group, price)-aggregated rows."""
    li = load(spark, sf, "lineitem")
    dec = "decimal(18,6)"
    g = li.groupBy(
        "l_returnflag",
        F.col("l_extendedprice").cast("string").try_cast(dec).alias("_p"),
    ).agg(
        F.sum(F.col("l_quantity").cast("string").try_cast(dec)).alias("_w")
    )
    wsum = Window.partitionBy("l_returnflag").orderBy("_p").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tot = Window.partitionBy("l_returnflag")
    c = g.select(
        "l_returnflag", "_p",
        F.sum("_w").over(wsum).alias("_cum"),
        F.sum("_w").over(tot).alias("_tot"),
    )
    # first price where 2*cum >= tot (exact decimal compare)
    hit = c.where(F.col("_cum") * 2 >= F.col("_tot"))
    wmin = Window.partitionBy("l_returnflag").orderBy("_p")
    return (
        hit.withColumn("_r", F.row_number().over(wmin))
        .where(F.col("_r") == 1)
        .select(
            "l_returnflag",
            F.col("_p").cast("double").alias("weighted_median_price"),
            F.col("_tot").cast("double").alias("total_weight"),
        )
    )


SQL_WEIGHTED_MEDIAN_PRICE = """
WITH g AS (
  SELECT l_returnflag,
         TRY_CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(18,6)) AS _p,
         SUM(TRY_CAST(CAST(l_quantity AS VARCHAR) AS DECIMAL(18,6))) AS _w
  FROM lineitem GROUP BY 1, 2
), c AS (
  SELECT l_returnflag, _p,
         SUM(_w) OVER (PARTITION BY l_returnflag ORDER BY _p
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS _cum,
         SUM(_w) OVER (PARTITION BY l_returnflag) AS _tot
  FROM g
), hit AS (
  SELECT *, row_number() OVER (PARTITION BY l_returnflag ORDER BY _p) AS _r
  FROM c WHERE _cum * 2 >= _tot
)
SELECT l_returnflag,
       CAST(_p AS DOUBLE) AS weighted_median_price,
       CAST(_tot AS DOUBLE) AS total_weight
FROM hit WHERE _r = 1
"""

# Benford first-digit expected frequencies, ppm: floor(log10(1+1/d)*1e6)
# — precomputed CONSTANTS so neither engine evaluates log10 at runtime
# (libm rounding differs across engines; literals cannot).
_BENFORD_PPM = {1: 301029, 2: 176091, 3: 124938, 4: 96910,
                5: 79181, 6: 66946, 7: 57991, 8: 51152, 9: 45757}


def q_benford_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals (the classic
    fabricated-numbers screen): observed leading-digit counts and ppm
    vs the Benford expectation (precomputed literal constants — no
    runtime log10, no libm seam), with the absolute deviation. The
    first digit comes from the INTEGER part rendered from a bigint
    (exact), values < 1 excluded. One narrow map + a 9-row aggregate."""
    orders = load(spark, sf, "orders")
    d = F.substring(
        F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
    ).cast("int")
    obs = (
        orders.where(F.col("o_totalprice") >= 1)
        .select(d.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = obs.agg(F.sum("n").alias("_t"))
    bf = F.create_map(
        *[F.lit(x) for kv in _BENFORD_PPM.items() for x in kv]
    )
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit", "n",
            F.expr("n * 1000000 div _t").cast("long").alias("observed_ppm"),
            bf[F.col("digit")].cast("long").alias("benford_ppm"),
        )
        .withColumn(
            "abs_dev_ppm",
            F.abs(F.col("observed_ppm") - F.col("benford_ppm")).cast("long"),
        )
    )


def _sql_benford_audit() -> str:
    rows = ", ".join(f"({d}, {p})" for d, p in _BENFORD_PPM.items())
    return f"""
    WITH obs AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                  1, 1) AS INTEGER) AS digit,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders WHERE o_totalprice >= 1
      GROUP BY 1
    ), tot AS (SELECT SUM(n) AS _t FROM obs),
    bf(digit, benford_ppm) AS (VALUES {rows})
    SELECT o.digit, o.n,
           CAST(o.n * 1000000 // t._t AS BIGINT) AS observed_ppm,
           CAST(b.benford_ppm AS BIGINT) AS benford_ppm,
           CAST(abs(o.n * 1000000 // t._t - b.benford_ppm) AS BIGINT)
             AS abs_dev_ppm
    FROM obs o CROSS JOIN tot t JOIN bf b USING (digit)
    """


def q_discount_ols(spark: SparkSession, sf: str) -> DataFrame:
    """Group-wise OLS (the SQL-standard REGR_* family, determinism-
    hardened): slope/intercept/R2 of quantity regressed on discount
    per returnflag — does a deeper discount move volume? Exact
    decimal moments in ONE aggregate; only the final divisions run
    in doubles, floor-quantized to ppm."""
    return AN.groupwise_ols(
        load(spark, sf, "lineitem"), "l_returnflag", "l_discount", "l_quantity"
    )


def q_token_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """Collocation mining: top token pairs by a PMI-equivalent
    integer ratio (n_pair * n_windows * 1e6 div (n_a * n_b)) over
    5-token co-occurrence windows — monotone in PMI with NO log()
    engine seam, so the ranking itself carries a value-hash oracle.
    One pair-keyed shuffle, token counts broadcast, top-k via
    TakeOrderedAndProject."""
    return C.token_collocations(load(spark, sf, "documents"))


def q_winsorize_values(spark: SparkSession, sf: str) -> DataFrame:
    """Per-event-type winsorization audit: exact interpolated p5/p95
    bounds, clip counts, and the exact-decimal sum of the clipped
    column — the outlier-taming pass before feature normalization.
    Two type-keyed aggregates + a broadcast bounds join."""
    return AN.winsorize_summary(
        load(spark, sf, "events"), "event_type", "value",
        lo_pct=0.05, hi_pct=0.95,
    )


def q_churn_risk_table(spark: SparkSession, sf: str) -> DataFrame:
    """Survival-analysis risk table for customer churn (the
    integer-exact core of a Kaplan-Meier estimate): a customer is at
    risk from their first order day through their last; customers
    ordering in the final 90 days are CENSORED (still alive),
    everyone else churns on their last order day. Per churn day:
    customers at risk, churns, and the discrete hazard in ppm
    (churned*1e6 div at_risk) — all integer arithmetic, so no
    cross-engine float seam (the KM survival curve is the running
    product of (1-hazard); shipping the risk table keeps the oracle
    exact). At-risk counts come from the sweep-line +1/-1 delta
    trick: one per-customer aggregate, one delta union, one
    cumulative window over DISTINCT DAYS (date-range-sized, not
    customer-sized)."""
    ev = load(spark, sf, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    )
    per = ev.groupBy(F.col("o_custkey").alias("user_id")).agg(
        F.min(day).alias("_first"), F.max(day).alias("_last")
    )
    mx = per.agg(F.max("_last").alias("_mx"))
    per = per.crossJoin(F.broadcast(mx)).select(
        "user_id", "_first", "_last",
        (F.col("_last") >= F.col("_mx") - 90).cast("int").alias("_censored"),
    )
    deltas = (
        per.select(F.col("_first").alias("day_num"), F.lit(1).alias("_d"))
        .unionByName(
            per.select((F.col("_last") + 1).alias("day_num"),
                       F.lit(-1).alias("_d"))
        )
        .groupBy("day_num").agg(F.sum("_d").alias("_delta"))
    )
    churns = (
        per.where(F.col("_censored") == 0)
        .groupBy(F.col("_last").alias("day_num"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_churned"))
    )
    w = Window.orderBy("day_num").rowsBetween(Window.unboundedPreceding, 0)
    risk = deltas.select(
        "day_num", F.sum("_delta").over(w).cast("long").alias("n_at_risk")
    )
    return (
        risk.join(churns, "day_num")
        .select(
            F.col("day_num").cast("int").alias("day_num"),
            "n_at_risk", "n_churned",
            F.expr("(n_churned * 1000000) div n_at_risk").cast("long")
            .alias("hazard_ppm"),
        )
    )


SQL_CHURN_RISK_TABLE = """
WITH ev AS (
  SELECT o_custkey AS user_id,
         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day
  FROM orders
), per AS (
  SELECT user_id, MIN(day) AS _first, MAX(day) AS _last FROM ev
  GROUP BY user_id
), mx AS (SELECT MAX(_last) AS _mx FROM per),
flagged AS (
  SELECT p.*, CASE WHEN p._last >= (SELECT _mx FROM mx) - 90
              THEN 1 ELSE 0 END AS _censored
  FROM per p
), deltas AS (
  SELECT day_num, SUM(_d) AS _delta FROM (
    SELECT _first AS day_num, 1 AS _d FROM flagged
    UNION ALL
    SELECT _last + 1 AS day_num, -1 AS _d FROM flagged
  ) GROUP BY day_num
), churns AS (
  SELECT _last AS day_num, CAST(COUNT(*) AS BIGINT) AS n_churned
  FROM flagged WHERE _censored = 0 GROUP BY _last
), risk AS (
  SELECT day_num,
         CAST(SUM(_delta) OVER (ORDER BY day_num
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_at_risk
  FROM deltas
)
SELECT CAST(r.day_num AS INTEGER) AS day_num, r.n_at_risk, c.n_churned,
       CAST((c.n_churned * 1000000) // r.n_at_risk AS BIGINT) AS hazard_ppm
FROM risk r JOIN churns c USING (day_num)
"""


def q_orders_reconciliation(spark: SparkSession, sf: str) -> DataFrame:
    """Warehouse reconciliation audit: does each order's recorded
    o_totalprice equal the sum over its lineitems of
    extendedprice*(1-discount)*(1+tax)? Per order status: order
    count, matching count (exact-decimal equality at 2dp — money),
    orphans (orders with no lineitems), and the worst absolute
    mismatch in cents. The denormalized-copy drift check every
    warehouse runs; one order-keyed join + one aggregate."""
    orders = load(spark, sf, "orders")
    li = load(spark, sf, "lineitem")
    dec = "decimal(18,6)"
    ext = F.col("l_extendedprice").cast("string").try_cast(dec)
    dis = F.col("l_discount").cast("string").try_cast(dec)
    tax = F.col("l_tax").cast("string").try_cast(dec)
    # Three string round-trips + a decimal multiply chain per row is
    # CPU the single-file scan task would otherwise run alone;
    # scale_out spreads it (no-op on a multi-file input).
    per = scale_out(
        li.select("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
    ).groupBy("l_orderkey").agg(
        F.sum(
            (ext * (F.lit(1).cast(dec) - dis) * (F.lit(1).cast(dec) + tax))
            .cast("decimal(38,12)")
        ).alias("_derived")
    )
    tot = F.col("o_totalprice").cast("string").try_cast(dec)
    j = orders.select("o_orderkey", "o_orderstatus", tot.alias("_tot")).join(
        per, orders["o_orderkey"] == per["l_orderkey"], "left"
    )
    # money comparison at cents: round both to 2dp in exact decimal
    diff_cents = F.abs(
        (F.round(F.col("_tot"), 2) - F.round(F.col("_derived"), 2)) * 100
    ).cast("long")
    return (
        j.select(
            "o_orderstatus",
            F.col("_derived").isNull().cast("int").alias("_orphan"),
            F.when(F.col("_derived").isNotNull(), diff_cents).alias("_dc"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum((F.col("_dc") == 0).cast("long")).cast("long").alias("n_match"),
            F.sum("_orphan").cast("long").alias("n_orphans"),
            F.coalesce(F.max("_dc"), F.lit(0)).cast("long")
            .alias("max_mismatch_cents"),
        )
    )


SQL_ORDERS_RECONCILIATION = """
WITH per AS (
  SELECT l_orderkey,
         SUM(CAST(TRY_CAST(CAST(l_extendedprice AS VARCHAR) AS DECIMAL(18,6))
             * (1 - TRY_CAST(CAST(l_discount AS VARCHAR) AS DECIMAL(18,6)))
             * (1 + TRY_CAST(CAST(l_tax AS VARCHAR) AS DECIMAL(18,6)))
             AS DECIMAL(38,12))) AS _derived
  FROM lineitem GROUP BY l_orderkey
), j AS (
  SELECT o.o_orderstatus,
         CASE WHEN p._derived IS NULL THEN 1 ELSE 0 END AS _orphan,
         CASE WHEN p._derived IS NOT NULL THEN
           CAST(abs((round(TRY_CAST(CAST(o.o_totalprice AS VARCHAR)
                     AS DECIMAL(18,6)), 2)
                     - round(p._derived, 2)) * 100) AS BIGINT)
         END AS _dc
  FROM orders o LEFT JOIN per p ON p.l_orderkey = o.o_orderkey
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN _dc = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
       CAST(SUM(_orphan) AS BIGINT) AS n_orphans,
       CAST(COALESCE(MAX(_dc), 0) AS BIGINT) AS max_mismatch_cents
FROM j GROUP BY o_orderstatus
"""


def q_revenue_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Revenue-concentration audit: the Gini coefficient of customer
    order revenue within each market segment (the one-number answer
    to 'how top-heavy is this segment'). Rank-weighted exact-decimal
    sums per segment ((2*Sum(i*x_i))/(n*Sum(x)) - (n+1)/n), final
    ratio in doubles floor-quantized to ppm. One customer aggregate,
    one segment-keyed rank window, one segment rollup."""
    orders = load(spark, sf, "orders")
    cust = load(spark, sf, "customer")
    dec = "decimal(18,6)"
    rev = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("string").try_cast(dec))
            .alias("_rev")
        )
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select("c_mktsegment", "c_custkey", "_rev")
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("_rev").asc(), F.col("c_custkey").asc()
    )
    ranked = rev.withColumn("_i", F.row_number().over(w))
    per = ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("_rev").alias("_sx"),
        F.sum((F.col("_i") * F.col("_rev")).cast("decimal(38,12)")).alias("_six"),
    )
    n = F.col("n_customers").cast("double")
    gini = (
        F.lit(2.0) * F.col("_six").cast("double")
        / (n * F.col("_sx").cast("double"))
        - (n + F.lit(1.0)) / n
    )
    return per.select(
        "c_mktsegment", "n_customers",
        F.col("_sx").cast("double").alias("total_revenue"),
        F.round(gini * 1e6, 0).cast("long").alias("gini_ppm"),
    )


SQL_REVENUE_GINI = """
WITH rev AS (
  SELECT c.c_mktsegment, c.c_custkey,
         SUM(TRY_CAST(CAST(o.o_totalprice AS VARCHAR) AS DECIMAL(18,6)))
           AS _rev
  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
  GROUP BY c.c_mktsegment, c.c_custkey
), ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY c_mktsegment ORDER BY _rev ASC, c_custkey ASC) AS _i
  FROM rev
), per AS (
  SELECT c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         SUM(_rev) AS _sx,
         SUM(CAST(_i * _rev AS DECIMAL(38,12))) AS _six
  FROM ranked GROUP BY c_mktsegment
)
SELECT c_mktsegment, n_customers,
       CAST(_sx AS DOUBLE) AS total_revenue,
       CAST(round((2.0 * CAST(_six AS DOUBLE)
            / (CAST(n_customers AS DOUBLE) * CAST(_sx AS DOUBLE))
            - (CAST(n_customers AS DOUBLE) + 1.0)
              / CAST(n_customers AS DOUBLE)) * 1e6) AS BIGINT) AS gini_ppm
FROM per
"""


def q_vocab_growth(spark: SparkSession, sf: str) -> DataFrame:
    """Heaps-law vocabulary-growth audit: decimate the corpus into 10
    deterministic slices (doc_id % 10), then for each cumulative
    prefix report docs seen, NEW distinct tokens first appearing in
    that slice, and cumulative vocabulary size — the curve that tells
    a corpus builder whether more data still buys vocabulary. ONE
    token explode + a per-token min-slice aggregate (the whole curve
    from one corpus pass); the cumulative window runs over 10 rows."""
    docs = load(spark, sf, "documents")
    b = docs.select(
        (F.col("doc_id") % 10).cast("int").alias("fb"),
        F.explode(TX.tokens(F.col("text"))).alias("tok"),
    ).where(F.length("tok") > 0)
    newt = (
        b.groupBy("tok").agg(F.min("fb").alias("fb"))
        .groupBy("fb").agg(F.count(F.lit(1)).cast("long").alias("new_tokens"))
    )
    nd = docs.groupBy(
        (F.col("doc_id") % 10).cast("int").alias("fb")
    ).agg(F.count(F.lit(1)).cast("long").alias("slice_docs"))
    base = spark.range(10).select(F.col("id").cast("int").alias("fb"))
    w = Window.orderBy("fb").rowsBetween(Window.unboundedPreceding, 0)
    return (
        base.join(newt, "fb", "left").join(nd, "fb", "left")
        .select(
            (F.col("fb") + 1).cast("int").alias("tenth"),
            F.sum(F.coalesce("slice_docs", F.lit(0))).over(w)
            .cast("long").alias("n_docs"),
            F.coalesce("new_tokens", F.lit(0)).cast("long").alias("new_tokens"),
            F.sum(F.coalesce("new_tokens", F.lit(0))).over(w)
            .cast("long").alias("vocab_size"),
        )
    )


def _sql_vocab_growth() -> str:
    t = TX.SQL_TOKENS.format(c="text")
    return f"""
    WITH toks AS (
      SELECT CAST(doc_id % 10 AS INTEGER) AS fb, unnest({t}) AS tok
      FROM documents
    ), newt AS (
      SELECT fb, CAST(COUNT(*) AS BIGINT) AS new_tokens FROM (
        SELECT tok, MIN(fb) AS fb FROM toks WHERE len(tok) > 0 GROUP BY tok
      ) GROUP BY fb
    ), nd AS (
      SELECT CAST(doc_id % 10 AS INTEGER) AS fb,
             CAST(COUNT(*) AS BIGINT) AS slice_docs
      FROM documents GROUP BY 1
    ), base AS (SELECT CAST(unnest(range(10)) AS INTEGER) AS fb)
    SELECT CAST(b.fb + 1 AS INTEGER) AS tenth,
           CAST(SUM(COALESCE(nd.slice_docs, 0)) OVER w AS BIGINT) AS n_docs,
           CAST(COALESCE(newt.new_tokens, 0) AS BIGINT) AS new_tokens,
           CAST(SUM(COALESCE(newt.new_tokens, 0)) OVER w AS BIGINT)
             AS vocab_size
    FROM base b
    LEFT JOIN newt ON newt.fb = b.fb
    LEFT JOIN nd ON nd.fb = b.fb
    WINDOW w AS (ORDER BY b.fb ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW)
    """


def q_rfm_segments(spark: SparkSession, sf: str) -> DataFrame:
    """RFM segmentation: per purchasing user, recency (days from last
    purchase to the corpus max ts — a fixed anchor, so the segment is
    reproducible), frequency (purchase count) and monetary
    (exact-decimal value sum) each score 1-5 by exact NTILE over
    users; segments aggregate to (rfm_segment, n_users,
    total_value). Recency ntile is DESCENDING (most recent = 5) so
    '555' is the best customer the way practitioners read it. Three
    user-keyed aggregates + three rank windows over the per-user
    table (already small after the first shuffle; a billion-user
    corpus would swap in operators/sampling.py's distributed exact
    NTILE, same semantics) + one segment rollup."""
    ev = load(spark, sf, "events")
    p = ev.where(F.col("event_type") == "purchase")
    anchor = p.agg(F.max("ts").alias("_maxts"))
    per = (
        p.groupBy("user_id")
        .agg(
            F.max("ts").alias("_last"),
            F.count(F.lit(1)).cast("long").alias("_freq"),
            F.sum(F.col("value").cast("string").try_cast("decimal(18,6)"))
            .alias("_mon"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "user_id",
            F.datediff(F.col("_maxts").cast("date"), F.col("_last").cast("date"))
            .cast("int").alias("_rec_days"),
            "_freq", "_mon",
        )
    )
    wr = Window.orderBy(F.col("_rec_days").asc(), F.col("user_id").asc())
    wf = Window.orderBy(F.col("_freq").asc(), F.col("user_id").asc())
    wm = Window.orderBy(F.col("_mon").asc(), F.col("user_id").asc())
    scored = per.select(
        "user_id", "_mon",
        (F.lit(6) - F.ntile(5).over(wr)).alias("_r"),
        F.ntile(5).over(wf).alias("_f"),
        F.ntile(5).over(wm).alias("_m"),
    )
    return (
        scored.groupBy(
            F.concat(F.col("_r"), F.col("_f"), F.col("_m")).alias("rfm_segment")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("_mon").cast("double").alias("total_value"),
        )
    )


SQL_RFM_SEGMENTS = """
WITH p AS (
  SELECT user_id, ts,
         TRY_CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6)) AS _v
  FROM events WHERE event_type = 'purchase'
), anchor AS (SELECT MAX(ts) AS _maxts FROM p),
per AS (
  SELECT user_id,
         CAST(datediff('day', CAST(MAX(ts) AS DATE),
              CAST((SELECT _maxts FROM anchor) AS DATE)) AS INTEGER)
           AS _rec_days,
         CAST(COUNT(*) AS BIGINT) AS _freq,
         SUM(_v) AS _mon
  FROM p GROUP BY user_id
), scored AS (
  SELECT user_id, _mon,
         6 - ntile(5) OVER (ORDER BY _rec_days ASC, user_id ASC) AS _r,
         ntile(5) OVER (ORDER BY _freq ASC, user_id ASC) AS _f,
         ntile(5) OVER (ORDER BY _mon ASC, user_id ASC) AS _m
  FROM per
)
SELECT CAST(_r AS VARCHAR) || CAST(_f AS VARCHAR) || CAST(_m AS VARCHAR)
         AS rfm_segment,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(_mon) AS DOUBLE) AS total_value
FROM scored GROUP BY 1
"""


def q_conversion_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Path-to-conversion analysis: for every purchase, the ordered
    sequence of the user's lookback touch types rendered as a '>'
    path (ties ordered by (ts, type, id) — deterministic), then
    frequency and exact-decimal value per distinct path. The query
    marketing teams run after attribution to see WHICH journeys
    convert. Same one user-keyed join as attribution; the path build
    is one per-conversion sorted aggregate."""
    ev = load(spark, sf, "events")
    dv = F.col("value").cast("string").try_cast("decimal(18,6)")
    conv = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("_cid"), F.col("user_id").alias("_cuser"),
        F.col("ts").alias("_cts"), dv.alias("_cval"),
    )
    touch = ev.where(
        F.col("event_type").isin("click", "view", "signup")
    ).select(
        F.col("user_id").alias("_tuser"), F.col("ts").alias("_tts"),
        F.col("event_type").alias("_ttype"), F.col("event_id").alias("_tid"),
    )
    cus = F.unix_micros(F.col("_cts").cast("timestamp_ltz"))
    tus = F.unix_micros(F.col("_tts").cast("timestamp_ltz"))
    j = conv.join(
        touch,
        (F.col("_cuser") == F.col("_tuser")) & (tus <= cus)
        & (cus - tus <= 7 * 86_400 * 1_000_000),
        "left",
    )
    per = j.groupBy("_cid").agg(
        F.first("_cval").alias("_v"),
        F.coalesce(
            F.nullif(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("_tts", "_ttype", "_tid"))
                        ),
                        lambda s: s["_ttype"],
                    ),
                    ">",
                ),
                F.lit(""),
            ),
            F.lit("(none)"),
        ).alias("path"),
    )
    return per.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions"),
        F.coalesce(F.sum("_v").cast("double"), F.lit(0.0)).alias("total_value"),
    )


SQL_CONVERSION_PATHS = """
WITH conv AS (
  SELECT event_id AS _cid, user_id AS _cuser, ts AS _cts,
         TRY_CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6)) AS _cval
  FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT user_id AS _tuser, ts AS _tts, event_type AS _ttype,
         event_id AS _tid
  FROM events WHERE event_type IN ('click', 'view', 'signup')
), j AS (
  SELECT c._cid, c._cval, t._tts, t._ttype, t._tid
  FROM conv c LEFT JOIN touch t
    ON c._cuser = t._tuser
   AND epoch_us(t._tts) <= epoch_us(c._cts)
   AND epoch_us(c._cts) - epoch_us(t._tts) <= 604800000000
), per AS (
  SELECT _cid, MIN(_cval) AS _v,
         COALESCE(NULLIF(string_agg(_ttype, '>'
           ORDER BY _tts, _ttype, _tid), ''), '(none)') AS path
  FROM j GROUP BY _cid
)
SELECT path,
       CAST(COUNT(*) AS BIGINT) AS n_conversions,
       COALESCE(CAST(SUM(_v) AS DOUBLE), 0.0) AS total_value
FROM per GROUP BY path
"""


def q_quality_calibrated(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source percentile calibration of quality scores: raw
    heuristic scores are not comparable ACROSS sources (each source
    has its own score distribution), so before a global threshold the
    pipeline maps each doc's score to its within-source percentile —
    rank-based integer ppm ((rank-1)*1e6 div (n-1), ties share a
    rank, single-doc sources pin to 500000). One source-keyed window;
    the quality features themselves stay a narrow map."""
    docs = load(spark, sf, "documents")
    q = TX.quality_score(docs).select("doc_id", "quality_score")
    j = docs.select("doc_id", "source").join(q, "doc_id")
    w = Window.partitionBy("source").orderBy("quality_score")
    n = F.count(F.lit(1)).over(Window.partitionBy("source"))
    # rank() yields int32: (_rk-1)*1e6 overflows past rank ~2147, so
    # widen BEFORE the multiply (caught by the sf1 scale pair; DuckDB's
    # rank() is already bigint, so only this side needs the cast)
    pct = F.when(n == 1, F.lit(500000)).otherwise(
        F.expr("((cast(_rk AS bigint) - 1) * 1000000L) div (cast(_n AS bigint) - 1)")
    )
    return (
        j.withColumn("_rk", F.rank().over(w))
        .withColumn("_n", n)
        .select(
            "doc_id", "source", "quality_score",
            pct.cast("long").alias("quality_pct_ppm"),
        )
    )


SQL_QUALITY_CALIBRATED = """
WITH q AS ({q_sql}),
j AS (
  SELECT d.doc_id, d.source, q.quality_score
  FROM documents d JOIN q ON q.doc_id = d.doc_id
)
SELECT doc_id, source, quality_score,
       CAST(CASE WHEN n = 1 THEN 500000
            ELSE ((rk - 1) * 1000000) // (n - 1) END AS BIGINT)
         AS quality_pct_ppm
FROM (
  SELECT doc_id, source, quality_score,
         rank() OVER (PARTITION BY source ORDER BY quality_score) AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM j
)
"""


def q_attribution_last_touch(spark: SparkSession, sf: str) -> DataFrame:
    """Marketing-style last-touch attribution: every purchase credits
    the same user's latest click/view/signup within a 7-day lookback
    (equal-instant ties break to the highest (ts, type) — the
    asof_join struct rule, mirrored in the oracle), then per-touch
    conversion counts and exact-decimal attributed revenue.
    Composition of the as-of join (ONE user-keyed shuffle) + one
    touch-type aggregate."""
    ev = load(spark, sf, "events")
    conv = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts",
        F.col("value").cast("string").try_cast("decimal(18,6)").alias("_v"),
    )
    touch = ev.where(
        F.col("event_type").isin("click", "view", "signup")
    ).select("user_id", "ts", "event_type")
    j = J.asof_join(
        conv, touch, key="user_id", ts="ts",
        right_cols=("event_type",), tolerance_seconds=7 * 86400,
    )
    return j.groupBy(
        F.coalesce(F.col("event_type_r"), F.lit("(none)")).alias("touch_type")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions"),
        F.coalesce(F.sum("_v").cast("double"), F.lit(0.0)).alias(
            "attributed_value"
        ),
    )


SQL_ATTRIBUTION_LAST_TOUCH = """
WITH conv AS (
  SELECT event_id, user_id, ts,
         TRY_CAST(CAST(value AS VARCHAR) AS DECIMAL(18,6)) AS _v
  FROM events WHERE event_type = 'purchase'
), m AS (
  SELECT c.event_id, c._v,
         (SELECT t.event_type FROM events t
          WHERE t.user_id = c.user_id
            AND t.event_type IN ('click', 'view', 'signup')
            AND t.ts <= c.ts
            AND epoch_us(c.ts) - epoch_us(t.ts) <= 604800000000
          ORDER BY t.ts DESC, t.event_type DESC LIMIT 1) AS touch_type
  FROM conv c
)
SELECT COALESCE(touch_type, '(none)') AS touch_type,
       CAST(COUNT(*) AS BIGINT) AS n_conversions,
       COALESCE(CAST(SUM(_v) AS DOUBLE), 0.0) AS attributed_value
FROM m GROUP BY 1
"""


def q_rolling_anomalies(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-window z-score anomaly detection per user: events
    sitting >3 sigma from the trailing 7-day per-user baseline
    (baseline excludes the point under test; >=5 baseline events
    required). Exact-integer microsecond RANGE frames + exact-decimal
    moments make the flag set value-hash reproducible; one user-keyed
    shuffle."""
    return AN.rolling_anomalies(load(spark, sf, "events"))


def q_fd_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Functional-dependency audit over lineitem: which candidate
    determinant->dependent pairs actually hold (order -> returnflag?
    part -> supplier?) with violation counts and worst fan-out — one
    determinant-keyed aggregate per candidate, each collapsed to a
    single row before the union."""
    return PR.fd_audit(
        load(spark, sf, "lineitem"),
        candidates=[
            ("l_orderkey", "l_returnflag"),
            ("l_orderkey", "l_suppkey"),
            ("l_partkey", "l_suppkey"),
            ("l_suppkey", "l_linestatus"),
        ],
    )


def q_pipeline_lifecycle(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end ops lifecycle in one query — the closest the sandbox
    gets to the reference's replicator integration specs
    (lib/webhookdb/spec_helpers/shared_examples_for_replicators.rb:13-183):
    events become webhook ENVELOPES in three arrival windows, each
    batch runs the landing-contract ingest (shape → quarantine rows
    violating the table's invariants: 'error' events and
    value_cents > 40000 → MERGE only the clean remainder), the IVM
    matview maintains per-type totals from the MERGE change feed, and
    a change-feed-driven DatabaseSyncTarget exports post-images into a
    parquet replica with txn watermark + feed trim. Returns the final
    EXPORTED replica (one row per user: their latest clean event),
    after asserting the IVM matview agrees with totals recomputed from
    the replica — replica == current table because this feed never
    deletes keys. The oracle recomputes the replica from scratch:
    latest clean event per user.

    Per-batch work is batch-proportional end to end: contract CASE +
    keyed MERGE touch only the batch's buckets, the matview retract/
    apply and the sync's anti-join touch only CHANGED keys, and the
    trimmed feed keeps the change-dir scan a day's txns at 100 TB.
    """
    import shutil
    import tempfile

    from webhookdb_spark.operators.matview import IncrementalAggMaintainer
    from webhookdb_spark.operators.upsert import (
        upsert_envelopes_with_contract,
    )
    from webhookdb_spark.sinks.sync_target import (
        DatabaseSyncTarget,
        SyncState,
    )
    from webhookdb_spark.spec import Col, ReplicatorSpec
    from webhookdb_spark.storage import Warehouse
    from webhookdb_spark.types import ColumnType

    spec = _PIPELINE_DEMO_SPEC
    rules = [
        # not_null first: in_set/between are documented NULL-pass, but
        # the DuckDB oracle's IN/BETWEEN predicates EXCLUDE NULL rows —
        # quarantining NULLs explicitly makes both sides agree by
        # construction on any fixture (the events table has none today).
        ("not_null", "event_type"),
        ("not_null", "value_cents"),
        ("in_set", "event_type", ["click", "purchase", "signup", "view"]),
        ("between", "value_cents", 1, 40000),
    ]
    ev = load(spark, sf, "events")
    splits = ("2024-01-15", "2024-01-23")
    windows = [
        ev.where(F.col("ts") < splits[0]),
        ev.where((F.col("ts") >= splits[0]) & (F.col("ts") < splits[1])),
        ev.where(F.col("ts") >= splits[1]),
    ]
    root = tempfile.mkdtemp(prefix="whdb_lifecycle_")
    try:
        table = Warehouse(spark, f"{root}/wh").table(
            "org", "pipeline_demo_v1"
        )
        mt = IncrementalAggMaintainer(
            spark, f"{root}/ivm", "user_id", "event_type", "value_cents"
        )
        from pathlib import Path as _P

        target = DatabaseSyncTarget(
            state=SyncState(_P(root) / "sync_state.json"),
            ts_col="ts_us",
            key_col="user_id",
            dest_path=_P(root) / "replica.parquet",
        )
        for i, w in enumerate(windows):
            env = w.select(*_event_env_cols(value_cents=True))
            # Whole-keyspace arrival windows: the bulk-load routing
            # hint (merge_upsert docstring) skips the per-batch bucket
            # discovery scan; IVM and sync consume the identical feed.
            upsert_envelopes_with_contract(
                table, env, spec, rules, f"{root}/quarantine",
                buckets=list(range(spec.n_buckets)),
            )
            mt.run(table)  # IVM consumes the feed BEFORE the sync trims
            target.run_sync_changes(
                table, now=f"2024-02-0{i + 1} 00:00:00", trim=True
            )
        import os

        if os.path.exists(f"{root}/replica.parquet"):
            replica = spark.read.parquet(f"{root}/replica.parquet")
        else:
            # every event quarantined → no change feed, no export; the
            # lifecycle's answer is an empty replica, not a read error
            replica = spark.createDataFrame(
                [], "user_id long, event_type string, ts_us long, "
                    "value_cents long",
            )
        out = (
            replica
            .select("user_id", "event_type", "ts_us", "value_cents")
            .orderBy("user_id")
            .localCheckpoint(eager=True)
        )
        # IVM consistency gate: the maintained matview must equal the
        # totals recomputed from the exported replica (both views of
        # the same current rows). Tiny collects — rows == event types.
        agg = mt.aggregate()  # None when no change was ever consumed
        got = {
            r["group"]: (r["n_keys"], r["total"])
            for r in (agg.collect() if agg is not None else [])
        }
        want = {
            r["event_type"]: (r["n_keys"], r["total"])
            for r in out.groupBy("event_type").agg(
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                F.sum("value_cents").cast("long").alias("total"),
            ).collect()
        }
        if got != want:
            raise AssertionError(
                f"IVM matview diverged from the exported replica: "
                f"{got} != {want}"
            )
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


SQL_PIPELINE_LIFECYCLE = """
WITH clean AS (
  SELECT user_id, event_type,
         epoch_us(ts) AS ts_us,
         CAST(floor(value * 100) AS BIGINT) AS value_cents,
         row_number() OVER (
           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
         ) AS rn
  FROM events
  WHERE event_type IN ('click', 'purchase', 'signup', 'view')
    AND CAST(floor(value * 100) AS BIGINT) BETWEEN 1 AND 40000
)
SELECT user_id, event_type, ts_us, value_cents
FROM clean WHERE rn = 1
ORDER BY user_id
"""


def q_span_dedup_rewrite(spark: SparkSession, sf: str) -> DataFrame:
    """Exact duplicate-span REMOVAL with reconstruction (Lee et al.
    2022's rewrite stage — span_novelty scores, this one edits): every
    non-first occurrence of a corpus-duplicated 8-token window loses
    its token range (overlaps union), and each document comes back
    with its surviving tokens re-joined plus kept/removed counts. The
    only corpus-sized shuffle keys the 32-byte window hash; the
    rewrite itself is a doc-keyed join + narrow array filter."""
    return D.remove_duplicate_spans(load(spark, sf, "documents"), k=8)


# ---------------------------------------------------------------------------
# Contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the star-join revenue rollup at sf0.001."""
    return q_revenue_by_region(spark, "/root/testdata/sf0.001")


# Queries needing a driver RE-check ahead of staleness order: a red /
# no_oracle row, or a query whose IMPLEMENTATION changed after its last
# green row (the staleness sort below sees row recency, not row quality
# or code drift — tools/rotation_audit.py's fingerprint check enforces
# the code-changed⇒re-check rule mechanically and names the queries to
# put here). Prune entries once a fresh full-green row lands on the
# tracked record.
_ROTATION_PRIORITY: list[str] = [
    # Code-changed re-checks: each of these 14 has a green r16 driver row,
    # but the code under its closure changed after the round-close tree
    # f44313f that row ran, so tools/retro_vouch_audit.py names it stale
    # and the fingerprint record holds it unvouched. An entry is pruned
    # once a fresh all-green driver row lands for it.
    "corpus_release_report",
    "decontaminate",
    "dedup_minhash",
    "dedup_ngram",
    "search_bm25",
    "text_langid",
    "text_lm_score",
    "text_quality",
    "text_repetition",
    "text_scrub_pii",
    "text_token_count",
    "text_token_count_bpe",
    "text_token_count_bpe2",
    "text_winnow",
]

_ROTATION_RECORD: dict[str, int] | None = None


def _latest_driver_round() -> dict[str, int]:
    """{query: newest round with a GIT-TRACKED driver correctness row}.

    Tracked-only deliberately matches tools/rotation_audit.py: the
    driver writes CORRECTNESS_r{N}.json AFTER the round's last commit,
    so keying the order on tracked files keeps it stable between the
    commit that closes a round and the next round's first commit — the
    audit stays green at judge time, and the driver that produced the
    untracked record saw the same order the audit later checks. Falls
    back to every on-disk record when git is unavailable (a driver
    sandbox without the git binary still gets a needy-first order, at
    worst one round fresher).
    """
    global _ROTATION_RECORD
    if _ROTATION_RECORD is None:
        import json
        import re
        import subprocess

        here = Path(__file__).resolve().parent
        files: list[Path] | None = None
        try:
            out = subprocess.run(
                ["git", "ls-files", "CORRECTNESS_r*.json"],
                cwd=here, capture_output=True, text=True, timeout=30,
            )
            if out.returncode == 0 and out.stdout.strip():
                files = [here / line for line in out.stdout.splitlines()]
        except (OSError, subprocess.SubprocessError):
            # TimeoutExpired is a SubprocessError, not an OSError — a
            # hung git must fall back to the on-disk glob, not raise.
            pass
        if files is None:
            files = sorted(here.glob("CORRECTNESS_r*.json"))
        latest: dict[str, int] = {}
        for f in files:
            m = re.search(r"r0*(\d+)", f.name)
            if m is None or not f.exists():
                continue
            rnd = int(m.group(1))
            try:
                rec = json.loads(f.read_text())
            except (OSError, ValueError):
                continue
            for q in rec:
                latest[q] = max(latest.get(q, 0), rnd)
        _ROTATION_RECORD = latest
    return _ROTATION_RECORD


def _rotation_sorted(
    base: dict[str, Callable[[SparkSession, str], DataFrame]],
) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Needy-first registry order, derived from the committed driver
    record instead of hand-shuffled dict lines: priority re-checks
    lead, then never-checked queries (no tracked row), then everything
    else stalest-first; registry source order breaks ties. The driver
    checks roughly the first 50 entries per round, so this puts its
    budget exactly where tools/rotation_audit.py demands — and the
    order advances BY ITSELF when a new CORRECTNESS record is
    committed (the audit's horizon rule: ceil(registry/50) rounds is
    the sustainable refresh cadence for a 50-row budget).
    """
    pri = {q: i for i, q in enumerate(_ROTATION_PRIORITY)}
    latest = _latest_driver_round()
    pos = {q: i for i, q in enumerate(base)}
    ordered = sorted(
        base,
        key=lambda q: (pri.get(q, len(pri)), latest.get(q, -1), pos[q]),
    )
    return {q: base[q] for q in ordered}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordering contract: NEEDY-FIRST, computed by _rotation_sorted()
    # from the tracked CORRECTNESS_r*.json record — never-checked
    # queries (each registered in tools/rotation_debt.json) and the
    # stalest rows lead; the dict literal below is the INVENTORY, its
    # source order only a tie-break. Every entry runs in
    # tools/check_oracle.py regardless of position.
    base = {
        # --- INVENTORY ONLY: source order below is just the final
        # tie-break. The served order is computed by _rotation_sorted
        # from the tracked driver record: _ROTATION_PRIORITY first
        # (red rows + code-changed re-checks), then never-checked,
        # then stalest-first. r13 window ≈ the 6 priority entries +
        # embed_decontaminate_ivf (new) + the 34 r8-latest rows +
        # the oldest r9 rows. ---
        "bootstrap_value_ci": q_bootstrap_value_ci,
        "ab_test_readout": q_ab_test_readout,
        "chi2_contingency": q_chi2_contingency,
        "mannwhitney_u": q_mannwhitney_u,
        "ks_statistic": q_ks_statistic,
        "revenue_cusum": q_revenue_cusum,
        "revenue_autocorrelation": q_revenue_autocorrelation,
        "discount_ols": q_discount_ols,
        "weighted_median_price": q_weighted_median_price,
        "winsorize_values": q_winsorize_values,
        "benford_audit": q_benford_audit,
        "k_anonymity": q_k_anonymity,
        "fd_audit": q_fd_audit,
        "jsonl_quarantine": q_jsonl_quarantine,
        "json_key_profile": q_json_key_profile,
        "contamination_report": q_contamination_report,
        "corpus_release_report": q_corpus_release_report,
        "filter_config_diff": q_filter_config_diff,
        "dup_rate_by_source": q_dup_rate_by_source,
        "neyman_allocation": q_neyman_allocation,
        "neyman_sample": q_neyman_sample,
        "stratified_kfold": q_stratified_kfold,
        "cluster_safe_split": q_cluster_safe_split,
        "dsir_importance": q_dsir_importance,
        "dsir_resample": q_dsir_resample,
        "quality_filter": q_quality_filter,
        "quality_calibrated": q_quality_calibrated,
        "mixture_plan": q_mixture_plan,
        "span_novelty": q_span_novelty,
        "source_span_leakage": q_source_span_leakage,
        "span_store_incremental": q_span_store_incremental,
        "span_dedup_rewrite": q_span_dedup_rewrite,
        "fuzzy_decontaminate": q_fuzzy_decontaminate,
        "embed_decontaminate": q_embed_decontaminate,
        "embed_decontaminate_ivf": q_embed_decontaminate_ivf,
        "dedup_eval": q_dedup_eval,
        "embed_near_dup_ivf": q_embed_near_dup_ivf,
        "matview_event_totals": q_matview_event_totals,
        "pipeline_lifecycle": q_pipeline_lifecycle,
        "doc_keywords": q_doc_keywords,
        "vocab_growth": q_vocab_growth,
        "token_collocations": q_token_collocations,
        "text_entropy": q_text_entropy,
        "markup_strip": q_markup_strip,
        "bpe_train_merges": q_bpe_train_merges,
        "source_vocab_jaccard": q_source_vocab_jaccard,
        "kmv_accuracy_audit": q_kmv_accuracy_audit,
        "doc_feature_matrix": q_doc_feature_matrix,
        "packing_efficiency": q_packing_efficiency,
        "part_triangles": q_part_triangles,
        "ann_hard_negatives": q_ann_hard_negatives,
        "golden_records": q_golden_records,
        "attribution_last_touch": q_attribution_last_touch,
        # --- embed_pca_project: r8 row was no_oracle; now carries
        #     SQL-checkable invariants — needs a fresh driver row ---
        "embed_pca_project": q_embed_pca_project,
        # --- never-checked remainder (r10's first budget) ---
        "rolling_anomalies": q_rolling_anomalies,
        "attribution_multi_touch": q_attribution_multi_touch,
        "conversion_paths": q_conversion_paths,
        "rfm_segments": q_rfm_segments,
        "orders_reconciliation": q_orders_reconciliation,
        "revenue_gini": q_revenue_gini,
        "churn_risk_table": q_churn_risk_table,
        "order_ship_latency": q_order_ship_latency,
        "reorder_intervals": q_reorder_intervals,
        "cohort_revenue": q_cohort_revenue,
        "brand_velocity_shift": q_brand_velocity_shift,
        "supplier_return_rates": q_supplier_return_rates,
        "activity_heatmap": q_activity_heatmap,
        "length_quality_grid": q_length_quality_grid,
        # --- net-new r9 (registered in tools/rotation_debt.json) ---
        "token_budget_select": q_token_budget_select,
        # --- last driver row r6 (oldest checked evidence) ---
        "decontaminate_bloom": q_decontaminate_bloom,
        "inverted_index_bucketed": q_inverted_index_bucketed,
        "min_cost_supplier": q_min_cost_supplier,
        "excess_shippers": q_excess_shippers,
        "profile_orders_approx": q_profile_orders_approx,
        "token_countmin": q_token_countmin,
        "orders_digest": q_orders_digest,
        "token_heavy_hitters": q_token_heavy_hitters,
        "forecast_revenue": q_forecast_revenue,
        "local_supplier_volume": q_local_supplier_volume,
        "nation_trade_volume": q_nation_trade_volume,
        "market_share": q_market_share,
        "product_profit": q_product_profit,
        "returned_item_losses": q_returned_item_losses,
        "customer_order_distribution": q_customer_order_distribution,
        "parts_supplier_count": q_parts_supplier_count,
        "discounted_brand_revenue": q_discounted_brand_revenue,
        "decontaminate": q_decontaminate,
        "text_repetition": q_text_repetition,
        "text_token_count_bpe": q_text_token_count_bpe,
        "text_token_count_bpe2": q_text_token_count_bpe2,
        "text_scrub_pii": q_text_scrub_pii,
        "text_winnow": q_text_winnow,
        "text_lm_score": q_text_lm_score,
        "upsert_merge": q_upsert_merge,
        "sessionized": q_sessionized,
        "windowed_counts": q_windowed_counts,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_simhash": q_dedup_simhash,
        "dedup_ngram": q_dedup_ngram,
        "stratified_sample": q_stratified_sample,
        "hash_fraction_sample": q_hash_fraction_sample,
        "corpus_split": q_corpus_split,
        "weighted_mix": q_weighted_mix,
        "text_token_count": q_text_token_count,
        "text_quality": q_text_quality,
        "text_langid": q_text_langid,
        "text_fingerprint": q_text_fingerprint,
        "pricing_summary": q_pricing_summary,
        "revenue_by_region": q_revenue_by_region,
        "semi_customers_with_open_orders": q_semi_customers_with_open_orders,
        "anti_customers_without_orders": q_anti_customers_without_orders,
        "window_top_orders": q_window_top_orders,
        "latest_event_per_user": q_latest_event_per_user,
        "incremental_sync_window": q_incremental_sync_window,
        "str2inthash_buckets": q_str2inthash_buckets,
        "json_extraction": q_json_extraction,
        "rollup_revenue": q_rollup_revenue,
        "set_ops": q_set_ops,
        # --- last driver row r7 ---
        "order_status_priority_mi": q_order_status_priority_mi,
        "weighted_sample_by_lang": q_weighted_sample_by_lang,
        "event_type_drift": q_event_type_drift,
        "price_quantile_sketch": q_price_quantile_sketch,
        "user_key_skew_audit": q_user_key_skew_audit,
        "value_quantiles_by_type": q_value_quantiles_by_type,
        "corpus_overlap_kmv": q_corpus_overlap_kmv,
        "media_dhash": q_media_dhash,
        "media_audio_fingerprint": q_media_audio_fingerprint,
        "media_video_near_dup": q_media_video_near_dup,
        "search_bm25": q_search_bm25,
        "fk_integrity": q_fk_integrity,
        "pipeline_curate": q_pipeline_curate,
        "customer_entity_clusters": q_customer_entity_clusters,
        "weighted_sample_orders": q_weighted_sample_orders,
        "scd2_pit_lookup": q_scd2_pit_lookup,
        "gapfill_user_daily": q_gapfill_user_daily,
        "rolling_user_weekly": q_rolling_user_weekly,
        "jaccard_prefix_pairs": q_jaccard_prefix_pairs,
        "inverted_index_persisted": q_inverted_index_persisted,
        "ann_ivfpq_persisted": q_ann_ivfpq_persisted,
        "funnel_conversion": q_funnel_conversion,
        "cohort_retention": q_cohort_retention,
        "price_histogram": q_price_histogram,
        "lineitem_correlations": q_lineitem_correlations,
        "ann_rp_topk": q_ann_rp_topk,
        "trade_pagerank": q_trade_pagerank,
        "pareto_lineitems": q_pareto_lineitems,
        "chunk_documents": q_chunk_documents,
        "normalize_text": q_normalize_text,
        "fuzzy_link_customers": q_fuzzy_link_customers,
        "phrase_search": q_phrase_search,
        "kmv_incremental": q_kmv_incremental,
        "parts_bought_together": q_parts_bought_together,
        "orders_expectations": q_orders_expectations,
        "value_outliers": q_value_outliers,
        "activity_gaps": q_activity_gaps,
        "row_cap": q_row_cap,
        "retention_candidates": q_retention_candidates,
        "ann_ivfpq_topk": q_ann_ivfpq_topk,
        "ann_pq_topk": q_ann_pq_topk,
        "asof_join_forward": q_asof_join_forward,
        "asof_join_nearest": q_asof_join_nearest,
        "cluster_profile": q_cluster_profile,
        "event_transitions": q_event_transitions,
        "global_sales_opportunity": q_global_sales_opportunity,
        # --- last driver row r8 (freshest; tail) ---
        "scd2_user_state": q_scd2_user_state,
        "scd2_incremental": q_scd2_incremental,
        "embed_rp_project": q_embed_rp_project,
        "important_parts": q_important_parts,
        "interval_overlap": q_interval_overlap,
        "media_audio_features": q_media_audio_features,
        "media_jpeg_decode": q_media_jpeg_decode,
        "media_jpeg_decode_progressive": q_media_jpeg_decode_progressive,
        "media_tiff_webp_decode": q_media_tiff_webp_decode,
        "media_pixel_features": q_media_pixel_features,
        "order_deciles": q_order_deciles,
        "order_percentiles": q_order_percentiles,
        "order_priority_check": q_order_priority_check,
        "pipeline_pack": q_pipeline_pack,
        "pivot_status": q_pivot_status,
        "profile_orders": q_profile_orders,
        "promo_revenue": q_promo_revenue,
        "revenue_grouping_sets": q_revenue_grouping_sets,
        "skew_salted_join": q_skew_salted_join,
        "small_qty_revenue": q_small_qty_revenue,
        "top_supplier": q_top_supplier,
        "vocab_coverage": q_vocab_coverage,
        "waiting_suppliers": q_waiting_suppliers,
        "zorder_layout": q_zorder_layout,
        "asof_join_events": q_asof_join,
        "big_spenders": q_big_spenders,
        "corpus_filter": q_corpus_filter,
        "dedup_incremental": q_dedup_incremental,
        "dedup_segments": q_dedup_segments,
        "inverted_index": q_inverted_index,
        "kmv_distinct": q_kmv_distinct,
        "length_stats": q_length_stats,
        "media_avi_frames": q_media_avi_frames,
        "media_decode": q_media_decode,
        "media_wav_decode": q_media_wav_decode,
        "range_join_events": q_range_join,
        "search_ranked": q_search_ranked,
        "search_terms": q_search_terms,
        "sequence_pack": q_sequence_pack,
        "shipping_priority": q_shipping_priority,
        "ann_lsh_recall": q_ann_lsh_recall,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "dedup_clusters": q_dedup_clusters,
        "embed_near_dup": q_embed_near_dup,
        "media_features": q_media_features,
        "media_summary": q_media_summary,
        "scd2_feed_maintained": q_scd2_feed_maintained,
        "corpus_cap_quality": q_corpus_cap_quality,
        "table_diff": q_table_diff,
    }
    return _rotation_sorted(base)

def oracle_sql() -> dict[str, str]:
    return {
        "order_status_priority_mi": AN.sql_categorical_dependence(
            "orders", "o_orderstatus", "o_orderpriority"
        ),
        "user_key_skew_audit": SKW.sql_join_key_skew_audit(
            "events", "user_id", 10
        ),
        "value_quantiles_by_type": SK.sql_log_histogram_quantiles_by(
            "events", "event_type", "value", [0.5, 0.9, 0.99]
        ),
        "media_dhash": M.sql_image_dhash(
            "documents", fixed_w=32, fixed_h=24
        ),
        "media_audio_fingerprint": M.sql_audio_fingerprint("documents"),
        "media_video_near_dup": M.sql_frame_set_similarity(
            "documents", 4, 5
        ),
        "search_bm25": C.sql_search_bm25(
            ("spark", "merge", "window"), "documents"
        ),
        "pipeline_curate": _sql_pipeline_curate(),
        "customer_entity_clusters": _sql_customer_entity_clusters(),
        "fk_integrity": " UNION ALL ".join(
            f"SELECT * FROM ({q})" for q in [
                PR.sql_fk_orphans(
                    "orders", "customer", "o_custkey", "c_custkey"
                ),
                PR.sql_fk_orphans(
                    "lineitem", "part", "l_partkey", "p_partkey"
                ),
                PR.sql_fk_orphans(
                    "lineitem", "supplier", "l_suppkey", "s_suppkey"
                ),
            ]
        ),
        "corpus_overlap_kmv": SK.sql_kmv_overlap(
            "documents", "lang", "text",
            "doc_id % 2 = 0", "doc_id % 2 = 1",
        ),
        "price_quantile_sketch": SK.sql_log_histogram_quantiles(
            "orders", "o_totalprice", [0.5, 0.9, 0.99]
        ),
        "event_type_drift": AN.sql_distribution_drift(
            "events", "event_type", "ts < TIMESTAMP '2024-01-16'"
        ),
        "weighted_sample_by_lang": SA.sql_weighted_sample_k_per_group(
            "documents", 8, "n_chars", "lang", "doc_id",
            cols="doc_id, lang, n_chars",
        ),
        "weighted_sample_orders": SA.sql_weighted_sample_k(
            "orders", 64, "o_totalprice", "o_orderkey",
            cols="o_orderkey, o_totalprice",
        ),
        "scd2_user_state": H.sql_scd2_history(
            "events", "user_id", ("event_type",), "ts", "event_id",
        ),
        "scd2_incremental": H.sql_scd2_history(
            "events", "user_id", ("event_type",), "ts", "event_id",
        ),
        "scd2_feed_maintained": _sql_scd2_feed_maintained(),
        "table_diff": SQL_TABLE_DIFF,
        "matview_event_totals": SQL_MATVIEW_TOTALS,
        "pipeline_lifecycle": SQL_PIPELINE_LIFECYCLE,
        "text_entropy": X.sql_char_entropy("documents"),
        "span_novelty": D.sql_span_novelty(),
        "source_span_leakage": D.sql_source_span_leakage(),
        "dsir_importance": C.sql_dsir_logweights(),
        "ann_hard_negatives": S.sql_hard_negatives(),
        "embed_pca_project": S.sql_pca_invariants("embeddings"),
        "mixture_plan": SA.sql_mixture_plan(),
        "span_store_incremental": SQL_SPAN_STORE_INC.format(
            base=D.sql_span_novelty()),
        "doc_feature_matrix": _sql_doc_feature_matrix(),
        "fuzzy_decontaminate": D.sql_fuzzy_decontaminate(),
        "embed_decontaminate": S.sql_embed_decontaminate(
            SQL_EMBED_DECON_TRAIN, SQL_EMBED_DECON_EVAL, threshold=0.9),
        "embed_decontaminate_ivf": S.sql_embed_decontaminate_ivf(
            SQL_EMBED_DECON_TRAIN, SQL_EMBED_DECON_EVAL, threshold=0.9,
            n_centroids=8, nprobe=2),
        "cluster_safe_split": D.sql_cluster_safe_split(),
        "quality_filter": _sql_quality_filter(),
        "dsir_resample": _sql_dsir_resample(),
        "markup_strip": TX.sql_strip_markup(
            "(SELECT doc_id, " + _MARKUP_WRAP_SQL + " AS text FROM documents)"),
        "dup_rate_by_source": SQL_DUP_RATE_BY_SOURCE,
        "contamination_report": _sql_contamination_report(),
        "bpe_train_merges": TX.sql_bpe_train("documents", n_merges=6),
        "span_dedup_rewrite": D.sql_remove_duplicate_spans("documents", k=8),
        "jsonl_quarantine": _sql_jsonl_quarantine(),
        "json_key_profile": JS.sql_json_key_profile(_SQL_JSONL_LINES),
        "rolling_anomalies": AN.sql_rolling_anomalies(),
        "attribution_last_touch": SQL_ATTRIBUTION_LAST_TOUCH,
        "attribution_multi_touch": AN.sql_multi_touch_attribution(),
        "golden_records": _sql_golden_records(),
        "conversion_paths": SQL_CONVERSION_PATHS,
        "rfm_segments": SQL_RFM_SEGMENTS,
        "vocab_growth": _sql_vocab_growth(),
        "orders_reconciliation": SQL_ORDERS_RECONCILIATION,
        "revenue_gini": SQL_REVENUE_GINI,
        "churn_risk_table": SQL_CHURN_RISK_TABLE,
        "winsorize_values": AN.sql_winsorize_summary(
            "events", "event_type", "value", lo_pct=0.05, hi_pct=0.95),
        "token_collocations": C.sql_token_collocations(),
        "discount_ols": AN.sql_groupwise_ols(
            "lineitem", "l_returnflag", "l_discount", "l_quantity"),
        "weighted_median_price": SQL_WEIGHTED_MEDIAN_PRICE,
        "benford_audit": _sql_benford_audit(),
        "stratified_kfold": SQL_STRATIFIED_KFOLD,
        "packing_efficiency": _sql_packing_efficiency(),
        "revenue_cusum": SQL_REVENUE_CUSUM,
        "source_vocab_jaccard": _sql_source_vocab_jaccard(),
        "dedup_eval": _sql_dedup_eval(),
        "part_triangles": SQL_PART_TRIANGLES,
        "doc_keywords": _sql_doc_keywords(),
        "bootstrap_value_ci": AN.sql_poisson_bootstrap_ci(
            "events", "event_id", "value", n_replicates=100),
        "ab_test_readout": SQL_AB_TEST_READOUT,
        "chi2_contingency": SQL_CHI2_CONTINGENCY,
        "filter_config_diff": _sql_filter_config_diff(),
        "corpus_release_report": _sql_corpus_release_report(),
        "mannwhitney_u": SQL_MANNWHITNEY_U,
        "ks_statistic": SQL_KS_STATISTIC,
        "revenue_autocorrelation": _sql_revenue_autocorrelation(),
        "order_ship_latency": SQL_ORDER_SHIP_LATENCY,
        "reorder_intervals": SQL_REORDER_INTERVALS,
        "cohort_revenue": SQL_COHORT_REVENUE,
        "brand_velocity_shift": SQL_BRAND_VELOCITY_SHIFT,
        "supplier_return_rates": SQL_SUPPLIER_RETURN_RATES,
        "activity_heatmap": SQL_ACTIVITY_HEATMAP,
        "length_quality_grid": _sql_length_quality_grid(),
        "kmv_accuracy_audit": _sql_kmv_accuracy_audit(),
        "quality_calibrated": SQL_QUALITY_CALIBRATED.format(
            q_sql=f"SELECT doc_id, quality_score FROM ({X.sql_quality_score()})"),
        "fd_audit": PR.sql_fd_audit(
            "lineitem",
            candidates=[("l_orderkey", "l_returnflag"),
                        ("l_orderkey", "l_suppkey"),
                        ("l_partkey", "l_suppkey"),
                        ("l_suppkey", "l_linestatus")]),
        "token_budget_select": SA.sql_token_budget_select(
            "documents", budget_tokens=800
        ),
        "neyman_allocation": SA.sql_neyman_allocation(
            "events", "event_type", "value", total_n=1000),
        "neyman_sample": SA.sql_neyman_sample(
            "events", "event_type", "value", id_col="event_id", total_n=1000),
        "k_anonymity": PR.sql_anonymity_audit(
            "customer",
            qi_exprs=[("c_mktsegment", "c_mktsegment"),
                      ("CAST(floor(c_acctbal / 1000) AS INTEGER)", "bal_band")],
            sensitive_col="c_nationkey", k=5, l=3),
        "corpus_cap_quality": SA.sql_cap_per_group(
            "(SELECT d.doc_id, d.lang, q.quality_score"
            " FROM documents d JOIN ("
            + X.sql_quality_score("documents")
            + ") q USING (doc_id))",
            "lang", 12, "quality_score",
            cols="doc_id, lang, quality_score",
        ),
        "scd2_pit_lookup": SQL_SCD2_PIT,
        "gapfill_user_daily": AN.sql_gapfill_daily("events"),
        "rolling_user_weekly": AN.sql_rolling_daily_sum("events", 7),
        "jaccard_prefix_pairs": D.sql_prefix_jaccard_join(
            "documents", "text", 4, 5, ngram=3
        ),
        "pricing_summary": SQL_PRICING,
        "revenue_by_region": SQL_REVENUE_BY_REGION,
        "semi_customers_with_open_orders": SQL_SEMI,
        "anti_customers_without_orders": SQL_ANTI,
        "window_top_orders": SQL_WINDOW_TOP,
        "latest_event_per_user": SQL_LATEST_EVENT,
        "incremental_sync_window": SQL_SYNC_WINDOW,
        "str2inthash_buckets": SQL_STR2INTHASH,
        "json_extraction": SQL_JSON_EXTRACTION,
        "rollup_revenue": SQL_ROLLUP,
        "shipping_priority": SQL_SHIPPING_PRIORITY,
        "big_spenders": SQL_BIG_SPENDERS,
        "order_priority_check": SQL_ORDER_PRIORITY,
        "promo_revenue": SQL_PROMO_REVENUE,
        "small_qty_revenue": SQL_SMALL_QTY,
        "global_sales_opportunity": SQL_GLOBAL_SALES_OPP,
        "skew_salted_join": SQL_SKEW_SALTED,
        "event_transitions": SQL_EVENT_TRANSITIONS,
        "order_percentiles": SQL_ORDER_PERCENTILES,
        "order_deciles": SQL_ORDER_DECILES,
        "vocab_coverage": C.sql_vocab_coverage(),
        "revenue_grouping_sets": SQL_REVENUE_GROUPING_SETS,
        "cluster_profile": S.sql_cluster_profile(),
        "asof_join_forward": J.sql_asof_forward_events(),
        "asof_join_nearest": J.sql_asof_nearest_events(),
        "interval_overlap": J.sql_interval_overlap_events(),
        "profile_orders": PR.sql_profile_columns(
            "orders", SQL_PROFILE_ORDERS_KINDS
        ),
        # floor(epoch()) — DuckDB's epoch() is a fractional DOUBLE and a
        # bare BIGINT cast ROUNDS, where Spark's timestamp→long truncates
        "pipeline_pack": sql_pipeline_pack(),
        "important_parts": SQL_IMPORTANT_PARTS,
        "pivot_status": SQL_PIVOT_STATUS,
        "top_supplier": SQL_TOP_SUPPLIER,
        "waiting_suppliers": SQL_WAITING_SUPPLIERS,
        "zorder_layout": LA.sql_zorder_layout(
            "(SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s"
            " FROM events)",
            "user_id", "epoch_s", bucket_bits=36,
        ),
        "set_ops": SQL_SET_OPS,
        "row_cap": SQL_ROW_CAP,
        "retention_candidates": SQL_RETENTION,
        "upsert_merge": SQL_UPSERT_MERGE,
        "windowed_counts": SQL_WINDOWED_COUNTS,
        "sessionized": SQL_SESSIONIZED,
        "text_token_count": X.sql_token_count(),
        "text_quality": X.sql_quality_score(),
        "text_langid": X.sql_langid(),
        "text_fingerprint": X.sql_fingerprint(),
        "dedup_exact": SQL_DEDUP_EXACT,
        "dedup_minhash": D.sql_minhash_dedup_pairs(),
        "dedup_simhash": D.sql_simhash(),
        "dedup_ngram": D.sql_jaccard_all_pairs(),
        "dedup_segments": D.sql_segment_dedup(),
        "dedup_incremental": D.sql_incremental_minhash_dedup(),
        "dedup_clusters": D.sql_dedup_clusters(),
        "decontaminate": D.sql_decontaminate(),
        "decontaminate_bloom": D.sql_bloom_decontaminate(),
        "stratified_sample": SA.sql_stratified_sample_n(),
        "hash_fraction_sample": SA.sql_hash_fraction_sample(),
        "corpus_split": SA.sql_corpus_split(),
        "weighted_mix": SA.sql_weighted_mix(source_weights=MIX_WEIGHTS),
        "sequence_pack": SA.sql_sequence_pack(),
        "corpus_filter": C.sql_corpus_filter(),
        "inverted_index": C.sql_inverted_index(),
        "inverted_index_bucketed": C.sql_inverted_index_bucketed(),
        # the persisted store, grown by append then compacted, must be
        # row-identical to the one-shot SQL build
        "inverted_index_persisted": C.sql_inverted_index_bucketed(),
        "min_cost_supplier": SQL_MIN_COST_SUPPLIER,
        "excess_shippers": SQL_EXCESS_SHIPPERS,
        "token_heavy_hitters": SK.sql_countmin_estimate(
            "(SELECT unnest(" + TX.SQL_TOKENS.format(c="text")
            + ") AS token FROM documents)",
            "token", _HH_CANDIDATES, depth=4, width=512,
        ),
        "orders_digest": DG.sql_table_digest(
            "orders", SQL_PROFILE_ORDERS_KINDS,
            key_col="o_orderkey", n_buckets=32,
        ),
        "token_countmin": SK.sql_countmin_sketch(
            "(SELECT unnest(" + TX.SQL_TOKENS.format(c="text")
            + ") AS token FROM documents)",
            "token", depth=4, width=512,
        ),
        "profile_orders_approx": PR.sql_profile_columns_approx(
            "orders", SQL_PROFILE_ORDERS_KINDS
        ),
        "forecast_revenue": SQL_FORECAST_REVENUE,
        "local_supplier_volume": SQL_LOCAL_SUPPLIER_VOLUME,
        "nation_trade_volume": SQL_NATION_TRADE_VOLUME,
        "market_share": SQL_MARKET_SHARE,
        "product_profit": SQL_PRODUCT_PROFIT,
        "returned_item_losses": SQL_RETURNED_ITEM_LOSSES,
        "customer_order_distribution": SQL_CUSTOMER_ORDER_DISTRIBUTION,
        "parts_supplier_count": SQL_PARTS_SUPPLIER_COUNT,
        "discounted_brand_revenue": SQL_DISCOUNTED_BRAND_REVENUE,
        "search_terms": C.sql_search_all_terms(),
        "search_ranked": C.sql_search_ranked(),
        "asof_join_events": J.sql_asof_join_events(),
        "kmv_distinct": SK.sql_kmv_distinct(),
        "range_join_events": J.sql_range_join_events(window_seconds=1800),
        "length_stats": C.sql_length_stats(),
        "text_repetition": X.sql_repetition_stats(),
        "text_token_count_bpe": X.sql_token_count_bpe(),
        "text_token_count_bpe2": X.sql_token_count_bpe2(),
        "text_scrub_pii": X.sql_scrub_pii(
            table="(SELECT doc_id, text || ' contact user' || doc_id"
            " || '@example.com or https://ex.io/d/' || doc_id"
            " || ' tel +1-555-' || printf('%04d', doc_id % 10000)"
            " || '-99' AS text FROM documents)"
        ),
        "text_winnow": X.sql_winnow_fingerprints(),
        "text_lm_score": X.sql_lm_familiarity(
            score_pred="doc_id % 5 = 0", train_pred="doc_id % 5 != 0"
        ),
        "media_summary": M.sql_media_summary(),
        "media_features": M.sql_byte_histogram_features(),
        "media_decode": M.sql_media_decode(),
        "media_jpeg_decode": M.sql_media_jpeg_decode(),
        "media_jpeg_decode_progressive": M.sql_media_jpeg_decode_progressive(),
        "media_tiff_webp_decode": M.sql_media_tiff_webp_decode(),
        "media_wav_decode": M.sql_media_wav_decode(),
        "media_audio_features": M.sql_media_audio_features(),
        "media_pixel_features": M.sql_media_pixel_features(),
        "media_avi_frames": M.sql_media_avi_frames(),
        "ann_cosine_topk": S.sql_cosine_topk(),
        "ann_lsh_topk": S.sql_ann_topk_lsh(),
        "ann_lsh_recall": S.sql_ann_lsh_recall(),
        "ann_ivf_topk": S.sql_ann_topk_ivf(),
        "ann_pq_topk": S.sql_ann_topk_pq(),
        "ann_ivfpq_topk": S.sql_ann_topk_ivfpq(),
        # persisted store (write half + append half, frozen full-corpus
        # quantizer) must answer exactly like the inline full build
        "ann_ivfpq_persisted": S.sql_ann_topk_ivfpq(),
        "funnel_conversion": AN.sql_funnel(
            FUNNEL_STEPS, within_seconds=86400 * 30
        ),
        "cohort_retention": AN.sql_cohort_retention(),
        "price_histogram": AN.sql_column_histogram(
            "l_extendedprice", "lineitem", 20
        ),
        "lineitem_correlations": AN.sql_numeric_correlations(
            CORR_COLS, "lineitem"
        ),
        "trade_pagerank": GR.sql_pagerank(TRADE_EDGES_SQL, iters=3),
        "pareto_lineitems": AN.sql_pareto_front(
            "l_extendedprice", "l_quantity", PARETO_LI_SQL
        ),
        "chunk_documents": C.sql_chunk_documents(
            "documents", chunk_tokens=32, overlap=8
        ),
        "normalize_text": X.sql_normalize_text(),
        "fuzzy_link_customers": J.sql_fuzzy_link(
            "customer", "customer", "c_custkey", "c_custkey",
            "c_name", "c_name", 1, block_chars=3, split_threshold=64,
        ),
        "phrase_search": C.sql_phrase_search(PHRASE),
        # incremental == one-shot, so the one-shot twin IS the oracle
        "kmv_incremental": SK.sql_kmv_distinct(),
        "parts_bought_together": AN.sql_co_occurrence(
            "l_orderkey", "l_partkey", "lineitem", 20, 2
        ),
        "orders_expectations": PR.sql_check_expectations(
            EXPECTATION_RULES, "orders"
        ),
        "value_outliers": AN.sql_outliers_iqr("value", "event_id", "events"),
        "activity_gaps": AN.sql_activity_gaps("events", 6 * 3600),
        "embed_rp_project": S.sql_rp_project(
            "embeddings", 16, 64, exploded=True
        ),
        "ann_rp_topk": S.sql_cosine_topk(
            "(" + S.sql_rp_project("embeddings", 16, 64) + ")",
            "vec_id < 3", 5,
        ),
        "embed_near_dup": S.sql_embedding_near_dup(
            table="(SELECT vec_id, embedding FROM embeddings"
            " UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding"
            " FROM embeddings WHERE vec_id % 20 = 0)"
        ),
        "embed_near_dup_ivf": S.sql_embedding_near_dup_ivf(
            table="(SELECT vec_id, embedding FROM embeddings"
            " UNION ALL SELECT vec_id + 1000000 AS vec_id, embedding"
            " FROM embeddings WHERE vec_id % 20 = 0)",
            n_centroids=32, split_threshold=64,
        ),
    }
