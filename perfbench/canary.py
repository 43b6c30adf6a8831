"""Host-speed canary: a small fixed job timed next to the measured window.

On a virtual machine whose vCPUs the hypervisor takes away (steal), every
wall-clock and CPU number of a run moves with the host, not with the
program. The canary exercises the same paths a cycle does (driver-side
Python, py4j round trips, one small four-task Spark job with a shuffle)
on fixed, data-independent input, so its time tracks the host's speed
at the moment of the run. Workloads time it just before and just after
their measured window and scale their time metrics by
``REF_S / canary median`` (``REF_S`` is about the canary's time on an
idle host), which puts runs made on a busy host and on an idle one on
one scale: on a host whose steal share moved between 1% and 13%, raw
freshness p50 spread by 20% (quartile distance over median, five runs)
and the scaled one by 6.5%.
"""

from __future__ import annotations

import statistics
import time

REF_S = 0.5  # about the canary median on an idle 4-vCPU host
REPS = 2  # per measure() call; workloads call it before and after


def _once(spark) -> float:
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    df = spark.createDataFrame([(i, f"k{i % 97}") for i in range(2000)], "i long, k string")
    (
        df.select("k", (F.xxhash64("k", "i") % 1000).alias("h"))
        .repartition(4, "k")
        .groupBy("k")
        .agg(F.sum("h").alias("s"), F.count("*").alias("n"))
        .collect()
    )
    return time.perf_counter() - t0


class Canary:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.samples: list[float] = []

    def measure(self) -> None:
        self.samples.extend(_once(self.spark) for _ in range(REPS))

    def median(self) -> float:
        return statistics.median(self.samples)

    def scale(self) -> float:
        """Factor that maps this run's times onto the idle-host scale."""
        return REF_S / self.median()


class QueryCanary:
    """A canary shaped like ``feed_sync_query``'s queries: a GROUP BY and
    a point lookup over a small fixed parquet table, through the Spark
    DataFrame API only (no package code, and no ``SparkSession.sql``, so
    the traced run opens no span for it). One sample takes ~0.2 s, cheap
    enough to take after every round of measured queries, so its median
    follows the host through the whole window rather than at its two
    ends. On a host whose steal share moved between 0.5% and 23% across
    five runs, the unscaled query p50 and p90 spread by 0.71 and 0.87
    (quartile distance over median) and the scaled ones by 0.05 and 0.11.
    The queries and the canary slow down alike when the host does; the
    heavier set-up does not (see ``workloads.scaled``).
    """

    REF_S = 0.18  # about one sample on an idle, warmed-up 4-vCPU host

    def __init__(self, spark, path) -> None:
        from pyspark.sql import functions as F

        self.F = F
        (spark.range(4000)
         .select(F.concat(F.lit("k"), (F.col("id") % 97).cast("string")).alias("k"),
                 F.col("id").alias("v"))
         .repartition(4).write.parquet(str(path)))
        self.df = spark.read.parquet(str(path))
        self.samples: list[float] = []

    def sample(self) -> None:
        F = self.F
        t0 = time.perf_counter()
        self.df.groupBy("k").agg(F.count("*"), F.sum("v")).collect()
        self.df.where(F.col("v") == 17).collect()
        self.samples.append(time.perf_counter() - t0)

    def median(self) -> float:
        return statistics.median(self.samples)

    def scale(self) -> float:
        """Factor that maps this window's times onto the idle-host scale."""
        return self.REF_S / self.median()
