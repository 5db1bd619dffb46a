"""Session set-up and the small Spark observation helpers every workload
shares: the timed set-up phases, the fixed warm-up, the canary plan, and
reads of Spark's status/REST APIs.

The program is driven only through its public entry points
(``session.get_spark``, ``registry.load_all`` / ``QUERIES``,
``tables.load``); nothing inside ``aprsdb_spark`` is patched.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request

# Queries that write to the fixed ``/tmp/aprsdb_spark_sources`` directory
# of ``aprsdb_spark/queries/sources.py``; the benchmark must only touch
# files inside its checkout, so these never enter a sample.
OUTSIDE_WRITERS = frozenset(
    {
        "a_scan_csv",
        "a_scan_json",
        "a_scan_evolve",
        "a_scan_orc",
        "a_sink_partitioned",
        "a_sink_bucketed",
        "a_scan_xml",
        "a_scan_csv_permissive",
        "a_scan_json_permissive",
        "j_ann_pq_sink",
    }
)


def setup(sf_dir: str, app: str, t_start: float) -> tuple[object, dict[str, float]]:
    """Import, register every qid, start the session and warm it.

    Returns the session and the phase times; ``t_start`` is the
    ``perf_counter`` reading taken when the process began."""
    phases: dict[str, float] = {}
    import pyspark  # noqa: F401

    from aprsdb_spark.registry import load_all

    load_all()
    t1 = time.perf_counter()
    phases["import_s"] = t1 - t_start
    from aprsdb_spark.session import get_spark, tune

    spark = tune(get_spark(app))
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.perf_counter()
    phases["start_s"] = t2 - t1
    warm(spark, sf_dir)
    phases["warm_s"] = time.perf_counter() - t2
    phases["setup_s"] = time.perf_counter() - t_start
    return spark, phases


def warm(spark, sf_dir: str) -> None:
    """Pay the per-session fixed costs before anything is timed: table
    footers, whole-stage codegen, the Python UDF daemons, and a first
    pass of the scan, join, aggregate, window, sort and string paths over
    the workload's tables. None of it computes a qid's input or leaves
    anything cached."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf, udf

    from aprsdb_spark.tables import load

    t = load(spark, sf_dir)
    ident = pandas_udf(lambda s: s, "long")
    same = udf(lambda x: x, "long")
    latest = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").desc())
    plans = [
        t.lineitem.groupBy("l_returnflag").agg(F.sum("l_extendedprice"), F.count("*")),
        t.orders.join(t.customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(t.nation, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum("o_totalprice")),
        t.orders.withColumn("rk", F.row_number().over(latest)).where("rk = 1").orderBy("o_totalprice").limit(10),
        t.documents.agg(F.sum(F.length(F.regexp_replace("text", "[aeiou]", "")))),
        t.region.select(ident(F.col("r_regionkey")), same(F.col("r_regionkey"))),
    ]
    for df in plans:
        df.collect()


def canary(spark, sf_dir: str, n: int = 3) -> float:
    """Median time of a fixed trivial plan: the host/session health
    reading stamped on every record before and after the timed region."""
    from aprsdb_spark.tables import load

    region = load(spark, sf_dir).region
    times = []
    for _ in range(n):
        t = time.perf_counter()
        region.groupBy("r_name").count().collect()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


class Rest:
    """Spark's monitoring REST API for the running application."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)


def stop(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
