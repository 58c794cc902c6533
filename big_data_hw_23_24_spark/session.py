"""SparkSession builder profiles.

The reference programs hand-build a ``SparkConf`` per homework (e.g.
``G019HW1.java:53-56``, ``G016HW2.java:55-60`` with
``spark.locality.wait=0s``). Here a single builder supplies the session
for every operator, with AQE on so Catalyst re-plans joins/partitions at
runtime — the engine's substitute for the reference's hand-tuned
``repartition(L)`` calls.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local test profile. local[N] = one JVM; shuffle partitions sized to
# cores, not the 200 default (both set in get_session). On a real
# cluster these confs are supplied by spark-submit; only the
# AQE/timezone lines matter there.
_LOCAL_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.ui.enabled": "false",
    # mirrors the reference cluster profile (G016HW2.java:58)
    "spark.locality.wait": "0s",
    # testdata events.ts is TIMESTAMP(NANOS) parquet, which Spark 4
    # refuses by default; read as long and convert in sources.tables.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_session(app_name: str = "big_data_hw_23_24_spark",
                master: str | None = None,
                extra_confs: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; pass
    ``None`` under spark-submit on a cluster and the submitted master
    wins (getOrCreate reuses the active session). ``SPARK_GRAFT_CPUS``
    defaults to the cores this process may run on and also sizes the
    shuffle partitions; ``SPARK_GRAFT_DRIVER_MEM`` defaults to 24g.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        master = f"local[{cpus}]"
    builder = builder.master(master)
    confs = {
        **_LOCAL_CONFS,
        "spark.sql.shuffle.partitions": cpus,
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"),
    }
    if extra_confs:
        confs.update(extra_confs)
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
