"""SparkSession factory with scale-oriented defaults.

Tuned for correctness on local[N] test runs while encoding the
settings we'd ship on a 1000-executor cluster: AQE (runtime re-plan,
skew-join handling, partition coalescing), Arrow for any
Python<->JVM data movement, and a bounded broadcast threshold so
dimension tables broadcast instead of shuffling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that matter at 100 TB and are safe on local[N]:
#  - AQE: runtime partition coalescing + skew-join splitting; on a big
#    cluster this is what keeps one hot ticker/key from stalling a stage.
#  - adaptive.skewJoin: splits skewed shuffle partitions automatically.
#  - Arrow: every pandas_udf / toPandas crossing is columnar-batched.
#  - autoBroadcastJoinThreshold: 64MB — region/nation/supplier/part
#    stay broadcast even at large SF; fact-fact joins still shuffle.
#  - shuffle.partitions: overridable; AQE coalesces down when small.
_DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE re-plan cached plans too (Spark 4.1 defaults this off):
    # an operator cache whose plan ends in a join or aggregate
    # exchange is then stored at its coalesced partition count, not
    # at shuffle.partitions, so every later scan of a KB-sized cache
    # runs a few tasks instead of 32. Explicit repartition(n) /
    # repartitionByRange(n, ...) shuffles are never coalesced, so the
    # _pid ranges in operators/ids.py keep n parts. A plain session
    # handed to __spark_entry__.entry (or selfcheck's
    # SELFCHECK_VANILLA one) lacks this conf and keeps the uncoalesced
    # caches; the per-file schema cache (catalog.py) and the
    # driver-side local CC path (graph.py) do not depend on it.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python data-source filter pushdown (4.1): lets the txlog batch
    # format's pushFilters see .where() conjuncts and plan only the
    # files partition values / zone maps / bloom sidecars keep.
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
}


def get_spark(app_name: str = "gcp-data-engineering-workshop-spark",
              master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*]).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
