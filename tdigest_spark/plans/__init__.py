"""Session construction + plan inspection helpers.

Everything here is configuration, not mechanism: the library's operators
are declarative DataFrame transformations, so Catalyst/AQE do the physical
planning. The knobs below are the ones that matter for the digest workload:

- Arrow execution on (the UDF boundary is Arrow batches; the 10k default
  batch size equals the reference's ingestion chunk, TDigest.jl:134-138)
- AQE on (runtime coalescing + skew splitting as a backstop)
- UTC session timezone (duckdb-oracle comparability)
- shuffle partitions sized to cores for local runs (the driver overrides
  per-cluster in production via spark-submit --conf)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    master: str | None = None,
    app_name: str = "tdigest_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # make the package importable in executor Python workers no matter the
    # driver's cwd; on a real cluster, ship it via spark-submit --py-files
    pkg_root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    prev = os.environ.get("PYTHONPATH", "")
    if pkg_root not in prev.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + prev if prev else "")
        )
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[6:-1]
            shuffle_partitions = cpus if inner == "*" else int(inner)
        else:
            shuffle_partitions = 200
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        # keep saveAsTable artifacts (bucketed tables) out of the repo cwd
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", "/tmp/tdigest_spark_warehouse"
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def shuffle_totals(spark: SparkSession) -> tuple[int, int]:
    """Cumulative (shuffle_write_bytes, shuffle_read_bytes) across every
    stage the app-status store still retains.  Diff two snapshots around
    a query to MEASURE its shuffle volume — the quantitative check on
    the plan-audit promises (a 'no corpus shuffle' claim should show up
    here as KBs, not GBs).  Long sessions should raise
    spark.ui.retainedStages so old stages don't age out between the two
    snapshots."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()  # type: ignore[attr-defined]
    jvm = sc._jvm  # type: ignore[attr-defined]
    empty = jvm.java.util.Collections.emptyList()
    dbl0 = sc._gateway.new_array(jvm.double, 0)  # type: ignore[attr-defined]
    stages = store.stageList(empty, False, False, dbl0, empty)
    w = r = 0
    for i in range(stages.size()):
        s = stages.apply(i)
        w += s.shuffleWriteBytes()
        r += s.shuffleReadBytes()
    return int(w), int(r)


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """Return the physical plan as a string (df.explain prints to stdout)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )

