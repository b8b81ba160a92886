"""SparkSession factory tuned for the crawl/analytics workload.

Scale posture: AQE on (runtime re-plan + skew-join splitting), shuffle
partitions sized for the local harness but overridable via env for cluster
runs, Arrow enabled for the pandas-UDF extraction path with a bounded batch
size because html payloads are MB-scale.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _faulthandler() -> str:
    return ("true" if os.environ.get("CSS_FAULTHANDLER", "").lower()
            in ("1", "true", "yes", "on") else "false")


def get_spark(
    app_name: str = "chrono-scraper-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 in the harness).
    On a real cluster, pass ``master=None`` with ``spark-submit`` providing
    the master and let dynamic allocation size the executor fleet.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("CSS_SHUFFLE_PARTITIONS", cpus)
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime shuffle-partition coalescing and
        # skew-join splitting — required at 100 TB where host-key skew is
        # guaranteed (one mega-host >= 30% of the frontier).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow path for pandas UDFs (extraction, embedding ops). Batches
        # are capped because html payloads can be MB-scale: 256 rows/batch
        # keeps Arrow buffers ~100s of MB at worst, not GBs — AND measured
        # fastest at 32 cores on realistic 3-8 KB pages (interleaved
        # best-of-3 sweep: 256→70.9k, 1024→48.4k, 4096→55.1k pages/s;
        # smaller batches pipeline/balance better across many workers).
        # Override per-deployment via CSS_ARROW_BATCH.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("CSS_ARROW_BATCH", "256"))
        # Broadcast threshold: dimension tables (hosts, budgets, seeds,
        # robots rules) are small; 64 MB keeps them map-side.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet: pushdown + pruning are the whole point of the columnar
        # layout (reference: analytics/partitioning_strategy.md:12-29).
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # CSS_FAULTHANDLER=1 surfaces a Python traceback when an
        # Arrow/pandas-UDF worker dies (diagnostic; the handler writes a
        # temp file per task, so it stays off for benchmark runs).
        # Spark's boolean conf parse is strict ("1" throws), so truthy env
        # values are normalized here.
        .config("spark.python.worker.faulthandler.enabled", _faulthandler())
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled",
                _faulthandler())
        .config("spark.driver.memory", os.environ.get("CSS_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
