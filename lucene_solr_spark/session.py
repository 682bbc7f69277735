"""SparkSession factory with the engine's scale-oriented defaults.

Sandbox runs local[N]; on a real cluster the same config applies minus
`master` (spark-submit provides it). All knobs chosen for the 100 TB
design point and merely inherited by the small tiers:
  - AQE on (runtime coalescing + generic skew-join splitting),
  - Arrow batches capped so pandas UDF memory stays bounded,
  - shuffle partitions sized to cores locally (cluster: 2-3x total cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "lucene_solr_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    # make the package importable in local-mode python workers no matter
    # where the driver was launched (cluster: spark-submit --py-files)
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pp if pp else "")
        )
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus), 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # finer cached-table batches: posting rows carry large binary
        # cells, so 10k-row default batches defeat min/max pruning on
        # the sorted term column and decompress far too much per query
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "1024")
        # keep cached-plan output partitioning VISIBLE to consumers:
        # the query path relies on the postings cache's gid hash
        # partitioning being reused by groupBy(gid).applyInPandas (zero
        # per-query shuffles); letting AQE re-partition cached plans
        # hides it and reintroduces an Exchange per query
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "false",
        )
        .config("spark.sql.parquet.compression.codec", "zstd")
        # shuffle/spill scratch: overridable so benchmarks can place it
        # on a per-executor-class resource (each cluster executor has
        # its own local disks; the shared single VM disk is a hardware
        # artifact of the sandbox, like the shared memory bus)
        .config("spark.local.dir",
                os.environ.get("LSS_LOCAL_DIR", "/tmp"))
        .config("spark.driver.memory", os.environ.get("LSS_DRIVER_MEM", "24g"))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # UI off by default (saves driver memory/port churn in tests);
        # LSS_UI=1 turns it on for live inspection (per-stage metrics of
        # a run: the perfbench ledger, perfbench/run.py --trace 1)
        .config("spark.ui.enabled", os.environ.get("LSS_UI", "false"))
        # python workers fork from a daemon that keeps zip directories
        # cached across tasks and preloads the kernel modules
        .config("spark.python.daemon.module", "lucene_solr_spark.pyworker")
        # one daemon for every Python task: Spark starts a daemon per
        # distinct worker environment, and SQL UDF tasks add
        # SPARK_SIMPLIFIED_TRACEBACK where Python RDD tasks (e.g.
        # createDataFrame from a local list) do not, so the first RDD
        # job would start a second daemon, preload and all, mid-workload
        .config("spark.sql.execution.pyspark.udf.simplifiedTraceback.enabled",
                "false")
    )
    return builder.getOrCreate()
