"""SparkSession factory tuned for both local testing and cluster scale.

The reference opens one MySQL connection per Lambda invocation
(``order.js:521-588``); our analog is one long-lived SparkSession whose
configuration encodes the scale decisions:

- AQE on: runtime coalescing, skew-join splitting, and dynamic join-strategy
  re-planning replace the reference's hand-tuned page caps.
- shuffle partitions sized to the parallelism actually available (on a real
  cluster this should be ~2-3x total executor cores; AQE coalesces down).
- Arrow enabled so the Pandas-UDF slow path is batch-columnar, never row-wise.
- UTC session timezone so timestamp semantics are engine-independent
  (matters for the DuckDB oracle comparison).
- Python workers forked from this package's ``worker_daemon``. Under
  PySpark's own daemon every Python-UDF task first re-parses the
  directory of each zip archive the worker imports from
  (``pyspark.zip``, the spark-core jar): on a 4-core host a trivial
  100-row ``mapInPandas`` task ran 140-270 ms (a plain JVM task: 2 ms).
  The package's daemon re-reads an archive only when it changed, and
  the same task runs in about 55 ms. Executors must therefore be able
  to import this package, which every kernel of it (``mapInPandas``/UDF
  bodies defined in its modules) already requires. In local mode the
  session puts the package's parent directory on
  ``spark.executorEnv.PYTHONPATH``, which PySpark merges into the
  workers' path, so a driver that reached the package through its own
  ``sys.path`` from any working directory gets working Python workers.
  On a cluster the submitter ships the package (``--py-files``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "rdbms-blob-s3-spark", cpus: str | int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    In local mode the driver is the only JVM, so ``spark.driver.memory`` is
    the single memory knob; on a cluster the same config block applies with
    ``master`` supplied by the submitter.
    """
    cpus = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Bytes underestimate cost for expression-heavy stages (shingling,
        # minhash, simhash): don't let AQE coalesce a small-but-CPU-bound
        # shuffle below 64 KiB chunks, so those stages keep all cores busy.
        # At production scale partitions are >> this; the knob is inert there.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime bloom-filter join (off by default in OSS): inject a
        # might_contain pre-filter on the probe side of selective shuffle
        # joins. The default 10GB application-side threshold keeps it
        # inert on small local runs — it engages exactly when a 100 TB
        # probe makes it pay (plan-proven in test_optimizer_features).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python UDTFs ship rows through Arrow batches too (the default
        # pickle path plans as BatchEvalPythonUDTF — row-at-a-time; the
        # fleet-wide plan linter forbids it)
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # TIMESTAMP(NANOS) fixture files are readable from session start
        # (as int64 nanos + the loader's fix-up projection). Set here, not
        # only lazily in sources/tables.py, so the conf's session-global
        # lifetime is explicit: ALL fixture reads must go through
        # load_table/load_events — a direct spark.read.parquet on a nanos
        # file yields raw bigint columns with no fix-up either way.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        builder = builder.master(f"local[{cpus}]").config(
            "spark.executorEnv.PYTHONPATH", root
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
