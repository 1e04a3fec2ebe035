"""SparkSession factory tuned for the engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the
same configs are what we would ship to a 1000-executor cluster, with the
scale-dependent knobs (shuffle partitions, maxPartitionBytes) derived from
input size rather than hard-coded — see ``scaled_shuffle_partitions``.

Key posture for 100 TB:
- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast).
- UTC session timezone (oracle comparability + sanity across clusters).
- Arrow transfers on (every Pandas-UDF path is Arrow-batched).
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden per-job from input bytes (AQE coalesces the excess).
- store listing on the driver. The hash-bucketed stores (text index,
  dedup index, media store) write up to ``MAX_DIR_FANOUT`` ``bucket=N``
  directories per batch. Spark lists a directory with more children
  than ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32 by
  default) through a Spark job, which would make every store read
  schedule one "Listing leaf files" job per batch directory. The
  threshold is set to the fan-out, so these listings run on the driver
  (milliseconds on local/HDFS). ``s3a`` roots keep Spark's flat
  ``listFiles`` call (``spark.sql.sources.useListFilesFileSystemList``),
  so object stores do not fall back to one call per directory. A wider
  fan-out (a corpus-sized ANN ``nlist``) still lists through a job,
  which pays off at that width.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Widest directory fan-out the engine writes (the stores' N_BUCKETS and
# the feed-bootstrapped ANN/PQ nlist default are pinned at or below it
# in tests): listings up to this many children run on the driver.
MAX_DIR_FANOUT = 64


def get_spark(
    app_name: str = "http-feeds-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    In local mode one JVM hosts all executor threads, so
    ``spark.driver.memory`` is the only memory knob; on a cluster the same
    builder is used with master/memory supplied by the deployment.
    """
    # make this package importable in Python workers even when the driver
    # process was started from another directory (UDF closures may still
    # reference module-level helpers)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{repo_root}{os.pathsep}{existing}" if existing else repo_root

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # local mode: all memory lives in the driver JVM
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        # driver testdata stores events.ts as TIMESTAMP(NANOS); Spark 4 has
        # no nanos timestamp type — read as long, convert on load (tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # pin the warehouse to the repo root, not the caller's CWD: the
        # ensure-once bench/index artifacts (text corpus, ANN/BM25
        # stores) must resolve to ONE location whatever directory the
        # driver/bench/test process launched from
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", os.path.join(repo_root, "spark-warehouse")
            ),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # python streaming sources + many short-lived UDF stages: give the
        # worker fork/connect-back path headroom under load (default 15s)
        .config("spark.python.authenticate.socketTimeout", "120s")
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            str(MAX_DIR_FANOUT),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def scaled_shuffle_partitions(input_bytes: int, target_partition_bytes: int = 128 * 1024 * 1024) -> int:
    """Scale-out rule: one ~128 MB shuffle partition per input chunk.

    At 100 TB this yields ~800k partitions pre-AQE; AQE coalesces after
    filters. Never fewer than the core count so local runs stay parallel.
    """
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return max(cores, input_bytes // target_partition_bytes)
