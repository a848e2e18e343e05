"""SparkSession builder with scale-oriented defaults.

Local-mode testing stands in for a multi-executor cluster; every setting here
is chosen to also be the right default at 1000 executors:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- Arrow on for all pandas UDF boundaries (input_hint: no per-row Python)
- shuffle partitions sized to cores locally; on a real cluster this is set to
  2-3x total executor cores via spark-submit conf
- maxPartitionBytes kept at 128m so a 100 TB scan yields ~800k well-sized tasks
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "pdfsearch_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name)
    if master == "submit":
        # master="submit" defers master AND sizing confs to spark-submit's
        # --master/--conf (the cluster path: shuffle partitions belong at
        # 2-3x total executor cores, which only the submitter knows); an
        # explicit shuffle_partitions arg still wins.
        if shuffle_partitions is not None:
            builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    else:
        if shuffle_partitions is None:
            n = cpus if cpus != "*" else os.cpu_count() or 8
            shuffle_partitions = int(n)
        builder = builder.master(master).config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions)
        )
    builder = (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # partition discovery: list up to 1024 partition dirs driver-side.
        # The default (32) fans every read of a (segment, shard)-partitioned
        # index table out into a 100+-task distributed listing job — pure
        # scheduler overhead at local/bench scale (measured: 4 such jobs per
        # build, each ~128 one-file tasks). Above the threshold (e.g. 10^5
        # shards at corpus scale) listing still distributes.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1024")
        # per-partition overwrite (resume writes only its shards)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # v2 commit: tasks move their own output files; v1 renames every
        # partitioned-output file serially on the driver, a pure-Amdahl cost
        # that caps scaling once compute is spread over enough cores
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # zstd for all parquet writes: ~25-35% fewer bytes than snappy on the
        # varint posting blobs and stored text. The extra encode CPU is paid
        # where cores are abundant, the bytes saved where write bandwidth is
        # the constraint — exactly the trade a 100 TB index wants (and on
        # this host it is what lets the write phase scale with cores).
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Production-style JVM sizing, opt-in (SPARK_GRAFT_PRETOUCH=1, set by
        # the scaling bench): fixed heap (Xms=Xmx) + AlwaysPreTouch faults
        # every heap page in at JVM start — otherwise the heap grows DURING
        # the first build and tens of GB of page-zeroing serialize on the
        # kernel memory lock exactly when all task slots are busy. On a real
        # cluster this is standard executor JVM tuning set via spark-submit;
        # it is opt-in here because tests open many short-lived sessions and
        # pre-touching 16 GB per session would dominate their runtime.
        .config(
            "spark.driver.extraJavaOptions",
            (
                f"-Xms{os.environ.get('SPARK_DRIVER_MEM', '8g')} "
                "-XX:+AlwaysPreTouch"
            )
            if os.environ.get("SPARK_GRAFT_PRETOUCH") == "1"
            else "",
        )
        # scratch (shuffle/spill) location override. The scaling bench points
        # this at tmpfs: on a real cluster shuffle bandwidth scales with
        # executor count (each brings its own disks), so letting all local
        # configs contend for ONE shared VM disk would measure that disk,
        # not the engine's N->4N behavior.
        .config(
            "spark.local.dir",
            os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/tmp"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # glibc malloc tuning for the Python workers (vectorized UDFs):
        # by default every >128 KB allocation is mmap'd and returned to the
        # OS on free, so each Arrow batch / numpy temp in the encode and
        # extract hot loops re-faults its pages on every call — and with
        # many concurrent workers those faults serialize on kernel memory
        # locks (measured: 23-35% per-encode overhead at 8-32 workers; see
        # SURVEY.md §5.3, the r3 scaling fixes). Raising the mmap threshold and
        # disabling trim keeps the scratch pages resident in the worker for
        # its lifetime. ~256 MB per worker upper bound, freed on worker exit.
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "268435456")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "268435456")
    )
    return builder.getOrCreate()
