"""SparkSession factory tuned for the pipeline.

Scale notes (100 TB / 1000 executors): every knob here is either
cluster-size-relative (shuffle partitions ~ 2-3x total cores) or a
pure enable flag (Arrow) that is correct at any scale. Nothing below
hardcodes a data size. Only values that differ from Spark's defaults
are set: AQE with skew-join splitting and partition coalescing is on
by default, as is a 128 MiB scan split.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def build_session(
    app_name: str = "logging-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a session with the pipeline's standard configuration.

    - Arrow on: the grok parser and embedding kernels are pandas UDFs.
    - UTC session timezone: required for oracle (DuckDB) comparison.
    - shuffle partitions default to 2x cores locally; on a real
      cluster set ~2-3x total executor cores via spark-submit --conf.
    """
    # Under spark-submit the JVM gateway already exists and carries the
    # submit-time conf (--master, --conf ...). Those MUST win over this
    # module's local-mode defaults: overriding --master local[N] with
    # local[cpu_count] silently runs every leg of a scaling comparison
    # at full width (this exact bug shipped in round 1 — the N-vs-4N
    # evidence was two identical configs measuring ambient noise).
    submitted = "PYSPARK_GATEWAY_PORT" in os.environ
    submit_conf: dict[str, str] = {}
    if submitted:
        try:
            # attach to the gateway spark-submit already launched (a
            # plain SparkConf() here is python-local and EMPTY — the
            # submit conf lives in the JVM's system properties)
            from pyspark.java_gateway import launch_gateway

            props = launch_gateway().jvm.java.lang.System.getProperties()
            names = props.stringPropertyNames().iterator()
            while names.hasNext():
                k = names.next()
                if k.startswith("spark."):
                    submit_conf[k] = props.getProperty(k)
        except Exception:
            submit_conf = {}
    submit_master = submit_conf.get("spark.master")
    if cores is None and submit_master and submit_master.startswith("local["):
        n = submit_master[len("local["):-1]
        cores = (os.cpu_count() or 8) if n == "*" else int(n)
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cores * 2, 8)
    # Sandbox/local-mode tuning (harmless on a real cluster where
    # spark-submit --conf overrides): shuffle spill dirs on tmpfs when
    # available (a virtio disk serializes concurrent writers).
    local_dir = None
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/spark-local"
    builder = SparkSession.builder.appName(app_name)
    if not submit_master:
        builder = builder.master(f"local[{cores}]")
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # LAST_WIN = python-dict duplicate-key semantics inside
        # map_from_entries (first position, last value): lets the
        # parser skip its O(k^2) interpreted dedup fallback
        # (functions/parse.py) — measured ~2x parse-stage speedup
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # v2 commit: task outputs move to the destination at task
        # commit (parallel, on executors) instead of one serial
        # driver-side rename pass at job commit — measurably shorter
        # commit floor for many-partition sink writes. A failed job
        # can leave committed task files in the cells it owned; the
        # next run clears those cells before it appends (the
        # tests/test_resume.py crash cases).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # Local-FS metadata cost: pip-installed PySpark has no native
        # libhadoop, so Hadoop's LocalFileSystem shells out (fork+exec
        # of chmod/ls) for EVERY permission op and writes a .crc twin
        # per file — profiled at ~90% blocked time in many-file sink
        # writes (jstack: Shell.runCommand under task threads).
        # RawLocalFileSystem skips checksum twins and most permission
        # shelling; durability is parquet's own checksums + the
        # clear-and-rewrite resume story. On a real cluster sinks
        # live on HDFS/S3 and this conf is inert.
        .config("spark.hadoop.fs.file.impl",
                "org.apache.hadoop.fs.RawLocalFileSystem")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs",
                "false")
        # One pipeline run compiles ~72 generated classes (parse, the
        # route's rules, writes, stats, aggregates). Spark's default
        # 100-entry cache is 4 LRU segments of 25, and the key holds
        # the class loader's identity hash, so in some JVMs a segment
        # gets more live classes than it holds: those are evicted and
        # recompiled in every later run (measured: 19 per run), and
        # the JIT warms each new copy from scratch. A roomier cache
        # keeps a run's classes resident in every JVM.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    # zstd sink files: ~3x smaller than snappy on log-like text, which
    # converts sink-write time from (serial) disk bandwidth into
    # (parallel) compression CPU — better wall time AND better scaling
    builder = builder.config("spark.sql.parquet.compression.codec", "zstd")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # NB: driver JVM options (e.g. a GC choice) CANNOT be set here —
    # in client/local mode the driver JVM is already running by the
    # time builder confs apply; they take effect only via spark-submit
    # --conf spark.driver.extraJavaOptions=... Nothing in this repo
    # passes one, so every run uses the JVM's default GC.
    # spark-submit's explicit conf wins over every module default above
    for k, v in submit_conf.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
