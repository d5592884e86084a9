"""SparkSession construction with scale-appropriate defaults.

Single place to configure AQE, Arrow transport, and shuffle sizing so
tests/bench/pipeline all run under the same physical assumptions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "jsonld-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession.

    cores defaults to $SPARK_GRAFT_CPUS (driver contract) or all cores.
    shuffle_partitions defaults to 2x cores — small enough to avoid
    tiny-task overhead locally while AQE coalesces further at runtime;
    on a real cluster this would be set from executor count x cores.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    codec = (extra_conf or {}).get(
        "spark.io.compression.codec", os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        # Adaptive execution: runtime coalescing + skew-join splitting
        # io codec (r6, measured twice): a process-interleaved per-QUERY
        # A/B (2 bench.py runs each way) has lz4 at-or-ahead on 11/12
        # headline mins (sim_lsh_ann_topk 1.50 vs 1.68, rel_suite 1.05
        # vs 1.31, text_stats 0.48 vs 0.59, frame 4.97 vs 5.42) — zstd's
        # CPU cost shows up in every cache/shuffle-heavy query, and the
        # earlier "wash" verdict compared only noisy totals. zstd's win
        # is spill RATIO: the ~1e9-row candidate sort of degree-weighted
        # negative sampling at sf0.1 fills the sandbox disk under lz4
        # and survives under zstd — so large-volume spilling jobs opt in
        # via SPARK_GRAFT_IO_CODEC=zstd (tools/volume_check.py and
        # tools/check_oracles.py do); the default stays Spark's lz4.
        # The codec is fixed when the SparkContext starts, so an opt-in
        # against an already-running session fails fast below.
        .config("spark.io.compression.codec", codec)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow transport for pandas UDF stages; bound batches by rows —
        # transcript text length is skewed, so keep batches modest
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # Parquet scan sizing: 128 MiB splits, matching cluster defaults
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Local-mode sizing (r6): this single JVM hosts ALL executor
        # threads, so the heap must be sized like a whole executor
        # fleet, not a driver — 8g gave 32 concurrent tasks ~250 MB
        # each and the billion-row candidate sorts (negative sampling
        # at sf0.1) died in SPILL_OUT_OF_MEMORY; 24g ≈ 750 MB/task
        # matches ordinary per-task executor sizing on a real cluster
        # (guide §5). Overridable via $SPARK_DRIVER_MEMORY.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    active = spark.sparkContext.getConf().get("spark.io.compression.codec", "lz4")
    if active != codec:
        raise RuntimeError(
            f"spark.io.compression.codec={codec!r} was requested but the running "
            f"SparkContext uses {active!r}: getOrCreate reused a session started "
            "with another codec. Stop that session first, or set "
            "SPARK_GRAFT_IO_CODEC before the first get_spark call.")
    return spark


def read_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one of the driver-provided parquet tables."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship the jsonld_spark package to executors (the local-mode
    equivalent of ``spark-submit --py-files jsonld_spark.zip``).

    Python workers don't inherit the driver's sys.path, so any
    mapInPandas closure referencing kernel functions needs the package
    importable on the worker. Zips the package once per session and
    registers it via addPyFile. Idempotent."""
    sc = spark.sparkContext
    if getattr(sc, "_jsonld_spark_shipped", False):
        return
    import zipfile

    import jsonld_spark

    pkg_dir = os.path.dirname(os.path.abspath(jsonld_spark.__file__))
    zip_path = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), f"jsonld_spark_pyfiles_{os.getpid()}.zip"
    )
    if not os.path.exists(zip_path):
        with zipfile.ZipFile(zip_path, "w") as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fname in files:
                    if not fname.endswith(".py"):
                        continue
                    full = os.path.join(root, fname)
                    rel = os.path.join(
                        "jsonld_spark", os.path.relpath(full, pkg_dir)
                    )
                    zf.write(full, rel)
    sc.addPyFile(zip_path)
    sc._jsonld_spark_shipped = True
