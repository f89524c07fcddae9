"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[$SPARK_GRAFT_CPUS]`` (default 32); the same
config block is what we would ship to a real cluster via
``spark-submit --py-files`` (see scripts/run_pipeline.py) — only ``master``
and the memory knobs change.

Scale notes (100 TB / 1000 executors):
- AQE on: runtime partition coalescing + skew-join splitting.
- shuffle.partitions is a *starting* value; AQE coalesces. On a real
  cluster this would be ~2-3x total cores.
- Arrow enabled for every pandas UDF boundary; maxRecordsPerBatch bounds
  the memory of the model-forward UDF batches (SURVEY §4 "pad-to-batch-max").
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# the directory that holds the ``split_ner_spark`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_mem() -> str:
    """Half the machine's physical memory, whole GiB, capped at 32g: a
    driver heap larger than the box lets two sessions on it grow past its
    memory together."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{max(1, min(32, phys // 2 // 1024**3))}g"


def get_spark(
    app_name: str = "split-ner-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    driver_mem: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    if driver_mem is None:
        driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    # shuffle/spill files on tmpfs: the box's virtual disk writes ~250MB/s
    # (measured), which serializes multi-GB shuffles and caps scaling at
    # ~8 threads; /dev/shm sustains ~850MB/s. Real clusters put
    # spark.local.dir on local NVMe for exactly this reason.
    # CAVEAT: tmpfs spill consumes RAM, and a shuffle larger than the shm
    # mount fails with no-space errors that won't reproduce elsewhere — so
    # the default only engages when /dev/shm has ≥8 GiB free; set
    # SPARK_GRAFT_LOCAL_DIR to override either way.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            shm_free = st.f_bavail * st.f_frsize
        except OSError:
            shm_free = 0
        if shm_free >= 8 * 1024**3:
            local_dir = "/dev/shm/spark-local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # round-6 note: raising adaptive.coalescePartitions.initialPartitionNum
        # to 4x cores was tried and REVERTED — it reproducibly doubled the
        # cached-intermediate dedup queries (AQE coalesces the small
        # upstream aggregations differently, starving downstream probes)
        # while the 20M-page pipeline delta stayed inside hypervisor
        # noise. Shuffle width therefore stays at the configured
        # shuffle_partitions with AQE coalescing below it.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Python workers import the package's UDF modules by name; they
        # start in the driver's cwd with the JVM's PYTHONPATH, neither of
        # which holds the package when the driver runs outside the checkout
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``schema`` order; ``schema`` a DDL
    string or StructType) as a ``LocalRelation``-backed DataFrame.

    ``spark.createDataFrame(list, schema)`` plans a ``LogicalRDD`` over a
    pickled Python RDD, so every consumer of the frame re-runs Python-worker
    tasks; an Arrow table below ``spark.sql.execution.arrow.
    localRelationThreshold`` becomes a ``LocalRelation`` that the optimizer
    folds projections into and that scans without a Spark job."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    st = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    cols = list(zip(*rows)) if rows else [()] * len(st.fields)
    table = pa.Table.from_arrays(
        [list(c) for c in cols], schema=to_arrow_schema(st)
    )
    return spark.createDataFrame(table, st)
