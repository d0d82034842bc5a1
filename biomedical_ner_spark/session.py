"""SparkSession factory with scale-oriented defaults.

Tuned for the target deployment (1000-executor cluster over ~100 TB of
documents) while remaining correct on local[N]:

  * AQE on: runtime partition coalescing + skew-join splitting backs up the
    explicit salting the canonicalization stage does (SURVEY.md §4.3.2).
  * Arrow on: every Python crossing is a vectorized record-batch transfer;
    maxRecordsPerBatch sized so a batch of ~100-token docs stays ~10-40 MB.
  * shuffle.partitions: overridable; at cluster scale set ~2-3x total cores.
  * codegen cache: 1000 generated classes instead of Spark's 100.  The
    cache is JVM-wide and LRU, and one warm pass of the KG build or of the
    bench's query suite needs 200-224 distinct classes, so at 100 every
    warm pass of the same plans recompiled (and re-JITed) nearly all of
    them.  A long-lived session (resume, micro-batch stream_kg, the
    registry served from one JVM) now compiles each class once.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "biomedical_ner_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    # local-mode shuffle files default to /tmp (a ~135 MB/s virtual disk
    # here); a real cluster node has fast local SSD — emulate with tmpfs so
    # benchmarks measure the engine, not the sandbox disk
    local_dir = None
    if os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # throughput GC: G1's concurrent phases contend badly with 32
        # compute threads in a single local-mode JVM (measured 60s -> 21s
        # on the 240k-doc extract+triples job); on a real cluster each
        # executor JVM is smaller and this matters less, but ParallelGC is
        # the right default for batch-throughput work either way
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        # a multi-GB old-gen collection under ParallelGC can stall the
        # heartbeat thread past the 120 s default; in local mode a missed
        # heartbeat is FATAL (BlockManager re-registration looks up the
        # CoarseGrainedScheduler endpoint, which only exists on a cluster,
        # so the executor can never rejoin and exits after 60 strikes) —
        # give big-heap batch runs the same slack a production cluster
        # config would
        .config("spark.network.timeout", "600s")
        .config("spark.executor.heartbeatInterval", "30s")
        # generated-class cache (a static conf, JVM-wide, LRU; default
        # 100).  Distinct classes compiled with an unbounded cache, two
        # passes each on local[2]: a 4k-file KG build 200, the bench's 16
        # query leaves at sf0.1 224, the 63 registry queries at sf0.001
        # 875; the KG build plus the 16 leaves 384 and all three in one
        # JVM 936.  1000 is the smallest round size that holds all of
        # them.  LRU has the inclusion property: a larger cache never
        # lowers the hit rate of any access sequence.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def driver_frame(spark: SparkSession, rows: list[tuple],
                 schema: str | StructType) -> DataFrame:
    """``createDataFrame(rows, schema)`` shipped as one ``pyarrow.Table``:
    a JVM-side local relation instead of a pickled Python RDD, so no job
    that scans it starts a Python worker.  The schema is the same."""
    st = schema if isinstance(schema, StructType) else DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(st)
    cols = list(zip(*rows)) if rows else [()] * len(st.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema)
    return spark.createDataFrame(table, st)


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compilations of generated classes so far in this JVM (every
    session in it, driver and local-mode tasks alike): a cache miss in
    Spark's codegen cache is one compilation."""
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()
