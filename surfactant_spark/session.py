"""SparkSession factory tuned for the KG-construction workload.

Local sandbox runs on ``local[N]``; on a real cluster the same configs
apply (AQE, Arrow, skew-join) — only master/executor settings change.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def host_cores() -> int:
    """Cores for ``local[N]``: ``$SPARK_GRAFT_CPUS``, else the CPUs this
    process may run on (its affinity mask, which a ``taskset`` narrows)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    """``spark.driver.memory``: ``$SPARK_GRAFT_DRIVER_MEM``, else
    min(16g, MemTotal/4).  In single-JVM local mode the driver heap IS
    executor memory.  16g was the measured sweet spot on a 128 GiB host
    (an oversized 48g heap regressed UDF throughput ~4x: GC/allocation
    pathology), and big intermediates flow through parquet stage
    boundaries, not the heap.  A quarter of MemTotal leaves room for the
    Python workers, the page cache and a second JVM (the kill-resume
    tool runs two): on a 15 GB host a 16g heap got the JVM OOM-killed at
    7.7 GB RSS."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    with open("/proc/meminfo") as f:
        total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    return f"{min(16 * 1024, total_kb // 4 // 1024)}m"


# Defaults for the single-JVM sandbox, heap sized from the host.
# At 100 TB / 1000 executors the same knobs are set by spark-submit conf;
# shuffle.partitions should then be ~2-3x total cores and is overridden
# per-deployment, not hardcoded in operators.
_DEFAULTS = {
    # Let AQE coalesce small shuffle partitions and split skewed ones at
    # runtime.  Explicit salting (operators/skew.py) is still applied for
    # the known-hot keys per the north rule; AQE is the safety net.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for all pandas UDF exchange; cap batch size so page batches
    # with html blobs stay well under executor memory.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "8192",
    # Small dims (alias dictionary, nation/region analogs) broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    # Parquet scans: default 128MB splits are right for the sandbox files.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Always use the sort/serialized shuffle writer, never the bypass
    # writer (r7, guide §2.2).  With R reduce partitions <= 200 the
    # bypass writer opens R files PER MAP TASK (M x R file creates):
    # measured on this box, a 128-map-task -> 32-partition groupBy costs
    # 1.5 s under bypass vs 0.3 s with the sort writer (one data file +
    # index per map task) — and the same 4-5x held on 5M- and 20M-row
    # shuffles.  On a real cluster R is normally > 200 so bypass never
    # engages; forcing the sort writer is therefore safe at every scale
    # while removing the dominant fixed cost of EVERY small shuffle in
    # the sandbox bench.  Env-overridable for deployments that want the
    # bypass behavior back.
    "spark.shuffle.sort.bypassMergeThreshold": os.environ.get(
        "SPARK_GRAFT_BYPASS_MERGE_THRESHOLD", "0"
    ),
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": driver_memory(),
}


def get_spark(
    app_name: str = "surfactant_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` sets ``local[N]`` for sandbox runs; pass ``"*"`` for all.
    On a cluster the caller would instead spark-submit with a master URL
    and this function only applies SQL configs.
    """
    cores = cores or host_cores()
    builder = SparkSession.builder.appName(app_name).master(f"local[{cores}]")
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple], schema: StructType) -> DataFrame:
    """Driver-sized ``rows`` as a one-partition DataFrame of exactly
    ``schema``.  The rows cross to the JVM as one Arrow table, so no
    Python worker runs, even with the Arrow conf off; a plain
    ``createDataFrame(list)`` pickles them through a worker per task."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(
        [dict(zip(schema.names, r)) for r in rows], schema=to_arrow_schema(schema)
    )
    return spark.createDataFrame(table, schema).coalesce(1)
