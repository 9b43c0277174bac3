"""Per-partition lineage + metrics (north_rule requirement).

A pass-through ``mapInPandas`` wrapper streams a stage's output batches
unchanged while counting rows and wall time per partition; at iterator
exhaustion it reports one lineage record through a list accumulator.
Because the wrapper is lazy, its measured wall time covers the whole
pipelined narrow chain feeding the partition — the per-partition cost a
scheduler would attribute to the stage.

Accumulators work identically in local and cluster mode (merged on the
driver at task completion), so this carries over to the 1000-executor
deployment; the driver then appends the rows to a metrics table.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd
from pyspark import AccumulatorParam
from pyspark.sql import DataFrame, SparkSession

from ..schema import LINEAGE_SCHEMA
from ..session import local_frame


class _ListAccum(AccumulatorParam):
    def zero(self, value):
        return []

    def addInPlace(self, v1, v2):
        v1.extend(v2)
        return v1


class LineageCollector:
    """Holds one accumulator per run; ``wrap`` instruments a DataFrame."""

    def __init__(self, spark: SparkSession, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self._acc = spark.sparkContext.accumulator([], _ListAccum())

    def wrap(self, df: DataFrame, stage: str) -> DataFrame:
        acc = self._acc
        run_id = self.run_id

        def passthrough(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            t0 = time.monotonic()
            rows = 0
            nbytes = 0
            for pdf in batches:
                rows += len(pdf)
                # deep usage walks string objects — the real payload
                # size a shuffle/sink would carry, worth the metric
                # cost on an already-instrumented stage
                nbytes += int(pdf.memory_usage(index=False, deep=True).sum())
                yield pdf
            wall_ms = int((time.monotonic() - t0) * 1000)
            pid = TaskContext.get().partitionId() if TaskContext.get() else -1
            acc.add([(run_id, stage, pid, rows, rows, nbytes, wall_ms)])

        return df.mapInPandas(passthrough, schema=df.schema)

    def rows(self) -> list[tuple]:
        return list(self._acc.value)

    def to_df(self) -> DataFrame:
        return local_frame(self.spark, self.rows(), LINEAGE_SCHEMA)
