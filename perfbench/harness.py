"""What a workload receives (``Context``) and returns (``Outcome``)."""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from perfbench.spans import OP_PROPERTY, Tracer


def noop(df: DataFrame) -> None:
    """Force every row of ``df`` through its plan without collecting it."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Context:
    spark: SparkSession
    seed: int
    seconds: float
    trace: bool
    work_dir: str
    tracer: Tracer

    def path(self, *parts: str) -> str:
        return os.path.join(self.work_dir, *parts)

    def tag_op(self, tag: str | None) -> None:
        """Tag the Spark jobs that follow with an operation (traced runs)."""
        if self.trace:
            self.spark.sparkContext.setLocalProperty(OP_PROPERTY, tag)


@dataclass
class Outcome:
    setup_s: float  # data set-up and warm-up; the harness adds session start
    op_s: list[float]  # wall time of each timed operation
    work: float  # units of work done by the timed operations
    timed_s: float  # wall time of the whole timed loop
    cpu_s: float  # process-tree CPU over the timed loop
    attempted: int
    failed: int
    notes: list[str]  # every correctness failure, in words
    op_tags: list[str]  # Spark job tags of the timed operations
    layers: dict[str, float] = field(default_factory=dict)
