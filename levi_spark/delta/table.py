"""User-facing Delta table handle (the engine's ``DeltaTable`` analogue).

Thin facade over :class:`levi_spark.delta.log.DeltaLog` (reads) and
:func:`levi_spark.delta.writer.write_delta` (commits); the maintenance
operators in :mod:`levi_spark.operators` accept this type. Mirrors the
role ``deltalake.DeltaTable`` plays in the reference
(``/root/reference/levi/__init__.py:3``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from levi_spark.delta.log import DeltaLog, Snapshot
from levi_spark.delta.writer import write_delta


class LeviTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self._log = DeltaLog(spark, path)

    @classmethod
    def for_path(cls, spark: SparkSession, path: str) -> "LeviTable":
        return cls(spark, path)

    @property
    def log(self) -> DeltaLog:
        return self._log

    def version(self) -> int:
        return self._log.latest_version()

    def snapshot(self, version: int | None = None) -> Snapshot:
        return self._log.snapshot(version)

    def to_df(self, version: int | None = None) -> DataFrame:
        return self.snapshot(version).to_df()

    def append(self, df: DataFrame) -> int:
        return write_delta(
            df,
            self.path,
            mode="append",
            partition_by=self.snapshot().metadata.partition_columns,
        )
