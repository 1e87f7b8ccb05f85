"""Table catalog adapter: Iceberg when available, parquet-dir fallback.

The engine's contract with storage is four verbs — read, append,
overwrite_partitions, exists — and everything above (queries,
checkpoint manifests, streaming sinks) talks only to this adapter, so
swapping parquet dirs for an Iceberg catalog is a config change, not a
code change (SURVEY.md §7 Phase 0 / hard part #4).

Iceberg path: if `iceberg-spark-runtime` is on the session classpath
(spark.jars.packages or a cluster-provided jar), `IcebergCatalog`
configures a hadoop catalog under `warehouse` and the same four verbs
become `writeTo(...).append()` / `overwritePartitions()` — snapshot
isolation + atomic commits, which upgrades the checkpoint layer's
"manifest append after data commit" ordering into true exactly-once
(both commits are Iceberg transactions). The sandbox has no network to
fetch the runtime jar, so tests exercise the parquet adapter; the
Iceberg class is import-guarded and carries the exact configs needed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


class ParquetCatalog:
    """Directory-of-parquet-tables catalog (the sandbox default)."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse

    def _path(self, table: str) -> str:
        return os.path.join(self.warehouse, *table.split("."))

    def exists(self, table: str) -> bool:
        return os.path.exists(self._path(table))

    def read(self, table: str) -> DataFrame:
        return self.spark.read.parquet(self._path(table))

    def append(self, df: DataFrame, table: str) -> None:
        df.write.mode("append").parquet(self._path(table))

    def overwrite_partitions(
        self, df: DataFrame, table: str, partition_by: list[str]
    ) -> None:
        """Replace only the partitions present in df (dynamic mode) —
        the idempotence primitive the checkpoint layer relies on.

        Dynamic mode is a PER-WRITE option, never a session conf: a
        session-global set here would silently flip unrelated later
        `mode("overwrite").partitionBy(...)` writes from static (drop
        all partitions) to dynamic (keep absent ones), resurrecting
        stale partitions elsewhere."""
        (
            df.write.option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .partitionBy(*partition_by)
            .parquet(self._path(table))
        )


class IcebergCatalog:
    """Iceberg hadoop catalog; requires iceberg-spark-runtime on the
    classpath. Session configs this adapter expects (public Iceberg
    docs):

        spark.sql.catalog.ocr                 org.apache.iceberg.spark.SparkCatalog
        spark.sql.catalog.ocr.type            hadoop
        spark.sql.catalog.ocr.warehouse       <warehouse-uri>
        spark.sql.extensions                  org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
    """

    CATALOG = "ocr"

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        spark.conf.set(
            f"spark.sql.catalog.{self.CATALOG}",
            "org.apache.iceberg.spark.SparkCatalog",
        )
        spark.conf.set(f"spark.sql.catalog.{self.CATALOG}.type", "hadoop")
        spark.conf.set(
            f"spark.sql.catalog.{self.CATALOG}.warehouse", warehouse
        )

    def _ident(self, table: str) -> str:
        return f"{self.CATALOG}.{table}"

    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._ident(table))

    def read(self, table: str) -> DataFrame:
        return self.spark.read.table(self._ident(table))

    def append(self, df: DataFrame, table: str) -> None:
        df.writeTo(self._ident(table)).createOrReplace() if not self.exists(
            table
        ) else df.writeTo(self._ident(table)).append()

    def overwrite_partitions(
        self, df: DataFrame, table: str, partition_by: list[str]
    ) -> None:
        if not self.exists(table):
            df.writeTo(self._ident(table)).partitionedBy(
                *partition_by
            ).createOrReplace()
        else:
            df.writeTo(self._ident(table)).overwritePartitions()


def stage(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage: later plans read its rows, not its subtree.

    Every lineage cut in the engine goes through here. Stage a frame
    that several consumers read (Spark plans are trees, so each one
    would replan and re-run the subtree, a Python stage included) or
    that a loop feeds back into its own next round (each round would
    nest every earlier one).

    - Lazy: the rows are computed and stored by the first action that
      reads them, inside that action's job, with no count job of their
      own. An iterative caller materializes each round by running its
      convergence count on the staged frame. The call does build the
      frame's RDD, and under adaptive execution that runs the frame's
      shuffle and broadcast stages here; a frame with no exchange runs
      nothing.
    - Not ``persist()``: a persisted frame keeps its whole plan, so a
      loop that joins it back still plans a tree that doubles per round
      (planning time doubled per round, and a 7-edge chain once ran the
      driver out of memory), and its blocks stay pinned until someone
      calls ``unpersist``. Staged blocks are freed once the frame is
      garbage-collected.
    - Executor-local: the rows live in the executors' block managers,
      not in reliable storage, and a lost executor fails the job rather
      than recomputing them. That is acceptable because each staged
      frame is an intermediate of one query run, so rerunning the query
      rebuilds it; what a run must not lose is written through the
      catalog above (``checkpointed_run`` resumes from it).
    - A durable cut, at warehouse scale or for a job that must survive
      a lost executor, belongs here too: write ``df`` through the
      catalog and return the table's scan, so no caller changes.
    """
    return df.localCheckpoint(eager=False)


def get_catalog(spark: SparkSession, warehouse: str):
    """Iceberg if its runtime is loadable in this JVM, else parquet."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return IcebergCatalog(spark, warehouse)
    except Exception:
        return ParquetCatalog(spark, warehouse)
