"""Per-partition checkpoint / lineage / metrics (north-rule requirement).

Batch jobs over 100 TB fail mid-run; the unit of resumability here is a
*bucket* — a deterministic hash partition of the output keyed by a chosen
column (for the spatial join: the coarse parent cell, so restart locality
matches data locality).

Protocol (exactly-once per bucket directory):

1. output is written ``partitionBy(bucket)`` in bucket *groups* with
   dynamic partition overwrite — re-running a group overwrites its
   directories instead of duplicating rows;
2. after a group lands, one lineage row per bucket (run_id, bucket,
   n_rows, wall time) is appended to ``_lineage``;
3. resume = recompute the todo set as (all buckets) anti-join (lineage
   buckets for this run_id) and continue — completed groups are skipped,
   a half-written group is overwritten byte-identically.

The lineage table doubles as the per-partition metrics table (row counts
per bucket per run).
Parquet-backed so it works offline; the same call pattern maps 1:1 onto
Iceberg ``overwritePartitions``/append when a catalog is attached
(sources/catalog.py).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "_bucket"


def with_bucket(df: DataFrame, key_col: str, n_buckets: int) -> DataFrame:
    """Deterministic bucket id from a key column (stable across runs and
    cluster sizes — xxhash64, not partition index)."""
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64(key_col), F.lit(n_buckets)).cast("int"))


class CheckpointedWriter:
    def __init__(self, spark: SparkSession, base_dir: str, run_id: str):
        self.spark = spark
        self.base_dir = base_dir.rstrip("/")
        self.run_id = run_id
        self.data_dir = f"{self.base_dir}/data"
        self.lineage_dir = f"{self.base_dir}/_lineage"

    # -- lineage ---------------------------------------------------------

    def completed_buckets(self) -> set[int]:
        if not os.path.exists(self.lineage_dir):
            return set()
        rows = (
            self.spark.read.parquet(self.lineage_dir)
            .filter(F.col("run_id") == self.run_id)
            .select("bucket")
            .collect()
        )
        return {r.bucket for r in rows}

    def _record(self, entries: list[tuple[int, int, float]]) -> None:
        pdf = self.spark.createDataFrame(
            [(self.run_id, b, n, secs) for b, n, secs in entries],
            schema="run_id string, bucket int, n_rows long, secs double",
        )
        pdf.coalesce(1).write.mode("append").parquet(self.lineage_dir)

    def metrics(self) -> DataFrame:
        return self.spark.read.parquet(self.lineage_dir)

    # -- checkpointed write ----------------------------------------------

    def write(
        self,
        df: DataFrame,
        key_col: str,
        n_buckets: int,
        group_size: int = 4,
        fail_after_groups: int | None = None,
        pre_bucketed: bool = False,
    ) -> int:
        """Write ``df`` bucketed by ``key_col`` with per-group checkpoints.

        Returns the number of bucket groups actually executed (0 when the
        run was already complete).  ``fail_after_groups`` injects a crash
        for resume tests.  ``pre_bucketed=True`` means ``df`` already
        carries ``BUCKET_COL`` (values in [0, n_buckets)) — used by
        callers whose bucket id must be SQL-recomputable (the driver
        gate) or who bucket on a composite expression.
        """
        bdf = df if pre_bucketed else with_bucket(df, key_col, n_buckets)
        done = self.completed_buckets()
        todo = [b for b in range(n_buckets) if b not in done]
        groups = [todo[i : i + group_size] for i in range(0, len(todo), group_size)]
        if not groups:
            return 0
        prev_mode = self.spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # The upstream of ``df`` may be an expensive join; without a persist
        # every per-group filter would recompute it (once for the write and
        # once more for counts — ~2x groups full executions at 100 TB).
        # Persist once, filter the cache per group, count from the files
        # just written (parquet footer metadata, no upstream recompute).
        bdf.persist()
        try:
            for gi, group in enumerate(groups):
                if fail_after_groups is not None and gi >= fail_after_groups:
                    raise RuntimeError("injected failure for resume test")
                t0 = time.time()
                # dynamic partition overwrite never touches a partition that
                # produces no rows this run — clear the group's directories
                # first so leftover files from an aborted earlier run (same
                # base_dir, different run_id) can't be counted as freshly
                # written lineage (ADVICE r2)
                self._clear_bucket_dirs(group)
                part = bdf.filter(F.col(BUCKET_COL).isin(group))
                part.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(self.data_dir)
                secs = time.time() - t0
                # per-bucket row counts from the written group (empty
                # buckets are legal — they produce no files, only lineage)
                counts = self._written_counts(group)
                self._record([(b, counts.get(b, 0), secs / len(group)) for b in group])
        finally:
            bdf.unpersist()
            self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
        return len(groups)

    def _clear_bucket_dirs(self, group: list[int]) -> None:
        """Delete the (uncommitted) bucket directories of a todo group.

        Safe by construction: ``write`` only passes buckets absent from the
        lineage table, so anything on disk under them is debris from a run
        that crashed before recording lineage."""
        jvm = self.spark.sparkContext._jvm
        hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
        for b in group:
            hp = jvm.org.apache.hadoop.fs.Path(f"{self.data_dir}/{BUCKET_COL}={b}")
            fs = hp.getFileSystem(hconf)
            if fs.exists(hp):
                fs.delete(hp, True)

    def _written_counts(self, group: list[int]) -> dict[int, int]:
        """Row count per bucket from the bucket directories just written —
        a footer-metadata scan of the new files, never a recompute of the
        input.  Missing directories mean the bucket was empty."""
        paths = [f"{self.data_dir}/{BUCKET_COL}={b}" for b in group]
        jvm = self.spark.sparkContext._jvm
        hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
        existing: list[str] = []
        buckets: list[int] = []
        for b, p in zip(group, paths):
            hp = jvm.org.apache.hadoop.fs.Path(p)
            if hp.getFileSystem(hconf).exists(hp):
                existing.append(p)
                buckets.append(b)
        if not existing:
            return {}
        counts = (
            self.spark.read.option("basePath", self.data_dir)
            .parquet(*existing)
            .groupBy(BUCKET_COL)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        return {r[BUCKET_COL]: r["n"] for r in counts}

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.data_dir)
