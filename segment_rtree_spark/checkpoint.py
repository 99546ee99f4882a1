"""Resumable checkpointed jobs with per-partition lineage + metrics.

The north rule requires batch jobs over 10^12 rows to be resumable
from per-partition checkpoints. Model:

  * work is keyed by a PARTITION KEY column (canonically the spatial
    cell-prefix, tiles.cell_prefix, so one unit of work = one spatial
    shard that Iceberg/parquet layout already clusters);
  * output is written parquet-partitioned BY that key with dynamic
    partition overwrite — re-processing a key atomically replaces its
    output directory, so retries/duplicated work cannot double rows;
  * a progress table records (job_id, partition_key, n_in, n_out,
    wall_ms, finished_at) AFTER the key's output commit — a key with
    no progress row is simply re-run on resume (at-least-once work,
    exactly-once output);
  * lineage = the progress table's n_in/n_out per key plus the
    job-level params row, enough to audit which input shard produced
    which output partition.

On a cluster the same code runs unchanged: keys fan out in batches
sized to the executor count; each batch is one Spark job, so a failed
driver restart resumes at batch granularity.
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable, Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

__all__ = ["CheckpointJob"]


class CheckpointJob:
    def __init__(self, spark: SparkSession, job_id: str, root: str):
        self.spark = spark
        self.job_id = job_id
        self.root = root.rstrip("/")
        self.output_dir = f"{self.root}/output"
        self.progress_dir = f"{self.root}/progress"
        self.meta_path = f"{self.root}/job.json"
        # set by run(): the keys still unprocessed when it returned
        # (callers check completion from this instead of re-running
        # the distinct+collect run() just performed)
        self.remaining_keys: list | None = None

    # -- progress ------------------------------------------------------

    def completed_keys(self) -> set:
        try:
            rows = (
                self.spark.read.parquet(self.progress_dir)
                .filter(F.col("job_id") == self.job_id)
                .select("partition_key")
                .collect()
            )
            return {r["partition_key"] for r in rows}
        except AnalysisException:
            # no progress written yet (fresh job): the dir is missing or
            # holds no parquet to infer a schema from -> nothing done.
            # Anything else (permissions, corrupt footer, transient FS
            # error) PROPAGATES: silently treating an unreadable log as
            # empty is safe for correctness (resume is idempotent) but
            # re-runs the whole job — the caller must see why
            return set()

    def progress(self) -> DataFrame:
        return self.spark.read.parquet(self.progress_dir)

    def progress_remaining(self, df: DataFrame, key_col: str) -> list:
        """Keys of df with no progress row yet (what a resume would run).
        Empty list == stage complete.

        This is the standalone AUDIT entry point: it re-derives the key
        set with a distinct+collect (driver memory O(#distinct keys) —
        fine for spatial-cell keys, whose cardinality is bounded by the
        resolution, but don't point it at a high-cardinality key).
        Callers that just ran run() should read `remaining_keys`
        instead, which run() already computed without an extra pass."""
        all_keys = {r[0] for r in df.select(key_col).distinct().collect()}
        return sorted(all_keys - self.completed_keys())

    def _record(self, rows):
        pdf = self.spark.createDataFrame(
            rows,
            "job_id string, partition_key long, n_in long, n_out long, "
            "wall_ms long, finished_at double",
        )
        pdf.coalesce(1).write.mode("append").parquet(self.progress_dir)

    # -- run -------------------------------------------------------------

    def run(
        self,
        df: DataFrame,
        key_col: str,
        transform: Callable[[DataFrame], DataFrame],
        keys_per_batch: int = 8,
        max_batches: int | None = None,
    ) -> int:
        """Process every distinct key of df not yet completed.

        transform(batch_df) -> output DataFrame (must retain key_col).
        Returns the number of keys processed this invocation.
        `max_batches` exists for tests to simulate a mid-job kill.
        """
        os.makedirs(self.root, exist_ok=True)
        with open(self.meta_path, "w") as f:
            json.dump({"job_id": self.job_id, "key_col": key_col}, f)

        all_keys = [r[0] for r in df.select(key_col).distinct().collect()]
        todo = sorted(set(all_keys) - self.completed_keys())

        done = 0
        batches = [
            todo[i : i + keys_per_batch] for i in range(0, len(todo), keys_per_batch)
        ]
        for bi, batch in enumerate(batches):
            if max_batches is not None and bi >= max_batches:
                break
            t0 = time.time()
            sub = df.filter(F.col(key_col).isin(list(batch)))
            n_in = {
                r[0]: r[1]
                for r in sub.groupBy(key_col).count().collect()
            }
            out = transform(sub)
            # atomic per-key replace: dynamic partition overwrite, set on
            # this writer only (a session-wide setting would turn every
            # later overwrite in the session into a partial replace)
            (
                out.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(key_col)
                .parquet(self.output_dir)
            )
            try:
                n_out = {
                    r[0]: r[1]
                    for r in self.spark.read.parquet(self.output_dir)
                    .filter(F.col(key_col).isin(list(batch)))
                    .groupBy(key_col)
                    .count()
                    .collect()
                }
            except AnalysisException:
                # zero rows written so far: the output dir holds no
                # parquet files to infer a schema from — every key's
                # n_out is 0, which is a valid (all-filtered) outcome.
                # Anything other than AnalysisException (permissions,
                # corrupt footer, transient FS error) propagates —
                # recording n_out=0 for keys that DID write would make
                # the progress log lie
                n_out = {}
            wall = int((time.time() - t0) * 1000)
            per_key = max(1, wall // max(1, len(batch)))
            self._record(
                [
                    (
                        self.job_id,
                        int(k),
                        int(n_in.get(k, 0)),
                        int(n_out.get(k, 0)),
                        per_key,
                        time.time(),
                    )
                    for k in batch
                ]
            )
            done += len(batch)
        self.remaining_keys = todo[done:]
        return done

    def output(self) -> DataFrame:
        return self.spark.read.parquet(self.output_dir)
