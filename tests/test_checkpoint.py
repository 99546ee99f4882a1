"""Checkpoint kill/resume equivalence: partial run + resume == one-shot."""

import pytest
from pyspark.sql import functions as F

from segment_rtree_spark.checkpoint import CheckpointJob


@pytest.fixture()
def data(spark):
    return (
        spark.range(1000)
        .withColumn("key", (F.col("id") % 10).cast("long"))
        .withColumn("v", F.col("id") * 2)
    )


def transform(df):
    return df.groupBy("key").agg(F.sum("v").alias("sum_v"), F.count("*").alias("n"))


def collect_out(job):
    return sorted(
        (r["key"], r["sum_v"], r["n"]) for r in job.output().collect()
    )


def test_kill_resume_equals_oneshot(spark, data, tmp_path):
    oneshot = CheckpointJob(spark, "job1", str(tmp_path / "a"))
    n = oneshot.run(data, "key", transform, keys_per_batch=4)
    assert n == 10
    want = collect_out(oneshot)

    resumable = CheckpointJob(spark, "job1", str(tmp_path / "b"))
    # simulate a kill after the first batch
    n1 = resumable.run(data, "key", transform, keys_per_batch=4, max_batches=1)
    assert n1 == 4
    assert len(resumable.completed_keys()) == 4
    # resume: only the remaining 6 keys run
    n2 = resumable.run(data, "key", transform, keys_per_batch=4)
    assert n2 == 6
    assert collect_out(resumable) == want

    # idempotent: nothing left
    assert resumable.run(data, "key", transform) == 0


def test_run_keeps_session_overwrite_mode(spark, data, tmp_path):
    """run() sets dynamic partition overwrite on its own writer only: the
    session setting is unchanged, so a later overwrite in the same session
    still replaces the whole table."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        CheckpointJob(spark, "job3", str(tmp_path / "d")).run(data, "key", transform)
        assert spark.conf.get(key) == "static"

        path = str(tmp_path / "later")
        data.write.mode("overwrite").partitionBy("key").parquet(path)
        data.filter(F.col("key") == 0).write.mode("overwrite").partitionBy(
            "key"
        ).parquet(path)
        assert spark.read.parquet(path).select("key").distinct().count() == 1
    finally:
        spark.conf.set(key, before)


def test_metrics_lineage(spark, data, tmp_path):
    job = CheckpointJob(spark, "job2", str(tmp_path / "c"))
    job.run(data, "key", transform, keys_per_batch=3)
    prog = job.progress().toPandas()
    assert len(prog) == 10
    assert set(prog.columns) >= {"job_id", "partition_key", "n_in", "n_out", "wall_ms"}
    assert (prog["n_in"] == 100).all()  # 1000 rows / 10 keys lineage
    assert (prog["n_out"] == 1).all()


def test_submit_job_demo_smoke():
    """The spark-submit production entry stays runnable end to end:
    --demo synthesizes input, runs the checkpointed tile+PIP pipeline,
    and reports processed partition keys + a progress table."""
    import subprocess
    import sys
    from pathlib import Path

    script = Path(__file__).parents[1] / "tools" / "submit_job.py"
    out = subprocess.run(
        [sys.executable, str(script), "--demo"],
        capture_output=True, text=True, timeout=300,
        cwd=str(Path(__file__).parents[1]),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "processed" in out.stdout and "progress table:" in out.stdout
