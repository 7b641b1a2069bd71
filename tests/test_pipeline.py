"""Pipeline + checkpoint/resume tests — the run_or_skip analog
(utils/utils1.py:691) and the kill-mid-tier resume contract (north_rule)."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mintpy_spark.plans.checkpoint import SCHEMA, CheckpointTable
from mintpy_spark.plans.pipeline import run_pipeline

STAGES = ("obs", "tier_1h", "tier_1d", "tier_30d", "blocks", "velocity")


def fingerprint(df, cols=None):
    cols = cols or [c for c in df.columns]
    return df.agg(
        F.expr(f"bit_xor(xxhash64({', '.join(cols)}))").alias("h"),
        F.count("*").alias("n"),
    ).collect()[0]


def drop_partitions(root, stages, parts):
    """Crash simulation: the partitions' directories and their checkpoint
    rows disappear, as if their rename never happened."""
    for stage in stages:
        for p in parts:
            shutil.rmtree(f"{root}/{stage}/part_id={p}")
    ckdir = f"{root}/_checkpoint"
    for f in os.listdir(ckdir):
        path = os.path.join(ckdir, f)
        t = pq.read_table(path).to_pandas()
        keep = ~(t["stage"].isin(stages) & t["part_id"].isin(parts))
        if keep.all():
            continue
        os.remove(path)
        t = t[keep]
        if len(t):
            pq.write_table(pa.Table.from_pandas(t, schema=SCHEMA), path)


def assert_checkpoint_counts_match_disk(root):
    """Every partition on disk has exactly one complete checkpoint row,
    and its row_count is the partition's on-disk row count."""
    ck = CheckpointTable(f"{root}/_checkpoint").load().to_pandas()
    for stage in STAGES:
        disk = {
            int(d.split("=", 1)[1]): pq.read_table(f"{root}/{stage}/{d}").num_rows
            for d in os.listdir(f"{root}/{stage}")
            if d.startswith("part_id=")
        }
        rows = ck[(ck["stage"] == stage) & (ck["status"] == "complete")]
        assert sorted(rows["part_id"]) == sorted(disk), stage
        for p, n in zip(rows["part_id"], rows["row_count"]):
            assert n == disk[p], (stage, p, n, disk[p])


def test_pipeline_end_to_end(spark, pages, tmp_path):
    root = str(tmp_path / "pipe")
    out = run_pipeline(spark, pages, root, buckets=8)
    assert set(out) == {"obs", "tier_1h", "tier_1d", "tier_30d", "blocks", "velocity"}
    assert out["tier_30d"].count() > 0
    # lineage metrics recorded per partition with true row counts
    ckpt = CheckpointTable(f"{root}/_checkpoint")
    metrics = ckpt.stage_metrics("tier_1h")
    assert sum(metrics.values()) == out["tier_1h"].count()
    assert len(metrics) == 8


def test_resume_skips_completed(spark, pages, tmp_path):
    root = str(tmp_path / "pipe2")
    out1 = run_pipeline(spark, pages, root, buckets=4)
    fp1 = fingerprint(out1["tier_1d"], ["url", "bucket_start", "cnt", "vsum"])
    ckpt = CheckpointTable(f"{root}/_checkpoint")
    n_entries = ckpt.load().num_rows
    # rerun: nothing recomputed, no new checkpoint entries, same results
    out2 = run_pipeline(spark, pages, root, buckets=4)
    assert ckpt.load().num_rows == n_entries
    fp2 = fingerprint(out2["tier_1d"], ["url", "bucket_start", "cnt", "vsum"])
    assert (fp1.h, fp1.n) == (fp2.h, fp2.n)


def test_resume_after_partial_failure(spark, pages, tmp_path):
    """Simulate a mid-tier crash: drop some completed partitions of tier_1h
    (as if their rename never happened) and their checkpoint rows; the rerun
    rebuilds exactly the missing partitions and converges to identical
    output."""
    root = str(tmp_path / "pipe3")
    out1 = run_pipeline(spark, pages, root, buckets=4)
    full_fp = fingerprint(out1["tier_1h"], ["url", "bucket_start", "cnt", "vsum"])

    # crash simulation: remove partitions 1 and 3 + their checkpoint rows
    drop_partitions(root, ("tier_1h",), (1, 3))
    ckpt = CheckpointTable(f"{root}/_checkpoint")
    assert ckpt.complete_parts("tier_1h", "v1") == {0, 2}

    out2 = run_pipeline(spark, pages, root, buckets=4)
    fp2 = fingerprint(out2["tier_1h"], ["url", "bucket_start", "cnt", "vsum"])
    assert (full_fp.h, full_fp.n) == (fp2.h, fp2.n)
    assert ckpt.complete_parts("tier_1h", "v1") == {0, 1, 2, 3}


def test_checkpoint_counts_equal_disk_counts(spark, pages, tmp_path):
    """Checkpoint row_counts are observed on the write, not re-read: they
    must equal each partition's on-disk row count for all six stages,
    after a cold run and after a resume whose written DataFrame is
    filtered to the lost buckets."""
    root = str(tmp_path / "pipe_counts")
    run_pipeline(spark, pages, root, buckets=4)
    assert_checkpoint_counts_match_disk(root)

    drop_partitions(root, STAGES, (1, 3))
    run_pipeline(spark, pages, root, buckets=4)
    ckpt = CheckpointTable(f"{root}/_checkpoint")
    for stage in STAGES:
        assert ckpt.complete_parts(stage, "v1") == {0, 1, 2, 3}
    assert_checkpoint_counts_match_disk(root)


def test_config_change_invalidates(spark, pages, tmp_path):
    root = str(tmp_path / "pipe4")
    run_pipeline(spark, pages, root, buckets=4, config_fp="a")
    ckpt = CheckpointTable(f"{root}/_checkpoint")
    n1 = ckpt.load().num_rows
    run_pipeline(spark, pages, root, buckets=4, config_fp="b")
    assert ckpt.load().num_rows == 2 * n1  # everything recomputed under new fp


def test_input_fingerprint_changes_on_data_change(spark, tmp_path):
    from mintpy_spark.sources.tables import input_fingerprint

    p = str(tmp_path / "in")
    spark.range(100).write.mode("overwrite").parquet(p)
    fp1 = input_fingerprint(p)
    assert fp1 == input_fingerprint(p)  # stable
    spark.range(50).write.mode("append").parquet(p)
    assert input_fingerprint(p) != fp1  # grown input -> new snapshot id
