"""Partition-scoped MERGE (`SparkVectorIndex._merge`) — VERDICT r1 #2.

The whole point: a commit touches ONLY the bucket directories containing
staged or deleted ids. Untouched partition files must remain
byte-identical (never rewritten, never even opened for write), emptied
buckets must disappear, and the id→bucket map must be pinned across
reopens.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from vectra_py_spark.index import BUCKET_COL, SparkVectorIndex

REPO = Path(__file__).resolve().parent.parent


def _snapshot(path: str) -> dict[str, dict[str, str]]:
    """{bucket_dir: {filename: sha256}} for every parquet part file."""
    out: dict[str, dict[str, str]] = {}
    for entry in os.listdir(path):
        full = os.path.join(path, entry)
        if not (entry.startswith(f"{BUCKET_COL}=") and os.path.isdir(full)):
            continue
        files = {}
        for fn in os.listdir(full):
            if fn.endswith(".parquet"):
                with open(os.path.join(full, fn), "rb") as f:
                    files[fn] = hashlib.sha256(f.read()).hexdigest()
        out[entry] = files
    return out


def _bucket_of(spark, item_id: str, n_buckets: int) -> int:
    return (
        spark.range(1)
        .select(
            F.pmod(F.xxhash64(F.lit(item_id)), F.lit(n_buckets)).cast("int")
        )
        .head()[0]
    )


@pytest.fixture
def idx(spark, tmp_path):
    ix = SparkVectorIndex(spark, str(tmp_path / "idx"), vector_dim=2, n_buckets=8)
    ix.create()
    for i in range(32):
        ix.insert_item({"id": f"k{i:02d}", "vector": [float(i), 1.0]})
    ix.commit()
    return ix


class TestPartitionScopedMerge:
    def test_upsert_rewrites_only_touched_bucket(self, spark, idx):
        before = _snapshot(idx.path)
        assert len(before) > 1, "fixture must span several buckets"
        idx.upsert_item({"id": "k00", "vector": [99.0, 99.0]})
        idx.commit()
        after = _snapshot(idx.path)
        touched = f"{BUCKET_COL}={_bucket_of(spark, 'k00', 8)}"
        assert after[touched] != before[touched]
        for d in before:
            if d != touched:
                assert after[d] == before[d], f"untouched {d} was rewritten"
        row = idx.get_item("k00").head()
        assert row.vector == [99.0, 99.0]
        assert idx.items().count() == 32

    def test_delete_rewrites_only_touched_bucket(self, spark, idx):
        before = _snapshot(idx.path)
        idx.delete_item("k01")
        idx.commit()
        after = _snapshot(idx.path)
        touched = f"{BUCKET_COL}={_bucket_of(spark, 'k01', 8)}"
        for d in before:
            if d != touched:
                assert after[d] == before[d]
        assert idx.items().count() == 31
        assert idx.get_item("k01").count() == 0

    def test_emptied_bucket_dir_is_removed(self, spark, idx):
        # delete every id in one bucket → its directory must disappear
        target = _bucket_of(spark, "k00", 8)
        doomed = [
            r.id
            for r in idx._raw_items()
            .filter(F.col(BUCKET_COL) == target)
            .select("id")
            .collect()
        ]
        for i in doomed:
            idx.delete_item(i)
        idx.commit()
        assert f"{BUCKET_COL}={target}" not in _snapshot(idx.path)
        assert idx.items().count() == 32 - len(doomed)

    def test_delete_where_predicate(self, idx):
        idx.delete_where(F.col("id") < F.lit("k10"))
        assert idx.items().count() == 22
        # no-match predicate is a no-op (no buckets touched, no write job)
        before = _snapshot(idx.path)
        idx.delete_where(F.col("id") == F.lit("zzz"))
        assert _snapshot(idx.path) == before

    def test_merge_read_is_partition_pruned(self, spark, idx):
        plan = (
            idx._raw_items()
            .filter(F.col(BUCKET_COL).isin(3))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PartitionFilters" in plan and f"{BUCKET_COL}#" in plan

    def test_n_buckets_pinned_across_reopen(self, spark, idx):
        # reopening with a DIFFERENT default must adopt the pinned layout,
        # or the same id would hash to two different directories
        re = SparkVectorIndex(spark, idx.path, vector_dim=2, n_buckets=999)
        re.upsert_item({"id": "k00", "vector": [5.0, 5.0]})
        re.commit()
        assert re.n_buckets == 8
        assert re.items().count() == 32  # replaced in place, not duplicated
        assert re.get_item("k00").head().vector == [5.0, 5.0]

    def test_insert_duplicate_still_rejected(self, idx):
        idx.insert_item({"id": "k05", "vector": [1.0, 2.0]})
        with pytest.raises(ValueError, match="already exists"):
            idx.commit()
        idx.cancel_update()

    def test_dim_mismatch_still_rejected(self, idx):
        with pytest.raises(ValueError, match="dim"):
            idx.insert_item({"id": "new", "vector": [1.0, 2.0, 3.0]})

    def test_merge_batch_delete_cond_single_merge(self, spark, idx):
        staged = spark.createDataFrame(
            [("n1", [7.0, 7.0]), ("n2", [8.0, 8.0])], "id string, vector array<double>"
        )
        idx.merge_batch(staged, delete_cond=F.col("id").isin("k02", "k03"))
        ids = {r.id for r in idx.items().select("id").collect()}
        assert {"n1", "n2"} <= ids and not {"k02", "k03"} & ids
        assert len(ids) == 32


def _staging_dirs(path: str) -> list[str]:
    return [e for e in os.listdir(path) if e.startswith("_staging-")]


def _run_in_group(spark, fn) -> list[int]:
    """Run ``fn`` under a fresh job group; return the group's job ids."""
    sc = spark.sparkContext
    group = f"test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


class TestStagedWrite:
    """The MERGE writes touched buckets once to a hidden staging
    directory, validates from metrics observed by that write, and only
    then swaps buckets in."""

    def test_commit_runs_at_most_four_jobs(self, spark, idx):
        for i in range(5):
            idx.upsert_item({"id": f"u{i}", "vector": [1.0, float(i)]})
        idx.delete_item("k07")
        assert len(_run_in_group(spark, idx.commit)) <= 4
        ids = {r.id for r in idx.items().select("id").collect()}
        assert {f"u{i}" for i in range(5)} <= ids and "k07" not in ids
        assert len(ids) == 36
        assert _staging_dirs(idx.path) == []

    def test_rejected_insert_publishes_nothing(self, idx):
        before = _snapshot(idx.path)
        idx.upsert_item({"id": "fresh", "vector": [3.0, 3.0]})
        idx.insert_item({"id": "k05", "vector": [1.0, 2.0]})
        with pytest.raises(ValueError, match="already exists"):
            idx.commit()
        idx.cancel_update()
        assert _snapshot(idx.path) == before
        assert _staging_dirs(idx.path) == []
        assert idx.items().count() == 32

    def test_delete_of_missing_id_is_noop(self, idx):
        before = _snapshot(idx.path)
        idx.delete_item("no-such-id")
        idx.commit()
        assert _snapshot(idx.path) == before
        assert _staging_dirs(idx.path) == []

    def test_upsert_and_delete_of_same_id_in_one_commit_deletes_it(self, idx):
        # the staged row displaces the stored one and is then deleted:
        # its bucket must still be rewritten
        idx.upsert_item({"id": "k05", "vector": [9.0, 9.0]})
        idx.delete_item("k05")
        idx.commit()
        ids = {r.id for r in idx.items().select("id").collect()}
        assert "k05" not in ids and len(ids) == 31
        assert _staging_dirs(idx.path) == []

    def test_insert_and_delete_of_existing_id_commits_the_delete(self, idx):
        # a staged delete wins over an insert of the same id, so the
        # insert cannot clash
        idx.insert_item({"id": "k05", "vector": [9.0, 9.0]})
        idx.delete_item("k05")
        idx.commit()
        ids = {r.id for r in idx.items().select("id").collect()}
        assert "k05" not in ids and len(ids) == 31
        assert _staging_dirs(idx.path) == []

    def test_items_frame_replaced_after_commit(self, idx):
        old = idx.items()
        assert old.count() == 32
        idx.upsert_item({"id": "late", "vector": [4.0, 4.0]})
        idx.commit()
        new = idx.items()
        assert new is not old and not old.is_cached
        assert new.count() == 33
        assert new.filter(F.col("id") == "late").count() == 1


class TestBatchChecks:
    """``merge_batch`` validates on its checkpoint job and in the merge
    window; a rejected batch publishes nothing."""

    def test_duplicate_id_publishes_nothing(self, spark, idx):
        before = _snapshot(idx.path)
        staged = spark.createDataFrame(
            [("n1", [1.0, 1.0]), ("k03", [2.0, 2.0]), ("n1", [3.0, 3.0])],
            "id string, vector array<double>",
        )
        with pytest.raises(ValueError, match="duplicate id"):
            idx.merge_batch(staged)
        assert _snapshot(idx.path) == before
        assert _staging_dirs(idx.path) == []
        assert idx.items().count() == 32

    def test_null_id_rejected(self, spark, idx):
        before = _snapshot(idx.path)
        staged = spark.createDataFrame(
            [("n1", [1.0, 1.0]), (None, [2.0, 2.0])], "id string, vector array<double>"
        )
        with pytest.raises(ValueError, match="NULL id"):
            idx.merge_batch(staged)
        assert _snapshot(idx.path) == before

    def test_dim_mismatch_raises_before_any_write(self, spark, idx):
        before = _snapshot(idx.path)
        staged = spark.createDataFrame(
            [("n1", [1.0, 1.0]), ("n2", [1.0, 2.0, 3.0])], "id string, vector array<double>"
        )

        def merge():
            with pytest.raises(ValueError, match="dimension"):
                idx.merge_batch(staged)

        assert len(_run_in_group(spark, merge)) == 1  # the checkpoint only
        assert _snapshot(idx.path) == before
        assert _staging_dirs(idx.path) == []

    def test_write_stage_runs_one_task_per_touched_bucket_up_to_cores(self, spark, idx):
        ids = [f"p{i}" for i in range(6)]
        touched = idx._buckets_of(ids)
        assert len(touched) >= 2
        for i in ids:
            idx.upsert_item({"id": i, "vector": [2.0, 1.0]})
        jobs = _run_in_group(spark, idx.commit)
        tracker = spark.sparkContext.statusTracker()
        final = max(tracker.getJobInfo(jobs[-1]).stageIds)
        expected = min(len(touched), spark.sparkContext.defaultParallelism)
        assert tracker.getStageInfo(final).numTasks == expected
        assert idx.items().count() == 38


def test_insert_then_upsert_of_existing_id_still_clashes(idx):
    # an id first staged by insert_item stays an insert after the dedupe
    idx.insert_item({"id": "k05", "vector": [1.0, 2.0]})
    idx.upsert_item({"id": "k05", "vector": [3.0, 4.0]})
    with pytest.raises(ValueError, match="already exists"):
        idx.commit()
    idx.cancel_update()


_LAST_STAGED_WINS = """
import shutil, sys, tempfile
from pyspark.sql import SparkSession
from vectra_py_spark.index import SparkVectorIndex

for master in ("local[1]", "local[4]"):
    spark = (
        SparkSession.builder.master(master)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    base = tempfile.mkdtemp()
    ix = SparkVectorIndex(spark, base + "/idx", vector_dim=2, n_buckets=4)
    ix.create()
    for i in range(16):
        ix.insert_item({"id": f"k{i}", "vector": [float(i), 1.0]})
    ix.commit()
    for i in range(16):
        ix.upsert_item({"id": f"k{i}", "vector": [1.0, 0.0]})
        ix.upsert_item({"id": f"k{i}", "vector": [0.0, float(i + 1)]})
    ix.commit()
    got = {r.id: r.vector for r in ix.items().collect()}
    want = {f"k{i}": [0.0, float(i + 1)] for i in range(16)}
    spark.stop()
    shutil.rmtree(base)
    if got != want:
        sys.exit(f"{master}: {got}")
"""


def test_commit_keeps_last_staged_row_of_an_id_at_1_and_4_cores():
    # a fresh process: the suite's session has one fixed master
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        [str(REPO), os.environ.get("PYTHONPATH", "")]
    )}
    proc = subprocess.run(
        [sys.executable, "-c", _LAST_STAGED_WINS],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
