"""One write per bucket per copy-on-write pass.

A bucketed copy-on-write pass with delete sync on decides the delete
repair from the virtual post-merge fingerprint and writes merge and
repair together (deletes.sync_deletes_partitioned with ``updates``).
These tests pin that the fused pass leaves the same target and reports
the same ``repaired_buckets`` as the merge-then-repair sequence (update
phase alone, then the delete phase against the merged table), and that
an incremental pass stays cheap: each table listed and written at most
once, no state write when nothing moved, a bounded Spark job count.
"""

from __future__ import annotations

import datetime
import os
import shutil

from pyspark.sql import functions as F

from sslr_spark.config import Config, FilteredTable
from sslr_spark.job import Job
from sslr_spark.operators.deletes import BUCKET_COL, effective_buckets, with_bucket
from sslr_spark.sources.parquet import ParquetDatabase
from sslr_spark.throttle import Throttle
from tests.conftest import jobs_in, make_timestamps

N_ROWS = 400
N_BUCKETS = 16


def _config(tmp, target: str, **kw) -> Config:
    d = dict(
        source=str(tmp / "s"),
        target=str(tmp / target),
        source_tables=["t1"],
        primary_keys={"t1": ["id"]},
        target_buckets=N_BUCKETS,
        throttle_percentage=100,
    )
    d.update(kw)
    return Config(**d)


def _logical(df):
    cols = sorted(c for c in df.columns if not c.startswith("__sslr"))
    return sorted(tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect())


def _rows(spark, ids, version):
    return spark.createDataFrame(
        [(i, datetime.datetime(2030, 1, 1), version) for i in ids],
        "id long, ts timestamp, xmin long",
    )


def _edit_target(spark, tmp, target: str, fn) -> None:
    """Change a bucketed target table by hand, keeping its layout."""
    db = ParquetDatabase(spark, str(tmp / target))
    df = fn(db.read("t1")).localCheckpoint()
    db.overwrite_partitioned(
        "t1", with_bucket(df, ["id"], N_BUCKETS), BUCKET_COL,
        n_buckets=N_BUCKETS, sort_cols=["id"],
    )


def _old_sequence(spark, tmp, target: str, **kw):
    """The merge-then-repair pass: the update phase alone, then the
    delete phase diffing the merged table."""
    deletes = kw.pop("sync_deletes", True)
    job = Job(spark, _config(tmp, target, sync_deletes=False, **kw))
    res = job.run()
    for t in res.validated if deletes else []:
        job._sync_deletes_phase(
            t, job.source_df(t), job.primary_keys[t], job.config.where_for(t),
            N_BUCKETS, res, Throttle(100),
        )
    return res


def _compare(spark, tmp, src2, edit_target=None, **kw):
    """Initial sync, then one pass over ``src2`` two ways from identical
    targets: fused (``a``) and merge-then-repair (``b``)."""
    src = make_timestamps(spark, N_ROWS)
    job = Job(spark, _config(tmp, "a", **kw))
    job.source.overwrite("t1", src)
    job.run()
    if edit_target is not None:
        _edit_target(spark, tmp, "a", edit_target)
    shutil.copytree(tmp / "a", tmp / "b")
    job = Job(spark, _config(tmp, "a", **kw))
    job.source.overwrite("t1", src2(src))
    fused = job.run()
    old = _old_sequence(spark, tmp, "b", **kw)
    got_a = _logical(ParquetDatabase(spark, str(tmp / "a")).read("t1"))
    got_b = _logical(ParquetDatabase(spark, str(tmp / "b")).read("t1"))
    assert got_a == got_b
    return fused, old, got_a, _logical(job.source.read("t1"))


def test_insert_only_batch_repairs_nothing(spark, tmp_path):
    fused, old, got, want = _compare(
        spark, tmp_path,
        lambda src: src.unionByName(_rows(spark, range(N_ROWS, N_ROWS + 30), 900)),
    )
    assert fused.repaired_buckets == old.repaired_buckets == 0
    assert got == want


def test_delete_only_pass_runs_repair_alone(spark, tmp_path):
    fused, old, got, want = _compare(
        spark, tmp_path, lambda src: src.filter(~F.col("id").isin(5, 6, 7))
    )
    assert fused.repaired_buckets == old.repaired_buckets > 0
    assert fused.updated_rows == 0
    assert got == want


def test_updates_and_scattered_deletes_repair_every_bucket(spark, tmp_path):
    updated = list(range(0, N_ROWS, 11))

    def src2(src):
        kept = src.filter((F.col("id") % 7 != 3) & ~F.col("id").isin(updated))
        return kept.unionByName(_rows(spark, updated, 900))

    fused, old, got, want = _compare(spark, tmp_path, src2)
    assert fused.repaired_buckets == old.repaired_buckets == N_BUCKETS
    assert got == want


def test_target_drift_is_restored(spark, tmp_path):
    """A row removed from the target by hand comes back, next to a
    clustered update batch."""
    fused, old, got, want = _compare(
        spark, tmp_path,
        lambda src: src.filter(~F.col("id").isin(1, 2)).unionByName(
            _rows(spark, [1, 2], 900)
        ),
        edit_target=lambda df: df.filter(F.col("id") != 200),
    )
    assert fused.repaired_buckets == old.repaired_buckets == 1
    assert got == want


def test_bucket_emptied_by_source_is_dropped(spark, tmp_path):
    fused, old, got, want = _compare(
        spark, tmp_path,
        lambda src: src.filter(F.col("id") < 3).unionByName(_rows(spark, [3], 900)),
    )
    assert fused.repaired_buckets == old.repaired_buckets > 0
    assert got == want
    table_dir = ParquetDatabase(spark, str(tmp_path / "a")).path("t1")
    parts = [d for d in os.listdir(table_dir) if d.startswith(f"{BUCKET_COL}=")]
    assert len(parts) <= 4  # one per surviving key


def test_sync_deletes_off_only_merges(spark, tmp_path):
    fused, old, got, want = _compare(
        spark, tmp_path,
        lambda src: src.filter(F.col("id") != 9).filter(F.col("id") != 10)
        .unionByName(_rows(spark, [10], 900)),
        sync_deletes=False,
    )
    assert fused.repaired_buckets == old.repaired_buckets == 0
    assert got != want  # key 9 stays in the target
    assert "9" in {r[0] for r in got}


def test_multi_batch_slice_repairs_in_last_write(spark, tmp_path):
    """update_chunk_size=1 makes the batch 100 rows: the 300-row slice
    spans three batches; only the last one carries the repair."""
    def src2(src):
        ids = list(range(100, 400))
        kept = src.filter(~F.col("id").isin(ids)).filter(F.col("id") % 13 != 0)
        upd = spark.createDataFrame(
            [(i, datetime.datetime(2030, 1, 1), 1000 + i // 50) for i in ids],
            "id long, ts timestamp, xmin long",
        )
        return kept.unionByName(upd)

    fused, old, got, want = _compare(spark, tmp_path, src2, update_chunk_size=1)
    assert fused.updated_rows == old.updated_rows == 300
    assert fused.repaired_buckets == old.repaired_buckets > 0
    assert got == want


def test_duplicated_target_key_outside_slice(spark, tmp_path):
    fused, old, got, want = _compare(
        spark, tmp_path,
        lambda src: src.filter(F.col("id") != 1).unionByName(_rows(spark, [1], 900)),
        edit_target=lambda df: df.unionByName(df.filter(F.col("id") == 50)),
    )
    assert fused.repaired_buckets == old.repaired_buckets > 0
    assert got == want


def test_duplicated_target_key_inside_slice_flags_no_fewer(spark, tmp_path):
    """The virtual diff counts a duplicated key the batch updates twice,
    where the merge would have collapsed it: it may repair more buckets
    than the old sequence, never fewer, and the table is the same."""
    fused, old, got, want = _compare(
        spark, tmp_path,
        lambda src: src.filter(F.col("id") != 50).unionByName(_rows(spark, [50], 900)),
        edit_target=lambda df: df.unionByName(df.filter(F.col("id") == 50)),
    )
    assert fused.repaired_buckets >= old.repaired_buckets
    assert got == want


# -- cost guards -------------------------------------------------------


def test_effective_buckets_reads_marker_without_jobs(spark, target_db):
    df = spark.range(200).withColumnRenamed("id", "k")
    target_db.overwrite_partitioned(
        "t", with_bucket(df, ["k"], 64), BUCKET_COL, n_buckets=64
    )
    n, jobs = jobs_in(
        spark, "effective-buckets", lambda: effective_buckets(target_db, "t", 64)
    )
    assert n == 64
    assert jobs == 0


def _two_table_config(tmp):
    return Config(
        source=str(tmp / "s"),
        target=str(tmp / "t"),
        source_tables=["t1"],
        filtered_source_tables={"t2": FilteredTable("id % 2 = 0")},
        primary_keys={"t1": ["id"], "t2": ["id"]},
        target_buckets=N_BUCKETS,
        throttle_percentage=100,
    )


# Spark jobs of one incremental copy-on-write pass over the two-table
# fixture below (t1: updates, inserts and scattered deletes; t2 idle),
# validation of a fresh Job included, measured with Spark 4.1 in local
# mode. The merge-then-repair sequence ran 50 here and wrote t1 and the
# state table twice each.
PASS_JOBS = 40


def test_incremental_cow_pass_job_count_and_one_write(spark, tmp_path, monkeypatch):
    job = Job(spark, _two_table_config(tmp_path))
    src = make_timestamps(spark, N_ROWS)
    job.source.overwrite("t1", src)
    job.source.overwrite("t2", src)
    job.run()

    updated = list(range(1, N_ROWS, 9))
    job.source.overwrite(
        "t1",
        src.filter((F.col("id") % 23 != 4) & ~F.col("id").isin(updated))
        .unionByName(_rows(spark, updated + list(range(N_ROWS, N_ROWS + 20)), 900)),
    )
    writes: list[tuple[str, str]] = []
    for name in ("overwrite_partitioned", "overwrite_partitioned_aligned",
                 "replace_partitions", "overwrite"):
        orig = getattr(ParquetDatabase, name)

        def wrapped(self, table, *a, _orig=orig, _name=name, **k):
            writes.append((table, _name))
            return _orig(self, table, *a, **k)

        monkeypatch.setattr(ParquetDatabase, name, wrapped)
    job = Job(spark, _two_table_config(tmp_path))
    res, jobs = jobs_in(spark, "cow-pass", job.run)

    assert res.updated_rows == len(updated) + 20
    assert res.repaired_buckets > 0
    assert _logical(job.target.read("t1")) == _logical(job.source.read("t1"))
    # one data write of t1, one state commit, nothing for the idle t2
    assert [w for w in writes if w[0] == "t1"] == [("t1", "overwrite_partitioned")]
    assert [w[0] for w in writes if w[0] != "t1"] == ["__sslr_state"]
    assert jobs <= PASS_JOBS, f"{jobs} Spark jobs per pass (pinned {PASS_JOBS})"


def test_idle_pass_writes_no_state_and_still_repairs(spark, tmp_path, monkeypatch):
    import sslr_spark.operators.updates as updates

    job = Job(spark, _config(tmp_path, "t"))
    src = make_timestamps(spark, N_ROWS)
    job.source.overwrite("t1", src)
    job.run()
    state_dir = job.target.path(job.config.state_table)

    def files():
        return sorted(
            (os.path.relpath(os.path.join(d, f), state_dir), os.stat(os.path.join(d, f)).st_ino)
            for d, _, fs in os.walk(state_dir) for f in fs
        )

    before = files()

    def no_plan(*a, **k):
        raise AssertionError("an idle pass plans no version batches")

    monkeypatch.setattr(updates, "plan_version_batches", no_plan)
    # a source delete moves no version: the slice stays empty
    job.source.overwrite("t1", src.filter(F.col("id") != 7))
    job2 = Job(spark, _config(tmp_path, "t"))
    res = job2.run()
    assert res.updated_rows == 0
    assert res.repaired_buckets == 1
    assert job2.target.read("t1").filter(F.col("id") == 7).count() == 0
    assert files() == before
