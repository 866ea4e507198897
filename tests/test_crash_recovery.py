"""Crash-safety tests for the data-then-state commit protocol
(state.py ordering rule; reference T2 commits state inside the target
transaction — our equivalent guarantee is at-least-once re-apply +
idempotent merge = exactly-once effect)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from sslr_spark.operators.updates import sync_updates
from sslr_spark.state import StateStore
from tests.conftest import assert_df_equal, make_timestamps


@pytest.mark.slow
def test_replay_after_crash_between_data_and_state_commit(
    spark, source_db, target_db
):
    """Simulate: data batch applied, crash before the watermark
    advanced. The rerun re-processes the same slice; result must be
    identical (no duplicates, no loss)."""
    src = make_timestamps(spark, 600)
    source_db.overwrite("t", src)
    store = StateStore(target_db)
    sync_updates(source_db.read("t"), target_db, store, "t", ["id"])

    # mutate + sync
    import datetime

    upd = spark.createDataFrame(
        [(i, datetime.datetime(2030, 1, 1), 300) for i in range(20)],
        "id long, ts timestamp, xmin long",
    )
    src2 = src.filter(F.col("id") >= 20).unionByName(upd)
    source_db.overwrite("t", src2)
    sync_updates(source_db.read("t"), target_db, store, "t", ["id"])
    assert_df_equal(target_db.read("t"), src2, ["id"])

    # "crash": roll the watermark back as if state commit never landed
    store.set_version("t", 60)
    done = sync_updates(source_db.read("t"), target_db, store, "t", ["id"])
    # the whole slice >= 61 was re-applied...
    assert done.rows == 20
    # ...but the merge is idempotent: state identical, no duplicates
    assert_df_equal(target_db.read("t"), src2, ["id"])
    assert target_db.read("t").count() == 600


def test_interrupted_overwrite_preserves_previous_table(spark, target_db):
    """The staged-rename overwrite must never leave a half-written
    published table: a failing write keeps the old data intact."""
    good = make_timestamps(spark, 100)
    target_db.overwrite("t", good)

    bad = spark.range(10).withColumn(
        "boom", F.udf(lambda x: 1 // 0)("id")  # fails at write time
    )
    try:
        target_db.overwrite("t", bad)
        raised = False
    except Exception:
        raised = True
    assert raised
    # previous committed table fully readable
    assert_df_equal(target_db.read("t"), good, ["id"])


def test_replay_after_crash_between_fused_write_and_state_commit(
    spark, tmp_path
):
    """A bucketed copy-on-write pass writes merge and delete repair in
    one write, then commits state. A crash between the two leaves the
    new data under the old watermark; the replay re-applies the same
    slice against it and must converge to the same table (no
    duplicates, no loss, nothing left to repair)."""
    import datetime

    from sslr_spark.config import Config
    from sslr_spark.job import Job

    cfg = dict(
        source=str(tmp_path / "s"),
        target=str(tmp_path / "t"),
        source_tables=["t"],
        primary_keys={"t": ["id"]},
        target_buckets=8,
        throttle_percentage=100,
    )
    job = Job(spark, Config(**cfg))
    src = make_timestamps(spark, 300)
    job.source.overwrite("t", src)
    job.run()
    mark = job.state.get("t").last_seen_version

    upd = spark.createDataFrame(
        [(i, datetime.datetime(2030, 1, 1), 500) for i in range(0, 300, 7)],
        "id long, ts timestamp, xmin long",
    )
    src2 = (
        src.filter(F.col("id") % 7 != 0)
        .filter(F.col("id") % 11 != 5)
        .unionByName(upd)
    )
    job.source.overwrite("t", src2)

    crashing = Job(spark, Config(**cfg))

    def crash(state):
        raise RuntimeError("crash before the state commit")

    crashing.state.set = crash
    with pytest.raises(RuntimeError, match="crash before the state commit"):
        crashing.run()
    # the fused write landed; the watermark did not move
    assert_df_equal(crashing.target.read("t"), src2, ["id"])
    assert crashing.state.get("t").last_seen_version == mark

    replay = Job(spark, Config(**cfg))
    res = replay.run()
    assert res.updated_rows == upd.count()
    assert res.repaired_buckets == 0
    assert_df_equal(replay.target.read("t"), src2, ["id"])
    assert replay.state.get("t").last_seen_version == 500


def test_bucketed_mor_compaction_failing_mid_swap_converges(
    spark, tmp_path, monkeypatch
):
    """A merge-on-read pass compacts its log into a bucketed base; the
    bucket swap fails after the first bucket landed (the state already
    committed, the log still intact). The overlay still serves the
    source, and the next pass folds the log and converges."""
    import datetime
    import os

    import sslr_spark.sources.parquet as parquet
    from sslr_spark.config import Config
    from sslr_spark.job import Job
    from sslr_spark.operators.deletes import BUCKET_COL
    from sslr_spark.operators.updates import read_merged, upsert_log_table

    cfg = Config(
        source=str(tmp_path / "s"),
        target=str(tmp_path / "t"),
        source_tables=["t"],
        primary_keys={"t": ["id"]},
        target_buckets=8,
        merge_on_read=True,
        merge_on_read_max_log=0.01,
        throttle_percentage=100,
    )
    job = Job(spark, cfg)
    src = make_timestamps(spark, 300)
    job.source.overwrite("t", src)
    job.run()

    upd = spark.createDataFrame(
        [(i, datetime.datetime(2030, 1, 1), 500) for i in range(0, 300, 7)],
        "id long, ts timestamp, xmin long",
    )
    src2 = (
        src.filter(F.col("id") % 7 != 0)
        .filter(F.col("id") % 11 != 5)
        .unionByName(upd)
    )
    job.source.overwrite("t", src2)

    real_rename = os.rename
    swaps: list[str] = []

    def rename(a, b):
        if ".stage-" in a and os.path.basename(b).startswith(f"{BUCKET_COL}="):
            swaps.append(b)
            if len(swaps) == 2:
                raise OSError("crash mid-swap")
        return real_rename(a, b)

    monkeypatch.setattr(parquet.os, "rename", rename)
    crashing = Job(spark, cfg)
    with pytest.raises(OSError, match="crash mid-swap"):
        crashing.run()
    monkeypatch.undo()
    # one bucket folded, the failing one rolled back, the log kept
    assert len(swaps) == 2
    assert crashing.target.table_exists(upsert_log_table("t"))
    assert crashing.state.get("t").last_seen_version == 500
    # the delete phase had not run yet: the removed rows still show
    removed = src.filter((F.col("id") % 11 == 5) & (F.col("id") % 7 != 0))
    assert_df_equal(
        read_merged(crashing.target, "t", ["id"]),
        src2.unionByName(removed),
        ["id"],
    )

    replay = Job(spark, cfg)
    replay.run()
    assert_df_equal(read_merged(replay.target, "t", ["id"]), src2, ["id"])
    # the replay folded the upserts; its delete phase logged tombstones
    log = replay.target.read(upsert_log_table("t"), with_meta=True)
    assert log.filter(~F.col("__sslr_tombstone")).count() == 0
