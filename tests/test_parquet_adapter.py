"""ParquetDatabase adapter-level tests (catalog probes, append,
drop, observe-based copy progress — SURVEY S3/S4/S7)."""

from __future__ import annotations

from sslr_spark.operators.copy import copy_full_table
from tests.conftest import make_timestamps


def test_catalog_probes_and_drop(spark, source_db):
    assert source_db.list_tables() == []
    assert not source_db.table_exists("t")
    source_db.overwrite("t", make_timestamps(spark, 10))
    source_db.overwrite("u", make_timestamps(spark, 5))
    assert source_db.list_tables() == ["t", "u"]
    assert source_db.table_exists("t")
    source_db.drop("t")
    assert source_db.list_tables() == ["u"]
    assert not source_db.table_exists("t")


def test_append_accumulates(spark, source_db):
    df = make_timestamps(spark, 100)
    source_db.overwrite("t", df)
    source_db.append("t", df.filter("id < 20"))
    assert source_db.read("t").count() == 120


def test_copy_progress_counter_via_observe(spark, source_db, target_db):
    """S4: the copy reports rows through df.observe on the write job —
    no second scan; the count must equal exactly what was written."""
    source_db.overwrite("t", make_timestamps(spark, 777))
    rows = copy_full_table(source_db.read("t"), target_db, "t", where="id >= 77")
    assert rows == 700
    assert target_db.read("t").count() == 700


def test_copy_progress_in_flight_tier_ticks(spark, source_db, target_db):
    """S4 in-flight half (reference internal/copy.go:78-88): during a
    multi-partition copy the driver-side reporter emits 'Read ~N rows'
    ticks at the 10k tier cadence — at least the 10k and 20k
    boundaries for a 25k-row copy — and never skips a boundary even
    if tasks outrun the poll loop."""
    from sslr_spark.operators.copy import CopyProgressReporter, _report_interval

    # the reference's tier schedule, pinned
    assert _report_interval(5_000) == 10_000
    assert _report_interval(400_000) == 100_000
    assert _report_interval(2_000_000) == 500_000

    src = make_timestamps(spark, 25_000).repartition(16)
    source_db.overwrite("t16", src)
    msgs: list[str] = []
    rep = CopyProgressReporter(
        spark, 25_000, "t16", poll_seconds=0.05,
        log=lambda fmt, *a: msgs.append(fmt % a),
    )
    with rep:
        rows = copy_full_table(source_db.read("t16"), target_db, "t16")
        # the reporter polls scheduler metadata; give it one more beat
        # to observe the final task counts before the context closes
        import time

        time.sleep(0.3)
    assert rows == 25_000
    assert rep.ticks >= 2
    assert any("Read ~10000 rows" in m for m in msgs)
    assert any("Read ~20000 rows" in m for m in msgs)


def test_schema_probe(spark, source_db):
    source_db.overwrite("t", make_timestamps(spark, 3))
    names = [f.name for f in source_db.schema("t").fields]
    assert names == ["id", "ts", "xmin"]


def test_sorted_writes_give_tight_row_group_key_ranges(spark, target_db):
    """sort_cols clusters each bucket's parquet row groups by key:
    row-group min/max spans must be narrow and non-overlapping, so a
    key-range predicate (P6) skips row groups instead of scanning the
    whole bucket."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from sslr_spark.operators.deletes import BUCKET_COL, with_bucket

    df = spark.range(0, 200_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    target_db.overwrite_partitioned(
        "t", with_bucket(df, ["k"], 4), BUCKET_COL, n_buckets=4,
        sort_cols=["k"],
    )
    root = target_db.path("t")
    spans = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".parquet") or f.startswith((".", "_")):
                continue
            meta = pq.ParquetFile(os.path.join(dirpath, f)).metadata
            file_spans = []
            for rg in range(meta.num_row_groups):
                col = next(
                    meta.row_group(rg).column(i)
                    for i in range(meta.row_group(rg).num_columns)
                    if meta.row_group(rg).column(i).path_in_schema == "k"
                )
                st = col.statistics
                file_spans.append((st.min, st.max))
            # within a sorted file, row groups must not overlap
            for (a_min, a_max), (b_min, b_max) in zip(
                file_spans, file_spans[1:]
            ):
                assert a_max <= b_min
            spans.extend(file_spans)
    assert spans, "no parquet files written"
    # each row group's span must be far below the full key range: with
    # 4 hash buckets a sorted bucket still covers the whole range, but
    # each row group covers only its slice of the sorted order — allow
    # 2x slack over the ideal rows-per-group fraction
    total = 200_000
    n_groups = len(spans)
    for mn, mx in spans:
        assert (mx - mn) <= 2 * 4 * total / n_groups, (mn, mx, n_groups)


def test_compact_partitions_rewrites_only_oversize_buckets(spark, target_db):
    import os

    from pyspark.sql import functions as F

    from sslr_spark.operators.deletes import BUCKET_COL, with_bucket

    df = with_bucket(
        spark.range(0, 2000).selectExpr("id", "id * 2 as v"), ["id"], 8
    )
    target_db.overwrite_partitioned(
        "t", df, BUCKET_COL, n_buckets=8, sort_cols=["id"]
    )
    # fragment bucket partitions with three tiny appends each
    frag = df.filter(F.col(BUCKET_COL).isin([0, 3]))
    for _ in range(3):
        frag.write.mode("append").partitionBy(BUCKET_COL).parquet(
            target_db.path("t")
        )
    counts = target_db.partition_file_counts("t")
    assert counts["0"] > 4 and counts["3"] > 4
    before = target_db.read("t", with_meta=True)
    expect = sorted(
        (r["id"], r["v"]) for r in before.select("id", "v").collect()
    )
    untouched_dir = os.path.join(target_db.path("t"), f"{BUCKET_COL}=1")
    untouched = sorted(os.listdir(untouched_dir))

    stats = target_db.compact_partitions(
        "t", max_files_per_partition=4, sort_cols=["id"]
    )
    assert stats["compacted"] == 2 and set(stats["values"]) == {0, 3}
    after_counts = target_db.partition_file_counts("t")
    assert after_counts["0"] == 1 and after_counts["3"] == 1
    # rows survive exactly; untouched partitions keep their files
    got = sorted(
        (r["id"], r["v"])
        for r in target_db.read("t").select("id", "v").collect()
    )
    assert got == expect
    assert sorted(os.listdir(untouched_dir)) == untouched
    # idempotent: second run is a no-op
    again = target_db.compact_partitions("t", max_files_per_partition=4)
    assert again["compacted"] == 0


def test_snapshot_survives_overwrite_and_partition_rewrite(spark, tmp_path):
    """Hardlink snapshots: pin a table, then rewrite the live table
    every way the engine can — the snapshot still reads the original
    bytes; zero data was copied (hardlinks) and snapshots are
    immutable/atomic."""
    import pytest
    from pyspark.sql import functions as F

    from sslr_spark.operators.deletes import BUCKET_COL, with_bucket
    from sslr_spark.sources.parquet import ParquetDatabase

    db = ParquetDatabase(spark, str(tmp_path / "snapdb"))
    orig = spark.range(100).withColumn("v", F.col("id") * 2)
    db.overwrite("t", orig)
    n = db.snapshot("t", "run1")
    assert n > 0
    assert db.list_snapshots("t") == ["run1"]
    with pytest.raises(ValueError):
        db.snapshot("t", "run1")  # immutable tag

    # full overwrite deletes the old files — snapshot keeps the inodes
    db.overwrite("t", spark.range(5).withColumn("v", F.lit(-1)))
    snap = db.read_snapshot("t", "run1")
    assert snap.count() == 100
    assert snap.filter(F.col("v") == F.col("id") * 2).count() == 100

    # partitioned table + partition rewrite
    pt = with_bucket(orig, ["id"], 8)
    db.overwrite_partitioned("p", pt, BUCKET_COL, n_buckets=8)
    db.snapshot("p", "run1")
    db.replace_partitions(
        "p",
        with_bucket(
            spark.range(100).withColumn("v", F.lit(0)), ["id"], 8
        ).filter(F.col(BUCKET_COL) == 3),
        BUCKET_COL,
        [3],
    )
    snap_p = db.read_snapshot("p", "run1")
    # pre-rewrite bytes: every snapshot row still has v == id * 2
    assert snap_p.filter(F.col("v") != F.col("id") * 2).count() == 0
    assert snap_p.count() == 100

    db.drop_snapshot("t", "run1")
    assert db.list_snapshots("t") == []


def _bucketed_table(spark, db, n_buckets=8):
    from sslr_spark.operators.deletes import BUCKET_COL, with_bucket

    df = with_bucket(
        spark.range(0, 200).selectExpr("id", "id * 2 as v"), ["id"], n_buckets
    )
    db.overwrite_partitioned("t", df, BUCKET_COL, n_buckets=n_buckets)
    return df


def _part_files(db, table, value):
    """File name -> inode of one bucket partition directory."""
    import os

    from sslr_spark.operators.deletes import BUCKET_COL

    d = os.path.join(db.path(table), f"{BUCKET_COL}={value}")
    return {f: os.stat(os.path.join(d, f)).st_ino for f in os.listdir(d)}


def _leftovers(db):
    import os

    return [d for d in os.listdir(db.root) if d.startswith((".stage-", ".old-"))]


def test_replace_partitions_swaps_listed_partitions_only(spark, target_db):
    """A listed partition takes exactly the frame's rows, a listed one
    without rows is removed, unlisted ones keep their files (same
    inodes) and the layout marker stays."""
    import os

    from pyspark.sql import functions as F

    from sslr_spark.operators.deletes import BUCKET_COL

    df = _bucketed_table(spark, target_db)
    kept = {b: _part_files(target_db, "t", b) for b in range(8) if b not in (2, 5)}
    target_db.replace_partitions(
        "t",
        df.filter(F.col(BUCKET_COL) == 2).withColumn("v", F.lit(-1).cast("long")),
        BUCKET_COL,
        [2, 5],
    )
    got = target_db.read("t", with_meta=True)
    assert not os.path.exists(os.path.join(target_db.path("t"), f"{BUCKET_COL}=5"))
    assert got.filter(F.col(BUCKET_COL) == 5).count() == 0
    assert {r.v for r in got.filter(F.col(BUCKET_COL) == 2).collect()} == {-1}
    rest = ~F.col(BUCKET_COL).isin(2, 5)
    assert sorted(got.filter(rest).collect()) == sorted(df.filter(rest).collect())
    assert {b: _part_files(target_db, "t", b) for b in kept} == kept
    assert target_db.layout_meta("t")["n_buckets"] == 8
    assert _leftovers(target_db) == []


def test_replace_partitions_creates_missing_table(spark, target_db):
    from sslr_spark.operators.deletes import BUCKET_COL, with_bucket

    df = with_bucket(spark.range(20).selectExpr("id"), ["id"], 4)
    values = sorted({r[BUCKET_COL] for r in df.collect()})
    assert not target_db.table_exists("fresh")
    target_db.replace_partitions("fresh", df, BUCKET_COL, values)
    assert sorted(r.id for r in target_db.read("fresh").collect()) == list(range(20))


def test_replace_partitions_rolls_back_a_failed_swap(spark, target_db, monkeypatch):
    """The rename that moves a staged partition in fails for bucket 3:
    bucket 3's old files are back in place, bucket 1 (swapped before
    it) holds the new rows, and no stage or parked directory is left."""
    import os

    import pytest
    from pyspark.sql import functions as F

    import sslr_spark.sources.parquet as parquet
    from sslr_spark.operators.deletes import BUCKET_COL

    df = _bucketed_table(spark, target_db)
    before = _part_files(target_db, "t", 3)
    real_rename = os.rename

    def rename(src, dst):
        if ".stage-" in src and dst.endswith(f"{BUCKET_COL}=3"):
            raise OSError("rename failed")
        return real_rename(src, dst)

    monkeypatch.setattr(parquet.os, "rename", rename)
    with pytest.raises(OSError, match="rename failed"):
        target_db.replace_partitions(
            "t",
            df.filter(F.col(BUCKET_COL).isin(1, 3)).withColumn("v", F.lit(-1).cast("long")),
            BUCKET_COL,
            [1, 3],
        )
    monkeypatch.undo()
    assert _part_files(target_db, "t", 3) == before
    got = target_db.read("t", with_meta=True)
    assert {r.v for r in got.filter(F.col(BUCKET_COL) == 1).collect()} == {-1}
    b3 = F.col(BUCKET_COL) == 3
    assert sorted(got.filter(b3).collect()) == sorted(df.filter(b3).collect())
    assert _leftovers(target_db) == []


def test_replace_partitions_rejects_rows_outside_the_list(spark, target_db):
    import pytest
    from pyspark.sql import functions as F

    from sslr_spark.operators.deletes import BUCKET_COL

    df = _bucketed_table(spark, target_db)
    before = {b: _part_files(target_db, "t", b) for b in range(8)}
    with pytest.raises(ValueError, match="outside the listed partitions"):
        target_db.replace_partitions(
            "t", df.filter(F.col(BUCKET_COL).isin(2, 4)), BUCKET_COL, [2]
        )
    assert {b: _part_files(target_db, "t", b) for b in range(8)} == before
    assert _leftovers(target_db) == []
