"""File-drop source adapter (sources/files.py): JSONL/CSV ingestion
with observable corrupt-record quarantine, factory selection, the
version-less full-copy-every-pass Job degradation, and JSONL export.
"""

from __future__ import annotations

import gzip
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sslr_spark.sources.factory import open_database
from sslr_spark.sources.files import (
    CORRUPT_COL,
    FilesDatabase,
    export_jsonl,
)
from sslr_spark.sources.parquet import ParquetDatabase


@pytest.fixture()
def jsonl_root(tmp_path):
    root = tmp_path / "drops"
    root.mkdir()
    (root / "docs.jsonl").write_text(
        '{"doc_id": 1, "text": "alpha"}\n'
        '{"doc_id": 2, "text": "beta"}\n'
        "{this is not json at all\n"
        '{"doc_id": 3, "text": "gamma"}\n'
        '{"doc_id": 4, "text": "delta", "extra": true}\n'
    )
    return str(root)


def test_jsonl_read_quarantines_corrupt_lines(spark, jsonl_root):
    db = FilesDatabase(spark, jsonl_root, fmt="jsonl")
    clean, bad = db.read_with_quarantine("docs")
    assert {r.doc_id for r in clean.collect()} == {1, 2, 3, 4}
    assert CORRUPT_COL not in clean.columns
    rejects = [r.raw_line for r in bad.collect()]
    assert rejects == ["{this is not json at all"]
    assert db.quarantine_count("docs") == 1
    # read() is the clean view
    assert db.read("docs").count() == 4


def test_jsonl_pinned_schema_missing_field_nulls(spark, jsonl_root):
    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),  # absent in the drop
    ])
    db = FilesDatabase(spark, jsonl_root, fmt="jsonl",
                       schemas={"docs": schema})
    got = db.read("docs")
    assert got.columns == ["doc_id", "text", "lang"]
    assert got.filter(F.col("lang").isNull()).count() == 4
    # schema() reports the pinned schema, never the corrupt column
    assert db.schema("docs") == schema


def test_csv_read_with_quarantine(spark, tmp_path):
    root = tmp_path / "csvdrops"
    root.mkdir()
    (root / "t.csv").write_text(
        "id,v\n"
        "1,10\n"
        "2,notanint\n"
        "3,30\n"
    )
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("v", T.LongType()),
    ])
    db = FilesDatabase(spark, str(root), fmt="csv", schemas={"t": schema})
    clean, bad = db.read_with_quarantine("t")
    assert {(r.id, r.v) for r in clean.collect()} == {(1, 10), (3, 30)}
    assert bad.count() == 1 and "notanint" in bad.first().raw_line


def test_directory_of_parts_and_catalog(spark, tmp_path):
    root = tmp_path / "parts"
    (root / "docs").mkdir(parents=True)
    (root / "docs" / "part-0.jsonl").write_text('{"doc_id": 1}\n')
    (root / "docs" / "part-1.jsonl").write_text('{"doc_id": 2}\n')
    (root / "other.jsonl").write_text('{"x": 1}\n')
    db = FilesDatabase(spark, str(root), fmt="jsonl")
    assert db.table_exists("docs") and db.table_exists("other")
    assert not db.table_exists("nope")
    assert db.list_tables() == ["docs", "other"]
    assert db.read("docs").count() == 2


def test_factory_selects_files_and_rejects_target_role(spark, tmp_path):
    db = open_database(spark, f"jsonl:{tmp_path}", role="source")
    assert isinstance(db, FilesDatabase) and db.fmt == "jsonl"
    csvdb = open_database(spark, f"csv:{tmp_path}", role="source")
    assert csvdb.fmt == "csv"
    with pytest.raises(ValueError, match="read-only"):
        open_database(spark, f"jsonl:{tmp_path}", role="target")


def test_versionless_source_full_copies_every_pass(spark, tmp_path, jsonl_root):
    """The Job-level degradation: a source without the version column
    full-copies on EVERY pass (get_update_range), so a wholesale-
    replaced drop directory stays in sync including deletes."""
    from sslr_spark.operators.updates import sync_updates
    from sslr_spark.state import StateStore

    src = FilesDatabase(spark, jsonl_root, fmt="jsonl")
    target = ParquetDatabase(spark, str(tmp_path / "tgt"))
    store = StateStore(target)
    done = sync_updates(
        src.read("docs"), target, store, "docs", ["doc_id"],
        version_col="xmin", n_buckets=None,
    )
    assert done.rows == 4
    assert target.read("docs").count() == 4

    # replace the drop wholesale: doc 2 gone, doc 9 new
    with open(os.path.join(jsonl_root, "docs.jsonl"), "w") as fh:
        fh.write('{"doc_id": 1, "text": "alpha"}\n'
                 '{"doc_id": 3, "text": "gamma"}\n'
                 '{"doc_id": 9, "text": "new"}\n')
    done = sync_updates(
        src.read("docs"), target, store, "docs", ["doc_id"],
        version_col="xmin", n_buckets=None,
    )
    assert done.rows == 3 and done.full_copy  # full copy again, not an incremental no-op
    assert {r.doc_id for r in target.read("docs").collect()} == {1, 3, 9}


def test_export_jsonl_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, text string"
    )
    out = str(tmp_path / "export")
    export_jsonl(df, out, coalesce=1)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 1 and parts[0].endswith(".gz")
    with gzip.open(os.path.join(out, parts[0]), "rt") as fh:
        lines = fh.read().strip().splitlines()
    assert len(lines) == 2
    back = spark.read.json(out)
    assert {r.doc_id for r in back.collect()} == {1, 2}


def test_job_end_to_end_with_jsonl_source(spark, tmp_path, jsonl_root):
    """Config-level wiring: a Job whose source location is a jsonl:
    drop validates, full-copies every pass (version-less source), and
    — because inferred drop schemas legitimately drift between
    deliveries (the first drop has an ``extra`` field, the next drop
    doesn't) — runs under resyncOnSchemaChange, which re-creates the
    target on the new shape."""
    from sslr_spark.config import Config
    from sslr_spark.job import Job

    cfg = Config(
        source=f"jsonl:{jsonl_root}",
        target=str(tmp_path / "tgt"),
        source_tables=["docs"],
        primary_keys={"docs": ["doc_id"]},
        min_delete_chunk_size=10,
        resync_on_schema_change=True,
    )
    Job(spark, cfg).run()
    tgt = ParquetDatabase(spark, str(tmp_path / "tgt"))
    got = tgt.read("docs")
    assert got.filter(F.col("doc_id").isNotNull()).count() == 4
    assert "extra" in got.columns  # inferred from the first drop

    # wholesale replacement: 2 gone, 1 new, 'extra' field gone ->
    # schema drift triggers resync, target follows the new shape
    with open(os.path.join(jsonl_root, "docs.jsonl"), "w") as fh:
        fh.write('{"doc_id": 1, "text": "alpha"}\n'
                 '{"doc_id": 7, "text": "eta"}\n')
    Job(spark, cfg).run()
    out = tgt.read("docs")
    assert {r.doc_id for r in out.collect()} == {1, 7}
    assert "extra" not in out.columns


def test_export_roundtrip_hostile_strings(spark, tmp_path):
    """JSONL export + PERMISSIVE re-parse must preserve the strings
    that break naive serializers: embedded newlines/tabs (JSON string
    escapes), quotes, backslashes, unicode, emoji, empty and null."""
    rows = [
        (1, 'line1\nline2\ttabbed'),
        (2, 'quote " and \\ backslash'),
        (3, 'unicode: čćžđš 中文 🙂'),
        (4, ''),
        (5, None),
        (6, '{"looks": "like json"}'),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "hostile")
    export_jsonl(df, out, coalesce=1)
    back = FilesDatabase(spark, str(tmp_path), fmt="jsonl").read("hostile")
    got = {r.doc_id: r.text for r in back.collect()}
    # Spark's json writer drops null fields from the record; the doc
    # still round-trips, with text absent -> null
    assert got == {i: t for i, t in rows}


def test_cache_bounded_and_text_format(spark, tmp_path, jsonl_root):
    """Repeated reads hold at most ONE cached parse per table (a
    continuous sync must not accumulate a cache per pass), and the
    text format goes through the same quarantine surface (always
    empty)."""
    db = FilesDatabase(spark, jsonl_root, fmt="jsonl")

    def n_cached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    base = n_cached()
    db.read("docs").count()
    one = n_cached()
    db.read("docs").count()
    db.read("docs").count()
    assert n_cached() <= one  # replaced, not accumulated
    db.release_caches()
    assert n_cached() <= base

    (tmp_path / "lines.txt").write_text("alpha\nbeta\n")
    tdb = FilesDatabase(spark, str(tmp_path), fmt="text")
    clean, bad = tdb.read_with_quarantine("lines")
    assert clean.count() == 2 and bad.count() == 0
    tdb.release_caches()


def test_csv_without_schema_rejected(spark, tmp_path):
    """CSV inference cannot capture corrupt records (malformed rows
    would pass as silently-mangled clean rows), so a pinned schema is
    required, not advisory."""
    (tmp_path / "t.csv").write_text("id,v\n1,10\n")
    db = FilesDatabase(spark, str(tmp_path), fmt="csv")
    with pytest.raises(ValueError, match="pinned schema"):
        db.read("t")
    with pytest.raises(ValueError, match="pinned schema"):
        db.schema("t")
