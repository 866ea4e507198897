"""Delta Lake target adapter (VERDICT r2 task #7).

Two tiers, mirroring the JDBC adapter's test strategy:

- plan construction (merge conditions, replaceWhere predicates,
  factory selection, layout bookkeeping) runs everywhere — these are
  pure functions / filesystem-only paths with no Delta dependency;
- live round trips (MERGE upsert, keyed delete, replaceWhere) run
  under ``pytest.importorskip('delta')`` — the sandbox has no
  delta-spark jars, a real deployment does.
"""

from __future__ import annotations

import pytest

from sslr_spark.sources.delta import (
    DeltaDatabase,
    merge_condition,
    replace_where_predicate,
)
from sslr_spark.sources.factory import open_database


def test_merge_condition_null_safe_composite():
    assert merge_condition(["id"]) == "t.`id` <=> s.`id`"
    assert (
        merge_condition(["id", "region"], "tgt", "upd")
        == "tgt.`id` <=> upd.`id` AND tgt.`region` <=> upd.`region`"
    )


def test_replace_where_predicate_literals():
    assert (
        replace_where_predicate("__sslr_bucket", [0, 3, 9])
        == "`__sslr_bucket` in (0, 3, 9)"
    )
    # SPARK-dialect escaping, not JDBC: backslash doubles, quote
    # escapes as \' (Spark's parser treats backslash as escape — the
    # Postgres '' doubling would mis-parse here)
    assert (
        replace_where_predicate("lang", ["en", "it's", "a\\b"])
        == "`lang` in ('en', 'it\\'s', 'a\\\\b')"
    )
    with pytest.raises(ValueError):
        replace_where_predicate("b", [b"\x01"])


def test_factory_selects_delta(spark, tmp_path):
    db = open_database(spark, f"delta:{tmp_path}/lake", role="target")
    assert isinstance(db, DeltaDatabase)
    assert db.root == f"{tmp_path}/lake"
    # in-place capable: Job strips the version column, applies MERGEs
    assert hasattr(db, "apply_upsert") and hasattr(db, "delete_keys")


def test_catalog_probes_without_delta(spark, tmp_path):
    """Existence/layout probes are filesystem-only — usable (and
    correct) before any Delta jar loads."""
    db = DeltaDatabase(spark, str(tmp_path / "lake"))
    assert not db.table_exists("t")
    assert db.list_tables() == []
    assert db.layout_meta("t") is None


# -- live tier (requires delta-spark) ----------------------------------

@pytest.fixture()
def delta_db(tmp_path):
    delta = pytest.importorskip("delta")
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.master("local[4]")
        .appName("sslr_delta_tests")
        .config(
            "spark.sql.extensions",
            "io.delta.sql.DeltaSparkSessionExtension",
        )
        .config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    )
    spark = delta.configure_spark_with_delta_pip(builder).getOrCreate()
    yield DeltaDatabase(spark, str(tmp_path / "lake")), spark


def test_delta_merge_upsert_and_delete_live(delta_db):
    db, spark = delta_db
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "id long, v string"
    )
    db.overwrite("t", df)
    assert db.table_exists("t")

    upd = spark.createDataFrame(
        [(1, "new1"), (100, "new100")], "id long, v string"
    )
    db.apply_upsert("t", upd, ["id"])
    got = {r.id: r.v for r in db.read("t").collect()}
    assert got[1] == "new1" and got[100] == "new100" and len(got) == 101

    db.delete_keys(
        "t", spark.createDataFrame([(i,) for i in range(50)], "id long"),
        ["id"],
    )
    assert db.read("t").count() == 51


def test_delta_replace_partitions_live(delta_db):
    from pyspark.sql import functions as F

    db, spark = delta_db
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 4).alias("b")
    )
    db.overwrite_partitioned("t", df, "b", n_buckets=4)
    assert db.layout_meta("t") == {
        "partition_col": "b", "n_buckets": 4, "bucket_hash": "portable"
    }

    repl = spark.createDataFrame([(1000, 2)], "id long, b long")
    db.replace_partitions("t", repl, "b", [2])
    got = db.read("t", with_meta=True)
    assert got.filter("b = 2").count() == 1  # partition replaced
    assert got.filter("b != 2").count() == 75  # others untouched


# -- stub tier: MERGE builder-chain execution without delta-spark ------
#
# VERDICT r3 task #3: the jars cannot be fetched in this sandbox (no
# network — documented in README "Sandbox limits"), so between the
# pure-function tier above and the importorskip live tier, this tier
# EXECUTES DeltaDatabase.apply_upsert / delete_keys / drop_partitions
# end-to-end against a recording DeltaTable stub injected at the
# adapter's single lazy import seam (sources/delta.py _delta_table).
# It pins the exact builder-chain contract — condition text, call
# order, source frame shape — that the live tier asserts by outcome.

class _RecordingDeltaTable:
    def __init__(self, path, log):
        self.path = path
        self.log = log
        self.merge_source = None
        self.merge_cond = None
        self.delete_predicate = None

    def alias(self, a):
        self.log.append(f"alias:{a}")
        return self

    def merge(self, source, cond):
        self.log.append("merge")
        self.merge_source = source
        self.merge_cond = cond
        return self

    def whenMatchedUpdateAll(self):
        self.log.append("whenMatchedUpdateAll")
        return self

    def whenNotMatchedInsertAll(self):
        self.log.append("whenNotMatchedInsertAll")
        return self

    def whenMatchedDelete(self):
        self.log.append("whenMatchedDelete")
        return self

    def execute(self):
        self.log.append("execute")

    def delete(self, predicate):
        self.log.append("delete")
        self.delete_predicate = predicate


@pytest.fixture()
def stub_delta(monkeypatch, spark, tmp_path):
    """DeltaDatabase whose lazy ``from delta.tables import DeltaTable``
    resolves to the recorder. monkeypatch.setitem restores sys.modules
    afterwards, so the live tier's importorskip stays truthful."""
    import sys
    import types

    log: list[str] = []
    created: list[_RecordingDeltaTable] = []

    class _FakeDT:
        @staticmethod
        def forPath(_spark, path):
            t = _RecordingDeltaTable(path, log)
            created.append(t)
            return t

    pkg = types.ModuleType("delta")
    tables_mod = types.ModuleType("delta.tables")
    tables_mod.DeltaTable = _FakeDT
    pkg.tables = tables_mod
    monkeypatch.setitem(sys.modules, "delta", pkg)
    monkeypatch.setitem(sys.modules, "delta.tables", tables_mod)
    return DeltaDatabase(spark, str(tmp_path / "lake")), log, created


def test_stub_apply_upsert_builder_chain(stub_delta, spark):
    db, log, created = stub_delta
    upd = spark.createDataFrame(
        [(1, "r0", "a")], "id long, region string, v string"
    )
    db.apply_upsert("orders", upd, ["id", "region"])
    (t,) = created
    assert t.path.endswith("/orders")
    assert log == [
        "alias:t", "merge", "whenMatchedUpdateAll",
        "whenNotMatchedInsertAll", "execute",
    ]
    # null-safe composite condition, exactly merge_condition's text
    assert t.merge_cond == (
        "t.`id` <=> s.`id` AND t.`region` <=> s.`region`"
    )
    # the source is the updates frame itself (all columns — UpdateAll/
    # InsertAll semantics), not a projection
    assert t.merge_source.columns == ["id", "region", "v"]


def test_stub_delete_keys_builder_chain(stub_delta, spark):
    db, log, created = stub_delta
    keys = spark.createDataFrame(
        [(1, "x"), (1, "x"), (2, "y")], "id long, v string"
    )
    db.delete_keys("orders", keys, ["id"])
    (t,) = created
    assert log == ["alias:t", "merge", "whenMatchedDelete", "execute"]
    assert t.merge_cond == "t.`id` <=> s.`id`"
    # source must be the DISTINCT pk projection: extra columns would
    # be harmless to MERGE but bloat the shuffle; duplicates would
    # make the merge ambiguous-match-error on some engines
    assert t.merge_source.columns == ["id"]
    assert t.merge_source.count() == 2


def test_stub_drop_partitions_predicate(stub_delta):
    db, log, created = stub_delta
    db.drop_partitions("t", "__sslr_bucket", [0, 7])
    (t,) = created
    assert log == ["delete"]
    assert t.delete_predicate == "`__sslr_bucket` in (0, 7)"
    # empty partition list never touches the table
    db.drop_partitions("t", "__sslr_bucket", [])
    assert len(created) == 1


def test_stub_replace_partitions_over_given_values(stub_delta, spark, monkeypatch):
    """``replaceWhere`` covers exactly the listed values — including one
    the frame holds no rows for, which Delta then empties — and the
    frame's partition values are never collected; an empty list writes
    nothing."""
    db, log, created = stub_delta
    calls: list[tuple] = []

    class _Writer:
        def __getattr__(self, name):
            def record(*a):
                calls.append((name, *a))
                return self

            return record

    df = spark.createDataFrame([(1000, 2)], "id long, b long")
    monkeypatch.setattr(type(df), "write", property(lambda self: _Writer()))

    def no_collect(self):
        raise AssertionError("partition values collected")

    monkeypatch.setattr(type(df), "collect", no_collect)
    db.replace_partitions("t", df, "b", [2, 5])
    assert ("option", "replaceWhere", "`b` in (2, 5)") in calls
    assert calls[-1] == ("save", db.path("t"))
    calls.clear()
    db.replace_partitions("t", df, "b", [])
    assert calls == [] and created == []
