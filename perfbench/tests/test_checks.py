"""Each correctness check passes on a correct output and fails on a
deliberately corrupted copy."""

import numpy as np
import pytest

from perfbench import checks

FLOORS = {"near_collapse": 0.9, "simhash_precision": 0.5,
          "simhash_recall": 0.5}


# ---------------------------------------------------------------- CDC


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield s
    s.stop()


ROWS = [(k, k % 3, f"p{k}", float(k) / 4) for k in range(50)]
COLS = ["k", "v", "s", "x"]


def test_identical_tables_pass(spark):
    src = spark.createDataFrame(ROWS, COLS)
    tgt = spark.createDataFrame(
        [(x, s, v, k) for k, v, s, x in reversed(ROWS)], ["x", "s", "v", "k"])
    assert checks.compare_tables(src, tgt)["ok"]


def test_dropped_row_fails(spark):
    src = spark.createDataFrame(ROWS, COLS)
    tgt = spark.createDataFrame(ROWS[1:], COLS)
    res = checks.compare_tables(src, tgt)
    assert not res["ok"] and res["rows_target"] == len(ROWS) - 1


def test_changed_payload_fails(spark):
    src = spark.createDataFrame(ROWS, COLS)
    bad = list(ROWS)
    bad[7] = (7, 1, "p7", 99.0)
    assert not checks.compare_tables(src, spark.createDataFrame(bad, COLS))["ok"]


def test_duplicated_row_fails(spark):
    src = spark.createDataFrame(ROWS, COLS)
    tgt = spark.createDataFrame(ROWS + ROWS[:1], COLS)
    assert not checks.compare_tables(src, tgt)["ok"]


def test_extra_column_fails(spark):
    src = spark.createDataFrame(ROWS, COLS)
    tgt = spark.createDataFrame([r + (0,) for r in ROWS], COLS + ["extra"])
    assert not checks.compare_tables(src, tgt)["ok"]


# ------------------------------------------------------------ curation

# docs 0-2: exact group -1; docs 3-6: near cluster 1; docs 7-8: near
# cluster 2; docs 9-11: singletons
TRUTH = np.array([-1, -1, -1, 1, 1, 1, 1, 2, 2, 10, 11, 12])
KEPT = np.array([0, 3, 7, 9, 10, 11])
CLUSTER_DOCS = np.array([3, 4, 5, 6, 7, 8, 0, 1, 2])
CLUSTER_IDS = np.array([3, 3, 3, 3, 7, 7, 0, 0, 0])


def test_perfect_curation_passes():
    res = checks.check_curation(KEPT, TRUTH, CLUSTER_DOCS, CLUSTER_IDS, FLOORS)
    assert res["ok"]
    assert res["exact_groups_with_2plus"] == 0
    assert res["near_collapse"] == 1.0
    assert res["simhash_precision"] == res["simhash_recall"] == 1.0


def test_kept_exact_duplicate_fails():
    kept = np.append(KEPT, 1)  # a second copy of exact group -1
    res = checks.check_curation(kept, TRUTH, CLUSTER_DOCS, CLUSTER_IDS, FLOORS)
    assert not res["ok"] and res["exact_groups_with_2plus"] == 1


def test_uncollapsed_near_cluster_fails():
    kept = np.append(KEPT, 8)  # cluster 2 keeps both members
    res = checks.check_curation(kept, TRUTH, CLUSTER_DOCS, CLUSTER_IDS, FLOORS)
    assert not res["ok"] and res["near_collapse"] == 0.5


def test_merged_clusters_lose_precision():
    ids = np.where(CLUSTER_IDS == 7, 3, CLUSTER_IDS)  # clusters 1 and 2 merged
    sim = checks.score_clusters(CLUSTER_DOCS, ids, TRUTH)
    # true pairs: 3 (exact) + 6 + 1 = 10; predicted: 3 + C(6,2) = 18
    assert sim["true_pairs"] == 10 and sim["pred_pairs"] == 18
    assert sim["precision"] == pytest.approx(10 / 18)
    assert sim["recall"] == 1.0
    res = checks.check_curation(KEPT, TRUTH, CLUSTER_DOCS, ids,
                                {**FLOORS, "simhash_precision": 0.6})
    assert not res["ok"]


def test_missed_pairs_lose_recall():
    sim = checks.score_clusters(CLUSTER_DOCS[:4], CLUSTER_IDS[:4], TRUTH)
    assert sim["precision"] == 1.0
    assert sim["recall"] == pytest.approx(6 / 10)
