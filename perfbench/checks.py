"""Correctness checks on the engine's outputs.

- CDC: after the last pass the published (copy-on-write) or overlaid
  (merge-on-read) target must equal the source, compared by an
  order-independent fingerprint over all columns.
- curate: the curated output and the simhash clusters are scored
  against the generator's ground truth.
"""

from __future__ import annotations

import numpy as np


def fingerprint(df, cols: list[str]) -> tuple:
    """(row count, two order-independent 64-bit hash sums) over ``cols``.

    Each row hashes to xxhash64 of its columns in two orders; summing
    as decimals cannot overflow and does not depend on row order."""
    from pyspark.sql import functions as F

    fwd = F.xxhash64(*[F.col(c) for c in cols])
    rev = F.xxhash64(*[F.col(c) for c in reversed(cols)])
    row = df.select(
        fwd.cast("decimal(38,0)").alias("h1"),
        rev.cast("decimal(38,0)").alias("h2"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("h1").alias("s1"),
        F.sum("h2").alias("s2"),
    ).first()
    return int(row["n"]), row["s1"], row["s2"]


def compare_tables(source_df, target_df) -> dict:
    """Whether ``target_df`` holds exactly the rows of ``source_df``.

    Columns are matched by name; the target must have the same set."""
    cols = sorted(source_df.columns)
    if sorted(target_df.columns) != cols:
        return {
            "ok": False,
            "why": f"columns differ: {sorted(target_df.columns)} != {cols}",
        }
    s = fingerprint(source_df, cols)
    t = fingerprint(target_df, cols)
    return {
        "ok": s == t,
        "rows_source": s[0],
        "rows_target": t[0],
        "why": "" if s == t else "fingerprints differ",
    }


# ----------------------------------------------------------------------
# curation
# ----------------------------------------------------------------------


def _pairs_within(labels: np.ndarray) -> int:
    """Number of unordered pairs sharing a label."""
    _, counts = np.unique(labels, return_counts=True)
    return int((counts * (counts - 1) // 2).sum())


def score_clusters(doc_ids: np.ndarray, cluster_ids: np.ndarray,
                   truth: np.ndarray) -> dict:
    """Pairwise precision and recall of predicted clusters against the
    planted ones. ``doc_ids``/``cluster_ids`` list only clustered docs;
    every other doc is its own singleton."""
    true_pairs = _pairs_within(truth)
    pred_pairs = _pairs_within(cluster_ids)
    if len(doc_ids):
        joint = cluster_ids.astype(np.int64) * (2 * len(truth) + 1) + (
            truth[doc_ids] + len(truth)
        )
        hit = _pairs_within(joint)
    else:
        hit = 0
    return {
        "precision": hit / pred_pairs if pred_pairs else 1.0,
        "recall": hit / true_pairs if true_pairs else 1.0,
        "pred_pairs": pred_pairs,
        "true_pairs": true_pairs,
    }


def check_curation(kept: np.ndarray, truth: np.ndarray,
                   cluster_doc_ids: np.ndarray, cluster_ids: np.ndarray,
                   floors: dict) -> dict:
    """Score one curation run against the ground truth.

    - every planted exact-duplicate group keeps at most one doc;
    - the share of planted near-duplicate clusters left with at most
      one doc (``near_collapse``) reaches its floor;
    - the simhash clusters reach the pairwise precision and recall
      floors.
    """
    kept_truth = truth[kept]
    exact = kept_truth[kept_truth < 0]
    _, per_group = np.unique(exact, return_counts=True)
    exact_violations = int((per_group > 1).sum())

    labels, sizes = np.unique(truth[truth > 0], return_counts=True)
    planted = labels[sizes > 1]
    near = kept_truth[np.isin(kept_truth, planted)]
    _, survivors = np.unique(near, return_counts=True)
    near_collapse = 1.0 - (survivors > 1).sum() / max(1, len(planted))

    sim = score_clusters(cluster_doc_ids, cluster_ids, truth)
    out = {
        "exact_groups_with_2plus": exact_violations,
        "near_collapse": float(near_collapse),
        "simhash_precision": sim["precision"],
        "simhash_recall": sim["recall"],
    }
    out["ok"] = (
        exact_violations == 0
        and near_collapse >= floors["near_collapse"]
        and sim["precision"] >= floors["simhash_precision"]
        and sim["recall"] >= floors["simhash_recall"]
    )
    return out
