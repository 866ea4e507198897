"""Seeded input generators: the CDC change stream and the curation corpus.

Everything here is plain numpy + pyarrow, so the engine never sees the
generator: it only reads the parquet files committed to the source
directory. The same seed always yields byte-identical tables.
"""

from __future__ import annotations

import io
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VERSION_COL = "xmin"
LINEITEM_PK = ["l_orderkey", "l_linenumber"]
ORDERS_PK = ["o_orderkey"]
ORDERS_WHERE = "o_orderstatus = 'O'"

_FLAGS = np.array(["A", "N", "R"])
_STATUS = np.array(["F", "O"])
_ORDER_STATUS = np.array(["F", "O", "P"])
_EPOCH_1992_US = 694_224_000 * 1_000_000
_DAY_US = 86_400 * 1_000_000


def write_parquet_bytes(table: pa.Table) -> bytes:
    """Serialize ``table`` exactly as the source writer does."""
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    return buf.getvalue()


def commit_table(root: str, name: str, table: pa.Table, n_files: int) -> None:
    """Atomically replace ``<root>/<name>.parquet`` with ``table`` split
    into ``n_files`` files: stage into a sibling directory, then swap it
    in by rename, the same protocol the engine's parquet adapter uses."""
    final = os.path.join(root, f"{name}.parquet")
    stage = os.path.join(root, f".stage-{name}")
    old = os.path.join(root, f".old-{name}")
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        part = table.slice(i * step, step)
        pq.write_table(
            part, os.path.join(stage, f"part-{i:05d}.parquet"),
            compression="snappy",
        )
    if os.path.exists(final):
        shutil.rmtree(old, ignore_errors=True)
        os.rename(final, old)
    os.rename(stage, final)
    shutil.rmtree(old, ignore_errors=True)


# ----------------------------------------------------------------------
# CDC change stream
# ----------------------------------------------------------------------


@dataclass
class ChangeMix:
    """Rows per change batch of the hot table, by kind."""

    clustered_updates: int
    scattered_updates: int
    inserts: int
    clustered_deletes: int
    scattered_deletes: int
    # orders rows a batch changes when asked to
    orders_updates: int = 20


@dataclass
class BatchStats:
    version: int
    lineitem: dict = field(default_factory=dict)
    orders_updates: int = 0
    change_rows: int = 0
    change_bytes: int = 0
    # l_orderkey range of this batch's inserts (all of them survive it)
    insert_keys: tuple = (0, 0)


class CdcSource:
    """In-memory state of two source tables plus a seeded change stream
    over them.

    - ``lineitem`` is hot: every batch applies a :class:`ChangeMix`.
      Its key ``(l_orderkey, l_linenumber)`` is unique by construction.
    - ``orders`` changes only in batches that ask for it: a few status
      flips, which also move rows in and out of the
      ``o_orderstatus = 'O'`` filter.

    Every changed row gets the batch's fresh version, one global counter
    across tables like a transaction id. Deleted keys never come back;
    inserts use new order keys above every key seen so far.
    """

    def __init__(self, seed: int, lineitem_rows: int, mix: ChangeMix,
                 orders_rows: int):
        self.rng = np.random.default_rng(seed)
        self.mix = mix
        self.version = 1
        self.li = self._make_lineitem(lineitem_rows)
        self.orders = self._make_orders(orders_rows)
        self.orders_dirty = True

    # -- base tables ---------------------------------------------------
    def _lines_for_orders(self, first_key: int, n_rows: int) -> dict:
        """Whole orders of 1-7 lines from ``first_key`` up, ``n_rows``
        lines in total (the last order is truncated to fit)."""
        rng = self.rng
        per = rng.integers(1, 8, size=n_rows // 2 + 8)
        per = per[: int(np.searchsorted(np.cumsum(per), n_rows)) + 1]
        per[-1] -= int(per.sum()) - n_rows
        okey = np.repeat(first_key + np.arange(len(per), dtype=np.int64), per)
        starts = np.repeat(np.cumsum(per) - per, per)
        line = (np.arange(n_rows) - starts + 1).astype(np.int32)
        qty = rng.integers(1, 51, size=n_rows).astype(np.float64)
        return {
            "l_orderkey": okey,
            "l_linenumber": line,
            "l_partkey": rng.integers(1, 20_001, size=n_rows),
            "l_suppkey": rng.integers(1, 1_001, size=n_rows),
            "l_quantity": qty,
            "l_extendedprice": np.round(
                qty * rng.uniform(900, 2_000, size=n_rows), 2),
            "l_discount": np.round(rng.uniform(0, 0.1, size=n_rows), 2),
            "l_tax": np.round(rng.uniform(0, 0.08, size=n_rows), 2),
            "l_returnflag": rng.integers(0, 3, size=n_rows).astype(np.int8),
            "l_linestatus": rng.integers(0, 2, size=n_rows).astype(np.int8),
            "l_shipdate": _EPOCH_1992_US
            + rng.integers(0, 2_500, size=n_rows) * _DAY_US,
            VERSION_COL: np.full(n_rows, self.version, dtype=np.int64),
        }

    def _make_lineitem(self, n_rows: int) -> dict:
        cols = self._lines_for_orders(1, n_rows)
        self.next_orderkey = int(cols["l_orderkey"][-1]) + 1
        return cols

    def _make_orders(self, n_rows: int) -> dict:
        rng = self.rng
        return {
            "o_orderkey": np.arange(1, n_rows + 1, dtype=np.int64),
            "o_custkey": rng.integers(1, 10_001, size=n_rows),
            "o_orderstatus": rng.integers(0, 3, size=n_rows).astype(np.int8),
            "o_totalprice": np.round(rng.uniform(1e3, 4e5, size=n_rows), 2),
            "o_orderdate": _EPOCH_1992_US
            + rng.integers(0, 2_400, size=n_rows) * _DAY_US,
            VERSION_COL: np.full(n_rows, self.version, dtype=np.int64),
        }

    # -- arrow views ---------------------------------------------------
    @staticmethod
    def lineitem_table(cols: dict) -> pa.Table:
        out = dict(cols)
        out["l_returnflag"] = _FLAGS[cols["l_returnflag"]]
        out["l_linestatus"] = _STATUS[cols["l_linestatus"]]
        out["l_shipdate"] = pa.array(cols["l_shipdate"], pa.timestamp("us"))
        return pa.table(out)

    def orders_table(self) -> pa.Table:
        out = dict(self.orders)
        out["o_orderstatus"] = _ORDER_STATUS[self.orders["o_orderstatus"]]
        out["o_orderdate"] = pa.array(
            self.orders["o_orderdate"], pa.timestamp("us"))
        return pa.table(out)

    def assert_unique_key(self) -> None:
        """Raise if ``(l_orderkey, l_linenumber)`` repeats: the merge,
        the delete diff and the correctness hash all assume a key."""
        packed = self.li["l_orderkey"] * 8 + self.li["l_linenumber"]
        if len(np.unique(packed)) != len(packed):
            raise ValueError("lineitem key (l_orderkey, l_linenumber) repeats")
        if (self.li["l_linenumber"] >= 8).any():
            raise ValueError("l_linenumber out of range for the key check")

    # -- change batches ------------------------------------------------
    def next_batch(self, orders: bool = False) -> tuple[BatchStats, pa.Table]:
        """Apply one seeded change batch to the in-memory tables.

        ``orders`` also changes the orders table. Returns the batch statistics and the changed lineitem
        rows (updated and inserted rows as they are now, deleted rows as
        they were)."""
        self.version += 1
        v = self.version
        rng, mix, li = self.rng, self.mix, self.li
        n = len(li[VERSION_COL])

        def run_at(length: int) -> np.ndarray:
            start = int(rng.integers(0, max(1, n - length)))
            return np.arange(start, min(n, start + length))

        upd = np.union1d(
            run_at(mix.clustered_updates),
            rng.choice(n, size=mix.scattered_updates, replace=False),
        )
        free = np.setdiff1d(np.arange(n), upd, assume_unique=True)
        c_del = run_at(mix.clustered_deletes)
        c_del = np.setdiff1d(c_del, upd, assume_unique=True)
        rest = np.setdiff1d(free, c_del, assume_unique=True)
        s_del = rng.choice(rest, size=mix.scattered_deletes, replace=False)
        dels = np.union1d(c_del, s_del)

        k = len(upd)
        li["l_quantity"][upd] = rng.integers(1, 51, size=k).astype(np.float64)
        li["l_extendedprice"][upd] = np.round(
            li["l_quantity"][upd] * rng.uniform(900, 2_000, size=k), 2)
        li["l_discount"][upd] = np.round(rng.uniform(0, 0.1, size=k), 2)
        li["l_linestatus"][upd] = rng.integers(0, 2, size=k).astype(np.int8)
        li[VERSION_COL][upd] = v

        deleted = {c: a[dels] for c, a in li.items()}
        keep = np.ones(n, dtype=bool)
        keep[dels] = False
        ins = self._lines_for_orders(self.next_orderkey, mix.inserts)
        ins[VERSION_COL][:] = v
        insert_keys = (self.next_orderkey, int(ins["l_orderkey"][-1]))
        self.next_orderkey = int(ins["l_orderkey"][-1]) + 1
        updated = {c: a[upd] for c, a in li.items()}
        self.li = {c: np.concatenate([a[keep], ins[c]]) for c, a in li.items()}

        changed = {
            c: np.concatenate([updated[c], ins[c], deleted[c]])
            for c in li
        }
        change_tbl = self.lineitem_table(changed)
        stats = BatchStats(
            version=v,
            insert_keys=insert_keys,
            lineitem={
                "updated": int(k),
                "inserted": int(mix.inserts),
                "deleted": int(len(dels)),
            },
        )
        if orders:
            o = self.orders
            idx = rng.choice(len(o[VERSION_COL]), size=mix.orders_updates,
                             replace=False)
            o["o_orderstatus"][idx] = rng.integers(0, 3, size=len(idx))
            o["o_totalprice"][idx] = np.round(
                rng.uniform(1e3, 4e5, size=len(idx)), 2)
            o[VERSION_COL][idx] = v
            stats.orders_updates = len(idx)
            stats.change_bytes = len(write_parquet_bytes(
                self.orders_table().take(np.sort(idx))))
            self.orders_dirty = True
        stats.change_rows = change_tbl.num_rows + stats.orders_updates
        stats.change_bytes += len(write_parquet_bytes(change_tbl))
        return stats, change_tbl

    def commit(self, root: str, n_files: int = 4) -> None:
        """Write the current state of the changed tables to ``root``."""
        commit_table(root, "lineitem", self.lineitem_table(self.li), n_files)
        if self.orders_dirty:
            commit_table(root, "orders", self.orders_table(), 1)
            self.orders_dirty = False


# ----------------------------------------------------------------------
# Curation corpus
# ----------------------------------------------------------------------

_LANGS = np.array(["en", "de", "fr", "es", "zh"])
_LANG_P = np.array([0.55, 0.15, 0.12, 0.1, 0.08])
_STOPWORDS = np.array(
    ["the", "of", "and", "to", "a", "in", "is", "that", "for", "it",
     "with", "as", "on", "was", "be"]
)


@dataclass
class CorpusSpec:
    docs: int = 6_000
    exact_groups: int = 120        # groups of byte-identical copies
    exact_group_max: int = 6       # copies per exact group: 2..max
    near_clusters: int = 180       # planted near-duplicate clusters
    near_tail_alpha: float = 1.6   # Zipf exponent of cluster sizes
    near_cluster_max: int = 40
    hot_cluster_frac: float = 0.015  # one cluster of this share of docs
    boilerplate_frac: float = 0.1  # unique docs carrying the shared span
    vocab: int = 6_000
    words_min: int = 60
    words_max: int = 160
    edits: int = 1                 # word substitutions per near-dup copy
    stopword_frac: float = 0.1
    sources: int = 8


def _word_list(n: int) -> np.ndarray:
    """``n`` distinct pronounceable words, deterministic."""
    cons = list("bcdfghjklmnprstvwz")
    vows = list("aeiou")
    out, i = [], 0
    while len(out) < n:
        j, w = i, []
        for _ in range(3):
            w.append(cons[j % len(cons)])
            j //= len(cons)
            w.append(vows[j % len(vows)])
            j //= len(vows)
        out.append("".join(w) + ("" if j == 0 else str(j)))
        i += 1
    return np.array(out)


def make_corpus(seed: int, spec: CorpusSpec) -> tuple[pa.Table, np.ndarray]:
    """Seeded documents table plus the ground-truth cluster of each doc.

    Returns ``(docs, truth)``: ``docs`` has the engine's documents schema
    ``(doc_id, text, lang, source, n_chars)``, and ``truth[i]`` is the
    planted cluster id of ``doc_id == i``. Docs sharing a truth id are
    either byte-identical (exact groups, truth id negative) or near
    duplicates (a few word substitutions apart, truth id positive);
    every other doc has its own truth id. Near-duplicate cluster sizes
    are heavy-tailed: mostly pairs, a few tens, and one hot cluster.
    A shared boilerplate span is spliced into some unrelated docs so
    that they share shingles without being duplicates.
    """
    rng = np.random.default_rng(seed)
    words = _word_list(spec.vocab)
    boiler = " ".join(rng.choice(words, size=12))

    # cluster plan: exact groups, near clusters (hot one first), singles
    hot = max(2, int(spec.docs * spec.hot_cluster_frac))
    near_sizes = np.minimum(
        rng.zipf(spec.near_tail_alpha, size=spec.near_clusters) + 1,
        spec.near_cluster_max,
    )
    near_sizes[0] = hot
    exact_sizes = rng.integers(2, spec.exact_group_max + 1,
                               size=spec.exact_groups)
    planted = int(near_sizes.sum() + exact_sizes.sum())
    if planted >= spec.docs:
        raise ValueError("corpus spec plants more docs than it holds")
    n_single = spec.docs - planted

    def fresh_doc() -> list:
        n_words = int(rng.integers(spec.words_min, spec.words_max + 1))
        toks = rng.choice(words, size=n_words)
        stop = rng.random(n_words) < spec.stopword_frac
        toks[stop] = rng.choice(_STOPWORDS, size=int(stop.sum()))
        return list(toks)

    def variant(toks: list) -> list:
        out = list(toks)
        for p in rng.choice(len(out), size=spec.edits, replace=False):
            out[p] = str(rng.choice(words))
        return out

    texts: list[str] = []
    truth: list[int] = []
    for cid, size in enumerate(exact_sizes):
        t = " ".join(fresh_doc())
        texts += [t] * int(size)
        truth += [-(cid + 1)] * int(size)
    for cid, size in enumerate(near_sizes):
        base = fresh_doc()
        texts += [" ".join(variant(base)) for _ in range(int(size))]
        truth += [cid + 1] * int(size)
    first_single = len(near_sizes) + 1
    for j in range(n_single):
        texts.append(" ".join(fresh_doc()))
        truth.append(first_single + j)

    # spread planted members over the id space, then add boilerplate to
    # unique docs only, so exact groups stay byte-identical
    order = rng.permutation(spec.docs)
    texts = [texts[i] for i in order]
    truth_arr = np.asarray(truth, dtype=np.int64)[order]
    singles = np.flatnonzero(truth_arr >= first_single)
    for i in rng.choice(singles, size=int(len(singles) * spec.boilerplate_frac),
                        replace=False):
        texts[i] = boiler + " " + texts[i]

    text_arr = pa.array(texts, pa.string())
    docs = pa.table({
        "doc_id": np.arange(spec.docs, dtype=np.int64),
        "text": text_arr,
        "lang": rng.choice(_LANGS, size=spec.docs, p=_LANG_P),
        "source": np.char.add(
            "src", rng.integers(0, spec.sources, size=spec.docs).astype(str)),
        "n_chars": pc.utf8_length(text_arr).cast(pa.int64()),
    })
    return docs, truth_arr


def cluster_size_histogram(truth: np.ndarray) -> dict:
    """``{size: number of planted clusters of that size}`` for sizes > 1,
    split into exact groups and near-duplicate clusters."""
    out = {}
    for kind, sel in (("exact", truth < 0), ("near", truth > 0)):
        _, counts = np.unique(truth[sel], return_counts=True)
        sizes, freq = np.unique(counts[counts > 1], return_counts=True)
        out[kind] = {int(s): int(f) for s, f in zip(sizes, freq)}
    return out
