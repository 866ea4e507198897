"""The generators are deterministic in their seed and keep the lineitem
key unique."""

import os

import numpy as np
import pytest

from perfbench import gen

MIX = gen.ChangeMix(
    clustered_updates=40, scattered_updates=10, inserts=20,
    clustered_deletes=15, scattered_deletes=5, orders_updates=3,
)
SPEC = gen.CorpusSpec(docs=800, exact_groups=20, near_clusters=30,
                      near_cluster_max=12, vocab=800)


def _stream(seed: int, batches: int = 4) -> list[bytes]:
    src = gen.CdcSource(seed, 2_000, MIX, 300)
    out = [gen.write_parquet_bytes(src.lineitem_table(src.li))]
    for i in range(batches):
        _, change = src.next_batch(orders=i == 1)
        out.append(gen.write_parquet_bytes(change))
    out.append(gen.write_parquet_bytes(src.orders_table()))
    return out


def _files(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(dirpath, f), "rb") as fh:
                out[os.path.relpath(os.path.join(dirpath, f), root)] = fh.read()
    return out


def test_same_seed_gives_identical_change_batches():
    assert _stream(7) == _stream(7)


def test_other_seed_gives_other_batches():
    assert _stream(7)[1:] != _stream(8)[1:]


def test_committed_source_is_byte_identical(tmp_path):
    for run in ("a", "b"):
        src = gen.CdcSource(3, 2_000, MIX, 300)
        src.commit(str(tmp_path / run))
        for i in range(3):
            src.next_batch(orders=i == 0)
            src.commit(str(tmp_path / run))
    a, b = _files(str(tmp_path / "a")), _files(str(tmp_path / "b"))
    assert a.keys() == {"lineitem.parquet/part-0000%d.parquet" % i
                        for i in range(4)} | {"orders.parquet/part-00000.parquet"}
    assert a == b


def test_batch_mix_and_version():
    src = gen.CdcSource(5, 2_000, MIX, 300)
    before = len(src.li[gen.VERSION_COL])
    stats, change = src.next_batch()
    li = stats.lineitem
    assert stats.version == 2
    assert li["inserted"] == MIX.inserts
    assert li["deleted"] == MIX.clustered_deletes + MIX.scattered_deletes
    assert li["updated"] >= MIX.clustered_updates
    assert len(src.li[gen.VERSION_COL]) == before + li["inserted"] - li["deleted"]
    assert change.num_rows == li["updated"] + li["inserted"] + li["deleted"]
    assert stats.orders_updates == 0
    stats, _ = src.next_batch(orders=True)
    assert stats.orders_updates == MIX.orders_updates
    lo, hi = stats.insert_keys
    keys = src.li["l_orderkey"]
    assert ((keys >= lo) & (keys <= hi)).sum() == MIX.inserts
    assert (src.li[gen.VERSION_COL] <= stats.version).all()


def test_key_stays_unique_and_duplicates_are_caught():
    src = gen.CdcSource(9, 2_000, MIX, 300)
    for _ in range(5):
        src.next_batch()
    src.assert_unique_key()
    src.li = {c: np.concatenate([a, a[:1]]) for c, a in src.li.items()}
    with pytest.raises(ValueError):
        src.assert_unique_key()


def test_corpus_is_deterministic():
    a_docs, a_truth = gen.make_corpus(4, SPEC)
    b_docs, b_truth = gen.make_corpus(4, SPEC)
    assert gen.write_parquet_bytes(a_docs) == gen.write_parquet_bytes(b_docs)
    assert (a_truth == b_truth).all()
    c_docs, _ = gen.make_corpus(5, SPEC)
    assert gen.write_parquet_bytes(a_docs) != gen.write_parquet_bytes(c_docs)


def test_corpus_plants_what_it_claims():
    docs, truth = gen.make_corpus(4, SPEC)
    assert docs.num_rows == SPEC.docs == len(truth)
    texts = docs.column("text").to_pylist()
    for g in np.unique(truth[truth < 0]):
        members = np.flatnonzero(truth == g)
        assert len(members) >= 2
        assert len({texts[i] for i in members}) == 1
    hist = gen.cluster_size_histogram(truth)
    hot = int(SPEC.docs * SPEC.hot_cluster_frac)
    assert max(hist["near"]) == max(hot, SPEC.near_cluster_max)
    near = np.flatnonzero(truth == 1)  # the hot cluster
    assert len({texts[i] for i in near}) > 1
