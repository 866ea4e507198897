"""Round 12 fixes and their follow-ups: ADVICE r11 items, the opt-in
doc_id-unique contract guard, star-CC equality with the dup_clusters
reference, bounded quantile-gate caches, and the scale-corpus
generator's replica projection.
"""

from __future__ import annotations

import math

import pytest


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "pack my box with five dozen liquor jugs"),
    (4, "sphinx of black quartz judge my vow"),
    (5, "the quick brown fox jumps over the lazy dog again today"),
]


class TestDocIdContractGuard:
    def test_duplicate_doc_id_fails_loudly_in_debug_mode(self, spark, monkeypatch):
        from sslr_spark.functions.dedup import shingles

        monkeypatch.setenv("SSLR_DEBUG_CONTRACTS", "1")
        df = _docs(spark, DOCS + [(1, "split tail of document one")])
        with pytest.raises(AssertionError, match="doc_id-unique contract"):
            shingles(df).count()

    def test_unique_doc_ids_pass_in_debug_mode(self, spark, monkeypatch):
        from sslr_spark.functions.dedup import shingles

        monkeypatch.setenv("SSLR_DEBUG_CONTRACTS", "1")
        assert shingles(_docs(spark, DOCS)).count() > 0

    def test_guard_off_by_default(self, spark, monkeypatch):
        from sslr_spark.functions.dedup import shingles

        monkeypatch.delenv("SSLR_DEBUG_CONTRACTS", raising=False)
        df = _docs(spark, DOCS + [(1, "split tail of document one")])
        # no guard: the (documented) silent-wrong-multiplicity case
        shingles(df).count()


class TestMaxDocFreqZeroMeansOff:
    """ADVICE r11 item 2: max_shingle_doc_freq=0 must mean 'cap off'
    across the whole dedup family, not an empty result."""

    def test_prefix_generator_treats_zero_as_no_cap(self, spark):
        from sslr_spark.functions.dedup import ngram_jaccard_pairs_prefix

        df = _docs(spark, DOCS)
        with_zero = ngram_jaccard_pairs_prefix(
            df, threshold=0.5, max_shingle_doc_freq=0
        ).collect()
        with_none = ngram_jaccard_pairs_prefix(
            df, threshold=0.5, max_shingle_doc_freq=None
        ).collect()
        assert sorted(map(tuple, with_zero)) == sorted(map(tuple, with_none))
        assert with_zero  # docs 1/2/5 share most shingles


class TestDoubleArrayLiteral:
    def test_finite_values_round_trip_bitwise(self, spark):
        from sslr_spark.functions.similarity import _double_array_literal

        vals = [0.1, -3.7e300, 5e-324, 0.0, 123456.789]
        got = (
            spark.range(1)
            .select(_double_array_literal(vals).alias("a"))
            .first()["a"]
        )
        assert got == vals

    def test_non_finite_values_guard_to_lit(self, spark):
        from sslr_spark.functions.similarity import _double_array_literal

        vals = [1.0, float("inf"), float("-inf"), float("nan")]
        got = (
            spark.range(1)
            .select(_double_array_literal(vals).alias("a"))
            .first()["a"]
        )
        assert got[0] == 1.0
        assert got[1] == float("inf") and got[2] == float("-inf")
        assert math.isnan(got[3])


class TestCcRoundVariantsIdentical:
    """dup_clusters_star (O(log n) star rounds) must produce the same
    (doc_id, cluster_id) labels as the dup_clusters min-label
    propagation reference, on every graph shape — self-loops
    included."""

    GRAPHS = {
        "chain": [(i, i + 1) for i in range(1, 30)],
        "star_min_centered": [(1, i) for i in range(2, 20)],
        "star_max_centered": [(i, 100) for i in range(2, 20)],
        "self_loop": [(5, 5), (5, 6)],
        "multi_component": [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)],
        "dup_and_reversed_edges": [(2, 1), (1, 2), (3, 2), (2, 3), (7, 9)],
        "isolated_self_loop_and_chain": [
            (9, 9), (1, 2), (2, 3), (3, 4), (4, 5),
        ],
        "only_self_loops": [(7, 7), (8, 8)],
        "chain_with_inner_self_loop": [
            (1, 2), (2, 3), (3, 3), (3, 4), (4, 5), (5, 6),
        ],
    }

    @staticmethod
    def _both(pairs):
        from sslr_spark.functions.dedup import dup_clusters, dup_clusters_star

        base = sorted(
            map(tuple, dup_clusters(pairs, max_iterations=200).collect())
        )
        got = sorted(map(tuple, dup_clusters_star(pairs).collect()))
        return base, got

    @pytest.mark.parametrize("name", sorted(GRAPHS))
    def test_labels_equal(self, spark, name):
        pairs = spark.createDataFrame(
            self.GRAPHS[name], "doc_a long, doc_b long"
        )
        base, got = self._both(pairs)
        assert got == base
        # every node appears once; every cluster_id is its component's
        # minimum member
        nodes = {x for e in self.GRAPHS[name] for x in e}
        assert sorted(doc for doc, _ in got) == sorted(nodes)
        by_cluster: dict = {}
        for doc, c in got:
            by_cluster.setdefault(c, []).append(doc)
        assert all(c == min(docs) for c, docs in by_cluster.items())

    def test_labels_equal_random_graph(self, spark):
        import random

        rng = random.Random(7)
        edges = [
            (rng.randint(1, 150), rng.randint(1, 150)) for _ in range(250)
        ]
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        base, got = self._both(pairs)
        assert got == base

    def test_labels_equal_string_ids(self, spark):
        pairs = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "y")],
            "doc_a string, doc_b string",
        )
        base, got = self._both(pairs)
        assert got == base

    def test_labels_equal_string_ids_isolated_self_loop(self, spark):
        pairs = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "d"), ("z", "z")],
            "doc_a string, doc_b string",
        )
        base, got = self._both(pairs)
        assert got == base
        assert ("z", "z") in got


class TestGateCacheBounded:
    """Repeated quantile-gate calls in one long-lived session must not
    pile up persisted score caches: each call releases the previous
    call's on entry."""

    @staticmethod
    def _scored(spark, seed):
        return spark.createDataFrame(
            [(i, "en" if i % 3 else "de", (i * seed) % 100) for i in range(60)],
            "doc_id long, lang string, score_bp int",
        )

    def test_sequential_gate_calls_hold_at_most_one_cache(self, spark):
        from sslr_spark.functions import dedup as DD
        from sslr_spark.functions.quality_model import score_bp_quantile_gate

        DD.release_caches()
        try:
            for seed in (31, 37, 41, 43, 47):
                kept = score_bp_quantile_gate(
                    self._scored(spark, seed), 0.5, "lang"
                )
                assert kept.count() >= 60 * 0.5 * 0.9
            assert len(DD._active()) <= 1
        finally:
            DD.release_caches()

    def test_cache_scope_suspends_gate_release(self, spark):
        from sslr_spark.functions import dedup as DD
        from sslr_spark.functions.quality_model import score_bp_quantile_gate

        DD.release_caches()
        with DD.cache_scope():
            a = score_bp_quantile_gate(self._scored(spark, 31), 0.5, "lang")
            b = score_bp_quantile_gate(self._scored(spark, 37), 0.5, "lang")
            a.count(), b.count()
            assert len(DD._active()) == 2
            assert all(df.is_cached for df in DD._active())
        assert DD._active() == []

    def test_curation_owns_its_chained_gate_caches(self, spark):
        from sslr_spark.curation import curate_documents
        from sslr_spark.functions import dedup as DD

        rows = [
            (i, "en" if i % 2 else "de", "web",
             f"document {i} " + "word%d " % (i % 5) * (10 + i % 7))
            for i in range(40)
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, lang string, source string, text string"
        )
        DD.release_caches()
        res = curate_documents(
            df,
            quality_weights=[0.1, 0.1, 0.1, 0.1],
            quality_bias=0.0,
            keep_fraction=0.8,
            lm_keep_fraction=0.8,
            gopher=False,
            n_shards=None,
        )
        try:
            assert res.df.count() > 0
            # the LM gate did not release the quality gate's scores,
            # which the same lazy plan still reads
            assert len(res._gate_cached) == 2
            assert all(g.is_cached for g in res._gate_cached)
            res.release()
            assert res._gate_cached == []
            assert DD._active() == []
        finally:
            DD.release_caches()


def test_gen_scale_corpus_replicas_drop_extra_columns(spark):
    from tools.gen_scale_corpus import ID_OFFSET, doc_rep, reps

    df = spark.createDataFrame(
        [(1, "a b c d e f g h", "en", "web", 15, "extra")],
        "doc_id long, text string, lang string, source string, "
        "n_chars int, note string",
    )
    out = reps(df, doc_rep, 3).collect()
    assert next(r for r in out if r.doc_id == 1).asDict() == {
        "doc_id": 1, "text": "a b c d e f g h", "lang": "en",
        "source": "web", "n_chars": 15,
    }
    assert sorted(r.doc_id for r in out) == [
        1, 1 + ID_OFFSET, 1 + 2 * ID_OFFSET,
    ]
    assert all(r.n_chars == len(r.text) for r in out)
