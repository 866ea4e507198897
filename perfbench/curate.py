"""Curation workload: cold batch curation over a seeded corpus.

One operation runs the production ``curate_documents`` chain (gopher
rules, exact dedup, MinHash near-dup with star connected components,
quality gate, shard assignment), publishes the curated table, then
clusters the corpus by simhash. Caches are released before each run,
so every run is cold. Reader queries run on the published table
between runs.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

from perfbench import checks, gen
from perfbench.layers import data_files
from perfbench.stats import tail

SPEC = gen.CorpusSpec()
# a tenth-size corpus, run once in set-up to compile the operators
WARM_SPEC = gen.CorpusSpec(docs=600, exact_groups=12, near_clusters=18,
                           near_cluster_max=10)
SETUP_REPS = 3
READ_VISITS = 3  # reader visits (both queries) after each run
# dedup in production mode (xxhash64 seeded hashes, hot-shingle cap),
# as the engine's own benchmark runs it
NEAR_DUP = {"near_dup_hash_mode": "fast", "near_dup_max_doc_freq": 100}
N_SHARDS = 16
SPEC_FILE = os.path.join(os.path.dirname(__file__), "spec.json")


def _stage(root: str, seed: int, spec: gen.CorpusSpec = SPEC):
    docs, truth = gen.make_corpus(seed, spec)
    d = os.path.join(root, "corpus", "documents.parquet")
    os.makedirs(d)
    pq.write_table(docs, os.path.join(d, "part-00000.parquet"),
                   compression="snappy")
    return truth, os.path.getsize(os.path.join(d, "part-00000.parquet"))


def _operation(src, out) -> list:
    """The timed operation; returns the simhash cluster rows."""
    from sslr_spark import curation
    from sslr_spark.functions import dedup
    from sslr_spark.queries_ext import _QW

    res = curation.curate_documents(
        src.read("documents"),
        quality_weights=[_QW["n_tokens"], _QW["n_subtokens"],
                         _QW["stopword_ratio"], _QW["mean_word_len"]],
        quality_bias=_QW["bias"],
        near_dup=True,
        n_shards=N_SHARDS,
        **NEAR_DUP,
    )
    out.overwrite("curated", res.df)
    res.release()
    pairs = dedup.simhash_pairs(src.read("documents"), hash_mode="fast")
    return dedup.dup_clusters_star(pairs).collect()


def _reads(out, kept_rows: int):
    from pyspark.sql import functions as F

    def shards():
        rows = out.read("curated").groupBy("shard").count().collect()
        return len(rows) <= N_SHARDS and sum(r["count"] for r in rows) == kept_rows

    def lookup():
        n = out.read("curated").filter(F.col("lang") == "de").count()
        return 0 < n <= kept_rows

    return [shards, lookup]


def run(ctx) -> dict:
    from sslr_spark.functions import dedup
    from sslr_spark.sources.parquet import ParquetDatabase

    spark, work, seed = ctx.spark, ctx.work, ctx.seed
    t = time.perf_counter()
    warm = os.path.join(work, "warm")
    _stage(warm, seed, WARM_SPEC)
    _operation(ParquetDatabase(spark, os.path.join(warm, "corpus")),
               ParquetDatabase(spark, os.path.join(warm, "out")))
    dedup.release_caches()
    shutil.rmtree(warm)
    warm_s = time.perf_counter() - t
    rep_s = []
    for rep in range(SETUP_REPS):
        root = os.path.join(work, f"rep{rep}")
        t = time.perf_counter()
        truth, corpus_bytes = _stage(root, seed)
        src = ParquetDatabase(spark, os.path.join(root, "corpus"))
        src.schema("documents")
        rep_s.append(time.perf_counter() - t)
        if rep + 1 < SETUP_REPS:
            shutil.rmtree(root)
    setup_s = ctx.session_s + warm_s + statistics.median(rep_s)
    out = ParquetDatabase(spark, os.path.join(root, "out"))
    out_dir = out.path("curated")

    ctx.start_tracing()
    run_s, read_s = [], []
    written = new_files = 0
    attempted = failed = wrong_reads = 0
    clusters = None
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while time.perf_counter() < deadline:
        dedup.release_caches()
        before = data_files(out_dir)
        bytes_before = ctx.bytes_written()
        attempted += 1
        with ctx.op(i, "run"):
            t = time.perf_counter()
            try:
                clusters = _operation(src, out)
            except Exception:
                failed += 1
                traceback.print_exc(file=sys.stderr)
            run_s.append(time.perf_counter() - t)
        written += ctx.bytes_written() - bytes_before
        after = data_files(out_dir)
        new_files += sum(1 for ino in after if ino not in before)
        if ctx.trace:
            ctx.count_pairs(truth)
        kept_rows = out.table_rows("curated") or 0
        for query in _reads(out, kept_rows) * READ_VISITS:
            attempted += 1
            with ctx.op(i, "read"):
                t = time.perf_counter()
                try:
                    good = query()
                except Exception:
                    good = None
                    traceback.print_exc(file=sys.stderr)
                read_s.append(time.perf_counter() - t)
            if good is None or not good:
                failed += 1
                wrong_reads += good is not None
        i += 1
    ctx.stop_tracing()

    kept = np.array(
        [r[0] for r in out.read("curated").select("doc_id").collect()],
        dtype=np.int64)
    cl = np.array([(r["doc_id"], r["cluster_id"]) for r in clusters or []],
                  dtype=np.int64).reshape(-1, 2)
    with open(SPEC_FILE) as fh:
        floors = json.load(fh)["curate_floors"]
    check = checks.check_curation(kept, truth, cl[:, 0], cl[:, 1], floors)
    check["wrong_reads"] = wrong_reads
    correct = bool(check["ok"]) and wrong_reads == 0 and clusters is not None

    op_tail, op_tail_pct = tail(run_s)
    read_tail, read_tail_pct = tail(read_s)
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "check": check,
        "ops": len(run_s),
        "op_s": run_s,
        "setup_reps_s": rep_s,
        "tail_percentiles": {"op_tail_s": op_tail_pct,
                             "read_tail_s": read_tail_pct},
        "end_to_end": {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(run_s),
            "rows_per_s": SPEC.docs / statistics.median(run_s),
            "read_p50_s": statistics.median(read_s),
            "write_amp": written / (corpus_bytes * len(run_s)),
        },
        # printed, not gated: with a handful of samples per run the
        # tail is their maximum, too noisy run to run for a bound
        "informational": {
            "op_tail_s": op_tail,
            "read_tail_s": read_tail,
            "error_rate": failed / attempted,
        },
        "per_layer_extra": {
            "parquet.bytes_written": written / len(run_s),
            "parquet.files_written": new_files / len(run_s),
            "parquet.target_files": len(data_files(out_dir)),
        },
        "op_name": "run",
    }
