"""CDC workloads: a closed-loop poll against a parquet target.

Each iteration the generator commits one seeded change batch to the
parquet source, then one ``Job.run()`` pass syncs it and reader queries
run on the published (copy-on-write) or overlaid (merge-on-read) table.
The loop never waits between passes, like ``run_continuous`` with no
wait; only ``Job.run`` and the reader queries are timed.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

from perfbench import checks, gen
from perfbench.layers import data_files
from perfbench.stats import tail

LINEITEM_ROWS = 50_000
ORDERS_ROWS = 10_000
MIX = gen.ChangeMix(
    clustered_updates=400,
    scattered_updates=100,
    inserts=200,
    clustered_deletes=350,
    scattered_deletes=50,
)
# A run times only two to four passes, so every timed pass must do the
# same work for its median to hold whatever the count: orders changes
# only in the warm-up batch (an idle table in every timed pass), and
# merge-on-read folds its log on every pass (one batch of upserts plus
# the previous pass's tombstones passes 0.5% of the base), so readers
# between passes overlay that pass's tombstones.
MOR_MAX_LOG = 0.005
SETUP_REPS = 3


def make_config(root: str, mor: bool):
    from sslr_spark.config import Config, FilteredTable

    return Config(
        source=os.path.join(root, "src"),
        target=os.path.join(root, "tgt"),
        source_tables=["lineitem"],
        filtered_source_tables={"orders": FilteredTable(gen.ORDERS_WHERE)},
        primary_keys={"lineitem": gen.LINEITEM_PK, "orders": gen.ORDERS_PK},
        version_column=gen.VERSION_COL,
        throttle_percentage=100,
        wait_between_jobs_seconds=0.0,
        merge_on_read=mor,
        merge_on_read_max_log=MOR_MAX_LOG,
    )


def _source(seed: int) -> gen.CdcSource:
    src = gen.CdcSource(seed, LINEITEM_ROWS, MIX, ORDERS_ROWS)
    src.assert_unique_key()
    return src


def _sync_initial(spark, root: str, mor: bool):
    """The initial full sync of a freshly staged source."""
    from sslr_spark.job import Job

    job = Job(spark, make_config(root, mor))
    res = job.run()
    if sorted(res.full_copies) != ["lineitem", "orders"]:
        raise RuntimeError(f"initial sync did not copy every table: {res}")
    return job


def _published(job, mor: bool, table: str = "lineitem"):
    """A target table as a reader sees it: the merge-on-read overlay of
    base and log, or the published copy-on-write table."""
    from sslr_spark.operators import updates

    if mor:
        return updates.read_merged(
            job.target, table, job.primary_keys[table], gen.VERSION_COL)
    return job.target.read(table)


def _read(job, mor: bool, src: gen.CdcSource, batch: gen.BatchStats) -> bool:
    """One reader visit: a full aggregate plus a key-range lookup of the
    rows the last batch inserted. True when both answers are right."""
    from pyspark.sql import functions as F

    lo, hi = batch.insert_keys
    rows = (
        _published(job, mor)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("l_extendedprice").alias("rev"))
        .collect()
    )
    n = (
        _published(job, mor)
        .filter(F.col("l_orderkey").between(lo, hi))
        .count()
    )
    return (sum(r["n"] for r in rows) == len(src.li[gen.VERSION_COL])
            and n == MIX.inserts)


def run(ctx, mor: bool) -> dict:
    """One workload run; returns the result fields for the harness."""
    spark, work, seed = ctx.spark, ctx.work, ctx.seed
    root = os.path.join(work, "cdc")
    src_dir = os.path.join(root, "src")
    tgt_dir = os.path.join(root, "tgt")
    # staging (generate + commit the source) is repeated for a median
    rep_s = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        shutil.rmtree(src_dir, ignore_errors=True)
        src = _source(seed)
        src.commit(src_dir)
        rep_s.append(time.perf_counter() - t)
    t = time.perf_counter()
    job = _sync_initial(spark, root, mor)
    # warm-up: one untimed batch (touching both tables), pass and reader
    # visit compile the incremental paths, so that no timed pass is the
    # first to run them
    batch, _ = src.next_batch(orders=True)
    src.commit(src_dir)
    job.run()
    _read(job, mor, src, batch)
    setup_s = ctx.session_s + statistics.median(rep_s) + time.perf_counter() - t

    ctx.start_tracing()
    pass_s, read_s = [], []
    written = new_files = change_bytes = change_rows = 0
    attempted = failed = 0
    wrong_reads = 0
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while time.perf_counter() < deadline:
        batch, _ = src.next_batch()
        src.commit(src_dir)
        change_rows += batch.change_rows
        change_bytes += batch.change_bytes
        before = data_files(tgt_dir)
        bytes_before = ctx.bytes_written()
        attempted += 1
        with ctx.op(i, "pass"):
            t = time.perf_counter()
            try:
                job.run()
            except Exception:
                failed += 1
                traceback.print_exc(file=sys.stderr)
            pass_s.append(time.perf_counter() - t)
        written += ctx.bytes_written() - bytes_before
        after = data_files(tgt_dir)
        new_files += sum(1 for ino in after if ino not in before)
        attempted += 1
        with ctx.op(i, "read"):
            t = time.perf_counter()
            try:
                good = _read(job, mor, src, batch)
            except Exception:
                good = None
                traceback.print_exc(file=sys.stderr)
            read_s.append(time.perf_counter() - t)
        if not good:
            failed += 1
            wrong_reads += good is not None
        i += 1
    ctx.stop_tracing()

    from sslr_spark.operators.copy import filtered_source

    check = {
        "lineitem": checks.compare_tables(
            job.source.read("lineitem"), _published(job, mor)),
        "orders": checks.compare_tables(
            filtered_source(job.source.read("orders"), gen.ORDERS_WHERE),
            _published(job, mor, "orders")),
        "wrong_reads": wrong_reads,
    }
    correct = wrong_reads == 0 and all(
        v["ok"] for k, v in check.items() if k != "wrong_reads")

    op_tail, op_tail_pct = tail(pass_s)
    read_tail, read_tail_pct = tail(read_s)
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "check": check,
        "ops": len(pass_s),
        "op_s": pass_s,
        "setup_reps_s": rep_s,
        "tail_percentiles": {"op_tail_s": op_tail_pct,
                             "read_tail_s": read_tail_pct},
        "end_to_end": {
            "setup_s": setup_s,
            "op_p50_s": statistics.median(pass_s),
            # typical-pass throughput, as curate's: one slow pass in a run
            # of two to four would swing a total-wall ratio past any bound
            "rows_per_s": change_rows / len(pass_s) / statistics.median(pass_s),
            "read_p50_s": statistics.median(read_s),
            "write_amp": written / change_bytes,
        },
        # printed, not gated: with a handful of samples per run the
        # tail is their maximum, too noisy run to run for a bound
        "informational": {
            "op_tail_s": op_tail,
            "read_tail_s": read_tail,
            "error_rate": failed / attempted,
            "rows_per_s_total": change_rows / sum(pass_s),
        },
        "per_layer_extra": {
            "parquet.bytes_written": written / len(pass_s),
            "parquet.files_written": new_files / len(pass_s),
            "parquet.target_files": len(data_files(tgt_dir)),
        },
        "op_name": "pass",
    }
