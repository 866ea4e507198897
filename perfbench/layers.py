"""Which engine entry points the traced run wraps, and the per-layer
metrics computed from the resulting spans and Spark's event log.

Layers are named after the engine modules they wrap. Every ``*_s``
metric is span self time; times and counts are means per operation
(per sync pass on the CDC workloads, per curation run on ``curate``),
except the ratios, which are ratios of totals.
"""

from __future__ import annotations

import os
import statistics

import pyarrow.parquet as pq

from perfbench.eventlog import EventLog
from perfbench.trace import Span, Tracer, self_times, union_length

# span name -> per-layer metric holding its summed self time
SELF_TIME_METRICS = {
    "job.run": "job.run_s",
    "job.validate": "job.validate_s",
    "job.update_table": "job.table_s",
    "updates.sync": "updates.sync_s",
    "updates.probe": "updates.probe_s",
    "updates.batch_plan": "updates.batch_plan_s",
    "updates.merge": "updates.merge_s",
    "updates.log_append": "updates.log_append_s",
    "updates.overlay_read": "updates.overlay_read_s",
    "updates.compact": "updates.compact_s",
    "deletes.diff": "deletes.diff_s",
    "state.get": "state.get_s",
    "state.set": "state.set_s",
    "parquet.write": "parquet.write_s",
    "parquet.meta": "parquet.meta_s",
    "parquet.read": "parquet.read_s",
    "curation.run": "curation.run_s",
    "quality.gate": "quality.gate_s",
    "dedup.exact": "dedup.exact_s",
    "dedup.near_dup": "dedup.near_dup_s",
    "dedup.cc": "dedup.cc_s",
}

_PARQUET_WRITES = (
    "overwrite", "overwrite_partitioned", "overwrite_partitioned_aligned",
    "replace_partitions", "append", "drop", "drop_partitions",
    "compact_partitions", "write_table_meta", "set_copy_pending",
)
# pure file-system probes: they never start a Spark job
_PARQUET_META = (
    "table_exists", "list_tables", "table_rows", "table_bytes",
    "layout_meta", "copy_pending", "read_table_meta",
    "partition_file_counts",
)
# lazy DataFrame constructors: listing a partitioned table can start a job
_PARQUET_READS = ("read", "schema")


def data_files(root: str) -> dict[int, tuple[str, int]]:
    """Inode -> (path, bytes) of every parquet data file under ``root``.
    Keyed by inode so a staged file renamed into place counts once."""
    out = {}
    for dirpath, dirnames, files in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[st.st_ino] = (p, st.st_size)
    return out


def _repair_probe(args, kwargs):
    """Around ``sync_deletes_partitioned``: footer row counts of the
    target before and after, and of the files the repair wrote."""
    target, table = args[1], args[2]
    root = target.path(table)
    before_files = data_files(root)
    before_rows = target.table_rows(table) or 0

    def after(span: Span, stats) -> None:
        after_files = data_files(root)
        new = [p for ino, (p, _) in after_files.items() if ino not in before_files]
        span.counts["rows_rewritten"] = sum(
            pq.ParquetFile(p).metadata.num_rows for p in new
        )
        span.counts["rows_removed"] = max(
            0, before_rows - (target.table_rows(table) or 0)
        )
        span.counts["buckets_repaired"] = stats.mismatched_buckets

    return after


def _compact_probe(args, kwargs):
    def after(span: Span, out) -> None:
        span.counts["folded_rows"] = int(out.get("folded_rows", 0))

    return after


def _keep_result(store: list):
    def hook(args, kwargs):
        def after(span: Span, out) -> None:
            store.append(out)

        return after

    return hook


def targets(pairs_out: list) -> list[tuple]:
    """Every wrapped entry point as ``(owner, attr, span name, jobs,
    hook)``. ``pairs_out`` collects the pair frames the dedup pair
    generators return, for the pair-yield count after each run."""
    import sslr_spark.curation as curation
    import sslr_spark.functions.dedup as dedup
    import sslr_spark.functions.quality_model as quality_model
    import sslr_spark.job as job
    import sslr_spark.operators.deletes as deletes
    import sslr_spark.operators.updates as updates
    from sslr_spark.sources.parquet import ParquetDatabase
    from sslr_spark.state import StateStore

    keep_pairs = _keep_result(pairs_out)
    out = [
        (job.Job, "run", "job.run", True, None),
        (job.Job, "validate_tables", "job.validate", True, None),
        (job.Job, "update_table", "job.update_table", True, None),
        # job.py binds these at import time
        (job, "sync_updates", "updates.sync", True, None),
        (job, "sync_deletes", "deletes.diff", True, None),
        (updates, "sync_updates", "updates.sync", True, None),
        (updates, "get_update_range", "updates.probe", True, None),
        (updates, "plan_version_batches", "updates.batch_plan", True, None),
        (updates, "merge_upsert_partitioned", "updates.merge", True, None),
        (updates, "append_upsert_log", "updates.log_append", True, None),
        (updates, "append_delete_log", "updates.log_append", True, None),
        (updates, "read_merged", "updates.overlay_read", True, None),
        (updates, "compact_upsert_log", "updates.compact", True,
         _compact_probe),
        (deletes, "sync_deletes_partitioned", "deletes.diff", True,
         _repair_probe),
        (deletes, "sync_deletes", "deletes.diff", True, None),
        (StateStore, "get", "state.get", True, None),
        (StateStore, "set", "state.set", True, None),
        # curation.py binds these at import time
        (curation, "curate_documents", "curation.run", True, None),
        (curation, "quality_quantile_gate", "quality.gate", True, None),
        (curation, "exact_dedup_groups", "dedup.exact", True, None),
        (quality_model, "quality_quantile_gate", "quality.gate", True, None),
        (dedup, "exact_dedup_groups", "dedup.exact", True, None),
        (dedup, "minhash_lsh_pairs", "dedup.near_dup", True, keep_pairs),
        (dedup, "simhash_pairs", "dedup.near_dup", True, keep_pairs),
        (dedup, "dup_clusters_star", "dedup.cc", True, None),
    ]
    out += [(ParquetDatabase, m, "parquet.write", True, None)
            for m in _PARQUET_WRITES]
    out += [(ParquetDatabase, m, "parquet.meta", False, None)
            for m in _PARQUET_META]
    out += [(ParquetDatabase, m, "parquet.read", True, None)
            for m in _PARQUET_READS]
    return out


# ----------------------------------------------------------------------
# metrics
# ----------------------------------------------------------------------

PER_LAYER_NAMES = sorted(
    set(SELF_TIME_METRICS.values())
    | {
        "job.spark_jobs_per_pass", "driver.remainder_s",
        "updates.compactions", "updates.compact_folded_rows",
        "deletes.buckets_repaired", "deletes.useful_frac",
        "state.set_calls",
        "parquet.bytes_written", "parquet.files_written",
        "parquet.target_files",
        "dedup.candidate_pairs", "dedup.pair_yield",
        "spark.jobs", "spark.stages", "spark.tasks",
        "spark.scheduler_delay_s", "spark.executor_run_s",
        "spark.executor_cpu_s", "spark.gc_s",
        "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
        "spark.input_bytes", "spark.output_bytes", "spark.task_skew",
        "tracing.overhead_frac", "trace.accounted_frac",
        "trace.job_overflow_frac",
    }
)


def _roots(spans: list[Span]) -> dict[str, str]:
    """Span id -> id of its root span."""
    by_id = {s.id: s for s in spans}
    out = {}
    for s in spans:
        r = s
        while r.parent is not None:
            r = by_id[r.parent]
        out[s.id] = r.id
    return out


def compute(tracer: Tracer, log: EventLog, op_name: str,
            extra: dict) -> dict[str, float]:
    """Per-layer metrics of one traced run.

    ``op_name`` is the root span name of the timed operation ("pass" or
    "run"); other roots (reader queries) count towards layer times and
    Spark totals but not towards pass walls. ``extra`` carries counts
    measured outside spans (bytes written, target files, pair yield).
    """
    spans = tracer.spans
    selfs = self_times(spans)
    root_of = _roots(spans)
    by_id = {s.id: s for s in spans}
    ops = [s for s in spans if s.parent is None and s.name == op_name]
    n_ops = max(1, len(ops))
    op_ids = {s.id for s in ops}
    m = {name: 0.0 for name in PER_LAYER_NAMES}

    for s in spans:
        key = SELF_TIME_METRICS.get(s.name)
        if key:
            m[key] += selfs[s.id] / n_ops

    # Spark jobs by the span that was innermost when they started
    jobs_by_span: dict[str, list] = {}
    for j in log.jobs.values():
        if j.group in by_id:
            jobs_by_span.setdefault(j.group, []).append(j)
    op_jobs: dict[str, list] = {}
    for sid, js in jobs_by_span.items():
        op_jobs.setdefault(root_of[sid], []).extend(js)

    wall = sum(s.end - s.start for s in ops)
    in_ops = [j for r, js in op_jobs.items() if r in op_ids for j in js]
    m["job.spark_jobs_per_pass"] = len(in_ops) / n_ops if op_name == "pass" else 0.0
    if op_name == "pass":
        m["driver.remainder_s"] = sum(
            (s.end - s.start)
            - union_length((j.start_s, j.end_s) for j in op_jobs.get(s.id, []))
            for s in ops
        ) / n_ops
    in_op_spans = [s for s in spans if root_of[s.id] in op_ids]
    # share of the op wall spent inside wrapped engine calls; the rest
    # is the benchmark's own code around them
    m["trace.accounted_frac"] = (
        sum(selfs[s.id] for s in in_op_spans if s.parent is not None) / wall
        if wall else 0.0
    )
    overflow = sum(
        max(0.0, union_length((j.start_s, j.end_s) for j in jobs_by_span[s.id])
            - selfs[s.id])
        for s in in_op_spans if s.id in jobs_by_span
    )
    m["trace.job_overflow_frac"] = overflow / wall if wall else 0.0

    # event-log totals over every traced root (passes/runs and reads)
    all_jobs = [j for js in jobs_by_span.values() for j in js]
    stage_ids = {sid for j in all_jobs for sid in j.stage_ids}
    stages = [log.stages[sid] for sid in stage_ids if sid in log.stages]
    tasks = [t for st in stages for t in st.tasks]
    m["spark.jobs"] = len(all_jobs) / n_ops
    m["spark.stages"] = len(stages) / n_ops
    m["spark.tasks"] = len(tasks) / n_ops
    for key, attr in (
        ("spark.scheduler_delay_s", "scheduler_delay_s"),
        ("spark.executor_run_s", "run_s"),
        ("spark.executor_cpu_s", "cpu_s"),
        ("spark.gc_s", "gc_s"),
        ("spark.shuffle_read_bytes", "shuffle_read_bytes"),
        ("spark.shuffle_write_bytes", "shuffle_write_bytes"),
        ("spark.input_bytes", "input_bytes"),
        ("spark.output_bytes", "output_bytes"),
    ):
        m[key] = sum(getattr(t, attr) for t in tasks) / n_ops
    skews = []
    for s in ops:
        op_stage_ids = {sid for j in op_jobs.get(s.id, []) for sid in j.stage_ids}
        op_stages = [log.stages[i] for i in op_stage_ids
                     if i in log.stages and log.stages[i].tasks]
        if op_stages:
            slow = max(op_stages, key=lambda st: st.wall_s)
            durs = [t.duration_s for t in slow.tasks]
            med = statistics.median(durs)
            skews.append(max(durs) / med if med > 0 else 1.0)
    m["spark.task_skew"] = statistics.median(skews) if skews else 0.0

    # counts recorded on spans
    def total(span_name: str, key: str) -> float:
        return sum(s.counts.get(key, 0) for s in spans if s.name == span_name)

    compacts = [s for s in spans if s.name == "updates.compact"]
    m["updates.compactions"] = sum(
        1 for s in compacts if s.counts.get("folded_rows", 0) > 0) / n_ops
    m["updates.compact_folded_rows"] = total("updates.compact", "folded_rows") / n_ops
    m["deletes.buckets_repaired"] = total("deletes.diff", "buckets_repaired") / n_ops
    rewritten = total("deletes.diff", "rows_rewritten")
    m["deletes.useful_frac"] = (
        total("deletes.diff", "rows_removed") / rewritten if rewritten else 0.0
    )
    m["state.set_calls"] = sum(1 for s in spans if s.name == "state.set") / n_ops

    traced_wall = sum(s.end - s.start for s in spans if s.parent is None)
    m["tracing.overhead_frac"] = (
        tracer.overhead_s / traced_wall if traced_wall else 0.0
    )
    m.update(extra)
    return m
