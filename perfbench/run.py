"""Repository benchmark: closed-loop CDC sync passes and corpus curation.

Usage (from the repository root)::

    python3 perfbench/run.py --workload cdc_cow --seed 1 --seconds 15 --trace 0

Workloads: ``cdc_cow`` (copy-on-write target), ``cdc_mor``
(merge-on-read target) and ``curate``. The run stages seeded inputs,
measures for ``--seconds``, checks the outputs, and prints as its last
line one JSON object ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the engine's entry points are
wrapped in spans, Spark writes a plain event log, and the metrics are
the per-layer ones. Exits 1 when a correctness check fails.

Everything the run writes goes under ``.perfbench_run/`` in the
repository root; the run's data directory is removed at the end and the
traced run leaves its spans in ``.perfbench_run/spans-<workload>.jsonl``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from contextlib import nullcontext  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("cdc_cow", "cdc_mor", "curate")
RUN_DIR = os.path.join(ROOT, ".perfbench_run")


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


class Context:
    """What a workload needs from the harness."""

    def __init__(self, spark, work: str, seed: int, seconds: int,
                 session_s: float, trace: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.session_s = session_s
        self.trace = trace
        self.tracer = None
        self._undo = None
        self.pairs: list = []      # pair frames the dedup generators returned
        self.pair_counts = [0, 0]  # [emitted, true]

    def start_tracing(self) -> None:
        """Wrap the engine's entry points (traced runs only)."""
        if not self.trace:
            return
        from perfbench import layers
        from perfbench.trace import Tracer

        self.tracer = Tracer(self.spark.sparkContext)
        self._undo = self.tracer.install(layers.targets(self.pairs))

    def bytes_written(self) -> int:
        """Bytes Spark has written through the local file system so far:
        table files, their checksums and staging copies, but not shuffle
        or spill files, which bypass it."""
        fs = self.spark.sparkContext._jvm.org.apache.hadoop.fs.FileSystem
        stats = fs.getGlobalStorageStatistics().get("file")
        return 0 if stats is None else int(stats.getLong("bytesWritten"))

    def op(self, index: int, name: str):
        """Root span of one timed operation, or nothing when untraced."""
        return self.tracer.op(index, name) if self._undo else nullcontext()

    def stop_tracing(self) -> None:
        if self._undo is not None:
            self._undo()
            self._undo = None

    def count_pairs(self, truth) -> None:
        """Score the pairs the last run's generators emitted against the
        planted clusters (outside every span, so not in layer times)."""
        for df in self.pairs:
            pdf = df.select("doc_a", "doc_b").toPandas()
            self.pair_counts[0] += len(pdf)
            self.pair_counts[1] += int(
                (truth[pdf["doc_a"].to_numpy()]
                 == truth[pdf["doc_b"].to_numpy()]).sum())
        self.pairs.clear()


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if importlib.util.find_spec("sslr_spark") is None:
        print("perfbench: the sslr_spark package is not in this tree",
              file=sys.stderr)
        return 2

    work = os.path.join(RUN_DIR, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # keep Python's, the gateway's and the JVM's temporary files in the tree
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp

    from perfbench import cdc, curate
    from sslr_spark.config import Config
    from sslr_spark.session import get_spark

    n_cpu = len(os.sched_getaffinity(0))
    shuffle = Config().shuffle_partitions
    conf = {
        "spark.driver.memory": "2g",
        # a fixed, pre-touched heap: peak RSS no longer depends on when
        # the collector chose to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms2g -XX:+AlwaysPreTouch",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            # Spark 4.1 defaults to rolling zstd logs; pin the plain format
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=f"local[{n_cpu}]",
        shuffle_partitions=shuffle,
        extra_conf=conf,
    )
    stopped = False
    try:
        ctx = Context(spark, work, args.seed, args.seconds,
                      time.perf_counter() - T0, bool(args.trace))
        if args.workload == "curate":
            res = curate.run(ctx)
        else:
            res = cdc.run(ctx, mor=args.workload == "cdc_mor")
        res["end_to_end"]["peak_rss_mb"] = peak_rss_mb(spark)
        _stop_jvm(spark)
        stopped = True

        if args.trace:
            from perfbench import eventlog, layers

            log = eventlog.read_log(eventlog.find_log(log_dir))
            extra = dict(res["per_layer_extra"])
            emitted, true = ctx.pair_counts
            extra["dedup.candidate_pairs"] = emitted / res["ops"]
            extra["dedup.pair_yield"] = true / emitted if emitted else 0.0
            values = layers.compute(ctx.tracer, log, res["op_name"], extra)
            ctx.tracer.dump(os.path.join(RUN_DIR, f"spans-{args.workload}.jsonl"))
            wanted = bench["per_layer"]
        else:
            values = res["end_to_end"]
            wanted = bench["end_to_end"]
    finally:
        if not stopped:
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    names = {m["name"] for m in wanted}
    if set(values) != names:
        raise RuntimeError(
            f"metric set differs from BENCHMARK.json: "
            f"missing {sorted(names - set(values))}, "
            f"extra {sorted(set(values) - names)}")
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in wanted}
    print(f"# workload={args.workload} seed={args.seed} master=local[{n_cpu}] "
          f"shuffle_partitions={shuffle} ops={res['ops']} "
          f"op_s={[round(x, 3) for x in res['op_s']]} "
          f"setup_reps_s={[round(x, 3) for x in res['setup_reps_s']]} "
          f"tail_percentiles={res['tail_percentiles']}")
    print(f"# check={json.dumps(res['check'], default=str)}")
    for name, m in metrics.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    units = {"op_tail_s": "s", "read_tail_s": "s", "error_rate": "ratio",
             "rows_per_s_total": "rows/s"}
    for name, value in res["informational"].items():
        print(f"# {name} = {value:.6g} {units[name]} (printed, not gated)")
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
