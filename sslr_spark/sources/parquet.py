"""Parquet-directory database adapter.

A "database" is a directory holding one parquet dataset per table at
``<root>/<table>.parquet``. Writes are atomic: stage to a temp
directory, then swap via rename (the whole table directory, or each
rewritten partition directory) — this is the parquet-world analog of
the reference's transactional apply (BEGIN ... COPY ... COMMIT,
reference internal/updates.go:172-221). A reader either sees the old
table or the new one, never a partial write, and a crash mid-write
leaves the previous committed table intact.

At scale this adapter maps to a real lakehouse table format (Delta /
Iceberg provide the same atomic-swap semantics natively); the staged
rename is the dependency-free local equivalent.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class ParquetDatabase:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths ---------------------------------------------------------
    def path(self, table: str) -> str:
        return os.path.join(self.root, f"{table}.parquet")

    # -- catalog probes (reference internal/schemas.go:195-200) --------
    def table_exists(self, table: str) -> bool:
        return os.path.exists(self.path(table))

    def list_tables(self) -> list[str]:
        return sorted(
            f[: -len(".parquet")]
            for f in os.listdir(self.root)
            if f.endswith(".parquet")
        )

    # -- read ----------------------------------------------------------
    def read(self, table: str, with_meta: bool = False) -> DataFrame:
        """Read a table. Engine-metadata columns (``__sslr*`` — e.g.
        the bucket partition column of the default partitioned layout)
        are stripped unless ``with_meta`` — a reader of the published
        table sees exactly the replicated schema, like a reference
        target table. Sync internals pass ``with_meta=True`` to prune
        on the bucket column."""
        df = self.spark.read.parquet(self.path(table))
        if not with_meta:
            meta = [c for c in df.columns if c.startswith("__sslr")]
            if meta:
                df = df.drop(*meta)
        return df

    # -- write ---------------------------------------------------------
    def _commit(
        self,
        table: str,
        write,
        parts: list[str] | None = None,
        layout: dict | None = None,
    ) -> None:
        """The adapter's one commit protocol: ``write(stage)`` writes
        the new data to a fresh stage directory, then renames swap it
        in — the whole table directory (``parts`` None), or each listed
        partition directory of the table (a listed partition the stage
        does not hold is removed; unlisted ones are not touched). Each
        swap parks the old directory, renames the new one in and rolls
        the old one back if that rename fails, so a reader sees the old
        or the new unit, never a partial write. ``layout`` is written
        into the stage as the ``_sslr_layout.json`` marker, so a whole-
        table swap commits it with the data."""
        final = self.path(table)
        stage = os.path.join(self.root, f".stage-{table}-{uuid.uuid4().hex}")
        try:
            write(stage)
            if layout:
                with open(os.path.join(stage, "_sslr_layout.json"), "w") as fh:
                    json.dump(layout, fh)
            if parts is None:
                moves = [(stage, final)]
            else:
                stray = {d for d in os.listdir(stage) if "=" in d} - set(parts)
                if stray:
                    raise ValueError(
                        f"rows outside the listed partitions of {table!r}: "
                        f"{sorted(stray)}"
                    )
                os.makedirs(final, exist_ok=True)
                moves = [
                    (os.path.join(stage, p), os.path.join(final, p))
                    for p in parts
                ]
            for src, dst in moves:
                old = os.path.join(
                    self.root, f".old-{table}-{uuid.uuid4().hex}"
                )
                try:
                    if os.path.exists(dst):
                        os.rename(dst, old)
                    if os.path.exists(src):
                        os.rename(src, dst)
                except BaseException:
                    if not os.path.exists(dst) and os.path.exists(old):
                        os.rename(old, dst)
                    raise
                shutil.rmtree(old, ignore_errors=True)
        finally:
            shutil.rmtree(stage, ignore_errors=True)

    @staticmethod
    def _layout(partition_col, n_buckets, bucket_hash) -> dict | None:
        if not n_buckets:
            return None
        return {
            "partition_col": partition_col,
            "n_buckets": int(n_buckets),
            "bucket_hash": bucket_hash or "portable",
        }

    def overwrite(self, table: str, df: DataFrame) -> None:
        """Atomically replace ``table`` with ``df`` (stage + swap)."""
        self._commit(table, lambda stage: df.write.parquet(stage))

    def overwrite_partitioned(
        self,
        table: str,
        df: DataFrame,
        partition_col: str,
        n_buckets: int | None = None,
        files_per_bucket: int = 1,
        bucket_hash: str | None = None,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Full overwrite of a partitioned table layout
        (``<table>.parquet/<partition_col>=v/...``). Reads of the table
        recover ``partition_col`` as an ordinary column.

        ``n_buckets`` is recorded in a ``_sslr_layout.json`` marker in
        the table root (Spark ignores ``_``-prefixed files): merges and
        repairs MUST reuse the stored bucket count — mixing counts
        writes a key's new row to a different partition than its old
        row lives in, i.e. silent duplication. ``files_per_bucket > 1``
        salts the write clustering to raise write parallelism when the
        bucket count is below the cluster's task slots (at the cost of
        that many files per bucket)."""
        df = self._cluster_by_partition(
            df, partition_col, files_per_bucket, n_buckets, sort_cols
        )
        self._commit(
            table,
            lambda stage: df.write.partitionBy(partition_col).parquet(stage),
            layout=self._layout(partition_col, n_buckets, bucket_hash),
        )

    def overwrite_partitioned_aligned(
        self,
        table: str,
        aligned_df: DataFrame,
        extra_df: DataFrame,
        partition_col: str,
        n_buckets: int | None = None,
        bucket_hash: str | None = None,
    ) -> None:
        """Atomic partitioned overwrite skipping the full-table
        shuffle, for the scattered-merge fallback: ``aligned_df`` must
        come from a partition-dir-aligned read of this table, filtered
        only by NARROW ops (broadcast anti-join, filter) — its tasks
        then hold rows of few buckets each, so a ``partitionBy`` write
        WITHOUT re-clustering opens few files per task (measured ~2-4
        files/bucket vs the tasks x buckets explosion an unaligned
        frame would produce). The small ``extra_df`` (the update
        slice) appends clustered. Two passes into one stage dir, one
        atomic swap."""

        def write(stage: str) -> None:
            aligned_df.write.partitionBy(partition_col).parquet(stage)
            (
                extra_df.repartition(
                    max(8, (n_buckets or 64) // 8), F.col(partition_col)
                )
                .write.mode("append")
                .partitionBy(partition_col)
                .parquet(stage)
            )

        self._commit(
            table, write,
            layout=self._layout(partition_col, n_buckets, bucket_hash),
        )

    def replace_partitions(
        self,
        table: str,
        df: DataFrame,
        partition_col: str,
        values: list,
        sort_cols: list[str] | None = None,
    ) -> None:
        """Replace the listed partitions of ``table``: each partition
        ``partition_col=v`` for ``v`` in ``values`` ends up holding
        exactly ``df``'s rows for it, and a listed partition without
        rows is removed; unlisted partitions are not touched. ``df``
        must hold rows of listed partitions only. The plain-parquet
        equivalent of Delta's ``replaceWhere`` — the scale path for
        merges and repairs that touch a small fraction of a huge table
        (cost ∝ listed partitions, not table size).

        ``df`` is staged first (so it may read the partitions it
        replaces), then each partition directory is swapped in by
        rename with :meth:`overwrite`'s rollback; a missing table
        directory is created. Atomic per partition, not across them:
        every caller re-applies idempotently until its watermark or
        manifest commit lands. A hard kill between the two renames of
        one partition parks its old files in a ``.old-`` directory of
        the database root."""
        df = self._cluster_by_partition(df, partition_col, sort_cols=sort_cols)
        self._commit(
            table,
            lambda stage: df.write.partitionBy(partition_col).parquet(stage),
            parts=[f"{partition_col}={v}" for v in values],
        )

    @staticmethod
    def _cluster_by_partition(
        df: DataFrame,
        partition_col: str,
        files_per_bucket: int = 1,
        n_buckets: int | None = None,
        sort_cols: list[str] | None = None,
    ) -> DataFrame:
        """Repartition on the partition column before a partitionBy
        write. Without this, EVERY write task opens a file in EVERY
        partition dir — P partitions x T tasks files. Measured at 10x
        sf0.1 (6M rows, 640 buckets x 32 tasks): ~20k tiny files made
        the scattered-update merge superlinear (19x time for 10x
        rows). Clustering first caps output at ``files_per_bucket``
        files per partition and turns the later pruned reads back into
        few-file scans.

        Plain clustering caps write parallelism at the number of
        distinct buckets; when that is below the cluster's task slots
        (big initial copy, small bucket count), pass
        ``files_per_bucket > 1`` — a deterministic row-hash salt
        splits each bucket across that many writers (shuffled into
        bucket x salt partitions so the salt groups actually land in
        distinct tasks)."""
        if files_per_bucket > 1:
            salt = F.pmod(
                F.xxhash64(*[F.col(c) for c in df.columns]),
                F.lit(files_per_bucket),
            )
            if n_buckets:
                out = df.repartition(
                    n_buckets * files_per_bucket, F.col(partition_col), salt
                )
            else:
                out = df.repartition(F.col(partition_col), salt)
        else:
            out = df.repartition(F.col(partition_col))
        if sort_cols:
            # Key-clustered row groups: sorting each write task by
            # (partition_col, PK) gives every parquet row group a tight
            # min/max span on the key columns, so range predicates (P6
            # scans, repair reads) skip row groups instead of scanning
            # the bucket. Leading with partition_col satisfies the
            # partitionBy writer's required ordering — otherwise
            # FileFormatWriter inserts a SECOND per-task sort on the
            # partition column and the PK clustering would rest on that
            # sort being stable. One post-shuffle sort per task total.
            out = out.sortWithinPartitions(partition_col, *sort_cols)
        return out

    def table_rows(self, table: str) -> int | None:
        """Exact row count from parquet FOOTER metadata only — every
        data file's footer carries num_rows, so this is a handful of
        footer reads, no Spark job and no data pages. Parquet has no
        delete vectors, so the footer sum equals ``read().count()``
        exactly; the staleness probe (operators/updates.py
        get_update_range) runs every incremental pass and must not
        pay a full scan of a wide target for one integer. Returns
        None for a missing table (callers fall back to a count job
        on adapters without footer statistics)."""
        if not self.table_exists(table):
            return None
        import pyarrow.parquet as pq

        total = 0
        for dirpath, _, files in os.walk(self.path(table)):
            for f in files:
                if f.endswith(".parquet") and not f.startswith((".", "_")):
                    total += pq.ParquetFile(
                        os.path.join(dirpath, f)
                    ).metadata.num_rows
        return total

    def table_bytes(self, table: str) -> int:
        """On-disk size of a table (data files only) — a free cost
        signal for plan choices (e.g. shuffle-avoiding vs one-shot
        rewrites in merge_upsert_partitioned)."""
        total = 0
        for dirpath, _, files in os.walk(self.path(table)):
            for f in files:
                if not f.startswith((".", "_")):
                    total += os.path.getsize(os.path.join(dirpath, f))
        return total

    def layout_meta(self, table: str) -> dict | None:
        """The ``_sslr_layout.json`` marker written by
        :meth:`overwrite_partitioned` (None for unpartitioned or
        pre-marker layouts)."""
        p = os.path.join(self.path(table), "_sslr_layout.json")
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    # -- per-table sidecar markers ---------------------------------
    # ``_``-prefixed files inside the table directory: invisible to
    # Spark's parquet reader and to table_rows/table_bytes, and —
    # because overwrite() swaps the WHOLE directory — cleared
    # atomically with any full rewrite of the table.

    def set_copy_pending(self, table: str) -> None:
        """Mark an in-flight destructive full copy (MOR mode drops
        the upsert log before the overwrite; the marker forces full
        copy on the next pass if the overwrite never lands — see
        operators/updates.py sync_updates). A no-op for a table that
        does not exist yet (nothing to lose)."""
        if not self.table_exists(table):
            return
        p = os.path.join(self.path(table), "_sslr_copy_pending")
        with open(p, "w") as fh:
            fh.write("{}")

    def copy_pending(self, table: str) -> bool:
        return os.path.exists(
            os.path.join(self.path(table), "_sslr_copy_pending")
        )

    def write_table_meta(self, table: str, name: str, meta: dict) -> None:
        """Small JSON sidecar in the table directory (e.g. the MOR
        compaction record) — footer-class metadata, zero Spark jobs
        to read back."""
        if not self.table_exists(table):
            return
        with open(
            os.path.join(self.path(table), f"_sslr_{name}.json"), "w"
        ) as fh:
            json.dump(meta, fh)

    def read_table_meta(self, table: str, name: str) -> dict | None:
        p = os.path.join(self.path(table), f"_sslr_{name}.json")
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return json.load(fh)

    def drop_partitions(
        self, table: str, partition_col: str, values: list
    ) -> None:
        """Remove whole partitions (the streaming epoch GC). A
        partition rewrite needs no follow-up removal:
        :meth:`replace_partitions` removes a listed partition that
        ends without rows."""
        for v in values:
            shutil.rmtree(
                os.path.join(self.path(table), f"{partition_col}={v}"),
                ignore_errors=True,
            )

    def partition_file_counts(self, table: str) -> dict[str, int]:
        """Data-file count per partition dir of a partitioned layout
        (one local/object-store LIST per partition — the metadata scan
        every lakehouse maintenance job starts with)."""
        meta = self.layout_meta(table)
        if not meta:
            return {}
        pcol = meta["partition_col"]
        root = self.path(table)
        out: dict[str, int] = {}
        for d in os.listdir(root):
            if not d.startswith(f"{pcol}="):
                continue
            full = os.path.join(root, d)
            if not os.path.isdir(full):
                continue
            out[d.split("=", 1)[1]] = sum(
                1
                for f in os.listdir(full)
                if not f.startswith((".", "_")) and not f.endswith(".crc")
            )
        return out

    def compact_partitions(
        self,
        table: str,
        max_files_per_partition: int = 4,
        sort_cols: list[str] | None = None,
    ) -> dict:
        """Small-file compaction for the bucket-partitioned layout:
        rewrite ONLY the partitions whose data-file count exceeds the
        cap, one clustered (and optionally PK-sorted) file each.

        Incremental merges and aligned scattered rewrites accumulate
        2-4 files per touched bucket per sync; after many syncs the
        pruned reads the layout exists for degrade into many-small-file
        scans. This is the plain-parquet VACUUM/OPTIMIZE analog: cost
        ∝ oversize partitions only, never the table; untouched buckets
        keep their files byte-identical.

        The rewrite is one :meth:`replace_partitions` over the
        oversize partitions, so each bucket swaps in by rename with
        rollback; re-running compaction converges.

        Returns {"compacted": n, "skipped": n, "values": [...]}."""
        meta = self.layout_meta(table)
        if not meta:
            return {"compacted": 0, "skipped": 0, "values": []}
        pcol = meta["partition_col"]
        counts = self.partition_file_counts(table)
        over = sorted(
            v for v, n in counts.items() if n > max_files_per_partition
        )
        if not over:
            return {"compacted": 0, "skipped": len(counts), "values": []}
        df = self.read(table, with_meta=True)
        # partition values parse back through the column's own type
        vals = [int(v) for v in over] if dict(
            (f.name, f.dataType.simpleString()) for f in df.schema.fields
        ).get(pcol, "string") in ("int", "bigint", "long") else over
        self.replace_partitions(
            table,
            df.filter(F.col(pcol).isin(vals)),  # partition pruning
            pcol,
            vals,
            sort_cols=sort_cols,
        )
        return {
            "compacted": len(over),
            "skipped": len(counts) - len(over),
            "values": vals,
        }

    def append(self, table: str, df: DataFrame) -> None:
        """Append rows (bulk-load sink, reference COPY protocol analog,
        internal/copy.go:47). Not atomic with respect to concurrent
        readers of the same table; the sync engine only uses
        ``overwrite`` for published tables."""
        df.write.mode("append").parquet(self.path(table))

    def drop(self, table: str) -> None:
        shutil.rmtree(self.path(table), ignore_errors=True)

    def schema(self, table: str):
        return self.read(table).schema

    # -- snapshots -----------------------------------------------------
    # Reproducible-training-run support: a snapshot pins the table's
    # current committed files under a tag. Files are HARDLINKED, not
    # copied — O(files) metadata ops, zero data bytes moved — and
    # because every writer in this adapter creates NEW files (staged
    # overwrite swaps, per-epoch/bucket partition overwrites) and only
    # ever deletes old ones, the linked inodes keep snapshot data
    # alive through any later rewrite of the live table. On an object
    # store this maps to manifest-based snapshotting (Delta/Iceberg
    # time travel); hardlinks are the dependency-free local analog.

    def _snap_dir(self, table: str, tag: str) -> str:
        return os.path.join(self.root, ".snapshots", table, tag)

    def snapshot(self, table: str, tag: str) -> int:
        """Pin ``table``'s current committed files under ``tag``.
        Returns the number of files linked. Atomic: built in a stage
        dir, renamed into place — a crash leaves either no snapshot or
        a complete one. Fails if the tag already exists (snapshots are
        immutable; drop first to retag)."""
        final = self._snap_dir(table, tag)
        if os.path.exists(final):
            raise ValueError(f"snapshot {table}@{tag} already exists")
        src_root = self.path(table)
        if not os.path.isdir(src_root):
            raise ValueError(
                f"snapshot: table {table!r} does not exist"
            )
        snap_root = os.path.join(self.root, ".snapshots")
        # sweep stage dirs a CRASHED snapshot() left behind (hardlinks
        # only — removal never touches table data). Age-gated: a live
        # concurrent snapshot()'s stage dir is seconds old, a crashed
        # one outlives its process; 1 h is far beyond any build time.
        if os.path.isdir(snap_root):
            import time

            cutoff = time.time() - 3600
            for d in os.listdir(snap_root):
                p = os.path.join(snap_root, d)
                try:
                    if d.startswith(".stage-") and os.path.getmtime(p) < cutoff:
                        shutil.rmtree(p, ignore_errors=True)
                except OSError:
                    pass
        stage = os.path.join(snap_root, f".stage-{uuid.uuid4().hex}")
        n = 0
        for dirpath, dirnames, filenames in os.walk(src_root):
            # skip uncommitted write temp dirs; keep partition dirs
            dirnames[:] = [
                d for d in dirnames if "=" in d or not d.startswith(("_", "."))
            ]
            rel = os.path.relpath(dirpath, src_root)
            dst_dir = os.path.join(stage, rel) if rel != "." else stage
            os.makedirs(dst_dir, exist_ok=True)
            for f in filenames:
                if f.startswith("."):
                    continue  # CRC/hidden; keep _sslr_layout.json
                os.link(
                    os.path.join(dirpath, f), os.path.join(dst_dir, f)
                )
                n += 1
        os.makedirs(os.path.dirname(final), exist_ok=True)
        os.rename(stage, final)
        return n

    def read_snapshot(self, table: str, tag: str, with_meta: bool = False):
        df = self.spark.read.parquet(self._snap_dir(table, tag))
        if not with_meta:
            meta = [c for c in df.columns if c.startswith("__sslr")]
            if meta:
                df = df.drop(*meta)
        return df

    def list_snapshots(self, table: str) -> list[str]:
        d = os.path.join(self.root, ".snapshots", table)
        if not os.path.isdir(d):
            return []
        return sorted(t for t in os.listdir(d) if not t.startswith("."))

    def drop_snapshot(self, table: str, tag: str) -> None:
        shutil.rmtree(self._snap_dir(table, tag), ignore_errors=True)
