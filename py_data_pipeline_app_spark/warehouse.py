"""Parquet-backed warehouse for the engine's state tables — the Spark
replacement for the reference's SQLite file (reference app.py:18-52:
tables ``uploads``, ``customers``, ``address_changes``).

Versioned snapshots, not in-place overwrite: each ``overwrite`` writes
``{root}/{table}/v{N+1}`` and readers resolve the highest complete
version. This sidesteps Spark's read-from-path-you're-overwriting trap,
makes every upsert atomic at directory granularity (a crashed write
leaves no ``_SUCCESS`` and is ignored), and keeps history — the same
shape a Delta/Iceberg table gives, expressed with plain Parquet so the
engine has zero non-OSS dependencies. Appends each write their own
subdirectory of ``{table}/log`` (optionally named by an idempotency
token — see :meth:`Warehouse.append`); log tables never rewrite.

All file management goes through the Hadoop FileSystem API
(:mod:`py_data_pipeline_app_spark.fsio`), never the driver's local
``os``/``shutil`` — so ``root`` may live on ``file:/`` locally or
HDFS/S3A/GCS on a cluster, through the same module every persisted
index uses for its files. At 100 TB
the dimension/state tables live in the object store; retention,
time travel, and the max+1-id path all have to work there too.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from py_data_pipeline_app_spark import fsio
from py_data_pipeline_app_spark.functions.frames import local_rows_df


class Warehouse:
    """Minimal snapshot-versioned parquet warehouse.

    - ``overwrite(name, df)``: new snapshot version (dimension state).
    - ``append(name, df)``: add files to the append log (change logs,
      run metadata) — never rewrites existing data.
    - ``read(name, schema)``: latest snapshot, or the whole append log,
      read with the table's declared schema.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        fsio.mkdirs(spark, root)

    # -- paths ------------------------------------------------------------

    def _table_dir(self, name: str) -> str:
        return fsio.join(self.root, name)

    def _versions(self, name: str) -> list[int]:
        d = self._table_dir(name)
        out = []
        for entry, is_dir in fsio.child_entries(self.spark, d):
            if is_dir and entry.startswith("v") and entry[1:].isdigit():
                if fsio.exists(self.spark, fsio.join(d, entry, "_SUCCESS")):
                    out.append(int(entry[1:]))
        return sorted(out)

    # -- snapshot tables ---------------------------------------------------

    def overwrite(self, name: str, df: DataFrame) -> None:
        vs = self._versions(name)
        nxt = (vs[-1] + 1) if vs else 1
        df.write.mode("overwrite").parquet(
            fsio.join(self._table_dir(name), f"v{nxt}")
        )

    def read(
        self,
        name: str,
        schema: T.StructType | None = None,
        *,
        version: int | None = None,
    ) -> DataFrame | None:
        """Latest snapshot (or the append log). None if absent and no
        schema given; an empty typed frame if a schema is supplied.

        A supplied ``schema`` is the read schema on every path
        (snapshot, ``version=``, append log): the frame has exactly
        those columns and types, a column the files lack reads as NULL
        (a customers snapshot written before ``upload_id`` existed),
        and building the frame runs no job. Without a schema Spark
        infers one, and inferring runs one job to read a parquet
        footer.

        ``version`` reads a specific snapshot instead of the newest —
        the versioned layout's time travel (inspect the dimension as of
        upload N, diff two states, reproduce a report). Raises if that
        version does not exist or is incomplete; note :meth:`vacuum`
        deletes old versions, so history reaches back only as far as
        the retention policy keeps it."""
        df = self._scan(name, schema, version)
        if df is None and schema is not None:
            return local_rows_df(self.spark, schema, [])
        return df

    def _scan(
        self, name: str, schema: T.StructType | None, version: int | None = None
    ) -> DataFrame | None:
        """The parquet read behind :meth:`read`; None if the table has
        no data yet."""
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        vs = self._versions(name)
        if version is not None:
            if version not in vs:
                raise ValueError(
                    f"table {name!r} has no complete snapshot v{version}; "
                    f"available: {vs} (older versions may have been vacuumed)"
                )
            return reader.parquet(fsio.join(self._table_dir(name), f"v{version}"))
        if vs:
            return reader.parquet(fsio.join(self._table_dir(name), f"v{vs[-1]}"))
        append_dir = self._append_log_dir(name)
        if fsio.any_file_with_suffix(self.spark, append_dir, ".parquet"):
            # appends live in per-write subdirectories (see append())
            return reader.option("recursiveFileLookup", "true").parquet(append_dir)
        return None

    # -- append logs ---------------------------------------------------------

    def append(self, name: str, df: DataFrame, *, token: str | None = None) -> None:
        """Append one batch of rows to the table's log.

        Each append writes its own subdirectory (``log/{uuid}``), so
        concurrent writers never share a ``_temporary`` staging dir. A
        caller-supplied ``token`` names the subdirectory instead: the
        same token overwrites the same subdir, making replays (e.g. an
        interrupted foreachBatch re-running a micro-batch) idempotent
        rather than duplicating log rows."""
        sub = token if token is not None else uuid.uuid4().hex
        df.write.mode("overwrite").parquet(
            fsio.join(self._append_log_dir(name), sub)
        )

    def read_token(
        self, name: str, token: str, schema: T.StructType
    ) -> DataFrame | None:
        """The rows a previous ``append(..., token=...)`` wrote, read
        with ``schema`` as :meth:`read` applies it (building the frame
        runs no job), or None if that append never completed (no
        ``_SUCCESS``)."""
        d = fsio.join(self._append_log_dir(name), token)
        if fsio.exists(self.spark, fsio.join(d, "_SUCCESS")):
            return self.spark.read.schema(schema).parquet(d)
        return None

    def compact_log(self, name: str, *, keep_newest: bool = True) -> int:
        """Merge the table's append-log subdirectories into one
        consolidated subdirectory — the retention pass for log tables
        (each :meth:`append` adds a directory, so a per-upload change
        log accretes one listing entry per batch forever; readers pay
        that listing linearly).

        Rows are merged verbatim: appends never rewrite, so the union
        IS the log, and log rows carry no dedup key — which makes
        crash recovery the interesting part. The consolidated
        directory is fully written WITH a ``_MANIFEST`` sidecar
        (underscore-prefixed, so parquet readers ignore it) naming the
        source subdirectories BEFORE any source is deleted; every
        compaction first resumes any prior manifest's unfinished
        deletes. A crash therefore leaves duplicates only transiently
        — the next compaction (or this one's retry) deletes exactly
        the manifested sources, never re-merging them into a second
        copy.

        ``keep_newest`` (default) leaves the most recently WRITTEN
        subdirectory untouched (by its ``_SUCCESS`` mtime — lexical
        order lies twice here: unpadded stream tokens sort batch-10
        before batch-9, and a prior ``compact-*`` dir sorts after
        every batch), so a retried idempotent
        ``append(token=...)`` of the most recent batch (the only batch
        a foreachBatch replay re-runs) still overwrites ITS OWN
        directory instead of resurrecting rows beside the compacted
        copy — the same replay-safety contract as the LSH index
        compactor. Single-compactor assumption: the warehouse has no
        lock protocol (one writer by design, like the reference's
        single Flask worker) — two concurrent compactions of the same
        table are undefined. Returns the number of subdirectories
        merged."""
        spark = self.spark
        log_dir = self._append_log_dir(name)
        entries = fsio.child_entries(spark, log_dir)
        if not entries:
            return 0

        def complete_subdirs() -> list[str]:
            return sorted(
                e
                for e, is_dir in fsio.child_entries(spark, log_dir)
                if is_dir
                and fsio.exists(spark, fsio.join(log_dir, e, "_SUCCESS"))
            )

        # resume any crashed compaction: a visible compact dir's manifest
        # names sources that must die (their rows already live in the
        # manifested directory); stage dirs that never got renamed are
        # invisible orphans — remove them
        for e, _ in entries:
            p = fsio.join(log_dir, e)
            if e.startswith(".compact-stage-"):
                fsio.delete(spark, p)
                continue
            mpath = fsio.join(p, "_MANIFEST")
            if e.startswith("compact-") and fsio.exists(spark, mpath):
                for src in fsio.read_json(spark, mpath):
                    fsio.delete(spark, fsio.join(log_dir, src))

        subs = complete_subdirs()
        if keep_newest and subs:
            newest = max(
                subs,
                key=lambda e: (
                    fsio.mtime_ms(spark, fsio.join(log_dir, e, "_SUCCESS")),
                    e,
                ),
            )
            subs = [s for s in subs if s != newest]
        if len(subs) < 2:
            return 0
        merged = self.spark.read.parquet(
            *[fsio.join(log_dir, s) for s in subs]
        )
        # stage under a dot-prefixed name (parquet listing ignores it, so
        # readers never see a half-written or manifest-less copy), attach
        # the manifest, then one atomic rename makes copy+manifest visible
        # together — there is no instant where the rows exist twice
        # without the manifest that arbitrates the duplicate
        token = uuid.uuid4().hex[:12]
        stage = fsio.join(log_dir, f".compact-stage-{token}")
        merged.write.mode("overwrite").parquet(stage)
        fsio.write_json(spark, fsio.join(stage, "_MANIFEST"), subs)
        fsio.rename(spark, stage, fsio.join(log_dir, f"compact-{token}"))
        for s in subs:
            fsio.delete(spark, fsio.join(log_dir, s))
        return len(subs)

    def vacuum(self, name: str, *, keep_last: int = 2) -> list[int]:
        """Delete old snapshot versions of ``name``, keeping the newest
        ``keep_last`` complete ones — the retention pass every
        snapshot-versioned table needs (a daily-upserted dimension
        otherwise accretes one full copy per upload, unbounded).

        Readers only ever resolve the HIGHEST complete version, so
        removing older directories can never change a read. Incomplete
        versions (no ``_SUCCESS`` — crashed writes) older than the
        newest kept version are also removed; an incomplete version
        NEWER than it is left alone, since it may be a concurrent
        writer mid-flight. ``keep_last`` must be ≥ 1 (the current
        state is never deleted). Returns the version numbers removed."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1 - never delete the current state")
        complete = self._versions(name)
        keep = set(complete[-keep_last:])
        cutoff = min(keep) if keep else 0
        d = self._table_dir(name)
        removed: list[int] = []
        for entry, _ in fsio.child_entries(self.spark, d):
            if not (entry.startswith("v") and entry[1:].isdigit()):
                continue
            v = int(entry[1:])
            if v in keep or v > cutoff:
                continue
            fsio.delete(self.spark, fsio.join(d, entry))
            removed.append(v)
        return sorted(removed)

    def versions(self, name: str) -> list[int]:
        """Complete snapshot versions of ``name``, oldest first — the
        readable time-travel range (see :meth:`read`'s ``version``)."""
        return self._versions(name)

    # -- helpers -------------------------------------------------------------

    def next_id(self, name: str, id_col: str = "id") -> int:
        """max+1 id from a metadata table — the distributed analog of
        SQLite's autoincrement ``lastrowid`` (reference app.py:89); runs
        as one tiny driver-side aggregation over the (small) log. Reads
        only ``id_col``, typed ``long``, so no footer job precedes it."""
        cur = self._scan(name, T.StructType([T.StructField(id_col, T.LongType())]))
        if cur is None:
            return 1
        row = cur.agg(F.max(id_col).alias("m")).collect()[0]
        return int(row.m or 0) + 1

    def _append_log_dir(self, name: str) -> str:
        return fsio.join(self._table_dir(name), "log")
