"""Content-addressed result cache + incremental evaluation (E2).

This is the reference's single most important performance feature
(SURVEY.md §4): results are memoized under the SHA-1 of the normalized
item spec, shared across requests and users (common-subexpression
elimination at the workload level). The reference probes Mongo + the
filesystem per item (queue/extract_check.py:62-110,
queue/msr_check.py:22-53); here the manifest is a parquet table and the
probe is ONE ``left_anti`` join for the whole item plan — constant
number of jobs regardless of item count.

States mirror the reference's work-item machine
(queue/extract_check.py:113-143): an item counts as *cached* only when
status == DONE **and** its artifact is committed — a done row without a
committed artifact is missing (extract_check.py:132-136). Artifact
commit is represented by the ``committed`` flag written only after the
result parquet is fully written (the ``_SUCCESS``-marker pattern),
so a crashed writer never yields a phantom cache hit.

At 100 TB the manifest stays tiny (one row per item ever computed) and
is always the broadcast side of the anti-join.

Durability: the manifest is an append-only TRANSACTION LOG. Each commit
is one immutable parquet file ``{version:020d}.parquet`` whose version
is claimed atomically with ``link(2)`` (fails with EEXIST if the
version exists — the local-FS equivalent of HDFS's no-overwrite
rename); losers of a race re-read the log and retry at the next
version. Readers resolve current state as "highest version wins per
spec_hash", so concurrent writers can interleave but can never lose
each other's rows — rewrite-in-place could. Nothing ever deletes a
commit file, so a listed log file stays readable for the lifetime of
any lazily evaluated read.

Reads: every artifact is written by Spark, which records the frame's
schema in each parquet footer under the key-value entry
``org.apache.spark.sql.parquet.row.metadata``. ``get`` reads that entry
from the first data file's footer on the driver (pyarrow) and hands it
to ``spark.read.schema(...)``. Spark's own inference prefers the same
entry, so the frame is identical to ``spark.read.parquet(path)``, but
the read starts no Spark job (inference would start one per read).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

STATUS_QUEUED = 0
STATUS_DONE = 1
STATUS_PROCESSING = 2
STATUS_ERROR = -1

MANIFEST_SCHEMA = T.StructType(
    [
        T.StructField("spec_hash", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("status", T.IntegerType(), False),
        T.StructField("committed", T.BooleanType(), False),
        T.StructField("path", T.StringType(), True),
        T.StructField("update_time", T.LongType(), True),
    ]
)


# the key-value footer entry in which Spark records the schema of every
# parquet file it writes (ParquetReadSupport.SPARK_METADATA_KEY)
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

_LOG_SCHEMA = T.StructType(
    list(MANIFEST_SCHEMA.fields)
    + [T.StructField("version", T.LongType(), False)]
)


class CacheManifest:
    """Transaction-log-backed manifest keyed by spec hash."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.log_path = os.path.join(root, "_manifest_log")

    # -- log primitives ---------------------------------------------

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.log_path):
            return []
        return sorted(
            int(f.split(".")[0])
            for f in os.listdir(self.log_path)
            if f.endswith(".parquet")
        )

    def _commit(self, rows: list[tuple]) -> int:
        """Atomically append one commit file containing ``rows``.

        Optimistic concurrency: build the file for version =
        max(existing)+1, then claim the version with ``os.link`` —
        hard-linking onto an existing path raises FileExistsError, so
        exactly one writer wins each version and the loser retries
        with a re-read version number. The temp file lives OUTSIDE
        the log dir so readers never see partial parquet."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(self.log_path, exist_ok=True)
        cols = [f.name for f in MANIFEST_SCHEMA.fields]
        while True:
            versions = self._versions()
            v = versions[-1] + 1 if versions else 0
            data = {c: [r[i] for r in rows] for i, c in enumerate(cols)}
            data["version"] = [v] * len(rows)
            table = pa.table(
                data,
                schema=pa.schema(
                    [
                        ("spec_hash", pa.string()),
                        ("kind", pa.string()),
                        ("status", pa.int32()),
                        ("committed", pa.bool_()),
                        ("path", pa.string()),
                        ("update_time", pa.int64()),
                        ("version", pa.int64()),
                    ]
                ),
            )
            fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".commit.tmp")
            os.close(fd)
            try:
                pq.write_table(table, tmp)
                target = os.path.join(self.log_path, f"{v:020d}.parquet")
                try:
                    os.link(tmp, target)
                    return v
                except FileExistsError:
                    continue  # lost the race — re-read versions, retry
            finally:
                os.unlink(tmp)

    def read(self) -> DataFrame:
        """Manifest state: replay the listed commit files, highest
        version wins per spec_hash. Lazy — commit files are immutable
        and never deleted, so the listing taken here stays readable
        however late the frame is evaluated; commits claimed after the
        listing are simply not part of this snapshot."""
        files = [
            os.path.join(self.log_path, f"{v:020d}.parquet")
            for v in self._versions()
        ]
        if not files:
            return self.spark.createDataFrame([], schema=MANIFEST_SCHEMA)
        log = self.spark.read.schema(_LOG_SCHEMA).parquet(*files)
        w = Window.partitionBy("spec_hash").orderBy(F.desc("version"))
        return (
            log.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "version")
        )

    def versions(self) -> list[int]:
        """Committed log versions, ascending."""
        return self._versions()

    def missing(self, items: DataFrame) -> DataFrame:
        """Items that must run: requested − cached, as a left-anti join
        against the (broadcast, manifest-sized) set of cached hashes."""
        cached = (
            self.read()
            .filter((F.col("status") == STATUS_DONE) & F.col("committed"))
            .select("spec_hash")
        )
        return items.join(F.broadcast(cached), "spec_hash", "left_anti")

    def result_path(self, spec_hash: str) -> str:
        return os.path.join(self.root, "results", spec_hash)

    def put_many(
        self, entries: list[tuple[str, str, DataFrame]]
    ) -> list[str]:
        """Write results, then commit ALL manifest rows in one log
        commit (the reference's idempotent enqueue,
        extract_check.py:165-183, batched). Results are written before
        the manifest commit, so a crash mid-batch leaves at worst
        uncommitted artifacts — never a phantom cache hit."""
        if not entries:
            return []
        from concurrent.futures import ThreadPoolExecutor

        # dedupe by spec hash FIRST: the store is content-addressed,
        # so duplicate entries are the same artifact by construction —
        # and without the dedupe two threads would run concurrent
        # mode("overwrite") jobs on the SAME result path (one deletes
        # while the other commits: a corrupt artifact recorded
        # committed=True, i.e. a durable phantom hit).
        seen: set[str] = set()
        entries = [
            e for e in entries if not (e[0] in seen or seen.add(e[0]))
        ]
        paths = [self.result_path(h) for h, _, _ in entries]

        def write(args) -> None:
            path, df = args
            df.write.mode("overwrite").parquet(path)

        # artifact writes are independent jobs on disjoint paths — run
        # them concurrently so batch latency is ~one write, not the sum
        # (Spark's scheduler interleaves the jobs across the executor)
        with ThreadPoolExecutor(max_workers=min(8, len(entries))) as ex:
            list(ex.map(write, [(p, e[2]) for p, e in zip(paths, entries)]))
        # one atomic commit for the whole batch: concurrent writers'
        # commits interleave as distinct versions, never overwriting
        # each other (the rewrite-in-place this replaces could drop a
        # concurrent batch's rows)
        self._commit(
            [
                (h, kind, STATUS_DONE, True, p, 0)
                for (h, kind, _), p in zip(entries, paths)
            ]
        )
        return paths

    def get(self, spec_hash: str) -> DataFrame:
        """The artifact of ``spec_hash`` as a lazy frame, read with the
        schema Spark stored in its first data file's footer (see the
        module docstring): the same frame as ``spark.read.parquet``,
        without its schema-inference job. Raises ``KeyError`` when the
        artifact has no data file and ``ValueError`` when the footer
        lacks Spark's schema."""
        import pyarrow.parquet as pq

        path = self.result_path(spec_hash)
        try:
            names = sorted(
                n for n in os.listdir(path) if not n.startswith(("_", "."))
            )
        except FileNotFoundError:
            names = []
        if not names:
            raise KeyError(f"no cached artifact for spec hash {spec_hash!r}")
        first = os.path.join(path, names[0])
        meta = pq.read_schema(first).metadata or {}
        if _SPARK_SCHEMA_KEY not in meta:
            raise ValueError(
                f"{first} has no Spark schema ({_SPARK_SCHEMA_KEY.decode()})"
            )
        schema = T.StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
        return self.spark.read.schema(schema).parquet(path)

    def vacuum(
        self, retention_s: float = 86_400.0, dry_run: bool = False
    ) -> list[str]:
        """Delete ORPHANED result directories — artifacts no manifest
        row references. ``put_many`` writes artifacts BEFORE the
        manifest commit (crash-safe ordering: at worst uncommitted
        artifacts, never a phantom cache hit), so crashes accumulate
        orphans this reclaims.

        ``retention_s`` is the safety window against exactly that
        write-then-commit ordering racing a live ``put_many``: only
        directories whose mtime is older than the retention are
        candidates, so an artifact written but not yet committed is
        never swept. Returns the removed (or, with ``dry_run``,
        would-be-removed) paths."""
        import time

        results_dir = os.path.join(self.root, "results")
        if not os.path.isdir(results_dir):
            return []
        # compare by the artifact directory NAME (= the spec hash,
        # result_path's last segment), not the raw path string:
        # manifest rows store the path as spelled by the WRITING
        # process ('./cache/results/<h>'), and a maintenance process
        # opened on an absolute or symlinked root would string-match
        # nothing and sweep every LIVE artifact as an orphan. The
        # basename is spelling-independent by construction.
        referenced = {
            os.path.basename(os.path.normpath(r["path"]))
            for r in self.read().select("path").collect()
        }
        cutoff = time.time() - retention_s
        removed = []
        for d in sorted(os.listdir(results_dir)):
            full = os.path.join(results_dir, d)
            if d in referenced:
                continue
            try:
                if os.path.getmtime(full) > cutoff:
                    continue  # inside the retention window — maybe live
            except OSError:
                continue  # vanished already
            removed.append(full)
            if not dry_run:
                shutil.rmtree(full, ignore_errors=True)
        return removed
