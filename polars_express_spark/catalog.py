"""DataLake — the id → path catalog.

Reference semantics (src/main.rs:17-57): a directory-of-files catalog
where one logical dataset id maps to one file, re-parsed on every
request. Here generalized Spark-first:

- Parquet is the primary at-rest format (columnar, pushdown-friendly);
  CSV/JSON kept for reference-compat (the reference serves CSVs only,
  src/main.rs:36-39).
- Loads are LAZY (spark.read builds a scan node; nothing is parsed until
  an action) — deliberately NOT the reference's eager whole-file parse
  per request (src/main.rs:44-52), which defeats pushdown (SURVEY.md §4.3).
- At 100 TB an id maps to a partitioned parquet directory; the API is
  identical because spark.read.parquet takes files or directories.
- Resolved scans are MEMOIZED per lake, keyed on (resolved path,
  declared schema, merge_schema), so repeated requests skip CSV schema
  inference and file listing. An entry is served only while the path's
  filesystem stamp is unchanged: (inode, mtime_ns, size) for a file;
  the directory inode plus (relative path, mtime_ns, size) of every file
  under it for a directory. Publish-by-rename, appends, added or removed
  part files and hand-replaced files all change the stamp; every write
  through the lake (save, compact, restore, save_bucketed, the streaming
  sink) also clears the cache via `_invalidate_memos`.
"""

from __future__ import annotations

import os
import stat
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class DataLake:
    """id → path catalog over a base directory (reference src/main.rs:17-39).

    ``keep_snapshots`` (r10) turns overwrite into a VERSIONED publish:
    the replaced data directory is archived by atomic rename as
    ``<path>.__snapshot__<k>`` (invisible to list/load) instead of
    removed, retaining the newest N versions — time travel
    (`load_snapshot`) and rollback (`restore`) over the retained
    window, the local-FS analog of a table format's snapshot log.
    Default 0 keeps the r9 remove-on-publish behavior.
    """

    FORMATS = ("parquet", "csv", "json", "orc")
    SNAP_MARK = ".__snapshot__"

    def __init__(self, spark: SparkSession, base_dir: str, keep_snapshots: int = 0):
        self.spark = spark
        self.base_dir = base_dir
        self.keep_snapshots = keep_snapshots
        # (path, schema, merge_schema) -> (stamp, DataFrame); see _scan
        self._scans: dict[tuple, tuple] = {}
        self._scans_lock = threading.Lock()

    def dataset_path(self, data_id: str) -> str | None:
        """Resolve id to an existing file/dir, trying formats in order.

        Mirrors reference dataset_path (src/main.rs:36-39) but
        format-agnostic: <base>/<id>.parquet, <id> (dir), <id>.csv, <id>.json.
        """
        candidates = [
            os.path.join(self.base_dir, f"{data_id}.parquet"),
            os.path.join(self.base_dir, data_id),
            os.path.join(self.base_dir, f"{data_id}.csv"),
            os.path.join(self.base_dir, f"{data_id}.json"),
            os.path.join(self.base_dir, f"{data_id}.orc"),
        ]
        for c in candidates:
            if os.path.exists(c):
                return c
        return None

    def dataset_exists(self, data_id: str) -> bool:
        """Reference dataset_exists (src/main.rs:55-57)."""
        return self.dataset_path(data_id) is not None

    def list_datasets(self) -> list[str]:
        """Sorted ids of every loadable dataset under base_dir — feeds the
        UI's dataset picker. The reference has no listing route (its page
        asks users to type ids blind, src/main.rs:374-376); the lake can
        enumerate with one directory scan, so /datasets is a documented
        improvement, not a parity gap."""
        if not os.path.isdir(self.base_dir):
            return []
        ids = set()
        for entry in os.listdir(self.base_dir):
            if entry.endswith(".state.json"):
                continue  # streaming-accumulator sidecar, not a dataset
            if ".__writing__" in entry:
                continue  # in-flight overwrite staging dir (save(), r9)
            if self.SNAP_MARK in entry:
                continue  # retained overwrite snapshot (r10) — without
                # this filter the isdir fallback below would list every
                # snapshot as a phantom dataset
            stem, dot, ext = entry.rpartition(".")
            if dot and ext in self.FORMATS and stem:
                ids.add(stem)
            elif os.path.isdir(os.path.join(self.base_dir, entry)):
                ids.add(entry)
        return sorted(ids)

    def load(self, data_id: str, schema=None, merge_schema: bool = False) -> DataFrame:
        """Lazy scan of a dataset (reference load_dataset, src/main.rs:41-52,
        minus the anti-pattern of eager whole-file parsing).

        CSVs use header inference like the reference
        (CsvReadOptions::with_has_header, src/main.rs:48-51) unless a
        schema is declared; parquet/json carry their own schemas.
        merge_schema=True unions the footers of every part file (schema
        EVOLUTION: parts appended after a column was added still read as
        one frame, old parts null-extended) — off by default because it
        reads every footer up front, which matters at 100 TB file counts.
        Repeated loads return the same cached scan until the dataset's
        files change (see _scan).
        """
        path = self.dataset_path(data_id)
        if path is None:
            raise FileNotFoundError(f"dataset not found: {data_id!r} under {self.base_dir}")
        return self._scan(path, schema, merge_schema)

    def _scan(self, path: str, schema=None, merge_schema: bool = False) -> DataFrame:
        """The memoized scan of ``path``: rebuilt only when its stamp
        changed. The stamp is taken BEFORE the read, so a write racing
        the read can only leave an entry that misses next time, never a
        stale one that hits. Two concurrent first misses may both build;
        the later insert wins."""
        schema_key = schema if schema is None or isinstance(schema, str) else schema.json()
        key = (path, schema_key, merge_schema)
        stamp = _stamp(path)
        with self._scans_lock:
            hit = self._scans.get(key)
        if hit is not None and hit[0] == stamp:
            return hit[1]
        df = self._read(path, schema, merge_schema)
        with self._scans_lock:
            for k in [k for k in self._scans if not os.path.exists(k[0])]:
                del self._scans[k]  # dataset gone: keep one entry per live path
            self._scans[key] = (stamp, df)
        return df

    def _read(self, path: str, schema=None, merge_schema: bool = False) -> DataFrame:
        """Format dispatch on the path's extension (a snapshot's is the
        one before SNAP_MARK; a bare directory reads as parquet)."""
        fmt = os.path.basename(path).split(self.SNAP_MARK)[0].rpartition(".")[2]
        reader = self.spark.read
        if fmt in ("csv", "json") and schema is not None:
            reader = reader.schema(schema)
        if fmt == "csv":
            reader = reader.option("header", True)
            if schema is None:
                reader = reader.option("inferSchema", True)
            return reader.csv(path)
        if fmt == "json":
            return reader.json(path)
        if fmt == "orc":
            return reader.orc(path)
        if merge_schema:
            reader = reader.option("mergeSchema", True)
        return reader.parquet(path)

    def compact(self, data_id: str, target_rows_per_file: int = 1_000_000) -> int:
        """Small-file compaction (lake maintenance): rewrite a parquet
        dataset into ⌈rows / target⌉ part files. Streaming/incremental
        writers leave thousands of tiny parts; at 100 TB the per-file
        open/footer cost dominates scans long before data volume does.

        Row count comes from parquet METADATA (a footer-only job, no
        data scan), then one repartition-write; the write goes to a
        temp id and swaps in only after success, so a failed compaction
        never corrupts the dataset. Returns the new file count."""
        import shutil

        path = self.dataset_path(data_id)
        if path is None or not (path.endswith(".parquet") or os.path.isdir(path)):
            raise FileNotFoundError(f"no parquet dataset {data_id!r} to compact")
        df = self.spark.read.parquet(path)
        n_rows = df.count()  # parquet count() is metadata-only
        n_files = max(1, -(-n_rows // target_rows_per_file))
        tmp_id = f"{data_id}.__compact_tmp"
        tmp_path = self.save(df.repartition(n_files), tmp_id, fmt="parquet")
        shutil.rmtree(path)
        os.replace(tmp_path, path)
        self._invalidate_memos()
        return n_files

    def vacuum(self, retention_seconds: float = 3600.0) -> list[str]:
        """Lake maintenance: remove orphaned write debris — temp-and-swap
        leftovers from a compaction that died between write and swap
        (`*.__compact_tmp.*`), overwrite staging dirs from a save() that
        died before its publish rename (`*.__writing__*`, r9), and Spark
        `_temporary` staging dirs from a killed job. All are invisible
        to `load` (the catalog never resolves them) but at 100 TB
        abandoned staging data is real money; every production lake
        runs exactly this sweep. Never touches a live dataset: only the
        debris name patterns are candidates, and debris younger than
        ``retention_seconds`` (mtime) is left alone so a vacuum running
        concurrently with an IN-FLIGHT save()/compact() cannot delete
        the active staging dir mid-write (r10, ADVICE — the same
        retention rule every production lake's VACUUM applies; pass 0
        only when no writer can be live). Returns the removed paths."""
        import shutil
        import time

        removed: list[str] = []
        now = time.time()
        for entry in sorted(os.listdir(self.base_dir)):
            full = os.path.join(self.base_dir, entry)
            if ".__compact_tmp." in entry or ".__writing__" in entry:
                # compaction swap leftovers + overwrite staging dirs from
                # a save() that died before its publish rename (r9)
                try:
                    age = now - os.path.getmtime(full)
                except OSError:
                    continue  # already gone — the writer published/cleaned
                if age < retention_seconds:
                    continue  # possibly a LIVE writer's staging dir
                shutil.rmtree(full, ignore_errors=True)
                removed.append(full)
            elif os.path.isdir(full):
                staging = os.path.join(full, "_temporary")
                if os.path.isdir(staging):
                    try:
                        if now - os.path.getmtime(staging) < retention_seconds:
                            continue  # a job may still be committing
                    except OSError:
                        continue
                    shutil.rmtree(staging, ignore_errors=True)
                    removed.append(staging)
        return removed

    def save(
        self,
        df: DataFrame,
        data_id: str,
        fmt: str = "parquet",
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> str:
        """Write a DataFrame into the lake as <base>/<id>.<fmt> (SURVEY §2.1:
        the reference links polars' parquet + json writers, Cargo.toml:8).

        Spark-first: the writer emits a DIRECTORY of part files — one per
        partition, written executor-side in parallel — which `load` reads
        back transparently (spark.read takes files or directories). At
        100 TB pass partition_by to lay out Hive-style partition pruning
        keys; no driver-side materialization ever happens here.

        Overwrites PUBLISH BY RENAME (r9): the job writes to a sibling
        ``<path>.__writing__*`` directory (invisible to list_datasets),
        then the old directory is removed and the new one renamed into
        place. Concurrent readers therefore see the OLD complete data
        for the whole duration of the write, never a half-written mix
        of new part files — the r9 concurrency e2e caught exactly that
        partial-count window under an in-place overwrite. The residual
        remove→rename gap is a clean dataset-missing error (mapped to
        400 by the endpoints), not a wrong answer; a crash in the gap
        leaves the finished tmp dir for vacuum. This is the local-FS
        analog of an object-store commit protocol — on a real deployment
        the same role is played by the committer/table format. Append
        mode keeps writing in place (it composes with existing files by
        definition).
        """
        if fmt not in self.FORMATS:
            raise ValueError(f"unsupported format {fmt!r}; one of {self.FORMATS}")
        path = os.path.join(self.base_dir, f"{data_id}.{fmt}")
        target = path
        if mode == "overwrite":
            import shutil
            import uuid

            target = f"{path}.__writing__{uuid.uuid4().hex[:8]}"
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if fmt == "csv":
            writer = writer.option("header", True)
        getattr(writer, fmt)(target)
        if target is not path:
            if os.path.isfile(path):  # e.g. a single-file CSV dataset
                os.remove(path)
            elif os.path.isdir(path):
                if self.keep_snapshots > 0:
                    # archive, don't delete: one atomic rename, so the
                    # publish gap is identical to the r9 remove path but
                    # the displaced version stays readable via
                    # load_snapshot until pruned
                    k = self._next_snapshot_version(path)
                    os.rename(path, f"{path}{self.SNAP_MARK}{k:08d}")
                    self._prune_snapshots(path)
                else:
                    shutil.rmtree(path, ignore_errors=True)
            os.rename(target, path)
        self._invalidate_memos()
        return path

    # -- overwrite snapshots (time travel / rollback, r10) ------------

    def _snapshots_of(self, path: str) -> list[tuple[int, str]]:
        """(version, full_path) of every retained snapshot of ``path``,
        ascending. A directory scan, never a data read."""
        d, base = os.path.dirname(path), os.path.basename(path) + self.SNAP_MARK
        out = []
        if os.path.isdir(d):
            for entry in os.listdir(d):
                if entry.startswith(base) and entry[len(base):].isdigit():
                    out.append((int(entry[len(base):]), os.path.join(d, entry)))
        return sorted(out)

    def _all_format_snapshots(self, path: str) -> list[tuple[int, str]]:
        """(version, path) over EVERY format of this dataset id,
        ascending by version — version numbers are minted and pruned
        globally across formats (r11 ADVICE: a per-format counter let a
        dataset republished under a second format mint a version number
        colliding with an earlier format's snapshot, and the dict merge
        in the index silently shadowed one of them)."""
        stem = path.rpartition(".")[0]
        out: list[tuple[int, str]] = []
        for fmt in self.FORMATS:
            out += self._snapshots_of(f"{stem}.{fmt}")
        return sorted(out)

    def _next_snapshot_version(self, path: str) -> int:
        snaps = self._all_format_snapshots(path)
        return (snaps[-1][0] + 1) if snaps else 1

    def _prune_snapshots(self, path: str) -> None:
        import shutil

        snaps = self._all_format_snapshots(path)
        for _, p in snaps[: max(0, len(snaps) - self.keep_snapshots)]:
            shutil.rmtree(p, ignore_errors=True)

    def _snapshot_index(self, data_id: str) -> dict[int, str]:
        """version → path over every format the id ever published as
        (snapshots survive even if the live dataset was deleted). The
        global version counter makes cross-format collisions impossible
        going forward; a collision from a pre-r11 lake raises instead
        of silently shadowing one format's snapshot."""
        out: dict[int, str] = {}
        for fmt in self.FORMATS:
            p = os.path.join(self.base_dir, f"{data_id}.{fmt}")
            for v, sp in self._snapshots_of(p):
                if v in out:
                    raise ValueError(
                        f"ambiguous snapshot version {v} of {data_id!r}:"
                        f" {out[v]} vs {sp} — restore/load by a unique"
                        " version after removing one of them"
                    )
                out[v] = sp
        return out

    def list_snapshots(self, data_id: str) -> list[int]:
        """Retained overwrite versions of a dataset, ascending (higher =
        more recent; the live directory is always newer than all)."""
        return sorted(self._snapshot_index(data_id))

    def load_snapshot(self, data_id: str, version: int) -> DataFrame:
        """Time travel: lazy scan of a RETAINED overwrite snapshot.

        Snapshot directories are immutable once archived (only pruning
        removes them), so a reader pinned to a version sees stable,
        complete data regardless of concurrent overwrites of the live
        dataset — the property the live path cannot give across a
        publish."""
        snaps = self._snapshot_index(data_id)
        if version not in snaps:
            raise FileNotFoundError(
                f"no snapshot {version} of {data_id!r}; have {sorted(snaps)}"
            )
        return self._scan(snaps[version])

    def restore(self, data_id: str, version: int) -> str:
        """Rollback: republish snapshot ``version`` as the live dataset
        through the same staged rename as save() — the snapshot itself
        is COPIED, not moved, so it remains in the retained window, and
        the replaced live data is archived per ``keep_snapshots`` (a
        rollback is itself an overwrite, so rolling BACK the rollback
        works)."""
        import shutil
        import uuid

        snaps = self._snapshot_index(data_id)
        if version not in snaps:
            raise FileNotFoundError(
                f"no snapshot {version} of {data_id!r}; have {sorted(snaps)}"
            )
        snap_path = snaps[version]
        path = snap_path.split(self.SNAP_MARK)[0]
        target = f"{path}.__writing__{uuid.uuid4().hex[:8]}"
        shutil.copytree(snap_path, target)
        if os.path.isfile(path):  # hand-dropped single-file dataset —
            os.remove(path)  # same branch save() takes (r11 ADVICE:
            # the final rename would otherwise fail with OSError)
        elif os.path.isdir(path):
            if self.keep_snapshots > 0:
                k = self._next_snapshot_version(path)
                os.rename(path, f"{path}{self.SNAP_MARK}{k:08d}")
                self._prune_snapshots(path)
            else:
                shutil.rmtree(path, ignore_errors=True)
        os.rename(target, path)
        self._invalidate_memos()
        return path

    def _invalidate_memos(self) -> None:
        """Drop memoized scans and intermediate frames of this lake dir.

        A dataset overwrite changes the data under every memo keyed on
        this directory (shingle tables, pair frames, ANN indexes); in a
        long-lived server, serving those frames after a mutation is a
        stale-read wrong-answer, not just a storage leak — so release
        eagerly rather than waiting for LRU pressure (VERDICT r5 #3).
        """
        from polars_express_spark.queries._memo import FRAMES

        FRAMES.release(self.base_dir)
        with self._scans_lock:
            self._scans.clear()

    def save_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_by: str,
        n_buckets: int = 8,
        mode: str = "overwrite",
    ) -> str:
        """Write a BUCKETED parquet table (hash-partitioned into
        n_buckets files per partition by bucket_by, sorted within).

        This is the co-located join layout: two tables bucketed the same
        way join WITHOUT a shuffle on either side — at 100 TB that turns
        the repeated fact⋈fact join from the pipeline's dominant shuffle
        into a local merge (verified by plan assertion in
        tests/test_bucketing.py). Bucketed tables must live in the
        session catalog (bucket metadata has no place in a bare
        directory), so this registers `table` backed by an external path
        under the lake.
        """
        path = os.path.join(self.base_dir, f"{table}.bucketed.parquet")
        (
            df.write.mode(mode)
            .option("path", path)
            .bucketBy(n_buckets, bucket_by)
            .sortBy(bucket_by)
            .format("parquet")
            .saveAsTable(table)
        )
        self._invalidate_memos()
        return path


def _stamp(path: str) -> tuple:
    """Cheap change detector for a dataset path: (inode, mtime_ns, size)
    of a file; for a directory its inode plus (relative path, mtime_ns,
    size) of every file beneath it. Raises FileNotFoundError when the
    path, or a file under it, vanishes mid-walk (a concurrent overwrite),
    like a load of a missing dataset."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_ino, st.st_mtime_ns, st.st_size)
    files = []
    dirs = [path]
    while dirs:
        with os.scandir(dirs.pop()) as it:
            for e in it:
                if e.is_dir(follow_symlinks=False):
                    dirs.append(e.path)
                else:
                    fs = e.stat()
                    files.append((os.path.relpath(e.path, path), fs.st_mtime_ns, fs.st_size))
    return (st.st_ino, tuple(sorted(files)))


# Timestamp columns that must be normalized to session-tz TIMESTAMP.
# Generations of the driver testdata have carried two physical forms:
# parquet TIMESTAMP(NANOS) (readable only as long nanos via
# spark.sql.legacy.parquet.nanosAsLong → convert ts div 1000 to µs,
# truncating exactly like DuckDB's TIMESTAMP_NS → TIMESTAMP coercion)
# and plain TIMESTAMP(MICROS) isAdjustedToUTC=false (read as
# TIMESTAMP_NTZ → cast; lossless under the UTC session timezone, and
# required because downstream epoch math casts ts to long, which Spark
# forbids on NTZ).
_NORMALIZE_TS_COLS = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver-generated table (TESTDATA.md) lazily.

    Session-independent: ``nanosAsLong`` is runtime-settable, so set it
    here rather than relying on how the session was built; the ts
    normalization dispatches on the type the scan actually produced.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in _NORMALIZE_TS_COLS.get(name, ()):
        dt = df.schema[col].dataType
        if isinstance(dt, T.LongType):
            df = df.withColumn(
                col, F.timestamp_micros(F.expr(f"`{col}` div 1000").cast("long"))
            )
        elif isinstance(dt, T.TimestampNTZType):
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str, tables=TPCH_TABLES) -> None:
    """Register each table as a temp view so SQL-form queries can run."""
    for t in tables:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
