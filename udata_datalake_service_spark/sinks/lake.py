"""The parquet lake: converted tables + registry (K1-K8 re-expressed).

Reference flow (analysis/csv.py:144,222-416): per converted resource,
DROP/CREATE a Postgres table named md5(url), COPY the cast rows in, record
the inspection in ``tables_index``, optionally export one parquet file to
MinIO (utils/parquet.py, utils/minio.py).

Spark-native: the lake IS the table store. ``df.write.parquet`` replaces
DDL+COPY (K1/K2) *and* the parquet export (K5/K6) in one partitioned,
streamed write; the registry is an append-only parquet table (K7); delete
= registry delete then path removal (K8). Secondary indexes (K4) have no
Spark equivalent — requested index columns become the write's
``sortWithinPartitions`` order so min/max page stats give scan-time skipping
(the Delta ZORDER analogue available with vanilla parquet).

On a real deployment this class fronts Delta/Iceberg; the public surface
(upsert/append/replace/registry) is format-agnostic by design.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from contextlib import contextmanager
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from udata_datalake_service_spark.schemas import TABLES_INDEX_SCHEMA
from udata_datalake_service_spark.sinks.store import PosixStore

_UNSET = object()


def _as_nullable(dt: DataType) -> DataType:
    """``dt`` with every field, element and value nullable: the schema a
    file-source read reports for data written as ``dt``."""
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
             for f in dt.fields]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


class ConcurrentWriteError(RuntimeError):
    """A CAS commit lost the race: the manifest moved between the caller's
    snapshot and its commit. Re-read the table and retry the write."""


class Lake:
    """Crash-safety model (the vanilla-parquet stand-in for a Delta/Iceberg
    commit log): every REPLACE-style write lands in a fresh ``v-*``
    directory under the logical table path, then the ``MANIFEST`` commit
    record is fsynced and atomically ``os.replace``d to point at it. A crash
    at ANY step leaves readers on the previous manifest — old-or-new, never
    a half-deleted directory (the old rmtree+rename swap had exactly that
    window). The previous version is retained one commit for in-flight
    readers; older versions are garbage-collected best-effort at the next
    commit. Appends add files inside the current version (Spark stages them
    under ``_temporary``, which readers ignore, so a torn append is
    invisible). ``drop_table`` deletes the registry row BEFORE the data so
    a crash in between leaves only an orphan directory — reclaimed by the
    orphan GC (J4/ST8) — not a registry row pointing at nothing.

    Concurrency model: manifest flips serialize under a per-table commit
    lock; parquet writes stage in GC-invisible ``_staging-*`` dirs and
    rename into place inside the lock; read-modify-writes can pass the
    `table_version` snapshot for compare-and-swap semantics (losers get
    `ConcurrentWriteError` and retry) — the optimistic-concurrency
    protocol Delta/Iceberg implement on their commit logs. The lock file
    is not fsynced: it only coordinates live processes, and a crash that
    empties it leaves an orphan the stale takeover breaks. The MANIFEST
    replace and the exactly-once and log commit markers stay fsynced.

    Write path: every parquet write goes through `_write_parquet`, which
    turns off Spark's ``_SUCCESS`` marker. The MANIFEST is the commit
    point and readers skip ``_`` names, so the marker was one more file
    per write (one more PUT on an object store), rewritten inside the
    committed version by every in-place append.

    Commit record: the MANIFEST is a small JSON record ``{"version",
    "schema", "partition_by"}``: the current version dir, the table's
    Spark schema as a file-source read reports it (every field nullable,
    partition columns last) and its partition columns. Every commit
    writes it from the frame its writer already holds, so every
    single-directory read (`read_app_table`, `read_table`, `registry`,
    compaction, exactly-once appends) is ``spark.read.schema(record)``
    over the version dir: no schema-inference job and no footer read,
    for a fresh `Lake` as for a warm one. Partition values read back as
    the written type, and an append must match every column's type,
    partition columns included. The data files are not recorded: the
    directory read lists them, and an explicit list of more than 32
    paths makes Spark run a parallel-listing job.

    A same-schema in-place append leaves the record alone. A widening
    append (``allow_schema_evolution`` with new columns) commits the
    widened record under the commit lock BEFORE it writes its files: a
    read in between sees the new columns as NULL on old rows, and never
    a new row without its new columns. If the write raises, the append
    puts the previous record back, if the record is still the one it
    wrote. A record is only ever widened in place, never narrowed.

    A table with no record (a plain dir with no MANIFEST, or a one-line
    MANIFEST from an older lake) has its schema inferred with
    ``mergeSchema`` and its layout read from its ``col=value`` dirs, on
    every use (`_table_schema`)."""

    def __init__(self, spark: SparkSession, root: str, store=None):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        # storage-semantics backend (sinks/store.py): PosixStore by
        # default; S3SemanticsStore exercises the protocol against
        # object-store rename/visibility semantics (tests/test_lake.py)
        self.store = store if store is not None else PosixStore()

    # ------------------------------------------------- versioned commits ----
    @staticmethod
    def _new_version() -> str:
        ts = datetime.now(timezone.utc).strftime("%Y%m%d%H%M%S%f")
        return f"v-{ts}-{uuid.uuid4().hex[:8]}"

    def _record(self, base: Path) -> dict:
        """The MANIFEST commit record, read THROUGH the store backend —
        on PosixStore this is a local file read; on S3ObjectStore it is a
        real object GET, so the whole control plane (locks + manifest)
        round-trips the object store. A one-line MANIFEST from an older
        lake reads as ``{"version": <line>}``; no MANIFEST as ``{}``."""
        try:
            text = self.store.read_text(base / "MANIFEST").strip()
        except OSError:
            return {}
        return json.loads(text) if text.startswith("{") else {"version": text}

    def _put_record(self, base: Path, record: dict) -> None:
        """Replace the MANIFEST with ``record``: one atomic object PUT
        (POSIX: fsync + rename + dir fsync)."""
        self.store.put_text(base / "MANIFEST", json.dumps(record))
        self.store.sync_dir(base)

    def _manifest_version(self, base: Path) -> str | None:
        return self._record(base).get("version")

    def _version_dir(self, base: Path, record: dict) -> Path | None:
        """The data directory ``record`` names: its version dir, or the
        base itself for legacy/plain layouts (pre-versioning data,
        externally-written dirs)."""
        if not record:
            return base if base.exists() else None
        p = base / record["version"]
        # data-dir existence goes THROUGH the backend: on S3ObjectStore a
        # committed version is a bucket prefix with no local footprint
        # until a read materializes it
        return p if self.store.data_dir_exists(p) else None

    def _current_dir(self, base: Path) -> Path | None:
        """Resolve a logical table path to its current data directory."""
        return self._version_dir(base, self._record(base))

    def _snapshot(self, base: Path) -> tuple[dict, Path | None]:
        """The commit record and its data dir from ONE MANIFEST read (two
        reads would let a commit in between pair one version's record
        with another's files), the dir materialized: backends holding
        data server-side fetch the version prefix into the local cache."""
        record = self._record(base)
        cur = self._version_dir(base, record)
        return record, None if cur is None else self.store.materialize_dir(cur)

    @staticmethod
    def _layout(schema: StructType, partition_by: list[str] | None) -> dict:
        """The schema half of a commit record for a frame of ``schema``
        written with ``partition_by``: the schema a file-source read
        reports for it (every field nullable, partition columns last)
        and the partition columns."""
        pcols = list(partition_by or [])
        fields = [f for f in schema.fields if f.name not in pcols]
        fields += [schema[c] for c in pcols]
        return {
            "schema": _as_nullable(StructType(fields)).jsonValue(),
            "partition_by": pcols,
        }

    def _table_schema(
        self, record: dict, cur: Path | None
    ) -> tuple[StructType | None, list[str]]:
        """(schema, partition columns) of a table: its record's, or, for
        a table with no record, inferred from the files in ``cur`` (a
        ``mergeSchema`` read and the ``col=value`` dir chain). (None, [])
        for a table with neither a record nor a data file."""
        if "schema" in record:
            return StructType.fromJson(record["schema"]), record["partition_by"]
        if not self._has_data(cur):
            return None, []
        inferred = self.spark.read.option("mergeSchema", "true").parquet(str(cur))
        return inferred.schema, self._detect_partition_cols(cur)

    @staticmethod
    def _has_data(cur: Path | None) -> bool:
        """Whether ``cur`` holds a data file or partition dir (``_``/``.``
        names are skipped, as Spark's file listing skips them)."""
        return cur is not None and any(
            not f.name.startswith(("_", ".")) for f in cur.iterdir()
        )

    def _scan(self, cur: Path | None, schema: StructType) -> DataFrame:
        """The rows of ``cur`` read as ``schema``: no inference job, and
        an empty frame for a table with no data file (an empty
        partitioned write leaves none)."""
        if not self._has_data(cur):
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(str(cur))

    @contextmanager
    def _commit_lock(self, base: Path, timeout: float = 30.0, stale_after: float = 120.0):
        """Serialize manifest flips per table with an exclusive-create
        lock file (POSIX: a hard link, which fails if the name exists;
        object store: conditional PUT If-None-Match —
        ``store.try_create_lock`` either way). The lock is not fsynced: it
        only coordinates live processes, and a crash that loses its
        content leaves an empty lock, which the stale takeover breaks
        like any orphan.

        Readers never take it (they see old-or-new via the manifest);
        writers hold it only across the CAS check + rename + manifest
        replace + GC — milliseconds, never across the parquet write. A
        crashed holder's lock is taken over once it is ``stale_after``
        seconds old (commits are short; a lock that old is an orphan)."""
        st = self.store
        lock = base / "_COMMIT_LOCK"
        token = uuid.uuid4().hex
        deadline = time.monotonic() + timeout
        while True:
            if st.try_create_lock(lock, token.encode()):
                break
            if time.monotonic() > deadline:
                raise TimeoutError(f"commit lock busy: {lock}")
            try:
                mt = st.mtime(lock)
                stale = time.time() - mt > stale_after
                stale_token = st.read_text(lock) if stale else ""
            except OSError:
                # holder released between exists and stat — retry,
                # with a sleep so a persistent stat failure (EACCES)
                # can't busy-spin, and bounded by the deadline above
                time.sleep(0.02)
                continue
            if stale:
                # single-winner takeover: move the orphan aside, then
                # verify ownership on the CLAIM WE NOW OWN by TOKEN
                # EQUALITY ALONE. Staleness was decided from the stat
                # captured BEFORE the rename; the claim's mtime is
                # useless — on an object store (and S3SemanticsStore)
                # the move is copy+delete, which stamps a fresh
                # Last-Modified, so re-checking age on the claim would
                # make every takeover look live and re-freshen the
                # orphan forever (ADVICE r7). Tokens are uuid4-unique
                # per acquisition, so claim_token == stale_token proves
                # the claim is the same lock instance we judged stale;
                # any holder that released-and-reacquired in the window
                # carries a different token and gets its lock back.
                claim = base / f"_COMMIT_LOCK.stale-{uuid.uuid4().hex[:8]}"
                try:
                    st.rename(lock, claim)
                except (FileNotFoundError, OSError):
                    time.sleep(0.02)
                    continue
                # an empty token is an orphan too: a live lock is never
                # seen empty (try_create_lock), a crashed one can be
                try:
                    claim_token = st.read_text(claim)
                except OSError:
                    claim_token = None
                if claim_token == stale_token:
                    st.delete(claim)  # orphan broken
                    continue
                # we stole a LIVE lock: give it back (copy-if-absent),
                # waiting out any third claimant that grabbed the
                # vacant name — loud timeout beats silent loss of
                # mutual exclusion
                while True:
                    try:
                        st.relink(claim, lock)
                        break
                    except FileExistsError:
                        if time.monotonic() > deadline:
                            st.delete(claim)
                            raise TimeoutError(
                                f"commit lock giveback contended: {lock}"
                            )
                        time.sleep(0.02)
                    except OSError:
                        break
                st.delete(claim)
                continue
            time.sleep(0.02)
        try:
            yield
        finally:
            try:
                # release only if still ours — if a (mis-tuned) stale
                # takeover stole the lock mid-commit, don't cascade the
                # loss by deleting the thief's lock too
                if st.read_text(lock) == token:
                    st.delete(lock)
            except OSError:
                pass

    def _commit_version(
        self,
        base: Path,
        ver: str,
        expect: object = _UNSET,
        staging: Path | None = None,
        *,
        layout: dict,
    ) -> None:
        """Atomically repoint MANIFEST at ``ver``, recording ``layout``
        (`_layout`) as its schema; keep the immediately previous version
        for in-flight readers, GC anything older.

        Optimistic concurrency: when ``expect`` is given (a version string
        or None for "table did not exist"), the flip only happens if the
        manifest STILL points there — otherwise the staged version is
        discarded and `ConcurrentWriteError` says a concurrent writer won
        (the caller re-reads and retries; lost updates become loud
        instead of silent). ``staging`` is the written-but-invisible
        ``_staging-*`` dir to rename into place under the lock — staged
        dirs are never eligible for GC, so a slow writer's data can't be
        reclaimed by a faster committer."""
        with self._commit_lock(base):
            self._commit_version_locked(
                base, ver, expect=expect, staging=staging, layout=layout
            )

    def _commit_version_locked(
        self,
        base: Path,
        ver: str,
        expect: object = _UNSET,
        staging: Path | None = None,
        *,
        layout: dict,
    ) -> None:
        """`_commit_version` body for callers ALREADY holding the commit
        lock (the O_EXCL lock is non-reentrant) — lets a caller serialize
        a read-modify-write or an in-place append against the flip in one
        critical section (see `register` / `_delete_registry_rows`)."""
        prev = self._manifest_version(base)
        if expect is not _UNSET and prev != expect:
            if staging is not None:
                self.store.delete_dir(staging)
            raise ConcurrentWriteError(
                f"{base}: expected version {expect!r}, found {prev!r}"
            )
        if staging is not None:
            # POSIX: atomic directory rename. Object store: per-object
            # copy + delete — NON-atomic, but invisible either way: the
            # destination v-* dir is not in any MANIFEST until the PUT
            # below, and a crash mid-copy leaves readers on `prev` with
            # the partial dir reclaimed by vacuum/next-commit GC.
            self.store.publish_dir(staging, base / ver)
        self._put_record(base, {"version": ver, **layout})
        for name in self.store.list_subdirs(base):
            if name.startswith("v-") and name not in (ver, prev):
                self.store.delete_dir(base / name)

    def vacuum(self, staging_grace_s: float = 3600.0) -> list[str]:
        """Reclaim version dirs no MANIFEST points at — crash leftovers
        (a fully-written but uncommitted version) and previous versions of
        tables that were never rewritten again. Normal commits already GC
        older versions; this sweeps tables the write path won't revisit.
        ``_staging-*`` dirs are removed only once older than
        ``staging_grace_s`` — a fresh one may be an IN-FLIGHT writer's
        parquet write (the slow phase runs outside the commit lock), and
        reclaiming it would break that writer's rename-into-place.
        Returns the removed paths (ST7-style maintenance verb)."""
        removed: list[str] = []
        # discovery goes through the backend: a table whose committed
        # bytes live only server-side has no local v-* dir to rglob
        bases = self.store.discover_bases(self.root)
        for base in bases:
            # deletions run under the base's commit lock with MANIFEST
            # re-read inside it: an unlocked sweep could read a stale
            # current, then rmtree a version a concurrent writer commits
            # in between — permanent data loss. A busy table just waits
            # for the next vacuum.
            try:
                lock_ctx = self._commit_lock(base, timeout=5.0)
                lock_ctx.__enter__()
            except (TimeoutError, OSError):
                continue
            try:
                current = self._manifest_version(base)
                # crashed takeover leftovers next to MANIFEST — control
                # objects, so enumerated THROUGH the store (on an object
                # store they are keys, not local files)
                for claim, mt in self.store.claim_leftovers(base):
                    if time.time() - mt > staging_grace_s:
                        self.store.delete(claim)
                        removed.append(str(claim))
                for name in self.store.list_subdirs(base):
                    d = base / name
                    try:
                        # staging dirs are always written locally (Spark
                        # scratch), so their in-flight grace check stats
                        # the local dir; committed v-* dirs may be
                        # bucket-only and carry no local mtime
                        stale_staging = name.startswith("_staging-") and (
                            time.time() - d.stat().st_mtime > staging_grace_s
                        )
                    except OSError:
                        continue  # renamed into place / released concurrently
                    if stale_staging or (
                        name.startswith("v-") and name != current
                    ):
                        self.store.delete_dir(d)
                        removed.append(str(d))
            finally:
                lock_ctx.__exit__(None, None, None)
        return removed

    def _replace_write(
        self,
        df: DataFrame,
        base: Path,
        partition_by: list[str] | None = None,
        expect: object = _UNSET,
        ledger: list[str] | None = None,
    ) -> None:
        """Replace-write ``df`` as a new committed version of ``base``.
        The input may read from the table's current version — it is never
        touched until the manifest flips. The parquet write lands in an
        invisible ``_staging-*`` dir (GC-proof under concurrent commits)
        and renames into place inside the commit lock; pass ``expect``
        (from `table_version`) for optimistic-concurrency semantics.
        ``ledger`` (a committed-batch-id list) is written into the new
        version as ``_batches.json`` so the exactly-once append protocol
        survives a rewrite that preserves the appended data (compaction).
        Returns the number of data files committed."""
        ver = self._new_version()
        staging = base / f"_staging-{ver}"
        self._write_parquet(df, staging, "overwrite", partition_by)
        n_files = len(self._data_files(staging))
        if ledger is not None:
            lf = staging / "_batches.json"
            lf.write_text(json.dumps(ledger))
            fd = os.open(lf, os.O_RDONLY)
            try:
                os.fsync(fd)
            finally:
                os.close(fd)
        self._commit_version(
            base, ver, expect=expect, staging=staging,
            layout=self._layout(df.schema, partition_by),
        )
        return n_files

    @staticmethod
    def _write_parquet(
        df: DataFrame, path: Path, mode: str, partition_by: list[str] | None = None
    ) -> None:
        """Every lake parquet write. Spark's ``_SUCCESS`` marker is not
        written: the MANIFEST is the commit point and readers skip ``_``
        names, so the marker was one more file per write (an extra PUT on
        an object store) that an in-place append rewrote inside the
        committed version."""
        w = df.write.mode(mode).option(
            "mapreduce.fileoutputcommitter.marksuccessfuljobs", "false"
        )
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(str(path))

    def table_version(self, name: str, app: bool = False) -> str | None:
        """The manifest's current version string (None = no versioned
        manifest yet) — the snapshot token for CAS rewrites."""
        base = Path(self.app_table_path(name) if app else self.table_path(name))
        return self._manifest_version(base)

    @staticmethod
    def _detect_partition_cols(cur: Path) -> list[str]:
        """Partition columns of an on-disk dir, from its ``col=value``
        subdirectory chain: the layout of a table with no commit record."""
        cols: list[str] = []
        d = cur
        while True:
            subs = [
                x
                for x in d.iterdir()
                if x.is_dir() and "=" in x.name and not x.name.startswith(("_", "."))
            ]
            if not subs:
                return cols
            cols.append(subs[0].name.split("=", 1)[0])
            d = subs[0]

    def _read_dir(self, base: Path, schema: StructType | None = None) -> DataFrame:
        """The table's current rows, read as its recorded schema (or
        ``schema`` for a table with neither a record nor data)."""
        record, cur = self._snapshot(base)
        recorded, _ = self._table_schema(record, cur)
        if recorded is not None:
            schema = recorded
        if schema is None:
            raise FileNotFoundError(f"lake table has no data: {base}")
        return self._scan(cur, schema)

    @staticmethod
    def _data_files(cur: Path) -> list[tuple[str, int]]:
        """(path, size) of every data file under ``cur``, skipping
        ``_``/``.`` names as Spark's file listing does. An entry that
        vanishes mid-walk is left out."""
        out, todo = [], [os.path.abspath(cur)]
        while todo:
            try:
                with os.scandir(todo.pop()) as it:
                    for e in it:
                        if e.name.startswith(("_", ".")):
                            continue
                        if e.is_dir():
                            todo.append(e.path)
                        else:
                            out.append((e.path, e.stat().st_size))
            except FileNotFoundError:
                continue
        return out

    # ---------------------------------------------------------- tables ----
    def table_path(self, name: str) -> str:
        return str(self.root / "tables" / name)

    def write_table(
        self,
        df: DataFrame,
        name: str,
        index_columns: list[str] | None = None,
        min_lines_for_parquet: int = 0,
        expected_rows: int | None = None,
    ) -> int:
        """K1+K2+K5 — replace-write a converted table.

        ``index_columns`` → sortWithinPartitions before write so parquet
        row-group stats cluster on them (K4's replacement). Returns rowcount
        (the reference's MIN_LINES_FOR_PARQUET floor is honored by callers
        passing it here). ``expected_rows`` lets a caller that already knows
        the count (the inspection's ``total_lines``) skip the extra
        materializing pass — the reference likewise gates parquet export on
        the inspection's line count, not a recount (analysis/csv.py:295-303)."""
        n = expected_rows if expected_rows is not None else df.count()
        if n < min_lines_for_parquet:
            return n
        out = df
        # small tables → one file: 32 near-empty part files cost more to
        # open than to scan, and the index sort becomes a global sort so
        # row-group stats actually bound the key range. Large tables keep
        # their partitioning (the 100 TB path never hits this branch).
        if n <= 1_000_000:
            out = out.coalesce(1)
        if index_columns:
            out = out.sortWithinPartitions(*index_columns)
        self._replace_write(out, Path(self.table_path(name)))
        return n

    def read_table(self, name: str) -> DataFrame:
        return self._read_dir(Path(self.table_path(name)))

    def write_bucketed_table(
        self,
        df: DataFrame,
        name: str,
        bucket_cols: list[str],
        num_buckets: int = 16,
    ) -> str:
        """Bucketed catalog table for co-located joins on hot join keys.

        ``bucketBy`` pre-shuffles ONCE at write time: two tables bucketed
        the same way join with NO Exchange on either side (asserted by the
        physical-plan tests) — at 100 TB that turns every recurring
        join/groupBy on the bucket key into a map-side operation. This is
        the Spark-native replacement for the reference's secondary B-tree
        indexes on join columns (K4, migrations/main/20240926_add_indexes).
        Returns the catalog table name (``saveAsTable`` is required —
        bucket metadata lives in the session catalog, not the files).
        """
        table = f"lake_{name}"
        # bucketed tables live OUTSIDE the versioned MANIFEST protocol —
        # the Spark catalog owns their layout, and saveAsTable overwrites
        # the base path in place (a crash mid-write has the torn-state
        # window the versioned tables eliminated; production bucketing
        # belongs to Delta/Iceberg). Refuse to destroy an existing
        # versioned table's commit log rather than silently clobber it.
        if self.store.exists(Path(self.table_path(name)) / "MANIFEST"):
            raise ValueError(
                f"{name!r} is a versioned lake table; write the bucketed "
                "copy under a different name instead of overwriting its "
                "commit log"
            )
        (
            df.write.mode("overwrite")
            .format("parquet")
            .option("path", self.table_path(name))
            .bucketBy(num_buckets, *bucket_cols)
            .sortBy(*bucket_cols)
            .saveAsTable(table)
        )
        return table

    # ----------------------------------------------------- time travel ----
    def table_history(self, name: str) -> list[dict]:
        """Version history, oldest first: [{version, is_current}]. The
        commit policy retains exactly one version behind the manifest (plus
        any not-yet-GC'd crash leftovers), so history depth is 1 — the
        vanilla-parquet analogue of Delta's ``DESCRIBE HISTORY`` with a
        short ``delta.logRetentionDuration``. Version names embed a UTC
        timestamp, so lexicographic order is commit order."""
        base = Path(self.table_path(name))
        current = self._manifest_version(base)
        out = []
        for name_ in sorted(self.store.list_subdirs(base)):
            if name_.startswith("v-"):
                out.append({"version": name_, "is_current": name_ == current})
        return out

    def read_table_at(self, name: str, version: str) -> DataFrame:
        """Read a specific retained version (``VERSION AS OF``). Raises
        FileNotFoundError for GC'd/unknown versions."""
        p = Path(self.table_path(name)) / version
        if not self.store.data_dir_exists(p):
            raise FileNotFoundError(
                f"version {version!r} of {name!r} is not retained "
                f"(history: {[h['version'] for h in self.table_history(name)]})"
            )
        return self.spark.read.parquet(str(self.store.materialize_dir(p)))

    def read_table_previous(self, name: str) -> DataFrame:
        """The version the last replace-write superseded."""
        hist = self.table_history(name)
        prior = [h["version"] for h in hist if not h["is_current"]]
        if not prior:
            raise FileNotFoundError(f"no previous version of {name!r} retained")
        return self.read_table_at(name, prior[-1])

    def version_diff(self, name: str) -> DataFrame:
        """Row-level delta current-vs-previous: full rows tagged
        ``__change`` ∈ {added, removed} via exceptAll both ways (multiset
        semantics — duplicate-row count changes surface too). One shuffle
        per direction on the full row; at scale, pass a key-ordered subset
        of columns through ``select`` first if rows are wide."""
        cur = self.read_table(name)
        prev = self.read_table_previous(name)
        added = cur.exceptAll(prev).withColumn("__change", F.lit("added"))
        removed = prev.exceptAll(cur).withColumn("__change", F.lit("removed"))
        return added.unionByName(removed)

    def drop_table(self, name: str) -> None:
        """K8 — drop table + registry row. Registry first: a crash in
        between leaves an orphan data dir (reclaimed by the orphan GC),
        never a registry row pointing at deleted data."""
        self._delete_registry_rows(name)
        p = Path(self.table_path(name))
        # existence through the backend: a fresh process has no local
        # footprint for a bucket-resident table, and a local-only check
        # would strand its keys (and MANIFEST) forever
        if p.exists() or self.store.data_dir_exists(p):
            self.store.delete_dir(p)

    # -------------------------------------------------------- registry ----
    @property
    def registry_path(self) -> str:
        return str(self.root / "tables_index")

    def registry(self) -> DataFrame:
        return self._read_dir(Path(self.registry_path), schema=TABLES_INDEX_SCHEMA)

    @staticmethod
    def _registry_arrow_schema():
        import pyarrow as pa

        # mirrors TABLES_INDEX_SCHEMA; timestamps µs/UTC so Spark reads
        # TimestampType (isAdjustedToUTC=true), identical under the
        # session's pinned UTC zone
        return pa.schema(
            [
                ("parsing_table", pa.string()),
                ("csv_detective", pa.string()),
                ("resource_id", pa.string()),
                ("url", pa.string()),
                ("created_at", pa.timestamp("us", tz="UTC")),
                ("indexes", pa.string()),
            ]
        )

    def register(
        self,
        parsing_table: str,
        inspection: dict,
        resource_id: str,
        url: str,
        indexes: dict | None = None,
    ) -> None:
        """K7 — append one registry row (analysis/csv.py:398-408).

        The registry is a bounded METADATA catalog (one row per converted
        table; the reference keeps it in Postgres), so the row is written
        driver-side with pyarrow — microseconds instead of a full Spark
        job per registration. Appends stay atomic: the file lands under a
        ``_tmp-*`` name (readers skip the ``_`` prefix) and renames into
        visibility; first-ever write stages a version dir and commits the
        manifest pointer like any other table."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pa.table(
            {
                "parsing_table": [parsing_table],
                "csv_detective": [json.dumps(inspection, default=str)],
                "resource_id": [resource_id],
                "url": [url],
                "created_at": [datetime.now(timezone.utc)],
                "indexes": [json.dumps(indexes or {})],
            },
            schema=self._registry_arrow_schema(),
        )
        base = Path(self.registry_path)
        base.mkdir(parents=True, exist_ok=True)
        fname = f"part-{uuid.uuid4().hex}.parquet"
        # the whole resolve→write runs under the commit lock: a concurrent
        # first-register can't be discarded by a racing flip, and an append
        # can't land in a version dir a concurrent drop-rewrite is about to
        # supersede (the drop holds the same lock across its read+flip —
        # the transaction Postgres gave the reference for free)
        with self._commit_lock(base):
            _, cur = self._snapshot(base)
            # first write ⇔ no data files yet: the mkdir above makes the
            # bare base dir "exist", so `cur is None` alone would misread
            # a fresh registry as a legacy-plain table and skip the
            # versioned-manifest branch (leaving table_version None and
            # stranding plain part files under later flips)
            if not self._has_data(cur):
                ver = self._new_version()
                staging = base / f"_staging-{ver}"
                staging.mkdir(parents=True, exist_ok=True)
                pq.write_table(table, staging / fname)
                self._commit_version_locked(
                    base, ver, staging=staging,
                    layout=self._layout(TABLES_INDEX_SCHEMA, None),
                )
                return
            tmp = cur / f"_tmp-{fname}"
            pq.write_table(table, tmp)
            # durability before visibility: a crash can't leave a visible
            # half-written part file that bricks every later registry
            # read (POSIX: fsync+rename+dirsync; object store: one
            # atomic object PUT)
            self.store.publish_file(tmp, cur / fname)

    def _delete_registry_rows(self, parsing_table: str) -> None:
        """Rewrite-style delete, driver-side: the registry is catalog
        metadata, so read→filter→stage→CAS-flip runs in pyarrow under the
        same commit protocol (staged version dir + manifest flip) without
        spinning up Spark jobs."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        base = Path(self.registry_path)
        base.mkdir(parents=True, exist_ok=True)
        schema = self._registry_arrow_schema()
        # read + rewrite + flip in ONE critical section: an append landing
        # between an unlocked read and the flip would be silently dropped
        # from `remaining` (the lost-append race `register` guards the
        # other side of)
        with self._commit_lock(base):
            _, cur = self._snapshot(base)
            if not self._has_data(cur):
                remaining = schema.empty_table()
            else:
                reg = pq.read_table(cur)  # ignores _/.-prefixed files
                remaining = reg.filter(
                    pc.not_equal(pc.field("parsing_table"), parsing_table)
                )
            ver = self._new_version()
            staging = base / f"_staging-{ver}"
            staging.mkdir(parents=True, exist_ok=True)
            pq.write_table(
                remaining.cast(schema), staging / f"part-{uuid.uuid4().hex}.parquet"
            )
            self._commit_version_locked(
                base, ver, staging=staging,
                layout=self._layout(TABLES_INDEX_SCHEMA, None),
            )

    @staticmethod
    def _check_append_schema(
        df: DataFrame, schema: StructType, allow_schema_evolution: bool
    ) -> list[StructField]:
        """Appends must not lose columns silently: the table reads as its
        recorded ``schema``, so an appended extra column would simply
        vanish (and a missing one would poison reads). Default: the
        incoming frame must carry exactly the table's column set with
        identical types, partition columns included — loud ValueError
        otherwise. With ``allow_schema_evolution`` the Delta/Iceberg
        widening rules apply: NEW columns may be added and existing ones
        omitted (they read as NULL); a same-name TYPE conflict is always
        an error. Returns the added columns' fields."""
        existing = {f.name: f.dataType for f in schema}
        incoming = {f.name: _as_nullable(f.dataType) for f in df.schema}
        conflicts = {
            n: (str(existing[n]), str(incoming[n]))
            for n in incoming.keys() & existing.keys()
            if existing[n] != incoming[n]
        }
        if conflicts:
            raise ValueError(
                f"append schema type conflict (never allowed): {conflicts}"
            )
        added = incoming.keys() - existing.keys()
        missing = existing.keys() - incoming.keys()
        if (added or missing) and not allow_schema_evolution:
            raise ValueError(
                "append schema drift: "
                f"added={sorted(added)} missing={sorted(missing)} — pass "
                "allow_schema_evolution=True to widen the table (new "
                "columns added, omitted ones read as NULL), or align the "
                "frame. Without the flag this would have silently "
                "dropped/corrupted columns at read time."
            )
        return [f for f in df.schema.fields if f.name in added]

    def _append_write(
        self,
        df: DataFrame,
        base: Path,
        partition_by: list[str] | None = None,
        allow_schema_evolution: bool = False,
    ) -> None:
        record, cur = self._snapshot(base)
        schema, pcols = self._table_schema(record, cur)
        if schema is None:
            # first write: land in a version dir, commit the record
            self._replace_write(df, base, partition_by=partition_by)
            return
        # files partitioned differently from the table's layout would not
        # read back: Spark's discovery sees only one layout's files
        if list(partition_by or []) != pcols:
            raise ValueError(
                f"append partition_by={partition_by!r} disagrees with the "
                f"table's partition layout {pcols!r}: {base}"
            )
        added = self._check_append_schema(df, schema, allow_schema_evolution)
        if cur is None:
            # a recorded empty table on a bucket store: its version
            # prefix holds no object yet
            cur = base / record["version"]
        # versioned or legacy-plain: add files in place — Spark stages the
        # new files under _temporary, so a torn append is never visible
        # LOCALLY; on a remote data plane the per-object upload below has
        # the direct-write-committer partial-visibility window (use the
        # exactly-once staged path for append-heavy object-store tables)
        if getattr(self.store, "partial_append_visible", False):
            import warnings

            warnings.warn(
                "in-place append on an object-store backend uploads part "
                "files with per-object PUTs into an already-committed "
                "prefix: a concurrent reader listing mid-upload sees a "
                "partial append, and the immutable-prefix read cache is "
                "invalidated. Use append_app_table_exactly_once (staged "
                "publish + manifest flip) for object-store appends.",
                RuntimeWarning,
                stacklevel=3,
            )
        widened = None
        if added and record:
            # widen the record BEFORE the files land (see the class
            # docstring); a record that moved since the snapshot belongs
            # to another commit, so this append must not overwrite it
            widened = {
                **record,
                **self._layout(StructType(schema.fields + added), pcols),
            }
            if not self._swap_record(base, record, widened):
                raise ConcurrentWriteError(
                    f"{base}: the commit record changed during a widening "
                    "append; re-read the table and retry"
                )
        try:
            self._write_parquet(df, cur, "append", partition_by)
            self.store.upload_dir_delta(cur)
        except BaseException:
            if widened is not None:
                self._swap_record(base, widened, record)
            raise

    def _swap_record(self, base: Path, old: dict, new: dict) -> bool:
        """Replace the commit record ``old`` with ``new`` under the commit
        lock; False, with nothing written, when the MANIFEST no longer
        holds ``old``."""
        with self._commit_lock(base):
            if self._record(base) != old:
                return False
            self._put_record(base, new)
            return True

    # ------------------------------------------------------- app tables ----
    def app_table_path(self, name: str) -> str:
        return str(self.root / name)

    def write_app_table(
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        """catalog / checks / exceptions storage. ``checks`` callers pass
        partition_by=['check_date'] so retention is partition drops and
        per-date aggregates prune (SURVEY §1.5)."""
        self._replace_write(
            df, Path(self.app_table_path(name)), partition_by=partition_by
        )

    def append_app_table(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        allow_schema_evolution: bool = False,
    ) -> None:
        self._append_write(
            df,
            Path(self.app_table_path(name)),
            partition_by=partition_by,
            allow_schema_evolution=allow_schema_evolution,
        )

    def read_app_table(self, name: str) -> DataFrame:
        return self._read_dir(Path(self.app_table_path(name)))

    def rewrite_app_table(
        self,
        df: DataFrame,
        name: str,
        expected_version: object = _UNSET,
        carry_exactly_once_ledger: bool = False,
    ) -> None:
        """Read-modify-write of an app table. ``df`` may (and usually does)
        read from the table's current version; that version is untouched
        while the new one is written, then the MANIFEST pointer flips
        atomically — readers see old-or-new, never a half-swapped dir. The
        new version keeps the current one's partition layout.

        Concurrent read-modify-writers silently clobber each other (last
        manifest flip wins); pass ``expected_version`` (the
        `table_version(name, app=True)` snapshot taken before reading) to
        turn that lost update into a `ConcurrentWriteError` to retry.

        Known hazard (documented, not closed): a concurrent IN-PLACE
        append (`append_app_table`) landing between this rewrite's read
        and its flip is absent from the rewritten table, and CAS can't
        see it because appends don't bump the manifest version. The
        registry closes the same race by serializing its (tiny, fast)
        mutations under the commit lock; app-table appends are
        Spark-sized writes that can't reasonably hold it. Run appenders
        and rewriters of one table single-writer (the reference's daemon
        does), or front the lake with Delta/Iceberg, whose commit log
        versions appends too.

        ``carry_exactly_once_ledger=True`` copies the current version's
        ``_batches.json`` (the `append_app_table_exactly_once` committed-
        batch ledger) into the rewritten version. A rewrite that PRESERVES
        the appended data (compaction, re-clustering) must carry it —
        dropping the ledger would let a crash-replayed producer re-commit
        an epoch whose rows survived the rewrite, double-counting it. The
        ledger is read from the ``expected_version`` snapshot, so the CAS
        guarantees ledger and data were read from the same version."""
        base = Path(self.app_table_path(name))
        # as compaction and exactly-once appends do: a flattened rewrite
        # would leave the next partitioned append's files unread
        record, cur = self._snapshot(base)
        _, pcols = self._table_schema(record, cur)
        ledger: list[str] | None = None
        if carry_exactly_once_ledger:
            if expected_version is not _UNSET:
                snap = {"version": expected_version} if expected_version else {}
                cur = self._version_dir(base, snap)
                if cur is not None:
                    cur = self.store.materialize_dir(cur)
            ledger = []
            if cur is not None and (cur / "_batches.json").exists():
                ledger = json.loads((cur / "_batches.json").read_text())
        self._replace_write(
            df, base, partition_by=pcols or None, expect=expected_version, ledger=ledger
        )

    # --------------------------------------------------- training shards ----
    def write_training_shards(
        self,
        df: DataFrame,
        name: str,
        n_shards: int,
        key_cols: list[str],
        seed: str = "shards0",
    ) -> DataFrame:
        """Export a curated corpus as ``n_shards`` deterministic shards with
        an audit manifest — the hand-off format a training loader consumes.

        Shard = md5-hash bucket of (seed, key): a pure row function, so a
        re-export after appends puts every old row in the SAME shard
        (loaders can resume / diff shards), unlike round-robin or
        rand-partitioned writes. The write is ONE partitioned commit under
        the crash-safe manifest pointer; the shard manifest is computed
        from the same frame and stored next to the data as table
        ``<name>__manifest`` with per-shard row counts and an
        order-independent content checksum (sum of each row's first-32-bit
        md5 over the key — verifiable shard-by-shard by any engine).

        Scale shape: one narrow projection + partitioned write (the shuffle
        is the partitionBy spill sort), one groupBy(shard) for the
        manifest. Returns the manifest frame.
        """
        if n_shards <= 0:
            raise ValueError("n_shards must be positive")
        key = F.concat_ws(
            "|", F.lit(seed), *[F.col(c).cast("string") for c in key_cols]
        )
        h = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
        sharded = df.withColumn("shard", F.pmod(h, F.lit(n_shards)))
        self._replace_write(
            sharded, Path(self.app_table_path(name)), partition_by=["shard"]
        )
        # audit from the COMMITTED files, not the input lineage: a
        # re-evaluation of `df` could describe rows that were never
        # written (non-deterministic upstream, source changed between the
        # two jobs) — the manifest must certify what is on disk
        committed = self.read_app_table(name)
        h2 = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|",
                            F.lit(seed),
                            *[F.col(c).cast("string") for c in key_cols],
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
        )
        manifest = (
            committed.groupBy(F.col("shard").cast("long").alias("shard"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(h2).alias("content_checksum"),
            )
            .orderBy("shard")
        )
        self._replace_write(manifest, Path(self.app_table_path(f"{name}__manifest")))
        return self.read_app_table(f"{name}__manifest")

    # --------------------------------------------------------- compaction ----
    def compact_table(
        self, name: str, target_bytes: int = 128 * 1024 * 1024, app_table: bool = False
    ) -> dict:
        """Compact a table's current version into ~``target_bytes`` files —
        the small-files maintenance verb (the OPTIMIZE analogue for the
        vanilla-parquet lake). An append-heavy table accumulates one file
        per micro-batch; scans then pay an open/footer cost per tiny file
        that dwarfs the read at 100 TB.

        Reads the current committed version, coalesces to
        ceil(bytes/target) output files, and commits as a NEW version
        behind the same crash-safe MANIFEST flip — readers see the
        pre-compaction or post-compaction version, never a mix, and time
        travel keeps the pre-compaction version until vacuum. Row data is
        byte-identical (coalesce moves whole partitions; no shuffle, no
        re-sort — sortWithinPartitions clustering from the original write
        survives inside each surviving partition).

        Returns {files_before, files_after, bytes}.
        """
        base = Path(self.app_table_path(name) if app_table else self.table_path(name))
        record, cur = self._snapshot(base)
        if cur is None:
            raise FileNotFoundError(f"no committed version to compact: {base}")
        data_files = self._data_files(cur)
        total = sum(size for _, size in data_files)
        n_out = max(1, -(-total // int(target_bytes)))
        # preserve the physical partition layout (check_date/shard dirs):
        # a bare rewrite would flatten it, breaking partition-drop
        # retention and pruning. The recorded schema carries a widening
        # append's columns, so the rewrite keeps their data.
        schema, pcols = self._table_schema(record, cur)
        df = self._scan(cur, schema)
        # carry the exactly-once ledger: compaction preserves the data, so
        # committed epoch ids must stay committed (replays keep no-opping)
        ledger = None
        if (cur / "_batches.json").exists():
            ledger = json.loads((cur / "_batches.json").read_text())
        # CAS on the manifest read above: a rewrite committed while the
        # compaction was reading raises ConcurrentWriteError instead of
        # being clobbered (in-place appends remain invisible to the CAS —
        # the documented rewrite_app_table hazard)
        # coalesce bounds the write tasks, not the files: each task
        # writes one file per partition dir it holds rows for
        files_after = self._replace_write(
            df.coalesce(int(n_out)), base, partition_by=pcols or None,
            expect=record.get("version"), ledger=ledger,
        )
        return {
            "files_before": len(data_files),
            "files_after": files_after,
            "bytes": int(total),
        }

    # ------------------------------------------------ idempotent appends ----
    def append_app_table_exactly_once(self, df: DataFrame, name: str, batch_id: str) -> bool:
        """Exactly-once append for retrying producers: an append tagged
        with a ``batch_id`` commits at most once, no matter how many times
        the caller retries after crashes or lost acks (the failure mode
        plain ``append_app_table`` double-writes on).

        The committed-batch ledger (``_batches.json``) lives INSIDE each
        version dir, so ledger and data flip together under the one atomic
        MANIFEST replace: a crash at any point leaves the previous version
        (without the batch) and a retry re-runs cleanly; after the flip,
        retries see the id in the ledger and no-op. Returns True if this
        call committed the batch, False if it was already committed.

        Cost model: each append rewrites the table (read current ∪ new →
        new version) — right for the modest CONTROL tables this lake
        serves (catalog/checks, per-epoch stats rows). A data-plane
        table fed by a stream must NOT pay this (O(epochs²) cumulative):
        use `append_log_table_exactly_once` — the O(batch) commit-log
        twin (the Delta/Iceberg transaction-id surface this method
        mirrors, implemented in-repo for exactly the cases the ingest /
        near-dup / BM25 streams need).
        """
        base = Path(self.app_table_path(name))
        # the CAS snapshot, the ledger's dir and the schema all come from
        # one MANIFEST read: a commit landing between two reads would let
        # the CAS pass against stale data (TOCTOU lost update)
        record, cur = self._snapshot(base)
        ledger: list[str] = []
        if cur is not None and (cur / "_batches.json").exists():
            ledger = json.loads((cur / "_batches.json").read_text())
        if batch_id in ledger:
            return False
        # the current version's partition layout is kept (a bare rewrite
        # would flatten e.g. checks' check_date dirs on the first
        # idempotent append); allowMissingColumns: a widening append adds
        # columns and an omitted one reads as NULL
        schema, pcols = self._table_schema(record, cur)
        if schema is None:
            new = df
        else:
            self._check_append_schema(df, schema, allow_schema_evolution=True)
            new = self._scan(cur, schema).unionByName(df, allowMissingColumns=True)
        ver = self._new_version()
        staging = base / f"_staging-{ver}"
        # r13 opt (guide §6): AQE-rebalance before the write so output
        # files track advisoryPartitionSizeInBytes instead of however
        # many partitions the union arrived with — each epoch's rewrite
        # was accumulating near-empty part files that every read-back
        # and the next rewrite re-paid. Keyed by
        # the partition columns when the table is partitioned so each
        # dir gets coherent files (AQE still splits skewed keys).
        new = new.hint("rebalance", *pcols) if pcols else new.hint("rebalance")
        self._write_parquet(new, staging, "overwrite", pcols)
        lf = staging / "_batches.json"
        lf.write_text(json.dumps(ledger + [batch_id]))
        fd = os.open(lf, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
        # CAS on the snapshot the ledger was read from: a concurrent
        # committer (possibly retrying the SAME batch) can't be silently
        # overwritten — the loser raises and re-runs against fresh state
        self._commit_version(
            base, ver, expect=record.get("version"), staging=staging,
            layout=self._layout(new.schema, pcols),
        )
        return True

    # --------------------------------------------------- commit-log tables ----
    @staticmethod
    def _log_safe(batch_id: str) -> str:
        import hashlib

        return hashlib.sha1(str(batch_id).encode()).hexdigest()[:16]

    def append_log_table_exactly_once(
        self, df: DataFrame, name: str, batch_id: str
    ) -> bool:
        """O(batch) exactly-once append — the DATA-PLANE twin of
        `append_app_table_exactly_once`, whose rewrite (read current ∪
        new → new version) is right for small control tables but makes a
        stream of N epochs cost O(N²) on an append-heavy table (a
        streaming posting index, per-epoch document shards).

        Commit-log layout inside the current version dir: each batch
        lands as its own ``batch=<sha1(id)>/`` subdir, and the commit
        point is a marker file ``_commits/<sha1>.json`` created
        atomically (O_EXCL) AFTER the data dir completes.
        `read_log_table` lists markers and reads exactly the committed
        dirs, so:

        * a torn append (data dir, no marker) is INVISIBLE to readers,
          and the crash-replay clears the batch prefix — local files AND
          backend objects — before rewriting, so once the marker finally
          lands the dir holds exactly ONE attempt's part files (a delta
          upload is add-only; without the clear, an S3 replay whose
          Spark job picked different part-file names would leave both
          attempts' files under ``batch=<sha>/`` and the reader would
          return duplicate rows — ADVICE r11 high);
        * a replay after the marker no-ops off the marker alone (returns
          False) — no table read, no rewrite;
        * DISTINCT batches may commit concurrently — there is no shared
          read-modify-write anywhere (unlike the ledger-list protocol);
          concurrent FIRST appends race only on the schema-bootstrap
          version, where the CAS loser adopts the winner's bootstrap.

        This is the mini commit-log the rewrite docstring defers to
        Delta/Iceberg, scoped to exactly the surface the engine needs.
        Writer contract: one writer per batch_id at a time (Spark
        structured streaming's epoch serialization provides this).
        First log append to a table holding legacy rewrite-path rows
        folds those root-level part files into a committed batch first
        (`_migrate_legacy_log_roots`), so pre-existing rows stay visible
        once markers start gating reads. Do NOT mix protocols after
        that: a rewrite append publishes a new version dir and would
        orphan every batch dir and marker.
        """
        base = Path(self.app_table_path(name))
        safe = self._log_safe(batch_id)
        cur = self._current_dir(base)
        if cur is None:
            # schema-only bootstrap version (staged publish + manifest
            # flip) so appends always have a committed dir to land in.
            # Two concurrent first-appenders both land here; the CAS
            # loser adopts the winner's (identical, schema-only)
            # bootstrap instead of surfacing the conflict (ADVICE r11).
            try:
                self._replace_write(df.limit(0).coalesce(1), base)
            except ConcurrentWriteError:
                pass
            cur = self._current_dir(base)
        # control surface only (markers + root files): materializing the
        # batch data bytes too would make this O(table) per commit on a
        # bucket backend — the exact cost model this verb exists to avoid
        cur = self.store.materialize_control(cur)
        self._migrate_legacy_log_roots(cur)
        marker = cur / "_commits" / f"{safe}.json"
        if marker.exists():
            return False
        bdir = cur / f"batch={safe}"
        # Replay hygiene: a prior attempt may have pushed SOME part
        # files to the backend before crashing; clear the batch prefix
        # (markerless ⇒ invisible ⇒ safe to drop at any point) so the
        # add-only delta upload below cannot accumulate two attempts.
        self.store.delete_dir(bdir)
        # r13 opt (guide §6): size the batch dir's files by bytes (AQE
        # rebalance → advisory partition size) rather than by the
        # producer's shuffle ceiling — a micro-batch cached at 64
        # near-empty partitions was landing as 64 near-empty part files
        # that every read_log_table mergeSchema pass re-paid per epoch.
        self._write_parquet(df.hint("rebalance"), bdir, "overwrite")
        # O(batch): push only this batch's prefix, not the table dir
        self.store.upload_dir_delta(bdir)
        (cur / "_commits").mkdir(exist_ok=True)
        committed = self.store.try_create_exclusive(
            marker, json.dumps({"batch_id": str(batch_id)}).encode()
        )
        if not committed:
            return False
        # Lost-append fence, producer side (ADVICE r12 medium): a
        # compaction whose marker re-list ran BEFORE this marker landed
        # may flip the manifest without carrying it — the fold has
        # neither the rows nor the marker, and without this check the
        # producer would report success for rows no reader can see.
        # Re-read the manifest AFTER the marker is durable: if the
        # version moved and the new version does not hold this batch's
        # marker, re-append into the new version (the recursion's
        # exclusive marker create races fairly with the compactor's
        # post-flip straggler sweep — whichever wins, the rows are in).
        # Ordering proof sketch (M = marker time, T1 = compactor's
        # pre-flip re-list, T2 = flip, T3 = post-flip sweep list):
        #   M < T1            -> re-list sees the marker, compactor aborts
        #   T1 < M < T3       -> the sweep adopts the batch
        #   M > T3 (=> M > T2)-> the manifest read below sees the flip
        #                        and the recursion re-appends
        # so every window is covered by at least one side.
        if self._current_dir(base) != Path(cur):
            new_cur = self.store.materialize_control(self._current_dir(base))
            if not (new_cur / "_commits" / f"{safe}.json").exists():
                self.append_log_table_exactly_once(df, name, batch_id)
        return True

    def _migrate_legacy_log_roots(self, cur: Path) -> None:
        """Fold legacy rewrite-path rows into the commit log (ADVICE r11
        medium): a table created by `append_app_table_exactly_once` /
        `write_app_table` keeps its rows as ROOT-level part files of the
        version dir — which `read_log_table` only reads while ZERO
        markers exist. Without this fold, the first commit-log append
        would make every pre-existing row invisible (silent loss) and
        the downstream fingerprint anti-joins would re-admit previously
        ingested content. Copying the root files into a marker-committed
        ``batch=`` dir keeps them visible forever; the root copies stay
        behind as the empty-table schema fallback (never double-read:
        the root fallback only fires when no batch dir exists). A
        schema-only bootstrap (0-row root files, the normal fresh-table
        path) has nothing to lose and is skipped via the parquet footer
        row counts — no Spark job on either path."""
        cdir = cur / "_commits"
        if cdir.exists() and any(cdir.glob("*.json")):
            return  # already a commit-log table
        # Partition detection must go THROUGH the backend (ADVICE r12
        # medium): materialize_control deliberately skips col=value/ data
        # keys, so on a bucket backend a fresh process has no local dirs
        # to iterdir — list_subdirs merges local dirs with the bucket's
        # CommonPrefixes, so server-side-only partitioned layouts are
        # seen too.
        part_dirs = sorted(
            d for d in self.store.list_subdirs(cur)
            if "=" in d and not d.startswith("batch=")
        )
        if part_dirs:
            # Hive-partitioned legacy layout: rows live under col=value/
            # dirs the root fold below cannot carry (a batch dir read
            # would re-derive partition columns from the wrong path
            # depth). Refuse loudly rather than migrate partially.
            raise ValueError(
                "table holds partitioned rewrite-path data "
                f"({part_dirs[0]}, …); commit-log appends would hide "
                "it — compact/rewrite it unpartitioned first, or keep "
                "using append_app_table_exactly_once for this table"
            )
        roots = sorted(p for p in cur.glob("*.parquet"))
        if not roots:
            return
        import pyarrow.parquet as _pq

        if sum(_pq.ParquetFile(p).metadata.num_rows for p in roots) == 0:
            return  # schema-only bootstrap, not legacy data
        legacy_id = "legacy-root"
        lsafe = self._log_safe(legacy_id)
        ldir = cur / f"batch={lsafe}"
        self.store.delete_dir(ldir)
        ldir.mkdir(parents=True, exist_ok=True)
        for p in roots:
            shutil.copy2(p, ldir / p.name)
        self.store.upload_dir_delta(ldir)
        cdir.mkdir(exist_ok=True)
        self.store.try_create_exclusive(
            cdir / f"{lsafe}.json", json.dumps({"batch_id": legacy_id}).encode()
        )

    @staticmethod
    def _marker_dir(marker: Path) -> str:
        """Data-dir name a commit marker points at. Markers written by
        the normal append carry no ``dir`` field and resolve to
        ``batch=<stem>``; markers written by the straggler sweep point
        at their ``-adopt`` dir (the adoption copies into a DISTINCT dir
        so a racing producer re-append can never interleave part files
        with it — the marker's exclusive create picks exactly one
        winner, and the marker says whose dir holds the rows)."""
        try:
            d = json.loads(marker.read_text()).get("dir")
        except (OSError, ValueError):
            d = None
        return d or f"batch={marker.stem}"

    def read_log_table(self, name: str) -> DataFrame:
        """Exactly the committed batches — marker-listed dirs only, so
        torn appends never surface. Markers whose dir was folded away by
        `compact_log_table` contribute no files (the rows live in the
        fold dir) but keep refusing replays."""
        base = Path(self.app_table_path(name))
        cur = self._current_dir(base)
        if cur is None:
            raise FileNotFoundError(f"log table {name!r} does not exist")
        cur = self.store.materialize_dir(cur)
        cdir = cur / "_commits"
        markers = sorted(cdir.glob("*.json")) if cdir.exists() else []
        dirs = [cur / self._marker_dir(m) for m in markers]
        dirs = [d for d in dirs if d.exists()]
        if not dirs:
            # bootstrap schema: the version dir's root part files
            roots = sorted(str(p) for p in cur.glob("*.parquet"))
            return self.spark.read.parquet(*roots)
        return self.spark.read.option("mergeSchema", "true").parquet(
            *[str(d) for d in dirs]
        )

    def compact_log_table(self, name: str, transform=None) -> dict:
        """Fold every committed batch dir into ONE, as a new version
        behind the atomic manifest flip — readers see pre- or post-fold,
        never both — CARRYING every marker, so crash-replayed producers
        keep no-opping after their rows were folded (the
        `carry_exactly_once_ledger` discipline, marker-file form).

        Log appends don't bump the manifest, so the version CAS alone
        cannot see an append that commits during the fold. Three layers
        close the lost-append race (ADVICE r11 high → r12 medium):

        1. pre-flip re-list — after staging is fully written, re-list
           the live ``_commits`` and abort with `ConcurrentWriteError`
           if any marker appeared that the fold didn't carry;
        2. post-flip straggler sweep — markers that landed between the
           re-list and the flip are adopted into the new version
           (`_adopt_log_stragglers`: data copied under a distinct
           ``batch=<safe>-adopt`` dir, committed by the same exclusive
           marker key the producer would race for, so exactly one side
           wins and no part files ever interleave);
        3. producer post-verify — `append_log_table_exactly_once`
           re-reads the manifest after its marker lands and re-appends
           into the new version when neither the carry nor the sweep
           covered it.

        Every window is covered by at least one layer (see the ordering
        proof in the append). The one residual dependency: if THIS
        process crashes between the flip and the sweep, the stragglers
        whose producers already returned True are recovered by
        `recover_log_table` — which runs automatically at the start of
        the next compaction, reading the ``swept-from.json`` breadcrumb
        staged with the fold — so vacuum retention of the previous
        version dir must outlast that recovery (the default retention
        does). Operationally, quiescing producers during compaction
        remains the zero-moving-parts posture; the protocol above is
        for when you can't.

        ``transform`` (optional, DataFrame -> DataFrame) rewrites the
        folded rows — the hook domain-specific compactions use to fold
        semantics, not just files (e.g. `compact_bm25_index` drops
        superseded re-crawl postings by keeping each doc's latest
        epoch). The transform applies to the FOLDED rows only; batches
        committed after this fold (including adopted stragglers) are
        untransformed until the next compaction, so a transform must be
        idempotent and order-insensitive across repeated folds."""
        base = Path(self.app_table_path(name))
        # recover any stragglers a previously-crashed sweep left behind
        # BEFORE folding, so this fold's read includes them
        self.recover_log_table(name)
        snapshot = self._manifest_version(base)
        cur = self._current_dir(base)
        if cur is None:
            raise FileNotFoundError(f"log table {name!r} does not exist")
        cur = self.store.materialize_dir(cur)
        cdir = cur / "_commits"
        safes = sorted(p.stem for p in cdir.glob("*.json")) if cdir.exists() else []
        rows = self.read_log_table(name)
        if transform is not None:
            rows = transform(rows)
        n_dirs_before = sum(
            1 for p in (cdir.glob("*.json") if cdir.exists() else [])
            if (cur / self._marker_dir(p)).exists()
        )
        fold_id = "fold-" + self._log_safe("|".join(safes))
        fold_safe = self._log_safe(fold_id)
        ver = self._new_version()
        staging = base / f"_staging-{ver}"
        self._write_parquet(rows, staging / f"batch={fold_safe}", "overwrite")
        # bootstrap root schema file so an empty-commit read still works
        self._write_parquet(
            rows.limit(0).coalesce(1), staging / "_schema_tmp", "overwrite"
        )
        for p in (staging / "_schema_tmp").glob("*.parquet"):
            os.replace(p, staging / p.name)
        shutil.rmtree(staging / "_schema_tmp")
        sc = staging / "_commits"
        sc.mkdir(parents=True, exist_ok=True)
        carried: set[str] = set()
        if cdir.exists():
            for p in cdir.glob("*.json"):
                shutil.copy2(p, sc / p.name)
                carried.add(p.stem)
        (sc / f"{fold_safe}.json").write_text(json.dumps({"batch_id": fold_id}))
        carried.add(fold_safe)
        # breadcrumb for crash recovery: if this process dies between
        # the flip below and the straggler sweep, recover_log_table can
        # re-run the sweep from the previous version dir
        (staging / "swept-from.json").write_text(
            json.dumps({"prev": cur.name, "carried": sorted(carried)})
        )
        # lost-append check: a marker that landed while the fold was
        # staging has rows NOT in the fold but a marker that WOULD be
        # carried — flipping now loses them forever (replay no-ops).
        self.store.materialize_control(cur)
        live = {p.stem for p in cdir.glob("*.json")} if cdir.exists() else set()
        unfolded = live - set(safes)
        if unfolded:
            self.store.delete_dir(staging)
            raise ConcurrentWriteError(
                f"log table gained {len(unfolded)} commit(s) during "
                "compaction; aborting the flip — retry to fold them"
            )
        self._commit_version(
            base, ver, expect=snapshot, staging=staging,
            layout=self._layout(rows.schema, None),
        )
        # post-flip straggler sweep: markers that landed between the
        # re-list above and the flip are adopted into the new version
        adopted = self._adopt_log_stragglers(base, cur, carried)
        return {
            "batches_folded": int(n_dirs_before),
            "markers_carried": len(safes),
            "stragglers_adopted": adopted,
            "fold_id": fold_id,
        }

    def _adopt_log_stragglers(
        self, base: Path, old_cur: Path, carried: set[str]
    ) -> int:
        """Adopt committed batches whose markers landed in ``old_cur``
        after the fold's re-list (so they were neither folded nor
        carried) into the CURRENT version. The adoption copies the
        batch's part files under ``batch=<safe>-adopt`` — a dir no
        producer ever writes — then races the producer's own re-append
        on the single exclusive marker key; the loser deletes its dir,
        so the committed marker always names exactly one complete
        attempt's files. Idempotent: re-running after a crash re-copies
        and loses the marker race to its own earlier success (or wins
        if the earlier attempt died pre-marker)."""
        ocdir = Path(old_cur) / "_commits"
        self.store.materialize_control(Path(old_cur))
        if not ocdir.exists():
            return 0
        stragglers = [p for p in ocdir.glob("*.json") if p.stem not in carried]
        if not stragglers:
            return 0
        new_cur = self._current_dir(base)
        new_cur = self.store.materialize_control(new_cur)
        adopted = 0
        for m in stragglers:
            s = m.stem
            if (new_cur / "_commits" / f"{s}.json").exists():
                continue  # producer's post-verify re-append beat us
            src = Path(old_cur) / self._marker_dir(m)
            self.store.materialize_dir(src)
            if not src.is_dir():
                continue  # marker without data cannot happen post-commit
            adir = new_cur / f"batch={s}-adopt"
            self.store.delete_dir(adir)
            adir.mkdir(parents=True, exist_ok=True)
            for f in sorted(src.glob("*.parquet")):
                shutil.copy2(f, adir / f.name)
            self.store.upload_dir_delta(adir)
            (new_cur / "_commits").mkdir(exist_ok=True)
            try:
                payload = json.loads(m.read_text())
            except (OSError, ValueError):
                payload = {}
            payload["dir"] = f"batch={s}-adopt"
            payload["adopted_from"] = Path(old_cur).name
            won = self.store.try_create_exclusive(
                new_cur / "_commits" / f"{s}.json", json.dumps(payload).encode()
            )
            if won:
                adopted += 1
            else:
                self.store.delete_dir(adir)
        return adopted

    def recover_log_table(self, name: str) -> dict:
        """Re-run the post-flip straggler sweep from the ``swept-from``
        breadcrumb — the recovery path for a compactor that crashed
        between its manifest flip and its sweep. Safe to call any time
        (idempotent, no-op when the previous version dir is gone or had
        no stragglers); `compact_log_table` calls it automatically
        before folding."""
        base = Path(self.app_table_path(name))
        cur = self._current_dir(base)
        if cur is None:
            raise FileNotFoundError(f"log table {name!r} does not exist")
        cur = self.store.materialize_control(cur)
        crumb = cur / "swept-from.json"
        if not crumb.exists():
            return {"stragglers_adopted": 0}
        info = json.loads(crumb.read_text())
        old = base / info["prev"]
        if not self.store.data_dir_exists(old):
            return {"stragglers_adopted": 0}
        n = self._adopt_log_stragglers(base, old, set(info["carried"]))
        return {"stragglers_adopted": n}
