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

import hashlib
import json
import os
import time
import uuid
from contextlib import contextmanager
from datetime import datetime, timezone
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from udata_datalake_service_spark.schemas import TABLES_INDEX_SCHEMA
from udata_datalake_service_spark.sinks.store import PosixStore

_UNSET = object()
# the keys of every MANIFEST commit record (`Lake._commit_version_locked`)
_RECORD_KEYS = frozenset({"version", "schema", "partition_by", "dirs", "batches"})


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
    replace stays fsynced.

    Write path: every parquet write goes through `_write_parquet`, which
    turns off Spark's ``_SUCCESS`` marker. The MANIFEST is the commit
    point and readers skip ``_`` names, so the marker was one more file
    per write (one more PUT on an object store), rewritten inside the
    committed version by every in-place append.

    Commit record: the MANIFEST is the table's one commit point, a small
    JSON record ``{"version", "schema", "partition_by", "dirs",
    "batches"}``: the current version dir; the table's Spark schema as a
    file-source read reports it (every field nullable, partition columns
    last); its partition columns; its data dirs (the version dir, then
    one ``b-*`` dir per committed log batch); and its exactly-once
    ledger, the committed batch ids. Every commit writes it from the
    frame its writer already holds, so every read (`read_app_table`,
    `read_table`, `registry`, compaction, exactly-once appends) is
    ``spark.read.schema(record)`` over the recorded dirs: no
    schema-inference job and no footer read, for a fresh `Lake` as for
    a warm one (Spark lists up to 32 root paths without a job). Partition
    values read back as the written type, and an append must match every
    column's type, partition columns included. The data files are not
    recorded: the directory read lists them.

    Exactly-once appends come in two cost models over the one ledger:
    `append_app_table_exactly_once` rewrites the table (O(table), for
    small control tables) and `append_log_table_exactly_once` adds one
    batch dir (O(batch), for data-plane logs). Every rewrite
    (`rewrite_app_table`, `compact_table`, the rewriting append) carries
    the ledger of the snapshot it read and keeps, under the commit lock,
    any batch dir recorded after that snapshot, so an append that
    returned True is never lost or hidden by a concurrent rewrite. A
    replace-write (`write_app_table`, `write_table`) starts a fresh
    ledger. Batch dirs a rewrite drops, and those of appends that never
    committed, are reclaimed by `vacuum` once older than its grace.

    Only the two exactly-once appends widen a table: each records the
    wider schema in the same commit as its rows, so old rows read the
    new columns as NULL and an omitted column reads as NULL on the new
    rows. An in-place append (`append_app_table`) must match the record
    exactly and never writes the MANIFEST. A record is never narrowed.

    A table exists once its MANIFEST does. A base with no MANIFEST whose
    entries are all lake leftovers (``v-*``, ``b-*``, ``_``/``.`` names:
    a first write that crashed before its commit) is no table yet, and
    the next first write commits over it. Any other base with no
    MANIFEST, and a MANIFEST that is not a JSON commit record, is not a
    lake table: every reader and writer refuses it with a ValueError
    before writing anything (`_record`)."""

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
        round-trips the object store. A base with no MANIFEST reads as
        ``{}`` (no table yet) if it holds only lake leftovers; one that
        holds anything else, or whose MANIFEST is not a JSON commit
        record, raises ValueError naming the table. The leftover check
        lists the base only when there is no MANIFEST."""
        try:
            text = self.store.read_text(base / "MANIFEST")
        except OSError:
            try:
                names = {p.name for p in base.iterdir()}
            except OSError:
                names = set()
            foreign = sorted(
                n for n in names | self.store.list_subdirs(base)
                if not n.startswith(("v-", "b-", "_", "."))
            )
            if foreign:
                raise ValueError(
                    f"{base.name!r} is not a lake table: {base} has no "
                    f"MANIFEST commit record but holds {foreign[:3]}"
                ) from None
            return {}
        try:
            record = json.loads(text)
        except ValueError:
            record = None
        if not isinstance(record, dict) or not _RECORD_KEYS <= record.keys():
            raise ValueError(
                f"{base.name!r} is not a lake table: its MANIFEST is not a "
                f"JSON commit record: {base}"
            )
        return record

    def _put_record(self, base: Path, record: dict) -> None:
        """Replace the MANIFEST with ``record``: one atomic object PUT
        (POSIX: fsync + rename + dir fsync)."""
        self.store.put_text(base / "MANIFEST", json.dumps(record))
        self.store.sync_dir(base)

    def _manifest_version(self, base: Path) -> str | None:
        return self._record(base).get("version")

    def _snapshot(self, base: Path) -> tuple[dict, list[Path]]:
        """The commit record and those of its recorded dirs that hold
        data, from ONE MANIFEST read (two reads would let a commit in
        between pair one record with another's files), each dir
        materialized: backends holding data server-side fetch its prefix
        into the local cache. ``({}, [])`` for a table that does not
        exist yet."""
        record = self._record(base)
        dirs = [self.store.materialize_dir(base / n) for n in record.get("dirs", [])]
        return record, [d for d in dirs if self._has_data(d)]

    def _snapshot_id(self, record: dict, dirs: list[Path]) -> str:
        """The identity of a `_snapshot`: a digest of its commit record
        and of the ``(path, size, mtime_ns)`` of every data file in its
        recorded dirs. A commit changes the record, an in-place append
        adds files, and a file rewritten on disk changes its size or
        mtime; a rewrite that keeps both (same size within one tick of
        the filesystem's clock) does not change it."""
        files = sorted(f for d in dirs for f in self._data_files(d))
        blob = json.dumps([record, files], sort_keys=True)
        return hashlib.sha1(blob.encode()).hexdigest()

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

    @staticmethod
    def _table_schema(record: dict) -> tuple[StructType | None, list[str]]:
        """(schema, partition columns) a commit record holds; (None, [])
        for a table that does not exist yet."""
        if not record:
            return None, []
        return StructType.fromJson(record["schema"]), record["partition_by"]

    @staticmethod
    def _has_data(d: Path) -> bool:
        """Whether the recorded dir ``d`` holds a data file or partition
        dir, skipping ``_``/``.`` names as Spark's file listing does (an
        empty partitioned write leaves none; a log-only table's version
        dir is never written)."""
        try:
            return any(not f.name.startswith(("_", ".")) for f in d.iterdir())
        except FileNotFoundError:
            return False

    def _scan(
        self, dirs: list[Path], schema: StructType, tag: str | None = None
    ) -> DataFrame:
        """The rows of ``dirs`` read as ``schema``: no inference job, and
        an empty frame for a table with no data file (an empty
        partitioned write leaves none). A ``tag`` becomes the scan option
        ``lake.snapshot``, which the parquet reader ignores and Spark's
        cache manager compares: a persisted tagged frame serves only
        scans with the same tag. Untagged scans match by their dir paths
        alone, so a persisted untagged frame would serve a plain read of
        a table whose files changed in place."""
        if not dirs:
            return self.spark.createDataFrame([], schema)
        reader = self.spark.read.schema(schema)
        if tag is not None:
            reader = reader.option("lake.snapshot", tag)
        return reader.parquet(*map(str, dirs))

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
        snap: dict | None = None,
        batch_id: str | None = None,
    ) -> bool:
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
        reclaimed by a faster committer.

        ``snap`` is the record the new version's rows were read from
        (None for a replace-write, which starts a fresh ledger): its
        ledger is carried, and any log batch dir recorded after it is
        kept, with its id. ``batch_id`` is added to the ledger, unless
        it is already there: then nothing is committed and the result is
        False."""
        with self._commit_lock(base):
            return self._commit_version_locked(
                base, ver, expect=expect, staging=staging, layout=layout,
                snap=snap, batch_id=batch_id,
            )

    def _commit_version_locked(
        self,
        base: Path,
        ver: str,
        expect: object = _UNSET,
        staging: Path | None = None,
        *,
        layout: dict,
        snap: dict | None = None,
        batch_id: str | None = None,
    ) -> bool:
        """`_commit_version` body for callers ALREADY holding the commit
        lock (the O_EXCL lock is non-reentrant) — lets a caller serialize
        a read-modify-write or an in-place append against the flip in one
        critical section (see `register` / `_delete_registry_rows`)."""
        cur = self._record(base)
        prev = cur.get("version")
        if expect is not _UNSET and prev != expect:
            if staging is not None:
                self.store.delete_dir(staging)
            raise ConcurrentWriteError(
                f"{base}: expected version {expect!r}, found {prev!r}"
            )
        dirs, ledger = [ver], []
        if snap is not None:
            read = set(snap.get("dirs", []))
            kept = [d for d in cur.get("dirs", [])[1:] if d not in read]
            ledger = list(snap.get("batches", []))
            done = set(ledger)
            ledger += [b for b in cur.get("batches", []) if b not in done]
            if batch_id is not None:
                if batch_id in ledger:
                    if staging is not None:
                        self.store.delete_dir(staging)
                    return False
                ledger.append(batch_id)
            if kept:
                # a kept batch may have widened the record after the snapshot
                schema = StructType.fromJson(layout["schema"])
                have = set(schema.fieldNames())
                wider = [
                    f for f in StructType.fromJson(cur["schema"]).fields
                    if f.name not in have
                ]
                layout = self._layout(
                    StructType(schema.fields + wider), layout["partition_by"]
                )
            dirs += kept
        if staging is not None:
            # POSIX: atomic directory rename. Object store: per-object
            # copy + delete — NON-atomic, but invisible either way: the
            # destination v-* dir is not in any MANIFEST until the PUT
            # below, and a crash mid-copy leaves readers on `prev` with
            # the partial dir reclaimed by vacuum/next-commit GC.
            self.store.publish_dir(staging, base / ver)
        self._put_record(
            base, {"version": ver, **layout, "dirs": dirs, "batches": ledger}
        )
        for name in self.store.list_subdirs(base):
            if name.startswith("v-") and name not in (ver, prev):
                self.store.delete_dir(base / name)
        return True

    def vacuum(self, staging_grace_s: float = 3600.0) -> list[str]:
        """Reclaim version dirs no MANIFEST points at — crash leftovers
        (a fully-written but uncommitted version) and previous versions of
        tables that were never rewritten again. Normal commits already GC
        older versions; this sweeps tables the write path won't revisit.
        ``_staging-*`` dirs, and log batch dirs (``b-*``) the record does
        not list, are removed only once older than ``staging_grace_s`` —
        a fresh one may be an IN-FLIGHT writer's parquet write (the slow
        phase runs outside the commit lock), and reclaiming it would
        break that writer's commit. Returns the removed paths (ST7-style
        maintenance verb)."""
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
                try:
                    record = self._record(base)
                except ValueError:
                    continue  # not a lake table: nothing here is ours
                recorded = set(record.get("dirs", []))
                # crashed takeover leftovers next to MANIFEST — control
                # objects, so enumerated THROUGH the store (on an object
                # store they are keys, not local files)
                for claim, mt in self.store.claim_leftovers(base):
                    if time.time() - mt > staging_grace_s:
                        self.store.delete(claim)
                        removed.append(str(claim))
                for name in self.store.list_subdirs(base):
                    d = base / name
                    if name.startswith("v-"):
                        stale = name != record.get("version")
                    elif name.startswith("_staging-") or (
                        name.startswith("b-") and name not in recorded
                    ):
                        try:
                            age = time.time() - self.store.dir_mtime(d)
                        except OSError:
                            continue  # renamed into place / released concurrently
                        stale = age > staging_grace_s
                    else:
                        continue
                    if stale:
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
        snap: dict | None = None,
        batch_id: str | None = None,
    ) -> int | None:
        """Replace-write ``df`` as a new committed version of ``base``.
        The input may read from the table's current version — it is never
        touched until the manifest flips. The parquet write lands in an
        invisible ``_staging-*`` dir (GC-proof under concurrent commits)
        and renames into place inside the commit lock; pass ``expect``
        (from `table_version`) for optimistic-concurrency semantics, and
        ``snap``/``batch_id`` as `_commit_version` takes them. Returns
        the number of data files committed, None if ``batch_id`` was
        already committed."""
        if snap is None:
            self._record(base)  # refuse a base that is not a lake table
        ver = self._new_version()
        staging = base / f"_staging-{ver}"
        self._write_parquet(df, staging, "overwrite", partition_by)
        n_files = len(self._data_files(staging))
        committed = self._commit_version(
            base, ver, expect=expect, staging=staging,
            layout=self._layout(df.schema, partition_by),
            snap=snap, batch_id=batch_id,
        )
        return n_files if committed else None

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

    def _read_dir(self, base: Path, schema: StructType | None = None) -> DataFrame:
        """The table's current rows, read as its recorded schema (or as
        ``schema``, with no rows, for a table that does not exist yet)."""
        return self._frame(base, *self._snapshot(base), schema=schema)

    def _frame(
        self,
        base: Path,
        record: dict,
        dirs: list[Path],
        schema: StructType | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """The rows of the snapshot ``(record, dirs)`` of ``base``."""
        recorded, _ = self._table_schema(record)
        if recorded is not None:
            schema = recorded
        if schema is None:
            raise FileNotFoundError(f"lake table has no data: {base}")
        return self._scan(dirs, schema, tag)

    @staticmethod
    def _data_files(cur: Path) -> list[tuple[str, int, int]]:
        """(path, size, mtime_ns) of every data file under ``cur``,
        skipping ``_``/``.`` names as Spark's file listing does. An entry
        that vanishes mid-walk is left out."""
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
                            st = e.stat()
                            out.append((e.path, st.st_size, st.st_mtime_ns))
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
            schema=to_arrow_schema(TABLES_INDEX_SCHEMA),
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
            _, dirs = self._snapshot(base)
            # first write ⇔ no data files yet (the mkdir above makes the
            # bare base dir exist, so existence says nothing)
            if not dirs:
                ver = self._new_version()
                staging = base / f"_staging-{ver}"
                staging.mkdir(parents=True, exist_ok=True)
                pq.write_table(table, staging / fname)
                self._commit_version_locked(
                    base, ver, staging=staging,
                    layout=self._layout(TABLES_INDEX_SCHEMA, None),
                )
                return
            cur = dirs[0]
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
        schema = to_arrow_schema(TABLES_INDEX_SCHEMA)
        # read + rewrite + flip in ONE critical section: an append landing
        # between an unlocked read and the flip would be silently dropped
        # from `remaining` (the lost-append race `register` guards the
        # other side of)
        with self._commit_lock(base):
            _, dirs = self._snapshot(base)
            if not dirs:
                remaining = schema.empty_table()
            else:
                reg = pq.read_table(dirs[0])  # ignores _/.-prefixed files
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
    def _check_append_schema(df: DataFrame, schema: StructType) -> list[StructField]:
        """Refuse an append whose frame gives a column of the table's
        recorded ``schema`` another type, partition columns included (a
        same-name type conflict is never allowed). Returns the fields of
        the frame's columns the table does not have yet."""
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
        return [f for f in df.schema.fields if f.name not in existing]

    def _append_write(
        self, df: DataFrame, base: Path, partition_by: list[str] | None = None
    ) -> None:
        record, _ = self._snapshot(base)
        schema, pcols = self._table_schema(record)
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
        self._check_append_schema(df, schema)
        # the table reads as its record, which this append does not
        # write: an extra column would vanish, a missing one read NULL
        added = sorted(set(df.columns) - set(schema.fieldNames()))
        missing = sorted(set(schema.fieldNames()) - set(df.columns))
        if added or missing:
            raise ValueError(
                f"append schema drift: added={added} missing={missing} — an "
                "in-place append must match the table's recorded schema. "
                "Align the frame, or widen the table with "
                "append_app_table_exactly_once or append_log_table_exactly_once "
                "(new columns added, omitted ones read as NULL)."
            )
        # the version dir (on a bucket store it may hold no object yet):
        # add files in place — Spark stages the new files under
        # _temporary, so a torn append is never visible LOCALLY; on a
        # remote data plane the per-object upload below has the
        # direct-write-committer partial-visibility window (use the
        # exactly-once staged path for append-heavy object-store tables)
        cur = base / record["version"]
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
        self._write_parquet(df, cur, "append", partition_by)
        self.store.upload_dir_delta(cur)

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
        self, df: DataFrame, name: str, partition_by: list[str] | None = None
    ) -> None:
        """In-place append: ``df``'s files land inside the table's current
        version dir and the MANIFEST is not written. ``df`` must carry
        exactly the table's recorded columns and types, and
        ``partition_by`` its partition layout, or ValueError; only the
        exactly-once appends widen a table. The first append to a table
        that does not exist yet commits it, as `write_app_table` does."""
        self._append_write(
            df, Path(self.app_table_path(name)), partition_by=partition_by
        )

    def read_app_table(self, name: str) -> DataFrame:
        return self._read_dir(Path(self.app_table_path(name)))

    def app_table_snapshot(self, name: str) -> tuple[str, Callable[[], DataFrame]]:
        """``(identity, read)`` of an app table's current snapshot, both
        from one MANIFEST read: ``read()`` builds the frame
        `read_app_table` would have built at that read, raising
        `FileNotFoundError` for a table with no data. The frame is tagged
        with the identity (see `_scan`), so persisting it never changes
        what a plain read or a read of another snapshot returns."""
        base = Path(self.app_table_path(name))
        record, dirs = self._snapshot(base)
        ident = self._snapshot_id(record, dirs)
        return ident, lambda: self._frame(base, record, dirs, tag=ident)

    def rewrite_app_table(
        self,
        df: DataFrame,
        name: str,
        expected_version: object = _UNSET,
    ) -> None:
        """Read-modify-write of an app table. ``df`` may (and usually does)
        read from the table's current version; that version is untouched
        while the new one is written, then the MANIFEST pointer flips
        atomically — readers see old-or-new, never a half-swapped dir. The
        new version keeps the current one's partition layout, and carries
        the exactly-once ledger, so a replay of a batch whose rows the
        rewrite kept still no-ops.

        Concurrent read-modify-writers silently clobber each other (last
        manifest flip wins); pass ``expected_version`` (the
        `table_version(name, app=True)` snapshot taken before reading) to
        turn that lost update into a `ConcurrentWriteError` to retry.

        A log batch recorded after this call's snapshot is kept beside the
        new version. Known hazards (documented, not closed): a concurrent
        IN-PLACE append (`append_app_table`) landing between this rewrite's
        read and its flip, or a log batch recorded between the caller's
        read of ``df`` and this call, is absent from the rewritten table,
        and CAS can't see either because neither bumps the manifest
        version. The registry closes the same race by serializing its
        (tiny, fast) mutations under the commit lock; `compact_table`
        (with ``transform=``) reads and commits from one snapshot. Run
        appenders and rewriters of one table single-writer (the
        reference's daemon does), or front the lake with Delta/Iceberg,
        whose commit log versions appends too."""
        base = Path(self.app_table_path(name))
        # as compaction and exactly-once appends do: a flattened rewrite
        # would leave the next partitioned append's files unread
        record = self._record(base)
        _, pcols = self._table_schema(record)
        self._replace_write(
            df, base, partition_by=pcols or None, expect=expected_version, snap=record
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
        # one expression, applied to the input and to the committed rows
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
        manifest = (
            committed.groupBy(F.col("shard").cast("long").alias("shard"))
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(h).alias("content_checksum"),
            )
            .orderBy("shard")
        )
        self._replace_write(manifest, Path(self.app_table_path(f"{name}__manifest")))
        return self.read_app_table(f"{name}__manifest")

    # --------------------------------------------------------- compaction ----
    def compact_table(
        self,
        name: str,
        target_bytes: int = 128 * 1024 * 1024,
        app_table: bool = False,
        transform=None,
    ) -> dict:
        """Compact a table's recorded dirs (its version dir and its log
        batch dirs) into ~``target_bytes`` files — the small-files
        maintenance verb (the OPTIMIZE analogue for the vanilla-parquet
        lake). An append-heavy table accumulates one file per
        micro-batch; scans then pay an open/footer cost per tiny file
        that dwarfs the read at 100 TB.

        Reads one committed snapshot, coalesces to ceil(bytes/target)
        output files, and commits as a NEW version behind the same
        crash-safe MANIFEST flip — readers see the pre-compaction or
        post-compaction record, never a mix, and time travel keeps the
        pre-compaction version until vacuum. Row data is byte-identical
        (coalesce moves whole partitions; no shuffle, no re-sort —
        sortWithinPartitions clustering from the original write survives
        inside each surviving partition). The exactly-once ledger is
        carried, and a log batch recorded while the compaction ran is
        kept beside the new version (`_commit_version`), so an append
        that returned True is never lost.

        ``transform`` (optional, DataFrame -> DataFrame, keeping the
        table's columns) rewrites the folded rows — the hook
        domain-specific compactions use to fold semantics, not just
        files (e.g. `compact_bm25_index` keeps each doc's latest epoch).
        Batches kept beside the fold are untransformed until the next
        compaction, so a transform must be idempotent and
        order-insensitive across repeated folds.

        Returns {files_before, files_after, bytes}.
        """
        base = Path(self.app_table_path(name) if app_table else self.table_path(name))
        record, dirs = self._snapshot(base)
        # preserve the physical partition layout (check_date/shard dirs):
        # a bare rewrite would flatten it, breaking partition-drop
        # retention and pruning. The recorded schema carries a widening
        # append's columns, so the rewrite keeps their data.
        schema, pcols = self._table_schema(record)
        if schema is None:
            raise FileNotFoundError(f"no committed version to compact: {base}")
        data_files = [f for d in dirs for f in self._data_files(d)]
        total = sum(size for _, size, _ in data_files)
        n_out = max(1, -(-total // int(target_bytes)))
        df = self._scan(dirs, schema)
        if transform is not None:
            df = transform(df)
        # CAS on the record read above: a rewrite committed while the
        # compaction was reading raises ConcurrentWriteError instead of
        # being clobbered (in-place appends remain invisible to the CAS —
        # the documented rewrite_app_table hazard). Coalesce bounds the
        # write tasks, not the files: each task writes one file per
        # partition dir it holds rows for.
        files_after = self._replace_write(
            df.coalesce(int(n_out)), base, partition_by=pcols or None,
            expect=record.get("version"), snap=record,
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

        The ledger of committed batch ids lives in the commit record, so
        ledger and data flip together under the one atomic MANIFEST
        replace: a crash at any point leaves the previous record (without
        the batch) and a retry re-runs cleanly; after the flip, retries
        see the id in the ledger and no-op. Returns True if this call
        committed the batch, False if it was already committed.

        Cost model: each append rewrites the table (read current ∪ new →
        new version) — right for the modest CONTROL tables this lake
        serves (catalog/checks, per-epoch stats rows). A data-plane
        table fed by a stream must NOT pay this (O(epochs²) cumulative):
        use `append_log_table_exactly_once`, the O(batch) twin over the
        same ledger (the Delta/Iceberg transaction-id surface both
        mirror).
        """
        base = Path(self.app_table_path(name))
        # the CAS snapshot, the ledger and the rows all come from one
        # MANIFEST read: a commit landing between two reads would let the
        # CAS pass against stale data (TOCTOU lost update)
        record, dirs = self._snapshot(base)
        if batch_id in record.get("batches", []):
            return False
        # the current version's partition layout is kept (a bare rewrite
        # would flatten e.g. checks' check_date dirs on the first
        # idempotent append); allowMissingColumns: a widening append adds
        # columns and an omitted one reads as NULL
        schema, pcols = self._table_schema(record)
        if schema is None:
            new = df
        else:
            self._check_append_schema(df, schema)
            new = self._scan(dirs, schema).unionByName(df, allowMissingColumns=True)
        # r13 opt (guide §6): AQE-rebalance before the write so output
        # files track advisoryPartitionSizeInBytes instead of however
        # many partitions the union arrived with — each epoch's rewrite
        # was accumulating near-empty part files that every read-back
        # and the next rewrite re-paid. Keyed by
        # the partition columns when the table is partitioned so each
        # dir gets coherent files (AQE still splits skewed keys).
        new = new.hint("rebalance", *pcols) if pcols else new.hint("rebalance")
        # CAS on the snapshot the ledger was read from: a concurrent
        # rewrite (possibly retrying the SAME batch) can't be silently
        # overwritten — the loser raises and re-runs against fresh state
        return self._replace_write(
            new, base, partition_by=pcols, expect=record.get("version"),
            snap=record, batch_id=batch_id,
        ) is not None

    def append_log_table_exactly_once(
        self, df: DataFrame, name: str, batch_id: str
    ) -> bool:
        """O(batch) exactly-once append — the DATA-PLANE twin of
        `append_app_table_exactly_once`, whose rewrite is right for small
        control tables but makes a stream of N epochs cost O(N²) on an
        append-heavy table (a streaming posting index, per-epoch document
        shards). Both share the record's ledger.

        The batch is written outside the lock to a new ``b-*`` dir that
        no record lists (its name has no ``=``, so Spark reads no
        partition column from it); under the commit lock the append
        checks the ledger and PUTs a record with the dir and the id
        added. So a crashed attempt's dir is invisible (vacuum reclaims
        it), a replay returns False having made nothing visible, distinct
        batches commit concurrently, and committing batch N touches no
        other batch's files. A batch with no rows commits its id alone.

        Log tables are unpartitioned: Spark refuses several partitioned
        roots in one read, so a partitioned table raises ValueError."""
        import pyarrow.parquet as pq

        base = Path(self.app_table_path(name))
        record = self._record(base)
        if batch_id in record.get("batches", []):
            return False
        self._log_record(base, record, df, batch_id, None)  # refuse early
        bdir = base / f"b-{self._new_version()[2:]}"
        # r13 opt (guide §6): size the batch dir's files by bytes (AQE
        # rebalance → advisory partition size) rather than by the
        # producer's shuffle ceiling
        self._write_parquet(df.hint("rebalance"), bdir, "overwrite")
        if any(pq.ParquetFile(p).metadata.num_rows for p, _, _ in self._data_files(bdir)):
            self.store.upload_dir_delta(bdir)
        else:
            self.store.delete_dir(bdir)  # Spark's schema-only file
            bdir = None
        with self._commit_lock(base):
            record = self._record(base)
            replay = batch_id in record.get("batches", [])
            if not replay:
                self._put_record(
                    base, self._log_record(base, record, df, batch_id, bdir)
                )
        if replay and bdir is not None:
            self.store.delete_dir(bdir)
        return not replay

    def _log_record(
        self, base: Path, record: dict, df: DataFrame, batch_id: str, bdir: Path | None
    ) -> dict:
        """``record`` with the log batch dir ``bdir`` (None for a batch
        with no rows) and ``batch_id`` added, widened by any new column
        of ``df``; a new record for a table that does not exist yet."""
        if not record:
            ver = self._new_version()
            record = {
                "version": ver, **self._layout(df.schema, None),
                "dirs": [ver], "batches": [],
            }
        if record["partition_by"]:
            raise ValueError(
                f"log append to {base.name!r}: the table is partitioned by "
                f"{record['partition_by']}, and log batch dirs are unpartitioned"
            )
        schema = StructType.fromJson(record["schema"])
        added = self._check_append_schema(df, schema)
        return {
            **record,
            **self._layout(StructType(schema.fields + added), None),
            "dirs": record["dirs"] + ([bdir.name] if bdir else []),
            "batches": record["batches"] + [batch_id],
        }
