"""Storage-semantics backends for the lake commit protocol.

The Lake's crash-safety story (staged version dirs + an atomically
replaced MANIFEST pointer, ``sinks/lake.py``) was written against POSIX
semantics. A real deployment fronts an object store through s3a, whose
semantics differ in exactly the ways that break naive commit protocols
(reference anchor: the MinIO leg at
/root/reference/udata_hydra/utils/minio.py:28-45):

* **no atomic rename** — s3a "rename" is a per-object server-side COPY
  followed by a DELETE of the source: O(data), non-atomic, observable
  half-done;
* **no hard links, no directories** — "directories" are key prefixes;
  there is nothing to fsync;
* **atomic single-object PUT** — a reader GETs the old object or the new
  one, never a torn mix (S3 is strongly consistent since 2020-12);
* **conditional PUT (If-None-Match: *)** — the exclusive-create
  primitive locks are built from (supported by AWS S3 since 2024-08 and
  by MinIO).

``PosixStore`` is the local-filesystem implementation (the previous
inline behavior, verbatim). ``S3SemanticsStore`` emulates the object
-store semantics above over a local directory so the commit protocol can
be exercised against them in CI without a MinIO process: publishes are
per-file copy-then-delete (with optional crash injection mid-copy),
renames are copy+delete, links are copy-if-absent, and directory fsync
is a no-op. The protocol invariants the Lake tests assert
(old-or-new reads, CAS conflicts loud, crash leaves the previous version
intact, vacuum reclaims partial publishes) must hold under BOTH.
"""

from __future__ import annotations

import os
import shutil
import uuid
from pathlib import Path


class PosixStore:
    """POSIX filesystem semantics: atomic same-directory rename, O_EXCL
    exclusive create, hard links, fsync-able directories."""

    name = "posix"
    # True when in-place appends upload part files one object at a time
    # into an already-committed (listable) prefix — a concurrent reader
    # then sees a partial append, and the immutable-prefix materialize
    # cache is invalidated. Plain appends warn and steer callers to the
    # staged exactly-once path on such backends (ADVICE r9).
    partial_append_visible = False

    # ------------------------------------------------- lock primitives ----
    def try_create_exclusive(self, path: Path, data: bytes) -> bool:
        """Atomically create ``path`` with ``data`` iff it does not exist."""
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            return False
        try:
            os.write(fd, data)
            os.fsync(fd)
        finally:
            os.close(fd)
        return True

    def try_create_lock(self, path: Path, data: bytes) -> bool:
        """`try_create_exclusive` without the fsync, for locks: a lock
        only coordinates live processes, and unlinking a freshly fsynced
        file costs milliseconds (tens of them on some hosts), paid at
        every release. The
        content is written under a private name and hard-linked into
        place, so a live lock is never seen empty; only a crash can leave
        an empty one, which the stale takeover treats as an orphan."""
        path = Path(path)
        tmp = path.parent / f"_lock-{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        try:
            os.link(tmp, path)
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)
        return True

    def read_text(self, path: Path) -> str:
        return Path(path).read_text()

    def exists(self, path: Path) -> bool:
        """Whether a CONTROL object (MANIFEST, lock, ledger entry) exists
        under this backend — data directories are always checked on the
        local filesystem directly."""
        return Path(path).exists()

    def claim_leftovers(self, base: Path) -> list[tuple[object, float]]:
        """Crashed stale-takeover claims (``_COMMIT_LOCK.stale-*``) next
        to ``base``'s MANIFEST, as (path-or-key, mtime) pairs — control
        objects, so vacuum must enumerate them through the backend."""
        out: list[tuple[object, float]] = []
        for p in Path(base).glob("_COMMIT_LOCK.stale-*"):
            try:
                out.append((p, p.stat().st_mtime))
            except OSError:
                continue
        return out

    def mtime(self, path: Path) -> float:
        return Path(path).stat().st_mtime

    def rename(self, src: Path, dst: Path) -> None:
        """Atomic move (overwrites dst)."""
        os.rename(src, dst)

    def relink(self, src: Path, dst: Path) -> None:
        """Make ``dst`` name the same content as ``src`` WITHOUT claiming
        it exclusively twice — raises FileExistsError if dst exists."""
        os.link(src, dst)

    def delete(self, path: Path) -> None:
        Path(path).unlink(missing_ok=True)

    # ----------------------------------------------- commit primitives ----
    def put_text(self, path: Path, text: str) -> None:
        """Object-PUT visibility: readers of ``path`` see its old content
        or ``text``, never a torn write. POSIX: temp + fsync + rename."""
        path = Path(path)
        tmp = path.parent / f"_put-{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)

    def publish_dir(self, staging: Path, final: Path) -> None:
        """Move a fully-written staging directory to its final name."""
        os.replace(staging, final)

    def publish_file(self, tmp: Path, dst: Path) -> None:
        """Durably publish a written temp file at ``dst``: fsync file,
        atomic rename, fsync the parent directory."""
        fd = os.open(tmp, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
        os.replace(tmp, dst)
        self.sync_dir(Path(dst).parent)

    def delete_dir(self, path: Path) -> None:
        shutil.rmtree(path, ignore_errors=True)

    def sync_dir(self, path: Path) -> None:
        dirfd = os.open(path, os.O_RDONLY)
        try:
            os.fsync(dirfd)
        finally:
            os.close(dirfd)

    # -------------------------------------------------- data-plane hooks ----
    # Defaults are the local-filesystem behavior the Lake always had; a
    # backend whose DATA bytes live server-side (S3ObjectStore) overrides
    # them so version dirs resolve/list/read against the bucket.

    def data_dir_exists(self, path: Path) -> bool:
        """Whether a DATA directory (version dir / legacy table dir) holds
        committed bytes under this backend."""
        return Path(path).is_dir()

    def materialize_dir(self, path: Path) -> Path:
        """Make ``path``'s data bytes readable by a local parquet reader,
        returning the local directory to read. POSIX: identity."""
        return Path(path)

    def upload_dir_delta(self, path: Path) -> None:
        """Push locally-written files under ``path`` that the backend does
        not hold yet (the in-place-append data path). POSIX: no-op — the
        local write IS the store."""

    def dir_mtime(self, path: Path) -> float:
        """When a data directory was last written (vacuum's grace check
        on uncommitted dirs)."""
        return Path(path).stat().st_mtime

    def list_subdirs(self, base: Path) -> set[str]:
        """Immediate child directory names of ``base`` that hold data
        under this backend (version dirs, staging dirs)."""
        base = Path(base)
        if not base.is_dir():
            return set()
        return {d.name for d in base.iterdir() if d.is_dir()}

    def discover_bases(self, root: Path) -> set[Path]:
        """Table base dirs under ``root`` that contain version, staging
        or log batch dirs — vacuum's sweep set."""
        return {
            p.parent
            for pat in ("v-*", "_staging-*", "b-*")
            for p in Path(root).rglob(pat)
            if p.is_dir()
        }


class S3SemanticsStore(PosixStore):
    """Object-store semantics over a local directory (see module doc).

    ``fail_after_copies`` injects a crash after N successful per-object
    copies inside ``publish_dir`` — the torn-rename window s3a has and
    POSIX doesn't — so tests can prove readers stay on the previous
    MANIFEST and vacuum reclaims the partial publish.
    """

    name = "s3-semantics"

    def __init__(self, fail_after_copies: int | None = None):
        self.fail_after_copies = fail_after_copies
        self.copies_done = 0

    # conditional PUT (If-None-Match: *) gives the same exclusive-create
    # contract as O_EXCL, so try_create_exclusive is inherited; the
    # primitives S3 genuinely lacks are overridden below.

    def rename(self, src: Path, dst: Path) -> None:
        """S3 'rename' of a single object: server-side COPY then DELETE —
        two operations, a window where both names exist."""
        shutil.copyfile(src, dst)
        Path(src).unlink(missing_ok=True)

    def relink(self, src: Path, dst: Path) -> None:
        """No hard links: copy-if-absent (conditional PUT of a copy)."""
        if Path(dst).exists():
            raise FileExistsError(dst)
        shutil.copyfile(src, dst)

    def put_text(self, path: Path, text: str) -> None:
        """Single-object PUT is atomic on S3 — emulate that visibility
        contract locally (temp in a shim-private name + rename)."""
        super().put_text(path, text)

    def publish_dir(self, staging: Path, final: Path) -> None:
        """s3a directory 'rename': list the prefix, COPY each object to
        the destination key, then DELETE the sources. O(data), and a
        crash mid-way leaves a PARTIAL destination prefix plus the intact
        source — exactly the window the commit protocol must tolerate."""
        staging, final = Path(staging), Path(final)
        for src in sorted(p for p in staging.rglob("*") if p.is_file()):
            rel = src.relative_to(staging)
            dst = final / rel
            dst.parent.mkdir(parents=True, exist_ok=True)
            if (
                self.fail_after_copies is not None
                and self.copies_done >= self.fail_after_copies
            ):
                raise RuntimeError(
                    f"injected object-store crash mid-publish ({self.copies_done}"
                    f" objects copied to {final})"
                )
            shutil.copyfile(src, dst)
            self.copies_done += 1
        shutil.rmtree(staging, ignore_errors=True)

    def publish_file(self, tmp: Path, dst: Path) -> None:
        """Single-object upload: atomic PUT visibility, then delete the
        local temp; no directory fsync exists. The PUT really is atomic
        on S3 (old object or new, never torn), so the shim must be too —
        copy into a shim-private shadow name and os.replace it into
        place, never copy directly onto ``dst`` (ADVICE r7: a direct
        copyfile let concurrent readers observe a half-written object,
        a race real S3 excludes)."""
        dst = Path(dst)
        shadow = dst.parent / f"_put-{uuid.uuid4().hex[:8]}.tmp"
        shutil.copyfile(tmp, shadow)
        os.replace(shadow, dst)
        Path(tmp).unlink(missing_ok=True)

    def sync_dir(self, path: Path) -> None:
        """No directories on an object store — nothing to fsync."""


class S3ObjectStore(PosixStore):
    """CONTROL plane **and DATA plane** on a real S3 API endpoint via
    boto3 (reference anchor /root/reference/udata_hydra/utils/minio.py:
    28-45 — ``fput_object``: the data bytes themselves go to the store).

    This is the backend the integration leg runs the commit protocol
    against (a moto server or any s3-compatible endpoint): every lock
    acquire, stale takeover, conditional PUT, manifest GET/PUT and claim
    listing is executed by an INDEPENDENT S3 implementation rather than
    by the shim above — the exact class of semantics (copy+delete
    renames resetting Last-Modified, 412 on If-None-Match,
    list-after-write) the emulation could get subtly wrong.

    Data path (round 9): Spark/pyarrow still WRITE staging dirs on local
    disk (executors have local scratch either way), but ``publish_dir``
    uploads every staged file to the bucket and removes the local copy —
    committed bytes live ONLY server-side. Reads call
    ``materialize_dir``: a ListObjectsV2 over the version prefix (the
    list-after-write step) followed by per-object GETs into a local
    cache the parquet reader scans. Version dirs are immutable once the
    MANIFEST flips, so the cache never goes stale — a new commit is a
    new prefix. Spark's own ``s3a://`` reader would replace the
    materialize step on a real cluster (hadoop-aws jars, which this
    container does not ship); the publish/list/GET semantics under test
    are the same ones s3a has.

    Keys mirror the local paths (leading slash stripped), so one Lake
    root maps to one key prefix.
    """

    name = "s3-boto"
    partial_append_visible = True

    def __init__(
        self,
        bucket: str,
        client=None,
        endpoint_url: str | None = None,
        fail_after_puts: int | None = None,
    ):
        # crash injection for the torn-publish window (same contract as
        # S3SemanticsStore.fail_after_copies, but against the real API)
        self.fail_after_puts = fail_after_puts
        self.puts_done = 0
        if client is None:  # pragma: no cover - exercised via endpoints
            import boto3

            client = boto3.client(
                "s3",
                endpoint_url=endpoint_url,
                aws_access_key_id=os.environ.get("AWS_ACCESS_KEY_ID", "x"),
                aws_secret_access_key=os.environ.get("AWS_SECRET_ACCESS_KEY", "y"),
                region_name=os.environ.get("AWS_DEFAULT_REGION", "us-east-1"),
            )
        self.bucket = bucket
        self.c = client

    @staticmethod
    def _key(path) -> str:
        return str(path).lstrip("/")

    def _err_code(self, exc) -> str:
        return exc.response.get("Error", {}).get("Code", "")

    # ------------------------------------------------- lock primitives ----
    def try_create_exclusive(self, path: Path, data: bytes) -> bool:
        from botocore.exceptions import ClientError

        try:
            self.c.put_object(
                Bucket=self.bucket, Key=self._key(path), Body=data, IfNoneMatch="*"
            )
            return True
        except ClientError as e:
            if self._err_code(e) in (
                "PreconditionFailed",
                "ConditionalRequestConflict",
            ):
                return False
            raise

    def try_create_lock(self, path: Path, data: bytes) -> bool:
        """A conditional PUT, as for any exclusive create."""
        return self.try_create_exclusive(path, data)

    def read_text(self, path: Path) -> str:
        from botocore.exceptions import ClientError

        try:
            obj = self.c.get_object(Bucket=self.bucket, Key=self._key(path))
        except ClientError as e:
            if self._err_code(e) in ("NoSuchKey", "404"):
                raise FileNotFoundError(self._key(path)) from e
            raise
        return obj["Body"].read().decode()

    def exists(self, path: Path) -> bool:
        from botocore.exceptions import ClientError

        try:
            self.c.head_object(Bucket=self.bucket, Key=self._key(path))
            return True
        except ClientError as e:
            if self._err_code(e) in ("NoSuchKey", "404"):
                return False
            raise

    def mtime(self, path: Path) -> float:
        from botocore.exceptions import ClientError

        try:
            h = self.c.head_object(Bucket=self.bucket, Key=self._key(path))
        except ClientError as e:
            if self._err_code(e) in ("NoSuchKey", "404"):
                raise FileNotFoundError(self._key(path)) from e
            raise
        return h["LastModified"].timestamp()

    def rename(self, src: Path, dst: Path) -> None:
        """The real thing the shim models: server-side COPY (which stamps
        a fresh Last-Modified on the destination) then DELETE."""
        from botocore.exceptions import ClientError

        try:
            self.c.copy_object(
                Bucket=self.bucket,
                Key=self._key(dst),
                CopySource={"Bucket": self.bucket, "Key": self._key(src)},
            )
        except ClientError as e:
            if self._err_code(e) in ("NoSuchKey", "404"):
                raise FileNotFoundError(self._key(src)) from e
            raise
        self.c.delete_object(Bucket=self.bucket, Key=self._key(src))

    def relink(self, src: Path, dst: Path) -> None:
        """Copy-if-absent, ATOMICALLY: CopyObject cannot carry
        If-None-Match, but GET + conditional PUT of the body can — so
        two concurrent givebacks of a commit lock cannot both win and
        silently overwrite each other's token (the local shim's
        exists-then-copy race does not exist here). Lock bodies are
        tokens (bytes), so the extra GET is negligible."""
        from botocore.exceptions import ClientError

        try:
            body = self.c.get_object(
                Bucket=self.bucket, Key=self._key(src)
            )["Body"].read()
        except ClientError as e:
            if self._err_code(e) in ("NoSuchKey", "404"):
                raise FileNotFoundError(self._key(src)) from e
            raise
        try:
            self.c.put_object(
                Bucket=self.bucket, Key=self._key(dst), Body=body, IfNoneMatch="*"
            )
        except ClientError as e:
            if self._err_code(e) in (
                "PreconditionFailed",
                "ConditionalRequestConflict",
            ):
                raise FileExistsError(self._key(dst)) from e
            raise

    def delete(self, path: Path) -> None:
        # S3 DELETE is idempotent, matching unlink(missing_ok=True)
        self.c.delete_object(Bucket=self.bucket, Key=self._key(path))

    def claim_leftovers(self, base: Path) -> list[tuple[object, float]]:
        prefix = self._key(base) + "/_COMMIT_LOCK.stale-"
        out: list[tuple[object, float]] = []
        pages = self.c.get_paginator("list_objects_v2").paginate(
            Bucket=self.bucket, Prefix=prefix
        )
        for page in pages:
            for o in page.get("Contents", []):
                out.append(("/" + o["Key"], o["LastModified"].timestamp()))
        return out

    # ----------------------------------------------- commit primitives ----
    def put_text(self, path: Path, text: str) -> None:
        """Single-object PUT: atomic old-or-new visibility, by contract."""
        self.c.put_object(
            Bucket=self.bucket, Key=self._key(path), Body=text.encode()
        )

    def delete_dir(self, path: Path) -> None:
        """Local data dir AND any control keys under the same prefix
        (drop_table must not strand a MANIFEST object in the bucket)."""
        super().delete_dir(path)
        prefix = self._key(path) + "/"
        pages = self.c.get_paginator("list_objects_v2").paginate(
            Bucket=self.bucket, Prefix=prefix
        )
        for page in pages:
            keys = [{"Key": o["Key"]} for o in page.get("Contents", [])]
            if keys:
                self.c.delete_objects(Bucket=self.bucket, Delete={"Objects": keys})

    def sync_dir(self, path: Path) -> None:
        """Control objects are in the bucket; nothing local to fsync that
        the data-plane writes haven't already handled."""

    # -------------------------------------------------------- data plane ----
    def _iter_keys(self, prefix: str):
        pages = self.c.get_paginator("list_objects_v2").paginate(
            Bucket=self.bucket, Prefix=prefix
        )
        for page in pages:
            for o in page.get("Contents", []):
                yield o

    def publish_dir(self, staging: Path, final: Path) -> None:
        """Upload every staged file to the bucket under the final prefix,
        then drop the local staging dir. Per-object PUTs — NON-atomic as
        a whole (the torn-publish window real s3a has), but the v-* dir
        is not in any MANIFEST until the flip, and a crash mid-upload
        leaves readers on the previous version with the partial prefix
        reclaimed by vacuum/next-commit GC."""
        staging, final = Path(staging), Path(final)
        fprefix = self._key(final)
        for src in sorted(p for p in staging.rglob("*") if p.is_file()):
            rel = src.relative_to(staging)
            if (
                self.fail_after_puts is not None
                and self.puts_done >= self.fail_after_puts
            ):
                raise RuntimeError(
                    f"injected object-store crash mid-publish ({self.puts_done}"
                    f" objects uploaded to {final})"
                )
            self.c.put_object(
                Bucket=self.bucket,
                Key=f"{fprefix}/{rel.as_posix()}",
                Body=src.read_bytes(),
            )
            self.puts_done += 1
        shutil.rmtree(staging, ignore_errors=True)

    def publish_file(self, tmp: Path, dst: Path) -> None:
        """Single-object upload: one atomic PUT (old-or-new visibility by
        the S3 contract), then drop the local temp."""
        self.c.put_object(
            Bucket=self.bucket, Key=self._key(dst), Body=Path(tmp).read_bytes()
        )
        Path(tmp).unlink(missing_ok=True)

    def data_dir_exists(self, path: Path) -> bool:
        prefix = self._key(path) + "/"
        for _ in self._iter_keys(prefix):
            return True
        return Path(path).is_dir()  # pre-backend local dirs (legacy-plain)

    def materialize_dir(self, path: Path) -> Path:
        """List the prefix (list-after-write), GET each object into the
        local cache dir. Committed version dirs are immutable, so a file
        already cached at the right size is not re-fetched; files the
        bucket no longer holds under the prefix are left alone (the local
        dir may be the write-side cache of an in-place append that
        ``upload_dir_delta`` is about to push)."""
        path = Path(path)
        prefix = self._key(path) + "/"
        for o in self._iter_keys(prefix):
            rel = o["Key"][len(prefix):]
            dst = path / rel
            if dst.is_file() and dst.stat().st_size == o["Size"]:
                continue
            dst.parent.mkdir(parents=True, exist_ok=True)
            body = self.c.get_object(Bucket=self.bucket, Key=o["Key"])["Body"]
            tmp = dst.parent / f"_get-{uuid.uuid4().hex[:8]}.tmp"
            with open(tmp, "wb") as f:
                shutil.copyfileobj(body, f)
            os.replace(tmp, dst)
        return path

    def dir_mtime(self, path: Path) -> float:
        """The newest Last-Modified under the prefix: a dir uploaded from
        another host has no local footprint to stat."""
        prefix = self._key(path) + "/"
        stamps = [o["LastModified"].timestamp() for o in self._iter_keys(prefix)]
        return max(stamps) if stamps else super().dir_mtime(path)

    def upload_dir_delta(self, path: Path) -> None:
        """Push local files under ``path`` the bucket does not hold (the
        in-place-append path: Spark appended part files into the local
        cache of a committed version). Per-object PUTs — a concurrent
        reader listing mid-upload can see a PARTIAL append (the direct-
        write-committer hazard on real s3a); append-heavy tables should
        use the staged exactly-once path, which publishes a whole new
        prefix before the flip."""
        path = Path(path)
        prefix = self._key(path) + "/"
        have = {
            o["Key"][len(prefix):]: o["Size"] for o in self._iter_keys(prefix)
        }
        for src in sorted(p for p in path.rglob("*") if p.is_file()):
            rel = src.relative_to(path).as_posix()
            if rel.startswith(("_", ".")) or "/_" in rel or "/." in rel:
                continue  # Spark _temporary debris stays local
            if have.get(rel) == src.stat().st_size:
                continue
            self.c.put_object(
                Bucket=self.bucket, Key=prefix + rel, Body=src.read_bytes()
            )

    def list_subdirs(self, base: Path) -> set[str]:
        """Bucket 'directories' under base (CommonPrefixes one level
        down), merged with any purely-local dirs (staging)."""
        out = super().list_subdirs(base)
        prefix = self._key(base) + "/"
        pages = self.c.get_paginator("list_objects_v2").paginate(
            Bucket=self.bucket, Prefix=prefix, Delimiter="/"
        )
        for page in pages:
            for cp in page.get("CommonPrefixes", []):
                out.add(cp["Prefix"][len(prefix):].rstrip("/"))
        return out

    def discover_bases(self, root: Path) -> set[Path]:
        """Vacuum sweep set: local staging parents PLUS every bucket key
        under the root prefix whose path contains a v-*/_staging-*/b-*
        segment — a table whose data lives only server-side has no local
        footprint to rglob."""
        out = super().discover_bases(root)
        prefix = self._key(root).rstrip("/") + "/"
        for o in self._iter_keys(prefix):
            parts = o["Key"].split("/")
            for i, seg in enumerate(parts[:-1]):
                if seg.startswith(("v-", "_staging-", "b-")):
                    out.add(Path("/" + "/".join(parts[:i])))
                    break
        return out
