"""Filesystem seam for the lake table's metadata/data-file bookkeeping.

The table format needs five primitives: list, exists, atomic-publish,
create-exclusive (the commit CAS point), and delete. POSIX supplies all of
them via rename/O_EXCL; object stores supply them differently (S3
conditional PUT ``If-None-Match:*``, GCS ``ifGenerationMatch=0``), so the
lake table never calls ``os`` directly — it goes through this interface.
Only the local implementation ships in this repo; an S3/GCS implementation
plugs in here without touching table logic.

Data files themselves are written by Spark (``df.write.parquet``) straight
to the store — this seam covers only manifest/pointer/GC operations and the
lineage spill (``expire_snapshots`` writes expired manifests' metrics rows
as JSON lines under ``_lineage/`` with ``write_atomic``), which are small
and driver-side.
"""

from __future__ import annotations

import fcntl
import os
import shutil
import uuid


class LocalFS:
    """POSIX implementation: atomic publish via rename, CAS via O_EXCL."""

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def listdir(self, path: str) -> list[str]:
        try:
            return os.listdir(path)
        except FileNotFoundError:
            return []

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def write_atomic(self, path: str, data: str) -> None:
        """Publish ``data`` at ``path`` atomically (readers never see a
        partial file). Object stores get this for free (PUT is atomic)."""
        tmp = f"{path}.tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(data)
        os.replace(tmp, path)

    def create_exclusive(self, path: str, data: str) -> None:
        """Create ``path`` iff absent — the optimistic-concurrency CAS
        point. Raises ``FileExistsError`` when another writer won.
        S3: conditional PUT If-None-Match:*; GCS: ifGenerationMatch=0.

        Content lands fully-written-or-not-at-all: the data is staged to a
        tmp file and linked into place (``os.link`` fails atomically with
        EEXIST), so a writer that dies mid-call can never leave a partial
        manifest at the CAS path — matching object stores, where a
        conditional PUT is all-or-nothing."""
        tmp = f"{path}.cas.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            f.write(data)
        try:
            os.link(tmp, path)
        finally:
            os.remove(tmp)
        # the content is small metadata; fsync-level durability is the
        # caller's policy (object-store PUTs are durable on 200)

    def publish_if_newer(self, path: str, version: int) -> bool:
        """Monotonic pointer publish: set ``path`` to ``version`` iff it
        currently holds a LOWER version (or doesn't exist). Returns whether
        the pointer moved.

        This closes the publish TOCTOU on the LATEST pointer: with a plain
        ``write_atomic``, a writer that read the current version, stalled,
        and then published could roll LATEST *backward* past commits that
        landed in between (e.g. writer A wins the CAS on vN+1 and stalls
        pre-publish; B's repair rolls LATEST to vN+1 and commits vN+2;
        A wakes and publishes vN+1 — readers regress to a stale snapshot).
        The read-compare-replace runs under an advisory lock on a sibling
        ``.lock`` file so it is atomic on this host; an object-store
        implementation gets the same guarantee from a generation-/ETag-
        conditional PUT loop (S3 If-Match, GCS ifGenerationMatch)."""
        lock = f"{path}.lock"
        fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            try:
                current = int(self.read_text(path).strip())
            except (FileNotFoundError, ValueError):
                current = -1
            if version <= current:
                return False
            self.write_atomic(path, str(version))
            return True
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def delete(self, path: str) -> None:
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        elif os.path.exists(path):
            os.remove(path)

    def mtime(self, path: str) -> float:
        """Last-modified time (epoch seconds). Object stores: the object's
        Last-Modified header / the max over a prefix listing."""
        return os.path.getmtime(path)
