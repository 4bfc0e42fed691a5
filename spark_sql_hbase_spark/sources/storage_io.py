"""Storage-IO primitives behind the keyed store's commit protocol.

The generational swap protocol (``keyed_parquet.py``) needs exactly
FOUR capabilities from the filesystem beyond plain read/list/write —
everything else (parquet scans, staging writes) already goes through
Spark/pyarrow, which are URI-abstracted.  This module names those four
as a small interface with the local/POSIX implementation the sandbox
contract targets, and documents how each maps onto HDFS and
object-store backends so the 100 TB deployment story is a bounded
porting exercise, not a rewrite:

1. **Writer mutex** (``writer_lock``): a per-table advisory mutex held
   only around flip/link critical sections (sub-second), whose hold
   must VANISH with a crashed holder (no stale-lock breaking
   protocol).
   - POSIX: ``flock`` on a never-unlinked lock file — the kernel
     releases a SIGKILLed holder's lock with its fd, and never
     unlinking keeps every locker on one inode (no remove/recreate
     window).
   - HDFS: lease-based exclusive ``create`` of a lock file (HDFS
     single-writer lease; NameNode lease expiry ≈ kernel fd release)
     or a ZooKeeper ephemeral znode (the HBase master/RegionServer
     pattern) — ephemerality supplies the crash-release property.
   - Object store (S3/GCS): conditional PUT (``If-None-Match: *`` /
     ``x-goog-if-generation-match: 0``) of a lock object carrying a
     TTL heartbeat, or a DynamoDB/etcd conditional write (the
     S3A S3Guard / Delta-on-S3 LogStore pattern).  S3 offers no
     kernel-release analogue, so crash-release comes from the TTL.

2. **Liveness probe** (``lock_is_live``): "does some live process hold
   this marker?" — behind build/append/lease markers so sweeps never
   reclaim an in-flight writer's staging.
   - POSIX: try-acquire the flock non-blocking; acquirable == dead.
   - HDFS: ``isFileClosed``/lease recovery state of the marker file.
   - Object store: marker object's heartbeat timestamp within TTL.

3. **Atomic rename** (``atomic_rename``): same-directory file rename
   that readers observe atomically (manifest flips, sidecar
   publication).
   - POSIX: ``os.replace`` (atomic within a filesystem).
   - HDFS: ``rename`` is atomic per NameNode operation.
   - Object store: NOT available natively — the manifest flip must
     become a conditional PUT of a versioned manifest object
     (compare-and-swap on object generation/ETag, exactly the CAS the
     protocol already expresses) rather than a rename.  This is the
     one primitive whose mapping CHANGES the call shape, which is why
     the protocol keeps every rename confined to metadata files.

4. **Link-or-copy** (``link_or_copy``): zero-copy carry of immutable
   data files between generation directories.
   - POSIX: ``os.link`` (hardlink) with a cross-device copy fallback.
   - HDFS: no hardlinks — either copy (correct, costs IO) or keep
     generation directories VIRTUAL by listing file references in
     the manifest instead of directory membership (the Iceberg/Delta
     answer).
   - Object store: same as HDFS — manifests-as-listing; "copy" via
     server-side COPY where genuinely needed.
   - The keyed store's own POSIX layout has no manifest mode: a
     generation's members are its directory's ``*.parquet``.  A port
     records each generation's member list (and, for carried files,
     the generation that physically holds them) in its span manifest,
     reads membership from there, and makes generation GC
     reference-aware.  A working implementation of that mapping on
     top of this protocol lived in ``keyed_parquet.py`` (the
     store's manifest mode) up to commit ``13f2a3e`` and was removed
     as unused on POSIX.  Its GC reclaimed whole directories, so it
     kept rewritten files alive until the next compaction: about 1.5x
     the hardlink layout's space on the kv_write workload.

``KeyedTableStore`` consumes these through its ``io`` attribute
(default :class:`LocalPosixIO`), so a deployment backend swaps one
object, not the protocol.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from contextlib import contextmanager


class LocalPosixIO:
    """The local/POSIX implementation — the store's documented sandbox
    contract (single host or a shared POSIX filesystem such as NFS with
    working advisory locks)."""

    # -- 1. writer mutex --------------------------------------------------
    @contextmanager
    def writer_lock(self, lock_path: str, timeout: float):
        """Hold an exclusive advisory lock on ``lock_path`` for the
        body.  The lock file is created if absent and NEVER unlinked
        (every locker must flock the same inode); a holder's crash
        releases the lock with its fd.  Raises ``TimeoutError`` when
        the lock cannot be acquired within ``timeout`` seconds — the
        caller decides whether that is retryable."""
        import fcntl

        deadline = time.monotonic() + timeout
        fd = os.open(lock_path, os.O_CREAT | os.O_WRONLY, 0o644)
        try:
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except OSError:
                    if time.monotonic() >= deadline:
                        raise TimeoutError(
                            f"timed out waiting for writer lock {lock_path}"
                        )
                    time.sleep(0.02)
            yield
        finally:
            os.close(fd)  # closing the fd releases the flock

    # -- 2. liveness probe ------------------------------------------------
    def lock_is_live(self, lock_path: str) -> bool:
        """True iff some live process/thread holds the lock on
        ``lock_path`` — the sweep-side liveness probe behind
        build/append/lease markers.  A missing file is not live."""
        import fcntl

        try:
            fd = os.open(lock_path, os.O_RDONLY)
        except OSError:
            return False
        try:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError:
                return True
            return False
        finally:
            os.close(fd)

    @contextmanager
    def held_marker(self, path: str):
        """Create ``path`` ALREADY lock-held (tmp + flock + rename so a
        prober never observes the marker unlocked while its owner
        lives), hold for the body, unlink on exit.  The writer-side
        half of :meth:`lock_is_live`."""
        import fcntl

        tmp = f"{path}.{uuid.uuid4().hex[:8]}"
        fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        try:
            os.write(fd, str(os.getpid()).encode())
            fcntl.flock(fd, fcntl.LOCK_EX)
            os.rename(tmp, path)
            tmp = None
            yield
        finally:
            try:
                os.remove(path if tmp is None else tmp)
            except OSError:
                pass
            os.close(fd)

    # -- 3. atomic rename -------------------------------------------------
    def atomic_rename(self, src: str, dst: str) -> None:
        """Atomically publish ``src`` at ``dst`` (same filesystem);
        readers see the old or the new content, never a partial one."""
        os.replace(src, dst)

    # -- 4. link-or-copy --------------------------------------------------
    def link_or_copy(self, src: str, dst: str) -> None:
        """Zero-copy hardlink carry with a cross-filesystem copy
        fallback (identical observable content either way)."""
        try:
            os.link(src, dst)
        except OSError:
            shutil.copy2(src, dst)
