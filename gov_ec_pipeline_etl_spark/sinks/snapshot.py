"""One publish protocol for every stored table.

The keyed upsert sink, the stored index data tables and the IVM store
all keep their rows the same way:

    table/
      snapshot_<12 hex>/...   immutable parquet, one directory per version
      _CURRENT                {"snapshot": ..., "previous": ..., **fields}
      _WRITER_LOCK            advisory flock; content is the holder's pid

A writer (:func:`writer`) takes the lock and reads the pointer ONCE —
that read is the compare-and-swap expectation. :meth:`Writer.publish`
then creates a fresh snapshot directory (optionally hard-linking the
current snapshot's files into it, a metadata-only O(files) copy), lets
the caller write into it, removes it if the caller raises, swaps the
pointer (caller fields ride in the same atomic replace) and GCs every
snapshot except the new one and the previous one. Readers resolve the
pointer once and scan that directory; deferred GC keeps it alive until
the NEXT publish, so a reader never sees a partial write and a scan that
started before a publish still finds its files.

:func:`replacing` (and :func:`write_json` on top of it) is the package's
one atomic file replace: the pointer record, the index ``_meta.json``,
the ETL change-detection state and ``cli pull`` all go through it.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import tempfile
import uuid

POINTER = "_CURRENT"
LOCK = "_WRITER_LOCK"


class ConcurrentWriterError(RuntimeError):
    """Two writers raced on one table: the second either found the
    advisory lock held by a live process, or (if the lock was broken)
    the pointer moved between its read and its swap. The losing write
    fails CLEANLY — the table still holds exactly the winner's state,
    never a silent last-writer-wins overwrite that drops a write.
    Retry it; every writer here is idempotent, so the retry is safe."""


@contextlib.contextmanager
def replacing(path: str):
    """Yield a unique temp path beside ``path``; a clean exit atomically
    replaces ``path`` with it, a failure removes it. Readers never see a
    torn file, and concurrent writers never share a temp name."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path) or ".", suffix=".tmp")
    os.close(fd)
    try:
        yield tmp
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def write_json(path: str, obj) -> None:
    """Atomically replace ``path`` with ``obj`` as JSON. Serializes
    first, so a value ``json`` cannot serialize leaves the old file
    intact and no temp file behind."""
    payload = json.dumps(obj, indent=2, sort_keys=True)
    with replacing(path) as tmp, open(tmp, "w", encoding="utf-8") as f:
        f.write(payload)


@contextlib.contextmanager
def _writer_lock(table_dir: str):
    """Advisory exclusive writer lock via ``fcntl.flock``.

    Lock ownership lives in the KERNEL on the open file description,
    which eliminates the entire failure taxonomy an existence-based
    lockfile scheme has to mitigate case by case:

    - a crashed writer's lock is released automatically — no stale-lock
      detection, no pid-liveness heuristics, no breaking protocol;
    - acquisition is one atomic syscall (``LOCK_EX | LOCK_NB``) — no
      read-then-break TOCTOU, and no instant where the lock path is
      vacant mid-handover;
    - the lockfile's CONTENT (owner pid) is diagnostics only, so a
      garbled or empty file can never cause a wrong decision.

    The lockfile is created once and never removed (removing it would
    reintroduce a race: a contender holding an flock on an unlinked
    inode while a newcomer locks the recreated file — two holders).
    flock is same-host scope (historically unreliable over NFS); on a
    shared filesystem the CAS in :func:`swap_pointer` remains the
    authoritative cross-host guard."""
    import fcntl

    lock = os.path.join(table_dir, LOCK)
    fd = os.open(lock, os.O_CREAT | os.O_RDWR, 0o644)
    try:
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            owner = ""
            with contextlib.suppress(OSError):
                owner = os.read(fd, 64).decode(errors="replace").strip()
            raise ConcurrentWriterError(
                f"writer lock {lock} held by live pid {owner or 'unknown'}; "
                "concurrent writers on one table are serialized — retry"
            ) from None
        with contextlib.suppress(OSError):
            os.ftruncate(fd, 0)
            os.write(fd, str(os.getpid()).encode())
        try:
            yield
        finally:
            with contextlib.suppress(OSError):
                os.ftruncate(fd, 0)  # clear the diagnostic pid
    finally:
        os.close(fd)  # closing the fd releases the flock


def pointer(table_dir: str) -> dict | None:
    """The table's pointer record, or None if nothing was published."""
    ptr = os.path.join(table_dir, POINTER)
    if not os.path.exists(ptr):
        return None
    with open(ptr, encoding="utf-8") as f:
        return json.load(f)


def _snapshot_path(table_dir: str, rec: dict | None) -> str | None:
    if not rec:
        return None
    path = os.path.join(table_dir, rec["snapshot"])
    return path if os.path.exists(path) else None


def current(table_dir: str) -> str | None:
    """Path of the current snapshot, or None if nothing was published."""
    return _snapshot_path(table_dir, pointer(table_dir))


def require(table_dir: str) -> str:
    """Path of the current snapshot of a table that must exist. A table
    without a pointer (never built, or written before tables published
    through a pointer) fails here, loudly, rather than scanning nothing."""
    snap = current(table_dir)
    if snap is None:
        raise FileNotFoundError(
            f"{table_dir} has no published snapshot (no readable {POINTER} "
            "pointer): the table was never built, or was built by a version "
            "that wrote it in place — rebuild it"
        )
    return snap


def read(spark, table_dir: str, schema: str | None = None):
    """The current snapshot of a table that must exist, as a DataFrame."""
    reader = spark.read.schema(schema) if schema else spark.read
    return reader.parquet(require(table_dir))


def swap_pointer(
    table_dir: str, snap_name: str, expect: str | None, fields: dict | None = None
) -> dict:
    """Atomically re-point the table at ``snap_name``; returns the new
    pointer record.

    ``expect`` (a snapshot name or None) is the snapshot the writer
    READ: if the pointer no longer names it, another writer committed
    meanwhile and publishing would silently drop that write — the
    half-built snapshot is removed and the swap fails with
    ``ConcurrentWriterError`` instead (compare-and-swap under the
    advisory lock; the residual check-to-replace window exists only
    when the lock was wrongly broken). ``previous`` records the LINEAGE
    (the snapshot this write read), so a CDC diff compares against the
    true predecessor, never an mtime guess."""
    cur = (pointer(table_dir) or {}).get("snapshot")
    if cur != expect:
        shutil.rmtree(os.path.join(table_dir, snap_name), ignore_errors=True)
        raise ConcurrentWriterError(
            f"pointer moved during the write (read {expect!r}, now {cur!r}); "
            "another writer committed — this write was NOT published, retry"
        )
    rec = {**(fields or {}), "snapshot": snap_name, "previous": expect}
    write_json(os.path.join(table_dir, POINTER), rec)
    return rec


def _gc(table_dir: str, keep: set) -> None:
    """Deferred GC: the just-replaced snapshot is in ``keep`` and
    survives until the next publish, so readers that resolved the old
    pointer can finish. Also collects strays a hard-killed writer left."""
    for name in os.listdir(table_dir):
        if name.startswith("snapshot_") and name not in keep:
            shutil.rmtree(os.path.join(table_dir, name), ignore_errors=True)


class Writer:
    """A table held under its writer lock. ``record`` and ``current``
    are the pointer as this writer read it (the CAS expectation); after
    a publish they name the snapshot it published."""

    def __init__(self, table_dir: str, swap):
        self.table_dir = table_dir
        self.record = pointer(table_dir) or {}
        self.current = _snapshot_path(table_dir, self.record)
        self._swap = swap

    @contextlib.contextmanager
    def publish(self, *, link: bool = False, fields: dict | None = None):
        """Yield a fresh snapshot directory path for the caller to fill;
        on a clean exit swap the pointer to it and GC. With ``link`` the
        directory starts as a hard-linked copy of the current snapshot
        (the caller then adds or removes files, never rewrites one)."""
        expect = self.record.get("snapshot")
        name = f"snapshot_{uuid.uuid4().hex[:12]}"
        path = os.path.join(self.table_dir, name)
        try:
            if link:
                shutil.copytree(
                    self.current or require(self.table_dir), path,
                    copy_function=os.link,
                )
            yield path
        except BaseException:
            shutil.rmtree(path, ignore_errors=True)
            raise
        self.record = self._swap(self.table_dir, name, expect=expect, fields=fields)
        self.current = path
        _gc(self.table_dir, keep={name, expect})


@contextlib.contextmanager
def writer(table_dir: str, swap=swap_pointer):
    """Take ``table_dir``'s writer lock and read its pointer once.
    ``swap`` is the pointer swap publishes go through (the sink names
    its own module-level one)."""
    os.makedirs(table_dir, exist_ok=True)
    with _writer_lock(table_dir):
        yield Writer(table_dir, swap)


def write(frame, table_dir: str, partition_by=(), append: bool = False) -> None:
    """Publish ``frame`` as the table's next snapshot: a fresh one, or
    with ``append`` the current snapshot's files plus the frame's."""
    with writer(table_dir) as w, w.publish(link=append) as path:
        out = frame.write.mode("append" if append else "overwrite")
        if partition_by:
            out = out.partitionBy(*partition_by)
        out.parquet(path)
