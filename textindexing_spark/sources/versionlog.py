"""The one commit protocol every versioned store under ``sources/`` uses.

The reference gets snapshot isolation from a single state pointer that a
merge swaps under one write lock (ImmutableIndex.cs:92-106). Every store
here commits the same way over its root directory:

    <root>/LATEST             -- the pointer: newest published version
    <root>/v{N}.json          -- version N's publish record (its manifest,
                                 or ``{}`` for a store without one)
    <root>/v{N}/              -- a mkdir-claimed version slot (slot stores)
    <root>/v{N}_data_{id}/    -- one writer attempt's data (manifest stores)
    <root>/.commit_lock       -- the exclusive writer lock

A version is *published* once its record exists and LATEST has reached
it. A slot or data dir without a record — an in-flight writer's, or one
whose save failed — is left to the vacuum's grace window, even below
LATEST. The primitives are local-FS ones: os.mkdir is the
create-if-absent, fcntl.flock the lock, os.replace the atomic swap. On
an object store the pointer swap would be a conditional put.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import threading
import time
import uuid
from contextlib import contextmanager

# ``expect_prev`` default: publish without a compare-and-set
ANY = object()


class ConcurrentWriterError(RuntimeError):
    """Raised when a commit observes that another writer advanced LATEST
    since this commit read its base version — the loud alternative to
    silent last-writer-wins on the pointer."""


def _parse(name: str) -> tuple[int, str] | None:
    """(N, kind) for a name the log owns: ``v{N}.json`` is version N's
    "record", ``v{N}`` its "slot", ``v{N}_data_*`` attempt "data"; any
    other name (LATEST, temp files, a store's side tables) is None."""
    if not name.startswith("v"):
        return None
    record = name.endswith(".json")
    num, sep, _ = (name[1:-5] if record else name[1:]).partition("_data_")
    if not num.isdigit():
        return None
    return int(num), ("record" if record else "data" if sep else "slot")


class VersionLog:
    """Pointer, writer lock, slot claims, compare-and-set publish and
    reachability vacuum over one store root."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._held = threading.local()

    def latest(self) -> int | None:
        try:
            with open(f"{self.root}/LATEST") as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return None

    def versions(self) -> list[int]:
        """Published versions (a record at or below LATEST), ascending."""
        latest = self.latest()
        if latest is None:
            return []
        return sorted(p[0] for p in map(_parse, os.listdir(self.root))
                      if p is not None and p[1] == "record"
                      and p[0] <= latest)

    def manifest(self, version: int | None = None) -> dict | None:
        v = self.latest() if version is None else version
        if v is None:
            return None
        with open(f"{self.root}/v{v}.json") as fh:
            return json.load(fh)

    def swap(self, name: str, text: str) -> None:
        """Atomically replace ``<root>/<name>`` with ``text``."""
        tmp = f"{self.root}/{name}.tmp"
        with open(tmp, "w") as fh:
            fh.write(text)
        os.replace(tmp, f"{self.root}/{name}")

    @contextmanager
    def lock(self):
        """The exclusive writer lock. Readers never take it. Nested use
        in the thread that holds it takes no second flock: a second flock
        on a fresh fd of the same file would block this very process.
        Other threads and processes open their own fd and wait."""
        if getattr(self._held, "on", False):
            yield
            return
        with open(f"{self.root}/.commit_lock", "w") as fh:
            fcntl.flock(fh, fcntl.LOCK_EX)
            self._held.on = True
            try:
                yield
            finally:
                self._held.on = False

    def claim_slot(self) -> tuple[int, str]:
        """Claim the first free ``v{N}`` directory above LATEST. os.mkdir
        fails if a racing writer claimed v{N} first, and this writer then
        takes the next number, so two writers never interleave part files
        into one directory."""
        v = (self.latest() or 0) + 1
        while True:
            try:
                os.mkdir(f"{self.root}/v{v}")
                return v, f"{self.root}/v{v}"
            except FileExistsError:
                v += 1

    def attempt_dir(self, v: int) -> str:
        """A data dir unique to this attempt at version ``v``: racing
        writers never share one, and the loser's becomes an orphan for
        vacuum."""
        return f"{self.root}/v{v}_data_{uuid.uuid4().hex[:8]}"

    def publish(self, v: int, expect_prev=ANY,
                manifest: dict | None = None) -> int:
        """Publish version ``v``: write its record (the manifest, or
        ``{}``), then move LATEST to ``v``, only ever forward. With
        ``expect_prev`` (the version the caller read, None for an empty
        store) this is a compare-and-set under the writer lock: if LATEST
        moved since, it raises ConcurrentWriterError and writes
        nothing."""
        with self.lock():
            cur = self.latest()
            if expect_prev is not ANY and cur != expect_prev:
                prev = ("empty store" if expect_prev is None
                        else f"v{expect_prev}")
                raise ConcurrentWriterError(
                    f"LATEST moved from {prev} to v{cur} during this "
                    f"commit; replay the batch on the new version")
            self.swap(f"v{v}.json", json.dumps(manifest or {}))
            if cur is None or v > cur:
                self.swap("LATEST", str(v))
        return v

    def vacuum(self, referenced=lambda v: (), keep_last: int = 2,
               grace_s: float = 3600.0) -> list[str]:
        """Keep the newest ``keep_last`` published versions (clamped to
        >= 1) plus the version LATEST names, record or not, with their
        slots and every path under the root that ``referenced(v)`` names
        for one of them. Delete the other published records and slots at
        once, and every other slot, record or data dir once it is
        ``grace_s`` old: a younger one may belong to a writer whose
        publish has not landed yet. Returns deleted paths."""
        keep_last = max(int(keep_last), 1)
        deleted = []
        with self.lock():
            latest = self.latest()
            published = set(self.versions())
            keep = set(sorted(published)[-keep_last:])
            if latest is not None:
                keep.add(latest)
            live = {p for v in keep for p in referenced(v)}
            now = time.time()
            for name in sorted(os.listdir(self.root)):
                parsed = _parse(name)
                if parsed is None:
                    continue
                v, kind = parsed
                full = f"{self.root}/{name}"
                entry = kind != "data"
                if (entry and v in keep) or any(
                        p == full or p.startswith(full + "/")
                        for p in live):
                    continue
                if ((entry and v in published)
                        or now - os.path.getmtime(full) >= grace_s):
                    if os.path.isdir(full):
                        shutil.rmtree(full, ignore_errors=True)
                    else:
                        os.unlink(full)
                    deleted.append(full)
        return deleted
