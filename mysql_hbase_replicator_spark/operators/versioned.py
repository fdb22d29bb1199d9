"""One crash-safe versioned-store primitive, shared by the log-structured
keyed stores, the previous-snapshot store and the incremental dedup indexes.

A store root holds ``<kind>_v<K>`` directories and one JSON pointer doc
naming the current version of each kind. A rewrite lands in
``<kind>_v<K+1>``, the pointer flips in one ``os.replace``, and the sweep
keeps only the current version and the one just retired, so a lazy scan
that resolved the previous pointer finishes green (HBase's contract: a
compaction never fails a reader). A crash leaves the pointer on a
consistent version; a never-flipped dir is overwritten by the retried
rewrite or swept, so there is nothing to recover on start-up.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
from typing import Callable

POINTER_DOC = "_current.json"


class VersionedRoot:
    """The store at ``root``: its pointer doc ``doc_name`` and its
    ``<kind>_v<K>`` dirs. ``lock()`` flocks ``lock_path``; single-writer
    stores leave it unset."""

    def __init__(self, root: str, doc_name: str = POINTER_DOC, lock_path: str | None = None):
        self.root = root
        self.doc_path = os.path.join(root, doc_name)
        self.lock_path = lock_path

    def path(self, kind: str, ver: int) -> str:
        return os.path.join(self.root, f"{kind}_v{ver}")

    def doc(self) -> dict:
        """The pointer doc, ``{}`` when missing or unparseable."""
        try:
            with open(self.doc_path) as f:
                doc = json.load(f)
        except (OSError, ValueError):
            return {}
        return doc if isinstance(doc, dict) else {}

    def write(self, doc: dict) -> dict:
        """Replace the pointer doc atomically (tmp + ``os.replace``)."""
        os.makedirs(self.root, exist_ok=True)
        tmp = self.doc_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f)
        os.replace(tmp, self.doc_path)
        return doc

    def update(self, doc: dict, /, **fields) -> dict:
        """Write ``doc`` with ``fields`` set. A writer passes the doc it
        loaded under its lock, so the update costs no re-read."""
        return self.write({**doc, **fields})

    @contextlib.contextmanager
    def lock(self):
        """Exclusive flock: the one serialization point for writers; readers
        never take it. Not re-entrant (flock locks conflict across file
        descriptors even within one process)."""
        import fcntl

        os.makedirs(os.path.dirname(self.lock_path) or ".", exist_ok=True)
        fd = os.open(self.lock_path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def sweep(
        self,
        current: dict[str, int | None],
        on_drop: Callable[[str, int], None] | None = None,
    ) -> None:
        """Drop every dir of each kind in ``current`` except the current
        version and the one before it (a kind at None keeps nothing), so
        never-flipped orphans go too. ``on_drop(kind, ver)`` runs before a
        dir is removed. Best effort: a failure leaves garbage for the next
        sweep, never an inconsistent pointer."""
        keep = {
            (kind, int(ver) - back)
            for kind, ver in current.items()
            if ver is not None
            for back in (0, 1)
        }
        try:
            entries = os.listdir(self.root)
        except OSError:
            return
        for e in entries:
            kind, sep, ver = e.rpartition("_v")
            if not sep or kind not in current or not ver.isdigit() or (kind, int(ver)) in keep:
                continue
            if on_drop is not None:
                on_drop(kind, int(ver))
            shutil.rmtree(os.path.join(self.root, e), ignore_errors=True)
