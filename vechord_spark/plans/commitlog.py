"""The commit log every registry table is written through.

The reference engine gets multi-writer safety for free from PostgreSQL
— MVCC snapshots, sequences, unique indexes (vechord/registry.py binds
tables to Postgres storage; vechord/client.py:240-266 relies on them on
every insert/copy). A parquet lake has none of those, so this module
supplies the coordination layer the way Delta Lake / Iceberg do:

- Each table owns an append-only log directory ``<table>/_log`` of
  numbered manifest entries ``00000000.json``, ``00000001.json``, ...
  Entry N describes the transition from snapshot N-1 to snapshot N as
  file-level actions: ``{"add": [...], "remove": [...]}``.
- The CURRENT table state is the replay of all entries: the set of data
  files still live. Readers list the log, replay it, and scan exactly
  those files — a reader never sees a half-committed write, because
  uncommitted data files are simply not referenced yet.
- A writer commits by materializing its entry to a temp file and
  HARD-LINKING it into the next version slot. ``link(2)`` is atomic and
  fails with ``EEXIST`` if the slot is taken, so exactly one writer
  wins each version; losers re-validate against the delta and retry.
  (Spark's underscore convention hides ``_log`` from directory scans.)

Every write of ``VechordRegistry`` — append, upsert, delete, cascade,
backfill, compaction and pipeline publish — is one commit here, so a
rewrite (DELETE / compaction) is ONE atomic commit that adds the
survivor files and removes the old ones: there is no publish window.
Index layouts record the table version they cover; :meth:`TableLog.since`
names the files added after it, which is what an incremental extend
reads.

Old files stay on disk until :meth:`TableLog.vacuum`, which is what
makes ``snapshot(version=...)`` time travel work — again the Delta
semantics: vacuum trades history for space. The registry vacuums at a
fixed retention after every rewrite commit and in ``maintain()``.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass
from pathlib import Path
from typing import Iterable, Sequence

LOG_DIR = "_log"
_ENTRY_WIDTH = 8
# version races a writer may lose before its commit raises CommitConflict
MAX_COMMIT_RETRIES = 12


class CommitConflict(Exception):
    """Another writer claimed the version this commit targeted."""


@dataclass(frozen=True)
class Snapshot:
    """A consistent view of a table: the data files live at ``version``."""

    version: int
    files: tuple[str, ...]


class TableLog:
    """Append-only manifest log for one table directory."""

    def __init__(self, table_dir: str | Path) -> None:
        self.table_dir = Path(table_dir)
        self.log_dir = self.table_dir / LOG_DIR

    # ---------------------------------------------------------------- state
    def exists(self) -> bool:
        return self.log_dir.is_dir() and any(self._entry_paths())

    def _entry_paths(self) -> list[Path]:
        if not self.log_dir.is_dir():
            return []
        out = []
        for p in self.log_dir.iterdir():
            stem = p.name[: -len(".json")] if p.name.endswith(".json") else ""
            if len(stem) == _ENTRY_WIDTH and stem.isdigit():
                out.append(p)
        return sorted(out)

    def current_version(self) -> int:
        """Latest committed version, or -1 for an empty log."""
        paths = self._entry_paths()
        return int(paths[-1].stem) if paths else -1

    def entries(self) -> list[dict]:
        """All committed entries in version order (for ``history``)."""
        out = []
        for p in self._entry_paths():
            entry = json.loads(p.read_text())
            entry["version"] = int(p.stem)
            out.append(entry)
        return out

    def snapshot(self, version: int | None = None) -> Snapshot:
        """Replay the log up to ``version`` (default: latest).

        Replay is a driver-side set fold over manifest entries — O(log
        length), independent of data size; at 100 TB the log holds a few
        thousand small JSON files while the data spans millions of
        parquet files the reader never has to list.
        """
        return self._replay(upto=version)[0]

    def since(self, version: int) -> tuple[Snapshot, list[str], bool]:
        """``(latest, added, rewritten)``: the latest snapshot, the files
        added after ``version`` in commit order, and whether the added
        files may hold more than new rows — an entry after ``version``
        removed files (a rewrite), or ``version`` is not in the log.
        One pass over the log."""
        return self._replay(after=version)

    def _replay(
        self, upto: int | None = None, after: int | None = None
    ) -> tuple[Snapshot, list[str], bool]:
        """The one fold over the log: the snapshot at ``upto`` (default:
        latest) and, for ``after``, the files added after that version
        and whether an entry after it removed files (see :meth:`since`)."""
        live: dict[str, None] = {}  # insertion-ordered set
        latest, added, removed = -1, [], False
        for p in self._entry_paths():
            v = int(p.stem)
            if upto is not None and v > upto:
                break
            latest = v
            entry = json.loads(p.read_text())
            for f in entry.get("remove", ()):
                live.pop(f, None)
            for f in entry.get("add", ()):
                live[f] = None
            if after is not None and v > after:
                removed = removed or bool(entry.get("remove"))
                added.extend(entry.get("add", ()))
        if upto is not None and latest < upto:
            raise ValueError(f"version {upto} not committed (latest is {latest})")
        rewritten = after is not None and (removed or not -1 <= after <= latest)
        return Snapshot(version=latest, files=tuple(live)), added, rewritten

    # --------------------------------------------------------------- commit
    def try_commit(
        self,
        version: int,
        add: Sequence[str] = (),
        remove: Sequence[str] = (),
        op: str = "append",
    ) -> bool:
        """Atomically claim ``version``; False if another writer did.

        The entry is fully written to a temp file first, then hard-linked
        into the version slot, so a concurrent reader either sees no
        entry or a complete one — never a partial JSON.
        """
        if version != self.current_version() + 1:
            return False  # stale without touching the filesystem
        self.log_dir.mkdir(parents=True, exist_ok=True)
        dest = self.log_dir / f"{version:0{_ENTRY_WIDTH}d}.json"
        tmp = self.log_dir / f".tmp-{uuid.uuid4().hex}"
        tmp.write_text(
            json.dumps({"op": op, "add": list(add), "remove": list(remove)})
        )
        try:
            os.link(tmp, dest)
        except FileExistsError:
            return False
        finally:
            tmp.unlink(missing_ok=True)
        return True

    def commit_latest(
        self,
        add: Sequence[str] = (),
        remove: Sequence[str] = (),
        op: str = "append",
    ) -> int:
        """Commit file actions that do not depend on the snapshot they
        land on (publishing staged files, removing known files) at the
        next free version, retrying lost races; returns the version.
        Raises :class:`CommitConflict` after
        :data:`MAX_COMMIT_RETRIES` lost races."""
        for _ in range(MAX_COMMIT_RETRIES):
            version = self.current_version() + 1
            if self.try_commit(version, add=add, remove=remove, op=op):
                return version
        raise CommitConflict(
            f"{op} on {self.table_dir.name} lost {MAX_COMMIT_RETRIES} version races"
        )

    def bootstrap(self, data_files: Iterable[str]) -> Snapshot:
        """Adopt a legacy (directory-listed) table as version 0.

        Racing bootstrappers funnel through the same atomic version-0
        commit; the loser just reads the winner's snapshot.
        """
        if not self.exists():
            self.try_commit(0, add=sorted(data_files), op="bootstrap")
        return self.snapshot()

    # --------------------------------------------------------------- vacuum
    def vacuum(self, older_than_s: float = 0.0) -> list[str]:
        """Delete data files no longer referenced by the CURRENT snapshot.

        Removes rewrite history (time travel to pre-vacuum versions stops
        resolving) and any orphans left by crashed writers. The mtime
        guard keeps files younger than ``older_than_s`` so an in-flight
        writer's staged-but-uncommitted files survive.
        """
        import time

        live = set(self.snapshot().files)
        cutoff = time.time() - older_than_s
        deleted = []
        for p in self.table_dir.iterdir():
            if p.name.startswith(("_", ".")) or not p.is_file():
                continue
            if p.name in live:
                continue
            try:
                if p.stat().st_mtime <= cutoff:
                    p.unlink()
                    deleted.append(p.name)
            except OSError:
                continue  # concurrently vacuumed
        return sorted(deleted)
