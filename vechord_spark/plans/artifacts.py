"""Disk-persisted derived-artifact layouts: build once, load in any
later session, rebuild only when the source data (or build params)
change.

This is the suite-side twin of the registry's index coverage records
(registry.py:_record_coverage): an artifact directory carries a
``meta.json`` recording the exact source-file set (path, size,
mtime_ns) plus the build parameters, and ``is_valid`` accepts the
layout only when both still match. The write is atomic — the build
lands in a ``.tmp.{pid}`` sibling and a single ``os.replace`` publishes
it — so a crashed build can never be mistaken for a finished one, and
two racing builders resolve to one winner (the loser's tmp dir is
discarded).

The first user is the incremental corpus funnel (suite.py ``_inc_seen``):
its day-1 artifacts — seen-corpus fingerprint table, MinHash band
table, bloom bits — are exactly what a production curation wave
persists at day-1 close so the day-2 batch pays O(batch), not
O(corpus). Mirrors the reference's insert-time contract where new rows
probe persisted indexes rather than rebuilding them
(vechord/pipeline.py:394-442).
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path
from typing import Callable, Mapping, Sequence

from pyspark.sql import SparkSession

_META = "meta.json"

# process-wide monotonic build counter (see load_or_build's tmp naming)
import itertools as _itertools

_BUILD_SEQ = _itertools.count()


def _rm_if_owner_dead(d: Path) -> None:
    """Delete a ``*.tmp.{pid}`` / ``*.stale.{pid}`` sibling iff the pid
    that owns it is gone (kill -0 probe). Unparseable suffixes are left
    alone rather than guessed at."""
    try:
        # suffix is `{pid}` (pre-r10 dirs) or `{pid}-{seq}` (r10+:
        # the seq disambiguates two stores in ONE process racing on
        # the same artifact name — pid-only tmp names collide and the
        # later builder would rmtree the earlier one's in-flight dir)
        pid = int(d.name.rsplit(".", 1)[-1].split("-", 1)[0])
    except ValueError:
        return
    try:
        os.kill(pid, 0)
        return  # owner alive: an in-flight build, not an orphan
    except ProcessLookupError:
        pass
    except PermissionError:
        return  # alive under another uid
    shutil.rmtree(d, ignore_errors=True)


def warehouse_root(spark: SparkSession) -> Path:
    """The session warehouse dir as a local path — the engine's one
    writable, session-independent scratch root (bucketed tables and
    rollups already live here)."""
    wh = spark.conf.get("spark.sql.warehouse.dir")
    return Path(wh.removeprefix("file:"))


def source_ledger(paths: Sequence[str | Path]) -> dict[str, list[int]]:
    """``{file: [size, mtime_ns]}`` over every data file under the
    given files/dirs — a cheap (listing-only, no scan) identity of the
    source data. mtime_ns is included deliberately: a rewritten file
    with an identical size must invalidate the artifact."""
    out: dict[str, list[int]] = {}
    for p in paths:
        p = Path(p)
        files = sorted(x for x in p.rglob("*") if x.is_file()) if p.is_dir() else [p]
        for f in files:
            if f.name.startswith(("_", ".")):
                continue  # _SUCCESS / .crc markers churn without data change
            st = f.stat()
            out[str(f)] = [st.st_size, st.st_mtime_ns]
    return out


class ArtifactStore:
    """Named artifact directories under a root, each published
    atomically with a source+params ledger.

    ``load_or_build(name, sources, params, build)``: if ``{root}/{name}``
    exists and its ledger matches, return its path without building;
    otherwise call ``build(tmp_path)`` (which writes the artifact
    content into ``tmp_path``), stamp the ledger, and atomically publish.
    """

    def __init__(self, spark: SparkSession, root: str | Path | None = None):
        self.spark = spark
        self.root = Path(root) if root is not None else warehouse_root(spark)

    def path(self, name: str) -> Path:
        return self.root / name

    def is_valid(
        self,
        name: str,
        sources: Mapping[str, list[int]],
        params: Mapping[str, object],
    ) -> bool:
        mp = self.path(name) / _META
        if not mp.exists():
            return False
        try:
            meta = json.loads(mp.read_text())
        except (OSError, json.JSONDecodeError):
            return False
        return meta.get("sources") == dict(sources) and meta.get("params") == dict(
            params
        )

    def _sweep_orphans(self, name: str) -> None:
        """Remove ``{name}.stale.{pid}`` / ``{name}.tmp.{pid}`` siblings
        left by a builder that CRASHED mid-publish (a crash between the
        two os.replace calls leaves a .stale dir only its own — now
        dead — pid would otherwise clean; ADVICE r9). A sibling is
        swept only when its owning pid is no longer alive, so a live
        concurrent builder's tmp dir is never pulled out from under it."""
        if not self.root.is_dir():
            return
        for d in self.root.glob(f"{name}.stale.*"):
            _rm_if_owner_dead(d)
        for d in self.root.glob(f"{name}.tmp.*"):
            _rm_if_owner_dead(d)

    def load_or_build(
        self,
        name: str,
        source_paths: Sequence[str | Path],
        params: Mapping[str, object],
        build: Callable[[Path], None],
    ) -> Path:
        """Concurrency contract: publishes are atomic (single
        ``os.replace``) so a reader never sees a HALF-built layout —
        but when a stale layout is REPLACED, cross-process readers can
        observe ``final`` momentarily absent between the two replaces
        (stale-aside, then tmp-in). Same-process callers are safe (this
        method re-validates); independent readers should treat a
        missing dir as "rebuild in progress" and re-call load_or_build,
        which either finds the winner or rebuilds."""
        final = self.path(name)
        self._sweep_orphans(name)
        sources = source_ledger(source_paths)
        if self.is_valid(name, sources, params):
            return final
        # pid-AND-sequence suffix: two builders in the same process
        # (two registries on one warehouse, nested or threaded) must
        # not share a tmp dir — a pid-only name lets the second
        # builder rmtree the first's in-flight build
        tmp = final.with_name(f"{final.name}.tmp.{os.getpid()}-{next(_BUILD_SEQ)}")
        tmp.mkdir(parents=True)
        try:
            build(tmp)
            # ledger last: a crash before this line leaves no meta.json,
            # so the half-built tmp can never validate
            (tmp / _META).write_text(
                json.dumps({"sources": sources, "params": dict(params)})
            )
            try:
                if final.exists():
                    # stale (ledger-mismatched) prior build, or a racing
                    # builder published first — replace wholesale. A
                    # crash between the two replaces leaves no final dir
                    # and no meta.json, so the next call rebuilds —
                    # self-healing, never a half-valid layout.
                    stale = final.with_name(
                        f"{final.name}.stale.{os.getpid()}-{next(_BUILD_SEQ)}"
                    )
                    os.replace(final, stale)
                    os.replace(tmp, final)
                    shutil.rmtree(stale, ignore_errors=True)
                else:
                    os.replace(tmp, final)
            except OSError:
                # lost the publish race (ENOTEMPTY onto the winner's
                # dir, or the dir vanished under the exists() check):
                # if the winner's layout validates, ours is redundant —
                # the documented loser-is-discarded outcome
                if self.is_valid(name, sources, params):
                    return final
                raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return final
