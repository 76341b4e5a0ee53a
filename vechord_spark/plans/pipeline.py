"""Pipeline runtime: staged writes + atomic publish.

Reference semantics (vechord/registry.py:28-62 ``VechordPipeline.run``):
all steps share ONE Postgres transaction; intermediate rows are visible
only inside the transaction (``WHERE xmin = pg_current_xact_id()``,
vechord/client.py:221-222); any failure rolls back every step
(tests/test_table.py:261-298).

Spark has no MVCC, and doesn't need it: a stage's output DataFrame *is*
"only this run's rows" — lineage replaces the xmin trick (SURVEY §3.2).
What remains is atomic multi-table publish:

1. Each stage is a pure ``DataFrame -> DataFrame`` function.
2. Stage outputs destined for tables are written to a staging dir
   ``{table}/.staging/{run_id}`` (real files, so downstream stages can
   re-read if they want, and nothing is recomputed twice).
3. ``commit`` moves every staged directory's files into its table
   directory and commits them through the table's manifest log
   (plans/commitlog.py), one table after another; failure anywhere
   discards all staging and reverts the tables already committed with
   a compensating commit.

The ``inject``-style stage wrapper (reference vechord/registry.py:353-442)
maps a Python row function over an input table via mapInPandas.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable, Iterator, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from vechord_spark.plans.commitlog import TableLog
from vechord_spark.registry import VechordRegistry


@dataclass
class PipelineRun:
    """One transactional pipeline execution."""

    registry: VechordRegistry
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex)
    _staged: list[tuple[str, Path]] = field(default_factory=list)

    def staging_path(self, table: str) -> Path:
        return (
            Path(self.registry.table_path(table)).parent
            / ".staging"
            / self.run_id
            / table
        )

    def stage(self, table: str, df: DataFrame) -> DataFrame:
        """Write a stage output for ``table`` into this run's staging
        area and return a DataFrame reading it back (so downstream
        stages reuse materialized files instead of recomputing the
        upstream plan)."""
        spec = self.registry.tables[table]
        aligned = df.select(*spec.field_names)
        path = self.staging_path(table)
        aligned.write.mode("overwrite").parquet(str(path))
        self._staged.append((table, path))
        return self.registry.spark.read.schema(spec.struct_type()).parquet(str(path))

    def _manifest_path(self) -> Path:
        return Path(self.registry.base_path) / ".staging" / self.run_id / "COMMIT.json"

    def commit(self) -> None:
        """Publish every staged output into its table.

        Each table's staged part files move into its directory under
        run-id-unique names, then one log commit per table makes them
        visible, so a reader sees a table's batch whole or not at all.
        On any error, every table this run already committed is
        reverted by a compensating commit that removes its files, and
        its uncommitted files are deleted — all-or-nothing like the
        reference's transaction rollback (tests/test_table.py:261-298).

        Crash safety: the full target list is journaled to COMMIT.json
        BEFORE any file moves and deleted only after the last commit,
        so a process death mid-publish leaves a manifest naming exactly
        the files that may be published; ``recover_incomplete_runs``
        rolls such runs back to the pre-run state the same way. A
        manifest-free crash state needs no recovery.
        """
        import json

        plan: dict[str, list[tuple[Path, Path]]] = {}
        for table, path in self._staged:
            live = Path(self.registry.table_path(table))
            plan[table] = [
                (part, live / f"part-{self.run_id}-{i}{''.join(part.suffixes)}")
                for i, part in enumerate(sorted(path.glob("part-*")))
            ]
        targets = [target for moves in plan.values() for _, target in moves]
        manifest = self._manifest_path()
        manifest.parent.mkdir(parents=True, exist_ok=True)
        manifest.write_text(
            json.dumps({"run_id": self.run_id, "targets": [str(t) for t in targets]})
        )
        try:
            for table, moves in plan.items():
                log = self.registry._ensure_log(table)
                for part, target in moves:
                    shutil.move(str(part), str(target))
                    # a move keeps the stage's write time: restart the
                    # vacuum age so a concurrent vacuum keeps the file
                    os.utime(target)
                log.commit_latest(add=[target.name for _, target in moves])
        except Exception:
            _revert(targets)
            self.abort()
            raise
        manifest.unlink(missing_ok=True)
        self._cleanup()

    def abort(self) -> None:
        """Discard all staged output (rollback)."""
        self._cleanup()

    def _cleanup(self) -> None:
        root = Path(self.registry.base_path) / ".staging" / self.run_id
        if root.exists():
            shutil.rmtree(root)
        self._staged.clear()


def _revert(targets: Sequence[Path]) -> None:
    """Return the tables holding ``targets`` (part files one run
    published) to their state before that run: the committed ones
    leave their table in one compensating ``revert`` commit (the files
    stay for time travel until ``vacuum``), the others are deleted."""
    by_table: dict[Path, list[Path]] = {}
    for target in targets:
        by_table.setdefault(target.parent, []).append(target)
    for table_dir, files in by_table.items():
        log = TableLog(table_dir)
        live = set(log.snapshot().files) & {f.name for f in files}
        if live:
            log.commit_latest(remove=sorted(live), op="revert")
        for f in files:
            if f.name not in live:
                f.unlink(missing_ok=True)


def recover_incomplete_runs(registry: VechordRegistry) -> list[str]:
    """Roll back pipeline runs that died mid-publish.

    Scans staging for leftover COMMIT.json manifests (a completed
    commit deletes its manifest as the last step); for each, reverts
    the target part files the dead run published (:func:`_revert`: a
    compensating commit for the committed ones, deletion for the rest)
    and sweeps its staging dir — tables return to their pre-run state,
    matching abort() semantics. Returns the recovered run ids.
    """
    import json

    recovered: list[str] = []
    staging_root = Path(registry.base_path) / ".staging"
    for manifest in sorted(staging_root.glob("*/COMMIT.json")):
        try:
            info = json.loads(manifest.read_text())
        except (OSError, ValueError):
            continue
        _revert([Path(t) for t in info.get("targets", [])])
        shutil.rmtree(manifest.parent, ignore_errors=True)
        recovered.append(info.get("run_id", manifest.parent.name))
    return recovered


class VechordPipeline:
    """Composable multi-stage pipeline with all-or-nothing publish.

    Stages are ``fn(run: PipelineRun, upstream: DataFrame|None) ->
    DataFrame | None``; a stage persists its output to a table by
    calling ``run.stage(table, df)`` and returns what the next stage
    should see. Mirrors the reference's create_pipeline([...]).run()
    (vechord/registry.py:28-62) without the MVCC machinery.
    """

    def __init__(self, registry: VechordRegistry, stages: Sequence[Callable]) -> None:
        self.registry = registry
        self.stages = list(stages)

    def run(self, upstream: DataFrame | None = None) -> PipelineRun:
        run = PipelineRun(self.registry)
        try:
            for stage_fn in self.stages:
                upstream = stage_fn(run, upstream)
        except Exception:
            run.abort()
            raise
        run.commit()
        return run


def inject_stage(
    fn: Callable[[dict], list[dict]],
    output_schema: T.StructType,
    input_fields: Sequence[str] | None = None,
):
    """Reference ``@vr.inject`` equivalent (vechord/registry.py:353-442):
    wrap a per-row Python function (row dict -> list of output row
    dicts) as a DataFrame -> DataFrame transform via mapInPandas.

    The reference calls fn per row inside one process; here rows are
    Arrow batches across executors, and one input row may fan out to
    many output rows (the chunker pattern).
    """
    import pandas as pd

    cols = [f.name for f in output_schema.fields]

    def transform(df: DataFrame) -> DataFrame:
        src = df.select(*input_fields) if input_fields else df

        def _apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out_rows: list[dict] = []
                for row in pdf.to_dict("records"):
                    out_rows.extend(fn(row))
                yield pd.DataFrame(out_rows, columns=cols)

        return src.mapInPandas(_apply, output_schema)

    return transform
