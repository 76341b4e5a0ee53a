"""Namespace/table registry over Parquet storage.

The reference's ``VechordRegistry`` (vechord/registry.py) binds declared
Table classes to physical PostgreSQL tables named
``{namespace}_{classname}`` and exposes insert/select/remove/search. This
registry binds :class:`~vechord_spark.spec.TableSpec` objects to Parquet
directories ``{base_path}/{namespace}_{table}`` and exposes the same
surface as DataFrame programs.

Design notes for scale:

- ``select`` builds a declarative plan (filter + project + limit) so
  Catalyst pushes predicates and prunes columns down to the parquet scan.
- ``delete`` is a filtered rewrite (Parquet has no in-place delete); at
  cluster scale the same API maps to Delta ``DELETE WHERE``.
- FK cascade (reference vechord/spec.py:135-180, ON DELETE CASCADE) is an
  explicit left-anti join of each child table against surviving parent
  keys — a broadcast join when the parent key set is small.
- UNIQUE (reference vechord/client.py:146-156) is an ingest-time
  anti-join check + duplicate drop, not a storage constraint.
"""

from __future__ import annotations

import contextlib
import shutil
from functools import reduce

import pandas as pd  # module-top: pandas-UDF string type hints resolve here
from pathlib import Path
from typing import Any, Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from vechord_spark.errors import (
    MaintenanceBusy,
    SchemaError,
    TableNotFound,
    UniqueViolation,
)
from vechord_spark.spec import AnyOf, Column, TableSpec


def _cast_target(dt: T.DataType) -> T.DataType:
    """The declared type with nullability constraints relaxed.

    ``cast`` is a physical-type conversion — Spark refuses to cast e.g.
    ``array<float>`` (nullable elements) to ``array<float>`` (non-null
    elements) even though the data is identical, which broke appends of
    DDL-built frames into Vector columns. Nullability is a *constraint*,
    enforced by the spec checks, not by the cast."""
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_cast_target(dt.elementType), containsNull=True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _cast_target(dt.keyType), _cast_target(dt.valueType), True
        )
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _cast_target(f.dataType), True)
                for f in dt.fields
            ]
        )
    return dt


def build_predicate(df: DataFrame, conditions: Mapping[str, Any]):
    """Compile a query-by-example mapping into a Column predicate.

    Mirrors the reference predicate builder (vechord/client.py:184-196):
    ``None`` -> IS NULL, ``AnyOf`` -> IN-list, everything else ->
    equality; multiple conditions conjoin with AND. The reference's
    query surface has no OR / range / LIKE; richer predicates are
    available through plain ``df.filter``.
    """
    preds = []
    for key, value in conditions.items():
        if value is None:
            preds.append(F.col(key).isNull())
        elif isinstance(value, AnyOf):
            preds.append(F.col(key).isin(list(value.values)))
        else:
            preds.append(F.col(key) == F.lit(value))
    if not preds:
        return F.lit(True)
    return reduce(lambda a, b: a & b, preds)


class VechordRegistry:
    """Bind table specs to Parquet paths under one namespace.

    Reference: ``VechordRegistry(namespace, url)``
    (vechord/registry.py:64-101); namespace switching for multi-tenancy
    (vechord/client.py:40-51) is just constructing another registry.

    ``concurrency`` selects the writer protocol:

    - ``"single"`` (default): raw parquet directory appends; one writer
      per table (the documented contract — cheapest, no log).
    - ``"optimistic"``: every write goes through a per-table manifest
      commit log (:mod:`vechord_spark.plans.commitlog`) with atomic
      version claims — concurrent appenders both land, unique checks
      and serial-id seeding re-validate against the winner's delta on
      conflict, DELETE/compact become single-commit atomic rewrites,
      and readers get snapshot isolation plus ``load(name, version=)``
      time travel. This is the capability the reference inherits from
      Postgres MVCC/sequences (vechord/registry.py:64-101) and a lake
      gets from Delta/Iceberg.
    """

    def __init__(
        self,
        namespace: str,
        base_path: str,
        spark: SparkSession,
        concurrency: str = "single",
    ) -> None:
        if concurrency not in ("single", "optimistic"):
            raise ValueError(f"unknown concurrency mode {concurrency!r}")
        self.namespace = namespace
        self.base_path = Path(base_path)
        self.spark = spark
        self.concurrency = concurrency
        self.tables: dict[str, TableSpec] = {}
        # (table, column) -> INSERT-time default for ALTER-added columns
        self._column_defaults: dict[tuple[str, str], Any] = {}
        # (table, layout kind) -> (generation, handle): every read-side
        # layout load opens the layout once per on-disk generation
        # (see _layout_handle)
        self._layout_handles: dict[tuple[str, str], tuple[tuple, Any]] = {}

    # ------------------------------------------------------------------ DDL
    def table_path(self, name: str) -> str:
        return str(self.base_path / f"{self.namespace}_{name}")

    def register(self, spec: TableSpec) -> None:
        """Declare a table (reference create_table_if_not_exists,
        vechord/client.py:112-128). Storage is created lazily on first
        append; an empty registered table reads as an empty DataFrame.

        Columns added by :meth:`alter_table_add_column` in ANY session
        are replayed from the table's persisted ``_alters.json``
        overlay on top of the declared spec, so a registry created
        from yesterday's code still sees (and writes) today's evolved
        schema."""
        self.tables[spec.name] = spec
        self._apply_alter_overlay(spec.name)

    # ------------------------------------------------- schema evolution
    def _alters_path(self, name: str) -> Path:
        # leading underscore: Spark's file listing treats _-prefixed
        # entries as metadata and never feeds them to the parquet reader
        return Path(self.table_path(name)) / "_alters.json"

    def _apply_alter_overlay(self, name: str) -> None:
        import json

        p = self._alters_path(name)
        if not p.exists():
            return
        spec = self.tables[name]
        have = {c.name for c in spec.columns}
        for ent in json.loads(p.read_text()):
            if ent["column"] in have:
                continue
            spec.add_column(Column(ent["column"], ent["dtype"]))
            have.add(ent["column"])
            if ent.get("insert_default") is not None:
                self._column_defaults[(name, ent["column"])] = ent[
                    "insert_default"
                ]

    def _evolved_columns(self, name: str) -> set[str]:
        """Names of ALTER-added columns (the persisted ``_alters.json``
        overlay). These are TABLE-resident by contract: the IVF/
        multivec layouts denormalize the row payload at build/extend
        time, so an evolved column can be absent from pre-alter layout
        files entirely and goes silently STALE when
        :meth:`backfill_column` rewrites history — the index search
        paths therefore serve evolved return fields from the table
        itself (:meth:`_serve_evolved_fields`), never from the layout
        copy."""
        import json

        p = self._alters_path(name)
        if not p.exists():
            return set()
        try:
            return {e["column"] for e in json.loads(p.read_text())}
        except ValueError:
            return set()

    def _plan_evolved_fields(self, name: str, fields: list[str], pk):
        """Split requested return fields for an index-path search:
        ``(layout_fields, evolved, forced_pk)`` — evolved columns are
        excluded from the layout projection (they may not exist in
        pre-alter layout files) and the pk rides along when needed as
        the join-back key."""
        evolved = [f for f in fields if f in self._evolved_columns(name)]
        if not evolved:
            return fields, [], False
        if pk is None:
            raise SchemaError(
                f"{name}: returning ALTER-added columns from an index "
                "search needs a primary key to join them back from the "
                "table"
            )
        layout_fields = [f for f in fields if f not in set(evolved)]
        forced_pk = pk.name not in layout_fields
        if forced_pk:
            layout_fields = layout_fields + [pk.name]
        return layout_fields, evolved, forced_pk

    def _serve_evolved_fields(
        self,
        name: str,
        out: DataFrame,
        fields: list[str],
        evolved: list[str],
        forced_pk: bool,
    ) -> DataFrame:
        """Join ALTER-added return fields back from the TABLE onto the
        (bounded, <= queries x k) index-search result. Scale shape: one
        broadcast-SEMI scan of the table narrows it to the matched pks
        (the broadcast carries only result keys), then the tiny matched
        frame broadcasts onto the results — the table is never
        shuffled. Values are always current (a later backfill_column
        is visible immediately), unlike the layout's build-time
        snapshot."""
        pk = self._spec(name).primary_key.name
        table_side = self.load(name).select(pk, *evolved)
        matched = table_side.join(
            F.broadcast(out.select(pk).distinct()), pk, "left_semi"
        )
        joined = out.join(F.broadcast(matched), pk, "left")
        extras = [
            c
            for c in out.columns
            if c not in fields and not (forced_pk and c == pk)
        ]
        return joined.select(*fields, *extras)

    def alter_table_add_column(
        self,
        name: str,
        column: str,
        dtype: str,
        insert_default=None,
    ) -> None:
        """ALTER TABLE ADD COLUMN — metadata-only schema evolution, the
        lakehouse way: NO file is rewritten. :meth:`load` already reads
        with the spec's explicit schema, so parquet fills the new
        column with NULL for every pre-alter file; rows inserted
        after the alter carry real values (``insert_default`` fills
        rows that omit the key — a column default, applied at INSERT
        time only, never rewriting history). To materialize a value
        into existing rows, run :meth:`backfill_column` (one journaled
        rewrite). The alter persists in the table's ``_alters.json``
        overlay and replays in every later session's :meth:`register`.

        Added columns are plain nullable scalars/arrays/json —
        constraints (primary key, unique, serial) and engine vector
        types belong in the declared spec, where their index and
        enforcement machinery is wired from row one."""
        import json

        spec = self._spec(name)
        if any(c.name == column for c in spec.columns):
            raise SchemaError(f"{name} already has a column {column!r}")
        if not isinstance(dtype, str):
            raise ValueError("alter_table_add_column takes a dtype STRING")
        low = dtype.lower()
        if "vector" in low:
            raise ValueError(
                "adding engine vector columns via ALTER is not supported: "
                "declare them in the TableSpec (their index machinery is "
                "wired at registration), backfill, then build the index"
            )
        spec.add_column(Column(column, dtype))
        if insert_default is not None:
            self._column_defaults[(name, column)] = insert_default
        p = self._alters_path(name)
        p.parent.mkdir(parents=True, exist_ok=True)
        ents = json.loads(p.read_text()) if p.exists() else []
        ents.append(
            {"column": column, "dtype": dtype, "insert_default": insert_default}
        )
        p.write_text(json.dumps(ents))

    def backfill_column(self, name: str, column: str, value) -> int:
        """Materialize ``value`` into every existing NULL of an added
        column — the explicit, journaled rewrite
        :meth:`alter_table_add_column` deliberately does not do.
        Returns the number of rows filled."""
        spec = self._spec(name)
        if not any(c.name == column for c in spec.columns):
            raise SchemaError(f"{name} has no column {column!r}")
        filled = [0]

        def build(df: DataFrame) -> DataFrame | None:
            filled[0] = df.filter(F.col(column).isNull()).count()
            if filled[0] == 0:
                return None
            return df.withColumn(
                column, F.coalesce(F.col(column), F.lit(value))
            )

        if self.concurrency == "optimistic":
            self._optimistic_rewrite(name, build, op="backfill")
            return filled[0]
        out = build(self.load(name))
        if out is not None:
            self._rewrite(name, out)
        return filled[0]

    def _spec(self, name: str) -> TableSpec:
        if name not in self.tables:
            raise TableNotFound(f"{name} not registered in namespace {self.namespace}")
        return self.tables[name]

    def drop(self, name: str) -> None:
        """DROP TABLE (reference vechord/client.py:382-388) — including
        every derived index layout (:meth:`_layouts`). The reference
        gets index-drops-with-table from Postgres; without this a
        re-created same-name table would LOAD the stale layouts and
        probe search would serve the dropped rows."""
        spec = self._spec(name)
        path = Path(self.table_path(name))
        if path.exists():
            shutil.rmtree(path)
        for layout in self._layouts(name).values():
            shutil.rmtree(layout)
        self._column_defaults = {
            k: v for k, v in self._column_defaults.items() if k[0] != name
        }
        for kind in self._LAYOUT_DIRS:
            self._layout_handles.pop((name, kind), None)
        del self.tables[spec.name]

    def clear_storage(self, drop_table: bool = True) -> None:
        """Drop every registered table (vechord/registry.py:444-454)."""
        for name in list(self.tables):
            if drop_table:
                self.drop(name)

    # ----------------------------------------------------------------- read
    def load(self, name: str, version: int | None = None) -> DataFrame:
        """Read ``name`` as a DataFrame.

        Tables with a commit log (written under ``concurrency=
        "optimistic"``) read the manifest SNAPSHOT — exactly the files
        the latest commit references, so a concurrent writer's staged
        files are invisible until its commit lands. ``version`` time-
        travels to an earlier snapshot (valid until ``vacuum`` reclaims
        its files). Log-less tables read the directory as before.
        """
        from vechord_spark.plans.commitlog import TableLog

        spec = self._spec(name)
        path = Path(self.table_path(name))
        log = TableLog(path)
        if log.exists() or (self.concurrency == "optimistic" and path.exists()):
            snap = self._ensure_log(name).snapshot(version)
            return self._read_snapshot(name, snap)
        if version is not None:
            raise ValueError(
                f"load(version=) needs a commit log; {name} has none "
                "(write it through a concurrency='optimistic' registry)"
            )
        if not path.exists():
            # a missing live dir is only legitimate for a never-written
            # table; if a rewrite intent references it, the process died
            # inside the publish window — recover instead of silently
            # serving an empty table
            self._recover_rewrite(name)
        if not path.exists():
            return self.spark.createDataFrame([], spec.struct_type())
        return self.spark.read.schema(spec.struct_type()).parquet(str(path))

    # ---------------------------------------------- optimistic-commit layer
    def _ensure_log(self, name: str):
        """The table's commit log, bootstrapping legacy directories:
        pre-log parquet files are adopted as version 0 through the same
        atomic commit every writer uses, so racing bootstrappers agree."""
        from vechord_spark.plans.commitlog import TableLog

        table_dir = Path(self.table_path(name))
        log = TableLog(table_dir)
        if not log.exists():
            files = []
            if table_dir.exists():
                files = [
                    str(p.relative_to(table_dir))
                    for p in table_dir.rglob("*.parquet")
                    if p.is_file()
                    and not any(
                        part.startswith(("_", "."))
                        for part in p.relative_to(table_dir).parts
                    )
                ]
            table_dir.mkdir(parents=True, exist_ok=True)
            log.bootstrap(files)
        return log

    def _read_snapshot(self, name: str, snap) -> DataFrame:
        spec = self._spec(name)
        if not snap.files:
            return self.spark.createDataFrame([], spec.struct_type())
        base = Path(self.table_path(name))
        paths = [str(base / f) for f in snap.files]
        return self.spark.read.schema(spec.struct_type()).parquet(*paths)

    def _stage_data_files(self, name: str, df: DataFrame) -> list[str]:
        """Write ``df`` executor-side and move its part files into the
        table directory under commit-unique names. The files are INERT
        until a manifest commit references them — an uncommitted stage
        is invisible to snapshot readers and reclaimed by ``vacuum``."""
        import uuid

        spec = self._spec(name)
        run = uuid.uuid4().hex
        tmp = self.base_path / ".staging" / f"commit-{run}"
        df.select(*spec.field_names).write.mode("overwrite").parquet(str(tmp))
        table_dir = Path(self.table_path(name))
        table_dir.mkdir(parents=True, exist_ok=True)
        names = []
        for i, p in enumerate(sorted(tmp.glob("*.parquet"))):
            new_name = f"part-{run}-{i:05d}.parquet"
            p.rename(table_dir / new_name)
            names.append(new_name)
        shutil.rmtree(tmp, ignore_errors=True)
        return names

    def _discard_staged(self, name: str, files: Sequence[str]) -> None:
        base = Path(self.table_path(name))
        for f in files:
            (base / f).unlink(missing_ok=True)

    def table_version(self, name: str) -> int:
        """Latest committed version (-1 if the table has no log)."""
        from vechord_spark.plans.commitlog import TableLog

        self._spec(name)
        return TableLog(Path(self.table_path(name))).current_version()

    def history(self, name: str) -> list[dict]:
        """The table's commit entries in version order (op + file
        actions) — the observability surface of the manifest log."""
        from vechord_spark.plans.commitlog import TableLog

        self._spec(name)
        return TableLog(Path(self.table_path(name))).entries()

    def vacuum(self, name: str, older_than_s: float = 0.0) -> list[str]:
        """Reclaim data files the current snapshot no longer references
        (rewrite history + crashed writers' orphans). Time travel only
        reaches versions whose files survive vacuum — Delta semantics."""
        from vechord_spark.plans.commitlog import TableLog

        self._spec(name)
        log = TableLog(Path(self.table_path(name)))
        if not log.exists():
            return []
        return log.vacuum(older_than_s)

    def _recover_rewrite(self, name: str) -> bool:
        """Roll a crashed ``_rewrite`` forward or back from its intent
        journal. Forward when the staged survivors still exist (finish
        the publish), back when only the trash copy does (restore the
        old table). Returns True if a recovery happened."""
        import json

        live = Path(self.table_path(name))
        for intent_path in sorted(
            (self.base_path / ".staging").glob("rewrite-*/INTENT.json")
        ):
            try:
                intent = json.loads(intent_path.read_text())
            except (OSError, ValueError):
                continue
            if intent.get("table") != name or live.exists():
                continue
            staging = Path(intent["staging"])
            trash = Path(intent["trash"])
            if staging.exists():
                live.parent.mkdir(parents=True, exist_ok=True)
                staging.rename(live)  # roll forward: survivors win
            elif trash.exists():
                live.parent.mkdir(parents=True, exist_ok=True)
                trash.rename(live)  # roll back: old table restored
            else:
                continue
            intent_path.unlink(missing_ok=True)
            for scratch in (staging.parent, trash.parent):
                if scratch.exists():
                    shutil.rmtree(scratch, ignore_errors=True)
            return True
        return False

    # ---------------------------------------------------------------- write
    def append(self, name: str, df: DataFrame, check_unique: bool = True) -> int:
        """Append a DataFrame batch (the Spark unit of ingest — the
        reference's binary COPY, vechord/client.py:253-266).

        Unique-indexed columns are verified with an anti-join against the
        existing table and a within-batch ``dropDuplicates`` pre-check;
        a collision raises :class:`UniqueViolation` like the reference
        (tests/test_table.py:142-151).

        Concurrency contract depends on the registry mode:

        - ``"single"`` (default): auto-increment ids seed from the
          current ``max(id)`` and unique checks probe the pre-append
          snapshot, so two concurrent appends can both pass and collide
          — run ingest jobs per-table serialized (the reference gets
          this from Postgres sequences/unique indexes).
        - ``"optimistic"``: the append stages its files, then claims the
          next manifest version atomically; a loser re-seeds serial ids
          / re-checks uniques against the winner's delta and retries,
          so concurrent appends serialize correctly without locks.
        """
        spec = self._spec(name)
        if self.concurrency == "optimistic":
            return self._optimistic_append(name, df, check_unique)
        prepared = self._prepare_batch(spec, df, self.load(name))
        uniques = spec.unique_columns() if check_unique else []
        if uniques:
            self._check_unique(name, prepared, self.load(name), uniques)
        n = prepared.count()
        prepared.write.mode("append").parquet(self.table_path(name))
        return n

    def _prepare_batch(
        self, spec: TableSpec, df: DataFrame, existing: DataFrame
    ) -> DataFrame:
        """Cast a batch to the declared schema, assigning serial ids
        past ``existing``'s max (sequence semantics — reference Postgres
        BIGSERIAL, vechord/spec.py:213-255: generated ids are unique and
        increase across appends, gaps allowed; assignment is
        ``monotonically_increasing_id`` so it stays executor-side)."""
        ai = spec.auto_increment_column
        if ai is not None and ai.name not in df.columns:
            start = (existing.agg(F.max(ai.name)).first()[0] or 0) + 1
            df = df.withColumn(
                ai.name,
                (F.lit(start) + F.monotonically_increasing_id()).cast(
                    ai.spark_type
                ),
            )
        missing = [c for c in spec.field_names if c not in df.columns]
        if missing:
            raise SchemaError(f"append to {spec.name} missing columns {missing}")
        return df.select(
            *[F.col(c.name).cast(_cast_target(c.spark_type)) for c in spec.columns]
        )

    def _check_unique(
        self,
        name: str,
        batch: DataFrame,
        existing: DataFrame,
        uniques: Sequence[str],
        check_batch: bool = True,
    ) -> None:
        """Anti-join unique probe (reference relies on Postgres unique
        indexes, vechord/client.py:146-156; tests/test_table.py:142-151
        pins the violation behavior)."""
        for col in uniques:
            if check_batch:
                batch_dups = (
                    batch.groupBy(col)
                    .count()
                    .filter(F.col("count") > 1)
                    .limit(1)
                    .count()
                )
                if batch_dups:
                    raise UniqueViolation(f"duplicate {col} within batch for {name}")
            clash = (
                batch.select(col)
                .join(existing.select(col), on=col, how="left_semi")
                .limit(1)
                .count()
            )
            if clash:
                raise UniqueViolation(f"duplicate {col} appending to {name}")

    _MAX_COMMIT_RETRIES = 12

    def _optimistic_append(self, name: str, df: DataFrame, check_unique: bool) -> int:
        """Stage-then-commit append with conflict re-validation.

        The staged files are derived from the snapshot read at staging
        time. Losing the version race means another commit landed in
        between; the loser's data files stay valid UNLESS the batch
        content depended on that snapshot — serial-id seeding (restage
        from the new max) or unique checks (re-probe only the winner's
        DELTA files, not the whole table). Plain appends just retry the
        version claim with the same files.
        """
        from vechord_spark.plans.commitlog import CommitConflict

        spec = self._spec(name)
        ai = spec.auto_increment_column
        generates_ids = ai is not None and ai.name not in df.columns
        uniques = spec.unique_columns() if check_unique else []
        log = self._ensure_log(name)
        staged: list[str] | None = None
        base_version = -1
        n = 0
        for _ in range(self._MAX_COMMIT_RETRIES):
            snap = log.snapshot()
            if staged is None:
                existing = self._read_snapshot(name, snap)
                prepared = self._prepare_batch(spec, df, existing)
                if uniques:
                    self._check_unique(name, prepared, existing, uniques)
                n = prepared.count()
                staged = self._stage_data_files(name, prepared)
                base_version = snap.version
            elif snap.version != base_version:
                if generates_ids:
                    # ids were seeded from a stale max — restage
                    self._discard_staged(name, staged)
                    staged = None
                    continue
                if uniques:
                    delta_files = [
                        f
                        for e in log.entries()
                        if e["version"] > base_version
                        for f in e.get("add", ())
                    ]
                    if delta_files:
                        delta = self._read_snapshot(
                            name, type(snap)(snap.version, tuple(delta_files))
                        )
                        try:
                            self._check_unique(
                                name, prepared, delta, uniques, check_batch=False
                            )
                        except UniqueViolation:
                            self._discard_staged(name, staged)
                            raise
                base_version = snap.version
            if log.try_commit(snap.version + 1, add=staged):
                return n
        if staged is not None:
            self._discard_staged(name, staged)
        raise CommitConflict(
            f"append to {name} lost {self._MAX_COMMIT_RETRIES} version races"
        )

    def upsert(self, name: str, df: DataFrame, key: str | None = None) -> int:
        """MERGE-style keyed upsert: rows in ``df`` replace existing rows
        with the same ``key`` (default: the primary key) and new keys
        append — the reference's entity/relation upsert-merge shape
        (vechord/registry.py:120-153 ON CONFLICT DO UPDATE) as a batch
        operation. Returns the number of rows written.

        Plan: survivors = existing LEFT ANTI batch-keys (a broadcast
        anti-join when the batch is small), unioned with the batch. In
        ``"optimistic"`` mode the whole merge is ONE atomic manifest
        commit (retried against the winner's snapshot on a version
        race); in single-writer mode it goes through the journaled
        rewrite. Serial ids and unique checks are bypassed — the merge
        key IS the identity, matching ON CONFLICT semantics.
        """
        spec = self._spec(name)
        key_col = key or (spec.primary_key.name if spec.primary_key else None)
        if key_col is None:
            raise SchemaError(f"upsert into {name} needs a key (no primary key)")
        spec.column(key_col)  # validate
        missing = [c for c in spec.field_names if c not in df.columns]
        if missing:
            raise SchemaError(f"upsert into {name} missing columns {missing}")
        batch = df.select(
            *[F.col(c.name).cast(_cast_target(c.spark_type)) for c in spec.columns]
        )
        dups = (
            batch.groupBy(key_col).count().filter(F.col("count") > 1).limit(1).count()
        )
        if dups:
            raise UniqueViolation(f"duplicate {key_col} within upsert batch for {name}")
        n = batch.count()

        def build(existing: DataFrame) -> DataFrame:
            survivors = existing.join(
                batch.select(key_col), on=key_col, how="left_anti"
            )
            return survivors.unionByName(batch)

        if self.concurrency == "optimistic":
            self._optimistic_rewrite(name, build, op="upsert")
        else:
            self._rewrite(name, build(self.load(name)))
        return n

    def insert_rows(self, name: str, rows: Iterable[Mapping[str, Any]]) -> int:
        """Insert Python rows (reference single-row insert,
        vechord/client.py:240-251 — batched here, per-row inserts do not
        exist at Spark scale)."""
        from vechord_spark.spec import MultiVector, SparseVector, Vector

        spec = self._spec(name)

        def _coerce(col, v):
            # hand-written rows naturally mix int/float literals; Spark's
            # strict verifier rejects `0` in a float array, so coerce
            # engine vector types (and float scalars) up front.
            if v is None:
                return None
            if isinstance(col.engine_type, Vector):
                return [float(x) for x in v]
            if isinstance(col.engine_type, MultiVector):
                return [[float(x) for x in inner] for inner in v]
            if isinstance(col.engine_type, SparseVector):
                # accept {"indices": [...], "values": [...]} or a
                # (indices, values) pair — normalized to the struct
                if isinstance(v, Mapping):
                    idx, vals = v["indices"], v["values"]
                else:
                    idx, vals = v
                if len(idx) != len(vals):
                    raise SchemaError(
                        f"sparse vector for {col.name!r}: indices and "
                        f"values lengths differ ({len(idx)} vs {len(vals)})"
                    )
                dim = col.engine_type.dim
                idx = [int(i) for i in idx]
                if any(i < 0 or i >= dim for i in idx):
                    raise SchemaError(
                        f"sparse vector for {col.name!r}: index out of "
                        f"range for SparseVector({dim})"
                    )
                return (idx, [float(x) for x in vals])
            if col.spark_type.typeName() in ("double", "float"):
                return float(v)
            if (
                isinstance(col.dtype, str)
                and col.dtype.lower() == "json"
                and isinstance(v, (dict, list))
            ):
                # the reference accepts Jsonb(dict) (test_table.py:172-178);
                # without this a dict lands as Python repr — single
                # quotes, unreadable by get_json_object/from_json
                import json

                return json.dumps(v, sort_keys=True)
            return v

        rows = list(rows)
        cols = list(spec.columns)
        ai = spec.auto_increment_column

        def _cell(c, r):
            # ALTER-added columns may carry an INSERT-time default:
            # it fills only rows that OMIT the key (an explicit None
            # stays NULL — the Postgres DEFAULT contract)
            if c.name not in r:
                dflt = self._column_defaults.get((name, c.name))
                return _coerce(c, dflt) if dflt is not None else None
            return _coerce(c, r[c.name])

        def _frame(subset, columns):
            full = [{c.name: _cell(c, r) for c in columns} for r in subset]
            return self.spark.createDataFrame(
                full, T.StructType([c.to_field() for c in columns])
            )

        if ai is not None:
            # per-row sequence-default semantics (reference: Postgres
            # fills only the omitted values, vechord/spec.py:213-255):
            # rows with explicit serial values insert as-is, rows
            # omitting them get generated ids — a mixed batch splits
            # into both appends (explicit first, so generation seeds
            # past them)
            explicit = [r for r in rows if r.get(ai.name) is not None]
            implicit = [r for r in rows if r.get(ai.name) is None]
            n = 0
            if explicit:
                n += self.append(name, _frame(explicit, cols))
            if implicit:
                no_ai = [c for c in cols if c.name != ai.name]
                n += self.append(name, _frame(implicit, no_ai))
            return n
        return self.append(name, _frame(rows, cols))

    # --------------------------------------------------------------- select
    def select_by(
        self,
        name: str,
        conditions: Mapping[str, Any] | None = None,
        fields: Sequence[str] | None = None,
        limit: int | None = None,
    ) -> DataFrame:
        """Projection + conjunctive predicate + LIMIT
        (reference select, vechord/client.py:198-228 /
        vechord/registry.py:155-188). Declarative: filter and projection
        reach the parquet scan as PushedFilters/ReadSchema."""
        spec = self._spec(name)
        df = self.load(name)
        if conditions:
            df = df.filter(build_predicate(df, conditions))
        if fields is not None:
            for f_ in fields:
                spec.column(f_)  # validate
            df = df.select(*fields)
        if limit is not None:
            df = df.limit(limit)
        return df

    # --------------------------------------------------------------- delete
    def remove_by(
        self,
        name: str,
        conditions: Mapping[str, Any] | None = None,
        cascade: bool = True,
    ) -> int:
        """DELETE WHERE via filtered rewrite (reference
        vechord/client.py:268-283), plus explicit ON DELETE CASCADE into
        registered children (reference relies on Postgres FKs,
        vechord/spec.py:173; here it is an anti-join per child table)."""
        spec = self._spec(name)
        if self.concurrency == "optimistic":
            removed_holder = [0]

            def build(df: DataFrame) -> DataFrame | None:
                pred = build_predicate(df, conditions or {})
                removed_holder[0] = df.filter(pred).count()
                if removed_holder[0] == 0:
                    return None  # nothing to delete at this snapshot
                return df.filter(~pred)

            self._optimistic_rewrite(name, build, op="delete")
            if removed_holder[0] and cascade:
                self._cascade_from(spec)
            return removed_holder[0]
        df = self.load(name)
        pred = build_predicate(df, conditions or {})
        removed = df.filter(pred).count()
        if removed == 0:
            return 0
        survivors = df.filter(~pred)
        self._rewrite(name, survivors)
        if cascade:
            self._cascade_from(spec)
        return removed

    def _optimistic_rewrite(self, name: str, build, op: str = "rewrite"):
        """Replace ``name``'s contents with ``build(current_snapshot_df)``
        in ONE atomic manifest commit (add survivors, remove every prior
        file) — no publish window, unlike the rename-based single-writer
        ``_rewrite``. A lost version race re-runs ``build`` against the
        winner's snapshot, so a DELETE that races an append also deletes
        matching late-arriving rows instead of resurrecting them.
        ``build`` may return None to signal a no-op at this snapshot.
        """
        from vechord_spark.plans.commitlog import CommitConflict

        log = self._ensure_log(name)
        for _ in range(self._MAX_COMMIT_RETRIES):
            snap = log.snapshot()
            out = build(self._read_snapshot(name, snap))
            if out is None:
                return snap
            staged = self._stage_data_files(name, out)
            if log.try_commit(
                snap.version + 1, add=staged, remove=list(snap.files), op=op
            ):
                return log.snapshot()
            self._discard_staged(name, staged)
        raise CommitConflict(
            f"{op} of {name} lost {self._MAX_COMMIT_RETRIES} version races"
        )

    def _rewrite(self, name: str, df: DataFrame) -> None:
        """Replace ``name``'s storage with ``df`` distributedly.

        Survivors are written executor-side to a run-scoped staging
        directory (the live files ``df`` reads from stay intact during
        the write), then published with two directory renames — no row
        ever passes through the driver, so the rewrite scales with the
        cluster, not driver memory.

        Crash safety: the publish window between the two renames is NOT
        atomic — for its duration the live path is absent. An intent
        journal (INTENT.json, written before the first rename) makes
        every crash state recoverable: ``load`` detects the missing
        live dir, rolls FORWARD from the surviving staging copy or BACK
        from the trash copy (``_recover_rewrite``), and never silently
        serves an empty table. A crash before the journal write leaves
        the old table untouched. On object stores without atomic
        renames, point ``base_path`` at a posix-rename filesystem or
        front the table with a manifest catalog; the journal protocol
        is the same.
        """
        import json
        import uuid

        spec = self._spec(name)
        run_id = uuid.uuid4().hex
        staging = self.base_path / ".staging" / f"rewrite-{run_id}" / name
        df.select(*spec.field_names).write.mode("overwrite").parquet(str(staging))
        live = Path(self.table_path(name))
        # table metadata rides INSIDE the table dir (the _alters.json
        # schema-evolution overlay): carry it into the staging copy, or
        # the dir swap below would silently revert the evolved schema
        # for every future session (the overlay replays at register())
        alters = live / "_alters.json"
        if alters.exists():
            shutil.copy2(alters, staging / "_alters.json")
        trash = self.base_path / ".trash" / f"rewrite-{run_id}" / name
        intent_path = staging.parent / "INTENT.json"
        intent_path.write_text(
            json.dumps(
                {
                    "table": name,
                    "staging": str(staging),
                    "live": str(live),
                    "trash": str(trash),
                }
            )
        )
        if live.exists():
            trash.parent.mkdir(parents=True, exist_ok=True)
            live.rename(trash)
        staging.rename(live)
        intent_path.unlink(missing_ok=True)
        for scratch in (staging.parent, trash.parent):
            if scratch.exists():
                shutil.rmtree(scratch)

    def compact(
        self,
        name: str,
        target_file_bytes: int = 128 << 20,
        shuffle: bool = False,
        order_by: Sequence[str] | None = None,
        zorder_by: Sequence[str] | None = None,
    ) -> dict[str, int]:
        """Rewrite ``name``'s storage into ~``target_file_bytes`` files.

        Batch appends accumulate one file set per batch; at cluster
        scale thousands of small parquet files throttle every scan on
        file-open overhead and defeat row-group pruning. Compaction is
        the lakehouse OPTIMIZE: read, ``coalesce`` to
        ceil(bytes / target) partitions (no shuffle — partitions merge
        in place), publish through the crash-recoverable ``_rewrite``
        journal. Pass ``shuffle=True`` to ``repartition`` instead when
        the batches were skewed and merged files must come out even.

        ``order_by`` — OPTIMIZE ... ORDER BY: range-repartition on the
        named columns and sort within partitions, so every output file
        covers a disjoint slice of the sort key and parquet footer
        min/max statistics (zone maps) let a range predicate SKIP whole
        files and row groups — the 100 TB lever for time/id-range
        scans. ``zorder_by`` — OPTIMIZE ZORDER BY: for MULTI-column
        predicates a plain sort only prunes its leading column; the
        Z-curve interleaves the bits of per-column quantile-bucket
        ranks (boundaries from one approxQuantile pass, so skew cannot
        starve buckets) and clusters on that key, keeping every named
        column's per-file min/max range narrow simultaneously. Both
        are pure layout changes: row set, schema, and every reader are
        unchanged.

        Index-ledger contract: a rewrite invalidates every index's
        files.json (the ledger can no longer prove append-only
        history), which would push the NEXT extend_* through the
        O(table) pk anti-join. Compaction therefore (a) runs each
        existing index's extend_* FIRST — O(appended data) while the
        old ledger is still valid, bringing coverage current — then
        (b) under the single-writer contract, snapshots a fresh
        files.json against the compacted file set (row-identical to
        the pre-compact table, so coverage is unchanged by
        construction). Day-N extends stay O(appended data) across any
        number of compactions. Under ``concurrency="optimistic"`` step
        (b) is SKIPPED: a lost version race re-runs the rewrite on a
        concurrent writer's snapshot, so the compacted files may hold
        rows no index has seen — the next extend's anti-join re-adopts
        the ledger safely instead.

        Returns ``{"files_before", "files_after", "bytes"}``. No-op
        (zeros) for an empty table.
        """
        self._spec(name)
        ledgered = self._extend_indexes_for_rewrite(name)
        live = Path(self.table_path(name))
        if self.concurrency == "optimistic" and live.exists():
            stats: dict[str, int] = {}

            def build(df: DataFrame) -> DataFrame | None:
                snap = self._ensure_log(name).snapshot()
                sizes = [
                    (live / f).stat().st_size
                    for f in snap.files
                    if (live / f).exists()
                ]
                stats["files_before"] = len(sizes)
                stats["bytes"] = sum(sizes)
                if not sizes:
                    return None
                n_out = max(1, -(-stats["bytes"] // max(1, target_file_bytes)))
                return self._compact_transform(
                    df, n_out, shuffle, order_by, zorder_by
                )

            final = self._optimistic_rewrite(name, build, op="compact")
            stats["files_after"] = len(final.files) if stats.get("bytes") else 0
            # NO ledger snapshot in optimistic mode: a lost version race
            # re-runs build on the WINNER's snapshot, folding rows a
            # concurrent writer appended AFTER the pre-rewrite extends
            # into the compacted files — snapshotting would claim those
            # never-indexed rows as covered forever. The ledger is left
            # invalid; the next extend_* pays one pk anti-join, indexes
            # whatever is new, and re-adopts the ledger safely.
            return {
                "files_before": stats.get("files_before", 0),
                "files_after": stats.get("files_after", 0),
                "bytes": stats.get("bytes", 0),
            }
        if not live.exists():
            self._recover_rewrite(name)
        if not live.exists():
            return {"files_before": 0, "files_after": 0, "bytes": 0}
        files = [p for p in live.rglob("*.parquet") if p.is_file()]
        total = sum(p.stat().st_size for p in files)
        n_out = max(1, -(-total // max(1, target_file_bytes)))
        df = self._compact_transform(
            self.load(name), n_out, shuffle, order_by, zorder_by
        )
        self._rewrite(name, df)
        after = sum(1 for p in live.rglob("*.parquet") if p.is_file())
        self._snapshot_index_ledgers(name, ledgered, self.load(name))
        return {
            "files_before": len(files),
            "files_after": after,
            "bytes": total,
        }

    def _compact_transform(
        self,
        df: DataFrame,
        n_out: int,
        shuffle: bool,
        order_by: Sequence[str] | None,
        zorder_by: Sequence[str] | None,
    ) -> DataFrame:
        """The compaction layout transform: plain coalesce/repartition,
        ORDER BY range-clustering, or Z-ORDER clustering (see
        :meth:`compact`). The clustering key never reaches the files —
        the staging writes project ``spec.field_names`` after the sort
        (narrow projection, partitioning and sort order preserved)."""
        if order_by and zorder_by:
            raise ValueError("pass order_by or zorder_by, not both")
        if order_by:
            cols = [F.col(c) for c in order_by]
            return df.repartitionByRange(n_out, *cols).sortWithinPartitions(
                *cols
            )
        if zorder_by:
            if len(zorder_by) < 2:
                raise ValueError(
                    "zorder_by needs >= 2 columns (one column is just "
                    "order_by)"
                )
            keyed = df.withColumn(
                "__zkey", self._zorder_key(df, list(zorder_by))
            )
            return keyed.repartitionByRange(
                n_out, F.col("__zkey")
            ).sortWithinPartitions("__zkey")
        return df.repartition(n_out) if shuffle else df.coalesce(n_out)

    _ZORDER_BITS = 6  # 64 quantile buckets per column

    def _zorder_key(self, df: DataFrame, cols: list[str]):
        """Z-curve (Morton) key column: per column, one approxQuantile
        pass yields 2^bits - 1 bucket boundaries (equi-DEPTH, so a
        skewed column cannot starve buckets the way equi-width would);
        each value maps to its bucket rank via a bounded when-chain
        (whole-stage codegen, no UDF), and the per-column ranks
        interleave bit-by-bit into one long. Sorting by the key keeps
        EVERY named column's per-file min/max range narrow at once —
        the multi-dimensional zone-map property ORDER BY only gives
        its leading column. NULLs sort to bucket 0."""
        bits = self._ZORDER_BITS
        nq = (1 << bits) - 1
        quantiles = [i / (nq + 1) for i in range(1, nq + 1)]
        bucket_cols = []
        for c in cols:
            cuts = df.select(F.col(c).cast("double").alias("__c")).stat.approxQuantile(
                "__c", quantiles, 0.001
            )
            # strictly increasing cut set (duplicates collapse when the
            # column has < 2^bits distinct values)
            uniq: list[float] = []
            for v in cuts:
                if not uniq or v > uniq[-1]:
                    uniq.append(v)
            expr = F.lit(0)
            for i, cut in enumerate(uniq, start=1):
                expr = F.when(
                    F.col(c).cast("double") > F.lit(cut), F.lit(i)
                ).otherwise(expr)
            bucket_cols.append(expr.cast("long"))
        zkey = F.lit(0).cast("long")
        for b in range(bits):
            for ci, bc in enumerate(bucket_cols):
                bit = F.shiftright(bc, b).bitwiseAND(F.lit(1).cast("long"))
                zkey = zkey.bitwiseOR(
                    F.shiftleft(bit, b * len(bucket_cols) + ci)
                )
        return zkey

    def compact_index(self, name: str) -> dict[str, int]:
        """Small-file hygiene for the INDEX layouts — the index-side
        twin of :meth:`compact`: every ``extend_*`` appends one file
        set per day (postings/doclen for BM25; per-centroid-partition
        appends for the clustered IVF copies), so a year of daily
        extends leaves the index scan paying thousands of file opens.

        Each row directory of every built layout (:meth:`_layouts`)
        is rewritten in place with the SAME layout (the IVF/multivec
        data keeps ``partitionBy(centroid_id)`` — probe pruning
        untouched; BM25 postings/doclen coalesce flat; sparse postings
        stay range-clustered on ``idx``), via a staged write +
        directory swap (:meth:`_swap_index_dir`). Row sets are
        unchanged, so search results are identical (test-pinned) and
        the TABLE file ledger is untouched (files.json tracks the
        table's files, not the index's). Single-writer maintenance,
        like the extends. Returns per-directory file counts after,
        keyed ``<kind>_<dir>_files`` (e.g. ``ivf_data_files``).

        Crash contract: the directory swap (live renamed away,
        replacement renamed in) is journaled — a crash inside the
        window leaves a ``.<dir>.swapintent.json`` next to the
        directory, and :meth:`_recover_index_swap` (run by
        :meth:`_layouts` and :meth:`_open_layout`, so every load,
        search, extend, maintenance primitive and ``index_stats``)
        rolls FORWARD from the completed replacement or BACK from the
        preserved original once the journal is abandoned (its writer's
        lock released); the index is never silently lost."""
        out: dict[str, int] = {}
        for kind, ipath in self._layouts(name).items():
            dirs = self._LAYOUT_DIRS[kind]
            if not (ipath / dirs[0]).exists():
                continue
            # each layout's rewrite runs under its maintenance lock: a
            # concurrent extend appending into a directory mid-swap
            # would land rows in the renamed-away copy and lose them
            with self._maintenance_lock(ipath):
                for d in dirs:
                    out[f"{kind}_{d}_files"] = self._swap_index_dir(
                        ipath / d, kind
                    )
        return out

    def _swap_index_dir(self, d: Path, kind: str, keep=None) -> int:
        """Rewrite one index row directory in place, keeping its
        layout kind's file layout: IVF cells one file set per
        ``centroid_id`` partition, sparse postings range-clustered on
        ``idx`` (footer pruning is their whole point), BM25 tables
        coalesced flat. ``keep`` optionally filters the rows
        (``DataFrame -> DataFrame``; the postings ghost sweep). The
        staged copy swaps in under the ``.<dir>.swapintent.json``
        journal (see :meth:`compact_index`). Returns the file count
        after. The caller holds the layout's maintenance lock."""
        import json
        import uuid

        self._recover_index_swap(d.parent, kind, locked=True)
        df = self.spark.read.parquet(str(d))
        if keep is not None:
            df = keep(df)
        tmp = d.parent / f".{d.name}.compact-{uuid.uuid4().hex}"
        total = sum(p.stat().st_size for p in d.rglob("*.parquet") if p.is_file())
        n_out = max(1, -(-total // (128 << 20)))
        if kind in ("ivf", "mvivf"):
            # one file per partition value: coalesce within the
            # partitioned write by repartitioning on the key
            (
                df.repartition(F.col("centroid_id"))
                .write.partitionBy("centroid_id")
                .parquet(str(tmp))
            )
        elif kind == "sparse":
            (
                df.repartitionByRange(max(2, n_out), F.col("idx"))
                .sortWithinPartitions("idx")
                .write.parquet(str(tmp))
            )
        else:
            df.coalesce(n_out).write.parquet(str(tmp))
        old = d.parent / f".{d.name}.old-{uuid.uuid4().hex}"
        intent = d.parent / f".{d.name}.swapintent.json"
        intent.write_text(json.dumps({"tmp": str(tmp), "old": str(old)}))
        d.rename(old)
        tmp.rename(d)
        shutil.rmtree(old)
        intent.unlink(missing_ok=True)
        return sum(1 for p in d.rglob("*.parquet") if p.is_file())

    def _recover_index_swap(
        self, ipath: Path, kind: str, *, locked: bool = False
    ) -> None:
        """Repair a compact_index swap that crashed mid-window in any
        row directory of the ``kind`` layout at ``ipath`` (journal
        ``.<dir>.swapintent.json`` present). Roll FORWARD when the
        completed replacement exists (its write finished before the
        journal was written), else BACK from the preserved original;
        leftovers are removed either way. No-op without a journal.

        Like :meth:`_recover_recluster`, recovery acts only on
        ABANDONED journals: it takes the maintenance lock
        non-blockingly first, so a LIVE swap (journaled while its
        writer holds the lock) is never rolled back under it by a
        concurrent search, load or ``index_stats``. ``locked=True`` is
        for callers that already hold the lock."""
        import json

        journaled = [
            ipath / d
            for d in self._LAYOUT_DIRS[kind]
            if (ipath / f".{d}.swapintent.json").exists()
        ]
        if not journaled:
            return

        def _repair() -> None:
            for d in journaled:
                intent = ipath / f".{d.name}.swapintent.json"
                if not intent.exists():
                    continue  # the writer finished before we locked
                rec = json.loads(intent.read_text())
                tmp, old = Path(rec["tmp"]), Path(rec["old"])
                if not d.exists():
                    if tmp.exists():
                        tmp.rename(d)  # forward: replacement is complete
                    elif old.exists():
                        old.rename(d)  # back: original preserved
                for leftover in (tmp, old):
                    if leftover.exists():
                        shutil.rmtree(leftover)
                intent.unlink(missing_ok=True)

        if locked:
            _repair()
            return
        try:
            with self._maintenance_lock(ipath):
                _repair()
        except MaintenanceBusy:
            return  # a live compactor owns the journal

    def _extend_indexes_for_rewrite(self, name: str) -> list[Path]:
        """Bring every existing index of ``name`` current (O(appended
        data) via each index's own ledger) and return their paths —
        the pre-rewrite half of compact()'s ledger re-adoption.

        A registry whose spec cannot drive an index's extend (e.g. a
        maintenance CLI that inferred the columns from parquet and so
        lost the Vector/Keyword metadata) skips that index: its ledger
        is NOT snapshotted after the rewrite, and the next extend from
        a fully-specified registry re-adopts it via the anti-join."""
        ledgered: list[Path] = []
        extenders = self._extenders()
        for kind, ipath in self._layouts(name).items():
            try:
                extenders[kind](name)
            except SchemaError:
                continue  # spec can't extend this index: leave its
                # ledger alone (snapshotting would claim unindexed
                # rows as covered)
            except MaintenanceBusy:
                continue  # another session is extending this index
                # RIGHT NOW: its in-flight ledger record will go
                # stale the moment our rewrite lands, and the next
                # extend re-adopts via the anti-join — skipping is
                # the safe move (snapshotting would claim rows the
                # concurrent extend hasn't appended yet)
            ledgered.append(ipath)
        return ledgered

    def _snapshot_index_ledgers(
        self, name: str, ledgered: list[Path], df: DataFrame
    ) -> None:
        """Re-adopt each index ledger after a row-preserving rewrite:
        the indexes were brought current BEFORE the rewrite
        (_extend_indexes_for_rewrite) and the rewrite changed files,
        not rows, so the rewritten file set is exactly what each index
        covers."""
        if not ledgered:
            return
        files = sorted(df.inputFiles())
        for ipath in ledgered:
            self._record_index_files(name, ipath, files=files)

    def optimize_zorder(
        self,
        name: str,
        col_a: str,
        col_b: str,
        n_files: int = 16,
        bits: int = 16,
    ) -> dict[str, int]:
        """Rewrite ``name``'s storage clustered on the Morton curve of
        (col_a, col_b) — the lakehouse ``OPTIMIZE ZORDER BY``: after
        the rewrite, parquet min-max stats prune scans filtered on
        EITHER column (plans/zorder.py has the layout argument). Runs
        through the same crash-recoverable publish as compact(), with
        the SAME index-ledger bracket (extend every index first, then
        snapshot fresh files.json against the rewritten layout — a
        row-preserving rewrite must not push the next extend_* through
        the O(table) anti-join); snapshot-atomic under
        ``concurrency="optimistic"``.

        Returns ``{"files_after", "rows"}``; zeros for an empty table.
        """
        spec = self._spec(name)
        spec.column(col_a)
        spec.column(col_b)
        from vechord_spark.plans.zorder import zorder_key

        ledgered = self._extend_indexes_for_rewrite(name)
        live = Path(self.table_path(name))

        def build(df: DataFrame) -> DataFrame:
            keyed, _ = zorder_key(df, col_a, col_b, bits)
            return (
                keyed.repartitionByRange(n_files, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )

        if self.concurrency == "optimistic" and live.exists():
            final = self._optimistic_rewrite(name, build, op="zorder")
            # no ledger snapshot in optimistic mode — see compact():
            # a lost version race can fold concurrent appends into the
            # rewrite; the next extend's anti-join re-adopts safely
            n_rows = self.load(name).count()
            return {"files_after": len(final.files), "rows": n_rows}
        if not live.exists():
            self._recover_rewrite(name)
        if not live.exists():
            return {"files_after": 0, "rows": 0}
        df = self.load(name)
        self._rewrite(name, build(df))
        after = sum(1 for p in live.rglob("*.parquet") if p.is_file())
        self._snapshot_index_ledgers(name, ledgered, self.load(name))
        return {"files_after": after, "rows": self.load(name).count()}

    def _cascade_from(self, parent: TableSpec) -> None:
        for child in self.tables.values():
            for local_col, p_table, p_col in child.foreign_keys():
                if p_table != parent.name:
                    continue
                child_df = self.load(child.name)
                parent_keys = self.load(parent.name).select(
                    F.col(p_col).alias(local_col)
                )
                # one early-exit anti-join probe; no broadcast hint so
                # AQE picks broadcast only when the parent side is small
                orphans = (
                    child_df.join(parent_keys, on=local_col, how="left_anti")
                    .limit(1)
                    .count()
                )
                if orphans:
                    if self.concurrency == "optimistic":

                        def build(
                            df: DataFrame,
                            local_col=local_col,
                            p_col=p_col,
                            parent_name=parent.name,
                        ) -> DataFrame:
                            keys = self.load(parent_name).select(
                                F.col(p_col).alias(local_col)
                            )
                            return df.join(keys, on=local_col, how="left_semi")

                        self._optimistic_rewrite(child.name, build, op="cascade")
                    else:
                        surviving = child_df.join(
                            parent_keys, on=local_col, how="left_semi"
                        )
                        self._rewrite(child.name, surviving)
                    self._cascade_from(child)

    # --------------------------------------------------------------- search
    # ---------------------------------------------------------------- index
    # ------------------------------------------------- index maintenance
    def _record_index_files(
        self, name: str, ipath: Path, files: list[str]
    ) -> None:
        """Snapshot the data-file set the index has SEEN — the
        append-only delta source for the extend_* methods (new files =
        new rows; a parquet append never rewrites existing files).

        ``files`` is REQUIRED and must be captured from the exact
        DataFrame the build/extend scanned (``df.inputFiles()`` on the
        df loaded at operation start): re-listing the table here would
        also swallow files a CONCURRENT writer appended after that scan
        (optimistic mode), silently excluding those rows from every
        future delta. The ledger must only ever contain files whose
        rows are actually in the index.

        Crash contract (single-writer maintenance): the index append
        lands BEFORE this record; the window between them is covered by
        the ``extend.intent`` marker (_mark_extend_intent), which
        forces the next extend through the idempotent anti-join path —
        recovery is automatic for the vector/multivec layouts; the
        keyword path additionally rebuilds its derived tables under the
        marker (see extend_keyword_index)."""
        import json

        (ipath / "files.json").write_text(json.dumps(sorted(files)))
        # the extend that just recorded is fully landed: clear its
        # crash-recovery marker (see _mark_extend_intent)
        (ipath / "extend.intent").unlink(missing_ok=True)

    def _mark_extend_intent(self, ipath: Path) -> None:
        """Crash self-healing for the extend_* ledger path: written
        just before the index append, cleared by _record_index_files
        after the ledger lands. While present, _new_rows_since_index
        refuses the file-diff fast path, so an extend that crashed
        between append and record is retried through the IDEMPOTENT pk
        anti-join instead of double-appending its delta."""
        (ipath / "extend.intent").write_text("")

    @contextlib.contextmanager
    def _maintenance_lock(self, ipath: Path):
        """Exclusive per-index-layout lock for the maintenance window
        (extend_* / compact_index): maintenance is check-then-append,
        so two concurrent maintainers can both compute the same
        not-yet-indexed delta and DOUBLE-append it — the intent marker
        covers crashes, not concurrency. Maintenance runs driver-side,
        so a non-blocking ``flock`` on ``<index>/maintain.lock``
        serializes same-warehouse sessions (flock is per open file
        description: two registries in one process conflict too, and
        the OS drops the lock if the holder dies — no stale-lock
        sweeps). Contenders get :class:`MaintenanceBusy` immediately
        instead of deadlocking; on filesystems without flock (object
        stores) this degrades to the documented single-writer
        maintenance contract. No-op when the index directory does not
        exist yet (the caller's own existence check raises the
        accurate SchemaError)."""
        if not ipath.exists():
            yield
            return
        import os

        try:
            import fcntl
        except ImportError:  # pragma: no cover - non-posix fallback
            yield
            return
        fd = os.open(str(ipath / "maintain.lock"), os.O_CREAT | os.O_RDWR, 0o644)
        try:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except OSError as exc:
                raise MaintenanceBusy(
                    f"index {ipath.name}: another session holds the "
                    "maintenance lock (concurrent extend/compact)"
                ) from exc
            yield
        finally:
            os.close(fd)  # closing the fd releases the flock

    def _new_rows_since_index(self, name: str, ipath: Path):
        """(new_rows, files_covered) — the rows appended since the
        index last saw the table plus the exact file set the extended
        index will cover, or (None, None) when the file ledger can't
        prove append-only history (no ledger from an older index; a
        DELETE/compact rewrote files) — callers then fall back to the
        pk anti-join. File-diff reads ONLY the new files: extension
        cost is O(appended data), independent of table or index
        size."""
        import json

        ledger = ipath / "files.json"
        if (ipath / "extend.intent").exists():
            # a previous extend may have appended without recording —
            # only the anti-join path is safe (idempotent)
            return None, None
        if not ledger.exists():
            return None, None
        seen = set(json.loads(ledger.read_text()))
        cur = set(self.load(name).inputFiles())
        if not seen <= cur:
            return None, None  # files were rewritten/removed: ledger invalid
        fresh = sorted(cur - seen)
        if not fresh:
            return self.load(name).limit(0), sorted(seen)
        return (
            self.spark.read.schema(self.load(name).schema).parquet(*fresh),
            sorted(seen | set(fresh)),
        )

    # every derived layout a table can have, by kind (also the
    # directory suffix): its row directories, the first marking the
    # layout as built. Iteration order is the order maintenance and
    # index_stats report the layouts in.
    _LAYOUT_DIRS = {
        "ivf": ("data",),
        "mvivf": ("data",),
        "bm25": ("postings", "doclen"),
        "sparse": ("postings",),
    }
    # layouts opened through _open_layout: (spec attribute of the
    # indexed column, column noun, layout noun, build method)
    _OPENED_LAYOUTS = {
        "ivf": ("vector_column", "vector", "IVF", "build_vector_index"),
        "mvivf": (
            "multivec_column",
            "multivector",
            "multivector IVF",
            "build_multivec_index",
        ),
        "sparse": ("sparse_column", "sparse vector", "sparse", "build_sparse_index"),
    }

    def _layout_path(self, name: str, kind: str) -> Path:
        return self.base_path / f"{self.namespace}_{name}.{kind}"

    def _index_path(self, name: str) -> Path:
        return self._layout_path(name, "ivf")

    def _mv_index_path(self, name: str) -> Path:
        return self._layout_path(name, "mvivf")

    def _sparse_index_path(self, name: str) -> Path:
        return self._layout_path(name, "sparse")

    def _layouts(self, name: str) -> dict[str, Path]:
        """kind -> directory of every index layout ``name`` has on
        disk, after repairing any compact_index swap that crashed in
        one of its row directories (so a layout caught mid-swap is
        reported, maintained and dropped, never skipped)."""
        out: dict[str, Path] = {}
        for kind in self._LAYOUT_DIRS:
            ipath = self._layout_path(name, kind)
            if ipath.exists():
                self._recover_index_swap(ipath, kind)
                out[kind] = ipath
        return out

    def _open_layout(self, name: str, kind: str, *, locked: bool = False):
        """``(column, layout dir)`` of a built ivf / mvivf / sparse
        layout — the entry check of every load, extend and
        maintenance primitive: the spec must declare the indexed
        column, a crashed compact_index swap and an abandoned
        recluster are repaired (``locked``: the caller already holds
        the layout's maintenance lock, see :meth:`_recover_recluster`),
        and a never-built layout raises :class:`SchemaError`."""
        attr, col_noun, layout_noun, build = self._OPENED_LAYOUTS[kind]
        col = getattr(self._spec(name), attr)
        if col is None:
            raise SchemaError(f"table {name} has no {col_noun} column")
        ipath = self._layout_path(name, kind)
        self._recover_index_swap(ipath, kind, locked=locked)
        self._recover_recluster(ipath, locked=locked)
        if not (ipath / self._LAYOUT_DIRS[kind][0]).exists():
            raise SchemaError(
                f"no {layout_noun} index for {name}; call {build} first"
            )
        return col, ipath

    @staticmethod
    def _layout_fingerprint(ipath: Path) -> tuple:
        """The on-disk generation of a layout: the sorted ``(relative
        path, size, mtime_ns, inode)`` of every file under ``ipath``
        except ``maintain.lock``. Every write adds, removes or rewrites
        a file (build, extend, prune, recluster, merge, compact_index
        swap, drop, and writers in other registries or processes on
        the same path), so every write changes it. One directory walk,
        no more than the listing ``spark.read.parquet`` does."""
        import os

        out = []
        for root, _dirs, files in os.walk(ipath):
            for f in files:
                if f == "maintain.lock":
                    continue
                p = os.path.join(root, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue  # removed by a concurrent writer mid-walk
                out.append(
                    (os.path.relpath(p, ipath), st.st_size, st.st_mtime_ns, st.st_ino)
                )
        return tuple(sorted(out))

    def _layout_handle(self, name: str, kind: str, ipath: Path, read):
        """The read-side handle of the ``kind`` layout of ``name``
        (what ``read()`` returns), opened once per on-disk generation:
        ``read()`` runs only when the layout's fingerprint
        (:meth:`_layout_fingerprint`) or the table's spec differs from
        the one the held handle was read at (handles carry the indexed
        column, the primary key and BM25's k1/b; re-registering an
        equal spec, as every pipeline construction does, keeps them).
        Callers run crash recovery first, so a repaired layout is
        fingerprinted as repaired. The fingerprint is taken BEFORE the
        read: a write racing the read leaves the new handle under the
        older fingerprint, and the next call reads again. Handles hold
        plans, centroids and small driver-side rows, never cached
        data. Loads under the layout's maintenance lock do not come
        here: a write never derives from a held handle."""
        gen = (self._spec(name), self._layout_fingerprint(ipath))
        held = self._layout_handles.get((name, kind))
        if held is not None and held[0] == gen:
            return held[1]
        handle = read()
        self._layout_handles[(name, kind)] = (gen, handle)
        return handle

    def _extenders(self) -> dict:
        """kind -> the public extend_* of that layout."""
        return {
            "ivf": self.extend_vector_index,
            "mvivf": self.extend_multivec_index,
            "bm25": self.extend_keyword_index,
            "sparse": self.extend_sparse_index,
        }

    def _read_centroids(self, path: Path):
        """A persisted centroid table as a (lists, dim) float64
        matrix; row i is ``centroid_id`` i (ids stay contiguous across
        every maintenance primitive)."""
        import numpy as np

        rows = self.spark.read.parquet(str(path)).orderBy("centroid_id").collect()
        return np.array([r.vec for r in rows])

    def _write_centroids(self, path: Path, cents) -> None:
        """Persist ``(centroid_id, vector)`` pairs as a centroid table."""
        self.spark.createDataFrame(
            [(int(i), [float(x) for x in v]) for i, v in cents],
            "centroid_id int, vec array<double>",
        ).write.parquet(str(path))

    @staticmethod
    def _cell_counts(data: DataFrame) -> dict:
        """centroid_id -> row count of a clustered layout."""
        return {
            r["centroid_id"]: r["n"]
            for r in data.groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    def build_vector_index(
        self,
        name: str,
        lists: int | None = None,
        max_iter: int = 8,
        pq_m: int | None = None,
        pq_ksub: int = 256,
        spherical: bool = False,
        opq: bool = False,
        residual: bool = False,
        rabitq: bool = False,
    ) -> int:
        """Build + persist the IVF index for the table's vector column —
        the engine's ``CREATE INDEX`` (reference vchordrq index DDL,
        vechord/client.py:157-171): KMeans centroids, then the table
        rewritten ``partitionBy(centroid_id)`` so probe filters become
        Catalyst PARTITION PRUNING at query time.

        ``lists`` falls back to the declared ``VectorIndex.lists``, then
        to ~sqrt(n). With ``pq_m`` set, product-quantization codebooks
        (``pq_m`` subspaces x ``pq_ksub`` codes, operators/pq.py) are
        trained and the clustered layout additionally stores the
        ``__pq`` code column — the vchordrq ``residual_quantization``
        analog (vechord/spec.py:437-444): ``search_by_vector(probes=..,
        refine=..)`` then scans codes for the estimate pass and floats
        for only the refine survivors. Batch semantics: rebuild after
        bulk appends (the reference's Postgres index updates
        transactionally; a batch engine re-clusters). Returns the
        number of lists built.

        ``opq=True`` (requires ``pq_m``) trains the OPQ rotation first
        (operators/pq.train_opq, Ge et al. 2013) and builds the whole
        layout — centroids, codebooks, stored vectors — in ROTATED
        space: the rotation is orthogonal, so every distance the index
        computes is exactly the original-space distance while the ADC
        estimate gets sharper. The rotation persists as
        ``rotation.bin`` and the search/extend paths apply it
        transparently; the TABLE keeps raw vectors, only the index's
        clustered copy is rotated.

        ``residual=True`` (requires ``pq_m``) quantizes each vector's
        OFFSET from its cell centroid instead of the raw vector — the
        FAISS IVFPQ default (``encode_residual``; operators/pq.py
        build_ivf_rpq is the standalone twin): residuals carry only
        within-cell variance, so the same (m, ksub) budget
        reconstructs markedly sharper. Residual codes pin their
        reconstruction BASE to the owning centroid, so every
        maintenance primitive that moves rows between cells (or moves
        a centroid under rows) RE-ENCODES exactly the affected rows:
        extends encode deltas against their assigned centroid,
        recluster re-encodes the split cells' rows against the child
        centroids (those partitions rewrite anyway), and merge folds a
        starved cell by re-encoding ITS rows against the surviving
        sibling's UNCHANGED centroid — unlike raw layouts, the merged
        centroid does not move to the count-weighted mean, because
        moving the base would stale every code already in the target
        cell (an O(folded-rows) rewrite instead of O(both cells)).
        Prune and compact never change cell membership or centroids,
        so codes ride through. The no-stale-codes invariant is pinned
        by tests/test_residual_registry.py across the full lifecycle.
        Excludes ``opq`` (the rotation is trained for raw-vector PQ)
        and ``spherical`` (unit-norm cells make raw offsets
        meaningless — same contract as build_ivf_rpq).

        ``rabitq=True`` stores ONE-BIT-per-dimension RaBitQ codes
        (operators/rabitq.py — the algorithm the reference's vchordrq
        index actually runs, vechord/spec.py:437-444; Gao & Long,
        SIGMOD 2024) instead of PQ codebooks: each row carries a D/8-
        byte sign code of its rotated unit residual plus the two
        correction scalars that make the bit-estimate unbiased.
        ``search_by_vector(probes=.., refine=..)`` then runs the
        sign-matmul estimate over the bit column and exact-reranks the
        ``refine`` survivors. Like residual PQ, codes pin their base to
        the owning centroid, so the SAME re-encode-on-move maintenance
        applies (recluster re-encodes split cells' rows, merge keeps
        the survivor centroid unchanged and re-encodes only folded
        rows); UNLIKE PQ there is no codebook — extends never stale any
        trained state, the rotation is corpus-independent. Excludes
        ``pq_m``/``opq`` (its own quantization family); COMPOSES with
        ``spherical`` — the reference's ``spherical_centroids`` +
        ``residual_quantization`` pair for cosine/dot corpora: rows
        unit-normalize before encoding, so the bit geometry lives on
        the unit sphere where the L2 estimate is monotone in cosine.
        """
        import numpy as np

        from vechord_spark.operators.ivf import build_ivf

        spec = self._spec(name)
        vec_col = spec.vector_column
        if vec_col is None:
            raise SchemaError(f"table {name} has no vector column")
        df = self.load(name)
        # ledger snapshot from the EXACT df this build scans — listing
        # again at record time would claim concurrently-appended files
        # whose rows the index never saw (see _record_index_files)
        scanned_files = sorted(df.inputFiles())
        n = df.count()
        if n == 0:
            raise SchemaError(f"cannot index empty table {name}")
        declared = vec_col.index.lists if vec_col.index else None
        n_lists = lists or declared or max(2, int(round(n**0.5)))
        # the DECLARED index carries quantization config (reference DDL
        # semantics, vechord/spec.py:437-444): explicit call arguments
        # win; with no pq_m argument the declaration's options apply —
        # build_vector_index(name) alone builds what the schema said
        idx_decl = vec_col.index
        if pq_m is None and idx_decl is not None and getattr(idx_decl, "pq_m", None):
            pq_m = idx_decl.pq_m
            pq_ksub = idx_decl.pq_ksub
            if not opq:
                opq = bool(idx_decl.opq)
            if not residual and not opq and not spherical:
                residual = idx_decl.resolved_residual
        if (
            not rabitq
            and pq_m is None
            and idx_decl is not None
            and getattr(idx_decl, "rabitq", False)
        ):
            rabitq = True
        if rabitq and (pq_m is not None or opq or residual):
            raise SchemaError(
                "rabitq=True is its own quantization: it excludes "
                "pq_m/opq/residual (no codebook). spherical composes "
                "(rows normalize before encoding — the reference's "
                "spherical_centroids + residual_quantization pair)"
            )
        if opq and pq_m is None:
            raise SchemaError("opq=True requires pq_m (OPQ optimizes PQ)")
        if residual:
            if pq_m is None:
                raise SchemaError(
                    "residual=True requires pq_m (residual quantization IS PQ)"
                )
            if opq:
                raise SchemaError(
                    "residual=True excludes opq (the rotation is trained "
                    "for raw-vector PQ; use one or the other)"
                )
            if spherical:
                raise SchemaError(
                    "residual=True excludes spherical (unit-norm cells make "
                    "raw-vector offsets meaningless residuals)"
                )
        rotation = None
        if opq:
            from vechord_spark.operators.pq import train_opq

            rotation, opq_book = train_opq(
                df, vec_col.name, m=pq_m, ksub=pq_ksub, max_iter=max_iter
            )
            # the index's clustered copy lives in rotated space, under
            # the SAME column name (the table keeps raw vectors);
            # distances are rotation-invariant, codes get sharper. Cast
            # back to float: the layout convention is float32 vectors
            # (half the scan bytes), and extends must append the same
            # type
            df = df.withColumn(
                vec_col.name,
                rotation.apply_col(vec_col.name).cast("array<float>"),
            )
        # spherical: unit-norm cells — the correct coarse quantizer for
        # cosine/dot distance (raw-L2 cells split by magnitude, which
        # cosine cannot see); persisted in meta.json so probe + extend
        # normalize the same way in any later session
        index = build_ivf(
            df, vec_col.name, n_lists, max_iter=max_iter, spherical=spherical
        )
        ipath = self._index_path(name)
        if ipath.exists():
            shutil.rmtree(ipath)
        if pq_m is not None:
            from vechord_spark.operators.pq import (
                IvfPqIndex,
                train_pq,
                train_pq_residual,
            )

            if residual:
                book = train_pq_residual(
                    index.assigned,
                    vec_col.name,
                    index.centroids,
                    m=pq_m,
                    ksub=pq_ksub,
                    max_iter=max_iter,
                )
            else:
                book = (
                    opq_book
                    if opq
                    else train_pq(
                        df, vec_col.name, m=pq_m, ksub=pq_ksub, max_iter=max_iter
                    )
                )
            pq_index = IvfPqIndex(index, book, residual=residual)
            pq_index.write_clustered(str(ipath / "data"))
            codes = self.spark.createDataFrame(
                [
                    (j, k, [float(x) for x in book.codebooks[j, k]])
                    for j in range(book.m)
                    for k in range(book.ksub)
                ],
                "subspace int, code int, vec array<double>",
            )
            codes.write.parquet(str(ipath / "codebooks"))
        elif rabitq:
            from vechord_spark.operators.rabitq import (
                RabitqIndex,
                train_rabitq,
            )

            rq_rot = train_rabitq(vec_col.engine_type.dim, seed=42)
            RabitqIndex(index, rq_rot).write_clustered(str(ipath / "data"))
            ipath.mkdir(parents=True, exist_ok=True)
            (ipath / "rq_rotation.bin").write_bytes(
                np.ascontiguousarray(
                    rq_rot.rotation, dtype="<f8"
                ).tobytes()
            )
        else:
            index.write_clustered(str(ipath / "data"))
        self._write_centroids(ipath / "centroids", enumerate(index.centroids))
        import json

        if rotation is not None:
            (ipath / "rotation.bin").write_bytes(
                np.ascontiguousarray(rotation.rotation, dtype="<f8").tobytes()
            )
        (ipath / "meta.json").write_text(
            json.dumps(
                {
                    "spherical": spherical,
                    "opq": bool(opq),
                    "residual": bool(residual),
                    "rabitq": bool(rabitq),
                }
            )
        )
        self._record_index_files(name, ipath, files=scanned_files)
        return n_lists

    def _load_opq_rotation(self, ipath: Path):
        """The index's persisted OPQ rotation, or None for plain
        layouts (meta flag + rotation.bin)."""
        import numpy as np

        if not self._vector_index_meta(ipath).get("opq"):
            return None
        from vechord_spark.operators.pq import OpqRotation

        raw = np.frombuffer(
            (ipath / "rotation.bin").read_bytes(), dtype="<f8"
        ).copy()
        d = int(round(len(raw) ** 0.5))
        return OpqRotation(raw.reshape(d, d))

    def _vector_index_meta(self, ipath: Path) -> dict:
        import json

        mp = ipath / "meta.json"
        return json.loads(mp.read_text()) if mp.exists() else {}

    def _load_rabitq_rotation(self, ipath: Path):
        """The layout's persisted RaBitQ rotation, or None for
        non-RaBitQ layouts (meta flag + rq_rotation.bin)."""
        import numpy as np

        if not self._vector_index_meta(ipath).get("rabitq"):
            return None
        from vechord_spark.operators.rabitq import RabitqRotation

        raw = np.frombuffer(
            (ipath / "rq_rotation.bin").read_bytes(), dtype="<f8"
        ).copy()
        d = int(round(len(raw) ** 0.5))
        return RabitqRotation(raw.reshape(d, d))

    def _load_codebooks(self, ipath: Path):
        """The layout's persisted PQ codebooks as a PqCodebook, or
        None for codeless layouts."""
        import numpy as np

        if not (ipath / "codebooks").exists():
            return None
        from vechord_spark.operators.pq import PqCodebook

        crows = (
            self.spark.read.parquet(str(ipath / "codebooks"))
            .orderBy("subspace", "code")
            .collect()
        )
        m = max(r.subspace for r in crows) + 1
        ksub = max(r.code for r in crows) + 1
        dsub = len(crows[0].vec)
        books = np.zeros((m, ksub, dsub))
        for r in crows:
            books[r.subspace, r.code] = r.vec
        return PqCodebook(books)

    def extend_vector_index(self, name: str) -> int:
        """Assignment-only index maintenance after appends — the
        reference's INSERT-time IVF update (vchordrq assigns new tuples
        to existing lists; re-clustering is an explicit REINDEX, here
        build_vector_index).

        Rows present in the table but not yet in the clustered layout
        (anti-join on the primary key) are assigned to the EXISTING
        centroids (IvfIndex.add semantics) and appended into the same
        ``partitionBy(centroid_id)`` directory — probe pruning keeps
        working unchanged, existing rows never move, and the cost is
        one scan of the NEW rows only. With a PQ index the new rows are
        encoded with the EXISTING codebooks. Returns the number of
        newly indexed rows. Centroids (and codebooks) drift from
        optimal as appends accumulate — rebuild periodically.

        Holds the index's maintenance lock for the whole
        check-then-append window (:meth:`_maintenance_lock`): a
        concurrent extend/compact gets :class:`MaintenanceBusy`
        instead of double-appending the same delta.
        """
        with self._maintenance_lock(self._index_path(name)):
            return self._extend_vector_index_locked(name)

    def _extend_vector_index_locked(self, name: str) -> int:
        from vechord_spark.operators.ivf import assign_centroids

        # caller (extend_vector_index) holds the maintenance lock, so
        # any journal is abandoned — recover in-lock, not via a second
        # flock that our own lock would deny (see _recover_recluster)
        vec_col, ipath = self._open_layout(name, "ivf", locked=True)
        pk = self._spec(name).primary_key
        if pk is None:
            raise SchemaError(f"extend_vector_index needs a primary key")
        centroids = self._read_centroids(ipath / "centroids")
        # file-ledger fast path: read ONLY files appended since the
        # index last saw the table (O(new data)); fall back to the pk
        # anti-join when the ledger cannot prove append-only history
        new, covered = self._new_rows_since_index(name, ipath)
        if new is None:
            base = self.load(name)
            covered = sorted(base.inputFiles())
            indexed = self.spark.read.parquet(str(ipath / "data")).select(pk.name)
            new = base.join(indexed, pk.name, "left_anti")
        n_new = new.count()
        if n_new == 0:
            self._record_index_files(name, ipath, files=covered)
            return 0
        rot = self._load_opq_rotation(ipath)
        if rot is not None:
            # OPQ layout: centroids/codes/stored copy are all in
            # rotated space — rotate the delta before assign + encode
            # (float32, matching the layout convention)
            new = new.withColumn(
                vec_col.name,
                rot.apply_col(vec_col.name).cast("array<float>"),
            )
        fresh = assign_centroids(
            new,
            vec_col.name,
            centroids,
            normalize=bool(self._vector_index_meta(ipath).get("spherical")),
        )
        encode = self._reencoder(ipath, vec_col.name)
        if encode is not None:
            # quantized layout: the delta gets codes from the EXISTING
            # codebooks / rotation (residual and RaBitQ codes against
            # the centroid each row was just assigned to)
            fresh = encode(fresh, centroids)
        self._mark_extend_intent(ipath)
        fresh.write.mode("append").partitionBy("centroid_id").parquet(
            str(ipath / "data")
        )
        self._record_index_files(name, ipath, files=covered)
        return n_new

    def _reencoder(self, ipath: Path, vec_col: str):
        """The code encoder of a quantized IVF layout, ``(rows,
        centroid matrix) -> rows`` with fresh codes (any old code
        columns dropped first), or None for a plain layout. PQ codes
        use the persisted codebooks (offsets from the row's cell
        centroid on residual layouts, raw vectors otherwise); RaBitQ
        codes use the persisted rotation against the row's cell
        centroid. Codebooks load when the encoder runs, so building
        one that is never called costs no Spark job."""
        meta = self._vector_index_meta(ipath)
        if (ipath / "codebooks").exists():
            from vechord_spark.operators.pq import encode_pq

            residual = bool(meta.get("residual"))

            def encode(df: DataFrame, cents) -> DataFrame:
                return encode_pq(
                    df.drop("__pq"),
                    vec_col,
                    self._load_codebooks(ipath),
                    centroids=cents if residual else None,
                )

            return encode
        if meta.get("rabitq"):
            from vechord_spark.operators.rabitq import encode_rabitq

            rot = self._load_rabitq_rotation(ipath)
            spherical = bool(meta.get("spherical"))
            return lambda df, cents: encode_rabitq(  # noqa: E731
                df.drop("__rq_code", "__rq_norm", "__rq_dot"),
                vec_col,
                cents,
                rot,
                normalize=spherical,
            )
        return None

    def recluster_vector_index(
        self,
        name: str,
        max_cell_factor: float = 2.0,
        max_iter: int = 8,
        max_train_points: int = 100_000,
    ) -> dict[str, int]:
        """Targeted REINDEX: split only the IVF cells that drifted.

        ``extend_vector_index`` assigns new rows to EXISTING centroids,
        so a stream of appends slowly bloats the cells nearest the new
        data: probe pruning then scans ever-bigger partitions and
        recall-per-probe decays — the standard IVF drift problem. The
        full answer is ``build_vector_index`` (re-cluster everything,
        O(table)); this is the incremental one: any cell holding more
        than ``max_cell_factor`` times the mean cell size is split
        in two by a local 2-means on ITS rows (bounded driver-side
        sample, the same fit contract as build), its rows are
        reassigned between the two children in one distributed pass,
        and ONLY those partitions are rewritten — untouched cells are
        HARDLINKED into the staged layout, so the rewrite cost is
        O(drifted cells), not O(index).

        Id discipline: probe search maps centroid-array POSITIONS to
        partition ids, so ids stay contiguous — child 0 keeps the
        parent's id, child 1 appends at the end. Raw-vector PQ codes
        are per-vector, not per-cell, so their ``__pq`` column rides
        through reassignment unchanged; residual-PQ and RaBitQ codes
        are offsets from the cell centroid, so the moved rows
        re-encode against their child centroid in the same pass.

        Crash contract: the staged data dir and centroid table swap in
        under a ``recluster.intent.json`` journal; recovery
        (:meth:`_recover_recluster`, run by every index load) always
        rolls BACK to the intact pre-recluster layout — the split is
        derived state, losing it costs a retry, never correctness.
        Holds the maintenance lock. Returns ``{"split_cells",
        "moved_rows", "lists"}``.
        """
        import numpy as np

        vec_col, ipath = self._open_layout(name, "ivf")
        with self._maintenance_lock(ipath):
            meta = self._vector_index_meta(ipath)
            spherical = bool(meta.get("spherical"))

            def point(vals):
                x = np.array(list(vals), dtype=np.float64)
                if spherical and len(x):
                    x = x / np.maximum(
                        np.linalg.norm(x, axis=1, keepdims=True), 1e-30
                    )
                return x

            return self._recluster_cells_locked(
                ipath,
                vec_col.name,
                point,
                max_cell_factor,
                max_iter,
                max_train_points,
                # every row of a split cell gets a NEW centroid: codes
                # based on the centroid (residual PQ, RaBitQ) go stale
                reencode=self._reencoder(ipath, vec_col.name)
                if meta.get("residual") or meta.get("rabitq")
                else None,
            )

    def _recluster_cells_locked(
        self,
        ipath: Path,
        col: str,
        point,
        max_cell_factor: float,
        max_iter: int,
        max_train_points: int,
        reencode=None,
    ) -> dict[str, int]:
        """The targeted split shared by the vector and multivector
        layouts (see :meth:`recluster_vector_index`). ``point`` maps a
        sequence of ``col`` values to their (n, d) float64 points in
        centroid space — the vector (unit-normalized on spherical
        layouts) or the multivector's token mean; it runs both on the
        driver's split sample and inside the reassignment UDF, so the
        split and the assignment see the same geometry. ``reencode``
        (residual-base layouts): ``(moved_rows, new_centroid_matrix)
        -> rows`` re-encoding the moved rows' codes — those partitions
        rewrite anyway; untouched cells keep centroid AND codes, so
        their hardlinks stay sound. The caller holds the maintenance
        lock."""
        import numpy as np

        from pyspark.sql.functions import pandas_udf

        from vechord_spark.operators.pq import _lloyd

        data = self.spark.read.parquet(str(ipath / "data"))
        cents = self._read_centroids(ipath / "centroids")
        lists = len(cents)
        counts = self._cell_counts(data)
        n_total = sum(counts.values())
        if n_total == 0:
            return {"split_cells": 0, "moved_rows": 0, "lists": lists}
        mean = n_total / max(1, lists)
        oversized = sorted(
            c for c, n in counts.items() if n > max_cell_factor * mean and n >= 2
        )
        if not oversized:
            return {"split_cells": 0, "moved_rows": 0, "lists": lists}

        rng = np.random.default_rng(42)
        split: dict[int, tuple] = {}  # old id -> (children(2,d), new_id)
        next_id = lists
        for c in oversized:
            # hash-ordered limit, same contract as build_ivf's fit
            # sample: limit() alone returns whichever partitions
            # answer first, so the 2-means split (and the healed
            # layout's quality) would depend on file layout —
            # observed as a real heal-quality regression when the
            # parquet write codec changed the file sizes. Ordering
            # by xxhash64 compiles to TakeOrderedAndProject and is
            # deterministic on any layout.
            vals = [
                r["__v"]
                for r in data.filter(F.col("centroid_id") == c)
                .select(F.col(col).alias("__v"))
                .orderBy(F.xxhash64(F.col("__v")).asc())
                .limit(max_train_points)
                .collect()
            ]
            split[c] = (_lloyd(point(vals), 2, rng, max_iter, pad_to=2), next_id)
            next_id += 1

        # one distributed pass: rows of split cells pick their
        # child; everything else is untouched (and never read)
        sp = {int(c): (ch, int(nid)) for c, (ch, nid) in split.items()}

        @pandas_udf("int")
        def _child(cid: pd.Series, vals: pd.Series) -> pd.Series:
            out = np.empty(len(cid), dtype=np.int32)
            x = point(vals)
            cvals = cid.to_numpy()
            for c, (ch, nid) in sp.items():
                mask = cvals == c
                if not mask.any():
                    continue
                d0 = ((x[mask] - ch[0]) ** 2).sum(axis=1)
                d1 = ((x[mask] - ch[1]) ** 2).sum(axis=1)
                out[mask] = np.where(d0 <= d1, c, nid)
            return pd.Series(out)

        moved = data.filter(F.col("centroid_id").isin(list(split)))
        moved_n = moved.count()
        reassigned = moved.withColumn(
            "centroid_id", _child(F.col("centroid_id"), F.col(col))
        )
        # child 0 replaces its parent's centroid, child 1 appends
        # (split ids were handed out in insertion order)
        new_mat = np.array(
            [split[c][0][0] if c in split else v for c, v in enumerate(cents)]
            + [ch[1] for ch, _ in split.values()],
            dtype=np.float64,
        )
        if reencode is not None:
            reassigned = reencode(reassigned, new_mat)
        self._swap_cells_layout(
            ipath,
            list(enumerate(new_mat)),
            reassigned=reassigned,
            exclude=set(split),
        )
        return {
            "split_cells": len(split),
            "moved_rows": int(moved_n),
            "lists": int(next_id),
        }

    def _swap_cells_layout(
        self,
        ipath: Path,
        new_cents: list,
        *,
        reassigned: DataFrame | None = None,
        exclude: set | frozenset = frozenset(),
        relink: dict | None = None,
    ) -> None:
        """Stage a modified clustered layout and swap it in under the
        rollback-only ``recluster.intent.json`` journal — the shared
        core of recluster (split cells), prune (delete sweep), and
        merge (undersized cells):

        - ``reassigned``: rows to WRITE into the stage
          (``partitionBy(centroid_id)`` with their NEW ids) — the only
          distributed work; None stages no fresh data (merge is pure
          file moves).
        - ``exclude``: old cell ids whose live partitions are NOT
          carried over 1:1 (they were rewritten into ``reassigned`` or
          dropped).
        - ``relink``: old->new cell id PURE MOVES: the partition's
          files hardlink under the new directory name — valid because
          ``partitionBy`` encodes the id in the directory name, not in
          the files, so renumbering (merge) never touches row bytes.

        Every untouched partition HARDLINKS into the stage (no data
        copy; posix-rename/link warehouse contract, same as the
        rewrite journals). The intent journal clears BEFORE trash
        cleanup, so a crash during cleanup can never trigger a
        rollback of the already-published layout."""
        import json
        import os
        import uuid

        run = uuid.uuid4().hex
        scratch = ipath / f".recluster-{run}"
        stage_data = scratch / "data"
        stage_cents = scratch / "centroids"
        if reassigned is not None:
            reassigned.write.partitionBy("centroid_id").parquet(str(stage_data))
        else:
            stage_data.mkdir(parents=True, exist_ok=True)
        live = ipath / "data"
        relink = relink or {}
        for entry in live.iterdir():
            if not entry.name.startswith("centroid_id="):
                continue
            cid_s = entry.name.split("=", 1)[1]
            cid = int(cid_s) if cid_s.isdigit() else None
            if cid is not None and cid in exclude and cid not in relink:
                continue
            new_cid = relink.get(cid, cid) if cid is not None else cid_s
            tgt = stage_data / f"centroid_id={new_cid}"
            tgt.mkdir(parents=True, exist_ok=True)
            for f in entry.iterdir():
                if f.is_file():
                    dest = tgt / f.name
                    if dest.exists():
                        # two source partitions merged into one target:
                        # parquet part names are task-uuid-unique, but
                        # stay safe on collision
                        dest = tgt / f"m{cid}-{f.name}"
                    os.link(f, dest)
        self._write_centroids(stage_cents, new_cents)

        trash_data = ipath / f".recluster-old-data-{run}"
        trash_cents = ipath / f".recluster-old-centroids-{run}"
        intent = ipath / "recluster.intent.json"
        intent.write_text(
            json.dumps(
                {
                    "stage_data": str(stage_data),
                    "stage_cents": str(stage_cents),
                    "trash_data": str(trash_data),
                    "trash_cents": str(trash_cents),
                }
            )
        )
        live.rename(trash_data)
        stage_data.rename(live)
        (ipath / "centroids").rename(trash_cents)
        stage_cents.rename(ipath / "centroids")
        intent.unlink()
        for leftover in (trash_data, trash_cents, scratch):
            if leftover.exists():
                shutil.rmtree(leftover)

    def recluster_multivec_index(
        self,
        name: str,
        max_cell_factor: float = 2.0,
        max_iter: int = 8,
        max_train_points: int = 100_000,
    ) -> dict[str, int]:
        """The multivector twin of :meth:`recluster_vector_index`:
        drifted mean-space cells split by a local 2-means on the
        cell's MEAN vectors, rows reassign by mean between the two
        children, only the split partitions rewrite (untouched cells
        hardlink). Token-centroid sets (``__centroid_ids``) are
        row-level attributes independent of cell membership and ride
        through unchanged, as does the ``__mean`` column when stored.
        Same maintenance lock + rollback-only journal."""
        import numpy as np

        mv_col, ipath = self._open_layout(name, "mvivf")

        def point(vals):
            # Arrow hands array<array<float>> over as object arrays of
            # arrays — stack the token vectors per row
            return np.array(
                [
                    np.mean(
                        np.stack([np.asarray(t, dtype=np.float64) for t in m]),
                        axis=0,
                    )
                    for m in vals
                ]
            )

        with self._maintenance_lock(ipath):
            return self._recluster_cells_locked(
                ipath, mv_col.name, point, max_cell_factor, max_iter,
                max_train_points,
            )

    def merge_vector_index(
        self, name: str, min_cell_factor: float = 4.0, min_lists: int = 1
    ) -> dict[str, int]:
        """Merge undersized IVF cells into their nearest sibling — the
        recluster DUAL. After delete-heavy churn (prune) the layout
        keeps its list count but some cells hold almost nothing, so
        each probe buys fewer rows: a 10-probe search over 100 starved
        cells scans 10% of the centroid table for 1% of the data. Any
        cell holding fewer than ``mean / min_cell_factor`` rows folds
        into the nearest surviving centroid (spherical layouts compare
        on unit-norm centroids), and ids renumber contiguously so probe
        search's position->partition mapping stays exact.

        ZERO distributed work: ``partitionBy`` encodes the cell id in
        the directory name, not in the row bytes, so merging is pure
        hardlinks — a starved cell's files link into its target's
        directory, renumbered survivors link under their new name, and
        untouched cells (ids below the new count that keep their id)
        link 1:1. PQ/OPQ codes are per-vector, never per-cell, so they
        ride through; merged centroids move to the count-weighted mean
        of their sources (the best single representative of the merged
        cell's contents). Same maintenance lock + rollback-only
        journal as recluster. Returns ``{"merged_cells", "moved_rows",
        "lists"}``."""
        vec_col, ipath = self._open_layout(name, "ivf")
        with self._maintenance_lock(ipath):
            meta = self._vector_index_meta(ipath)
            return self._merge_cells_locked(
                ipath,
                min_cell_factor,
                min_lists,
                bool(meta.get("spherical")),
                reencode=self._reencoder(ipath, vec_col.name)
                if meta.get("residual") or meta.get("rabitq")
                else None,
            )

    def merge_multivec_index(
        self, name: str, min_cell_factor: float = 4.0, min_lists: int = 1
    ) -> dict[str, int]:
        """The multivector twin of :meth:`merge_vector_index` — same
        pure-hardlink cell fold over the mean-space centroid table
        (token-centroid sets are row-level and ride through)."""
        _, ipath = self._open_layout(name, "mvivf")
        with self._maintenance_lock(ipath):
            return self._merge_cells_locked(ipath, min_cell_factor, min_lists, False)

    def _merge_cells_locked(
        self,
        ipath: Path,
        min_cell_factor: float,
        min_lists: int,
        spherical: bool,
        reencode=None,
    ) -> dict[str, int]:
        """``reencode`` (residual-base layouts: residual PQ and
        RaBitQ): a ``(folded_df, new_centroid_matrix) -> df`` closure —
        folded rows REWRITE with codes re-encoded against their new
        owning centroid instead of pure-hardlinking, and the surviving
        centroid stays UNCHANGED (moving it to the count-weighted mean
        would stale every code already in the target cell);
        renumber-only moves still hardlink."""
        import numpy as np

        data = self.spark.read.parquet(str(ipath / "data"))
        cents = self._read_centroids(ipath / "centroids")
        lists = len(cents)
        got = self._cell_counts(data)
        counts = {c: int(got.get(c, 0)) for c in range(lists)}
        n_total = sum(counts.values())
        if n_total == 0 or lists <= max(1, min_lists):
            return {"merged_cells": 0, "moved_rows": 0, "lists": lists}
        mean = n_total / lists
        starved = sorted(
            (c for c in range(lists) if counts[c] < mean / min_cell_factor),
            key=lambda c: counts[c],
        )
        # keep at least min_lists survivors: release the fullest
        # starved cells back to the survivor set if needed
        max_merge = lists - max(1, min_lists)
        starved = starved[:max_merge]
        if not starved:
            return {"merged_cells": 0, "moved_rows": 0, "lists": lists}
        removed = set(starved)
        survivors = [c for c in range(lists) if c not in removed]

        geo = cents
        if spherical:
            geo = cents / np.maximum(
                np.linalg.norm(cents, axis=1, keepdims=True), 1e-30
            )
        surv_geo = geo[survivors]
        target = {
            u: survivors[int(((surv_geo - geo[u]) ** 2).sum(axis=1).argmin())]
            for u in removed
        }

        # contiguous renumbering that keeps the maximal stable prefix:
        # survivors below the new count keep their id (1:1 hardlink),
        # tail survivors slide into the holes the removed cells left
        k = len(survivors)
        holes = sorted(c for c in removed if c < k)
        id_map: dict[int, int] = {}
        for s in survivors:
            id_map[s] = s if s < k else holes.pop(0)
        relink = {s: id_map[s] for s in survivors if id_map[s] != s}
        moved_rows = sum(counts[u] for u in removed)

        if reencode is not None:
            # residual-base layout: survivors keep their centroid VALUE
            # (the codes in their cells stay valid), and the folded
            # cells' rows rewrite with codes re-encoded against the
            # target's centroid under its NEW id — O(folded rows), the
            # damage-proportional cost
            new_cents = [(id_map[s], list(cents[s])) for s in survivors]
            new_mat = np.zeros((k, cents.shape[1]))
            for s in survivors:
                new_mat[id_map[s]] = cents[s]
            fold_map = {int(u): int(id_map[target[u]]) for u in removed}
            mapping = F.create_map(
                *[F.lit(x) for kv in fold_map.items() for x in kv]
            )
            folded = data.filter(
                F.col("centroid_id").isin(list(fold_map))
            ).withColumn("centroid_id", mapping[F.col("centroid_id")])
            reassigned = reencode(folded, new_mat)
            self._swap_cells_layout(
                ipath,
                sorted(new_cents),
                reassigned=reassigned,
                relink=relink,
                exclude=removed,
            )
            return {
                "merged_cells": len(removed),
                "moved_rows": int(moved_rows),
                "lists": int(k),
            }

        for u in removed:
            relink[u] = id_map[target[u]]

        # merged centroid = count-weighted mean of its sources (the
        # geometry probes will rank against)
        weights = {s: counts[s] for s in survivors}
        merged_vec = {s: geo[s] * counts[s] for s in survivors}
        for u in removed:
            t = target[u]
            merged_vec[t] = merged_vec[t] + geo[u] * counts[u]
            weights[t] += counts[u]
        new_cents = [
            (
                id_map[s],
                list(merged_vec[s] / weights[s]) if weights[s] else list(geo[s]),
            )
            for s in survivors
        ]
        self._swap_cells_layout(
            ipath, sorted(new_cents), relink=relink, exclude=removed
        )
        return {
            "merged_cells": len(removed),
            "moved_rows": int(moved_rows),
            "lists": int(k),
        }

    def prune_vector_index(self, name: str) -> dict[str, int]:
        """Delete sweep: drop index rows whose primary key no longer
        exists in the table. DELETE rewrites the TABLE only
        (:meth:`remove_by`), so the clustered IVF copy keeps serving
        deleted rows to probe search until this sweep runs —
        :meth:`maintain` runs it (step 2) whenever the layout holds
        more rows than the table, together with the postings twin that
        sweeps the BM25 and sparse layouts (:meth:`_prune_postings`).
        One pk semi-join against the current snapshot (honest O(index)
        cost, the price of any delete sweep), then ONLY the cells that
        lost rows rewrite; untouched partitions hardlink. Cells left
        empty keep their centroid (probe search returns nothing from
        them) — run :meth:`merge_vector_index` after a heavy delete to
        fold them away. Same lock + rollback-only journal. Returns
        ``{"pruned_rows", "rewritten_cells", "lists"}``; the table
        file ledger is untouched (prune never un-covers a live row —
        the next extend re-adopts as usual)."""
        _, ipath = self._open_layout(name, "ivf")
        pk = self._spec(name).primary_key
        if pk is None:
            raise SchemaError("prune_vector_index needs a primary key")
        with self._maintenance_lock(ipath):
            return self._prune_cells_locked(ipath, pk.name, self.load(name))

    def prune_multivec_index(self, name: str) -> dict[str, int]:
        """The multivector twin of :meth:`prune_vector_index`."""
        _, ipath = self._open_layout(name, "mvivf")
        pk = self._spec(name).primary_key
        if pk is None:
            raise SchemaError("prune_multivec_index needs a primary key")
        with self._maintenance_lock(ipath):
            return self._prune_cells_locked(ipath, pk.name, self.load(name))

    def _prune_cells_locked(
        self, ipath: Path, pk_name: str, table: DataFrame
    ) -> dict[str, int]:
        data = self.spark.read.parquet(str(ipath / "data"))
        kept = data.join(table.select(pk_name), pk_name, "left_semi")
        before = self._cell_counts(data)
        after = self._cell_counts(kept)
        cents = self._read_centroids(ipath / "centroids")
        affected = {c for c, n in before.items() if after.get(c, 0) != n}
        pruned = sum(before.values()) - sum(after.values())
        if affected:
            reassigned = kept.filter(
                F.col("centroid_id").isin([int(c) for c in affected])
            )
            self._swap_cells_layout(
                ipath,
                list(enumerate(cents)),
                reassigned=reassigned,
                exclude=affected,
            )
        return {
            "pruned_rows": int(pruned),
            "rewritten_cells": len(affected),
            "lists": len(cents),
        }

    def _prune_postings(self, name: str, kind: str) -> dict[str, int]:
        """The delete sweep of the flat postings layouts (``bm25``,
        ``sparse``) — the twin of :meth:`prune_vector_index`: drop
        every postings (and BM25 doclen) row whose doc id the table no
        longer holds, so deleted docs stop ranking and, for BM25, stop
        counting in n_docs, avgdl and df. One pk join measures the
        ghost docs (and records the sparse layout's live doc count,
        :meth:`_set_sparse_docs`); with none the rows are untouched.
        Otherwise each row directory rewrites through the swap journal
        (:meth:`_swap_index_dir`) and BM25's docfreq/stats re-derive
        from the surviving postings (:meth:`_rebuild_keyword_derived`)
        — the tables a fresh build over the live rows writes. The
        ``extend.intent`` marker brackets the rewrite, so a crash
        before the derived tables land makes the next extend rebuild
        them. Holds the maintenance lock. Returns ``{"pruned_rows"}``
        (ghost docs dropped)."""
        pk = self._spec(name).primary_key
        if pk is None:
            raise SchemaError(f"pruning {kind} of {name} needs a primary key")
        ipath = self._layout_path(name, kind)
        id_col = "doc_id" if kind == "bm25" else pk.name
        live = self.load(name).select(F.col(pk.name).alias(id_col))
        with self._maintenance_lock(ipath):
            # BM25 keeps one doclen row per doc; sparse only postings
            ids = ipath / ("doclen" if kind == "bm25" else "postings")
            n = (
                self.spark.read.parquet(str(ids))
                .select(id_col)
                .distinct()
                .join(live.withColumn("__live", F.lit(1)), id_col, "left")
                .agg(
                    F.count(F.lit(1)).alias("docs"),
                    F.count("__live").alias("live"),
                )
                .first()
            )
            ghosts = n["docs"] - n["live"]
            if ghosts:
                marked = not (ipath / "extend.intent").exists()
                self._mark_extend_intent(ipath)
                for d in self._LAYOUT_DIRS[kind]:
                    self._swap_index_dir(
                        ipath / d,
                        kind,
                        keep=lambda df: df.join(live, id_col, "left_semi"),
                    )
                if kind == "bm25":
                    self._rebuild_keyword_derived(ipath)
                if marked:
                    (ipath / "extend.intent").unlink(missing_ok=True)
            if kind == "sparse":
                self._set_sparse_docs(ipath, n["live"])
        return {"pruned_rows": int(ghosts)}

    def index_stats(self, name: str) -> dict:
        """Observability for every persisted index layout of ``name``
        (:meth:`_layouts`, so a layout caught mid compact_index swap
        is repaired and reported) — the numbers the maintenance
        decisions key on, one call:

        - per layout (``ivf`` / ``mvivf`` / ``bm25`` / ``sparse``):
          parquet file count + bytes (small-file pressure — feed
          :meth:`compact_index` when files pile up);
        - IVF layouts additionally: ``lists``, ``rows``, per-cell
          min/mean/max and ``skew`` (max/mean — the ratio
          :meth:`recluster_vector_index`'s ``max_cell_factor``
          thresholds), plus ``pq``/``opq``/``spherical`` flags;
        - ``bm25`` / ``sparse`` additionally: ``rows``, the indexed
          doc count (BM25: ``n_docs`` of its stats table; sparse: its
          recorded count, ``None`` when unknown — see
          :meth:`_set_sparse_docs`). More than the table holds means
          deleted docs still rank;
        - ``ledger_fresh``: whether files.json still proves
          append-only history against the CURRENT table files (False
          after a compact/DELETE → the next extend pays the anti-join
          and re-adopts);
        - ``files_behind``: table files appended since the layout last
          extended (0 = coverage current; >0 = run extend_*).

        Driver-side file listing plus one small groupBy per IVF
        layout and a one-row read for BM25; no table scan. Returns a
        plain dict, unbuilt layouts omitted."""
        import json

        self._spec(name)
        out: dict = {}
        try:
            cur_files = set(self.load(name).inputFiles())
        except Exception:  # noqa: BLE001 - table may be empty/missing
            cur_files = set()

        def _dir_stats(d: Path) -> tuple[int, int]:
            files = [p for p in d.rglob("*.parquet") if p.is_file()]
            return len(files), sum(p.stat().st_size for p in files)

        def _ledger_state(ipath: Path) -> dict:
            """ledger_fresh = the file-diff fast path is usable;
            files_behind = appended files not yet covered."""
            ledger = ipath / "files.json"
            seen = None
            if ledger.exists() and not (ipath / "extend.intent").exists():
                try:
                    seen = set(json.loads(ledger.read_text()))
                except ValueError:
                    pass
            fresh = seen is not None and seen <= cur_files
            behind = len(cur_files - seen) if seen is not None else len(cur_files)
            return {"ledger_fresh": fresh, "files_behind": behind}

        layouts = self._layouts(name)
        for key in ("ivf", "mvivf"):
            ipath = layouts.get(key)
            if ipath is None or not (ipath / "data").exists():
                continue
            n_files, n_bytes = _dir_stats(ipath / "data")
            cells = list(
                self._cell_counts(self.spark.read.parquet(str(ipath / "data"))).values()
            )
            rows = sum(cells)
            lists = (
                self.spark.read.parquet(str(ipath / "centroids")).count()
                if (ipath / "centroids").exists()
                else len(cells)
            )
            # cells emptied by a prune have no partition left — pad so
            # cell_min reflects them (the merge signal)
            if lists > len(cells):
                cells = cells + [0] * (int(lists) - len(cells))
            mean_cell = rows / max(1, lists)
            meta = self._vector_index_meta(ipath)
            out[key] = {
                "files": n_files,
                "bytes": n_bytes,
                "lists": int(lists),
                "rows": int(rows),
                "cell_min": int(min(cells)) if cells else 0,
                "cell_max": int(max(cells)) if cells else 0,
                "cell_mean": round(mean_cell, 2),
                "skew": round(max(cells) / mean_cell, 3) if cells else 0.0,
                "pq": (ipath / "codebooks").exists(),
                "opq": bool(meta.get("opq")),
                "residual": bool(meta.get("residual")),
                "rabitq": bool(meta.get("rabitq")),
                "spherical": bool(meta.get("spherical")),
                **_ledger_state(ipath),
            }
        for key in ("bm25", "sparse"):
            ipath = layouts.get(key)
            if ipath is None or not (ipath / "postings").exists():
                continue
            if key == "bm25":
                row = self.spark.read.parquet(str(ipath / "stats")).first()
                rows = int(row["n_docs"]) if row else 0
            else:
                rows = self._vector_index_meta(ipath).get("docs")
            n_files, n_bytes = _dir_stats(ipath)
            out[key] = {
                "files": n_files,
                "bytes": n_bytes,
                "rows": rows,
                **_ledger_state(ipath),
            }
        return out

    def maintain(
        self,
        name: str,
        *,
        max_cell_factor: float = 2.0,
        min_cell_factor: float = 4.0,
        max_waves: int = 8,
        compact_files_per_cell: float = 3.0,
        compact_bm25_files: int = 8,
    ) -> dict:
        """One-call maintenance policy: read :meth:`index_stats` and
        apply, in order, exactly the steps a drifted layout needs —
        the ops loop ``examples/maintenance_lifecycle.py`` walks by
        hand, as the single call a 100 TB owner schedules nightly
        (HTTP twin: ``POST /api/maintenance/{table}`` with
        ``op="auto"``).

        Policy (every step gated by a MEASURED signal, so a healthy
        index is a cheap no-op):

        1. **extend** — any layout with ``files_behind > 0`` (appends
           not yet covered) or a stale ledger (``ledger_fresh`` False:
           the next extend pays the pk anti-join once and re-adopts,
           restoring O(appended-data) extends — the example's closing
           step after a table compact).
        2. **prune** — deletes rewrite the table, never a layout, so
           a layout holding MORE docs (``rows``) than the table (for
           sparse: than its non-empty sparse cells, counted in the
           same table pass) sweeps the rows whose primary key the
           table no longer holds: rewriting only the IVF cells that
           lost rows, or the postings (BM25: and doclen, with
           docfreq/stats re-derived). A sparse layout whose count is
           unknown (an extend went through the pk anti-join) sweeps
           too, and the sweep records the count.
        3. **recluster** — IVF/multivec layouts whose ``skew``
           exceeds ``max_cell_factor``: targeted recluster waves (one
           split pass per call) until the layout converges or
           ``max_waves`` is hit. O(drifted cells) per wave.
        4. **merge** — cells starved below ``cell_mean /
           min_cell_factor`` (delete-heavy churn) fold into their
           nearest sibling: pure hardlinks, lists shrink, probes buy
           full cells again.
        5. **compact_index** — small-file hygiene when fragmentation
           is measured: an IVF layout averaging more than
           ``compact_files_per_cell`` files per cell (each extend
           appends one file set per touched partition), or a BM25 or
           sparse layout over ``compact_bm25_files`` files.

        Each primitive takes the per-layout maintenance lock itself;
        this method holds NO outer lock, so a concurrent maintainer
        surfaces as :class:`MaintenanceBusy` from whichever step
        collides (retryable — the completed steps stand). Returns
        ``{"actions": [...], "before": stats, "after": stats}`` with
        one entry per step taken and its primitive's stats."""
        actions: list[dict] = []
        before = self.index_stats(name)
        stats = before

        # 1. coverage: bring every stale/behind layout current
        for key, fn in self._extenders().items():
            st = stats.get(key)
            if st is None:
                continue
            if st["files_behind"] > 0 or not st["ledger_fresh"]:
                actions.append(
                    {"op": "extend", "index": key, "rows": int(fn(name))}
                )
        if actions:
            stats = self.index_stats(name)

        # 2. ghosts: rows the table deleted that a layout still holds
        pruners = {
            "ivf": self.prune_vector_index,
            "mvivf": self.prune_multivec_index,
            "bm25": lambda n: self._prune_postings(n, "bm25"),
            "sparse": lambda n: self._prune_postings(n, "sparse"),
        }
        if any(k in stats for k in pruners):
            counts = [F.count(F.lit(1)).alias("rows")]
            if "sparse" in stats:
                sv = self._spec(name).sparse_column.name
                counts.append(self._nonempty_sparse(sv).alias("sparse"))
            held = self.load(name).agg(*counts).first()
            pruned = False
            for key, fn in pruners.items():
                st = stats.get(key)
                if st is None or (
                    st["rows"] is not None
                    and st["rows"] <= held["sparse" if key == "sparse" else "rows"]
                ):
                    continue
                rep = fn(name)
                if rep["pruned_rows"]:
                    actions.append({"op": "prune", "index": key, **rep})
                    pruned = True
            if pruned:
                stats = self.index_stats(name)

        # 3. shape: split drifted cells until the skew gate holds
        recluster = {
            "ivf": self.recluster_vector_index,
            "mvivf": self.recluster_multivec_index,
        }
        for key, fn in recluster.items():
            waves = 0
            while (
                key in stats
                and stats[key]["skew"] > max_cell_factor
                and waves < max_waves
            ):
                wave = fn(name, max_cell_factor=max_cell_factor)
                actions.append({"op": "recluster", "index": key, **wave})
                waves += 1
                if wave["split_cells"] == 0:
                    # a freshly split cell can still exceed the factor
                    # only while splits happen; zero splits = converged
                    break
                stats = self.index_stats(name)

        # 4. starved cells fold into their nearest sibling
        mergers = {
            "ivf": self.merge_vector_index,
            "mvivf": self.merge_multivec_index,
        }
        for key, fn in mergers.items():
            st = stats.get(key)
            if (
                st is not None
                and st["lists"] > 1
                and st["cell_min"] < st["cell_mean"] / min_cell_factor
            ):
                fold = fn(name, min_cell_factor=min_cell_factor)
                if fold["merged_cells"]:
                    actions.append({"op": "merge", "index": key, **fold})
                    stats = self.index_stats(name)

        # 5. hygiene: measured fragmentation only
        frag = any(
            stats[key]["files"] > compact_files_per_cell * stats[key]["lists"]
            for key in ("ivf", "mvivf")
            if key in stats
        ) or any(
            key in stats and stats[key]["files"] > compact_bm25_files
            for key in ("bm25", "sparse")  # both are flat postings layouts
        )
        if frag:
            actions.append({"op": "compact_index", **self.compact_index(name)})
            stats = self.index_stats(name)

        return {"actions": actions, "before": before, "after": stats}

    def _recover_recluster(self, ipath: Path, *, locked: bool = False) -> None:
        """Roll BACK a recluster that crashed mid-swap: while
        ``recluster.intent.json`` exists the pre-recluster dirs are
        preserved (live or in trash), so restoring them is always safe
        — the split is derived state. Recovery only acts on ABANDONED
        journals: it takes the maintenance lock non-blockingly first,
        so a LIVE recluster (which writes its journal while holding
        the lock) can never have its swap rolled back mid-flight by a
        concurrent load. A crashed holder's flock is OS-released, so
        abandoned journals are always recoverable. No-op without a
        journal; leftover scratch dirs from pre-journal crashes are
        swept.

        ``locked=True`` is for callers that ALREADY hold this index's
        maintenance lock (the ``_extend_*_locked`` bodies): holding
        the lock itself proves no live recluster exists, so any
        journal found is abandoned and is rolled back directly.
        Re-acquiring here would be denied by the caller's own flock
        (flock is per open file description, even same-process) and
        recovery would be silently skipped — leaving extend to either
        fail on the renamed-away layout or append rows that the next
        unlocked load rolls back while files.json already marks them
        covered."""
        import json

        if not (ipath / "recluster.intent.json").exists() and not (
            ipath.exists() and any(ipath.glob(".recluster-*"))
        ):
            return

        def _rollback() -> None:
            intent = ipath / "recluster.intent.json"
            if intent.exists():
                rec = json.loads(intent.read_text())
                for live_name, trash_key in (
                    ("data", "trash_data"),
                    ("centroids", "trash_cents"),
                ):
                    live = ipath / live_name
                    trash = Path(rec[trash_key])
                    if trash.exists():
                        if live.exists():
                            shutil.rmtree(live)
                        trash.rename(live)
                intent.unlink()
            if ipath.exists():
                for leftover in ipath.glob(".recluster-*"):
                    shutil.rmtree(leftover, ignore_errors=True)

        if locked:
            _rollback()
            return
        try:
            with self._maintenance_lock(ipath):
                _rollback()
        except MaintenanceBusy:
            # a live maintainer owns the journal; its swap will
            # complete (or its crash releases the flock and the next
            # caller recovers)
            return

    def extend_multivec_index(self, name: str) -> int:
        """Assignment-only maintenance for the multivector index —
        the multivector twin of :meth:`extend_vector_index`: new rows'
        MEAN vectors are assigned to the existing mean-space centroids
        (plus token-centroid sets when the PLAID-style estimate was
        built) and appended into the clustered layout. Returns the
        number of newly indexed rows. Holds the maintenance lock like
        :meth:`extend_vector_index`."""
        with self._maintenance_lock(self._mv_index_path(name)):
            return self._extend_multivec_index_locked(name)

    def _extend_multivec_index_locked(self, name: str) -> int:
        from vechord_spark.operators.ivf import (
            assign_centroids,
            token_centroid_ids,
        )
        from vechord_spark.operators.maxsim import mean_vector

        # caller (extend_multivec_index) holds the maintenance lock —
        # recover in-lock (see _recover_recluster docstring)
        mv_col, ipath = self._open_layout(name, "mvivf", locked=True)
        pk = self._spec(name).primary_key
        if pk is None:
            raise SchemaError("extend_multivec_index needs a primary key")
        centroids = self._read_centroids(ipath / "centroids")
        new, covered = self._new_rows_since_index(name, ipath)
        if new is None:
            base = self.load(name)
            covered = sorted(base.inputFiles())
            indexed = self.spark.read.parquet(str(ipath / "data")).select(pk.name)
            new = base.join(indexed, pk.name, "left_anti")
        n_new = new.count()
        if n_new == 0:
            self._record_index_files(name, ipath, files=covered)
            return 0
        fresh = assign_centroids(
            new.withColumn("__mean", mean_vector(mv_col.name)),
            "__mean",
            centroids,
        )
        if (ipath / "token_centroids").exists():
            tok = self._read_centroids(ipath / "token_centroids")
            fresh = fresh.withColumn(
                "__centroid_ids", token_centroid_ids(mv_col.name, tok)
            )
        self._mark_extend_intent(ipath)
        fresh.write.mode("append").partitionBy("centroid_id").parquet(
            str(ipath / "data")
        )
        self._record_index_files(name, ipath, files=covered)
        return n_new

    def build_multivec_index(
        self,
        name: str,
        lists: int | None = None,
        max_iter: int = 8,
        token_lists: int | None = None,
    ) -> int:
        """Build + persist the multivector IVF index — the
        ``MultiVectorIndex`` analog (reference vechord/spec.py:447-464):
        KMeans centroids over per-row MEAN vectors, table rewritten
        ``partitionBy(centroid_id)`` so MaxSim probe filters become
        partition pruning (operators/ivf.MultiVecIvfIndex)."""
        from vechord_spark.operators.ivf import build_multivec_ivf

        spec = self._spec(name)
        mv_col = spec.multivec_column
        if mv_col is None:
            raise SchemaError(f"table {name} has no multivector column")
        df = self.load(name)
        # same race guard as build_vector_index: snapshot the scanned
        # file set now, not at record time
        scanned_files = sorted(df.inputFiles())
        n = df.count()
        if n == 0:
            raise SchemaError(f"cannot index empty table {name}")
        n_lists = lists or max(2, int(round(n**0.5)))
        index = build_multivec_ivf(
            df, mv_col.name, n_lists, max_iter=max_iter, token_lists=token_lists
        )
        ipath = self._mv_index_path(name)
        if ipath.exists():
            shutil.rmtree(ipath)
        index.write_clustered(str(ipath / "data"))
        self._write_centroids(
            ipath / "centroids", enumerate(index.inner.centroids)
        )
        if index.token_centroids is not None:
            self._write_centroids(
                ipath / "token_centroids", enumerate(index.token_centroids)
            )
        self._record_index_files(name, ipath, files=scanned_files)
        return n_lists

    def _load_multivec_index(self, name: str):
        mv_col, ipath = self._open_layout(name, "mvivf")
        return self._layout_handle(
            name, "mvivf", ipath, lambda: self._read_multivec_layout(ipath, mv_col.name)
        )

    def _read_multivec_layout(self, ipath: Path, mv_col: str):
        from vechord_spark.operators.ivf import IvfIndex, MultiVecIvfIndex

        token_centroids = None
        if (ipath / "token_centroids").exists():
            token_centroids = self._read_centroids(ipath / "token_centroids")
        return MultiVecIvfIndex(
            IvfIndex(
                self._read_centroids(ipath / "centroids"),
                self.spark.read.parquet(str(ipath / "data")),
                "__mean",
            ),
            mv_col,
            token_centroids=token_centroids,
        )

    def _load_vector_index(self, name: str):
        vec_col, ipath = self._open_layout(name, "ivf")
        return self._layout_handle(
            name, "ivf", ipath, lambda: self._read_vector_layout(ipath, vec_col.name)
        )

    def _read_vector_layout(self, ipath: Path, vec_col: str):
        from vechord_spark.operators.ivf import IvfIndex

        meta = self._vector_index_meta(ipath)
        assigned = self.spark.read.parquet(str(ipath / "data"))
        ivf = IvfIndex(
            self._read_centroids(ipath / "centroids"),
            assigned,
            vec_col,
            spherical=bool(meta.get("spherical")),
        )
        book = self._load_codebooks(ipath)
        if book is not None:
            from vechord_spark.operators.pq import IvfPqIndex

            # the persisted layout already carries __pq — no re-encode
            return IvfPqIndex(
                ivf, book, encoded=assigned, residual=bool(meta.get("residual"))
            )
        rq = self._load_rabitq_rotation(ipath)
        if rq is not None:
            from vechord_spark.operators.rabitq import RabitqIndex

            # the layout carries __rq_code/__rq_norm/__rq_dot already
            return RabitqIndex(ivf, rq, encoded=assigned)
        return ivf

    def _filtered_layout(self, name: str, index, conditions):
        """PRE-filter a loaded probe layout (plain IVF, PQ/OPQ/residual,
        RaBitQ or multivector) by ``conditions``. Codes and correction
        scalars are per-row columns of the clustered copy, so one
        filter on the stored frame restricts every phase: the probe or
        estimate scan ranks only matching rows and the exact refine
        reranks only matchers — top-k MATCHING rows, with the same
        probes-vs-selectivity recall trade as pgvector's filtered
        scan. Conditions on ALTER-added columns are refused: the
        layout's denormalized copy may predate the ALTER (column
        missing) or a backfill (stale values), so filtering it would
        silently drop or mismatch rows; the brute-force path reads the
        table and is always current."""
        if not conditions:
            return index
        evolved_cond = set(conditions) & self._evolved_columns(name)
        if evolved_cond:
            raise SchemaError(
                f"conditions on ALTER-added columns "
                f"{sorted(evolved_cond)} are not supported on the "
                "index path (the clustered copy snapshots rows at "
                "build time); use the brute-force path (probes=None)"
            )
        from vechord_spark.operators.ivf import IvfIndex, MultiVecIvfIndex
        from vechord_spark.operators.pq import IvfPqIndex
        from vechord_spark.operators.rabitq import RabitqIndex

        def where(df: DataFrame) -> DataFrame:
            return df.filter(build_predicate(df, conditions))

        if isinstance(index, MultiVecIvfIndex):
            return MultiVecIvfIndex(
                self._filtered_layout(name, index.inner, conditions),
                index.mv_col,
                token_centroids=index.token_centroids,
            )
        if isinstance(index, IvfPqIndex):
            return IvfPqIndex(
                index.ivf,
                index.book,
                encoded=where(index.encoded),
                residual=index.residual,
            )
        if isinstance(index, RabitqIndex):
            return RabitqIndex(index.ivf, index.rot, encoded=where(index.encoded))
        # keep the probe geometry: a spherical index must normalize the
        # query on the filtered path too
        return IvfIndex(
            index.centroids,
            where(index.assigned),
            index.vec_col,
            spherical=index.spherical,
        )

    def _quantized_two_scan(
        self, index, qv, topk, probes, refine, dist, layout_fields, pk_name
    ):
        """The two-scan quantized probe search (see search_by_vector's
        quantized branch): codes-only estimate scan -> bounded key
        collect -> pushed-IN float scan -> exact top-k."""
        from vechord_spark.functions.vector import vector_distance

        from vechord_spark.operators.ivf import default_probes

        keys = [
            r[0]
            for r in index.estimate_topk(
                qv, pk_name, probes=probes, refine=refine, distance=dist
            ).collect()
        ]
        vcol = index.ivf.vec_col
        drop = [
            c
            for c in ("__pq", "__rq_code", "__rq_norm", "__rq_dot")
            if c in index.encoded.columns
        ]
        # phase 2 keeps the probe's PARTITION pruning too — the pk IN
        # filter prunes row groups, the centroid filter prunes whole
        # cell directories before any footer is opened
        probe_ids = index.ivf.nearest_centroids(
            qv, probes if probes is not None else default_probes(index.ivf.lists)
        )
        matched = (
            index.encoded.filter(
                F.col("centroid_id").isin(probe_ids)
                & F.col(pk_name).isin(keys)
            )
            if keys
            else index.encoded.filter(F.lit(False))
        )
        scored = matched.withColumn(
            "distance", vector_distance(dist, vcol, list(qv))
        ).drop(*drop)
        return (
            scored.orderBy(F.col("distance").asc(), F.col(pk_name).asc())
            .limit(topk)
            .select(*layout_fields, "distance")
        )

    def search_by_vector(
        self,
        name: str,
        vector: Sequence[float],
        topk: int = 10,
        return_fields: Sequence[str] | None = None,
        distance: str | None = None,
        probes: int | None = None,
        refine: int = 100,
        conditions: Mapping[str, Any] | None = None,
    ) -> DataFrame:
        """Vector k-NN over the table's vector column (reference
        vechord/registry.py:190-225). Default topk=10 matches
        vechord/registry.py:194.

        With ``probes`` set, searches the persisted IVF layout
        (build_vector_index) — the probe filter prunes whole partitions
        of the clustered copy, the vchordrq ``probes`` GUC analog
        (vechord/client.py:285-292). If the index was built with
        ``pq_m``, the probe search runs the PQ-ADC estimate over the
        stored codes and exact-reranks ``refine`` survivors (the
        quantized estimate->refine scan, vechord/spec.py:437-444).
        Without ``probes``, exact brute-force scan (the deterministic
        correctness path).

        ``conditions`` (same mapping shape as ``select_by``) applies
        BEFORE ranking — PRE-filter semantics, pgvector's ``WHERE meta
        ... ORDER BY embedding <=> q LIMIT k``: the result is the k
        nearest rows that MATCH, never fewer because neighbors were
        discarded after the fact. On the brute-force path the predicate
        reaches the parquet scan; on the IVF path it prunes the
        clustered frame before the probe scan (composes with partition
        pruning — a highly selective predicate can make low ``probes``
        under-recall, exactly pgvector's filtered-iterative-scan trade).
        """
        from vechord_spark.operators.knn import knn

        from vechord_spark.errors import DimensionMismatch

        spec = self._spec(name)
        vec_col = spec.vector_column
        if vec_col is None:
            raise SchemaError(f"table {name} has no vector column")
        if len(vector) != vec_col.engine_type.dim:
            raise DimensionMismatch(
                f"query vector has {len(vector)} dims, "
                f"{name}.{vec_col.name} is Vector({vec_col.engine_type.dim})"
            )
        dist = distance or (vec_col.index.distance if vec_col.index else "l2")
        fields = list(return_fields) if return_fields else spec.non_vec_columns()
        pk = spec.primary_key
        if probes is not None:
            layout_fields, evolved, forced_pk = self._plan_evolved_fields(
                name, fields, pk
            )
            index = self._filtered_layout(
                name, self._load_vector_index(name), conditions
            )
            from vechord_spark.operators.pq import IvfPqIndex
            from vechord_spark.operators.rabitq import RabitqIndex

            if isinstance(index, (IvfPqIndex, RabitqIndex)):
                qv = list(vector)
                rot = self._load_opq_rotation(self._index_path(name))
                if rot is not None:
                    # OPQ layout: the stored copy is rotated, so the
                    # query rotates too — distances are unchanged
                    # (orthogonality), codes are sharper
                    qv = [float(x) for x in rot.apply(qv)]
                if pk is not None:
                    # TWO-SCAN refine — the plan the quantization
                    # exists for: phase 1 scans ONLY (pk, codes,
                    # scalars) of the probed partitions (the float
                    # column never leaves disk during the estimate —
                    # the D/8-vs-4·D bandwidth cut, realized), collects
                    # the bounded `refine` keys driver-side, and
                    # phase 2 re-reads floats under a PUSHED pk IN
                    # filter for exactly those survivors. The operator-
                    # level single-scan index.search (float column
                    # rides the estimate scan) stays available for
                    # pk-less frames and page-cached local work.
                    out = self._quantized_two_scan(
                        index, qv, topk, probes, refine, dist,
                        layout_fields, pk.name,
                    )
                else:
                    out = index.search(
                        qv,
                        k=topk,
                        probes=probes,
                        refine=refine,
                        distance=dist,
                        select=layout_fields,
                        tie_break=None,
                    )
            else:
                out = index.search(
                    list(vector),
                    k=topk,
                    probes=probes,
                    distance=dist,
                    select=layout_fields,
                    tie_break=pk.name if pk else None,
                )
            if evolved:
                out = self._serve_evolved_fields(
                    name, out, fields, evolved, forced_pk
                )
            return out
        base = self.load(name)
        if conditions:
            base = base.filter(build_predicate(base, conditions))
        return knn(
            base,
            vec_col.name,
            list(vector),
            k=topk,
            distance=dist,
            select=fields,
            tie_break=pk.name if pk else None,
        )

    def search_by_vector_batch(
        self,
        name: str,
        vectors: Sequence[Sequence[float]],
        topk: int = 10,
        return_fields: Sequence[str] | None = None,
        distance: str | None = None,
        probes: int | None = None,
        refine: int = 100,
        conditions: Mapping[str, Any] | None = None,
    ) -> DataFrame:
        """Batch k-NN: top-k rows for EVERY query vector, one frame
        with a ``query_id`` column (the position in ``vectors``) — the
        eval/mining shape. With ``probes`` the persisted IVF layout
        answers the whole batch in ONE pass over the union of the
        probed partitions (:meth:`IvfIndex.search_batch`); without,
        the exact broadcast batch brute force (operators/knn.knn_join:
        the query set broadcasts against one corpus scan, per-query
        window top-k). N single :meth:`search_by_vector` calls would
        plan N jobs and re-open shared partitions N times.

        ``conditions`` applies ONE pre-filter to the whole batch (the
        eval-stream shape — a shared metadata filter): each query's
        result is its top-k MATCHING rows, same PRE-filter semantics
        as the single path — on quantized layouts too (codes are
        per-row columns of the clustered copy, so the filter restricts
        the estimate scan and the exact refine alike)."""
        from vechord_spark.errors import DimensionMismatch
        from vechord_spark.operators.knn import knn_join

        spec = self._spec(name)
        vec_col = spec.vector_column
        if vec_col is None:
            raise SchemaError(f"table {name} has no vector column")
        if not len(vectors):
            raise ValueError("vectors must be a non-empty list")
        for v in vectors:
            if len(v) != vec_col.engine_type.dim:
                raise DimensionMismatch(
                    f"query vector has {len(v)} dims, "
                    f"{name}.{vec_col.name} is Vector({vec_col.engine_type.dim})"
                )
        dist = distance or (vec_col.index.distance if vec_col.index else "l2")
        fields = list(return_fields) if return_fields else spec.non_vec_columns()
        pk = spec.primary_key
        if probes is not None:
            # one shared PRE-filter for the whole batch, same contract
            # as the single path
            index = self._filtered_layout(
                name, self._load_vector_index(name), conditions
            )
            from vechord_spark.operators.pq import IvfPqIndex
            from vechord_spark.operators.rabitq import RabitqIndex

            layout_fields, evolved, forced_pk = self._plan_evolved_fields(
                name, fields, pk
            )
            qs = [list(v) for v in vectors]
            extra = {}
            if isinstance(index, (IvfPqIndex, RabitqIndex)):
                # PQ layout: the batched estimate -> refine -> exact
                # two-phase (IvfPqIndex.search_batch); OPQ stores the
                # clustered copy rotated, so the whole query batch
                # rotates too (distances unchanged)
                rot = self._load_opq_rotation(self._index_path(name))
                if rot is not None:
                    qs = [[float(x) for x in rot.apply(q)] for q in qs]
                extra = {"refine": refine}
            out = index.search_batch(
                qs,
                k=topk,
                probes=probes,
                distance=dist,
                select=layout_fields,
                tie_break=pk.name if pk else None,
                **extra,
            )
            if evolved:
                out = self._serve_evolved_fields(
                    name, out, fields, evolved, forced_pk
                )
            # the result is bounded (n_queries x k): pin a deterministic
            # presentation order like the single-query path's top-k sort
            order = [F.col("query_id").asc(), F.col("distance").asc()]
            if pk and pk.name in out.columns:
                order.append(F.col(pk.name).asc())
            return out.orderBy(*order)
        qdf = self.spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vectors)],
            "query_id int, __qvec array<double>",
        )
        base = self.load(name)
        if conditions:
            base = base.filter(build_predicate(base, conditions))
        joined = knn_join(
            qdf,
            base,
            "__qvec",
            vec_col.name,
            "query_id",
            pk.name if pk else fields[0],
            k=topk,
            distance=dist,
        )
        corpus_id = pk.name if pk else fields[0]
        out = joined.select(
            "query_id", F.col(corpus_id), "distance"
        )
        extra = [f for f in fields if f != corpus_id]
        if extra:
            out = out.join(
                self.load(name).select(corpus_id, *extra), corpus_id
            ).select("query_id", *fields, "distance")
        order = [F.col("query_id").asc(), F.col("distance").asc()]
        if pk:
            order.append(F.col(pk.name).asc())
        return out.orderBy(*order)

    def search_by_multivec(
        self,
        name: str,
        vectors: Sequence[Sequence[float]],
        topk: int = 10,
        return_fields: Sequence[str] | None = None,
        maxsim_refine: int | None = None,
        probes: int | None = None,
        conditions: Mapping[str, Any] | None = None,
    ) -> DataFrame:
        """MaxSim top-k (reference vechord/registry.py:227-267).

        ``maxsim_refine`` enables the two-phase path: mean-vector
        estimate narrows to ``refine`` candidates, exact MaxSim reranks
        (reference GUC default 1000, vechord/registry.py:233).

        With ``probes`` set, searches the persisted multivector IVF
        layout (build_multivec_index) — probe filters prune whole
        partitions of the clustered copy, the MultiVectorIndex analog
        (reference vechord/spec.py:447-464).

        ``conditions`` applies BEFORE ranking — the same PRE-filter
        contract as search_by_vector: top-k MATCHING rows, never fewer
        because neighbors were discarded after the fact. On the probed
        path the predicate prunes the clustered copy (composes with
        partition pruning); evolved columns are refused there for the
        same staleness reason as the vector path."""
        from vechord_spark.operators.maxsim import maxsim_topk, maxsim_topk_refined

        from vechord_spark.errors import DimensionMismatch

        spec = self._spec(name)
        mv_col = spec.multivec_column
        if mv_col is None:
            raise SchemaError(f"table {name} has no multivector column")
        for v in vectors:
            if len(v) != mv_col.engine_type.dim:
                raise DimensionMismatch(
                    f"query vector has {len(v)} dims, "
                    f"{name}.{mv_col.name} is MultiVector({mv_col.engine_type.dim})"
                )
        fields = list(return_fields) if return_fields else spec.non_vec_columns()
        pk = spec.primary_key
        if probes is not None:
            index = self._filtered_layout(
                name, self._load_multivec_index(name), conditions
            )
            layout_fields, evolved, forced_pk = self._plan_evolved_fields(
                name, fields, pk
            )
            out = index.search(
                [list(v) for v in vectors],
                k=topk,
                probes=probes,
                refine=maxsim_refine,
                select=layout_fields,
                tie_break=pk.name if pk else None,
            )
            if evolved:
                out = self._serve_evolved_fields(
                    name, out, fields, evolved, forced_pk
                )
            return out
        base = self.load(name)
        if conditions:
            base = base.filter(build_predicate(base, conditions))
        if maxsim_refine is not None:
            return maxsim_topk_refined(
                base,
                mv_col.name,
                [list(v) for v in vectors],
                k=topk,
                refine=maxsim_refine,
                select=fields,
                tie_break=pk.name if pk else None,
            )
        return maxsim_topk(
            base,
            mv_col.name,
            [list(v) for v in vectors],
            k=topk,
            select=fields,
            tie_break=pk.name if pk else None,
        )

    def search_by_multivec_batch(
        self,
        name: str,
        queries: Sequence[Sequence[Sequence[float]]],
        topk: int = 10,
        return_fields: Sequence[str] | None = None,
        probes: int | None = None,
        conditions: Mapping[str, Any] | None = None,
    ) -> DataFrame:
        """Batch MaxSim: top-k rows for EVERY late-interaction query,
        one frame with a ``query_id`` column — the multivector twin of
        :meth:`search_by_vector_batch`. With ``probes`` the persisted
        clustered layout answers the whole batch in one pass over the
        union of the probed partitions
        (:meth:`MultiVecIvfIndex.search_batch`); without, the exact
        batched scan (operators/maxsim.maxsim_topk_batch — each row's
        token matrix stacks once and scores against every query).
        ``conditions`` pre-filters the whole batch with the single
        path's contract."""
        from vechord_spark.errors import DimensionMismatch
        from vechord_spark.operators.maxsim import maxsim_topk_batch

        spec = self._spec(name)
        mv_col = spec.multivec_column
        if mv_col is None:
            raise SchemaError(f"table {name} has no multivector column")
        if not len(queries):
            raise ValueError("queries must be a non-empty list")
        for q in queries:
            for v in q:
                if len(v) != mv_col.engine_type.dim:
                    raise DimensionMismatch(
                        f"query vector has {len(v)} dims, "
                        f"{name}.{mv_col.name} is "
                        f"MultiVector({mv_col.engine_type.dim})"
                    )
        fields = list(return_fields) if return_fields else spec.non_vec_columns()
        pk = spec.primary_key
        qs = [[list(v) for v in q] for q in queries]
        if probes is not None:
            index = self._filtered_layout(
                name, self._load_multivec_index(name), conditions
            )
            layout_fields, evolved, forced_pk = self._plan_evolved_fields(
                name, fields, pk
            )
            out = index.search_batch(
                qs,
                k=topk,
                probes=probes,
                select=layout_fields,
                tie_break=pk.name if pk else None,
            )
            if evolved:
                out = self._serve_evolved_fields(
                    name, out, fields, evolved, forced_pk
                )
        else:
            base = self.load(name)
            if conditions:
                base = base.filter(build_predicate(base, conditions))
            out = maxsim_topk_batch(
                base,
                mv_col.name,
                qs,
                k=topk,
                select=fields,
                tie_break=pk.name if pk else None,
            )
        order = [F.col("query_id").asc(), F.col("maxsim_distance").asc()]
        if pk and pk.name in out.columns:
            order.append(F.col(pk.name).asc())
        return out.orderBy(*order)

    def build_keyword_index(self, name: str, tokenizer=None) -> int:
        """Build + persist the BM25 postings/statistics tables — the
        engine's rendition of the reference's bm25 index DDL
        (vechord/client.py:158-171). Postings shuffle once at build
        time; queries then broadcast-join their terms against the
        stored postings. Returns the number of postings rows.

        ``tokenizer``: optional WordPieceTokenizer (or None for the
        engine tokenizer). The tokenizer CONFIG AND VOCAB are persisted
        alongside the postings (``meta.json`` + ``vocab.txt``) so a
        fresh session's query path re-tokenizes queries exactly the way
        the corpus was tokenized — the reference stores the tokenizer
        name in the index DDL the same way (vechord/spec.py:258-295).

        Batch semantics: rebuild after bulk appends.
        """
        import json

        from vechord_spark.operators.bm25 import Bm25Index

        spec = self._spec(name)
        kw_col = spec.keyword_column
        if kw_col is None:
            raise SchemaError(f"table {name} has no keyword column")
        pk = spec.primary_key
        if pk is None:
            raise SchemaError(f"table {name} needs a primary key for BM25")
        df = self.load(name)
        # same race guard as build_vector_index: the ledger gets the
        # file set of the EXACT df the postings were tokenized from
        scanned_files = sorted(df.inputFiles())
        index = Bm25Index(df, pk.name, kw_col.name, tokenizer=tokenizer)
        ipath = self._layout_path(name, "bm25")
        if ipath.exists():
            shutil.rmtree(ipath)
        # persist for the build: all four persisted tables derive from
        # the postings; without the cache each write re-tokenizes the
        # corpus. Released before returning - the queries read parquet.
        index.persist(eager=True)
        try:
            index.postings.write.parquet(str(ipath / "postings"))
            index.doclen.write.parquet(str(ipath / "doclen"))
            index.docfreq.write.parquet(str(ipath / "docfreq"))
            index.stats.write.parquet(str(ipath / "stats"))
        finally:
            index.postings.unpersist()
            index.doclen.unpersist()
            index.docfreq.unpersist()
        from vechord_spark.functions.unigram import UnigramTokenizer

        if tokenizer is None:
            meta = {"tokenizer": "simple"}
        elif isinstance(tokenizer, UnigramTokenizer):
            # the unigram model is piece -> logprob, not a bare vocab
            # list: persist the full probability table (save() writes
            # sorted JSON) so a fresh session's Viterbi segments
            # queries EXACTLY as the corpus was segmented
            tokenizer.save(str(ipath / "unigram.json"))
            meta = {"tokenizer": "unigram"}
        else:
            (ipath / "vocab.txt").write_text(
                "\n".join(sorted(tokenizer.vocab)) + "\n"
            )
            meta = {
                "tokenizer": "wordpiece",
                "unk_token": tokenizer.unk_token,
                "lowercase": tokenizer.lowercase,
                "max_input_chars_per_word": tokenizer.max_input_chars_per_word,
            }
        (ipath / "meta.json").write_text(json.dumps(meta))
        self._record_index_files(name, ipath, files=scanned_files)
        return self.spark.read.parquet(str(ipath / "postings")).count()

    def _rebuild_keyword_derived(self, ipath: Path) -> None:
        """Recompute docfreq + stats FROM the persisted postings — the
        crash repair for extend_keyword_index. The postings are the
        source of truth (docfreq/stats are pure functions of them, see
        operators/bm25.py:103-112); a crash between the postings append
        and the derived-table overwrite leaves derived tables that no
        incremental merge can fix (the stale docfreq would be merged
        in), so recovery re-derives both in one postings scan. Vocab-
        sized output; idempotent under repeated crashes."""
        postings = self.spark.read.parquet(str(ipath / "postings"))
        rebuilt_docfreq = (
            postings.where(F.col("term").isNotNull())
            .groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df"))
            .localCheckpoint(eager=True)
        )
        rebuilt_stats = (
            postings.select("doc_id", "dl")
            .distinct()
            .agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
            .localCheckpoint(eager=True)
        )
        rebuilt_docfreq.write.mode("overwrite").parquet(str(ipath / "docfreq"))
        rebuilt_stats.write.mode("overwrite").parquet(str(ipath / "stats"))

    def extend_keyword_index(self, name: str) -> int:
        """Incremental BM25 index maintenance — the keyword twin of
        :meth:`extend_vector_index`: docs appended since the index
        build are tokenized (with the PERSISTED tokenizer config, so
        query/corpus tokenization stays aligned) and their postings
        appended; the derived tables merge EXACTLY because the old and
        new doc sets are disjoint:

        - ``docfreq``: df(term) adds across disjoint doc sets;
        - ``stats``: n_docs adds, avgdl is the dl-weighted mean.

        Every doc's idf — old and new — then reflects the grown corpus,
        byte-identical to a full rebuild (pinned by tests). Cost: one
        tokenize scan of the NEW docs plus a vocab-sized merge; the old
        postings are never re-read beyond the derived-table rewrite.
        Returns the number of newly indexed docs.

        Crash contract: unlike the vector layout (where the pk
        anti-join alone fully repairs state), the BM25 index has
        DERIVED tables — a crash between the postings/doclen append and
        the docfreq/stats overwrite leaves derived tables that lag the
        postings, and the anti-join would see the delta docs present
        and skip them forever. So whenever the ``extend.intent`` marker
        is found, docfreq and stats are REBUILT from the persisted
        postings (:meth:`_rebuild_keyword_derived`) instead of trusting
        or merging the stored copies — recovery stays automatic.

        Holds the maintenance lock like :meth:`extend_vector_index`.
        """
        ipath = self._layout_path(name, "bm25")
        with self._maintenance_lock(ipath):
            return self._extend_keyword_index_locked(name)

    def _extend_keyword_index_locked(self, name: str) -> int:
        from vechord_spark.operators.bm25 import Bm25Index

        spec = self._spec(name)
        kw_col = spec.keyword_column
        if kw_col is None:
            raise SchemaError(f"table {name} has no keyword column")
        pk = spec.primary_key
        if pk is None:
            raise SchemaError(f"table {name} needs a primary key for BM25")
        old = self._load_keyword_index(name, locked=True)
        if old is None:
            raise SchemaError(
                f"no BM25 index for {name}; call build_keyword_index first"
            )
        ipath = self._layout_path(name, "bm25")
        # a present intent marker means a previous extend may have
        # appended postings without landing the derived tables — the
        # derived tables must be rebuilt from postings this run
        recovering = (ipath / "extend.intent").exists()
        # file-ledger fast path (O(new data)); anti-join fallback when
        # the ledger cannot prove append-only history
        new, covered = self._new_rows_since_index(name, ipath)
        if new is None:
            base = self.load(name)
            covered = sorted(base.inputFiles())
            indexed = (
                old.postings.select(F.col("doc_id").alias(pk.name)).distinct()
            )
            new = base.join(indexed, pk.name, "left_anti")
        n_new = new.count()
        if n_new == 0:
            if recovering:
                # the crashed extend's postings DID land (that's why the
                # anti-join found nothing new) but its docfreq/stats
                # never did — repair before clearing the marker
                self._rebuild_keyword_derived(ipath)
            self._record_index_files(name, ipath, files=covered)
            return 0
        delta = Bm25Index(new, pk.name, kw_col.name, tokenizer=old.tokenizer)
        self._mark_extend_intent(ipath)
        delta.postings.write.mode("append").parquet(str(ipath / "postings"))
        delta.doclen.write.mode("append").parquet(str(ipath / "doclen"))
        if recovering:
            # the stored docfreq/stats may already lag the postings from
            # the crashed run — an incremental merge would bake the
            # staleness in; re-derive both from the appended postings
            self._rebuild_keyword_derived(ipath)
            self._record_index_files(name, ipath, files=covered)
            return n_new
        # merged derived tables: materialize BEFORE overwriting the
        # directories they derive from (localCheckpoint cuts the lineage
        # back to the input files)
        merged_df = (
            old.docfreq.withColumnRenamed("df", "df_old")
            .join(
                delta.docfreq.withColumnRenamed("df", "df_new"),
                "term",
                "full_outer",
            )
            .select(
                "term",
                (
                    F.coalesce("df_old", F.lit(0)) + F.coalesce("df_new", F.lit(0))
                ).alias("df"),
            )
            .localCheckpoint(eager=True)
        )
        merged_stats = (
            old.stats.select(
                F.col("n_docs").alias("n_a"), F.col("avgdl").alias("avg_a")
            )
            .crossJoin(
                delta.stats.select(
                    F.col("n_docs").alias("n_b"), F.col("avgdl").alias("avg_b")
                )
            )
            .select(
                (F.col("n_a") + F.col("n_b")).alias("n_docs"),
                (
                    (F.col("n_a") * F.col("avg_a") + F.col("n_b") * F.col("avg_b"))
                    / (F.col("n_a") + F.col("n_b"))
                ).alias("avgdl"),
            )
            .localCheckpoint(eager=True)
        )
        merged_df.write.mode("overwrite").parquet(str(ipath / "docfreq"))
        merged_stats.write.mode("overwrite").parquet(str(ipath / "stats"))
        self._record_index_files(name, ipath, files=covered)
        return n_new

    def _load_keyword_index(self, name: str, *, locked: bool = False):
        """The persisted BM25 index of ``name`` (postings, doclen,
        docfreq, stats and the tokenizer it was built with), or None
        when none was built — the keyword search then falls back to
        the one-shot plan. A search's handle is held per on-disk
        generation (:meth:`_layout_handle`) with its corpus stats read
        once (:meth:`Bm25Index.inline_stats`), so every query takes the
        literal-stats fast path. ``locked``: the caller holds the
        layout's maintenance lock (see :meth:`_recover_index_swap`);
        such a load reads the layout afresh and bypasses the held
        handle."""
        ipath = self._layout_path(name, "bm25")
        self._recover_index_swap(ipath, "bm25", locked=locked)
        if not (ipath / "postings").exists():
            return None
        if locked:
            return self._read_keyword_layout(name, ipath)
        return self._layout_handle(
            name,
            "bm25",
            ipath,
            lambda: self._read_keyword_layout(name, ipath).inline_stats(),
        )

    def _read_keyword_layout(self, name: str, ipath: Path):
        import json

        from vechord_spark.operators.bm25 import Bm25Index

        spec = self._spec(name)
        tokenizer = None  # engine tokenizer unless meta says otherwise
        meta_path = ipath / "meta.json"
        if meta_path.exists():
            meta = json.loads(meta_path.read_text())
            if meta.get("tokenizer") == "wordpiece":
                from vechord_spark.functions.wordpiece import WordPieceTokenizer

                tokenizer = WordPieceTokenizer.from_vocab_file(
                    str(ipath / "vocab.txt"),
                    unk_token=meta["unk_token"],
                    lowercase=meta["lowercase"],
                    max_input_chars_per_word=meta["max_input_chars_per_word"],
                )
            elif meta.get("tokenizer") == "unigram":
                from vechord_spark.functions.unigram import UnigramTokenizer

                tokenizer = UnigramTokenizer.load(str(ipath / "unigram.json"))
        kw_idx = spec.keyword_column.index
        return Bm25Index.from_frames(
            *(
                self.spark.read.parquet(str(ipath / t))
                for t in ("postings", "doclen", "docfreq", "stats")
            ),
            doc_id=spec.primary_key.name,
            k1=kw_idx.k1,
            b=kw_idx.b,
            tokenizer=tokenizer,
        )

    # ------------------------------------------------------ sparse vectors
    def build_sparse_index(self, name: str) -> int:
        """Build + persist the inverted-postings layout for the
        table's :class:`SparseVector` column — CREATE INDEX for sparse
        retrieval (the reference produces SparseEmbedding values,
        vechord/embedding.py:413-441, but has no sparse column type or
        index to put them in; SURVEY §1.2). One explode of the stored
        ``(indices, values)`` struct into ``(idx, pk, v)`` rows,
        written RANGE-CLUSTERED on ``idx`` (repartitionByRange + sort)
        so a query's handful of dimensions skip whole files on parquet
        footer min/max. Returns the number of postings rows; records
        the table file ledger so :meth:`extend_sparse_index` stays
        O(appended data)."""
        spec = self._spec(name)
        sv = spec.sparse_column
        if sv is None:
            raise SchemaError(f"table {name} has no sparse vector column")
        pk = spec.primary_key
        if pk is None:
            raise SchemaError(f"table {name} needs a primary key for sparse search")
        df = self.load(name)
        scanned_files = sorted(df.inputFiles())
        posts = self._sparse_postings_frame(df, pk.name, sv.name)
        ipath = self._sparse_index_path(name)
        if ipath.exists():
            shutil.rmtree(ipath)
        posts.repartitionByRange(8, F.col("idx")).sortWithinPartitions(
            "idx"
        ).write.parquet(str(ipath / "postings"))
        n = (
            self.spark.read.parquet(str(ipath / "postings"))
            .agg(F.count(F.lit(1)).alias("n"), F.countDistinct(pk.name).alias("docs"))
            .first()
        )
        self._set_sparse_docs(ipath, int(n["docs"]))
        self._record_index_files(name, ipath, files=scanned_files)
        return int(n["n"])

    def _set_sparse_docs(self, ipath: Path, docs: int | None) -> None:
        """Persist the sparse layout's indexed-doc count (``meta.json``
        ``docs``; ``index_stats()['sparse']['rows']``), the signal
        :meth:`maintain` compares with the table's non-empty sparse
        cells to decide whether the ghost sweep runs. ``None`` marks
        it unknown (an extend through the pk anti-join cannot tell
        indexed ghosts from live docs); the next sweep records it."""
        import json

        meta = ipath / "meta.json"
        if docs is None:
            meta.unlink(missing_ok=True)
        else:
            meta.write_text(json.dumps({"docs": int(docs)}))

    @staticmethod
    def _nonempty_sparse(sv_col: str):
        """Counts the rows whose sparse cell enters the postings (NULL
        and empty cells contribute none)."""
        return F.count(F.when(F.size(F.col(f"{sv_col}.indices")) > 0, 1))

    @staticmethod
    def _sparse_postings_frame(df: DataFrame, pk: str, sv_col: str) -> DataFrame:
        """(idx, pk, v) rows from the stored struct column — NULL
        sparse cells contribute nothing."""
        return (
            df.filter(F.col(sv_col).isNotNull())
            .select(
                F.col(pk),
                F.explode(
                    F.arrays_zip(
                        F.col(f"{sv_col}.indices").alias("idx"),
                        F.col(f"{sv_col}.values").alias("v"),
                    )
                ).alias("__p"),
            )
            .select(
                F.col("__p.idx").alias("idx"),
                F.col(pk),
                F.col("__p.v").cast("double").alias("v"),
            )
        )

    def extend_sparse_index(self, name: str) -> int:
        """Assignment-free sparse index maintenance: postings for rows
        appended since the build/last extend append as new files (the
        file-ledger fast path reads ONLY the new table files; the pk
        anti-join fallback covers rewritten history). Appended files
        are individually idx-sorted — footer pruning stays effective,
        and :meth:`compact_index` re-clusters the whole layout when
        fragmentation accumulates. Holds the maintenance lock (same
        check-then-append double-append window as the other
        extends)."""
        sv, ipath = self._open_layout(name, "sparse")
        pk = self._spec(name).primary_key
        if pk is None:
            raise SchemaError("extend_sparse_index needs a primary key")
        with self._maintenance_lock(ipath):
            new, covered = self._new_rows_since_index(name, ipath)
            if new is None:
                base = self.load(name)
                covered = sorted(base.inputFiles())
                indexed = self.spark.read.parquet(
                    str(ipath / "postings")
                ).select(pk.name).distinct()
                # NULL sparse cells never enter the postings, so the
                # anti-join must skip them or they read as "new" on
                # every ledger-less extend forever
                new = base.filter(F.col(sv.name).isNotNull()).join(
                    indexed, pk.name, "left_anti"
                )
                docs = None
            else:
                docs = self._vector_index_meta(ipath).get("docs")
            n = new.agg(
                F.count(F.lit(1)).alias("n"),
                self._nonempty_sparse(sv.name).alias("docs"),
            ).first()
            n_new = int(n["n"])
            if n_new:
                self._mark_extend_intent(ipath)
                self._sparse_postings_frame(
                    new, pk.name, sv.name
                ).repartitionByRange(2, F.col("idx")).sortWithinPartitions(
                    "idx"
                ).write.mode("append").parquet(str(ipath / "postings"))
            self._set_sparse_docs(ipath, None if docs is None else docs + n["docs"])
            self._record_index_files(name, ipath, files=covered)
            return n_new

    def _sparse_postings(self, name: str) -> DataFrame:
        """The persisted sparse postings frame of ``name``, held per
        on-disk generation (:meth:`_layout_handle`)."""
        _, ipath = self._open_layout(name, "sparse")
        return self._layout_handle(
            name,
            "sparse",
            ipath,
            lambda: self.spark.read.parquet(str(ipath / "postings")),
        )

    def search_by_sparse(
        self,
        name: str,
        query: Mapping[int, float],
        topk: int = 10,
        return_fields: Sequence[str] | None = None,
        conditions: Mapping[str, Any] | None = None,
    ) -> DataFrame:
        """Sparse dot-product top-k against the persisted postings
        (build_sparse_index): prune to the query's dimensions (an
        ``idx IN (...)`` the range-clustered parquet answers by
        skipping files), broadcast the query weights, one per-doc sum
        — O(matched postings), independent of corpus size. ``query``
        maps dimension index -> weight (the reference SparseEmbedding's
        indices/values pairs). ``conditions`` applies BEFORE ranking
        (PRE-filter semantics, same contract as search_by_vector): the
        result is the top-k matching docs, never fewer because
        neighbors were discarded after the fact — a pk semi-join from
        the filtered table into the matched postings."""
        spec = self._spec(name)
        posts = self._sparse_postings(name)
        pk = spec.primary_key
        fields = list(return_fields) if return_fields else spec.non_vec_columns()
        if not query:
            return (
                self.load(name).select(*fields).limit(0)
                .withColumn("score", F.lit(None).cast("double"))
            )
        qdf = self.spark.createDataFrame(
            [(int(i), float(w)) for i, w in query.items()], "idx int, qw double"
        )
        matched = posts.filter(F.col("idx").isin([int(i) for i in query]))
        if conditions:
            eligible = self.load(name).filter(
                build_predicate(self.load(name), conditions)
            )
            matched = matched.join(
                eligible.select(pk.name), pk.name, "left_semi"
            )
        scored = (
            matched
            .join(F.broadcast(qdf), "idx")
            .groupBy(pk.name)
            .agg(F.round(F.sum(F.col("v") * F.col("qw")), 6).alias("score"))
            .orderBy(F.col("score").desc(), F.col(pk.name).asc())
            .limit(topk)
        )
        extra = [f for f in fields if f != pk.name]
        if extra:
            scored = scored.join(
                self.load(name).select(pk.name, *extra), pk.name
            )
        return scored.select(*fields, "score").orderBy(
            F.col("score").desc(), F.col(pk.name).asc()
        )

    def search_by_sparse_batch(
        self,
        name: str,
        queries: Sequence[Mapping[int, float]],
        topk: int = 10,
        return_fields: Sequence[str] | None = None,
        conditions: Mapping[str, Any] | None = None,
    ) -> DataFrame:
        """Batch sparse retrieval: top-k rows for EVERY sparse query,
        one frame with a ``query_id`` column — the sparse member of
        the batch family (search_by_vector_batch /
        search_by_multivec_batch / search_by_keyword_batch). The whole
        batch is answered from ONE scan of the persisted postings: the
        union of every query's dimensions drives the pushed ``idx IN``
        filter (the range-clustered layout skips non-matching files on
        footer stats), a broadcast ``(query_id, idx, qw)`` table fans
        each matched posting to exactly the queries that weight its
        dimension, and a per-query window takes top-k below the
        exchange. N single :meth:`search_by_sparse` calls would re-open
        the postings N times; here the scan cost is paid once per
        BATCH — the eval-stream shape. Per-query results are identical
        to the single-query path (same rounding, same score-desc /
        pk-asc tie order); queries with no dimensions return no rows.
        ``conditions`` pre-filters the whole batch (a pk semi-join from
        the filtered table into the matched postings, the single
        path's contract)."""
        from pyspark.sql import Window

        spec = self._spec(name)
        posts = self._sparse_postings(name)
        pk = spec.primary_key
        if not len(queries):
            raise ValueError("queries must be a non-empty list")
        fields = list(return_fields) if return_fields else spec.non_vec_columns()
        pairs = [
            (qi, int(i), float(w))
            for qi, q in enumerate(queries)
            for i, w in q.items()
        ]
        if not pairs:
            return (
                self.load(name)
                .select(*fields)
                .limit(0)
                .withColumn("query_id", F.lit(None).cast("int"))
                .withColumn("score", F.lit(None).cast("double"))
                .select("query_id", *fields, "score")
            )
        qdf = self.spark.createDataFrame(
            pairs, "query_id int, idx int, qw double"
        )
        matched = posts.filter(
            F.col("idx").isin(sorted({i for _, i, _ in pairs}))
        )
        if conditions:
            eligible = self.load(name).filter(
                build_predicate(self.load(name), conditions)
            )
            matched = matched.join(
                eligible.select(pk.name), pk.name, "left_semi"
            )
        scored = (
            matched.join(F.broadcast(qdf), "idx")
            .groupBy("query_id", pk.name)
            .agg(F.round(F.sum(F.col("v") * F.col("qw")), 6).alias("score"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col(pk.name).asc()
        )
        top = (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= topk)
            .drop("__rn")
        )
        extra = [f for f in fields if f != pk.name]
        if extra:
            top = top.join(self.load(name).select(pk.name, *extra), pk.name)
        return top.select("query_id", *fields, "score").orderBy(
            F.col("query_id").asc(),
            F.col("score").desc(),
            F.col(pk.name).asc(),
        )

    def search_by_keyword_batch(
        self,
        name: str,
        queries: Sequence[str],
        topk: int = 10,
        return_fields: Sequence[str] | None = None,
        conditions: Mapping[str, Any] | None = None,
    ) -> DataFrame:
        """Batch BM25: top-k rows for EVERY query string, one frame
        with a ``query_id`` column — the keyword member of the batch
        family (search_by_vector_batch / search_by_multivec_batch /
        the batched probe search). Requires the persisted postings
        index (build_keyword_index): the whole batch is answered from
        ONE postings scan (:meth:`Bm25Index.topk_batch`).
        ``conditions`` pre-filters the whole batch (same semantics as
        the single path: each query returns its top-k MATCHING docs,
        corpus statistics stay corpus-global)."""
        spec = self._spec(name)
        if spec.keyword_column is None:
            raise SchemaError(f"table {name} has no keyword column")
        pk = spec.primary_key
        if pk is None:
            raise SchemaError(f"table {name} needs a primary key for BM25")
        if not len(queries):
            raise ValueError("queries must be a non-empty list")
        index = self._load_keyword_index(name)
        if index is None:
            raise SchemaError(
                f"no keyword index for {name}; call build_keyword_index first"
            )
        fields = list(return_fields) if return_fields else spec.non_vec_columns()
        cand = None
        if conditions:
            base = self.load(name)
            cand = base.filter(build_predicate(base, conditions)).select(pk.name)
        hits = index.topk_batch(list(queries), k=topk, candidates=cand)
        payload = self.load(name).select(*{*fields, pk.name})
        out = (
            hits.withColumnRenamed("doc_id", "__hit_id")
            .join(payload, F.col("__hit_id") == F.col(pk.name))
            .select("query_id", *fields, "score", "rank")
        )
        return out.orderBy(F.col("query_id").asc(), F.col("rank").asc())

    def search_by_keyword(
        self,
        name: str,
        query: str,
        topk: int = 10,
        return_fields: Sequence[str] | None = None,
        conditions: Mapping[str, Any] | None = None,
    ) -> DataFrame:
        """BM25 keyword top-k (reference vechord/registry.py:269-302).

        Uses the persisted postings index (build_keyword_index) when one
        exists — queries then never re-tokenize the corpus; otherwise
        the one-shot query-term-pruned plan.

        ``conditions`` (same mapping as ``select_by``) restricts the
        RESULT to matching rows with pre-filter semantics (exactly k
        true matches); corpus statistics (idf, avgdl) stay
        corpus-global — the standard search-engine behavior for
        metadata filters, and identical on both paths."""
        from vechord_spark.operators.bm25 import bm25_topk

        spec = self._spec(name)
        kw_col = spec.keyword_column
        if kw_col is None:
            raise SchemaError(f"table {name} has no keyword column")
        fields = list(return_fields) if return_fields else spec.non_vec_columns()
        pk = spec.primary_key
        if pk is None:
            raise SchemaError(f"table {name} needs a primary key for BM25")
        cand = None
        if conditions:
            base = self.load(name)
            cand = base.filter(build_predicate(base, conditions)).select(pk.name)
        index = self._load_keyword_index(name)
        if index is not None:
            hits = index.topk(query, k=topk, candidates=cand)
            payload = self.load(name).select(*{*fields, pk.name})
            return (
                hits.withColumnRenamed("doc_id", "__hit_id")
                .join(payload, F.col("__hit_id") == F.col(pk.name), "inner")
                .select(*fields, "score", "rank")
                # the payload join reorders rows; callers expect
                # ranked output (matching search_by_vector)
                .orderBy("rank")
            )
        idx = kw_col.index
        hits = bm25_topk(
            self.load(name),
            doc_id=pk.name,
            text_col=kw_col.name,
            query=query,
            k=topk,
            k1=idx.k1,
            b=idx.b,
            select=fields,
            candidates=cand,
        )
        return hits.orderBy("rank")
