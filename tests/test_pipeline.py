"""Pipeline staging + atomic publish (reference transaction semantics,
tests/test_table.py:261-298: failure leaves no partial rows)."""

import os
import time

import pytest
from pyspark.sql import functions as F

from vechord_spark.plans.pipeline import PipelineRun, VechordPipeline, inject_stage
from vechord_spark.registry import VechordRegistry
from vechord_spark.spec import Column, TableSpec
from pyspark.sql import types as T


@pytest.fixture()
def reg(spark, tmp_path):
    r = VechordRegistry("pipe", str(tmp_path), spark)
    r.register(TableSpec("document", [Column("uid", "int", primary_key=True), Column("text", "string")]))
    r.register(
        TableSpec(
            "chunk",
            [Column("uid", "string", primary_key=True), Column("doc_id", "int"), Column("text", "string")],
        )
    )
    return r


def test_two_stage_pipeline_commits_both(reg, spark):
    batch = {"uids": (1, 2)}

    def load_docs(run, _):
        a, b = batch["uids"]
        df = spark.createDataFrame(
            [(a, "alpha. beta"), (b, "gamma. delta")], "uid int, text string"
        )
        return run.stage("document", df)

    def chunk_docs(run, docs):
        chunks = docs.select(
            F.col("uid").alias("doc_id"),
            F.posexplode(F.split("text", "\\. ")).alias("seq", "ctext"),
        ).select(
            F.concat_ws("-", "doc_id", "seq").alias("uid"),
            "doc_id",
            F.col("ctext").alias("text"),
        )
        return run.stage("chunk", chunks)

    VechordPipeline(reg, [load_docs, chunk_docs]).run()
    assert reg.load("document").count() == 2
    assert reg.load("chunk").count() == 4

    # a second batch into the same tables: every row is visible, each
    # batch is one commit per table, and vacuum deletes none of them
    batch["uids"] = (3, 4)
    VechordPipeline(reg, [load_docs, chunk_docs]).run()
    for table, n in (("document", 4), ("chunk", 8)):
        assert reg.load(table).count() == n
        assert [e["op"] for e in reg.history(table)] == ["bootstrap", "append", "append"]
        assert reg.vacuum(table) == []
        assert reg.load(table).count() == n


def test_aged_stage_survives_vacuum_before_its_commit(reg, spark, monkeypatch):
    """A stage written long before the run commits: a vacuum in another
    session between the move into the table and the log commit must
    not take the moved files for old orphans."""
    from vechord_spark.plans.commitlog import TableLog

    def stage_aged(run, _):
        df = spark.createDataFrame([(1, "a"), (2, "b")], "uid int, text string")
        out = run.stage("document", df)
        old = time.time() - 2 * reg.HISTORY_RETENTION_S
        for p in run.staging_path("document").iterdir():
            os.utime(p, (old, old))
        return out

    commit_latest = TableLog.commit_latest

    def vacuum_then_commit(self, *args, **kwargs):
        reg.vacuum("document", older_than_s=reg.HISTORY_RETENTION_S)
        return commit_latest(self, *args, **kwargs)

    monkeypatch.setattr(TableLog, "commit_latest", vacuum_then_commit)
    VechordPipeline(reg, [stage_aged]).run()
    assert sorted(r.uid for r in reg.load("document").collect()) == [1, 2]


def test_failed_pipeline_leaves_no_partial_rows(reg, spark):
    def load_docs(run, _):
        df = spark.createDataFrame([(1, "alpha")], "uid int, text string")
        return run.stage("document", df)

    def explode_fail(run, docs):
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        VechordPipeline(reg, [load_docs, explode_fail]).run()
    # all-or-nothing: stage 1's rows must not be visible
    assert reg.load("document").count() == 0


def test_stage_output_visible_to_next_stage_only(reg, spark):
    """The run-id staging replaces the reference's xmin transaction
    buffer (vechord/client.py:221-222): downstream sees this run's rows
    before commit, external readers do not."""
    run = PipelineRun(reg)
    staged = run.stage(
        "document", spark.createDataFrame([(9, "x")], "uid int, text string")
    )
    assert staged.count() == 1  # downstream view
    assert reg.load("document").count() == 0  # external view
    run.commit()
    assert reg.load("document").count() == 1


def test_inject_stage_fan_out(reg, spark):
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("piece", T.StringType()),
        ]
    )
    fn = lambda row: [
        {"doc_id": row["uid"], "piece": p} for p in row["text"].split(" ")
    ]
    stage = inject_stage(fn, schema, input_fields=["uid", "text"])
    df = spark.createDataFrame([(1, "a b c"), (2, "d")], "uid long, text string")
    out = stage(df).collect()
    assert len(out) == 4


def test_recover_incomplete_commit_rolls_back(reg, spark, monkeypatch):
    # simulate a process death mid-publish: manifest written, one part
    # file moved, staging still on disk -> recovery must restore the
    # pre-run table state
    import json
    import shutil as _sh
    from pathlib import Path

    from vechord_spark.plans.pipeline import recover_incomplete_runs

    base = spark.createDataFrame([(1, "keep")], "uid int, text string")
    run0 = PipelineRun(reg)
    run0.stage("document", base)
    run0.commit()
    assert reg.load("document").count() == 1

    dead = PipelineRun(reg)
    dead.stage("document", spark.createDataFrame([(2, "lost")], "uid int, text string"))
    # half-publish by hand (what commit() does up to the crash point)
    live = Path(reg.table_path("document"))
    staged_table = dead._staged[0][1]
    parts = sorted(staged_table.glob("part-*"))
    targets = [
        live / f"part-{dead.run_id}-{i}{''.join(p.suffixes)}"
        for i, p in enumerate(parts)
    ]
    dead._manifest_path().parent.mkdir(parents=True, exist_ok=True)
    dead._manifest_path().write_text(
        json.dumps({"run_id": dead.run_id, "targets": [str(t) for t in targets]})
    )
    _sh.move(str(parts[0]), str(targets[0]))  # crash after the first move

    recovered = recover_incomplete_runs(reg)
    assert dead.run_id in recovered
    assert not list(live.glob(f"part-{dead.run_id}-*"))
    assert not dead._manifest_path().exists()
    rows = reg.load("document").collect()
    assert [(r.uid, r.text) for r in rows] == [(1, "keep")]

    # a crash between the two tables' commits (the first table is
    # committed, the second moved but not): recovery returns BOTH
    # tables to their pre-run rows, the committed one through a
    # compensating commit
    from vechord_spark.plans.commitlog import TableLog

    class Crash(BaseException):
        """Process death: no except-Exception rollback runs."""

    reg.insert_rows("chunk", [{"uid": "1-0", "doc_id": 1, "text": "keep"}])
    dead = PipelineRun(reg)
    dead.stage("document", spark.createDataFrame([(3, "lost")], "uid int, text string"))
    dead.stage(
        "chunk",
        spark.createDataFrame([("3-0", 3, "lost")], "uid string, doc_id int, text string"),
    )
    real = TableLog.try_commit

    def dies_on_chunk(self, version, add=(), remove=(), op="append"):
        if self.table_dir.name.endswith("_chunk"):
            raise Crash()
        return real(self, version, add=add, remove=remove, op=op)

    with monkeypatch.context() as m:
        m.setattr(TableLog, "try_commit", dies_on_chunk)
        with pytest.raises(Crash):
            dead.commit()
    assert reg.load("document").count() == 2  # the crash state is real
    assert dead.run_id in recover_incomplete_runs(reg)
    assert {(r.uid, r.text) for r in reg.load("document").collect()} == {(1, "keep")}
    assert {r.uid for r in reg.load("chunk").collect()} == {"1-0"}
    assert reg.history("document")[-1]["op"] == "revert"
    assert not list(Path(reg.table_path("chunk")).glob(f"part-{dead.run_id}-*"))
    assert recover_incomplete_runs(reg) == []


def test_rewrite_crash_rolls_forward_from_staging(reg, spark):
    # crash between the two renames (live moved to trash, staging not
    # yet promoted): load() must finish the publish, not serve empty
    import json
    from pathlib import Path

    reg.append("document", spark.createDataFrame(
        [(1, "old"), (2, "gone")], "uid int, text string"))
    live = Path(reg.table_path("document"))
    survivors = reg.load("document").filter("uid = 1")

    run_dir = Path(reg.base_path) / ".staging" / "rewrite-crashed"
    staging = run_dir / "document"
    survivors.write.mode("overwrite").parquet(str(staging))
    trash = Path(reg.base_path) / ".trash" / "rewrite-crashed" / "document"
    (run_dir / "INTENT.json").write_text(json.dumps(
        {"table": "document", "staging": str(staging),
         "live": str(live), "trash": str(trash)}))
    trash.parent.mkdir(parents=True, exist_ok=True)
    live.rename(trash)  # the crash point: live is absent

    rows = reg.load("document").collect()
    assert [(r.uid, r.text) for r in rows] == [(1, "old")]
    assert not (run_dir / "INTENT.json").exists()


def test_rewrite_crash_rolls_back_from_trash(reg, spark):
    # staging lost, only the trash copy remains: load() restores it
    import json
    from pathlib import Path

    reg.append("document", spark.createDataFrame([(1, "old")], "uid int, text string"))
    live = Path(reg.table_path("document"))
    run_dir = Path(reg.base_path) / ".staging" / "rewrite-crashed2"
    run_dir.mkdir(parents=True, exist_ok=True)
    trash = Path(reg.base_path) / ".trash" / "rewrite-crashed2" / "document"
    (run_dir / "INTENT.json").write_text(json.dumps(
        {"table": "document", "staging": str(run_dir / "document"),
         "live": str(live), "trash": str(trash)}))
    trash.parent.mkdir(parents=True, exist_ok=True)
    live.rename(trash)

    rows = reg.load("document").collect()
    assert [(r.uid, r.text) for r in rows] == [(1, "old")]
