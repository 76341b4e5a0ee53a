"""The commit log every registry write goes through: multi-writer
appends, atomic rewrites, snapshot isolation, time travel, vacuum.

The reference inherits all of this from PostgreSQL (MVCC snapshots,
sequences, unique indexes — vechord/registry.py:64-101 binds tables to
Postgres storage); the lake registry gets it from the manifest log in
vechord_spark/plans/commitlog.py. Concurrency tests drive REAL threads
through one SparkSession — Spark schedules concurrent jobs fine; the
registry's version-claim protocol is what serializes the commits.
"""

import os
import threading
import time

import pytest

from pathlib import Path

from pyspark.sql import functions as F

from vechord_spark.errors import UniqueViolation
from vechord_spark.plans.commitlog import TableLog
from vechord_spark.registry import VechordRegistry
from vechord_spark.spec import Column, TableSpec

DOC_SPEC = lambda: TableSpec(  # noqa: E731 — fresh spec per registry
    "doc",
    [
        Column("uid", "int", primary_key=True),
        Column("text", "string"),
    ],
)


@pytest.fixture()
def reg(spark, tmp_path):
    r = VechordRegistry("occ", str(tmp_path), spark)
    r.register(DOC_SPEC())
    return r


def _rows(lo, hi):
    return [{"uid": i, "text": f"doc {i}"} for i in range(lo, hi)]


# ---------------------------------------------------------------- basics
def test_append_load_roundtrip_and_versions(reg):
    assert reg.insert_rows("doc", _rows(0, 5)) == 5
    assert reg.load("doc").count() == 5
    assert reg.insert_rows("doc", _rows(5, 8)) == 3
    assert reg.load("doc").count() == 8
    # bootstrap (v0) + two appends
    assert reg.table_version("doc") == 2
    ops = [e["op"] for e in reg.history("doc")]
    assert ops == ["bootstrap", "append", "append"]


def test_time_travel_reads_old_snapshot(reg):
    reg.insert_rows("doc", _rows(0, 5))
    reg.insert_rows("doc", _rows(5, 8))
    assert reg.load("doc", version=1).count() == 5
    assert reg.load("doc", version=2).count() == 8
    with pytest.raises(ValueError):
        reg.load("doc", version=99)


def test_delete_is_one_atomic_commit(reg):
    reg.insert_rows("doc", _rows(0, 10))
    v_before = reg.table_version("doc")
    assert reg.remove_by("doc", {"uid": 3}) == 1
    assert reg.table_version("doc") == v_before + 1
    assert reg.history("doc")[-1]["op"] == "delete"
    assert reg.load("doc").count() == 9
    # pre-delete snapshot still readable: old files not yet vacuumed
    assert reg.load("doc", version=v_before).count() == 10


def test_snapshot_isolation_across_writes(reg):
    reg.insert_rows("doc", _rows(0, 5))
    before = reg.load("doc")  # bound to the files of this snapshot
    reg.insert_rows("doc", _rows(5, 9))
    assert before.count() == 5  # unaffected by the later commit
    assert reg.load("doc").count() == 9


def test_vacuum_reclaims_rewrite_history_and_orphans(reg, tmp_path):
    reg.insert_rows("doc", _rows(0, 10))
    reg.remove_by("doc", {"uid": 0})
    # orphan: staged but never committed (a crashed writer)
    orphans = reg._stage_data_files(
        "doc", reg.spark.createDataFrame([(99, "zzz")], "uid int, text string")
    )
    assert reg.load("doc").count() == 9  # uncommitted files invisible
    deleted = reg.vacuum("doc")
    assert set(orphans) <= set(deleted)  # orphans reclaimed
    assert len(deleted) > len(orphans)  # plus the pre-delete history
    assert reg.load("doc").count() == 9  # live data intact


def test_rewrite_vacuums_history_past_retention(reg):
    """A table rewritten but never maintained does not keep every
    rewrite: each rewrite commit vacuums the files no commit references
    once they are older than the retention, and keeps younger ones for
    time travel."""
    reg.insert_rows("doc", _rows(0, 10))
    v_first = reg.table_version("doc")
    first = reg._snapshot("doc").files
    reg.remove_by("doc", {"uid": 0})
    v_second = reg.table_version("doc")
    second = reg._snapshot("doc").files
    table_dir = Path(reg.table_path("doc"))
    assert all((table_dir / f).exists() for f in first)  # young: kept
    old = time.time() - 2 * reg.HISTORY_RETENTION_S
    for f in first:
        os.utime(table_dir / f, (old, old))

    reg.remove_by("doc", {"uid": 1})
    assert not any((table_dir / f).exists() for f in first)
    assert all((table_dir / f).exists() for f in second)
    assert reg.load("doc", version=v_second).count() == 9
    assert reg.load("doc").count() == 8
    with pytest.raises(FileNotFoundError):
        reg.load("doc", version=v_first)


def test_bootstrap_adopts_legacy_directory(spark, tmp_path):
    # a table directory written without a log (as older versions did)
    occ = VechordRegistry("occ", str(tmp_path), spark)
    occ.register(DOC_SPEC())
    legacy = spark.createDataFrame([(i, f"doc {i}") for i in range(6)], "uid int, text string")
    legacy.write.parquet(occ.table_path("doc"))
    assert occ.load("doc").count() == 6
    assert occ.history("doc")[0]["op"] == "bootstrap"
    occ.insert_rows("doc", _rows(6, 8))
    assert occ.load("doc").count() == 8
    # a second registry on the same path reads THROUGH the log
    other = VechordRegistry("occ", str(tmp_path), spark)
    other.register(DOC_SPEC())
    assert other.load("doc").count() == 8
    assert [e["op"] for e in other.history("doc")] == ["bootstrap", "append"]


def _plan_jobs(spark, fn):
    """Spark jobs run while ``fn()`` builds (not executes) a plan."""
    sc = spark.sparkContext
    group = f"plan-{id(fn)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_snapshot_read_plans_without_spark_jobs(reg, spark):
    """Spark lists more than parallelPartitionDiscovery.threshold (32)
    explicit paths with a distributed job; a snapshot read of a table
    with more live files than that must still plan with no job — when
    the directory holds exactly the live files, and when it also holds
    a removed file that vacuum has not reclaimed yet (the latest
    version, and time travel to the version before the removal)."""
    rows = spark.createDataFrame([(i, f"doc {i}") for i in range(200)], "uid int, text string")
    reg.append("doc", rows.repartition(48))
    table = Path(reg.table_path("doc"))
    assert len(reg._ensure_log("doc").snapshot().files) == 48
    assert _plan_jobs(spark, lambda: reg.load("doc")) == 0
    assert reg.load("doc").count() == 200

    # a commit that removes one file (as a pipeline revert does)
    log = reg._ensure_log("doc")
    gone = log.snapshot().files[0]
    n_gone = spark.read.parquet(str(table / gone)).count()
    log.commit_latest(remove=[gone], op="revert")
    assert len(log.snapshot().files) == 47 and len(list(table.glob("*.parquet"))) == 48
    assert _plan_jobs(spark, lambda: reg.load("doc")) == 0
    assert _plan_jobs(spark, lambda: reg.load("doc", version=1)) == 0
    assert reg.load("doc").count() == 200 - n_gone
    assert reg.load("doc", version=1).count() == 200


def test_compact_is_atomic_and_preserves_rows(reg):
    for lo in range(0, 20, 5):
        reg.insert_rows("doc", _rows(lo, lo + 5))
    stats = reg.compact("doc")
    assert stats["files_before"] > stats["files_after"] >= 1
    assert reg.load("doc").count() == 20
    assert reg.history("doc")[-1]["op"] == "compact"


def test_cascade_goes_through_log(spark, tmp_path):
    r = VechordRegistry("occ", str(tmp_path), spark)
    r.register(DOC_SPEC())
    r.register(
        TableSpec(
            "chunk",
            [
                Column("cid", "int", primary_key=True),
                Column("doc_id", "int", foreign_key=("doc", "uid")),
            ],
        )
    )
    r.insert_rows("doc", _rows(0, 3))
    r.insert_rows("chunk", [{"cid": i, "doc_id": i % 3} for i in range(9)])
    r.remove_by("doc", {"uid": 1})
    assert r.load("chunk").count() == 6
    assert r.history("chunk")[-1]["op"] == "cascade"


# ----------------------------------------------------------- concurrency
def _run_threads(workers):
    errors = []

    def wrap(fn):
        def run():
            try:
                fn()
            except Exception as e:  # noqa: BLE001 — surfaced below
                errors.append(e)

        return run

    threads = [threading.Thread(target=wrap(w)) for w in workers]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return errors


def test_concurrent_appends_all_land(reg):
    n_writers, per = 6, 20

    def writer(i):
        return lambda: reg.insert_rows("doc", _rows(i * per, (i + 1) * per))

    errors = _run_threads([writer(i) for i in range(n_writers)])
    assert errors == []
    assert reg.load("doc").count() == n_writers * per
    # versions are contiguous: bootstrap + one commit per append
    versions = [e["version"] for e in reg.history("doc")]
    assert versions == list(range(n_writers + 1))


def test_concurrent_serial_ids_never_collide(spark, tmp_path):
    r = VechordRegistry("occ", str(tmp_path), spark)
    r.register(
        TableSpec(
            "seq",
            [
                Column("uid", "long", primary_key=True, auto_increment=True),
                Column("text", "string"),
            ],
        )
    )

    def writer(i):
        return lambda: r.insert_rows(
            "seq", [{"text": f"w{i}-{j}"} for j in range(10)]
        )

    errors = _run_threads([writer(i) for i in range(4)])
    assert errors == []
    ids = [row.uid for row in r.load("seq").select("uid").collect()]
    assert len(ids) == 40
    assert len(set(ids)) == 40  # losers re-seeded past the winners' max


def test_concurrent_unique_collision_exactly_one_wins(spark, tmp_path):
    r = VechordRegistry("occ", str(tmp_path), spark)
    r.register(
        TableSpec(
            "uniq",
            [
                Column("uid", "int", primary_key=True),
                Column("slug", "string", unique=True),
            ],
        )
    )
    barrier = threading.Barrier(2)

    def writer(uid):
        def run():
            barrier.wait()
            r.insert_rows("uniq", [{"uid": uid, "slug": "same-slug"}])

        return run

    errors = _run_threads([writer(1), writer(2)])
    # the version race serializes them: the loser re-probes the winner's
    # delta and raises, exactly like the reference's unique index
    assert len(errors) == 1
    assert isinstance(errors[0], UniqueViolation)
    assert r.load("uniq").count() == 1


def test_delete_racing_append_converges(reg):
    reg.insert_rows("doc", _rows(0, 50))
    barrier = threading.Barrier(2)

    def deleter():
        barrier.wait()
        reg.remove_by("doc", {"text": "doc 7"})

    def appender():
        barrier.wait()
        reg.insert_rows("doc", _rows(50, 60))

    errors = _run_threads([deleter, appender])
    assert errors == []
    final = reg.load("doc")
    assert final.filter("uid = 7").count() == 0
    assert final.count() == 59


# ------------------------------------------------------------- log layer
def test_try_commit_is_first_writer_wins(tmp_path):
    log = TableLog(tmp_path / "t")
    assert log.try_commit(0, add=["a.parquet"], op="bootstrap")
    assert not log.try_commit(0, add=["b.parquet"])  # slot taken
    assert not log.try_commit(2, add=["b.parquet"])  # gap refused
    assert log.try_commit(1, add=["b.parquet"], remove=["a.parquet"])
    snap = log.snapshot()
    assert snap.version == 1 and snap.files == ("b.parquet",)
    assert log.snapshot(version=0).files == ("a.parquet",)


def test_upsert_replaces_and_appends_atomically(reg):
    reg.insert_rows("doc", _rows(0, 5))
    batch = reg.spark.createDataFrame(
        [(3, "updated 3"), (9, "new 9")], "uid int, text string"
    )
    assert reg.upsert("doc", batch) == 2
    assert reg.history("doc")[-1]["op"] == "upsert"
    got = {r.uid: r.text for r in reg.load("doc").collect()}
    assert len(got) == 6
    assert got[3] == "updated 3" and got[9] == "new 9" and got[2] == "doc 2"


def test_upsert_rejects_duplicate_keys_in_batch(reg):
    reg.insert_rows("doc", _rows(0, 2))
    bad = reg.spark.createDataFrame(
        [(1, "a"), (1, "b")], "uid int, text string"
    )
    with pytest.raises(UniqueViolation):
        reg.upsert("doc", bad)


def test_concurrent_upserts_converge(reg):
    reg.insert_rows("doc", _rows(0, 10))
    barrier = threading.Barrier(2)

    def upserter(lo, hi, tag):
        def run():
            barrier.wait()
            batch = reg.spark.createDataFrame(
                [(i, f"{tag} {i}") for i in range(lo, hi)], "uid int, text string"
            )
            reg.upsert("doc", batch)

        return run

    # disjoint key ranges; both must land regardless of commit order
    errors = _run_threads([upserter(0, 5, "left"), upserter(5, 10, "right")])
    assert errors == []
    got = {r.uid: r.text for r in reg.load("doc").collect()}
    assert len(got) == 10
    assert all(got[i] == f"left {i}" for i in range(5))
    assert all(got[i] == f"right {i}" for i in range(5, 10))


def test_compact_readopts_coverage_without_race(spark, tmp_path):
    """A compact() whose commit lands on the version its extend-first
    step covered records the compacted version as covered (same rows),
    so the next extend reads only the log delta. The raced case, where
    coverage must NOT move, is test_compact_survives_interleaved_append."""
    import random

    from vechord_spark.spec import Vector

    rng = random.Random(23)
    r = VechordRegistry("occ_cl", str(tmp_path), spark)
    r.register(
        TableSpec(
            "emb",
            [Column("uid", "int", primary_key=True), Column("vec", Vector(8))],
        )
    )
    rows = lambda ids: [
        {"uid": i, "vec": [rng.uniform(-1, 1) for _ in range(8)]} for i in ids
    ]
    r.insert_rows("emb", rows(range(40)))
    r.build_vector_index("emb", lists=2)
    r.insert_rows("emb", rows(range(40, 50)))
    r.compact("emb")
    ipath = r._index_path("emb")
    # pending rows were indexed by compact's extend-first step...
    ids = [x.uid for x in spark.read.parquet(str(ipath / "data")).collect()]
    assert len(ids) == len(set(ids)) == 50
    # ...and the layout covers the compacted version
    assert r.history("emb")[-1]["op"] == "compact"
    assert r._covered_version(ipath) == r.table_version("emb")
    # day-N extend reads the log delta, not the anti-join
    r.insert_rows("emb", rows(range(100, 106)))
    delta, _ = r._new_rows_since_index("emb", ipath)
    assert delta is not None and delta.count() == 6
    assert r.extend_vector_index("emb") == 6
    assert r._new_rows_since_index("emb", ipath)[0].count() == 0


def test_compact_survives_interleaved_append(spark, tmp_path, monkeypatch):
    """The commit-version CAS race, forced deterministically: a second
    writer appends BETWEEN compact's snapshot and its manifest commit.
    Compact must lose the version race, re-run against the winner's
    snapshot, and publish a table that contains BOTH the original rows
    and the interleaved batch — no lost rows, and the index ledger
    coverage stays safe (next extend re-adopts via the anti-join)."""
    import random
    from pathlib import Path

    from vechord_spark.spec import Vector

    rng = random.Random(31)
    rows = lambda ids: [
        {"uid": i, "vec": [rng.uniform(-1, 1) for _ in range(8)]} for i in ids
    ]
    r1 = VechordRegistry("occ_race", str(tmp_path), spark)
    spec = TableSpec(
        "emb", [Column("uid", "int", primary_key=True), Column("vec", Vector(8))]
    )
    r1.register(spec)
    for b in range(3):
        r1.insert_rows("emb", rows(range(b * 10, b * 10 + 10)))
    r1.build_vector_index("emb", lists=2)

    # an independent writer over the same storage
    r2 = VechordRegistry("occ_race", str(tmp_path), spark)
    r2.register(spec)

    # _ensure_log builds a fresh TableLog per call, so the hook must
    # live on the class: EVERY commit (r1's and r2's) flows through it
    from vechord_spark.plans.commitlog import TableLog

    orig = TableLog.try_commit
    raced = {"n": 0}

    def racy_commit(self, version, add=(), remove=(), op="append"):
        if op == "compact" and raced["n"] == 0:
            raced["n"] += 1
            # the interleaved append lands FIRST and takes the version
            r2.insert_rows("emb", rows(range(100, 105)))
        return orig(self, version, add=add, remove=remove, op=op)

    monkeypatch.setattr(TableLog, "try_commit", racy_commit)
    stats = r1.compact("emb", target_file_bytes=1 << 30)
    assert raced["n"] == 1  # the race actually fired
    # no lost rows: 30 originals + 5 interleaved
    got = sorted(x.uid for x in r1.load("emb").collect())
    assert got == sorted(list(range(30)) + list(range(100, 105)))
    assert stats["files_before"] >= 3
    # the manifest is consistent: every snapshot file exists on disk
    snap = r1._ensure_log("emb").snapshot()
    live = Path(r1.table_path("emb"))
    assert snap.files and all((live / f).exists() for f in snap.files)
    # coverage not corrupted: it stays before the compact (the
    # compacted files hold the raced rows no index saw), and the next
    # extend indexes exactly the 5 raced rows via the anti-join
    ipath = r1._index_path("emb")
    assert r1._covered_version(ipath) < r1.table_version("emb") - 1
    assert r1._new_rows_since_index("emb", ipath)[0] is None
    assert r1.extend_vector_index("emb") == 5
    ids = [x.uid for x in spark.read.parquet(str(ipath / "data")).collect()]
    assert sorted(ids) == sorted(list(range(30)) + list(range(100, 105)))
    # coverage re-adopted: nothing pending afterwards
    assert r1._new_rows_since_index("emb", ipath)[0].count() == 0


def test_extend_during_compact_commit_window(spark, tmp_path, monkeypatch):
    """Round-11 (verdict ask #6): session A EXTENDS the IVF index in
    compact's commit window, after compact's own bring-current
    pre-step released the maintenance lock. Neither ordering may lose
    rows, and the index must never hold a pk twice."""
    import random

    from vechord_spark.spec import Vector

    rng = random.Random(41)
    rows = lambda ids: [
        {"uid": i, "vec": [rng.uniform(-1, 1) for _ in range(8)]} for i in ids
    ]
    spec = TableSpec(
        "emb", [Column("uid", "int", primary_key=True), Column("vec", Vector(8))]
    )
    rB = VechordRegistry("occ_xc", str(tmp_path), spark)
    rB.register(spec)
    rB.insert_rows("emb", rows(range(30)))
    rB.build_vector_index("emb", lists=2)

    rA = VechordRegistry("occ_xc", str(tmp_path), spark)
    rA.register(spec)

    from vechord_spark.plans.commitlog import TableLog

    orig = TableLog.try_commit
    fired = {"n": 0}

    def racy_commit(self, version, add=(), remove=(), op="append"):
        if op == "compact" and fired["n"] == 0:
            fired["n"] += 1
            # A appends AND extends while B's compact is mid-commit
            rA.insert_rows("emb", rows(range(200, 206)))
            assert rA.extend_vector_index("emb") == 6
        return orig(self, version, add=add, remove=remove, op=op)

    monkeypatch.setattr(TableLog, "try_commit", racy_commit)
    rB.compact("emb", target_file_bytes=1 << 30)
    assert fired["n"] == 1
    expect = sorted(list(range(30)) + list(range(200, 206)))
    # no lost rows in the table (compact re-ran on A's winning snapshot)
    assert sorted(x.uid for x in rB.load("emb").collect()) == expect
    # the index holds every row exactly once
    ipath = rB._index_path("emb")
    ids = sorted(
        x.uid for x in spark.read.parquet(str(ipath / "data")).collect()
    )
    assert ids == expect
    # compact re-ran on the version A's extend covered, so the layout
    # covers the compacted version: nothing to add
    assert rB.extend_vector_index("emb") == 0
    assert rB._new_rows_since_index("emb", ipath)[0].count() == 0


def test_compact_during_extend_skips_busy_index(spark, tmp_path, monkeypatch):
    """The reverse interleaving: session B COMPACTS while session A's
    extend holds the maintenance lock (delta computed, append not yet
    landed). B's bring-current pre-step must see MaintenanceBusy and
    skip — NOT double-append A's delta — and A's stale ledger record
    is re-adopted by the next extend. No lost rows, no duplicate pks."""
    import random

    from vechord_spark.spec import Vector

    rng = random.Random(43)
    rows = lambda ids: [
        {"uid": i, "vec": [rng.uniform(-1, 1) for _ in range(8)]} for i in ids
    ]
    spec = TableSpec(
        "emb", [Column("uid", "int", primary_key=True), Column("vec", Vector(8))]
    )
    rA = VechordRegistry("occ_cx", str(tmp_path), spark)
    rA.register(spec)
    rA.insert_rows("emb", rows(range(30)))
    rA.build_vector_index("emb", lists=2)
    rA.insert_rows("emb", rows(range(300, 305)))  # A's pending delta

    rB = VechordRegistry("occ_cx", str(tmp_path), spark)
    rB.register(spec)

    orig_mark = VechordRegistry._mark_extend_intent
    fired = {"n": 0}

    def racy_mark(self, ipath):
        # fires inside A's extend, lock held, delta computed, append
        # not yet written — B compacts the table RIGHT NOW
        if fired["n"] == 0:
            fired["n"] += 1
            rB.compact("emb", target_file_bytes=1 << 30)
        return orig_mark(self, ipath)

    monkeypatch.setattr(VechordRegistry, "_mark_extend_intent", racy_mark)
    assert rA.extend_vector_index("emb") == 5
    assert fired["n"] == 1
    expect = sorted(list(range(30)) + list(range(300, 305)))
    assert sorted(x.uid for x in rA.load("emb").collect()) == expect
    # B's pre-step skipped the busy index, so A's delta landed ONCE
    ipath = rA._index_path("emb")
    ids = sorted(
        x.uid for x in spark.read.parquet(str(ipath / "data")).collect()
    )
    assert ids == expect
    # A recorded the pre-compact version -> the compact's remove entry
    # sends the next extend through the anti-join, with nothing new
    assert rA.extend_vector_index("emb") == 0
    assert rA._new_rows_since_index("emb", ipath)[0].count() == 0


def test_concurrent_extends_mutually_excluded(spark, tmp_path):
    """Two registries extending the same index at once: the second
    gets MaintenanceBusy instead of double-appending the delta."""
    import random

    from vechord_spark.errors import MaintenanceBusy
    from vechord_spark.spec import Vector

    rng = random.Random(47)
    rows = lambda ids: [
        {"uid": i, "vec": [rng.uniform(-1, 1) for _ in range(8)]} for i in ids
    ]
    spec = TableSpec(
        "emb", [Column("uid", "int", primary_key=True), Column("vec", Vector(8))]
    )
    r1 = VechordRegistry("occ_mx", str(tmp_path), spark)
    r1.register(spec)
    r1.insert_rows("emb", rows(range(20)))
    r1.build_vector_index("emb", lists=2)
    r1.insert_rows("emb", rows(range(100, 104)))
    r2 = VechordRegistry("occ_mx", str(tmp_path), spark)
    r2.register(spec)

    ipath = r1._index_path("emb")
    with r1._maintenance_lock(ipath):
        with pytest.raises(MaintenanceBusy):
            r2.extend_vector_index("emb")
    # lock released: the extend goes through exactly once
    assert r2.extend_vector_index("emb") == 4


def _vec_registry(spark, tmp_path, ns="recl"):
    import random

    from vechord_spark.spec import Vector

    rng = random.Random(53)
    r = VechordRegistry(ns, str(tmp_path), spark)
    r.register(
        TableSpec(
            "emb",
            [Column("uid", "int", primary_key=True), Column("vec", Vector(4))],
        )
    )

    def rows(ids, center):
        return [
            {
                "uid": i,
                "vec": [c + rng.uniform(-0.1, 0.1) for c in center],
            }
            for i in ids
        ]

    return r, rows


def test_recluster_splits_drifted_cell(spark, tmp_path):
    """Appends drift one cell to several times the mean size; the
    targeted recluster splits ONLY that cell, preserves every row,
    keeps ids contiguous, and search still returns the true
    neighbors."""
    r, rows = _vec_registry(spark, tmp_path)
    # two natural clusters -> lists=2
    r.insert_rows("emb", rows(range(10), [0, 0, 0, 0]))
    r.insert_rows("emb", rows(range(10, 20), [5, 5, 5, 5]))
    r.build_vector_index("emb", lists=2)
    # drift: a pile of new rows near a THIRD location lands in one cell
    r.insert_rows("emb", rows(range(100, 160), [5, 5, 5, 9]))
    assert r.extend_vector_index("emb") == 60
    ipath = r._index_path("emb")
    before = {
        row["centroid_id"]: row["n"]
        for row in spark.read.parquet(str(ipath / "data"))
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert max(before.values()) >= 60  # the drifted cell
    stats = r.recluster_vector_index("emb", max_cell_factor=1.5)
    assert stats["split_cells"] >= 1
    assert stats["lists"] == 2 + stats["split_cells"]
    data = spark.read.parquet(str(ipath / "data"))
    # no lost rows, no duplicates
    ids = sorted(x["uid"] for x in data.collect())
    assert ids == sorted(list(range(20)) + list(range(100, 160)))
    # centroid table matches the partition ids and stays contiguous
    cents = sorted(
        x["centroid_id"]
        for x in spark.read.parquet(str(ipath / "centroids")).collect()
    )
    assert cents == list(range(stats["lists"]))
    # probe search over the reclustered layout finds the true cluster
    hits = r.search_by_vector(
        "emb", [5.0, 5.0, 5.0, 9.0], topk=5, probes=2
    ).collect()
    assert all(h["uid"] >= 100 for h in hits)
    # one wave per call: repeated calls converge to a balanced layout
    # (a freshly split 60-row cell can still exceed the factor) and
    # then report nothing to split
    for _ in range(5):
        if r.recluster_vector_index("emb", max_cell_factor=1.5)[
            "split_cells"
        ] == 0:
            break
    assert (
        r.recluster_vector_index("emb", max_cell_factor=1.5)["split_cells"]
        == 0
    )
    # rows still intact after the waves
    ids2 = sorted(
        x["uid"] for x in spark.read.parquet(str(ipath / "data")).collect()
    )
    assert ids2 == ids


def test_recluster_crash_rolls_back(spark, tmp_path, monkeypatch):
    """A crash after the data swap but before the centroid swap must
    roll back WHOLESALE on the next load — a half-swapped layout
    (new data partitions + old centroid table) would silently never
    probe the new cell."""
    r, rows = _vec_registry(spark, tmp_path, ns="reclcr")
    r.insert_rows("emb", rows(range(10), [0, 0, 0, 0]))
    r.insert_rows("emb", rows(range(10, 20), [5, 5, 5, 5]))
    r.build_vector_index("emb", lists=2)
    r.insert_rows("emb", rows(range(100, 160), [5, 5, 5, 9]))
    r.extend_vector_index("emb")
    ipath = r._index_path("emb")
    cents_before = sorted(
        (x["centroid_id"], tuple(x["vec"]))
        for x in spark.read.parquet(str(ipath / "centroids")).collect()
    )

    real_rename = Path.rename
    state = {"n": 0}

    def crashing_rename(self, target):
        out = real_rename(self, target)
        if str(target).endswith("/data") and ".recluster-" in str(self):
            # the stage->live data rename just landed: crash before
            # the centroid swap
            state["n"] += 1
            raise RuntimeError("simulated crash mid-recluster")
        return out

    monkeypatch.setattr(Path, "rename", crashing_rename)
    with pytest.raises(RuntimeError, match="simulated crash"):
        r.recluster_vector_index("emb", max_cell_factor=1.5)
    monkeypatch.setattr(Path, "rename", real_rename)
    assert (ipath / "recluster.intent.json").exists()
    # next load recovers: old layout restored wholesale
    idx = r._load_vector_index("emb")
    assert idx is not None
    assert not (ipath / "recluster.intent.json").exists()
    cents_after = sorted(
        (x["centroid_id"], tuple(x["vec"]))
        for x in spark.read.parquet(str(ipath / "centroids")).collect()
    )
    assert cents_after == cents_before
    ids = sorted(
        x["uid"] for x in spark.read.parquet(str(ipath / "data")).collect()
    )
    assert ids == sorted(list(range(20)) + list(range(100, 160)))
    # and a clean retry completes
    stats = r.recluster_vector_index("emb", max_cell_factor=1.5)
    assert stats["split_cells"] >= 1


def test_extend_recovers_crashed_recluster(spark, tmp_path, monkeypatch):
    """extend_vector_index called FIRST after a mid-swap recluster
    crash must roll the half-swapped layout back and then index the
    new rows — recovery runs inside extend's own maintenance lock
    (locked=True path), where a second flock would be denied by the
    caller itself and recovery used to be silently skipped: extend
    then either failed with a misleading 'no IVF index' (data renamed
    away) or appended rows the next unlocked load rolled back while
    the covered version already counted them (permanently
    unindexed)."""
    r, rows = _vec_registry(spark, tmp_path, ns="reclex")
    r.insert_rows("emb", rows(range(10), [0, 0, 0, 0]))
    r.insert_rows("emb", rows(range(10, 20), [5, 5, 5, 5]))
    r.build_vector_index("emb", lists=2)
    r.insert_rows("emb", rows(range(100, 160), [5, 5, 5, 9]))
    r.extend_vector_index("emb")
    ipath = r._index_path("emb")

    real_rename = Path.rename

    def crashing_rename(self, target):
        out = real_rename(self, target)
        if str(target).endswith("/data") and ".recluster-" in str(self):
            raise RuntimeError("simulated crash mid-recluster")
        return out

    monkeypatch.setattr(Path, "rename", crashing_rename)
    with pytest.raises(RuntimeError, match="simulated crash"):
        r.recluster_vector_index("emb", max_cell_factor=1.5)
    monkeypatch.setattr(Path, "rename", real_rename)
    assert (ipath / "recluster.intent.json").exists()
    # the journal's flock died with the simulated crash; the very next
    # maintenance call is an EXTEND, not a load — it must recover the
    # swap itself and then append exactly the new delta
    r.insert_rows("emb", rows(range(200, 210), [0, 0, 0, 0]))
    assert r.extend_vector_index("emb") == 10
    assert not (ipath / "recluster.intent.json").exists()
    # every row is in the layout exactly once (no rollback-eaten delta)
    ids = sorted(
        x["uid"] for x in spark.read.parquet(str(ipath / "data")).collect()
    )
    assert ids == sorted(
        list(range(20)) + list(range(100, 160)) + list(range(200, 210))
    )
    # and probe search still works over the recovered-and-extended layout
    hits = r.search_by_vector("emb", [0.0, 0.0, 0.0, 0.0], topk=5, probes=2)
    assert all(h["uid"] < 20 or h["uid"] >= 200 for h in hits.collect())


def test_prune_then_merge_after_heavy_delete(spark, tmp_path):
    """The delete-heavy lifecycle the recluster DUAL exists for:
    DELETE rewrites only the table, so the clustered copy serves
    ghosts until prune sweeps them; the surviving starved cells then
    fold into their nearest sibling (merge), lists shrink, and
    full-probe search equals brute force over the survivors."""
    import os

    from vechord_spark.operators.knn import knn
    from vechord_spark.spec import AnyOf

    r, rows = _vec_registry(spark, tmp_path, ns="prmg")
    # four natural clusters -> lists=4
    centers = [[0, 0, 0, 0], [5, 5, 5, 5], [0, 5, 0, 5], [5, 0, 5, 0]]
    for ci, c in enumerate(centers):
        r.insert_rows("emb", rows(range(ci * 25, ci * 25 + 25), c))
    r.build_vector_index("emb", lists=4)
    ipath = r._index_path("emb")

    # delete 3 of the 4 clusters: everything except uids 25..49
    gone = [u for u in range(100) if not 25 <= u < 50]
    assert r.remove_by("emb", {"uid": AnyOf(gone)}) == 75

    # ghosts: the layout still holds every deleted row
    stats = r.index_stats("emb")["ivf"]
    assert stats["rows"] == 100 and r.load("emb").count() == 25
    # an untouched cell's files must HARDLINK through the prune (no
    # data copy) — remember their inodes
    cluster1 = sorted(
        x["uid"]
        for x in spark.read.parquet(str(ipath / "data"))
        .filter(F.col("uid").between(25, 49))
        .collect()
    )
    assert cluster1 == list(range(25, 50))

    pr = r.prune_vector_index("emb")
    assert pr["pruned_rows"] == 75 and pr["lists"] == 4
    after = r.index_stats("emb")["ivf"]
    assert after["rows"] == 25
    # starved/empty cells remain (cell_min hits 0 via the zero-pad)
    assert after["lists"] == 4 and after["cell_min"] == 0

    mg = r.merge_vector_index("emb", min_cell_factor=4.0)
    assert mg["merged_cells"] >= 1
    healed = r.index_stats("emb")["ivf"]
    assert healed["lists"] == mg["lists"] < 4
    assert healed["rows"] == 25

    # full-probe search over the merged layout == brute force, and no
    # ghost ever surfaces
    q = [5.0, 5.0, 5.0, 5.0]
    brute = [
        x.uid
        for x in knn(
            r.load("emb"), "vec", q, k=10, distance="l2",
            select=["uid"], tie_break="uid",
        ).collect()
    ]
    got = [
        x.uid
        for x in r.search_by_vector(
            "emb", q, topk=10, probes=healed["lists"]
        ).collect()
    ]
    assert got == brute
    assert all(25 <= u < 50 for u in got)
    # idempotent: a second merge finds nothing starved
    assert r.merge_vector_index("emb", min_cell_factor=4.0)["merged_cells"] == 0


def test_merge_into_cell_with_same_part_names(spark, tmp_path):
    """One build job writes the same part names into every cell, so a
    merge that links a starved cell into its sibling renames the
    colliding files — the data file AND its hidden checksum sidecar,
    which must stay hidden, or Spark reads the sidecar as parquet and
    every later read of the layout fails."""
    from vechord_spark.operators.knn import knn

    r, rows = _vec_registry(spark, tmp_path, ns="mgcol")
    centers = [[0, 0, 0, 0], [5, 5, 5, 5], [0, 5, 0, 5], [5, 0, 5, 0]]
    sizes = [25, 25, 25, 2]
    start = 0
    for c, n in zip(centers, sizes):
        r.insert_rows("emb", rows(range(start, start + n), c))
        start += n
    # one table file -> one build task writes every cell
    assert r.compact("emb")["files_after"] == 1
    r.build_vector_index("emb", lists=4)
    assert r.merge_vector_index("emb", min_cell_factor=4.0)["merged_cells"] == 1
    data = r._index_path("emb") / "data"
    files = [p.name for p in data.rglob("*") if p.is_file()]
    assert any(n.startswith("m") for n in files)  # the collision happened
    # Spark reads every visible file of the layout as parquet
    assert all(n.endswith(".parquet") for n in files if not n.startswith((".", "_")))

    stats = r.index_stats("emb")["ivf"]
    assert stats["rows"] == 77 and stats["lists"] == 3
    q = [5.0, 0.0, 5.0, 0.0]
    brute = [
        x.uid
        for x in knn(
            r.load("emb"), "vec", q, k=10, distance="l2",
            select=["uid"], tie_break="uid",
        ).collect()
    ]
    got = [x.uid for x in r.search_by_vector("emb", q, topk=10, probes=3).collect()]
    assert got == brute


def test_prune_hardlinks_untouched_cells(spark, tmp_path):
    """Prune rewrites ONLY cells that lost rows: a cell untouched by
    the delete carries its parquet files through by hardlink (same
    inode), proving the O(affected-cells) rewrite contract."""
    import os

    from vechord_spark.spec import AnyOf

    r, rows = _vec_registry(spark, tmp_path, ns="prhl")
    r.insert_rows("emb", rows(range(20), [0, 0, 0, 0]))
    r.insert_rows("emb", rows(range(20, 40), [5, 5, 5, 5]))
    r.build_vector_index("emb", lists=2)
    ipath = r._index_path("emb")
    # which cell holds the [5,5,5,5] cluster?
    cid = (
        spark.read.parquet(str(ipath / "data"))
        .filter(F.col("uid") == 25)
        .select("centroid_id")
        .first()[0]
    )
    untouched = ipath / "data" / f"centroid_id={cid}"
    inodes_before = {
        f.name: os.stat(f).st_ino for f in untouched.iterdir() if f.is_file()
    }
    # delete only from the OTHER cluster
    r.remove_by("emb", {"uid": AnyOf(list(range(10)))})
    pr = r.prune_vector_index("emb")
    assert pr["pruned_rows"] == 10 and pr["rewritten_cells"] == 1
    inodes_after = {
        f.name: os.stat(f).st_ino for f in untouched.iterdir() if f.is_file()
    }
    assert inodes_after == inodes_before  # hardlinked, not copied
    # prune with nothing deleted is a no-op
    assert r.prune_vector_index("emb")["pruned_rows"] == 0


def test_merge_multivec_starved_cells(spark, tmp_path):
    """The multivector twin: starved mean-space cells fold, probe
    MaxSim search still finds the surviving cluster."""
    import random

    from vechord_spark.spec import AnyOf, Column, MultiVector, TableSpec

    rng = random.Random(41)
    r = VechordRegistry("mgmv", str(tmp_path), spark)
    r.register(
        TableSpec(
            "late",
            [Column("uid", "int", primary_key=True), Column("mv", MultiVector(4))],
        )
    )

    def mrows(ids, center):
        return [
            {
                "uid": i,
                "mv": [
                    [c + rng.uniform(-0.1, 0.1) for c in center]
                    for _ in range(2)
                ],
            }
            for i in ids
        ]

    r.insert_rows("late", mrows(range(20), [0, 0, 0, 0]))
    r.insert_rows("late", mrows(range(20, 40), [5, 5, 5, 5]))
    r.build_multivec_index("late", lists=2)
    r.remove_by("late", {"uid": AnyOf(list(range(20)))})
    assert r.prune_multivec_index("late")["pruned_rows"] == 20
    mg = r.merge_multivec_index("late", min_cell_factor=4.0)
    assert mg["merged_cells"] == 1 and mg["lists"] == 1
    hits = r.search_by_multivec(
        "late", [[5.0, 5.0, 5.0, 5.0]], topk=5, probes=1
    ).collect()
    assert hits and all(h["uid"] >= 20 for h in hits)


def test_maintain_handles_delete_churn(spark, tmp_path):
    """maintain() after a heavy delete: the policy prunes ghosts and
    folds the starved cells, no hand-walk needed."""
    from vechord_spark.spec import AnyOf

    r, rows = _vec_registry(spark, tmp_path, ns="mntd")
    r.insert_rows("emb", rows(range(20), [0, 0, 0, 0]))
    r.insert_rows("emb", rows(range(20, 40), [5, 5, 5, 5]))
    r.build_vector_index("emb", lists=2)
    r.remove_by("emb", {"uid": AnyOf(list(range(20)))})
    out = r.maintain("emb", min_cell_factor=4.0)
    ops = [a["op"] for a in out["actions"]]
    assert "prune" in ops and "merge" in ops
    assert out["after"]["ivf"]["rows"] == 20
    assert out["after"]["ivf"]["lists"] == 1
    # healed: second call is a no-op
    assert r.maintain("emb", min_cell_factor=4.0)["actions"] == []


@pytest.mark.parametrize("seed", [3, 17, 29])
def test_maintain_invariants_random_churn(spark, tmp_path, seed):
    """Randomized (seeded) churn — appends at random centers, random
    delete fractions, never any hand extend — then ONE maintain()
    call. Invariants, whatever the churn: the layout holds exactly the
    live rows exactly once; centroid ids stay contiguous 0..lists-1;
    full-probe search equals brute force; a second maintain() is a
    no-op."""
    import random

    from vechord_spark.operators.knn import knn
    from vechord_spark.spec import AnyOf

    rng = random.Random(seed)
    r, rows = _vec_registry(spark, tmp_path, ns=f"mrnd{seed}")
    centers = [[0, 0, 0, 0], [5, 5, 5, 5], [0, 5, 0, 5]]
    uid = 0
    live: set[int] = set()
    for ci, c in enumerate(centers[:2]):
        ids = list(range(uid, uid + 20))
        uid += 20
        r.insert_rows("emb", rows(ids, c))
        live.update(ids)
    r.build_vector_index("emb", lists=2)
    # churn: random appends (never extended) + random deletes
    for _ in range(rng.randint(2, 4)):
        n = rng.randint(5, 40)
        ids = list(range(uid, uid + n))
        uid += n
        r.insert_rows("emb", rows(ids, rng.choice(centers)))
        live.update(ids)
        if rng.random() < 0.7 and len(live) > 10:
            victims = rng.sample(sorted(live), rng.randint(1, len(live) // 3))
            r.remove_by("emb", {"uid": AnyOf(victims)})
            live.difference_update(victims)

    out = r.maintain("emb", max_cell_factor=2.0, min_cell_factor=4.0)
    ipath = r._index_path("emb")
    layout_ids = sorted(
        x["uid"] for x in spark.read.parquet(str(ipath / "data")).collect()
    )
    assert layout_ids == sorted(live)  # every live row exactly once
    stats = out["after"]["ivf"]
    cents = sorted(
        x["centroid_id"]
        for x in spark.read.parquet(str(ipath / "centroids")).collect()
    )
    assert cents == list(range(stats["lists"]))  # contiguous ids
    q = [5.0, 5.0, 5.0, 5.0]
    brute = [
        x.uid
        for x in knn(
            r.load("emb"), "vec", q, k=5, distance="l2",
            select=["uid"], tie_break="uid",
        ).collect()
    ]
    got = [
        x.uid
        for x in r.search_by_vector(
            "emb", q, topk=5, probes=stats["lists"]
        ).collect()
    ]
    assert got == brute
    assert r.maintain("emb", max_cell_factor=2.0, min_cell_factor=4.0)[
        "actions"
    ] == []


def test_maintain_policy_heals_drifted_index(spark, tmp_path):
    """registry.maintain(): the one-call policy reads index_stats and
    applies extend -> recluster -> compact_index, each gated by a
    measured signal. Drift (appends never extended + a pile landing in
    one cell) must come out as: an extend action covering the new rows,
    recluster waves until the skew gate holds, and probe search that
    matches exact brute force on the drifted query. A second call on
    the healed index is a no-op (only measured signals trigger work)."""
    from vechord_spark.operators.knn import knn

    r, rows = _vec_registry(spark, tmp_path, ns="mntn")
    r.insert_rows("emb", rows(range(10), [0, 0, 0, 0]))
    r.insert_rows("emb", rows(range(10, 20), [5, 5, 5, 5]))
    r.build_vector_index("emb", lists=2)
    # drift: appends NEVER extended (files_behind > 0) clustered at a
    # third location the layout has no cell for
    r.insert_rows("emb", rows(range(100, 160), [5, 5, 5, 9]))

    out = r.maintain("emb", max_cell_factor=1.5)
    ops = [a["op"] for a in out["actions"]]
    assert ops[0] == "extend" and out["actions"][0]["rows"] == 60
    assert "recluster" in ops
    assert out["after"]["ivf"]["skew"] <= 1.5 or (
        # converged: the last wave split nothing more
        out["actions"][-1].get("split_cells") == 0
    )
    assert out["after"]["ivf"]["rows"] == 80
    assert out["after"]["ivf"]["ledger_fresh"]

    # full-probe search over the healed layout == exact brute force,
    # and the cheap 2-probe search still lands in the drifted cluster
    q = [5.0, 5.0, 5.0, 9.0]
    base = r.load("emb")
    brute = [
        x.uid
        for x in knn(
            base, "vec", q, k=5, distance="l2", select=["uid"], tie_break="uid"
        ).collect()
    ]
    lists = out["after"]["ivf"]["lists"]
    got = [
        x.uid
        for x in r.search_by_vector("emb", q, topk=5, probes=lists).collect()
    ]
    assert got == brute
    cheap = [
        x.uid
        for x in r.search_by_vector("emb", q, topk=5, probes=2).collect()
    ]
    assert len(set(cheap) & set(brute)) >= 4
    assert all(uid >= 100 for uid in cheap)

    # healed index: nothing left to do
    again = r.maintain("emb", max_cell_factor=1.5)
    assert again["actions"] == []
    assert again["before"] == again["after"]


def test_maintain_compacts_fragmented_layout(spark, tmp_path):
    """Many small extends fragment the clustered layout (one file set
    per touched partition per extend); maintain()'s hygiene step fires
    on the measured files-per-cell signal and compact_index brings the
    count down without changing rows."""
    r, rows = _vec_registry(spark, tmp_path, ns="mntc")
    r.insert_rows("emb", rows(range(10), [0, 0, 0, 0]))
    r.insert_rows("emb", rows(range(10, 20), [5, 5, 5, 5]))
    r.build_vector_index("emb", lists=2)
    for day in range(4):
        r.insert_rows("emb", rows(range(50 + day * 5, 55 + day * 5), [0, 0, 0, 0]))
        r.extend_vector_index("emb")
    frag = r.index_stats("emb")["ivf"]
    assert frag["files"] > 3.0 * frag["lists"]  # the signal maintain gates on
    out = r.maintain("emb", max_cell_factor=10.0)  # recluster gate off
    ops = [a["op"] for a in out["actions"]]
    assert "compact_index" in ops
    assert out["after"]["ivf"]["files"] < frag["files"]
    assert out["after"]["ivf"]["rows"] == frag["rows"]


def test_recluster_respects_maintenance_lock(spark, tmp_path):
    from vechord_spark.errors import MaintenanceBusy

    r, rows = _vec_registry(spark, tmp_path, ns="recllk")
    r.insert_rows("emb", rows(range(12), [0, 0, 0, 0]))
    r.build_vector_index("emb", lists=2)
    ipath = r._index_path("emb")
    with r._maintenance_lock(ipath):
        with pytest.raises(MaintenanceBusy):
            r.recluster_vector_index("emb")


def test_drop_removes_index_layouts(spark, tmp_path):
    """DROP TABLE must drop the derived index layouts too: a
    re-created same-name table previously LOADED the stale .ivf
    directory and probe search served the dropped rows."""
    from vechord_spark.errors import SchemaError as _SE

    r, rows = _vec_registry(spark, tmp_path, ns="dropidx")
    r.insert_rows("emb", rows(range(10), [0, 0, 0, 0]))
    r.insert_rows("emb", rows(range(10, 20), [5, 5, 5, 5]))
    r.build_vector_index("emb", lists=2)
    ipath = r._index_path("emb")
    assert (ipath / "data").exists()
    r.drop("emb")
    assert not ipath.exists()

    # re-created table: no ghost index, search demands a fresh build
    r2, rows2 = _vec_registry(spark, tmp_path, ns="dropidx")
    r2.insert_rows("emb", rows2(range(100, 105), [1, 1, 1, 1]))
    with pytest.raises(_SE, match="no IVF index"):
        r2.search_by_vector("emb", [1.0, 1.0, 1.0, 1.0], topk=3, probes=1)
    r2.build_vector_index("emb", lists=1)
    hits = r2.search_by_vector("emb", [1.0, 1.0, 1.0, 1.0], topk=3, probes=1)
    assert all(h["uid"] >= 100 for h in hits.collect())
