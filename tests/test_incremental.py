"""The day-2 story: an incremental batch flows through bloom dedup ->
quality gate -> registry append -> assignment-only index extension ->
search, without touching day-1 data. Each piece is tested elsewhere;
this pins that they compose."""

import random

import pytest
from pyspark.sql import functions as F

from vechord_spark.registry import VechordRegistry
from vechord_spark.spec import Column, TableSpec, Vector


def _rows(ids, seed=0):
    rng = random.Random(seed)
    return [
        {"uid": i, "vec": [rng.uniform(-1, 1) for _ in range(8)]} for i in ids
    ]


@pytest.fixture()
def reg(spark, tmp_path):
    r = VechordRegistry("day2", str(tmp_path), spark)
    r.register(
        TableSpec(
            "emb",
            [Column("uid", "int", primary_key=True), Column("vec", Vector(8))],
        )
    )
    return r


def test_extend_vector_index_plain(reg, spark):
    reg.insert_rows("emb", _rows(range(100), seed=1))
    reg.build_vector_index("emb", lists=4)
    # day 2: 20 new rows appended AFTER the index build
    reg.insert_rows("emb", _rows(range(100, 120), seed=2))
    n = reg.extend_vector_index("emb")
    assert n == 20
    # idempotent: nothing new on a second call
    assert reg.extend_vector_index("emb") == 0
    # a day-2 vector is findable through the persisted index
    probe = reg.load("emb").filter(F.col("uid") == 110).collect()[0]
    hit = reg.search_by_vector("emb", list(probe.vec), topk=1, probes=4)
    assert hit.collect()[0].uid == 110
    # day-1 results unchanged: full-probe search equals brute force
    q = [0.2] * 8
    exact = [r.uid for r in reg.search_by_vector("emb", q, topk=5).collect()]
    via = [
        r.uid for r in reg.search_by_vector("emb", q, topk=5, probes=4).collect()
    ]
    assert via == exact


def test_extend_vector_index_pq_encodes_new_rows(reg, spark):
    reg.insert_rows("emb", _rows(range(200), seed=3))
    reg.build_vector_index("emb", lists=4, pq_m=4)
    reg.insert_rows("emb", _rows(range(200, 230), seed=4))
    assert reg.extend_vector_index("emb") == 30
    # the appended layout carries codes: estimate->refine search works
    probe = reg.load("emb").filter(F.col("uid") == 215).collect()[0]
    hit = reg.search_by_vector(
        "emb", list(probe.vec), topk=1, probes=4, refine=50
    ).collect()[0]
    assert hit.uid == 215


def test_extend_requires_index(reg):
    from vechord_spark.errors import SchemaError

    reg.insert_rows("emb", _rows(range(10)))
    with pytest.raises(SchemaError, match="no IVF index"):
        reg.extend_vector_index("emb")


def test_day2_batch_dedups_then_indexes(spark, tmp_path):
    """Full incremental flow on documents: bloom-exact dedup vs the
    seen corpus -> quality floor -> append -> extend index."""
    from vechord_spark.functions.text import fingerprint
    from vechord_spark.operators.bloom import bloom_anti_join

    rng = random.Random(7)

    def doc(i, text):
        return {
            "uid": i,
            "text": text,
            "vec": [rng.uniform(-1, 1) for _ in range(8)],
        }

    day1 = [doc(i, f"document number {i} with unique content") for i in range(50)]
    reg = VechordRegistry("inc", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "docs",
            [
                Column("uid", "int", primary_key=True),
                Column("text", "string"),
                Column("vec", Vector(8)),
            ],
        )
    )
    reg.insert_rows("docs", day1)
    reg.build_vector_index("docs", lists=2)

    # day 2: 10 genuinely new docs + 5 re-crawls of day-1 content
    day2 = [doc(100 + i, f"fresh day two doc {i}") for i in range(10)] + [
        doc(200 + i, f"document number {i} with unique content")
        for i in range(5)
    ]
    batch = spark.createDataFrame(day2).withColumn("fp", fingerprint("text"))
    seen = reg.load("docs").select(fingerprint("text").alias("fp"))
    new = bloom_anti_join(batch, seen, "fp").drop("fp")
    got_ids = sorted(r.uid for r in new.select("uid").collect())
    assert got_ids == [100 + i for i in range(10)]  # re-crawls dropped, exactly

    reg.insert_rows("docs", [r.asDict() for r in new.collect()])
    assert reg.extend_vector_index("docs") == 10
    probe = reg.load("docs").filter(F.col("uid") == 105).collect()[0]
    hit = reg.search_by_vector("docs", list(probe.vec), topk=1, probes=2)
    assert hit.collect()[0].uid == 105


def test_extend_multivec_index(spark, tmp_path):
    from vechord_spark.spec import MultiVector

    reg = VechordRegistry("mvday2", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "late",
            [Column("uid", "int", primary_key=True), Column("mv", MultiVector(4))],
        )
    )
    rng = random.Random(13)

    def mv_rows(ids):
        return [
            {
                "uid": i,
                "mv": [[rng.uniform(-1, 1) for _ in range(4)] for _ in range(3)],
            }
            for i in ids
        ]

    reg.insert_rows("late", mv_rows(range(60)))
    reg.build_multivec_index("late", lists=2)
    reg.insert_rows("late", mv_rows(range(60, 75)))
    assert reg.extend_multivec_index("late") == 15
    assert reg.extend_multivec_index("late") == 0
    # a day-2 row is findable via the persisted multivec index
    probe = reg.load("late").filter(F.col("uid") == 70).collect()[0]
    hit = reg.search_by_multivec(
        "late", [list(v) for v in probe.mv], topk=1, probes=2
    ).collect()[0]
    assert hit.uid == 70


def test_extend_keyword_index_matches_full_rebuild(spark, tmp_path):
    """Incremental postings + exact stat merge == full rebuild: every
    doc's idf reflects the grown corpus, old and new alike."""
    from vechord_spark.spec import Keyword

    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rng = random.Random(21)

    def doc_rows(ids):
        return [
            {
                "uid": i,
                "body": " ".join(rng.choices(words, k=rng.randrange(3, 12))),
            }
            for i in ids
        ]

    def make(ns):
        r = VechordRegistry(ns, str(tmp_path), spark)
        r.register(
            TableSpec(
                "doc",
                [
                    Column("uid", "int", primary_key=True),
                    Column("body", Keyword()),
                ],
            )
        )
        return r

    day1, day2 = doc_rows(range(40)), doc_rows(range(40, 60))

    inc = make("kwinc")
    inc.insert_rows("doc", day1)
    inc.build_keyword_index("doc")
    inc.insert_rows("doc", day2)
    assert inc.extend_keyword_index("doc") == 20
    assert inc.extend_keyword_index("doc") == 0

    full = make("kwfull")
    full.insert_rows("doc", day1 + day2)
    full.build_keyword_index("doc")

    for q in ("alpha beta", "zeta", "gamma delta epsilon"):
        got = inc.search_by_keyword("doc", q, topk=10).collect()
        want = full.search_by_keyword("doc", q, topk=10).collect()
        assert [r.uid for r in got] == [r.uid for r in want], q
        for g, w in zip(got, want):
            assert abs(g.score - w.score) < 1e-6, (q, g, w)


def test_extend_keyword_index_requires_index(spark, tmp_path):
    from vechord_spark.errors import SchemaError
    from vechord_spark.spec import Keyword

    r = VechordRegistry("kwno", str(tmp_path), spark)
    r.register(
        TableSpec(
            "doc",
            [Column("uid", "int", primary_key=True), Column("body", Keyword())],
        )
    )
    r.insert_rows("doc", [{"uid": 1, "body": "hello"}])
    with pytest.raises(SchemaError, match="no BM25 index"):
        r.extend_keyword_index("doc")


def _scanned_files(df) -> list[str]:
    """Run ``df`` and return the names of the files its parquet scan
    read — the listing left after Spark's file pruning."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    names, todo = [], [plan]
    while todo:
        node = todo.pop()
        if node.getClass().getSimpleName() == "FileSourceScanExec":
            dirs = node.selectedPartitions().partitionDirectories()
            for i in range(len(dirs)):
                files = dirs[i].files().iterator()
                while files.hasNext():
                    names.append(files.next().getPath().getName())
        children = node.children().iterator()
        while children.hasNext():
            todo.append(children.next())
    return sorted(names)


def test_file_ledger_fast_path_and_fallback(reg, spark):
    """The extend discovery is O(appended data): the layout records
    the table version it covers, and the log names the files committed
    since. A rewrite (DELETE) after it falls back to the pk anti-join
    instead of trusting the added files."""
    reg.insert_rows("emb", _rows(range(50), seed=5))
    reg.build_vector_index("emb", lists=2)
    ipath = reg._index_path("emb")
    assert reg._covered_version(ipath) == reg.table_version("emb")

    covered = reg._covered_version(ipath)
    reg.insert_rows("emb", _rows(range(50, 60), seed=6))
    delta, snap = reg._new_rows_since_index("emb", ipath)
    assert delta is not None and delta.count() == 10
    # the delta reads ONLY the appended commit's files and rows, and
    # brings the layout to the latest version
    _, added, rewritten = reg._ensure_log("emb").since(covered)
    assert not rewritten and added
    assert _scanned_files(delta) == sorted(added)
    assert {r.uid for r in delta.collect()} == set(range(50, 60))
    assert snap.version == reg.table_version("emb")
    assert reg.extend_vector_index("emb") == 10
    # coverage refreshed: nothing new now
    assert reg._covered_version(ipath) == reg.table_version("emb")
    assert reg._new_rows_since_index("emb", ipath)[0].count() == 0

    # a rewrite after the covered version -> anti-join fallback
    reg.remove_by("emb", {"uid": 0}, cascade=False)
    delta, snap = reg._new_rows_since_index("emb", ipath)
    assert delta is None and snap.version == reg.table_version("emb")
    reg.insert_rows("emb", _rows(range(100, 105), seed=7))
    assert reg.extend_vector_index("emb") == 5
    # and the log delta is usable again afterwards
    assert reg._new_rows_since_index("emb", ipath)[0].count() == 0


def test_extend_intent_forces_idempotent_retry(reg, spark):
    """A crash between the index append and the coverage record leaves an
    intent marker; the next extend then refuses the file-diff fast path
    and retries through the idempotent anti-join (no double-append)."""
    reg.insert_rows("emb", _rows(range(40), seed=9))
    reg.build_vector_index("emb", lists=2)
    ipath = reg._index_path("emb")
    reg.insert_rows("emb", _rows(range(40, 50), seed=10))

    # simulate the crash: marker written, append landed, record never ran
    reg._mark_extend_intent(ipath)
    import numpy as np

    rows = (
        spark.read.parquet(str(ipath / "centroids"))
        .orderBy("centroid_id")
        .collect()
    )
    from vechord_spark.operators.ivf import assign_centroids

    delta, _ = None, None
    new = reg.load("emb").join(
        spark.read.parquet(str(ipath / "data")).select("uid"), "uid", "left_anti"
    )
    assign_centroids(new, "vec", np.array([r.vec for r in rows])).write.mode(
        "append"
    ).partitionBy("centroid_id").parquet(str(ipath / "data"))

    # intent present -> fast path refused
    assert reg._new_rows_since_index("emb", ipath)[0] is None
    # retry is a no-op (rows already indexed), and clears the intent
    assert reg.extend_vector_index("emb") == 0
    assert not (ipath / "extend.intent").exists()
    # index has each row exactly once
    ids = [r.uid for r in spark.read.parquet(str(ipath / "data")).collect()]
    assert len(ids) == len(set(ids)) == 50
    # back on the fast path afterwards
    reg.insert_rows("emb", _rows(range(100, 104), seed=11))
    delta, _ = reg._new_rows_since_index("emb", ipath)
    assert delta is not None and delta.count() == 4
    assert reg.extend_vector_index("emb") == 4


def _kw_registry(spark, tmp_path, ns):
    from vechord_spark.spec import Keyword

    r = VechordRegistry(ns, str(tmp_path), spark)
    r.register(
        TableSpec(
            "doc",
            [Column("uid", "int", primary_key=True), Column("body", Keyword())],
        )
    )
    return r


def _kw_docs(ids, seed):
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rng = random.Random(seed)
    return [
        {"uid": i, "body": " ".join(rng.choices(words, k=rng.randrange(3, 12)))}
        for i in ids
    ]


def _assert_kw_parity(inc, full, queries=("alpha beta", "zeta", "gamma delta")):
    for q in queries:
        got = inc.search_by_keyword("doc", q, topk=10).collect()
        want = full.search_by_keyword("doc", q, topk=10).collect()
        assert [r.uid for r in got] == [r.uid for r in want], q
        for g, w in zip(got, want):
            assert abs(g.score - w.score) < 1e-6, (q, g, w)


def test_keyword_extend_crash_after_append_repairs_derived(spark, tmp_path):
    """The nasty BM25 crash window: postings/doclen APPENDED but the
    docfreq/stats overwrite never ran. The retry's anti-join sees the
    delta docs present (n_new=0) — it must still REBUILD the derived
    tables from the postings before clearing the intent, or terms
    unique to the new docs are dropped and idf/avgdl stay stale."""
    from vechord_spark.operators.bm25 import Bm25Index

    day1, day2 = _kw_docs(range(40), seed=31), _kw_docs(range(40, 60), seed=32)
    inc = _kw_registry(spark, tmp_path, "kwcrash1")
    inc.insert_rows("doc", day1)
    inc.build_keyword_index("doc")
    inc.insert_rows("doc", day2)

    # simulate the crash: intent marked, postings + doclen appended,
    # derived tables NOT merged, coverage NOT recorded
    ipath = inc.base_path / "kwcrash1_doc.bm25"
    old = inc._load_keyword_index("doc")
    new = inc.load("doc").join(
        old.postings.select(F.col("doc_id").alias("uid")).distinct(),
        "uid",
        "left_anti",
    )
    delta = Bm25Index(new, "uid", "body", tokenizer=old.tokenizer)
    inc._mark_extend_intent(ipath)
    delta.postings.write.mode("append").parquet(str(ipath / "postings"))
    delta.doclen.write.mode("append").parquet(str(ipath / "doclen"))

    # retry: finds nothing new, but repairs docfreq/stats
    assert inc.extend_keyword_index("doc") == 0
    assert not (ipath / "extend.intent").exists()

    full = _kw_registry(spark, tmp_path, "kwcrash1f")
    full.insert_rows("doc", day1 + day2)
    full.build_keyword_index("doc")
    _assert_kw_parity(inc, full)
    # corpus stats reflect the grown corpus (not the stale day-1 set)
    stats = spark.read.parquet(str(ipath / "stats")).collect()[0]
    assert stats.n_docs == 60


def test_keyword_extend_crash_before_append_retries_cleanly(spark, tmp_path):
    """Crash after the intent mark but BEFORE any append: the retry
    indexes the delta docs and the result still matches a full
    rebuild (the rebuild-under-marker path must be correct too)."""
    day1, day2 = _kw_docs(range(30), seed=41), _kw_docs(range(30, 50), seed=42)
    inc = _kw_registry(spark, tmp_path, "kwcrash2")
    inc.insert_rows("doc", day1)
    inc.build_keyword_index("doc")
    inc.insert_rows("doc", day2)

    ipath = inc.base_path / "kwcrash2_doc.bm25"
    inc._mark_extend_intent(ipath)  # crashed before any write landed

    assert inc.extend_keyword_index("doc") == 20
    assert not (ipath / "extend.intent").exists()

    full = _kw_registry(spark, tmp_path, "kwcrash2f")
    full.insert_rows("doc", day1 + day2)
    full.build_keyword_index("doc")
    _assert_kw_parity(inc, full)


def test_compact_readopts_vector_ledger(reg, spark):
    """build -> extend -> compact -> extend: the post-compact extend
    must use the log-delta fast path (never the O(table) anti-join)
    and search results must equal the uncompacted index's."""
    reg.insert_rows("emb", _rows(range(60), seed=51))
    reg.build_vector_index("emb", lists=2)
    reg.insert_rows("emb", _rows(range(60, 80), seed=52))
    assert reg.extend_vector_index("emb") == 20
    q = [0.1] * 8
    before = [
        r.uid for r in reg.search_by_vector("emb", q, topk=5, probes=2).collect()
    ]

    stats = reg.compact("emb")
    assert stats["files_after"] <= stats["files_before"]
    ipath = reg._index_path("emb")
    # coverage re-adopted: the layout covers the compacted version
    assert reg.history("emb")[-1]["op"] == "compact"
    assert reg._covered_version(ipath) == reg.table_version("emb")

    # results identical across the compaction: the index rows never
    # changed (checked BEFORE any day-N append changes the corpus)
    after = [
        r.uid for r in reg.search_by_vector("emb", q, topk=5, probes=2).collect()
    ]
    assert after == before

    # day-N append goes through the FAST path (the delta reads only
    # the fresh commit), not the anti-join fallback
    compacted = reg.table_version("emb")
    reg.insert_rows("emb", _rows(range(100, 110), seed=53))
    delta, _ = reg._new_rows_since_index("emb", ipath)
    assert delta is not None, "log delta must survive compaction"
    _, added, _ = reg._ensure_log("emb").since(compacted)
    assert _scanned_files(delta) == sorted(added)
    assert {r.uid for r in delta.collect()} == set(range(100, 110))
    assert reg.extend_vector_index("emb") == 10


def test_compact_extends_pending_rows_first(reg, spark):
    """Rows appended but NOT yet extended when compact runs must not be
    lost: compact extends first, then snapshots."""
    reg.insert_rows("emb", _rows(range(40), seed=61))
    reg.build_vector_index("emb", lists=2)
    reg.insert_rows("emb", _rows(range(40, 55), seed=62))  # pending
    reg.compact("emb")
    # the pending rows were indexed by compact's extend-first step
    ipath = reg._index_path("emb")
    ids = [r.uid for r in spark.read.parquet(str(ipath / "data")).collect()]
    assert len(ids) == len(set(ids)) == 55
    # and nothing is considered new afterwards
    assert reg.extend_vector_index("emb") == 0


def test_compact_readopts_keyword_ledger(spark, tmp_path):
    """The BM25 twin: compact -> re-adopted coverage -> fast-path extend with
    rebuild-identical scores."""
    day1, day2 = _kw_docs(range(30), seed=71), _kw_docs(range(30, 45), seed=72)
    inc = _kw_registry(spark, tmp_path, "kwcomp")
    inc.insert_rows("doc", day1)
    inc.build_keyword_index("doc")
    inc.compact("doc")
    ipath = inc.base_path / "kwcomp_doc.bm25"
    inc.insert_rows("doc", day2)
    delta, _ = inc._new_rows_since_index("doc", ipath)
    assert delta is not None and delta.count() == 15
    assert inc.extend_keyword_index("doc") == 15

    full = _kw_registry(spark, tmp_path, "kwcompf")
    full.insert_rows("doc", day1 + day2)
    full.build_keyword_index("doc")
    _assert_kw_parity(inc, full)


def test_zorder_readopts_vector_ledger(reg, spark):
    """optimize_zorder rewrites files like compact — coverage must be
    re-adopted there too (same extend-first/record-after bracket)."""
    reg.insert_rows("emb", _rows(range(50), seed=81))
    reg.build_vector_index("emb", lists=2)
    reg.insert_rows("emb", _rows(range(50, 60), seed=82))  # pending
    reg.optimize_zorder("emb", "uid", "uid", n_files=2)
    ipath = reg._index_path("emb")
    assert reg.history("emb")[-1]["op"] == "zorder"
    assert reg._covered_version(ipath) == reg.table_version("emb")
    # pending rows were indexed by the extend-first step
    ids = [r.uid for r in spark.read.parquet(str(ipath / "data")).collect()]
    assert len(ids) == len(set(ids)) == 60
    # day-N extend stays on the fast path
    reg.insert_rows("emb", _rows(range(100, 105), seed=83))
    delta, _ = reg._new_rows_since_index("emb", ipath)
    assert delta is not None and delta.count() == 5
    assert reg.extend_vector_index("emb") == 5


def test_compact_index_shrinks_files_and_keeps_scores(spark, tmp_path):
    """Daily extends fragment the index layouts; compact_index rewrites
    them in place — fewer files, identical search results, covered
    table version untouched."""
    from vechord_spark.spec import Keyword

    rng = random.Random(91)
    reg = VechordRegistry("idxc", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "doc",
            [
                Column("uid", "int", primary_key=True),
                Column("vec", Vector(8)),
                Column("body", Keyword()),
            ],
        )
    )
    words = ["alpha", "beta", "gamma", "delta", "epsilon"]

    def rows(ids):
        return [
            {
                "uid": i,
                "vec": [rng.uniform(-1, 1) for _ in range(8)],
                "body": " ".join(rng.choices(words, k=6)),
            }
            for i in ids
        ]

    reg.insert_rows("doc", rows(range(60)))
    reg.build_vector_index("doc", lists=2)
    reg.build_keyword_index("doc")
    for day in range(4):  # four daily extends -> file sprawl
        reg.insert_rows("doc", rows(range(100 + day * 10, 110 + day * 10)))
        assert reg.extend_vector_index("doc") == 10
        assert reg.extend_keyword_index("doc") == 10

    q = [0.2] * 8
    knn_before = [
        r.uid for r in reg.search_by_vector("doc", q, topk=5, probes=2).collect()
    ]
    kw_before = [
        (r.uid, r.score)
        for r in reg.search_by_keyword("doc", "alpha beta", topk=5).collect()
    ]
    ipath = reg._index_path("doc")
    kpath = reg.base_path / "idxc_doc.bm25"
    files_before = sum(1 for p in (ipath / "data").rglob("*.parquet"))
    postings_before = sum(1 for p in (kpath / "postings").rglob("*.parquet"))
    covered_before = reg._covered_version(ipath)

    out = reg.compact_index("doc")
    assert out["ivf_data_files"] < files_before
    assert out["bm25_postings_files"] < postings_before
    # coverage untouched: extends keep their O(appended) fast path
    assert reg._covered_version(ipath) == covered_before == reg.table_version("doc")
    assert reg._new_rows_since_index("doc", ipath)[0].count() == 0

    knn_after = [
        r.uid for r in reg.search_by_vector("doc", q, topk=5, probes=2).collect()
    ]
    kw_after = [
        (r.uid, r.score)
        for r in reg.search_by_keyword("doc", "alpha beta", topk=5).collect()
    ]
    assert knn_after == knn_before
    assert kw_after == kw_before
    # and the next extend still works end to end
    reg.insert_rows("doc", rows(range(500, 505)))
    assert reg.extend_vector_index("doc") == 5
    assert reg.extend_keyword_index("doc") == 5


def test_compact_index_swap_crash_recovers(reg, spark):
    """A crash inside compact_index's directory swap must never lose
    the index: the journal rolls forward (replacement complete) or
    back (original preserved) on the next load."""
    import json as _json
    import shutil as _shutil

    reg.insert_rows("emb", _rows(range(50), seed=95))
    reg.build_vector_index("emb", lists=2)
    ipath = reg._index_path("emb")
    d = ipath / "data"
    q = [0.3] * 8
    want = [r.uid for r in reg.search_by_vector("emb", q, topk=5, probes=2).collect()]

    # --- crash AFTER the live dir was renamed away, BEFORE the
    # replacement was renamed in (worst window): forward recovery
    tmp = d.parent / ".data.compact-deadbeef"
    old = d.parent / ".data.old-deadbeef"
    _shutil.copytree(d, tmp)  # the completed replacement write
    (d.parent / ".data.swapintent.json").write_text(
        _json.dumps({"tmp": str(tmp), "old": str(old)})
    )
    d.rename(old)
    assert not d.exists()
    got = [r.uid for r in reg.search_by_vector("emb", q, topk=5, probes=2).collect()]
    assert got == want  # load recovered the swap transparently
    assert d.exists() and not tmp.exists() and not old.exists()
    assert not (d.parent / ".data.swapintent.json").exists()

    # --- crash BEFORE any rename (journal written, nothing moved):
    # recovery is a no-op cleanup of the leftovers
    tmp2 = d.parent / ".data.compact-cafebabe"
    _shutil.copytree(d, tmp2)
    (d.parent / ".data.swapintent.json").write_text(
        _json.dumps({"tmp": str(tmp2), "old": str(d.parent / '.data.old-cafebabe')})
    )
    got = [r.uid for r in reg.search_by_vector("emb", q, topk=5, probes=2).collect()]
    assert got == want
    assert not tmp2.exists()
    assert not (d.parent / ".data.swapintent.json").exists()

    # --- the same crash window must be repaired by every entry point
    # that opens the layout, not only by search: extend, and the
    # maintain() policy (whose index_stats must still see the layout)
    def crash(d, tag):
        tmp = d.parent / f".{d.name}.compact-{tag}"
        _shutil.copytree(d, tmp)
        (d.parent / f".{d.name}.swapintent.json").write_text(
            _json.dumps({"tmp": str(tmp), "old": str(d.parent / f".{d.name}.old-{tag}")})
        )
        d.rename(d.parent / f".{d.name}.old-{tag}")

    reg.insert_rows("emb", _rows(range(50, 55), seed=96))
    crash(d, "ext")
    assert reg.extend_vector_index("emb") == 5
    assert d.exists()
    crash(d, "mnt")
    assert "ivf" in reg.maintain("emb")["before"]
    assert d.exists()

    # --- sparse and BM25 postings: extend, search and maintain
    # recover too
    from vechord_spark.spec import Keyword, SparseVector

    reg.register(
        TableSpec(
            "sp",
            [
                Column("uid", "int", primary_key=True),
                Column("body", Keyword()),
                Column("sv", SparseVector(16)),
            ],
        )
    )

    def sp_row(i, sv):
        return {"uid": i, "body": f"w{i}", "sv": sv}

    reg.insert_rows("sp", [sp_row(i, ([i % 16], [1.0 + i])) for i in range(8)])
    reg.build_sparse_index("sp")
    reg.build_keyword_index("sp")
    posts = reg._sparse_index_path("sp") / "postings"
    reg.insert_rows("sp", [sp_row(8, ([3], [9.0]))])
    crash(posts, "ext")
    assert reg.extend_sparse_index("sp") == 1
    kposts = reg._layout_path("sp", "bm25") / "postings"
    crash(kposts, "ext")
    assert reg.extend_keyword_index("sp") == 1
    crash(posts, "srch")
    assert [r.uid for r in reg.search_by_sparse("sp", {3: 1.0}, topk=1).collect()] == [8]
    crash(posts, "mnt")
    assert "sparse" in reg.maintain("sp")["before"]
    assert posts.exists()

    # --- a LIVE swap (journal written while its compactor holds the
    # maintenance lock) is not a crash: a concurrent search or
    # index_stats leaves it alone, and repairs it once abandoned
    tmp = posts.parent / ".postings.compact-live"
    _shutil.copytree(posts, tmp)
    journal = posts.parent / ".postings.swapintent.json"
    journal.write_text(
        _json.dumps({"tmp": str(tmp), "old": str(posts.parent / ".postings.old-live")})
    )
    with reg._maintenance_lock(posts.parent):
        assert [r.uid for r in reg.search_by_sparse("sp", {3: 1.0}, topk=1).collect()] == [8]
        assert "sparse" in reg.index_stats("sp")
        assert journal.exists() and tmp.exists()
    assert "sparse" in reg.index_stats("sp")
    assert not journal.exists() and not tmp.exists() and posts.exists()


def test_held_layout_handles_follow_every_write(spark, tmp_path):
    """A registry holds each layout's read handle per on-disk
    generation: after every kind of write the next search equals the
    same search on a fresh registry over the same path (nothing held)
    — both extends, a delete swept by maintain(), compact_index, and
    an append + extend and a drop + rebuild made through a second
    registry."""
    from vechord_spark.spec import AnyOf, Keyword

    spec = TableSpec(
        "doc",
        [
            Column("uid", "int", primary_key=True),
            Column("body", Keyword()),
            Column("vec", Vector(8)),
        ],
    )

    def rows(ids, seed):
        out = _rows(ids, seed)
        for r in out:
            r["body"] = f"w{r['uid'] % 7} common" + (" plantx" * (r["uid"] % 3))
        return out

    def registry():
        r = VechordRegistry("held", str(tmp_path), spark)
        r.register(spec)
        return r

    def keyword(r):
        hits = r.search_by_keyword("doc", "plantx w2", topk=6).collect()
        return [(x.uid, x.score) for x in hits]

    def probe(r):
        hits = r.search_by_vector("doc", [0.4] * 8, topk=6, probes=2).collect()
        return [(x.uid, x.distance) for x in hits]

    def check(*searches):
        got = [s(reg) for s in searches]
        fresh = registry()
        assert got == [s(fresh) for s in searches]
        return got

    reg = registry()
    reg.insert_rows("doc", rows(range(60), seed=1))
    reg.build_keyword_index("doc")
    reg.build_vector_index("doc", lists=4)
    kw0, ivf0 = check(keyword, probe)  # fills the held handles

    reg.insert_rows("doc", rows(range(60, 90), seed=2))
    assert reg.extend_keyword_index("doc") == 30
    (kw1,) = check(keyword)
    assert reg.extend_vector_index("doc") == 30
    (ivf1,) = check(probe)
    assert (kw1, ivf1) != (kw0, ivf0)

    reg.remove_by("doc", {"uid": AnyOf([kw1[0][0], ivf1[0][0]])})
    reg.maintain("doc")
    kw2, ivf2 = check(keyword, probe)
    assert kw2 != kw1 and ivf2 != ivf1

    reg.compact_index("doc")
    assert check(keyword, probe) == [kw2, ivf2]

    other = registry()
    other.insert_rows("doc", rows(range(90, 120), seed=3))
    other.extend_keyword_index("doc")
    other.extend_vector_index("doc")
    kw3, ivf3 = check(keyword, probe)
    assert (kw3, ivf3) != (kw2, ivf2)

    other.drop("doc")
    other.register(spec)
    other.insert_rows("doc", rows(range(40), seed=4))
    other.build_keyword_index("doc")
    other.build_vector_index("doc", lists=4)
    kw4, ivf4 = check(keyword, probe)
    assert ivf4 != ivf3 and kw4 != kw3
