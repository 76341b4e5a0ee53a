"""First-class SparseVector columns: struct storage + persisted
inverted-postings index + dot-product search + extend/maintain
lifecycle. The reference produces SparseEmbedding values but has no
sparse column type or index (SURVEY §1.2) — this surface is the
engine's D10 elevation to registry parity with K1/K3.
"""

import pytest

from vechord_spark.errors import SchemaError
from vechord_spark.registry import VechordRegistry
from vechord_spark.spec import Column, SparseVector, TableSpec


def _registry(spark, tmp_path, ns):
    r = VechordRegistry(ns, str(tmp_path), spark)
    r.register(
        TableSpec(
            "doc",
            [
                Column("uid", "int", primary_key=True),
                Column("title", "string"),
                Column("sv", SparseVector(100)),
            ],
        )
    )
    return r


def _rows():
    return [
        {"uid": 1, "title": "a", "sv": {"indices": [3, 7], "values": [1.0, 2.0]}},
        {"uid": 2, "title": "b", "sv": ([7, 50], [4.0, 1.0])},  # pair form
        {"uid": 3, "title": "c", "sv": {"indices": [50], "values": [3.0]}},
        {"uid": 4, "title": "d", "sv": None},  # NULL sparse cell
    ]


def _brute(rows, query):
    scores = {}
    for r in rows:
        sv = r["sv"]
        if sv is None:
            continue
        idx, vals = (sv["indices"], sv["values"]) if isinstance(sv, dict) else sv
        s = sum(v * query.get(i, 0.0) for i, v in zip(idx, vals))
        if s > 0:
            scores[r["uid"]] = round(s, 6)
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))


def test_sparse_roundtrip_index_and_search(spark, tmp_path):
    r = _registry(spark, tmp_path, "spv")
    r.insert_rows("doc", _rows())
    got = {x["uid"]: x["sv"] for x in r.load("doc").collect()}
    assert got[1]["indices"] == [3, 7] and got[1]["values"] == [1.0, 2.0]
    assert got[4] is None

    n = r.build_sparse_index("doc")
    assert n == 5  # postings rows: 2 + 2 + 1, NULL contributes nothing

    q = {7: 2.0, 50: 1.0}
    hits = r.search_by_sparse("doc", q, topk=3).collect()
    expect = _brute(_rows(), q)  # 2: 4*2+1*1=9; 1: 2*2=4; 3: 3*1=3
    assert [(h["uid"], h["score"]) for h in hits] == expect
    assert expect[0] == (2, 9.0)
    # return fields ride along
    assert hits[0]["title"] == "b"
    # empty query: schema-stable empty frame
    assert r.search_by_sparse("doc", {}, topk=3).count() == 0


def test_sparse_extend_and_maintain(spark, tmp_path):
    r = _registry(spark, tmp_path, "spv2")
    r.insert_rows("doc", _rows())
    r.build_sparse_index("doc")
    st = r.index_stats("doc")["sparse"]
    assert st["ledger_fresh"] and st["files_behind"] == 0

    r.insert_rows(
        "doc",
        [{"uid": 9, "title": "z", "sv": {"indices": [7], "values": [10.0]}}],
    )
    assert r.index_stats("doc")["sparse"]["files_behind"] > 0
    assert r.extend_sparse_index("doc") == 1
    hits = r.search_by_sparse("doc", {7: 1.0}, topk=1).collect()
    assert hits[0]["uid"] == 9 and hits[0]["score"] == 10.0

    # maintain() sees the sparse layout: another append, one call
    r.insert_rows(
        "doc",
        [{"uid": 10, "title": "y", "sv": {"indices": [3], "values": [5.0]}}],
    )
    out = r.maintain("doc")
    acts = [(a["op"], a.get("index")) for a in out["actions"]]
    assert ("extend", "sparse") in acts
    assert r.search_by_sparse("doc", {3: 1.0}, topk=1).collect()[0]["uid"] == 10
    # compact_index re-clusters the postings (order-preserving rewrite)
    stats = r.compact_index("doc")
    assert stats["sparse_postings_files"] >= 1
    assert r.search_by_sparse("doc", {7: 1.0}, topk=1).collect()[0]["uid"] == 9


def test_sparse_validations(spark, tmp_path):
    r = _registry(spark, tmp_path, "spv3")
    with pytest.raises(SchemaError, match="lengths differ"):
        r.insert_rows(
            "doc", [{"uid": 1, "title": "x", "sv": ([1, 2], [1.0])}]
        )
    with pytest.raises(SchemaError, match="out of range"):
        r.insert_rows(
            "doc", [{"uid": 1, "title": "x", "sv": ([100], [1.0])}]
        )
    with pytest.raises(SchemaError, match="no sparse index"):
        r.insert_rows(
            "doc", [{"uid": 1, "title": "x", "sv": ([5], [1.0])}]
        )
        r.search_by_sparse("doc", {5: 1.0})
    # tables without the column type refuse the surface
    r2 = VechordRegistry("spv4", str(tmp_path), spark)
    r2.register(
        TableSpec("plain", [Column("uid", "int", primary_key=True)])
    )
    with pytest.raises(SchemaError, match="no sparse vector column"):
        r2.build_sparse_index("plain")


def test_sparse_search_prefilter_conditions(spark, tmp_path):
    """conditions is a PRE-filter: the result is the top-k MATCHING
    docs, never fewer because better-scoring non-matches were cut."""
    r = _registry(spark, tmp_path, "spv5")
    r.insert_rows("doc", _rows())
    r.build_sparse_index("doc")
    q = {7: 2.0, 50: 1.0}
    # unfiltered winner is uid 2 (title b); restrict to title a/c
    from vechord_spark.spec import AnyOf

    hits = r.search_by_sparse(
        "doc", q, topk=2, conditions={"title": AnyOf(["a", "c"])}
    ).collect()
    assert [(h["uid"], h["score"]) for h in hits] == [(1, 4.0), (3, 3.0)]


def test_sparse_extend_crash_is_idempotent(spark, tmp_path, monkeypatch):
    """A crash between the postings append and the coverage record
    leaves extend.intent behind; the retry must go through the
    anti-join path and append NOTHING twice (postings already carry
    the delta's pk)."""
    r = _registry(spark, tmp_path, "spv6")
    r.insert_rows("doc", _rows())
    r.build_sparse_index("doc")
    r.insert_rows(
        "doc",
        [{"uid": 9, "title": "z", "sv": {"indices": [7], "values": [10.0]}}],
    )

    real = VechordRegistry._record_coverage
    state = {"boom": True}

    def crashing(self, ipath, version):
        if state["boom"] and ipath.name.endswith(".sparse"):
            state["boom"] = False
            raise RuntimeError("simulated crash after postings append")
        return real(self, ipath, version)

    monkeypatch.setattr(VechordRegistry, "_record_coverage", crashing)
    with pytest.raises(RuntimeError, match="simulated crash"):
        r.extend_sparse_index("doc")
    ipath = r._sparse_index_path("doc")
    assert (ipath / "extend.intent").exists()

    # retry: anti-join path (intent blocks the log-delta fast path),
    # finds nothing new — uid 9's postings already landed
    assert r.extend_sparse_index("doc") == 0
    posts = spark.read.parquet(str(ipath / "postings"))
    assert posts.filter("uid = 9").count() == 1  # exactly once
    hits = r.search_by_sparse("doc", {7: 1.0}, topk=1).collect()
    assert hits[0]["uid"] == 9 and hits[0]["score"] == 10.0
    # coverage re-adopted by the successful retry
    assert r.index_stats("doc")["sparse"]["ledger_fresh"]


def test_maintain_compacts_fragmented_sparse_layout(spark, tmp_path):
    """Many small sparse extends fragment the postings; maintain()'s
    hygiene signal now covers the sparse layout (flat postings, same
    file-count gate as bm25)."""
    r = _registry(spark, tmp_path, "spv7")
    r.insert_rows("doc", _rows())
    r.build_sparse_index("doc")
    for i in range(5):
        r.insert_rows(
            "doc",
            [{"uid": 20 + i, "title": "t", "sv": ([i % 9], [1.0])}],
        )
        r.extend_sparse_index("doc")
    frag = r.index_stats("doc")["sparse"]
    assert frag["files"] > 6  # the signal maintain gates on
    out = r.maintain("doc", compact_bm25_files=6)
    ops = [a["op"] for a in out["actions"]]
    assert "compact_index" in ops
    assert out["after"]["sparse"]["files"] < frag["files"]
    # search still exact over the re-clustered layout
    hits = r.search_by_sparse("doc", {7: 1.0}, topk=1).collect()
    assert hits[0]["uid"] == 2  # weight 4.0 on dim 7


def test_maintenance_locks_are_per_layout(spark, tmp_path):
    """The maintenance flock is per INDEX LAYOUT, not per table:
    holding the vector layout's lock must not block sparse
    maintenance (different ops on different layouts proceed in
    parallel), while the same layout stays exclusive."""
    from vechord_spark.errors import MaintenanceBusy
    from vechord_spark.spec import Vector

    r = VechordRegistry("spv8", str(tmp_path), spark)
    r.register(
        TableSpec(
            "doc",
            [
                Column("uid", "int", primary_key=True),
                Column("vec", Vector(4)),
                Column("sv", SparseVector(100)),
            ],
        )
    )
    r.insert_rows(
        "doc",
        [
            {"uid": i, "vec": [float(i % 3), 0.0, 1.0, 0.0], "sv": ([i % 9], [1.0])}
            for i in range(24)
        ],
    )
    r.build_vector_index("doc", lists=2)
    r.build_sparse_index("doc")
    r.insert_rows(
        "doc",
        [{"uid": 50, "vec": [9.0, 9.0, 9.0, 9.0], "sv": ([5], [2.0])}],
    )
    with r._maintenance_lock(r._index_path("doc")):
        # same layout: excluded
        with pytest.raises(MaintenanceBusy):
            r.extend_vector_index("doc")
        # DIFFERENT layout: proceeds under its own lock
        assert r.extend_sparse_index("doc") == 1
    # vector extend goes through once the lock releases
    assert r.extend_vector_index("doc") == 1


def test_maintain_prunes_deleted_rows_from_postings_layouts(spark, tmp_path):
    """DELETE rewrites the table only; maintain() must sweep the
    deleted docs out of the BM25 and sparse postings too: keyword
    search ranks 1..k with the scores of a fresh build over the live
    rows (n_docs, avgdl and df no longer count the deleted docs), and
    sparse search returns no deleted id. A later compact() re-adopts
    the sparse ledger like the others, so the next extend stays on
    the O(appended data) path."""
    from vechord_spark.spec import AnyOf, Keyword

    spec = TableSpec(
        "doc",
        [
            Column("uid", "int", primary_key=True),
            Column("body", Keyword()),
            Column("sv", SparseVector(32)),
        ],
    )

    def row(i):
        body = f"w{i % 7} w{i % 13} common" + (" plantx" if i % 10 == 0 else "")
        # NULL and empty sparse cells never enter the postings
        sv = {4: None, 5: ([], [])}.get(i % 50, ([i % 16, 16 + i % 5], [1.0, 1.0 + i % 3]))
        return {"uid": i, "body": body, "sv": sv}

    def sparse_docs(ids):
        return sum(1 for i in ids if i % 50 not in (4, 5))

    r = VechordRegistry("ghost", str(tmp_path), spark)
    r.register(spec)
    r.insert_rows("doc", [row(i) for i in range(300)])
    r.build_keyword_index("doc")
    r.build_sparse_index("doc")
    assert r.index_stats("doc")["sparse"]["rows"] == sparse_docs(range(300))
    victims = [i for i in range(300) if i % 10 == 0 and i < 150] + [1, 2, 3]
    r.remove_by("doc", {"uid": AnyOf(victims)})
    live = [i for i in range(300) if i not in set(victims)]

    out = r.maintain("doc")
    pruned = {a["index"]: a["pruned_rows"] for a in out["actions"] if a["op"] == "prune"}
    assert pruned == {"bm25": len(victims), "sparse": len(victims)}
    assert out["after"]["bm25"]["rows"] == len(live)
    assert out["after"]["sparse"]["rows"] == sparse_docs(live)
    # with the doc counts matching the table, maintain sweeps nothing,
    # also after appends the ledger extends cover
    r._prune_postings = lambda *a: pytest.fail("swept a layout without ghosts")
    assert r.maintain("doc")["actions"] == []
    r.insert_rows("doc", [row(1000), row(1004)])
    live += [1000, 1004]
    assert r.index_stats("doc")["sparse"]["files_behind"] > 0
    assert r.maintain("doc")["after"]["sparse"]["rows"] == sparse_docs(live)
    del r._prune_postings

    fresh = VechordRegistry("ghostfresh", str(tmp_path), spark)
    fresh.register(spec)
    fresh.insert_rows("doc", [row(i) for i in live])
    fresh.build_keyword_index("doc")
    for query in ("plantx", "w3 common"):
        got = [(x.rank, x.uid, x.score) for x in r.search_by_keyword("doc", query, topk=20).collect()]
        want = [(x.rank, x.uid, x.score) for x in fresh.search_by_keyword("doc", query, topk=20).collect()]
        assert [g[0] for g in got] == list(range(1, len(want) + 1))
        assert [g[1] for g in got] == [w[1] for w in want]
        assert [g[2] for g in got] == pytest.approx([w[2] for w in want], abs=1e-9)

    hits = r.search_by_sparse("doc", {0: 1.0, 1: 1.0, 2: 1.0, 3: 1.0}, topk=100, return_fields=["uid"])
    got = {x.uid for x in hits.collect()}
    assert got and not got & set(victims)

    r.compact("doc")
    delta, _ = r._new_rows_since_index("doc", r._sparse_index_path("doc"))
    assert delta is not None and delta.count() == 0


def test_held_sparse_postings_follow_every_write(spark, tmp_path):
    """The sparse postings frame is held per on-disk generation: after
    an extend, a delete swept by maintain(), compact_index and an
    append + extend through a second registry, the next single and
    batch search equal the same searches on a fresh registry."""
    from vechord_spark.spec import AnyOf

    r = _registry(spark, tmp_path, "held")
    r.insert_rows("doc", _rows())
    r.build_sparse_index("doc")
    q = {7: 1.0, 50: 2.0}

    def searches(reg):
        one = [(x.uid, x.score) for x in reg.search_by_sparse("doc", q, topk=3).collect()]
        batch = reg.search_by_sparse_batch("doc", [q, {3: 1.0}], topk=3).collect()
        return one, [(x.query_id, x.uid, x.score) for x in batch]

    def check():
        got = searches(r)
        assert got == searches(_registry(spark, tmp_path, "held"))
        return got

    seen = [check()]
    r.insert_rows("doc", [{"uid": 9, "title": "z", "sv": ([7, 3], [10.0, 1.0])}])
    assert r.extend_sparse_index("doc") == 1
    seen.append(check())
    r.remove_by("doc", {"uid": AnyOf([9, 2])})
    r.maintain("doc")
    seen.append(check())
    r.compact_index("doc")
    assert check() == seen[-1]
    other = _registry(spark, tmp_path, "held")
    other.insert_rows("doc", [{"uid": 11, "title": "y", "sv": ([50], [7.0])}])
    assert other.extend_sparse_index("doc") == 1
    seen.append(check())
    assert all(a != b for a, b in zip(seen, seen[1:]))
