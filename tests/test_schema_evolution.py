"""ALTER TABLE ADD COLUMN — metadata-only schema evolution.

load() reads with the spec's explicit schema, so pre-alter parquet
files surface the new column as NULL without any rewrite; the alter
persists in the table's _alters.json overlay and replays in every
later session's register(); backfill_column is the explicit journaled
rewrite for materializing a value into history.
"""

import pytest

from vechord_spark.errors import SchemaError
from vechord_spark.registry import VechordRegistry
from vechord_spark.spec import Column, TableSpec


def _spec():
    return TableSpec(
        "doc",
        [
            Column("uid", "int", primary_key=True),
            Column("text", "string"),
        ],
    )


def _rows(lo, hi):
    return [{"uid": i, "text": f"doc {i}"} for i in range(lo, hi)]


def test_add_column_is_metadata_only(spark, tmp_path):
    r = VechordRegistry("evo", str(tmp_path), spark)
    r.register(_spec())
    r.insert_rows("doc", _rows(0, 5))
    files_before = sorted(r.load("doc").inputFiles())

    r.alter_table_add_column("doc", "lang", "string", insert_default="en")
    # NO file rewritten
    assert sorted(r.load("doc").inputFiles()) == files_before
    # pre-alter rows read NULL
    got = {x["uid"]: x["lang"] for x in r.load("doc").collect()}
    assert got == {i: None for i in range(5)}

    # post-alter inserts: omitted key -> default; explicit None -> NULL;
    # explicit value -> value
    r.insert_rows(
        "doc",
        [
            {"uid": 10, "text": "a"},
            {"uid": 11, "text": "b", "lang": None},
            {"uid": 12, "text": "c", "lang": "fr"},
        ],
    )
    got = {x["uid"]: x["lang"] for x in r.load("doc").collect()}
    assert got[10] == "en" and got[11] is None and got[12] == "fr"


def test_alter_overlay_replays_in_new_session(spark, tmp_path):
    r1 = VechordRegistry("evo2", str(tmp_path), spark)
    r1.register(_spec())
    r1.insert_rows("doc", _rows(0, 3))
    r1.alter_table_add_column("doc", "score", "double", insert_default=1.5)

    # a registry built from YESTERDAY'S spec sees the evolved schema
    r2 = VechordRegistry("evo2", str(tmp_path), spark)
    r2.register(_spec())
    assert [c.name for c in r2.tables["doc"].columns] == ["uid", "text", "score"]
    r2.insert_rows("doc", [{"uid": 9, "text": "z"}])
    got = {x["uid"]: x["score"] for x in r2.load("doc").collect()}
    assert got[9] == 1.5 and got[0] is None


def test_backfill_column_rewrites_once(spark, tmp_path):
    r = VechordRegistry("evo3", str(tmp_path), spark)
    r.register(_spec())
    r.insert_rows("doc", _rows(0, 4))
    r.alter_table_add_column("doc", "lang", "string")
    r.insert_rows("doc", [{"uid": 8, "text": "x", "lang": "de"}])
    assert r.backfill_column("doc", "lang", "en") == 4
    got = {x["uid"]: x["lang"] for x in r.load("doc").collect()}
    assert got == {0: "en", 1: "en", 2: "en", 3: "en", 8: "de"}
    assert r.history("doc")[-1]["op"] == "backfill"
    # nothing left to fill: no-op, no new version
    v = r.table_version("doc")
    assert r.backfill_column("doc", "lang", "en") == 0
    assert r.table_version("doc") == v


def test_alter_validations(spark, tmp_path):
    r = VechordRegistry("evo4", str(tmp_path), spark)
    r.register(_spec())
    with pytest.raises(SchemaError, match="already has"):
        r.alter_table_add_column("doc", "text", "string")
    with pytest.raises(ValueError, match="vector"):
        r.alter_table_add_column("doc", "emb", "Vector(8)")
    with pytest.raises(SchemaError, match="no column"):
        r.backfill_column("doc", "missing", 1)


def test_alter_composes_with_select_and_delete(spark, tmp_path):
    """The evolved column behaves like any declared one: predicates,
    projections, DELETE rewrites (which materialize the schema) all
    see it."""
    r = VechordRegistry("evo5", str(tmp_path), spark)
    r.register(_spec())
    r.insert_rows("doc", _rows(0, 4))
    r.alter_table_add_column("doc", "lang", "string", insert_default="en")
    r.insert_rows("doc", [{"uid": 7, "text": "y"}])
    assert r.select_by("doc", {"lang": "en"}).count() == 1
    # a DELETE rewrite materializes the evolved schema into the files
    r.remove_by("doc", {"uid": 0})
    got = {x["uid"]: x["lang"] for x in r.load("doc").collect()}
    assert got == {1: None, 2: None, 3: None, 7: "en"}


def test_backfill_stales_ledgers_and_maintain_heals(spark, tmp_path):
    """Schema evolution × index lifecycle (round-12 verdict ask #4):
    backfill_column rewrites history, so every index layout's file
    ledger must DETECT the rewrite (ledger_fresh False — the
    O(appended) file-diff fast path is no longer provable) and one
    maintain() call must heal it: the extend step pays the pk
    anti-join once, indexes exactly the post-alter appends, and
    re-adopts a fresh ledger. A second maintain() is then a no-op."""
    from vechord_spark.spec import Keyword, Vector

    r = VechordRegistry("evo7", str(tmp_path), spark)
    spec = TableSpec(
        "doc",
        [
            Column("uid", "int", primary_key=True),
            Column("body", Keyword()),
            Column("emb", Vector(4)),
        ],
    )
    r.register(spec)
    r.insert_rows(
        "doc",
        [
            {
                "uid": i,
                "body": f"token{i % 7} filler",
                "emb": [float(i % 5), 1.0, 0.0, float(i % 3)],
            }
            for i in range(40)
        ],
    )
    r.build_vector_index("doc", lists=4)
    r.build_keyword_index("doc")
    st = r.index_stats("doc")
    assert st["ivf"]["ledger_fresh"] and st["ivf"]["files_behind"] == 0
    assert st["bm25"]["ledger_fresh"] and st["bm25"]["files_behind"] == 0

    # evolve, append, then materialize the default into history
    r.alter_table_add_column("doc", "lang", "string", insert_default="en")
    r.insert_rows(
        "doc",
        [
            {"uid": 100 + i, "body": "fresh insert", "emb": [9.0, 9.0, 9.0, float(i)]}
            for i in range(3)
        ],
    )
    assert r.backfill_column("doc", "lang", "fr") == 40
    st = r.index_stats("doc")
    # the rewrite invalidated every ledger: stale, not silently "fresh"
    assert not st["ivf"]["ledger_fresh"]
    assert not st["bm25"]["ledger_fresh"]

    rep = r.maintain("doc")
    ext = {a["index"]: a["rows"] for a in rep["actions"] if a["op"] == "extend"}
    # anti-join fallback found EXACTLY the post-build appends — the
    # backfill rewrite itself added no unindexed rows
    assert ext["ivf"] == 3
    assert ext["bm25"] == 3
    st = r.index_stats("doc")
    assert st["ivf"]["ledger_fresh"] and st["ivf"]["files_behind"] == 0
    assert st["bm25"]["ledger_fresh"] and st["bm25"]["files_behind"] == 0

    # healed layouts serve the appended rows, and the evolved column
    # comes back CURRENT from the index path: pre-backfill layout
    # copies never saw 'lang' at all (metadata-only alter), and the
    # appended rows' layout copies froze insert-time values — the
    # search path joins evolved fields back from the table, so the
    # backfilled 'fr' and the insert_default 'en' both surface
    hits = {
        x.uid: x.lang
        for x in r.search_by_vector(
            "doc", [9.0, 9.0, 9.0, 1.0], topk=3, probes=4
        ).collect()
    }
    assert hits == {100: "en", 101: "en", 102: "en"}
    near_old = {
        x.uid: x.lang
        for x in r.search_by_vector(
            "doc", [0.0, 1.0, 0.0, 0.0], topk=5, probes=4
        ).collect()
    }
    assert set(near_old) <= set(range(40))
    assert set(near_old.values()) == {"fr"}
    kw = {x.uid: x.lang for x in r.search_by_keyword("doc", "fresh insert").collect()}
    assert kw == {100: "en", 101: "en", 102: "en"}

    # pre-filtering on an evolved column can't use the stale layout
    # copy: the index path refuses instead of silently mismatching
    with pytest.raises(SchemaError, match="ALTER-added"):
        r.search_by_vector(
            "doc", [9.0, 9.0, 9.0, 1.0], probes=4, conditions={"lang": "en"}
        )
    # ...while the brute-force path (reads the table) serves it
    bf = [
        x.uid
        for x in r.search_by_vector(
            "doc", [9.0, 9.0, 9.0, 1.0], topk=3, conditions={"lang": "en"}
        ).collect()
    ]
    assert set(bf) == {100, 101, 102}

    # healed state is stable: nothing left for the policy to do
    assert r.maintain("doc")["actions"] == []


def test_alter_overlay_survives_table_rewrite(spark, tmp_path):
    """_alters.json lives inside the table dir, and a rewrite
    (backfill/DELETE) replaces every data file of it: the overlay must
    survive, or a fresh session would replay nothing and silently
    serve the pre-alter schema."""
    r = VechordRegistry("evo8", str(tmp_path), spark)
    r.register(_spec())
    r.insert_rows("doc", _rows(0, 4))
    r.alter_table_add_column("doc", "lang", "string", insert_default="en")
    r.backfill_column("doc", "lang", "fr")  # full rewrite
    r.remove_by("doc", {"uid": 0})  # second rewrite flavor

    r2 = VechordRegistry("evo8", str(tmp_path), spark)
    r2.register(_spec())
    assert [c.name for c in r2.tables["doc"].columns] == ["uid", "text", "lang"]
    r2.insert_rows("doc", [{"uid": 9, "text": "z"}])
    got = {x["uid"]: x["lang"] for x in r2.load("doc").collect()}
    assert got == {1: "fr", 2: "fr", 3: "fr", 9: "en"}


def test_evolved_column_visible_to_column_lookup_and_http(spark, tmp_path):
    """spec.column() (the name lookup HTTP param coercion goes
    through) must see ALTER-added columns — appending to the columns
    list alone left the _by_name cache stale and ?lang=en returned
    422 from the service."""
    import json as _json

    from vechord_spark.service import VechordService

    r = VechordRegistry("evo6", str(tmp_path), spark)
    r.register(_spec())
    r.insert_rows("doc", _rows(0, 2))
    r.alter_table_add_column("doc", "lang", "string", insert_default="en")
    assert r.tables["doc"].column("lang").name == "lang"
    r.insert_rows("doc", [{"uid": 5, "text": "x"}])
    svc = VechordService(r)
    status, _, body = svc.handle("GET", "/api/table/doc", {"lang": "en"})
    assert status == 200
    assert [x["uid"] for x in _json.loads(body)] == [5]
    # overlay replay path keeps the lookup coherent too
    r2 = VechordRegistry("evo6", str(tmp_path), spark)
    r2.register(_spec())
    assert r2.tables["doc"].column("lang").dtype == "string"
