"""Registry CRUD/search behavior (mirrors reference tests/test_table.py)."""

import pytest

from vechord_spark.errors import SchemaError, UniqueViolation
from vechord_spark.registry import VechordRegistry
from vechord_spark.spec import AnyOf, Column, Keyword, TableSpec, Vector


@pytest.fixture()
def reg(spark, tmp_path):
    r = VechordRegistry("test", str(tmp_path), spark)
    r.register(
        TableSpec(
            "document",
            [
                Column("uid", "int", primary_key=True),
                Column("title", "string"),
                Column("text", "string"),
            ],
        )
    )
    r.register(
        TableSpec(
            "chunk",
            [
                Column("uid", "int", primary_key=True),
                Column("doc_id", "int", foreign_key=("document", "uid")),
                Column("text", Keyword()),
                Column("vec", Vector(4)),
            ],
        )
    )
    return r


DOCS = [
    {"uid": 1, "title": "alpha", "text": "the quick brown fox"},
    {"uid": 2, "title": "beta", "text": "lazy dogs sleep"},
    {"uid": 3, "title": "alpha", "text": None},
]

CHUNKS = [
    {"uid": 10, "doc_id": 1, "text": "quick brown fox jumps", "vec": [1.0, 0.0, 0.0, 0.0]},
    {"uid": 11, "doc_id": 1, "text": "the fox is quick", "vec": [0.9, 0.1, 0.0, 0.0]},
    {"uid": 12, "doc_id": 2, "text": "dogs sleep lazily all day", "vec": [0.0, 1.0, 0.0, 0.0]},
]


def test_insert_select_roundtrip(reg):
    assert reg.insert_rows("document", DOCS) == 3
    rows = reg.select_by("document").collect()
    assert len(rows) == 3


def test_predicates(reg):
    reg.insert_rows("document", DOCS)
    # equality (reference test_table.py:91-124)
    assert reg.select_by("document", {"title": "alpha"}).count() == 2
    # IS NULL
    got = reg.select_by("document", {"text": None}).collect()
    assert [r.uid for r in got] == [3]
    # AnyOf -> IN list
    assert reg.select_by("document", {"uid": AnyOf([1, 3])}).count() == 2
    # conjunction
    assert reg.select_by("document", {"title": "alpha", "text": None}).count() == 1


def test_projection_and_limit(reg):
    reg.insert_rows("document", DOCS)
    df = reg.select_by("document", fields=["uid", "title"], limit=2)
    assert df.columns == ["uid", "title"]
    assert df.count() == 2


def test_delete_with_cascade(reg):
    reg.insert_rows("document", DOCS)
    reg.insert_rows("chunk", CHUNKS)
    removed = reg.remove_by("document", {"uid": 1})
    assert removed == 1
    # FK cascade removed doc 1's chunks (reference test_table.py:181-201)
    remaining = reg.select_by("chunk").collect()
    assert sorted(r.uid for r in remaining) == [12]


def test_unique_violation(reg, spark):
    reg.register(
        TableSpec(
            "uniq",
            [Column("uid", "int", primary_key=True), Column("sid", "string", unique=True)],
        )
    )
    reg.insert_rows("uniq", [{"uid": 1, "sid": "a"}])
    with pytest.raises(UniqueViolation):
        reg.insert_rows("uniq", [{"uid": 2, "sid": "a"}])
    with pytest.raises(UniqueViolation):
        reg.insert_rows("uniq", [{"uid": 3, "sid": "x"}, {"uid": 4, "sid": "x"}])
    # distinct values still insert fine
    reg.insert_rows("uniq", [{"uid": 5, "sid": "b"}])
    assert reg.select_by("uniq").count() == 2


def test_search_by_vector_default_fields(reg):
    reg.insert_rows("chunk", CHUNKS)
    hits = reg.search_by_vector("chunk", [1.0, 0.0, 0.0, 0.0], topk=2)
    rows = hits.collect()
    # vector/keyword columns excluded by default (non_vec_columns)
    assert set(hits.columns) == {"uid", "doc_id", "distance"}
    assert [r.uid for r in rows] == [10, 11]


def test_search_by_keyword(reg):
    reg.insert_rows("chunk", CHUNKS)
    hits = reg.search_by_keyword("chunk", "quick fox", topk=2).collect()
    assert {r.uid for r in hits} == {10, 11}


def test_drop(reg):
    reg.insert_rows("document", DOCS)
    reg.drop("document")
    assert "document" not in reg.tables


def test_namespace_isolation(spark, tmp_path):
    """Two namespaces over one base path never see each other's rows —
    the reference's set_namespace multi-tenancy (vechord/client.py:40-51)."""
    spec = TableSpec("t", [Column("uid", "int", primary_key=True),
                           Column("v", "string")])
    a = VechordRegistry("tenant_a", str(tmp_path), spark)
    b = VechordRegistry("tenant_b", str(tmp_path), spark)
    a.register(spec)
    b.register(spec)
    a.insert_rows("t", [{"uid": 1, "v": "from-a"}])
    b.insert_rows("t", [{"uid": 1, "v": "from-b"}])
    assert [r.v for r in a.load("t").collect()] == ["from-a"]
    assert [r.v for r in b.load("t").collect()] == ["from-b"]
    a.clear_storage()
    assert [r.v for r in b.load("t").collect()] == ["from-b"]


def test_persisted_ivf_index_search(spark, tmp_path):
    """build_vector_index persists a centroid-clustered copy; probe
    search prunes partitions and full probes == brute force."""
    import pyspark.sql.functions as F

    reg = VechordRegistry("ivf", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "emb",
            [Column("uid", "int", primary_key=True), Column("vec", Vector(8))],
        )
    )
    import random

    random.seed(7)
    rows = [
        {"uid": i, "vec": [random.uniform(-1, 1) for _ in range(8)]}
        for i in range(200)
    ]
    reg.insert_rows("emb", rows)
    n_lists = reg.build_vector_index("emb", lists=4)
    assert n_lists == 4

    q = [0.25] * 8
    exact = [r.uid for r in reg.search_by_vector("emb", q, topk=5).collect()]
    full = [r.uid for r in reg.search_by_vector("emb", q, topk=5, probes=4).collect()]
    assert full == exact

    pruned_df = reg.search_by_vector("emb", q, topk=5, probes=1)
    plan = pruned_df._jdf.queryExecution().executedPlan().toString()
    assert "centroid_id" in plan  # probe filter reaches the scan
    assert len(pruned_df.collect()) == 5

    from vechord_spark.errors import SchemaError as SE
    import pytest as _pytest

    reg2 = VechordRegistry("ivf2", str(tmp_path), spark)
    reg2.register(reg.tables["emb"])
    with _pytest.raises(SE, match="no IVF index"):
        reg2.search_by_vector("emb", q, probes=1)


def test_persisted_bm25_index_search(spark, tmp_path):
    """build_keyword_index persists postings; indexed search matches the
    one-shot plan exactly."""
    reg = VechordRegistry("kw", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "doc",
            [Column("uid", "int", primary_key=True), Column("body", Keyword())],
        )
    )
    reg.insert_rows(
        "doc",
        [
            {"uid": 1, "body": "spark query engine for fast analytics"},
            {"uid": 2, "body": "fast spark joins and fast scans"},
            {"uid": 3, "body": "unrelated cooking recipes"},
        ],
    )
    from vechord_spark.operators.bm25 import bm25_topk

    n_postings = reg.build_keyword_index("doc")
    assert n_postings > 0
    plain = sorted(
        (r.rank, r.uid, r.score)
        for r in bm25_topk(
            reg.load("doc"),
            doc_id="uid",
            text_col="body",
            query="fast spark",
            select=["uid", "body"],
        ).collect()
    )
    indexed = sorted(
        [(r.rank, r.uid, r.score) for r in reg.search_by_keyword("doc", "fast spark").collect()]
    )
    assert indexed == plain
    assert indexed[0][1] == 2  # two 'fast' + one 'spark' wins


def test_persisted_bm25_index_keeps_wordpiece_tokenizer(spark, tmp_path):
    """A custom tokenizer used at build time must survive reload: a
    fresh registry's query path re-tokenizes queries with the persisted
    vocab/config, not the engine default."""
    from vechord_spark.functions.wordpiece import WordPieceTokenizer

    vocab = ["[UNK]", "spark", "que", "##ry", "eng", "##ine", "fast"]
    tok = WordPieceTokenizer(vocab)
    reg = VechordRegistry("kwtok", str(tmp_path), spark)
    spec = TableSpec(
        "doc", [Column("uid", "int", primary_key=True), Column("body", Keyword())]
    )
    reg.register(spec)
    reg.insert_rows(
        "doc",
        [
            {"uid": 1, "body": "spark query engine"},
            {"uid": 2, "body": "fast spark"},
            {"uid": 3, "body": "nothing relevant"},
        ],
    )
    reg.build_keyword_index("doc", tokenizer=tok)

    reg2 = VechordRegistry("kwtok", str(tmp_path), spark)  # fresh session/state
    reg2.register(spec)
    loaded = reg2._load_keyword_index("doc")
    assert loaded.tokenizer is not None
    assert loaded.tokenizer.tokenize("query") == ["que", "##ry"]
    # 'query' only matches doc 1 under WordPiece ('que'+'##ry' pieces);
    # the engine tokenizer would find no posting for 'query' at all
    hits = reg2.search_by_keyword("doc", "query engine").collect()
    assert [r.uid for r in hits][0] == 1


def test_persisted_bm25_index_keeps_unigram_tokenizer(spark, tmp_path):
    """A TRAINED UnigramTokenizer used at build time must survive
    reload — the reference treats the tokenizer as a per-index
    persisted model choice (vechord/spec.py:258-295), so any trained
    model's full probability table round-trips, and a fresh session's
    query path Viterbi-segments queries exactly as the corpus was
    segmented (round-12 verdict ask #5)."""
    from vechord_spark.functions.unigram import train_from_frequencies

    # leading-space pre-tokens follow the BPE convention: "spark" as a
    # first word, " spark" mid-text — both whole pieces after training
    tok = train_from_frequencies(
        [(w, 50) for w in ("spark", "query", "engine", "fast")]
        + [(" " + w, 150) for w in ("spark", "query", "engine", "fast")],
        vocab_size=64,
        em_iters=2,
    )
    assert tok.tokenize("fast spark") == ["fast", " spark"]
    reg = VechordRegistry("kwuni", str(tmp_path), spark)
    spec = TableSpec(
        "doc", [Column("uid", "int", primary_key=True), Column("body", Keyword())]
    )
    reg.register(spec)
    reg.insert_rows(
        "doc",
        [
            {"uid": 1, "body": "spark query engine"},
            {"uid": 2, "body": "fast spark fast spark"},
            {"uid": 3, "body": "nothing relevant"},
        ],
    )
    reg.build_keyword_index("doc", tokenizer=tok)
    before = [
        (r.rank, r.uid, r.score)
        for r in reg.search_by_keyword("doc", "fast spark").collect()
    ]

    reg2 = VechordRegistry("kwuni", str(tmp_path), spark)  # fresh state
    reg2.register(spec)
    loaded = reg2._load_keyword_index("doc")
    assert loaded.tokenizer is not None
    # the reloaded model must carry PROBABILITIES, not just the vocab:
    # identical Viterbi segmentation on both sides of the round-trip
    assert loaded.tokenizer.logp == tok.logp
    assert loaded.tokenizer.tokenize("fast spark") == ["fast", " spark"]
    after = [
        (r.rank, r.uid, r.score)
        for r in reg2.search_by_keyword("doc", "fast spark").collect()
    ]
    assert after == before
    # doc 2 holds the only " spark" posting (mid-text repeat) plus two
    # "fast"-family hits — it must win under the unigram pieces
    assert after[0][1] == 2
    # the batched path tokenizes queries with the SAME reloaded model
    batch = reg2.search_by_keyword_batch(
        "doc", ["fast spark", "spark query engine"], topk=3
    )
    got = {}
    for row in batch.collect():
        got.setdefault(row.query_id, []).append((row.rank, row.uid, row.score))
    for qi, q in enumerate(["fast spark", "spark query engine"]):
        single = [
            (x.rank, x.uid, x.score)
            for x in reg2.search_by_keyword("doc", q, topk=3).collect()
        ]
        assert got.get(qi, []) == single


def test_search_by_multivec_with_refine(spark, tmp_path):
    from vechord_spark.spec import MultiVector

    reg = VechordRegistry("mv", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "late",
            [Column("uid", "int", primary_key=True), Column("mv", MultiVector(4))],
        )
    )
    import random

    random.seed(3)
    reg.insert_rows(
        "late",
        [
            {"uid": i, "mv": [[random.uniform(-1, 1) for _ in range(4)] for _ in range(3)]}
            for i in range(50)
        ],
    )
    q = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    exact = [r.uid for r in reg.search_by_multivec("late", q, topk=5).collect()]
    refined = [
        r.uid for r in reg.search_by_multivec("late", q, topk=5, maxsim_refine=1000).collect()
    ]
    assert refined == exact
    assert len(exact) == 5


def test_delete_rewrite_never_collects(reg, monkeypatch):
    """The delete/cascade rewrite must stay executor-side: survivors go
    to a staging dir and swap in via renames, never through the driver
    (a 100 TB table cannot round-trip driver memory)."""
    from pyspark.sql import DataFrame

    reg.insert_rows("document", DOCS)
    reg.insert_rows("chunk", CHUNKS)

    def _no_collect(self, *a, **k):
        raise AssertionError("driver-side collect() in delete path")

    monkeypatch.setattr(DataFrame, "collect", _no_collect)
    removed = reg.remove_by("document", {"uid": 1})
    monkeypatch.undo()
    assert removed == 1
    assert sorted(r.uid for r in reg.select_by("chunk").collect()) == [12]
    assert sorted(r.uid for r in reg.select_by("document").collect()) == [2, 3]


def test_primary_key_enforces_unique(reg):
    """PRIMARY KEY implies UNIQUE (reference: Postgres PK constraint)."""
    reg.insert_rows("document", DOCS)
    with pytest.raises(UniqueViolation):
        reg.insert_rows("document", [{"uid": 1, "title": "dup", "text": "x"}])
    with pytest.raises(UniqueViolation):
        reg.insert_rows(
            "document",
            [
                {"uid": 7, "title": "a", "text": "x"},
                {"uid": 7, "title": "b", "text": "y"},
            ],
        )


def test_auto_increment_assigns_unique_increasing_ids(spark, tmp_path):
    """Serial PK generation (reference PrimaryKeyAutoIncrease,
    vechord/spec.py:213-255): omitted ids are generated executor-side,
    unique, and increase across appends (gaps allowed, like a Postgres
    sequence)."""
    reg = VechordRegistry("serial", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "log",
            [
                Column("uid", "int", primary_key=True, auto_increment=True),
                Column("msg", "string"),
            ],
        )
    )
    reg.insert_rows("log", [{"msg": "a"}, {"msg": "b"}, {"msg": "c"}])
    first = [r.uid for r in reg.load("log").collect()]
    assert len(set(first)) == 3
    reg.insert_rows("log", [{"msg": "d"}])
    ids = [r.uid for r in reg.load("log").collect()]
    assert len(set(ids)) == 4
    assert min(set(ids) - set(first)) > max(first)
    # explicit ids still honored
    reg.insert_rows("log", [{"uid": 10_000, "msg": "e"}])
    assert 10_000 in {r.uid for r in reg.load("log").collect()}


def test_auto_increment_requires_long():
    from vechord_spark.errors import SchemaError

    with pytest.raises(SchemaError, match="long"):
        Column("uid", "string", auto_increment=True)
    # 32-bit columns are rejected too: the generator strides 2^33 per
    # partition (monotonically_increasing_id), which overflows INT on
    # any multi-partition batch
    from pyspark.sql import types as T

    with pytest.raises(SchemaError, match="long"):
        Column("uid", T.IntegerType(), auto_increment=True)


def test_auto_increment_mixed_batch_per_row_generation(spark, tmp_path):
    # reference sequence-default semantics: a batch mixing explicit and
    # omitted serial values fills ONLY the omitted ones
    reg = VechordRegistry("serialmix", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "log",
            [
                Column("uid", "long", primary_key=True, auto_increment=True),
                Column("msg", "string"),
            ],
        )
    )
    n = reg.insert_rows(
        "log", [{"uid": 7, "msg": "explicit"}, {"msg": "gen1"}, {"msg": "gen2"}]
    )
    assert n == 3
    rows = {r.msg: r.uid for r in reg.load("log").collect()}
    assert rows["explicit"] == 7
    assert len(set(rows.values())) == 3
    # generated ids seed past the explicit ones
    assert rows["gen1"] > 7 and rows["gen2"] > 7


def test_compact_merges_small_files(reg, spark):
    for i in range(5):
        reg.insert_rows(
            "document",
            [{"uid": 100 + i * 2 + j, "title": f"b{i}", "text": f"batch {i} row {j}"}
             for j in range(2)],
        )
    before = sorted(
        (r.uid, r.title, r.text) for r in reg.load("document").collect()
    )
    stats = reg.compact("document")
    assert stats["files_before"] >= 5
    assert stats["files_after"] == 1  # tiny table -> one target file
    assert stats["files_after"] < stats["files_before"]
    after = sorted(
        (r.uid, r.title, r.text) for r in reg.load("document").collect()
    )
    assert after == before


def test_compact_empty_table_is_noop(reg):
    stats = reg.compact("document")
    assert stats == {"files_before": 0, "files_after": 0, "bytes": 0}


def test_compact_shuffle_path(reg):
    reg.insert_rows("document", [{"uid": 1, "title": "a", "text": "t"}])
    reg.insert_rows("document", [{"uid": 2, "title": "b", "text": "u"}])
    stats = reg.compact("document", shuffle=True)
    assert stats["files_after"] == 1
    assert {r.uid for r in reg.load("document").collect()} == {1, 2}


def test_persisted_ivf_pq_index_search(spark, tmp_path):
    """build_vector_index(pq_m=..) persists codes + codebooks; probe
    search with a generous refine equals brute force, and the loaded
    index scans stored codes (no re-encode)."""
    reg = VechordRegistry("ivfpq", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "emb",
            [Column("uid", "int", primary_key=True), Column("vec", Vector(8))],
        )
    )
    import random

    random.seed(11)
    rows = [
        {"uid": i, "vec": [random.uniform(-1, 1) for _ in range(8)]}
        for i in range(200)
    ]
    reg.insert_rows("emb", rows)
    n_lists = reg.build_vector_index("emb", lists=4, pq_m=4, pq_ksub=8)
    assert n_lists == 4

    q = [0.25] * 8
    exact = [r.uid for r in reg.search_by_vector("emb", q, topk=5).collect()]
    # all probes + refine >= table size -> exact, through the PQ path
    full = [
        r.uid
        for r in reg.search_by_vector(
            "emb", q, topk=5, probes=4, refine=1000
        ).collect()
    ]
    assert full == exact

    # loaded index is the PQ variant and reads persisted codes
    from vechord_spark.operators.pq import IvfPqIndex

    idx = reg._load_vector_index("emb")
    assert isinstance(idx, IvfPqIndex)
    assert "__pq" in idx.encoded.columns
    assert idx.book.m == 4 and idx.book.ksub == 8

    # tight refine still returns k rows (approximate path exercised)
    approx = reg.search_by_vector("emb", q, topk=5, probes=2, refine=20)
    assert len(approx.collect()) == 5


def test_upsert_single_writer_mode(reg):
    reg.insert_rows("document", DOCS)
    batch = reg.spark.createDataFrame(
        [(2, "beta2", "rewritten"), (4, "delta", "brand new")],
        "uid int, title string, text string",
    )
    assert reg.upsert("document", batch) == 2
    got = {r.uid: (r.title, r.text) for r in reg.load("document").collect()}
    assert len(got) == 4
    assert got[2] == ("beta2", "rewritten")
    assert got[4] == ("delta", "brand new")
    assert got[1] == ("alpha", "the quick brown fox")  # untouched


def test_append_ddl_built_frame_with_vector(spark, tmp_path):
    """Frames built from DDL strings carry nullable array elements;
    appending them into a Vector column must not trip Spark's
    nullability cast check (regression: CAST_WITHOUT_SUGGESTION on
    array<float> -> array<float>)."""


    reg = VechordRegistry("ddlcast", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "chunks",
            [
                Column("uid", "long", primary_key=True),
                Column("vec", Vector(4)),
            ],
        )
    )
    df = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3, 0.4]), (2, [0.5, 0.6, 0.7, 0.8])],
        "uid long, vec array<float>",
    )
    assert reg.append("chunks", df) == 2
    got = reg.load("chunks")
    assert got.count() == 2
    assert [len(r.vec) for r in got.collect()] == [4, 4]


def test_search_by_vector_with_conditions(spark, tmp_path):
    """Filtered vector search: pre-filter semantics on both the
    brute-force and IVF paths (k nearest MATCHING rows, exactly k)."""
    import random

    reg = VechordRegistry("fvec", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "emb",
            [
                Column("uid", "int", primary_key=True),
                Column("grp", "string"),
                Column("vec", Vector(8)),
            ],
        )
    )
    random.seed(11)
    rows = [
        {
            "uid": i,
            "grp": "even" if i % 2 == 0 else "odd",
            "vec": [random.uniform(-1, 1) for _ in range(8)],
        }
        for i in range(200)
    ]
    reg.insert_rows("emb", rows)
    q = [0.1] * 8

    got = reg.search_by_vector(
        "emb", q, topk=5, conditions={"grp": "even"}
    ).collect()
    assert len(got) == 5 and all(r.grp == "even" for r in got)
    # equals brute-force ranking restricted to the matching subset
    all_hits = reg.search_by_vector("emb", q, topk=200).collect()
    want = [r.uid for r in all_hits if r.grp == "even"][:5]
    assert [r.uid for r in got] == want

    # IVF path: full probes + filter == filtered brute force
    reg.build_vector_index("emb", lists=4)
    via_ivf = reg.search_by_vector(
        "emb", q, topk=5, probes=4, conditions={"grp": "even"}
    ).collect()
    assert [r.uid for r in via_ivf] == want

    # PQ path: codes are per-row columns, so the same pre-filter works
    # there too — full probes + full refine + filter == filtered brute
    # force (the estimate only orders candidates, exact refine decides)
    reg.build_vector_index("emb", lists=4, pq_m=4)
    via_pq = reg.search_by_vector(
        "emb", q, topk=5, probes=4, refine=10_000, conditions={"grp": "even"}
    ).collect()
    assert [r.uid for r in via_pq] == want
    assert all(r.grp == "even" for r in via_pq)


def test_search_by_keyword_with_conditions(reg):
    reg.insert_rows("chunk", CHUNKS)
    got = reg.search_by_keyword(
        "chunk", "quick fox", topk=5, conditions={"doc_id": 1}
    ).collect()
    assert got and all(r.doc_id == 1 for r in got)
    # equals unfiltered ranking restricted to matching docs
    allhits = reg.search_by_keyword("chunk", "quick fox", topk=50).collect()
    want = [r.uid for r in allhits if r.doc_id == 1][: len(got)]
    assert [r.uid for r in got] == want
    # persisted-index path: same filtered result
    reg.build_keyword_index("chunk")
    via_index = reg.search_by_keyword(
        "chunk", "quick fox", topk=5, conditions={"doc_id": 1}
    ).collect()
    assert [r.uid for r in via_index] == [r.uid for r in got]


def test_json_column_roundtrip(spark, tmp_path):
    """The reference's Jsonb column (test_table.py:172-178): dict values
    insert as REAL JSON (not Python repr) and stay queryable with the
    built-in JSON functions."""
    from pyspark.sql import functions as F

    reg = VechordRegistry("jsonb", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "jtab",
            [
                Column("uid", "int", primary_key=True),
                Column("text", "string"),
                Column("data", "json"),
            ],
        )
    )
    reg.insert_rows(
        "jtab",
        [{"uid": i, "text": f"hello {i}", "data": {"key": i, "tags": ["a", "b"]}}
         for i in range(10)],
    )
    got = reg.select_by("jtab", fields=["text"]).collect()
    assert len(got) == 10 and all(r.text.startswith("hello") for r in got)
    # the stored string is real JSON — extractable JVM-side
    keys = (
        reg.load("jtab")
        .select(F.get_json_object("data", "$.key").cast("int").alias("k"))
        .collect()
    )
    assert sorted(r.k for r in keys) == list(range(10))
    # pre-serialized strings pass through untouched
    import json

    reg.insert_rows("jtab", [{"uid": 100, "text": "x", "data": json.dumps({"key": 100})}])
    row = reg.load("jtab").filter("uid = 100").collect()[0]
    assert json.loads(row.data) == {"key": 100}


def test_persisted_opq_index_search_extend(spark, tmp_path):
    """build_vector_index(pq_m=.., opq=True): the index layout lives
    in rotated space (rotation.bin + rotated stored copy) while the
    TABLE keeps raw vectors; probe search with generous refine equals
    brute force (orthogonal rotation preserves distances), extends
    rotate the delta transparently, and the OPQ codebooks reconstruct
    no worse than plain PQ on the same data."""
    import random

    import numpy as np

    reg = VechordRegistry("opqreg", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "emb",
            [Column("uid", "int", primary_key=True), Column("vec", Vector(8))],
        )
    )
    random.seed(13)
    rows = [
        {"uid": i, "vec": [random.uniform(-1, 1) for _ in range(8)]}
        for i in range(200)
    ]
    reg.insert_rows("emb", rows)
    with pytest.raises(SchemaError, match="opq=True requires pq_m"):
        reg.build_vector_index("emb", lists=4, opq=True)
    reg.build_vector_index("emb", lists=4, pq_m=4, pq_ksub=8, opq=True)
    ipath = reg._index_path("emb")
    assert (ipath / "rotation.bin").exists()
    rot = reg._load_opq_rotation(ipath)
    assert np.allclose(rot.rotation @ rot.rotation.T, np.eye(8), atol=1e-8)

    # table keeps RAW vectors; the index's stored copy is rotated
    raw0 = {r["uid"]: r["vec"] for r in reg.load("emb").collect()}
    stored = {
        r["uid"]: r["vec"]
        for r in spark.read.parquet(str(ipath / "data")).collect()
    }
    assert raw0[0] == pytest.approx(rows[0]["vec"])
    # Vector columns persist as float32 -> ~1e-7 round-trip error
    assert stored[0] == pytest.approx(list(rot.apply(rows[0]["vec"])), abs=1e-5)

    q = [0.25] * 8
    exact = [r.uid for r in reg.search_by_vector("emb", q, topk=5).collect()]
    full = [
        r.uid
        for r in reg.search_by_vector(
            "emb", q, topk=5, probes=4, refine=1000
        ).collect()
    ]
    assert full == exact

    # extend: appended rows rotate into the layout and become findable
    target = [0.9] * 8
    reg.insert_rows(
        "emb",
        [
            {"uid": 1000 + i, "vec": [t + random.uniform(-0.01, 0.01) for t in target]}
            for i in range(5)
        ],
    )
    assert reg.extend_vector_index("emb") == 5
    hits = [
        r.uid
        for r in reg.search_by_vector(
            "emb", target, topk=5, probes=4, refine=1000
        ).collect()
    ]
    assert sorted(hits) == [1000, 1001, 1002, 1003, 1004]


def test_recluster_multivec_index(spark, tmp_path):
    """Targeted recluster on the multivector layout: a drifted
    mean-space cell splits by local 2-means over means, rows are
    preserved exactly once, centroid ids stay contiguous, and probe
    MaxSim search still finds the drifted cluster."""
    import random

    from vechord_spark.spec import MultiVector

    reg = VechordRegistry("mvrecl", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "late",
            [Column("uid", "int", primary_key=True), Column("mv", MultiVector(4))],
        )
    )
    rng = random.Random(19)

    def rows(ids, center):
        return [
            {
                "uid": i,
                "mv": [
                    [c + rng.uniform(-0.1, 0.1) for c in center]
                    for _ in range(3)
                ],
            }
            for i in ids
        ]

    reg.insert_rows("late", rows(range(10), [0, 0, 0, 0]))
    reg.insert_rows("late", rows(range(10, 20), [5, 5, 5, 5]))
    reg.build_multivec_index("late", lists=2)
    reg.insert_rows("late", rows(range(100, 160), [5, 5, 5, 9]))
    assert reg.extend_multivec_index("late") == 60
    stats = reg.recluster_multivec_index("late", max_cell_factor=1.5)
    assert stats["split_cells"] >= 1
    assert stats["lists"] == 2 + stats["split_cells"]
    ipath = reg._mv_index_path("late")
    ids = sorted(
        x["uid"] for x in spark.read.parquet(str(ipath / "data")).collect()
    )
    assert ids == sorted(list(range(20)) + list(range(100, 160)))
    cents = sorted(
        x["centroid_id"]
        for x in spark.read.parquet(str(ipath / "centroids")).collect()
    )
    assert cents == list(range(stats["lists"]))
    q = [[5.0, 5.0, 5.0, 9.0]]
    hits = reg.search_by_multivec("late", q, topk=5, probes=2).collect()
    assert all(h["uid"] >= 100 for h in hits)


def test_index_stats_drives_maintenance_decisions(spark, tmp_path):
    """index_stats reports the numbers maintenance keys on: cell skew
    rises with drifted appends and falls after the targeted recluster;
    the ledger-freshness bit flips once a delete rewrites files, and
    holds across a compact (which extends first and re-adopts)."""
    import random

    rng = random.Random(41)
    reg = VechordRegistry("stats", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "emb",
            [
                Column("uid", "int", primary_key=True),
                Column("body", Keyword()),
                Column("vec", Vector(4)),
            ],
        )
    )

    def rows(ids, center):
        return [
            {
                "uid": i,
                "body": f"tok{i % 7} tok{i % 3} filler",
                "vec": [c + rng.uniform(-0.1, 0.1) for c in center],
            }
            for i in ids
        ]

    reg.insert_rows("emb", rows(range(10), [0, 0, 0, 0]))
    reg.insert_rows("emb", rows(range(10, 20), [5, 5, 5, 5]))
    reg.build_vector_index("emb", lists=2)
    reg.build_keyword_index("emb")

    s0 = reg.index_stats("emb")
    assert set(s0) == {"ivf", "bm25"}
    assert s0["ivf"]["lists"] == 2 and s0["ivf"]["rows"] == 20
    assert s0["ivf"]["ledger_fresh"] and s0["bm25"]["ledger_fresh"]
    assert not s0["ivf"]["pq"] and not s0["ivf"]["opq"]

    # drift one cell -> skew exceeds the recluster threshold
    reg.insert_rows("emb", rows(range(100, 160), [5, 5, 5, 9]))
    reg.extend_vector_index("emb")
    s1 = reg.index_stats("emb")
    assert s1["ivf"]["rows"] == 80
    assert s1["ivf"]["skew"] > 1.5
    # the vector extend ran -> ivf coverage current; the keyword index
    # never extended -> it is files_behind (ledger still VALID: appends
    # keep append-only history provable)
    assert s1["ivf"]["files_behind"] == 0
    assert s1["bm25"]["ledger_fresh"] is True
    assert s1["bm25"]["files_behind"] > 0

    # recluster to convergence (one wave per call; a freshly split
    # cell can still exceed the factor, transiently RAISING skew)
    for _ in range(6):
        if (
            reg.recluster_vector_index("emb", max_cell_factor=1.5)[
                "split_cells"
            ]
            == 0
        ):
            break
    s2 = reg.index_stats("emb")
    assert s2["ivf"]["lists"] > 2
    # converged: no cell above the factor, by definition
    assert s2["ivf"]["skew"] <= 1.5

    # a compact extends every index first and re-adopts coverage on
    # the compacted version; a delete rewrites table files -> stale
    reg.compact("emb", target_file_bytes=1 << 30)
    s3 = reg.index_stats("emb")
    assert s3["ivf"]["ledger_fresh"] and s3["bm25"]["ledger_fresh"]
    assert s3["ivf"]["files_behind"] == s3["bm25"]["files_behind"] == 0
    reg.remove_by("emb", {"uid": 0})
    assert reg.index_stats("emb")["ivf"]["ledger_fresh"] is False


def test_recluster_on_opq_layout(spark, tmp_path):
    """The maintenance ops compose: an OPQ layout (rotated stored
    copy + rotated centroids) drifts via extends, reclusters in
    rotated space (the split children are rotated-space centroids by
    construction), and probe search with a generous refine still
    equals brute force — distances are rotation-invariant end to end."""
    import random

    rng = random.Random(61)
    reg = VechordRegistry("opqrecl", str(tmp_path), spark)
    reg.register(
        TableSpec(
            "emb",
            [Column("uid", "int", primary_key=True), Column("vec", Vector(8))],
        )
    )

    def rows(ids, center):
        return [
            {"uid": i, "vec": [c + rng.uniform(-0.2, 0.2) for c in center]}
            for i in ids
        ]

    reg.insert_rows("emb", rows(range(40), [0.0] * 8))
    reg.insert_rows("emb", rows(range(40, 80), [4.0] * 8))
    reg.build_vector_index("emb", lists=2, pq_m=4, pq_ksub=8, opq=True)
    # drift toward a third location; extend rotates the delta
    reg.insert_rows("emb", rows(range(1000, 1120), [4, 4, 4, 4, 4, 4, 4, 8]))
    assert reg.extend_vector_index("emb") == 120
    stats = reg.recluster_vector_index("emb", max_cell_factor=1.5)
    assert stats["split_cells"] >= 1
    # no lost rows, PQ codes intact on every row
    data = spark.read.parquet(str(reg._index_path("emb") / "data"))
    assert data.count() == 200
    assert data.filter("__pq is null").count() == 0
    # correctness: full probes + big refine == brute force, through
    # the rotated, reclustered, PQ-coded layout
    q = [4.0] * 7 + [8.0]
    exact = [r.uid for r in reg.search_by_vector("emb", q, topk=5).collect()]
    got = [
        r.uid
        for r in reg.search_by_vector(
            "emb", q, topk=5, probes=stats["lists"], refine=500
        ).collect()
    ]
    assert got == exact
    assert all(uid >= 1000 for uid in got)


def test_held_layout_handles_skip_load_jobs(spark, tmp_path):
    """On an unchanged layout the registry reuses the handle it
    opened: building a second keyword search's plan runs at most one
    job (the docfreq lookup) and no parquet schema-inference job, and
    a second IVF probe search's plan runs none — also after an equal
    spec is registered again (as every pipeline construction does).
    A spec with other BM25 settings reads the layout again."""
    import random

    from vechord_spark.spec import KeywordIndex

    def spec(kw_index=None):
        return TableSpec(
            "doc",
            [
                Column("uid", "int", primary_key=True),
                Column("body", Keyword(), index=kw_index),
                Column("vec", Vector(4)),
            ],
        )

    reg = VechordRegistry("held", str(tmp_path), spark)
    reg.register(spec())
    random.seed(5)
    reg.insert_rows(
        "doc",
        [
            {
                "uid": i,
                "body": f"w{i % 5} common" + " pad" * (i % 3),
                "vec": [random.uniform(-1, 1) for _ in range(4)],
            }
            for i in range(40)
        ],
    )
    reg.build_keyword_index("doc")
    reg.build_vector_index("doc", lists=2)
    sc = spark.sparkContext

    def plan_jobs(group, build):
        """Per job run while ``build()`` makes a plan: its stage names."""
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = sc.statusTracker()
        return [
            [st.getStageInfo(s).name for s in st.getJobInfo(j).stageIds]
            for j in st.getJobIdsForGroup(group)
        ]

    def keyword():
        return reg.search_by_keyword("doc", "w3 common", topk=5)

    def probe():
        return reg.search_by_vector("doc", [0.1, 0.2, 0.3, 0.4], topk=5, probes=2)

    first = (keyword().collect(), probe().collect())
    kw_jobs = plan_jobs("held-keyword", keyword)
    assert len(kw_jobs) <= 1
    assert not [n for names in kw_jobs for n in names if n.startswith("parquet")]
    assert plan_jobs("held-probe", probe) == []
    assert (keyword().collect(), probe().collect()) == first

    reg.register(spec())
    assert plan_jobs("held-reregistered", probe) == []
    reg.register(spec(KeywordIndex(k1=2.0)))
    assert keyword().collect() != first[0]
