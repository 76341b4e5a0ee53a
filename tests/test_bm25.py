"""BM25 vs a pure-Python reference implementation on a toy corpus
(SURVEY §5 test plan)."""

import math
import re

import pytest

from vechord_spark.operators.bm25 import Bm25Index, bm25_topk

CORPUS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "a quick brown dog outpaces a quick fox"),
    (3, "lazy afternoons are for sleeping dogs"),
    (4, "the fox is quick and the fox is clever"),
    (5, "completely unrelated text about spark engines"),
]


def py_bm25(corpus, query, k1=1.2, b=0.75):
    tok = lambda t: [w for w in re.split("[^a-z0-9]+", t.lower()) if w]
    docs = {i: tok(t) for i, t in corpus}
    n = len(docs)
    avgdl = sum(len(d) for d in docs.values()) / n
    qterms = list(dict.fromkeys(tok(query)))
    scores = {}
    for i, terms in docs.items():
        s = 0.0
        for q in qterms:
            tf = terms.count(q)
            if tf == 0:
                continue
            df = sum(1 for d in docs.values() if q in d)
            idf = math.log((n - df + 0.5) / (df + 0.5) + 1)
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(terms) / avgdl))
        if s > 0:
            scores[i] = round(s, 6)
    return scores


@pytest.fixture()
def corpus_df(spark):
    return spark.createDataFrame(CORPUS, "doc_id int, text string")


def test_bm25_scores_match_python(corpus_df):
    idx = Bm25Index(corpus_df, "doc_id", "text")
    got = {r.doc_id: r.score for r in idx.topk("quick fox", k=10).collect()}
    expected = py_bm25(CORPUS, "quick fox")
    assert got == pytest.approx(expected, abs=1e-6)


def test_bm25_ranking(corpus_df):
    hits = bm25_topk(corpus_df, "doc_id", "text", "quick fox", k=3).collect()
    expected = py_bm25(CORPUS, "quick fox")
    want = sorted(expected, key=lambda i: (-expected[i], i))[:3]
    assert [r.doc_id for r in sorted(hits, key=lambda r: r.rank)] == want


def test_bm25_no_match_returns_empty(corpus_df):
    assert bm25_topk(corpus_df, "doc_id", "text", "zzz qqq", k=5).count() == 0


def test_bm25_query_term_dedup(corpus_df):
    idx = Bm25Index(corpus_df, "doc_id", "text")
    once = {r.doc_id: r.score for r in idx.topk("fox", k=10).collect()}
    twice = {r.doc_id: r.score for r in idx.topk("fox fox", k=10).collect()}
    assert once == twice


def test_bm25_score_dedupes_terms_itself(corpus_df):
    """score()'s unique-terms contract is ENFORCED, not assumed: a
    duplicated term in the raw list must neither double its
    contribution nor inflate the window-derived df/idf (ADVICE r9)."""
    idx = Bm25Index(corpus_df, "doc_id", "text")
    clean = {r.doc_id: r.score for r in idx.score(["quick", "fox"]).collect()}
    duped = {
        r.doc_id: r.score
        for r in idx.score(["quick", "fox", "quick", "quick"]).collect()
    }
    assert clean == duped


def test_bm25_index_and_oneshot_score_identically(corpus_df):
    """The persisted-index path and the query-pruned one-shot are the
    same scoring function on different plans — the suite's bm25_topk
    entry (round 10) relies on this equality to reuse the one-shot's
    oracle against the index plan. With the corpus stats read into
    literals (``inline_stats``, the registry's held handles) the index
    plan takes its fast path and still scores identically."""
    via_oneshot = [
        (r.doc_id, r.score, r.rank)
        for r in bm25_topk(
            corpus_df, "doc_id", "text", "quick fox dog", k=10
        ).collect()
    ]
    for idx in (
        Bm25Index(corpus_df, "doc_id", "text"),
        Bm25Index(corpus_df, "doc_id", "text").inline_stats(),
    ):
        via_index = [
            (r.doc_id, r.score, r.rank)
            for r in idx.topk("quick fox dog", k=10).collect()
        ]
        assert sorted(via_index) == sorted(via_oneshot)


def test_bm25_index_over_empty_corpus(spark):
    """An empty corpus has no avgdl: reading its stats keeps the
    general path instead of failing, so an index built over an empty
    table (or swept empty by maintain()) answers with no rows."""
    empty = spark.createDataFrame([], "doc_id int, text string")
    idx = Bm25Index(empty, "doc_id", "text").persist(eager=True)
    try:
        assert idx.topk("quick fox", k=3).count() == 0
    finally:
        for df in (idx.postings, idx.doclen, idx.docfreq):
            df.unpersist()


def test_bm25_empty_query_schema_stable(spark):
    """Empty-term queries return the same schema as non-empty ones:
    requested payload columns + actual doc-id type (ADVICE r1)."""
    from vechord_spark.operators.bm25 import bm25_topk

    df = spark.createDataFrame(
        [("u1", "alpha beta", 7), ("u2", "gamma", 8)],
        "uid string, body string, extra int",
    )
    full = bm25_topk(df, "uid", "body", "alpha", k=5, select=["uid", "extra"])
    empty = bm25_topk(df, "uid", "body", "!!!", k=5, select=["uid", "extra"])
    assert empty.schema == full.schema
    assert empty.count() == 0
    # no-select path: doc_id keeps the table's actual id type (string)
    full2 = bm25_topk(df, "uid", "body", "alpha", k=5)
    empty2 = bm25_topk(df, "uid", "body", "!!!", k=5)
    assert empty2.schema == full2.schema


def test_zero_token_docs_count_in_stats(spark):
    """Docs that tokenize to nothing must still count toward n_docs and
    avgdl (oracle semantics: stats cover the whole corpus) even though
    the postings-only build uses a single tokenize pass."""
    from vechord_spark.operators.bm25 import Bm25Index

    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "beta gamma"), (3, "!!! ...")],
        "doc_id long, text string",
    )
    ix = Bm25Index(df, "doc_id", "text")
    stats = ix.stats.first()
    assert stats.n_docs == 3
    assert abs(stats.avgdl - (3 + 2 + 0) / 3) < 1e-9
    # the empty doc never matches, and term rows exclude the null marker
    assert ix.docfreq.where("term is null").count() == 0
    top = ix.topk("beta", k=10)
    assert sorted(r.doc_id for r in top.collect()) == [1, 2]


# --------------------------------------------------------------- phrase


def test_contains_phrase_semantics(spark):
    from pyspark.sql import functions as F

    from vechord_spark.functions.text import contains_phrase

    df = spark.createDataFrame(
        [
            (0, "Table scan, fast!"),       # punct-split: matches
            (1, "scan table"),              # wrong order
            (2, "the table big scan"),      # not contiguous
            (3, "table"),                   # too short
            (4, ""),                        # empty
            (5, "a table scan table scan"), # repeated: matches
            (6, "TABLE SCAN"),              # case-folded: matches
        ],
        ["id", "t"],
    )
    got = {
        r["id"]: r["m"]
        for r in df.select(
            "id", contains_phrase("t", ["table", "scan"]).alias("m")
        ).collect()
    }
    assert got == {0: True, 1: False, 2: False, 3: False, 4: False,
                   5: True, 6: True}
    [empty] = df.limit(1).select(contains_phrase("t", []).alias("m")).collect()
    assert empty["m"] is False


def test_bm25_phrase_topk_matches_manual_filter(spark, docs):
    from vechord_spark.functions.text import contains_phrase
    from vechord_spark.operators.bm25 import bm25_phrase_topk, bm25_topk

    got = bm25_phrase_topk(docs, "doc_id", "text", "table scan", k=10)
    # same thing assembled by hand: phrase docs as candidates
    cand = docs.filter(contains_phrase("text", ["table", "scan"])).select(
        "doc_id"
    )
    want = bm25_topk(docs, "doc_id", "text", "table scan", k=10, candidates=cand)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    rows = got.collect()
    assert 0 < len(rows) <= 10
    # every hit really contains the contiguous phrase
    hit_ids = [r["doc_id"] for r in rows]
    texts = {
        r["doc_id"]: r["text"]
        for r in docs.filter(docs.doc_id.isin(hit_ids)).collect()
    }
    import re
    for did in hit_ids:
        toks = [t for t in re.split("[^a-z0-9]+", texts[did].lower()) if t]
        assert any(
            toks[i : i + 2] == ["table", "scan"] for i in range(len(toks) - 1)
        ), did


def test_bm25_phrase_topk_no_match_is_empty(spark, docs):
    from vechord_spark.operators.bm25 import bm25_phrase_topk

    got = bm25_phrase_topk(docs, "doc_id", "text", "zzz qqq", k=5)
    assert got.count() == 0


def test_bm25_topk_batch_matches_per_query(spark):
    """topk_batch (one postings scan, union term filter, broadcast
    (query_id, term) fan-out) returns per query exactly what topk
    returns — ids, scores, ranks."""
    from vechord_spark.operators.bm25 import Bm25Index

    rows = [
        (1, "spark engine distributed compute"),
        (2, "spark spark spark streaming"),
        (3, "ducks are birds and ducks swim"),
        (4, "distributed ducks engine"),
        (5, "unrelated text entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    idx = Bm25Index(df, "doc_id", "text")
    queries = ["spark engine", "ducks", "distributed streaming ducks", "zzz"]
    batch = idx.topk_batch(queries, k=3).collect()
    by_q: dict[int, list] = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append(r)
    assert 3 not in by_q  # no-match query contributes no rows
    for qi, q in enumerate(queries):
        single = idx.topk(q, k=3).collect()
        got = by_q.get(qi, [])
        assert [(r["doc_id"], r["score"], r["rank"]) for r in got] == [
            (r["doc_id"], r["score"], r["rank"]) for r in single
        ]
    # all-empty batch: schema-stable empty frame
    assert idx.topk_batch(["zzz", ""], k=3).count() == 0


def test_registry_keyword_batch_matches_single(spark, tmp_path):
    from vechord_spark.errors import SchemaError
    from vechord_spark.registry import VechordRegistry
    from vechord_spark.spec import Column, Keyword, TableSpec

    r = VechordRegistry("kwb", str(tmp_path), spark)
    r.register(
        TableSpec(
            "doc",
            [Column("uid", "int", primary_key=True), Column("body", Keyword())],
        )
    )
    r.insert_rows(
        "doc",
        [
            {"uid": 1, "body": "spark engine distributed compute"},
            {"uid": 2, "body": "spark spark streaming"},
            {"uid": 3, "body": "ducks are birds and ducks swim"},
        ],
    )
    import pytest as _pytest

    with _pytest.raises(SchemaError, match="no keyword index"):
        r.search_by_keyword_batch("doc", ["spark"], topk=2)
    r.build_keyword_index("doc")
    queries = ["spark engine", "ducks"]
    batch = r.search_by_keyword_batch("doc", queries, topk=2).collect()
    by_q: dict[int, list] = {}
    for row in batch:
        by_q.setdefault(row["query_id"], []).append(row)
    for qi, q in enumerate(queries):
        single = r.search_by_keyword("doc", q, topk=2).collect()
        assert [(x["uid"], x["score"]) for x in by_q[qi]] == [
            (x["uid"], x["score"]) for x in single
        ]
