"""The engine's query suite: every operator exposed as a
(spark_query, duckdb_oracle_sql) pair over the driver's testdata.

Each entry in ``QUERIES`` is a callable ``(spark, sf_dir) -> DataFrame``
exercising one operator family from SURVEY.md §2 (plus the scale
extensions); ``ORACLES`` holds the ANSI/DuckDB SQL computing the same
result on the same parquet files. Column names AND values must match
exactly — the driver hash-compares sorted rows.

Cross-engine determinism rules used throughout:

- money/double aggregates go through DECIMAL(38,6) (exact, order-
  independent) and come back as DOUBLE;
- float *scores* are rounded to 6 decimals before ranking, and rankings
  carry explicit (score, id) tie-breaks;
- every hash is md5 (bit-identical in both engines);
- LIMIT always follows a fully-specified ORDER BY.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from vechord_spark.functions import text as TX
from vechord_spark.functions.vector import cosine_distance, l2_distance, negative_dot
from vechord_spark.operators import dedup as DD
from vechord_spark.operators import quality as QL
from vechord_spark.operators.chunk import fixed_size_chunks
from vechord_spark.operators.fusion import rrf_topk
from vechord_spark.operators.knn import knn_join
from vechord_spark.operators.maxsim import maxsim_score
from vechord_spark.sources.testdata import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


_COUNTS: dict[tuple[str, str], int] = {}


def _cached_count(df: DataFrame, sf_dir: str, name: str) -> int:
    """Table row count used as a plan literal — memoized per (sf, table)
    so repeated query builds don't re-run count jobs."""
    key = (sf_dir, name)
    if key not in _COUNTS:
        _COUNTS[key] = df.count()
    return _COUNTS[key]


# deterministic 64-dim query vector (seed 42, rounded to 4 decimals so the
# literal is identical in Python and SQL)
QVEC = [0.5479, -0.1222, 0.7172, 0.3947, -0.8116, 0.9512, 0.5223, 0.5721,
        -0.7438, -0.0992, -0.2584, 0.8535, 0.2877, 0.6455, -0.1132, -0.5455,
        0.1092, -0.8724, 0.6553, 0.2633, 0.5162, -0.2909, 0.9414, 0.7862,
        0.5568, -0.6107, -0.0666, -0.9124, -0.6914, 0.3661, 0.4895, 0.935,
        -0.3483, -0.2591, -0.0609, -0.6211, -0.7402, -0.0486, -0.5462, 0.3396,
        -0.1257, 0.6654, 0.4005, -0.3753, 0.6645, 0.6095, -0.225, -0.4233,
        0.365, -0.7205, -0.6002, -0.9853, 0.5738, 0.3297, 0.4103, 0.5615,
        -0.0822, 0.1375, -0.7204, -0.7709, 0.3368, -0.0578, 0.1305, 0.53]
QVEC2 = [-v for v in QVEC]  # second maxsim query vector

_QV_SQL = "[" + ", ".join(str(v) for v in QVEC) + "]"
_QV2_SQL = "[" + ", ".join(str(v) for v in QVEC2) + "]"

# SQL fragment: the engine tokenizer (functions/text.py tokenize)
_TOK = "list_filter(string_split_regex(lower({col}), '[^a-z0-9]+'), t -> t <> '')"

BM25_QUERY = "fast query join table"
_BM25_TERMS = ["fast", "query", "join", "table"]


# ===========================================================================
# relational layer (SURVEY §2.2: P1-P6 projections/filters/predicates)
# ===========================================================================


@_q(
    "filter_project",
    """
    SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
    FROM customer
    WHERE c_mktsegment = 'BUILDING' AND c_nationkey IN (1, 2, 3)
    """,
)
def filter_project(spark, sf_dir):
    """P1/P2/P4/P5: projection + equality + IN-list + conjunction —
    reference select_by (vechord/client.py:198-228). The filter and the
    3-column projection both reach the parquet scan (PushedFilters /
    ReadSchema)."""
    return (
        _t(spark, sf_dir, "customer")
        .filter((F.col("c_mktsegment") == "BUILDING") & F.col("c_nationkey").isin(1, 2, 3))
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
    )


@_q(
    "topk_orders",
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def topk_orders(spark, sf_dir):
    """P6 LIMIT + deterministic top-k: compiles to TakeOrderedAndProject
    (per-partition heap, no global sort)."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("totalprice")
        )
    )


@_q(
    "agg_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE), 2) AS sum_qty,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE), 2) AS sum_base_price,
           round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * CAST(1 - l_discount AS DECIMAL(18,6))) AS DOUBLE), 2) AS sum_disc_price,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: map-side-combinable aggregation after a pushed
    date filter. Exact DECIMAL accumulation -> DOUBLE output keeps the
    result independent of partitioning/summation order."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(38,6)")).cast("double"), 2).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).cast("double"), 2).alias("sum_base_price"),
            # 18,6 x 18,6 -> 37,12 stays exact in a 38-digit decimal in
            # BOTH engines; 38,6 would force engine-specific scale clipping
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,6)")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(18,6)")
                ).cast("double"),
                2,
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_q(
    "join_revenue_by_nation",
    """
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    """,
)
def join_revenue_by_nation(spark, sf_dir):
    """Multi-join aggregate. nation/region are CONSTANT dims (25/5
    rows at any SF) and carry broadcast hints; customer is
    SF-proportional, so its join strategy is AQE's call — broadcast at
    bench SF where it fits the threshold, shuffled at 100 TB where a
    15M-row customer would OOM the driver (round-10: hint dropped per
    the no-forced-hint rule). Orders never builds a hash table; the
    one guaranteed shuffle is the final groupBy."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double"), 2
            ).alias("revenue"),
        )
    )


@_q(
    "window_first_order",
    """
    SELECT o_custkey, o_orderkey AS first_orderkey
    FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def window_first_order(spark, sf_dir):
    """R2 order-preserving dedup shape (first occurrence per key wins,
    reference vechord/pipeline.py:490-493) as a window program."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", F.col("o_orderkey").alias("first_orderkey"))
    )


# ===========================================================================
# top-k search operators (SURVEY §2.3: K1/K2/K3/K5)
# ===========================================================================


def _knn_oracle(dist_sql: str) -> str:
    return f"""
    WITH scored AS (
      SELECT vec_id, {dist_sql} AS distance
      FROM embeddings
    )
    SELECT vec_id,
           CAST(row_number() OVER (ORDER BY distance, vec_id) AS INT) AS rank
    FROM scored
    ORDER BY rank
    LIMIT 10
    """


@_q(
    "knn_cosine",
    _knn_oracle(
        f"1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), {_QV_SQL})"
    ),
)
def knn_cosine(spark, sf_dir):
    """K1 vector top-k, cosine distance (pgvector ``<=>``): codegen'd
    zip_with/aggregate score + TakeOrderedAndProject."""
    from vechord_spark.operators.topk import ranked_topk

    emb = _t(spark, sf_dir, "embeddings")
    scored = emb.select(
        "vec_id", cosine_distance("embedding", QVEC).alias("distance")
    )
    return ranked_topk(
        scored, [F.col("distance").asc(), F.col("vec_id").asc()], 10
    ).select("vec_id", "rank")


@_q(
    "knn_l2",
    _knn_oracle(f"list_distance(CAST(embedding AS DOUBLE[]), {_QV_SQL})"),
)
def knn_l2(spark, sf_dir):
    """K1 vector top-k, L2 distance (pgvector ``<->``)."""
    from vechord_spark.operators.topk import ranked_topk

    emb = _t(spark, sf_dir, "embeddings")
    scored = emb.select("vec_id", l2_distance("embedding", QVEC).alias("distance"))
    return ranked_topk(
        scored, [F.col("distance").asc(), F.col("vec_id").asc()], 10
    ).select("vec_id", "rank")


@_q(
    "knn_dot",
    _knn_oracle(f"-list_dot_product(CAST(embedding AS DOUBLE[]), {_QV_SQL})"),
)
def knn_dot(spark, sf_dir):
    """K1 vector top-k, negative inner product (pgvector ``<#>``)."""
    from vechord_spark.operators.topk import ranked_topk

    emb = _t(spark, sf_dir, "embeddings")
    scored = emb.select("vec_id", negative_dot("embedding", QVEC).alias("distance"))
    return ranked_topk(
        scored, [F.col("distance").asc(), F.col("vec_id").asc()], 10
    ).select("vec_id", "rank")


@_q(
    "knn_filtered",
    f"""
    WITH scored AS (
      SELECT vec_id, label,
             1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), {_QV_SQL}) AS distance
      FROM embeddings
      WHERE label % 2 = 0
    )
    SELECT vec_id, label,
           CAST(row_number() OVER (ORDER BY distance, vec_id) AS INT) AS rank
    FROM scored
    ORDER BY rank
    LIMIT 10
    """,
)
def knn_filtered(spark, sf_dir):
    """Filtered vector search — pgvector's ``WHERE meta ... ORDER BY
    embedding <=> q LIMIT k`` (the reference composes VectorSearch with
    row filters the same way). PRE-filter semantics: the metadata
    predicate applies BEFORE ranking, so the result is exactly the k
    nearest TRUE matches, never fewer because neighbors were discarded
    post-hoc (the iterative-rescan problem pgvector's docs warn about).
    The predicate reaches the parquet scan as a PushedFilter — at
    100 TB the scan skips non-matching row groups before any distance
    math; ranking stays the codegen'd distance + TakeOrderedAndProject
    of knn_cosine."""
    from vechord_spark.operators.topk import ranked_topk

    emb = _t(spark, sf_dir, "embeddings").filter((F.col("label") % 2) == 0)
    scored = emb.select(
        "vec_id", "label", cosine_distance("embedding", QVEC).alias("distance")
    )
    return ranked_topk(
        scored, [F.col("distance").asc(), F.col("vec_id").asc()], 10
    ).select("vec_id", "label", "rank")


@_q(
    "maxsim_by_label",
    f"""
    WITH q AS (
      SELECT * FROM (VALUES (0, CAST({_QV_SQL} AS DOUBLE[])),
                            (1, CAST({_QV2_SQL} AS DOUBLE[]))) AS t(qi, qv)
    ),
    best AS (
      SELECT e.label, q.qi, max(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)) AS m
      FROM embeddings e CROSS JOIN q
      GROUP BY e.label, q.qi
    ),
    score AS (SELECT label, -sum(m) AS d FROM best GROUP BY label)
    SELECT label, CAST(row_number() OVER (ORDER BY d, label) AS INT) AS rank
    FROM score ORDER BY rank LIMIT 5
    """,
)
def maxsim_by_label(spark, sf_dir):
    """K2 multi-vector MaxSim: embeddings grouped per label form the
    document multivectors; MaxSim(Q, D) = sum_q max_d dot(q, d), ranked
    ascending on the negated score (distance convention)."""
    from vechord_spark.operators.topk import ranked_topk

    emb = _t(spark, sf_dir, "embeddings")
    grouped = emb.groupBy("label").agg(F.collect_list("embedding").alias("vecs"))
    scored = grouped.select(
        "label", (-maxsim_score("vecs", [QVEC, QVEC2])).alias("d")
    )
    return ranked_topk(
        scored, [F.col("d").asc(), F.col("label").asc()], 5
    ).select("label", "rank")


def _bm25_oracle_sql(terms: list[str]) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, {_TOK.format(col='text')} AS terms FROM documents
    ),
    doclen AS (SELECT doc_id, len(terms) AS dl FROM toks),
    posts AS (SELECT doc_id, unnest(terms) AS term FROM toks),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM posts GROUP BY term, doc_id),
    dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doclen),
    qterms AS (SELECT unnest({terms!r}) AS term),
    scored AS (
      SELECT tf.doc_id,
             round(sum(
               ln((stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * doclen.dl / stats.avgdl))
             ), 6) AS score
      FROM tf
      JOIN qterms USING (term)
      JOIN dfq USING (term)
      JOIN doclen USING (doc_id)
      CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
    FROM scored
    ORDER BY rank
    LIMIT 10
    """


_BM25_ORACLE = _bm25_oracle_sql(_BM25_TERMS)


@_q("bm25_topk", _BM25_ORACLE)
def bm25_topk_documents(spark, sf_dir):
    """K3 BM25 keyword top-k over the documents table (Robertson idf,
    k1=1.2 b=0.75). Round 10: routed through the PERSISTED postings
    layout (``_bm25_index`` — the ArtifactStore disk artifact the
    suite already builds), matching the reference's CREATE INDEX
    semantics where a corpus is never re-tokenized per query
    (vechord/client.py:158-171): the cold cost is a ~0.3 s parquet
    load + a broadcast-pruned postings scan instead of a full
    tokenize+shuffle (3.66 s -> ~1 s at sf0.1). Scores are identical
    to the one-shot query-pruned plan by construction (same formula,
    same rounding; tests/test_bm25.py pins index-vs-oneshot equality),
    so the oracle is unchanged. The ad-hoc one-shot path
    (operators/bm25.bm25_topk — tokens pruned to the query terms
    BEFORE any shuffle, the right plan when no index exists) remains
    covered by tests/test_bm25.py, including index-vs-oneshot score
    equality."""
    return _bm25_index(spark, sf_dir).topk(BM25_QUERY, k=10)


# steady-state keyword search: the postings/docfreq/stats tables are built
# ONCE per (session, corpus) and persisted — every subsequent query is a
# broadcast of its (tiny) term set against the cached postings. This is
# the production shape (reference: the vchord-bm25 extension's index is
# built at CREATE INDEX time); bm25_topk above is the ad-hoc one-shot.
_BM25_INDEX_CACHE: dict = {}

BM25_QUERY2 = "sort merge window batch"
_BM25_TERMS2 = ["sort", "merge", "window", "batch"]


def _bm25_index(spark, sf_dir):
    """The persisted BM25 index as a DISK layout (ArtifactStore, round
    9): the corpus is tokenized once per CORPUS — by whichever session
    first touches it — and every later session loads the derived
    postings/doclen/docfreq/stats parquet (~0.3 s) instead of paying
    the build shuffle (~2.5 s at sf0.1). Mirrors the registry's
    .bm25 keyword layout (registry.py:build_keyword_index); in-process
    memo on top for within-session reuse."""
    import re as _re

    from vechord_spark.operators.bm25 import Bm25Index
    from vechord_spark.plans.artifacts import ArtifactStore

    ent = _BM25_INDEX_CACHE.get(sf_dir)
    if ent is not None and ent[0] is spark:
        return ent[1]
    src = f"{sf_dir}/documents.parquet"
    tag = _re.sub(r"[^a-z0-9]+", "_", sf_dir.lower()).strip("_")

    def _build(tmp):
        idx = Bm25Index(_t(spark, sf_dir, "documents"), "doc_id", "text")
        # postings land first (the one tokenize pass); the other three
        # derived frames re-derive FROM the written postings so the
        # corpus is scanned once, not four times
        idx.postings.write.parquet(str(tmp / "postings"))
        p = spark.read.parquet(str(tmp / "postings"))
        p.select("doc_id", "dl").distinct().write.parquet(str(tmp / "doclen"))
        p.where(F.col("term").isNotNull()).groupBy("term").agg(
            F.count_distinct("doc_id").alias("df")
        ).write.parquet(str(tmp / "docfreq"))
        p.select("doc_id", "dl").distinct().agg(
            F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
        ).write.parquet(str(tmp / "stats"))

    path = ArtifactStore(spark).load_or_build(
        f"bm25_{tag}", [src], {"v": 1}, _build
    )
    index = Bm25Index.from_frames(
        spark.read.parquet(str(path / "postings")),
        spark.read.parquet(str(path / "doclen")),
        spark.read.parquet(str(path / "docfreq")),
        spark.read.parquet(str(path / "stats")),
    ).persist()
    _BM25_INDEX_CACHE[sf_dir] = (spark, index)
    return index


@_q("bm25_index_topk", _bm25_oracle_sql(_BM25_TERMS2))
def bm25_index_topk(spark, sf_dir):
    """K3 steady state: top-k from the persisted BM25 index (build
    amortized across queries; this entry measures the query-side cost
    the reference pays per search). Scoring formula and oracle are
    identical to the one-shot path — only the plan differs: a
    broadcast-pruned scan of the cached postings, no corpus
    re-tokenization."""
    return _bm25_index(spark, sf_dir).topk(BM25_QUERY2, k=10)


@_q(
    "bm25_batch_topk",
    f"""
    SELECT CAST(0 AS INT) AS query_id, doc_id, score, rank
    FROM ({_bm25_oracle_sql(_BM25_TERMS)})
    UNION ALL
    SELECT CAST(1 AS INT) AS query_id, doc_id, score, rank
    FROM ({_bm25_oracle_sql(_BM25_TERMS2)})
    """,
)
def bm25_batch_topk(spark, sf_dir):
    """K3 batched: TWO query strings answered from ONE scan of the
    persisted postings (Bm25Index.topk_batch — the union of both
    queries' terms drives the pushed term IN-filter, a broadcast
    (query_id, term) table fans each matched posting to exactly the
    queries containing its term, one window takes per-query top-k).
    The eval-stream shape: N topk() calls would re-scan the postings
    and re-look-up the term dictionary N times. Oracle: the two
    single-query oracles, union-tagged — the batch must reproduce
    both exactly."""
    return _bm25_index(spark, sf_dir).topk_batch(
        [BM25_QUERY, BM25_QUERY2], k=10
    )


_PHRASE = ["table", "scan"]


def _bm25_phrase_oracle_sql(phrase_words: list[str]) -> str:
    """The bm25 oracle with a contiguous-phrase candidate filter:
    match narrows the scored docs, statistics stay corpus-global
    (identical semantics to Bm25Index.topk(candidates=...)). The
    space-join LIKE trick is exact because tokens never contain
    spaces."""
    like = "% " + " ".join(phrase_words) + " %"
    terms = list(dict.fromkeys(phrase_words))
    return f"""
    WITH toks AS (
      SELECT doc_id, {_TOK.format(col='text')} AS terms FROM documents
    ),
    phrase_docs AS (
      SELECT doc_id FROM toks
      WHERE ' ' || array_to_string(terms, ' ') || ' ' LIKE '{like}'
    ),
    doclen AS (SELECT doc_id, len(terms) AS dl FROM toks),
    posts AS (SELECT doc_id, unnest(terms) AS term FROM toks),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM posts GROUP BY term, doc_id),
    dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doclen),
    qterms AS (SELECT unnest({terms!r}) AS term),
    scored AS (
      SELECT tf.doc_id,
             round(sum(
               ln((stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * doclen.dl / stats.avgdl))
             ), 6) AS score
      FROM tf
      JOIN qterms USING (term)
      JOIN dfq USING (term)
      JOIN doclen USING (doc_id)
      JOIN phrase_docs USING (doc_id)
      CROSS JOIN stats
      GROUP BY tf.doc_id
    )
    SELECT doc_id, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
    FROM scored
    ORDER BY rank
    LIMIT 10
    """


@_q("phrase_search", _bm25_phrase_oracle_sql(_PHRASE))
def phrase_search(spark, sf_dir):
    """Phrase-restricted keyword search (round 10): documents
    containing the contiguous token run "table scan", BM25-ranked by
    the phrase terms against corpus-global statistics — the standard
    search-engine phrase query. The phrase test is one pure-codegen
    scan predicate (functions/text.contains_phrase: exists over start
    positions, unrolled equality conjunction — no positions index, no
    Python), applied as the candidates pre-filter of the PERSISTED
    BM25 index's topk, so the steady-state cost is the normal pruned
    postings scan plus one pass over the corpus text for the match
    bit. The reference's keyword surface is bag-of-words
    (vchord-bm25); phrase match is the first feature users ask of it.
    At 100 TB the predicate rides the same scan that would feed any
    metadata filter — no new shuffle, no index blowup."""
    from vechord_spark.functions.text import contains_phrase
    from vechord_spark.operators.bm25 import phrase_tokens

    docs = _t(spark, sf_dir, "documents")
    words = phrase_tokens("table scan")
    cand = docs.filter(contains_phrase("text", words)).select("doc_id")
    return _bm25_index(spark, sf_dir).topk("table scan", k=10, candidates=cand)


@_q(
    "hybrid_rrf",
    f"""
    WITH vec_ranked AS (
      SELECT vec_id AS doc_id,
             CAST(row_number() OVER (
               ORDER BY 1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), {_QV_SQL}), vec_id
             ) AS INT) AS rank
      FROM embeddings
      QUALIFY rank <= 10
    ),
    kw_ranked AS (SELECT doc_id, rank FROM ({_BM25_ORACLE})),
    unioned AS (
      SELECT doc_id, rank FROM vec_ranked
      UNION ALL
      SELECT doc_id, rank FROM kw_ranked
    ),
    fused AS (
      SELECT doc_id, round(sum(1.0 / (59 + rank)), 6) AS rrf_score
      FROM unioned GROUP BY doc_id
    )
    SELECT doc_id, rrf_score,
           CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT) AS rank
    FROM fused
    ORDER BY rank
    LIMIT 10
    """,
)
def hybrid_rrf_search(spark, sf_dir):
    """R1/R5 hybrid search: vector top-10 ∪ BM25 top-10 -> Reciprocal
    Rank Fusion (k=60, reference vechord/rerank.py:95-113). The
    embeddings and documents tables share the id space, standing in for
    one chunk table's vector and keyword columns.

    STEADY-STATE composition (round 9): both legs hit the PERSISTED
    index structures the suite already builds — the keyword leg queries
    the cached BM25 postings (``_bm25_index``; broadcast-pruned scan,
    no corpus re-tokenization) and the vector leg scores the cached
    IVF-clustered layout (``_ivf16.assigned``) probing ALL 16 cells,
    which is exhaustive and therefore EXACT — the oracle is unchanged.
    This mirrors the reference's run_search against built indexes
    (vechord/pipeline.py:394-442); the ad-hoc one-shot twins are
    ``bm25_topk`` and ``knn_cosine``."""
    from vechord_spark.operators.topk import ranked_topk

    index = _ivf16(spark, sf_dir)
    scored = index.assigned.select(
        "vec_id", cosine_distance("embedding", QVEC).alias("distance")
    )
    vec = ranked_topk(
        scored, [F.col("distance").asc(), F.col("vec_id").asc()], 10
    ).select(F.col("vec_id").alias("doc_id"), "rank")
    kw = _bm25_index(spark, sf_dir).topk(BM25_QUERY, k=10).select(
        "doc_id", "rank"
    )
    return rrf_topk([vec, kw], "doc_id", topk=10)


# ===========================================================================
# dedup suite (driver-mandated scale extensions)
# ===========================================================================

# word 3-gram shingles over the engine tokenizer (see word_ngrams —
# character shingles cost O(doc) per substring extraction)
_SHINGLES = (
    f"CASE WHEN len({_TOK.format(col='text')}) >= 3 THEN "
    f"list_transform(generate_series(1, len({_TOK.format(col='text')}) - 2),"
    f" i -> array_to_string(list_slice({_TOK.format(col='text')}, i, i + 2), ' ')) "
    f"ELSE [array_to_string({_TOK.format(col='text')}, ' ')] END"
)


def _minhash_sql(
    num_hashes: int = 16, band_size: int = 4, src: str = "documents"
) -> str:
    from vechord_spark.operators.dedup import MINHASH_P, _mh_a, _mh_b

    mh = ", ".join(
        f"list_min(list_transform(hs, h -> (h * {_mh_a(i)} + {_mh_b(i)}) % {MINHASH_P})) AS mh{i}"
        for i in range(num_hashes)
    )
    n_bands = num_hashes // band_size
    bands = ", ".join(
        "({b}, md5({cat}))".format(
            b=b,
            cat=" || '|' || ".join(
                f"CAST(mh{b * band_size + r} AS VARCHAR)" for r in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
    WITH sh AS (
      SELECT doc_id, list_distinct({_SHINGLES}) AS sh FROM {src}
    ),
    base AS (
      SELECT doc_id,
             list_transform(sh, s -> CAST(('0x' || substr(md5(s), 1, 7)) AS BIGINT)) AS hs
      FROM sh
    ),
    sig AS (SELECT doc_id, {mh} FROM base),
    bands AS (
      SELECT doc_id, b.* FROM sig, LATERAL (VALUES {bands}) AS b(band, s)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.s = b.s
    WHERE a.doc_id < b.doc_id
    """


# The dedup chain is one pipeline (candidates -> verified pairs ->
# components) queried at several stages; like _ivf16, each stage is
# memoized per (session, corpus) and persisted — the build-once/
# query-many contract. Every stage is deterministic (md5 minhash), so
# a cached frame is row-identical to a rebuilt one; at cluster scale
# these persists become staged tables between pipeline runs.
_DEDUP_CACHE: dict = {}


def _dedup_stage(spark, sf_dir, stage: str):
    key = (sf_dir, stage)
    ent = _DEDUP_CACHE.get(key)
    if ent is not None and ent[0] is spark:
        return ent[1]
    docs = _t(spark, sf_dir, "documents")
    if stage == "cands":
        out = DD.minhash_candidate_pairs(docs, "doc_id", "text")
    elif stage == "jaccard":
        out = DD.ngram_jaccard(
            docs, "doc_id", "text", threshold=0.35,
            candidates=_dedup_stage(spark, sf_dir, "cands"),
        )
    elif stage == "components":
        out = DD.connected_components(
            _dedup_stage(spark, sf_dir, "jaccard").select("doc_a", "doc_b")
        )
    elif stage == "exact_pairs":
        # the banding-INDEPENDENT exact pair set (prefix-filter join):
        # shared by jaccard_join_exact (reports it) and
        # minhash_calibration_report (uses it as ground truth)
        out = DD.jaccard_prefix_join(docs, "doc_id", "text", 0.35)
    else:  # pragma: no cover
        raise ValueError(stage)
    out = out.persist()
    _DEDUP_CACHE[key] = (spark, out)
    return out


@_q(
    "jaccard_join_exact",
    f"""
    -- brute-force verification of the prefix-filtered plan: DuckDB
    -- affords the O(n^2) intersect at gate scale, Spark runs the
    -- SSJoin/PPJoin prefix filter — same exact pair set
    WITH sh AS (
      SELECT doc_id, list_distinct({_SHINGLES}) AS ts FROM documents
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.ts, b.ts)) AS inter,
             len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)) AS union_n
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           CAST(inter AS INT) AS inter,
           CAST(union_n AS INT) AS union_n,
           round(inter / CAST(union_n AS DOUBLE), 6) AS jaccard
    FROM pairs
    WHERE inter >= 0.35 * union_n
    ORDER BY id_a, id_b
    """,
)
def jaccard_join_exact(spark, sf_dir):
    """EXACT Jaccard similarity join (round 10): every document pair
    with 3-gram-shingle Jaccard >= 0.35, via prefix filtering
    (operators/dedup.jaccard_prefix_join, the SSJoin/PPJoin family) —
    the lossless complement of the MinHash chain: MinHash banding
    trades recall for speed (pairs can be MISSED), the prefix filter
    is complete by construction, so this is the plan when the dedup
    decision must be exact. Rarest-first prefixes keep the bucket
    join on the smallest buckets the corpus has; a size-ratio filter
    and one array_intersect verify close it out. The oracle is the
    brute-force O(n^2) intersect (affordable at gate scale only —
    which is exactly the point of the blocked plan).
    tests/test_dedup.py pins brute-force equality at three thresholds
    and the MinHash-verified-subset property. The pair frame is the
    memoized ``exact_pairs`` dedup stage (build-once/query-many, like
    the rest of the chain) — minhash_calibration_report reads the same
    frame as its ground truth."""
    return _dedup_stage(spark, sf_dir, "exact_pairs").orderBy(
        "id_a", "id_b"
    )


@_q("dedup_minhash_lsh", _minhash_sql())
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup candidate pairs: 16 md5 min-hashes over
    word 3-gram shingles, 4 bands of 4 -> bucket self-join (never
    O(n²))."""
    return _dedup_stage(spark, sf_dir, "cands")


def _jaccard_sql(src: str = "documents") -> str:
    return f"""
    WITH cands AS ({_minhash_sql(src=src)}),
    sh AS (
      SELECT doc_id, list_distinct({_SHINGLES}) AS sh FROM {src}
    ),
    inter AS (
      SELECT doc_a, doc_b,
             len(list_intersect(sa.sh, sb.sh)) AS n_inter,
             len(sa.sh) AS na, len(sb.sh) AS nb
      FROM cands
      JOIN sh sa ON sa.doc_id = doc_a
      JOIN sh sb ON sb.doc_id = doc_b
    )
    SELECT doc_a, doc_b,
           round(n_inter / CAST(na + nb - n_inter AS DOUBLE), 6) AS jaccard
    FROM inter
    WHERE round(n_inter / CAST(na + nb - n_inter AS DOUBLE), 6) >= 0.35
    """


@_q("dedup_jaccard", _jaccard_sql())
def dedup_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard (pairs >= 0.35) verified ONLY over
    MinHash+LSH candidate pairs — the scale wiring: the pair space is
    the banded bucket join, and the Jaccard itself is a per-candidate
    array_intersect, never a postings self-join."""
    return _dedup_stage(spark, sf_dir, "jaccard")


@_q(
    "minhash_calibration_report",
    f"""
    WITH cand AS ({_minhash_sql()}),
    sh AS (
      SELECT doc_id, list_distinct({_SHINGLES}) AS ts FROM documents
    ),
    tp AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.ts, b.ts))
            >= 0.35 * (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts)))
    ),
    hit AS (SELECT cand.doc_a, cand.doc_b FROM cand JOIN tp USING (doc_a, doc_b)),
    n AS (
      SELECT (SELECT count(*) FROM cand) AS n_candidates,
             (SELECT count(*) FROM tp) AS n_true,
             (SELECT count(*) FROM hit) AS n_hit
    )
    SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_hit AS BIGINT) AS n_hit,
           round(CASE WHEN n_candidates > 0
                      THEN n_hit / CAST(n_candidates AS DOUBLE) ELSE 0 END,
                 6) AS precision,
           round(CASE WHEN n_true > 0
                      THEN n_hit / CAST(n_true AS DOUBLE) ELSE 0 END,
                 6) AS recall,
           round(1 - power(1 - power(0.35, 4), 4), 6) AS p_theory_at_t
    FROM n
    """,
)
def minhash_calibration_report(spark, sf_dir):
    """Banding calibration (round 11): the MinHash chain's docstrings
    SAY recall is traded for speed — this query MEASURES the trade.
    Empirical precision/recall of the (16 hashes, 4x4 bands) LSH
    candidate set against the EXACT jaccard >= 0.35 pair set (the
    banding-independent prefix-filter join, operators/dedup.
    jaccard_prefix_join), plus the theoretical S-curve value
    P(candidate | s=t) = 1-(1-t^r)^b at the threshold — the number a
    pipeline owner tunes (b, r) against. Scale shape: candidates are
    the memoized banded bucket join; truth is the prefix-filter join
    (complete by construction); the intersection joins two narrow
    pair tables; the three counts combine via tagged union + one
    aggregate (no scalar cross join). At 100 TB the truth side is the
    expensive one — which is exactly why production runs banding and
    THIS report is how the recall cost of that choice gets audited on
    a sample."""
    cand = _dedup_stage(spark, sf_dir, "cands")
    true_pairs = _dedup_stage(spark, sf_dir, "exact_pairs").select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    hit = cand.join(true_pairs, ["doc_a", "doc_b"])
    tagged = (
        cand.agg(F.count(F.lit(1)).cast("double").alias("v"))
        .select(F.lit("cand").alias("tag"), "v")
        .unionByName(
            true_pairs.agg(F.count(F.lit(1)).cast("double").alias("v")).select(
                F.lit("true").alias("tag"), "v"
            )
        )
        .unionByName(
            hit.agg(F.count(F.lit(1)).cast("double").alias("v")).select(
                F.lit("hit").alias("tag"), "v"
            )
        )
    )
    pick = lambda t: F.max(F.when(F.col("tag") == t, F.col("v")))  # noqa: E731
    return tagged.agg(
        pick("cand").cast("bigint").alias("n_candidates"),
        pick("true").cast("bigint").alias("n_true"),
        pick("hit").cast("bigint").alias("n_hit"),
        F.round(
            F.when(pick("cand") > 0, pick("hit") / pick("cand")).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("precision"),
        F.round(
            F.when(pick("true") > 0, pick("hit") / pick("true")).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("recall"),
        F.round(
            F.lit(1.0) - (F.lit(1.0) - F.lit(0.35) ** 4) ** 4, 6
        ).alias("p_theory_at_t"),
    )


@_q(
    "dedup_components",
    f"""
    WITH RECURSIVE jp AS ({_jaccard_sql()}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM jp
      UNION
      SELECT doc_b, doc_a FROM jp
    ),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    )
    SELECT u AS doc_id, least(u, min(v)) AS cluster_id
    FROM reach GROUP BY u
    """,
)
def dedup_components(spark, sf_dir):
    """Near-dup CLUSTERS: connected components over the verified
    Jaccard pairs (min-label propagation + pointer-doubling path
    compression, O(log diameter) checkpointed rounds) — the pairs ->
    clusters -> survivor step production dedup needs when duplicates
    chain A-B-C. Oracle: recursive-CTE transitive closure (safe at
    oracle scale only; the Spark path never materializes the
    closure)."""
    return _dedup_stage(spark, sf_dir, "components")


@_q(
    "dedup_survivors",
    f"""
    WITH RECURSIVE jp AS ({_jaccard_sql()}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM jp
      UNION
      SELECT doc_b, doc_a FROM jp
    ),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    clusters AS (
      SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
    )
    SELECT CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(d.doc_id) AS BIGINT) AS id_sum,
           CAST(min(d.doc_id) AS BIGINT) AS id_min,
           CAST(max(d.doc_id) AS BIGINT) AS id_max
    FROM documents d
    LEFT JOIN clusters c ON d.doc_id = c.doc_id
    WHERE c.doc_id IS NULL OR c.cluster_id = c.doc_id
    """,
)
def dedup_survivors(spark, sf_dir):
    """End-to-end dedup: MinHash candidates -> Jaccard verify ->
    connected components -> keep one min-id survivor per cluster
    (drop_near_duplicates), summarized to hash-stable scalars. This is
    the full training-corpus dedup pass: every stage bucket- or
    pair-bounded, the final keep an anti-join on losers — no step
    materializes O(n²) state."""
    docs = _t(spark, sf_dir, "documents")
    clusters = _dedup_stage(spark, sf_dir, "components")
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    kept = docs.join(losers, "doc_id", "left_anti")
    return kept.agg(
        F.count("*").alias("n_kept"),
        F.sum("doc_id").alias("id_sum"),
        F.min("doc_id").alias("id_min"),
        F.max("doc_id").alias("id_max"),
    )


@_q(
    "dedup_best_quality_survivors",
    f"""
    WITH RECURSIVE jp AS ({_jaccard_sql()}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM jp
      UNION
      SELECT doc_b, doc_a FROM jp
    ),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    clusters AS (
      SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
    ),
    ranked AS (
      SELECT c.doc_id,
             row_number() OVER (
               PARTITION BY c.cluster_id
               ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn
      FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
    ),
    losers AS (SELECT doc_id FROM ranked WHERE rn > 1)
    SELECT CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(d.doc_id) AS BIGINT) AS id_sum,
           CAST(sum(d.n_chars) AS BIGINT) AS chars_sum
    FROM documents d
    LEFT JOIN losers l ON d.doc_id = l.doc_id
    WHERE l.doc_id IS NULL
    """,
)
def dedup_best_quality_survivors(spark, sf_dir):
    """Near-dup dedup keeping the BEST member per cluster (longest
    n_chars, ties on min id) instead of the min-id one — the
    production representative choice: duplicates are rarely equal
    (truncated copies, boilerplate-wrapped mirrors), so the kept copy
    should be the highest-quality member, not the first-crawled
    (operators/dedup.drop_near_duplicates_keep_best). Reuses the
    memoized candidates -> verified pairs -> components chain; the
    preference window runs over CLUSTERED rows only. chars_sum is the
    discriminating scalar — a min-id keep reads lower whenever any
    cluster's first member is not its longest."""
    docs = _t(spark, sf_dir, "documents")
    kept = DD.drop_near_duplicates_keep_best(
        docs,
        "doc_id",
        None,
        prefer=F.col("n_chars"),
        clusters=_dedup_stage(spark, sf_dir, "components"),
    )
    return kept.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
        F.sum("n_chars").cast("bigint").alias("chars_sum"),
    )


def _simhash_sql() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(DD.SIMHASH_BITS)
    )
    bits = " + ".join(
        f"CASE WHEN b{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(DD.SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOK.format(col='text')}) AS tok FROM documents
    ),
    h AS (
      SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM toks
    ),
    votes AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
    SELECT doc_id, ({bits}) AS simhash FROM votes
    """


@_q("dedup_simhash", _simhash_sql())
def dedup_simhash(spark, sf_dir):
    """60-bit SimHash fingerprint per document (bit votes over md5
    token hashes) — near-dup = small Hamming distance."""
    return _simhash_sigs(spark, sf_dir)


_SIMHASH_CACHE: dict = {}


def _simhash_sigs(spark, sf_dir):
    """The per-document SimHash signature table, computed once per
    (session, corpus) and SHARED by dedup_simhash (returns it verbatim)
    and dedup_simhash_pairs (banding + Hamming verify over the same
    fingerprints) — production writes the signatures once and both
    views read the table. Eager checkpoint: caches the md5 + 60-vote
    aggregate AND truncates its expression tree out of downstream
    plan analysis."""
    ent = _SIMHASH_CACHE.get(sf_dir)
    if ent is not None and ent[0] is spark:
        return ent[1]
    docs = _t(spark, sf_dir, "documents")
    sigs = DD.simhash(docs, "doc_id", "text").localCheckpoint(eager=True)
    _SIMHASH_CACHE[sf_dir] = (spark, sigs)
    return sigs


@_q(
    "dedup_embedding_pairs",
    """
    WITH pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos_sim,
           CAST(row_number() OVER (ORDER BY cos_sim DESC, id_a, id_b) AS INT) AS rank
    FROM pairs
    ORDER BY rank
    LIMIT 20
    """,
)
def dedup_embedding_pairs(spark, sf_dir):
    """Embedding-cosine near-dup: the 20 most-similar embedding pairs
    (brute-force at verification scale; IVF/LSH-bucketed at cluster
    scale)."""
    emb = _t(spark, sf_dir, "embeddings")
    return DD.embedding_top_pairs(emb, "vec_id", "embedding", top_n=20)


@_q(
    "dedup_embedding_bucketed",
    """
    WITH pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.35
    """,
)
def dedup_embedding_bucketed(spark, sf_dir):
    """Bucketed embedding near-dup — the 100 TB path: comparisons are
    restricted to same-bucket pairs (here the cluster ``label`` column,
    standing in for an IVF centroid assignment, operators/ivf.py), so
    the join is bucket-local, never all-pairs. Exact cosine is computed
    only inside buckets."""
    return _label_pairs(spark, sf_dir)


_LABEL_PAIRS_CACHE: dict = {}


def _label_pairs(spark, sf_dir):
    """The label-bucketed cosine pair frame (threshold 0.35), computed
    once per (session, corpus) and SHARED by dedup_embedding_bucketed
    (returns it verbatim) and semdedup_survivors (components + survivor
    selection over the same edges) — the same share-the-pair-frame
    contract as ``_semdedup_pairs2``. Eager checkpoint, not persist:
    the frame is small (verified duplicate edges) but its plan carries
    the fold-based cosine expressions, and downstream composes
    (connected_components' gate, the survivor anti-join) would
    re-analyze them on every call."""
    key = (sf_dir, 0.35, "label_pairs")
    ent = _LABEL_PAIRS_CACHE.get(key)
    if ent is not None and ent[0] is spark:
        return ent[1]
    emb = _t(spark, sf_dir, "embeddings")
    bucketer = emb.select("vec_id", F.col("label").alias("bucket"))
    # blocked-matmul scorer: pair-for-pair identical to the JVM fold
    # path (pinned by test) — the DuckDB oracle hash-match on
    # dedup_embedding_bucketed is the second witness
    pairs = DD.embedding_bucketed_pairs_matmul(
        emb, "vec_id", "embedding", threshold=0.35, bucketer=bucketer
    ).localCheckpoint(eager=True)
    _LABEL_PAIRS_CACHE[key] = (spark, pairs)
    return pairs


@_q(
    "semdedup_survivors",
    """
    WITH RECURSIVE pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    clusters AS (
      SELECT u AS vec_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
    )
    SELECT CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(e.vec_id) AS BIGINT) AS id_sum,
           CAST(min(e.vec_id) AS BIGINT) AS id_min,
           CAST(max(e.vec_id) AS BIGINT) AS id_max
    FROM embeddings e
    LEFT JOIN clusters c ON e.vec_id = c.vec_id
    WHERE c.vec_id IS NULL OR c.cluster_id = c.vec_id
    """,
)
def semdedup_survivors(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): semantic dedup in embedding space
    — within-CLUSTER cosine pairs above threshold, connected
    components, keep one min-id representative per semantic-duplicate
    group. VERIFICATION-SCALE shape: the bucketer here is the synthetic
    ``label`` column — a CONSTANT ~10 buckets, so the within-bucket
    self-join is O(n²/10) as the corpus grows. Its value is the exact
    SQL oracle; the production shape is ``semdedup_ivf_survivors``,
    whose IVF bucket count grows with the corpus (13.9 s vs 34.8 s at
    10x, BASELINE.md round-6c). The component and survivor steps are
    the same scale-safe machinery as the text path (dedup_survivors).
    Summarized to hash-stable scalars."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = _label_pairs(spark, sf_dir).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    kept = DD.drop_near_duplicates(emb, "vec_id", pairs)
    return kept.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("vec_id").cast("bigint").alias("id_sum"),
        F.min("vec_id").cast("bigint").alias("id_min"),
        F.max("vec_id").cast("bigint").alias("id_max"),
    )


@_q(
    "semdedup_ivf_survivors",
    """
    WITH RECURSIVE pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])), 6) >= 0.35
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    clusters AS (
      SELECT u AS vec_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
    ),
    kept AS (
      SELECT e.vec_id FROM embeddings e
      LEFT JOIN clusters c ON e.vec_id = c.vec_id
      WHERE c.vec_id IS NULL OR c.cluster_id = c.vec_id
    )
    SELECT CAST(0.35 AS DOUBLE) AS threshold, CAST(16 AS INT) AS lists,
           (SELECT CAST(count(*) AS BIGINT) FROM embeddings) AS n_total,
           CAST(count(*) AS BIGINT) AS n_kept_exact,
           CAST(sum(vec_id) AS BIGINT) AS id_sum_exact,
           CAST(1 AS INT) AS exact_subset_ok,
           CAST(1 AS INT) AS kept_bounds_ok
    FROM kept
    """,
)
def semdedup_ivf_survivors(spark, sf_dir):
    """SemDeDup with the PRODUCTION bucketer — IVF centroid assignment
    (operators/ivf.build_ivf, lists=16, the memoized suite index) in
    place of the constant-cardinality ``label`` column. Bucket count
    grows with the corpus (lists ~ sqrt(n) in the registry default), so
    the within-bucket cosine self-join stays bucket-local at any scale
    — the label-bucketed ``semdedup_survivors`` keeps ~10 buckets
    forever and is the O(n²/10) verification-scale twin. Measured at
    10x/20k vectors: 13.9 s (IVF) vs 34.8 s (labels), BASELINE.md
    round-6c. The bucketer is TOP-2 multi-assignment
    (``_ivf16_buckets2``), recall-gated by ``semdedup_ivf_recall``.

    EXACT gate (round-12 verdict ask #3 — this was the last rows-only
    ledger entry): the KMeans bucketing itself is not SQL-expressible,
    but the survivor SET admits an exact containment theorem. The
    bucketed pair set is a subset of the exact all-pairs set (same
    threshold + rounding, restricted comparisons), and min-id survivor
    selection is ANTITONE in the edge set: the min of each exact
    component is also the min of its (refined) component under any
    edge subset, and isolated rows stay isolated — so
    exact-survivors ⊆ IVF-survivors, ALWAYS. The query therefore
    emits the exact-survivor scalars (independently recomputed by the
    oracle's recursive-CTE connected components over the full
    all-pairs graph) plus two claim columns verified Spark-side
    against the real IVF survivor set: ``exact_subset_ok`` (the
    containment holds on the actual sets) and ``kept_bounds_ok``
    (n_kept_exact <= n_kept_ivf <= n_total). A hash mismatch on ANY
    column means the IVF path produced a survivor set inconsistent
    with exact semantics. Exact side via the blocked all-pairs matmul
    (``embedding_exact_pairs``) — verification-scale by contract."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = _semdedup_pairs2(spark, sf_dir).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    exact_pairs = _exact_pairs35(spark, sf_dir).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    # survivor stats via the LOSER sets (cluster members that are not
    # their component's min id — small: bounded by the dup-pair
    # endpoints), so the corpus crosses ONE aggregate scan instead of
    # the round-12 shape's four (two kept-side anti-join scans + the
    # missed-set anti-join + the total count). kept = emb \ losers by
    # construction (every pair endpoint is an emb vec_id), hence
    #   n_kept      = n_total - n_losers
    #   id_sum_kept = id_sum_total - id_sum_losers
    #   kept_exact \ kept_ivf = losers_ivf \ losers_exact  (the
    #   containment witness needs only the two loser frames)
    losers = {}
    for tag, pr in (("ivf", pairs), ("exact", exact_pairs)):
        cl = DD.connected_components(pr)
        losers[tag] = cl.filter(F.col("doc_id") != F.col("cluster_id")).select(
            F.col("doc_id").alias("vec_id")
        )
    totals = emb.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("vec_id").cast("bigint").alias("id_sum_total"),
    )
    # all four loser-side scalars from ONE tagged union + per-id agg
    # (r13): the round-12 shape ran three separate aggregate jobs plus
    # an anti-join over the same two tiny frames. vec_ids are unique
    # within each loser frame, so max() per tag reconstructs set
    # membership and "ivf-and-not-exact" IS the missed set.
    tagged = losers["ivf"].select(
        "vec_id", F.lit(1).alias("__i"), F.lit(0).alias("__e")
    ).unionByName(
        losers["exact"].select(
            "vec_id", F.lit(0).alias("__i"), F.lit(1).alias("__e")
        )
    )
    per_id = tagged.groupBy("vec_id").agg(
        F.max("__i").alias("__i"), F.max("__e").alias("__e")
    )
    lose_stats = per_id.agg(
        F.coalesce(F.sum("__e"), F.lit(0)).cast("bigint").alias("n_lose_exact"),
        F.coalesce(F.sum(F.when(F.col("__e") == 1, F.col("vec_id"))), F.lit(0))
        .cast("bigint")
        .alias("id_sum_lose_exact"),
        F.coalesce(F.sum("__i"), F.lit(0)).cast("bigint").alias("n_lose_ivf"),
        F.coalesce(
            F.sum(F.when((F.col("__i") == 1) & (F.col("__e") == 0), 1)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_missed"),
    )
    return (
        totals.crossJoin(lose_stats)
        .select(
            (F.col("n_total") - F.col("n_lose_exact")).alias("n_kept_exact"),
            (F.col("id_sum_total") - F.col("id_sum_lose_exact")).alias(
                "id_sum_exact"
            ),
            (F.col("n_total") - F.col("n_lose_ivf")).alias("n_kept_ivf"),
            "n_total",
            "n_missed",
        )
        .select(
            F.lit(0.35).alias("threshold"),
            F.lit(16).alias("lists"),
            F.col("n_total"),
            F.col("n_kept_exact"),
            F.col("id_sum_exact"),
            (F.col("n_missed") == 0).cast("int").alias("exact_subset_ok"),
            (
                (F.col("n_kept_exact") <= F.col("n_kept_ivf"))
                & (F.col("n_kept_ivf") <= F.col("n_total"))
            )
            .cast("int")
            .alias("kept_bounds_ok"),
        )
    )


@_q(
    "semdedup_ivf_recall",
    """
    SELECT CAST(0.35 AS DOUBLE) AS threshold, CAST(16 AS INT) AS lists,
           CAST(0.4 AS DOUBLE) AS recall_floor,
           CAST(1 AS INT) AS recall_ok, CAST(1 AS INT) AS beats_single
    """,
)
def semdedup_ivf_recall(spark, sf_dir):
    """Deterministic gate for the rows-only semdedup_ivf_survivors:
    pair recall of the IVF-bucketed candidate generator vs the exact
    all-pairs ground truth (computable at verification scale only —
    same contract as ivf_recall). A bucketed pair set is a SUBSET of
    the exact set by construction (same threshold, restricted
    comparisons), so recall = |bucketed| / |exact| — three counts, no
    pair join. Asserts (a) TOP-2 multi-assignment recall >= 0.4
    (measured 0.67 at sf0.01, 0.61 at sf0.1) and (b) multi-assignment
    strictly beats single assignment (measured 0.30/0.25) — the
    boundary-pair recovery must actually pay for its ≤2x bucket
    rows."""
    emb = _t(spark, sf_dir, "embeddings")
    index = _ivf16(spark, sf_dir)

    # exact denominator from the SHARED checkpointed exact-pair frame
    # (_exact_pairs35) — the blocked matmul runs once per session and
    # also serves semdedup_ivf_survivors' ground-truth gate
    exact = _exact_pairs35(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("double").alias("n_exact")
    )
    pairs = _semdedup_pairs2(spark, sf_dir)
    ivf = pairs.agg(F.count(F.lit(1)).cast("double").alias("n_ivf"))
    # single-assignment pairs are EXACTLY the multi pairs whose two
    # docs share their PRIMARY (nearest) centroid — primary-shared
    # implies bucket-shared under top-2, so filtering the cached pair
    # frame replaces a second bucket-local cosine self-join
    assigned = index.assigned.select("vec_id", "centroid_id")
    pa = assigned.select(
        F.col("vec_id").alias("id_a"), F.col("centroid_id").alias("__ca")
    )
    pb = assigned.select(
        F.col("vec_id").alias("id_b"), F.col("centroid_id").alias("__cb")
    )
    single = (
        pairs.join(F.broadcast(pa), "id_a")
        .join(F.broadcast(pb), "id_b")
        .filter(F.col("__ca") == F.col("__cb"))
        .agg(F.count(F.lit(1)).cast("double").alias("n_single"))
    )
    return (
        exact.crossJoin(ivf)
        .crossJoin(single)
        .select(
            F.lit(0.35).alias("threshold"),
            F.lit(16).alias("lists"),
            F.lit(0.4).alias("recall_floor"),
            (F.col("n_ivf") / F.col("n_exact") >= F.lit(0.4))
            .cast("int")
            .alias("recall_ok"),
            (F.col("n_ivf") > F.col("n_single")).cast("int").alias("beats_single"),
        )
    )


@_q(
    "url_dedup_report",
    """
    WITH raw AS (
      SELECT doc_id, source,
             'HTTP://' || upper(source) || '.Example.com'
             || CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END
             || '/Docs/' || CAST(doc_id % 50 AS VARCHAR)
             || CASE WHEN doc_id % 3 = 0
                     THEN '?utm_source=x&id=' || CAST(doc_id % 7 AS VARCHAR)
                     WHEN doc_id % 3 = 1
                     THEN '?id=' || CAST(doc_id % 7 AS VARCHAR) || '&utm_campaign=y'
                     ELSE '' END
             || CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END AS url
      FROM documents
    ),
    norm AS (
      SELECT doc_id, source, url,
        -- the normalize_url chain, RE2-safe (no lookahead: the
        -- default-port strip splits into followed-by and end-anchored)
        CASE WHEN regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1) = ''
             THEN trim(url)
             ELSE
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(
            lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1))
              || regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)$', 1),
            '#.*$', ''),
            '^(http://[^/?#]*):80([/?])', '\\1\\2'),
            '^(http://[^/?#]*):80$', '\\1'),
            '^(https://[^/?#]*):443([/?])', '\\1\\2'),
            '^(https://[^/?#]*):443$', '\\1'),
            '([?&])(utm_[a-z]+|fbclid|gclid)=[^&#]*', '\\1'),
            '\\?&+', '?'),
            '&&+', '&'),
            '[?&]+$', ''),
            '/\\?', '?')
        END AS canon_pre
      FROM raw
    ),
    canon AS (
      SELECT doc_id, source, regexp_replace(canon_pre, '/$', '') AS canonical
      FROM norm
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_urls,
           CAST(count(DISTINCT canonical) AS BIGINT) AS n_canonical,
           min(canonical) AS sample_canonical
    FROM canon
    GROUP BY source
    ORDER BY source
    """,
)
def url_dedup_report(spark, sf_dir):
    """Crawl-hygiene URL canonicalization (functions/url.normalize_url)
    as a dedup report: synthetic per-doc URLs carrying the classic
    noise — uppercased scheme/host, default :80 ports, tracking params
    in both positions, fragments — collapse to canonical dedup keys,
    counted per source. Pure Column regexps, one scan + one aggregate
    exchange; the oracle replicates the chain with RE2-safe regexes
    (DuckDB has no lookahead — the default-port strip splits into a
    followed-by form and an end-anchored form)."""
    from vechord_spark.functions.url import normalize_url

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.lit("HTTP://"),
        F.upper("source"),
        F.lit(".Example.com"),
        F.when(d % 4 == 0, F.lit(":80")).otherwise(F.lit("")),
        F.lit("/Docs/"),
        (d % 50).cast("string"),
        F.when(
            d % 3 == 0,
            F.concat(F.lit("?utm_source=x&id="), (d % 7).cast("string")),
        )
        .when(
            d % 3 == 1,
            F.concat(F.lit("?id="), (d % 7).cast("string"), F.lit("&utm_campaign=y")),
        )
        .otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    return (
        docs.select("doc_id", "source", url.alias("url"))
        .select("source", normalize_url("url").alias("canonical"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_urls"),
            F.countDistinct("canonical").cast("bigint").alias("n_canonical"),
            F.min("canonical").alias("sample_canonical"),
        )
        .orderBy("source")
    )


_BLOCKLIST = ("slow", "broken", "error")


@_q(
    "blocklist_report",
    f"""
    WITH t AS (
      SELECT doc_id, lang, {_TOK.format(col='text')} AS toks FROM documents
    ),
    per AS (
      SELECT doc_id, lang,
             len(toks) AS n_tokens,
             len(list_filter(toks, x -> x IN ('slow', 'broken', 'error'))) AS n_blocked
      FROM t
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN n_blocked > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           round(avg(CASE WHEN n_tokens > 0
                          THEN round(n_blocked / CAST(n_tokens AS DOUBLE), 6)
                          ELSE 0.0 END), 6) AS mean_blocked_ratio
    FROM per
    GROUP BY lang
    ORDER BY lang
    """,
)
def blocklist_report(spark, sf_dir):
    """Blocklist exposure per language — the C4 "bad words" filter
    signal, aggregated the way a corpus card reports it (strict C4
    dropped any page with a hit; modern pipelines threshold the
    ratio). The blocklist compiles into the token-filter lambda as an
    ``isin`` literal: one scan, zero shuffles before the per-language
    aggregate (operators/quality.blocklist_stats)."""
    docs = _t(spark, sf_dir, "documents")
    stats = QL.blocklist_stats(docs, "doc_id", "text", _BLOCKLIST)
    return (
        stats.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.col("has_blocked").cast("int"))
            .cast("bigint")
            .alias("n_flagged"),
            F.round(F.avg("blocked_ratio"), 6).alias("mean_blocked_ratio"),
        )
        .orderBy("lang")
    )


# phrase blocklist: multi-word patterns, including one nested pair
# ("data" inside "data slow") to keep the automaton's suffix-output
# semantics honest in the oracle; all patterns are borderless (no
# proper prefix == suffix), so occurrences cannot overlap and DuckDB's
# non-overlapping replace() count equals the automaton's count
_PHRASES = [
    "table scan",
    "scan merge",
    "merge slow",
    "slow join",
    "data slow",
    "data",
]


def _phrase_hits_sql() -> str:
    per = []
    for i, p in enumerate(_PHRASES):
        per.append(
            f"CAST((len(lower(text)) - len(replace(lower(text), '{p}', '')))"
            f" / {len(p)} AS INT) AS h{i}"
        )
    total = " + ".join(f"h{i}" for i in range(len(_PHRASES)))
    distinct = " + ".join(
        f"CASE WHEN h{i} > 0 THEN 1 ELSE 0 END" for i in range(len(_PHRASES))
    )
    return f"""
    WITH hits AS (
      SELECT doc_id, {", ".join(per)} FROM documents
    )
    SELECT doc_id,
           CAST({total} AS INT) AS n_hits,
           CAST({distinct} AS INT) AS n_patterns
    FROM hits
    WHERE {total} > 0
    ORDER BY n_hits DESC, doc_id
    LIMIT 20
    """


@_q("phrase_blocklist_report", _phrase_hits_sql())
def phrase_blocklist_report(spark, sf_dir):
    """Multi-pattern SUBSTRING blocklist (round 11): the top 20 most
    exposed documents under a phrase blocklist, scanned with the
    broadcast Aho-Corasick automaton
    (operators/quality.substring_blocklist_stats) — O(text + matches)
    per document regardless of pattern count, the shape that keeps a
    100k-phrase blocklist affordable where per-pattern ``contains``
    scans are O(patterns x text). The oracle is the per-pattern
    replace()-count (affordable for the oracle's 6 patterns — which
    is exactly the point of the automaton plan): borderless patterns
    make non-overlapping counts exact, and the nested "data" /
    "data slow" pair pins the suffix-output semantics."""
    docs = _t(spark, sf_dir, "documents")
    stats = QL.substring_blocklist_stats(docs, "doc_id", "text", _PHRASES)
    return (
        stats.filter(F.col("n_hits") > 0)
        .orderBy(F.col("n_hits").desc(), "doc_id")
        .limit(20)
    )


@_q(
    "dedup_exact_fingerprint",
    f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5(array_to_string({_TOK.format(col='text')}, ' '))) AS BIGINT) AS n_distinct
    FROM documents
    GROUP BY lang
    """,
)
def dedup_exact_fingerprint(spark, sf_dir):
    """Exact-dup detection via normalized-text md5 fingerprints,
    summarized per language (distinct fingerprints vs docs)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("lang", TX.fingerprint("text").alias("fp"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fp").alias("n_distinct"),
        )
    )


# ===========================================================================
# text analysis (training-data pipeline ops)
# ===========================================================================


@_q(
    "text_stats",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_TOK.format(col='text')} AS toks FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars,
           round(CASE WHEN length(text) > 0
                 THEN (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))) / CAST(length(text) AS DOUBLE)
                 ELSE 0.0 END, 6) AS punct_ratio,
           round(CASE WHEN len(toks) > 0
                 THEN list_sum(list_transform(toks, x -> length(x))) / CAST(len(toks) AS DOUBLE)
                 ELSE 0.0 END, 6) AS mean_token_len
    FROM t
    """,
)
def text_stats(spark, sf_dir):
    """Per-document quality signals: token count, char count, punct
    ratio, mean token length — all pure SQL expressions (one scan)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
        F.round(TX.punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(TX.mean_token_length("text"), 6).alias("mean_token_len"),
    )


def _langid_sql() -> str:
    hits = []
    for lang in sorted(TX.LANG_MARKERS):
        markers = ", ".join(f"'{m}'" for m in TX.LANG_MARKERS[lang])
        hits.append(
            f"len(list_filter(toks, t -> list_contains([{markers}], t))) AS h_{lang}"
        )
    langs = sorted(TX.LANG_MARKERS)
    best = "greatest(" + ", ".join(f"h_{l}" for l in langs) + ")"
    case = " ".join(f"WHEN h_{l} = best THEN '{l}'" for l in langs)
    return f"""
    WITH t AS (
      SELECT doc_id, {_TOK.format(col='text')} AS toks FROM documents
    ),
    scored AS (SELECT doc_id, {', '.join(hits)} FROM t),
    withbest AS (SELECT *, {best} AS best FROM scored)
    SELECT doc_id,
           CASE WHEN best = 0 THEN 'unknown' {case} ELSE 'unknown' END AS lang_pred
    FROM withbest
    """


@_q("lang_id", _langid_sql())
def lang_id(spark, sf_dir):
    """Stopword-marker language identification heuristic per doc."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.language_id("text").alias("lang_pred"))


@_q(
    "token_count_by_source",
    f"""
    SELECT source,
           CAST(sum(len({_TOK.format(col='text')})) AS BIGINT) AS total_tokens,
           round(avg(CAST(n_chars AS DOUBLE)), 4) AS avg_chars
    FROM documents
    GROUP BY source
    """,
)
def token_count_by_source(spark, sf_dir):
    """Corpus token accounting per source — the budgeting query every
    training-data pipeline runs first."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.sum(TX.token_count("text")).alias("total_tokens"),
        F.round(F.avg(F.col("n_chars").cast("double")), 4).alias("avg_chars"),
    )


@_q(
    "chunk_fixed_windows",
    """
    SELECT doc_id,
           CAST((s - 1) // 96 AS INT) AS seq_id,
           substr(text, CAST(s AS INT), 128) AS chunk_text
    FROM documents,
         LATERAL unnest(generate_series(1, CAST(greatest(length(text), 1) AS BIGINT), 96)) AS u(s)
    """,
)
def chunk_fixed_windows(spark, sf_dir):
    """D6-family chunking, zero-UDF variant: 128-char windows with
    32-char overlap (step 96) as a pure SQL expression; posexplode
    yields stable seq ids."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.posexplode(fixed_size_chunks("text", 128, step=96)).alias(
            "seq_id", "chunk_text"
        ),
    )


# ===========================================================================
# graph ops (SURVEY §2.5 G1 merge shape)
# ===========================================================================


@_q(
    "graph_entity_merge",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct({_TOK.format(col='text')})) AS text
      FROM documents
    )
    SELECT text,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(min(doc_id) AS BIGINT) AS first_chunk,
           CAST(max(doc_id) AS BIGINT) AS last_chunk
    FROM toks
    GROUP BY text
    """,
)
def graph_entity_merge(spark, sf_dir):
    """G1 entity upsert-merge shape (vechord/pipeline.py:345-373):
    mentions grouped by entity text with chunk-id aggregation. Tokens
    of the documents table stand in for extracted entity mentions."""
    docs = _t(spark, sf_dir, "documents")
    mentions = docs.select(
        "doc_id", F.explode(F.array_distinct(TX.tokenize("text"))).alias("text")
    )
    return mentions.groupBy("text").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.min("doc_id").alias("first_chunk"),
        F.max("doc_id").alias("last_chunk"),
    )


# ===========================================================================
# events: windowed aggregation + JSON extraction
# ===========================================================================


@_q(
    "events_daily_summary",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_daily_summary(spark, sf_dir):
    """Tumbling-window (daily) event rollup — the batch face of the
    streaming ingestion path (streaming/ingest.py runs the same agg
    with a watermark)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(38,6)")).cast("double"), 2).alias("total_value"),
    )


@_q(
    "events_json_extract",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_high,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
    GROUP BY event_type
    """,
)
def events_json_extract(spark, sf_dir):
    """JSONB-equivalent path (reference stores Jsonb columns,
    vechord/spec.py:306): extract props.k, filter, aggregate."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.withColumn("k", k)
        .filter(F.col("k") > 50)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_high"),
            F.max("k").alias("max_k"),
        )
    )


# ===========================================================================
# evaluation metrics over a knn run (D16)
# ===========================================================================


@_q(
    "eval_recall_knn",
    f"""
    WITH queries AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
      FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
      SELECT q.query_id, e.vec_id AS doc_id, e.label,
             list_distance(CAST(e.embedding AS DOUBLE[]), q.qv) AS d
      FROM embeddings e CROSS JOIN queries q
    ),
    ranked AS (
      SELECT query_id, doc_id, label,
             row_number() OVER (PARTITION BY query_id ORDER BY d, doc_id) AS rank
      FROM scored
    ),
    hits AS (
      SELECT r.query_id,
             sum(CASE WHEN r.label = q.qlabel THEN 1 ELSE 0 END) AS n_hits
      FROM ranked r JOIN queries q USING (query_id)
      WHERE r.rank <= 10
      GROUP BY r.query_id
    ),
    totals AS (
      SELECT q.query_id, count(*) AS n_truth
      FROM embeddings e JOIN queries q ON e.label = q.qlabel
      GROUP BY q.query_id
    )
    SELECT query_id, round(n_hits / CAST(n_truth AS DOUBLE), 6) AS recall
    FROM hits JOIN totals USING (query_id)
    """,
)
def eval_recall_knn(spark, sf_dir):
    """D16 evaluation stack: batch k-NN (knn_join) for 5 query vectors,
    truth = same-label embeddings, per-query recall@10 as a DataFrame
    aggregation."""
    from vechord_spark.operators.evaluate import recall_at_k

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    retrieved = knn_join(
        queries, emb, "qv", "embedding", "query_id", "vec_id", k=10, distance="l2"
    ).select("query_id", F.col("vec_id").alias("doc_id"), "rank")
    truth = (
        emb.select(F.col("vec_id").alias("doc_id"), "label")
        .join(queries.select("query_id", "qlabel"), F.col("label") == F.col("qlabel"))
        .select("query_id", "doc_id")
    )
    return recall_at_k(retrieved, truth, k=10)


# ===========================================================================
# round-1 extension queries: sessions, quality, fingerprints, simhash pairs,
# batch knn, and rows-only entries for non-SQL-expressible operators
# ===========================================================================


@_q(
    "events_sessionize",
    """
    WITH lagd AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
      FROM events
    ),
    marks AS (
      SELECT user_id, ts,
             CASE WHEN pts IS NULL OR ts - pts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
      FROM lagd
    ),
    isl AS (
      SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
      FROM marks
    )
    SELECT user_id, min(ts) AS session_start, CAST(count(*) AS BIGINT) AS n_events
    FROM isl GROUP BY user_id, sid
    """,
)
def events_sessionize(spark, sf_dir):
    """Session windows per user (30-minute inactivity gap) — the
    streaming-native session_window operator, batch face (its oracle is
    the classic gaps-and-islands SQL). streaming/ingest.sessionize runs
    the identical groupBy on a stream with a watermark."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("s"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            "n_events",
        )
    )


@_q(
    "events_asof_join",
    """
    WITH purchases AS (
      SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'purchase'
    ),
    signups AS (
      SELECT event_id AS signup_event_id, ts, user_id FROM events
      WHERE event_type = 'signup'
    )
    SELECT p.event_id, p.user_id, round(p.value, 2) AS value,
           s.signup_event_id,
           CAST(CASE WHEN s.signup_event_id IS NULL THEN NULL
                ELSE date_diff('second', s.ts, p.ts) END AS BIGINT) AS gap_seconds
    FROM purchases p ASOF LEFT JOIN signups s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    """,
)
def events_asof_join(spark, sf_dir):
    """Point-in-time join: each purchase matched to the user's most
    recent at-or-before signup — the feature-correctness primitive for
    training pipelines. Spark has no ASOF JOIN; operators/asof.py
    renders it as union-tag + carry-forward window (ONE shuffle on the
    key, linear per partition — never a per-key range explosion).
    Oracle: DuckDB's native ASOF LEFT JOIN."""
    from vechord_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_event_id"), "ts", "user_id"
    )
    j = asof_join(purchases, signups, on="ts", by="user_id")
    return j.select(
        "event_id",
        "user_id",
        F.round("value", 2).alias("value"),
        F.col("asof_signup_event_id").alias("signup_event_id"),
        # ts is TIMESTAMP_NTZ (driver parquet is timestamp[us]); NTZ has
        # no direct long cast, so hop through TIMESTAMP (session tz is
        # pinned UTC — the offset cancels in the difference). Floor-epoch
        # diff matches DuckDB date_diff('second', ...) boundary counting.
        (
            F.col("ts").cast("timestamp").cast("long")
            - F.col("asof_ts").cast("timestamp").cast("long")
        ).alias("gap_seconds"),
    )


@_q(
    "events_funnel",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t0 FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS t1 FROM events e
      JOIN v ON e.user_id = v.user_id AND e.ts > v.t0
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS t2 FROM events e
      JOIN c ON e.user_id = c.user_id AND e.ts > c.t1
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_click,
           (SELECT count(*) FROM p) AS n_purchase
    """,
)
def events_funnel(spark, sf_dir):
    """Ordered funnel (view -> later click -> later purchase), counted
    per stage via operators/funnel: ONE user_id exchange (collect each
    user's (ts, type) events, fold left-to-right with a higher-order
    aggregate whose accumulator is the stage reached + its timestamp),
    then a scalar count agg — instead of the textbook three chained
    min-agg/join shuffles. Greedy earliest-first advance is provably
    the chained-mins semantics (tested against it in
    tests/test_funnel.py)."""
    from vechord_spark.operators.funnel import funnel_counts

    ev = _t(spark, sf_dir, "events")
    ev = ev.filter(F.col("event_type").isin("view", "click", "purchase"))
    return funnel_counts(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )


@_q(
    "skew_salted_revenue",
    """
    WITH dim(event_type, weight) AS (
      VALUES ('view', 0.1), ('click', 0.5), ('purchase', 2.0),
             ('signup', 1.0), ('error', 0.0)
    )
    SELECT e.event_type,
           count(*) AS n_events,
           CAST(round(sum(CAST(e.value AS DECIMAL(18,6)) *
                          CAST(d.weight AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS weighted_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY e.event_type
    """,
)
def skew_salted_revenue(spark, sf_dir):
    """Skewed-key join demonstrated at the oracle: events join a tiny
    dim on event_type — FIVE hot keys, the worst shuffle-join shape —
    via operators/skew.salted_join (hot keys spread n_salts ways, dim
    replicated per salt). Result provably equals the plain join. At
    100 TB the same call handles a power-law key against a per-key
    broadcast-sized dim without one straggler partition."""
    from vechord_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [("view", 0.1), ("click", 0.5), ("purchase", 2.0),
         ("signup", 1.0), ("error", 0.0)],
        "event_type string, weight double",
    )
    joined = salted_join(ev, dim, on="event_type", n_salts=8)
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(
            F.sum(
                F.col("value").cast("decimal(18,6)")
                * F.col("weight").cast("decimal(18,6)")
            ),
            2,
        ).cast("double").alias("weighted_value"),
    )


def _quality_sql() -> str:
    stop = ", ".join(f"'{w}'" for w in TX.STOPWORDS_EN)
    return f"""
    WITH t AS (
      SELECT doc_id, text, {_TOK.format(col='text')} AS toks FROM documents
    ),
    feats AS (
      SELECT doc_id,
             CAST(len(toks) AS DOUBLE) AS n_tok,
             CASE WHEN length(text) > 0
                  THEN (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))) / CAST(length(text) AS DOUBLE)
                  ELSE 0.0 END AS punct,
             CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, x -> length(x))) / CAST(len(toks) AS DOUBLE)
                  ELSE 0.0 END AS mean_len,
             CASE WHEN len(toks) > 0
                  THEN len(list_filter(toks, t -> list_contains([{stop}], t))) / CAST(len(toks) AS DOUBLE)
                  ELSE 0.0 END AS stop_ratio
      FROM t
    )
    SELECT doc_id,
           round(stop_ratio, 6) AS stopword_ratio,
           round(
             least(n_tok / 64.0, 1.0) * 0.5
             + greatest(1.0 - punct * 4.0, 0.0) * 0.3
             + (CASE WHEN mean_len >= 2.0 AND mean_len <= 12.0 THEN 1.0 ELSE 0.5 END) * 0.2
           , 6) AS quality
    FROM feats
    """


@_q("text_quality", _quality_sql())
def text_quality(spark, sf_dir):
    """Document quality scoring (C4/Gopher-style length + punctuation +
    token-shape rules) and stopword ratio — the corpus-filtering signals
    of a training-data pipeline, as one pure-SQL scan."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(TX.stopword_ratio("text"), 6).alias("stopword_ratio"),
        TX.quality_score("text").alias("quality"),
    )


_BIGRAMS = (
    f"CASE WHEN len({_TOK.format(col='text')}) >= 2 THEN "
    f"list_transform(generate_series(1, len({_TOK.format(col='text')}) - 1),"
    f" i -> array_to_string(list_slice({_TOK.format(col='text')}, i, i + 1), ' ')) "
    f"ELSE [array_to_string({_TOK.format(col='text')}, ' ')] END"
)


@_q(
    "text_repetition",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOK.format(col='text')}) AS tok FROM documents
    ),
    uni AS (
      SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
    ),
    stats AS (
      SELECT doc_id,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct,
             round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_token_frac,
             round(1.0 - count(*) / CAST(sum(c) AS DOUBLE), 6) AS dup_token_frac
      FROM uni GROUP BY doc_id
    ),
    bi AS (
      SELECT doc_id, g, count(*) AS c
      FROM (SELECT doc_id, unnest({_BIGRAMS}) AS g FROM documents)
      GROUP BY doc_id, g
    ),
    bstats AS (
      SELECT doc_id, round(max(c) / CAST(sum(c) AS DOUBLE), 6) AS top_ngram_frac
      FROM bi GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_tokens, s.n_distinct, s.top_token_frac,
           s.dup_token_frac, coalesce(b.top_ngram_frac, 0.0) AS top_ngram_frac
    FROM stats s LEFT JOIN bstats b ON s.doc_id = b.doc_id
    """,
)
def text_repetition(spark, sf_dir):
    """Gopher-style repetition signals: top-token share, duplicate-token
    mass, top-bigram share — the token-DISTRIBUTION quality filters a
    training pipeline applies beside the character-level ones
    (text_quality). Two chained doc_id-keyed aggregations; state per doc
    is O(distinct tokens)."""
    from vechord_spark.operators.quality import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return repetition_stats(docs, "doc_id", "text", ngram=2)


_SAMPLE_RATE = 0.1
_STRATA_RATES = {"src0": 0.5, "src1": 0.25, "src2": 0.1}
_STRATA_DEFAULT = 0.02


def _hash_frac_sql(salt: str) -> str:
    return (
        f"CAST(('0x' || substr(md5('{salt}' || CAST(doc_id AS VARCHAR)), 1, 8))"
        " AS BIGINT)"
    )


@_q(
    "sample_documents",
    f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {_hash_frac_sql('s1')} < {int(round(_SAMPLE_RATE * (1 << 32)))}
    """,
)
def sample_documents(spark, sf_dir):
    """Deterministic hash sampling: membership keyed on md5(salt||id),
    so the same subset comes back under any partitioning, engine, or
    incremental append — reproducible training subsets, verified
    row-for-row by the oracle. Plan: one narrow codegen Filter over the
    scan, no shuffle."""
    from vechord_spark.operators.sample import deterministic_sample

    docs = _t(spark, sf_dir, "documents")
    return deterministic_sample(docs, "doc_id", _SAMPLE_RATE, salt="s1").select(
        "doc_id", "lang", "source"
    )


@_q(
    "sample_stratified",
    f"""
    SELECT doc_id, source FROM documents
    WHERE {_hash_frac_sql('mix')} <
      CASE source
        {' '.join(f"WHEN '{k}' THEN {int(round(r * (1 << 32)))}" for k, r in _STRATA_RATES.items())}
        ELSE {int(round(_STRATA_DEFAULT * (1 << 32)))}
      END
    """,
)
def sample_stratified(spark, sf_dir):
    """Per-source sampling rates — the training-mix primitive (keep 50%
    of one source, 2% of the rest). The stratum threshold is a CASE
    expression inside the same single filter; no join, no shuffle."""
    from vechord_spark.operators.sample import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "doc_id", "source", _STRATA_RATES,
        default_rate=_STRATA_DEFAULT, salt="mix",
    ).select("doc_id", "source")


_PACK_BUDGET = 2048

_PACK_SQL_BASE = f"""
    WITH t AS (
      SELECT doc_id, source, len({_TOK.format(col='text')}) AS n_tokens
      FROM documents
    ),
    p AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING
             ) - n_tokens AS prec
      FROM t
    )
"""


@_q(
    "sequence_pack",
    _PACK_SQL_BASE
    + f"""
    SELECT doc_id, source, n_tokens,
           CAST(floor(prec / {_PACK_BUDGET}) AS BIGINT) AS bin_id,
           CAST(prec % {_PACK_BUDGET} AS BIGINT) AS bin_offset
    FROM p
    """,
)
def sequence_pack(spark, sf_dir):
    """Token-budget sequence packing for training batches: documents
    laid out in doc_id order per source, bin = floor(preceding tokens /
    budget). One window aggregation keyed on source — shards pack in
    parallel, no global-order bottleneck, layout deterministic across
    runs and engines."""
    from vechord_spark.operators.pack import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id", "source", TX.token_count("text").alias("n_tokens")
    )
    return pack_sequences(with_tokens, "doc_id", "n_tokens", _PACK_BUDGET, "source")


@_q(
    "pack_utilization",
    _PACK_SQL_BASE
    + f"""
    SELECT source,
           CAST(floor(prec / {_PACK_BUDGET}) AS BIGINT) AS bin_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           round(sum(n_tokens) / {float(_PACK_BUDGET)}, 6) AS fill_frac
    FROM p
    GROUP BY source, CAST(floor(prec / {_PACK_BUDGET}) AS BIGINT)
    """,
)
def pack_utilization(spark, sf_dir):
    """Packing-efficiency report: per-bin doc count, token total, and
    fill fraction — what a pipeline asserts on (padding waste) before
    shipping batches to training."""
    from vechord_spark.operators.pack import bin_utilization, pack_sequences

    docs = _t(spark, sf_dir, "documents")
    with_tokens = docs.select(
        "doc_id", "source", TX.token_count("text").alias("n_tokens")
    )
    packed = pack_sequences(with_tokens, "doc_id", "n_tokens", _PACK_BUDGET, "source")
    return bin_utilization(packed, "n_tokens", _PACK_BUDGET, "source")


@_q(
    "dedup_incremental",
    f"""
    WITH seen AS (
      SELECT md5(array_to_string({_TOK.format(col='text')}, ' ')) AS fp
      FROM documents WHERE doc_id % 2 = 0
    )
    SELECT d.doc_id
    FROM documents d
    LEFT JOIN seen s
      ON md5(array_to_string({_TOK.format(col='d.text')}, ' ')) = s.fp
    WHERE d.doc_id % 2 = 1 AND s.fp IS NULL
    """,
)
def dedup_incremental(spark, sf_dir):
    """Incremental-crawl dedup: new batch (odd ids) anti-joined on the
    SEEN fingerprint set (even ids) — the production shape where each
    crawl only hashes its own batch and probes the persisted corpus
    fingerprints; one hash-keyed anti-join, no rescan of old text. At
    100 TB the seen side is a parquet fingerprint table, and the
    anti-join shuffles only fingerprints (32 B/doc), never documents."""
    docs = _t(spark, sf_dir, "documents")
    fp = TX.fingerprint("text")
    seen = docs.filter(F.col("doc_id") % 2 == 0).select(fp.alias("fp"))
    new = docs.filter(F.col("doc_id") % 2 == 1).select("doc_id", fp.alias("fp"))
    return new.join(seen, "fp", "left_anti").select("doc_id")


@_q(
    "dedup_bloom_incremental",
    f"""
    WITH fps AS (
      SELECT doc_id,
             md5(array_to_string(list_slice({_TOK.format(col='text')}, 1, 5), ' ')) AS fp
      FROM documents
    ),
    seen AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 3 = 0)
    SELECT f.doc_id, f.fp
    FROM fps f
    LEFT JOIN seen s ON f.fp = s.fp
    WHERE f.doc_id % 3 <> 0 AND s.fp IS NULL
    """,
)
def dedup_bloom_incremental(spark, sf_dir):
    """Bloom-prefiltered incremental dedup: the new batch (doc_id%3!=0)
    probes a Bloom filter built from the seen-set's fingerprints
    (doc_id%3=0) — definitely-unseen rows never shuffle; only the
    maybe-seen candidates (true dupes + ~1% false positives) pay the
    exact anti-join confirm, so the result is EXACT and carries a plain
    anti-join oracle. The 5-token-prefix fingerprint manufactures real
    cross-batch overlap. At 100 TB this is the difference between
    re-shuffling a whole day's crawl and shuffling a percent of it
    (operators/bloom.bloom_anti_join; hash positions are JVM
    expressions shared by build and probe, bitset built via bit_or
    aggregation — m/64 longs to the driver, never the keys)."""
    from vechord_spark.operators.bloom import bloom_anti_join

    docs = _t(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.slice(TX.tokenize("text"), 1, 5)))
    # materialize the (doc_id, fp) table ONCE — bloom_anti_join
    # evaluates its seen side three times (sizing count, bitset build,
    # confirm join) and its new side twice (definite/candidate
    # branches), and each evaluation would re-run the tokenize+md5
    # projection over the documents scan. The checkpointed frame is
    # 32 B fingerprints — exactly the persisted fingerprint TABLE a
    # production day-2 run probes (operators/dedup.incremental docs),
    # so the corpus pays one fingerprint pass, not ~2.3.
    with_fp = (
        docs.select("doc_id", fp.alias("fp")).localCheckpoint(eager=True)
    )
    seen = with_fp.filter(F.col("doc_id") % 3 == 0).select("fp")
    new = with_fp.filter(F.col("doc_id") % 3 != 0)
    return bloom_anti_join(new, seen, "fp", fpp=0.01)


@_q(
    "embedding_quantize",
    """
    SELECT vec_id,
           array_to_string(
             list_transform(embedding, x -> CAST(greatest(-127, least(127,
               floor(CAST(x AS DOUBLE) * 127 + 0.5))) AS TINYINT)), ',') AS q8,
           CAST(list_sum(list_transform(embedding, x -> abs(CAST(greatest(-127,
             least(127, floor(CAST(x AS DOUBLE) * 127 + 0.5))) AS TINYINT))))
             AS BIGINT) AS q_l1
    FROM embeddings
    """,
)
def embedding_quantize(spark, sf_dir):
    """Int8 embedding codes + integer L1 norm: the 4×-smaller storage /
    shuffle representation an embedding pipeline materializes at scale
    (and the estimate layer of estimate→refine ANN). floor-based
    round-half-up so codes are bit-identical across engines; the L1
    norm is integer arithmetic — zero float-parity risk."""
    from vechord_spark.functions.vector import quantize_int8

    emb = _t(spark, sf_dir, "embeddings")
    q = quantize_int8("embedding")
    return emb.select(
        "vec_id",
        F.array_join(q.cast("array<string>"), ",").alias("q8"),
        F.aggregate(
            q, F.lit(0).cast("long"), lambda acc, v: acc + F.abs(v.cast("long"))
        ).alias("q_l1"),
    )


@_q(
    "doc_fingerprint",
    f"""
    SELECT doc_id, md5(array_to_string({_TOK.format(col='text')}, ' ')) AS fp
    FROM documents
    """,
)
def doc_fingerprint(spark, sf_dir):
    """Per-document normalized-text fingerprint (exact-dedup key)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint("text").alias("fp"))


def _simhash_pairs_sql(max_hamming: int = 10, band_bits: int = 15) -> str:
    from vechord_spark.operators.dedup import SIMHASH_BITS

    n_bands = SIMHASH_BITS // band_bits
    mask = (1 << band_bits) - 1
    bands = ", ".join(f"({b}, (simhash >> {b * band_bits}) & {mask})" for b in range(n_bands))
    return f"""
    WITH sims AS ({_simhash_sql()}),
    bands AS (
      SELECT doc_id, simhash, b.* FROM sims, LATERAL (VALUES {bands}) AS b(band, key)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


@_q("dedup_simhash_pairs", _simhash_pairs_sql())
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: 15-bit band blocking (pigeonhole
    guarantees recall for Hamming <= 3; we report pairs <= 10) + exact
    Hamming verification. The band self-join never touches O(n²)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = DD.simhash_near_pairs(
        docs, "doc_id", "text", max_hamming=10, sigs=_simhash_sigs(spark, sf_dir)
    )
    return pairs.select("doc_a", "doc_b", F.col("hamming").cast("int").alias("hamming"))


@_q(
    "knn_batch",
    f"""
    WITH queries AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
      SELECT q.query_id, e.vec_id,
             list_distance(CAST(e.embedding AS DOUBLE[]), q.qv) AS d
      FROM embeddings e CROSS JOIN queries q
    )
    SELECT query_id, vec_id,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY d, vec_id) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 10
    """,
)
def knn_batch(spark, sf_dir):
    """Batch k-NN (knn_join): top-10 L2 neighbours for each of 5 query
    vectors in one plan — broadcast queries, per-query window top-k."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return knn_join(
        queries, emb, "qv", "embedding", "query_id", "vec_id", k=10, distance="l2"
    ).select("query_id", "vec_id", "rank")


def _chunk_regex_sql(size: int = 120, overlap: int = 20) -> str:
    """Recursive-CTE oracle replicating the greedy piece-packing of the
    D6 RegexChunker (operators/chunk.regex_chunk) exactly: the per-doc
    state machine (carry overlap suffix + fresh pieces + running char
    budget) advances one token per recursion step, set-based over all
    docs at once. Valid for corpora where no single token exceeds
    ``size`` (max token is 8 chars here — asserted in
    tests/test_chunk.py); the oversized-piece shed path is then dead
    code and the oracle omits it."""
    return rf"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
      FROM documents
    ),
    pos AS (
      SELECT doc_id, i, length(toks[i]) AS L
      FROM toks, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i)
    ),
    cums AS (
      SELECT doc_id, list_prepend(CAST(0 AS BIGINT), list(cum ORDER BY i)) AS cums0,
             max(i) AS n
      FROM (SELECT doc_id, i, sum(L) OVER (PARTITION BY doc_id ORDER BY i) AS cum
            FROM pos)
      GROUP BY doc_id
    ),
    st AS (
      SELECT t.doc_id, 0 AS i, 1 AS c_start, CAST(NULL AS INT) AS f_start,
             CAST(0 AS BIGINT) AS running,
             CAST(NULL AS INT) AS em_start, CAST(NULL AS INT) AS em_end
      FROM cums t
      UNION ALL
      SELECT s.doc_id, s.i + 1,
             CASE WHEN emit THEN new_c
                  WHEN s.f_start IS NULL THEN s.i + 1
                  ELSE s.c_start END,
             CASE WHEN emit THEN s.i + 1 ELSE coalesce(s.f_start, s.i + 1) END,
             CASE WHEN emit THEN (c.cums0[s.i + 1] - c.cums0[new_c]) + Li
                  ELSE s.running + Li END,
             CASE WHEN emit THEN s.c_start ELSE NULL END,
             CASE WHEN emit THEN s.i ELSE NULL END
      FROM st s
      JOIN cums c ON c.doc_id = s.doc_id,
      LATERAL (SELECT c.cums0[s.i + 2] - c.cums0[s.i + 1] AS Li) l1,
      LATERAL (SELECT (s.f_start IS NOT NULL AND s.running + Li > {size}) AS emit) l2,
      LATERAL (
        SELECT s.i + 1 - coalesce(len(list_filter(generate_series(s.f_start, s.i),
                    j -> c.cums0[s.i + 1] - c.cums0[j] < {overlap})), 0) AS new_c
      ) l3
      WHERE s.i < c.n
    ),
    emitted AS (
      SELECT doc_id, em_start AS cs, em_end AS ce FROM st WHERE em_start IS NOT NULL
      UNION ALL
      SELECT s.doc_id, s.c_start, s.i FROM st s JOIN cums c ON c.doc_id = s.doc_id
      WHERE s.i = c.n
    )
    SELECT e.doc_id,
           CAST(row_number() OVER (PARTITION BY e.doc_id ORDER BY e.ce) - 1 AS INT) AS seq_id,
           array_to_string(list_slice(t.toks, e.cs, e.ce), ' ') AS chunk_text
    FROM emitted e JOIN toks t ON t.doc_id = e.doc_id
    """


@_q("chunk_regex", _chunk_regex_sql())
def chunk_regex(spark, sf_dir):
    """D6 RegexChunker over the documents table (space separator — the
    synthetic corpus has no sentence punctuation), exploded with stable
    seq ids. Oracle: a recursive-CTE rendition of the same greedy
    packing; behavioral parity with the reference chunker is also
    covered by exact-fixture tests (tests/test_chunk.py)."""
    from vechord_spark.operators.chunk import regex_chunk_udf

    docs = _t(spark, sf_dir, "documents")
    udf = regex_chunk_udf(size=120, overlap=20, separator=r"\s+", concat=" ")
    return docs.select(
        "doc_id",
        F.posexplode(udf(F.col("text"))).alias("seq_id", "chunk_text"),
    )


# "Build once, query many" is the IVF contract (the reference builds
# the vchordrq index ONCE at CREATE INDEX; every probe search reuses
# it). The suite's four single-vector IVF queries therefore share one
# memoized index per (session, sf_dir): the KMeans fit is seeded, so a
# cached index is bit-identical to a rebuilt one — caching changes
# latency, never results.
_IVF_CACHE: dict = {}

# Set by bench.py around each timed query so shared-memo builds are
# attributable in the bench stderr tail: a session memo's one-time build
# lands inside whichever query consumes it first, which otherwise reads
# as that query "regressing" while the riders "improve" (round-13 PERF
# misread semdedup_ivf_survivors this way; round-13 verdict item 5).
CURRENT_QUERY: str | None = None


def _memo_note(name: str, t0: float) -> None:
    import sys as _sys
    import time as _time

    ctx = f" during {CURRENT_QUERY}" if CURRENT_QUERY else ""
    print(
        f"# memo {name} built{ctx}: {_time.perf_counter() - t0:.3f}s",
        file=_sys.stderr,
    )


def _ivf16(spark, sf_dir):
    key = (sf_dir, 16, 42)
    ent = _IVF_CACHE.get(key)
    if ent is not None and ent[0] is spark:
        return ent[1]
    import json as _json
    import re as _re

    import numpy as _np

    from vechord_spark.operators.ivf import IvfIndex, build_ivf
    from vechord_spark.plans.artifacts import ArtifactStore

    # spherical (round 7): every consumer of this index ranks by COSINE
    # (ivf_knn, the recall gates, the SemDeDup bucketer), so the cells
    # are fit/assigned on unit-norm vectors — the coarse quantizer that
    # matches the metric. Round 9: the fit + assignment persist as a
    # DISK layout (ArtifactStore) — the KMeans runs once per corpus,
    # later sessions load the clustered assignment parquet + centroid
    # bytes, mirroring the registry's .ivf layout
    # (registry.py:build_vector_index). The seeded fit is deterministic
    # for fixed data, so a loaded index is bit-identical to a rebuilt
    # one.
    src = f"{sf_dir}/embeddings.parquet"
    tag = _re.sub(r"[^a-z0-9]+", "_", sf_dir.lower()).strip("_")

    def _build(tmp):
        idx = build_ivf(
            _t(spark, sf_dir, "embeddings"),
            "embedding",
            lists=16,
            seed=42,
            spherical=True,
        )
        idx.assigned.write.parquet(str(tmp / "assigned"))
        (tmp / "centroids.bin").write_bytes(
            _np.ascontiguousarray(idx.centroids, dtype="<f8").tobytes()
        )
        (tmp / "ivf.json").write_text(
            _json.dumps({"shape": list(idx.centroids.shape), "spherical": True})
        )

    path = ArtifactStore(spark).load_or_build(
        f"ivf16_{tag}",
        [src],
        {"lists": 16, "seed": 42, "spherical": True, "v": 1},
        _build,
    )
    meta = _json.loads((path / "ivf.json").read_text())
    cents = _np.frombuffer(
        (path / "centroids.bin").read_bytes(), dtype="<f8"
    ).reshape(meta["shape"])
    index = IvfIndex(
        cents,
        spark.read.parquet(str(path / "assigned")).persist(),
        "embedding",
        spherical=meta["spherical"],
    )
    _IVF_CACHE[key] = (spark, index)
    return index


def _exact_pairs35(spark, sf_dir):
    """The EXACT cosine >= 0.35 all-pairs frame (blocked matmul,
    operators/dedup.embedding_exact_pairs), eager-checkpointed and
    SHARED by semdedup_ivf_recall (which needs only its count — the
    recall denominator) and semdedup_ivf_survivors (which needs the
    pair set for the exact-survivor gate) — the matmul ground-truth
    pass runs once per (session, corpus), not once per query.
    Verification-scale by contract, like the operator itself."""
    key = (sf_dir, 0.35, "exact_pairs")
    ent = _IVF_CACHE.get(key)
    if ent is not None and ent[0] is spark:
        return ent[1]
    import time as _time

    t0 = _time.perf_counter()
    emb = _t(spark, sf_dir, "embeddings")
    pairs = DD.embedding_exact_pairs(
        emb, "vec_id", "embedding", threshold=0.35
    ).localCheckpoint(eager=True)
    _memo_note("exact_pairs35", t0)
    _IVF_CACHE[key] = (spark, pairs)
    return pairs


def _exact_knn10(spark, sf_dir):
    """The exact cosine k-NN(10) ground-truth ids for QVEC, eager-
    checkpointed and SHARED by every quantized-index recall gate
    (ivf_recall / ivf_recall_refined / ivf_pq_recall / opq_recall /
    rpq_recall / rabitq_recall compare their approximate candidates
    against this identical 10-row frame) — the exact corpus scan runs
    once per (session, corpus), not once per gate. Same memo contract
    as _exact_pairs35."""
    key = (sf_dir, 10, "exact_knn")
    ent = _IVF_CACHE.get(key)
    if ent is not None and ent[0] is spark:
        return ent[1]
    import time as _time

    from vechord_spark.operators.knn import knn

    t0 = _time.perf_counter()
    emb = _t(spark, sf_dir, "embeddings")
    exact = (
        knn(
            emb, "embedding", QVEC, k=10, distance="cos",
            select=["vec_id"], tie_break="vec_id",
        )
        .select("vec_id")
        .localCheckpoint(eager=True)
    )
    _memo_note("exact_knn10", t0)
    _IVF_CACHE[key] = (spark, exact)
    return exact


def _exact_batch8(spark, sf_dir):
    """The 8 lowest-vec_id self-queries and their exact cosine
    k-NN(10) ground truth, SHARED by the two batch-style recall gates
    (ivf_knn_batch_recall and ivf_recall_expanded both use exactly
    this query set — vec_id 0..7, since vec_ids are dense from 0 —
    and the identical knn_join exact side). One collect of the 8
    query vectors and one exact broadcast-batch corpus scan per
    (session, corpus) instead of one of each per gate. Same memo
    contract as _exact_knn10.

    Returns ``(queries, exact)``: the 8 query vectors as a list of
    ``(vec_id, [float, ...])`` in vec_id order, and the checkpointed
    exact ``(query_id, vec_id)`` frame with ``query_id == vec_id``."""
    key = (sf_dir, 8, "exact_batch")
    ent = _IVF_CACHE.get(key)
    if ent is not None and ent[0] is spark:
        return ent[1], ent[2]
    import time as _time

    from vechord_spark.operators.knn import knn_join

    t0 = _time.perf_counter()
    emb = _t(spark, sf_dir, "embeddings")
    qrows = (
        emb.orderBy("vec_id").limit(8).select("vec_id", "embedding").collect()
    )
    queries = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows]
    qdf = spark.createDataFrame(
        [(qid, vec) for qid, vec in queries],
        "query_id bigint, qvec array<double>",
    )
    exact = (
        knn_join(
            qdf, emb, "qvec", "embedding", "query_id", "vec_id",
            k=10, distance="cos",
        )
        .select("query_id", "vec_id")
        .localCheckpoint(eager=True)
    )
    _memo_note("exact_batch8", t0)
    _IVF_CACHE[key] = (spark, queries, exact)
    return queries, exact


def _mv_table(spark, sf_dir):
    """The synthesized multivector corpus (five 64-d vectors per
    ``mv_id``, grouped from the embeddings table in vec_id order),
    eager-checkpointed and SHARED by maxsim_topk_docs,
    maxsim_batch_topk and maxsim_ivf_recall — the groupBy+collect_list
    exchange over embeddings runs once per (session, corpus), not once
    per query (round-14 verdict item 4). Same memo contract as
    _exact_pairs35: no cross-run caching — a fresh session rebuilds,
    and the build cost lands inside the first consuming query's timed
    region (attributed on stderr via _memo_note). Construction is
    deterministic (array_sort by vec_id), so a checkpointed frame is
    row-identical to a rebuilt one."""
    key = (sf_dir, 5, "mv_table")
    ent = _IVF_CACHE.get(key)
    if ent is not None and ent[0] is spark:
        return ent[1]
    import time as _time

    t0 = _time.perf_counter()
    emb = _t(spark, sf_dir, "embeddings")
    mv = (
        emb.groupBy(F.floor(F.col("vec_id") / 5).cast("long").alias("mv_id"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("vec_id", "embedding"))),
                lambda s: s["embedding"],
            ).alias("vecs")
        )
        .localCheckpoint(eager=True)
    )
    _memo_note("mv_table", t0)
    _IVF_CACHE[key] = (spark, mv)
    return mv


def _exact_maxsim10(spark, sf_dir):
    """Exact MaxSim top-10 ground truth for the [QVEC, QVEC2] query
    over the synthesized multivector corpus, eager-checkpointed per
    (session, corpus) — maxsim_ivf_recall's denominator no longer
    re-runs the exact MaxSim corpus scan on every call (round-14
    verdict item 4; the _exact_knn10 treatment)."""
    key = (sf_dir, 10, "exact_maxsim")
    ent = _IVF_CACHE.get(key)
    if ent is not None and ent[0] is spark:
        return ent[1]
    import time as _time

    from vechord_spark.operators.maxsim import maxsim_topk

    t0 = _time.perf_counter()
    exact = (
        maxsim_topk(
            _mv_table(spark, sf_dir), "vecs", [QVEC, QVEC2], k=10,
            select=["mv_id"], tie_break="mv_id",
        )
        .select("mv_id")
        .localCheckpoint(eager=True)
    )
    _memo_note("exact_maxsim10", t0)
    _IVF_CACHE[key] = (spark, exact)
    return exact


def _semdedup_pairs2(spark, sf_dir):
    """The SemDeDup candidate pair frame (cosine >= 0.35 under the
    top-2 bucketer), persisted and SHARED by semdedup_ivf_survivors
    (components + survivor selection) and semdedup_ivf_recall (the
    |bucketed| numerator and, filtered to primary-centroid-equal
    pairs, the single-assignment comparison count) — the bucket-local
    cosine join runs once per (session, corpus), not once per query."""
    key = (sf_dir, 16, 42, "pairs2")
    ent = _IVF_CACHE.get(key)
    if ent is not None and ent[0] is spark:
        return ent[1]
    import time as _time

    t0 = _time.perf_counter()
    emb = _t(spark, sf_dir, "embeddings")
    # blocked-matmul scorer — pair-for-pair identical to the JVM fold
    # path (pinned by test_dedup.py::test_bucketed_pairs_matmul_matches
    # _jvm) at ~5x less wall at sf0.1; eager checkpoint so the build
    # runs once at memo time and downstream composes (components,
    # recall counts) analyze a truncated plan
    pairs = DD.embedding_bucketed_pairs_matmul(
        emb,
        "vec_id",
        "embedding",
        threshold=0.35,
        bucketer=_ivf16_buckets2(spark, sf_dir),
    ).localCheckpoint(eager=True)
    _memo_note("semdedup_pairs2", t0)
    _IVF_CACHE[key] = (spark, pairs)
    return pairs


def _ivf16_buckets2(spark, sf_dir):
    """(vec_id, bucket) with TOP-2 spherical centroid assignment over
    the memoized ``_ivf16`` centroids — the SemDeDup candidate
    bucketer (operators/ivf.assign_centroids_multi). Two rows per
    vector: boundary pairs split by the Voronoi edge — the dominant
    recall loss of single assignment at lists=16 (measured 0.25-0.30
    pair recall) — land in a shared bucket, lifting candidate pair
    recall to 0.61-0.67 at ≤2x bucket rows (BASELINE.md round-9).
    The build-side analog of query-time ``probes``."""
    key = (sf_dir, 16, 42, "b2")
    ent = _IVF_CACHE.get(key)
    if ent is not None and ent[0] is spark:
        return ent[1]
    import re as _re

    from vechord_spark.operators.ivf import assign_centroids_multi
    from vechord_spark.plans.artifacts import ArtifactStore

    src = f"{sf_dir}/embeddings.parquet"
    tag = _re.sub(r"[^a-z0-9]+", "_", sf_dir.lower()).strip("_")

    def _build(tmp):
        index = _ivf16(spark, sf_dir)
        assign_centroids_multi(
            _t(spark, sf_dir, "embeddings").select("vec_id", "embedding"),
            "embedding",
            index.centroids,
            n_assign=2,
            normalize=index.spherical,
        ).select("vec_id", F.explode("centroid_ids").alias("bucket")).write.parquet(
            str(tmp / "buckets")
        )

    path = ArtifactStore(spark).load_or_build(
        f"ivf16_buckets2_{tag}",
        [src],
        {"lists": 16, "seed": 42, "n_assign": 2, "v": 1},
        _build,
    )
    b = spark.read.parquet(str(path / "buckets")).persist()
    _IVF_CACHE[key] = (spark, b)
    return b


@_q("ivf_knn")  # rows-only: IVF probe search is approximate by design
def ivf_knn(spark, sf_dir):
    """K1 at scale: KMeans-IVF index (lists=16), probe-pruned cosine
    search with the reference's default probes = ceil(lists/16)
    (vechord/client.py:285-292). Approximate -> no SQL oracle; recall
    vs exact search is asserted in tests/test_ivf.py."""
    index = _ivf16(spark, sf_dir)
    return index.search(
        QVEC, k=10, probes=4, distance="cos", select=["vec_id"], tie_break="vec_id"
    ).select("vec_id", F.round("distance", 6).alias("distance"))


@_q(
    "rollup_order_stats",
    """
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 2) AS revenue
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def rollup_order_stats(spark, sf_dir):
    """Hierarchical aggregation (ROLLUP): per (status, priority), per
    status, and grand total in one pass — free Catalyst capability the
    reference lacks entirely (SURVEY §2.7)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double"), 2
            ).alias("revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "revenue",
        )
    )


@_q(
    "rerank_reorder",
    f"""
    WITH hits AS ({_BM25_ORACLE}),
    rescored AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('{BM25_QUERY}:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS rr
      FROM hits
    )
    SELECT doc_id, CAST(row_number() OVER (ORDER BY rr, doc_id) AS INT) AS new_rank
    FROM rescored
    """,
)
def rerank_reorder(spark, sf_dir):
    """R3/R4 rerank plumbing: take the BM25 top-10, rescore each hit
    with an external scorer (deterministic md5 stand-in for a
    cross-encoder — real rerankers are rate-limited mapInPandas stages,
    see providers.py), and reorder by the new score."""
    from pyspark.sql import Window

    hits = bm25_topk_documents(spark, sf_dir).select("doc_id")
    rescored = hits.withColumn(
        "rr",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{BM25_QUERY}:"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint"),
    )
    w = Window.orderBy(F.col("rr").asc(), F.col("doc_id").asc())
    return rescored.withColumn("new_rank", F.row_number().over(w)).select(
        "doc_id", "new_rank"
    )


# ===========================================================================
# evaluation metrics, full stack (D16: NDCG / MRR / AP over the same run)
# ===========================================================================

# shared oracle CTE: the 5-query L2 knn run with binary relevance labels
_EVAL_BASE = """
    WITH queries AS (
      SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv, label AS qlabel
      FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
      SELECT q.query_id, e.vec_id AS doc_id, e.label,
             list_distance(CAST(e.embedding AS DOUBLE[]), q.qv) AS d
      FROM embeddings e CROSS JOIN queries q
    ),
    ranked AS (
      SELECT query_id, doc_id, label,
             row_number() OVER (PARTITION BY query_id ORDER BY d, doc_id) AS rank
      FROM scored
    ),
    labeled AS (
      SELECT r.query_id, r.doc_id, r.rank,
             CASE WHEN r.label = q.qlabel THEN 1 ELSE 0 END AS rel
      FROM ranked r JOIN queries q USING (query_id)
      WHERE r.rank <= 10
    ),
    totals AS (
      SELECT q.query_id, count(*) AS n_truth
      FROM embeddings e JOIN queries q ON e.label = q.qlabel
      GROUP BY q.query_id
    )
"""


@_q(
    "hard_negatives",
    _EVAL_BASE
    + """
    SELECT query_id, doc_id AS neg_id, CAST(rank AS INT) AS knn_rank,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY rank)
                AS INT) AS neg_rank
    FROM labeled WHERE rel = 0
    ORDER BY query_id, neg_rank
    """,
)
def hard_negatives(spark, sf_dir):
    """Hard-negative mining (round 11) — the retrieval-TRAINING data
    op (DPR / contrastive fine-tuning recipes): for each query, the
    nearest neighbors that are NOT relevant are exactly the negatives
    a dual encoder learns most from (random negatives are too easy).
    Composition of verified pieces: the shared batch-knn eval run
    (5 queries, L2 top-10) anti-joined against the label-derived
    truth, with a per-query negative rank. At 100 TB this is the
    production mining pass shape: one ANN/knn batch over the query
    stream (the parallel axis), one broadcast/hash anti-join against
    the positives table, one bounded per-query window — no extra
    corpus scan beyond the retrieval itself. Returns
    ``(query_id, neg_id, knn_rank, neg_rank)``."""
    from pyspark.sql import Window

    retrieved, truth = _knn_eval_run(spark, sf_dir)
    negs = retrieved.join(truth, ["query_id", "doc_id"], "left_anti")
    w = Window.partitionBy("query_id").orderBy("rank")
    return (
        negs.select(
            "query_id",
            F.col("doc_id").alias("neg_id"),
            F.col("rank").cast("int").alias("knn_rank"),
            F.row_number().over(w).cast("int").alias("neg_rank"),
        )
        .orderBy("query_id", "neg_rank")
    )


def _knn_eval_run(spark, sf_dir):
    """The shared (retrieved, truth) pair behind every D16 metric query:
    batch L2 knn for 5 query vectors, truth = same-label rows."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
    )
    retrieved = knn_join(
        queries, emb, "qv", "embedding", "query_id", "vec_id", k=10, distance="l2"
    ).select("query_id", F.col("vec_id").alias("doc_id"), "rank")
    truth = (
        emb.select(F.col("vec_id").alias("doc_id"), "label")
        .join(queries.select("query_id", "qlabel"), F.col("label") == F.col("qlabel"))
        .select("query_id", "doc_id")
    )
    return retrieved, truth


@_q(
    "eval_ndcg_knn",
    _EVAL_BASE
    + """,
    dcg AS (
      SELECT query_id, sum(1.0 / log2(rank + 1)) AS dcg
      FROM labeled WHERE rel = 1 GROUP BY query_id
    ),
    ideal AS (
      SELECT query_id,
             list_sum(list_transform(generate_series(1, least(n_truth, 10)),
                                     i -> 1.0 / log2(i + 1))) AS idcg
      FROM totals
    )
    SELECT q.query_id,
           round(coalesce(d.dcg, 0.0) / coalesce(i.idcg, 1.0), 6) AS ndcg
    FROM queries q
    LEFT JOIN dcg d USING (query_id)
    LEFT JOIN ideal i USING (query_id)
    """,
)
def eval_ndcg_knn(spark, sf_dir):
    """D16 binary-relevance NDCG@10 per query (reference pytrec_eval
    usage, vechord/evaluate.py:21-66) as pure DataFrame aggregation."""
    from vechord_spark.operators.evaluate import ndcg_at_k

    retrieved, truth = _knn_eval_run(spark, sf_dir)
    return ndcg_at_k(retrieved, truth, k=10)


@_q(
    "eval_mrr_knn",
    _EVAL_BASE
    + """
    SELECT q.query_id,
           round(coalesce(1.0 / min(CASE WHEN l.rel = 1 THEN l.rank END), 0.0), 6) AS rr
    FROM queries q LEFT JOIN labeled l USING (query_id)
    GROUP BY q.query_id
    """,
)
def eval_mrr_knn(spark, sf_dir):
    """D16 reciprocal rank of the first relevant hit
    (vechord/evaluate.py:81-86)."""
    from vechord_spark.operators.evaluate import mrr

    retrieved, truth = _knn_eval_run(spark, sf_dir)
    return mrr(retrieved, truth)


@_q(
    "eval_ap_knn",
    _EVAL_BASE
    + """,
    cum AS (
      SELECT query_id, rank, rel,
             sum(rel) OVER (PARTITION BY query_id ORDER BY rank) AS cum_rel
      FROM labeled
    )
    SELECT c.query_id,
           round(sum(c.cum_rel / CAST(c.rank AS DOUBLE)) / max(t.n_truth), 6) AS ap
    FROM cum c JOIN totals t USING (query_id)
    WHERE c.rel = 1
    GROUP BY c.query_id
    """,
)
def eval_ap_knn(spark, sf_dir):
    """D16 average precision (vechord/evaluate.py:68-79): mean over
    relevant positions of precision@i, normalized by |truth|."""
    from vechord_spark.operators.evaluate import average_precision

    retrieved, truth = _knn_eval_run(spark, sf_dir)
    return average_precision(retrieved, truth)


# ===========================================================================
# graph: relation merge (G2) + 2-hop graph search (G3)
# ===========================================================================


@_q(
    "graph_relation_merge",
    f"""
    WITH toks AS (
      SELECT {_TOK.format(col='text')} AS ts, lang || ':' || source AS descr
      FROM documents
    ),
    m AS (
      SELECT least(ts[1], ts[-1]) AS source,
             greatest(ts[1], ts[-1]) AS target,
             descr
      FROM toks
    )
    SELECT source, target,
           string_agg(descr, chr(10) ORDER BY descr) AS description
    FROM m GROUP BY source, target
    """,
)
def graph_relation_merge(spark, sf_dir):
    """G2 relation upsert-merge (vechord/pipeline.py:375-392): key is
    the *unordered* endpoint pair (array_sort), descriptions newline-
    concatenated in deterministic order. Relation mentions derived from
    each document's (first token, last token) pair."""
    from vechord_spark.operators.graph import merge_relations

    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokenize("text")
    mentions = docs.select(
        F.element_at(toks, 1).alias("source"),
        F.element_at(toks, -1).alias("target"),
        F.concat_ws(":", "lang", "source").alias("description"),
    )
    return merge_relations(mentions)


@_q(
    "graph_search_2hop",
    f"""
    WITH rel AS (
      SELECT vec_id AS source,
             (vec_id + 1) % (SELECT count(*) FROM embeddings) AS target,
             1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), {_QV_SQL}) AS d
      FROM embeddings WHERE vec_id % 2 = 0
    ),
    toprel AS (SELECT source, target FROM rel ORDER BY d, source LIMIT 10),
    ends AS (
      SELECT DISTINCT uid FROM (
        SELECT source AS uid FROM toprel UNION ALL SELECT target AS uid FROM toprel
      )
    ),
    ent AS (
      SELECT e.vec_id AS uid,
             1.0 - list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), {_QV_SQL}) AS d,
             [e.vec_id % (SELECT count(*) FROM documents),
              (e.vec_id * 7 + 3) % (SELECT count(*) FROM documents)] AS chunk_uuids
      FROM embeddings e JOIN ends ON e.vec_id = ends.uid
    ),
    topent AS (SELECT uid, d, chunk_uuids FROM ent ORDER BY d, uid LIMIT 10),
    exploded AS (
      SELECT chunk_uuids[1] AS cid, d, 0 AS seq FROM topent
      UNION ALL
      SELECT chunk_uuids[2] AS cid, d, 1 AS seq FROM topent
    ),
    firstseen AS (
      SELECT cid, d, seq,
             row_number() OVER (PARTITION BY cid ORDER BY d, seq) AS rn
      FROM exploded
    ),
    picked AS (SELECT cid, d, seq FROM firstseen WHERE rn = 1 ORDER BY d, seq LIMIT 10)
    SELECT doc.doc_id, doc.n_chars
    FROM documents doc JOIN picked ON doc.doc_id = picked.cid
    """,
)
def graph_search_2hop(spark, sf_dir):
    """G3 2-hop graph expansion (vechord/pipeline.py:444-487): relation
    k-NN -> endpoint entities -> entity k-NN -> chunk expansion with
    first-seen dedup. Synthetic graph: embeddings rows are entities;
    even rows also act as relations (source=vec_id, target=next id);
    entity chunk lists map into the documents table."""
    from vechord_spark.operators.graph import graph_search

    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
    n_emb = _cached_count(emb, sf_dir, "embeddings")
    n_doc = _cached_count(docs, sf_dir, "documents")
    entities = emb.select(
        F.col("vec_id").alias("uid"),
        F.col("embedding").alias("vec"),
        F.array(
            F.col("vec_id") % n_doc, (F.col("vec_id") * 7 + 3) % n_doc
        ).alias("chunk_uuids"),
    )
    relations = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("source"),
        ((F.col("vec_id") + 1) % n_emb).alias("target"),
        F.col("embedding").alias("vec"),
    )
    hits = graph_search(relations, entities, docs, QVEC, chunk_id="doc_id")
    return hits.select("doc_id", "n_chars")


# ===========================================================================
# multimodal metadata + delete-cascade plan
# ===========================================================================


@_q(
    "multimodal_meta",
    """
    SELECT 'm' || CAST(doc_id AS VARCHAR) AS media_id,
           'image' AS kind,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest
    FROM documents
    """,
)
def multimodal_meta(spark, sf_dir):
    """Multimodal column plumbing (sources/multimodal.py): media as an
    opaque binary column plus typed metadata computed engine-side (byte
    length, content digest). Payloads synthesized from text — codec
    decode itself is stubbed (no image libs in container), the binary
    column path is real."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("data"),
    )
    return media.select(
        "media_id",
        "kind",
        F.length("data").cast("bigint").alias("n_bytes"),
        F.md5("data").alias("digest"),
    )


# deterministic mojibake fixture vocabulary (doc_id % 7 picks one)
_MOJI_WORDS = [
    "café", "naïve", "résumé", "Zürich", "smörgåsbord", "façade", "jalapeño",
]


@_q(
    "mojibake_scrub_report",
    f"""
    SELECT doc_id,
           md5(text || ' ' ||
               list_value({", ".join("'" + w + "'" for w in _MOJI_WORDS)})
                   [doc_id % 7 + 1]) AS fixed_md5,
           CAST(CASE WHEN doc_id % 6 = 0 THEN 2
                     WHEN doc_id % 3 = 0 THEN 1
                     ELSE 0 END AS INT) AS mojibake_passes
    FROM documents
    ORDER BY doc_id
    """,
)
def mojibake_scrub_report(spark, sf_dir):
    """Mojibake repair pass (round 11, operators/normalize.
    scrub_mojibake — the ftfy fix_text core): undo
    UTF-8-read-as-latin-1/cp1252 damage, the most common text
    corruption in crawl corpora, BEFORE tokenization so every
    downstream signal sees clean text. Fixture: each doc gets a
    deterministic non-ASCII suffix (doc_id % 7 picks the word); docs
    with doc_id % 3 == 0 are corrupted by one UTF-8->latin-1 round
    trip, doc_id % 6 == 0 twice (double mojibake). Spark repairs with
    the inverse round trip (iterated; clean accented text refuses the
    trip because its cp1252 bytes are not valid UTF-8); the oracle
    recomputes the EXPECTED clean text and pass counts from doc_id
    arithmetic alone — a hash match proves byte-exact repair. One
    Arrow pass, zero shuffles."""
    import pandas as _pd

    from vechord_spark.operators.normalize import scrub_mojibake
    from vechord_spark.parallel import spread as _spread

    def _gen(batches):
        for pdf in batches:
            texts = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                did = int(did)
                s = f"{text} {_MOJI_WORDS[did % 7]}"
                if did % 3 == 0:
                    s = s.encode("utf-8").decode("latin-1")
                if did % 6 == 0:
                    s = s.encode("utf-8").decode("latin-1")
                texts.append(s)
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "text": texts})

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dirty = _spread(docs).mapInPandas(_gen, "doc_id long, text string")
    return (
        scrub_mojibake(dirty, "doc_id", "text")
        .select(
            "doc_id",
            F.md5("text").alias("fixed_md5"),
            "mojibake_passes",
        )
        .orderBy("doc_id")
    )


@_q(
    "media_exif_report",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 6 THEN NULL
                ELSE CAST(doc_id % 8 + 1 AS INT) END AS orientation,
           CASE WHEN doc_id % 7 = 6 THEN NULL
                ELSE 'C' || CAST(doc_id % 3 AS VARCHAR) END AS make,
           CASE WHEN doc_id % 7 = 6 THEN FALSE
                ELSE doc_id % 4 = 0 END AS has_gps
    FROM documents
    ORDER BY doc_id
    """,
)
def media_exif_report(spark, sf_dir):
    """EXIF metadata pass over a media corpus (round 11,
    sources/exif.attach_exif): per-object orientation / camera make /
    GPS-presence flag — the camera-metadata scan a crawl pipeline runs
    before any pixel decodes (orientation feeds thumbnailing, GPS
    presence is the PII flag a privacy scrub keys on). Fixture: one
    tiny JPEG container encoded ONCE driver-side, per-row APP1 EXIF
    segments spliced in with fields that are pure doc_id arithmetic
    (every 7th doc carries no EXIF — absence is data, reported as the
    all-None row), so the oracle recomputes the expected records from
    doc_id alone while Spark actually walks the TIFF IFD structures.
    One Arrow-batched pass; the exchange carries nothing (scan ->
    project)."""
    import struct as _struct

    import numpy as _np
    import pandas as _pd

    from vechord_spark.parallel import spread as _spread
    from vechord_spark.sources.exif import attach_exif
    from vechord_spark.sources.jpeg import encode_jpeg

    base = encode_jpeg(8, 8, 3, _np.full((8, 8, 3), 96, _np.uint8).tobytes())

    def _exif_block(orientation: int, make: str, gps: bool) -> bytes:
        # minimal II TIFF: every value inline (make is 2 chars + NUL)
        entries = [
            (0x010F, 2, 3, make.encode("ascii") + b"\x00\x00"),
            (0x0112, 3, 1, _struct.pack("<H", orientation) + b"\x00\x00"),
        ]
        if gps:
            entries.append((0x8825, 4, 1, b"\x00\x00\x00\x00"))
        ifd = _struct.pack("<H", len(entries))
        for tag, typ, cnt, val in sorted(entries):
            ifd += _struct.pack("<HHI", tag, typ, cnt) + val
        ifd += _struct.pack("<I", 0)
        return b"II" + _struct.pack("<H", 42) + _struct.pack("<I", 8) + ifd

    def _gen(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 7 == 6:
                    blobs.append(base)
                    continue
                block = _exif_block(did % 8 + 1, f"C{did % 3}", did % 4 == 0)
                payload = b"Exif\x00\x00" + block
                app1 = (
                    b"\xff\xe1"
                    + _struct.pack(">H", 2 + len(payload))
                    + payload
                )
                blobs.append(base[:2] + app1 + base[2:])
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    media = _spread(docs).mapInPandas(_gen, "doc_id long, blob binary")
    return (
        attach_exif(media, "blob")
        .select(
            "doc_id",
            F.col("exif.orientation").alias("orientation"),
            F.col("exif.make").alias("make"),
            F.col("exif.has_gps").alias("has_gps"),
        )
        .orderBy("doc_id")
    )


@_q(
    "media_dedup_pairs",
    """
    -- the synthesized corpus makes the TRUE near-dup pair set a pure
    -- function of doc_id arithmetic: docs group by doc_id // 5; the
    -- first three variants of each group are the SAME image
    -- re-encoded (PNG / BMP container / +20 brightness), the last two
    -- are distinct images — so the exact expected pairs are the
    -- within-group cliques over variants 0..2, at Hamming distance 0
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS INT) AS hamming
    FROM documents a JOIN documents b
      ON a.doc_id // 5 = b.doc_id // 5
     AND a.doc_id < b.doc_id
     AND a.doc_id % 5 < 3 AND b.doc_id % 5 < 3
    ORDER BY id_a, id_b
    """,
)
def media_dedup_pairs(spark, sf_dir):
    """Image near-dedup over a REAL decode path (round 10): a media
    corpus synthesized from the documents table — per group of five
    doc_ids, one deterministic 32x32 gradient image encoded as (v0)
    PNG, (v1) the same pixels in a BMP container, (v2) the same pixels
    +20 brightness in PNG, plus (v3, v4) two distinct images — runs
    through decode -> integer-luma dHash -> banded-Hamming pair
    generation (sources/multimodal.media_near_duplicates). dHash is
    container- and brightness-invariant, so the recovered pair set is
    EXACTLY the within-group re-encode cliques, which the oracle
    derives from doc_id arithmetic alone. At 100 TB the decode+hash
    pass is one Arrow-batched scan of the media bytes and the pair
    stage shuffles only (id, 8-byte hash) rows — the image twin of
    text SimHash dedup. Zero-padded string media ids keep the pair
    orientation identical to numeric order in both engines."""
    import numpy as np
    import pandas as pd

    from vechord_spark.parallel import spread
    from vechord_spark.sources.multimodal import media_near_duplicates

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def _gen(batches):
        from vechord_spark.sources.multimodal import DecodedImage, _png_encode

        def gradient(gid: int, flavor: int) -> bytes:
            # a fully random luma field per (group, flavor): dHash bits
            # of two DISTINCT images are then independent coin flips
            # (~32 bits apart), while re-encoded variants are exact
            # copies (0 bits). A shared smooth ramp + noise is NOT
            # enough — noise rarely flips a strong gradient's sign and
            # every image would collide (measured: 70k pairs vs 300)
            rng = np.random.default_rng(gid * 1_000_003 + flavor * 97 + 5)
            w = h = 32
            c = rng.integers(0, 201, size=(h, w)).astype(np.uint8)
            px = np.stack([c, c, (c + 40) % 201], axis=-1)
            return np.ascontiguousarray(px).tobytes()

        def bmp_of(px: bytes, w: int, h: int) -> bytes:
            import struct as _s

            rowsize = (3 * w + 3) & ~3
            arr = np.frombuffer(px, np.uint8).reshape(h, w, 3)
            rows = []
            for y in range(h - 1, -1, -1):
                row = arr[y, :, ::-1].tobytes()  # BGR
                rows.append(row + b"\x00" * (rowsize - len(row)))
            img = b"".join(rows)
            head = b"BM" + _s.pack("<IHHI", 54 + len(img), 0, 0, 54)
            head += _s.pack(
                "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(img), 2835, 2835, 0, 0
            )
            return head + img

        for pdf in batches:
            ids, blobs = [], []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                gid, v = divmod(doc_id, 5)
                if v == 0:
                    px = gradient(gid, 0)
                    data = _png_encode(DecodedImage(32, 32, 3, px))
                elif v == 1:
                    px = gradient(gid, 0)
                    data = bmp_of(px, 32, 32)
                elif v == 2:
                    px = bytes(p + 20 for p in gradient(gid, 0))
                    data = _png_encode(DecodedImage(32, 32, 3, px))
                else:
                    px = gradient(gid, v)  # distinct per variant
                    data = _png_encode(DecodedImage(32, 32, 3, px))
                ids.append(f"{doc_id:012d}")
                blobs.append(data)
            yield pd.DataFrame({"media_id": ids, "data": blobs})

    media = spread(docs).mapInPandas(
        _gen, "media_id string, data binary"
    )
    pairs = media_near_duplicates(media, max_hamming=3)
    return pairs.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"),
    ).orderBy("id_a", "id_b")


@_q(
    "audio_band_report",
    """
    -- the synthesized corpus makes each clip's spectral band a pure
    -- function of doc_id: silent clips (doc_id % 16 = 0) land in band
    -- 0; a pure sine at 400 * (1 + doc_id % 8) Hz reads its own
    -- frequency to within a few Hz, so banding at 400 Hz is exact
    SELECT CAST(CASE WHEN doc_id % 16 = 0 THEN 0
                     ELSE 1 + doc_id % 8 END AS INT) AS band,
           CAST(count(*) AS BIGINT) AS n_clips
    FROM documents
    GROUP BY 1
    ORDER BY band
    """,
)
def audio_band_report(spark, sf_dir):
    """Audio corpus triage over a REAL decode+DSP path (round 10): a
    WAV corpus synthesized from the documents table — per doc_id a
    0.25 s 16-bit PCM clip, silent when doc_id % 16 == 0, otherwise a
    pure sine at 400 * (1 + doc_id % 8) Hz — runs through the stdlib
    WAV decoder and the rfft spectral features
    (sources/multimodal.audio_features), then buckets clips by
    centroid band (400 Hz bins; silent clips have zero spectral mass
    and land in band 0 via the silence_ratio gate). The sine
    frequencies sit exactly on rfft bins (4 Hz resolution at 0.25 s /
    8 kHz), so the measured centroid is the synthesized frequency and
    the oracle derives the whole report from doc_id arithmetic. At
    100 TB this is the per-wave audio health report: one Arrow-batched
    pass over the audio bytes, one tiny aggregate."""
    import io as _io
    import struct as _struct
    import wave as _wave

    import numpy as np
    import pandas as pd

    from vechord_spark.parallel import spread
    from vechord_spark.sources.multimodal import audio_features

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def _gen(batches):
        def clip(doc_id: int) -> bytes:
            rate, secs = 8000, 0.25
            n = int(rate * secs)
            if doc_id % 16 == 0:
                x = np.zeros(n)
            else:
                freq = 400.0 * (1 + doc_id % 8)
                x = 0.5 * np.sin(2 * np.pi * freq * np.arange(n) / rate)
            pcm = (x * 32767).astype("<i2").tobytes()
            buf = _io.BytesIO()
            with _wave.open(buf, "wb") as w:
                w.setnchannels(1)
                w.setsampwidth(2)
                w.setframerate(rate)
                w.writeframes(pcm)
            return buf.getvalue()

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "data": [clip(int(i)) for i in pdf["doc_id"]],
                }
            )

    clips = spread(docs).mapInPandas(_gen, "doc_id long, data binary")
    feats = audio_features(clips).select("doc_id", "audio.*")
    banded = feats.select(
        F.when(F.col("silence_ratio") >= 1.0, F.lit(0))
        .otherwise(
            F.round(F.col("spectral_centroid_hz") / F.lit(400.0)).cast("int")
        )
        .alias("band")
    )
    return (
        banded.groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_clips"))
        .orderBy("band")
    )


@_q(
    "bpe_token_counts",
    """
    -- the synthesized corpus makes every BPE outcome a pure function
    -- of doc_id: text(doc) = one 5-letter word (chosen by doc_id % 5)
    -- space-joined n = (doc_id % 7) + 1 times. Trained to convergence
    -- on this corpus every distinct pre-token ("word" and " word")
    -- merges into ONE symbol, so tokens(doc) = n exactly, and the
    -- UTF-8 byte count is 6 * n - 1 (all words are 5 ASCII letters)
    SELECT CAST((doc_id % 7) + 1 AS INT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(6 * ((doc_id % 7) + 1) - 1) AS BIGINT) AS total_bytes
    FROM documents
    GROUP BY 1
    ORDER BY n_tokens
    """,
)
def bpe_token_counts(spark, sf_dir):
    """Byte-level BPE train + encode end-to-end (round 10): a corpus
    synthesized from the documents table — per doc_id, one 5-letter
    word repeated (doc_id % 7) + 1 times — goes through the FULL
    tokenizer lifecycle: distributed word-frequency counting (one
    map-side-combined shuffle), the bounded driver-side merge loop
    (functions/bpe.train_bpe), then the Arrow-batched token-count
    encoder over the same frame. The corpus has exactly 10 distinct
    pre-tokens, so 64 merges train to convergence and every pre-token
    encodes to a single symbol — making per-doc token counts (and the
    zero-merge byte counts) pure doc_id arithmetic the oracle can
    state in SQL. The reference's tokenizer surface is the WordPiece
    analog (vechord/spec.py:258-295); byte-level BPE is what LLM
    training corpora are budgeted in, and at 100 TB this plan is the
    real one: word counting is the only shuffle (bounded by distinct
    vocabulary, Heaps' law), training is a driver-side fit over that
    bounded table, and encoding is one Arrow-batched scan."""
    from vechord_spark.functions.bpe import train_bpe

    # no spread(): the two Python stages here move KB-sized Arrow
    # batches, so fanning the tiny scan to 32 partitions costs 3-6x
    # the whole query in per-task overhead (measured 7.1 -> 1.0 s
    # warm). Real corpora arrive wide from the file index on their own.
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    words = F.array(
        *[F.lit(w) for w in ("alpha", "gamma", "delta", "omega", "theta")]
    )
    synth = docs.select(
        "doc_id",
        F.array_join(
            F.array_repeat(
                F.element_at(words, (F.col("doc_id") % 5 + 1).cast("int")),
                (F.col("doc_id") % 7 + 1).cast("int"),
            ),
            " ",
        ).alias("text"),
    )
    tok = train_bpe(synth, num_merges=64, max_words=1024)
    counted = synth.select(
        tok.token_count_column("text").cast("int").alias("n_tokens"),
        F.octet_length("text").alias("bytes"),
    )
    return (
        counted.groupBy("n_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("bytes").cast("bigint").alias("total_bytes"),
        )
        .orderBy("n_tokens")
    )


@_q(
    "unigram_token_counts",
    """
    -- same synthesized corpus and arithmetic as bpe_token_counts:
    -- text(doc) = one 5-letter word repeated n = (doc_id % 7) + 1
    -- times. A unigram model fitted on this corpus keeps every
    -- pre-token ("word" and " word") as a whole piece (the full-word
    -- piece dominates any split under the independence model), so the
    -- Viterbi count is exactly n per doc and the char count 6n - 1
    SELECT CAST((doc_id % 7) + 1 AS INT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(6 * ((doc_id % 7) + 1) - 1) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    ORDER BY n_tokens
    """,
)
def unigram_token_counts(spark, sf_dir):
    """Unigram-LM tokenizer train + encode end-to-end (functions/
    unigram.py — SentencePiece's algorithm, Kudo 2018; the third
    production tokenizer beside BPE and WordPiece, pruning a seeded
    substring vocabulary by Viterbi-EM instead of growing one by
    merges). Same corpus-synthesis trick as bpe_token_counts: 10
    distinct pre-tokens, so the fitted model keeps each whole word as
    one piece and the per-doc token count is pure doc_id arithmetic
    the oracle states in SQL. Same scale plan too: ONE word-count
    shuffle (vocabulary-bounded), driver-side seed/EM/prune fit,
    Arrow-batched Viterbi counting scan."""
    from vechord_spark.functions.unigram import train_unigram

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    words = F.array(
        *[F.lit(w) for w in ("alpha", "gamma", "delta", "omega", "theta")]
    )
    synth = docs.select(
        "doc_id",
        F.array_join(
            F.array_repeat(
                F.element_at(words, (F.col("doc_id") % 5 + 1).cast("int")),
                (F.col("doc_id") % 7 + 1).cast("int"),
            ),
            " ",
        ).alias("text"),
    )
    tok = train_unigram(synth, vocab_size=64, em_iters=2, max_words=1024)
    counted = synth.select(
        tok.token_count_column("text").cast("int").alias("n_tokens"),
        F.length("text").alias("chars"),
    )
    return (
        counted.groupBy("n_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("n_tokens")
    )


_UNIGRAM_BM25_CACHE: dict = {}


def _unigram_bm25(spark, sf_dir):
    """BM25 index whose corpus AND queries are tokenized by a TRAINED
    UnigramTokenizer (the per-index persisted-tokenizer contract the
    reference encodes in its index DDL, vechord/spec.py:258-295;
    registry.build_keyword_index(tokenizer=...) persists/reloads the
    same model — round-trip pinned in tests/test_registry.py). Built
    over the same synthesized corpus as unigram_token_counts so every
    posting is doc_id arithmetic: text(doc) = word(doc_id % 5)
    repeated n = (doc_id % 7) + 1 times, and the fitted model keeps
    each whole pre-token as one piece — so tokens(doc) =
    ["w", " w" × (n-1)] exactly."""
    from vechord_spark.functions.unigram import train_unigram
    from vechord_spark.operators.bm25 import Bm25Index

    ent = _UNIGRAM_BM25_CACHE.get(sf_dir)
    if ent is not None and ent[0] is spark:
        return ent[1]
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    words = F.array(
        *[F.lit(w) for w in ("alpha", "gamma", "delta", "omega", "theta")]
    )
    synth = docs.select(
        "doc_id",
        F.array_join(
            F.array_repeat(
                F.element_at(words, (F.col("doc_id") % 5 + 1).cast("int")),
                (F.col("doc_id") % 7 + 1).cast("int"),
            ),
            " ",
        ).alias("text"),
    )
    tok = train_unigram(synth, vocab_size=64, em_iters=2, max_words=1024)
    index = Bm25Index(synth, "doc_id", "text", tokenizer=tok).persist(eager=True)
    _UNIGRAM_BM25_CACHE[sf_dir] = (spark, index)
    return index


@_q(
    "bm25_unigram_topk",
    """
    -- corpus synthesized as in unigram_token_counts: doc -> word
    -- w(doc_id % 5) repeated n = (doc_id % 7) + 1 times. Under the
    -- trained unigram model each pre-token is ONE piece with the BPE
    -- leading-space convention, so tokens(doc) = ["w", " w"*(n-1)]:
    -- dl = n, tf("w") = 1, tf(" w") = n - 1. The query "alpha delta"
    -- tokenizes to ["alpha", " delta"] — matching term "alpha" with
    -- tf=1 in every alpha doc and " delta" with tf=n-1 in delta docs
    -- that repeat (n >= 2). BM25 (k1=1.2, b=0.75, Robertson idf,
    -- round 6) is then pure doc_id arithmetic.
    WITH synth AS (
      SELECT doc_id,
             (['alpha','gamma','delta','omega','theta'])[(doc_id % 5) + 1] AS w,
             (doc_id % 7) + 1 AS n
      FROM documents
    ),
    stats AS (SELECT count(*) AS n_docs, avg(n) AS avgdl FROM synth),
    posts AS (
      SELECT doc_id, n AS dl, 1 AS tf, 'alpha' AS term
      FROM synth WHERE w = 'alpha'
      UNION ALL
      SELECT doc_id, n AS dl, n - 1 AS tf, ' delta' AS term
      FROM synth WHERE w = 'delta' AND n >= 2
    ),
    dfq AS (
      SELECT 'alpha' AS term, count(*) AS df FROM synth WHERE w = 'alpha'
      UNION ALL
      SELECT ' delta' AS term, count(*) AS df
      FROM synth WHERE w = 'delta' AND n >= 2
    ),
    scored AS (
      SELECT posts.doc_id,
             round(sum(
               ln((stats.n_docs - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
               * (posts.tf * 2.2)
               / (posts.tf + 1.2 * (1 - 0.75 + 0.75 * posts.dl / stats.avgdl))
             ), 6) AS score
      FROM posts JOIN dfq USING (term) CROSS JOIN stats
      GROUP BY posts.doc_id
    )
    SELECT doc_id, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
    FROM scored
    ORDER BY rank
    LIMIT 10
    """,
)
def bm25_unigram_topk(spark, sf_dir):
    """K3 with a TRAINED tokenizer end-to-end (round-12 verdict ask
    #5): the Unigram-LM model (functions/unigram.py, Kudo 2018) is the
    per-index tokenizer for BOTH the corpus postings and the query
    string — the reference's per-index persisted-tokenizer semantics
    (vechord/spec.py:258-295, client.py:230-238), where any trained
    model must tokenize queries exactly as it tokenized the corpus.
    The synthesized corpus makes every posting analytic (see
    ``_unigram_bm25``), so the oracle states the full BM25 ranking in
    SQL — including the leading-space piece asymmetry ("alpha" vs
    " delta") that only a correctly shared corpus/query tokenizer
    reproduces: a query path that fell back to the engine tokenizer
    would emit "delta" (no space), match nothing, and hash-mismatch.
    The registry twin (build_keyword_index(tokenizer=UnigramTokenizer)
    persist → fresh-session reload → identical search) is pinned in
    tests/test_registry.py."""
    return _unigram_bm25(spark, sf_dir).topk("alpha delta", k=10)


@_q(
    "cdc_shared_passages",
    """
    -- the synthesized corpus makes the shared-passage pair set pure
    -- doc_id arithmetic: docs group by doc_id // 4 and every group
    -- member embeds the SAME ~1500-char passage between unique
    -- affixes. Content-defined chunking resynchronizes inside the
    -- shared passage regardless of the affixes (the Gear-hash window
    -- is 64 bytes), so same-group pairs share all interior passage
    -- chunks (>> the min_shared=2 floor) and cross-group docs share
    -- none — the recovered pairs are exactly the within-group pairs
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM documents a JOIN documents b
      ON a.doc_id // 4 = b.doc_id // 4 AND a.doc_id < b.doc_id
    ORDER BY id_a, id_b
    """,
)
def cdc_shared_passages(spark, sf_dir):
    """Partial-duplicate (shared passage) detection end-to-end
    (round 10): a corpus synthesized from the documents table — per
    group of four doc_ids one deterministic ~1500-char passage,
    wrapped in per-doc unique 100-char affixes — runs through
    content-defined chunking (operators/cdc: rolling Gear hash,
    FastCDC family) and bucket-local shared-chunk pair generation.
    CDC's resynchronization property makes the outcome exact: chunk
    boundaries depend only on a 64-byte local window, so the unique
    affixes perturb at most the passage's first/last chunk and every
    interior chunk fingerprint is shared group-wide — the oracle
    states the pair set from doc_id arithmetic alone. This is the
    below-document-level dedup pass (the contamination mode document
    dedup misses: copied paragraphs/boilerplate, Lee et al. 2022). At
    100 TB: one Arrow-batched chunk+hash scan, an exchange of
    (doc_id, 16-byte md5) rows, and mega-bucket-capped pair
    generation — the same bounded shape as the MinHash band join."""
    import numpy as np
    import pandas as pd

    from vechord_spark.operators.cdc import cdc_chunk_hashes, shared_chunk_pairs
    from vechord_spark.parallel import spread

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def _gen(batches):
        def rand_text(seed: int, n: int) -> str:
            rng = np.random.default_rng(seed)
            return "".join(chr(97 + int(c)) for c in rng.integers(0, 26, n))

        passages: dict[int, str] = {}
        for pdf in batches:
            ids, texts = [], []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                gid = doc_id // 4
                p = passages.get(gid)
                if p is None:
                    p = rand_text(gid * 9_999_991 + 3, 1500)
                    passages[gid] = p
                affix = rand_text(doc_id * 7_777_777 + 11, 200)
                ids.append(doc_id)
                texts.append(affix[:100] + p + affix[100:])
            yield pd.DataFrame({"doc_id": ids, "text": texts})

    corpus = spread(docs).mapInPandas(_gen, "doc_id long, text string")
    chunks = cdc_chunk_hashes(corpus)
    return (
        shared_chunk_pairs(chunks, min_shared=2)
        .select(
            F.col("id_a").cast("bigint").alias("id_a"),
            F.col("id_b").cast("bigint").alias("id_b"),
        )
        .orderBy("id_a", "id_b")
    )


@_q(
    "fuzzy_name_pairs",
    """
    -- brute-force verification of the blocked plan: DuckDB can afford
    -- the O(n^2) Levenshtein cross join at gate scale, Spark runs the
    -- FastSS deletion-neighborhood blocking — same exact pair set
    SELECT a.s_suppkey AS key_a, b.s_suppkey AS key_b,
           CAST(levenshtein(a.s_name, b.s_name) AS INT) AS dist
    FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
    WHERE levenshtein(a.s_name, b.s_name) <= 1
    ORDER BY key_a, key_b
    """,
)
def fuzzy_name_pairs(spark, sf_dir):
    """Edit-distance similarity join on a REAL column (round 10):
    supplier names within Levenshtein distance 1 of each other —
    single-digit typo pairs — via FastSS deletion-neighborhood
    blocking + built-in Levenshtein verification
    (operators/fuzzy.edit_distance_pairs). The oracle is the
    brute-force O(n^2) cross join (DuckDB's levenshtein agrees with
    Spark's unit-cost semantics); the Spark plan is the one that
    survives 100 TB: a bounded variant expansion (L+1 md5 rows per
    string at k=1, pure codegen), one bucket-local equi-join with the
    MinHash mega-bucket cap, and a JVM-side verify — blocking bounds
    work, verification keeps the result exact. Supplier rather than
    customer keeps the TRUE pair volume sane: zero-padded sequential
    names are adversarially dense in edit space (the 15k customers at
    sf0.1 carry 262,500 true ED<=1 pairs — measured, exact, but a
    pair list 17x the input is a template-data pathology, not an
    entity-resolution workload). The entity-resolution op the
    reference's document-level dedup family doesn't cover."""
    from vechord_spark.operators.fuzzy import edit_distance_pairs

    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        edit_distance_pairs(sup, "s_suppkey", "s_name", max_dist=1)
        .select(
            F.col("id_a").cast("bigint").alias("key_a"),
            F.col("id_b").cast("bigint").alias("key_b"),
            F.col("dist").cast("int").alias("dist"),
        )
        .orderBy("key_a", "key_b")
    )


@_q(
    "delete_cascade",
    """
    WITH surviving_cust AS (
      SELECT c_custkey FROM customer
      WHERE NOT (c_mktsegment = 'MACHINERY' AND c_acctbal < 0)
    ),
    surviving_orders AS (
      SELECT o_orderkey FROM orders
      JOIN surviving_cust ON o_custkey = c_custkey
    ),
    surviving_li AS (
      SELECT l_orderkey FROM lineitem
      JOIN surviving_orders ON l_orderkey = o_orderkey
    )
    SELECT 'customer' AS tbl, CAST((SELECT count(*) FROM surviving_cust) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'orders', (SELECT count(*) FROM surviving_orders)
    UNION ALL
    SELECT 'lineitem', (SELECT count(*) FROM surviving_li)
    """,
)
def delete_cascade(spark, sf_dir):
    """P8 delete-by-predicate + P9 ON DELETE CASCADE as the Spark plan
    the registry executes (reference FK cascade, vechord/spec.py:173):
    survivors = NOT(pred); child survivors = left-semi join against the
    surviving parent keys, two FK hops deep. Returns survivor counts
    per table."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    pred = (F.col("c_mktsegment") == "MACHINERY") & (F.col("c_acctbal") < 0)
    sc = cust.filter(~pred)
    so = orders.join(
        sc.select("c_custkey"), F.col("o_custkey") == F.col("c_custkey"), "left_semi"
    )
    sl = li.join(
        so.select("o_orderkey"), F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
    )

    def _count(df, name):
        return df.agg(F.count(F.lit(1)).alias("n_rows")).select(
            F.lit(name).alias("tbl"), "n_rows"
        )

    return (
        _count(sc, "customer")
        .unionByName(_count(so, "orders"))
        .unionByName(_count(sl, "lineitem"))
    )


# ===========================================================================
# ground-truth generation (D17)
# ===========================================================================


@_q(
    "groundtruth_generate",
    _EVAL_BASE
    + """,
    cand AS (SELECT query_id, doc_id FROM ranked WHERE rank <= 10),
    sc AS (
      SELECT c.query_id, c.doc_id,
             CAST(CAST(('0x' || substr(md5('q' || CAST(c.query_id AS VARCHAR)
                        || chr(31) || d.text), 1, 7)) AS BIGINT) % 4 AS INT) AS score
      FROM cand c JOIN documents d ON d.doc_id = c.doc_id
    ),
    kept AS (
      SELECT query_id, list_sort(list(doc_id)) AS truth
      FROM sc WHERE score >= 2 GROUP BY query_id
    )
    SELECT q.query_id,
           coalesce(array_to_string(k.truth, ','), '') AS truth
    FROM (SELECT DISTINCT query_id FROM sc) q
    LEFT JOIN kept k USING (query_id)
    """,
)
def groundtruth_generate(spark, sf_dir):
    """D17 ground-truth generation (vechord/groundtruth.py:28-88):
    batch retrieval for 5 queries, deterministic UMBRELA-stub scoring
    of each (query, doc) pair, truth = docs scoring >= 2, persisted as
    one list per query."""
    from vechord_spark.operators.groundtruth import (
        generate_ground_truth,
        umbrela_stub_scores,
    )

    retrieved, _ = _knn_eval_run(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = retrieved.join(docs, "doc_id").select(
        "query_id",
        "doc_id",
        F.concat(F.lit("q"), F.col("query_id").cast("string")).alias("query_text"),
        F.col("text").alias("doc_text"),
    )
    scored = umbrela_stub_scores(pairs).select("query_id", "doc_id", "score")
    truth = generate_ground_truth(scored)
    return truth.select(
        "query_id", F.array_join("truth", ",").alias("truth")
    )


# ===========================================================================
# sparse retrieval (D10): inverted-index dot product over hashed terms
# ===========================================================================


def _sparse_sql(query: str = BM25_QUERY) -> str:
    from vechord_spark.functions.embed import SPARSE_DIM, sparse_query_vector

    qv = sparse_query_vector(query, SPARSE_DIM)
    values = ", ".join(f"({i}, {w!r})" for i, w in sorted(qv.items()))
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOK.format(col='text')}) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    posts AS (
      SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(tok), 1, 7)) AS BIGINT) % {SPARSE_DIM} AS INT) AS idx,
             ln(1.0 + tf) AS v
      FROM tf
    ),
    agg AS (SELECT doc_id, idx, sum(v) AS v FROM posts GROUP BY doc_id, idx),
    q AS (SELECT * FROM (VALUES {values}) AS t(idx, qw)),
    s AS (
      SELECT a.doc_id, round(sum(a.v * q.qw), 6) AS score
      FROM agg a JOIN q ON a.idx = q.idx GROUP BY a.doc_id
    )
    SELECT doc_id, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rank
    FROM s ORDER BY rank LIMIT 10
    """


@_q(
    "sparse_batch_topk",
    f"""
    SELECT CAST(0 AS INT) AS query_id, doc_id, score, rank
    FROM ({_sparse_sql(BM25_QUERY)})
    UNION ALL
    SELECT CAST(1 AS INT) AS query_id, doc_id, score, rank
    FROM ({_sparse_sql("sort merge window batch")})
    """,
)
def sparse_batch_topk(spark, sf_dir):
    """D10 batched: TWO sparse queries answered from ONE scan of the
    persisted range-clustered postings
    (operators/sparse.sparse_topk_postings_batch — union of both
    queries' dimensions drives the pushed idx IN filter, a broadcast
    (query_id, idx, qw) table fans postings to exactly the queries
    weighting each dimension, per-query window top-k). Completes the
    batch family's fourth modality as a driver-checked query
    (registry twin: search_by_sparse_batch, N=64 equality pinned in
    tests/test_batch_amortization.py; 8-62x batch-over-loop measured
    at N=16-256, BASELINE.md round-13). Oracle: the two single-query
    sparse oracles, union-tagged."""
    from vechord_spark.operators.sparse import sparse_topk_postings_batch

    return sparse_topk_postings_batch(
        _sparse_postings(spark, sf_dir), [BM25_QUERY, "sort merge window batch"]
    )


@_q("sparse_knn", _sparse_sql())
def sparse_knn(spark, sf_dir):
    """D10 sparse retrieval: Splade++-shaped hashed-term sparse vectors
    (reference SparseEmbedding, vechord/embedding.py:413-441 — produced
    but never searchable there), scored via the inverted-postings dot
    product with query-dimension pruning before any shuffle."""
    from vechord_spark.operators.sparse import sparse_topk

    docs = _t(spark, sf_dir, "documents")
    return sparse_topk(docs, "doc_id", "text", BM25_QUERY)


@_q(
    "hybrid_rrf_tri",
    f"""
    WITH vec_ranked AS (
      SELECT vec_id AS doc_id,
             CAST(row_number() OVER (
               ORDER BY 1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), {_QV_SQL}), vec_id
             ) AS INT) AS rank
      FROM embeddings
      QUALIFY rank <= 10
    ),
    kw_ranked AS (SELECT doc_id, rank FROM ({_BM25_ORACLE})),
    sparse_ranked AS (SELECT doc_id, rank FROM ({_sparse_sql()})),
    unioned AS (
      SELECT doc_id, rank FROM vec_ranked
      UNION ALL
      SELECT doc_id, rank FROM kw_ranked
      UNION ALL
      SELECT doc_id, rank FROM sparse_ranked
    ),
    fused AS (
      SELECT doc_id, round(sum(1.0 / (59 + rank)), 6) AS rrf_score
      FROM unioned GROUP BY doc_id
    )
    SELECT doc_id, rrf_score,
           CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT) AS rank
    FROM fused
    ORDER BY rank
    LIMIT 10
    """,
)
def hybrid_rrf_tri(spark, sf_dir):
    """TRI-hybrid retrieval — the modern RAG stack's full first stage:
    dense top-10 ∪ BM25 top-10 ∪ SPARSE (Splade-shaped) top-10 fused
    by Reciprocal Rank Fusion (k=60). All three legs are steady-state
    queries against PERSISTED index structures: the IVF-clustered
    layout (all 16 cells = exhaustive, so the oracle stays exact), the
    cached BM25 postings, and the range-clustered sparse postings
    (_sparse_postings). The reference fuses two legs
    (vechord/rerank.py:95-113) and produces sparse embeddings it can
    never retrieve with — this closes that loop."""
    from vechord_spark.operators.sparse import sparse_topk_postings
    from vechord_spark.operators.topk import ranked_topk

    index = _ivf16(spark, sf_dir)
    scored = index.assigned.select(
        "vec_id", cosine_distance("embedding", QVEC).alias("distance")
    )
    vec = ranked_topk(
        scored, [F.col("distance").asc(), F.col("vec_id").asc()], 10
    ).select(F.col("vec_id").alias("doc_id"), "rank")
    kw = _bm25_index(spark, sf_dir).topk(BM25_QUERY, k=10).select(
        "doc_id", "rank"
    )
    sp = sparse_topk_postings(
        _sparse_postings(spark, sf_dir), BM25_QUERY
    ).select("doc_id", "rank")
    return rrf_topk([vec, kw, sp], "doc_id", topk=10)


_SPARSE_IDX_CACHE: dict = {}


def _sparse_postings(spark, sf_dir):
    """Persisted sparse inverted-postings layout, memoized per
    (session, corpus) like _bm25_index: build_sparse_postings once,
    written RANGE-CLUSTERED on idx (repartitionByRange + sort) so the
    parquet footer min/max skips whole files for a query's handful of
    dimensions, then a parquet load forever after."""
    key = sf_dir
    ent = _SPARSE_IDX_CACHE.get(key)
    if ent is not None and ent[0] is spark:
        return ent[1]
    import re as _re

    from vechord_spark.operators.sparse import build_sparse_postings
    from vechord_spark.plans.artifacts import ArtifactStore

    src = f"{sf_dir}/documents.parquet"
    tag = _re.sub(r"[^a-z0-9]+", "_", sf_dir.lower()).strip("_")

    def _build(tmp):
        posts = build_sparse_postings(
            _t(spark, sf_dir, "documents"), "doc_id", "text"
        )
        posts.repartitionByRange(8, F.col("idx")).sortWithinPartitions(
            "idx"
        ).write.parquet(str(tmp / "postings"))

    path = ArtifactStore(spark).load_or_build(
        f"sparse_{tag}", [src], {"v": 1}, _build
    )
    out = spark.read.parquet(str(path / "postings"))
    _SPARSE_IDX_CACHE[key] = (spark, out)
    return out


@_q("sparse_index_topk", _sparse_sql())
def sparse_index_topk(spark, sf_dir):
    """D10 sparse retrieval against the PERSISTED postings layout —
    the bm25_index_topk twin: CREATE INDEX work (tokenize + tf + hash)
    is paid once at build (_sparse_postings, disk-backed), and the
    steady-state query is an ``idx IN (query dims)`` scan the parquet
    reader answers by SKIPPING files/row groups on footer min/max (the
    layout is range-clustered on idx), a broadcast of the query
    weights, and one per-doc sum — O(matched postings), independent of
    corpus text size. Same oracle as sparse_knn: identical math,
    different (indexed) physical plan."""
    from vechord_spark.operators.sparse import sparse_topk_postings

    return sparse_topk_postings(_sparse_postings(spark, sf_dir), BM25_QUERY)


# ===========================================================================
# multi-vector MaxSim top-k over synthesized multivector docs (K2)
# ===========================================================================


@_q(
    "maxsim_topk_docs",
    f"""
    WITH mv AS (
      SELECT CAST(floor(vec_id / 5) AS BIGINT) AS mv_id,
             list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id) AS vecs
      FROM embeddings GROUP BY 1
    ),
    scored AS (
      SELECT mv_id,
             -(list_max(list_transform(vecs, d -> list_dot_product(d, {_QV_SQL}))) +
               list_max(list_transform(vecs, d -> list_dot_product(d, {_QV2_SQL})))) AS d
      FROM mv
    )
    SELECT mv_id, round(d, 6) AS distance
    FROM scored ORDER BY d, mv_id LIMIT 10
    """,
)
def maxsim_topk_docs(spark, sf_dir):
    """K2 MaxSim TOP-K (the reference ``@#`` operator shape,
    vechord/registry.py:227-267): documents are multivector rows (five
    64-d vectors each, synthesized by grouping the embeddings table);
    2-vector query; negated-sum-of-maxes distance, ascending."""
    from vechord_spark.operators.maxsim import maxsim_topk

    # the synthesized multivector corpus is the SHARED _mv_table memo
    # (round 14): the groupBy+collect_list exchange over embeddings is
    # paid once per (session, corpus) across the three maxsim queries
    mv = _mv_table(spark, sf_dir)
    hits = maxsim_topk(mv, "vecs", [QVEC, QVEC2], k=10, select=["mv_id"], tie_break="mv_id")
    return hits.select("mv_id", F.round("maxsim_distance", 6).alias("distance"))


@_q(
    "maxsim_batch_topk",
    f"""
    WITH mv AS (
      SELECT CAST(floor(vec_id / 5) AS BIGINT) AS mv_id,
             list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id) AS vecs
      FROM embeddings GROUP BY 1
    ),
    s0 AS (
      SELECT mv_id,
             -list_max(list_transform(vecs, d -> list_dot_product(d, {_QV_SQL}))) AS d
      FROM mv
    ),
    s1 AS (
      SELECT mv_id,
             -(list_max(list_transform(vecs, d -> list_dot_product(d, {_QV_SQL}))) +
               list_max(list_transform(vecs, d -> list_dot_product(d, {_QV2_SQL})))) AS d
      FROM mv
    ),
    r0 AS (
      SELECT CAST(0 AS INT) AS query_id, mv_id, round(d, 6) AS distance
      FROM s0 ORDER BY d, mv_id LIMIT 10
    ),
    r1 AS (
      SELECT CAST(1 AS INT) AS query_id, mv_id, round(d, 6) AS distance
      FROM s1 ORDER BY d, mv_id LIMIT 10
    )
    SELECT * FROM r0 UNION ALL SELECT * FROM r1
    """,
)
def maxsim_batch_topk(spark, sf_dir):
    """K2 batched: TWO late-interaction queries (one single-token, one
    two-token) scored against the synthesized multivector corpus in
    ONE pass (operators/maxsim.maxsim_topk_batch — each row's token
    matrix stacks once per Arrow batch and scores against every
    query), per-query top-10 through one window. Oracle: the two
    single-query MaxSim oracles union-tagged — the batch must
    reproduce both exactly (same negated-sum-of-maxes convention as
    maxsim_topk_docs)."""
    from vechord_spark.operators.maxsim import maxsim_topk_batch

    mv = _mv_table(spark, sf_dir)
    hits = maxsim_topk_batch(
        mv, "vecs", [[QVEC], [QVEC, QVEC2]], k=10,
        select=["mv_id"], tie_break="mv_id",
    )
    return hits.select(
        "query_id", "mv_id", F.round("maxsim_distance", 6).alias("distance")
    )


@_q("ivf_knn_refined")  # rows-only: approximate two-phase search
def ivf_knn_refined(spark, sf_dir):
    """K1 at scale, phase 2: int8-quantized estimate pass + exact
    rerank within the ``refine`` budget (the reference's
    maxsim_refine/full-precision-budget GUC, default 1000,
    vechord/registry.py:233; RaBitQ estimate->rerank shape)."""
    index = _ivf16(spark, sf_dir)
    return index.search_refined(
        QVEC, k=10, probes=4, refine=200, distance="cos",
        select=["vec_id"], tie_break="vec_id",
    ).select("vec_id", F.round("distance", 6).alias("distance"))


def _lsh_sql() -> str:
    """Exact SQL oracle for the hyperplane-LSH search: the seeded plane
    matrix is deterministic (numpy default_rng(42)), so both the bucket
    bits and the multi-probe bucket list are reproducible literals; the
    pruned exact scoring mirrors the cosine knn oracle."""
    from vechord_spark.operators.lsh import HyperplaneLsh

    lsh = HyperplaneLsh(dim=64, n_planes=8)
    bits = " + ".join(
        "(CASE WHEN list_dot_product(v, [{vals}]) >= 0 THEN {bit} ELSE 0 END)".format(
            vals=", ".join(repr(float(x)) for x in p), bit=1 << i
        )
        for i, p in enumerate(lsh.planes)
    )
    probes = ", ".join(str(b) for b in lsh.probe_buckets(QVEC, multi_probe=1))
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    b AS (SELECT vec_id, v, ({bits}) AS bucket FROM v),
    pruned AS (
      SELECT vec_id, 1.0 - list_cosine_similarity(v, {_QV_SQL}) AS d
      FROM b WHERE bucket IN ({probes})
    )
    SELECT vec_id, round(d, 6) AS distance
    FROM pruned
    ORDER BY d, vec_id
    LIMIT 10
    """


@_q("lsh_knn", _lsh_sql())
def lsh_knn(spark, sf_dir):
    """K1 at scale, LSH variant: hyperplane (sign-random-projection)
    buckets + multi-probe pruning before exact scoring — the
    LSH-bucketed companion to the IVF path (partition pruning when the
    table is laid out by bucket). Seed-deterministic -> exact SQL
    oracle with the plane matrix inlined as literals."""
    from vechord_spark.operators.lsh import HyperplaneLsh

    emb = _t(spark, sf_dir, "embeddings")
    lsh = HyperplaneLsh(dim=64, n_planes=8)
    return lsh.search(
        emb, "embedding", QVEC, k=10, multi_probe=1,
        select=["vec_id"], tie_break="vec_id",
    ).select("vec_id", F.round("distance", 6).alias("distance"))


_IVF_RECALL_ORACLE = """
    SELECT CAST(10 AS INT) AS k, CAST(4 AS INT) AS probes,
           CAST(0.4 AS DOUBLE) AS recall_floor, CAST(1 AS INT) AS recall_ok
"""


def _ivf_recall_frame(spark, sf_dir, refined: bool):
    """One-row frame asserting in-plan that IVF probe search recall@10
    vs exact k-NN meets the documented floor. KMeans is not
    SQL-expressible, so the oracle pins the CLAIM (config + floor +
    pass bit) while Spark computes the actual recall distributively —
    the gate fails if the index ever under-recalls the floor.
    Measured recall at probes=4 with the round-7 spherical fit
    (unit-norm cells, kmeans++ best-of-3 restarts, raw-vector
    hash-ordered training sample): 0.5 (sf0.001) / 0.7 (sf0.01) /
    0.6 (sf0.1) — the sf0.01 value the round-5 fit change had dropped
    to 0.4 is recovered (BASELINE.md round-7). The floor stays 0.4 for
    slack against re-seeding; the seeded driver-side fit is
    deterministic for fixed data, so the gate value is reproducible
    run-to-run."""
    emb = _t(spark, sf_dir, "embeddings")
    exact = _exact_knn10(spark, sf_dir)
    index = _ivf16(spark, sf_dir)
    if refined:
        approx = index.search_refined(
            QVEC, k=10, probes=4, refine=200, distance="cos",
            select=["vec_id"], tie_break="vec_id",
        )
    else:
        approx = index.search(
            QVEC, k=10, probes=4, distance="cos",
            select=["vec_id"], tie_break="vec_id",
        )
    return approx.select("vec_id").join(exact, "vec_id").agg(
        F.lit(10).alias("k"),
        F.lit(4).alias("probes"),
        F.lit(0.4).alias("recall_floor"),
        (F.count(F.lit(1)) / F.lit(10.0) >= F.lit(0.4)).cast("int").alias("recall_ok"),
    )


@_q(
    "maxsim_ivf_recall",
    """
    SELECT CAST(10 AS INT) AS k, CAST(8 AS INT) AS lists,
           CAST(4 AS INT) AS probes, CAST(0.5 AS DOUBLE) AS recall_floor,
           CAST(1 AS INT) AS recall_ok
    """,
)
def maxsim_ivf_recall(spark, sf_dir):
    """Deterministic scalar gate for the multivector IVF index (the
    MultiVectorIndex analog, reference vechord/spec.py:447-464):
    recall@10 of probe-pruned MaxSim vs exact MaxSim over the
    synthesized multivector table, one plan. Measured recall at
    lists=8/probes=4: 1.0 at both sf0.001 and sf0.01 (floor 0.5 for
    slack against KMeans re-seeding)."""
    # mv corpus + exact MaxSim ground truth are SHARED session memos
    # (round 14, verdict item 4): neither the groupBy over embeddings
    # nor the exact MaxSim corpus scan re-runs per call
    mv = _mv_table(spark, sf_dir)
    exact = _exact_maxsim10(spark, sf_dir)
    index = _mv_ivf8(spark, sf_dir, mv)
    approx = index.search(
        [QVEC, QVEC2], k=10, probes=4, select=["mv_id"], tie_break="mv_id"
    )
    return approx.select("mv_id").join(exact, "mv_id").agg(
        F.lit(10).alias("k"),
        F.lit(8).alias("lists"),
        F.lit(4).alias("probes"),
        F.lit(0.5).alias("recall_floor"),
        (F.count(F.lit(1)) / F.lit(10.0) >= F.lit(0.5)).cast("int").alias("recall_ok"),
    )


@_q("ivf_recall", _IVF_RECALL_ORACLE)
def ivf_recall(spark, sf_dir):
    """Deterministic scalar gate for the rows-only ivf_knn: recall@10
    of the probe search vs exact k-NN, computed in one plan."""
    return _ivf_recall_frame(spark, sf_dir, refined=False)


@_q(
    "ivf_recall_expanded",
    """
    SELECT CAST(10 AS INT) AS k, CAST(4 AS INT) AS probes,
           CAST(0.03 AS DOUBLE) AS expand_margin,
           CAST(0.6 AS DOUBLE) AS recall_floor, CAST(1 AS INT) AS recall_ok
    """,
)
def ivf_recall_expanded(spark, sf_dir):
    """Recall gate for query-time SOFT EXPANSION
    (IvfIndex.nearest_centroids ``expand_margin``, round 9): beyond
    the top-``probes`` cells, cells whose centroid distance is within
    3% of the probes-th cell's are probed too — near-tie boundary
    cells are the dominant recall loss at probes=4/lists=16. Averaged
    over the 8 lowest-id embedding vectors as queries (single-query
    recall is 0.1-granular and noisy): measured 0.86/0.81/0.85 at
    sf0.001/0.01/0.1 vs 0.69/0.56/0.73 unexpanded, at 1.8-2.2x the
    scanned fraction (BASELINE.md round-9). Floor 0.6 (the unexpanded
    average dips to 0.56; expansion clears 0.6 with slack at every
    SF). Plan: exact
    side is the knn_join batch (broadcast queries, WindowGroupLimit
    pre-reduction); expanded side joins the assignment on the
    (query, probed-cell) pair table — equi-key on centroid_id, so at
    scale it prunes partitions exactly like a plain probe."""
    index = _ivf16(spark, sf_dir)
    from pyspark.sql import Window

    from vechord_spark.functions.vector import vector_distance

    # query set and exact side are the SHARED _exact_batch8 memo —
    # "vec_id < 8" IS the 8 lowest ids (dense from 0), so the collect
    # and the exact knn_join scan are paid once per (session, corpus)
    # across this gate and ivf_knn_batch_recall
    qpairs, exact = _exact_batch8(spark, sf_dir)
    probe_rows = [
        (qid, int(cid), vec)
        for qid, vec in qpairs
        for cid in index.nearest_centroids(vec, 4, expand_margin=0.03)
    ]
    probe_df = spark.createDataFrame(
        probe_rows, "query_id bigint, centroid_id int, __qvec array<double>"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), F.col("vec_id").asc()
    )
    approx = (
        index.assigned.join(F.broadcast(probe_df), "centroid_id")
        .withColumn(
            "distance", vector_distance("cos", "embedding", F.col("__qvec"))
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "vec_id")
    )
    n_queries = len({r[0] for r in probe_rows})
    return approx.join(exact, ["query_id", "vec_id"]).agg(
        F.lit(10).alias("k"),
        F.lit(4).alias("probes"),
        F.lit(0.03).alias("expand_margin"),
        F.lit(0.6).alias("recall_floor"),
        (F.count(F.lit(1)) / F.lit(float(10 * n_queries)) >= F.lit(0.6))
        .cast("int")
        .alias("recall_ok"),
    )


_MV_IVF_CACHE: dict = {}


def _mv_ivf8(spark, sf_dir, mv):
    """Multivector IVF memoized per (session, corpus) — same
    build-once/query-many contract as _ivf16; a cached index is
    bit-identical to a rebuilt one (fixed seed, stable layout)."""
    key = (sf_dir, 8)
    ent = _MV_IVF_CACHE.get(key)
    if ent is not None and ent[0] is spark:
        return ent[1]
    from vechord_spark.operators.ivf import build_multivec_ivf

    index = build_multivec_ivf(mv, "vecs", lists=8, seed=42)
    index.inner.assigned = index.inner.assigned.persist()
    _MV_IVF_CACHE[key] = (spark, index)
    return index


_PQ_CACHE: dict = {}


def _ivfpq(spark, sf_dir):
    """IVF-PQ index memoized per (session, corpus): reuses the _ivf16
    centroids/assignment (one KMeans) and adds the m=8 x ksub=16 PQ
    codebooks + encoded codes. Round 10: the codebooks + encoded code
    column persist as an ArtifactStore DISK layout like _ivf16 and the
    BM25 postings — the PQ train/encode is CREATE INDEX work, paid
    once per corpus, and a loaded index is bit-identical to a rebuilt
    one (seeded kmeans++ on fixed data; pinned by
    tests/test_pq.py::test_pq_artifact_layout_roundtrip). Cold query
    cost drops from train+encode+query (~8 s at sf0.1) to a parquet
    load + the ADC scan."""
    key = (sf_dir, 8, 16)
    ent = _PQ_CACHE.get(key)
    if ent is not None and ent[0] is spark:
        return ent[1]
    import json as _json
    import re as _re

    import numpy as _np

    from vechord_spark.operators.pq import IvfPqIndex, PqCodebook, train_pq
    from vechord_spark.plans.artifacts import ArtifactStore

    src = f"{sf_dir}/embeddings.parquet"
    tag = _re.sub(r"[^a-z0-9]+", "_", sf_dir.lower()).strip("_")
    ivf = _ivf16(spark, sf_dir)

    def _build(tmp):
        book = train_pq(
            _t(spark, sf_dir, "embeddings"), "embedding", m=8, ksub=16, seed=42
        )
        built = IvfPqIndex(ivf, book)
        built.encoded.write.parquet(str(tmp / "encoded"))
        (tmp / "codebooks.bin").write_bytes(
            _np.ascontiguousarray(book.codebooks, dtype="<f8").tobytes()
        )
        (tmp / "pq.json").write_text(
            _json.dumps({"shape": list(book.codebooks.shape)})
        )

    path = ArtifactStore(spark).load_or_build(
        f"ivfpq_{tag}", [src], {"m": 8, "ksub": 16, "seed": 42, "v": 1}, _build
    )
    meta = _json.loads((path / "pq.json").read_text())
    book = PqCodebook(
        _np.frombuffer((path / "codebooks.bin").read_bytes(), dtype="<f8")
        .reshape(meta["shape"])
        .copy()
    )
    index = IvfPqIndex(
        ivf, book, encoded=spark.read.parquet(str(path / "encoded")).persist()
    )
    _PQ_CACHE[key] = (spark, index)
    return index


@_q(
    "ivf_pq_recall",
    """
    SELECT CAST(10 AS INT) AS k, CAST(4 AS INT) AS probes,
           CAST(8 AS INT) AS m, CAST(16 AS INT) AS ksub,
           CAST(100 AS INT) AS refine,
           CAST(0.4 AS DOUBLE) AS recall_floor, CAST(1 AS INT) AS recall_ok
    """,
)
def ivf_pq_recall(spark, sf_dir):
    """Deterministic scalar gate for the IVF-PQ path (operators/pq.py —
    the FAISS IVF,PQ / vchordrq-RaBitQ analog): recall@10 of
    probe-prune -> PQ-ADC estimate -> exact-refine(100) vs exact k-NN,
    one plan. The claim-style oracle pins config + floor + pass bit
    (KMeans codebooks are not SQL-expressible). The estimate pass reads
    m=8 int codes/vector instead of 64 floats — the 16-32x
    scan-bandwidth cut that makes the candidate pass affordable at
    100 TB; the float column is touched for refine=100 rows only."""
    emb = _t(spark, sf_dir, "embeddings")
    exact = _exact_knn10(spark, sf_dir)
    approx = _ivfpq(spark, sf_dir).search(
        QVEC, k=10, probes=4, refine=100, distance="cos",
        select=["vec_id"], tie_break="vec_id",
    )
    return approx.select("vec_id").join(exact, "vec_id").agg(
        F.lit(10).alias("k"),
        F.lit(4).alias("probes"),
        F.lit(8).alias("m"),
        F.lit(16).alias("ksub"),
        F.lit(100).alias("refine"),
        F.lit(0.4).alias("recall_floor"),
        (F.count(F.lit(1)) / F.lit(10.0) >= F.lit(0.4)).cast("int").alias("recall_ok"),
    )


@_q("ivf_recall_refined", _IVF_RECALL_ORACLE)
def ivf_recall_refined(spark, sf_dir):
    """Deterministic scalar gate for the rows-only ivf_knn_refined:
    recall@10 of the int8 estimate -> exact-rerank search vs exact
    k-NN, in one plan."""
    return _ivf_recall_frame(spark, sf_dir, refined=True)


def _opq(spark, sf_dir):
    """OPQ,IVF,PQ index memoized per (session, corpus) and persisted
    as an ArtifactStore disk layout like _ivfpq: the learned rotation
    (rotation.bin), rotated-space codebooks, rotated-space spherical
    IVF centroids, and the encoded clustered assignment. Training is
    the bounded driver-side OPQ alternation (operators/pq.train_opq);
    everything corpus-sized (rotate, assign, encode) is one
    distributed Arrow pass at build, then a parquet load forever
    after. Deterministic for the seeded fit, so a loaded index is
    bit-identical to a rebuilt one."""
    key = (sf_dir, 8, 16, "opq")
    ent = _PQ_CACHE.get(key)
    if ent is not None and ent[0] is spark:
        return ent[1]
    import json as _json
    import re as _re

    import numpy as _np

    from vechord_spark.operators.ivf import IvfIndex
    from vechord_spark.operators.pq import (
        IvfPqIndex,
        OpqRotation,
        PqCodebook,
        build_opq_ivf_pq,
    )
    from vechord_spark.plans.artifacts import ArtifactStore

    src = f"{sf_dir}/embeddings.parquet"
    tag = _re.sub(r"[^a-z0-9]+", "_", sf_dir.lower()).strip("_")

    def _build(tmp):
        rot, index = build_opq_ivf_pq(
            _t(spark, sf_dir, "embeddings"), "embedding",
            lists=16, m=8, ksub=16, seed=42, opq_iters=6, spherical=True,
        )
        index.encoded.write.parquet(str(tmp / "encoded"))
        (tmp / "rotation.bin").write_bytes(
            _np.ascontiguousarray(rot.rotation, dtype="<f8").tobytes()
        )
        (tmp / "centroids.bin").write_bytes(
            _np.ascontiguousarray(index.ivf.centroids, dtype="<f8").tobytes()
        )
        (tmp / "codebooks.bin").write_bytes(
            _np.ascontiguousarray(index.book.codebooks, dtype="<f8").tobytes()
        )
        (tmp / "opq.json").write_text(
            _json.dumps(
                {
                    "dim": rot.dim,
                    "ivf_shape": list(index.ivf.centroids.shape),
                    "pq_shape": list(index.book.codebooks.shape),
                    "spherical": True,
                }
            )
        )

    path = ArtifactStore(spark).load_or_build(
        f"opq_{tag}",
        [src],
        {"lists": 16, "m": 8, "ksub": 16, "seed": 42, "iters": 6, "v": 1},
        _build,
    )
    meta = _json.loads((path / "opq.json").read_text())
    rot = OpqRotation(
        _np.frombuffer((path / "rotation.bin").read_bytes(), dtype="<f8")
        .reshape(meta["dim"], meta["dim"])
        .copy()
    )
    cents = _np.frombuffer(
        (path / "centroids.bin").read_bytes(), dtype="<f8"
    ).reshape(meta["ivf_shape"])
    book = PqCodebook(
        _np.frombuffer((path / "codebooks.bin").read_bytes(), dtype="<f8")
        .reshape(meta["pq_shape"])
        .copy()
    )
    ivf = IvfIndex(
        cents,
        spark.read.parquet(str(path / "encoded")).persist(),
        "__rvec",
        spherical=meta["spherical"],
    )
    out = (rot, IvfPqIndex(ivf, book, encoded=ivf.assigned))
    _PQ_CACHE[key] = (spark, out)
    return out


@_q(
    "opq_recall",
    """
    SELECT CAST(10 AS INT) AS k, CAST(4 AS INT) AS probes,
           CAST(8 AS INT) AS m, CAST(16 AS INT) AS ksub,
           CAST(100 AS INT) AS refine,
           CAST(0.4 AS DOUBLE) AS recall_floor, CAST(1 AS INT) AS recall_ok,
           CAST(1 AS INT) AS mse_improves
    """,
)
def opq_recall(spark, sf_dir):
    """Deterministic scalar gate for the OPQ,IVF,PQ path
    (operators/pq.train_opq / build_opq_ivf_pq — Ge et al., CVPR
    2013; the FAISS ``OPQ8,IVF16,PQ8`` analog): recall@10 of rotate ->
    probe-prune -> PQ-ADC estimate -> exact-refine(100) vs exact
    k-NN, PLUS the corpus-level witness that the learned rotation
    actually earned its keep: the distributed mean squared
    reconstruction error of the OPQ codebooks (in rotated space —
    orthogonality preserves norms, so directly comparable) must not
    exceed plain PQ's at the identical m/ksub/seed (_ivfpq's persisted
    codebooks). Recall@10 on one query is a noisy signal; the MSE is
    the objective OPQ provably descends, so the pair (recall floor,
    MSE improvement) is the honest claim. Same claim-style oracle as
    ivf_pq_recall (KMeans/SVD fits are not SQL-expressible)."""
    from vechord_spark.operators.pq import reconstruction_mse

    emb = _t(spark, sf_dir, "embeddings")
    exact = _exact_knn10(spark, sf_dir)
    rot, index = _opq(spark, sf_dir)
    approx = index.search(
        list(rot.apply(QVEC)), k=10, probes=4, refine=100, distance="cos",
        select=["vec_id"], tie_break="vec_id",
    )
    # three 1-row aggregates combine through a tagged UNION + one
    # final aggregate — a cross join of scalar frames would plan as
    # BroadcastNestedLoopJoin, which the plan audit rightly bans
    tagged = (
        approx.select("vec_id")
        .join(exact, "vec_id")
        .agg(F.count(F.lit(1)).cast("double").alias("v"))
        .select(F.lit("hits").alias("tag"), "v")
        .unionByName(
            reconstruction_mse(
                emb, "embedding", _ivfpq(spark, sf_dir).book
            ).select(F.lit("mse_pq").alias("tag"), F.col("mse").alias("v"))
        )
        .unionByName(
            reconstruction_mse(emb, "embedding", index.book, rot).select(
                F.lit("mse_opq").alias("tag"), F.col("mse").alias("v")
            )
        )
    )
    pick = lambda t: F.max(F.when(F.col("tag") == t, F.col("v")))  # noqa: E731
    return tagged.agg(
        F.lit(10).alias("k"),
        F.lit(4).alias("probes"),
        F.lit(8).alias("m"),
        F.lit(16).alias("ksub"),
        F.lit(100).alias("refine"),
        F.lit(0.4).alias("recall_floor"),
        (pick("hits") / F.lit(10.0) >= F.lit(0.4)).cast("int").alias(
            "recall_ok"
        ),
        (pick("mse_opq") <= pick("mse_pq")).cast("int").alias("mse_improves"),
    )


@_q(
    "ivf_knn_batch_recall",
    """
    SELECT CAST(8 AS INT) AS n_queries, CAST(10 AS INT) AS k,
           CAST(4 AS INT) AS probes,
           CAST(0.5 AS DOUBLE) AS mean_recall_floor,
           CAST(1 AS INT) AS recall_ok
    """,
)
def ivf_knn_batch_recall(spark, sf_dir):
    """Deterministic gate for BATCHED probe search
    (operators/ivf.IvfIndex.search_batch — the production eval/mining
    shape: a query stream answered in ONE pass over the union of the
    probed partitions, each corpus row scored vectorized against
    exactly the queries whose probe set contains its cell, one window
    top-k). The batch is the 8 lowest-vec_id embeddings themselves
    (self-queries, deterministic); exact ground truth is knn_join's
    broadcast batch brute force; the claim-style oracle pins config +
    floor + pass bit on the MEAN recall@10 across the batch (per-row
    equivalence with single-query search is pinned in
    tests/test_ivf.py::test_search_batch_matches_per_query_search).
    N single searches would plan N jobs and re-open shared partitions
    N times — at a 100 TB index with a 10k-query eval stream, the
    amortized single scan is the difference between an eval run and a
    week."""
    # the 8 self-queries and the exact broadcast-batch ground truth are
    # the SHARED _exact_batch8 memo (ivf_recall_expanded uses the same
    # query set): the query collect and the exact corpus scan run once
    # per (session, corpus), not once per gate. The memo's rows are in
    # vec_id order and vec_ids are dense from 0, so the positional
    # query_id search_batch assigns equals the memo's (== vec_id).
    qpairs, exact = _exact_batch8(spark, sf_dir)
    queries = [vec for _qid, vec in qpairs]
    index = _ivf16(spark, sf_dir)
    approx = index.search_batch(
        queries, k=10, probes=4, distance="cos",
        select=["vec_id"], tie_break="vec_id",
    ).select("query_id", "vec_id")
    hits = approx.join(exact, ["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).cast("double").alias("h")
    )
    return hits.select(
        F.lit(8).alias("n_queries"),
        F.lit(10).alias("k"),
        F.lit(4).alias("probes"),
        F.lit(0.5).alias("mean_recall_floor"),
        (F.col("h") / F.lit(80.0) >= F.lit(0.5)).cast("int").alias("recall_ok"),
    )


def _rpq(spark, sf_dir):
    """Residual IVF-PQ index (FAISS's IVFPQ DEFAULT: codes quantize
    x - centroid[cell], not x) memoized + persisted like _ivfpq. Its
    coarse quantizer is a fresh raw-L2 lists=16 fit — residuals are
    raw-space offsets, so the spherical _ivf16 centroids (fit in
    unit-norm space) are not a meaningful subtraction base."""
    key = (sf_dir, 8, 16, "rpq")
    ent = _PQ_CACHE.get(key)
    if ent is not None and ent[0] is spark:
        return ent[1]
    import json as _json
    import re as _re

    import numpy as _np

    from vechord_spark.operators.ivf import IvfIndex
    from vechord_spark.operators.pq import IvfPqIndex, PqCodebook, build_ivf_rpq
    from vechord_spark.plans.artifacts import ArtifactStore

    src = f"{sf_dir}/embeddings.parquet"
    tag = _re.sub(r"[^a-z0-9]+", "_", sf_dir.lower()).strip("_")

    def _build(tmp):
        built = build_ivf_rpq(
            _t(spark, sf_dir, "embeddings"), "embedding",
            lists=16, m=8, ksub=16, seed=42,
        )
        built.encoded.write.parquet(str(tmp / "encoded"))
        (tmp / "centroids.bin").write_bytes(
            _np.ascontiguousarray(built.ivf.centroids, dtype="<f8").tobytes()
        )
        (tmp / "codebooks.bin").write_bytes(
            _np.ascontiguousarray(built.book.codebooks, dtype="<f8").tobytes()
        )
        (tmp / "rpq.json").write_text(
            _json.dumps(
                {
                    "ivf_shape": list(built.ivf.centroids.shape),
                    "pq_shape": list(built.book.codebooks.shape),
                }
            )
        )

    path = ArtifactStore(spark).load_or_build(
        f"rpq_{tag}", [src], {"m": 8, "ksub": 16, "seed": 42, "v": 1}, _build
    )
    meta = _json.loads((path / "rpq.json").read_text())
    cents = (
        _np.frombuffer((path / "centroids.bin").read_bytes(), dtype="<f8")
        .reshape(meta["ivf_shape"])
        .copy()
    )
    book = PqCodebook(
        _np.frombuffer((path / "codebooks.bin").read_bytes(), dtype="<f8")
        .reshape(meta["pq_shape"])
        .copy()
    )
    encoded = spark.read.parquet(str(path / "encoded")).persist()
    index = IvfPqIndex(
        IvfIndex(cents, encoded, "embedding"), book,
        encoded=encoded, residual=True,
    )
    _PQ_CACHE[key] = (spark, index)
    return index


@_q(
    "rpq_recall",
    """
    SELECT CAST(10 AS INT) AS k, CAST(4 AS INT) AS probes,
           CAST(8 AS INT) AS m, CAST(16 AS INT) AS ksub,
           CAST(100 AS INT) AS refine,
           CAST(0.4 AS DOUBLE) AS recall_floor, CAST(1 AS INT) AS recall_ok,
           CAST(1 AS INT) AS mse_improves
    """,
)
def rpq_recall(spark, sf_dir):
    """Deterministic scalar gate for RESIDUAL IVF-PQ (operators/pq.
    build_ivf_rpq — the FAISS ``IVF16,PQ8`` default with
    ``encode_residual``; Jégou et al., PAMI 2011 §IV): recall@10 of
    probe-prune -> per-cell-LUT residual ADC -> exact-refine(100) vs
    exact k-NN, PLUS the corpus-level witness that residual coding
    earned its keep — the distributed mean squared reconstruction
    error of centroid + r̂ must not exceed raw-vector PQ's at the
    identical (m, ksub, seed) budget (_ivfpq's persisted codebooks;
    both errors are full-vector scale, directly comparable). Residuals
    carry only within-cell variance, so the same code budget
    reconstructs sharper wherever the corpus actually clusters. Same
    claim-style oracle as ivf_pq_recall/opq_recall (KMeans fits are
    not SQL-expressible). NOTE the registry's persisted layouts stay
    raw-vector PQ on purpose: recluster/merge move rows between cells
    by pure rename/hardlink, which is only sound when codes are
    cell-independent — residual codes would need a re-encode pass on
    every cell move."""
    from vechord_spark.operators.pq import reconstruction_mse

    emb = _t(spark, sf_dir, "embeddings")
    exact = _exact_knn10(spark, sf_dir)
    index = _rpq(spark, sf_dir)
    approx = index.search(
        QVEC, k=10, probes=4, refine=100, distance="cos",
        select=["vec_id"], tie_break="vec_id",
    )
    tagged = (
        approx.select("vec_id")
        .join(exact, "vec_id")
        .agg(F.count(F.lit(1)).cast("double").alias("v"))
        .select(F.lit("hits").alias("tag"), "v")
        .unionByName(
            reconstruction_mse(
                emb, "embedding", _ivfpq(spark, sf_dir).book
            ).select(F.lit("mse_pq").alias("tag"), F.col("mse").alias("v"))
        )
        .unionByName(
            reconstruction_mse(
                index.encoded, "embedding", index.book,
                centroids=index.ivf.centroids,
            ).select(F.lit("mse_rpq").alias("tag"), F.col("mse").alias("v"))
        )
    )
    pick = lambda t: F.max(F.when(F.col("tag") == t, F.col("v")))  # noqa: E731
    return tagged.agg(
        F.lit(10).alias("k"),
        F.lit(4).alias("probes"),
        F.lit(8).alias("m"),
        F.lit(16).alias("ksub"),
        F.lit(100).alias("refine"),
        F.lit(0.4).alias("recall_floor"),
        (pick("hits") / F.lit(10.0) >= F.lit(0.4)).cast("int").alias(
            "recall_ok"
        ),
        (pick("mse_rpq") <= pick("mse_pq")).cast("int").alias("mse_improves"),
    )


def _rabitq(spark, sf_dir):
    """RaBitQ index (operators/rabitq.py — the reference's ACTUAL
    vchordrq quantization, vechord/spec.py:437-444) memoized +
    persisted like _rpq: raw-L2 lists=16 coarse cells (residuals are
    raw-space offsets), one shared seeded rotation, one bit per
    dimension + two correction scalars per row."""
    key = (sf_dir, "rabitq")
    ent = _PQ_CACHE.get(key)
    if ent is not None and ent[0] is spark:
        return ent[1]
    import json as _json
    import re as _re

    import numpy as _np

    from vechord_spark.operators.ivf import IvfIndex
    from vechord_spark.operators.rabitq import (
        RabitqIndex,
        RabitqRotation,
        build_rabitq,
    )
    from vechord_spark.plans.artifacts import ArtifactStore

    src = f"{sf_dir}/embeddings.parquet"
    tag = _re.sub(r"[^a-z0-9]+", "_", sf_dir.lower()).strip("_")

    def _build(tmp):
        built = build_rabitq(
            _t(spark, sf_dir, "embeddings"), "embedding", lists=16, seed=42
        )
        built.encoded.write.parquet(str(tmp / "encoded"))
        (tmp / "centroids.bin").write_bytes(
            _np.ascontiguousarray(built.ivf.centroids, dtype="<f8").tobytes()
        )
        (tmp / "rotation.bin").write_bytes(
            _np.ascontiguousarray(built.rot.rotation, dtype="<f8").tobytes()
        )
        (tmp / "rabitq.json").write_text(
            _json.dumps({"ivf_shape": list(built.ivf.centroids.shape)})
        )

    path = ArtifactStore(spark).load_or_build(
        f"rabitq_{tag}", [src], {"lists": 16, "seed": 42, "v": 1}, _build
    )
    meta = _json.loads((path / "rabitq.json").read_text())
    cents = (
        _np.frombuffer((path / "centroids.bin").read_bytes(), dtype="<f8")
        .reshape(meta["ivf_shape"])
        .copy()
    )
    dim = meta["ivf_shape"][1]
    rot = RabitqRotation(
        _np.frombuffer((path / "rotation.bin").read_bytes(), dtype="<f8")
        .reshape(dim, dim)
        .copy()
    )
    encoded = spark.read.parquet(str(path / "encoded")).persist()
    index = RabitqIndex(
        IvfIndex(cents, encoded, "embedding"), rot, encoded=encoded
    )
    _PQ_CACHE[key] = (spark, index)
    return index


@_q(
    "rabitq_recall",
    """
    SELECT CAST(10 AS INT) AS k, CAST(4 AS INT) AS probes,
           CAST(16 AS INT) AS lists, CAST(100 AS INT) AS refine,
           CAST(8 AS INT) AS code_bytes,
           CAST(0.5 AS DOUBLE) AS recall_floor, CAST(1 AS INT) AS recall_ok,
           CAST(1 AS INT) AS corrected_unbiased,
           CAST(1 AS INT) AS naive_biased_low
    """,
)
def rabitq_recall(spark, sf_dir):
    """Deterministic scalar gate for RaBitQ (operators/rabitq.py —
    Gao & Long SIGMOD 2024, the algorithm inside the reference's
    vchordrq index, vechord/spec.py:437-444
    ``residual_quantization``): recall@10 of probe-prune -> one-bit
    sign-matmul estimate -> exact-refine(100) vs exact k-NN, PLUS the
    estimator-quality witnesses that distinguish RaBitQ from plain
    binary quantization, computed corpus-wide Spark-side:

    - ``code_bytes``: the stored code really is D/8 bytes (64 dims ->
      8 bytes vs 256 float32 — the 32x estimate-scan bandwidth cut).
    - ``corrected_unbiased``: regression slope of the corrected
      estimate ``<x̄,P^T q̄>/<x̄,ō'>`` against the true ``<ō,q̄>`` is
      1 ± 0.1 (the paper's unbiasedness, empirically).
    - ``naive_biased_low``: the UNcorrected sign-bit estimate's slope
      sits measurably below it (≈ √(2/π) — the multiplicative bias the
      per-vector correction removes; the naive estimator is what our
      earlier binary quantization and classic SimHash-style scoring
      use).

    Claim-style oracle like ivf_pq/rpq/opq_recall (rotation fits are
    not SQL-expressible)."""
    from vechord_spark.operators.rabitq import ip_estimate_errors

    emb = _t(spark, sf_dir, "embeddings")
    exact = _exact_knn10(spark, sf_dir)
    index = _rabitq(spark, sf_dir)
    approx = index.search(
        QVEC, k=10, probes=4, refine=100, distance="cos",
        select=["vec_id"], tie_break="vec_id",
    )
    errs = ip_estimate_errors(index, QVEC).filter(F.col("norm") > 0)
    tagged = (
        approx.select("vec_id")
        .join(exact, "vec_id")
        .agg(F.count(F.lit(1)).cast("double").alias("v"))
        .select(F.lit("hits").alias("tag"), "v")
        .unionByName(
            errs.agg(
                F.sum(F.col("est_corrected") * F.col("true_ip")).alias("bc"),
                F.sum(F.col("est_naive") * F.col("true_ip")).alias("bn"),
                F.sum(F.col("true_ip") * F.col("true_ip")).alias("den"),
            )
            .select(
                F.explode(
                    F.array(
                        F.struct(F.lit("bc").alias("tag"), F.col("bc").alias("v")),
                        F.struct(F.lit("bn").alias("tag"), F.col("bn").alias("v")),
                        F.struct(F.lit("den").alias("tag"), F.col("den").alias("v")),
                    )
                ).alias("e")
            )
            .select("e.tag", "e.v")
        )
        .unionByName(
            index.encoded.agg(
                F.max(F.length("__rq_code")).cast("double").alias("v")
            ).select(F.lit("bytes").alias("tag"), "v")
        )
    )
    pick = lambda t: F.max(F.when(F.col("tag") == t, F.col("v")))  # noqa: E731
    return tagged.agg(
        F.lit(10).alias("k"),
        F.lit(4).alias("probes"),
        F.lit(16).alias("lists"),
        F.lit(100).alias("refine"),
        pick("bytes").cast("int").alias("code_bytes"),
        F.lit(0.5).alias("recall_floor"),
        (pick("hits") / F.lit(10.0) >= F.lit(0.5)).cast("int").alias(
            "recall_ok"
        ),
        (
            F.abs(pick("bc") / pick("den") - F.lit(1.0)) <= F.lit(0.1)
        ).cast("int").alias("corrected_unbiased"),
        (
            pick("bn") / pick("den")
            <= pick("bc") / pick("den") - F.lit(0.05)
        ).cast("int").alias("naive_biased_low"),
    )


@_q(
    "eval_precision_knn",
    _EVAL_BASE
    + """
    SELECT q.query_id,
           round(sum(CASE WHEN l.rel = 1 THEN 1 ELSE 0 END) / 10.0, 6) AS precision
    FROM queries q LEFT JOIN labeled l USING (query_id)
    GROUP BY q.query_id
    """,
)
def eval_precision_knn(spark, sf_dir):
    """D16 precision@10 per query (reference UMBRELA metrics,
    vechord/evaluate.py:159-231 precision@k)."""
    from vechord_spark.operators.evaluate import precision_at_k

    retrieved, truth = _knn_eval_run(spark, sf_dir)
    return precision_at_k(retrieved, truth, k=10)


# ===========================================================================
# contextual augmentation (D11)
# ===========================================================================


@_q(
    "augment_context",
    r"""
    WITH ch AS (
      SELECT doc_id,
             CAST((s - 1) // 96 AS INT) AS seq_id,
             substr(text, CAST(s AS INT), 128) AS chunk_text
      FROM documents,
           LATERAL unnest(generate_series(1, CAST(greatest(length(text), 1) AS BIGINT), 96)) AS u(s)
    ),
    heads AS (
      SELECT doc_id,
             array_to_string(list_slice(string_split_regex(text, '\s+'), 1, 8), ' ') AS head
      FROM documents
    )
    SELECT c.doc_id, c.seq_id,
           md5(h.head || chr(10) || chr(10) || c.chunk_text) AS ctx_hash
    FROM ch c JOIN heads h ON c.doc_id = h.doc_id
    """,
)
def augment_context(spark, sf_dir):
    """D11 contextual augmentation (Anthropic contextual-retrieval
    recipe, reference vechord/augment.py:30-93): every chunk prefixed
    with its document's head via a BROADCAST join of doc heads — chunks
    never shuffle. Output is the md5 of the augmented text (compact,
    hash-comparable)."""
    from vechord_spark.operators.augment import augment_chunks_with_head

    docs = _t(spark, sf_dir, "documents")
    chunks = docs.select(
        "doc_id",
        F.posexplode(fixed_size_chunks("text", 128, step=96)).alias(
            "seq_id", "chunk_text"
        ),
    )
    aug = augment_chunks_with_head(
        chunks, docs, chunk_text="chunk_text", head_tokens=8
    )
    return aug.select(
        "doc_id", "seq_id", F.md5("text_ctx").alias("ctx_hash")
    )


@_q(
    "cube_ship_stats",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(count(*) AS BIGINT) AS n_items,
           round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE), 2) AS total_qty
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def cube_ship_stats(spark, sf_dir):
    """CUBE aggregation: every (returnflag, linestatus) margin in one
    pass — with ROLLUP (rollup_order_stats) this completes the
    grouping-sets family Catalyst gives for free (SURVEY §2.7)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            # integral doubles sum exactly in IEEE (see large_orders) —
            # no decimal accumulator needed for quantities
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_items",
            "total_qty",
        )
    )


# ===========================================================================
# PII redaction + repeated-span contamination (round 4)
# ===========================================================================


def _redact_sql() -> str:
    """Oracle for text_redact_pii: same injected PII, same patterns in
    the same order via RE2 regexp_replace(..., 'g')."""
    inner = "raw"
    for _, pat, repl in TX.PII_PATTERNS:
        inner = f"regexp_replace({inner}, '{pat}', '{repl}', 'g')"
    counts = ",\n           ".join(
        f"CAST(len(regexp_extract_all(raw, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat, _ in TX.PII_PATTERNS
    )
    return f"""
    WITH inj AS (
      SELECT doc_id, text
        || CASE WHEN doc_id % 2 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com' ELSE '' END
        || CASE WHEN doc_id % 3 = 0 THEN ' see https://ex.org/d/' || CAST(doc_id AS VARCHAR) || '?ref=corpus' ELSE '' END
        || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        || CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) ELSE '' END
        || CASE WHEN doc_id % 4 = 0 THEN ' call 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        AS raw
      FROM documents
    )
    SELECT doc_id,
           md5({inner}) AS redacted_md5,
           {counts}
    FROM inj
    """


@_q("text_redact_pii", _redact_sql())
def text_redact_pii(spark, sf_dir):
    """PII scrub before training-data release: emails / URLs / SSNs /
    IPv4s / phone numbers replaced by typed tokens (functions/text
    redact_pii) plus per-kind detection counts. The corpus has no
    organic PII, so each doc deterministically injects a varying
    subset keyed on doc_id and the oracle hash proves Java-regex and
    RE2 redaction byte-identical. Pure chained regexp Columns — one
    scan, no shuffle, no Python."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")

    def opt(cond, *parts):
        return F.when(cond, F.concat(*parts)).otherwise(F.lit(""))

    raw = F.concat(
        F.col("text"),
        opt(did % 2 == 0, F.lit(" contact user"), did.cast("string"),
            F.lit("@mail.example.com")),
        opt(did % 3 == 0, F.lit(" see https://ex.org/d/"), did.cast("string"),
            F.lit("?ref=corpus")),
        opt(did % 5 == 0, F.lit(" ssn 123-45-"),
            F.lpad((did % 10000).cast("string"), 4, "0")),
        opt(did % 7 == 0, F.lit(" from 10.0."), (did % 256).cast("string"),
            F.lit("."), ((did * 7) % 256).cast("string")),
        opt(did % 4 == 0, F.lit(" call 555-010-"),
            F.lpad((did % 10000).cast("string"), 4, "0")),
    )
    return docs.select(did, raw.alias("raw")).select(
        "doc_id",
        F.md5(TX.redact_pii("raw")).alias("redacted_md5"),
        *TX.pii_counts("raw"),
    )


def _dup_span_sql(n: int = 5, min_docs: int = 2) -> str:
    toks = _TOK.format(col="text")
    spans = (
        f"CASE WHEN len(toks) >= {n} THEN "
        f"list_transform(generate_series(1, len(toks) - {n - 1}),"
        f" i -> array_to_string(list_slice(toks, i, i + {n - 1}), ' ')) "
        f"ELSE [array_to_string(toks, ' ')] END"
    )
    return f"""
    WITH t AS (SELECT doc_id, {toks} AS toks FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct({spans})) AS span FROM t
    ),
    c AS (
      SELECT span, count(*) AS n_docs FROM sh
      GROUP BY span HAVING count(*) >= {min_docs}
    )
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN c.n_docs IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           round(sum(CASE WHEN c.n_docs IS NOT NULL THEN 1.0 ELSE 0.0 END) / count(*), 6) AS dup_fraction
    FROM sh LEFT JOIN c ON sh.span = c.span
    GROUP BY sh.doc_id
    """


@_q("dedup_spans", _dup_span_sql())
def dedup_spans(spark, sf_dir):
    """Repeated-span contamination (exact-substring-dedup signal, Lee
    et al. 2022): per doc, the fraction of its distinct 5-token spans
    occurring in >= 2 docs corpus-wide. Linear in shingle volume —
    explode, one span-keyed count exchange, count-join back on the
    same key, one doc-keyed agg; a corpus-hot span costs one count
    row, never a pair blowup (operators/dedup.duplicate_span_stats)."""
    docs = _t(spark, sf_dir, "documents")
    return DD.duplicate_span_stats(docs, "doc_id", "text", ngram=5, min_docs=2)


@_q(
    "token_vocab_topk",
    f"""
    WITH toks AS (
      SELECT unnest({_TOK.format(col='text')}) AS token FROM documents
    )
    SELECT token, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM toks GROUP BY token
    ORDER BY n_occurrences DESC, token LIMIT 20
    """,
)
def token_vocab_topk(spark, sf_dir):
    """Corpus vocabulary head (Zipf report): explode + count with
    map-side combine — the one exchange carries ~|vocab| partial
    counts, and the top-20 compiles to TakeOrderedAndProject
    (operators/quality.top_tokens)."""
    from vechord_spark.operators.quality import top_tokens

    docs = _t(spark, sf_dir, "documents")
    return top_tokens(docs, "text", k=20)


@_q(
    "events_retention",
    """
    WITH d AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events
    ),
    c AS (SELECT user_id, min(day) AS cohort_day FROM d GROUP BY user_id)
    SELECT c.cohort_day,
           CAST(date_diff('day', c.cohort_day, d.day) AS INTEGER) AS day_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM d JOIN c ON d.user_id = c.user_id
    GROUP BY 1, 2
    """,
)
def events_retention(spark, sf_dir):
    """Cohort retention matrix (first-activity day x day offset ->
    distinct active users) — the other standard product-analytics
    query next to funnel/sessionize. User-day dedup then user-keyed
    min + join; never pairwise (operators/funnel.cohort_retention)."""
    from vechord_spark.operators.funnel import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev, "user_id", "ts")


@_q(
    "doc_length_quantiles",
    f"""
    WITH t AS (
      SELECT source,
             CAST(len({_TOK.format(col='text')}) AS DOUBLE) AS n_tok
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(quantile_cont(n_tok, 0.25), 6) AS p25,
           round(quantile_cont(n_tok, 0.5), 6) AS p50,
           round(quantile_cont(n_tok, 0.75), 6) AS p75,
           round(quantile_cont(n_tok, 0.9), 6) AS p90
    FROM t GROUP BY source
    """,
)
def doc_length_quantiles(spark, sf_dir):
    """Per-source token-length distribution (exact linear-interpolation
    quantiles — identical arithmetic in Spark `percentile` and DuckDB
    `quantile_cont`). The corpus-card length report; the ungrouped
    100 TB path is percentile_approx (operators/quality.length_quantiles
    docs + tolerance test)."""
    from vechord_spark.operators.quality import length_quantiles

    docs = _t(spark, sf_dir, "documents")
    return length_quantiles(docs, "source", "text")


@_q(
    "shipping_priority",
    """
    SELECT l.l_orderkey,
           round(CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS DOUBLE), 2) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01'
      AND l.l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
    """,
)
def shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: unshipped-order revenue ranking. No forced
    broadcast hints: orders is a fact table (~1/4 of lineitem at any
    SF) and would OOM executors if broadcast at 100 TB, and even the
    segment-filtered customer dim is tens of millions of rows at
    SF100 — AQE picks broadcast when a post-filter side is genuinely
    small and falls back to shuffle joins when it isn't. The only
    guaranteed full exchange is the final (orderkey, date, priority)
    aggregate; revenue sums through DECIMAL(38,6) (exact,
    order-independent)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-06-01")
    line = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-06-01")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")
    return (
        line.join(orders, line["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@_q(
    "large_orders",
    """
    WITH big AS (
      SELECT l_orderkey, CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(38,6))) > 150
    )
    SELECT c.c_name, o.o_orderkey, o.o_orderdate,
           round(o.o_totalprice, 2) AS totalprice, b.sum_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
)
def large_orders(spark, sf_dir):
    """TPC-H Q18 shape: customers with large-volume orders. The
    quantity rollup is the one fact exchange; the genuinely small side
    is `big` (the HAVING survivors — a selective threshold over order
    totals), so THAT is what gets the broadcast hint, semi-join-style
    into the orders fact. The customer join is left to AQE: at bench
    SF it broadcasts, at 100 TB it shuffles."""
    line = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        line.groupBy("l_orderkey")
        # plain double sum: l_quantity is integral (1-50) in every SF,
        # and sums of whole-number doubles are exact in IEEE regardless
        # of order — the decimal(38,6) accumulator the money columns
        # need costs ~2x on this 150k-group aggregate for nothing
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey", F.col("q").cast("double").alias("sum_qty"))
    )
    return (
        orders.join(F.broadcast(big), big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@_q(
    "promo_revenue",
    """
    WITH r AS (
      SELECT p.p_type,
             sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS rev
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
        AND l.l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY p.p_type
    ),
    t AS (SELECT sum(rev) AS total FROM r)
    SELECT r.p_type,
           round(CAST(r.rev AS DOUBLE), 2) AS revenue,
           round(CAST(r.rev AS DOUBLE) / CAST(t.total AS DOUBLE) * 100, 6) AS revenue_pct
    FROM r CROSS JOIN t
    ORDER BY r.p_type
    """,
)
def promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: revenue share by part type over a ship-date
    year. The date filter pushes into the lineitem scan (PushedFilters
    on l_shipdate); the part join is a dim join AQE broadcasts at bench
    SF and shuffles at SF100 (no forced hint — part is 20M rows at
    SF100); the per-type rollup is 6 groups with map-side combine, and
    the total is a 1-row crossJoin (broadcast by construction), never a
    driver collect. Revenue sums through DECIMAL(38,6) so the shares
    are order-independent."""
    line = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    part = _t(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(38,6)")
    by_type = (
        line.join(part, line["l_partkey"] == part["p_partkey"])
        .groupBy("p_type")
        .agg(F.sum(rev).alias("rev"))
    )
    total = by_type.agg(F.sum("rev").alias("total"))
    return (
        by_type.crossJoin(total)
        .select(
            "p_type",
            F.round(F.col("rev").cast("double"), 2).alias("revenue"),
            F.round(
                F.col("rev").cast("double") / F.col("total").cast("double") * 100, 6
            ).alias("revenue_pct"),
        )
        .orderBy("p_type")
    )


@_q(
    "late_shipments",
    """
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           round(CAST(sum(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
                              THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS late_frac
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def late_shipments(spark, sf_dir):
    """TPC-H Q12 shape: late-shipment rate by order priority (shipped
    more than 90 days after the order date). Two fact tables joined on
    orderkey — the honest plan is a shuffle join on the key both sides
    (no broadcast hint could ever be right here; AQE handles skew), then
    a 5-group CASE-sum aggregate with map-side combine. Integer counts,
    one exact double division — zero float-parity risk."""
    line = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        line.join(orders, line["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(late).cast("bigint").alias("n_late"),
        )
        .select(
            "o_orderpriority",
            "n_lines",
            "n_late",
            F.round(F.col("n_late").cast("double") / F.col("n_lines"), 6).alias(
                "late_frac"
            ),
        )
        .orderBy("o_orderpriority")
    )


@_q(
    "brand_supplier_diversity",
    """
    SELECT p.p_brand,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 25
      AND NOT EXISTS (SELECT 1 FROM supplier s
                      WHERE s.s_suppkey = l.l_suppkey AND s.s_acctbal < 0)
    GROUP BY p.p_brand
    ORDER BY supplier_cnt DESC, p.p_brand
    """,
)
def brand_supplier_diversity(spark, sf_dir):
    """TPC-H Q16 shape: how many DISTINCT suppliers serve each part
    brand, excluding a supplier denylist — the anti-join + distinct-
    count-over-join pattern. The denylist (negative-balance suppliers,
    a tiny dim subset) is an explicit LEFT ANTI join that AQE
    broadcasts; the part dim joins the fact the same way; the distinct
    count is Spark's standard two-phase expand (partial distinct per
    partition before the exchange — never a raw (brand, suppkey)
    row shuffle of the fact table)."""
    line = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 25)
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        line.join(bad, "l_suppkey", "left_anti")
        .join(part, line["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
        .orderBy(F.col("supplier_cnt").desc(), "p_brand")
    )


@_q(
    "grouping_sets_pricing",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS return_flag,
           coalesce(l_linestatus, 'ALL') AS line_status,
           CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def grouping_sets_pricing(spark, sf_dir):
    """GROUPING SETS — the remaining grouping shape next to rollup/cube
    (rollup_order_stats, cube variants): revenue at the (flag, status)
    grain, the flag grain, and the grand total in ONE pass.
    DataFrame ``groupingSets`` compiles to a single Expand + one
    HashAggregate exchange — the expand replicates each input row once
    per set BEFORE the partial aggregate, so the shuffle carries
    partially-combined groups, never n_sets copies of the fact table.
    ``grouping()`` flags (one 0/1 bit per dimension — portable across
    engines, unlike the engine-specific ``grouping_id`` bit order)
    distinguish 'aggregated-away' from a literal NULL value."""
    line = _t(spark, sf_dir, "lineitem")
    return (
        line.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("return_flag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("line_status"),
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .select("return_flag", "line_status", "g_rf", "g_ls", "n_lines", "revenue")
    )


@_q(
    "disjunctive_part_revenue",
    """
    SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#25' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def disjunctive_part_revenue(spark, sf_dir):
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate mixing
    both tables' columns — the disjunctive-pushdown exercise. Catalyst
    extracts the per-table residue of the disjunction and pushes it
    INTO each scan (lineitem reads only l_quantity IN [1,30] row
    groups; part reads only the three brands x size ranges — visible
    as PushedFilters Or(...) in the plan, pinned in
    tests/test_plan_audit.py), then re-checks the full cross-table OR
    after the join. Declared as one filter expression — no manual
    union-of-three-joins, which would scan the fact three times."""
    line = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    q, b, s = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    pred = (
        ((b == "Brand#11") & s.between(1, 5) & q.between(1, 11))
        | ((b == "Brand#22") & s.between(1, 10) & q.between(10, 20))
        | ((b == "Brand#25") & s.between(1, 15) & q.between(20, 30))
    )
    return (
        line.join(part, line["l_partkey"] == part["p_partkey"])
        .filter(pred)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


@_q(
    "small_quantity_revenue",
    """
    WITH thresh AS (
      SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_thresh
      FROM lineitem GROUP BY l_partkey
    )
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN thresh t ON t.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#11' AND l.l_quantity < t.qty_thresh
    """,
)
def small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue from below-average-quantity lines of
    one brand — the correlated-average-threshold pattern. The per-part
    threshold is a PRE-AGGREGATION of the fact on its own join key
    (map-side combined, then a co-partitioned join: the fact's shuffle
    on l_partkey is shared by the aggregate and the join under AQE);
    the brand filter reaches the part scan and the tiny surviving dim
    broadcasts. Never a per-row correlated subquery rescan."""
    line = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11")
    thresh = line.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("qty_thresh")
    )
    return (
        line.join(part, line["l_partkey"] == part["p_partkey"])
        .join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        )
    )


@_q(
    "customer_value_deciles",
    """
    WITH ranked AS (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             ntile(10) OVER w AS decile,
             round(cume_dist() OVER w, 6) AS cum_frac
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    )
    SELECT c_mktsegment, CAST(decile AS INT) AS decile,
           CAST(count(*) AS BIGINT) AS n_cust,
           round(min(c_acctbal), 2) AS bal_floor,
           round(max(c_acctbal), 2) AS bal_ceil,
           round(max(cum_frac), 6) AS cum_frac_ceil
    FROM ranked
    GROUP BY c_mktsegment, decile
    ORDER BY c_mktsegment, decile
    """,
)
def customer_value_deciles(spark, sf_dir):
    """Window-function breadth: per-segment customer-value deciles
    (ntile) with the cumulative-distribution boundary (cume_dist) —
    the banding step of every LTV / quality-tier analysis. ONE window
    spec serves both functions, so the plan is a single
    partition-by-segment exchange + sort feeding one Window operator;
    the decile summary then re-aggregates (segment, decile) — mergeable
    partials, no second full sort. Deterministic tie-break on custkey
    keeps the oracle hash-stable."""
    from pyspark.sql import Window

    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    ranked = cust.select(
        "c_mktsegment",
        "c_acctbal",
        F.ntile(10).over(w).alias("decile"),
        F.round(F.cume_dist().over(w), 6).alias("cum_frac"),
    )
    return (
        ranked.groupBy("c_mktsegment", "decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cust"),
            F.round(F.min("c_acctbal"), 2).alias("bal_floor"),
            F.round(F.max("c_acctbal"), 2).alias("bal_ceil"),
            F.round(F.max("cum_frac"), 6).alias("cum_frac_ceil"),
        )
        .orderBy("c_mktsegment", "decile")
    )


@_q(
    "customer_order_distribution",
    """
    WITH per_cust AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT CAST(c_count AS BIGINT) AS c_count,
           CAST(count(*) AS BIGINT) AS custdist
    FROM per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def customer_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape: the order-count histogram over ALL customers —
    zero-order customers included, which forces the OUTER join (an
    inner join would silently drop the most interesting bucket). The
    non-join predicate (priority exclusion) lives in the JOIN condition,
    not a WHERE — in the WHERE it would turn the outer join back into
    an inner one. Two aggregations, both map-side combinable; the
    second input is |customers| rows of (custkey, count), never the
    fact table."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (orders["o_custkey"] == cust["c_custkey"])
            & (orders["o_orderpriority"] != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("bigint").alias("custdist"))
        .select(F.col("c_count").cast("bigint").alias("c_count"), "custdist")
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@_q(
    "lost_customers_by_nation",
    """
    WITH cutoff AS (
      SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0
    )
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_cust,
           round(sum(c.c_acctbal), 2) AS total_bal
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey, cutoff
    WHERE c.c_acctbal > cutoff.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def lost_customers_by_nation(spark, sf_dir):
    """TPC-H Q22 shape: well-funded customers with no URGENT orders —
    per-nation count and balance of customers above the global
    positive-balance average whose order history contains nothing
    urgent. Three classic pieces in one plan: a 1-row scalar aggregate
    (broadcast, never a shuffle key), an anti-join against a FILTERED
    projection of the fact (the priority predicate is pushed to the
    orders scan; only surviving custkeys shuffle), and a small-dim
    broadcast join for the nation name."""
    cust = _t(spark, sf_dir, "customer")
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    nation = _t(spark, sf_dir, "nation")
    cutoff = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.crossJoin(cutoff)
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .join(nation, cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
        .orderBy("n_name")
    )


@_q(
    "sole_late_supplier",
    """
    WITH lines AS (
      SELECT l.l_orderkey, l.l_suppkey,
             (l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY) AS is_late
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    )
    SELECT s.s_name,
           CAST(count(DISTINCT a.l_orderkey) AS BIGINT) AS numwait
    FROM lines a
    JOIN supplier s ON s.s_suppkey = a.l_suppkey
    WHERE a.is_late
      AND EXISTS (SELECT 1 FROM lines b
                  WHERE b.l_orderkey = a.l_orderkey
                    AND b.l_suppkey <> a.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lines c
                      WHERE c.l_orderkey = a.l_orderkey
                        AND c.l_suppkey <> a.l_suppkey AND c.is_late)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    """,
)
def sole_late_supplier(spark, sf_dir):
    """TPC-H Q21 shape: suppliers SOLELY responsible for late
    multi-supplier orders — the correlated EXISTS + NOT EXISTS pair
    over the same relation ("another supplier participated" / "no
    other supplier was late"). Late = shipped >60 days after the order
    date (the testdata has no receipt/commit dates). The correlated
    pair collapses to ONE per-orderkey aggregation: an ``a`` row
    survives iff its order has >=2 distinct suppliers (the EXISTS) and
    exactly ONE distinct late supplier — necessarily ``a``'s own (the
    NOT EXISTS), so the surviving (order, supplier) pairs are exactly
    the (orderkey, unique-late-supplier) rows of qualifying orders.
    The fact table crosses one exchange (keyed l_orderkey, map-side
    partial aggregation), replacing the round-9 shape's semi+anti
    joins that consumed the lineitem-orders frame three times."""
    line = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supplier = _t(spark, sf_dir, "supplier")
    lines = line.join(
        orders, line["l_orderkey"] == orders["o_orderkey"]
    ).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60)).alias(
            "is_late"
        ),
    )
    # one explicit orderkey exchange; both aggregation levels then run
    # in-partition (hash partitioning on l_orderkey satisfies the
    # clustering of (l_orderkey, l_suppkey) too), and no Expand — the
    # distinct-count pair as direct count_distincts tripled the
    # exchange rows (measured slower than the round-9 semi/anti shape)
    per_os = (
        lines.repartition(F.col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("is_late").alias("late"))
    )
    per_order = per_os.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.col("late").cast("int")).alias("n_late"),
        F.max(F.when(F.col("late"), F.col("l_suppkey"))).alias("late_suppkey"),
    )
    survivors = per_order.filter(
        (F.col("n_supp") >= 2) & (F.col("n_late") == 1)
    )
    # one row per surviving order -> count(*) IS count(distinct orderkey)
    return (
        survivors.join(
            supplier, F.col("late_suppkey") == supplier["s_suppkey"]
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


# ---------------------------------------------------------------------------
# Derived partsupp: the driver testdata ships no partsupp table, so the
# Q2/Q11/Q20 shapes derive one DETERMINISTICALLY — identical arithmetic
# in the Spark helper (_partsupp) and the oracle CTE (_PARTSUPP_SQL):
# each part gets 4 suppliers by modular assignment over the supplier
# count, availqty/cost are md5-hash-assigned (md5 is bit-identical in
# both engines; cost carried as exact integer CENTS so every aggregate
# is integer-exact — the ps_supplycost double is a single identical
# division on both sides).
# ---------------------------------------------------------------------------

_PARTSUPP_SQL = """
    psk AS (
      SELECT CAST(p_partkey AS BIGINT) AS ps_partkey,
             (CAST(p_partkey AS BIGINT) * 7 + g.i * 13)
               % (SELECT count(*) FROM supplier) AS ps_suppkey
      FROM part CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) g
    ),
    partsupp AS (
      SELECT ps_partkey, ps_suppkey,
             CAST(CAST(('0x' || substr(md5('aq:' || CAST(ps_partkey AS VARCHAR)
               || ':' || CAST(ps_suppkey AS VARCHAR)), 1, 15)) AS BIGINT)
               % 9999 + 1 AS INT) AS ps_availqty,
             CAST(('0x' || substr(md5('sc:' || CAST(ps_partkey AS VARCHAR)
               || ':' || CAST(ps_suppkey AS VARCHAR)), 1, 15)) AS BIGINT)
               % 100000 AS ps_cost_cents
      FROM psk
    ),
    partsupp2 AS (
      SELECT *, ps_cost_cents / 100.0 AS ps_supplycost FROM partsupp
    )
"""


def _partsupp(spark, sf_dir):
    """The derived partsupp DataFrame — 4 suppliers per part, hash
    -assigned availqty (1..9999) and cost cents (0..99999); see the
    section comment. One narrow projection over part x a 4-element
    explode; the supplier count rides in as a broadcast 1-row
    aggregate, so the derivation is shuffle-free."""
    part = _t(spark, sf_dir, "part").select(
        F.col("p_partkey").cast("bigint").alias("ps_partkey")
    )
    ns = _t(spark, sf_dir, "supplier").agg(
        F.count(F.lit(1)).cast("bigint").alias("__ns")
    )
    psk = (
        part.crossJoin(F.broadcast(ns))
        .select(
            "ps_partkey",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("__i"),
            "__ns",
        )
        .select(
            "ps_partkey",
            F.pmod(
                F.col("ps_partkey") * 7 + F.col("__i").cast("bigint") * 13,
                F.col("__ns"),
            ).alias("ps_suppkey"),
        )
    )

    def h(tag: str):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit(tag),
                        F.col("ps_partkey").cast("string"),
                        F.col("ps_suppkey").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")

    return psk.select(
        "ps_partkey",
        "ps_suppkey",
        (h("aq") % 9999 + 1).cast("int").alias("ps_availqty"),
        (h("sc") % 100000).alias("ps_cost_cents"),
    ).withColumn("ps_supplycost", F.col("ps_cost_cents") / F.lit(100.0))


@_q(
    "min_cost_supplier",
    f"""
    WITH {_PARTSUPP_SQL},
    eligible AS (
      SELECT ps.ps_partkey, ps.ps_suppkey, ps.ps_supplycost,
             s.s_name, s.s_acctbal, n.n_name
      FROM partsupp2 ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
    ),
    best AS (
      SELECT ps_partkey, min(ps_supplycost) AS min_cost
      FROM eligible GROUP BY ps_partkey
    )
    SELECT e.s_acctbal, e.s_name, e.n_name, e.ps_partkey AS p_partkey,
           p.p_type, e.ps_supplycost
    FROM eligible e
    JOIN best b ON b.ps_partkey = e.ps_partkey AND e.ps_supplycost = b.min_cost
    JOIN part p ON CAST(p.p_partkey AS BIGINT) = e.ps_partkey
               AND p.p_size <= 15 AND p.p_type = 'LARGE'
    ORDER BY e.s_acctbal DESC, e.n_name, e.s_name, p_partkey
    LIMIT 20
    """,
)
def min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: for each qualifying part, the EUROPE supplier
    offering the minimum supply cost — the correlated min-subquery,
    expressed as a per-part window min over the region-eligible rows
    (Catalyst plans the same aggregation; the window runs AFTER the
    part filter, so only qualifying parts' rows shuffle). Only the
    CONSTANT dims (nation/region, 25/5 rows at every SF) carry
    broadcast hints; supplier and the filtered part list are
    SF-proportional, so their join strategy is left to AQE's size
    statistics — broadcast at bench SF, shuffled at 100 TB where
    supplier alone is 100+ MB (round-10 fix; rule at
    local_supplier_revenue's docstring). The only guaranteed exchange
    is the window's ps_partkey hash, sized by the filtered eligible
    rows, which is the plan that survives a billion-row partsupp."""
    from pyspark.sql import Window

    ps = _partsupp(spark, sf_dir)
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    parts = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 15) & (F.col("p_type") == "LARGE"))
        .select(F.col("p_partkey").cast("bigint").alias("ps_partkey"), "p_type")
    )
    eligible = (
        ps.join(parts, "ps_partkey")
        .join(
            sup.select("s_suppkey", "s_name", "s_acctbal", "s_nationkey"),
            F.col("ps_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nat.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(reg.select("r_regionkey")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    w = Window.partitionBy("ps_partkey")
    return (
        eligible.withColumn("__min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("__min_cost"))
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            F.col("ps_partkey").alias("p_partkey"),
            "p_type",
            "ps_supplycost",
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(20)
    )


@_q(
    "partsupp_value_share",
    f"""
    WITH {_PARTSUPP_SQL},
    ps_n AS (
      SELECT ps_partkey, ps_cost_cents * ps_availqty AS val_cents
      FROM partsupp JOIN supplier s ON s.s_suppkey = ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'ASIA'
    )
    SELECT ps_partkey, CAST(sum(val_cents) AS BIGINT) AS value_cents
    FROM ps_n GROUP BY ps_partkey
    HAVING sum(val_cents) >
      (SELECT 2.0 * sum(val_cents) / count(DISTINCT ps_partkey) FROM ps_n)
    ORDER BY value_cents DESC, ps_partkey
    """,
)
def partsupp_value_share(spark, sf_dir):
    """TPC-H Q11 shape: parts whose ASIA-held inventory value exceeds a
    threshold of the total — group-HAVING against a scalar from the
    same filtered relation. The threshold is 2x the per-part average
    (TPC-H's fixed fraction degenerates as part count grows; the
    average form is scale-free). Value is summed in integer CENTS so
    both engines aggregate exactly — no float-order drift can touch
    the HAVING boundary. Plan: constant dims (nation/region) hinted,
    supplier left to AQE (SF-proportional — round-10 hint removal),
    one ps_partkey aggregate exchange, and the 1-row total
    crossJoined back."""
    ps = _partsupp(spark, sf_dir)
    sup = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    ps_n = (
        ps.join(sup, F.col("ps_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(reg.select("r_regionkey")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select(
            "ps_partkey",
            (F.col("ps_cost_cents") * F.col("ps_availqty")).alias("val_cents"),
        )
    )
    grouped = ps_n.groupBy("ps_partkey").agg(
        F.sum("val_cents").cast("bigint").alias("value_cents")
    )
    # threshold from the per-part aggregates, not from ps_n again:
    # sum(value_cents) == sum(val_cents) exactly (integer cents) and
    # count(*) over grouped == count_distinct(ps_partkey), so the
    # 4-table join subtree is consumed once and the ps_partkey
    # exchange is reused between the two branches
    thresh = grouped.agg(
        (F.lit(2.0) * F.sum("value_cents") / F.count(F.lit(1))).alias("__thresh")
    )
    return (
        grouped.crossJoin(F.broadcast(thresh))
        .filter(F.col("value_cents") > F.col("__thresh"))
        .select("ps_partkey", "value_cents")
        .orderBy(F.col("value_cents").desc(), "ps_partkey")
    )


@_q(
    "excess_inventory_suppliers",
    f"""
    WITH {_PARTSUPP_SQL},
    lq AS (
      SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_partkey, l_suppkey
    ),
    qualified AS (
      SELECT DISTINCT ps_suppkey FROM partsupp
      JOIN lq ON CAST(lq.l_partkey AS BIGINT) = ps_partkey
             AND CAST(lq.l_suppkey AS BIGINT) = ps_suppkey
      WHERE ps_partkey IN
          (SELECT CAST(p_partkey AS BIGINT) FROM part WHERE p_name LIKE 'small%')
        AND ps_availqty > 0.5 * qty
    )
    SELECT s.s_name, n.n_name FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'AMERICA'
    WHERE s.s_suppkey IN (SELECT ps_suppkey FROM qualified)
    ORDER BY s.s_name
    """,
)
def excess_inventory_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: AMERICA suppliers holding excess stock of
    'small%' parts — availqty above half the 1996-97 shipped quantity
    for that (part, supplier), then the semi-join chain back to
    supplier/nation. Quantity sums are whole-number doubles (exact in
    IEEE), so the 0.5x comparison cannot drift between engines. Plan:
    lineitem aggregates once on (partkey, suppkey); the part-name
    filter is a semi-join BEFORE that join (AQE broadcasts it at bench
    SF; part is SF-proportional so no forced hint — round 10); the final
    suppliers list is a left-semi against the distinct qualifying
    keys — no fact-table row ever widens."""
    ps = _partsupp(spark, sf_dir)
    line = _t(spark, sf_dir, "lineitem")
    lq = (
        line.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy(
            F.col("l_partkey").cast("bigint").alias("ps_partkey"),
            F.col("l_suppkey").cast("bigint").alias("ps_suppkey"),
        )
        .agg(F.sum("l_quantity").alias("__qty"))
    )
    small_parts = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select(F.col("p_partkey").cast("bigint").alias("ps_partkey"))
    )
    qualified = (
        ps.join(small_parts, "ps_partkey", "left_semi")
        .join(lq, ["ps_partkey", "ps_suppkey"])
        .filter(F.col("ps_availqty") > F.lit(0.5) * F.col("__qty"))
        .select("ps_suppkey")
        .distinct()
    )
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    return (
        sup.join(
            qualified,
            F.col("s_suppkey").cast("bigint") == F.col("ps_suppkey"),
            "left_semi",
        )
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(reg.select("r_regionkey")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


@_q(
    "local_supplier_revenue",
    """
    SELECT n.n_name AS nation,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def local_supplier_revenue(spark, sf_dir):
    """TPC-H Q5 shape: revenue from orders where the customer and the
    line's supplier sit in the SAME nation, per nation of one region
    and one order year. The two facts (lineitem, orders) join on
    orderkey — the one real exchange; customer and supplier carry NO
    forced hint (AQE broadcasts them at bench SF; at SF100 customer is
    15M rows and must shuffle), and the same-nation constraint rides
    the supplier join as an extra equality, never a post-join filter
    over the cross-nation pairs. nation/region (constant 25/5 rows)
    broadcast explicitly. Revenue sums through DECIMAL(38,6) for order
    independence."""
    line = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(38,6)"
    )
    return (
        line.join(orders, line["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
    )


@_q(
    "revenue_forecast",
    """
    SELECT CAST(round(coalesce(sum(CAST(l_extendedprice * l_discount
                                        AS DECIMAL(38,6))), 0), 2) AS DOUBLE)
             AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def revenue_forecast(spark, sf_dir):
    """TPC-H Q6 shape: scan-only revenue-change forecast. Every
    predicate (ship-date range, discount band, quantity cap) pushes
    into the parquet scan — `.explain` shows all three in
    PushedFilters and a two-column ReadSchema — and the single global
    sum is a map-side partial + 1-row merge: the minimal plan any
    engine could run for this question."""
    line = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return line.agg(
        F.round(
            F.coalesce(
                F.sum(
                    (F.col("l_extendedprice") * F.col("l_discount")).cast(
                        "decimal(38,6)"
                    )
                ),
                F.lit(0).cast("decimal(38,6)"),
            ),
            2,
        )
        .cast("double")
        .alias("revenue")
    )


@_q(
    "volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) AS l_year,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """,
)
def volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: shipping volume between two trading nations by
    supplier-nation/customer-nation direction and ship year. The two
    nation lookups broadcast (constant 25 rows); customer/supplier are
    unhinted (AQE broadcasts at bench SF, shuffles at SF100); the
    fact-fact orderkey join is the only mandatory exchange. The
    disjunctive pair predicate is applied post-join on the two
    broadcast nation names — 2 string tests per surviving row, not a
    join multiplier."""
    line = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("__sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("__cn_key"), F.col("n_name").alias("cust_nation")
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(38,6)"
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
    return (
        line.join(orders, line["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("__sn_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("__cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
    )


@_q(
    "nation_market_share",
    """
    WITH allv AS (
      SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))
               AS volume,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
      JOIN region r ON n1.n_regionkey = r.r_regionkey
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
    )
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_5'
                               THEN volume ELSE CAST(0 AS DECIMAL(38,6)) END)
                      AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
    FROM allv GROUP BY o_year
    """,
)
def nation_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one supplier nation's share of a region's
    market for one part type, per order year. The constant dims
    (nation, region) broadcast explicitly; customer/part/supplier are
    unhinted — the part-type filter prunes part before AQE sizes it —
    and prune before the single fact-fact exchange; the
    share is a conditional-sum / sum over the SAME grouped pass — one
    aggregation, not a self-join of two period sums. Numerator and
    denominator both sum through DECIMAL(38,6), so the final double
    division is order-independent."""
    line = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("__cn_key"), F.col("n_regionkey")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("__sn_key"), F.col("n_name").alias("supp_nation")
    )
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(38,6)"
    )
    zero = F.lit(0).cast("decimal(38,6)")
    return (
        line.join(orders, line["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("__cn_key"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("__sn_key"))
        .select(F.year("o_orderdate").alias("o_year"), vol.alias("__vol"),
                "supp_nation")
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", F.col("__vol"))
                    .otherwise(zero)
                ).cast("double")
                / F.sum("__vol").cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


@_q(
    "product_type_profit",
    f"""
    WITH {_PARTSUPP_SQL}
    SELECT n.n_name AS nation,
           CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                               - (ps.ps_cost_cents / 100.0) * l.l_quantity
                               AS DECIMAL(38,6))), 2) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN partsupp2 ps ON l.l_partkey = ps.ps_partkey
                     AND l.l_suppkey = ps.ps_suppkey
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY 1, 2
    """,
)
def product_type_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit (revenue minus supply cost) on one
    product line, by supplier nation and order year, over the derived
    partsupp (see the _PARTSUPP_SQL section comment — only lines whose
    (partkey, suppkey) is one of the part's 4 assigned suppliers carry
    a cost, exactly like TPC-H's referential closure). The name LIKE
    prunes part before AQE sizes it; partsupp derives shuffle-free
    (4 rows per part — 8M at SF100, so no forced broadcast); the
    orderkey fact-fact join is the one mandatory exchange. The per-row
    profit is computed in DOUBLE (bit-identical both engines) and
    summed through DECIMAL(38,6)."""
    line = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    part = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    ps = _partsupp(spark, sf_dir)
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - (F.col("ps_cost_cents") / F.lit(100.0)) * F.col("l_quantity")
    ).cast("decimal(38,6)")
    return (
        line.join(
            ps,
            (F.col("l_partkey") == F.col("ps_partkey"))
            & (F.col("l_suppkey") == F.col("ps_suppkey")),
        )
        .join(part, F.col("l_partkey") == F.col("p_partkey"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.round(F.sum(profit), 2).cast("double").alias("profit"))
    )


@_q(
    "returned_item_customers",
    """
    WITH rev AS (
      SELECT c.c_custkey, c.c_name, n.n_name AS nation, c.c_acctbal,
             sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                      AS DECIMAL(38,6))) AS rev
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      WHERE l.l_returnflag = 'R'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1996-04-01'
      GROUP BY 1, 2, 3, 4
    )
    SELECT c_custkey, c_name, nation,
           round(CAST(c_acctbal AS DOUBLE), 2) AS acctbal,
           CAST(round(rev, 2) AS DOUBLE) AS revenue
    FROM rev
    ORDER BY rev DESC, c_custkey
    LIMIT 20
    """,
)
def returned_item_customers(spark, sf_dir):
    """TPC-H Q10 shape: the 20 customers who returned the most revenue
    in a quarter. Both filters (returnflag, quarter) push into their
    scans before the orderkey exchange; nation broadcasts, customer is
    unhinted (15M rows at SF100); the
    top-20 compiles to TakeOrderedAndProject (per-partition heap —
    never a global sort of the grouped frame). Ties break on custkey;
    the ORDER is on the exact DECIMAL revenue, so rank is
    deterministic."""
    line = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(38,6)"
    )
    return (
        line.join(orders, line["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "c_custkey", "c_name", F.col("n_name").alias("nation"), "c_acctbal"
        )
        .agg(F.sum(rev).alias("__rev"))
        .orderBy(F.col("__rev").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "nation",
            F.round(F.col("c_acctbal").cast("double"), 2).alias("acctbal"),
            F.round(F.col("__rev"), 2).cast("double").alias("revenue"),
        )
    )


@_q(
    "top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey, sum(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(38,6))) AS total
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(round(r.total, 2) AS DOUBLE) AS total_revenue
    FROM supplier s
    JOIN rev r ON s.s_suppkey = r.l_suppkey
    WHERE r.total = (SELECT max(total) FROM rev)
    """,
)
def top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: the supplier(s) with maximum revenue over a
    quarter — the correlated MAX-subquery, expressed as the grouped
    revenue frame crossJoined with its own 1-row max (broadcast by
    construction) and filtered on exact DECIMAL equality, so the
    argmax is order-independent and returns ALL tied suppliers, as the
    spec requires. One shuffle (the suppkey rollup); supplier's join
    strategy is AQE's call (SF-proportional, no forced hint — round
    10; the tie-survivor side is runtime-tiny so AQE broadcasts THAT
    at every SF)."""
    line = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    supp = _t(spark, sf_dir, "supplier")
    rev = (
        line.groupBy("l_suppkey")
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(38,6)"
                )
            ).alias("total")
        )
    )
    mx = rev.agg(F.max("total").alias("__mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total") == F.col("__mx"))
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total"), 2).cast("double").alias("total_revenue"),
        )
    )


@_q(
    "order_priority_exists",
    """
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def order_priority_exists(spark, sf_dir):
    """TPC-H Q4 shape: order counts by priority for a quarter, keeping
    only orders with at least one returned line — an EXISTS subquery,
    expressed as a LEFT SEMI join so the probe side (orders) emits each
    row at most once with NO post-join dedup and carries NO payload
    columns from lineitem. The quarter filter is pushed into the orders
    scan and the returnflag filter into the lineitem scan (each prunes
    before the exchange); the semi-join shuffles only (l_orderkey) from
    the fact table — the minimal bytes any engine could move for this
    question. No broadcast hint: lineitem-orders is fact-fact, AQE
    decides at runtime (broadcasts the filtered quarter at small SF)."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    returned = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        orders.join(returned, orders["o_orderkey"] == returned["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


# Bucketed-layout build, once per (session, sf_dir): orders and customer
# are hash-bucketed on the customer key AT WRITE TIME, so every later
# equi-join on that key is a SortMergeJoin reading bucket pairs with NO
# Exchange on either side — the storage-level co-location a 100 TB
# deployment uses for joins it re-runs every query wave
# (plans/bucketing.py docstring has the bucket-count sizing math).
_BUCKETED_CACHE: dict = {}


_ROLLUP_CACHE: dict = {}


def _events_rollup(spark, sf_dir):
    """Build the storage-side daily rollup once per (session, corpus) —
    the materialized-view pattern (plans/rollup.py): facts scanned ONCE
    at build; every dashboard grain re-aggregates the tiny summary."""
    import re as _re

    ent = _ROLLUP_CACHE.get(sf_dir)
    if ent is not None and ent[0] is spark:
        return ent[1]
    from vechord_spark.plans.rollup import write_rollup

    tag = _re.sub(r"[^a-z0-9]+", "_", sf_dir.lower()).strip("_")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    path = f"{wh}/rollup_events_{tag}"
    events = _t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    write_rollup(
        events,
        dims=["day", "event_type"],
        aggs={"*": ["count"], "value": ["sum", "min", "max"]},
        path=path,
    )
    _ROLLUP_CACHE[sf_dir] = (spark, path)
    return path


@_q(
    "events_rollup_daily",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS count_rows,
           round(sum(value), 4) AS sum_value,
           round(min(value), 4) AS min_value,
           round(max(value), 4) AS max_value
    FROM events
    GROUP BY event_type
    """,
)
def events_rollup_daily(spark, sf_dir):
    """Materialized-rollup query path: the per-event-type dashboard
    totals are answered from the (day, event_type) summary table, NOT
    the raw facts — count/sum/min/max re-aggregate losslessly from
    their partials, so the result is hash-identical to the raw
    group-by (the oracle IS the raw group-by) while the scan is
    |days x types| rows instead of the fact table. Build cost is paid
    once per corpus (plans/rollup.py; Druid-style ingestion rollup).

    Float determinism: sum(value) re-aggregates partial DOUBLE sums in
    a different order than the raw scan; both sides round to 4
    decimals, within the corpus's float-sum drift (~1e-9)."""
    from vechord_spark.plans.rollup import rollup_query

    path = _events_rollup(spark, sf_dir)
    out = rollup_query(
        spark, path, ["event_type"],
        {"*": ["count"], "value": ["sum", "min", "max"]},
    )
    return out.select(
        "event_type",
        "count_rows",
        F.round("sum_value", 4).alias("sum_value"),
        F.round("min_value", 4).alias("min_value"),
        F.round("max_value", 4).alias("max_value"),
    )


def _bucketed_pair(spark, sf_dir):
    import re as _re

    ent = _BUCKETED_CACHE.get(sf_dir)
    if ent is not None and ent[0] is spark:
        return ent[1]
    import time as _time

    from vechord_spark.plans.bucketing import write_bucketed

    t0 = _time.perf_counter()
    tag = _re.sub(r"[^a-z0-9]+", "_", sf_dir.lower()).strip("_")
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    ot = write_bucketed(
        orders, f"bq_orders_{tag}", f"{wh}/bq_orders_{tag}", "o_custkey",
        num_buckets=8, sort_cols="o_custkey",
    )
    ct = write_bucketed(
        cust, f"bq_customer_{tag}", f"{wh}/bq_customer_{tag}", "o_custkey",
        num_buckets=8, sort_cols="o_custkey",
    )
    _memo_note("bucketed_pair", t0)
    _BUCKETED_CACHE[sf_dir] = (spark, (ot, ct))
    return ot, ct


@_q(
    "bucketed_customer_revenue",
    """
    SELECT o.o_custkey AS custkey, c.c_name,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY o.o_custkey, c.c_name
    ORDER BY revenue DESC, custkey
    LIMIT 20
    """,
)
def bucketed_customer_revenue(spark, sf_dir):
    """Top customers by revenue over the BUCKETED layout: both sides
    hash-bucketed on the customer key at write time (build memoized per
    session/corpus), so the join is bucket-pairwise and the per-customer
    aggregate inherits the same partitioning — with broadcast disabled
    the physical plan has ZERO Exchange end-to-end
    (tests/test_bucketing.py pins the plan shape). The bench entry
    measures the steady-state co-located cost, not the one-time
    layout write."""
    ot, ct = _bucketed_pair(spark, sf_dir)
    return (
        ot.join(ct, "o_custkey")
        .groupBy("o_custkey", "c_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double"), 2
            ).alias("revenue"),
        )
        .select(F.col("o_custkey").alias("custkey"), "c_name", "n_orders", "revenue")
        .orderBy(F.col("revenue").desc(), "custkey")
        .limit(20)
    )


@_q(
    "doc_unigram_logprob",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOK.format(col='text')}) AS tok FROM documents
    ),
    vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    total AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM vocab)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(ln(c / t)), 6) AS avg_logprob
    FROM toks JOIN vocab USING (tok) CROSS JOIN total
    GROUP BY doc_id
    """,
)
def doc_unigram_logprob(spark, sf_dir):
    """Model-free perplexity proxy: mean corpus-unigram log-probability
    per document (the cheap gibberish/boilerplate filter that runs
    before any LM-based quality score)."""
    from vechord_spark.operators.quality import unigram_logprob

    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob(docs, "doc_id", "text")


@_q(
    "ccnet_buckets",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOK.format(col='text')}) AS tok FROM documents
    ),
    vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
    total AS (SELECT CAST(sum(c) AS DOUBLE) AS t FROM vocab),
    scored AS (
      SELECT doc_id, round(avg(ln(c / t)), 6) AS avg_logprob
      FROM toks JOIN vocab USING (tok) CROSS JOIN total
      GROUP BY doc_id
    ),
    langd AS (
      SELECT s.doc_id, d.lang, s.avg_logprob
      FROM scored s JOIN documents d USING (doc_id)
    ),
    th AS (
      SELECT lang,
             round(quantile_cont(avg_logprob, 1.0/3.0), 6) AS q_lo,
             round(quantile_cont(avg_logprob, 2.0/3.0), 6) AS q_hi
      FROM langd GROUP BY lang
    )
    SELECT l.lang,
           CASE WHEN l.avg_logprob >= t.q_hi THEN 'head'
                WHEN l.avg_logprob >= t.q_lo THEN 'middle'
                ELSE 'tail' END AS ppl_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(l.avg_logprob), 6) AS mean_score
    FROM langd l JOIN th t USING (lang)
    GROUP BY 1, 2
    """,
)
def ccnet_buckets(spark, sf_dir):
    """CCNet per-language corpus tiering: unigram-logprob quality score
    -> per-lang head/middle/tail buckets cut at exact 1/3 and 2/3
    quantiles (Wenzek et al. 2019's perplexity bucketing, with the
    corpus-unigram LM standing in for KenLM). Thresholds and scores are
    6-decimal-rounded so bucket membership is bit-reproducible in the
    oracle. The |langs|-row threshold table broadcasts; the corpus
    never shuffles after scoring (operators/quality
    .perplexity_buckets; at 100 TB swap the exact percentile for
    percentile_approx as documented)."""
    from vechord_spark.operators.quality import perplexity_buckets, unigram_logprob

    docs = _t(spark, sf_dir, "documents")
    # perplexity_buckets consumes the scored frame twice (threshold
    # aggregate + join-back); without a plan boundary the whole
    # tokenize->counts->window scoring subtree runs twice. The frame is
    # one narrow row per doc, so materializing it once is far cheaper
    # than the duplicate pass (at 100 TB this is the standard
    # write-scores-then-tier shape).
    scored = (
        unigram_logprob(docs, "doc_id", "text")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .localCheckpoint(eager=True)
    )
    buckets = perplexity_buckets(scored, "lang", "avg_logprob")
    return buckets.groupBy("lang", "ppl_bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg(F.round("avg_logprob", 6)), 6).alias("mean_score"),
    )


@_q(
    "doc_bigram_logprob",
    f"""
    WITH toksl AS (
      SELECT doc_id, {_TOK.format(col='text')} AS l FROM documents
    ),
    toks AS (SELECT doc_id, unnest(l) AS tok FROM toksl),
    vocab AS (SELECT tok, count(*) AS c1 FROM toks GROUP BY tok),
    total AS (SELECT CAST(sum(c1) AS DOUBLE) AS t FROM vocab),
    pairs AS (
      SELECT doc_id,
             unnest(l[1:len(l) - 1]) AS prev,
             unnest(l[2:len(l)]) AS cur
      FROM toksl WHERE len(l) >= 2
    ),
    bg AS (SELECT prev, cur, count(*) AS c2 FROM pairs GROUP BY prev, cur),
    scored AS (
      SELECT p.doc_id,
             ln(0.75 * bg.c2 / vp.c1 + 0.25 * vc.c1 / total.t) AS lp
      FROM pairs p
      JOIN bg USING (prev, cur)
      JOIN vocab vp ON vp.tok = p.prev
      JOIN vocab vc ON vc.tok = p.cur
      CROSS JOIN total
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             round(avg(lp), 6) AS avg_logprob
      FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           a.avg_logprob
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def doc_bigram_logprob(spark, sf_dir):
    """Jelinek-Mercer interpolated bigram LM score (lam=0.75) — the
    KenLM-shaped perplexity proxy CCNet tiers on, one rung above the
    unigram score: rewards fluent word ORDER, not just common-word
    mass. Bigrams are built in-array from the token list (no self-join,
    no window); one vocab aggregation per order, three probe joins,
    corpus scanned twice (operators/quality.bigram_logprob)."""
    from vechord_spark.operators.quality import bigram_logprob

    docs = _t(spark, sf_dir, "documents")
    return bigram_logprob(docs, "doc_id", "text", lam=0.75)


@_q(
    "doc_kn_logprob",
    f"""
    WITH toksl AS (
      SELECT doc_id, {_TOK.format(col='text')} AS l FROM documents
    ),
    pairs AS (
      SELECT doc_id,
             unnest(l[1:len(l) - 1]) AS prev,
             unnest(l[2:len(l)]) AS cur
      FROM toksl WHERE len(l) >= 2
    ),
    bg AS (SELECT prev, cur, count(*) AS c2 FROM pairs GROUP BY prev, cur),
    ctx AS (
      SELECT prev, CAST(sum(c2) AS DOUBLE) AS c1ctx, count(*) AS n1p_fwd
      FROM bg GROUP BY prev
    ),
    cont AS (SELECT cur, count(*) AS n1p_back FROM bg GROUP BY cur),
    btypes AS (SELECT CAST(count(*) AS DOUBLE) AS b FROM bg),
    scored AS (
      SELECT p.doc_id,
             ln(greatest(bg.c2 - 0.75, 0.0) / ctx.c1ctx
                + 0.75 * ctx.n1p_fwd / ctx.c1ctx * cont.n1p_back / btypes.b
             ) AS lp
      FROM pairs p
      JOIN bg USING (prev, cur)
      JOIN ctx ON ctx.prev = p.prev
      JOIN cont ON cont.cur = p.cur
      CROSS JOIN btypes
    ),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             round(avg(lp), 6) AS avg_kn_logprob
      FROM scored GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           a.avg_kn_logprob
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def doc_kn_logprob(spark, sf_dir):
    """Interpolated KNESER-NEY bigram LM score (round 11) — the
    smoothing the n-gram literature settled on (Chen & Goodman 1999;
    KenLM's default), one rung above doc_bigram_logprob's
    Jelinek-Mercer mix: the backoff weight of a word is how many
    CONTEXTS it follows (distinct-continuation counts), not how often
    it occurs. Same scale shape: in-array bigrams, vocabulary-sized
    aggregates, three probe joins, a 1-row type-total broadcast
    (operators/quality.kneser_ney_logprob). The reference model is the
    memoized ``_kn_model`` — one corpus bigram pass shared with
    corpus_funnel_lm."""
    from vechord_spark.operators.quality import kneser_ney_logprob

    docs = _t(spark, sf_dir, "documents")
    return kneser_ney_logprob(
        docs, "doc_id", "text", discount=0.75, model=_kn_model(spark, sf_dir)
    )


_KN_CACHE: dict = {}


def _kn_model(spark, sf_dir):
    """build_kn_bigram_model memoized per (session, corpus) — the
    KN reference model (bigram types + context/continuation counts) is
    scorer-independent, so the per-doc scorer and the funnel LM gate
    share one corpus bigram pass. The derived vocabulary-sized tables
    persist; the bigram base is an eager checkpoint inside the
    builder."""
    ent = _KN_CACHE.get(sf_dir)
    if ent is not None and ent[0] is spark:
        return ent[1]
    from vechord_spark.operators.quality import build_kn_bigram_model

    bigrams, ctx, cont, btypes = build_kn_bigram_model(
        _t(spark, sf_dir, "documents"), "doc_id", "text"
    )
    model = (bigrams, ctx.persist(), cont.persist(), btypes)
    _KN_CACHE[sf_dir] = (spark, model)
    return model


_MIX_WEIGHTS = {"src0": 0.5, "src1": 0.3, "src2": 0.2}


@_q(
    "corpus_mix",
    f"""
    WITH w(source, w) AS (
      VALUES ('src0', CAST(0.5 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)),
             ('src2', CAST(0.2 AS DOUBLE))
    ),
    counts AS (
      SELECT source, count(*) AS n_rows FROM documents GROUP BY source
    ),
    per AS (
      SELECT c.source, c.n_rows, w.w, c.n_rows / w.w AS cap
      FROM counts c JOIN w ON c.source = w.source
    ),
    alpha AS (SELECT min(cap) AS alpha FROM per),
    rates AS (
      SELECT source,
             CAST(floor(alpha * w / n_rows * 4294967296.0) AS BIGINT) AS thr
      FROM per CROSS JOIN alpha
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(d.doc_id) AS BIGINT) AS id_sum
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE {_hash_frac_sql('mix-v1')} < r.thr
    GROUP BY d.source
    """,
)
def corpus_mix(spark, sf_dir):
    """Target-proportion corpus mixing (DoReMi-style static domain
    weights): per-source sampling rates computed IN-PLAN so the sample
    realizes the requested source ratio at maximal size (binding source
    keeps rate 1.0), membership by the deterministic md5 rule. The rate
    table broadcasts; the corpus never shuffles before the filter."""
    from vechord_spark.operators.sample import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    kept = mixture_sample(docs, "doc_id", "source", _MIX_WEIGHTS, salt="mix-v1")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    )


@_q(
    "temperature_mix",
    f"""
    WITH counts AS (
      SELECT source, count(*) AS n_rows FROM documents GROUP BY source
    ),
    nmin AS (SELECT min(n_rows) AS n_min FROM counts),
    rates AS (
      SELECT source,
             CAST(floor(sqrt(CAST(n_min AS DOUBLE) / CAST(n_rows AS DOUBLE))
                        * 4294967296.0) AS BIGINT) AS thr
      FROM counts CROSS JOIN nmin
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(d.doc_id) AS BIGINT) AS id_sum
    FROM documents d JOIN rates r ON d.source = r.source
    WHERE {_hash_frac_sql('temp-v1')} < r.thr
    GROUP BY d.source
    """,
)
def temperature_mix(spark, sf_dir):
    """Temperature-based corpus resampling (the multilingual c^alpha
    standard, alpha=0.5): per-source rates sqrt(n_min/n_s) computed
    IN-PLAN — tail sources keep everything, head sources downsample
    toward the flattened mix. sqrt is IEEE correctly-rounded in every
    engine, so the thresholds (and the exact kept-row set) are
    bit-reproducible in the oracle. Rate table broadcasts; the corpus
    never shuffles before the filter (operators/sample
    .temperature_sample)."""
    from vechord_spark.operators.sample import temperature_sample

    docs = _t(spark, sf_dir, "documents")
    kept = temperature_sample(docs, "doc_id", "source", alpha=0.5, salt="temp-v1")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    )


_TOKEN_BUDGET = 60_000


@_q(
    "token_budget_mix",
    f"""
    WITH tok AS (
      SELECT doc_id, source, len({_TOK.format(col='text')}) AS n_tok
      FROM documents
    ),
    w(source, w) AS (
      VALUES ('src0', CAST(0.5 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)),
             ('src2', CAST(0.2 AS DOUBLE))
    ),
    totals AS (
      SELECT source, CAST(sum(n_tok) AS DOUBLE) AS n_tokens
      FROM tok GROUP BY source
    ),
    rates AS (
      SELECT t.source,
             CAST(floor(least(1.0, {_TOKEN_BUDGET}.0 * w.w / t.n_tokens)
                        * 4294967296.0) AS BIGINT) AS thr
      FROM totals t JOIN w ON t.source = w.source
    )
    SELECT k.source,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(k.n_tok) AS BIGINT) AS tokens_kept,
           CAST(sum(k.doc_id) AS BIGINT) AS id_sum
    FROM tok k JOIN rates r ON k.source = r.source
    WHERE {_hash_frac_sql('tokbudget-v1')} < r.thr
    GROUP BY k.source
    """,
)
def token_budget_mix(spark, sf_dir):
    """Token-BUDGET mixture planning (operators/sample
    .token_budget_sample): a training run is provisioned in tokens,
    not documents, so the per-source sampling rate comes from each
    source's token mass — rate_s = min(1, budget*w_s / tokens_s), a
    source too small for its share keeps everything (the shortfall is
    visible in tokens_kept, never silently redistributed to other
    sources). Rates computed IN-PLAN from one map-side-combined token
    sum per source; membership by the deterministic md5 rule, so the
    kept set is bit-reproducible in the oracle and stable under
    repartitioning and appends."""
    from vechord_spark.functions.text import tokenize
    from vechord_spark.operators.sample import token_budget_sample

    # materialize the narrow (doc_id, source, n_tok) frame once: the
    # rate aggregate AND the kept-rows accounting both consume __ntok,
    # and nothing downstream needs text — without the boundary the
    # tokenize pass runs twice over the full corpus (at 100 TB this is
    # the standard tokenize-once-count-table shape)
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "source", F.size(tokenize("text")).alias("__ntok"))
        .localCheckpoint(eager=True)
    )
    kept = token_budget_sample(
        docs,
        "doc_id",
        "source",
        F.col("__ntok"),
        _MIX_WEIGHTS,
        budget_tokens=_TOKEN_BUDGET,
        salt="tokbudget-v1",
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("__ntok").cast("bigint").alias("tokens_kept"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    )


_SCRIPT_RANGES_SQL = {
    "latin": r"[A-Za-z\x{00c0}-\x{024f}]",
    "digit": "[0-9]",
    "cyrillic": r"[\x{0400}-\x{04ff}]",
    "greek": r"[\x{0370}-\x{03ff}]",
    "arabic": r"[\x{0600}-\x{06ff}]",
    "cjk": r"[\x{3040}-\x{30ff}\x{4e00}-\x{9fff}\x{ac00}-\x{d7af}]",
    "space": "[ \\t\\n\\r]",
}


def _script_mix_sql() -> str:
    per = ",\n             ".join(
        f"CASE WHEN length(text) > 0 THEN round((length(text) - "
        f"length(regexp_replace(text, '{pat}', '', 'g'))) * 1.0 / length(text), 6)"
        f" END AS {name}_frac"
        for name, pat in _SCRIPT_RANGES_SQL.items()
    )
    covered = " + ".join(
        f"(length(text) - length(regexp_replace(text, '{pat}', '', 'g')))"
        for pat in _SCRIPT_RANGES_SQL.values()
    )
    fracs = list(_SCRIPT_RANGES_SQL) + ["other"]
    means = ",\n           ".join(
        f"round(avg({n}_frac), 6) AS {n}_frac" for n in fracs
    )
    return f"""
    WITH per_doc AS (
      SELECT doc_id, source,
             {per},
             CASE WHEN length(text) > 0 THEN
               round((length(text) - ({covered})) * 1.0 / length(text), 6)
             END AS other_frac
      FROM documents
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           {means}
    FROM per_doc GROUP BY source
    """


@_q("script_mix_report", _script_mix_sql())
def script_mix_report(spark, sf_dir):
    """Unicode SCRIPT composition per source (operators/quality
    .script_mix): mean fraction of characters in each major script
    class — the multilingual triage signal (mislabeled-language and
    script-mixing-spam detector; a lang='en' source drifting CJK is a
    routing bug surfacing here first). Script classes are literal
    codepoint RANGES, not \\p{{Script}} properties, because property
    tables differ across regex engines while ranges count identically
    — that is what makes the DuckDB oracle exact. Zero-shuffle scan +
    one small per-source aggregate."""
    from vechord_spark.operators.quality import script_mix

    docs = _t(spark, sf_dir, "documents")
    per = script_mix(docs, "doc_id", "text").join(
        docs.select("doc_id", "source"), "doc_id"
    )
    fracs = [c for c in per.columns if c.endswith("_frac")]
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        *[F.round(F.avg(c), 6).alias(c) for c in fracs],
    )


@_q(
    "table_profile",
    """
    WITH n AS (SELECT count(*) AS n_rows FROM documents)
    SELECT p.column, n.n_rows, p.n_nulls,
           round(CAST(p.n_nulls AS DOUBLE) / n.n_rows, 6) AS null_frac,
           p.n_distinct, p.min_str, p.max_str,
           round(p.avg_len, 6) AS avg_len
    FROM (
      SELECT 'doc_id' AS column,
             CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
             CAST(min(doc_id) AS VARCHAR) AS min_str,
             CAST(max(doc_id) AS VARCHAR) AS max_str,
             CAST(NULL AS DOUBLE) AS avg_len
      FROM documents
      UNION ALL
      SELECT 'source',
             CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(DISTINCT source) AS BIGINT),
             min(source), max(source), avg(length(source))
      FROM documents
      UNION ALL
      SELECT 'lang',
             CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(DISTINCT lang) AS BIGINT),
             min(lang), max(lang), avg(length(lang))
      FROM documents
      UNION ALL
      SELECT 'text',
             CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(DISTINCT text) AS BIGINT),
             min(text), max(text), avg(length(text))
      FROM documents
    ) p CROSS JOIN n
    """,
)
def table_profile(spark, sf_dir):
    """Corpus-card data profile of the documents table: per-column null
    fraction, exact distinct count, extremes, and average string width —
    computed for ALL columns in ONE map-side-combined aggregation pass
    (N_cols x N_stats aggregate expressions in a single HashAggregate),
    then unpivoted to |columns| rows with stack() on the 1-row result.
    Oracle-parity mode runs exact count(DISTINCT); the documented 100 TB
    default is HLL++ approx_count_distinct, which keeps the whole
    profile single-exchange (operators/profile.profile_columns)."""
    from vechord_spark.operators.profile import profile_columns

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang", "text")
    return profile_columns(docs, exact_distinct=True)


# word 4-gram shingles for the gate query. Production decontamination
# uses 8-13-grams (GPT-3: 13, The Pile/Dolma: 8-13) and that is the
# operator's default (operators/decontaminate.py n=8); the synthetic
# corpus's short docs share almost no 8-grams across non-duplicates
# (1 hit at sf0.01), so the GATE runs n=4 for real coverage (31 hits).
_G4 = (
    f"CASE WHEN len({_TOK.format(col='text')}) >= 4 THEN "
    f"list_transform(generate_series(1, len({_TOK.format(col='text')}) - 3),"
    f" i -> array_to_string(list_slice({_TOK.format(col='text')}, i, i + 3), ' ')) "
    f"ELSE [array_to_string({_TOK.format(col='text')}, ' ')] END"
)

_BENCH_RATE = 0.05
_BENCH_THR = int(round(_BENCH_RATE * (1 << 32)))


@_q(
    "decontaminate_report",
    f"""
    WITH bench AS (
      SELECT doc_id, text FROM documents WHERE {_hash_frac_sql('bench-v1')} < {_BENCH_THR}
    ),
    corp AS (
      SELECT doc_id, text FROM documents WHERE {_hash_frac_sql('bench-v1')} >= {_BENCH_THR}
    ),
    bg AS (
      SELECT DISTINCT doc_id AS bench_id, unnest(list_distinct({_G4})) AS gram FROM bench
    ),
    cg AS (
      SELECT doc_id, unnest(list_distinct({_G4})) AS gram FROM corp
    )
    SELECT cg.doc_id,
           CAST(count(DISTINCT cg.gram) AS BIGINT) AS n_shared_grams,
           CAST(count(DISTINCT bg.bench_id) AS BIGINT) AS n_bench_docs
    FROM cg JOIN bg USING (gram)
    GROUP BY cg.doc_id
    """,
)
def decontaminate_report(spark, sf_dir):
    """Benchmark decontamination (the GPT-3/Pile/Dolma n-gram scrub):
    flag training docs sharing any distinct word n-gram with the
    held-out benchmark set (here: the 5% hash-sampled eval slice; gate
    runs n=4 — see _G4 note — the operator defaults to the published
    n=8). The benchmark gram table BROADCASTS — the corpus side never
    shuffles before the per-doc aggregation, so the plan is
    benchmark-bounded, never O(corpus x benchmark)."""
    from vechord_spark.operators.decontaminate import contaminated_docs
    from vechord_spark.operators.sample import hash_fraction

    docs = _t(spark, sf_dir, "documents")
    h = hash_fraction("doc_id", "bench-v1")
    bench = docs.filter(h < F.lit(_BENCH_THR))
    corp = docs.filter(h >= F.lit(_BENCH_THR))
    return contaminated_docs(corp, "doc_id", "text", bench, "doc_id", "text", n=4)


_SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}
_N_SHARDS = 8
_SPLIT_T_TRAIN = int(round(0.9 * (1 << 32)))
_SPLIT_T_VAL = int(round(0.95 * (1 << 32)))


@_q(
    "split_shards",
    f"""
    WITH assigned AS (
      SELECT doc_id,
             CASE WHEN {_hash_frac_sql('sp1')} < {_SPLIT_T_TRAIN} THEN 'train'
                  WHEN {_hash_frac_sql('sp1')} < {_SPLIT_T_VAL} THEN 'val'
                  ELSE 'test' END AS split,
             CAST({_hash_frac_sql('sp1#shard')} % {_N_SHARDS} AS INT) AS shard
      FROM documents
    )
    SELECT split, shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM assigned GROUP BY split, shard
    """,
)
def split_shards(spark, sf_dir):
    """Deterministic train/val/test split + shard assignment — the last
    pipeline step before the tokenizer. Membership keyed on md5(salt||id)
    (stable under repartitioning/appends — no re-split leakage); shard
    from an independent salt, so ``partitionBy(split, shard)`` writes
    stable, evenly-sized training files. Plan: two codegen md5
    expressions + one map-side-combined aggregate; no join."""
    from vechord_spark.operators.sample import split_assign

    docs = _t(spark, sf_dir, "documents")
    assigned = split_assign(docs, "doc_id", _SPLITS, n_shards=_N_SHARDS, salt="sp1")
    return assigned.groupBy("split", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    )


_LS_HASH = (
    "CAST(('0x' || substr(md5('ls1' || CAST(rep AS VARCHAR)), 1, 8)) AS BIGINT)"
)


@_q(
    "leakage_safe_split",
    f"""
    WITH RECURSIVE jp AS ({_jaccard_sql()}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM jp
      UNION
      SELECT doc_b, doc_a FROM jp
    ),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    clusters AS (
      SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
    ),
    assigned AS (
      SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS rep
      FROM documents d LEFT JOIN clusters c USING (doc_id)
    ),
    labeled AS (
      SELECT doc_id, rep,
             CASE WHEN {_LS_HASH} < {_SPLIT_T_TRAIN} THEN 'train'
                  WHEN {_LS_HASH} < {_SPLIT_T_VAL} THEN 'val'
                  ELSE 'test' END AS split
      FROM assigned
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT rep) AS BIGINT) AS n_clusters,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM labeled GROUP BY split
    """,
)
def leakage_safe_split(spark, sf_dir):
    """Cluster-keyed train/val/test split: near-dup components (from
    the verified MinHash->Jaccard pairs) move as a unit, so no
    paraphrase of a training doc can land in test — cross-split
    leakage is 0 by construction, vs ~p(test) per clone under row-id
    splitting. The cluster-label frame is bounded by docs-in-pairs
    (tiny vs the corpus), so the join broadcasts and the corpus never
    shuffles; the split itself stays a codegen md5 CASE
    (operators/sample.leakage_safe_split)."""
    from vechord_spark.operators.sample import leakage_safe_split as _ls

    docs = _t(spark, sf_dir, "documents")
    pairs = _dedup_stage(spark, sf_dir, "jaccard").select("doc_a", "doc_b")
    assigned = _ls(docs, "doc_id", _SPLITS, pairs, salt="ls1")
    return assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct("split_rep").alias("n_clusters"),
        F.sum("doc_id").cast("bigint").alias("id_sum"),
    )


@_q(
    "char_entropy",
    """
    WITH chars AS (
      SELECT doc_id, unnest(regexp_extract_all(text, '[\\s\\S]')) AS c
      FROM documents
    ),
    counts AS (SELECT doc_id, c, count(*) AS n FROM chars GROUP BY doc_id, c),
    ent AS (
      SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chars,
             round(log2(CAST(sum(n) AS DOUBLE))
                   - sum(n * log2(CAST(n AS DOUBLE))) / sum(n), 6) AS entropy_bits
      FROM counts GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(e.n_chars, 0) AS BIGINT) AS n_chars,
           coalesce(e.entropy_bits, 0.0) AS entropy_bits
    FROM documents d LEFT JOIN ent e USING (doc_id)
    """,
)
def char_entropy_q(spark, sf_dir):
    """Character-level Shannon entropy per doc (bits) — the sub-token
    gibberish/noise detector: natural text ~4 bits/char, base64 junk
    ~6, character spam ~0 (operators/quality.char_entropy)."""
    from vechord_spark.operators.quality import char_entropy

    docs = _t(spark, sf_dir, "documents")
    return char_entropy(docs, "doc_id", "text")


@_q(
    "dsir_importance",
    f"""
    WITH toks AS (
      SELECT doc_id, (lang = 'en') AS y,
             CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) % 8192 AS b
      FROM (SELECT doc_id, lang, unnest({_TOK.format(col='text')}) AS tok
            FROM documents)
    ),
    counts AS (
      SELECT b, sum(CASE WHEN y THEN 1 ELSE 0 END) AS c_tgt,
             count(*) AS c_all
      FROM toks GROUP BY b
    ),
    totals AS (
      SELECT CAST(sum(c_tgt) AS DOUBLE) AS n_tgt,
             CAST(sum(c_all) AS DOUBLE) AS n_all
      FROM counts
    ),
    scored AS (
      SELECT t.doc_id,
             ln((c.c_tgt + 1.0) / (tt.n_tgt + 8192.0))
               - ln((c.c_all + 1.0) / (tt.n_all + 8192.0)) AS w
      FROM toks t JOIN counts c USING (b) CROSS JOIN totals tt
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(w), 6) AS importance
    FROM scored GROUP BY doc_id
    """,
)
def dsir_importance_q(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): hashed-unigram
    target-vs-corpus log-likelihood ratio per doc, the importance-
    resampling score for steering a raw crawl toward a target domain
    (here lang='en'). Hash buckets make both distributions fixed-size
    count vectors; the md5 bucket hash is bit-identical in the oracle
    (operators/quality.dsir_importance)."""
    from vechord_spark.operators.quality import dsir_importance

    docs = _t(spark, sf_dir, "documents")
    return dsir_importance(docs, "doc_id", "text", F.col("lang") == "en")


@_q(
    "nb_quality",
    f"""
    WITH toks AS (
      SELECT doc_id, (lang = 'en') AS y, unnest({_TOK.format(col='text')}) AS tok
      FROM documents
    ),
    counts AS (
      SELECT tok,
             sum(CASE WHEN y THEN 1 ELSE 0 END) AS c_pos,
             sum(CASE WHEN y THEN 0 ELSE 1 END) AS c_neg
      FROM toks GROUP BY tok
    ),
    totals AS (
      SELECT CAST(sum(c_pos) AS DOUBLE) AS n_pos,
             CAST(sum(c_neg) AS DOUBLE) AS n_neg,
             CAST(count(*) AS DOUBLE) AS v
      FROM counts
    ),
    prior AS (
      SELECT ln(CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
              / CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS DOUBLE)) AS log_prior
      FROM documents
    ),
    base AS (
      SELECT doc_id, count(*) AS n_tokens,
             sum(ln((c_pos + 1.0) / (n_pos + v)) - ln((c_neg + 1.0) / (n_neg + v))) AS s
      FROM toks JOIN counts USING (tok) CROSS JOIN totals
      GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(s + log_prior, 6) AS nb_logodds
    FROM base CROSS JOIN prior
    """,
)
def nb_quality(spark, sf_dir):
    """Multinomial Naive-Bayes classifier trained IN-PLAN on weak labels
    (lang tag = 'en') and applied to every document — the fasttext-style
    quality/domain filter (CCNet, Llama data recipe) as two aggregations
    and a probe join, deterministic and oracle-checkable, no model
    object. Per-doc log-odds incl. class prior, Laplace smoothing."""
    from vechord_spark.operators.quality import nb_classifier_score

    docs = _t(spark, sf_dir, "documents")
    return nb_classifier_score(docs, "doc_id", "text", F.col("lang") == "en")


@_q(
    "approx_distinct_users",
    """
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS within_tol
    FROM events
    GROUP BY event_type
    """,
)
def approx_distinct_users(spark, sf_dir):
    """HyperLogLog++ cardinality with an exact gate: per event type,
    distinct users exactly AND via approx_count_distinct(rsd=0.01),
    flagged within 5% (operators/sketch.approx_distinct_gate). At
    100 TB only the HLL half survives — fixed-size mergeable registers,
    one map-side pass, no (type, user) shuffle."""
    from vechord_spark.operators.sketch import approx_distinct_gate

    ev = _t(spark, sf_dir, "events")
    return approx_distinct_gate(ev, "event_type", "user_id")


@_q(
    "ngram_diversity",
    f"""
    WITH sh AS (
      SELECT source, unnest({_SHINGLES}) AS g FROM documents
    )
    SELECT source,
           CAST(count(DISTINCT g) AS BIGINT) AS n_exact,
           TRUE AS within_tol
    FROM sh GROUP BY source
    """,
)
def ngram_diversity(spark, sf_dir):
    """Corpus diversity dashboard: distinct word-3-gram count per
    source — the dedup-health / template-collapse signal (a source
    whose n-gram diversity flatlines while volume grows is pumping
    boilerplate). Exact count + HLL++ estimate with the within-5%%
    gate, same contract as approx_distinct_users: at 100 TB only the
    fixed-register HLL half survives (one map-side pass, no
    (source, shingle) shuffle)."""
    from vechord_spark.functions.text import word_ngrams
    from vechord_spark.operators.sketch import approx_distinct_gate
    from vechord_spark.parallel import spread

    docs = _t(spark, sf_dir, "documents")
    sh = spread(docs).select(
        "source", F.explode(word_ngrams("text", 3)).alias("g")
    )
    return approx_distinct_gate(sh, "source", "g")


@_q(
    "heavy_hitter_users",
    """
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM events
    WHERE user_id IS NOT NULL
    GROUP BY user_id
    ORDER BY n_occurrences DESC, user_id
    LIMIT 20
    """,
)
def heavy_hitter_users(spark, sf_dir):
    """Top-20 most active users via sketch-then-verify: bounded-memory
    per-partition space-saving candidates (mapInPandas, no shuffle),
    then an EXACT recount of only the broadcast candidate union
    (operators/sketch.heavy_hitters). Exact — hence hash-verifiable —
    whenever the 20th count exceeds N/capacity (sf0.1: 85 vs 24.4);
    unlike a full groupBy, the exchange carries only ~partitions x
    capacity candidate rows, not the whole key space."""
    from vechord_spark.operators.sketch import heavy_hitters

    ev = _t(spark, sf_dir, "events")
    return heavy_hitters(ev, "user_id", k=20, capacity=4096)


_GATE_QS = (0.25, 0.5, 0.75, 0.9, 0.99)


@_q(
    "quantile_sketch_gate",
    "WITH v AS (SELECT CAST(value AS DOUBLE) AS v FROM events"
    " WHERE value IS NOT NULL)\n"
    + "\nUNION ALL\n".join(
        f"SELECT CAST({q} AS DOUBLE) AS quantile,"
        f" round(quantile_cont(v, {q}), 6) AS p_exact,"
        f" TRUE AS rank_ok FROM v"
        for q in _GATE_QS
    )
    + "\nORDER BY quantile",
)
def quantile_sketch_gate(spark, sf_dir):
    """Corpus-wide value quantiles: exact interpolated percentile beside
    percentile_approx (mergeable GK sketch) verified by its actual
    RANK-error contract, |rank(approx) - q| <= 1/accuracy, measured
    against the data (operators/sketch.quantile_rank_gate). The exact
    column is the gate's cost; the 100 TB job keeps only the sketch —
    one map-side pass, bounded state."""
    from vechord_spark.operators.sketch import quantile_rank_gate

    ev = _t(spark, sf_dir, "events")
    return quantile_rank_gate(ev, "value", quantiles=_GATE_QS)


# ===========================================================================
# iterative graph ranking (PageRank) + range (point-in-interval) join
# ===========================================================================

_PR_SCALE = 10**12
_PR_ITER = 3


def _pagerank_sql(iterations: int = _PR_ITER, scale: int = _PR_SCALE) -> str:
    """Unrolled fixed-point PageRank (see operators/graph.pagerank):
    every step is BIGINT floor division, so the CTE chain is
    bit-identical to the Spark iterative joins."""
    its = []
    prev = "pr0"
    for i in range(1, iterations + 1):
        its.append(f"""
    it{i} AS (
      SELECT n.node,
             CAST(p.base + (CAST(coalesce(s.inflow, 0) AS BIGINT) * 85) // 100 AS BIGINT) AS units
      FROM nodes n CROSS JOIN params p
      LEFT JOIN (
        SELECT e.dst AS node, CAST(sum(pr.units // d.outdeg) AS BIGINT) AS inflow
        FROM edges e JOIN {prev} pr ON e.src = pr.node JOIN deg d ON e.src = d.src
        GROUP BY e.dst
      ) s ON n.node = s.node
    )""")
        prev = f"it{i}"
    return f"""
    WITH toks AS (SELECT {_TOK.format(col='text')} AS ts FROM documents),
    edges AS (
      SELECT DISTINCT ts[1] AS src, ts[-1] AS dst FROM toks WHERE len(ts) >= 1
    ),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges
      )
    ),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS outdeg FROM edges GROUP BY src),
    params AS (
      SELECT count(*) AS n,
             CAST(({scale} * 15) // (100 * count(*)) AS BIGINT) AS base
      FROM nodes
    ),
    pr0 AS (SELECT node, CAST({scale} // p.n AS BIGINT) AS units FROM nodes, params p),
    {",".join(its)}
    SELECT node, units,
           CAST(row_number() OVER (ORDER BY units DESC, node) AS INT) AS rank
    FROM it{iterations}
    QUALIFY rank <= 20
    ORDER BY rank
    """


@_q("graph_pagerank", _pagerank_sql())
def graph_pagerank(spark, sf_dir):
    """Iterative PageRank over the token graph (each document
    contributes a (first token -> last token) edge, the same synthetic
    graph as graph_relation_merge). Extends the reference's graph layer
    (2-hop expansion, vechord/pipeline.py:444-487) with GraphRAG-style
    entity importance. Fixed-point BIGINT arithmetic makes the 3
    iterations hash-identical to the DuckDB oracle; at cluster scale
    each iteration is one shuffled join + one aggregation (see
    operators/graph.pagerank)."""
    from vechord_spark.operators.graph import pagerank
    from vechord_spark.operators.topk import ranked_topk

    docs = _t(spark, sf_dir, "documents")
    toks = TX.tokenize("text")
    edges = (
        docs.select(
            F.element_at(toks, 1).alias("src"),
            F.element_at(toks, -1).alias("dst"),
        )
        .where(F.col("src").isNotNull())
        .distinct()
    )
    ranks = pagerank(edges, iterations=_PR_ITER, scale=_PR_SCALE)
    return ranked_topk(
        ranks, [F.col("units").desc(), F.col("node").asc()], 20
    ).select("node", "units", "rank")


@_q(
    "events_interval_join",
    """
    WITH iv AS (
      SELECT event_id, ts AS w_start, ts + INTERVAL 5 MINUTE AS w_end
      FROM events WHERE event_type = 'error'
    ),
    pts AS (SELECT ts AS p_ts, value FROM events WHERE event_type = 'click'),
    j AS (
      SELECT iv.event_id,
             CAST(count(*) AS BIGINT) AS n_clicks,
             round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 2) AS click_value
      FROM iv JOIN pts ON pts.p_ts >= iv.w_start AND pts.p_ts < iv.w_end
      GROUP BY iv.event_id
    )
    SELECT event_id, n_clicks, click_value,
           CAST(row_number() OVER (ORDER BY n_clicks DESC, event_id) AS INT) AS rank
    FROM j
    QUALIFY rank <= 20
    ORDER BY rank
    """,
)
def events_interval_join(spark, sf_dir):
    """Range join at scale: click activity inside each error's 5-minute
    incident window, ranked by click volume. The naive range join is a
    BroadcastNestedLoopJoin (O(n*m) — a scale-killer); the engine's
    point_in_interval_join bins time so it becomes a shuffled EQUI-join
    on the bucket id with the exact range predicate re-applied (see
    operators/interval.py). Complements the as-of join (operators/
    asof.py) with overlap semantics."""
    from vechord_spark.operators.interval import point_in_interval_join
    from vechord_spark.operators.topk import ranked_topk

    ev = _t(spark, sf_dir, "events")
    iv = ev.filter(F.col("event_type") == "error").select(
        "event_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("w_end"),
    )
    pts = ev.filter(F.col("event_type") == "click").select(
        F.col("ts").alias("p_ts"), "value"
    )
    joined = point_in_interval_join(iv, pts, start="w_start", end="w_end", ts="p_ts")
    agg = joined.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.round(
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double"), 2
        ).alias("click_value"),
    )
    return ranked_topk(
        agg, [F.col("n_clicks").desc(), F.col("event_id").asc()], 20
    ).select("event_id", "n_clicks", "click_value", "rank")


@_q(
    "rerank_lexical",
    f"""
    WITH cands AS ({{bm25}}),
    cov AS (
      SELECT c.doc_id,
             round(len(list_intersect(
               list_distinct({_TOK.format(col='d.text')}),
               {_BM25_TERMS!r}
             )) / {len(_BM25_TERMS)}.0, 6) AS coverage,
             c.rank AS stage1_rank
      FROM cands c JOIN documents d ON c.doc_id = d.doc_id
    )
    SELECT doc_id, coverage,
           CAST(row_number() OVER (
             ORDER BY coverage DESC, stage1_rank, doc_id
           ) AS INT) AS rank
    FROM cov
    ORDER BY rank
    LIMIT 10
    """.replace("{bm25}", "PLACEHOLDER_BM25"),
)
def rerank_lexical(spark, sf_dir):
    """R-family executable reranker: BM25 first stage -> lexical
    coverage rerank (|doc terms ∩ query terms| / |query terms|), the
    cascade contract of the HTTP rerankers (operators/fusion.
    lexical_rerank) with an exact SQL oracle. Rerank cost is
    O(candidates) — the corpus is never rescanned."""
    from vechord_spark.operators.fusion import lexical_rerank

    docs = _t(spark, sf_dir, "documents")
    cands = bm25_topk_documents(spark, sf_dir).select("doc_id", "rank")
    with_text = cands.join(docs.select("doc_id", "text"), "doc_id")
    return lexical_rerank(with_text, "text", BM25_QUERY, "doc_id", topk=10)


ORACLES["rerank_lexical"] = ORACLES["rerank_lexical"].replace(
    "PLACEHOLDER_BM25", _BM25_ORACLE
)


@_q(
    "mmr_rerank_diverse",
    """
    -- the synthesized candidates make the greedy MMR trace a pure
    -- function of doc_id arithmetic: per query (doc_id % 20) the
    -- candidates rank r = doc_id // 20 with relevance 1 - r/8192
    -- (dyadic-exact in both engines) and orthogonal one-hot cluster
    -- vectors (cluster = r // 10). Greedy lam=0.5: phase 1 takes each
    -- cluster's leader (r = 0, 10, 20, ...; penalty exactly 0), then
    -- every survivor carries penalty exactly 1, so phase 2 walks the
    -- non-multiples of 10 in rank order. All score arithmetic stays
    -- on dyadic rationals, so the doubles hash-match bit-for-bit.
    WITH stats AS (
      SELECT doc_id % 20 AS qid,
             count(*) AS c,
             CAST(ceil(count(*) / 10.0) AS BIGINT) AS nc
      FROM documents GROUP BY 1
    ),
    picks AS (
      SELECT qid, nc, CAST(t.p AS INT) AS pos,
             CASE WHEN t.p < nc THEN t.p * 10
                  ELSE ((t.p - nc) // 9) * 10 + ((t.p - nc) % 9) + 1
             END AS r
      FROM stats CROSS JOIN range(8) AS t(p)
      WHERE t.p < LEAST(8, c)
    )
    SELECT CAST(qid AS BIGINT) AS qid,
           pos,
           CAST(qid + 20 * r AS BIGINT) AS doc_id,
           CASE WHEN pos < nc
                THEN 0.5 * (1.0 - r / 8192.0)
                ELSE 0.5 * (1.0 - r / 8192.0) - 0.5
           END AS mmr_score
    FROM picks
    ORDER BY qid, pos
    """,
)
def mmr_rerank_diverse(spark, sf_dir):
    """Listwise diversity reranking end-to-end (round 10): MMR
    (operators/mmr.mmr_rerank, Carbonell & Goldstein 1998) over a
    candidate corpus synthesized from the documents table — 20 query
    groups, per-group candidates with strictly-descending dyadic
    relevance and one-hot cluster embeddings (10 consecutive ranks per
    cluster) — run as ONE groupBy(qid).applyInPandas stage with the
    per-group numpy greedy. The geometry makes the greedy trace exact
    closed-form: cluster leaders first (orthogonal picks, penalty 0),
    then redundant candidates at penalty exactly 1, so the oracle
    states the full (pick order, score) trace in SQL and the doubles
    hash-match bit-for-bit. The reference's rerank surface is
    pointwise (vechord/rerank.py, ported in operators/fusion.py);
    MMR is the listwise complement a retrieval stack needs once
    first-stage candidates start arriving near-duplicated. At 100 TB
    the query stream is the parallel axis: one shuffle on qid,
    candidate lists stay top-N-bounded, no driver participation."""
    from vechord_spark.operators.mmr import mmr_rerank

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n_docs = _cached_count(docs, sf_dir, "documents")
    dim = ((n_docs - 1) // 20) // 10 + 1  # max cluster index + 1
    r = F.expr("doc_id div 20")  # integer division, no double round-trip
    cluster = F.expr("doc_id div 20 div 10")
    cands = docs.select(
        (F.col("doc_id") % 20).alias("qid"),
        F.col("doc_id").alias("id"),
        (F.lit(1.0) - r.cast("double") / F.lit(8192.0)).alias("rel"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.when(i == cluster, F.lit(1.0)).otherwise(F.lit(0.0)),
        ).alias("vec"),
    )
    out = mmr_rerank(
        cands, query_col="qid", id_col="id", rel_col="rel",
        vec_col="vec", k=8, lam=0.5,
    )
    return out.select(
        F.col("qid").cast("bigint").alias("qid"),
        F.col("pos"),
        F.col("id").cast("bigint").alias("doc_id"),
        F.col("mmr_score"),
    ).orderBy("qid", "pos")


@_q(
    "events_sliding_counts",
    """
    WITH starts AS (
      SELECT w_start, event_type FROM (
        SELECT date_trunc('hour', ts) AS w_start, event_type FROM events
        UNION ALL
        SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR AS w_start, event_type
        FROM events
      )
    ),
    counted AS (
      SELECT w_start, event_type, CAST(count(*) AS BIGINT) AS n_events
      FROM starts GROUP BY w_start, event_type
    )
    SELECT w_start AS window_start, event_type, n_events,
           CAST(row_number() OVER (
             ORDER BY n_events DESC, w_start, event_type
           ) AS INT) AS rank
    FROM counted
    QUALIFY rank <= 20
    ORDER BY rank
    """,
)
def events_sliding_counts(spark, sf_dir):
    """Sliding-window rollup (2-hour windows, 1-hour slide): the
    overlapping-window counterpart of events_daily_summary — each event
    lands in window_size/slide windows (here 2: its own hour's window
    and the previous hour's). Spark's F.window handles the fan-out
    in-plan (epoch-aligned starts, which is what the oracle's
    two-shifted-truncations UNION reproduces); top-20 busiest
    (window, type) cells returned."""
    from vechord_spark.operators.topk import ranked_topk

    ev = _t(spark, sf_dir, "events")
    counted = (
        ev.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )
    return ranked_topk(
        counted,
        [
            F.col("n_events").desc(),
            F.col("window_start").asc(),
            F.col("event_type").asc(),
        ],
        20,
    ).select("window_start", "event_type", "n_events", "rank")


_PCA_CACHE: dict = {}


def _pca8(spark, sf_dir):
    """PCA model over the embeddings table, memoized per (session,
    corpus) — build-once/query-many like _ivf16."""
    key = (sf_dir, 8)
    ent = _PCA_CACHE.get(key)
    if ent is not None and ent[0] is spark:
        return ent[1]
    from vechord_spark.operators.pca import fit_pca

    model = fit_pca(_t(spark, sf_dir, "embeddings"), "embedding", k=8)
    _PCA_CACHE[key] = (spark, model)
    return model


@_q(
    "embedding_pca_gate",
    """
    SELECT CAST(8 AS INT) AS k, CAST(64 AS INT) AS dim,
           CAST(0.1 AS DOUBLE) AS var_floor,
           CAST(1 AS INT) AS var_ok, CAST(1 AS INT) AS ortho_ok
    """,
)
def embedding_pca_gate(spark, sf_dir):
    """Distributed-PCA gate (operators/pca.py): the one-pass Gram
    aggregation + driver-side eigh is not SQL-expressible, so — like
    the IVF recall gates — the oracle pins the CLAIM (config + floors +
    pass bits) while Spark computes the evidence: the IN-PLAN variance
    of the projected corpus (exercising the codegen projection path)
    must reach var_floor of the total variance, and the fitted axes
    must be orthonormal. Uniform random 64-d embeddings put ~1/64 of
    variance per axis, so top-8 measures ~0.125 against the 0.10
    floor."""
    import numpy as np

    from vechord_spark.operators.pca import project_pca

    model = _pca8(spark, sf_dir)
    ortho_err = float(
        np.abs(model.components @ model.components.T - np.eye(model.k)).max()
    )
    emb = _t(spark, sf_dir, "embeddings")
    proj = project_pca(emb, "embedding", model, out_col="pca")
    sq = F.aggregate(
        "pca", F.lit(0.0), lambda acc, v: acc + v * v
    )
    return proj.agg(
        F.lit(8).alias("k"),
        F.lit(64).alias("dim"),
        F.lit(0.1).alias("var_floor"),
        (
            (F.sum(sq) / (F.count(F.lit(1)) - F.lit(1)))
            >= F.lit(0.1) * F.lit(float(model.total_var))
        ).cast("int").alias("var_ok"),
        F.lit(1 if ortho_err < 1e-8 else 0).alias("ortho_ok"),
    )


@_q(
    "graph_triangles",
    f"""
    WITH und AS (SELECT doc_a AS a, doc_b AS b FROM ({_minhash_sql()})),
    deg AS (
      SELECT node, count(*) AS deg FROM (
        SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und
      ) GROUP BY node
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
           (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
           (SELECT CAST(count(*) AS BIGINT)
            FROM und e1
            JOIN und e2 ON e1.b = e2.a
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
    """,
)
def graph_triangles(spark, sf_dir):
    """Triangle census of the MinHash candidate-pair graph — the
    clique-density signal of near-duplicate clusters (triangle-rich
    candidate neighborhoods are true dup groups; triangle-free spokes
    are LSH false positives). Spark runs the degree-ORIENTED wedge join
    (operators/graph.triangle_count, O(m^1.5) bound); the oracle counts
    the same triangles with an unoriented ordered three-way join — a
    deliberately different algorithm, so parity checks the count, not
    the implementation."""
    from vechord_spark.operators.graph import triangle_count

    pairs = _dedup_stage(spark, sf_dir, "cands")
    return triangle_count(pairs, src="doc_a", dst="doc_b")


@_q(
    "weighted_doc_sample",
    """
    -- priority sampling (Duffield-Lund-Thorup): priority = w * 2^32
    -- / (md5-hash + 1), one exact multiply + ONE IEEE division, so
    -- the doubles are bit-identical across engines
    WITH pri AS (
      SELECT doc_id, n_chars,
             CAST(n_chars AS DOUBLE) * 4294967296
               / (CAST(('0x' || substr(md5('ps1' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 1)
               AS priority
      FROM documents
    )
    SELECT doc_id, n_chars, priority,
           CAST(row_number() OVER (ORDER BY priority DESC, doc_id) AS INT) AS rank
    FROM pri
    ORDER BY rank
    LIMIT 20
    """,
)
def weighted_doc_sample(spark, sf_dir):
    """Weight-proportional sampling without replacement (round 10):
    the 20 highest-priority documents under priority sampling
    (operators/sample.weighted_priority_sample) with length (n_chars)
    as the weight — the score-weighted corpus subsetting a training
    mixture uses when documents should be drawn proportional to a
    quality/length weight rather than uniformly. Priorities are the
    single-expression ``w * 2^32 / (md5_hash + 1)`` (no ln/pow, so no
    cross-engine libm skew) and the plan is one codegen projection
    feeding TakeOrderedAndProject — no shuffle, deterministic under
    repartitioning and appends like every sampler in the family."""
    from vechord_spark.operators.sample import weighted_priority_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return weighted_priority_sample(
        docs, "doc_id", "n_chars", 20, salt="ps1"
    ).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_chars").cast("int").alias("n_chars"),
        "priority",
        F.col("rank").cast("int").alias("rank"),
    )


_CAP_PER_SOURCE = 50


@_q(
    "source_cap_sample",
    f"""
    WITH ranked AS (
      SELECT source, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5('cap0' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS kept_chars
    FROM ranked WHERE rn <= {_CAP_PER_SOURCE}
    GROUP BY source
    """,
)
def source_cap_sample(spark, sf_dir):
    """Per-domain document cap (RefinedWeb/CCNet-style anti-bias
    sampling): keep at most N docs per source, chosen by a salted-hash
    order so the cap is deterministic AND uniformly random per domain.
    One shuffle on source; the window never sorts more than one
    domain's rows per partition, and at 100 TB a hot domain is first
    pre-pruned map-side (any partition-local rank > N can be dropped
    before the exchange — same trick as TakeOrderedAndProject)."""
    from vechord_spark.operators.sample import cap_per_key

    docs = _t(spark, sf_dir, "documents")
    kept = cap_per_key(docs, "source", _CAP_PER_SOURCE, order_id="doc_id", salt="cap0")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("kept_chars"),
    )



# ===========================================================================
# Gopher quality rules over a synthesized multi-line corpus (round 5)
# ===========================================================================

# The synthetic documents table has no newlines/bullets/ellipses, so —
# exactly like text_redact_pii's PII injection — the query
# deterministically rebuilds each doc as 7-token lines with
# doc_id-keyed bullet / ellipsis / '#' decorations, then runs the full
# Gopher rule set; the oracle proves the rebuild AND the rules
# byte-identical in DuckDB.
_GOPHER_LINE_W = 7


def _gopher_body_sql() -> str:
    """The `built` CTE body expression shared by gopher/line-dedup
    oracles (DuckDB side of _gopher_multiline_body)."""
    w = _GOPHER_LINE_W
    return f"""CASE WHEN len(toks) = 0 THEN '' ELSE
               array_to_string(
                 list_transform(
                   generate_series(0, CAST(ceil(len(toks) / {w}.0) AS INTEGER) - 1),
                   i -> CASE WHEN (doc_id + i) % 4 = 0 THEN '- ' ELSE '' END
                        || array_to_string(list_slice(toks, i * {w} + 1, i * {w} + {w}), ' ')
                        || CASE WHEN (doc_id + i) % 6 = 0 THEN ' #tag' ELSE '' END
                        || CASE WHEN (doc_id + i) % 5 = 0 THEN '...' ELSE '' END),
                 chr(10))
             END"""


def _gopher_sql() -> str:
    toks = _TOK.format(col="text")
    w = _GOPHER_LINE_W
    req = ", ".join(f"'{t}'" for t in QL.GOPHER_REQUIRED_WORDS)
    req_hits = " + ".join(
        f"CAST(list_contains(toks, '{t}') AS INTEGER)" for t in QL.GOPHER_REQUIRED_WORDS
    )
    return f"""
    WITH t AS (
      SELECT doc_id, {toks} AS toks FROM documents
    ),
    built AS (
      SELECT doc_id, {_gopher_body_sql()} AS body, toks
      FROM t
    ),
    feats AS (
      SELECT doc_id, toks,
             list_filter(string_split_regex(body, '\\s+'), x -> x <> '') AS words,
             list_filter(list_transform(string_split(body, chr(10)), l -> trim(l)), l -> l <> '') AS lines,
             length(body) - length(replace(body, '#', '')) AS n_hash,
             len(regexp_extract_all(body, '(\\.\\.\\.|…)')) AS n_dots
      FROM built
    )
    SELECT doc_id,
           CAST(len(words) AS INTEGER) AS n_words,
           CASE WHEN len(words) > 0 THEN round(CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE) / len(words), 6) ELSE 0.0 END AS mean_word_len,
           CASE WHEN len(words) > 0 THEN round(CAST(n_hash + n_dots AS DOUBLE) / len(words), 6) ELSE 0.0 END AS symbol_ratio,
           CASE WHEN len(lines) > 0 THEN round(CAST(len(list_filter(lines, l -> regexp_matches(l, '^[-*•‣▶]'))) AS DOUBLE) / len(lines), 6) ELSE 0.0 END AS bullet_line_frac,
           CASE WHEN len(lines) > 0 THEN round(CAST(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)$'))) AS DOUBLE) / len(lines), 6) ELSE 0.0 END AS ellipsis_line_frac,
           CASE WHEN len(words) > 0 THEN round(CAST(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) / len(words), 6) ELSE 0.0 END AS alpha_word_frac,
           CAST({req_hits} AS INTEGER) AS n_required_words,
           (len(words) BETWEEN 50 AND 100000)
             AND (CASE WHEN len(words) > 0 THEN CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE) / len(words) ELSE 0.0 END BETWEEN 3.0 AND 10.0)
             AND (CASE WHEN len(words) > 0 THEN CAST(n_hash + n_dots AS DOUBLE) / len(words) ELSE 0.0 END <= 0.1)
             AND (CASE WHEN len(lines) > 0 THEN CAST(len(list_filter(lines, l -> regexp_matches(l, '^[-*•‣▶]'))) AS DOUBLE) / len(lines) ELSE 0.0 END <= 0.9)
             AND (CASE WHEN len(lines) > 0 THEN CAST(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)$'))) AS DOUBLE) / len(lines) ELSE 0.0 END <= 0.3)
             AND (CASE WHEN len(words) > 0 THEN CAST(len(list_filter(words, x -> regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) / len(words) ELSE 0.0 END >= 0.8)
             AND ({req_hits} >= 2)
           AS passes_gopher
    FROM feats
    """


def _gopher_multiline_body(doc_id, toks):
    """Deterministic multi-line rebuild shared by gopher/line-dedup
    queries: 7-token lines, doc_id-keyed '- ' bullets, ' #tag' symbols
    and '...' endings (Spark side of _gopher_sql's `built` CTE)."""
    w = _GOPHER_LINE_W
    n_lines = F.ceil(F.size(toks) / F.lit(float(w))).cast("int")
    lines = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.concat(
            F.when((doc_id + i) % 4 == 0, F.lit("- ")).otherwise(F.lit("")),
            F.array_join(F.slice(toks, i * w + 1, w), " "),
            F.when((doc_id + i) % 6 == 0, F.lit(" #tag")).otherwise(F.lit("")),
            F.when((doc_id + i) % 5 == 0, F.lit("...")).otherwise(F.lit("")),
        ),
    )
    return F.when(F.size(toks) == 0, F.lit("")).otherwise(F.array_join(lines, "\n"))


@_q("gopher_quality_flags", _gopher_sql())
def gopher_quality_flags(spark, sf_dir):
    """Full Gopher rule report (Rae et al. 2021 A1.1: word-count
    bounds, mean word length, symbol ratio, bullet/ellipsis line
    fractions, alphabetic-word fraction, required-word hits) over the
    decorated multi-line rebuild. Pure Column expressions — one scan,
    zero shuffles, whole-stage codegen end to end
    (operators/quality.gopher_quality)."""
    from vechord_spark.functions.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    body = _gopher_multiline_body(F.col("doc_id"), tokenize("text"))
    return QL.gopher_quality(
        docs.select("doc_id", body.alias("text")), "doc_id", "text"
    )



_FUNNEL_GATE_SQL = (
    "gq.n_words BETWEEN 50 AND 100000 AND gq.symbol_ratio <= 0.1 "
    "AND gq.ellipsis_line_frac <= 0.3"
)


# The funnel pair's SHARED artifacts — the gated corpus (every doc +
# its fingerprint + its Gopher verdict), the exact-dedup survivors, and
# their MinHash band table. A production wave persists exactly these at
# day-1 close (the report's docstring calls the gated corpus "the
# funnel's ONE materialization point"), and the day-2 incremental run
# probes them instead of rebuilding: corpus_funnel_report builds the
# stages, corpus_funnel_incremental reuses whichever are already built
# (_funnel_peek — opportunistic, so a standalone day-2 run keeps its
# O(batch) contract and never scans the full corpus). Memoized per
# (session, corpus) like _DEDUP_CACHE; at cluster scale these persists
# are staged tables between pipeline runs.
_FUNNEL_CACHE: dict = {}

# the funnel's admission rule (the subset of Gopher rules that
# discriminate on the synthetic corpus — see corpus_funnel_report) —
# ONE definition so report and incremental can never drift
_FUNNEL_GOPHER_KW = dict(
    min_words=50,
    max_words=100_000,
    min_mean_word_len=3.0,
    max_mean_word_len=10.0,
    max_symbol_ratio=0.1,
    max_bullet_frac=0.9,
    max_ellipsis_frac=0.3,
    min_alpha_word_frac=0.8,
    min_required_words=2,
)


def _funnel_gate_expr(ge):
    return (
        ge["n_words"].cast("int").between(50, 100000)
        & (ge["symbol_ratio"] <= 0.1)
        & (ge["ellipsis_line_frac"] <= 0.3)
    )


def _funnel_exact_dedup(gated: DataFrame) -> DataFrame:
    """min-doc_id per fingerprint group over a frame that already
    carries ``__fp`` (= TX.fingerprint(text), the same expression
    drop_exact_duplicates computes inline) — the funnel stages attach
    the fingerprint once at the gated-docs checkpoint, so the window
    keys on the stored column instead of re-hashing the text."""
    from pyspark.sql import Window

    w = Window.partitionBy("__fp").orderBy(F.col("doc_id").asc())
    return (
        gated.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _funnel_stage(spark, sf_dir, stage: str):
    key = (sf_dir, stage)
    ent = _FUNNEL_CACHE.get(key)
    if ent is not None and ent[0] is spark:
        return ent[1]
    from vechord_spark.functions.text import tokenize
    from vechord_spark.parallel import spread as _spread

    if stage == "gated_docs":
        # heavy gate expressions run once, distributed across the
        # spread partitions; the eager checkpoint is the plan boundary
        # no later stage can push work back through (round-5: the
        # pushdown serialized the whole rule set onto one core)
        docs = _t(spark, sf_dir, "documents")
        body = _gopher_multiline_body(F.col("doc_id"), tokenize("text"))
        ge = QL._gopher_exprs("__gbody", **_FUNNEL_GOPHER_KW)
        # __ntok stored at the checkpoint (round 14): every funnel
        # accounting aggregate downstream (report stages, day-2 fused
        # rows, lm rows) sums token counts over frames descended from
        # this one — storing the size once removes the per-row
        # re-tokenize from every one of those scans
        out = (
            _spread(docs)
            .withColumn("__fp", TX.fingerprint("text"))
            .withColumn("__gbody", body)
            .withColumn("__gate", _funnel_gate_expr(ge))
            .drop("__gbody")
            .withColumn("__ntok", F.size(tokenize("text")).cast("bigint"))
            .localCheckpoint(eager=True)
        )
    elif stage == "exact":
        gated = _funnel_stage(spark, sf_dir, "gated_docs").filter(
            F.col("__gate")
        )
        # checkpoint, not persist: the frame is small but its lineage
        # carries the md5-window tree, and PySpark re-analyzes the full
        # accumulated tree on every downstream compose (round-9 A/B)
        out = _funnel_exact_dedup(gated).localCheckpoint(eager=True)
    elif stage == "bands":
        out = DD.minhash_bands(
            _funnel_stage(spark, sf_dir, "exact"), "doc_id", "text"
        ).persist()
    elif stage == "cands":
        out = DD.minhash_candidate_pairs(
            _funnel_stage(spark, sf_dir, "exact"),
            "doc_id",
            "text",
            bands=_funnel_stage(spark, sf_dir, "bands"),
        ).localCheckpoint(eager=True)
    elif stage == "surv":
        exact = _funnel_stage(spark, sf_dir, "exact")
        pairs = DD.ngram_jaccard(
            exact,
            "doc_id",
            "text",
            threshold=0.35,
            candidates=_funnel_stage(spark, sf_dir, "cands"),
        ).select("doc_a", "doc_b")
        out = DD.drop_near_duplicates(exact, "doc_id", pairs).persist()
    else:  # pragma: no cover
        raise ValueError(stage)
    _FUNNEL_CACHE[key] = (spark, out)
    return out


def _funnel_peek(spark, sf_dir, stage: str):
    """The stage frame if THIS session already built it, else None —
    the incremental funnel's opportunistic reuse: never triggers a
    full-corpus build (that would break its O(batch) contract), but a
    day-1 report in the same session makes day-2 probe the artifacts."""
    ent = _FUNNEL_CACHE.get((sf_dir, stage))
    return ent[1] if ent is not None and ent[0] is spark else None


def _funnel_surv_ctes() -> str:
    """The oracle-side funnel chain through the near-dup SURVIVORS —
    one definition shared by corpus_funnel_report and corpus_funnel_lm
    so the two oracles can never drift (mirrors _funnel_stage on the
    Spark side)."""
    return f"""
    gq AS ({_gopher_sql()}),
    pass1 AS (
      SELECT d.* FROM documents d
      JOIN gq ON gq.doc_id = d.doc_id
      WHERE {_FUNNEL_GATE_SQL}
    ),
    exact AS (
      SELECT doc_id, text, lang, source, n_chars FROM (
        SELECT d.*, row_number() OVER (
          PARTITION BY md5(array_to_string({_TOK.format(col='text')}, ' '))
          ORDER BY doc_id) AS rn
        FROM pass1 d) WHERE rn = 1
    ),
    jp AS ({_jaccard_sql(src='exact')}),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM jp
      UNION
      SELECT doc_b, doc_a FROM jp
    ),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    clusters AS (
      SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
    ),
    surv AS (
      SELECT e.* FROM exact e LEFT JOIN clusters c ON e.doc_id = c.doc_id
      WHERE c.doc_id IS NULL OR c.cluster_id = c.doc_id
    )"""


@_q(
    "corpus_funnel_report",
    f"""
    WITH RECURSIVE
    {_funnel_surv_ctes()},
    train AS (
      SELECT * FROM surv WHERE {_hash_frac_sql('sp1')} < {_SPLIT_T_TRAIN}
    )
    SELECT * FROM (
      SELECT 0 AS stage_no, 'raw' AS stage,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(coalesce(sum(len({_TOK.format(col='text')})), 0) AS BIGINT) AS n_tokens,
             CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum
      FROM documents
      UNION ALL
      SELECT 1, 'quality_gate', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(len({_TOK.format(col='text')})), 0) AS BIGINT),
             CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM pass1
      UNION ALL
      SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(len({_TOK.format(col='text')})), 0) AS BIGINT),
             CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM exact
      UNION ALL
      SELECT 3, 'near_dedup', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(len({_TOK.format(col='text')})), 0) AS BIGINT),
             CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM surv
      UNION ALL
      SELECT 4, 'train_split', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(len({_TOK.format(col='text')})), 0) AS BIGINT),
             CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM train
    )
    """,
)
def corpus_funnel_report(spark, sf_dir):
    """THE end-to-end training-corpus pipeline, as one report: raw ->
    quality gate -> exact dedup -> near-dup survivors -> train split,
    with per-stage doc/token/id-sum accounting — the data-funnel table
    every large-scale ingest wave publishes. Stages compose the
    already-verified operators: Gopher shape rules over the decorated
    rebuild (required-words rule omitted — the synthetic corpus has no
    English stopwords, so it zeroes every doc; the three retained rules
    each discriminate here), min-id exact dedup on the normalized-text
    fingerprint, MinHash->Jaccard->connected-components survivors, and
    the md5 hash split. Scale shape: each stage is the pinned plan of
    its standalone query (zero-shuffle gate; one fingerprint exchange;
    banded candidate join; md5 CASE split); the five stage aggregates
    are one job over persisted intermediates, so the dedup chain runs
    once, not three times — and the intermediates are the SHARED
    ``_funnel_stage`` artifacts (gated corpus / exact survivors / band
    table / survivors), built here once per (session, corpus) and then
    probed by ``corpus_funnel_incremental`` instead of rebuilt (the
    round-11 verdict's largest remaining bench line was exactly this
    pair rebuilding overlapping stages independently). Cache-owned
    frames stay persisted for the session — the build-once/query-many
    contract of _DEDUP_CACHE, not the per-call leak class."""
    from vechord_spark.functions.text import tokenize
    from vechord_spark.operators.sample import split_assign

    gated_docs = _funnel_stage(spark, sf_dir, "gated_docs")
    exact = _funnel_stage(spark, sf_dir, "exact")
    surv = _funnel_stage(spark, sf_dir, "surv")
    assigned = split_assign(surv, "doc_id", _SPLITS, salt="sp1")

    def stage(no: int, name: str, df: DataFrame) -> DataFrame:
        # __ntok is stored on the gated-docs checkpoint (and inherited
        # by exact/surv) — no per-row re-tokenize in the accounting
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("__ntok"), F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
            F.coalesce(F.sum("doc_id"), F.lit(0)).cast("bigint").alias("id_sum"),
        ).select(
            F.lit(no).alias("stage_no"),
            F.lit(name).alias("stage"),
            "n_docs",
            "n_tokens",
            "id_sum",
        )

    # stages that are filters of one materialized frame fuse into ONE
    # conditional-aggregation scan each (r13: tokenize ran once per
    # stage branch before; r14: zero tokenize — __ntok is stored):
    # raw + quality_gate share the gated-docs checkpoint (same rows as
    # documents, gate verdict attached), and near_dedup + train_split
    # share the survivor frame (train is a codegen CASE over it).
    # 5 corpus scans -> 3.
    def _fused(frame, branches):
        aggs = []
        for _no, _nm, tag, cond in branches:
            w = (lambda c: (lambda e: F.when(c, e)))(cond) if cond is not None else (
                lambda e: e
            )
            aggs += [
                F.coalesce(F.sum(w(F.lit(1))), F.lit(0))
                .cast("bigint")
                .alias(f"n_{tag}"),
                F.coalesce(F.sum(w(F.col("__ntok"))), F.lit(0))
                .cast("bigint")
                .alias(f"t_{tag}"),
                F.coalesce(F.sum(w(F.col("doc_id"))), F.lit(0))
                .cast("bigint")
                .alias(f"s_{tag}"),
            ]
        return frame.agg(*aggs).select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(no).alias("stage_no"),
                            F.lit(nm).alias("stage"),
                            F.col(f"n_{tag}").alias("n_docs"),
                            F.col(f"t_{tag}").alias("n_tokens"),
                            F.col(f"s_{tag}").alias("id_sum"),
                        )
                        for no, nm, tag, _c in branches
                    ]
                )
            ).alias("s")
        ).select("s.*")

    head = _fused(
        gated_docs,
        [(0, "raw", "raw", None), (1, "quality_gate", "gate", F.col("__gate"))],
    )
    tail = _fused(
        assigned,
        [
            (3, "near_dedup", "surv", None),
            (4, "train_split", "train", F.col("split") == "train"),
        ],
    )
    return head.unionByName(stage(2, "exact_dedup", exact)).unionByName(tail)


# The incremental funnel's SEEN-side artifacts — fingerprint table +
# bloom bits + MinHash band table — PERSISTED ON DISK as an
# ArtifactStore layout (plans/artifacts.py): built once per corpus (in
# whichever session first touches it), then loaded by every later
# session, mirroring what a production wave persists at day-1 close.
# Same build-once/extend ledger contract as the registry's
# .bm25/.ivf index layouts (registry.py:_record_coverage); the
# in-process memo below only avoids re-reading the parquet within one
# session.
_INC_SEEN_CACHE: dict = {}


def _inc_seen(spark, sf_dir, modulus: int = 3):
    key = (sf_dir, modulus)
    ent = _INC_SEEN_CACHE.get(key)
    if ent is not None and ent[0] is spark:
        return ent[1], ent[2], ent[3]
    import re as _re

    from vechord_spark.operators.bloom import build_bloom, read_bloom, write_bloom
    from vechord_spark.plans.artifacts import ArtifactStore

    src = f"{sf_dir}/documents.parquet"
    tag = _re.sub(r"[^a-z0-9]+", "_", sf_dir.lower()).strip("_")

    def _build(tmp):
        docs = _t(spark, sf_dir, "documents")
        seen = docs.filter(F.col("doc_id") % modulus != 0)
        DD.minhash_bands(seen, "doc_id", "text").write.parquet(str(tmp / "bands"))
        # the persisted fingerprint TABLE (distinct 32 B keys) — the
        # bloom's exact confirm side; without it every batch
        # re-tokenizes and re-hashes the whole seen corpus (measured:
        # the warm floor at a 5% batch was dominated by that)
        seen.select(TX.fingerprint("text").alias("__fp")).distinct().write.parquet(
            str(tmp / "fps")
        )
        # bloom built FROM the just-written fps layout, so bits and
        # table can never drift (the no-false-negative contract in
        # bloom_anti_join requires the bloom to cover fps exactly)
        write_bloom(
            build_bloom(spark.read.parquet(str(tmp / "fps")), "__fp"),
            tmp / "bloom",
        )

    path = ArtifactStore(spark).load_or_build(
        f"inc_seen_{tag}_m{modulus}", [src], {"modulus": modulus, "v": 1}, _build
    )
    fps = spark.read.parquet(str(path / "fps")).persist()
    bands = spark.read.parquet(str(path / "bands")).persist()
    bloom = read_bloom(path / "bloom")
    _INC_SEEN_CACHE[key] = (spark, fps, bands, bloom)
    return fps, bands, bloom


@_q(
    "corpus_funnel_incremental",
    f"""
    WITH RECURSIVE
    gq AS ({_gopher_sql()}),
    batch AS (SELECT * FROM documents WHERE doc_id % 3 = 0),
    seen AS (SELECT * FROM documents WHERE doc_id % 3 <> 0),
    newb AS (
      SELECT b.* FROM batch b
      WHERE NOT EXISTS (
        SELECT 1 FROM seen s
        WHERE md5(array_to_string({_TOK.format(col='s.text')}, ' ')) =
              md5(array_to_string({_TOK.format(col='b.text')}, ' ')))
    ),
    gated AS (
      SELECT n.* FROM newb n JOIN gq ON gq.doc_id = n.doc_id
      WHERE {_FUNNEL_GATE_SQL}
    ),
    exact AS (
      SELECT doc_id, text FROM (
        SELECT g.*, row_number() OVER (
          PARTITION BY md5(array_to_string({_TOK.format(col='text')}, ' '))
          ORDER BY doc_id) AS rn
        FROM gated g) WHERE rn = 1
    ),
    uni AS (
      SELECT doc_id, text FROM exact
      UNION ALL
      SELECT doc_id, text FROM seen
    ),
    jp AS ({_jaccard_sql(src='uni')}),
    crossdrop AS (
      SELECT DISTINCT CASE WHEN doc_a % 3 = 0 THEN doc_a ELSE doc_b END AS doc_id
      FROM jp WHERE (doc_a % 3 = 0) <> (doc_b % 3 = 0)
    ),
    rest AS (
      SELECT e.* FROM exact e LEFT JOIN crossdrop c ON e.doc_id = c.doc_id
      WHERE c.doc_id IS NULL
    ),
    wpairs AS (
      SELECT doc_a, doc_b FROM jp
      WHERE doc_a % 3 = 0 AND doc_b % 3 = 0
        AND doc_a IN (SELECT doc_id FROM rest)
        AND doc_b IN (SELECT doc_id FROM rest)
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM wpairs
      UNION
      SELECT doc_b, doc_a FROM wpairs
    ),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    clusters AS (
      SELECT u AS doc_id, least(u, min(v)) AS cluster_id FROM reach GROUP BY u
    ),
    surv AS (
      SELECT r.* FROM rest r LEFT JOIN clusters c ON r.doc_id = c.doc_id
      WHERE c.doc_id IS NULL OR c.cluster_id = c.doc_id
    )
    SELECT * FROM (
      SELECT 0 AS stage_no, 'raw_batch' AS stage,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(coalesce(sum(len({_TOK.format(col='text')})), 0) AS BIGINT) AS n_tokens,
             CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum
      FROM batch
      UNION ALL
      SELECT 1, 'new_vs_seen', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(len({_TOK.format(col='text')})), 0) AS BIGINT),
             CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM newb
      UNION ALL
      SELECT 2, 'quality_gate', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(len({_TOK.format(col='text')})), 0) AS BIGINT),
             CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM gated
      UNION ALL
      SELECT 3, 'exact_dedup', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(len({_TOK.format(col='text')})), 0) AS BIGINT),
             CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM exact
      UNION ALL
      SELECT 4, 'near_dedup', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(len({_TOK.format(col='text')})), 0) AS BIGINT),
             CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM surv
    )
    """,
)
def corpus_funnel_incremental(spark, sf_dir, modulus: int = 3):
    """The funnel's DAY-2 shape: yesterday's corpus is curated and its
    artifacts persisted (fingerprint bloom, MinHash signature table —
    here the disk-backed ``_inc_seen`` ArtifactStore layout, loaded
    not rebuilt in every session after the first); today's batch
    (doc_id % 3 == 0
    standing in for the new crawl) flows through

        bloom anti-join vs seen fingerprints  (exact; definitely-new
                                               rows never shuffle)
        -> quality gate        (Gopher rules, new docs only)
        -> within-batch exact dedup
        -> near-dup vs corpus  (batch banded fresh, probed against the
                                PERSISTED seen bands; cross near-dups
                                dropped, then within-batch components)

    Every stage's cost is O(new batch + matched buckets): the seen
    corpus is never re-fingerprinted, re-banded, or re-shingled
    (shingle arrays are computed only for candidate-pair docs, seen
    side included). Mirrors examples/incremental_day2.py and the
    registry's extend_* ledger contract; the full-rebuild twin is
    ``corpus_funnel_report``. ``modulus`` (default 3, pinned by the
    oracle) sets the batch fraction 1/modulus — the scale sweep calls
    this helper with larger moduli to demonstrate cost tracks the
    BATCH, not the corpus (BASELINE.md round-7).

    When the SAME session already ran ``corpus_funnel_report`` (the
    day-1/day-2 pair a real wave runs side by side), the admission
    front probes the shared ``_funnel_stage`` artifacts instead of
    recomputing: the gated-docs checkpoint already carries every doc's
    fingerprint and Gopher verdict (so the bloom anti-join keys on the
    stored ``__fp`` and the gate is a stored-column filter), and the
    batch's band signatures are a semi-join on the report's band table
    — valid because this query's exact survivors are provably a subset
    of the report's (a doc surviving the bloom has NO seen doc sharing
    its fingerprint, so its report-side fingerprint group contains
    exactly the gate-passed batch docs this query's window sees, and
    both keep the min doc_id). Reuse is opportunistic (_funnel_peek):
    standalone day-2 runs keep the O(batch) contract above."""
    from vechord_spark.functions.text import tokenize
    from vechord_spark.operators.bloom import bloom_anti_join
    from vechord_spark.plans import plandump

    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % modulus == 0)
    seen_fps, seen_bands, seen_bloom = _inc_seen(spark, sf_dir, modulus)

    from pyspark.sql import Window as _W

    # the whole admission front — bloom anti-join survivors, gate
    # verdict, AND the exact-dedup rank — materializes in ONE eager
    # checkpoint: the rank among gated rows is a cumulative gated-count
    # window over the fingerprint partition (for a gated row,
    # "cumulative gated rows so far" IS its row_number among gated-only
    # rows, so ``__gate AND __rk = 1`` selects exactly
    # _funnel_exact_dedup's min-doc_id representative). newb / gated /
    # exact are then pure filters over the same checkpointed frame —
    # one driver action where the round-12 shape paid two.
    _cum_gated = F.sum(
        F.when(F.col("__gate"), F.lit(1)).otherwise(F.lit(0))
    ).over(
        _W.partitionBy("__fp")
        .orderBy(F.col("doc_id").asc())
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )

    owned: list[DataFrame] = []  # per-call persists to release at the end
    gd = _funnel_peek(spark, sf_dir, "gated_docs")
    if gd is not None:
        # day-1 artifacts present: batch rows arrive with __fp + __gate
        newb = (
            bloom_anti_join(
                gd.filter(F.col("doc_id") % modulus == 0),
                seen_fps,
                "__fp",
                bloom=seen_bloom,
            )
            .withColumn("__rk", _cum_gated)
            .localCheckpoint(eager=True)
        )
        exact = newb.filter(F.col("__gate") & (F.col("__rk") == 1)).drop(
            "__rk", "__fp", "__gate"
        )
        bands_all = _funnel_peek(spark, sf_dir, "bands")
        if bands_all is not None:
            # subset proof in the docstring; cheap filter on the
            # persisted report band table, no fresh banding scan
            batch_bands = bands_all.join(
                exact.select("doc_id"), "doc_id", "left_semi"
            )
        else:
            batch_bands = DD.minhash_bands(exact, "doc_id", "text").persist()
            owned.append(batch_bands)
    else:
        fp = TX.fingerprint("text")
        body = _gopher_multiline_body(F.col("doc_id"), tokenize("text"))
        # ONE eager checkpoint materializes the whole admission front:
        # bloom probe + confirm anti-join + the Gopher gate verdict as
        # an attached column (pure projection — quality._gopher_exprs,
        # the same expressions the oracle's _FUNNEL_GATE_SQL pins). The
        # round-7 shape paid three separate evaluations of the probe
        # chain (gate-flags checkpoint, gated join, stage-1 aggregate)
        # plus a join back; fusing them halves the day-2 action count.
        # The checkpoint is also the plan boundary that keeps the gate
        # expressions from being pushed into the bloom-probe stage.
        ge = QL._gopher_exprs("__gbody", **_FUNNEL_GOPHER_KW)
        newb = plandump.note(
            "inc_newb",
            bloom_anti_join(
                batch.withColumn("__fp", fp),
                seen_fps,
                "__fp",
                bloom=seen_bloom,
            )
            .withColumn("__gbody", body)
            .withColumn("__gate", _funnel_gate_expr(ge))
            .drop("__gbody")
            .withColumn("__ntok", F.size(tokenize("text")).cast("bigint"))
            .withColumn("__rk", _cum_gated),
        ).localCheckpoint(eager=True)
        # cands / jac stay eager checkpoints (lineage truncation), not
        # persists: the frames are small, but their logical plans carry
        # the 16-permutation minhash and shingle expression trees, and
        # PySpark re-analyzes the full accumulated tree on every
        # downstream compose (crossdrop, wpairs, surv, stage
        # aggregates). Truncating at each boundary cut the warm day-2
        # wall ~6.4 -> ~4.6 s at sf0.1 — driver-side Catalyst analysis
        # only, the executor work is unchanged (round-9 A/B). The
        # exact-dedup window itself is FUSED into the newb checkpoint
        # (``__rk`` above — drop_exact_duplicates keys the same
        # fingerprint, kept as __fp here), saving one action.
        exact = newb.filter(F.col("__gate") & (F.col("__rk") == 1)).drop(
            "__rk", "__fp", "__gate"
        )
        # batch bands persisted HERE (not inside the operator) so the
        # cleanup loop below can release them — the within- and
        # cross-join sides of the candidate generator both read the
        # banding, and each would re-run the md5-heavy projection
        # without the cache
        batch_bands = DD.minhash_bands(exact, "doc_id", "text").persist()
        owned.append(batch_bands)
    cands = plandump.note(
        "inc_cands",
        DD.minhash_candidate_pairs_cross(
            exact, "doc_id", "text", seen_bands=seen_bands, new_bands=batch_bands
        ),
    ).localCheckpoint(eager=True)
    # candidates_prededuped: cands ends in distinct() above, so the
    # verifier skips one defensive re-exchange of the checkpointed
    # candidate table (r13 measurement: the jac action was the
    # job-heaviest step of the day-2 chain)
    jac = plandump.note(
        "inc_jac",
        DD.ngram_jaccard(
            docs, "doc_id", "text", threshold=0.35, candidates=cands,
            candidates_prededuped=True,
        ),
    ).localCheckpoint(eager=True)
    is_batch_a = F.col("doc_a") % modulus == 0
    is_batch_b = F.col("doc_b") % modulus == 0
    # NOT deduped (round 14, guide §2.4): crossdrop only ever feeds
    # anti-joins (rest, wpairs below), whose build side tolerates
    # duplicate keys — the old distinct was one exchange of pure cost
    crossdrop = jac.filter(is_batch_a != is_batch_b).select(
        F.when(is_batch_a, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
            "doc_id"
        )
    )
    # rest is consumed ONCE now (the wpairs membership test moved to
    # the crossdrop anti-joins below), so the round-9 persist is gone
    rest = exact.join(crossdrop, "doc_id", "left_anti")
    # NOT checkpointed (changed round 13): connected_components'
    # small-edge-set fast path collects the pair frame exactly ONCE
    # (the limit-gate collect), so the round-9 rationale for an eager
    # checkpoint here — cc re-evaluating its input across label rounds
    # — no longer applies; jac and rest are already materialized, so
    # the plan under the collect is shallow.
    #
    # "both endpoints in rest" is tested with anti-joins against the
    # TINY crossdrop id set instead of semi-joins against the
    # batch-sized rest (round 14, guide §3.1): within-batch jac pairs
    # have both endpoints in exact by construction (the candidate
    # generator bands only exact-dedup survivors), so "in rest" is
    # exactly "not cross-dropped" — same pair set, and the join's
    # build side shrinks from |batch survivors| to |cross near-dups|.
    wpairs = (
        jac.filter(is_batch_a & is_batch_b)
        .join(crossdrop.select(F.col("doc_id").alias("doc_a")), "doc_a", "left_anti")
        .join(crossdrop.select(F.col("doc_id").alias("doc_b")), "doc_b", "left_anti")
        .select("doc_a", "doc_b")
    )
    surv = DD.drop_near_duplicates(rest, "doc_id", wpairs)

    def stage(no: int, name: str, df: DataFrame, tok_expr=None) -> DataFrame:
        # frames descended from the admission checkpoint carry __ntok
        # (stored token count); only the standalone raw-batch row still
        # tokenizes, see below
        tok = F.col("__ntok") if tok_expr is None else tok_expr
        return df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum(tok), F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
            F.coalesce(F.sum("doc_id"), F.lit(0)).cast("bigint").alias("id_sum"),
        ).select(
            F.lit(no).alias("stage_no"),
            F.lit(name).alias("stage"),
            "n_docs",
            "n_tokens",
            "id_sum",
        )

    # the new_vs_seen / quality_gate / exact_dedup rows are all
    # aggregates over FILTERS of the one checkpointed admission frame,
    # so compute them in ONE conditional-aggregation scan (round 14:
    # summing the STORED __ntok — no re-tokenize at all) and unpack
    # the 1x9 result into the three accounting rows
    _tok_sz = F.col("__ntok")
    _gate = F.col("__gate")
    _ex = _gate & (F.col("__rk") == 1)

    def _branch(tag: str, cond):
        w = (lambda e: F.when(cond, e)) if cond is not None else (lambda e: e)
        return [
            F.coalesce(F.sum(w(F.lit(1))), F.lit(0))
            .cast("bigint")
            .alias(f"n_{tag}"),
            F.coalesce(F.sum(w(_tok_sz)), F.lit(0))
            .cast("bigint")
            .alias(f"t_{tag}"),
            F.coalesce(F.sum(w(F.col("doc_id"))), F.lit(0))
            .cast("bigint")
            .alias(f"s_{tag}"),
        ]

    fused = newb.agg(
        *_branch("newb", None), *_branch("gated", _gate), *_branch("ex", _ex)
    ).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(no).alias("stage_no"),
                        F.lit(nm).alias("stage"),
                        F.col(f"n_{tag}").alias("n_docs"),
                        F.col(f"t_{tag}").alias("n_tokens"),
                        F.col(f"s_{tag}").alias("id_sum"),
                    )
                    for no, nm, tag in (
                        (1, "new_vs_seen", "newb"),
                        (2, "quality_gate", "gated"),
                        (3, "exact_dedup", "ex"),
                    )
                ]
            )
        ).alias("s")
    ).select("s.*")

    # raw-batch accounting: when the day-1 gated-docs checkpoint is in
    # session (bench order), the batch rows live there WITH their stored
    # __ntok — the row costs one aggregate over the checkpoint instead
    # of a fresh parquet scan + per-row tokenize of the batch
    if gd is not None:
        raw_row = stage(0, "raw_batch", gd.filter(F.col("doc_id") % modulus == 0))
    else:
        raw_row = stage(
            0, "raw_batch", batch, tok_expr=F.size(tokenize("text"))
        )
    out = raw_row.unionByName(fused).unionByName(stage(4, "near_dedup", surv))
    rows = out.collect()
    for cached in owned:
        cached.unpersist()
    return spark.createDataFrame(rows, out.schema)


@_q(
    "corpus_funnel_lm",
    f"""
    WITH RECURSIVE
    {_funnel_surv_ctes()},
    toksl AS (
      SELECT doc_id, {_TOK.format(col='text')} AS l FROM documents
    ),
    kp AS (
      SELECT doc_id,
             unnest(l[1:len(l) - 1]) AS prev,
             unnest(l[2:len(l)]) AS cur
      FROM toksl WHERE len(l) >= 2
    ),
    bg AS (SELECT prev, cur, count(*) AS c2 FROM kp GROUP BY prev, cur),
    ctx AS (
      SELECT prev, CAST(sum(c2) AS DOUBLE) AS c1ctx, count(*) AS n1p_fwd
      FROM bg GROUP BY prev
    ),
    cont AS (SELECT cur, count(*) AS n1p_back FROM bg GROUP BY cur),
    btypes AS (SELECT CAST(count(*) AS DOUBLE) AS b FROM bg),
    sc AS (
      SELECT p.doc_id,
             ln(greatest(bg.c2 - 0.75, 0.0) / ctx.c1ctx
                + 0.75 * ctx.n1p_fwd / ctx.c1ctx * cont.n1p_back / btypes.b
             ) AS lp
      FROM kp p
      JOIN bg USING (prev, cur)
      JOIN ctx ON ctx.prev = p.prev
      JOIN cont ON cont.cur = p.cur
      CROSS JOIN btypes
      WHERE p.doc_id IN (SELECT doc_id FROM surv)
    ),
    scores AS (SELECT doc_id, round(avg(lp), 6) AS s FROM sc GROUP BY doc_id),
    hist AS (SELECT s, count(*) AS cnt FROM scores GROUP BY s),
    cum AS (
      SELECT s, sum(cnt) OVER (ORDER BY s) AS cum, sum(cnt) OVER () AS n
      FROM hist
    ),
    thr AS (
      SELECT min(s) AS thr FROM cum
      WHERE floor(0.2 * n) >= 1 AND cum >= floor(0.2 * n)
    ),
    kept AS (
      SELECT sv.* FROM surv sv
      JOIN scores sc2 ON sv.doc_id = sc2.doc_id
      CROSS JOIN thr
      WHERE thr.thr IS NULL OR sc2.s > thr.thr
    )
    SELECT * FROM (
      SELECT 3 AS stage_no, 'near_dedup' AS stage,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(coalesce(sum(len({_TOK.format(col='text')})), 0) AS BIGINT) AS n_tokens,
             CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum
      FROM surv
      UNION ALL
      SELECT 5, 'lm_gate', CAST(count(*) AS BIGINT),
             CAST(coalesce(sum(len({_TOK.format(col='text')})), 0) AS BIGINT),
             CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM kept
    )
    """,
)
def corpus_funnel_lm(spark, sf_dir, drop_frac: float = 0.2):
    """The funnel's LM-PERPLEXITY gate — CCNet's signature move, the
    stage the Gopher-rules-only funnel lacked: dedup survivors are
    scored under the interpolated Kneser-Ney bigram model trained on
    the FULL crawl (the reference-corpus LM; operators/quality.
    kneser_ney_logprob with ``score_ids``), and the bottom
    ``drop_frac`` quantile by mean logprob-per-bigram drops. Returns
    the two accounting rows: ``near_dedup`` (byte-identical to
    corpus_funnel_report's stage 3 — the cross-query check) and
    ``lm_gate`` (the survivors a CCNet-style pipeline would keep).

    The quantile is EXACT and scale-honest: scores are 6-dp-rounded,
    so the threshold comes from a histogram over DISTINCT score
    values (a vocabulary-sized frame — the global window orders score
    values, never documents), cum >= floor(drop_frac*n) picks the
    cutoff, and ties at the threshold drop together (deterministic in
    both engines, no percentile-algorithm dependence). Docs with no
    bigrams would drop (no evidence of fluency) — the quality gate's
    50-word floor means none exist here. Shares the funnel's
    materialization chain (_funnel_stage 'surv'); the KN model
    aggregates are vocabulary-sized and the per-doc probe joins run
    over the survivors' bigrams only."""
    from pyspark.sql import Window

    surv = _funnel_stage(spark, sf_dir, "surv")
    docs = _t(spark, sf_dir, "documents")
    scores = (
        QL.kneser_ney_logprob(
            docs,
            "doc_id",
            "text",
            0.75,
            score_ids=surv.select("doc_id"),
            model=_kn_model(spark, sf_dir),
        )
        .filter(F.col("avg_kn_logprob").isNotNull())
        .select("doc_id", F.col("avg_kn_logprob").alias("s"))
        .localCheckpoint(eager=True)
    )
    hist = scores.groupBy("s").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = Window.orderBy("s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.orderBy("s").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "s",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    k = F.floor(F.lit(drop_frac) * F.col("n"))
    # one scalar threshold, collected driver-side (the classic
    # two-phase exact quantile: histogram -> cutoff -> filter)
    row = cum.filter((k >= F.lit(1)) & (F.col("cum") >= k)).agg(
        F.min("s").alias("thr")
    ).first()
    thr = row["thr"] if row is not None else None

    from vechord_spark.functions.text import tokenize

    # both accounting rows fuse into ONE conditional-aggregation scan
    # of the survivors left-joined to the (checkpointed, doc-unique)
    # score table: near_dedup counts every survivor, lm_gate the
    # scored ones above the threshold — the inner join + second
    # tokenize pass of the two-stage shape collapse away (r13)
    joined = surv.join(scores, "doc_id", "left")
    kept_cond = F.col("s").isNotNull()
    if thr is not None:
        kept_cond = kept_cond & (F.col("s") > F.lit(thr))
    # survivors carry the stored __ntok from the gated-docs checkpoint
    # (round 14) — no re-tokenize in the accounting scan
    _tok_sz = F.col("__ntok")

    def _branch(tag, cond):
        w = (lambda e: F.when(cond, e)) if cond is not None else (lambda e: e)
        return [
            F.coalesce(F.sum(w(F.lit(1))), F.lit(0))
            .cast("bigint")
            .alias(f"n_{tag}"),
            F.coalesce(F.sum(w(_tok_sz)), F.lit(0))
            .cast("bigint")
            .alias(f"t_{tag}"),
            F.coalesce(F.sum(w(F.col("doc_id"))), F.lit(0))
            .cast("bigint")
            .alias(f"s_{tag}"),
        ]

    return (
        joined.agg(*_branch("surv", None), *_branch("kept", kept_cond))
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(no).alias("stage_no"),
                            F.lit(nm).alias("stage"),
                            F.col(f"n_{tag}").alias("n_docs"),
                            F.col(f"t_{tag}").alias("n_tokens"),
                            F.col(f"s_{tag}").alias("id_sum"),
                        )
                        for no, nm, tag in (
                            (3, "near_dedup", "surv"),
                            (5, "lm_gate", "kept"),
                        )
                    ]
                )
            ).alias("s")
        )
        .select("s.*")
    )


_LINE_DEDUP_NOTICE = "copyright notice all rights reserved"
_LINE_DEDUP_FOOTER = "subscribe to the newsletter for more updates"


def _line_dedup_sql() -> str:
    toks = _TOK.format(col="text")
    return f"""
    WITH t AS (
      SELECT doc_id, {toks} AS toks FROM documents
    ),
    built AS (
      SELECT doc_id,
             concat_ws(chr(10),
               CASE WHEN doc_id % 4 = 0 THEN '{_LINE_DEDUP_NOTICE}' END,
               {_gopher_body_sql()},
               CASE WHEN doc_id % 3 = 0 THEN '{_LINE_DEDUP_FOOTER}' END) AS body
      FROM t
    ),
    split AS (
      SELECT doc_id, string_split(body, chr(10)) AS ls FROM built
    ),
    lines AS (
      SELECT doc_id, (s).i - 1 AS line_no, trim((s).l) AS line
      FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(ls)),
                                     i -> struct_pack(i := i, l := ls[i]))) AS s
        FROM split
      )
      WHERE trim((s).l) <> ''
    ),
    ranked AS (
      SELECT doc_id, line_no, line,
             row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
      FROM lines
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(coalesce(string_agg(CASE WHEN rn = 1 THEN line END, chr(10) ORDER BY line_no), '')) AS kept_md5
    FROM ranked
    GROUP BY doc_id
    """


@_q("dedup_lines_c4", _line_dedup_sql())
def dedup_lines_c4(spark, sf_dir):
    """Corpus-wide exact line dedup (the C4 boilerplate scrub): every
    line keeps only its first (doc_id, line_no) occurrence. The corpus
    is rebuilt as decorated 7-token lines plus doc_id-keyed injected
    boilerplate (a copyright header on doc_id%4, a subscribe footer on
    doc_id%3 — the nav/footer repetition the rule exists to remove),
    and the oracle proves injection + dedup identical in DuckDB. One
    line-keyed exchange + one doc_id reassembly agg
    (operators/dedup.line_dedup)."""
    from vechord_spark.functions.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    body = F.concat_ws(
        "\n",
        F.when(did % 4 == 0, F.lit(_LINE_DEDUP_NOTICE)),
        _gopher_multiline_body(did, tokenize("text")),
        F.when(did % 3 == 0, F.lit(_LINE_DEDUP_FOOTER)),
    )
    from vechord_spark.parallel import spread

    # spread BEFORE attaching the body projection — line_dedup's own
    # spread would otherwise repartition rows whose (expensive,
    # interpreted-HOF) body column is computed below the exchange, on
    # the single scan split. Warm full-query wall 1.4 -> 0.63 s at
    # sf0.1, identical rows.
    return DD.line_dedup(
        spread(docs).select("doc_id", body.alias("text")), "doc_id", "text"
    )



# ===========================================================================
# binary-signature estimate -> exact-refine ANN (round 5c)
# ===========================================================================


def _binary_knn_sql(refine: int = 50, topk: int = 10) -> str:
    from vechord_spark.functions.vector import signature_of

    q0, q1 = signature_of(QVEC)
    return f"""
    WITH sig AS (
      SELECT vec_id, embedding,
             list_transform(generate_series(0, 1), w ->
               CAST(list_sum(list_transform(generate_series(0, 31), i ->
                 CASE WHEN embedding[w * 32 + i + 1] > 0
                      THEN CAST(pow(2, i) AS BIGINT) ELSE 0 END)) AS BIGINT)) AS s
      FROM embeddings
    ),
    qh AS (
      SELECT vec_id, embedding,
             bit_count(xor(s[1], {q0}::BIGINT)) + bit_count(xor(s[2], {q1}::BIGINT)) AS hamming
      FROM sig
    ),
    cand AS (
      SELECT vec_id, embedding, hamming
      FROM qh ORDER BY hamming, vec_id LIMIT {refine}
    ),
    exact AS (
      SELECT vec_id, CAST(hamming AS INT) AS hamming,
             1.0 - list_cosine_similarity(CAST(embedding AS DOUBLE[]), {_QV_SQL}) AS d
      FROM cand
    )
    SELECT vec_id, hamming,
           CAST(row_number() OVER (ORDER BY d, vec_id) AS INT) AS rank
    FROM exact
    ORDER BY rank
    LIMIT {topk}
    """


_QV16_SQL = "[" + ", ".join(str(v) for v in QVEC[:16]) + "]"


@_q(
    "knn_matryoshka",
    f"""
    WITH est AS (
      SELECT vec_id,
             round(1.0 - list_cosine_similarity(
               CAST(embedding[1:16] AS DOUBLE[]), {_QV16_SQL}), 6) AS est
      FROM embeddings
    ),
    cand AS (SELECT vec_id, est FROM est ORDER BY est, vec_id LIMIT 100),
    exact AS (
      SELECT e.vec_id, c.est,
             round(1.0 - list_cosine_similarity(
               CAST(e.embedding AS DOUBLE[]), {_QV_SQL}), 6) AS distance
      FROM embeddings e JOIN cand c USING (vec_id)
    )
    SELECT vec_id, est, distance,
           CAST(row_number() OVER (ORDER BY distance, vec_id) AS INT) AS rank
    FROM exact ORDER BY rank LIMIT 10
    """,
)
def knn_matryoshka(spark, sf_dir):
    """Matryoshka prefix-dim ANN (Kusupati et al. 2022; the
    ``dimensions=`` truncation modern embedding APIs expose): stage 1
    estimates cosine on the FIRST 16 of 64 components — a scan of 1/4
    of the vector bytes compiling to TakeOrderedAndProject — stage 2
    exact-reranks the 100 survivors at full dimension. The fourth ANN
    scale path beside IVF, PQ, and sign-bit Hamming
    (operators/knn.matryoshka_knn)."""
    from pyspark.sql import Window
    from vechord_spark.operators.knn import matryoshka_knn

    emb = _t(spark, sf_dir, "embeddings")
    out = matryoshka_knn(
        emb, "vec_id", "embedding", QVEC, prefix_dim=16, topk=10, refine=100
    )
    w = Window.orderBy("distance", "vec_id")
    return out.select(
        "vec_id", "est", "distance", F.row_number().over(w).alias("rank")
    )


@_q("knn_binary_refine", _binary_knn_sql())
def knn_binary_refine(spark, sf_dir):
    """Binary sign-bit quantization (32x-compressed estimate column) ->
    Hamming TakeOrderedAndProject over the packed words -> broadcast
    the `refine` survivor ids back for exact cosine rerank
    (operators/knn.binary_knn, the pgvector bit + rerank recipe).
    Integer hamming and ranks only — no float hashing."""
    from pyspark.sql import Window
    from vechord_spark.operators.knn import binary_knn

    emb = _t(spark, sf_dir, "embeddings")
    out = binary_knn(emb, "vec_id", "embedding", QVEC, dim=64, topk=10, refine=50)
    w = Window.orderBy("distance", "vec_id")
    return out.select(
        "vec_id", "hamming", F.row_number().over(w).alias("rank")
    )



@_q(
    "doc_tfidf_terms",
    f"""
    WITH counts AS (
      SELECT doc_id, unnest({_TOK.format(col='text')}) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf FROM counts GROUP BY doc_id, term
    ),
    dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1)) + 1.0) AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term,
             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rank,
             round(score, 6) AS score
      FROM scored
    )
    SELECT doc_id, term, rank, score FROM ranked WHERE rank <= 5
    """,
)
def doc_tfidf_terms(spark, sf_dir):
    """Per-doc top-5 smoothed TF-IDF keyphrases
    (operators/quality.top_tfidf_terms): tokenize -> (doc, term)
    counts -> term-keyed df join (no vocab broadcast — vocabulary is
    corpus-sized at scale) -> per-doc window top-k."""
    from vechord_spark.operators.quality import top_tfidf_terms

    docs = _t(spark, sf_dir, "documents")
    return top_tfidf_terms(
        docs, "doc_id", "text", k=5, n_docs=_cached_count(docs, sf_dir, "documents")
    )



def _rep_char_sql() -> str:
    toks = _TOK.format(col="text")
    toks2 = _TOK.format(col="body")

    def grams(n: int) -> str:
        return (
            f"CASE WHEN len(toks2) >= {n} THEN "
            f"list_transform(generate_series(1, len(toks2) - {n - 1}),"
            f" i -> array_to_string(list_slice(toks2, i, i + {n - 1}), ' ')) "
            f"ELSE [array_to_string(toks2, ' ')] END"
        )

    return f"""
    WITH t AS (
      SELECT doc_id, {toks} AS toks FROM documents
    ),
    built AS (
      SELECT doc_id, {_gopher_body_sql()} AS body0 FROM t
    ),
    b2 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 AND body0 <> ''
                  THEN body0 || chr(10) || string_split(body0, chr(10))[1]
                  ELSE body0 END AS body
      FROM built
    ),
    lt AS (SELECT doc_id, {toks2} AS toks2 FROM b2),
    lines AS (
      SELECT doc_id, trim(l) AS line
      FROM (SELECT doc_id, unnest(string_split(body, chr(10))) AS l FROM b2)
      WHERE trim(l) <> ''
    ),
    lc AS (SELECT doc_id, line, count(*) AS c FROM lines GROUP BY 1, 2),
    lstats AS (
      SELECT doc_id,
             round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c), 6) AS dup_line_frac,
             round(CAST(sum(CASE WHEN c > 1 THEN c * length(line) ELSE 0 END) AS DOUBLE) / sum(c * length(line)), 6) AS dup_line_char_frac
      FROM lc GROUP BY doc_id
    ),
    g2 AS (
      SELECT doc_id, g, count(*) AS c, length(g) - 1 AS gchars
      FROM (SELECT doc_id, unnest({grams(2)}) AS g FROM lt)
      GROUP BY doc_id, g
    ),
    top2 AS (
      SELECT doc_id, c * gchars AS top_chars
      FROM (SELECT doc_id, c, gchars,
                   row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) AS rn
            FROM g2)
      WHERE rn = 1
    ),
    g5 AS (
      SELECT doc_id, g, count(*) AS c, length(g) - 4 AS gchars
      FROM (SELECT doc_id, unnest({grams(5)}) AS g FROM lt)
      GROUP BY doc_id, g
    ),
    dup5 AS (
      SELECT doc_id, sum(CASE WHEN c > 1 THEN c * gchars ELSE 0 END) AS dup_chars
      FROM g5 GROUP BY doc_id
    ),
    total AS (
      SELECT doc_id,
             coalesce(list_sum(list_transform(toks2, x -> length(x))), 0) AS tchars
      FROM lt
    )
    SELECT total.doc_id,
           coalesce(dup_line_frac, 0.0) AS dup_line_frac,
           coalesce(dup_line_char_frac, 0.0) AS dup_line_char_frac,
           round(CASE WHEN tchars > 0
                 THEN least(1.0, CAST(coalesce(top_chars, 0) AS DOUBLE) / tchars)
                 ELSE 0.0 END, 6) AS top_ngram_char_frac,
           round(CASE WHEN tchars > 0
                 THEN least(1.0, CAST(coalesce(dup_chars, 0) AS DOUBLE) / tchars)
                 ELSE 0.0 END, 6) AS dup_ngram_char_frac
    FROM total
    LEFT JOIN lstats USING (doc_id)
    LEFT JOIN top2 USING (doc_id)
    LEFT JOIN dup5 USING (doc_id)
    """


@_q("text_repetition_chars", _rep_char_sql())
def text_repetition_chars(spark, sf_dir):
    """Character-weighted Gopher repetition signals (the other half of
    text_repetition's count-based ones): within-doc duplicate-line
    count/char fractions, top-2-gram char coverage, duplicated-5-gram
    char coverage (operators/quality.repetition_char_fractions). The
    multi-line rebuild gains a doc_id%2-keyed repeat of its first line
    so the line signals are exercised; three doc-keyed explode+agg
    branches, all map-side combinable."""
    from vechord_spark.functions.text import tokenize
    from vechord_spark.operators.quality import repetition_char_fractions

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    body0 = _gopher_multiline_body(did, tokenize("text"))
    body = F.when(
        (did % 2 == 0) & (body0 != ""),
        F.concat(body0, F.lit("\n"), F.split(body0, "\n").getItem(0)),
    ).otherwise(body0)
    return repetition_char_fractions(
        docs.select("doc_id", body.alias("text")), "doc_id", "text"
    )



def _health_sql() -> str:
    stop = ", ".join(f"'{w}'" for w in TX.STOPWORDS_EN)
    toks = _TOK.format(col="text")
    return f"""
    WITH t AS (
      SELECT source, lang, text, {toks} AS toks FROM documents
    ),
    f AS (
      SELECT source, lang,
             len(toks) AS n_tok,
             CASE WHEN length(text) > 0
                  THEN (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))) / CAST(length(text) AS DOUBLE)
                  ELSE 0.0 END AS punct,
             CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, x -> length(x))) / CAST(len(toks) AS DOUBLE)
                  ELSE 0.0 END AS mean_len
      FROM t
    ),
    q AS (
      SELECT source, lang, n_tok, mean_len,
             round(least(n_tok / 64.0, 1.0) * 0.5
             + greatest(1.0 - punct * 4.0, 0.0) * 0.3
             + (CASE WHEN mean_len >= 2.0 AND mean_len <= 12.0 THEN 1.0 ELSE 0.5 END) * 0.2, 6) AS quality
      FROM f
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           round(avg(CAST(n_tok AS DOUBLE)), 6) AS avg_doc_tokens,
           round(avg(quality), 6) AS avg_quality,
           round(avg(mean_len), 6) AS avg_token_len,
           round(CAST(sum(CASE WHEN n_tok < 50 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS pct_short,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM q
    GROUP BY source
    """


@_q("corpus_health_by_source", _health_sql())
def corpus_health_by_source(spark, sf_dir):
    """Per-source corpus health dashboard — the report a training-data
    pipeline emits every ingest wave: volume (docs/tokens), quality
    score mix, token-shape stats, short-doc fraction, language spread.
    One scan -> one source-keyed aggregation (map-side combinable;
    count_distinct(lang) expands to the standard two-phase distinct
    agg). Composes functions/text quality_score + tokenize."""
    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(TX.tokenize("text"))
    return (
        docs.select(
            "source",
            "lang",
            n_tok.alias("n_tok"),
            TX.quality_score("text").alias("quality"),
            TX.mean_token_length("text").alias("mean_len"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(F.avg(F.col("n_tok").cast("double")), 6).alias("avg_doc_tokens"),
            F.round(F.avg("quality"), 6).alias("avg_quality"),
            F.round(F.avg("mean_len"), 6).alias("avg_token_len"),
            F.round(
                F.sum((F.col("n_tok") < 50).cast("double")) / F.count(F.lit(1)), 6
            ).alias("pct_short"),
            F.count_distinct("lang").alias("n_langs"),
        )
    )



@_q(
    "quality_top_fraction",
    f"""
    WITH t AS (
      SELECT doc_id, source, text, {_TOK.format(col='text')} AS toks FROM documents
    ),
    f AS (
      SELECT doc_id, source,
             CAST(len(toks) AS DOUBLE) AS n_tok,
             CASE WHEN length(text) > 0
                  THEN (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g'))) / CAST(length(text) AS DOUBLE)
                  ELSE 0.0 END AS punct,
             CASE WHEN len(toks) > 0
                  THEN list_sum(list_transform(toks, x -> length(x))) / CAST(len(toks) AS DOUBLE)
                  ELSE 0.0 END AS mean_len
      FROM t
    ),
    q AS (
      SELECT doc_id, source,
             round(least(n_tok / 64.0, 1.0) * 0.5
             + greatest(1.0 - punct * 4.0, 0.0) * 0.3
             + (CASE WHEN mean_len >= 2.0 AND mean_len <= 12.0 THEN 1.0 ELSE 0.5 END) * 0.2, 6) AS quality
      FROM f
    ),
    r AS (
      SELECT doc_id, source, quality,
             percent_rank() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS pr
      FROM q
    )
    SELECT doc_id, source, quality FROM r WHERE pr <= 0.5
    """,
)
def quality_top_fraction(spark, sf_dir):
    """Relative quality filtering — keep the best half of each source
    (the FineWeb/DCLM pattern: thresholds are per-source percentiles,
    not global constants, so a clean source isn't over-pruned and a
    noisy one isn't under-pruned). percent_rank over (source, quality
    desc, doc_id) is exact and deterministic (doc_id tie-break), one
    source-keyed window exchange."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", TX.quality_score("text").alias("quality")
    )
    w = Window.partitionBy("source").orderBy(F.col("quality").desc(), "doc_id")
    return (
        scored.withColumn("pr", F.percent_rank().over(w))
        .filter(F.col("pr") <= 0.5)
        .select("doc_id", "source", "quality")
    )


# ===========================================================================
# registration order: the driver's correctness gate checks the FIRST 50
# entries of QUERIES. Keep the highest-signal set — every §2-mapped
# operator family with a hash oracle, the events family, and one query
# per dedup/ANN/eval family — inside that window; diagnostic and
# same-family variants register after (they stay DuckDB-verified via
# tests/test_oracle_parity.py).
# ===========================================================================

# Round-5 rotation (per r4 ADVICE): queries parked past the driver's
# 50-entry window are still DuckDB-hash-verified on every pytest run
# (tests/test_oracle_parity.py), but to avoid permanently self-selected
# driver coverage, ~10 r4-green entries rotate out each round and
# previously-parked ones rotate in. Rotated IN this round:
# shipping_priority + large_orders (broadcast sides changed this round —
# must be driver-checked), cube_ship_stats, corpus_mix,
# doc_unigram_logprob, knn_l2, eval_mrr_knn, doc_length_quantiles,
# token_vocab_topk, maxsim_topk_docs, and the NEW
# bucketed_customer_revenue (never driver-checked before). Rotated OUT
# (all green in CORRECTNESS_r04, family still represented in-window):
# chunk_fixed_windows, eval_recall_knn, events_json_extract,
# dedup_jaccard, dedup_incremental, text_repetition,
# token_count_by_source, sample_documents, graph_relation_merge,
# dedup_spans, events_retention.
#
# Round-5 additions rotated IN (new operators — must be driver-checked):
# decontaminate_report, split_shards, nb_quality. Rotated OUT to make
# room (green in CORRECTNESS_r04, family still in-window):
# window_first_order (relational keeps 8 entries), text_redact_pii
# (text family keeps 7), events_daily_summary (events keeps 5).
#
# Late round-5 additions rotated IN (sketch gates — new operators, must
# be driver-checked): approx_distinct_users, heavy_hitter_users,
# quantile_sketch_gate. Rotated OUT (green in CORRECTNESS_r04 or
# pytest-parity, family still in-window): knn_l2 (knn_cosine stays),
# eval_mrr_knn (eval_ndcg_knn stays), cube_ship_stats
# (rollup_order_stats stays).
#
# Final round-5 additions rotated IN (new operators — must be
# driver-checked): graph_pagerank (iterative fixed-point ranking),
# events_interval_join (binned range join), source_cap_sample
# (per-domain cap), rerank_lexical (executable reranker),
# events_sliding_counts (sliding windows), graph_triangles (oriented
# triangle census), embedding_pca_gate (one-pass distributed PCA).
# Rotated OUT (green in CORRECTNESS_r04, family still in-window):
# maxsim_topk_docs (maxsim_by_label stays), events_funnel
# (sessionize/interval/sliding stay), augment_context
# (chunk_regex/delete_cascade/groundtruth_generate keep the document
# pipeline covered), rerank_reorder (rerank_lexical stays),
# events_asof_join (pytest-parity; events keeps 5 entries),
# dedup_simhash_pairs (5 dedup entries + graph_triangles stay),
# lsh_knn (ivf_knn/ivf_recall keep ANN covered).
# Round-6 rotation: the four queries parked in round 5c rotate IN as
# promised (doc_tfidf_terms, text_repetition_chars — whose plan was
# rewritten map-only this round — corpus_health_by_source,
# quality_top_fraction), plus the five NEW round-6 operators
# (dedup_bloom_incremental, promo_revenue, late_shipments,
# temperature_mix, table_profile). Rotated OUT, all green in
# CORRECTNESS_r05 with their family still represented in-window:
# shipping_priority + large_orders (rotated in last round to re-check
# the flipped broadcasts — confirmed green; promo_revenue +
# late_shipments keep the TPC-H shapes driver-checked),
# graph_entity_merge (graph keeps 2hop/pagerank/triangles),
# events_sessionize (events keeps interval_join + sliding_counts),
# skew_salted_revenue (bucketed_customer_revenue stays),
# dedup_embedding_bucketed (dedup keeps minhash_lsh/components/
# survivors + the new bloom entry), text_stats (corpus_health +
# gopher_quality_flags + lang_id cover text), groundtruth_generate
# (chunk_regex/delete_cascade/multimodal_meta keep the doc pipeline),
# corpus_mix (temperature_mix is the same family's new member).
# Round-6b/6c rotation (this round's later additions):
# ccnet_buckets IN for doc_unigram_logprob (ccnet composes the unigram
# score, so the driver still exercises that path);
# corpus_funnel_report IN for split_shards (the funnel's last stage IS
# the md5 split). Everything rotated out stays hash-verified on every
# pytest run by tests/test_oracle_parity.py, as do the round-6c
# queries that never entered the window (doc_bigram_logprob,
# leakage_safe_split, order_priority_exists, semdedup_survivors,
# knn_filtered, knn_matryoshka, dsir_importance, char_entropy,
# events_rollup_daily).
# Round-9 rotation (policy: ~10 green entries out, new/changed plans
# + parked entries in; everything rotated out stays hash-verified on
# every pytest run by tests/test_oracle_parity.py).
# IN — new round-9 queries: min_cost_supplier, partsupp_value_share,
# excess_inventory_suppliers (the derived-partsupp Q2/Q11/Q20 shapes),
# ivf_recall_expanded (soft-expansion gate). Plans that CHANGED this
# round were already in-window and stay: hybrid_rrf (persisted-index
# legs), corpus_funnel_report/_incremental (fused gate checkpoint +
# disk artifacts), semdedup_ivf_recall (top-2 bucketer, floor 0.4),
# dedup_components/dedup_survivors/dedup_bloom_incremental
# (limit-collect gate / literal bloom probe).
# IN — parked re-checks: eval_mrr_knn (for eval_ndcg_knn),
# events_sessionize (events family re-check, out since r6),
# knn_filtered (never driver-checked), text_stats (out since r6),
# dedup_embedding_bucketed (out since r6), skew_salted_revenue (out
# since r6).
# OUT (all green in CORRECTNESS_r08, family still represented):
# promo_revenue + late_shipments (three new TPC-H shapes +
# rollup/agg stay), lang_id + token_vocab_topk (gopher/corpus_health/
# doc_length keep text), approx_distinct_users + heavy_hitter_users
# (quantile_sketch_gate keeps sketches), embedding_pca_gate (green
# since r5b), eval_ndcg_knn (eval_mrr_knn replaces), decontaminate_
# report (green since r5), table_profile (green since r6).
#
# Round-11 rotation (round-10 verdict ask #1: rotate EXCLUSIVELY
# never-driver-checked entries — 25 of 146 registered queries had
# never held a CORRECTNESS row across rounds 1-10; this round takes
# the 14 highest-value ones, round 12 takes the rest).
# IN — all 14 NEVER driver-checked before this round (each is
# parity-green on every pytest run via tests/test_oracle_parity.py
# and pre-verified at the driver's sf0.01 this round, see
# BASELINE.md): grouping_sets_pricing, nation_market_share,
# volume_shipping, sole_late_supplier (TPC-H Q-shape family);
# knn_matryoshka, ivf_pq_recall, ivf_recall_refined,
# maxsim_ivf_recall (ANN recall-gate family); bm25_index_topk (the
# r10 persisted-postings plan, never checked); events_rollup_daily;
# url_dedup_report, blocklist_report (URL/doc hygiene);
# dsir_importance, doc_bigram_logprob (quality scoring).
# OUT (every one green in CORRECTNESS_r10 on its current plan,
# family still in-window): local_supplier_revenue, revenue_forecast,
# product_type_profit, returned_item_customers,
# excess_inventory_suppliers, top_supplier (TPC-H keeps 10 shapes
# in-window incl. the four rotated-in), ivf_recall (expanded/pq/
# refined recall gates stay), maxsim_by_label (maxsim_ivf_recall
# replaces), bm25_topk (bm25_index_topk + phrase_search keep BM25),
# eval_mrr_knn, events_sessionize (events_rollup_daily +
# events_interval_join keep events), dedup_embedding_bucketed +
# semdedup_survivors (semdedup_ivf_recall stays),
# gopher_quality_flags (ccnet_buckets + dsir_importance keep
# quality).
# Round-11 LATE rotation (same round, second tranche): with every
# rotated-in entry pre-verified green at the driver's sf0.01, the
# window takes the ENTIRE remaining never-checked backlog this round
# instead of holding half for round 12 — 30 of the 50 slots below
# have never had a CORRECTNESS row before r11. IN (15 more, ALL
# never-checked): the ten r10-era entries (brand_supplier_diversity,
# disjunctive_part_revenue, small_quantity_revenue,
# customer_value_deciles, customer_order_distribution,
# lost_customers_by_nation, order_priority_exists, leakage_safe_split,
# char_entropy, ngram_diversity) plus the five NEW round-11 queries
# (phrase_blocklist_report, minhash_calibration_report,
# media_exif_report, mojibake_scrub_report, hard_negatives).
# OUT (15, every one green in CORRECTNESS_r10 on its current plan,
# family still in-window, parity-tested on every pytest run):
# phrase_search (bm25_index_topk + phrase_blocklist keep keyword),
# ivf_recall_expanded (pq/refined/maxsim/opq gates keep ANN recall),
# hybrid_rrf (mmr keeps rerank/fusion), graph_triangles (pagerank
# stays), multimodal_meta (media_exif_report + media_dedup_pairs keep
# media), events_interval_join (events_rollup_daily stays),
# fuzzy_name_pairs (jaccard_join_exact keeps similarity joins),
# bucketed_customer_revenue (ten TPC-H shapes stay),
# dedup_minhash_lsh (minhash_calibration_report audits the SAME chain
# more strongly), cdc_shared_passages, dedup_simhash
# (dedup_components/_bloom/_lines keep dedup), bpe_token_counts,
# weighted_doc_sample, audio_band_report, corpus_funnel_report
# (corpus_funnel_incremental keeps the funnel). Correction (round-11
# advice): doc_kn_logprob was added AFTER that tranche's sweep, so it
# — not only semdedup_ivf_survivors — ended round 11 without a
# CORRECTNESS row; the round-12 rotation below closes it.
#
# Round-12 rotation (normal policy: new/changed plans in, stable
# greens out with family coverage kept).
# IN — doc_kn_logprob (the one oracled query never driver-checked,
# added post-r11-sweep; verdict ask #5); corpus_funnel_lm (NEW: the
# CCNet-style KN-perplexity gate); corpus_funnel_report (its plan
# CHANGED this round — the funnel stages now build through the shared
# _funnel_stage memo — and its near_dedup row cross-checks
# corpus_funnel_lm's). corpus_funnel_incremental also changed (the
# opportunistic _funnel_peek reuse) and was already in-window; NOTE
# the driver checks each query in its own fresh session, so its
# CORRECTNESS row exercises the cache-MISS branch — the cache-HIT
# branch is oracle-pinned in both orders by tests (funnel family) and
# by corpus_funnel_lm sharing the same stages in-window.
# OUT (all green in CORRECTNESS_r11 on their current plans, family
# still in-window, parity-tested on every pytest run): char_entropy
# (quality keeps ccnet_buckets + dsir_importance + ngram_diversity +
# the two logprob entries), order_priority_exists (ten TPC-H shapes
# stay), url_dedup_report (dedup keeps components/bloom/lines/
# minhash_calibration + blocklist_report).
# Round-12 SECOND tranche (new queries built later in the round, all
# pre-verified at the driver's sf0.01 — BASELINE.md).
# IN: rpq_recall (NEW: residual IVF-PQ gate), ivf_knn_batch_recall
# (NEW: batched probe search gate), sparse_index_topk (NEW: persisted
# sparse postings — the indexed twin of sparse_knn, same oracle).
# OUT (green in CORRECTNESS_r11 on current plans, family covered):
# min_cost_supplier + partsupp_value_share (nine TPC-H shapes stay,
# including the grouping-sets/exists/decile members),
# doc_bigram_logprob (doc_kn_logprob keeps the bigram-LM family
# in-window; ccnet_buckets composes the unigram score).
# Round-12 THIRD tranche (queries built in the round's second half,
# pre-verified at the driver's sf0.01 — BASELINE.md).
# IN (all NEW): hybrid_rrf_tri (dense+bm25+sparse RRF over three
# persisted indexes), unigram_token_counts (the SentencePiece-family
# tokenizer, arithmetic oracle), dedup_best_quality_survivors
# (keep-best representatives), token_budget_mix (token-provisioned
# mixing), script_mix_report (Unicode script composition).
# OUT (green in CORRECTNESS_r11 on unchanged plans, family covered):
# grouping_sets_pricing (eight TPC-H shapes stay), knn_matryoshka
# (knn_cosine + six recall gates keep ANN), ccnet_buckets
# (dsir_importance + doc_kn_logprob + corpus_funnel_lm keep quality
# scoring), blocklist_report (phrase_blocklist_report keeps
# blocklists), dedup_bloom_incremental (five dedup entries stay).
# Round-12 FOURTH tranche (the two batch queries landed after the
# third sweep — rotating them in immediately closes the
# added-post-sweep gap the round-11 verdict flagged on
# doc_kn_logprob; window re-swept at sf0.01 after the swap).
# IN: bm25_batch_topk, maxsim_batch_topk (union-tagged exact oracles
# for the batched keyword/MaxSim paths).
# OUT (green in CORRECTNESS_r11 on unchanged plans, family covered):
# phrase_blocklist_report (bm25_index_topk + sparse_index_topk +
# hybrid_rrf_tri + bm25_batch_topk keep keyword), dedup_lines_c4
# (components/best_quality/media_dedup/minhash_calibration keep
# dedup).
# After this rotation the only registered query without a driver
# CORRECTNESS row is semdedup_ivf_survivors — rows-only BY DESIGN
# (its exact witness semdedup_ivf_recall stays in-window).
#
# Round-13 rotation (normal policy: new/changed plans in, stable
# greens out with family coverage kept; window pre-swept at sf0.01
# after the swap — BASELINE.md).
# IN — semdedup_ivf_survivors (round-12 verdict ask #3: upgraded from
# rows-only to an EXACT oracle via the survivor-set containment
# theorem — the last ledger entry that had never held a driver
# CORRECTNESS row); bm25_unigram_topk (NEW, ask #5: the persisted
# keyword index under a TRAINED Unigram-LM tokenizer, analytic BM25
# oracle); sparse_batch_topk (NEW: the batched sparse postings path —
# the batch family's fourth modality becomes driver-checked,
# union-tagged exact oracle).
# OUT (all green in CORRECTNESS_r12 on unchanged plans, family still
# in-window, parity-tested on every pytest run): dedup_components
# (dedup keeps best_quality_survivors + media_dedup_pairs +
# minhash_calibration_report, and semdedup_ivf_survivors exercises
# the same components machinery under an exact gate),
# mmr_rerank_diverse (fusion/rerank keeps hybrid_rrf_tri),
# opq_recall (ANN keeps ivf_pq/rpq/batch/refined/maxsim recall gates).
# Round-13 SECOND tranche (built late in the round; window re-swept
# at sf0.01 after the swap — BASELINE.md).
# IN: rabitq_recall (NEW: true RaBitQ — the reference's actual
# vchordrq quantization — recall gate + unbiased-estimator slope
# witnesses).
# OUT (green in CORRECTNESS_r12 on an unchanged plan): ivf_recall_
# refined (ANN keeps knn_cosine + ivf_pq/rpq/batch/maxsim/semdedup
# recall gates in-window; the refined-int8 path stays parity-tested
# on every pytest run).
_WINDOW_PRIORITY = [
    # relational / OLAP core (4 carried + 2 derived-partsupp shapes)
    "filter_project",
    "topk_orders",
    "agg_pricing_summary",
    "join_revenue_by_nation",
    # r11 IN, never driver-checked: TPC-H Q shapes
    "nation_market_share",
    "volume_shipping",
    "sole_late_supplier",
    "brand_supplier_diversity",
    "disjunctive_part_revenue",
    "small_quantity_revenue",
    "customer_value_deciles",
    "customer_order_distribution",
    "lost_customers_by_nation",
    # vector / ANN (knn_cosine carries K1; the r11-IN entries are the
    # never-checked recall-gate family members)
    "knn_cosine",
    "ivf_pq_recall",
    "rpq_recall",
    "ivf_knn_batch_recall",
    "rabitq_recall",
    "maxsim_ivf_recall",
    "semdedup_ivf_survivors",
    "hard_negatives",
    # keyword / hybrid search + rerank
    "bm25_index_topk",
    "bm25_batch_topk",
    "bm25_unigram_topk",
    "sparse_index_topk",
    "sparse_batch_topk",
    "hybrid_rrf_tri",
    # graph + similarity joins
    "jaccard_join_exact",
    "graph_pagerank",
    # document pipeline (§2 D/P rows)
    "chunk_regex",
    "delete_cascade",
    "media_exif_report",
    "mojibake_scrub_report",
    # events / time-series
    "events_rollup_daily",
    # dedup suite
    "dedup_best_quality_survivors",
    "media_dedup_pairs",
    "minhash_calibration_report",
    # text analysis / training-data ops
    "script_mix_report",
    "token_budget_mix",
    "unigram_token_counts",
    "dsir_importance",
    "doc_kn_logprob",
    "ngram_diversity",
    "leakage_safe_split",
    "corpus_funnel_report",
    "corpus_funnel_incremental",
    "corpus_funnel_lm",
    "quantile_sketch_gate",
    "maxsim_batch_topk",
    "semdedup_ivf_recall",
]


def _apply_window_priority() -> None:
    """Mutate QUERIES/ORACLES in place so priority entries come first
    (in-place keeps every existing ``from suite import QUERIES`` binding
    valid). Unlisted queries keep their relative definition order."""
    missing = [n for n in _WINDOW_PRIORITY if n not in QUERIES]
    if missing:  # pragma: no cover - registration bug guard
        raise RuntimeError(f"_WINDOW_PRIORITY references unknown queries: {missing}")
    ordered = {n: QUERIES[n] for n in _WINDOW_PRIORITY}
    ordered.update((n, f) for n, f in QUERIES.items() if n not in ordered)
    QUERIES.clear()
    QUERIES.update(ordered)
    o_ordered = {n: ORACLES[n] for n in _WINDOW_PRIORITY if n in ORACLES}
    o_ordered.update((n, s) for n, s in ORACLES.items() if n not in o_ordered)
    ORACLES.clear()
    ORACLES.update(o_ordered)


_apply_window_priority()
