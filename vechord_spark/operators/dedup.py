"""Deduplication suite for large-corpus training-data pipelines.

Not present in the reference (its unique-index is the only dedup,
vechord/client.py:146-156); these are the driver-mandated scale
extensions (SURVEY §7.2 step 8). Five families:

- exact:      md5 fingerprint of normalized text -> groupBy
- MinHash+LSH: word shingles -> k min-hashes -> banded signatures ->
               bucket self-join (candidate pairs without O(n²))
- SimHash:    64-bit-ish bit-vote fingerprint; near-dup = small
               Hamming distance
- n-gram Jaccard: exact Jaccard over shingle sets, computed only for
               candidate (blocked) pairs
- embedding:  cosine near-dup over a vector column (brute top-n or
               LSH-bucketed)

Hash parity: every hash is built from ``md5`` (bit-identical in Spark
and DuckDB) so each operator has an exact SQL oracle. Murmur/xxhash
would be faster; md5 keeps the correctness gate honest and is still
JVM-side and codegen-friendly.

Scale notes: MinHash/SimHash signatures are one scan + narrow shuffles
on (band, signature) buckets; no stage materializes the O(n²) pair
space. That is the property that survives 100 TB.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F, types as T

from vechord_spark.functions.text import fingerprint, word_ngrams


# CPU-heavy md5/shingle projections must not inherit a single-split
# scan's parallelism — see vechord_spark/parallel.spread.
from vechord_spark.parallel import spread as _spread


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Groups of documents with identical normalized text.

    Returns ``(fp, n_dups, doc_ids)`` for fingerprints appearing more
    than once; ``doc_ids`` sorted for deterministic output. One shuffle
    on the fingerprint (map-side combine applies).
    """
    return (
        df.select(F.col(id_col).alias("doc_id"), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def drop_exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one representative (lowest id) per identical-text group."""
    w = Window.partitionBy(fingerprint(text_col)).orderBy(F.col(id_col).asc())
    return df.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    ).drop("__rn")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# MinHash permutation family: one md5 per shingle -> 28-bit base hash h,
# then hash_i(s) = (A_i * h + B_i) mod MINHASH_P. One digest per shingle
# (not one per shingle per permutation) keeps the signature build a cheap
# single scan; the affine family is exact integer math in both engines.
MINHASH_P = 2_147_483_647


def _mh_a(i: int) -> int:
    return 1_000_003 + 10_007 * i


def _mh_b(i: int) -> int:
    return 12_345 + 101 * i


def _shingle_base_hashes(text_col, ngram: int):
    """Distinct word shingles -> array of 28-bit integer base hashes
    (first 7 hex chars of md5, identical in Spark and DuckDB)."""
    shingles = F.array_distinct(word_ngrams(text_col, ngram))
    return F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 7), 16, 10).cast("bigint"),
    )


def minhash_signature(text_col, num_hashes: int = 16, ngram: int = 3):
    """Array of ``num_hashes`` min-hash values over the text's word
    shingles (see the affine family above)."""
    base = _shingle_base_hashes(text_col, ngram)
    return F.array(
        *[
            F.array_min(
                F.transform(base, lambda h: (h * _mh_a(i) + _mh_b(i)) % MINHASH_P)
            )
            for i in range(num_hashes)
        ]
    )


def minhash_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    band_size: int = 4,
    ngram: int = 3,
) -> DataFrame:
    """``(doc_id, band, sig)`` — one row per LSH band; docs sharing a
    (band, sig) bucket are candidate near-duplicates.

    The base-hash array is materialized once per row (one projection)
    and all permutation minima read it — one md5 per shingle total.
    """
    n_bands = num_hashes // band_size
    withbase = _spread(df).select(
        F.col(id_col).alias("doc_id"),
        _shingle_base_hashes(text_col, ngram).alias("__base"),
    )
    # num_hashes unrolled array_min(transform(...)) expressions. A
    # nested transform-over-permutation-indices form compiles to ONE
    # loop body and runs 4x faster warm — but its first-call Janino
    # compile takes 70+ seconds (measured), so the unrolled form wins
    # for run-once jobs. (Single-param lambdas only — a two-arg lambda
    # would make pyspark pass the ARRAY INDEX as the second argument.)
    def _perm_min(i: int):
        return F.array_min(
            F.transform(
                F.col("__base"), lambda h: (h * _mh_a(i) + _mh_b(i)) % MINHASH_P
            )
        )

    withsig = withbase.select(
        "doc_id",
        F.array(*[_perm_min(i) for i in range(num_hashes)]).alias("__mh"),
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[F.col("__mh")[b * band_size + r] for r in range(band_size)],
                    )
                ).alias("sig"),
            )
            for b in range(n_bands)
        ]
    )
    return withsig.select("doc_id", F.explode(bands).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )


def minhash_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    band_size: int = 4,
    ngram: int = 3,
    bands: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs ``(doc_a, doc_b)`` (doc_a < doc_b) from
    LSH banding. The self-join keys on (band, sig) buckets — cost is
    bucket-local, never O(n²) over the corpus.

    The band table is persisted before the self-join: without it Spark
    computes the (md5-heavy) signature subtree once per join side. At
    cluster scale, write the signatures to a table instead. Callers
    that materialize the pairs and move on should pass their OWN
    persisted ``bands`` (``minhash_bands(df, ...)``) and release it
    afterwards — the internal persist has no release handle, so it
    stays in the cache registry until session end (fine for memoized
    build-once callers, a leak for per-call pipelines)."""
    if bands is None:
        bands = minhash_bands(
            df, id_col, text_col, num_hashes, band_size, ngram
        ).persist()
    a = bands.select(F.col("band"), F.col("sig"), F.col("doc_id").alias("doc_a"))
    b = bands.select(F.col("band"), F.col("sig"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_candidate_pairs_cross(
    new: DataFrame,
    id_col: str,
    text_col: str,
    seen_bands: DataFrame,
    num_hashes: int = 16,
    band_size: int = 4,
    ngram: int = 3,
    new_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup candidates: pairs within the NEW batch plus
    pairs between the new batch and the SEEN corpus, with cost
    O(new batch + matched buckets) — the seen corpus is never re-banded
    or re-shingled.

    ``seen_bands`` is the PERSISTED signature table of the seen corpus
    (``minhash_bands`` output, written once at curation time and
    appended as waves land — the incremental twin of the postings/IVF
    log-delta extends in registry extend_*). The new batch is banded fresh
    (one scan of the new docs), self-joined for within-batch pairs, and
    joined against the seen bands for cross pairs. The band/sig keys
    are identical on both sides by construction, so the union of the
    two joins equals banding ``new UNION seen`` and keeping every pair
    that touches a new doc — same shape as the reference's insert-time
    index probe (new rows query the persisted index, never rebuild it).

    Returns ``(doc_a, doc_b)`` with doc_a < doc_b; new-new and new-seen
    pairs only (seen-seen pairs were handled when the seen corpus was
    curated). Ids must be unique across the two sets.
    """
    # ``new_bands``: pass a PERSISTED minhash_bands(new, ...) frame and
    # release it after materializing downstream — the pair frame is
    # read several times (within-join, cross-join, then the Jaccard
    # verifier's needed-ids derivation), and each evaluation would
    # otherwise re-run the md5-heavy banding (measured 2x wall on the
    # 10x funnel). Without it the bands are derived inline, unpersisted
    # (no caller-releasable handle -> no cache block left behind).
    nb = (
        new_bands
        if new_bands is not None
        else minhash_bands(new, id_col, text_col, num_hashes, band_size, ngram)
    )
    # ONE bucket join instead of two (round 14, guide §2.4): the new
    # batch probes the UNION of (new ∪ seen) band tables — within-batch
    # and cross pairs fall out of the same join, distinguished by the
    # __seen tag (a within pair would otherwise emit twice, once per
    # orientation, so batch partners keep only doc_n < partner; seen
    # partners orient by least/greatest as before). Same pair set, one
    # fewer join of the probe side.
    na = nb.select("band", "sig", F.col("doc_id").alias("doc_n"))
    rb = (
        nb.select(
            "band", "sig", F.col("doc_id").alias("doc_p"), F.lit(False).alias("__seen")
        )
        .unionByName(
            seen_bands.select(
                "band", "sig", F.col("doc_id").alias("doc_p"),
                F.lit(True).alias("__seen"),
            )
        )
    )
    pairs = (
        na.join(rb, ["band", "sig"])
        .filter(F.col("__seen") | (F.col("doc_n") < F.col("doc_p")))
        .select(
            F.least("doc_n", "doc_p").alias("doc_a"),
            F.greatest("doc_n", "doc_p").alias("doc_b"),
        )
    )
    return pairs.distinct()


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


def ngram_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 3,
    threshold: float = 0.0,
    candidates: DataFrame | None = None,
    candidates_prededuped: bool = False,
) -> DataFrame:
    """Exact Jaccard similarity over word-shingle sets (same shingling
    as MinHash, so it verifies MinHash candidates apples-to-apples).

    ``candidates`` (doc_a, doc_b) restricts the pair space BEFORE any
    intersection work (feed it minhash_candidate_pairs at scale): the
    candidate pairs join each side's distinct-shingle array and the
    intersection is a per-row ``array_intersect`` — total cost
    O(|candidates| * shingles), never O(n²) over the corpus. Without
    ``candidates``, pairs are generated from the shingle postings (docs
    sharing >= 1 shingle), quadratic on hot shingles — verification
    scale only. Returns ``(doc_a, doc_b, jaccard)`` rounded to 6
    decimals. With ``threshold == 0`` the two paths differ on
    zero-overlap candidate pairs (the postings path cannot emit them);
    any positive threshold makes them identical.
    """
    if candidates is not None:
        # ``candidates_prededuped``: skip the defensive distinct when
        # the caller's frame is already one row per (doc_a, doc_b) —
        # e.g. minhash_candidate_pairs_cross ends in distinct() — so a
        # checkpointed candidate table is not re-exchanged just to
        # dedup what is already unique
        cand = candidates.select("doc_a", "doc_b")
        if not candidates_prededuped:
            cand = cand.distinct()
        # shingle arrays are the expensive projection — compute them
        # ONLY for docs that appear in a candidate pair (a semi-join
        # before the projection), not the whole corpus. ``needed`` is
        # NOT deduped (round 14, guide §2.4): a left-semi join builds a
        # hash set from its right side, so duplicate ids change nothing
        # — the old distinct was one exchange + two hash aggregates of
        # pure cost per evaluation of this subtree.
        needed = cand.select(F.col("doc_a").alias(id_col)).union(
            cand.select(F.col("doc_b").alias(id_col))
        )
        sets = (
            _spread(df.join(needed, id_col, "left_semi"))
            .select(
                F.col(id_col).alias("doc_id"),
                F.array_distinct(word_ngrams(text_col, ngram)).alias("sh"),
            )
            .localCheckpoint(eager=False)
        )
        sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("__sha"))
        sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("__shb"))
        out = (
            cand
            .join(sa, "doc_a")
            .join(sb, "doc_b")
            .withColumn("n_inter", F.size(F.array_intersect("__sha", "__shb")))
            .withColumn(
                "jaccard",
                F.round(
                    F.col("n_inter")
                    / (
                        F.size("__sha") + F.size("__shb") - F.col("n_inter")
                    ).cast("double"),
                    6,
                ),
            )
            .select("doc_a", "doc_b", "jaccard")
        )
        if threshold > 0:
            out = out.filter(F.col("jaccard") >= threshold)
        return out
    sets = _spread(df).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(word_ngrams(text_col, ngram)).alias("sh"),
    )
    sizes = sets.select("doc_id", F.size("sh").alias("n_sh"), "sh")
    posts = sets.select("doc_id", F.explode("sh").alias("shingle"))
    pa = posts.select(F.col("shingle"), F.col("doc_id").alias("doc_a"))
    pb = posts.select(F.col("shingle"), F.col("doc_id").alias("doc_b"))
    inter = (
        pa.join(pb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("na") + F.col("nb") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .select("doc_a", "doc_b", "jaccard")
    )
    if threshold > 0:
        out = out.filter(F.col("jaccard") >= threshold)
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex chars of md5 -> fits a signed 64-bit int


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document 60-bit SimHash over word tokens.

    Token hash = first 15 hex chars of md5(token) as an integer; each
    bit position votes +1/-1 per token occurrence; bit set iff the vote
    is positive. Near-duplicates have small Hamming distance
    (``bit_count(a ^ b)``). Pure SQL -> exact DuckDB oracle.
    Returns ``(doc_id, simhash)``.
    """
    from vechord_spark.functions.text import tokenize

    toks = _spread(df).select(
        F.col(id_col).alias("doc_id"), F.explode(tokenize(text_col)).alias("tok")
    )
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("bigint")
    # per-bit vote sum(+1/-1) > 0 is algebraically 2*count(bit set) > n;
    # the count form halves the aggregate expression tree, which cuts
    # the one-time Janino codegen compile ~3x (measured 4.5 -> 1.6 s
    # cold at sf0.1 — the whole cold-vs-warm gap was compile time, not
    # execution) and the branch-free sum also vectorizes better
    votes = toks.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"b{b}")
            for b in range(SIMHASH_BITS)
        ],
    )
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{b}") * 2 > F.col("n"), F.lit(2**b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sim = term if sim is None else sim + term
    return votes.select("doc_id", sim.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    band_bits: int = 15,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash banding + Hamming filter.

    Pigeonhole: with 4 bands of 15 bits, any pair within Hamming
    distance 3 shares at least one exact band — the self-join keys on
    band values, avoiding O(n²). Returns (doc_a, doc_b, hamming).

    ``sigs`` = optional precomputed ``simhash(df, ...)`` frame
    (doc_id, simhash) — pass the persisted signature table when the
    fingerprints are already materialized (production writes them once
    per corpus) so the md5 + 60-vote aggregate isn't recomputed here.
    """
    if sigs is None:
        sigs = simhash(df, id_col, text_col)
    n_bands = SIMHASH_BITS // band_bits
    mask = (1 << band_bits) - 1
    bands = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.key")
    # persisted before the self-join: without it Spark computes the
    # (md5 + 60-vote aggregate) signature subtree once per join side;
    # at cluster scale, write the signatures to a table instead
    bands = bands.persist()
    a = bands.select(
        "band", "key", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a")
    )
    b = bands.select(
        "band", "key", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b")
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def hamming_near_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fingerprint",
    bits: int = 64,
    max_hamming: int = 3,
    band_bits: int | None = None,
) -> DataFrame:
    """Near-dup pairs over ANY integer fingerprint column by band-LSH +
    exact Hamming filter — the generalization of ``simhash_near_pairs``
    that perceptual image hashes (``multimodal.media_fingerprints``,
    64-bit dHash) and other bit signatures plug into.

    Pigeonhole guarantee: with ``n_bands = bits // band_bits`` bands,
    any pair within Hamming distance ``n_bands - 1`` shares at least
    one exact band, so the self-join keys on band values and recall is
    EXACT for ``max_hamming <= n_bands - 1`` (the default band width is
    chosen to make that hold); candidate volume is bucket-local, never
    O(n²). Returns ``(id_a, id_b, hamming)``.

    Signed fingerprints are fine: bands extract via shift+mask, and the
    top band of a 64-bit value keeps the sign bit inside its key.
    """
    if band_bits is None:
        band_bits = bits // (max_hamming + 1)
    n_bands = bits // band_bits
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the pigeonhole bound "
            f"{n_bands - 1} for {n_bands} bands of {band_bits} bits"
        )
    mask = (1 << band_bits) - 1
    bands = sigs.select(
        F.col(id_col).alias("__id"),
        F.col(fp_col).alias("__fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col(fp_col), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("__id", "__fp", "bk.band", "bk.key")
    bands = bands.persist()
    a = bands.select(
        "band", "key", F.col("__id").alias("id_a"), F.col("__fp").alias("fp_a")
    )
    b = bands.select(
        "band", "key", F.col("__id").alias("id_b"), F.col("__fp").alias("fp_b")
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------


def embedding_top_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    top_n: int = 20,
    n_blocks: int = 8,
) -> DataFrame:
    """The ``top_n`` most-similar distinct pairs by cosine similarity.

    Blocked all-pairs scoring: rows are hashed into ``n_blocks`` blocks
    and replicated to every block-pair group they participate in
    (``n_blocks`` copies per row — O(n·P) replication, never O(n²) rows
    carrying vector payloads through a join). Each group scores its
    cross product with one vectorized numpy ``einsum`` (sequential
    summation order — bit-identical to the zip_with/aggregate fold and
    the DuckDB oracle) and keeps only a local candidate top; the global
    top-``top_n`` merges the locals. At cluster scale, raise
    ``n_blocks`` ~ sqrt(pairs/target_block_size) or block semantically
    first (IVF centroid, operators/ivf.py).
    Returns (id_a, id_b, cos_sim) with similarity rounded to 6 decimals.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_field.dataType),
            T.StructField("id_b", id_field.dataType),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )
    k_local = top_n + 64  # slack so raw-sim local cuts can't starve
    # the rounded-value global ordering at the boundary

    def _score(key, pdf: pd.DataFrame) -> pd.DataFrame:
        i, j = key
        if i == j:
            a = b = pdf
        else:
            a = pdf[pdf["__blk"] == i]
            b = pdf[pdf["__blk"] == j]
        if a.empty or b.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        ma = np.array(a["__v"].tolist(), dtype=np.float64)
        mb = np.array(b["__v"].tolist(), dtype=np.float64)
        # einsum (non-optimized) accumulates over k in order -> matches
        # the sequential double fold of the SQL expression exactly
        dots = np.einsum("ik,jk->ij", ma, mb)
        na = np.sqrt(np.einsum("ik,ik->i", ma, ma))
        nb = np.sqrt(np.einsum("ik,ik->i", mb, mb))
        sims = dots / (na[:, None] * nb[None, :])
        ida = a[id_col].to_numpy()
        idb = b[id_col].to_numpy()
        if i == j:
            mask = ida[:, None] < idb[None, :]
            pa = np.broadcast_to(ida[:, None], sims.shape)[mask]
            pb = np.broadcast_to(idb[None, :], sims.shape)[mask]
            vals = sims[mask]
        else:
            pa0 = np.broadcast_to(ida[:, None], sims.shape).ravel()
            pb0 = np.broadcast_to(idb[None, :], sims.shape).ravel()
            pa = np.minimum(pa0, pb0)
            pb = np.maximum(pa0, pb0)
            vals = sims.ravel()
        if len(vals) > k_local:
            keep = np.argpartition(-vals, k_local)[:k_local]
            pa, pb, vals = pa[keep], pb[keep], vals[keep]
        return pd.DataFrame({"id_a": pa, "id_b": pb, "cos_sim": vals})

    spark = df.sparkSession
    block_pairs = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "__bi int, __bj int",
    )
    tagged = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("__blk"),
    )
    replicated = tagged.join(
        F.broadcast(block_pairs),
        (F.col("__blk") == F.col("__bi")) | (F.col("__blk") == F.col("__bj")),
    )
    local = replicated.groupBy("__bi", "__bj").applyInPandas(_score, out_schema)
    scored = local.select(
        "id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim")
    )
    from vechord_spark.operators.topk import ranked_topk

    return ranked_topk(
        scored,
        [F.col("cos_sim").desc(), F.col("id_a").asc(), F.col("id_b").asc()],
        top_n,
    ).select("id_a", "id_b", "cos_sim", "rank")


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 20,
    local_edge_threshold: int = 1_000_000,
) -> DataFrame:
    """Duplicate CLUSTERS from a near-dup pair list: connected
    components by iterative min-label propagation.

    ``pairs`` is (doc_a, doc_b); returns ``(doc_id, cluster_id)`` for
    every doc appearing in a pair, where ``cluster_id`` is the minimum
    doc id of the component — the canonical survivor. Each round does
    one hop of min-label propagation along edges PLUS pointer-doubling
    path compression (relabel through the label's own label), so
    convergence takes O(log diameter) rounds, not O(diameter), each
    round a bounded number of shuffles on (doc_id). Every round ends in
    ``localCheckpoint(eager=True)`` — without it the logical plan of an
    iterative join grows with each round and Catalyst analysis time
    explodes exponentially; checkpointing truncates lineage so round N
    costs the same as round 1. This is the step between pair generation
    (MinHash/SimHash/embedding buckets) and survivor selection that
    production dedup needs: pair lists alone cannot say "keep one per
    group" when duplicates chain A-B-C. Raises after ``max_iterations``
    without a fixpoint rather than silently returning partial clusters.

    Size gate: the verified pair list is typically orders of magnitude
    smaller than the corpus (it is the *duplicate* edges, post-Jaccard),
    so when the deduped edge count is <= ``local_edge_threshold`` the
    component labels are computed by a single-pass union-find on the
    driver (one job to collect the edges, zero iterative shuffles) and
    shipped back as a DataFrame. Above the gate — or with
    ``local_edge_threshold=0`` — the distributed O(log diameter)
    label-propagation loop runs; that path never materializes edges on
    one machine and is the 100 TB route.
    """
    spark = pairs.sparkSession
    # undirected edge list; deduped ONCE here (half-edges suffice for
    # the union-find path, both directions for label propagation)
    half = pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")).distinct()
    if local_edge_threshold:
        # the size gate IS the collect: pull at most threshold+1 edges
        # in one job — if the limit wasn't hit, these are all the edges
        # and the count job + persist of the two-job form are saved
        # (one action instead of two on the common small-edge-set path)
        edges = half.limit(local_edge_threshold + 1).collect()
        if len(edges) <= local_edge_threshold:
            parent: dict = {}

            def find(x):
                root = x
                while parent[root] != root:
                    root = parent[root]
                while parent[x] != root:  # path compression
                    parent[x], x = root, parent[x]
                return root

            for u, v in ((r[0], r[1]) for r in edges):
                parent.setdefault(u, u)
                parent.setdefault(v, v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    # union by MIN id so the root IS the canonical survivor
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
            rows = [(n, find(n)) for n in parent]
            id_type = half.schema["u"].dataType
            schema = T.StructType(
                [
                    T.StructField("doc_id", id_type, False),
                    T.StructField("cluster_id", id_type, False),
                ]
            )
            return spark.createDataFrame(rows, schema)
        half = half.persist()  # distributed rounds re-read the edges
    # Distributed path: alternating large-star / small-star (Kiveris et
    # al., "Connected Components in MapReduce and Beyond") — converges
    # in O(log n) rounds, and each half-round is ONE groupBy(u) min
    # aggregate plus a join co-partitioned on the same key (the
    # Exchange introduced by the aggregate is reused by the join), vs
    # the r3 label-propagation loop's two independent joins per round.
    # At fixpoint the edge set is a forest of stars: every non-minimum
    # node holds exactly the edge (node -> component minimum).
    #
    # Convergence detection stays join-free: per-node attached minima
    # only ever decrease round-over-round (each rewrite replaces a
    # partner u by m = min of a neighborhood containing u), so the
    # DECIMAL(38,0) sum of (count, sum u, sum v) over the canonical
    # hi->lo edge set is monotone and fixes exactly at convergence.
    edges = half.filter(F.col("u") != F.col("v")).select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct().localCheckpoint(eager=True)
    if local_edge_threshold:
        # the size-gate persist is no longer needed once the canonical
        # edge set is checkpointed — release it on the distributed path
        # too (the local path already does)
        half.unpersist()

    def _signature(e):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
            F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
        ).first()
        return (row[0], row[1], row[2])

    prev_sig = _signature(edges)
    for _ in range(max_iterations):
        # large-star: group the SYMMETRIZED adjacency by u; every
        # strictly-larger neighbor re-attaches to m = min(N(u) + {u})
        both = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            both.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        ls = (
            both.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star: edges are now hi->lo; every node's smaller
        # neighbors (and the node itself) attach to the smallest
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss_nbrs = (
            ls.join(mins2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        edges = (
            ss_nbrs.union(mins2.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=True)
        )
        sig = _signature(edges)
        if sig == prev_sig:
            # stars: (node -> min) edges are the labels; centers
            # (the minima) label themselves
            centers = edges.select(F.col("v").alias("doc_id")).distinct()
            return edges.select(
                F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
            ).union(
                centers.select("doc_id", F.col("doc_id").alias("cluster_id"))
            )
        prev_sig = sig
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} iterations"
    )


def drop_near_duplicates(
    df: DataFrame, id_col: str, pairs: DataFrame
) -> DataFrame:
    """Keep one representative (the min-id cluster survivor) per
    near-dup component; rows in no pair pass through untouched."""
    clusters = connected_components(pairs)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def drop_near_duplicates_keep_best(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    prefer,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Keep the BEST member per near-dup component instead of the
    min-id one — the production choice: duplicates differ (truncated
    copies, boilerplate-wrapped mirrors, OCR variants), so the kept
    representative should be the highest-quality member, not the one
    that happened to crawl first. ``prefer`` is a Column sort key
    (DESCENDING = better), e.g. ``F.length("text")`` or a quality
    score; ties break on ascending id so the choice is deterministic.
    Rows in no pair pass through untouched. One window over the
    CLUSTERED rows only (a tiny fraction of the corpus), then an
    anti-join on the losers — same scale shape as
    :func:`drop_near_duplicates`. Pass ``clusters`` to reuse an
    already-computed component labeling."""
    from pyspark.sql import Window

    if clusters is None:
        clusters = connected_components(pairs)
    members = df.join(
        clusters.select(
            F.col("doc_id").alias(id_col), F.col("cluster_id")
        ),
        id_col,
    )
    w = Window.partitionBy("cluster_id").orderBy(
        prefer.desc(), F.col(id_col).asc()
    )
    losers = (
        members.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") > 1)
        .select(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def embedding_pair_count(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_blocks: int = 8,
) -> DataFrame:
    """1-row count of distinct pairs with cosine >= ``threshold`` —
    the EXACT ground-truth denominator for bucketed-recall gates
    (semdedup_ivf_recall), via the same blocked all-pairs matmul as
    :func:`embedding_top_pairs` (each block pair scores one numpy
    einsum with the sequential summation order the SQL oracle uses;
    replication is O(n·n_blocks), never O(n²) joined rows). ~15x
    faster than the JVM fold expression self-join at 2k vectors.
    Verification-scale by contract, like every exact all-pairs tool
    here. Returns one row ``(n_pairs bigint)``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType([T.StructField("n_pairs", T.LongType())])

    def _count(key, pdf: pd.DataFrame) -> pd.DataFrame:
        i, j = key
        if i == j:
            a = b = pdf
        else:
            a = pdf[pdf["__blk"] == i]
            b = pdf[pdf["__blk"] == j]
        if a.empty or b.empty:
            return pd.DataFrame({"n_pairs": [0]})
        ma = np.array(a["__v"].tolist(), dtype=np.float64)
        mb = np.array(b["__v"].tolist(), dtype=np.float64)
        dots = np.einsum("ik,jk->ij", ma, mb)
        na = np.sqrt(np.einsum("ik,ik->i", ma, ma))
        nb = np.sqrt(np.einsum("ik,ik->i", mb, mb))
        sims = np.round(dots / (na[:, None] * nb[None, :]), 6)
        ida = a[id_col].to_numpy()
        idb = b[id_col].to_numpy()
        if i == j:
            mask = ida[:, None] < idb[None, :]
        else:
            mask = np.ones_like(sims, dtype=bool)  # blocks are disjoint
        return pd.DataFrame({"n_pairs": [int((sims[mask] >= threshold).sum())]})

    spark = df.sparkSession
    block_pairs = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "__bi int, __bj int",
    )
    tagged = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("__blk"),
    )
    replicated = tagged.join(
        F.broadcast(block_pairs),
        (F.col("__blk") == F.col("__bi")) | (F.col("__blk") == F.col("__bj")),
    )
    local = replicated.groupBy("__bi", "__bj").applyInPandas(_count, out_schema)
    return local.agg(F.sum("n_pairs").cast("bigint").alias("n_pairs"))


def embedding_exact_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_blocks: int = 8,
) -> DataFrame:
    """EXACT distinct pairs with cosine >= ``threshold`` — the
    pair-emitting twin of :func:`embedding_pair_count` (same blocked
    all-pairs matmul, same sequential-einsum summation order and
    6-decimal rounding as the DuckDB oracle). Use where a recall gate
    needs the exact pair SET, not just its size — e.g. computing the
    exact-survivor ground truth that the IVF-bucketed survivor set is
    checked against (semdedup_ivf_survivors). Verification-scale by
    contract like every exact all-pairs tool here: at cluster scale
    the bucketed generators are the production path and this is the
    sampled ground-truth auditor. Returns ``(id_a, id_b)`` with
    ``id_a < id_b``."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [T.StructField("id_a", id_type), T.StructField("id_b", id_type)]
    )

    def _pairs(key, pdf: pd.DataFrame) -> pd.DataFrame:
        i, j = key
        if i == j:
            a = b = pdf
        else:
            a = pdf[pdf["__blk"] == i]
            b = pdf[pdf["__blk"] == j]
        if a.empty or b.empty:
            return pd.DataFrame({"id_a": [], "id_b": []})
        ma = np.array(a["__v"].tolist(), dtype=np.float64)
        mb = np.array(b["__v"].tolist(), dtype=np.float64)
        dots = np.einsum("ik,jk->ij", ma, mb)
        na = np.sqrt(np.einsum("ik,ik->i", ma, ma))
        nb = np.sqrt(np.einsum("ik,ik->i", mb, mb))
        sims = np.round(dots / (na[:, None] * nb[None, :]), 6)
        ida = a[id_col].to_numpy()
        idb = b[id_col].to_numpy()
        hit = sims >= threshold
        if i == j:
            hit &= ida[:, None] < idb[None, :]
        ia, ib = np.where(hit)
        pa, pb = ida[ia], idb[ib]
        if i != j:  # blocks are disjoint; normalize orientation
            pa, pb = np.minimum(pa, pb), np.maximum(pa, pb)
        return pd.DataFrame({"id_a": pa, "id_b": pb})

    spark = df.sparkSession
    block_pairs = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "__bi int, __bj int",
    )
    tagged = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
        F.pmod(F.hash(F.col(id_col)), F.lit(n_blocks)).alias("__blk"),
    )
    replicated = tagged.join(
        F.broadcast(block_pairs),
        (F.col("__blk") == F.col("__bi")) | (F.col("__blk") == F.col("__bj")),
    )
    return replicated.groupBy("__bi", "__bj").applyInPandas(_pairs, out_schema)


def embedding_bucketed_pairs_matmul(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    bucketer: DataFrame,
) -> DataFrame:
    """Within-bucket cosine pairs >= ``threshold`` via one numpy matmul
    per bucket — the Arrow-batched twin of
    :func:`embedding_near_duplicates` with a ``bucketer``.

    Pair-for-pair identical output (same einsum summation order and
    6-decimal rounding as :func:`embedding_top_pairs`, pinned by test
    against the JVM fold-expression path), ~8x faster at 2k vectors:
    the fold expression evaluates one interpreted lambda chain per
    pair, the matmul scores a whole bucket in one vectorized call.
    ``bucketer`` may multi-assign (e.g. top-2 IVF centroids); the
    cross-bucket ``distinct`` collapses pairs that share two buckets.
    Each pandas group is ONE bucket — at cluster scale bound bucket
    sizes by the IVF list size, or split giant buckets with the
    block-pair replication of :func:`embedding_top_pairs`."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("id_a", id_type),
            T.StructField("id_b", id_type),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        m = np.array(pdf["__v"].tolist(), dtype=np.float64)
        dots = np.einsum("ik,jk->ij", m, m)
        n = np.sqrt(np.einsum("ik,ik->i", m, m))
        sims = np.round(dots / (n[:, None] * n[None, :]), 6)
        ids = pdf[id_col].to_numpy()
        mask = (ids[:, None] < ids[None, :]) & (sims >= threshold)
        ia, ib = np.where(mask)
        return pd.DataFrame(
            {"id_a": ids[ia], "id_b": ids[ib], "cos_sim": sims[ia, ib]}
        )

    tagged = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    ).join(bucketer.select(id_col, "bucket"), id_col)
    return (
        tagged.groupBy("bucket")
        .applyInPandas(_pairs, out_schema)
        .distinct()
    )


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    bucketer: DataFrame | None = None,
) -> DataFrame:
    """All pairs with cosine similarity >= threshold.

    ``bucketer`` = optional (id, bucket) assignment (e.g. IVF centroid
    ids) restricting comparisons to same-bucket pairs — the scale path.
    """
    from vechord_spark.functions.vector import dot_product, vector_norm

    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        vector_norm(vec_col).alias("__na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        vector_norm(vec_col).alias("__nb"),
    )
    if bucketer is not None:
        ba = bucketer.select(F.col(id_col).alias("id_a"), F.col("bucket"))
        bb = bucketer.select(F.col(id_col).alias("id_b"), F.col("bucket"))
        a = a.join(ba, "id_a")
        b = b.join(bb, "id_b")
        pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    else:
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(
                dot_product("__va", F.col("__vb")) / (F.col("__na") * F.col("__nb")),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


def duplicate_span_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ngram: int = 5,
    min_docs: int = 2,
    strategy: str = "window",
) -> DataFrame:
    """Per-document repeated-span contamination: the fraction of a
    document's distinct word ``ngram``-shingles that also occur in at
    least ``min_docs`` documents corpus-wide (itself included).

    The training-data signal behind exact-substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"): docs
    whose spans are mostly corpus-duplicated are boilerplate or
    near-copies even when no single pair crosses a Jaccard threshold.

    Scale shape: explode distinct shingles (one row per (doc, span)),
    co-locate by span to count containing docs, then one id-keyed
    aggregation. Never pairwise — cost is linear in total shingle
    volume. Returns ``(id, n_spans, n_dup_spans, dup_fraction)``.

    ``strategy="window"`` (default): ONE pass — a count window over the
    span partition flags duplicates in place (one span exchange + one
    id exchange; measured ~15% faster warm and ~3x faster cold than the
    join form at sf0.1, since the explode/tokenize runs once).
    ``strategy="join"``: aggregate counts then join back on span — the
    scan runs twice but AQE can skew-split the join, so prefer it when
    single spans are expected in a large fraction of ALL documents
    (boilerplate at extreme corpus scale), which would funnel one
    window partition onto one task.
    """
    spans = _spread(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(word_ngrams(text_col, ngram))).alias("span"),
    )
    if strategy == "window":
        from pyspark.sql import Window

        n_docs = F.count(F.lit(1)).over(Window.partitionBy("span"))
        dup = (n_docs >= min_docs).alias("is_dup")
        per = spans.select(F.col(id_col), dup)
        flag = F.col("is_dup")
    elif strategy == "join":
        # one row per (doc, span) -> count(*) per span == containing docs
        counts = (
            spans.groupBy("span")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") >= min_docs)
        )
        per = spans.join(counts, "span", "left")
        flag = F.col("n_docs").isNotNull()
    else:
        raise ValueError(f"unknown strategy: {strategy!r} (use 'window' or 'join')")
    return per.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(flag.cast("long")).alias("n_dup_spans"),
        F.round(F.sum(flag.cast("double")) / F.count(F.lit(1)), 6).alias(
            "dup_fraction"
        ),
    )


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    return_text: bool = False,
) -> DataFrame:
    """Corpus-wide exact line deduplication (the C4 cleaning rule,
    Raffel et al. 2020 §2.2: any line occurring more than once in the
    corpus keeps only its first occurrence) — the standard boilerplate
    scrub (nav bars, cookie banners, footers) before training.

    First occurrence is the corpus-total order ``(doc_id, line_no)``;
    lines are trimmed, empty lines dropped. Returns one row per input
    document that had at least one non-empty line:

    - ``n_lines`` — non-empty lines before dedup
    - ``n_kept`` — lines surviving (first occurrences)
    - ``kept_md5`` — md5 of the surviving lines re-joined with
      newline in original order ('' joins to the empty-string hash, so
      fully-boilerplate docs are still visible)
    - ``kept_text`` (only with ``return_text=True``) — the scrubbed
      document itself, for feeding the next pipeline stage (the
      oracle-checked report keeps the hash-only shape)

    Scale shape: posexplode -> ONE exchange keyed on the line text
    (the ``row_number`` window; a corpus-hot boilerplate line costs
    its occurrence count in one partition — bounded by docs, never
    pairwise) -> one doc_id-keyed aggregation to reassemble. No
    O(corpus^2) anywhere; at 100 TB the line-keyed exchange carries
    (line, doc_id, line_no) triples only, never full documents.

    Reference anchor: vechord has no corpus-cleaning surface — this is
    a driver-mandated training-data extension beside the
    MinHash/SimHash family above.
    """
    lines = (
        _spread(df)
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(F.col(text_col), sep)).alias("line_no", "line"),
        )
        .withColumn("line", F.trim("line"))
        .filter(F.col("line") != "")
    )
    w = Window.partitionBy("line").orderBy("doc_id", "line_no")
    ranked = lines.withColumn("rn", F.row_number().over(w))
    kept_text = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("rn") == 1, F.struct("line_no", "line"))
                )
            ),
            lambda s: s["line"],
        ),
        "\n",
    )
    out = ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum((F.col("rn") == 1).cast("long")).alias("n_kept"),
        kept_text.alias("kept_text"),
    )
    cols = [
        "doc_id",
        "n_lines",
        "n_kept",
        F.md5("kept_text").alias("kept_md5"),
    ]
    if return_text:
        cols.append("kept_text")
    return out.select(*cols)


def jaccard_prefix_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    ngram: int = 3,
) -> DataFrame:
    """EXACT Jaccard similarity join via prefix filtering (the
    SSJoin/PPJoin family, Chaudhuri et al. 2006 / Xiao et al. 2008) —
    the lossless complement of the MinHash path: every pair with
    ``jaccard >= threshold`` is returned, none missed.

    Order each document's distinct shingles rarest-first (one global
    frequency aggregate), index only the first
    ``n - ceil(threshold * n) + 1`` of them: a pair at or above the
    threshold must share one of these prefix shingles (if a's prefix
    missed all of the overlap, the overlap would fit inside a's last
    ``ceil(t*n)-1`` shingles — fewer than the ``t*n`` the threshold
    demands). Candidates then pass a size-ratio filter and an exact
    ``array_intersect`` verify. Completeness is structural, so unlike
    the postings path in ``ngram_jaccard`` (quadratic on hot
    shingles), work is bounded by design: prefixes are the RAREST
    shingles of each set, so their buckets are the smallest ones the
    corpus has — no cap is applied because capping would break the
    exactness contract (a corpus of true near-duplicates has
    inherently quadratic OUTPUT; that is the answer, not a blowup).

    Returns ``(id_a, id_b, inter, union_n, jaccard)`` with jaccard
    rounded to 6 decimals, id_a < id_b.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    sets = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_ngrams(text_col, ngram)).alias("sh"),
    )
    # the shingle projection is the expensive scan and BOTH branches
    # below (global frequency, per-doc ordering) read it — truncate
    # lineage once here rather than recompute per branch
    sets = sets.localCheckpoint(eager=True)
    freq = (
        sets.select(F.explode("sh").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        # dictionary-encode each distinct shingle to a unique bigint:
        # every downstream stage (prefix join shuffle, candidate
        # distinct, array_intersect verify) then works on 8-byte ints
        # instead of ~25-char shingle strings (measured ~2x on the
        # whole query at sf0.1). monotonically_increasing_id is exact
        # (unique by construction, unlike a 64-bit content hash, which
        # WOULD collide at 100 TB shingle cardinality) and needs no
        # global sort; ids only need to be consistent within this one
        # evaluation, which the eager checkpoint of `ordered` pins.
        .withColumn("tid", F.monotonically_increasing_id())
    )
    # rarest-first canonical order: (global freq, shingle) sort keys;
    # the ORDER comes from (tf, tok), the carried value is the int id
    ordered = (
        sets.select("id", F.explode("sh").alias("tok"))
        .join(freq, "tok")
        .groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("tf", "tok", "tid"))
            ).alias("st")
        )
        .select(
            "id",
            F.transform("st", lambda s: s["tid"]).alias("ts"),
            F.size("st").alias("n"),
        )
    )
    # eager checkpoint BEFORE the prefix self-join: both join branches
    # (and the two verify join-backs) read this frame, and a lazy plan
    # would re-run the tokenize -> shingle -> freq-join -> groupBy
    # pipeline once per branch (measured 4x recompute, ~25 s at sf0.1;
    # checkpointed ~6 s) — the same lineage-truncation rule as the
    # media/funnel pair frames
    ordered = ordered.localCheckpoint(eager=True)
    plen = (
        F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + F.lit(1)
    ).cast("int")
    # prefix rows stay NARROW (id, n, position, bigint shingle id):
    # the full shingle-id arrays are ~KB each, and dragging them
    # through the candidate join + distinct dominated the whole plan
    # (measured 25 -> ~6 s at sf0.1). Arrays join back ONLY for the
    # candidate rows that reach the verify.
    pref = ordered.select(
        "id",
        "n",
        F.posexplode(F.slice("ts", F.lit(1), plen)).alias("p", "tok"),
    )
    # PPJoin positional filter (Xiao et al. 2008): both shingle lists
    # share the canonical rarest-first order, so a token matched at
    # 0-based positions (pa, pb) splits each set into a before-part
    # and an after-part that can only intersect pairwise — overlap
    # <= min(pa, pb) + 1 + min(na-pa-1, nb-pb-1). jaccard >= t needs
    # overlap >= t*(na+nb)/(1+t); rows whose bound falls short are
    # pruned BEFORE the pair distinct. Per-row filtering is
    # completeness-safe: for a TRUE pair every matched token's bound
    # >= its real overlap >= the requirement, so all its rows survive
    # (the 1e-9 slack keeps double rounding from shaving an
    # exact-boundary pair).
    req = threshold / (1.0 + threshold)
    ub = (
        F.least(F.col("a.p"), F.col("b.p"))
        + F.lit(1)
        + F.least(
            F.col("a.n") - F.col("a.p") - F.lit(1),
            F.col("b.n") - F.col("b.p") - F.lit(1),
        )
    )
    # candidate pairs are NOT pre-deduped (round 14, guide §2.4): a pair
    # reaches the verify once per shared prefix token, and the verify
    # joins are hash joins with no exchange of the candidate stream, so
    # pre-deduping cost a full exchange of the candidate pair set just
    # to save the duplicate verifies — measured at sf1 (57.3M candidate
    # pairs, 1.06 prefix matches/pair): the pre-verify distinct was a
    # 10 s exchange to avoid ~7% duplicate intersects. Survivors are
    # deduped AFTER the threshold filter instead, where the distinct
    # touches only true near-dup pairs (the output, inherently small
    # relative to candidates at every scale; each duplicate row carries
    # identical deterministic values, so the final distinct is exact).
    cands = (
        pref.alias("a")
        .join(pref.alias("b"), "tok")
        .filter(F.col("a.id") < F.col("b.id"))
        # size-ratio filter: |a| >= t*|b| is necessary for j >= t
        .filter(
            (F.col("a.n").cast("double") >= threshold * F.col("b.n"))
            & (F.col("b.n").cast("double") >= threshold * F.col("a.n"))
        )
        .filter(
            ub.cast("double")
            >= F.lit(req) * (F.col("a.n") + F.col("b.n")) - F.lit(1e-9)
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
        )
    )
    arrs = ordered.select("id", "ts")
    verified = (
        cands.join(
            arrs.select(F.col("id").alias("id_a"), F.col("ts").alias("ta")),
            "id_a",
        )
        .join(
            arrs.select(F.col("id").alias("id_b"), F.col("ts").alias("tb")),
            "id_b",
        )
        .withColumn("inter", F.size(F.array_intersect("ta", "tb")))
        .withColumn("union_n", F.size("ta") + F.size("tb") - F.col("inter"))
    )
    return (
        verified.filter(
            F.col("inter").cast("double") >= threshold * F.col("union_n")
        )
        .select("id_a", "id_b", "inter", "union_n")
        .distinct()
        .select(
            "id_a",
            "id_b",
            F.col("inter").cast("int").alias("inter"),
            F.col("union_n").cast("int").alias("union_n"),
            F.round(
                F.col("inter").cast("double") / F.col("union_n"), 6
            ).alias("jaccard"),
        )
    )
