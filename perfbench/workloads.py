"""The benchmark's workloads: fixed, seeded operation sequences.

Each workload runs the same operations in the same order for a given
``--seed`` and ``--seconds`` (the sequence length is
``--seconds`` divided by a nominal per-operation cost, never a clock
check), so two commits do identical work. Operations are timed one by
one; their outputs are checked afterwards against ``oracle``.

- ``serve_hybrid``: closed loop, one client, single hybrid searches
  through ``VechordService.handle`` (``POST /api/pipeline`` ->
  ``DynamicPipeline.run_search``: query embed -> exact vector k-NN and
  BM25 postings -> RRF) over a few thousand documents.
- ``batch_retrieval``: rounds of four batched calls (IVF-probe and
  exact ``search_by_vector_batch``, ``search_by_keyword_batch``,
  ``search_by_multivec_batch``), each answering 16-224 queries over a
  passage table eight times the serve corpus's document count.

Traced ``serve_hybrid`` runs add a write cycle (``write_cycle``) on a
registry of its own after the measured loop.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

import gen
import oracle

TOPK = 10

# serve_hybrid
SERVE_REQUEST_S = 1.8  # nominal seconds per request: sizes the sequence
SERVE_STEPS = [
    {
        "kind": "chunker",
        "provider": "regex",
        "args": {"size": gen.CHUNK_SIZE, "overlap": gen.CHUNK_OVERLAP},
    },
    {"kind": "embedder", "provider": "hash", "args": {"dim": gen.SERVE_DIM}},
    {"kind": "keyword", "provider": "bm25"},
]

# batch_retrieval
BATCH_ROUND_S = 13.0  # nominal seconds per round of the four calls
IVF_LISTS = 32
IVF_PROBES = 4
RECALL_FLOOR = 0.8
# sized so that each call takes 2-4 s, of which about half to two
# thirds grows with the batch and the rest is the per-call fixed cost
# (README.md, "Batch sizes")
BATCH_QUERIES = {"ivf": 128, "exact": 40, "keyword": 224, "multivec": 16}
BATCH_KINDS = tuple(BATCH_QUERIES)

# warm-up: repeat each op type until two consecutive latencies agree
WARMUP_TOL = 0.2
WARMUP_MIN = 3
WARMUP_MAX = 6
# a serve request's latency keeps falling for its first handful of
# requests (driver-side JIT), so serve settles longer and tighter
SERVE_WARMUP_TOL = 0.1
SERVE_WARMUP_MIN = 5
SERVE_WARMUP_MAX = 8

DIST_TOL = 1e-9
SCORE_TOL = 1.5e-6

# traced write cycle
INGEST_LISTS = 4
INGEST_PROBES = 1
PLANTED_TOPK = 50  # above any batch's count of planted chunks

E2E_UNITS = {
    "setup_s": "s",
    "index_build_s": "s",
    "query_p50_ms": "ms",
    "query_per_s": "queries/s",
    "recall_at_10": "ratio",
    "store_bytes_per_doc": "bytes/doc",
}


@dataclass
class Ctx:
    spark: object
    run_dir: Path
    seed: int
    seconds: float
    t_start: float  # process start, for setup_s
    tracer: object | None = None

    def op(self, kind: str):
        return self.tracer.op(kind) if self.tracer else nullcontext()

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()


@dataclass
class Outcome:
    attempted: dict[str, int] = field(default_factory=dict)
    failed: dict[str, int] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)
    e2e: dict[str, float] = field(default_factory=dict)
    kinds: tuple[str, ...] = ()  # the op types the end-to-end metrics measure
    # per-layer readings the workload takes itself (store sizes, write cycle)
    layer: dict[str, float] = field(default_factory=dict)

    def count(self, kind: str, ok: bool) -> None:
        self.attempted[kind] = self.attempted.get(kind, 0) + 1
        if not ok:
            self.failed[kind] = self.failed.get(kind, 0) + 1

    def error(self, msg: str) -> None:
        if len(self.errors) < 20:
            self.errors.append(msg)
        else:
            self.errors[-1] = "... more errors"


def n_ops(seconds: float, nominal_s: float, minimum: int) -> int:
    return max(minimum, int(round(seconds / nominal_s)))


def warm_up(
    ctx: Ctx, kind: str, call, inputs, tol: float = WARMUP_TOL, min_calls: int = WARMUP_MIN
) -> list[float]:
    """Run ``call`` on successive inputs, outside the measured sequence,
    until two consecutive latencies agree within ``tol`` (at least
    ``min_calls`` calls, at most one per input)."""
    times: list[float] = []
    for x in inputs:
        with ctx.op(f"warmup.{kind}"):
            t = time.perf_counter()
            call(x)
            times.append(time.perf_counter() - t)
        if len(times) >= min_calls and abs(times[-1] - times[-2]) <= tol * times[-2]:
            break
    return times


def dir_stats(root: Path) -> dict[str, float]:
    """Files and bytes under the registry: parquet files of tables vs
    of index layouts (directories named ``<table>.<kind>``)."""
    data_files = index_files = total = 0
    for dirpath, _, files in os.walk(root):
        rel = Path(dirpath).relative_to(root)
        is_index = bool(rel.parts) and "." in rel.parts[0].lstrip(".")
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
            if f.endswith(".parquet"):
                if is_index:
                    index_files += 1
                else:
                    data_files += 1
    return {"store.data_files": data_files, "store.index_files": index_files, "store.bytes": total}


def settle_heap(ctx: Ctx) -> None:
    """Collect garbage in the JVM and in Python before the measured
    sequence, so no collection owed to set-up lands inside it."""
    import gc

    gc.collect()
    ctx.spark.sparkContext._jvm.java.lang.System.gc()


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------------------
# serve_hybrid
# ---------------------------------------------------------------------------


def serve_hybrid(ctx: Ctx) -> Outcome:
    from vechord_spark.plans.dynamic import DynamicPipeline
    from vechord_spark.registry import VechordRegistry
    from vechord_spark.service import VechordService

    out = Outcome(kinds=("request",))
    spark = ctx.spark
    n_req = n_ops(ctx.seconds, SERVE_REQUEST_S, 5)
    inputs = gen.serve_corpus(ctx.seed, gen.SERVE_DOCS, n_req, SERVE_WARMUP_MAX)
    reg_dir = ctx.run_dir / "registry"
    reg = VechordRegistry("bench", str(reg_dir), spark)
    pipe = DynamicPipeline.from_steps(reg, SERVE_STEPS)
    svc = VechordService(reg, pipe)

    def docs_frame(docs):
        return spark.createDataFrame(docs, "doc_id long, text string")

    # untimed priming ingest into a scratch registry: JIT compilation,
    # Python worker start and the writer code paths happen here, so the
    # timed ingest measures ingest and index work rather than JVM warm-up
    prime = gen.serve_corpus(ctx.seed, gen.PRIME_DOCS, 0, 0, stream=gen.PRIME_STREAM)
    prime_reg = VechordRegistry("prime", str(ctx.run_dir / "prime"), spark)
    t = time.perf_counter()
    with ctx.op("prime"):
        DynamicPipeline.from_steps(prime_reg, SERVE_STEPS).run_index(docs_frame(prime.docs))
        prime_reg.build_keyword_index("chunk")
    prime_s = time.perf_counter() - t

    docs_df = docs_frame(inputs.docs)
    t = time.perf_counter()
    with ctx.op("setup"):
        counts = pipe.run_index(docs_df)
    with ctx.op("setup"):
        reg.build_keyword_index("chunk")
    index_build_s = time.perf_counter() - t
    want_counts = {"document": len(inputs.docs), "chunk": len(inputs.chunks)}
    if counts != want_counts:
        out.error(f"run_index counts {counts} != {want_counts}")

    # reference model of the corpus, built from the generator's chunks
    uids = np.array([c[0] for c in inputs.chunks])
    mat = np.stack(
        [oracle.hash_vector(c[2], gen.SERVE_DIM, "doc").astype(np.float32) for c in inputs.chunks]
    )
    bm25 = oracle.Bm25({c[0]: c[2] for c in inputs.chunks})

    def request(query: str):
        body = json.dumps({"query": query, "topk": TOPK}).encode()
        return svc.handle("POST", "/api/pipeline", body=body)

    warm = warm_up(
        ctx, "request", request, inputs.warmup_queries, SERVE_WARMUP_TOL, SERVE_WARMUP_MIN
    )
    setup_s = time.perf_counter() - ctx.t_start
    log(f"serve_hybrid: {len(inputs.docs)} docs, {len(inputs.chunks)} chunks, "
        f"priming {prime_s:.1f} s, "
        f"warm-up {[round(x, 3) for x in warm]} s, {n_req} requests")

    settle_heap(ctx)
    results = []
    t_loop = time.perf_counter()
    for q in inputs.queries:
        with ctx.op("request"):
            t = time.perf_counter()
            try:
                resp = request(q)
            except Exception as err:  # counted as a failed operation
                resp = (None, None, repr(err).encode())
            results.append((q, resp, time.perf_counter() - t))
    loop_s = time.perf_counter() - t_loop

    log(f"serve_hybrid: request latencies {[round(r[2], 3) for r in results]} s")
    lat, recalls = [], []
    for q, (status, _, payload), dt in results:
        ok = status == 200
        out.count("request", ok)
        if not ok:
            out.error(f"request {q!r}: status {status} {payload[:200]!r}")
            continue
        lat.append(dt)
        rows = json.loads(payload)["chunks"]
        err, recall = check_hybrid(q, rows, uids, mat, bm25)
        if err:
            out.error(f"request {q!r}: {err}")
        recalls.append(recall)

    out.layer = dir_stats(reg_dir)
    out.e2e = {
        "setup_s": setup_s,
        "index_build_s": index_build_s,
        "query_p50_ms": statistics.median(lat) * 1e3 if lat else 0.0,
        "query_per_s": len(lat) / loop_s,
        "recall_at_10": statistics.fmean(recalls) if recalls else 0.0,
        "store_bytes_per_doc": out.layer["store.bytes"] / max(1, counts["document"]),
    }
    if ctx.tracer is not None:
        write_cycle(ctx, out)
    return out


def check_hybrid(query, rows, uids, mat, bm25) -> tuple[str | None, float]:
    """A hybrid response against the NumPy + pure-Python recomputation
    (exact vector top-k and BM25 top-k, fused by RRF): an error message
    or None, and the share of the reference top-k returned."""
    qv = oracle.hash_vector(query, gen.SERVE_DIM, "query")
    vec_leg = [u for u, _ in oracle.l2_topk(mat, uids, qv, TOPK)]
    kw_leg = [u for u, _ in bm25.topk(query, TOPK)[0]]
    fused = oracle.rrf([vec_leg, kw_leg])
    want = oracle.rrf_topk([vec_leg, kw_leg], TOPK)
    recall = len({r["uid"] for r in rows} & {u for u, _ in want}) / max(1, len(want))
    ranks = [r["rank"] for r in rows]
    if ranks != list(range(1, len(rows) + 1)):
        return f"ranks {ranks} are not contiguous from 1", recall
    scores = [r["rrf_score"] for r in rows]
    if any(b > a for a, b in zip(scores, scores[1:])):
        return f"RRF scores increase down the list: {scores}", recall
    got = [(r["uid"], r["rrf_score"]) for r in rows]
    return oracle.compare_ranked(got, want, SCORE_TOL, truth=fused.get), recall


def write_cycle(ctx: Ctx, out: Outcome) -> None:
    """The write path beside reads, in traced runs only, on a registry
    of its own so the serve corpus stays as checked. On fixed inputs
    (``gen.ingest_inputs``): a base corpus with a BM25 and an IVF index,
    then ``run_index`` batches each followed by ``extend_keyword_index``
    and ``extend_vector_index``, one ``remove_by`` and one ``maintain``.

    Two faults of the delete path (CHANGES.md, FOUND) make the
    ``delete`` operation fail on every run: an IVF probe search returns
    a deleted row until ``maintain`` prunes the clustered copy, and the
    BM25 index keeps deleted rows in its statistics after ``maintain``.
    Those two checks count the operation as failed; every other check
    here is an output check like any other."""
    from vechord_spark.plans.dynamic import DynamicPipeline
    from vechord_spark.registry import VechordRegistry
    from vechord_spark.spec import AnyOf

    spark = ctx.spark
    inputs = gen.ingest_inputs()
    reg_dir = ctx.run_dir / "ingest"
    reg = VechordRegistry("ingest", str(reg_dir), spark)
    pipe = DynamicPipeline.from_steps(reg, SERVE_STEPS)
    live: dict[str, tuple[int, str]] = {}  # the benchmark's ledger: uid -> (doc_id, text)

    def index(docs) -> None:
        pipe.run_index(spark.createDataFrame(docs, "doc_id long, text string"))

    def check_ledger(when: str) -> None:
        got = (reg.load("document").count(), reg.load("chunk").count())
        want = (len({d for d, _ in live.values()}), len(live))
        if got != want:
            out.error(f"write cycle, {when}: (documents, chunks) {got} != ledger {want}")

    def keyword_hits(query: str, topk: int) -> list[tuple]:
        rows = reg.search_by_keyword("chunk", query, topk=topk, return_fields=["uid"]).collect()
        return [(r["uid"], r["score"]) for r in rows]

    def planted_search(token: str) -> tuple[set[str], str | None]:
        """The chunks a search for ``token`` finds, and how its top k
        differs from pure-Python BM25 over the live rows (or None)."""
        hits = keyword_hits(token, PLANTED_TOPK)
        want, lookup = oracle.Bm25({u: text for u, (_, text) in live.items()}).topk(token, TOPK)
        err = oracle.compare_ranked(hits[:TOPK], want, SCORE_TOL, truth=lookup)
        return {u for u, _ in hits}, err and f"BM25 {token!r}: {err}"

    def probe_hits(vec) -> set[str]:
        res = reg.search_by_vector("chunk", vec.tolist(), topk=TOPK, probes=INGEST_PROBES)
        return {r["uid"] for r in res.collect()}

    with ctx.op("ingest.setup"):
        index(inputs.base.docs)
        reg.build_keyword_index("chunk")
        reg.build_vector_index("chunk", lists=INGEST_LISTS)
    live.update({u: (d, text) for u, d, text in inputs.base.chunks})

    batch_ms, n_docs = [], 0
    for b, batch in enumerate(inputs.batches):
        with ctx.op("ingest"):
            t = time.perf_counter()
            try:
                index(batch.docs)
                reg.extend_keyword_index("chunk")
                reg.extend_vector_index("chunk")
                err = None
            except Exception as e:  # counted as a failed operation
                err = repr(e)
            dt = time.perf_counter() - t
        out.count("ingest", err is None)
        if err is not None:
            out.error(f"write cycle, batch {b}: {err}")
            return
        batch_ms.append(dt * 1e3)
        n_docs += len(batch.docs)
        live.update({u: (d, text) for u, d, text in batch.chunks})
        check_ledger(f"batch {b}")
        token = inputs.planted[b]
        got, err = planted_search(token)
        want = {u for u, (_, text) in live.items() if token in oracle.tokenize(text)}
        if got != want:
            out.error(f"write cycle, batch {b}: {token!r} finds {sorted(got)}, not {sorted(want)}")
        if err:
            out.error(f"write cycle, batch {b}: {err}")

    # delete a planted document of the first batch and a base document;
    # a deleted chunk's own vector is the probe query
    victims = [inputs.batches[0].docs[0][0], inputs.base.docs[0][0]]
    gone = {u for u, (d, _) in live.items() if d in victims}
    probe = oracle.hash_vector(live[min(gone)][1], gen.SERVE_DIM, "doc").astype(np.float32)
    with ctx.op("delete"):
        try:
            reg.remove_by("document", {"doc_id": AnyOf(victims)})
            err = None
        except Exception as e:  # counted as a failed operation
            err = repr(e)
    if err is not None:
        out.count("delete", False)
        out.error(f"write cycle, remove_by: {err}")
        return
    for u in gone:
        del live[u]
    check_ledger("remove_by")
    known = []
    ghosts = gone & probe_hits(probe)
    if ghosts:
        known.append(f"IVF probe search returns deleted {sorted(ghosts)}")

    with ctx.op("maintain"):
        try:
            reg.maintain("chunk")
            err = None
        except Exception as e:  # counted as a failed operation
            err = repr(e)
    out.count("maintain", err is None)
    if err is not None:
        out.error(f"write cycle, maintain: {err}")
        return
    out.layer.update({f"ingest.{k}": v for k, v in dir_stats(reg_dir).items()})
    check_ledger("maintain")
    ghosts = gone & probe_hits(probe)
    if ghosts:
        out.error(f"write cycle: IVF probe search returns deleted {sorted(ghosts)} after maintain")
    for token in inputs.planted:
        hit, err = planted_search(token)
        if hit & gone:
            out.error(f"write cycle: {token!r} finds deleted {sorted(hit & gone)}")
        if err:
            known.append(f"after maintain, {err}")

    out.count("delete", not known)
    for msg in known:
        log(f"write cycle, delete (known fault): {msg}")
    out.layer["ingest.batch.ms"] = statistics.median(batch_ms)
    out.layer["ingest.docs_per_s"] = n_docs / (sum(batch_ms) / 1e3)


# ---------------------------------------------------------------------------
# batch_retrieval
# ---------------------------------------------------------------------------


def batch_retrieval(ctx: Ctx) -> Outcome:
    import pandas as pd

    from vechord_spark.registry import VechordRegistry
    from vechord_spark.spec import Column, Keyword, MultiVector, TableSpec, Vector

    out = Outcome(kinds=BATCH_KINDS)
    spark = ctx.spark
    rounds = n_ops(ctx.seconds, BATCH_ROUND_S, 1)
    data = gen.batch_corpus(ctx.seed, gen.BATCH_PASSAGES)

    def make_queries(kind: str, n: int):
        if kind in ("ivf", "exact"):
            return data.vector_queries(n)
        if kind == "keyword":
            return data.keyword_queries(n)
        return data.multivec_queries(n)

    # measured queries first, then warm-up queries: the measured inputs
    # do not depend on how many warm-up calls a run makes
    plan = [
        (kind, make_queries(kind, BATCH_QUERIES[kind]))
        for _ in range(rounds)
        for kind in BATCH_KINDS
    ]
    # warm-up batches are a sixteenth of the size: plan shapes and code
    # paths are those of the measured calls, at a fraction of the work
    warm_inputs = {
        k: [make_queries(k, max(1, BATCH_QUERIES[k] // 16)) for _ in range(WARMUP_MAX)]
        for k in BATCH_KINDS
    }

    def registry(namespace: str, path: Path) -> VechordRegistry:
        reg = VechordRegistry(namespace, str(path), spark)
        reg.register(
            TableSpec(
                "passage",
                [
                    Column("pid", "long", primary_key=True),
                    Column("text", Keyword()),
                    Column("vec", Vector(gen.BATCH_DIM)),
                    Column("mv", MultiVector(gen.MV_DIM)),
                ],
            )
        )
        return reg

    def passages_frame(d: gen.BatchInputs):
        pdf = pd.DataFrame(
            {
                "pid": d.pids,
                "text": d.texts,
                "vec": list(d.vecs),
                "mv": [list(m) for m in d.mvs],
            }
        )
        return spark.createDataFrame(
            pdf, "pid long, text string, vec array<float>, mv array<array<float>>"
        )

    # untimed priming load into a scratch registry (see serve_hybrid)
    prime = gen.batch_corpus(ctx.seed, gen.PRIME_PASSAGES, stream=gen.PRIME_STREAM)
    prime_reg = registry("prime", ctx.run_dir / "prime")
    t = time.perf_counter()
    with ctx.op("prime"):
        prime_reg.append("passage", passages_frame(prime))
        prime_reg.build_vector_index("passage", lists=2)
        prime_reg.build_keyword_index("passage")
    prime_s = time.perf_counter() - t

    reg_dir = ctx.run_dir / "registry"
    reg = registry("bench", reg_dir)
    df = passages_frame(data)
    t = time.perf_counter()
    with ctx.op("setup"):
        reg.append("passage", df)
    with ctx.op("setup"):
        reg.build_vector_index("passage", lists=IVF_LISTS)
    with ctx.op("setup"):
        reg.build_keyword_index("passage")
    index_build_s = time.perf_counter() - t

    def call(kind: str, q):
        if kind == "ivf":
            res = reg.search_by_vector_batch(
                "passage", q.tolist(), topk=TOPK, return_fields=["pid"], probes=IVF_PROBES
            )
        elif kind == "exact":
            res = reg.search_by_vector_batch("passage", q.tolist(), topk=TOPK, return_fields=["pid"])
        elif kind == "keyword":
            res = reg.search_by_keyword_batch("passage", q, topk=TOPK, return_fields=["pid"])
        else:
            res = reg.search_by_multivec_batch(
                "passage", [m.tolist() for m in q], topk=TOPK, return_fields=["pid"]
            )
        with ctx.span("spark.action"):
            return res.collect()

    warm = {
        k: [round(x, 3) for x in warm_up(ctx, k, lambda q, k=k: call(k, q), warm_inputs[k])]
        for k in BATCH_KINDS
    }
    setup_s = time.perf_counter() - ctx.t_start
    log(f"batch_retrieval: {len(data.pids)} passages, priming {prime_s:.1f} s, "
        f"warm-up {warm} s, {rounds} rounds")

    settle_heap(ctx)
    results = []
    t_loop = time.perf_counter()
    for kind, q in plan:
        with ctx.op(kind):
            t = time.perf_counter()
            try:
                rows, err = call(kind, q), None
            except Exception as e:  # counted as a failed operation
                rows, err = None, repr(e)
            results.append((kind, q, rows, err, time.perf_counter() - t))
    loop_s = time.perf_counter() - t_loop

    log(f"batch_retrieval: call latencies {[(r[0], round(r[4], 3)) for r in results]} s")
    ref = BatchOracle(data)
    recalls, n_queries = [], 0
    # latency of a whole round of the four calls: one kind slowing down
    # moves it whatever the order of the kinds' latencies
    per_round = len(BATCH_KINDS)
    lat = [
        sum(r[4] for r in results[i : i + per_round])
        for i in range(0, len(results), per_round)
        if all(r[3] is None for r in results[i : i + per_round])
    ]
    for i, (kind, q, rows, err, dt) in enumerate(results):
        out.count(kind, err is None)
        if err is not None:
            out.error(f"call {i} ({kind}): {err}")
            continue
        n_queries += len(q)
        for msg in ref.check(kind, q, rows, recalls):
            out.error(f"call {i} ({kind}): {msg}")

    recall = statistics.fmean(recalls) if recalls else 0.0
    if recall < RECALL_FLOOR:
        out.error(f"IVF recall@10 {recall:.4f} below the floor {RECALL_FLOOR}")
    out.layer = dir_stats(reg_dir)
    out.e2e = {
        "setup_s": setup_s,
        "index_build_s": index_build_s,
        "query_p50_ms": statistics.median(lat) * 1e3 if lat else 0.0,
        "query_per_s": n_queries / loop_s,
        "recall_at_10": recall,
        "store_bytes_per_doc": out.layer["store.bytes"] / len(data.pids),
    }
    return out


class BatchOracle:
    def __init__(self, data: gen.BatchInputs) -> None:
        self.data = data
        self.bm25 = oracle.Bm25(dict(zip(data.pids.tolist(), data.texts)))
        self.mv_flat = np.concatenate(data.mvs).astype(np.float64)
        self.mv_offsets = np.cumsum([0] + [len(m) for m in data.mvs[:-1]])

    @staticmethod
    def _group(rows, score_col: str) -> dict[int, list[tuple]]:
        by_q: dict[int, list[tuple]] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append((r["pid"], r[score_col]))
        return by_q

    def check(self, kind: str, queries, rows, recalls: list[float]):
        d = self.data
        if kind == "keyword":
            by_q: dict[int, list] = {}
            for r in rows:
                by_q.setdefault(r["query_id"], []).append((r["rank"], r["pid"], r["score"]))
            for qi, text in enumerate(queries):
                got = by_q.get(qi, [])
                if [x[0] for x in got] != list(range(1, len(got) + 1)):
                    yield f"query {qi}: ranks not contiguous from 1"
                    continue
                want, lookup = self.bm25.topk(text, TOPK)
                err = oracle.compare_ranked(
                    [(p, s) for _, p, s in got], want, SCORE_TOL, truth=lookup
                )
                if err:
                    yield f"query {qi} {text!r}: {err}"
            return
        score_col = "maxsim_distance" if kind == "multivec" else "distance"
        by_q = self._group(rows, score_col)
        for qi, q in enumerate(queries):
            got = by_q.get(qi, [])
            if kind == "multivec":
                dist = oracle.maxsim_all(self.mv_flat, self.mv_offsets, q)
            else:
                dist = oracle.l2_distances(d.vecs, q)
            want = oracle.ranked_by_distance(d.pids, dist, TOPK)
            # pids are 0..n-1, so a pid indexes its reference distance
            truth = (lambda pid, dist=dist: float(dist[pid]))
            if kind == "ivf":
                err = check_probe_hits(got, truth)
                if err is None:
                    kth = want[-1][1]
                    recalls.append(sum(1 for _, s in got if s <= kth + DIST_TOL) / TOPK)
            else:
                err = oracle.compare_ranked(got, want, DIST_TOL, truth=truth)
            if err:
                yield f"query {qi}: {err}"


def check_probe_hits(got: list[tuple], truth) -> str | None:
    """IVF-probe results: at most k distinct hits, ascending, each at
    its true distance."""
    if len(got) > TOPK or len({p for p, _ in got}) != len(got):
        return f"{len(got)} hits or duplicate ids"
    if any(b[1] < a[1] for a, b in zip(got, got[1:])):
        return "distances not ascending"
    for pid, s in got:
        if abs(truth(pid) - s) > DIST_TOL:
            return f"pid {pid}: distance {s!r} != true {truth(pid)!r}"
    return None


WORKLOADS = {"serve_hybrid": serve_hybrid, "batch_retrieval": batch_retrieval}
