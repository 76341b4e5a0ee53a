"""Per-layer metrics of the traced run, named after the program's modules.

Each entry is ``(metric, unit, span, field, op kind)``: the metric is
the median over the workload's operations of ``kind`` of ``field``
summed over the op's spans named ``span`` (``kind="setup"``: the total
over set-up). Fields are ``ms`` (wall time inside the call: plan
building plus any Spark jobs the call runs eagerly), ``self_ms`` (minus
child spans), and the ``jobs`` / ``stages`` / ``tasks`` the call
launched, child spans included. A metric whose layer a workload does
not exercise reads 0 there; README.md maps each metric to its
workload and to the end-to-end metric it should move.
"""

from __future__ import annotations

UNITS = {"ms": "ms", "self_ms": "ms", "jobs": "count", "stages": "count", "tasks": "count"}


def _spec():
    out = []

    def add(span, fields, kind, prefix=None):
        for f in fields:
            out.append((f"{prefix or span}.{f}", UNITS[f], span, f, kind))

    # serve_hybrid, per request
    add("service.handle", ("ms", "self_ms", "jobs", "stages", "tasks"), "request")
    add("service.rows_to_json", ("ms",), "request")
    add("dynamic.run_search", ("ms", "self_ms", "jobs", "stages", "tasks"), "request")
    add("embed.embed_query", ("ms",), "request")
    add("fusion.rrf_topk", ("ms",), "request")
    add("topk.ranked_topk", ("ms",), "request")
    add("registry.search_by_vector", ("ms", "jobs"), "request")
    add("registry.search_by_keyword", ("ms", "jobs"), "request")
    # batch_retrieval, per batched call type
    add("registry.search_by_vector_batch", ("ms", "jobs", "tasks"), "ivf",
        "registry.search_by_vector_batch.ivf")
    add("registry.search_by_vector_batch", ("ms", "jobs", "tasks"), "exact",
        "registry.search_by_vector_batch.exact")
    add("registry.search_by_keyword_batch", ("ms", "jobs", "tasks"), "keyword")
    add("registry.search_by_multivec_batch", ("ms", "jobs", "tasks"), "multivec")
    for kind in ("ivf", "exact", "keyword", "multivec"):
        for f in ("ms", "jobs", "stages", "tasks"):
            name = f"spark.action.{kind}.{'exec_ms' if f == 'ms' else f}"
            out.append((name, UNITS[f], "spark.action", f, kind))
    # set-up: initial ingest and index builds
    add("dynamic.run_index", ("ms", "self_ms", "jobs", "tasks"), "setup")
    add("pipeline.stage", ("ms",), "setup")
    add("pipeline.commit", ("ms",), "setup")
    add("chunk.chunk_documents", ("ms",), "setup")
    add("registry.append", ("ms",), "setup")
    add("registry.build_keyword_index", ("ms", "jobs"), "setup")
    add("registry.build_vector_index", ("ms", "jobs"), "setup")
    # serve_hybrid's traced write cycle, per ingest batch / delete / maintain
    add("dynamic.run_index", ("ms", "jobs"), "ingest", "ingest.dynamic.run_index")
    add("registry.extend_keyword_index", ("ms", "jobs"), "ingest")
    add("registry.extend_vector_index", ("ms", "jobs"), "ingest")
    add("registry.remove_by", ("ms",), "delete")
    add("registry.maintain", ("ms", "jobs"), "maintain")
    return out


SPEC = _spec()
OTHER_UNITS = {
    "session.get_spark.ms": "ms",
    "jvm.gc_ms": "ms",
    "driver.cpu_ms": "ms",
    "store.data_files": "count",
    "store.index_files": "count",
    "store.bytes": "bytes",
    # serve_hybrid's traced write cycle: median batch latency (submit
    # until both indexes serve it), documents made searchable per second
    # of batch time, and the store after maintain
    "ingest.batch.ms": "ms",
    "ingest.docs_per_s": "docs/s",
    "ingest.store.data_files": "count",
    "ingest.store.index_files": "count",
    "ingest.store.bytes": "bytes",
}


def names() -> list[tuple[str, str]]:
    """Every per-layer metric as ``(name, unit)``."""
    return [(n, u) for n, u, *_ in SPEC] + list(OTHER_UNITS.items())


def per_layer(tracer, out, get_spark_ms: float) -> dict[str, dict]:
    values = {name: tracer.metric(span, f, kind) for name, _, span, f, kind in SPEC}
    measured = set(out.kinds)
    values["session.get_spark.ms"] = get_spark_ms
    values["jvm.gc_ms"] = tracer.op_mean("gc_ms", measured)
    values["driver.cpu_ms"] = tracer.op_mean("cpu_ms", measured)
    values.update(out.layer)
    return {n: {"value": values.get(n, 0.0), "unit": u} for n, u in names()}
