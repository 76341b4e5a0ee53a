"""Traced mode: spans around the program's public entry points.

``Tracer.install()`` replaces each entry point listed in ``ENTRY_POINTS``
with a wrapper that records a span (name, start, end, parent, op id)
in memory. Every span also sets a Spark job group of its own, so after
the run the session's ``statusTracker`` attributes each job (and its
stages and tasks) to the innermost span that launched it. Each
benchmark operation additionally records the JVM's garbage-collection
time (the session's GC MXBeans) and the driver process's CPU time.

Nothing in the program changes: wrappers are set on the module or
class attribute the program looks up at call time, and ``uninstall``
puts the originals back. Untraced runs never construct a Tracer.
"""

from __future__ import annotations

import functools
import importlib
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# (module, class or None, attribute, span name)
ENTRY_POINTS = [
    ("vechord_spark.service", "VechordService", "handle", "service.handle"),
    ("vechord_spark.service", None, "rows_to_json", "service.rows_to_json"),
    ("vechord_spark.plans.dynamic", "DynamicPipeline", "run_search", "dynamic.run_search"),
    ("vechord_spark.plans.dynamic", "DynamicPipeline", "run_index", "dynamic.run_index"),
    ("vechord_spark.plans.pipeline", "PipelineRun", "stage", "pipeline.stage"),
    ("vechord_spark.plans.pipeline", "PipelineRun", "commit", "pipeline.commit"),
    ("vechord_spark.operators.chunk", None, "chunk_documents", "chunk.chunk_documents"),
    ("vechord_spark.functions.embed", "HashEmbedder", "embed_query", "embed.embed_query"),
    ("vechord_spark.operators.fusion", None, "rrf_topk", "fusion.rrf_topk"),
    ("vechord_spark.operators.topk", None, "ranked_topk", "topk.ranked_topk"),
] + [
    ("vechord_spark.registry", "VechordRegistry", m, f"registry.{m}")
    for m in (
        "append",
        "build_keyword_index",
        "build_vector_index",
        "search_by_vector",
        "search_by_keyword",
        "search_by_vector_batch",
        "search_by_keyword_batch",
        "search_by_multivec_batch",
        "extend_keyword_index",
        "extend_vector_index",
        "remove_by",
        "maintain",
    )
]

@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)
    jobs: int = 0
    stages: int = 0
    tasks: int = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1e3


@dataclass
class Op:
    oid: int
    kind: str  # op type, "setup", "prime" or "warmup.<op type>"
    gc_ms: float = 0.0
    cpu_ms: float = 0.0


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = spark.sparkContext._jvm
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self._stack: list[Span] = []
        self._op: Op | None = None
        self._saved: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ wrappers
    def install(self) -> None:
        for module, cls, attr, name in ENTRY_POINTS:
            owner = importlib.import_module(module)
            if cls is not None:
                owner = getattr(owner, cls)
            original = owner.__dict__[attr]
            self._saved.append((owner, attr, original))
            setattr(owner, attr, self._wrap(original, name))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._saved):
            setattr(owner, attr, original)
        self._saved.clear()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # --------------------------------------------------------------- spans
    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = Span(
            len(self.spans),
            name,
            parent.sid if parent else None,
            self._op.oid if self._op else None,
            time.perf_counter(),
        )
        self.spans.append(rec)
        if parent is not None:
            parent.children.append(rec.sid)
        self._stack.append(rec)
        self.sc.setJobGroup(f"perfbench-{rec.sid}", name)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent.sid}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _gc_ms(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))

    @contextmanager
    def op(self, kind: str):
        """One benchmark operation (or set-up step): a root span plus
        the JVM GC time and driver CPU time it consumed."""
        op = Op(len(self.ops), kind)
        self.ops.append(op)
        gc0, cpu0 = self._gc_ms(), time.process_time()
        with self.span(f"op.{kind}") as root:
            root.op, self._op = op.oid, op
            try:
                yield
            finally:
                self._op = None
        op.gc_ms = self._gc_ms() - gc0
        op.cpu_ms = (time.process_time() - cpu0) * 1e3

    # -------------------------------------------------------------- finish
    def finish(self) -> None:
        """Attribute Spark jobs, stages and tasks to spans (inclusive of
        child spans). Call once, after the last operation."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        seen_stages: set[int] = set()
        for s in self.spans:
            for j in sorted(st.getJobIdsForGroup(f"perfbench-{s.sid}")):
                info = st.getJobInfo(j)
                if info is None:
                    continue
                s.jobs += 1
                for sid in info.stageIds:
                    stage = st.getStageInfo(sid)
                    # skipped stages (reused shuffle output) run no tasks
                    if stage is None or sid in seen_stages or stage.numCompletedTasks == 0:
                        continue
                    seen_stages.add(sid)
                    s.stages += 1
                    s.tasks += stage.numCompletedTasks
        for s in reversed(self.spans):  # children always follow parents
            if s.parent is not None:
                p = self.spans[s.parent]
                p.jobs += s.jobs
                p.stages += s.stages
                p.tasks += s.tasks

    def value(self, s: Span, fld: str) -> float:
        if fld == "self_ms":
            return s.ms - sum(self.spans[c].ms for c in s.children)
        return float(getattr(s, fld))

    def per_op(self, span_name: str, fld: str, kind: str) -> list[float]:
        """For every op of ``kind``: the sum of ``fld`` over its spans
        named ``span_name``."""
        by_op: dict[int, float] = {o.oid: 0.0 for o in self.ops if o.kind == kind}
        for s in self.spans:
            if s.name == span_name and s.op in by_op:
                by_op[s.op] += self.value(s, fld)
        return list(by_op.values())

    def metric(self, span_name: str, fld: str, kind: str) -> float:
        """Median over ops of ``kind`` (0 when the workload has none);
        for ``kind="setup"`` the total over all set-up steps."""
        vals = self.per_op(span_name, fld, kind)
        if not vals:
            return 0.0
        return float(sum(vals) if kind == "setup" else statistics.median(vals))

    def op_mean(self, attr: str, kinds: set[str]) -> float:
        vals = [getattr(o, attr) for o in self.ops if o.kind in kinds]
        return float(statistics.fmean(vals)) if vals else 0.0
