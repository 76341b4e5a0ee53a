"""HTTP service (S6): the reference's web surface over the Spark
registry, stdlib-only.

Reference: ``create_web_app`` (vechord/service.py:197-229) exposes
- health check            GET    /
- table CRUD              GET/POST/DELETE /api/table/{name}
- dynamic pipeline run    POST   /api/run      (vechord/service.py:120-137)
- maintenance             POST   /api/maintenance/{name} (auto /
  compact / compact_index / recluster / prune / merge / vacuum /
  stats; 409 on a concurrent maintainer)
- registered pipeline     POST   /api/pipeline (vechord/service.py:103-117)
- OpenAPI spec + swagger  GET    /openapi/spec.json, /openapi/swagger
via falcon + msgspec + uvicorn. None of those packages exist in this
environment, so the Spark rendition keeps the same route surface and
request/response shapes on ``http.server`` + ``json``: a synchronous
batch engine has no need for ASGI, and every handler body is a thin
shim over registry DataFrame calls — the work stays in Spark.

Design notes for testability and scale:
- ``VechordService.handle(method, path, params, body)`` is a pure
  function from request to ``(status, content_type, payload)`` —
  tests drive it without sockets; ``serve()`` wraps it in a
  ``ThreadingHTTPServer`` for the real thing.
- Table GETs accept a ``__limit`` param (default 1000) so a browser
  hitting a 100 TB table gets a bounded ``limit()`` scan, never a full
  collect to the driver.
- ``/api/run`` builds a per-``name`` namespaced registry (the
  reference sets a per-request schema namespace,
  vechord/pipeline.py:212) so tenants never share table paths.
"""

from __future__ import annotations

import base64
import datetime
import decimal
import json
import logging
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any, Mapping
from urllib.parse import parse_qsl, urlsplit

from pyspark.sql import DataFrame

from vechord_spark.errors import MaintenanceBusy, SchemaError, UniqueViolation
from vechord_spark.plans.commitlog import CommitConflict
from vechord_spark.registry import VechordRegistry

log = logging.getLogger("vechord_spark.service")

MAX_ROWS_DEFAULT = 1000

_SWAGGER_HTML = """<!DOCTYPE html>
<html><head><title>vechord_spark API</title></head>
<body><h1>vechord_spark API</h1>
<p>Spec: <a href="/openapi/spec.json">/openapi/spec.json</a></p>
<pre id="spec"></pre>
<script>
fetch('/openapi/spec.json').then(r => r.json()).then(s => {
  document.getElementById('spec').textContent = JSON.stringify(s, null, 2);
});
</script></body></html>
"""


class ServiceError(Exception):
    """Request-level failure carrying an HTTP status."""

    def __init__(self, status: int, message: str) -> None:
        super().__init__(message)
        self.status = status


def _json_value(v: Any) -> Any:
    """Make one cell JSON-encodable (reference enc_hook,
    vechord/service.py:25-32: ndarray -> list; here also parquet-born
    temporal/decimal/bytes types)."""
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    if isinstance(v, dict):
        return {k: _json_value(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_json_value(x) for x in v]
    return v


def _row_limit(value: Any, name: str) -> int:
    """A request's row bound (``topk``, ``__limit``) as an int >= 0;
    0 asks for no rows. A negative bound is the client's error (422),
    not a Spark plan failure."""
    n = int(value)
    if n < 0:
        raise ServiceError(422, f"{name} must be >= 0, got {n}")
    return n


def rows_to_json(df: DataFrame, limit: int) -> list[dict[str, Any]]:
    """Bounded collect: the ``limit`` is part of the Spark plan (a
    CollectLimit over the scan), not a post-collect slice."""
    return [
        {k: _json_value(v) for k, v in r.asDict(recursive=True).items()}
        for r in df.limit(limit).collect()
    ]


def _openapi_spec(registry: VechordRegistry, has_pipeline: bool) -> dict[str, Any]:
    """OpenAPI 3.0 spec generated from the registered table specs
    (reference OpenAPIResource, vechord/service.py:139-184)."""
    paths: dict[str, Any] = {
        "/": {"get": {"summary": "health check"}},
        "/api/run": {"post": {"summary": "run a dynamic pipeline from steps"}},
        "/api/maintenance/{name}": {
            "post": {
                "summary": "table/index upkeep: auto (one-call policy), compact, "
                "compact_index, recluster, prune, merge, vacuum, stats"
            }
        },
    }
    if has_pipeline:
        paths["/api/pipeline"] = {"post": {"summary": "run the registered pipeline"}}
    for name, spec in registry.tables.items():
        props = {c.name: {"type": str(c.dtype)} for c in spec.columns}
        paths[f"/api/table/{name}"] = {
            "get": {
                "summary": "get the table with partial attributes",
                "parameters": [
                    {"name": c.name, "in": "query", "required": False}
                    for c in spec.columns
                ],
            },
            "post": {
                "summary": "insert a new record to the table",
                "requestBody": {
                    "content": {
                        "application/json": {
                            "schema": {"type": "object", "properties": props}
                        }
                    }
                },
            },
            "delete": {"summary": "delete records matching partial attributes"},
        }
    return {
        "openapi": "3.0.0",
        "info": {"title": "vechord_spark", "version": "1.0"},
        "paths": paths,
    }


class VechordService:
    """Route table: request -> registry/pipeline call -> JSON."""

    def __init__(self, registry: VechordRegistry, pipeline=None) -> None:
        self.registry = registry
        self.pipeline = pipeline
        self._run_registries: dict[str, VechordRegistry] = {}
        self._lock = threading.Lock()

    # ------------------------------------------------------------ dispatch
    def handle(
        self,
        method: str,
        path: str,
        params: Mapping[str, str] | None = None,
        body: bytes | None = None,
        headers: Mapping[str, str] | None = None,
    ) -> tuple[int, str, bytes]:
        """Dispatch with CONTENT NEGOTIATION at the boundary (reference
        service.py:132-138 registers JSON + msgpack falcon media
        handlers): a ``Content-Type: application/(x-)msgpack`` request
        body is transcoded to JSON bytes before dispatch — every
        internal route stays JSON-native — and an ``Accept`` preferring
        msgpack gets JSON responses re-encoded on the way out. Without
        headers the behavior is exactly the JSON-only round-7 surface.
        """
        hdrs = {k.lower(): v for k, v in (headers or {}).items()}
        if body is not None and _is_msgpack(hdrs.get("content-type", "")):
            from vechord_spark.msgpack_lite import unpackb

            try:
                body = json.dumps(_json_value(unpackb(body))).encode()
            except (ValueError, TypeError, OverflowError) as err:
                return 422, "text/plain", f"Malformed msgpack body: {err}".encode()
        status, ctype, payload = self._handle(method, path, params, body)
        if ctype == "application/json" and _accepts_msgpack(hdrs.get("accept", "")):
            from vechord_spark.msgpack_lite import packb

            return status, "application/msgpack", packb(json.loads(payload))
        return status, ctype, payload

    def _handle(
        self,
        method: str,
        path: str,
        params: Mapping[str, str] | None = None,
        body: bytes | None = None,
    ) -> tuple[int, str, bytes]:
        params = dict(params or {})
        try:
            if path == "/" and method == "GET":
                return 200, "text/plain", b"Ok"
            if path == "/openapi/spec.json" and method == "GET":
                spec = _openapi_spec(self.registry, self.pipeline is not None)
                return 200, "application/json", json.dumps(spec).encode()
            if path == "/openapi/swagger" and method == "GET":
                return 200, "text/html", _SWAGGER_HTML.encode()
            if path.startswith("/api/table/"):
                return self._table(method, path.removeprefix("/api/table/"), params, body)
            if path == "/api/pipeline" and method == "POST":
                return self._pipeline(body)
            if path == "/api/run" and method == "POST":
                return self._run(body)
            if path.startswith("/api/maintenance/") and method == "POST":
                return self._maintenance(
                    path.removeprefix("/api/maintenance/"), body
                )
            raise ServiceError(404, f"no route for {method} {path}")
        except (MaintenanceBusy, CommitConflict, UniqueViolation) as err:
            # a conflict with the stored state: another session holds
            # the index maintenance lock or kept winning the table's
            # commit race (both safe to retry), or the row's unique key
            # is taken — 409 Conflict
            return 409, "text/plain", str(err).encode()
        except ServiceError as err:
            return err.status, "text/plain", str(err).encode()
        except (SchemaError, KeyError, ValueError, TypeError) as err:
            # bad request shapes -> 422 like the reference's msgspec
            # validation (vechord/service.py:55-61)
            return 422, "text/plain", f"Validation error: {err}".encode()
        except Exception as err:  # uncaught -> 500 with safe message
            log.exception("%s %s failed", method, path)
            return 500, "text/plain", f"{type(err).__name__}: {err}".encode()

    # -------------------------------------------------------------- tables
    def _table(
        self, method: str, name: str, params: dict[str, str], body: bytes | None
    ) -> tuple[int, str, bytes]:
        if name not in self.registry.tables:
            raise ServiceError(404, f"unknown table {name!r}")
        spec = self.registry.tables[name]
        if method == "GET":
            limit = _row_limit(params.pop("__limit", MAX_ROWS_DEFAULT), "__limit")
            conditions = self._coerce_params(spec, params)
            df = self.registry.select_by(name, conditions or None)
            return 200, "application/json", json.dumps(rows_to_json(df, limit)).encode()
        if method == "POST":
            payload = _decode_json(body)
            rows = payload if isinstance(payload, list) else [payload]
            if not all(isinstance(r, dict) for r in rows):
                raise ServiceError(422, "body must be a JSON object or list of objects")
            n = self.registry.insert_rows(name, rows)
            return 201, "application/json", json.dumps({"inserted": n}).encode()
        if method == "DELETE":
            conditions = self._coerce_params(spec, params)
            if not conditions:
                raise ServiceError(422, "DELETE requires at least one predicate param")
            removed = self.registry.remove_by(name, conditions)
            return 200, "application/json", json.dumps({"removed": removed}).encode()
        raise ServiceError(405, f"{method} not allowed on tables")

    # --------------------------------------------------------- maintenance
    def _maintenance(
        self, name: str, body: bytes | None
    ) -> tuple[int, str, bytes]:
        """POST /api/maintenance/{table}: lakehouse upkeep over the
        OWNING registry (full specs — unlike the schema-inferring
        maintenance CLI, recluster needs no --vector-col here). Body:
        ``{"op": "auto"|"compact"|"compact_index"|"recluster"|"prune"|
        "merge"|"alter_add_column"|"backfill"|"vacuum"|"stats",
        ...op options}``. A concurrent maintainer surfaces as 409."""
        if name not in self.registry.tables:
            raise ServiceError(404, f"unknown table {name!r}")
        payload = _decode_json(body) or {}
        if not isinstance(payload, dict):
            raise ServiceError(422, "body must be a JSON object")
        op = payload.get("op")
        if op == "compact":
            stats: dict[str, Any] = self.registry.compact(
                name,
                target_file_bytes=int(payload.get("target_file_mb", 128)) << 20,
                shuffle=bool(payload.get("shuffle", False)),
                order_by=payload.get("order_by"),
                zorder_by=payload.get("zorder_by"),
            )
        elif op == "compact_index":
            stats = self.registry.compact_index(name)
        elif op == "recluster":
            which = payload.get("index", "vector")
            if which == "vector":
                stats = self.registry.recluster_vector_index(
                    name,
                    max_cell_factor=float(payload.get("max_cell_factor", 2.0)),
                )
            elif which == "multivec":
                stats = self.registry.recluster_multivec_index(
                    name,
                    max_cell_factor=float(payload.get("max_cell_factor", 2.0)),
                )
            else:
                raise ServiceError(
                    422, f"unknown recluster index {which!r} (vector | multivec)"
                )
        elif op == "prune":
            which = payload.get("index", "vector")
            if which == "vector":
                stats = self.registry.prune_vector_index(name)
            elif which == "multivec":
                stats = self.registry.prune_multivec_index(name)
            else:
                raise ServiceError(
                    422, f"unknown prune index {which!r} (vector | multivec)"
                )
        elif op == "merge":
            which = payload.get("index", "vector")
            fn = (
                self.registry.merge_vector_index
                if which == "vector"
                else self.registry.merge_multivec_index
                if which == "multivec"
                else None
            )
            if fn is None:
                raise ServiceError(
                    422, f"unknown merge index {which!r} (vector | multivec)"
                )
            stats = fn(
                name,
                min_cell_factor=float(payload.get("min_cell_factor", 4.0)),
            )
        elif op == "auto":
            # the one-call policy: extend -> recluster -> compact_index,
            # each gated by index_stats signals (registry.maintain);
            # returns the action list it took plus before/after stats
            stats = self.registry.maintain(
                name,
                max_cell_factor=float(payload.get("max_cell_factor", 2.0)),
            )
        elif op == "alter_add_column":
            self.registry.alter_table_add_column(
                name,
                str(payload["column"]),
                str(payload["dtype"]),
                insert_default=payload.get("insert_default"),
            )
            stats = {
                "columns": [
                    c.name for c in self.registry.tables[name].columns
                ]
            }
        elif op == "backfill":
            stats = {
                "filled": self.registry.backfill_column(
                    name, str(payload["column"]), payload.get("value")
                )
            }
        elif op == "stats":
            stats = self.registry.index_stats(name)
        elif op == "vacuum":
            stats = {
                "deleted": len(
                    self.registry.vacuum(
                        name,
                        older_than_s=float(payload.get("older_than_s", 3600.0)),
                    )
                )
            }
        else:
            raise ServiceError(
                422,
                f"unknown maintenance op {op!r} "
                "(auto | compact | compact_index | recluster | prune | merge | "
                "alter_add_column | backfill | vacuum | stats)",
            )
        return 200, "application/json", json.dumps(stats).encode()

    @staticmethod
    def _coerce_params(spec, params: dict[str, str]) -> dict[str, Any]:
        """Query-string values are strings; coerce through the column
        dtype so ``?doc_id=3`` matches a long column (the reference gets
        this from msgspec.convert, vechord/service.py:47-49)."""
        out: dict[str, Any] = {}
        for key, raw in params.items():
            col = spec.column(key)  # raises SchemaError on unknown -> 422
            t = str(col.dtype)
            if t in ("long", "int", "integer", "bigint", "smallint"):
                out[key] = int(raw)
            elif t in ("double", "float"):
                out[key] = float(raw)
            elif t == "boolean":
                out[key] = raw.lower() in ("1", "true", "t")
            else:
                out[key] = raw
        return out

    # ------------------------------------------------------------ pipeline
    def _pipeline(self, body: bytes | None) -> tuple[int, str, bytes]:
        if self.pipeline is None:
            raise ServiceError(404, "no pipeline registered")
        payload = _decode_json(body)
        if not isinstance(payload, dict):
            raise ServiceError(422, "Request must be a JSON Dict")
        return self._dispatch_pipeline(self.pipeline, payload)

    def _dispatch_pipeline(
        self, pipe, payload: Mapping[str, Any]
    ) -> tuple[int, str, bytes]:
        op = payload.get("op", "search" if "query" in payload else "index")
        if op == "index":
            docs = payload.get("docs")
            if not isinstance(docs, list) or not docs:
                raise ServiceError(422, "index op requires a non-empty 'docs' list")
            df = self.registry.spark.createDataFrame(
                [(int(d["doc_id"]), str(d["text"])) for d in docs],
                "doc_id long, text string",
            )
            counts = pipe.run_index(df)
            return 200, "application/json", json.dumps({"type": "ingest", **counts}).encode()
        if op == "search":
            query = payload.get("query")
            if not isinstance(query, str) or not query:
                raise ServiceError(422, "search op requires a 'query' string")
            topk = _row_limit(payload.get("topk", 10), "topk")
            df = pipe.run_search(query, topk=topk)
            return (
                200,
                "application/json",
                json.dumps(
                    {"type": "search", "chunks": rows_to_json(df, topk), "metrics": {}}
                ).encode(),
            )
        raise ServiceError(422, f"unknown pipeline op {op!r}")

    # ----------------------------------------------------------------- run
    def _run(self, body: bytes | None) -> tuple[int, str, bytes]:
        """POST /api/run: build a DynamicPipeline from the request's
        steps and run it under the request's namespace (reference
        RunResource, vechord/service.py:120-137 + RunRequest,
        vechord/model/web.py:29-38). ``index``/``search`` pseudo-steps
        pick the direction, as the reference's IndexOption/SearchOption
        kinds do (vechord/pipeline.py:169-170, 208-218)."""
        from vechord_spark.plans.dynamic import DynamicPipeline

        payload = _decode_json(body)
        if not isinstance(payload, dict):
            raise ServiceError(422, "Request must be a JSON Dict")
        name = payload.get("name")
        data = payload.get("data")
        if not isinstance(name, str) or not name:
            raise ServiceError(422, "'name' (namespace) is required")
        if not isinstance(data, str):
            raise ServiceError(422, "'data' must be a string (text payload)")
        steps = payload.get("steps", [])
        options = {s["kind"]: s.get("args", {}) for s in steps
                   if s.get("kind") in ("index", "search")}
        provider_steps = [s for s in steps if s.get("kind") not in ("index", "search")]
        if not options:
            raise ServiceError(422, "steps must include an 'index' or 'search' step")
        with self._lock:
            reg = self._run_registries.get(name)
            if reg is None:
                reg = VechordRegistry(
                    name, str(self.registry.base_path), self.registry.spark
                )
                self._run_registries[name] = reg
        pipe = DynamicPipeline.from_steps(reg, provider_steps)
        if "index" in options:
            doc_id = abs(hash(data)) % (1 << 62)
            df = reg.spark.createDataFrame([(doc_id, data)], "doc_id long, text string")
            counts = pipe.run_index(df)
            return (
                200,
                "application/json",
                json.dumps(
                    {"type": "ingest", "name": name, "msg": "indexed", "uid": str(doc_id), **counts}
                ).encode(),
            )
        topk = _row_limit(options["search"].get("topk", 10), "topk")
        df = pipe.run_search(data, topk=topk)
        return (
            200,
            "application/json",
            json.dumps(
                {"type": "search", "chunks": rows_to_json(df, topk), "metrics": {}}
            ).encode(),
        )


_MSGPACK_TYPES = ("application/msgpack", "application/x-msgpack")


def _is_msgpack(content_type: str) -> bool:
    return content_type.split(";", 1)[0].strip().lower() in _MSGPACK_TYPES


def _accepts_msgpack(accept: str) -> bool:
    """True when the Accept header PREFERS msgpack by RFC 9110 quality
    factors: parse every media type's q-value and compare the highest-q
    msgpack entry against the highest-q JSON-capable entry
    (``application/json``, ``application/*``, ``*/*``), tie-breaking
    toward JSON (ADVICE r9 — listing order is NOT precedence:
    ``application/json;q=0.1, application/msgpack`` must return
    msgpack). ``q=0`` excludes; absent headers keep JSON — the
    negotiation never surprises a plain client."""
    best_mp = 0.0
    best_json = 0.0
    for part in accept.split(","):
        mt, _, params = part.partition(";")
        mt = mt.strip().lower()
        if not mt:
            continue
        q = 1.0
        for p in params.split(";"):
            k, _, v = p.partition("=")
            if k.strip().lower() == "q":
                try:
                    q = max(0.0, min(1.0, float(v.strip())))
                except ValueError:
                    q = 1.0
        if mt in _MSGPACK_TYPES:
            best_mp = max(best_mp, q)
        elif mt in ("application/json", "application/*", "*/*"):
            best_json = max(best_json, q)
    return best_mp > 0.0 and best_mp > best_json


def _decode_json(body: bytes | None) -> Any:
    if not body:
        raise ServiceError(422, "empty request body")
    try:
        return json.loads(body)
    except json.JSONDecodeError as err:
        raise ServiceError(422, f"invalid JSON: {err}") from err


def create_web_app(registry: VechordRegistry, pipeline=None) -> VechordService:
    """Name-parity constructor (reference vechord/service.py:197)."""
    return VechordService(registry, pipeline)


class _Handler(BaseHTTPRequestHandler):
    service: VechordService  # set by serve()

    def _respond(self) -> None:
        split = urlsplit(self.path)
        params = dict(parse_qsl(split.query))
        length = int(self.headers.get("Content-Length") or 0)
        body = self.rfile.read(length) if length else None
        status, ctype, payload = self.service.handle(
            self.command,
            split.path.rstrip("/") or "/",
            params,
            body,
            headers=dict(self.headers.items()),
        )
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    do_GET = do_POST = do_DELETE = _respond

    def log_message(self, *args: Any) -> None:  # quiet test runs
        pass


def serve(
    service: VechordService, host: str = "localhost", port: int = 8000
) -> ThreadingHTTPServer:
    """Start the HTTP server (caller owns shutdown). Threaded accept
    loop; Spark jobs from concurrent requests run under the session's
    FAIR/FIFO scheduler as configured."""
    handler = type("BoundHandler", (_Handler,), {"service": service})
    server = ThreadingHTTPServer((host, port), handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    return server
