"""HTTP API — the reference's v1/v2 endpoints over the Spark store.

Mirrors /root/reference/internal/http/api_v1.go:29-35 and
/root/reference/server/http/api_v2.go:125-139:

    POST /api/v1/query/{lang}     body = query text → {"result": [...]}
    POST /api/v1/shape/{lang}     → 501 (deprecated in the reference too)
    POST /api/v1/write            body = n-quads → {"result": "Successfully wrote N quads.", "count": N}
    POST /api/v1/delete           body = n-quads → {"result": "Successfully deleted N quads.", "count": N}
    POST /api/v2/query?lang=x     same as v1 query
    POST /api/v2/write /delete    same as v1
    POST /api/v2/node/delete      body = one term → remove node + its quads
    POST /api/v2/read             → n-quads dump of the store
    GET  /api/v2/formats          → registered formats
    GET  /health                  → 204

Language registry (the reference's query.Session contract,
query/session.go:97-141): gizmo, mql, graphql, sexp, linkedql.
Gizmo queries are JavaScript programs over the ``g`` graph object,
executed by the sandboxed JS-subset interpreter in query/safe_eval.py
— the analogue of the reference's goja VM (no eval/exec, no names but
``g`` and query-defined variables, attribute access gated to the
gizmo surface), so a POSTed query cannot reach the host interpreter.

Driver-side HTTP is a thin shell over the DataFrame engine: one
store object lives in the server; writes swap it atomically
(immutable GraphStore semantics make that a pointer swap)."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from ..store import GraphStore
from ..values import parse_term


def _parse_nquads_lines(text: str) -> list[tuple]:
    import re

    from ..sources.nquads import _TERM

    out = []
    for line in text.splitlines():
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        terms = [m.group(0) for m in re.finditer(_TERM, line)]
        if len(terms) in (3, 4):
            out.append(tuple(parse_term(t) for t in terms))
    return out


class CayleyHandler(BaseHTTPRequestHandler):
    server_version = "cayley_spark/0.1"
    # chunked transfer (_stream_chunked) is only legal on HTTP/1.1 —
    # an HTTP/1.0 response line makes spec-compliant clients (Go
    # net/http, curl) pass the raw chunk framing through as body
    # bytes. Safe for every other handler: they all send
    # Content-Length, which satisfies 1.1 keep-alive framing.
    protocol_version = "HTTP/1.1"
    # TCP_NODELAY on every accepted socket: headers and body go out as
    # two sends, and with Nagle on the body waited for the client's
    # delayed ACK of the headers — ≈40 ms on every response
    disable_nagle_algorithm = True

    def log_message(self, *args):  # quiet
        pass

    # ------------- helpers -------------

    def _json(self, obj, code: int = 200):
        body = json.dumps(obj, default=str).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _text(self, s: str, code: int = 200, ctype="text/plain"):
        body = s.encode()
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> str:
        n = int(self.headers.get("Content-Length", 0))
        return self.rfile.read(n).decode()

    def _stream_dump(self, fmt: str = "nquads"):
        """Dump of the whole store, STREAMED: toLocalIterator pulls
        one partition at a time through the driver and chunked
        transfer-encoding forwards it, so the full dump is never
        materialized in driver memory (same shape as gephi.py's event
        feed) — a collect()-then-join here is an OOM at scale.
        ``format=pquads`` matches the reference client's
        ``/api/v2/read?format=pquads`` (client/client.go:48-51)."""
        if fmt == "pquads":
            from ..sources.pquads import MAGIC, _uvarint, encode_quad
            from ..values import parse_term

            store = self.server.store
            resolved = store.resolve(store.quads.toDF("s", "p", "o", "l"))

            def blocks():
                yield MAGIC
                for r in resolved.toLocalIterator():
                    rec = encode_quad(
                        parse_term(r["s"]),
                        parse_term(r["p"]),
                        parse_term(r["o"]),
                        parse_term(r["l"]) if r["l"] is not None else None,
                    )
                    yield _uvarint(len(rec)) + rec

            return self._stream_chunked(blocks(), "application/x-protobuf")
        from ..sources.nquads import write_nquads

        rows = write_nquads(self.server.store).toLocalIterator()
        return self._stream_chunked(
            ((r["value"] + "\n").encode() for r in rows),
            "application/n-quads",
        )

    def _stream_chunked(self, blocks, ctype: str):
        self.send_response(200)
        self.send_header("Content-Type", ctype)
        self.send_header("Transfer-Encoding", "chunked")
        self.end_headers()

        def chunk(data: bytes):
            self.wfile.write(b"%x\r\n%s\r\n" % (len(data), data))

        buf: list[bytes] = []
        size = 0
        for b in blocks:
            buf.append(b)
            size += len(b)
            if size >= 64 * 1024:
                chunk(b"".join(buf))
                buf, size = [], 0
        if buf:
            chunk(b"".join(buf))
        self.wfile.write(b"0\r\n\r\n")

    # ------------- routes -------------

    def do_GET(self):
        u = urlparse(self.path)
        if u.path == "/health":
            # reference internal/http/health.go: 204, empty body
            self.send_response(204)
            self.end_headers()
            return
        if u.path == "/gephi/gs":
            # reference internal/http/http.go:66-67 → internal/gephi
            from . import gephi

            qs = parse_qs(u.query)
            limit = int(qs.get("limit", ["0"])[0] or 0)
            mode = qs.get("mode", ["raw"])[0]
            if mode == "nodes":
                body = gephi.stream_nodes(self.server.store, limit)
            elif mode == "raw":
                def vals(key):
                    raw = qs.get(key, [""])[0]
                    from ..values import parse_term

                    return [parse_term(t) for t in raw.split(",") if t] or None

                body = gephi.stream_raw(
                    self.server.store, limit,
                    sub=vals("sub"), pred=vals("pred"),
                    obj=vals("obj"), label=vals("label"),
                )
            else:
                return self._json({"error": "bad mode"}, 400)
            return self._text(body, ctype="application/stream+json")
        if u.path == "/api/v2/read":
            # reference registers GET and POST for /read (api_v2.go:131-132)
            return self._stream_dump(
                parse_qs(u.query).get("format", ["nquads"])[0]
            )
        if urlparse(self.path).path == "/api/v2/formats":
            return self._json(
                [
                    {"id": "nquads", "read": True, "write": True},
                    {"id": "pquads", "read": True, "write": True},
                    {"id": "jsonld", "read": True, "write": True},
                    {"id": "json", "read": True, "write": True},
                    {"id": "graphml", "read": False, "write": True},
                    {"id": "gml", "read": False, "write": True},
                    {"id": "dot", "read": False, "write": True},
                ]
            )
        self._json({"error": "not found"}, 404)

    def do_POST(self):
        u = urlparse(self.path)
        parts = u.path.strip("/").split("/")
        try:
            if parts[:2] == ["api", "v1"] and len(parts) >= 3:
                if parts[2] == "query":
                    return self._query(parts[3], self._body())
                if parts[2] == "shape":
                    # reference internal/http/query.go:138-140
                    return self._json("Query shape API v1 is deprecated.", 501)
                if parts[2] == "write":
                    return self._write(self._body(), delete=False)
                if parts[2] == "delete":
                    return self._write(self._body(), delete=True)
            if parts[:2] == ["api", "v2"]:
                if parts[2] == "query":
                    lang = parse_qs(u.query).get("lang", ["gizmo"])[0]
                    return self._query(lang, self._body())
                if parts[2] == "write":
                    return self._write(self._body(), delete=False)
                if parts[2] == "delete":
                    return self._write(self._body(), delete=True)
                if parts[2:4] == ["node", "delete"]:
                    return self._node_delete(self._body())
                if parts[2] == "read":
                    return self._stream_dump(
                        parse_qs(u.query).get("format", ["nquads"])[0]
                    )
            self._json({"error": "not found"}, 404)
        except Exception as e:  # reference returns {"error": ...}
            self._json({"error": str(e)}, 400)

    # ------------- implementations -------------

    def _query(self, lang: str, query: str):
        store = self.server.store
        if lang == "gizmo":
            from ..query.gizmo import graph
            from ..query.safe_eval import safe_gizmo_eval

            g = graph(store)
            result = safe_gizmo_eval(query, g)
            out = result if isinstance(result, (list, int, str)) else g.emitted()
        elif lang == "mql":
            from ..query.mql import MQLSession

            out = MQLSession(store).execute(query)
        elif lang == "graphql":
            from ..query.graphql import GraphQLSession

            out = GraphQLSession(store).execute(query)
        elif lang == "sexp":
            from ..query.sexp import SexpSession

            out = SexpSession(store).execute(query)
        elif lang == "linkedql":
            from ..query.linkedql import LinkedQLSession

            out = LinkedQLSession(store).execute(query)
        else:
            return self._json({"error": f"unknown language {lang!r}"}, 400)
        self._json({"result": out})

    def _write(self, body: str, delete: bool):
        quads = _parse_nquads_lines(body)
        with self.server.write_lock:
            st = self.server.store
            st = (
                st.apply_deltas(delete=quads)
                if delete
                else st.apply_deltas(add=quads)
            )
            self.server.store = st
        verb = "deleted" if delete else "wrote"
        self._json(
            {"result": f"Successfully {verb} {len(quads)} quads.",
             "count": len(quads)}
        )

    def _node_delete(self, body: str):
        """POST /api/v2/node/delete — remove a node and every quad it
        appears in (reference server/http/api_v2.go:304-348; body is
        one n-quads term)."""
        term = body.strip()
        if not term:
            return self._json({"error": "cannot remove nil value"}, 400)
        v = parse_term(term)
        with self.server.write_lock:
            self.server.store = self.server.store.remove_node(v)
        self._json({"result": "Successfully deleted 1 nodes.", "count": 1})


class CayleyHTTPServer(ThreadingHTTPServer):
    daemon_threads = True

    def __init__(self, store: GraphStore, host: str = "127.0.0.1", port: int = 0):
        super().__init__((host, port), CayleyHandler)
        self.store = store
        self.write_lock = threading.Lock()


def serve(store: GraphStore, host: str = "127.0.0.1", port: int = 64210):
    """Blocking serve (the reference's default port is 64210)."""
    CayleyHTTPServer(store, host, port).serve_forever()


def start_background(store: GraphStore, host: str = "127.0.0.1", port: int = 0):
    """Start on a free port; returns (server, thread). For tests/REPL."""
    srv = CayleyHTTPServer(store, host, port)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, t
