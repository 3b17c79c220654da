"""HTTP API tests (reference api_v1/api_v2 endpoint behavior)."""

import json
import urllib.request

import pytest

from cayley_spark.server.http import start_background


@pytest.fixture(scope="module")
def srv(social):
    server, _ = start_background(social)
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()


def post(url, body, ctype="text/plain"):
    req = urllib.request.Request(
        url, data=body.encode(), headers={"Content-Type": ctype}
    )
    with urllib.request.urlopen(req) as r:
        return json.loads(r.read())


def get(url):
    with urllib.request.urlopen(url) as r:
        return json.loads(r.read())


def test_gizmo_query(srv):
    out = post(
        f"{srv}/api/v1/query/gizmo", 'g.V("<bob>").In("<follows>").All()'
    )
    ids = sorted(r["id"] for r in out["result"])
    assert ids == ["<alice>", "<charlie>", "<dani>"]


def test_v2_query_lang_param(srv):
    out = post(
        f"{srv}/api/v2/query?lang=mql", '[{"id": null, "<status>": "cool_person"}]'
    )
    assert len(out["result"]) == 3


def test_graphql_over_http(srv):
    out = post(
        f"{srv}/api/v2/query?lang=graphql",
        '{ me(status: "cool_person") { id } }',
    )
    assert sorted(o["id"] for o in out["result"]["me"]) == [
        "<bob>", "<dani>", "<greg>",
    ]


def test_formats(srv):
    fmts = {f["id"] for f in get(f"{srv}/api/v2/formats")}
    assert {"nquads", "jsonld", "graphml", "gml", "dot"} <= fmts


def test_write_query_delete_roundtrip(srv):
    out = post(f"{srv}/api/v1/write", "<zeke> <follows> <bob> .\n")
    assert out["count"] == 1
    out = post(
        f"{srv}/api/v1/query/gizmo", 'g.V("<bob>").In("<follows>").ToArray()'
    )
    assert "<zeke>" in out["result"]
    out = post(f"{srv}/api/v1/delete", "<zeke> <follows> <bob> .\n")
    assert out["count"] == 1
    out = post(
        f"{srv}/api/v1/query/gizmo", 'g.V("<bob>").In("<follows>").ToArray()'
    )
    assert "<zeke>" not in out["result"]


def test_node_delete_and_shape_and_health(srv):
    """POST /api/v2/node/delete removes a node and all its quads
    (api_v2.go:304-348); /api/v1/shape is deprecated-501 like the
    reference (internal/http/query.go:138-140); GET /health is 204."""
    post(f"{srv}/api/v1/write", "<spot> <follows> <bob> .\n<alice> <likes2> <spot> .\n")
    out = post(f"{srv}/api/v2/node/delete", "<spot>")
    assert out["count"] == 1 and "deleted 1 nodes" in out["result"]
    res = post(
        f"{srv}/api/v1/query/gizmo", 'g.V("<bob>").In("<follows>").ToArray()'
    )
    assert "<spot>" not in res["result"]
    res = post(f"{srv}/api/v1/query/gizmo", 'g.V("<alice>").Out("<likes2>").ToArray()')
    assert res["result"] == []
    try:
        post(f"{srv}/api/v1/shape/gizmo", "g.V().All()")
        assert False
    except urllib.error.HTTPError as e:
        assert e.code == 501
    req = urllib.request.Request(f"{srv}/health")
    with urllib.request.urlopen(req) as r:
        assert r.status == 204


def test_gizmo_load_namespaces(srv):
    """g.loadNamespaces() reads cayley:namespace entities saved in the
    graph (environ.go:59-62, schema/namespaces.go:41-57)."""
    post(
        f"{srv}/api/v1/write",
        "<http://schema.org/> "
        "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> "
        "<cayley:namespace> .\n"
        "<http://schema.org/> <cayley:prefix> <schema:> .\n"
        "<bob> <http://schema.org/name> \"Bob\" .\n",
    )
    try:
        out = post(
            f"{srv}/api/v1/query/gizmo",
            'g.loadNamespaces()\ng.V("<bob>").out(g.IRI("schema:name")).toArray()',
        )
        assert out["result"] == ["Bob"]
    finally:
        post(
            f"{srv}/api/v1/delete",
            "<http://schema.org/> "
            "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type> "
            "<cayley:namespace> .\n"
            "<http://schema.org/> <cayley:prefix> <schema:> .\n"
            "<bob> <http://schema.org/name> \"Bob\" .\n",
        )


def test_read_dump(srv):
    req = urllib.request.Request(f"{srv}/api/v2/read", data=b"")
    with urllib.request.urlopen(req) as r:
        lines = [l for l in r.read().decode().splitlines() if l.strip()]
    assert len(lines) == 15  # simple_social quad count
    assert any("<alice> <follows> <bob> ." in l for l in lines)


def test_read_dump_streams_without_collect(srv, monkeypatch):
    """The dump handler must never materialize the full store via
    collect() (driver OOM at scale) — with collect() poisoned, the
    chunked toLocalIterator path still serves the full dump, on both
    the GET and POST routes."""
    from pyspark.sql import DataFrame

    def boom(self):
        raise AssertionError("dump handler called collect()")

    monkeypatch.setattr(DataFrame, "collect", boom)
    with urllib.request.urlopen(f"{srv}/api/v2/read") as r:
        assert r.headers.get("Transfer-Encoding") == "chunked"
        get_lines = [l for l in r.read().decode().splitlines() if l.strip()]
    req = urllib.request.Request(f"{srv}/api/v2/read", data=b"")
    with urllib.request.urlopen(req) as r:
        post_lines = [l for l in r.read().decode().splitlines() if l.strip()]
    assert len(get_lines) == len(post_lines) == 15


def test_gephi_graphstream(srv):
    """GET /gephi/gs — Gephi graph-streaming protocol (reference
    internal/gephi/stream.go): one JSON event per CRLF line, an/ae
    events in raw mode, inline props + cn events in nodes mode."""
    import json as _json

    with urllib.request.urlopen(f"{srv}/gephi/gs?mode=raw&limit=5") as r:
        assert r.headers["Content-Type"].startswith("application/stream+json")
        body = r.read().decode()
    lines = [l for l in body.split("\r\n") if l]
    events = [_json.loads(l) for l in lines]
    an = [e for e in events if "an" in e]
    ae = [e for e in events if "ae" in e]
    assert ae and an
    assert len(ae) == 5  # limit applies to quads in raw mode
    node = next(iter(an[0]["an"].values()))
    assert {"label", "size", "x", "y"} <= set(node)
    assert abs(node["x"]) <= 500 and abs(node["y"]) <= 500
    edge = next(iter(ae[0]["ae"].values()))
    assert {"source", "target", "pred", "label"} <= set(edge)
    # every edge endpoint was introduced by an an event
    ids = {k for e in an for k in e["an"]}
    assert all(e["ae"][k]["source"] in ids and e["ae"][k]["target"] in ids
               for e in ae for k in e["ae"])

    # pred filter narrows the stream
    with urllib.request.urlopen(
        f"{srv}/gephi/gs?mode=raw&pred=%3Cstatus%3E"
    ) as r:
        body = r.read().decode()
    preds = {
        _json.loads(l)["ae"][k]["pred"]
        for l in body.split("\r\n") if l and '"ae"' in l
        for k in _json.loads(l)["ae"]
    }
    assert preds == {"<status>"}

    # nodes mode: status literals are NOT inline (strings), they
    # stay edges; bool/int/float objects would fold into props
    with urllib.request.urlopen(f"{srv}/gephi/gs?mode=nodes&limit=50") as r:
        body = r.read().decode()
    events = [_json.loads(l) for l in body.split("\r\n") if l]
    assert any("an" in e for e in events)
    assert any("ae" in e for e in events)

    # bad mode is a 400
    try:
        urllib.request.urlopen(f"{srv}/gephi/gs?mode=nope")
        assert False
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_unknown_language(srv):
    try:
        post(f"{srv}/api/v1/query/nope", "x")
        assert False
    except urllib.error.HTTPError as e:
        assert e.code == 400


ESCAPES = [
    "().__class__.__base__.__subclasses__()",
    "__import__('os').system('true')",
    "g.V().__class__",
    "open('/etc/passwd')",
    "[x for x in (1,)]",
    "g.V().df().sparkSession",  # public attrs outside the gizmo surface
    "x.y = 5",  # attribute assignment
    "g = 5\ng.V()",  # shadowing g
    "import os",
    "exec('1')",
    # JS-callback-era escapes: the interpreter must stay closed
    "var g = 5",  # shadowing g via declaration
    "function g(){}",  # shadowing g via function declaration
    "function f(){ return f() }\nf()",  # unbounded recursion
    "({}).valueOf()",  # object methods are not on the surface
    'g["V"]',  # no index access into engine objects
    "'a'.constructor",  # no primitive prototypes
    "function f(){}\nf.constructor",  # no function introspection
    # resource-bomb era: op counter + string cap (goja interrupt analog)
    # exponential string doubling under the recursion cap -> string cap
    "function f(s, n){ if (n > 60) { return s } return f(s + s, n + 1) }\nf('aaaaaaaaaaaaaaaa', 0)",
    # op bomb: nested for-in over an array built by concatenation
    "var a = [1,2,3,4,5,6,7,8,9,10]\nvar n = 0\nfor (i in a) { for (j in a) { for (k in a) { for (l in a) { for (m in a) { for (o in a) { n = n + 1 } } } } } }\nn",
    "[1,2].All",  # gizmo method name on a non-gizmo value: 400 not 500
]


@pytest.mark.parametrize("q", ESCAPES)
def test_gizmo_sandbox_rejects(srv, q):
    """The gizmo endpoint must reject anything but gizmo-surface
    method chains on g (sandbox parity with the reference's goja VM)."""
    try:
        post(f"{srv}/api/v1/query/gizmo", q)
        assert False, f"escape not rejected: {q}"
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_gizmo_multi_statement(srv):
    out = post(
        f"{srv}/api/v1/query/gizmo",
        'g.Emit(1)\ng.V("<bob>").In("<follows>").ToArray()',
    )
    assert "<alice>" in out["result"]


def test_gizmo_js_callback(srv):
    """JS function-literal callbacks run over HTTP — the reference's
    forEach/emit dedup idiom (query/gizmo/finals.go:122-163,
    graph/graphtest/integration.go:128-135)."""
    out = post(
        f"{srv}/api/v1/query/gizmo",
        """
        seen = {}
        g.V("<bob>").in("<follows>").or(g.V("<dani>").in("<follows>")).forEach(function (d) {
            if (!(d.id in seen)) {
                seen[d.id] = true;
                g.emit(d)
            }
        })
        """,
    )
    assert sorted(r["id"] for r in out["result"]) == [
        "<alice>", "<charlie>", "<dani>"
    ]


def test_gizmo_for_in_loop(srv):
    """A bounded for-in loop over ToArray() results — the common
    user idiom beyond the verbatim corpus (VERDICT round 3 #7)."""
    out = post(
        f"{srv}/api/v1/query/gizmo",
        """
        var names = g.V("<bob>").in("<follows>").toArray()
        for (i in names) {
            g.emit(names[i])
        }
        """,
    )
    assert sorted(out["result"]) == ["<alice>", "<charlie>", "<dani>"]


def test_gizmo_single_line_after_brace(srv):
    """No separator needed after '}' (real-JS rule) — single-line
    programs from HTTP clients that strip newlines must parse."""
    out = post(
        f"{srv}/api/v1/query/gizmo",
        'function f(n){ if (n > 0) { return f(n-1) } return 0 } g.emit(f(3))',
    )
    assert out["result"] == [0]


def test_gizmo_named_function(srv):
    """function declarations (the corpus getId idiom) work over HTTP."""
    out = post(
        f"{srv}/api/v1/query/gizmo",
        'function follows(x) { return g.V(x).in("<follows>") }\n'
        'follows("<bob>").toArray()',
    )
    assert sorted(out["result"]) == ["<alice>", "<charlie>", "<dani>"]


def test_gizmo_foreach_limit_callback(srv):
    """forEach(limit, callback) — the JS argument order
    (finals.go:128-136)."""
    out = post(
        f"{srv}/api/v1/query/gizmo",
        'g.V("<bob>").out("<status>").forEach(1, function(d){ g.emit(d.id) })',
    )
    assert out["result"] == ["cool_person"]


def test_gizmo_js_style_program(srv):
    """JS-style gizmo programs: var declarations + semicolons run
    unchanged (goja-parity for the common non-callback shape)."""
    out = post(
        f"{srv}/api/v1/query/gizmo",
        'var friends = g.V("<bob>").In("<follows>");\nfriends.ToArray()',
    )
    assert sorted(out["result"]) == ["<alice>", "<charlie>", "<dani>"]
    # assignment cannot shadow g or smuggle names
    try:
        post(f"{srv}/api/v1/query/gizmo", "g = 5\ng.V()")
        assert False
    except urllib.error.HTTPError as e:
        assert e.code == 400


def test_client_library(srv):
    """cayley_spark.client.Client — the reference Go client analog
    (client/client.go): health, streamed quad read (nquads + pquads),
    write/delete, and queries, all over the wire."""
    from cayley_spark.client import Client, RequestFailed
    from cayley_spark.values import IRI

    c = Client(srv)
    assert c.health()

    quads = list(c.quads())
    assert len(quads) == 15
    assert (IRI("alice"), IRI("follows"), IRI("bob"), None) in quads
    # labeled quads carry their graph value
    assert any(q[3] is not None for q in quads)

    # binary wire format parity with the text dump
    pq = list(c.quads(fmt="pquads"))
    assert sorted(map(repr, pq)) == sorted(map(repr, quads))

    assert c.write([(IRI("zeke"), IRI("follows"), IRI("bob"))]) == 1
    got = c.query('g.V("<bob>").In("<follows>").ToArray()')
    assert "<zeke>" in got
    assert c.delete([(IRI("zeke"), IRI("follows"), IRI("bob"))]) == 1
    assert "<zeke>" not in c.query('g.V("<bob>").In("<follows>").ToArray()')

    with pytest.raises(RequestFailed):
        c.query("this is not gizmo (")


def test_responses_advertise_http_1_1_raw_socket(srv):
    """Chunked transfer framing is only legal on HTTP/1.1; CPython's
    http.client de-chunks regardless of the advertised version, so
    this pins the STATUS LINE over a raw socket — a Go net/http or
    curl client would otherwise see raw chunk framing in the
    /api/v2/read dump body."""
    import socket
    from urllib.parse import urlparse

    u = urlparse(srv)
    with socket.create_connection((u.hostname, u.port), timeout=10) as s:
        s.sendall(
            b"GET /health HTTP/1.1\r\nHost: x\r\nConnection: close\r\n\r\n"
        )
        first = b""
        while b"\r\n" not in first:
            first += s.recv(256)
    assert first.startswith(b"HTTP/1.1 2"), first[:40]


def test_accepted_sockets_disable_nagle(srv, monkeypatch):
    """Every accepted connection has TCP_NODELAY set. A response goes
    out as two sends (headers, then body); with Nagle on, the body
    waits for the client's delayed ACK of the headers, ≈40 ms per
    response."""
    import socket

    from cayley_spark.server.http import CayleyHandler

    seen = []
    setup = CayleyHandler.setup

    def recording_setup(self):
        setup(self)
        seen.append(
            self.connection.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY)
        )

    monkeypatch.setattr(CayleyHandler, "setup", recording_setup)
    with urllib.request.urlopen(f"{srv}/health") as r:
        r.read()
    assert seen and all(seen), seen


def test_chunked_dump_dechunks_by_the_spec(srv):
    """Manually de-chunk /api/v2/read over a raw socket (what a
    spec-compliant non-CPython client does) and check the nquads
    payload parses — guards the chunk framing itself."""
    import socket
    from urllib.parse import urlparse

    u = urlparse(srv)
    with socket.create_connection((u.hostname, u.port), timeout=30) as s:
        s.sendall(
            b"GET /api/v2/read HTTP/1.1\r\nHost: x\r\nConnection: close\r\n\r\n"
        )
        buf = b""
        while True:
            b_ = s.recv(65536)
            if not b_:
                break
            buf += b_
    head, _, body = buf.partition(b"\r\n\r\n")
    assert b"Transfer-Encoding: chunked" in head, head
    # RFC 7230 §4.1 de-chunking
    out = b""
    rest = body
    while True:
        size_line, _, rest = rest.partition(b"\r\n")
        size = int(size_line.split(b";")[0], 16)
        if size == 0:
            break
        out, rest = out + rest[:size], rest[size + 2:]
    text = out.decode()
    assert "<bob>" in text and text.count("\n") >= 10
