"""Sexp + LinkedQL + file-format tests (reference parity:
query/sexp/parser_test.go cases; query/linkedql/steps/test-cases)."""

import json
import os

import pytest

from cayley_spark import GraphStore, IRI, Path
from cayley_spark.query.linkedql import LinkedQLSession
from cayley_spark.query.sexp import SexpSession


@pytest.fixture(scope="module")
def winstore(spark):
    return GraphStore.from_quad_values(
        spark,
        [
            ("i", "can", "win"),
            ("i", "like", "food"),
            ("i", "like", "beer"),
            ("you", "like", "beer"),
            ("food", "is", "good"),
        ],
    ).persist()


def test_sexp_single_linkage(winstore):
    out = SexpSession(winstore).execute('($a (:can "win"))')
    assert out == [{"id": '"i"', "$a": '"i"'}]


def test_sexp_internal_tag(winstore):
    out = SexpSession(winstore).execute('("i" (:can $a))')
    assert out == [{"id": '"i"', "$a": '"win"'}]


def test_sexp_tree_constraint(winstore):
    out = SexpSession(winstore).execute('("i" (:like ($a (:is :good))))')
    assert out == [{"id": '"i"', "$a": '"food"'}]


def test_sexp_multiple_constraints(winstore):
    out = SexpSession(winstore).execute(
        """(
        $a
        (:like :beer)
        (:like "food")
    )"""
    )
    assert out == [{"id": '"i"', "$a": '"i"'}]


def test_sexp_empty(winstore):
    assert SexpSession(winstore).execute("()") == []


# ---------------- LinkedQL (steps/test-cases shapes) ----------------


@pytest.fixture(scope="module")
def likes(spark):
    E = "http://example.com/"
    return GraphStore.from_quad_values(
        spark,
        [
            (IRI(E + "bob"), IRI(E + "likes"), IRI(E + "alice")),
            (IRI(E + "dan"), IRI(E + "likes"), IRI(E + "bob")),
        ],
    ).persist()


E = "http://example.com/"


def _ids(results):
    return sorted(r["@id"] for r in results)


def test_linkedql_vertex_all(likes):
    out = LinkedQLSession(likes).execute({"@type": "Vertex", "values": []})
    assert _ids(out) == sorted(
        [E + "bob", E + "alice", E + "dan", E + "likes"]
    )


def test_linkedql_match_exact(likes):
    out = LinkedQLSession(likes).execute(
        {"@type": "Match", "pattern": {"@id": E + "alice"}}
    )
    assert _ids(out) == [E + "alice"]


def test_linkedql_visit_both(likes):
    s = LinkedQLSession(likes)
    out = s.execute(
        {
            "@type": "Visit",
            "from": {"@type": "Match", "pattern": {"@id": E + "bob"}},
            "properties": E + "likes",
        }
    )
    assert _ids(out) == [E + "alice"]
    out = s.execute(
        {
            "@type": "Both",
            "from": {"@type": "Match", "pattern": {"@id": E + "bob"}},
            "properties": E + "likes",
        }
    )
    assert _ids(out) == [E + "alice", E + "dan"]


def test_linkedql_has_count_limit(likes):
    s = LinkedQLSession(likes)
    out = s.execute(
        {
            "@type": "Has",
            "from": {"@type": "Match", "pattern": {}},
            "property": E + "likes",
            "values": [{"@id": E + "bob"}],
        }
    )
    assert _ids(out) == [E + "dan"]
    assert s.execute(
        {"@type": "Count", "from": {"@type": "Match", "pattern": {}}}
    ) == [4]
    out = s.execute(
        {
            "@type": "Limit",
            "from": {"@type": "Order", "from": {"@type": "Match", "pattern": {}}},
            "limit": 2,
        }
    )
    assert len(out) == 2


def test_linkedql_back_anonymous(likes):
    out = LinkedQLSession(likes).execute(
        {
            "@type": "Back",
            "from": {
                "@type": "Visit",
                "from": {"@type": "Match", "pattern": {"@id": E + "alice"}},
                "properties": [E + "likes"],
            },
            "name": "",
        }
    )
    # alice has no outgoing likes; back from bob's hop: bob→alice
    out2 = LinkedQLSession(likes).execute(
        {
            "@type": "Back",
            "from": {
                "@type": "Visit",
                "from": {"@type": "Match", "pattern": {"@id": E + "bob"}},
                "properties": [E + "likes"],
            },
            "name": "",
        }
    )
    assert _ids(out2) == [E + "bob"]
    assert out == []


def test_linkedql_select_tags(likes):
    out = LinkedQLSession(likes).execute(
        {
            "@type": "Select",
            "from": {
                "@type": "As",
                "from": {
                    "@type": "Visit",
                    "from": {
                        "@type": "As",
                        "from": {"@type": "Match", "pattern": {}},
                        "name": "liker",
                    },
                    "properties": E + "likes",
                },
                "name": "liked",
            },
            "tags": ["liker"],
        }
    )
    assert sorted(o["liker"]["@id"] for o in out) == [E + "bob", E + "dan"]


# ---------------- file formats ----------------


PEOPLE_JSONLD = {
    "@context": {
        "@vocab": "http://xmlns.com/foaf/0.1/",
        "ex": "http://example.com/",
    },
    "@graph": [
        {
            "@id": "ex:alice",
            "@type": "Person",
            "name": "Alice",
            "knows": {"@id": "ex:bob"},
        },
        {
            "@id": "ex:bob",
            "@type": "Person",
            "name": "Bob",
            "knows": {"@id": "ex:alice"},
        },
    ],
}
REFERENCE_PEOPLE_JSONLD = "/root/reference/data/people.jsonld"


def _quad_set(st) -> set[tuple]:
    return {tuple(r) for r in st.resolve(st.quads).collect()}


def test_jsonld_roundtrip(spark, tmp_path):
    """Compacted node-object JSON-LD (the shape the reference ships as
    data/people.jsonld), inlined so the test needs no reference
    checkout; the reference file is cross-checked when present."""
    from cayley_spark.sources.formats import read_jsonld, write_jsonld

    src = tmp_path / "people.jsonld"
    src.write_text(json.dumps(PEOPLE_JSONLD))
    st = read_jsonld(spark, str(src))
    if os.path.exists(REFERENCE_PEOPLE_JSONLD):
        ref = read_jsonld(spark, REFERENCE_PEOPLE_JSONLD)
        assert _quad_set(ref) == _quad_set(st)
    assert st.stats()["quads"] == 6  # 2 types + 2 names + 2 knows
    bob_knows = (
        Path.start(st, IRI("http://example.com/bob"))
        .out(IRI("http://xmlns.com/foaf/0.1/knows"))
        .all_values()
    )
    assert bob_knows == ["<http://example.com/alice>"]

    doc = json.loads(write_jsonld(st))
    byid = {o["@id"]: o for o in doc["@graph"]}
    assert byid["http://example.com/bob"]["@type"] == (
        "http://xmlns.com/foaf/0.1/Person"
    )
    assert byid["http://example.com/bob"][
        "http://xmlns.com/foaf/0.1/knows"
    ] == {"@id": "http://example.com/alice"}


def test_graph_writers(social):
    from cayley_spark.sources.formats import write_dot, write_gml, write_graphml

    dot = [r["value"] for r in write_dot(social).collect()]
    assert dot[0] == "digraph cayley_graph {" and dot[-1] == "}"
    assert any('"<alice>" -> "<bob>" [label="<follows>"];' in l for l in dot)

    gml = [r["value"] for r in write_gml(social).collect()]
    assert gml[0] == "graph [" and gml[-1] == "]"
    assert any('source "<alice>"' in l for l in gml)

    xml = [r["value"] for r in write_graphml(social).collect()]
    assert xml[0].startswith("<?xml") and xml[-1] == "</graphml>"
    assert any("&lt;alice&gt;" in l for l in xml)


# ---------------- session collations + REPL ----------------


def test_collations_gizmo(social):
    from cayley_spark.query.session import Collation, get_session

    ses = get_session(social, "gizmo")
    q = 'g.V("<bob>").Out("<status>").All()'
    js = ses.execute(q, collation=Collation.JSON)
    assert [r["id"] for r in js] == ["cool_person"]  # JSON: native string
    raw = ses.execute(q, collation=Collation.RAW)
    assert [r["id"] for r in raw] == ['"cool_person"']  # RAW: term string
    q = 'g.V("<bob>").In("<follows>").All()'
    repl = ses.execute(q, collation=Collation.REPL)
    assert all(s.startswith("****\n") for s in repl)
    assert any("id : <alice>\n" in s for s in repl)
    # scalar REPL result
    assert ses.execute(
        'g.V("<bob>").In("<follows>").Count()', collation=Collation.REPL
    ) == ["=> 3\n"]


def test_collations_limits_and_unsupported(social):
    import pytest as _pytest

    from cayley_spark.query.session import (
        Collation,
        UnsupportedCollation,
        get_session,
    )

    ses = get_session(social, "mql")
    with _pytest.raises(UnsupportedCollation):
        ses.execute('[{"id": null}]', collation=Collation.JSONLD)
    out = ses.execute(
        '[{"id": null, "<status>": "cool_person"}]', collation=Collation.REPL
    )
    assert len(out) == 3 and all(s.endswith("\n") for s in out)
    g = get_session(social, "graphql")
    repl = g.execute('{ me(status: "cool_person") { id } }',
                     collation=Collation.REPL)
    assert len(repl) == 1 and repl[0].lstrip().startswith("{")


def test_repl_loop(social):
    import io

    from cayley_spark.repl import run_repl

    inp = io.StringIO(
        'g.V("<bob>").In("<follows>").All()\n'
        ":lang mql\n"
        '[{"id": null, "<status>": "cool_person"}]\n'
        ":exit\n"
    )
    out = io.StringIO()
    run_repl(social, inp=inp, out=out)
    text = out.getvalue()
    assert "id : <alice>" in text
    assert "3 Results" in text
    assert "language: mql" in text
    assert "Elapsed time" in text


def test_repl_add_delete(social):
    """:a / :d quad commands (reference internal/repl/repl.go:171-192)."""
    import io

    from cayley_spark.repl import run_repl

    inp = io.StringIO(
        ":a <zz> <follows> <bob> .\n"
        'g.V("<bob>").In("<follows>").All()\n'
        ":d <zz> <follows> <bob> .\n"
        'g.V("<bob>").In("<follows>").All()\n'
        ":a not a quad\n"
        "help\n"
        ":exit\n"
    )
    out = io.StringIO()
    run_repl(social, inp=inp, out=out)
    text = out.getvalue()
    assert "4 Results" in text  # alice, charlie, dani + zz after :a
    assert "3 Results" in text  # back to 3 after :d
    assert "not a valid quad" in text
    assert ":a <quad> // add quad" in text


def test_nquads_literal_escape_fuzz(spark, tmp_path):
    """Property: ANY string literal survives the full file roundtrip
    write_nquads -> file -> read_nquads (escapes, quotes, newlines,
    unicode, control chars) — through the production distributed
    writer and regex-based reader."""
    from hypothesis import HealthCheck, given, settings, strategies as st

    from cayley_spark import GraphStore, IRI, Path, String
    from cayley_spark.sources.nquads import read_nquads, write_nquads

    texts = st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",)  # no lone surrogates
            ),
            max_size=40,
        ),
        min_size=1,
        max_size=5,
        unique=True,
    )
    counter = [0]

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(texts)
    def roundtrip(vals):
        quads = [
            (IRI(f"s{i}"), IRI("says"), String(v))
            for i, v in enumerate(vals)
        ]
        stx = GraphStore.from_quad_values(spark, quads)
        counter[0] += 1
        path = str(tmp_path / f"fuzz{counter[0]}.nq")
        with open(path, "w") as f:
            for r in write_nquads(stx).collect():
                f.write(r["value"] + "\n")
        st2 = read_nquads(spark, path)
        for i, v in enumerate(vals):
            out = Path.start(st2, IRI(f"s{i}")).out(IRI("says")).all_values()
            assert out == [String(v).term()], (i, v, out)

    roundtrip()
