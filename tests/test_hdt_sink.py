"""QuadSinkHdt — native HDT v1 writer/reader (``lib/io/QuadSinkHdt.ts:20-131``).

The reference converts each written fragment file via a dockerized rdf2hdt;
this engine builds the HDT binary natively and distributed (one task per
fragment). No rdfhdt binary exists in the container, so conformance is
evidenced by the in-repo CRC-validating spec reader plus fuzzing.
"""

from __future__ import annotations

import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rdf_dataset_fragmenter_js_spark.quads import quad, quads_df
from rdf_dataset_fragmenter_js_spark.sinks.hdt import (
    _pfc_section,
    _read_pfc_section,
    build_hdt,
    hdt_path_for,
    read_hdt,
    read_hdt_fragments,
    write_fragment_hdt,
)
from rdf_dataset_fragmenter_js_spark.sinks.paths import map_doc_to_path
from rdf_dataset_fragmenter_js_spark.strategies import route_subject


def _row(s_type, s, p, o_type, o, dt=None, lang=None):
    return (s_type, s, p, o_type, o, dt, lang)


BASE_ROWS = [
    _row("NamedNode", "http://ex.org/a", "http://ex.org/p", "NamedNode", "http://ex.org/b"),
    _row("NamedNode", "http://ex.org/a", "http://ex.org/q", "Literal", 'quote " back \\ nl \n tab \t end'),
    _row("NamedNode", "http://ex.org/b", "http://ex.org/p", "Literal", "bonjour", None, "fr"),
    _row("NamedNode", "http://ex.org/b", "http://ex.org/q", "Literal", "42", "http://www.w3.org/2001/XMLSchema#integer"),
    _row("BlankNode", "b0", "http://ex.org/p", "BlankNode", "b1"),
    # shared section: b is subject AND object; a only subject; x only object
    _row("NamedNode", "http://ex.org/x-src", "http://ex.org/p", "NamedNode", "http://ex.org/x"),
]


def test_roundtrip_and_dedup():
    rows = BASE_ROWS + [BASE_ROWS[0], BASE_ROWS[2]]  # duplicates collapse
    blob = build_hdt(rows)
    assert blob.startswith(b"$HDT")
    back = read_hdt(blob)
    assert sorted(back) == sorted(set(BASE_ROWS))


def test_empty_and_single():
    assert read_hdt(build_hdt([])) == []
    one = [_row("NamedNode", "s", "p", "Literal", "")]
    assert read_hdt(build_hdt(one)) == one


def test_pfc_block_boundaries():
    # exercise block starts, prefix coding, exact-multiple-of-blocksize
    for n in (1, 15, 16, 17, 64, 533):
        strings = sorted({f"http://ex.org/node/{i:05d}".encode() for i in range(n)})
        back, _ = _read_pfc_section(_pfc_section(strings, blocksize=16), 0)
        assert back == strings


def test_crc_detects_corruption():
    blob = bytearray(build_hdt(BASE_ROWS))
    # flip a byte inside the CRC32-protected dictionary text (the header's
    # N-Triples body is the one unprotected region in HDT v1, so target a
    # known dictionary string rather than the blob midpoint)
    pos = bytes(blob).index(b"bonjour")
    blob[pos] ^= 0xFF
    with pytest.raises(ValueError):
        read_hdt(bytes(blob))
    # ... and in the control-information framing (CRC16)
    blob2 = bytearray(build_hdt(BASE_ROWS))
    blob2[1] ^= 0xFF
    with pytest.raises(ValueError):
        read_hdt(bytes(blob2))


def test_hdt_path_for_js_replace_quirk():
    """The reference derives the name via JS String.replace — FIRST
    occurrence of the extension, not suffix (QuadSinkHdt.ts:66-70)."""
    assert hdt_path_for("pods/card.nq", ".nq") == "pods/card.hdt"
    assert hdt_path_for("pods/a.nq.nq", ".nq") == "pods/a.nq.hdt"
    assert hdt_path_for("pods/card", None) == "pods/card.hdt"


_term_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
    min_size=0,
    max_size=12,
)
_iri = st.from_regex(r"http://ex\.org/[A-Za-z0-9/_-]{1,10}", fullmatch=True)
_obj = st.one_of(
    st.tuples(st.just("NamedNode"), _iri, st.none(), st.none()),
    st.tuples(st.just("BlankNode"), st.from_regex(r"[A-Za-z0-9]{1,6}", fullmatch=True), st.none(), st.none()),
    st.tuples(st.just("Literal"), _term_text, st.none(), st.none()),
    st.tuples(st.just("Literal"), _term_text, st.just("http://ex.org/dt"), st.none()),
    st.tuples(st.just("Literal"), _term_text, st.none(), st.just("en")),
)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(_iri, _iri, _obj),
        min_size=0,
        max_size=25,
    )
)
def test_fuzz_roundtrip(triples):
    rows = [
        ("NamedNode", s, p, o_type, o_val, dt, lang)
        for s, p, (o_type, o_val, dt, lang) in triples
    ]
    back = read_hdt(build_hdt(rows))
    # set compare, not sorted(): tuples mixing None and str in the datatype/
    # lang slots are not orderable (hypothesis found the crash, not a
    # round-trip failure)
    assert set(back) == set(rows)
    assert len(back) == len(set(rows))


def test_write_fragment_hdt_spark(spark, tmp_path):
    rows = [
        quad("http://ex.org/a", "http://ex.org/p", "http://ex.org/x"),
        quad("http://ex.org/a", "http://ex.org/p", "v1", o_type="Literal"),
        quad("http://ex.org/b", "http://ex.org/p", "v2", o_type="Literal"),
        # graph component drops; this quad collapses with the g-less twin
        quad("http://ex.org/b", "http://ex.org/p", "v2", o_type="Literal", g="http://g.org/1"),
    ]
    routed = map_doc_to_path(
        route_subject(quads_df(spark, rows)),
        {r"^http://ex\.org/": ""},
        file_extension=".nq",
    )
    out = str(tmp_path / "hdt")
    written = {
        r.path: r.n_triples
        for r in write_fragment_hdt(
            routed, out, "application/n-quads", file_extension=".nq"
        ).collect()
    }
    assert written == {"a.nq": 2, "b.nq": 1}
    assert sorted(os.listdir(out)) == ["a.hdt", "b.hdt"]  # sources removed (default)
    back = read_hdt_fragments(spark, out)
    got = sorted(
        (r.path, r.s, r.p, r.o, r.o_type) for r in back.collect()
    )
    assert got == [
        ("a.hdt", "http://ex.org/a", "http://ex.org/p", "http://ex.org/x", "NamedNode"),
        ("a.hdt", "http://ex.org/a", "http://ex.org/p", "v1", "Literal"),
        ("b.hdt", "http://ex.org/b", "http://ex.org/p", "v2", "Literal"),
    ]

    # removeSourceFiles=False keeps the N-Quads source next to the .hdt
    out2 = str(tmp_path / "hdt_keep")
    write_fragment_hdt(
        routed,
        out2,
        "application/n-quads",
        remove_source_files=False,
        file_extension=".nq",
    ).collect()
    assert sorted(os.listdir(out2)) == ["a.hdt", "a.nq", "b.hdt", "b.nq"]
    nq = open(os.path.join(out2, "b.nq")).read()
    assert '<http://ex.org/b> <http://ex.org/p> "v2"' in nq

    # reference validates outputFormat against its rdf2hdt map (ts:29-31)
    with pytest.raises(ValueError, match="Unsupported HDT output format"):
        write_fragment_hdt(routed, str(tmp_path / "bad"), "application/ld+json")


def test_read_rdf_hdt_source(spark, tmp_path):
    """.hdt dispatches through the QuadSourceFile read path (beyond-reference:
    rdf-parse cannot read HDT back; our engine round-trips its own sink
    output) with dense file-major seq and file-scoped blank nodes."""
    from rdf_dataset_fragmenter_js_spark.sources.nquads import read_rdf

    rows = [
        quad("http://ex.org/a", "http://ex.org/p", "http://ex.org/x"),
        quad("http://ex.org/a", "http://ex.org/p", "v1", o_type="Literal"),
        quad("http://ex.org/b", "http://ex.org/p", "v2", o_type="Literal"),
    ]
    routed = map_doc_to_path(
        route_subject(quads_df(spark, rows)),
        {r"^http://ex\.org/": ""},
        file_extension=".nq",
    )
    out = str(tmp_path / "hdtsrc")
    write_fragment_hdt(
        routed, out, "application/n-quads", file_extension=".nq"
    ).collect()

    back = read_rdf(spark, out + "/*.hdt").collect()
    assert sorted((r.s, r.o, r.g) for r in back) == [
        ("http://ex.org/a", "http://ex.org/x", None),
        ("http://ex.org/a", "v1", None),
        ("http://ex.org/b", "v2", None),
    ]
    assert sorted(r.seq for r in back) == [0, 1, 2]  # dense file-major

    # blank-node labels are file-scoped: '_:b0' in two .hdt files stays two
    # resources, namespaced f{i}_ like every other multi-file format
    twins = tmp_path / "bnode_twins"
    twins.mkdir()
    for name in ("a.hdt", "b.hdt"):
        (twins / name).write_bytes(
            build_hdt([_row("BlankNode", "b0", "http://ex.org/p", "Literal", "v")])
        )
    back = read_rdf(spark, str(twins)).collect()
    assert sorted(r.s for r in back) == ["f0_b0", "f1_b0"]


def test_pipeline_spec_hdt(spark, tmp_path):
    """Config-driven QuadSinkHdt: componentsjs-shaped spec → per-fragment
    .hdt files (the reference's config surface, QuadSinkHdt.ts options)."""
    from rdf_dataset_fragmenter_js_spark.plans.pipeline import run_pipeline_spec

    src = tmp_path / "in.nq"
    src.write_text(
        '<http://ex.org/a> <http://ex.org/p> <http://ex.org/b> .\n'
        '<http://ex.org/b> <http://ex.org/p> "v" .\n'
    )
    spec = {
        "quadSource": {"@type": "QuadSourceFile", "filePath": str(src)},
        "fragmentationStrategy": {"@type": "FragmentationStrategySubject"},
        "quadSink": {
            "@type": "QuadSinkHdt",
            "iriToPath": {"^http://ex\\.org/": "frag/"},
            "fileExtension": ".nq",
            "outputFormat": "application/n-quads",
        },
        "transformers": [],
    }
    out = str(tmp_path / "out")
    run_pipeline_spec(spark, spec, out)
    frag = os.path.join(out, "frag")
    assert sorted(os.listdir(frag)) == ["a.hdt", "b.hdt"]
    back = read_hdt(open(os.path.join(frag, "b.hdt"), "rb").read())
    assert back == [("NamedNode", "http://ex.org/b", "http://ex.org/p", "Literal", "v", None, None)]
