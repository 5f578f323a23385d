"""Parity tests: remap-resource-identifier (jest
``QuadTransformerRemapResourceIdentifier-test.ts`` / ``README.md:607-661``),
blank-to-fragment, composite-varying-resource, solid type index, and the
sink IRI→path mapper (``test/unit/io/QuadSinkFile-test.ts:110-141``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdf_dataset_fragmenter_js_spark.operators.stateful import (
    RemapResourceIdentifier,
    append_resource_solid_type_index,
    blank_to_fragment,
    composite_varying_resource,
)
from rdf_dataset_fragmenter_js_spark.quads import RDF_TYPE, quad, quads_df
from rdf_dataset_fragmenter_js_spark.sinks.paths import iri_to_path_col, map_doc_to_path

IRI_TO_PATH = {
    "^http://example.org/1": "/path/to/folder1",
    "^http://example.org/2": "/path/to/folder2",
    "^http://example.org/23": "/path/to/folder23",
}


def _paths(spark, iris, **kw):
    df = spark.createDataFrame([(i,) for i in iris], ["doc"])
    out = df.select(iri_to_path_col(F.col("doc"), IRI_TO_PATH, **kw).alias("path"))
    return [r.path for r in out.collect()]


def test_iri_to_path_jest_fixtures(spark):
    assert _paths(
        spark,
        [
            "http://example.org/1/file.ttl",
            "http://example.org/1/file",
            "http://example.org/1/file:3000.ttl",
            "http://example.org/1/file#abc",
            "http://example.org/2/file",
            "http://example.org/23/file",
            "http://example.org/3/file",
        ],
    ) == [
        "/path/to/folder1/file.ttl",
        "/path/to/folder1/file",
        "/path/to/folder1/file_3000.ttl",
        "/path/to/folder1/file",
        "/path/to/folder2/file",
        "/path/to/folder23/file",  # longest match wins
        None,  # no mapping
    ]


def test_iri_to_path_file_extension(spark):
    assert _paths(spark, ["http://example.org/1/file"], file_extension="$.nq") == [
        "/path/to/folder1/file$.nq"
    ]


def test_map_doc_to_path_strict_raises(spark):
    df = quads_df(spark, [quad("http://example.org/3/f", "ex:p", "ex:o")]).withColumn(
        "doc", F.col("s")
    )
    out = map_doc_to_path(df, IRI_TO_PATH, strict=True)
    with pytest.raises(Exception, match="No IRI mapping found"):
        out.collect()


LDBC = [
    # README.md:607-661: Post resource remapped into creator pod
    quad("ex:post1", RDF_TYPE, "ex:Post", seq=1),
    quad("ex:post1", "ex:hasId", "1", o_type="Literal", seq=2),
    quad("ex:post1", "ex:hasCreator", "urn:person1", seq=3),
    quad("ex:other", "ex:ref", "ex:post1", seq=4),
]


def test_remap_resource_identifier(spark):
    df = quads_df(spark, LDBC)
    remap = RemapResourceIdentifier("#Post", "Post$", "hasId$", "hasCreator$")
    out = remap(df)
    rows = sorted((r.s, r.p, r.o) for r in out.collect())
    assert rows == sorted(
        [
            ("urn:person1#Post1", RDF_TYPE, "ex:Post"),
            ("urn:person1#Post1", "ex:hasId", "1"),
            ("urn:person1#Post1", "ex:hasCreator", "urn:person1"),
            ("ex:other", "ex:ref", "urn:person1#Post1"),
        ]
    )
    # lineage side-output (TransformCallbackMap)
    mapping = remap.mapping_table(df).collect()
    assert [(m.res, m.mapped) for m in mapping] == [("ex:post1", "urn:person1#Post1")]


def test_remap_value_modifier_and_fragment(spark):
    df = quads_df(
        spark,
        [
            quad("ex:post1#frag", RDF_TYPE, "ex:Post", seq=1),
            quad("ex:post1#frag", "ex:hasId", "id-00042", o_type="Literal", seq=2),
            quad("ex:post1#frag", "ex:hasCreator", "urn:person1", seq=3),
        ],
    )
    remap = RemapResourceIdentifier(
        "#Post",
        "Post$",
        "hasId$",
        "hasCreator$",
        identifier_value_modifier=("^id-0*(.*)$", "$1"),
        keep_subject_fragment=True,
    )
    got = {r.s for r in remap(df).collect()}
    assert got == {"urn:person1#Post42#frag"}


def test_remap_validate_errors(spark):
    dup = quads_df(
        spark,
        LDBC
        + [quad("ex:post1", "ex:hasId", "2", o_type="Literal", seq=9)],
    )
    remap = RemapResourceIdentifier("#Post", "Post$", "hasId$", "hasCreator$")
    with pytest.raises(ValueError, match="Illegal overwrite"):
        remap.validate(dup)
    incomplete = quads_df(spark, [quad("ex:post2", RDF_TYPE, "ex:Post", seq=1)])
    with pytest.raises(ValueError, match="non-finalized"):
        remap.validate(incomplete)


def test_blank_to_fragment(spark):
    df = quads_df(
        spark,
        [
            quad("http://ex.org/doc#x", "ex:p", "b1", o_type="BlankNode", seq=1),
            quad("b1", "ex:q", "ex:o", s_type="BlankNode", seq=2),
            quad("http://ex.org/doc2", "ex:p2", "b1", o_type="BlankNode", seq=3),
        ],
    )
    out = blank_to_fragment(df)
    rows = sorted((r.s_type, r.s, r.p, r.o_type, r.o) for r in out.collect())
    assert rows == sorted(
        [
            ("NamedNode", "http://ex.org/doc#x", "ex:p", "NamedNode", "http://ex.org/doc#b1"),
            ("NamedNode", "http://ex.org/doc#b1", "ex:q", "NamedNode", "ex:o"),
            # reference quirk: later references stay blank
            ("NamedNode", "http://ex.org/doc2", "ex:p2", "BlankNode", "b1"),
        ]
    )


def test_blank_to_fragment_unmapped_raises(spark):
    df = quads_df(spark, [quad("b9", "ex:p", "ex:o", s_type="BlankNode")])
    with pytest.raises(ValueError, match="Unmapped blank node"):
        blank_to_fragment(df, validate=True)


def test_composite_varying_resource(spark):
    # two creators with different codepoint sums route to different children
    rows = []
    for i, person in enumerate(["urn:a", "urn:b"]):  # sums differ by 1
        rows += [
            quad(f"ex:post{i}", RDF_TYPE, "ex:Post", seq=10 * i + 1),
            quad(f"ex:post{i}", "ex:hasId", str(i), o_type="Literal", seq=10 * i + 2),
            quad(f"ex:post{i}", "ex:hasCreator", person, seq=10 * i + 3),
        ]
    df = quads_df(spark, rows)
    children = [
        RemapResourceIdentifier("#A", "Post$", "hasId$", "hasCreator$"),
        RemapResourceIdentifier("#B", "Post$", "hasId$", "hasCreator$"),
    ]
    out = composite_varying_resource(df, "Post$", "hasCreator$", children)
    subjects = {r.s for r in out.collect()}
    # codepoint sums: 'urn:a' = 528, 'urn:b' = 529 → branches 0 and 1
    assert subjects == {"urn:a#A0", "urn:b#B1"}


def test_solid_type_index(spark):
    df = quads_df(
        spark,
        [
            quad("ex:card#me", RDF_TYPE, "ex:Person", seq=1),
            quad("ex:card#me", "ex:profile", "http://pod.ex/profile/card#me", seq=2),
        ],
    )
    out = append_resource_solid_type_index(
        df,
        "Person$",
        "profile$",
        "../settings/publicTypeIndex.ttl",
        "#it",
        "../posts",
        False,
    )
    assert out.count() == 8  # 2 input + 6 appended
    rows = {(r.s, r.p, r.o) for r in out.collect()}
    ti = "http://pod.ex/settings/publicTypeIndex.ttl"
    assert ("http://pod.ex/profile/card#me", "http://www.w3.org/ns/solid/terms#publicTypeIndex", ti) in rows
    assert (ti + "#it", "http://www.w3.org/ns/solid/terms#instance", "http://pod.ex/posts") in rows
    assert (ti + "#it", "http://www.w3.org/ns/solid/terms#forClass", "ex:Person") in rows


def test_write_fragment_nquads_roundtrip(spark, tmp_path):
    """One N-Quads file per mapped path (the reference QuadSinkFile layout);
    reading the files back yields the same per-path quad multisets."""
    from rdf_dataset_fragmenter_js_spark.sinks.paths import write_fragment_nquads
    from rdf_dataset_fragmenter_js_spark.sources.nquads import read_nquads
    from rdf_dataset_fragmenter_js_spark.strategies import route_subject

    quads = quads_df(
        spark,
        [
            quad("http://ex.org/a", "http://ex.org/p", "http://ex.org/x"),
            quad("http://ex.org/a", "http://ex.org/p", "v1", o_type="Literal"),
            quad("http://ex.org/b", "http://ex.org/p", 'va"l"\n2', o_type="Literal"),
        ],
    )
    routed = route_subject(quads)
    with_path = map_doc_to_path(routed, {r"^http://ex\.org/": ""}, file_extension=".nq")
    out = str(tmp_path / "frag_out")
    written = {r.path: r.n_quads for r in write_fragment_nquads(with_path, out).collect()}
    assert written == {"a.nq": 2, "b.nq": 1}

    a_back = read_nquads(spark, f"{out}/a.nq").select("s", "p", "o_type", "o").collect()
    assert sorted((r.s, r.p, r.o_type, r.o) for r in a_back) == [
        ("http://ex.org/a", "http://ex.org/p", "Literal", "v1"),
        ("http://ex.org/a", "http://ex.org/p", "NamedNode", "http://ex.org/x"),
    ]
    b_back = read_nquads(spark, f"{out}/b.nq").collect()
    assert len(b_back) == 1 and b_back[0].o == 'va"l"\n2'


def test_write_fragment_files_formats_roundtrip(spark, tmp_path):
    """Round-4: the per-fragment writer accepts the rdf-serialize content
    types (ParallelFileWriter.ts:64). Each format's files read back through
    read_rdf with the same quad multisets; triple-only formats fail fast
    on named graphs."""
    import pytest as _pytest

    from rdf_dataset_fragmenter_js_spark.sinks.paths import write_fragment_files
    from rdf_dataset_fragmenter_js_spark.sources.nquads import read_rdf
    from rdf_dataset_fragmenter_js_spark.strategies import route_subject

    base = [
        quad("http://ex.org/a", "http://ex.org/p", "http://ex.org/x"),
        quad("http://ex.org/a", "http://ex.org/p", "v1", o_type="Literal"),
        quad("http://ex.org/b", "http://ex.org/p", "v2", o_type="Literal"),
    ]
    graphed = base + [
        quad("http://ex.org/a", "http://ex.org/q", "gv", o_type="Literal", g="http://g.org/1"),
    ]

    def routed(rows, ext):
        return map_doc_to_path(
            route_subject(quads_df(spark, rows)),
            {r"^http://ex\.org/": ""},
            file_extension=ext,
        )

    # text/turtle (N-Triples lines are valid Turtle; read back via .ttl)
    out = str(tmp_path / "ttl")
    written = {
        r.path: r.n_quads
        for r in write_fragment_files(routed(base, ".ttl"), out, "text/turtle").collect()
    }
    assert written == {"a.ttl": 2, "b.ttl": 1}
    back = read_rdf(spark, f"{out}/a.ttl").select("s", "o").collect()
    assert sorted((r.s, r.o) for r in back) == [
        ("http://ex.org/a", "http://ex.org/x"),
        ("http://ex.org/a", "v1"),
    ]
    # ... but named graphs cannot be expressed
    with _pytest.raises(Exception, match="named graph"):
        write_fragment_files(
            routed(graphed, ".ttl"), str(tmp_path / "ttl_bad"), "text/turtle"
        ).collect()

    # application/trig: graph blocks survive the roundtrip
    out = str(tmp_path / "trig")
    write_fragment_files(routed(graphed, ".trig"), out, "application/trig").collect()
    back = read_rdf(spark, f"{out}/a.trig").select("s", "o", "g").collect()
    assert sorted((r.s, r.o, r.g) for r in back) == [
        ("http://ex.org/a", "gv", "http://g.org/1"),
        ("http://ex.org/a", "http://ex.org/x", None),
        ("http://ex.org/a", "v1", None),
    ]

    # application/ld+json: expanded-form documents per fragment
    out = str(tmp_path / "jsonld")
    write_fragment_files(routed(graphed, ".jsonld"), out, "application/ld+json").collect()
    back = read_rdf(spark, f"{out}/a.jsonld").select("s", "o", "g").collect()
    assert sorted((r.s, r.o, r.g) for r in back) == [
        ("http://ex.org/a", "gv", "http://g.org/1"),
        ("http://ex.org/a", "http://ex.org/x", None),
        ("http://ex.org/a", "v1", None),
    ]

    # unknown formats fail fast
    with _pytest.raises(ValueError, match="unsupported outputFormat"):
        write_fragment_files(routed(base, ".nq"), str(tmp_path / "x"), "text/html")

    # one writer task, 2-row Arrow batches: every format's files still hold
    # exactly their fragment's quads, and the counts match
    from tests.conftest import (
        BOUNDARY_SIZES,
        SMALL_ARROW_BATCHES,
        batch_boundary_quads,
        sql_conf,
        term_multiset,
    )

    for fmt, ext, graphs in [
        ("application/n-quads", ".nq", True),
        ("application/n-triples", ".nt", False),
        ("application/trig", ".trig", True),
        ("application/ld+json", ".jsonld", True),
    ]:
        rows = quads_df(spark, batch_boundary_quads(graphs)).collect()
        out = str(tmp_path / "boundary" / ext[1:])
        with sql_conf(spark, SMALL_ARROW_BATCHES):
            written = write_fragment_files(routed(rows, ext), out, fmt).collect()
        assert sorted((r.path, r.n_quads) for r in written) == sorted(
            (name + ext, n) for name, n in BOUNDARY_SIZES.items()
        ), fmt
        for name in BOUNDARY_SIZES:
            want = term_multiset(r for r in rows if r.s == f"http://ex.org/{name}")
            assert term_multiset(read_rdf(spark, f"{out}/{name}{ext}").collect()) == want, (
                fmt,
                name,
            )

    # the append writer adds to the files: two calls double every file
    from rdf_dataset_fragmenter_js_spark.sinks.paths import append_fragment_nquads

    rows = quads_df(spark, batch_boundary_quads(True)).collect()
    out = str(tmp_path / "boundary" / "append")
    for _ in range(2):
        with sql_conf(spark, SMALL_ARROW_BATCHES):
            written = append_fragment_nquads(routed(rows, ".nq"), out).collect()
        assert sorted((r.path, r.n_quads) for r in written) == sorted(
            (name + ".nq", n) for name, n in BOUNDARY_SIZES.items()
        )
    for name in BOUNDARY_SIZES:
        want = term_multiset(r for r in rows if r.s == f"http://ex.org/{name}")
        got = term_multiset(read_rdf(spark, f"{out}/{name}.nq").collect())
        assert got == want + want, name


def test_pipeline_spec_turtle_output(spark, tmp_path):
    """outputFormat text/turtle flows through the config compiler."""
    from rdf_dataset_fragmenter_js_spark.plans.pipeline import run_pipeline_spec
    from rdf_dataset_fragmenter_js_spark.sources.nquads import read_rdf

    src = tmp_path / "in.nt"
    src.write_text(
        "<http://ex.org/a> <http://ex.org/p> <http://ex.org/x> .\n"
        '<http://ex.org/b> <http://ex.org/p> "v" .\n'
    )
    spec = {
        "quadSource": {"@type": "QuadSourceFile", "filePath": str(src)},
        "fragmentationStrategy": {"@type": "FragmentationStrategySubject"},
        "quadSink": {
            "@type": "QuadSinkFile",
            "outputFormat": "text/turtle",
            "iriToPath": {"^http://ex\\.org/": ""},
            "fileExtension": ".ttl",
        },
    }
    out = str(tmp_path / "out")
    run_pipeline_spec(spark, spec, out)
    back = read_rdf(spark, f"{out}/b.ttl").collect()
    assert len(back) == 1 and back[0].o == "v"


def test_sink_csv_file_scheme_uri(spark, tmp_path):
    """file: URIs are local: the driver-side merge must target the real
    path, not a literal './file:...' directory."""
    from rdf_dataset_fragmenter_js_spark.sinks.paths import sink_csv
    from rdf_dataset_fragmenter_js_spark.strategies import route_subject

    quads = quads_df(
        spark, [quad("http://ex.org/a", "http://ex.org/p", "v", o_type="Literal")]
    )
    out = tmp_path / "csv_out"
    sink_csv(route_subject(quads), ["subject", "object"], f"file:{out}")
    merged = out / "part-00000-merged.csv"
    assert merged.exists()
    lines = merged.read_text().strip().splitlines()
    assert lines[0] == "subject,object" and "http://ex.org/a" in lines[1]


def test_remap_validate_ignores_literal_type_objects(spark):
    """validate() applies the same o_type filter as resource_table: a
    literal rdf:type object never registers a resource, so it must not be
    reported as non-finalized."""
    from rdf_dataset_fragmenter_js_spark.operators.stateful import (
        RemapResourceIdentifier,
    )

    remap = RemapResourceIdentifier("#Post", "Post$", "hasId$", "hasCreator$")
    df = quads_df(
        spark,
        [
            quad("ex:post1", RDF_TYPE, "ex:Post", seq=1),
            quad("ex:post1", "ex:hasId", "7", o_type="Literal", seq=2),
            quad("ex:post1", "ex:hasCreator", "ex:alice", seq=3),
            # literal-typed 'Post' — ignored by resource_table, must be
            # ignored by validate too
            quad("ex:ghost", RDF_TYPE, "ex:Post", o_type="Literal", seq=4),
        ],
    )
    remap.validate(df)  # must not raise
