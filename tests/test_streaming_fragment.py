"""Incremental pipeline execution: Structured Streaming over an append-only
N-Quads directory with checkpoint resume (the reference's one-pass
stream-processing nature + eagerFlushing state scope, re-expressed as
foreachBatch micro-batches)."""

from __future__ import annotations

import pytest


def _await(q):
    q.awaitTermination(120)


def test_stream_pipeline_incremental_and_resumable(spark, tmp_path):
    from rdf_dataset_fragmenter_js_spark.streaming.fragment import stream_pipeline_spec

    src = tmp_path / "incoming"
    src.mkdir()
    (src / "a.nq").write_text(
        "<http://ex.org/s1> <http://ex.org/p> <http://ex.org/o1> .\n"
        "<http://ex.org/s2> <http://ex.org/p> <http://ex.org/o2> .\n"
    )
    spec = {
        "quadSource": {"@type": "QuadSourceFile", "filePath": str(src)},
        "transformers": [
            {
                "@type": "QuadTransformerReplaceIri",
                "searchRegex": "^http://ex\\.org",
                "replacementString": "http://pods.local",
            }
        ],
        "fragmentationStrategy": {"@type": "FragmentationStrategySubject"},
        "quadSink": {
            "@type": "QuadSinkFile",
            "outputFormat": "parquet",
            "iriToPath": {"^http://pods\\.local/": "frags/"},
        },
    }
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    _await(stream_pipeline_spec(spark, spec, out, ckpt))
    first = spark.read.parquet(out)
    assert first.count() == 2
    assert {r.path for r in first.select("path").distinct().collect()} == {
        "frags/s1",
        "frags/s2",
    }

    # append a new file; a resumed run processes ONLY it (checkpoint skips a.nq)
    (src / "b.nq").write_text(
        "<http://ex.org/s3> <http://ex.org/p> <http://ex.org/o3> .\n"
    )
    _await(stream_pipeline_spec(spark, spec, out, ckpt))
    second = spark.read.parquet(out)
    assert second.count() == 3  # 2 + 1, not 2 + 3 (no reprocessing)
    assert {r.s for r in second.collect()} == {
        "http://pods.local/s1",
        "http://pods.local/s2",
        "http://pods.local/s3",
    }

    # idempotent when nothing new arrived
    _await(stream_pipeline_spec(spark, spec, out, ckpt))
    assert spark.read.parquet(out).count() == 3


def test_stream_empty_dir_needs_explicit_format(spark, tmp_path):
    """A pre-created EMPTY landing directory cannot be sniffed (a stream
    fixes its reader at start) — hard error without a format pin, streams
    fine with the child-spec ``format`` key."""
    import pytest

    from rdf_dataset_fragmenter_js_spark.streaming.fragment import (
        stream_pipeline_spec,
    )

    src = tmp_path / "landing"
    src.mkdir()  # empty at stream start
    spec = {
        "quadSource": {"@type": "QuadSourceFile", "filePath": str(src)},
        "fragmentationStrategy": {"@type": "FragmentationStrategySubject"},
        "quadSink": {
            "@type": "QuadSinkFile",
            "outputFormat": "parquet",
            "iriToPath": {"^http://ex\\.org/": "frags/"},
        },
    }
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    with pytest.raises(ValueError, match="format"):
        stream_pipeline_spec(spark, spec, out, ckpt)
    with pytest.raises(ValueError, match="not a recognized"):
        bad = dict(spec, quadSource=dict(spec["quadSource"], format="xyz"))
        stream_pipeline_spec(spark, bad, out, ckpt)

    spec["quadSource"]["format"] = "nquads"
    (src / "a.nq").write_text(
        "<http://ex.org/s1> <http://ex.org/p> <http://ex.org/o1> .\n"
    )
    _await(stream_pipeline_spec(spark, spec, out, ckpt))
    assert spark.read.parquet(out).count() == 1


def test_stream_hdt_dir(spark, tmp_path):
    """A directory of .hdt files streams through the per-file reader (the
    same source-format table as the batch read) with every quad written."""
    from rdf_dataset_fragmenter_js_spark.sinks.hdt import build_hdt
    from rdf_dataset_fragmenter_js_spark.streaming.fragment import stream_pipeline_spec

    src = tmp_path / "hdts"
    src.mkdir()
    for i in range(2):
        (src / f"part{i}.hdt").write_bytes(
            build_hdt(
                [
                    ("NamedNode", f"http://ex.org/s{i}", "http://ex.org/p",
                     "NamedNode", f"http://ex.org/o{i}", None, None),
                    ("NamedNode", f"http://ex.org/s{i}", "http://ex.org/q",
                     "Literal", f"v{i}", None, None),
                ]
            )
        )
    spec = {
        "quadSource": {"@type": "QuadSourceFile", "filePath": str(src)},
        "fragmentationStrategy": {"@type": "FragmentationStrategySubject"},
        "quadSink": {
            "@type": "QuadSinkFile",
            "outputFormat": "parquet",
            "iriToPath": {"^http://ex\\.org/": "frags/"},
        },
    }
    out = str(tmp_path / "out")
    _await(stream_pipeline_spec(spark, spec, out, str(tmp_path / "ckpt")))
    rows = spark.read.parquet(out).collect()
    assert sorted((r.s, r.p, r.o, r.path) for r in rows) == [
        ("http://ex.org/s0", "http://ex.org/p", "http://ex.org/o0", "frags/s0"),
        ("http://ex.org/s0", "http://ex.org/q", "v0", "frags/s0"),
        ("http://ex.org/s1", "http://ex.org/p", "http://ex.org/o1", "frags/s1"),
        ("http://ex.org/s1", "http://ex.org/q", "v1", "frags/s1"),
    ]


def test_stream_composite_sources_and_nquads_sink(spark, tmp_path):
    """Round-3 breadth: a QuadSourceComposite of two append-only dirs (one
    with baseIRI) streamed into the per-fragment N-Quads file layout, with
    checkpoint resume appending (not rewriting) fragment files."""
    from rdf_dataset_fragmenter_js_spark.sources.nquads import read_nquads
    from rdf_dataset_fragmenter_js_spark.streaming.fragment import stream_pipeline_spec

    a = tmp_path / "src_a"
    b = tmp_path / "src_b"
    a.mkdir(), b.mkdir()
    (a / "1.nq").write_text("<http://ex.org/s1> <http://ex.org/p> <http://ex.org/o1> .\n")
    (b / "1.nq").write_text("<s2> <http://ex.org/p> <o2> .\n")  # relative, needs baseIRI
    spec = {
        "quadSource": {
            "@type": "QuadSourceComposite",
            "sources": [
                {"@type": "QuadSourceFile", "filePath": str(a)},
                {
                    "@type": "QuadSourceFile",
                    "filePath": str(b),
                    "baseIRI": "http://ex.org/",
                },
            ],
        },
        "fragmentationStrategy": {"@type": "FragmentationStrategySubject"},
        "quadSink": {
            "@type": "QuadSinkFile",
            "iriToPath": {"^http://ex\\.org/": "frags/"},
            "fileExtension": ".nq",
        },
    }
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream_pipeline_spec(spark, spec, out, ckpt).awaitTermination(120)

    got = read_nquads(spark, out + "/frags/*.nq")
    assert {(r.s, r.o) for r in got.collect()} == {
        ("http://ex.org/s1", "http://ex.org/o1"),
        ("http://ex.org/s2", "http://ex.org/o2"),
    }

    # incremental append: a new file for an EXISTING fragment must append
    (a / "2.nq").write_text("<http://ex.org/s1> <http://ex.org/p> <http://ex.org/o3> .\n")
    stream_pipeline_spec(spark, spec, out, ckpt).awaitTermination(120)
    s1_lines = (tmp_path / "out" / "frags" / "s1.nq").read_text().strip().splitlines()
    assert len(s1_lines) == 2  # appended, not rewritten


def test_sessionize_stateful_apply_in_pandas_with_state(spark, tmp_path):
    """Custom stateful streaming op (applyInPandasWithState): closed
    sessions emit on gap, per-user state survives a query restart through
    the checkpointed state store."""
    import json

    from rdf_dataset_fragmenter_js_spark.streaming.sessions import sessionize_stateful

    src = tmp_path / "events"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, event_id long, ts timestamp"

    def run():
        stream = spark.readStream.schema(schema).json(str(src))
        q = (
            # hour-long processing-time timeout: batches on this shared host
            # can be minutes apart, and a fired timeout flushes open
            # sessions — this test pins the GAP-close + state-restore path
            sessionize_stateful(stream, gap_seconds=1800, state_timeout_ms=3_600_000)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    (src / "a.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"user_id": 1, "event_id": 1, "ts": "2026-01-01 10:00:00"},
                {"user_id": 1, "event_id": 2, "ts": "2026-01-01 10:10:00"},
                {"user_id": 2, "event_id": 3, "ts": "2026-01-01 10:00:00"},
            ]
        )
    )
    run()  # no gaps crossed yet -> nothing closed, state persisted

    (src / "b.json").write_text(
        json.dumps({"user_id": 1, "event_id": 4, "ts": "2026-01-01 11:30:00"})
        + "\n"
        + json.dumps({"user_id": 2, "event_id": 5, "ts": "2026-01-01 10:05:00"})
    )
    run()  # user 1's 80-min gap closes the RESTORED session [10:00, 10:10]

    rows = spark.read.parquet(out).collect()
    closed = [(r.user_id, r.session_end - r.session_start, r.n_events) for r in rows]
    assert closed == [(1, 600.0, 2)]  # 10-minute session, 2 events


def test_stream_turtle_output_appends_and_trig_rejected(spark, tmp_path):
    """Round-4: line formats (text/turtle) append legally per micro-batch;
    whole-file formats (TriG/JSON-LD) fail fast."""
    from rdf_dataset_fragmenter_js_spark.sources.nquads import read_rdf
    from rdf_dataset_fragmenter_js_spark.streaming.fragment import (
        stream_pipeline_spec,
    )

    src = tmp_path / "in"
    src.mkdir()
    (src / "a.nt").write_text("<http://ex.org/a> <http://ex.org/p> <http://ex.org/x> .\n")
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
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = stream_pipeline_spec(spark, spec, out, ckpt)
    q.awaitTermination(120)
    (src / "b.nt").write_text("<http://ex.org/a> <http://ex.org/p> \"v2\" .\n")
    q = stream_pipeline_spec(spark, spec, out, ckpt)
    q.awaitTermination(120)
    back = read_rdf(spark, f"{out}/a.ttl").select("o").collect()
    assert sorted(r.o for r in back) == ["http://ex.org/x", "v2"]

    bad = dict(spec, quadSink=dict(spec["quadSink"], outputFormat="application/trig"))
    with pytest.raises(NotImplementedError, match="line-appendable"):
        stream_pipeline_spec(spark, bad, str(tmp_path / "o2"), str(tmp_path / "c2"))
