"""North-rule end-to-end checks (BASELINE.md):

* byte-identical extracted text per url vs the ground-truth `text` column;
* triple P/R ≥ 0.95 vs the frozen single-threaded reference extractor;
* canonicalization merges alias surface forms;
* fragment write produces manifest with lineage + row counts, and resume
  skips committed fragments."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdf_dataset_fragmenter_js_spark.kg.canonicalize import (
    _canonical_mapping_distributed,
    _normalized_forms,
    apply_canonicalization,
    canonical_mapping,
    normalize_surface_col,
)
from rdf_dataset_fragmenter_js_spark.kg.extract import (
    extract_text,
    extract_triples,
    reference_extract_triples,
)
from rdf_dataset_fragmenter_js_spark.kg.pipeline import build_quads, fragment_and_write
from rdf_dataset_fragmenter_js_spark.kg.webpages import alias_to_canonical, synthetic_webpages

N_PAGES = 200


@pytest.fixture(scope="module")
def pages(spark):
    return synthetic_webpages(spark, N_PAGES, pods=10).cache()


def test_text_extraction_byte_identical(spark, pages):
    texts = extract_text(pages)
    joined = texts.join(pages.select("url", "text"), on="url")
    mismatches = joined.filter(
        F.col("extracted_text").cast("binary") != F.col("text").cast("binary")
    ).count()
    assert mismatches == 0
    assert texts.count() == N_PAGES


def test_triples_pr_vs_reference(spark, pages):
    # reference: frozen single-threaded extractor over collected pages
    raw = [(r.url, bytes(r.html)) for r in pages.select("url", "html").collect()]
    ref = set(reference_extract_triples(raw))

    got_rows = extract_triples(extract_text(pages)).collect()
    got = {(r.url, r.subj_surface, r.pred, r.obj_surface) for r in got_rows}

    tp = len(got & ref)
    precision = tp / max(len(got), 1)
    recall = tp / max(len(ref), 1)
    assert precision >= 0.95, f"precision {precision}"
    assert recall >= 0.95, f"recall {recall}"
    assert len(ref) >= N_PAGES  # every page contributes at least 1 SVO


def test_vectorized_text_extraction_matches_frozen_rules():
    """The series-vectorized extractor must be byte-identical to the frozen
    per-row rules on adversarial inputs (entities, missing article, invalid
    utf-8, nested tags, multiline bodies, empty pages)."""
    import pandas as pd

    from rdf_dataset_fragmenter_js_spark.kg.extract import (
        _extract_text_series,
        extract_text_bytes,
    )

    pages = [
        b"<html><article><p>Alice &amp; Bob &copy; 2026 &#65;</p></article></html>",
        b"<html><body>no article here</body></html>",
        b"<html><article>bad utf8 \xff\xfe inside</article></html>",
        b"<html><article><div><span>nested</span> tags</div></article></html>",
        b"<html><article>line one\nline two\n</article></html>",
        b"",
        b"<article></article>",
        b"<article>A &lt;tag&gt; survives unescape</article>",
        "<article>unicode café — ok</article>".encode(),
    ]
    got = _extract_text_series(pd.Series(pages)).tolist()
    want = [extract_text_bytes(p) for p in pages]
    assert got == want


def test_canonicalization_merges_aliases(spark):
    rows = [("Alice Johnson",), ("A. Johnson",), ("Alice R. Johnson",), ("Bob Smith",), ("B. Smith",)]
    mentions = spark.createDataFrame(rows, ["surface"])
    mapping = {r.norm: r.canonical_id for r in canonical_mapping(mentions).collect()}
    # all Alice variants normalize/cluster to one id, Bob variants to another
    alice_ids = {mapping["alice johnson"], mapping["johnson"]}
    assert len(alice_ids) <= 2  # 'a. johnson' normalizes to 'johnson'
    assert mapping["alice johnson"] == mapping["johnson"], mapping


def test_canonicalization_driver_and_distributed_paths_agree(spark):
    """The driver fast path and the fully distributed plan must produce the
    identical mapping (same blocking, containment, CC, representative)."""
    rows = [
        ("Alice Johnson",), ("A. Johnson",), ("Alice R. Johnson",),
        ("Bob Smith",), ("B. Smith",), ("Carol Diaz",), ("C. Diaz",),
        ("Acme Corp",), ("Acme Corporation",), ("Springfield",),
        ("Emma Brown",), ("E. Brown",), ("Umbrella Co",), ("Umbrella Company",),
    ]
    mentions = spark.createDataFrame(rows, ["surface"])
    via_driver = {(r.norm, r.canonical_id) for r in canonical_mapping(mentions).collect()}
    via_cluster = {
        (r.norm, r.canonical_id)
        for r in _canonical_mapping_distributed(
            _normalized_forms(mentions, "surface"), 0.7
        ).collect()
    }
    assert via_driver == via_cluster


def test_surface_keyed_and_norm_keyed_application_agree(spark, pages):
    """The scale path (dedup raw surfaces → broadcast join, no corpus-side
    regex) must produce the same canonical ids as the norm-keyed path."""
    from pyspark.sql import functions as F

    from rdf_dataset_fragmenter_js_spark.kg.canonicalize import (
        apply_surface_canonicalization,
        surface_canonical_mapping,
    )
    from rdf_dataset_fragmenter_js_spark.kg.extract import extract_page_triples

    triples = extract_page_triples(pages).cache()
    mentions = triples.select(F.col("subj_surface").alias("surface")).unionByName(
        triples.select(F.col("obj_surface").alias("surface"))
    )
    via_norm = apply_canonicalization(triples, canonical_mapping(mentions))
    via_surface = apply_surface_canonicalization(
        triples, surface_canonical_mapping(mentions)
    )
    cols = ["url", "subj_id", "pred", "obj_id"]
    a = sorted(tuple(r) for r in via_norm.select(*cols).collect())
    b = sorted(tuple(r) for r in via_surface.select(*cols).collect())
    assert a == b
    triples.unpersist()


def test_end_to_end_quads_and_canonical_entities(spark, pages):
    quads = build_quads(pages)
    rows = quads.collect()
    assert len(rows) >= N_PAGES  # ≥1 triple per page
    subjects = {r.s for r in rows}
    # canonical entity IRIs — aliases merged: no 'r_johnson'-style variants
    assert all(s.startswith("http://kg.ex.org/entity/") for s in subjects)
    canon = set(alias_to_canonical().values())
    ids = {s.rsplit("/", 1)[1] for s in subjects}
    # every emitted subject is one of the ground-truth canonical entities
    unexpected = ids - canon
    assert not unexpected, unexpected


def test_fragment_write_manifest_and_resume(spark, pages, tmp_path):
    out = str(tmp_path / "kg_out")
    quads = build_quads(pages).cache()
    metrics = fragment_and_write(quads, out)
    assert metrics["fragments"] > 0
    assert metrics["rows"] > 0
    manifest = spark.read.parquet(f"{out}/_manifest")
    assert {"fragment", "row_count", "min_seq", "max_seq"} <= set(manifest.columns)
    total = manifest.agg(F.sum("row_count")).collect()[0][0]
    assert total == metrics["rows"]
    # resume: second run adds nothing new (all fragments committed)
    metrics2 = fragment_and_write(quads, out)
    assert metrics2["rows"] == metrics["rows"]
    quads.unpersist()


def test_read_pages_contract(spark, pages, tmp_path):
    from rdf_dataset_fragmenter_js_spark.kg.webpages import read_pages

    src = str(tmp_path / "pages_pq")
    pages.write.mode("overwrite").parquet(src)
    df = read_pages(spark, src, format="parquet")
    assert {"url", "warc_ts", "html", "text", "lang"} <= set(df.columns)
    assert df.count() == pages.count()

    bad = str(tmp_path / "bad_pq")
    pages.drop("html").write.mode("overwrite").parquet(bad)
    with pytest.raises(ValueError, match="missing required columns.*html"):
        read_pages(spark, bad, format="parquet")
    with pytest.raises(ValueError, match="unsupported page-table format"):
        read_pages(spark, src, format="csv")


def test_entity_link_scoring_links_aliases(spark):
    """Every alias surface links to its ground-truth canonical entity via
    token blocking + trigram-Jaccard argmax (the north-rule link-scoring
    stage)."""
    from rdf_dataset_fragmenter_js_spark.kg.link import link_mentions
    from rdf_dataset_fragmenter_js_spark.kg.webpages import CITIES, ORGS, PERSONS

    truth = {
        a: c for pool in (PERSONS, ORGS, CITIES) for c, als in pool for a in als
    }
    mentions = spark.createDataFrame([(a,) for a in truth], "mention string")
    ents = spark.createDataFrame(
        [(c, c.replace("_", " ")) for pool in (PERSONS, ORGS, CITIES) for c, _ in pool],
        "entity_id string, name string",
    )
    linked = {r.mention: r.entity_id for r in link_mentions(mentions, ents, threshold_bp=2000).collect()}
    assert linked == truth
    # blocked and unblocked scoring agree on the argmax
    linked_full = {
        r.mention: r.entity_id
        for r in link_mentions(mentions, ents, threshold_bp=2000, block=False).collect()
    }
    assert linked_full == truth


def test_fragment_write_skew_salt(spark, pages, tmp_path):
    """skew_salt spreads a hot fragment's rows over multiple directory
    buckets (no single write task owns a popular subject) while the
    dataset content and the lineage manifest stay identical."""
    from rdf_dataset_fragmenter_js_spark.kg.pipeline import build_quads, fragment_and_write

    quads = build_quads(pages)
    plain_dir, salted_dir = str(tmp_path / "plain"), str(tmp_path / "salted")
    m_plain = fragment_and_write(quads, plain_dir)
    m_salted = fragment_and_write(build_quads(pages), salted_dir, skew_salt=4)
    assert m_salted["rows"] == m_plain["rows"]
    assert m_salted["fragments"] == m_plain["fragments"]

    import pyspark.sql.functions as F

    plain = spark.read.parquet(plain_dir + "/fragments")
    salted = spark.read.parquet(salted_dir + "/fragments")
    # identical quads (bucket is a shard, not identity)
    cols = ["doc", "s", "p", "o", "g"]
    assert sorted(map(tuple, plain.select(cols).collect())) == sorted(
        map(tuple, salted.select(cols).collect())
    )
    # the hottest fragment occupies >1 bucket when salted, exactly 1 plain
    hot = (
        salted.groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("bucket").alias("nb"))
        .orderBy(F.desc("n"))
        .first()
    )
    assert hot["nb"] > 1
    assert (
        plain.filter(F.col("doc") == hot["doc"]).select("bucket").distinct().count() == 1
    )
