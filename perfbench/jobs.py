"""The three benchmark jobs and their output checks.

A job goes from generated input files to written output through the
package's public entry points. A check reads the output back without Spark
and compares it with the generator's ground truth; it raises
:class:`CheckFailed` on any mismatch and otherwise returns the job's output
row count.
"""

from __future__ import annotations

import os
import re
from collections import Counter

import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen


class CheckFailed(Exception):
    pass


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, every file counted (manifests,
    markers and checksum files included)."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def sample_indices(seed: int, n: int, k: int) -> list[int]:
    rng = np.random.default_rng(seed + 7919)
    return sorted(int(x) for x in rng.choice(n, size=min(k, n), replace=False))


# ---------------------------------------------------------------------------
# kg_crawl
# ---------------------------------------------------------------------------

ENTITY_NS = "http://kg.ex.org/entity/"
REL_NS = "http://kg.ex.org/rel/"
_NON_ALPHA = re.compile(r"[^a-z ]")


def normalize_surface(s: str) -> str:
    """The documented normalisation rule: lowercase, keep a-z and spaces,
    drop one-letter tokens (initials)."""
    return " ".join(t for t in _NON_ALPHA.sub("", s.lower()).split(" ") if len(t) > 1)


def run_kg(spark, inp: str, out: str, params: dict) -> None:
    from rdf_dataset_fragmenter_js_spark.kg.pipeline import build_quads, fragment_and_write
    from rdf_dataset_fragmenter_js_spark.kg.webpages import read_pages

    fragment_and_write(build_quads(read_pages(spark, os.path.join(inp, "pages"))), out)


def kg_sample(inp: str, truth: dict, seed: int, params: dict) -> dict:
    """Expected quads of the sampled pages, from the frozen reference
    extractor mapped through the generator's canonical ids, plus the
    sampled pages' html and expected text."""
    from rdf_dataset_fragmenter_js_spark.kg.extract import reference_extract_triples

    idx = set(sample_indices(seed, truth["pages"], params["check_sample_pages"]))
    t = pq.read_table(os.path.join(inp, "pages"), columns=["url", "html", "text"])
    rows = [
        (u, h, x)
        for i, (u, h, x) in enumerate(
            zip(t["url"].to_pylist(), t["html"].to_pylist(), t["text"].to_pylist())
        )
        if i in idx
    ]
    long_form = set(truth["org_long_form"])
    triples = reference_extract_triples([(u, h) for u, h, _ in rows])
    per_page = Counter(u for u, *_ in triples)
    for u, *_ in rows:
        page = int(u.rsplit("/", 1)[1])
        expect(
            per_page[u] == truth["triples_per_page"][page],
            f"reference extractor found {per_page[u]} triples on {u}, "
            f"generator wrote {truth['triples_per_page'][page]}",
        )
    quads = Counter(
        (
            ENTITY_NS + gen.kg_canonical_id(normalize_surface(s), long_form),
            REL_NS + p,
            ENTITY_NS + gen.kg_canonical_id(normalize_surface(o), long_form),
            u,
        )
        for u, s, p, o in triples
    )
    return {"rows": rows, "quads": quads}


def check_kg_text(spark, sample: dict) -> None:
    """The package's Arrow text extraction on the sampled pages is
    byte-identical to the frozen ``extract_text_bytes`` and to the
    generator's text."""
    from rdf_dataset_fragmenter_js_spark.kg.extract import extract_text, extract_text_bytes

    rows = sample["rows"]
    df = spark.createDataFrame(
        [(u, None, h, "en") for u, h, _ in rows],
        "url string, warc_ts timestamp, html binary, lang string",
    )
    got = {r.url: r.extracted_text for r in extract_text(df).collect()}
    for u, h, text in rows:
        expect(got.get(u) == extract_text_bytes(h) == text, f"extracted text differs on {u}")


def check_kg(out: str, truth: dict, sample: dict) -> int:
    manifest = pq.read_table(os.path.join(out, "_manifest")).to_pydict()
    rows = sum(manifest["row_count"])
    expect(rows == truth["quads"], f"manifest rows {rows} != quads {truth['quads']}")
    frags = len(set(manifest["fragment"]))
    expect(
        frags == len(manifest["fragment"]) == truth["fragments"],
        f"manifest fragments {frags} != distinct subjects {truth['fragments']}",
    )
    stored = ds.dataset(os.path.join(out, "fragments"), partitioning="hive").count_rows()
    expect(stored == rows, f"fragment files hold {stored} quads, manifest says {rows}")
    urls = sorted({q[3] for q in sample["quads"]})
    got = pq.read_table(
        os.path.join(out, "fragments"), columns=["s", "p", "o", "g"], filters=[("g", "in", urls)]
    ).to_pydict()
    got_quads = Counter(zip(got["s"], got["p"], got["o"], got["g"]))
    expect(got_quads == sample["quads"], "sampled pages' quads differ from the reference extractor")
    return rows


# ---------------------------------------------------------------------------
# solidbench_fragment
# ---------------------------------------------------------------------------

_TERM = re.compile(r'<[^>]*>|_:\S+|"[^"]*"(?:\^\^<[^>]*>|@[A-Za-z0-9-]+)?')


def run_solidbench(spark, inp: str, out: str, params: dict) -> None:
    from rdf_dataset_fragmenter_js_spark.plans.pipeline import run_pipeline_spec

    run_pipeline_spec(spark, gen.solidbench_spec(inp), out)


def solidbench_sample(truth: dict, seed: int, params: dict) -> list[str]:
    """The largest documents (hot pods) plus a seeded random draw."""
    docs = sorted(truth["doc_quads"])
    by_size = sorted(docs, key=lambda d: (-len(truth["doc_quads"][d]), d))
    k = params["check_sample_docs"]
    rand = [docs[i] for i in sample_indices(seed, len(docs), k)]
    return sorted(set(by_size[: k // 4] + rand))


def check_solidbench(out: str, truth: dict, sample: list[str]) -> int:
    files, _ = dir_stats(out)
    expect(files == truth["documents"], f"{files} files != {truth['documents']} documents")
    lines = count_lines(out)
    expect(lines == truth["output_quads"], f"{lines} quads written != {truth['output_quads']}")
    for rel in sample:
        path = os.path.join(out, rel)
        expect(os.path.isfile(path), f"missing document file {rel}")
        with open(path) as f:
            got = sorted(tuple(_TERM.findall(line)) for line in f if line.strip())
        want = [tuple(q) for q in truth["doc_quads"][rel]]
        expect(got == want, f"quad multiset of {rel} differs ({len(got)} vs {len(want)} quads)")
    return lines


def count_lines(out: str) -> int:
    n = 0
    for dirpath, _, names in os.walk(out):
        for name in names:
            with open(os.path.join(dirpath, name), "rb") as f:
                n += sum(1 for line in f if line.strip())
    return n


# ---------------------------------------------------------------------------
# corpus_prep
# ---------------------------------------------------------------------------


def run_corpus(spark, inp: str, out: str, params: dict) -> None:
    from pyspark.sql import functions as F

    from rdf_dataset_fragmenter_js_spark.textops.corpus import prepare_corpus
    from rdf_dataset_fragmenter_js_spark.textops.dedup import (
        lsh_candidate_pairs,
        near_dup_clusters,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(os.path.join(inp, "docs"))
    evals = spark.read.parquet(os.path.join(inp, "eval"))
    near = verified_pairs(ngram_jaccard_pairs(docs, lsh_candidate_pairs(docs)), params)
    clusters = near_dup_clusters(near)
    non_rep = clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    kept = docs.join(non_rep, "doc_id", "left_anti")
    prepare_corpus(kept, evals, budget_tokens=params["budget_tokens"]).write.mode(
        "overwrite"
    ).parquet(out)


def verified_pairs(scored, params: dict):
    """The LSH candidates whose shingle Jaccard reaches the near-duplicate
    threshold; banding also pairs a few unrelated documents, which must not
    be clustered."""
    from pyspark.sql import functions as F

    return scored.where(F.col("jaccard_bp") >= params["near_dup_jaccard_bp"]).select(
        "doc_a", "doc_b"
    )


def expected_shards(tokens: list[int], budget: int) -> list[int]:
    """Fixed-order greedy packing: a document starts a new shard once the
    running total before it has used up the budget."""
    out, cum = [], 0
    for t in tokens:
        out.append(cum // budget)
        cum += t
    return out


def check_corpus(out: str, truth: dict, params: dict) -> int:
    got = pq.read_table(out).to_pydict()
    ids = got["doc_id"]
    survivors = dict(zip(truth["survivors"], zip(truth["survivor_tokens"], truth["survivor_streams"])))
    dropped = {d for v in truth["dropped"].values() for d in v}
    leaked = sorted(set(ids) & dropped)
    expect(not leaked, f"injected duplicate/contaminated/low-quality docs survived: {leaked[:5]}")
    unknown = sorted(set(ids) - set(survivors))
    expect(not unknown, f"unknown doc ids in output: {unknown[:5]}")
    lost = sorted(set(survivors) - set(ids))
    expect(not lost, f"{len(lost)} clean documents lost, e.g. {lost[:5]}")
    expect(len(set(ids)) == len(ids), "a document was packed twice")
    budget = params["budget_tokens"]
    streams: dict[str, list] = {}
    for d, s, n, sh in zip(ids, got["stream"], got["n_tokens"], got["shard_id"]):
        expect((n, s) == survivors[d], f"doc {d}: tokens/stream {(n, s)} != {survivors[d]}")
        streams.setdefault(s, []).append((d, n, sh))
    for s, rows in streams.items():
        rows.sort()
        want = expected_shards([r[1] for r in rows], budget)
        expect([r[2] for r in rows] == want, f"stream {s}: shard ids differ from greedy packing")
        shard_tokens: dict[int, list[int]] = {}
        for _, n, sh in rows:
            shard_tokens.setdefault(sh, []).append(n)
        for sh, toks in shard_tokens.items():
            # every document starts inside its shard's budget
            expect(sum(toks[:-1]) < budget, f"stream {s} shard {sh} overruns the token budget")
    return len(ids)
