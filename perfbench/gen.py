"""Seeded input generators for the three workloads.

Each generator is plain Python + numpy + pyarrow (no Spark), writes its
input files under ``out_dir`` and an ``expected.json`` with the ground
truth beside them, and returns the same truth as a dict for the checks.
The same ``(seed, params)`` always gives byte-identical inputs.
"""

from __future__ import annotations

import functools
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# shared helpers
# ---------------------------------------------------------------------------


def zipf_weights(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def zipf_draw(rng: np.random.Generator, n: int, s: float, size: int) -> np.ndarray:
    """Draw ``size`` indices in [0, n) where a seeded permutation decides
    which index is hot (rank 1), so the hot entities change with the seed."""
    ranks = rng.choice(n, size=size, p=zipf_weights(n, s))
    return rng.permutation(n)[ranks]


def write_table(path: str, columns: dict, n_files: int) -> int:
    """Write ``columns`` as ``n_files`` parquet files under ``path`` (a
    directory), row-contiguous slices. Returns bytes written."""
    os.makedirs(path, exist_ok=True)
    table = pa.table(columns)
    n = table.num_rows
    total = 0
    for k in range(n_files):
        lo, hi = n * k // n_files, n * (k + 1) // n_files
        f = os.path.join(path, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), f)
        total += os.path.getsize(f)
    return total


def write_expected(out_dir: str, truth: dict) -> None:
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)


# ---------------------------------------------------------------------------
# kg_crawl: Common-Crawl-shaped page table with SVO sentences
# ---------------------------------------------------------------------------

FILLER = (
    "This page is part of a synthetic crawl corpus. "
    "It contains plain declarative statements for extraction testing."
)
#: (slug, phrase, subject kind, object kind, share)
KG_PREDICATES = [
    ("works_for", "works for", "person", "org", 0.30),
    ("founded", "founded", "person", "org", 0.10),
    ("lives_in", "lives in", "person", "city", 0.30),
    ("married", "married", "person", "person", 0.15),
    ("acquired", "acquired", "org", "org", 0.15),
]
_INITIALS = "ABCDEGHJKLMNPRSTW"


def trigrams(s: str) -> frozenset:
    return frozenset(s[i : i + 3] for i in range(max(len(s) - 2, 1)))


def containment(a: frozenset, b: frozenset) -> float:
    return len(a & b) / min(len(a), len(b))


def syllable_words(
    n: int, consonants: str, vowels: str, syllables: int, seed: int, max_shared: int | None = None
) -> list[str]:
    """``n`` distinct capitalised pseudo-words of ``syllables``
    consonant-vowel syllables, none with a repeated trigram, drawn with a
    fixed ``seed``. With ``max_shared``, no two words share more than that
    many trigrams."""
    rng = np.random.default_rng(seed)
    syl = [c + v for c in consonants for v in vowels]
    out: dict[str, frozenset] = {}
    while len(out) < n:
        w = "".join(syl[j] for j in rng.integers(0, len(syl), size=syllables)).capitalize()
        t = trigrams(w.lower())
        if len(t) < len(w) - 2 or w in out:
            continue
        if max_shared is not None and any(len(t & u) > max_shared for u in out.values()):
            continue
        out[w] = t
    return list(out)


# Name part lists. Every seed draws from the same pool; only the Zipf
# ranking and the page content change with the seed. FIRST and LAST use
# disjoint letter sets, so a first and a last name share no trigram;
# organisation stems and cities share at most two trigrams with each other.
# Person tokens have ten letters and the others eight, so no person token
# equals an organisation or city token and ``kg.canonicalize``'s
# first/last-token blocks never mix entity kinds.
FIRST = syllable_words(1600, "bdfgklmnp", "aei", 5, seed=1)
LAST = syllable_words(1600, "rstvzchjw", "ouy", 5, seed=2)
_PLACES = syllable_words(450, "bcdfghklmnprstvz", "aeiou", 4, seed=3, max_shared=2)
ORG_STEMS, CITIES = _PLACES[:300], _PLACES[300:]


@functools.lru_cache(maxsize=2)
def person_pool(n: int, max_containment: float = 0.65) -> list[tuple[str, str]]:
    """``n`` distinct (first, last) pairs spread evenly over both lists (a
    first-name or last-name block holds about ``n / 1600`` persons). A
    candidate is skipped when its full name reaches ``max_containment``
    trigram containment with a person already in one of its blocks, so
    ``kg.canonicalize`` (blocking on first/last token, merge at 0.7) keeps
    every person apart. The pool depends on ``n`` only, not on the seed,
    so it is built once per process."""
    k = len(FIRST)
    pool: list[tuple[str, str]] = []
    blocks: dict[str, list[frozenset]] = {}
    i = 0
    while len(pool) < n:
        f, l = FIRST[i % k], LAST[(i // k + 37 * (i % k)) % len(LAST)]
        i += 1
        t = trigrams(f"{f} {l}".lower())
        if any(
            containment(t, u) >= max_containment
            for b in (f, l)
            for u in blocks.get(b, ())
        ):
            continue
        pool.append((f, l))
        blocks.setdefault(f, []).append(t)
        blocks.setdefault(l, []).append(t)
    return pool


def gen_kg_pages(out_dir: str, seed: int, p: dict) -> dict:
    """Pages ``(url, warc_ts, html, text, lang)``; each article holds
    ``sentences_min..sentences_max`` SVO sentences over Zipfian pools of
    ``persons`` composed names, organisations and cities. Surfaces carry the
    alias forms of ``kg/webpages.py``: middle initials for persons,
    "Stem"/"Stem Inc" for organisations. Every alias normalises to one
    entity, so the canonical id of each entity is known here."""
    rng = np.random.default_rng(seed)
    n_pages = p["pages"]
    persons = person_pool(p["persons"])
    n_sent = rng.integers(p["sentences_min"], p["sentences_max"] + 1, size=n_pages)
    total = int(n_sent.sum())
    shares = np.array([x[4] for x in KG_PREDICATES])
    pred_idx = rng.choice(len(KG_PREDICATES), size=total, p=shares / shares.sum())
    person_draw = zipf_draw(rng, len(persons), p["person_zipf_s"], 2 * total)
    org_draw = zipf_draw(rng, len(ORG_STEMS), p["org_zipf_s"], 2 * total)
    city_draw = zipf_draw(rng, len(CITIES), p["city_zipf_s"], total)
    initial_draw = rng.integers(0, len(_INITIALS), size=2 * total)
    alias_draw = rng.random(size=2 * total)
    entity_page = rng.random(size=n_pages) < p["entity_page_share"]

    def person(k: int):
        f, l = persons[person_draw[k]]
        key = ("person", int(person_draw[k]))
        if alias_draw[k] < p["alias_share"]:
            return f"{f} {_INITIALS[initial_draw[k]]}. {l}", key
        return f"{f} {l}", key

    long_seen: set[int] = set()

    def org(k: int):
        j = int(org_draw[k])
        if alias_draw[k] < p["alias_share"]:
            return ORG_STEMS[j], ("org", j)
        long_seen.add(j)
        return f"{ORG_STEMS[j]} Inc", ("org", j)

    urls, htmls, texts, ts = [], [], [], []
    triples_per_page = []
    quads_by_subject: dict[tuple, int] = {}
    k = 0
    base_ts = np.datetime64("2026-01-01T00:00:00", "us")
    for i in range(n_pages):
        sentences = []
        for _ in range(n_sent[i]):
            slug, phrase, sk, ok, _ = KG_PREDICATES[pred_idx[k]]
            s_surf, s_id = person(2 * k) if sk == "person" else org(2 * k)
            if ok == "person":
                o_surf, _ = person(2 * k + 1)
            elif ok == "org":
                o_surf, _ = org(2 * k + 1)
            else:
                o_surf = CITIES[city_draw[k]]
            sentences.append(f"{s_surf} {phrase} {o_surf}.")
            quads_by_subject[s_id] = quads_by_subject.get(s_id, 0) + 1
            k += 1
        body = " ".join(sentences)
        text = FILLER + " " + body
        html_body = text
        if entity_page[i]:
            # an HTML entity inside the article exercises the unescape path
            text = "Notes & remarks follow. " + text
            html_body = "Notes &amp; remarks follow. " + html_body
        url = f"http://crawl.ex.org/site{i % p['sites']}/page/{i}"
        html = (
            f"<html><head><title>Page {i}</title></head><body>"
            '<nav><a href="/">home</a> | <a href="/about">about</a></nav>'
            f"<article><p>{html_body}</p></article>"
            "<footer>generated corpus &copy; 2026</footer></body></html>"
        )
        urls.append(url)
        htmls.append(html.encode())
        texts.append(text)
        ts.append(base_ts + np.timedelta64(i, "s"))
        triples_per_page.append(int(n_sent[i]))

    os.makedirs(out_dir, exist_ok=True)
    pages_dir = os.path.join(out_dir, "pages")
    input_bytes = write_table(
        pages_dir,
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us")),
            "html": pa.array(htmls, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n_pages, pa.string()),
        },
        p["files"],
    )
    # an organisation's canonical id is its longest surface seen anywhere
    # ("stem inc" when the Inc alias occurs, else "stem")
    truth = {
        "org_long_form": sorted(ORG_STEMS[j].lower() for j in long_seen),
        "pages": n_pages,
        "quads": total,
        "fragments": len(quads_by_subject),
        "hottest_fragment_quads": max(quads_by_subject.values()),
        "triples_per_page": triples_per_page,
        "input_bytes": input_bytes,
    }
    write_expected(out_dir, truth)
    return truth


def kg_canonical_id(normalized: str, org_long_form: set[str]) -> str:
    """Expected canonical id of a normalised surface (lowercase, initials
    dropped): persons keep "first_last", an organisation maps to its
    longest form seen in the input, cities map to themselves."""
    stem = normalized[: -len(" inc")] if normalized.endswith(" inc") else normalized
    if stem in org_long_form:
        return f"{stem}_inc"
    return normalized.replace(" ", "_")


# ---------------------------------------------------------------------------
# solidbench_fragment: LDBC-SNB-shaped N-Quads
# ---------------------------------------------------------------------------

SB_HOST = "http://solidbench.ex/"
SB_VOCAB = SB_HOST + "www.ldbc.eu/ldbc_socialnet/1.0/vocabulary/"
SB_DATA = SB_HOST + "www.ldbc.eu/ldbc_socialnet/1.0/data/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"

#: the reference's own config shape (``config/config-example.json``):
#: posts are remapped into their creator's pod, then fragmented by subject
#: and written as one N-Quads file per document
SB_SPEC_TEMPLATE = {
    "transformers": [
        {
            "@type": "QuadTransformerRemapResourceIdentifier",
            "newIdentifierSeparator": "../posts/",
            "typeRegex": "vocabulary/Post$",
            "identifierPredicateRegex": "vocabulary/id$",
            "targetPredicateRegex": "vocabulary/hasCreator$",
        }
    ],
    "fragmentationStrategy": {"@type": "FragmentationStrategySubject"},
    "quadSink": {
        "@type": "QuadSinkFile",
        "outputFormat": "application/n-quads",
        "fileExtension": ".nq",
        "iriToPath": {"^http://solidbench\\.ex/pods/": "pods/"},
    },
}


def _iri(x: str) -> str:
    return f"<{x}>"


def _lit(x: str, dt: str | None = None) -> str:
    return f'"{x}"^^<{dt}>' if dt else f'"{x}"'


def sb_person_doc(pid: int) -> str:
    return f"{SB_HOST}pods/{pid:08d}/profile/card"


def sb_doc_path(doc: str) -> str:
    """Document IRI → relative output file (the spec's iriToPath)."""
    return "pods/" + doc[len(SB_HOST + "pods/"):] + ".nq"


def gen_solidbench(out_dir: str, seed: int, p: dict) -> dict:
    """Persons in pods with a Zipfian number of posts each (the largest pod
    has ``posts_top``), ``likes`` links
    between persons and posts, and blank-node ``studyAt``/``workAt``
    records: some shared by several persons (bnode quads are copied into
    every owner's document) and some 2-deep (record → organisation bnode).
    Writes ``social/part-*.nq`` plus the expected per-document quad lists."""
    rng = np.random.default_rng(seed)
    n_persons = p["persons"]
    # a fixed Zipf profile (posts_top / rank^s) dealt to persons in seeded
    # order: the hot pods change with the seed, the document count does not
    profile = np.floor(p["posts_top"] / np.arange(1, n_persons + 1) ** p["posts_zipf_s"])
    posts_per = profile.astype(int)[rng.permutation(n_persons)]
    lines: list[str] = []
    docs: dict[str, list[tuple[str, ...]]] = {}

    def add(doc, s, pr, o):
        lines.append(f"{s} {pr} {o} .")
        if doc is not None:
            docs.setdefault(doc, []).append((s, pr, o))

    person_iri = [f"{sb_person_doc(i)}#me" for i in range(n_persons)]
    post_ids: list[tuple[int, int]] = []  # (post id, creator)
    next_post = 1
    for i in range(n_persons):
        d, me = sb_person_doc(i), _iri(person_iri[i])
        add(d, me, _iri(RDF_TYPE), _iri(SB_VOCAB + "Person"))
        add(d, me, _iri(SB_VOCAB + "id"), _lit(str(i), XSD_INT))
        add(d, me, _iri(SB_VOCAB + "firstName"), _lit(FIRST[i % len(FIRST)]))
        add(d, me, _iri(SB_VOCAB + "lastName"), _lit(LAST[(i * 7) % len(LAST)]))
        for _ in range(int(posts_per[i])):
            post_ids.append((next_post, i))
            next_post += 1

    # bnode records: each has a list of owners (persons) and 2 or 4 quads
    bnode_docs: list[tuple[list[int], list[tuple[str, str, str]]]] = []
    n_records = int(n_persons * p["records_per_person"])
    for r in range(n_records):
        kind = "studyAt" if r % 2 == 0 else "workAt"
        n_owners = 1 + (rng.random() < p["multi_owner_share"]) * int(rng.integers(1, 3))
        owners = sorted({int(x) for x in rng.integers(0, n_persons, size=n_owners)})
        b = f"_:r{r}"
        rec = [(b, _iri(RDF_TYPE), _iri(SB_VOCAB + kind.capitalize()))]
        rec.append((b, _iri(SB_VOCAB + "classYear"), _lit(str(2000 + r % 20), XSD_INT)))
        if rng.random() < p["chain_share"]:
            ob = f"_:o{r}"
            rec.append((b, _iri(SB_VOCAB + "hasOrganisation"), ob))
            rec.append((ob, _iri(SB_VOCAB + "name"), _lit(ORG_STEMS[r % len(ORG_STEMS)])))
        else:
            rec.append(
                (b, _iri(SB_VOCAB + "hasOrganisation"),
                 _iri(f"{SB_DATA}organisation{r % 997}"))
            )
        for o in owners:
            add(sb_person_doc(o), _iri(person_iri[o]), _iri(SB_VOCAB + kind), b)
        for q in rec:
            add(None, *q)
        bnode_docs.append((owners, rec))
    for owners, rec in bnode_docs:
        for o in owners:
            docs[sb_person_doc(o)].extend(rec)

    # posts: original IRIs outside every pod; the remap mints
    # <pod>/posts/<id> from the creator's profile IRI
    like_draw = rng.random(size=len(post_ids))
    liker = rng.integers(0, n_persons, size=len(post_ids))
    for k, (pid, creator) in enumerate(post_ids):
        orig = _iri(f"{SB_DATA}post{pid:012d}")
        doc = f"{SB_HOST}pods/{creator:08d}/posts/{pid}"
        minted = _iri(doc)
        for pr, o in (
            (_iri(RDF_TYPE), _iri(SB_VOCAB + "Post")),
            (_iri(SB_VOCAB + "id"), _lit(str(pid))),
            (_iri(SB_VOCAB + "hasCreator"), _iri(person_iri[creator])),
            (_iri(SB_VOCAB + "content"), _lit(f"post {pid} by person {creator}")),
        ):
            lines.append(f"{orig} {pr} {o} .")
            docs.setdefault(doc, []).append((minted, pr, o))
        if like_draw[k] < p["like_share"]:
            lk = int(liker[k])
            me = _iri(person_iri[lk])
            lines.append(f"{me} {_iri(SB_VOCAB + 'likes')} {orig} .")
            docs[sb_person_doc(lk)].append((me, _iri(SB_VOCAB + "likes"), minted))

    # shuffle line order so no document's quads arrive contiguously
    order = rng.permutation(len(lines))
    src = os.path.join(out_dir, "social")
    os.makedirs(src, exist_ok=True)
    input_bytes = 0
    for k in range(p["files"]):
        part = order[len(order) * k // p["files"] : len(order) * (k + 1) // p["files"]]
        f = os.path.join(src, f"part-{k:05d}.nq")
        with open(f, "w") as fh:
            fh.write("\n".join(lines[j] for j in part) + "\n")
        input_bytes += os.path.getsize(f)
    doc_quads = {sb_doc_path(d): sorted(qs) for d, qs in docs.items()}
    truth = {
        "input_quads": len(lines),
        "documents": len(doc_quads),
        "output_quads": sum(len(q) for q in doc_quads.values()),
        "posts": len(post_ids),
        "input_bytes": input_bytes,
    }
    write_expected(out_dir, dict(truth, doc_quads=doc_quads))
    truth["doc_quads"] = doc_quads
    return truth


def solidbench_spec(input_dir: str) -> dict:
    spec = json.loads(json.dumps(SB_SPEC_TEMPLATE))
    spec["quadSource"] = {
        "@type": "QuadSourceFile",
        "filePath": os.path.join(input_dir, "social"),
    }
    return spec


# ---------------------------------------------------------------------------
# corpus_prep: multi-stream document table with injected defects
# ---------------------------------------------------------------------------

#: filler words that make every good document pass quality_filter's
#: English-stopword rule whatever its stream label
_STOP = ["the", "and", "of", "to", "in"]


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct pseudo-words of 2-4 consonant-vowel syllables."""
    syl = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]
    out: set[str] = set()
    while len(out) < n:
        k = rng.integers(2, 5, size=n)
        picks = rng.integers(0, len(syl), size=(n, 4))
        out.update("".join(syl[j] for j in row[:m]) for row, m in zip(picks, k))
    return sorted(out)[:n]


def gen_corpus(out_dir: str, seed: int, p: dict) -> dict:
    """Documents ``(doc_id, text, lang)`` over several language streams with
    log-normal lengths (long tail), plus an eval set. Injected defects, all
    with ids above their originals: exact duplicates, near-duplicate chains
    (one word substituted per hop), eval-set contamination (a 12-word eval
    span pasted in) and low-quality docs (too short or one word repeated).
    The expected survivors are the clean base documents."""
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, p["vocab"])
    langs = p["langs"]

    def words(n: int) -> list[str]:
        ws = [vocab[j] for j in rng.integers(0, len(vocab), size=n)]
        for j in range(0, n, 9):
            ws[j] = _STOP[(j // 9) % len(_STOP)]
        return ws

    n_base = p["base_docs"]
    lengths = np.clip(
        rng.lognormal(np.log(p["median_words"]), p["length_sigma"], size=n_base),
        p["min_words"], p["max_words"],
    ).astype(int)
    base = [words(int(n)) for n in lengths]
    base_lang = [langs[j] for j in rng.integers(0, len(langs), size=n_base)]
    evals = [words(p["eval_words"]) for _ in range(p["eval_docs"])]

    # roles over base docs (disjoint): contaminated, dup/near-dup originals
    perm = [int(x) for x in rng.permutation(n_base)]
    n_cont = int(n_base * p["contaminated_share"])
    n_dup = int(n_base * p["dup_share"])
    contaminated = perm[:n_cont]
    long_enough = [j for j in perm[n_cont:] if lengths[j] >= p["near_dup_min_words"]]
    near_orig = long_enough[: int(n_base * p["near_dup_share"])]
    dup_orig = [j for j in perm[n_cont:] if j not in set(near_orig)][:n_dup]
    for j in contaminated:
        ev = evals[int(rng.integers(0, len(evals)))]
        at = int(rng.integers(0, len(ev) - 12))
        pos = int(rng.integers(0, len(base[j]) + 1))
        base[j] = base[j][:pos] + ev[at : at + 12] + base[j][pos:]

    docs: list[tuple[int, str, str]] = []
    base_id = [0] * n_base
    for j in range(n_base):
        base_id[j] = j
        docs.append((j, " ".join(base[j]), base_lang[j]))
    next_id = n_base
    dropped = {"exact_dup": [], "near_dup": [], "contaminated": [], "low_quality": []}
    for j in dup_orig:
        for _ in range(int(rng.integers(1, 4))):
            docs.append((next_id, docs[j][1], base_lang[j]))
            dropped["exact_dup"].append(next_id)
            next_id += 1
    for j in near_orig:
        cur = list(base[j])
        for _ in range(int(rng.integers(1, p["near_dup_chain_max"] + 1))):
            # one substitution per hop keeps adjacent hops' 8-char shingle
            # Jaccard above ~0.95, where 4x2 LSH misses with p < 1e-4
            at = int(rng.integers(1, len(cur)))
            cur = cur[:at] + [vocab[int(rng.integers(0, len(vocab)))]] + cur[at + 1 :]
            docs.append((next_id, " ".join(cur), base_lang[j]))
            dropped["near_dup"].append(next_id)
            next_id += 1
    for _ in range(int(n_base * p["low_quality_share"])):
        if rng.random() < 0.5:
            text = " ".join(words(8))
        else:
            text = " ".join(["the"] + [vocab[int(rng.integers(0, len(vocab)))]] * 40)
        docs.append((next_id, text, langs[int(rng.integers(0, len(langs)))]))
        dropped["low_quality"].append(next_id)
        next_id += 1
    dropped["contaminated"] = sorted(base_id[j] for j in contaminated)
    bad = {d for ids in dropped.values() for d in ids}
    survivors = sorted(d for d, _, _ in docs if d not in bad)

    # rows in a seeded random order so no file holds one stream or id range
    order = rng.permutation(len(docs))
    rows = [docs[j] for j in order]
    os.makedirs(out_dir, exist_ok=True)
    input_bytes = write_table(
        os.path.join(out_dir, "docs"),
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
        },
        p["files"],
    )
    input_bytes += write_table(
        os.path.join(out_dir, "eval"),
        {
            "doc_id": pa.array(range(len(evals)), pa.int64()),
            "text": pa.array([" ".join(e) for e in evals], pa.string()),
        },
        1,
    )
    by_id = {d: (t, l) for d, t, l in docs}
    truth = {
        "docs": len(docs),
        "dropped": dropped,
        "survivors": survivors,
        "survivor_tokens": [len(by_id[d][0].split()) for d in survivors],
        "survivor_streams": [by_id[d][1] for d in survivors],
        "input_bytes": input_bytes,
    }
    write_expected(out_dir, truth)
    return truth
