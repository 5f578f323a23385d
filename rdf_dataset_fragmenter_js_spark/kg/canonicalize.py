"""Entity canonicalization: surface forms → canonical entity ids.

Pipeline:

1. normalize surfaces (lower, strip punctuation and initials) and keep
   the distinct forms — a vocabulary, orders of magnitude smaller than the
   mention stream;
2. token blocking: forms sharing their first or last token are candidate
   pairs;
3. verification by character-trigram containment ``|A∩B| / min(|A|,|B|)``;
4. connected components over the verified pairs (``functions/graph.py``
   union-find on the driver, min-label propagation when distributed);
5. entity id = longest cluster member, slugged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_dataset_fragmenter_js_spark.functions.graph import small_frame, union_find
from rdf_dataset_fragmenter_js_spark.textops.dedup import (
    _near_dup_clusters_distributed,
    shingle_overlap_pairs,
)

#: Largest vocabulary (distinct normalized forms, or distinct raw surfaces
#: for :func:`surface_canonical_mapping`) clustered on the driver: the
#: DataFrame path costs ~10 tiny jobs whose fixed scheduling dwarfs the work
#: on a vocabulary-sized input (crossover in BENCH.md "Distributed-path
#: timings", reproducible with tools/distributed_paths_bench.py).
_DRIVER_FORMS = 100_000


def ngram_containment_pairs(
    docs: DataFrame, candidates: DataFrame, shingle_size: int = 3
) -> DataFrame:
    """Char n-gram containment |A∩B| / min(|A|,|B|) for candidate pairs,
    scaled to basis points (exact integer arithmetic). Rides the shared
    persisted-shingle skeleton (textops/dedup.py:shingle_overlap_pairs),
    so the explode+distinct runs once, not once per plan branch."""
    return shingle_overlap_pairs(
        docs,
        candidates,
        shingle_size,
        lambda inter, na, nb: F.floor(inter * 10000 / F.least(na, nb)),
        "containment_bp",
    )


def normalize_surface_col(col):
    """Normalization rule: lowercase; strip non-alpha except spaces; drop
    single-letter tokens (initials like 'a.'/'r.' reduce to one letter after
    the strip); single-space join.

    Deliberately boundary-free: an earlier formulation used ``\\b`` to strip
    initials, and Java's ``\\b`` treats Unicode letters as word chars while
    Python's ``re.ASCII`` does not — a one-character dialect divergence
    between this Column path and the driver replica
    (:func:`_normalize_surface_py`), caught by
    tests/test_properties.py. split/filter/join has no dialect."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z ]", "")
    toks = F.filter(F.split(c, " "), lambda t: F.length(t) > 1)
    return F.array_join(toks, " ")


def _shingles3(s: str) -> set:
    """Driver-side char-trigram set, identical to ``char_shingles(n=3)``
    (positions 1..max(len-2, 1) → short strings yield themselves)."""
    return {s[i : i + 3] for i in range(max(len(s) - 2, 1))}


#: driver-side replica of :func:`normalize_surface_col` — the explicit
#: ``[^a-z ]`` class is identical in the Java and Python dialects, and the
#: token filter replaces any boundary construct (see the Column docstring)
_NON_ALPHA_RE = __import__("re").compile(r"[^a-z ]", __import__("re").ASCII)


def _normalize_surface_py(s: str) -> str:
    s = _NON_ALPHA_RE.sub("", s.lower())
    return " ".join(t for t in s.split(" ") if len(t) > 1)


def _canonical_mapping_driver_dict(
    forms: list[str], containment_threshold: float
) -> dict[str, str]:
    """norm → slugged canonical id for every input form (token blocking →
    trigram containment → connected components → longest-form
    representative), all driver-side plain Python."""
    import itertools

    threshold_bp = int(containment_threshold * 10000)
    blocks: dict[str, list[str]] = {}
    for f in forms:
        toks = f.split(" ")
        for b in {toks[0], toks[-1]}:
            blocks.setdefault(b, []).append(f)
    pairs = set()
    for members in blocks.values():
        members = sorted(set(members))
        pairs.update(itertools.combinations(members, 2))
    sh = {f: _shingles3(f) for f in forms}
    verified = (
        (a, b)
        for a, b in pairs
        if len(sh[a] & sh[b]) * 10000 // min(len(sh[a]), len(sh[b])) >= threshold_bp
    )
    clusters: dict[str, list[str]] = {}
    for f, root in union_find(verified).items():
        clusters.setdefault(root, []).append(f)
    rows = []
    for members in clusters.values():
        rep = min(members, key=lambda m: (-len(m), m))
        rows.extend((m, rep) for m in members)
    mapped = dict(rows)
    return {f: mapped.get(f, f).replace(" ", "_") for f in forms}


def _normalized_forms(mentions: DataFrame, surface_col: str) -> DataFrame:
    """The distinct non-empty normalized forms of ``surface_col`` as
    DataFrame[norm], materialized once: the gate fetch and every step of the
    distributed plan (pair join, containment, CC loop) re-reference it, and
    without cutting lineage each re-reference would re-run the whole
    upstream extraction over the page corpus."""
    return (
        mentions.select(normalize_surface_col(F.col(surface_col)).alias("norm"))
        .filter(F.col("norm") != "")
        .distinct()
        .localCheckpoint(eager=True)
    )


def canonical_mapping(
    mentions: DataFrame,
    surface_col: str = "surface",
    containment_threshold: float = 0.7,
) -> DataFrame:
    """Build the surface → canonical-id mapping. Returns
    (norm, canonical_id).

    Candidate generation is token blocking (first + last token of the
    normalized form — abbreviation aliases always share one); verification
    is character-trigram CONTAINMENT ``|A∩B| / min(|A|,|B|)`` — the right
    metric for abbreviation aliases ('diaz' ⊂ 'carol diaz' scores 1.0 where
    Jaccard scores 0.25). Connected components merge transitive clusters;
    the canonical id is the longest member, ties broken lexicographically.

    The distinct normalized forms are a *vocabulary*, orders of magnitude
    smaller than the mention stream. Up to ``_DRIVER_FORMS`` forms come
    back in one Arrow fetch and the blocking/containment/CC steps run as
    plain Python on the driver; above it :func:`_canonical_mapping_distributed`
    runs. Both produce identical mappings; the *application* of the mapping
    (the expensive corpus-sized part) is always the distributed broadcast
    join in :func:`apply_canonicalization`."""
    forms = _normalized_forms(mentions, surface_col)
    pdf = small_frame(forms, _DRIVER_FORMS)
    if pdf is None:
        return _canonical_mapping_distributed(forms, containment_threshold)
    out = _canonical_mapping_driver_dict(list(pdf["norm"]), containment_threshold)
    return mentions.sparkSession.createDataFrame(
        list(out.items()), "norm string, canonical_id string"
    )


def _canonical_mapping_distributed(
    forms: DataFrame, containment_threshold: float
) -> DataFrame:
    """The DataFrame plan of :func:`canonical_mapping` over
    :func:`_normalized_forms`: blocking self-join, containment scores and
    min-label connected components, all distributed. Blocks are bounded
    (hot surname blocks can be capped/salted); the pair join happens inside
    blocks only."""
    docs = forms.select(F.col("norm").alias("doc_id"), F.col("norm").alias("text"))
    toks = F.split(F.col("doc_id"), " ")
    blocked = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.array(F.element_at(toks, 1), F.element_at(toks, -1)))
        ).alias("block"),
    )
    a = blocked.select(F.col("doc_id").alias("doc_a"), "block")
    b = blocked.select(F.col("doc_id").alias("doc_b"), "block")
    pairs = (
        a.join(b, on="block")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    verified = ngram_containment_pairs(docs, pairs, shingle_size=3).filter(
        F.col("containment_bp") >= int(containment_threshold * 10000)
    )
    clusters = _near_dup_clusters_distributed(verified.select("doc_a", "doc_b"))
    # cluster representative = LONGEST member (most specific surface form),
    # ties broken lexicographically — 'emma brown' represents {'emma brown',
    # 'brown'}, not the abbreviation.
    reps = clusters.groupBy("cluster_id").agg(
        F.min_by("doc_id", F.struct((-F.length("doc_id")).alias("l"), F.col("doc_id"))).alias(
            "rep"
        )
    )
    labeled = clusters.join(reps, on="cluster_id").select(
        F.col("doc_id").alias("norm"), F.col("rep").alias("canonical_id")
    )
    mapping = forms.join(labeled, on="norm", how="left").select(
        "norm", F.coalesce(F.col("canonical_id"), F.col("norm")).alias("canonical_id")
    )
    return mapping.withColumn(
        "canonical_id", F.regexp_replace(F.col("canonical_id"), " ", "_")
    )


def surface_canonical_mapping(
    mentions: DataFrame,
    surface_col: str = "surface",
    containment_threshold: float = 0.7,
) -> DataFrame:
    """(raw surface → canonical_id) mapping — the scale-path entry point.

    Dedup-before-regex: mention streams are zipfian, so the distinct RAW
    surface set is vocabulary-sized while the stream is corpus-sized. The
    ``distinct()`` here partially aggregates map-side (only distinct forms
    cross the shuffle) and the normalize regexes + clustering then run over
    the tiny distinct set — instead of 3 regex passes over every mention
    occurrence, which at 8 local cores was allocation/GC-bound and capped
    pipeline scaling at ~1.6× for 4× cores. Application becomes a plain
    broadcast join on the raw surface (no per-row regex at all).

    Up to ``_DRIVER_FORMS`` distinct surfaces, the whole mapping build is
    the map-side-combined distinct, one Arrow fetch and a driver-side
    normalize/cluster — the multi-job DataFrame path costs several seconds
    of fixed scheduling for a vocabulary-sized input, which was the
    dominant non-scaling term of the end-to-end pipeline. Above it
    :func:`_surface_canonical_mapping_distributed` runs."""
    raw = (
        mentions.select(F.col(surface_col).alias("surface"))
        .filter(F.col("surface").isNotNull())
        .distinct()
    )
    pdf = small_frame(raw, _DRIVER_FORMS)
    if pdf is None:
        return _surface_canonical_mapping_distributed(raw, containment_threshold)
    surfaces = list(pdf["surface"])
    norms = {s: _normalize_surface_py(s) for s in surfaces}
    forms = sorted({n for n in norms.values() if n})
    canon = _canonical_mapping_driver_dict(forms, containment_threshold)
    rows = [(s, canon.get(norms[s], norms[s])) for s in surfaces]
    return mentions.sparkSession.createDataFrame(rows, "surface string, canonical_id string")


def _surface_canonical_mapping_distributed(
    raw: DataFrame, containment_threshold: float
) -> DataFrame:
    """The DataFrame plan of :func:`surface_canonical_mapping` over ``raw``,
    the distinct non-null surfaces as one ``surface`` column."""
    raw = raw.localCheckpoint(eager=True)
    norm_mapping = _canonical_mapping_distributed(
        _normalized_forms(raw, "surface"), containment_threshold
    )
    with_norm = raw.withColumn("norm", normalize_surface_col(F.col("surface")))
    return with_norm.join(norm_mapping, on="norm", how="left").select(
        "surface",
        F.coalesce(F.col("canonical_id"), F.col("norm")).alias("canonical_id"),
    )


def apply_surface_canonicalization(
    triples: DataFrame,
    surface_mapping: DataFrame,
    cols: tuple[str, str] = ("subj_surface", "obj_surface"),
) -> DataFrame:
    """Rewrite surface columns to canonical ids via raw-surface joins (the
    mapping side is vocabulary-sized → AQE broadcasts it). No regex on the
    corpus-sized side; identical output to
    ``apply_canonicalization(triples, canonical_mapping(...))``."""
    out = triples
    for c in cols:
        m = surface_mapping.select(
            F.col("surface").alias(f"__s_{c}"), F.col("canonical_id").alias(f"__c_{c}")
        )
        out = (
            out.join(m, F.col(c) == F.col(f"__s_{c}"), "left")
            .withColumn(
                c.replace("_surface", "_id"),
                F.coalesce(F.col(f"__c_{c}"), normalize_surface_col(F.col(c))),
            )
            .drop(f"__s_{c}", f"__c_{c}")
        )
    return out


def apply_canonicalization(
    triples: DataFrame,
    mapping: DataFrame,
    cols: tuple[str, str] = ("subj_surface", "obj_surface"),
) -> DataFrame:
    """Rewrite surface columns to canonical entity ids (two AQE-managed
    joins; the mapping side is usually broadcastable)."""
    out = triples
    for c in cols:
        m = mapping.select(
            F.col("norm").alias(f"__n_{c}"), F.col("canonical_id").alias(f"__c_{c}")
        )
        out = (
            out.withColumn(f"__norm_{c}", normalize_surface_col(F.col(c)))
            .join(m, F.col(f"__norm_{c}") == F.col(f"__n_{c}"), "left")
            .withColumn(
                c.replace("_surface", "_id"),
                F.coalesce(F.col(f"__c_{c}"), F.col(f"__norm_{c}")),
            )
            .drop(f"__norm_{c}", f"__n_{c}", f"__c_{c}")
        )
    return out
