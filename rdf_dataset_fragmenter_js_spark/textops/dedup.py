"""Deduplication operators for document tables.

All operators take a DataFrame with (id_col, text_col) and are pure
DataFrame plans:

* exact duplicates — hash-groupBy on md5(text); one shuffle, map-side
  partial aggregation;
* MinHash + LSH — char-shingles → k salted-md5 minima → banded signatures →
  bucket self-join (candidates only meet inside a bucket: the join key is
  the band hash, so the shuffle is ~linear in data size, never the
  quadratic all-pairs);
* SimHash — 16-bit token-hash sign aggregate, useful as a cheap near-dup
  blocking key;
* n-gram Jaccard — exact verification on LSH candidates (the classic
  two-stage near-dup pipeline: LSH recall, Jaccard precision);
* embedding cosine near-dup — see similarity.py.

At 100 TB: every stage is shuffle-bounded by (doc count × k) small rows;
shingle explosion happens inside a single stage and is reduced by the
min() aggregate before any shuffle leaves the map side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rdf_dataset_fragmenter_js_spark.functions.graph import small_frame, union_find

#: Largest near-dup pair set solved on the driver (crossover measured in
#: BENCH.md "Distributed-path timings", reproducible with
#: tools/distributed_paths_bench.py).
_DRIVER_PAIRS = 1_000_000


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact duplicate groups via content hash. Returns
    (doc_id, content_hash, canonical_id, is_duplicate) — canonical = min id
    per hash (deterministic)."""
    h = F.md5(F.col(text_col).cast("binary")).alias("content_hash")
    with_hash = docs.select(F.col(id_col).alias("doc_id"), h)
    canon = with_hash.groupBy("content_hash").agg(F.min("doc_id").alias("canonical_id"))
    return (
        with_hash.join(canon, on="content_hash")
        .withColumn("is_duplicate", F.col("doc_id") != F.col("canonical_id"))
        .select("doc_id", "content_hash", "canonical_id", "is_duplicate")
    )


def char_shingles(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    distinct: bool = True,
) -> DataFrame:
    """Char n-gram shingles per document (doc_id, shingle). ``distinct=True``
    dedups shingles per doc (one full shuffle of the exploded set) — needed
    for exact Jaccard set semantics; pass ``distinct=False`` for consumers
    that aggregate with duplicate-insensitive functions (min/max), which
    skips that shuffle entirely."""
    positions = F.sequence(
        F.lit(1), F.greatest(F.length(F.col(text_col)) - (n - 1), F.lit(1))
    )
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(positions).alias("pos"),
        F.col(text_col),
    ).select("doc_id", F.substring(F.col(text_col), F.col("pos"), n).alias("shingle"))
    return sh.distinct() if distinct else sh


def minhash_signatures(
    docs: DataFrame,
    k: int = 8,
    shingle_size: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """k-permutation MinHash signature per doc: permutation i is simulated by
    salting — ``min(md5(i || ':' || shingle))`` (lexicographic min of hex
    digests ≡ min over a random permutation of shingle space). Returns
    (doc_id, mh_0..mh_{k-1}). One explode + one groupBy; the min() combines
    map-side so the shuffle carries k×32 bytes per doc. Shingles are NOT
    deduplicated first: min over the shingle multiset equals min over the
    set, so the per-doc distinct (a full shuffle of the exploded shingle
    rows) is skipped entirely."""
    sh = char_shingles(
        docs, n=shingle_size, id_col=id_col, text_col=text_col, distinct=False
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")).cast("binary"))).alias(f"mh_{i}")
        for i in range(k)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def banded_signatures(
    docs: DataFrame,
    k: int = 8,
    bands: int = 4,
    shingle_size: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH band keys per document: the k-row MinHash signature split into
    ``bands`` bands of ``k/bands`` rows, each band hashed to one key —
    (doc_id, band, band_key). Shared by the dedup self-join and the fuzzy
    decontamination corpus×benchmark join."""
    assert k % bands == 0
    rows = k // bands
    sig = minhash_signatures(
        docs, k=k, shingle_size=shingle_size, id_col=id_col, text_col=text_col
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"mh_{b * rows + r}") for r in range(rows)]
                ).cast("binary")
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    return sig.select(
        F.col("doc_id"), F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", "bk.band", "bk.band_key")


def lsh_candidate_pairs(
    docs: DataFrame,
    k: int = 8,
    bands: int = 4,
    shingle_size: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH banding: split the k-row signature into ``bands`` bands of k/bands
    rows; docs sharing ANY band key are candidates. Returns distinct
    (doc_a, doc_b) with doc_a < doc_b. The self-join is keyed on the band
    hash — co-located by the shuffle, never all-pairs."""
    banded = banded_signatures(
        docs, k=k, bands=bands, shingle_size=shingle_size, id_col=id_col, text_col=text_col
    )
    # Self-join: without materialization Spark recomputes the whole
    # shingle→minhash pipeline for BOTH sides. Persist the (tiny: bands rows
    # per doc) banded signatures so the upstream runs once. At the 100 TB
    # tier this is the "write signatures to a table between phases" step.
    banded = banded.persist()
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # Materialize the (candidate-pair-sized, << corpus) result so the cached
    # signatures can be released immediately — repeated calls must not leak
    # session-lifetime cache. This is the "write candidate pairs between
    # phases" step of the scaled pipeline; downstream verify/cluster stages
    # re-read the materialized pairs, not the shingle pipeline.
    pairs = pairs.localCheckpoint(eager=True)
    banded.unpersist()
    return pairs


def shingle_overlap_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    shingle_size: int,
    score_col,
    score_name: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Shared skeleton for exact char-shingle overlap scores on candidate
    pairs: (doc_a, doc_b, inter, na, nb) → ``score_col(...)`` as
    ``score_name``. The shingle set feeds three plan branches (sizes,
    a-side, b-side); it is persisted so the explode+distinct runs once,
    the pair-sized result is checkpointed, and the cache is released —
    both the Jaccard verifier here and the containment scorer in
    ``kg/canonicalize.py`` ride this one implementation."""
    sh = char_shingles(docs, n=shingle_size, id_col=id_col, text_col=text_col).persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a_sh = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingle"))
    b_sh = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingle"))
    inter = (
        candidates.join(a_sh, on="doc_a")
        .join(b_sh, on=["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    out = (
        inter.join(na, on="doc_a")
        .join(nb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            score_col(F.col("inter"), F.col("na"), F.col("nb"))
            .cast("long")
            .alias(score_name),
        )
    )
    # materialize the (pair-sized) scores, then release the shingle cache —
    # no session-lifetime persist leak across repeated calls
    out = out.localCheckpoint(eager=True)
    sh.unpersist()
    return out


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    shingle_size: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact Jaccard over char-shingle sets for candidate pairs, scaled to
    basis points via pure integer arithmetic — exact and identical across
    engines (decimal round() is not: Spark rounds the shortest decimal
    string HALF_UP, DuckDB rounds the binary double)."""
    return shingle_overlap_pairs(
        docs,
        candidates,
        shingle_size,
        lambda inter, na, nb: F.floor(inter * 10000 / (na + nb - inter)),
        "jaccard_bp",
        id_col=id_col,
        text_col=text_col,
    )


def simhash16(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """16-bit SimHash over whitespace tokens, md5-derived bit values
    (engine-portable). Returns (doc_id, simhash) with the hash as a 16-char
    '0'/'1' string (MSB first). Useful as a blocking key: near-identical
    documents agree on most bits."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    # md5 hex chars 1..4 → 16 bits; bit j of char i = nibble & (1 << j)
    h = F.md5(F.col("tok").cast("binary"))
    cols = []
    for i in range(4):
        nibble = F.instr(F.lit("0123456789abcdef"), F.substring(h, i + 1, 1)) - 1
        for j in range(4):
            # floor-division keeps bit extraction identical across engines
            bit = (F.floor(nibble / (2**j)) % 2).alias(f"bit_{i * 4 + j}")
            cols.append(bit)
    bits = toks.select("doc_id", *cols)
    aggs = [
        F.when(F.sum(F.when(F.col(f"bit_{b}") == 1, 1).otherwise(-1)) > 0, "1")
        .otherwise("0")
        .alias(f"sb_{b}")
        for b in range(16)
    ]
    return bits.groupBy("doc_id").agg(*aggs).select(
        "doc_id", F.concat(*[F.col(f"sb_{b}") for b in range(16)]).alias("simhash")
    )


def near_dup_clusters(pairs: DataFrame) -> DataFrame:
    """Connected components over near-dup pairs (doc_a, doc_b) → cluster
    representative (the minimum doc id) per doc. Returns (doc_id, cluster_id).

    Pair sets of at most ``_DRIVER_PAIRS`` rows come back in one Arrow fetch
    and are solved with the driver union-find — a distributed iterative loop
    costs a fixed ~1s of job scheduling per round, which dwarfs a
    million-edge union-find. Larger ones run
    :func:`_near_dup_clusters_distributed`; both return the same labels.
    Callers passing an expensive un-materialized plan should
    persist/checkpoint it (lsh_candidate_pairs already returns a
    checkpointed frame)."""
    pdf = small_frame(pairs, _DRIVER_PAIRS)
    if pdf is None:
        return _near_dup_clusters_distributed(pairs)
    labels = union_find(pdf.itertuples(index=False, name=None))
    t = pairs.schema[0].dataType.simpleString()
    return pairs.sparkSession.createDataFrame(
        list(labels.items()), f"doc_id {t}, cluster_id {t}"
    )


def _near_dup_clusters_distributed(pairs: DataFrame) -> DataFrame:
    """Min-label propagation: every doc starts labelled with itself and each
    round takes the minimum label among its neighbours, until a round
    changes no label. Labels only decrease, so the loop ends, after as many
    rounds as the widest cluster's diameter."""
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)  # edges are re-joined every iteration
    labels = (
        sym.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    while True:
        neighbor_min = (
            sym.join(labels, sym["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["doc_id"] == neighbor_min["src"], "left")
            .select(
                "doc_id",
                F.least(F.col("cluster_id"), F.coalesce(F.col("nmin"), F.col("cluster_id"))).alias(
                    "cluster_id"
                ),
            )
            .localCheckpoint(eager=True)
        )
        unchanged = (
            new_labels.join(labels.withColumnRenamed("cluster_id", "old"), on="doc_id")
            .filter(F.col("cluster_id") != F.col("old"))
            .isEmpty()
        )
        labels = new_labels
        if unchanged:
            return labels
