"""Corpus-hygiene operators for training-data pipelines: benchmark
decontamination (word n-gram overlap, the published GPT-3/PaLM-style
procedure) and token-budget shard packing. Both are pure DataFrame
compositions — no Python UDFs."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rdf_dataset_fragmenter_js_spark.textops.quality import (
    _word_ngrams,
    _words_col,
    quality_filter,
    token_count_col,
)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train/test decontamination: flag every training document that shares
    at least one word ``n``-gram with a benchmark/eval corpus (the overlap
    rule published for GPT-3 appendix C / PaLM: n-gram collision against the
    eval set ⇒ remove or mark). Returns one row per input document:
    ``(doc_id, n_contaminated_grams, contaminated)`` where the count is over
    DISTINCT offending n-grams per document.

    Scale shape: the benchmark n-gram set is benchmark-sized (thousands of
    docs) while the corpus is the 100-TB side, so the benchmark side is
    distinct-ed and explicitly ``F.broadcast`` — and the broadcast join runs
    BEFORE any dedup, so the corpus n-gram explosion is filtered in-stage
    and the only data that ever shuffles is the (tiny) contaminated-gram
    hit set: distinct-per-doc on the hits, one map-side-combinable hash agg
    on doc_id, and a final doc_id-keyed left join back. Filtering before
    distinct is semantics-preserving (distinct∘filter ≡ filter∘distinct for
    a per-row predicate) and turns a corpus-sized shuffle into a hit-sized
    one."""
    text = F.col(text_col)
    bgrams = benchmark.select(
        F.explode(_word_ngrams(_words_col(text), n)).alias("gram")
    ).distinct()
    dgrams = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_word_ngrams(_words_col(text), n)).alias("gram"),
    )
    hits = (
        dgrams.join(F.broadcast(bgrams), "gram")
        .dropDuplicates(["doc_id", "gram"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_grams"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_contaminated_grams", F.lit(0))
            .cast("long")
            .alias("n_contaminated_grams"),
            (F.coalesce("n_contaminated_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def pack_shards(
    docs: DataFrame,
    budget_tokens: int = 2000,
    id_col: str = "doc_id",
    text_col: str = "text",
    stream_col: str = "lang",
) -> DataFrame:
    """Token-budget shard packing: assign documents to training shards of
    ~``budget_tokens`` whitespace tokens, greedily in deterministic
    ``id_col`` order within each ``stream_col`` stream — the standard
    fixed-order first-fit used by real pipelines (exact bin packing is
    NP-hard and would destroy reproducibility). A document starts a new
    shard when the running total before it has consumed the budget:
    ``shard_id = floor((cumsum - own_tokens) / budget)``, so single
    documents larger than the budget get a shard of their own and never
    stall the stream.

    Scale shape: ONE window, partitioned by the stream column — packing
    parallelizes across streams (language/source/bucket), and the
    within-stream running sum is the inherent sequential dependency of
    sequence packing. For a corpus with few streams, pre-bucket (e.g.
    ``stream_col`` = hash(doc_id) % k) to restore parallelism; shard ids
    are only meaningful per stream either way."""
    toks = token_count_col(F.col(text_col))
    w = Window.partitionBy(stream_col).orderBy(id_col)
    cum = F.sum(toks).over(w)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(stream_col).alias("stream"),
        toks.cast("long").alias("n_tokens"),
        F.floor((cum - toks) / F.lit(float(budget_tokens))).cast("long").alias("shard_id"),
    )


def decontaminate_fuzzy(
    docs: DataFrame,
    benchmark: DataFrame,
    k: int = 8,
    bands: int = 4,
    shingle_size: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fuzzy train/test decontamination: flag training documents whose
    MinHash signature shares ANY LSH band with a benchmark document —
    catching paraphrased/partially-edited benchmark leakage that exact
    n-gram overlap (:func:`decontaminate`) misses. Returns one row per
    input document: ``(doc_id, contaminated)``.

    Scale shape: both sides reuse :func:`~.dedup.banded_signatures`; the
    benchmark band-key set (bands × |benchmark| rows, tiny vs the corpus)
    is distinct-ed and explicitly ``F.broadcast``, so the corpus side is a
    scan → shingle → signature pipeline filtered in-stage — the corpus
    never shuffles to a join. If the benchmark rows are also present in
    ``docs`` they flag themselves, which is the correct semantics (they
    ARE the benchmark)."""
    from rdf_dataset_fragmenter_js_spark.textops.dedup import banded_signatures

    db = banded_signatures(
        docs, k=k, bands=bands, shingle_size=shingle_size, id_col=id_col, text_col=text_col
    )
    bb = banded_signatures(
        benchmark, k=k, bands=bands, shingle_size=shingle_size, id_col=id_col, text_col=text_col
    ).select("band", "band_key").distinct()
    hits = (
        db.join(F.broadcast(bb), ["band", "band_key"])
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, "doc_id", "left")
        .select("doc_id", F.coalesce("contaminated", F.lit(False)).alias("contaminated"))
    )


def corpus_vocab(
    docs: DataFrame,
    top_k: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level vocabulary extraction: the ``top_k`` most frequent
    whitespace words with their total counts and document frequencies — the
    aggregation that seeds BPE/tokenizer training and stopword discovery.
    Ties broken toward the lexicographically smaller word so the result is
    fully deterministic (and SQL-twin-able).

    Scale shape: explode → one map-side-combinable hash agg keyed on word
    (vocabulary-sized output, not corpus-sized), then a global top-k that
    Spark plans as TakeOrderedAndProject — per-partition heaps of k rows,
    never a full sort of the vocabulary."""
    words = _words_col(F.col(text_col))
    exploded = docs.select(
        F.col(id_col).alias("_doc"), F.explode(words).alias("word")
    )
    counts = exploded.groupBy("word").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("_doc").alias("doc_freq"),
    )
    return (
        counts.orderBy(F.col("n_occurrences").desc(), F.col("word").asc())
        .limit(top_k)
        .select("word", "n_occurrences", "doc_freq")
    )


def top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document salient terms — the tf-idf-style keyword extraction of
    retrieval/labeling pipelines, ranked INTEGER-EXACTLY: term frequency
    descending, then corpus document-frequency ascending (rarer wins), then
    the word itself. A float tf·idf score would hinge on ``ln`` being
    bit-identical across engines (Java's ``Math.log`` is only 1-ulp
    accurate), so the ranking deliberately stays in integers; the (tf, df)
    columns let callers compute any idf weighting downstream.

    Scale shape: one explode feeds BOTH aggregations (per-doc tf and
    corpus df — Catalyst shares the scan); the df table is vocabulary-sized
    and joins on word (a standard shuffle join — vocabularies can exceed
    broadcast size at corpus scale); the per-doc top-k is a window over
    (doc, term) rows, partitioned by doc — never a global sort."""
    from pyspark.sql import Window

    words = _words_col(F.col(text_col))
    t = docs.select(F.col(id_col).alias("doc_id"), F.explode(words).alias("word"))
    tf = t.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = t.groupBy("word").agg(F.countDistinct("doc_id").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("word").asc()
    )
    return (
        tf.join(df, "word")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            "doc_id",
            "word",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.col("rn").cast("long").alias("rank"),
        )
    )


def prepare_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    budget_tokens: int = 2000,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    stream_col: str = "lang",
) -> DataFrame:
    """End-to-end training-data preparation, the composition every LLM data
    pipeline ships: quality filter (keep only documents passing every
    Gopher/C4-style rule) → benchmark decontamination (drop any document
    sharing a word ``n``-gram with the eval set) → exact dedup (keep the
    canonical min-id document per content hash) → token-budget shard
    packing of the survivors. Returns the packed survivor set
    ``(doc_id, stream, n_tokens, shard_id)``.

    The whole composition is ONE lazy plan — Catalyst shares the base scan
    where it can and the stages keep their individual scale shapes: the
    verdict is a shuffle-free scan, decontamination filters the corpus-side
    explode in-stage against the broadcast benchmark set, dedup is one hash
    shuffle, and the final window runs over the survivor set (a fraction of
    the corpus), stream-partitioned."""
    from rdf_dataset_fragmenter_js_spark.textops.dedup import exact_dedup

    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("text"),
        F.col(stream_col).alias("stream_v"),
    )
    kept = quality_filter(base).where(F.col("keep")).select("doc_id")
    clean = (
        decontaminate(base, benchmark.select(F.col(text_col).alias("text")), n=n)
        .where(~F.col("contaminated"))
        .select("doc_id")
    )
    canonical = exact_dedup(base).where(~F.col("is_duplicate")).select("doc_id")
    survivors = base.join(kept, "doc_id").join(clean, "doc_id").join(canonical, "doc_id")
    return pack_shards(
        survivors,
        budget_tokens=budget_tokens,
        id_col="doc_id",
        text_col="text",
        stream_col="stream_v",
    )
