"""Webtext training-data filters: Gopher-style repetition signals, the
composite quality-filter verdict, and deterministic hash sampling
(textops/quality.py). Fixtures are hand-computed."""

from __future__ import annotations

import hashlib

import pytest

from rdf_dataset_fragmenter_js_spark.textops import quality as Q


def _one(df, doc_id):
    return {r["doc_id"]: r.asDict() for r in df.collect()}[doc_id]


@pytest.fixture(scope="module")
def rep(spark):
    docs = spark.createDataFrame(
        [
            (0, "a b a b c"),  # 9 chars
            (1, "x y x y x y x y x y x y"),  # 12 words, 23 chars
            (2, ""),  # zero words
            (3, "solo"),  # 1 word: no 2/3/5-grams at all
        ],
        "doc_id long, text string",
    )
    return {r["doc_id"]: r.asDict() for r in Q.repetition_signals(docs).collect()}


def test_repetition_basic(rep):
    r = rep[0]
    # 2-grams: 'a b'x2, 'b a', 'b c' -> top = (2, 'a b'): 2*3/9
    assert r["top2gram_frac"] == round(2 * 3 / 9, 6)
    # 3-grams all count 1 -> tie broken toward the largest gram 'b a b' (len 5)
    assert r["top3gram_frac"] == round(1 * 5 / 9, 6)
    # only one 5-gram, no duplicates
    assert r["dup5gram_frac"] == 0.0
    # words: a,b,a,b,c -> 3 distinct / 5
    assert r["uniq_word_frac"] == 0.6


def test_repetition_dup5_capped(rep):
    r = rep[1]
    # every 5-gram is one of two alternating grams, each appearing 4 times:
    # dup chars = 8 * 9 = 72 > 23 chars -> capped at 1.0
    assert r["dup5gram_frac"] == 1.0
    # 'x y' x6 of 11 2-grams -> 6*3/23
    assert r["top2gram_frac"] == round(6 * 3 / 23, 6)
    assert r["uniq_word_frac"] == round(2 / 12, 6)


def test_repetition_degenerate_docs(rep):
    # zero-word and sub-n docs still get a row (left join), all-zero signals
    assert rep[2] == {
        "doc_id": 2,
        "top2gram_frac": 0.0,
        "top3gram_frac": 0.0,
        "dup5gram_frac": 0.0,
        "uniq_word_frac": 0.0,
    }
    r3 = rep[3]
    assert (r3["top2gram_frac"], r3["dup5gram_frac"]) == (0.0, 0.0)
    assert r3["uniq_word_frac"] == 1.0


def test_quality_filter_reasons(spark):
    w4 = [f"w{i:03d}" for i in range(20)]  # 20 distinct 4-char words
    docs = spark.createDataFrame(
        [
            (0, "the cat"),  # 2 words
            (1, " ".join("ab" for _ in range(25))),  # mean word len 2
            (2, " ".join(["wxyz", "abcd", "efgh", "ijkl"] * 5)),  # uniq 4/20
            (3, " ".join(["aaaa"] * 5 + w4[:15])),  # top 5/20, uniq 16/20
            (4, " ".join(w4)),  # clean but no stopwords
            (5, " ".join(w4[:19] + ["the"])),  # keeps
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in Q.quality_filter(docs).collect()}
    assert out[0]["reason"] == "too_few_words"
    assert out[1]["reason"] == "word_length"
    assert out[2]["reason"] == "low_diversity"
    assert out[3]["reason"] == "repetitive_top_word"
    assert out[4]["reason"] == "no_stopwords"
    assert out[5]["reason"] == "ok"
    assert [out[i]["keep"] for i in range(6)] == [False] * 5 + [True]
    # metric spot-checks
    assert out[3]["top_word_frac"] == 0.25
    assert out[2]["uniq_word_frac"] == 0.2
    assert out[5]["n_words"] == 20


def test_deterministic_sample_matches_hashlib(spark):
    rows = [(i, f"Doc {i} body  text") for i in range(64)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["sample_hash"] for r in Q.deterministic_sample(docs).collect()}
    expect = {}
    for i, text in rows:
        norm = " ".join(text.lower().strip().split())  # collapse whitespace
        h = hashlib.md5(norm.encode()).hexdigest()
        if h[0] < "4":
            expect[i] = h
    assert out == expect
    assert 0 < len(out) < 64  # both outcomes exercised
    # re-run is identical (stable across partitionings)
    again = {
        r["doc_id"]: r["sample_hash"]
        for r in Q.deterministic_sample(docs.repartition(7)).collect()
    }
    assert again == out


def test_deterministic_sample_salt_rotates(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(64)], "doc_id long, text string"
    )
    a = {r["doc_id"] for r in Q.deterministic_sample(docs).collect()}
    b = {r["doc_id"] for r in Q.deterministic_sample(docs, salt="s1").collect()}
    assert a != b


def test_decontaminate_word8gram_overlap(spark):
    from rdf_dataset_fragmenter_js_spark.textops import corpus as CP

    docs = spark.createDataFrame(
        [
            (0, "a b c d e f g h i j"),  # the benchmark doc
            (1, "z z z a b c d e f g h zz"),  # contains 'a b c d e f g h'
            (2, "q r s t u v w x y"),  # clean
            (3, "too short"),  # < 8 words: no grams, clean
        ],
        "doc_id long, text string",
    )
    bench = docs.where("doc_id = 0")
    out = {r["doc_id"]: r.asDict() for r in CP.decontaminate(docs, bench, n=8).collect()}
    assert out[0] == {"doc_id": 0, "n_contaminated_grams": 3, "contaminated": True}
    assert out[1] == {"doc_id": 1, "n_contaminated_grams": 1, "contaminated": True}
    assert out[2]["contaminated"] is False and out[2]["n_contaminated_grams"] == 0
    assert out[3]["contaminated"] is False
    # the benchmark side must be the broadcast side of the join
    plan = CP.decontaminate(docs, bench, n=8)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_pack_shards_budget_boundaries(spark):
    from rdf_dataset_fragmenter_js_spark.textops import corpus as CP

    def words(n, w="tok"):
        return " ".join(f"{w}{i}" for i in range(n))

    docs = spark.createDataFrame(
        [
            (1, "en", words(4)),
            (2, "en", words(5)),
            (3, "en", words(3)),  # cum 12: still shard 0 (started at 9 < 10)
            (4, "en", words(12)),  # oversize doc: own shard 1
            (5, "en", words(2)),  # cum-before 24 -> shard 2
            (6, "de", words(7)),  # independent stream restarts at shard 0
            (7, "de", words(9)),
        ],
        "doc_id long, lang string, text string",
    )
    out = {
        r["doc_id"]: (r["stream"], r["n_tokens"], r["shard_id"])
        for r in CP.pack_shards(docs, budget_tokens=10).collect()
    }
    assert out[1] == ("en", 4, 0)
    assert out[2] == ("en", 5, 0)
    assert out[3] == ("en", 3, 0)
    assert out[4] == ("en", 12, 1)
    assert out[5] == ("en", 2, 2)
    assert out[6] == ("de", 7, 0)
    assert out[7] == ("de", 9, 0)


def test_prepare_corpus_stage_composition(spark):
    from rdf_dataset_fragmenter_js_spark.textops import corpus as CP

    bw = [f"bm{i:02d}" for i in range(23)] + ["the"]
    d1 = [f"wd{i:02d}" for i in range(23)] + ["the"]
    d3 = [f"zz{i:02d}" for i in range(15)] + bw[0:8] + ["the"]
    d5 = [f"qq{i:02d}" for i in range(23)] + ["the"]
    docs = spark.createDataFrame(
        [
            (1, "en", " ".join(d1)),  # survives
            (2, "en", " ".join(d1)),  # exact duplicate of 1: dedup drops it
            (3, "en", " ".join(d3)),  # shares an 8-gram with the benchmark
            (4, "en", "the cat"),  # fails quality (too few words)
            (5, "en", " ".join(d5)),  # survives, second shard at budget 20
        ],
        "doc_id long, lang string, text string",
    )
    bench = spark.createDataFrame([(100, "en", " ".join(bw))], docs.schema)
    out = {
        r["doc_id"]: (r["stream"], r["n_tokens"], r["shard_id"])
        for r in CP.prepare_corpus(docs, bench, budget_tokens=20).collect()
    }
    assert out == {1: ("en", 24, 0), 5: ("en", 24, 1)}

    # a non-default text column names the benchmark's text column too
    renamed = CP.prepare_corpus(
        docs.withColumnRenamed("text", "body"),
        bench.withColumnRenamed("text", "body"),
        budget_tokens=20,
        text_col="body",
    )
    assert {r["doc_id"]: (r["stream"], r["n_tokens"], r["shard_id"]) for r in renamed.collect()} == out


def test_corpus_vocab_topk_and_ties(spark):
    from rdf_dataset_fragmenter_js_spark.textops import corpus as CP

    docs = spark.createDataFrame(
        [
            (1, "b a b c b"),
            (2, "a c a d"),
            (3, "e e"),
        ],
        "doc_id long, text string",
    )
    # totals: a=3(df2), b=3(df1), c=2(df2), e=2(df1), d=1(df2)
    rows = CP.corpus_vocab(docs, top_k=4).collect()
    got = [(r["word"], r["n_occurrences"], r["doc_freq"]) for r in rows]
    # ties (a/b at 3, c/e at 2) broken toward the smaller word; d cut by k=4
    assert got == [("a", 3, 2), ("b", 3, 1), ("c", 2, 2), ("e", 2, 1)]
    # global top-k must plan as TakeOrderedAndProject, not a full sort
    plan = CP.corpus_vocab(docs, top_k=4)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_repetition_matches_python_reference(spark):
    """Property test: repetition_signals vs an independent pure-Python
    model over randomized word lists (third implementation besides the
    DuckDB oracle)."""
    import random
    from collections import Counter

    rng = random.Random(42)
    vocab = ["aa", "bee", "cede", "dd", "e"]
    rows = []
    for doc_id in range(40):
        n = rng.randint(0, 30)
        rows.append((doc_id, " ".join(rng.choice(vocab) for _ in range(n))))

    def expected(text):
        words = text.split() if text.strip() else []
        n_chars = max(len(text), 1)
        out = {}
        for n, key in [(2, "top2gram_frac"), (3, "top3gram_frac")]:
            grams = [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]
            if grams:
                c = Counter(grams)
                top = max(c.items(), key=lambda kv: (kv[1], kv[0]))
                out[key] = round(top[1] * len(top[0]) / n_chars, 6)
            else:
                out[key] = 0.0
        g5 = Counter(" ".join(words[i : i + 5]) for i in range(len(words) - 4))
        dup = sum(c * len(g) for g, c in g5.items() if c > 1)
        out["dup5gram_frac"] = round(min(dup / n_chars, 1.0), 6)
        out["uniq_word_frac"] = round(len(set(words)) / len(words), 6) if words else 0.0
        return out

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in Q.repetition_signals(docs).collect()}
    for doc_id, text in rows:
        exp = expected(text)
        for k, v in exp.items():
            assert got[doc_id][k] == v, (doc_id, k, got[doc_id][k], v, text)


def test_redact_pii_patterns(spark):
    docs = spark.createDataFrame(
        [
            (0, "mail a.b+c@sub.example.org and d@e.io now"),
            (1, "hosts 10.0.0.1 and 192.168.255.3, call +44-207-946-0958"),
            (2, "clean text with no pii at all"),
            (3, "v1.2.3.4 is a version-ish string"),  # no \b between v and 1: not an IP
            (4, "+1-555-123-4567 +999-111-222-3333"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in Q.redact_pii(docs).collect()}
    assert out[0]["redacted"] == "mail <EMAIL> and <EMAIL> now"
    assert out[0]["n_email"] == 2 and out[0]["n_ipv4"] == 0
    assert out[1]["redacted"] == "hosts <IP> and <IP>, call <PHONE>"
    assert (out[1]["n_ipv4"], out[1]["n_phone"]) == (2, 1)
    assert out[2]["redacted"] == "clean text with no pii at all"
    assert (out[2]["n_email"], out[2]["n_ipv4"], out[2]["n_phone"]) == (0, 0, 0)
    # \b is between word chars 'v' and '1' -> NO boundary, so a version-ish
    # "v1.2.3.4" is (desirably) NOT treated as an IP — same in Java and RE2
    assert out[3]["redacted"] == "v1.2.3.4 is a version-ish string"
    assert out[3]["n_ipv4"] == 0
    assert out[4]["redacted"] == "<PHONE> <PHONE>"


def test_decontaminate_fuzzy_catches_near_dups(spark):
    from rdf_dataset_fragmenter_js_spark.textops import corpus as CP

    base = " ".join(f"tok{i:03d}" for i in range(40))  # 40 distinct words
    edited = base.replace("tok020", "EDITED")  # near-dup of the benchmark
    docs = spark.createDataFrame(
        [
            (0, base),  # verbatim benchmark copy
            (1, edited),  # paraphrased-ish: most shingles shared
            (2, " ".join(f"zzz{i:03d}" for i in range(40))),  # unrelated
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, base)], docs.schema)
    out = {
        r["doc_id"]: r["contaminated"]
        for r in CP.decontaminate_fuzzy(docs, bench).collect()
    }
    assert out == {0: True, 1: True, 2: False}
    # benchmark band-set must be the broadcast side
    plan = (
        CP.decontaminate_fuzzy(docs, bench)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_top_terms_tf_then_rarity(spark):
    from rdf_dataset_fragmenter_js_spark.textops import corpus as CP

    docs = spark.createDataFrame(
        [
            (1, "x x x common rare common"),  # tf: x=3, common=2, rare=1
            (2, "common common y"),  # tf: common=2, y=1
        ],
        "doc_id long, text string",
    )
    # corpus df: x=1, common=2, rare=1, y=1
    out = {
        (r["doc_id"], r["rank"]): (r["word"], r["tf"], r["df"])
        for r in CP.top_terms(docs, k=2).collect()
    }
    assert out[(1, 1)] == ("x", 3, 1)
    assert out[(1, 2)] == ("common", 2, 2)
    # doc 2: common tf=2 first; y tf=1 beats nothing else
    assert out[(2, 1)] == ("common", 2, 2)
    assert out[(2, 2)] == ("y", 1, 1)
    assert len(out) == 4
