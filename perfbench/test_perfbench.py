"""Tests of the benchmark itself: the generators' ground truth holds, and a
damaged copy of a correct job output fails its check.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import jobs as J  # noqa: E402
from gen import CITIES, FIRST, LAST, ORG_STEMS  # noqa: E402

SPEC = json.load(open(os.path.join(HERE, "spec.json")))
#: ``kg.canonicalize``'s default merge threshold
MERGE_AT = 0.7


def _params(name: str, **small) -> dict:
    w = SPEC["workloads"][name]
    return dict(w["generator"], **w["job"], **small)


def _blocks(forms: list[str]) -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for f in forms:
        toks = f.split(" ")
        for b in {toks[0], toks[-1]}:
            out.setdefault(b, []).append(f)
    return out


def _containment(a: str, b: str) -> float:
    ta = {a[i : i + 3] for i in range(max(len(a) - 2, 1))}
    tb = {b[i : i + 3] for i in range(max(len(b) - 2, 1))}
    return len(ta & tb) / min(len(ta), len(tb))


def test_entity_pools_stay_apart_under_canonicalization():
    """No two distinct entities share a first/last-token block at or above
    the merge threshold, so the generator's entity count is the number of
    canonical subjects the program must find."""
    persons = gen.person_pool(SPEC["workloads"]["kg_crawl"]["generator"]["persons"])
    forms = [f"{f} {l}".lower() for f, l in persons]
    orgs = [f"{s.lower()} inc" for s in ORG_STEMS]
    assert len(set(forms)) == len(forms)
    for members in list(_blocks(forms).values()) + list(_blocks(orgs).values()):
        for a, b in itertools.combinations(sorted(set(members)), 2):
            assert _containment(a, b) < MERGE_AT, (a, b)
    person_tokens = {w.lower() for w in FIRST + LAST}
    other = {w.lower() for w in ORG_STEMS + CITIES} | {"inc"}
    assert not person_tokens & other
    assert len(other) == len(ORG_STEMS) + len(CITIES) + 1


@pytest.mark.parametrize(
    "name,fn,small",
    [
        ("kg_crawl", gen.gen_kg_pages, {"pages": 200}),
        ("solidbench_fragment", gen.gen_solidbench, {"persons": 40}),
        ("corpus_prep", gen.gen_corpus, {"base_docs": 300}),
    ],
)
def test_generators_are_seeded(tmp_path, name, fn, small):
    p = _params(name, **small)
    fn(str(tmp_path / "a"), 5, p)
    fn(str(tmp_path / "b"), 5, p)
    fn(str(tmp_path / "c"), 6, p)
    read = lambda d: (tmp_path / d / "expected.json").read_text()  # noqa: E731
    assert read("a") == read("b")
    assert read("a") != read("c")


# ---------------------------------------------------------------------------
# damaged outputs fail their checks
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import session as S

    work = str(tmp_path_factory.mktemp("work"))
    S.prepare_env(os.path.dirname(HERE), work)
    s = S.start_session(2, 4, work)
    yield s
    s.stop()


def _copy(src, dst) -> str:
    shutil.copytree(src, dst)
    return str(dst)


def test_kg_check_rejects_damage(spark, tmp_path):
    p = _params("kg_crawl", pages=300)
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    truth = gen.gen_kg_pages(inp, 3, p)
    sample = J.kg_sample(inp, truth, 3, p)
    J.check_kg_text(spark, sample)
    J.run_kg(spark, inp, out, p)
    assert J.check_kg(out, truth, sample) == truth["quads"]

    # a data file lost after the manifest was written
    lost = _copy(out, tmp_path / "lost")
    data = sorted(
        os.path.join(d, f)
        for d, _, fs in os.walk(os.path.join(lost, "fragments"))
        for f in fs
        if f.endswith(".parquet")
    )
    os.remove(data[0])
    with pytest.raises(J.CheckFailed):
        J.check_kg(lost, truth, sample)

    # a manifest that misses one fragment
    short = _copy(out, tmp_path / "short")
    m = pq.read_table(os.path.join(short, "_manifest"))
    shutil.rmtree(os.path.join(short, "_manifest"))
    os.makedirs(os.path.join(short, "_manifest"))
    pq.write_table(m.slice(1), os.path.join(short, "_manifest", "part-0.parquet"))
    with pytest.raises(J.CheckFailed):
        J.check_kg(short, truth, sample)


def test_solidbench_check_rejects_damage(spark, tmp_path):
    p = _params("solidbench_fragment", persons=60)
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    truth = gen.gen_solidbench(inp, 3, p)
    sample = J.solidbench_sample(truth, 3, p)
    J.run_solidbench(spark, inp, out, p)
    assert J.check_solidbench(out, truth, sample) == truth["output_quads"]

    missing = _copy(out, tmp_path / "missing")
    os.remove(os.path.join(missing, sample[0]))
    with pytest.raises(J.CheckFailed):
        J.check_solidbench(missing, truth, sample)

    # one quad of a sampled document rewritten, line count unchanged
    edited = _copy(out, tmp_path / "edited")
    path = os.path.join(edited, sample[-1])
    lines = open(path).read().splitlines()
    lines[0] = lines[0].replace("<", "<http://wrong.ex/", 1)
    open(path, "w").write("\n".join(lines) + "\n")
    with pytest.raises(J.CheckFailed):
        J.check_solidbench(edited, truth, sample)


def test_corpus_check_rejects_damage(spark, tmp_path):
    p = _params("corpus_prep", base_docs=400)
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    truth = gen.gen_corpus(inp, 3, p)
    J.run_corpus(spark, inp, out, p)
    assert J.check_corpus(out, truth, p) == len(truth["survivors"])

    good = pq.read_table(out)

    def damaged(name: str, table: pa.Table) -> str:
        d = tmp_path / name
        d.mkdir()
        pq.write_table(table, str(d / "part-0.parquet"))
        return str(d)

    # an injected exact duplicate survives
    dup = truth["dropped"]["exact_dup"][0]
    row = good.slice(0, 1).to_pydict()
    row["doc_id"] = [dup]
    leaked = pa.concat_tables([good, pa.table(row, schema=good.schema)])
    with pytest.raises(J.CheckFailed):
        J.check_corpus(damaged("leaked", leaked), truth, p)

    # one clean document lost
    with pytest.raises(J.CheckFailed):
        J.check_corpus(damaged("lost", good.slice(1)), truth, p)

    # one document moved to another shard
    shards = good.column("shard_id").to_pylist()
    shards[0] += 1
    moved = good.set_column(good.schema.get_field_index("shard_id"), "shard_id", pa.array(shards, pa.int64()))
    with pytest.raises(J.CheckFailed):
        J.check_corpus(damaged("moved", moved), truth, p)
