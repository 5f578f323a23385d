from __future__ import annotations

import os
import sys
from collections import Counter
from contextlib import contextmanager

import pytest

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '4')}]")
        .appName("rdf-dataset-fragmenter-js-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    yield spark
    spark.stop()


def collect_routed(df):
    """(doc, s, p, o) multiset — the parity contract: per-doc quad multisets
    (FIXTURES.md §2)."""
    rows = df.select("doc", "s_type", "s", "p", "o_type", "o", "o_datatype", "o_lang", "g").collect()
    return sorted(
        (r.doc, r.s_type, r.s, r.p, r.o_type, r.o, r.o_datatype, r.o_lang, r.g) for r in rows
    )


def routed(doc, s, p, o, s_type="NamedNode", o_type="NamedNode", o_datatype=None, o_lang=None, g=None):
    return (doc, s_type, s, p, o_type, o, o_datatype, o_lang, g)


@contextmanager
def sql_conf(spark, settings: dict[str, str]):
    """Set session confs for the block and restore the previous values."""
    old = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


#: one shuffle partition, so one writer task holds every path, fed 2-row
#: Arrow batches, so a path's run of rows spans batch boundaries
SMALL_ARROW_BATCHES = {
    "spark.sql.shuffle.partitions": "1",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2",
}

#: rows per fragment of :func:`batch_boundary_quads`; ``big`` outgrows a batch
BOUNDARY_SIZES = {"big": 5, "one": 1, "two": 2, "three": 3}


def batch_boundary_quads(graphs: bool) -> list[tuple]:
    """Distinct quads for :data:`BOUNDARY_SIZES` subjects: named-node,
    language and datatyped objects, and (with ``graphs``) one named-graph
    quad per fragment of two or more rows."""
    from rdf_dataset_fragmenter_js_spark.quads import quad

    rows = []
    for name, n in BOUNDARY_SIZES.items():
        for i in range(n):
            kind = i % 3
            rows.append(
                quad(
                    f"http://ex.org/{name}",
                    f"http://ex.org/p{i}",
                    f"http://ex.org/o{i}" if kind == 0 else f'v "{i}"\n',
                    o_type="NamedNode" if kind == 0 else "Literal",
                    o_lang="en" if kind == 1 else None,
                    o_datatype="http://ex.org/dt" if kind == 2 else None,
                    g="http://g.org/1" if graphs and i == 1 else None,
                )
            )
    return rows


def term_multiset(rows, graph: bool = True) -> Counter:
    """(s, p, o_type, o, o_datatype, o_lang[, g]) multiset of quad rows."""
    return Counter(
        (r.s, r.p, r.o_type, r.o, r.o_datatype, r.o_lang) + ((r.g,) if graph else ())
        for r in rows
    )
