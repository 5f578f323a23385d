"""Blank-node ownership propagation — the shared primitive behind the
subject/object strategies and dataset-summary attribution.

Reference semantics (``lib/strategy/FragmentationBlankNodeBuffer.ts``):

* a quad whose *key* term (subject for the subject strategy, object for the
  object strategy) is a blank node is buffered;
* a blank node appearing as the *value* term of a quad with a **named** key
  is "owned" by that key (``materializeValueForNamedKey``, :53-64);
* at flush, each buffered quad is emitted into the document of **every**
  owner of its key bnode (multi-owner duplication, :77-84), and ownership
  chases bnode→bnode chains to a fixpoint (:83 re-registers the value term
  under the owner — i.e. owners propagate along key→value edges **from owned
  bnodes only**);
* bnodes that never acquire a named owner are dropped with a warning
  (:111-120).

Spark design: ownership is a small transitive closure over the (key, value)
link table of bnode-valued quads, computed to its fixpoint (no iteration
cap: ownership only grows and is bounded by bnodes × owners). Link tables up
to ``_DRIVER_LINKS`` rows are closed on the driver in plain Python; larger
ones run a semi-naive frontier-join loop (``localCheckpoint`` per round to
cut lineage) that re-joins only the link table, never the quads. Both paths
compute the same fixpoint, so they agree on every input.

The quad plan itself is read three times by :func:`route_bnode_quads`: the
bnode-key probe, the ownership-links pass and, when the routed frame is
acted on, the write of its named and bnode branches. Callers that act on
the routed frame therefore persist its input (``run_pipeline_spec`` and the
streaming micro-batch persist the transformed quads), or each read re-runs
the whole upstream plan.
"""

from __future__ import annotations

from collections import defaultdict, deque

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from rdf_dataset_fragmenter_js_spark.functions.graph import small_frame
from rdf_dataset_fragmenter_js_spark.quads import BLANK_NODE, NAMED_NODE

#: Largest link table closed on the driver. Measured crossover (BENCH.md
#: "Distributed-path timings", reproducible with
#: tools/distributed_paths_bench.py): the distributed loop costs ~3 jobs of
#: fixed scheduling per round and only edges out the driver closure at
#: ~300k pre-materialized links; inside the full routing query the two
#: paths tie there (16.4 s vs 16.5 s warm), so the simpler path keeps up to
#: 1M links.
_DRIVER_LINKS = 1_000_000


def _is(df_col: Column, term_type: str) -> Column:
    return df_col == term_type


def _closure_driver(b_rows, e_rows) -> list[tuple[str, str]]:
    """Driver-side ownership closure: owners propagate along src→dst edges
    until no bnode gains an owner — the fixpoint
    :func:`_bnode_owners_distributed` also reaches."""
    own: dict[str, set] = defaultdict(set)
    for b, o in b_rows:
        own[b].add(o)
    adj: dict[str, list] = defaultdict(list)
    for s, d in e_rows:
        adj[s].append(d)
    queue = deque(own)
    while queue:
        b = queue.popleft()
        for d in adj.get(b, ()):
            new = own[b] - own[d]
            if new:
                own[d] |= new
                queue.append(d)
    return [(b, o) for b, owners in own.items() for o in owners]


def _ownership_links(
    quads: DataFrame, key: str, key_type: str, value: str, value_type: str
) -> DataFrame:
    """Distinct (__kt, __k, __v) = (key type, key, bnode value) of every
    bnode-valued quad. A named key owns its bnode value
    (FragmentationBlankNodeBuffer.ts:53-64); a bnode key links its value
    into the chain (:83). Both come out of ONE pass over the quads."""
    return (
        quads.filter(_is(F.col(value_type), BLANK_NODE))
        .select(
            F.col(key_type).alias("__kt"),
            F.col(key).alias("__k"),
            F.col(value).alias("__v"),
        )
        .distinct()
    )


def bnode_owners(
    quads: DataFrame,
    key: str,
    key_type: str,
    value: str,
    value_type: str,
) -> DataFrame:
    """Compute the distinct (bnode, owner) ownership table.

    ``key``/``value`` are quad column names (e.g. ``"s"``/``"o"`` for the
    subject strategy). Returns DataFrame[bnode: string, owner: string].
    Link tables of at most ``_DRIVER_LINKS`` rows come back in one Arrow
    fetch and are closed on the driver; larger ones run
    :func:`_bnode_owners_distributed`, which reads the persisted link
    table every round; the driver path releases it after the one fetch."""
    links = _ownership_links(quads, key, key_type, value, value_type).persist()
    pdf = small_frame(links, _DRIVER_LINKS)
    if pdf is None:
        return _bnode_owners_distributed(links)
    links.unpersist()
    base = pdf[pdf["__kt"] == NAMED_NODE]
    edges = pdf[pdf["__kt"] == BLANK_NODE]
    pairs = _closure_driver(zip(base["__v"], base["__k"]), zip(edges["__k"], edges["__v"]))
    return quads.sparkSession.createDataFrame(
        pd.DataFrame(pairs, columns=["bnode", "owner"]), "bnode string, owner string"
    )


def _bnode_owners_distributed(links: DataFrame) -> DataFrame:
    """Semi-naive frontier join over :func:`_ownership_links`: each round
    joins only the pairs found in the previous round against the chain
    edges and keeps the pairs not yet known; the loop stops when a round
    finds none, after as many rounds as the deepest chain is long."""
    # Base: named key → bnode value  (FragmentationBlankNodeBuffer.ts:53-64)
    owners = links.filter(_is(F.col("__kt"), NAMED_NODE)).select(
        F.col("__v").alias("bnode"), F.col("__k").alias("owner")
    )
    # Edges among buffered quads: bnode key → bnode value (chain links, :83)
    edges = links.filter(_is(F.col("__kt"), BLANK_NODE)).select(
        F.col("__k").alias("src"), F.col("__v").alias("dst")
    )
    frontier = owners
    while True:
        grown = (
            frontier.join(edges, frontier["bnode"] == edges["src"])
            .select(F.col("dst").alias("bnode"), F.col("owner"))
            .distinct()
            .join(owners, on=["bnode", "owner"], how="left_anti")
            .localCheckpoint(eager=True)
        )
        if grown.isEmpty():
            return owners
        owners = owners.unionByName(grown).localCheckpoint(eager=True)
        frontier = grown


def route_bnode_quads(
    quads: DataFrame,
    key: str,
    key_type: str,
    value: str,
    value_type: str,
) -> DataFrame:
    """Route buffered (bnode-key) quads into every owner's document.

    Unowned bnode quads are dropped (the reference only warns,
    FragmentationBlankNodeBuffer.ts:111-120). Output: ``doc`` + quad columns,
    duplicated per distinct owner (multi-owner semantics, jest fixture
    ``FragmentationStrategySubject-test.ts:160-167``).
    """
    bnode_quads = quads.filter(_is(F.col(key_type), BLANK_NODE))
    # Short-circuit: most real pipelines have no bnode-keyed quads at all —
    # one limit-1 probe (filter pushed to the scan) avoids the whole
    # iterative-closure machinery and its checkpoint jobs.
    if bnode_quads.limit(1).isEmpty():
        return quads.limit(0).select(F.lit("").alias("doc"), *quads.columns)
    owners = bnode_owners(quads, key, key_type, value, value_type)
    # No broadcast hint: the (bnode, owner) table is usually small but can be
    # proportional to the data at web scale — let AQE pick broadcast vs
    # shuffle-hash at runtime (it sees the actual size post-closure).
    routed = bnode_quads.join(
        owners.withColumnRenamed("bnode", "__bk"),
        bnode_quads[key] == F.col("__bk"),
        "inner",
    ).select(F.col("owner").alias("doc"), *[bnode_quads[c] for c in quads.columns])
    return routed
