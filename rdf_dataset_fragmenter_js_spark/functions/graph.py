"""The driver-or-distributed gate and the driver union-find shared by the
engine's three graph iterations: blank-node ownership
(``strategies/bnode.py``), near-duplicate connected components
(``textops/dedup.py``) and entity canonicalization (``kg/canonicalize.py``).

Each of them solves small inputs on the driver in plain Python, because a
distributed iterative loop pays a fixed few jobs of scheduling per round,
and hands large inputs to its distributed branch. The driver and the
distributed branch compute the same fixpoint with no iteration cap, so they
agree on every input; the gate only picks the cheaper one.
"""

from __future__ import annotations

from collections.abc import Hashable, Iterable

import pandas as pd
from pyspark.sql import DataFrame


def small_frame(df: DataFrame, limit: int) -> pd.DataFrame | None:
    """``df`` as a pandas frame when it has at most ``limit`` rows, else
    ``None`` (the caller then runs its distributed branch).

    One Arrow transfer of at most ``limit + 1`` rows answers both "is it
    small?" and "what are the rows?": there is no separate count job, so a
    small input costs one fetch and a large one costs one bounded fetch
    before its distributed branch runs."""
    pdf = df.limit(limit + 1).toPandas()
    return pdf if len(pdf) <= limit else None


def union_find(edges: Iterable[tuple[Hashable, Hashable]]) -> dict:
    """Connected components of an undirected edge list: every node that
    appears in an edge → the minimum node of its component (min-label
    roots, the same labels the distributed min-label propagation in
    ``textops/dedup.py`` converges to)."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in parent}
