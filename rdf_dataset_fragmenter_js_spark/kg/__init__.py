"""North-rule upstream pipeline: Common-Crawl-style web pages → byte-exact
text extraction → mention detection + entity-link scoring + OpenIE-style
triple extraction (vectorized pandas/Arrow UDFs) → entity canonicalization
(token blocking + trigram containment + connected components) → quad
graph → the fragmenter (strategies/*) → per-fragment partitioned writes
with checkpoint/resume manifest and lineage metrics.
"""
