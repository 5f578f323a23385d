"""Quad sources, dispatched by one source-format table
(``nquads.py:SOURCE_FORMATS``: kind -> extensions + per-file parser):
N-Quads/N-Triples through the vectorized splittable line parser; Turtle/
TriG, N3, RDF/XML, JSON-LD, RDFa, Microdata and HDT through the one
per-file reader (driverfile.py — one local file read as bytes on the
driver, globs and directories as ``binaryFiles`` on executors); composite
concatenation; and the synthetic Common-Crawl-style web-page table
generator. ``read_rdf`` picks the kind by extension."""
