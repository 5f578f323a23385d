"""N-Quads / N-Triples source and serializer (``lib/io/QuadSourceFile.ts``).

The reference parses RDF files with rdf-parse streams; our engine reads the
file as distributed text lines and parses each line with native regexp
Column expressions — fully vectorized, whole-stage codegen, splittable input
(each executor parses its own byte range). ``seq`` preserves source order
via per-file line numbers (order-sensitivity contract, SURVEY.md §4.3).
"""

from __future__ import annotations

from importlib import import_module
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rdf_dataset_fragmenter_js_spark.quads import BLANK_NODE, LITERAL, NAMED_NODE

_IRI = r"<([^>]*)>"
_BNODE = r"_:(\S+)"
_LIT = r'"((?:[^"\\]|\\.)*)"(?:\^\^<([^>]*)>|@([A-Za-z0-9\-]+))?'

_SUBJ = rf"(?:{_IRI}|{_BNODE})"
_PRED = _IRI
# object: IRI | bnode | literal
_OBJ = rf"(?:{_IRI}|{_BNODE}|{_LIT})"
_GRAPH = rf"(?:\s+(?:{_IRI}|{_BNODE}))?"

# full line; group numbering:
# 1 s_iri, 2 s_bnode, 3 p, 4 o_iri, 5 o_bnode, 6 o_lit, 7 o_dt, 8 o_lang,
# 9 g_iri, 10 g_bnode
NQUADS_LINE = rf"^\s*{_SUBJ}\s+{_PRED}\s+{_OBJ}{_GRAPH}\s*\.\s*$"


def _unescape(col):
    r"""Decode N-Triples string escapes (\" \\ \n \r \t) natively. \uXXXX
    escapes are rare in practice; lines containing them fall back to the
    same replacement chain (codepoint escapes pass through unchanged)."""
    # Replace escaped backslash last-stage via sentinel to avoid re-matching.
    sentinel = "\x00"
    c = F.regexp_replace(col, r"\\\\", sentinel)
    c = F.regexp_replace(c, r'\\"', '"')
    c = F.regexp_replace(c, r"\\n", "\n")
    c = F.regexp_replace(c, r"\\r", "\r")
    c = F.regexp_replace(c, r"\\t", "\t")
    return F.regexp_replace(c, sentinel, r"\\")


def parse_nquads_lines(lines: DataFrame, text_col: str = "value") -> DataFrame:
    """Parse a DataFrame of N-Quads lines into the quad schema. Comment and
    blank lines are dropped. Malformed lines are dropped (the reference's
    parser would raise; use :func:`parse_nquads_strict` to assert)."""
    c = F.col(text_col)
    ext = lambda i: F.regexp_extract(c, NQUADS_LINE, i)  # noqa: E731

    parsed = (
        lines.filter(~c.rlike(r"^\s*(#|$)"))
        .withColumn("__m", F.regexp_extract(c, NQUADS_LINE, 0))
        .filter(F.col("__m") != "")
        .select(
            F.when(ext(2) != "", F.lit(BLANK_NODE)).otherwise(F.lit(NAMED_NODE)).alias("s_type"),
            F.when(ext(2) != "", ext(2)).otherwise(ext(1)).alias("s"),
            ext(3).alias("p"),
            F.when(ext(5) != "", F.lit(BLANK_NODE))
            .when(ext(4) != "", F.lit(NAMED_NODE))
            .otherwise(F.lit(LITERAL))
            .alias("o_type"),
            F.when(ext(5) != "", ext(5))
            .when(ext(4) != "", ext(4))
            .otherwise(_unescape(ext(6)))
            .alias("o"),
            F.when(ext(7) != "", ext(7)).otherwise(F.lit(None).cast("string")).alias("o_datatype"),
            F.when(ext(8) != "", ext(8)).otherwise(F.lit(None).cast("string")).alias("o_lang"),
            # bnode graph labels keep the '_:' marker in-band (g has no
            # companion type column — quads.py)
            F.when(ext(10) != "", F.concat(F.lit("_:"), ext(10)))
            .when(ext(9) != "", ext(9))
            .otherwise(F.lit(None).cast("string"))
            .alias("g"),
            F.monotonically_increasing_id().alias("seq"),
        )
    )
    return parsed


def parse_nquads_strict(lines: DataFrame, text_col: str = "value") -> DataFrame:
    """Like :func:`parse_nquads_lines` but malformed (non-comment, non-blank,
    non-matching) lines raise at action time — the reference parser's
    error behavior, expressed with ``raise_error`` inside the plan so no
    extra pass over the data is needed."""
    c = F.col(text_col)
    checked = lines.withColumn(
        text_col,
        F.when(
            c.rlike(r"^\s*(#|$)") | (F.regexp_extract(c, NQUADS_LINE, 0) != ""),
            c,
        ).otherwise(
            F.raise_error(F.concat(F.lit("Malformed N-Quads line: "), c))
        ),
    )
    return parse_nquads_lines(checked, text_col)


class SourceFormat(NamedTuple):
    """One row of :data:`SOURCE_FORMATS`: a serialization's file extensions
    and its per-file parser."""

    extensions: tuple[str, ...]
    #: ``module.function`` of the per-file parser, imported on first use;
    #: None for the vectorized, splittable line reader
    parser: str | None
    #: the parser takes the file's bytes rather than its text
    binary: bool = False

    def parse(self, data: bytes, base: str | None, **options) -> list[tuple]:
        """One file's bytes -> quad tuples. Text formats decode here and
        nowhere else: strict UTF-8 (invalid bytes raise), newlines kept as
        written (a CRLF inside a long literal stays CRLF)."""
        module, name = self.parser.rsplit(".", 1)
        fn = getattr(import_module(f"rdf_dataset_fragmenter_js_spark.{module}"), name)
        return fn(data if self.binary else data.decode("utf-8"), base, **options)


#: kind -> extensions + parser: the one extension dispatch, read by
#: read_rdf's sniff, the QuadSourceFile ``format`` key and the streaming
#: runner. A sniff takes the FIRST kind listing an extension, so ``.html``
#: reads as RDFa (rdf-parse's primary HTML route) unless ``format:
#: "microdata"`` pins it. TriG is a syntactic superset of Turtle; N3 is its
#: quad-projectable subset; rdf-parse maps ``.json`` to JSON-LD; HDT is our
#: own QuadSinkHdt output, which the reference cannot read back.
SOURCE_FORMATS: dict[str, SourceFormat] = {
    "nquads": SourceFormat((".nt", ".nq", ".ntriples", ".nquads"), None),
    "turtle": SourceFormat((".ttl", ".turtle", ".trig"), "sources.turtle.parse_turtle"),
    "n3": SourceFormat((".n3",), "sources.turtle.parse_n3"),
    "rdfxml": SourceFormat((".rdf", ".owl", ".rdfxml"), "sources.rdfxml.parse_rdfxml"),
    "jsonld": SourceFormat((".jsonld", ".json"), "sources.jsonld.parse_jsonld"),
    "rdfa": SourceFormat((".html", ".xhtml", ".htm"), "sources.rdfa.parse_rdfa"),
    "microdata": SourceFormat((".html", ".xhtml", ".htm"), "sources.microdata.parse_microdata"),
    "hdt": SourceFormat((".hdt",), "sinks.hdt.parse_hdt", binary=True),
}


def source_format(kind: str) -> SourceFormat:
    """The table row for an explicit ``format`` key; unknown kinds raise
    (a typo must not fall back to extension dispatch)."""
    if kind not in SOURCE_FORMATS:
        raise ValueError(
            f"QuadSourceFile format {kind!r} is not a recognized override — "
            f"omit it for extension dispatch, or use one of {list(SOURCE_FORMATS)}"
        )
    return SOURCE_FORMATS[kind]


def _kind_of(name: str) -> str | None:
    """The first table kind whose extensions end ``name``."""
    n = name.lower()
    return next((k for k, f in SOURCE_FORMATS.items() if n.endswith(f.extensions)), None)


_SCHEME_PREFIX = r"^[A-Za-z][A-Za-z0-9+.\-]*:"


def resolve_terms_against_base(df: DataFrame, base_iri: str) -> DataFrame:
    """Resolve relative IRI terms against ``base_iri`` (the reference's
    ``baseIRI`` source option, ``lib/io/QuadSourceFile.ts:12,35-37``) —
    all-native column resolution, applied only to scheme-less values."""
    from rdf_dataset_fragmenter_js_spark.functions.iri import resolve_iri_col

    base = F.lit(base_iri)
    for value_col, type_col in (("s", "s_type"), ("p", None), ("o", "o_type"), ("g", None)):
        col = F.col(value_col)
        is_iri = (
            (F.col(type_col) == NAMED_NODE) if type_col else col.isNotNull()
        )
        cond = is_iri & ~col.rlike(_SCHEME_PREFIX)
        df = df.withColumn(
            value_col, F.when(cond, resolve_iri_col(col, base)).otherwise(col)
        )
    return df


def read_nquads(spark: SparkSession, path: str, base_iri: str | None = None) -> DataFrame:
    """``QuadSourceFile`` (``lib/io/QuadSourceFile.ts:19-25``) for .nt/.nq."""
    lowered = path.lower()
    dotted = "." in lowered.rsplit("/", 1)[-1]
    line_exts = SOURCE_FORMATS["nquads"].extensions
    if dotted and not lowered.endswith(line_exts) and not lowered.endswith("*"):
        raise NotImplementedError(
            f"QuadSourceFile: unsupported RDF serialization for '{path}' — the "
            f"vectorized line parser handles {line_exts}; use read_rdf for "
            "extension dispatch to the per-file parsers"
        )
    df = parse_nquads_lines(spark.read.text(path))
    if base_iri:
        df = resolve_terms_against_base(df, base_iri)
    return df


def _sniff_format(
    path: str,
    spark: SparkSession | None = None,
    on_empty: str = "default",
    return_names: bool = False,
):
    """Classify a path (file, glob, or directory) by the extension(s) of
    the file(s) it targets: a :data:`SOURCE_FORMATS` kind.

    Scheme-qualified paths (hdfs://, s3a://, …) are listed through the same
    Hadoop FileSystem machinery the readers use (sources/driverfile.py) —
    probing the DRIVER's local filesystem for them would silently classify
    a remote .ttl directory as 'nquads' and drop every line as malformed.

    ``on_empty``: what to do when the target has NO files to sniff (missing
    extension-less path, empty directory): ``"default"`` falls back to
    N-Quads — harmless for a one-shot batch read, which then just produces
    zero rows — while ``"raise"`` (the streaming runner) raises
    FileNotFoundError, because a stream fixes its reader at start and a
    wrong guess would silently drop every later-arriving parsed-format file.

    ``return_names=True`` returns ``(format, names_or_None)`` where names
    is the concrete remote file list when a Hadoop listing was performed
    for a per-file kind — callers pass it to the reader so object-store
    directories aren't listed twice (a second globStatus/listStatus
    round-trip per read). The line reader lists through
    ``spark.read.text`` itself, so N-Quads gets None."""
    import glob as _glob
    import os
    import re as _re

    def done(fmt: str, names=None):
        return (fmt, names) if return_names else fmt

    direct = _kind_of(path)
    if direct:
        return done(direct)
    listed_remote = False
    if _re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*://", path) and not path.startswith("file:"):
        from rdf_dataset_fragmenter_js_spark.sources.driverfile import _expand_hadoop

        if spark is None:
            raise ValueError(
                f"QuadSourceFile: cannot classify remote path {path!r} without a "
                "SparkSession (Hadoop FileSystem listing) — pass spark or use an "
                "extension-qualified path"
            )
        all_ext = tuple(e for f in SOURCE_FORMATS.values() for e in f.extensions)
        names = _expand_hadoop(spark, path, all_ext)  # raises on zero matches
        if names == [path]:
            return done("nquads")  # extension-less single remote file: reference default
        listed_remote = True
    elif any(c in path for c in "*?["):
        names = _glob.glob(path)
        if not names:
            raise FileNotFoundError(f"no files match {path!r}")
    elif os.path.isdir(path):
        names = [os.path.join(path, f) for f in os.listdir(path)]
        if not names and on_empty == "raise":
            raise FileNotFoundError(f"{path!r} is a directory with no files yet")
    else:
        if on_empty == "raise":
            raise FileNotFoundError(f"{path!r} does not exist yet")
        return done("nquads")  # extension-less single file: reference default
    kinds = {k for k in map(_kind_of, names) if k}
    if len(kinds) > 1:
        raise ValueError(
            f"QuadSourceFile: {path!r} mixes RDF serializations {sorted(kinds)} — "
            "read each format separately and union with composite_source"
        )
    fmt = kinds.pop() if kinds else "nquads"
    return done(fmt, names if listed_remote and fmt != "nquads" else None)


def read_format(
    spark: SparkSession, path: str | list[str], kind: str, base_iri: str | None = None
) -> DataFrame:
    """Read a file, glob, directory or listed file list as one
    :data:`SOURCE_FORMATS` kind: N-Quads through the vectorized splittable
    line parser, every other kind through the per-file reader
    (sources/driverfile.py: the driver parses one local file, executors
    parse globs/directories from ``binaryFiles``)."""
    source_format(kind)
    if kind == "nquads":
        return read_nquads(spark, path, base_iri=base_iri)
    from rdf_dataset_fragmenter_js_spark.sources.driverfile import read_driver_parsed

    return read_driver_parsed(spark, path, kind, base_iri)


def read_rdf(spark: SparkSession, path: str, base_iri: str | None = None) -> DataFrame:
    """``QuadSourceFile`` with format dispatch by extension (the reference
    lets rdf-parse pick the parser from the path, QuadSourceFile.ts:19-25):
    the :data:`SOURCE_FORMATS` kind of the path, or of the files a glob or
    directory matches, read by :func:`read_format`."""
    fmt, names = _sniff_format(path, spark, return_names=True)
    # when classification already paid a remote (Hadoop FS) listing, hand
    # the concrete file list to the reader — expand_paths short-circuits on
    # a list, so an object-store directory is listed exactly once per read
    return read_format(spark, path if names is None else names, fmt, base_iri)


def composite_source(dfs: list[DataFrame]) -> DataFrame:
    """``QuadSourceComposite`` (``lib/io/QuadSourceComposite.ts:18-38``):
    concatenates N sources; union-all, no ordering guarantee (the reference
    pipes sources in parallel). Zero sources → empty stream."""
    if not dfs:
        raise ValueError("composite_source of zero sources: build an empty df with QUAD_SCHEMA")
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df)
    return out


def serialize_nquads(quads: DataFrame) -> DataFrame:
    """Quad rows → N-Quads line strings (column ``line``)."""
    def term(value_col, type_col, dt_col=None, lang_col=None):
        named = F.concat(F.lit("<"), value_col, F.lit(">"))
        blank = F.concat(F.lit("_:"), value_col)
        if dt_col is None:
            return F.when(type_col == BLANK_NODE, blank).otherwise(named)
        escaped = F.regexp_replace(value_col, r"\\", r"\\\\")
        escaped = F.regexp_replace(escaped, '"', '\\\\"')
        escaped = F.regexp_replace(escaped, "\n", r"\\n")
        lit = F.concat(
            F.lit('"'),
            escaped,
            F.lit('"'),
            F.when(lang_col.isNotNull(), F.concat(F.lit("@"), lang_col))
            .when(dt_col.isNotNull(), F.concat(F.lit("^^<"), dt_col, F.lit(">")))
            .otherwise(F.lit("")),
        )
        return (
            F.when(type_col == BLANK_NODE, blank)
            .when(type_col == NAMED_NODE, named)
            .otherwise(lit)
        )

    line = F.concat_ws(
        " ",
        term(F.col("s"), F.col("s_type")),
        F.concat(F.lit("<"), F.col("p"), F.lit(">")),
        term(F.col("o"), F.col("o_type"), F.col("o_datatype"), F.col("o_lang")),
        F.when(F.col("g").startswith("_:"), F.col("g"))
        .when(F.col("g").isNotNull(), F.concat(F.lit("<"), F.col("g"), F.lit(">")))
        .otherwise(F.lit(None)),
        F.lit("."),
    )
    return quads.withColumn("line", line)
