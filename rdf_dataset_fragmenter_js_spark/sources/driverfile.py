"""The one per-file reader: every serialization that is not read as
N-Quads lines (Turtle, TriG, N3, RDF/XML, JSON-LD, RDFa, Microdata, HDT —
the per-file kinds of ``SOURCE_FORMATS`` in sources/nquads.py) goes
through it, in batch, in streaming micro-batches and for HDT read-back.

A single Turtle/RDF-XML document cannot be split mid-file (prefix state,
nested elements), but a *set* of files is embarrassingly parallel: each
file is independently parseable. So:

* one matched local file → read with ``open(path, "rb")`` and parse on the
  driver (a config-sized ontology; no cluster round-trip for a 40 kB
  vocabulary);
* many matched files (or a remote one) → ship file bytes to executors via
  ``sc.binaryFiles`` (Hadoop FS API — works for local paths, HDFS, s3a)
  and flatMap the same pure parse over them, so parse wall-time drops
  with parallelism instead of serializing through one driver process.

Both paths hand the parser the same bytes; ``SourceFormat.parse`` decodes
text formats in one place (strict UTF-8, newlines kept as written), so a
file reads the same alone and in a glob.

Blank-node scoping: labels are DOCUMENT-scoped in RDF, so the multi-file
path namespaces every blank-node label (generated or document-authored)
with ``f{file_index}_`` — otherwise ``_:b0`` in two files (or two parsers'
generated counters restarting at 1) would silently merge distinct
anonymous resources, corrupting ownership closures. Mirrors the
reference's per-parser unique bnode prefixes (rdf-parse wraps N3/rdfxml
parsers that each namespace their blank nodes).

``seq`` stays dense and file-major (arrival order of the sorted file
list), computed from per-file quad counts — identical to the serial
driver loop's numbering, so both paths produce the same rows.
"""

from __future__ import annotations

import glob as _glob
import logging
import os
import re
from collections.abc import Callable
from functools import partial

logger = logging.getLogger(__name__)

#: parse warning threshold — a single file above this parses on the driver
LARGE_FILE_BYTES = 128 * 1024 * 1024

_BNODE_TYPE = "BlankNode"


#: non-local URI schemes expanded through the Hadoop FileSystem API
_REMOTE_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*://")


def expand_paths(
    path: str | list[str], extensions: tuple[str, ...], spark=None
) -> list[str]:
    """One file path, a glob, or a directory → ordered concrete file list
    (keeps the N-Quads reader's glob/directory ergonomics for the
    driver-side formats). Local paths expand via the OS; scheme-qualified
    paths (hdfs://, s3a://, …) via the Hadoop FileSystem API when a
    ``spark`` session is given — the 100 TB inputs are not on the driver's
    local disk. A list short-circuits: it is the concrete file list an
    earlier step (read_rdf's format sniff) already obtained from the same
    listing machinery, so the remote filesystem isn't listed twice."""
    if isinstance(path, (list, tuple)):
        if not path:
            raise FileNotFoundError("empty pre-expanded file list")
        return list(path)
    if _REMOTE_SCHEME.match(path) and not path.startswith("file:"):
        if spark is None:
            raise ValueError(
                f"remote path {path!r} needs a SparkSession to expand "
                "(Hadoop FileSystem listing)"
            )
        return _expand_hadoop(spark, path, extensions)
    if any(c in path for c in "*?["):
        files = sorted(_glob.glob(path))
    elif os.path.isdir(path):
        files = sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.lower().endswith(extensions)
        )
    else:
        files = [path]
    if not files:
        raise FileNotFoundError(f"no files match {path!r}")
    return files


def _expand_hadoop(spark, path: str, extensions: tuple[str, ...]) -> list[str]:
    """Glob/list a scheme-qualified path through Hadoop's FileSystem (the
    same machinery ``binaryFiles`` uses to read it afterwards)."""
    sc = spark.sparkContext
    jvm_path = sc._jvm.org.apache.hadoop.fs.Path
    conf = sc._jsc.hadoopConfiguration()
    p = jvm_path(path)
    fs = p.getFileSystem(conf)
    if any(c in path for c in "*?["):
        statuses = fs.globStatus(p) or []
        files = [str(st.getPath()) for st in statuses if st.isFile()]
    elif fs.isDirectory(p):
        files = [
            str(st.getPath())
            for st in fs.listStatus(p)
            if st.isFile() and str(st.getPath()).lower().endswith(extensions)
        ]
    else:
        # qualify like the FileSystem itself does (default port, canonical
        # authority) — binaryFiles returns qualified URIs, and index_of
        # must key on the same form or every row misses the file map
        files = [str(fs.makeQualified(p))]
    files.sort()
    if not files:
        raise FileNotFoundError(f"no files match {path!r}")
    return files


def _parse_file_rows(
    data: bytes,
    base_iri: str | None,
    file_path: str,
    parse_fn: Callable[[bytes, str], list[tuple]],
    bnode_prefix: str | None,
) -> list[tuple]:
    """Parse one file's bytes → quad tuples (seq local to the file), with
    all blank-node labels namespaced by ``bnode_prefix`` when given."""
    if base_iri is not None:
        base = base_iri
    elif _REMOTE_SCHEME.match(file_path):
        base = file_path  # already a URI (hdfs://, s3a://, …)
    else:
        base = "file://" + os.path.abspath(file_path)
    rows = parse_fn(data, base)
    if bnode_prefix is None:
        return rows
    out = []
    for s_type, s, p, o_type, o, dt, lang, g, seq in rows:
        if s_type == _BNODE_TYPE:
            s = bnode_prefix + s
        if o_type == _BNODE_TYPE:
            o = bnode_prefix + o
        if g is not None and g.startswith("_:"):
            # bnode graph labels (in-band '_:label' encoding, quads.py)
            # are file-scoped like s/o labels
            g = "_:" + bnode_prefix + g[2:]
        out.append((s_type, s, p, o_type, o, dt, lang, g, seq))
    return out


def _strip_file_scheme(uri: str) -> str:
    """``binaryFiles`` keys are Hadoop URIs (``file:/abs/path``); map
    back to a plain path for local files, pass others through."""
    if uri.startswith("file:"):
        uri = uri[len("file:") :]
        while uri.startswith("//"):
            uri = uri[1:]
    return uri


_FILE_URI = re.compile(r"^file:(//[^/]*)?(/.*)$", re.IGNORECASE)


def local_path_of_file_uri(path_or_uri: str) -> str | None:
    """``file:/p`` / ``file:///p`` / ``file://host/p`` → ``/p``; ``None``
    when the input is not a file: URI of that shape. The single home of
    the file-URI→local-path collapse (sources match binaryFiles keys
    with it, the CSV sink locates its merge directory with it)."""
    m = _FILE_URI.match(path_or_uri)
    return m.group(2) if m else None


def _path_key(path_or_uri: str) -> str:
    """Normalize a path for matching the enumerated file list against
    ``binaryFiles`` keys. Only the ``file:`` scheme's authority-less vs
    authority forms collapse to the plain local path; any other scheme
    keeps ``scheme://authority`` — two equal paths on DIFFERENT remote
    filesystems/authorities must stay distinct keys (else rows get the
    wrong file index → wrong bnode prefix and seq offsets)."""
    local = local_path_of_file_uri(path_or_uri)
    if local is not None:
        return local
    if re.match(r"^[A-Za-z][A-Za-z0-9+.\-]*:", path_or_uri):
        return path_or_uri
    return os.path.abspath(path_or_uri)


def read_driver_parsed(
    spark, path: str | list[str], kind: str, base_iri: str | None, **options
):
    """Read + parse the files ``path`` matches as the per-file ``kind`` of
    ``SOURCE_FORMATS``. One local file: driver-parsed. Several (or a
    remote one): distributed per-file parse on executors. ``base_iri``
    defaults per file to its file URI, like rdf-parse's ``path`` option;
    ``options`` go to the parser (JSON-LD's ``contexts``)."""
    from rdf_dataset_fragmenter_js_spark.quads import QUAD_SCHEMA
    from rdf_dataset_fragmenter_js_spark.sources.nquads import SOURCE_FORMATS

    fmt = SOURCE_FORMATS[kind]
    parse_fn = partial(fmt.parse, **options)
    files = expand_paths(path, fmt.extensions, spark=spark)
    for file_path in files:
        try:
            size = os.path.getsize(file_path)
        except OSError:
            continue
        if size > LARGE_FILE_BYTES:
            # fires for the driver path AND for each oversized file in a
            # glob — non-splittable formats parse each whole file in ONE
            # task either way, so a multi-GB .ttl risks executor OOM too
            logger.warning(
                "%s: %s is %d MB and parses whole in a single %s — convert "
                "large inputs to N-Quads for splittable, vectorized reads",
                kind,
                file_path,
                size >> 20,
                "driver process" if len(files) == 1 else "executor task",
            )
    if len(files) == 1 and not _REMOTE_SCHEME.match(files[0]):
        with open(files[0], "rb") as f:
            data = f.read()
        rows = _parse_file_rows(data, base_iri, files[0], parse_fn, None)
        df = spark.createDataFrame(rows, QUAD_SCHEMA)
        target = spark.sparkContext.defaultParallelism
        if len(rows) > 10 * target:
            df = df.repartition(target)
        return df
    return _read_distributed(spark, files, base_iri, parse_fn, kind)


def _read_distributed(spark, files, base_iri, parse_fn, format_name, bnode_salt=""):
    """Per-file parse on executors; dense file-major ``seq``.

    ``bnode_salt`` prefixes the per-file blank-node namespace (streaming
    passes ``b{batch_id}_`` so labels can never collide ACROSS micro-batches
    appending into the same fragment files)."""
    from pyspark.sql import functions as F

    from rdf_dataset_fragmenter_js_spark.quads import QUAD_SCHEMA

    sc = spark.sparkContext
    bad = [f for f in files if "," in f]
    if bad:
        # binaryFiles takes a comma-joined path list — a comma INSIDE a
        # path would be split into two bogus paths (silent wrong reads)
        raise ValueError(
            f"{format_name}: file paths containing ',' are not readable via "
            f"binaryFiles (Spark splits its path argument on commas): {bad!r} "
            "— rename the files or read them individually"
        )
    index_of = {_path_key(f): i for i, f in enumerate(files)}
    n_files = len(files)
    bc = sc.broadcast((index_of, base_iri))

    def parse_record(rec):
        uri, data = rec
        local_path = _strip_file_scheme(uri)
        idx_map, base = bc.value
        idx = idx_map.get(_path_key(local_path))
        if idx is None:
            raise ValueError(
                f"{format_name}: binaryFiles returned unexpected path {uri!r}"
            )
        rows = _parse_file_rows(data, base, local_path, parse_fn, f"{bnode_salt}f{idx}_")
        return [(idx,) + r for r in rows]

    rdd = sc.binaryFiles(
        ",".join(files), minPartitions=min(n_files, sc.defaultParallelism)
    ).flatMap(parse_record)
    parsed = spark.createDataFrame(
        rdd, "file_idx int, " + ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in QUAD_SCHEMA)
    ).localCheckpoint(eager=True)  # parse exactly once (offsets pass + projection)
    # Dense file-major seq: offset each file by the quad counts before it.
    counts = {
        r["file_idx"]: r["cnt"]
        for r in parsed.groupBy("file_idx").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, running = {}, 0
    for i in range(n_files):
        offsets[i] = running
        running += counts.get(i, 0)
    offset_map = F.create_map(
        *[F.lit(x) for i in range(n_files) for x in (i, offsets[i])]
    )
    return parsed.select(
        "s_type",
        "s",
        "p",
        "o_type",
        "o",
        "o_datatype",
        "o_lang",
        "g",
        (F.col("seq") + offset_map[F.col("file_idx")]).cast("long").alias("seq"),
    )
