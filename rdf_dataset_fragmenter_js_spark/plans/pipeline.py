"""Pipeline-spec compiler: the reference's componentsjs JSON-LD config
(``config/config-example.json``, ``lib/CliRunner.ts:11-19``) re-expressed as
a declarative JSON spec compiled to ONE lazy DataFrame plan.

The reference instantiates an object graph and pumps a quad stream through
it; here the same ``@type`` names compile to DataFrame combinators, so the
whole configured pipeline is a single Catalyst-optimized logical plan:
read → transformers (fused select/filter/union stages) → strategy routing →
sink (path mapping + partitioned write).

A user of the reference can port a config by keeping the same @type names
and options. Unsupported reference types raise with the file:line of the
reference component they correspond to.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from rdf_dataset_fragmenter_js_spark.operators import transformers as T
from rdf_dataset_fragmenter_js_spark.operators import stateful as ST
from rdf_dataset_fragmenter_js_spark.operators.matchers import (
    match_predicate,
    match_resource_type,
    match_term_value,
)
from rdf_dataset_fragmenter_js_spark.sinks.paths import (
    map_doc_to_path,
    sink_csv,
    sink_filtered,
    write_fragment_nquads,
    write_fragments,
)
from rdf_dataset_fragmenter_js_spark.sources.nquads import (
    composite_source,
    read_format,
    read_rdf,
)
from rdf_dataset_fragmenter_js_spark.strategies import (
    route_composite,
    route_constant,
    route_exception,
    route_object,
    route_resource_object,
    route_subject,
)
from rdf_dataset_fragmenter_js_spark.strategies.summaries import (
    assign_datasets,
    bloom_summary,
    void_summary,
)

Marker = Callable[[DataFrame], DataFrame]


def build_matcher(spec: dict[str, Any]) -> Marker:
    t = spec["@type"]
    if t == "QuadMatcherPredicate":
        return match_predicate(spec["predicateRegex"])
    if t == "QuadMatcherTermValue":
        return match_term_value(
            spec["term"], spec["regex"], float(spec.get("probability", 1.0))
        )
    if t == "QuadMatcherResourceType":
        return match_resource_type(
            spec["typeRegex"], bool(spec.get("matchFullResource", False))
        )
    raise ValueError(f"Unknown matcher @type {t} (lib/quadmatcher/)")


def build_transformer(spec: dict[str, Any]) -> T.Transformer:
    t = spec["@type"]
    if t == "QuadTransformerIdentity":
        return T.identity
    if t == "QuadTransformerClone":
        return T.clone
    if t == "QuadTransformerReplaceIri":
        return T.replace_iri(spec["searchRegex"], spec["replacementString"])
    if t == "QuadTransformerDistributeIri":
        return T.distribute_iri(spec["searchRegex"], spec["replacementStrings"])
    if t == "QuadTransformerSetIriExtension":
        return T.set_iri_extension(spec["extension"], spec.get("iriPattern"))
    if t == "QuadTransformerBlankToNamed":
        return T.blank_to_named(spec["searchRegex"], spec["replacementString"])
    if t == "QuadTransformerBlankToFragment":
        return lambda df: ST.blank_to_fragment(df)
    if t == "QuadTransformerCompositeSequential":
        return T.compose(*[build_transformer(s) for s in spec["transformers"]])
    if t == "QuadTransformerDistinct":
        return T.distinct_produced(build_transformer(spec["transformer"]))
    if t == "QuadTransformerAppendQuad":
        def template(spec_val):
            # term templates arrive as componentsjs-typed objects
            # (TermTemplateStaticNamedNode {value}, TermTemplateQuadComponent
            # {component}, TermTemplateQuadComponentLiteral
            # {component, datatype?, language?}) or bare dicts; None copies
            # the component (lib/transform/termtemplate/*)
            if spec_val is None:
                return None
            d = {k: v for k, v in spec_val.items() if k != "@type"}
            if spec_val.get("@type") == "TermTemplateQuadComponentLiteral":
                d["literal"] = True
            return d

        return T.append_quad(
            build_matcher(spec["matcher"]),
            s=template(spec.get("subject")),
            p=template(spec.get("predicate")),
            o=template(spec.get("object")),
            g=template(spec.get("graph")),
        )
    if t == "QuadTransformerAppendQuadLink":
        return T.append_quad_link(
            build_matcher(spec["matcher"]),
            spec["predicate"],
            spec["link"],
            identifier=spec.get("identifier", "subject"),
            reverse=bool(spec.get("reverse", False)),
            link_type=spec.get("linkType"),
            remove_trailing_slash=bool(spec.get("removeTrailingSlash", False)),
        )
    if t == "QuadTransformerAppendResourceLink":
        return T.append_resource_link(
            spec["typeRegex"],
            spec["predicate"],
            spec["link"],
            reverse=bool(spec.get("reverse", False)),
            link_type=spec.get("linkType"),
            remove_trailing_slash=bool(spec.get("removeTrailingSlash", False)),
        )
    if t == "QuadTransformerAppendResourceScl":
        return T.append_resource_scl(
            spec["typeRegex"], spec["identifierSuffix"], spec["sclPolicy"]
        )
    if t == "QuadTransformerAppendResourceSolidTypeIndex":
        return lambda df: ST.append_resource_solid_type_index(
            df,
            spec["typeRegex"],
            spec["profilePredicateRegex"],
            spec["typeIndex"],
            spec["entrySuffix"],
            spec["entryReference"],
            bool(spec.get("entryContainer", False)),
        )
    if t == "QuadTransformerRemapResourceIdentifier":
        modifier = None
        if "identifierValueModifier" in spec:
            vm = spec["identifierValueModifier"]
            modifier = (vm["regex"], vm.get("replacement", "$1"))
        return ST.RemapResourceIdentifier(
            spec["newIdentifierSeparator"],
            spec["typeRegex"],
            spec["identifierPredicateRegex"],
            spec["targetPredicateRegex"],
            identifier_value_modifier=modifier,
            keep_subject_fragment=bool(spec.get("keepSubjectFragment", False)),
        )
    if t == "QuadTransformerCompositeVaryingResource":
        children = [build_transformer(s) for s in spec["transformers"]]
        return lambda df: ST.composite_varying_resource(
            df, spec["typeRegex"], spec["targetPredicateRegex"], children
        )
    raise ValueError(f"Unknown transformer @type {t} (lib/transform/)")


def build_strategy(spec: dict[str, Any]):
    t = spec["@type"]
    if t == "FragmentationStrategySubject":
        return lambda df: route_subject(df, spec.get("relativePath"))
    if t == "FragmentationStrategyObject":
        return route_object
    if t == "FragmentationConstant":
        return lambda df: route_constant(df, spec["path"])
    if t == "FragmentationStrategyComposite":
        children = [build_strategy(s) for s in spec["strategies"]]
        return lambda df: route_composite(df, children)
    if t == "FragmentationStrategyResourceObject":
        return lambda df: route_resource_object(df, spec["targetPredicateRegex"])
    if t == "FragmentationStrategyException":
        base = build_strategy(spec["strategy"])
        exceptions = [
            (build_matcher(e["matcher"]), build_strategy(e["strategy"]))
            for e in spec["exceptions"]
        ]
        return lambda df: route_exception(df, base, exceptions)
    if t == "FragmentationStrategyDatasetSummaryVoID":
        # lib/strategy/FragmentationStrategyDatasetSummaryVoID.ts:10-12 —
        # dataset assignment (datasetPatterns) + per-dataset VoID summary
        # quads, routed at doc = dataset. Usually composed with a base
        # strategy via FragmentationStrategyComposite, exactly as in the
        # reference's SolidBench configs.
        patterns = list(spec["datasetPatterns"])
        return lambda df: void_summary(assign_datasets(df, patterns))
    if t == "FragmentationStrategyDatasetSummaryBloom":
        # lib/strategy/FragmentationStrategyDatasetSummaryBloom.ts:10-38
        patterns = list(spec["datasetPatterns"])
        hash_bits = int(spec["hashBits"])
        hash_count = int(spec["hashCount"])
        location_patterns = list(spec.get("locationPatterns") or []) or None
        return lambda df: bloom_summary(
            assign_datasets(df, patterns),
            hash_bits=hash_bits,
            hash_count=hash_count,
            location_patterns=location_patterns,
        )
    raise ValueError(f"Unknown strategy @type {t} (lib/strategy/)")


def build_source(spark: SparkSession, spec: dict[str, Any]) -> DataFrame:
    t = spec["@type"]
    if t == "QuadSourceFile":
        # extension-dispatched (.nt/.nq vectorized, other kinds per-file
        # parsed) with the optional baseIRI resolve
        # (QuadSourceFile.ts:12,19-25,35-37). "format" pins any kind of the
        # source-format table — e.g. "microdata" for .html, which otherwise
        # routes to the RDFa parser (rdf-parse's primary route).
        fmt = spec.get("format")
        if fmt is not None:
            return read_format(spark, spec["filePath"], fmt, base_iri=spec.get("baseIRI"))
        return read_rdf(spark, spec["filePath"], base_iri=spec.get("baseIRI"))
    if t == "QuadSourceComposite":
        return composite_source([build_source(spark, s) for s in spec["sources"]])
    raise ValueError(f"Unknown source @type {t} (lib/io/)")


def _apply_transformer(
    tr_spec: dict[str, Any], df: DataFrame, lineage_sink: list[DataFrame] | None
) -> DataFrame:
    """Apply one transformer spec; when ``lineage_sink`` is given, record the
    (original IRI → minted IRI) mapping tables of the remap-family
    transformers as they see their actual input — the batch form of the
    reference's per-quad transform-callback lineage
    (``lib/transformCallback/TransformCallbackMap.ts:33-43``)."""
    t = tr_spec["@type"]
    if lineage_sink is not None:
        if t == "QuadTransformerCompositeSequential":
            for s in tr_spec["transformers"]:
                df = _apply_transformer(s, df, lineage_sink)
            return df
        if t == "QuadTransformerRemapResourceIdentifier":
            remap = build_transformer(tr_spec)
            # build the mapping plan ONCE and reuse it for both the rewrite
            # and the lineage CSV (remap(df) would re-derive it internally)
            m = remap.mapping_table(df)
            lineage_sink.append(m)
            return ST.apply_mapping(df, m)
        if t == "QuadTransformerCompositeVaryingResource":
            children = [build_transformer(s) for s in tr_spec["transformers"]]
            m = ST.composite_varying_mapping(
                df, tr_spec["typeRegex"], tr_spec["targetPredicateRegex"], children
            )
            if m is None:
                return df
            lineage_sink.append(m)
            return ST.apply_mapping(df, m)
    return build_transformer(tr_spec)(df)


def compile_transformed(
    spark: SparkSession, spec: dict[str, Any], lineage_sink: list[DataFrame] | None = None
) -> DataFrame:
    """Source → transformer chain (no strategy/sink) as one lazy plan."""
    df = build_source(spark, spec["quadSource"])
    for tr in spec.get("transformers", []):
        df = _apply_transformer(tr, df, lineage_sink)
    return df


def compile_pipeline(
    spark: SparkSession, spec: dict[str, Any], lineage_sink: list[DataFrame] | None = None
) -> DataFrame:
    """Spec → routed (doc, quad) DataFrame — one lazy plan, no actions."""
    transformed = compile_transformed(spark, spec, lineage_sink)
    strategy = build_strategy(spec["fragmentationStrategy"])
    return strategy(transformed)


def run_pipeline_spec(spark: SparkSession, spec: dict[str, Any] | str, output_dir: str) -> None:
    """Compile and execute a pipeline spec end-to-end, including the sink
    (iriToPath mapping + partitioned write) and any ``transformCallback``
    lineage CSVs (``Fragmenter.ts:18,31``)."""
    if isinstance(spec, str):
        with open(spec) as f:
            spec = json.load(f)
    callbacks = spec.get("transformCallback") or []
    source = build_source(spark, spec["quadSource"])
    if callbacks:
        # the source feeds the transformer chain, every callback's
        # original-value join and the callback core-chain pass
        source = source.persist()
    transformed = source
    for tr in spec.get("transformers", []):
        transformed = _apply_transformer(tr, transformed, None)
    # The transformed frame is read at least three times on every run: the
    # subject/object strategies' bnode probe, their ownership-links pass and
    # the sink write (plus every callback's matcher pass), and each read
    # would re-parse the source and re-run the remap's UDF and mapping
    # joins. Without callbacks the source is read only inside that one
    # computation (by the remap's filtered scans), and persisting it as well
    # made the SolidBench config job slower (perfbench solidbench_fragment,
    # 4 alternating pairs on a 4-core host: median job_s 7.14 s vs 6.30 s):
    # writing that cache costs more than re-parsing.
    transformed = transformed.persist()
    try:
        strategy = build_strategy(spec["fragmentationStrategy"])
        run_sink(spark, strategy(transformed), spec["quadSink"], output_dir)
        for cb in callbacks:
            run_transform_callback(
                spark, cb, source, transformed, spec.get("transformers", [])
            )
    finally:
        transformed.unpersist()
        if callbacks:
            source.unpersist()


#: transformers that EXPAND the stream (their outputs appear in the
#: reference's per-quad transformedQuads after the rewritten original)
_EXPANDING_TYPES = {
    "QuadTransformerClone",
    "QuadTransformerAppendQuad",
    "QuadTransformerAppendQuadLink",
    "QuadTransformerAppendResourceLink",
    "QuadTransformerAppendResourceScl",
    "QuadTransformerAppendResourceSolidTypeIndex",
}


def _core_specs(specs: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """The transformer chain with the expanding transformers removed — what
    remains maps each original quad to its single REWRITTEN form (the head
    of the reference's transformedQuads list)."""
    out = []
    for s in specs:
        t = s["@type"]
        if t in _EXPANDING_TYPES:
            continue
        if t == "QuadTransformerCompositeSequential":
            out.append({**s, "transformers": _core_specs(s["transformers"])})
        elif t == "QuadTransformerDistinct":
            inner = _core_specs([s["transformer"]])
            if inner:
                out.append({**s, "transformer": inner[0]})
        else:
            out.append(s)
    return out


def run_transform_callback(
    spark: SparkSession,
    cb: dict[str, Any],
    source: DataFrame,
    transformed: DataFrame,
    transformer_specs: list[dict[str, Any]],
) -> None:
    """``TransformCallbackMap`` (``lib/transformCallback/
    TransformCallbackMap.ts:33-43``) — exact row semantics: one CSV row per
    ORIGINAL quad whose transformed quads match any configured matcher; the
    row is the original quad's ``fieldToMap`` value followed by every
    matching transformed quad's value, comma-joined. ``fieldToMap`` may be
    any quad component. Rows are written in source order.

    Batch reconstruction: ``seq`` is the original-quad identity and
    survives every transformer (rewrites keep it, the append family and
    clone copy their trigger's seq), so grouping matched transformed quads
    by seq rebuilds the reference's per-quad ``transformedQuads`` list. The
    reference's in-list order is [rewritten original, appended…]; the
    rewritten original is recovered by re-running the chain without the
    expanding transformers, and further appended matches order canonically
    (equal to emission order whenever at most one appended quad matches per
    original — every documented reference workflow).

    Matcher evaluation is a single pass: each matcher contributes a flag
    column over ONE scan of the persisted frame, OR-combined."""
    from functools import reduce

    from pyspark.sql import functions as F

    from rdf_dataset_fragmenter_js_spark.operators.matchers import TERM_COLUMNS
    from rdf_dataset_fragmenter_js_spark.quads import QUAD_VALUE_COLUMNS

    t = cb["@type"]
    if t != "TransformCallbackMap":
        raise ValueError(f"Unknown transformCallback @type {t} (lib/transformCallback/)")
    field = cb["fieldToMap"]
    if field not in TERM_COLUMNS:
        raise ValueError(
            f"TransformCallbackMap fieldToMap={field!r}: must be one of "
            f"{sorted(TERM_COLUMNS)}"
        )
    value_col = TERM_COLUMNS[field][0]
    header = ",".join(cb["columns"])
    matchers = cb["matchers"]
    if not matchers:
        # reference semantics: no matchers → nothing ever matches → the
        # callback writes only the CSV header (TransformCallbackMap.ts:38)
        _write_single_text(None, header, cb["file"])
        return

    m = transformed
    flags = []
    for i, mspec in enumerate(matchers):
        m = build_matcher(mspec)(m).withColumnRenamed("__match", f"__m{i}")
        flags.append(F.col(f"__m{i}"))
    matched = m.filter(reduce(lambda a, b: a | b, flags)).drop(
        *[f"__m{i}" for i in range(len(matchers))]
    )

    def qv():
        # null-free struct so array_position's struct equality is exact
        return F.struct(
            *[F.coalesce(F.col(c), F.lit("\x00")).alias(c) for c in QUAD_VALUE_COLUMNS],
            # '' (not NULL) so concat_ws keeps the field: the reference
            # writes quad.graph.value === '' for the default graph
            F.coalesce(F.col(value_col), F.lit("")).alias("__fv"),
        )

    grouped = matched.groupBy("seq").agg(F.collect_list(qv()).alias("__ms"))
    core = source
    for tr in _core_specs(transformer_specs):
        core = build_transformer(tr)(core)
    core_sel = core.select(F.col("seq").alias("__cseq"), qv().alias("__core"))
    orig = source.select(
        "seq", F.coalesce(F.col(value_col), F.lit("")).alias("__orig")
    )

    joined = (
        orig.join(grouped, on="seq")
        .join(core_sel, F.col("seq") == F.col("__cseq"), "left")
        .drop("__cseq")
    )
    # rewritten-original first (removed once from the rest), appended after
    pos = F.array_position(F.col("__ms"), F.col("__core"))
    rest = F.when(
        pos > 0,
        F.expr(
            "filter(__ms, (x, i) -> i != int(array_position(__ms, __core)) - 1)"
        ),
    ).otherwise(F.col("__ms"))
    ordered = F.when(
        pos > 0, F.concat(F.array(F.col("__core")), F.array_sort(rest))
    ).otherwise(F.array_sort(F.col("__ms")))
    lines = joined.select(
        "seq",
        F.concat_ws(
            ",", F.col("__orig"), F.concat_ws(",", F.transform(ordered, lambda x: x["__fv"]))
        ).alias("line"),
    )
    _write_single_text(lines, header, cb["file"])


def _write_single_text(
    lines: DataFrame | None, header: str, file_path: str
) -> None:
    """One exact-path text file: header + ``line`` rows ordered by ``seq``
    — the reference writes a plain file stream in quad arrival order
    (TransformCallbackMap.ts:45-67). Rows may be ragged (a variable number
    of comma-joined matches), so this writes raw lines, not a CSV dataset."""
    import glob
    import os
    import shutil
    import tempfile

    parent = os.path.dirname(file_path)
    if parent:
        os.makedirs(parent, exist_ok=True)
    if lines is None:
        with open(file_path, "w") as out:
            out.write(header + "\n")
        return
    tmp = tempfile.mkdtemp(prefix="tcb_csv_")
    # sort gives range-partitioned output; part files concatenate in
    # partition order = global seq order
    lines.sort("seq").select("line").write.mode("overwrite").text(tmp)
    parts = sorted(glob.glob(os.path.join(tmp, "part-*")))
    from rdf_dataset_fragmenter_js_spark.sinks.paths import SINGLE_FILE_MAX_BYTES

    total = sum(os.path.getsize(p) for p in parts)
    if total > SINGLE_FILE_MAX_BYTES:
        shutil.rmtree(tmp)
        raise ValueError(
            f"TransformCallbackMap: output for {file_path!r} is "
            f"{total >> 20} MB, above the {SINGLE_FILE_MAX_BYTES >> 20} MB "
            "single-file guard — a matcher matching corpus-sized quad sets "
            "should route to a parquet sink instead of one callback CSV"
        )
    with open(file_path, "w") as out:
        out.write(header + "\n")
        for part in parts:
            with open(part) as inp:
                shutil.copyfileobj(inp, out)
    shutil.rmtree(tmp)


def _contains_file_sink(sink: dict[str, Any]) -> bool:
    """True when the sink spec (transitively) writes files under the shared
    ``output_dir`` — used to give composite children isolated subtrees."""
    t = sink["@type"]
    if t == "QuadSinkFile":
        return True
    if t == "QuadSinkFiltered":
        return _contains_file_sink(sink["sink"])
    if t == "QuadSinkComposite":
        return any(_contains_file_sink(c) for c in sink["sinks"])
    return False


def _is_nquads_chain(sink: dict[str, Any]) -> bool:
    """A QuadSinkFile in the reference N-Quads layout, possibly wrapped in
    QuadSinkFiltered layers — these children can share one output tree with
    true append semantics (below)."""
    from rdf_dataset_fragmenter_js_spark.sinks.paths import NQUADS_FORMATS

    t = sink["@type"]
    if t == "QuadSinkFiltered":
        return _is_nquads_chain(sink["sink"])
    return t == "QuadSinkFile" and sink.get("outputFormat") in NQUADS_FORMATS


def _nquads_chain_frame(sink: dict[str, Any], routed: DataFrame) -> DataFrame:
    """Mapped (path, quad) frame for an N-Quads chain (filters applied)."""
    if sink["@type"] == "QuadSinkFiltered":
        return _nquads_chain_frame(
            sink["sink"], sink_filtered(routed, build_matcher(sink["matcher"]))
        )
    return map_doc_to_path(
        routed, sink["iriToPath"], file_extension=sink.get("fileExtension")
    )


def run_sink(spark: SparkSession, routed: DataFrame, sink: dict[str, Any], output_dir: str) -> None:
    """Execute one sink spec over a routed (doc, quad) DataFrame.

    Supported ``@type``s (``lib/io/``): ``QuadSinkFile`` (iriToPath mapping;
    ``outputFormat`` ``application/n-quads`` → one N-Quads file per path,
    ``parquet`` → partitioned scale write), ``QuadSinkCsv`` (column
    selection), ``QuadSinkFiltered`` (matcher-gated wrap), and
    ``QuadSinkComposite`` (fan-out — the routed frame is persisted so the
    shared upstream computes once across the N write actions, the batch
    analog of the reference's sequential ``push`` fan-out,
    ``QuadSinkComposite.ts:14-24``), and ``QuadSinkHdt`` (native
    distributed HDT v1 conversion — one ``.hdt`` per mapped path, built
    in-task instead of the reference's sequential dockerized rdf2hdt loop,
    ``lib/io/QuadSinkHdt.ts:61-125``; ``sinks/hdt.py``)."""
    t = sink["@type"]
    if t == "QuadSinkHdt":
        from rdf_dataset_fragmenter_js_spark.sinks.hdt import write_fragment_hdt

        with_path = map_doc_to_path(
            routed, sink["iriToPath"], file_extension=sink.get("fileExtension")
        )
        write_fragment_hdt(
            with_path,
            output_dir,
            sink.get("outputFormat", "application/n-quads"),
            generate_indexes=sink.get("generateIndexes", True),
            remove_source_files=sink.get("removeSourceFiles", True),
            file_extension=sink.get("fileExtension"),
        ).collect()
        return
    if t == "QuadSinkFile":
        with_path = map_doc_to_path(
            routed, sink["iriToPath"], file_extension=sink.get("fileExtension")
        )
        if sink.get("outputFormat") == "parquet":
            # scale path: per-fragment parquet partitions + manifest-friendly
            write_fragments(with_path, output_dir)
        else:
            # reference-parity path: one serialized RDF file per mapped path
            # (QuadSinkFile's on-disk layout, lib/io/QuadSinkFile.ts:67-78;
            # outputFormat is the rdf-serialize content type, default
            # application/n-quads)
            from rdf_dataset_fragmenter_js_spark.sinks.paths import (
                write_fragment_files,
            )

            write_fragment_files(
                with_path, output_dir, sink.get("outputFormat")
            ).collect()
    elif t == "QuadSinkCsv":
        sink_csv(routed, sink["columns"], sink["filePath"])
    elif t == "QuadSinkFiltered":
        filtered = sink_filtered(routed, build_matcher(sink["matcher"]))
        run_sink(spark, filtered, sink["sink"], output_dir)
    elif t == "QuadSinkComposite":
        # The reference's file sinks APPEND into one tree
        # (QuadSinkComposite.ts:14-24 fans out to independently configured
        # sinks). Batch equivalents:
        # * N-Quads children — union their mapped (path, quad) frames and
        #   write ONCE: quads from different children targeting the same
        #   path land in the same file, which IS the reference's append
        #   semantics, and the on-disk layout matches the reference's.
        # * parquet children each write a whole dataset root in overwrite
        #   mode, so when the composite has more than one file output they
        #   get isolated child_<i> subtrees instead of clobbering.
        import os as _os

        children = sink["sinks"]
        nq_children = [i for i, c in enumerate(children) if _is_nquads_chain(c)]
        parquet_children = [
            i
            for i, c in enumerate(children)
            if i not in nq_children and _contains_file_sink(c)
        ]
        n_file_outputs = len(parquet_children) + (1 if nq_children else 0)
        routed = routed.persist()
        try:
            if nq_children:
                frames = [
                    _nquads_chain_frame(children[i], routed) for i in nq_children
                ]
                union = frames[0]
                for f in frames[1:]:
                    union = union.unionByName(f)
                write_fragment_nquads(union, output_dir).collect()
            for i, child in enumerate(children):
                if i in nq_children:
                    continue
                child_dir = (
                    _os.path.join(output_dir, f"child_{i}")
                    if i in parquet_children and n_file_outputs > 1
                    else output_dir
                )
                run_sink(spark, routed, child, child_dir)
        finally:
            routed.unpersist()
    else:
        raise ValueError(f"Unknown sink @type {t} (lib/io/)")
