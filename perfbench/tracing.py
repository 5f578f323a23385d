"""Traced run: spans around the calls into each layer, joined with Spark's
own stage and SQL metrics.

Each span sets ``sc.setJobGroup(<layer>)``, so every Spark job a layer
triggers carries the layer's name. After the run, the jobs' stages are read
from the AppStatusStore (``stageList``/``taskList``) and the SQL
executions' Python-worker and file-scan metrics from the SQL status store;
both are summed per layer. Row counts at layer boundaries run under ``aux.*`` job groups,
which the accounting leaves out.
"""

from __future__ import annotations

import os
import re
import time
from contextlib import contextmanager
from statistics import median

import pyarrow.parquet as pq

import jobs as J

AUX = "aux"


class Tracer:
    """Spans stay in memory as dicts (name, layer, start, end, parent,
    run_id); the driver writes them out once the run has ended."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.aux_s = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, layer: str, call: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": f"{layer}:{call}",
            "layer": layer,
            "parent": parent,
            "run_id": self.run_id,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobGroup(layer, rec["name"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                outer = self.spans[self._stack[-1]]
                self.sc.setJobGroup(outer["layer"], outer["name"])
            else:
                self.sc.setJobGroup(AUX, AUX)

    def count(self, df) -> int:
        """Row count at a layer boundary, outside every layer's group."""
        self.sc.setJobGroup(f"{AUX}.count", "row count")
        t0 = time.perf_counter()
        try:
            return df.count()
        finally:
            self.aux_s += time.perf_counter() - t0
            self.sc.setJobGroup(AUX, AUX)

    def wall_by_layer(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["layer"]] = out.get(s["layer"], 0.0) + s["end"] - s["start"]
        return out


def materialize(df):
    return df.localCheckpoint(eager=True)


# ---------------------------------------------------------------------------
# Spark status-store readers
# ---------------------------------------------------------------------------

_VALUE = re.compile(r"([\d.,]+)\s*(ms|s|m|h|min|B|KiB|MiB|GiB|TiB)\b")
_SCALE = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric ("total (min, med, max ...)\\n9.5 s
    (...)" or just "9.5 s") in seconds or bytes."""
    line = text.strip().splitlines()[-1]
    m = _VALUE.search(line)
    if not m:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)]


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def read_jobs(spark, first_job: int) -> dict[int, tuple[str | None, list[int]]]:
    """job id → (job group, stage ids) for jobs numbered ≥ first_job."""
    jss = spark.sparkContext._jsc.sc().statusStore()
    out = {}
    for j in _seq(jss.jobsList(None)):
        jid = j.jobId()
        if jid < first_job:
            continue
        g = j.jobGroup()
        out[jid] = (g.get() if g.isDefined() else None, list(_seq(j.stageIds())))
    return out


def read_stages(spark, wanted: set[int]) -> dict[int, dict]:
    """stage id → summed metrics over its completed attempts, with every
    task's executor run time (ms), for the ``wanted`` stages."""
    sc = spark.sparkContext
    jss = sc._jsc.sc().statusStore()
    gw = sc._gateway
    al = gw.jvm.java.util.ArrayList
    out: dict[int, dict] = {}
    for s in _seq(jss.stageList(al(), False, False, gw.new_array(gw.jvm.double, 0), al())):
        if s.stageId() not in wanted or s.status().toString() != "COMPLETE":
            continue
        d = out.setdefault(
            s.stageId(),
            {"run_ms": 0, "cpu_ns": 0, "shuffle_b": 0, "spill_b": 0, "tasks": 0, "task_ms": []},
        )
        d["run_ms"] += s.executorRunTime()
        d["cpu_ns"] += s.executorCpuTime()
        d["shuffle_b"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
        d["spill_b"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        d["tasks"] += s.numCompleteTasks()
        for t in _seq(jss.taskList(s.stageId(), s.attemptId(), 1 << 30)):
            m = t.taskMetrics()
            if m.isDefined():
                d["task_ms"].append(m.get().executorRunTime())
    return out


#: SQL metric name → (output key, scale); sizes arrive in bytes
_SQL_METRICS = {
    "time to run Python workers": ("python_s", 1.0),
    "data sent to Python workers": ("python_mb", 2**-20),
    "data returned from Python workers": ("python_mb", 2**-20),
    # stage inputBytes under-counts local parquet scans (footers only)
    "size of files read": ("input_mb", 2**-20),
}


def read_sql_metrics(spark, job_group: dict[int, str | None]) -> dict[str, dict]:
    """Per job group: seconds in Python workers, MiB crossing the Arrow
    boundary and MiB of input files scanned, summed over the SQL executions
    whose jobs carry the group."""
    ss = spark._jsparkSession.sharedState().statusStore()
    out: dict[str, dict] = {}
    for e in _seq(ss.executionsList()):
        jids = [int(j) for j in _seq(e.jobs().keys().toList())]
        groups = {job_group[j] for j in jids if j in job_group}
        if len(groups) != 1:
            continue
        d = out.setdefault(groups.pop(), {"python_s": 0.0, "python_mb": 0.0, "input_mb": 0.0})
        values = ss.executionMetrics(e.executionId())
        seen = set()
        for pm in _seq(e.metrics()):
            name = pm.name()
            # adaptive re-planning lists one accumulator once per plan version
            if name not in _SQL_METRICS or pm.accumulatorId() in seen:
                continue
            seen.add(pm.accumulatorId())
            v = values.get(pm.accumulatorId())
            if v.isDefined():
                key, scale = _SQL_METRICS[name]
                d[key] += parse_sql_metric(v.get()) * scale
    return out


def layer_metrics(spark, tracer: Tracer, first_job: int, layers: list[str]) -> dict:
    """Every base per-layer metric, keyed ``<layer>.<metric>``, plus the
    run-time accounting over the traced window."""
    jobs = read_jobs(spark, first_job)
    stages = read_stages(spark, {sid for _, sids in jobs.values() for sid in sids})
    groups = {jid: g for jid, (g, _) in jobs.items()}
    sql = read_sql_metrics(spark, groups)
    wall = tracer.wall_by_layer()
    out: dict = {}
    total_run_ms = attributed_ms = 0
    for layer in layers:
        mine = [jid for jid, g in groups.items() if g == layer]
        sids = sorted({sid for jid in mine for sid in jobs[jid][1] if sid in stages})
        st = [stages[sid] for sid in sids]
        task_ms = [t for s in st for t in s["task_ms"]]
        run_ms = sum(s["run_ms"] for s in st)
        attributed_ms += run_ms
        out[f"{layer}.wall_s"] = wall.get(layer, 0.0)
        out[f"{layer}.run_s"] = run_ms / 1e3
        out[f"{layer}.cpu_s"] = sum(s["cpu_ns"] for s in st) / 1e9
        out[f"{layer}.shuffle_mb"] = sum(s["shuffle_b"] for s in st) / 2**20
        out[f"{layer}.spill_mb"] = sum(s["spill_b"] for s in st) / 2**20
        out[f"{layer}.tasks"] = sum(s["tasks"] for s in st)
        out[f"{layer}.jobs"] = len(mine)
        out[f"{layer}.task_skew"] = (
            max(task_ms) / max(median(task_ms), 1) if task_ms else 0.0
        )
        for key in ("python_s", "python_mb", "input_mb"):
            out[f"{layer}.{key}"] = sql.get(layer, {}).get(key, 0.0)
    counted = set()
    for jid, (g, sids) in jobs.items():
        if g is not None and g.startswith(AUX):
            continue
        for sid in sids:
            if sid in stages and sid not in counted:
                counted.add(sid)
                total_run_ms += stages[sid]["run_ms"]
    out["accounting.unattributed_run_s"] = (total_run_ms - attributed_ms) / 1e3
    out["accounting.total_run_s"] = total_run_ms / 1e3
    return out


# ---------------------------------------------------------------------------
# traced pipelines: the layers' public calls in pipeline order
# ---------------------------------------------------------------------------


def trace_kg(spark, tr: Tracer, inp: str, out: str, params: dict) -> dict:
    from pyspark.sql import functions as F

    from rdf_dataset_fragmenter_js_spark.kg.canonicalize import (
        apply_surface_canonicalization,
        surface_canonical_mapping,
    )
    from rdf_dataset_fragmenter_js_spark.kg.extract import extract_page_triples
    from rdf_dataset_fragmenter_js_spark.kg.pipeline import fragment_and_write, triples_to_quads
    from rdf_dataset_fragmenter_js_spark.kg.webpages import read_pages
    from rdf_dataset_fragmenter_js_spark.strategies import route_subject

    x: dict = {}
    with tr.span("kg.webpages", "read_pages"):
        pages = materialize(read_pages(spark, os.path.join(inp, "pages")))
    x["kg.webpages.rows_out"] = tr.count(pages)
    with tr.span("kg.extract", "extract_page_triples"):
        triples = materialize(extract_page_triples(pages))
    n_triples = x["kg.extract.rows_out"] = tr.count(triples)
    mentions = triples.select(F.col("subj_surface").alias("surface")).unionByName(
        triples.select(F.col("obj_surface").alias("surface"))
    )
    with tr.span("kg.canonicalize", "surface_canonical_mapping"):
        mapping = materialize(surface_canonical_mapping(mentions))
    with tr.span("kg.canonicalize", "apply_surface_canonicalization"):
        canonical = materialize(apply_surface_canonicalization(triples, mapping))
    x["kg.canonicalize.rows_out"] = tr.count(canonical)
    x["kg.canonicalize.distinct_ratio"] = tr.count(mapping) / max(2 * n_triples, 1)
    with tr.span("kg.pipeline", "triples_to_quads"):
        quads = materialize(triples_to_quads(canonical))
    n_quads = tr.count(quads)
    with tr.span("strategies", "route_subject"):
        routed = materialize(route_subject(quads))
    x["strategies.rows_out"] = tr.count(routed)
    x["strategies.dup_factor"] = x["strategies.rows_out"] / max(n_quads, 1)
    with tr.span("kg.pipeline", "fragment_and_write"):
        m = fragment_and_write(quads, out)
    files, size = J.dir_stats(out)
    x["kg.pipeline.rows_out"] = m["rows"]
    x["kg.pipeline.fragments"] = m["fragments"]
    x["kg.pipeline.files_written"] = files
    x["kg.pipeline.bytes_written"] = size
    return x


def trace_solidbench(spark, tr: Tracer, inp: str, out: str, params: dict) -> dict:
    import gen
    from rdf_dataset_fragmenter_js_spark.plans.pipeline import build_strategy, build_transformer
    from rdf_dataset_fragmenter_js_spark.sinks.paths import map_doc_to_path, write_fragment_files
    from rdf_dataset_fragmenter_js_spark.sources.nquads import read_rdf

    spec = gen.solidbench_spec(inp)
    sink = spec["quadSink"]
    x: dict = {}
    with tr.span("sources", "read_rdf"):
        src = materialize(read_rdf(spark, spec["quadSource"]["filePath"]))
    n_in = x["sources.rows_out"] = tr.count(src)
    with tr.span("operators", "build_transformer"):
        transformed = src
        for t in spec["transformers"]:
            transformed = build_transformer(t)(transformed)
        transformed = materialize(transformed)
    x["operators.rows_out"] = tr.count(transformed)
    with tr.span("strategies", "route_subject"):
        routed = materialize(build_strategy(spec["fragmentationStrategy"])(transformed))
    x["strategies.rows_out"] = tr.count(routed)
    x["strategies.dup_factor"] = x["strategies.rows_out"] / max(n_in, 1)
    with tr.span("sinks", "map_doc_to_path"):
        mapped = materialize(
            map_doc_to_path(routed, sink["iriToPath"], file_extension=sink.get("fileExtension"))
        )
    with tr.span("sinks", "write_fragment_files"):
        written = write_fragment_files(mapped, out, sink["outputFormat"]).collect()
    files, size = J.dir_stats(out)
    x["sinks.rows_out"] = sum(r.n_quads for r in written)
    x["sinks.files_written"] = files
    x["sinks.bytes_written"] = size
    return x


def trace_corpus(spark, tr: Tracer, inp: str, out: str, params: dict) -> dict:
    from pyspark.sql import functions as F

    from rdf_dataset_fragmenter_js_spark.textops.corpus import decontaminate, pack_shards
    from rdf_dataset_fragmenter_js_spark.textops.dedup import (
        exact_dedup,
        lsh_candidate_pairs,
        near_dup_clusters,
        ngram_jaccard_pairs,
    )
    from rdf_dataset_fragmenter_js_spark.textops.quality import quality_filter

    docs = spark.read.parquet(os.path.join(inp, "docs"))
    evals = spark.read.parquet(os.path.join(inp, "eval"))
    x: dict = {}
    with tr.span("textops.dedup", "lsh_candidate_pairs"):
        pairs = lsh_candidate_pairs(docs)
    with tr.span("textops.dedup", "ngram_jaccard_pairs"):
        scored = ngram_jaccard_pairs(docs, pairs)
    near = J.verified_pairs(scored, params)
    with tr.span("textops.dedup", "near_dup_clusters"):
        clusters = near_dup_clusters(near)
        non_rep = clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
        kept = materialize(docs.join(non_rep, "doc_id", "left_anti"))
    base = kept.select("doc_id", "text", F.col("lang").alias("stream_v"))
    with tr.span("textops.quality", "quality_filter"):
        good = materialize(quality_filter(base).where(F.col("keep")).select("doc_id"))
    x["textops.quality.rows_out"] = tr.count(good)
    with tr.span("textops.corpus", "decontaminate"):
        clean = materialize(
            decontaminate(base, evals, n=8).where(~F.col("contaminated")).select("doc_id")
        )
    with tr.span("textops.dedup", "exact_dedup"):
        canon = materialize(exact_dedup(base).where(~F.col("is_duplicate")).select("doc_id"))
    x["textops.dedup.rows_out"] = tr.count(canon)
    survivors = base.join(good, "doc_id").join(clean, "doc_id").join(canon, "doc_id")
    with tr.span("textops.corpus", "pack_shards"):
        pack_shards(
            survivors, budget_tokens=params["budget_tokens"], stream_col="stream_v"
        ).write.mode("overwrite").parquet(out)
    x["textops.corpus.rows_out"] = pq.read_table(out, columns=["doc_id"]).num_rows
    # share of LSH candidates that are true near-duplicates
    x["textops.dedup.pair_precision"] = tr.count(near) / max(tr.count(pairs), 1)
    return x


TRACED = {"kg_crawl": trace_kg, "solidbench_fragment": trace_solidbench, "corpus_prep": trace_corpus}
