"""Benchmark driver: one workload, one seed, one SparkSession.

    python3 perfbench/run.py --workload kg_crawl --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. Set-up generates the seeded inputs, starts
a host-sized ``local[nproc]`` session and runs warm-up jobs. With
``--trace 0`` it then runs jobs back to back (closed loop, one at a time)
for ``--seconds`` and reports the end-to-end metrics; with ``--trace 1`` it
runs one untraced job, the traced layer-by-layer pipeline at ``local[nproc]``
and again at ``local[1]``, and reports the per-layer metrics. Every job's
output is checked against the generator's ground truth. The last stdout
line is the JSON result; spans and flags of a traced run are written to
``.perfbench_out/``. All scratch files live under ``.perfbench_work/`` and
are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from statistics import median, quantiles

import gen
import jobs as J
import session as S
import tracing as T

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

#: full checked jobs run before timing, so codegen and the Python workers
#: are warm
WARMUP_JOBS = 1


def load_spec() -> dict:
    with open(os.path.join(HERE, "spec.json")) as f:
        return json.load(f)


def load_benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class Workload:
    def __init__(self, name: str, spec: dict, seed: int, inp: str):
        self.name = name
        self.params = dict(spec["workloads"][name]["generator"], **spec["workloads"][name]["job"])
        self.seed = seed
        self.inp = inp
        self.generate = {
            "kg_crawl": gen.gen_kg_pages,
            "solidbench_fragment": gen.gen_solidbench,
            "corpus_prep": gen.gen_corpus,
        }[name]
        self.job = {
            "kg_crawl": J.run_kg,
            "solidbench_fragment": J.run_solidbench,
            "corpus_prep": J.run_corpus,
        }[name]
        self.truth: dict = {}
        self.sample = None

    def prepare_checks(self) -> None:
        """Expected values for the sampled outputs, computed once per run."""
        if self.name == "kg_crawl":
            self.sample = J.kg_sample(self.inp, self.truth, self.seed, self.params)
        elif self.name == "solidbench_fragment":
            self.sample = J.solidbench_sample(self.truth, self.seed, self.params)

    def check(self, out: str) -> int:
        if self.name == "kg_crawl":
            return J.check_kg(out, self.truth, self.sample)
        if self.name == "solidbench_fragment":
            return J.check_solidbench(out, self.truth, self.sample)
        return J.check_corpus(out, self.truth, self.params)


class Runner:
    def __init__(self, wl: Workload, spec: dict, work: str):
        self.wl = wl
        self.spec = spec
        self.out = os.path.join(work, "out")
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fresh_out(self) -> str:
        shutil.rmtree(self.out, ignore_errors=True)
        return self.out

    def one_job(self, spark) -> tuple[float, float, int, int] | None:
        """Run and check one job. Returns (job_s, run_s, rows, bytes), or
        None when the job raised or its output failed the check."""
        out = self.fresh_out()
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            self.wl.job(spark, self.wl.inp, out, self.wl.params)
            t1 = time.perf_counter()
            rows = self.wl.check(out)
        except Exception as e:  # noqa: BLE001 — a failed job is counted, not fatal
            self.failed += 1
            self.errors.append(f"{type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return None
        t2 = time.perf_counter()
        _, size = J.dir_stats(out)
        return t2 - t0, t1 - t0, rows, size


def percentile_summary(xs: list[float]) -> str:
    """Median plus the highest percentile with at least ten samples beyond
    it, when the sample supports one above the median."""
    n = len(xs)
    tail = ""
    if n >= 20:
        p = int(100 * (n - 10) / n)
        tail = f", p{p} {quantiles(xs, n=100, method='inclusive')[p - 1]:.3f} s"
    return f"median {median(xs):.3f} s{tail} over {n} jobs"


def setup(runner: Runner, spark_factory, cores: int) -> tuple[object, float]:
    """Generate the inputs, start the session, prepare the checks and warm
    up with ``WARMUP_JOBS`` checked jobs. Returns (spark, setup_s)."""
    wl = runner.wl
    t0 = time.perf_counter()
    wl.truth = wl.generate(wl.inp, wl.seed, wl.params)
    t_gen = time.perf_counter()
    spark = spark_factory(cores)
    wl.prepare_checks()
    t_warm = time.perf_counter()
    for _ in range(WARMUP_JOBS):
        runner.one_job(spark)
    t_end = time.perf_counter()
    print(
        f"setup: generate {t_gen - t0:.2f} s, session + check preparation "
        f"{t_warm - t_gen:.2f} s, warm-up {t_end - t_warm:.2f} s",
        flush=True,
    )
    return spark, t_end - t0


def measure(runner: Runner, spark, seconds: float) -> dict:
    samples = []
    with S.RssSampler(S.jvm_pid(spark)) as rss:
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < seconds:
            r = runner.one_job(spark)
            if r is not None:
                samples.append(r)
    return {"samples": samples, "peak_rss_mb": rss.peak_mb}


def end_to_end(runner: Runner, setup_s: float, m: dict) -> dict:
    s = m["samples"]
    if not s:
        return {}
    job_s = [x[0] for x in s]
    print(f"{runner.wl.name} job_s: {percentile_summary(job_s)}", flush=True)
    return {
        "setup_s": setup_s,
        "job_s": median(job_s),
        "out_rows_per_s": sum(x[2] for x in s) / sum(job_s),
        "bytes_written_per_row": median(x[3] / x[2] for x in s),
        "peak_rss_mb": m["peak_rss_mb"],
        "job_ok_ratio": 1.0 - runner.failed / max(runner.attempted, 1),
    }


def traced(runner: Runner, spark, spark_factory, cores: int) -> dict:
    """One untraced reference job, the traced pipeline at ``cores`` and at
    one core; returns every per-layer metric."""
    wl, spec = runner.wl, runner.spec
    layers = list(spec["layers"])
    ref = runner.one_job(spark)
    ref_run_s = ref[1] if ref else 0.0
    if wl.name == "kg_crawl":
        # the Arrow text extraction is no job output; check it here, once
        runner.attempted += 1
        try:
            J.check_kg_text(spark, wl.sample)
        except J.CheckFailed as e:
            runner.failed += 1
            runner.errors.append(f"text check: {e}")

    def traced_once(spark, tag: str):
        first_job = spark.sparkContext._jsc.sc().statusStore().jobsList(None).size()
        tr = T.Tracer(spark, f"{wl.name}-{wl.seed}-{tag}")
        out = runner.fresh_out()
        runner.attempted += 1
        extra = {}
        try:
            extra = T.TRACED[wl.name](spark, tr, wl.inp, out, wl.params)
            wl.check(out)
        except Exception as e:  # noqa: BLE001
            runner.failed += 1
            runner.errors.append(f"traced {tag}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
        return tr, first_job, extra

    tr, first_job, extra = traced_once(spark, f"local{cores}")
    metrics = T.layer_metrics(spark, tr, first_job, layers)
    spans = list(tr.spans)
    top = [s for s in tr.spans if s["parent"] is None]
    traced_wall = (max(s["end"] for s in top) - min(s["start"] for s in top)) if top else 0.0
    spark.stop()
    spark = spark_factory(1)
    # start the one-core session's Python worker before timing
    spark.range(1).mapInPandas(lambda it: it, "id long").collect()
    tr1, _, _ = traced_once(spark, "local1")
    spans += tr1.spans
    wall1 = tr1.wall_by_layer()

    out: dict = {}
    acc = spec["accounting"]
    flags = []
    for layer in layers:
        w = metrics[f"{layer}.wall_s"]
        out[f"{layer}.speedup"] = wall1.get(layer, 0.0) / w if w > 0 else 0.0
        idle = 1.0 - metrics[f"{layer}.run_s"] / (w * cores) if w > 0 else 0.0
        if w >= acc["flag_min_wall_share"] * traced_wall and idle >= acc["flag_idle_share"]:
            flags.append(f"{layer}: {idle:.0%} of its core-time is not executor work "
                         "(driver-side work, scheduling or stragglers)")
    total_run = metrics.pop("accounting.total_run_s")
    run_ratio = (total_run - metrics["accounting.unattributed_run_s"]) / total_run if total_run else 1.0
    # row counts between spans are the benchmark's own work
    wall_ratio = (
        sum(s["end"] - s["start"] for s in top) / (traced_wall - tr.aux_s) if traced_wall else 1.0
    )
    if abs(1.0 - run_ratio) > acc["run_tolerance"]:
        flags.append(f"executor run time not attributed to any layer: {1 - run_ratio:.1%}")
    if wall_ratio < 1.0 - acc["wall_tolerance"]:
        flags.append(f"traced wall time outside layer spans: {1 - wall_ratio:.1%}")
    out.update(metrics)
    out.update(extra)
    out["accounting.run_ratio"] = run_ratio
    out["accounting.wall_ratio"] = wall_ratio
    out["accounting.flagged_layers"] = len(flags)
    out["trace.overhead_s"] = traced_wall - ref_run_s
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench_out", f"trace-{wl.name}-seed{wl.seed}.json"), "w") as f:
        json.dump({"spans": spans, "metrics": out, "flags": flags, "cores": cores}, f, indent=1)
    for fl in flags:
        print(f"accounting flag: {fl}", flush=True)
    print(f"accounting self-check: {'FLAGGED' if flags else 'pass'}", flush=True)
    S.shutdown(spark)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = load_spec()
    bench = load_benchmark_json()
    if args.workload not in spec["workloads"]:
        ap.error(f"unknown workload {args.workload!r}; known: {sorted(spec['workloads'])}")
    # the program under test must be importable from the checkout
    import rdf_dataset_fragmenter_js_spark  # noqa: F401

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    S.prepare_env(ROOT, work)
    cores = S.host_cores()
    wl = Workload(args.workload, spec, args.seed, os.path.join(work, "in"))
    runner = Runner(wl, spec, work)
    spark = None

    def factory(n: int):
        # the partition count stays host-derived at every core count
        return S.start_session(n, S.host_partitions(), work)

    try:
        spark, setup_s = setup(runner, factory, cores)
        if args.trace:
            metrics = traced(runner, spark, factory, cores)
            spark = None
            names = [m["name"] for m in bench["per_layer"]]
            units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        else:
            metrics = end_to_end(runner, setup_s, measure(runner, spark, args.seconds))
            names = [m["name"] for m in bench["end_to_end"]]
            units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    finally:
        if spark is not None:
            S.shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    for e in runner.errors:
        print(f"failed: {e}", flush=True)
    for n in names:
        # a layer this workload never calls reports zero work; a run with a
        # failed job reports zeros for what it could not measure
        skipped = args.trace and metrics.get(n.rsplit(".", 1)[0] + ".wall_s") == 0
        if n not in metrics and (skipped or runner.failed):
            metrics[n] = 0.0
    missing = [n for n in names if n not in metrics]
    if missing:
        print(f"no value for metrics {missing}", file=sys.stderr)
        return 1
    print(
        f"{args.workload}: {runner.attempted} jobs, {runner.failed} failed "
        f"(job_fail_ratio {runner.failed / max(runner.attempted, 1)})",
        flush=True,
    )
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in names},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
