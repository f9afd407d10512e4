#!/usr/bin/env python3
"""nreadspark benchmark: committed extraction and curation.

    python3 perfbench/run.py --workload extract_commit --seed 1 --seconds 10 --trace 0

Runs one seeded workload on ``local[nproc/2]`` from this one process and
prints, as the last line of stdout, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports the per-layer
metrics of a separately traced run.  A failed output check exits with
code 1 and prints no result.

Workloads (sizes in ``workload.py``):

* ``extract_commit`` -- 1,200 generated documents, all 10 corpus families
  in fixed shares (mega_doc tail included), through
  ``lineage.run_extraction(n_buckets=64)``; a seeded 1/8 of the buckets
  is then deleted and resumed.
* ``curate`` -- 400 documents (no mega_doc) extracted and rendered to
  text in set-up, plus 40 perturbed copies, through
  ``jobs.curate.curate_resumable``: an uninterrupted run, then a resume
  after the final stage is lost.  The warm-up run crashes after the
  pairs stage and resumes.
* ``extract_noop`` -- the extract_commit corpus through
  ``pipeline.extract`` into a noop sink.  Not in BENCHMARK.json, whose
  time budget holds two workloads; run it by hand to split kernel cost
  from commit cost.

Spark gets half the cores (``workload.cores``): every running task keeps
a JVM thread and a Python worker busy, so ``local[nproc]`` would run more
busy threads than there are cores and time the scheduler.

A pass is one full run plus its resumes (``workload.RESUMES``).
``docs_per_cpu_s`` is input documents over the median full run's CPU
seconds, ``resume_cpu_s`` the median of every resume's CPU seconds; both
count the driver, the JVM and the Python workers, less the JIT compiler
threads (``tracing.tree_cpu_s``).  They are CPU, not wall, figures
because on a shared host the wall clock of the same pass swings by a
fifth or more from minute to minute with the neighbours' load, while its
CPU time moves far less; at the paper's scale CPU seconds per
document are also what a run costs.  The wall figures are per-layer
metrics (``wall.*``).

Passes repeat, after unmeasured warm-up ones, until ``--seconds`` are
spent and there are at least ``MIN_PASSES``.  ``ok_share`` is
1 - kernel-failed rows (``metrics.n_candidates < 0``) / documents for
extraction and 1 - failed passes / passes for curation, where a failed
pass aborts the run.  Per-layer metrics a workload does not exercise
read 0.

Tracing overhead: ``trace.docs_per_cpu_s`` (event log and wrappers on)
against the untraced run's ``docs_per_cpu_s`` at the same seed;
``trace.overhead_share`` is the wrappers' part alone, from plain and
traced passes of the traced run, and ``trace.kernel_overhead_share``
the kernel wrappers' part in process.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3
# measured passes at least, --seconds notwithstanding: a curate pass takes
# longer than --seconds, and a median of one pass is no median
MIN_PASSES = 2
LAYER_REPEATS = 2
KERNEL_SAMPLE = 600

END_TO_END = {
    "setup_s": "s",
    "docs_per_cpu_s": "1/s",
    "resume_cpu_s": "s",
    "ok_share": "ratio",
    "worker_peak_rss_mb": "MB",
    "out_bytes_per_in_byte": "ratio",
}


def per_layer_units() -> dict:
    """Every per-layer metric and its unit."""
    from tracing import KERNEL_FUNCS

    units = {
        "pipeline.scan_s": "s",
        "pipeline.reassembly_s": "s",
        "pipeline.boundary_s": "s",
        "pipeline.kernel_s": "s",
        "pipeline.py_init_s": "s",
        "pipeline.py_start_s": "s",
        "pipeline.py_run_s": "s",
        "pipeline.to_py_mb": "MB",
        "pipeline.from_py_mb": "MB",
        "spark.task_deser_s": "s",
        "kernel.docs_per_sec_1core": "1/s",
    }
    for fn in KERNEL_FUNCS["nreadspark.kernel"] + KERNEL_FUNCS["nreadspark.dom"]:
        units[f"kernel.self_s.{fn}"] = "s"
    units.update({
        "spans.build_s": "s",
        "kernel.parses_per_doc": "count",
        "kernel.fallback_share": "ratio",
        "kernel.doc_ms_p50": "ms",
        "kernel.doc_ms_p99": "ms",
        "lineage.write_s": "s",
        "lineage.stats_s": "s",
        "lineage.manifest_s": "s",
        "lineage.layout_s": "s",
        "lineage.files": "count",
        "lineage.resume_buckets_computed": "count",
    })
    for stage in ("quality", "line_clean", "pairs", "final"):
        units[f"jobs.curate.stage_s.{stage}"] = "s"
    units.update({
        "ops.plan_build_s": "s",
        "ops.dedup.verify_yield": "ratio",
        "ops.dedup.near_dup_pairs": "count",
        "ops.dedup.injected_pairs": "count",
        "spark.jobs": "count",
        "spark.stages": "count",
        "spark.tasks": "count",
        "spark.task_s_p50": "s",
        "spark.task_s_max": "s",
        "spark.gc_s": "s",
        "spark.shuffle_write_mb": "MB",
        "spark.spill_mb": "MB",
        "wall.docs_per_sec": "1/s",
        "wall.resume_s": "s",
        "trace.docs_per_cpu_s": "1/s",
        "trace.overhead_share": "ratio",
        "trace.kernel_overhead_share": "ratio",
    })
    return units


def _prepare_env(work: str) -> None:
    """Workers import nreadspark from this checkout; scratch stays in it."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _warm_up(spark, args, inp: dict, work: str, at_least: int = 0) -> None:
    """The unmeasured passes.  They run before the checks, so the checks
    run warm and the cold start is paid once."""
    from workload import PASSES, WARMUP_PASSES

    for _ in range(max(at_least, WARMUP_PASSES[args.workload])):
        PASSES[args.workload](spark, inp, args.seed, work, warmup=True)


def _measure(spark, args, inp: dict, work: str, mem) -> list:
    """Passes until ``--seconds`` are spent and there are ``MIN_PASSES``."""
    from workload import PASSES

    runs, start = [], time.perf_counter()
    while len(runs) < MIN_PASSES or time.perf_counter() - start < args.seconds:
        runs.append(PASSES[args.workload](spark, inp, args.seed, work))
        mem.sample()
    return runs


def _med(runs: list, key: str) -> float:
    return statistics.median(r[key] for r in runs)


def _med_resumes(runs: list, key: str) -> float:
    return statistics.median(v for r in runs for v in r[key])


def _check_before(spark, args, inp: dict, work: str) -> dict:
    """Extraction checks on a plain pass over the input; curate checks its
    output inside every pass."""
    import workload as W

    if args.workload == "curate":
        return {"failed_rows": 0}
    return W.check_extraction(spark, inp, args.seed, work, repeat=args.workload == "extract_noop")


def _check_after(spark, args, ref: dict, runs: list) -> None:
    """Checks on the last pass's output."""
    import workload as W

    if args.workload == "extract_commit":
        W.check_committed(spark, runs[-1]["out"], ref["digest"])


def run_untraced(args, work: str):
    import workload as W
    from tracing import WorkerMemory

    spark = W.start_session(work)
    t_start = time.perf_counter()
    try:
        setup_walls = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            inp = W.setup(spark, args.workload, args.seed, work)
            setup_walls.append(time.perf_counter() - t0)
        mem = WorkerMemory(spark)
        t_setup = time.perf_counter()
        _warm_up(spark, args, inp, work)
        ref = _check_before(spark, args, inp, work)
        t_check = time.perf_counter()
        runs = _measure(spark, args, inp, work, mem)
        t_measure = time.perf_counter()
        _check_after(spark, args, ref, runs)
        failed_rows = ref["failed_rows"]
    finally:
        _shutdown(spark)
    t_end = time.perf_counter()
    docs = inp["docs"]
    out_bytes = ref["plain_bytes"] if args.workload == "extract_noop" else _med(runs, "out_bytes")
    metrics = {
        "setup_s": statistics.median(setup_walls),
        "docs_per_cpu_s": docs / _med(runs, "full_cpu_s"),
        "resume_cpu_s": _med_resumes(runs, "resume_cpus"),
        "ok_share": 1.0 - failed_rows / docs,
        "worker_peak_rss_mb": mem.peak_mb,
        "out_bytes_per_in_byte": out_bytes / inp["bytes"],
    }
    print(
        f"perfbench: {args.workload} seed={args.seed} docs={docs} in_bytes={inp['bytes']} "
        f"passes={len(runs)} setup={['%.2f' % s for s in setup_walls]} "
        f"full={['%.2f' % r['full_s'] for r in runs]} "
        f"resume={['%.2f' % w for r in runs for w in r['resume_walls']]} "
        f"full_cpu={['%.2f' % r['full_cpu_s'] for r in runs]} "
        f"resume_cpu={['%.2f' % w for r in runs for w in r['resume_cpus']]} "
        f"phases: start={t_start - T0:.1f} setup={t_setup - t_start:.1f} warm+check={t_check - t_setup:.1f} "
        f"measure={t_measure - t_check:.1f} end={t_end - t_measure:.1f}",
        file=sys.stderr,
    )
    return metrics, END_TO_END, docs * len(runs), failed_rows * len(runs)


def _layer_passes(spark, inp: dict) -> dict:
    """Nested passes, each adding one layer to the last: scan, + JVM
    span->HTML reassembly, + an identity Arrow round trip through Python,
    + the kernel.  Each layer's figure is its pass minus the one before."""
    from nreadspark.pipeline import extract, html_from_spans_col
    from tracing import job_tag
    from workload import noop

    df = spark.read.parquet(inp["path"])
    html = df.select("doc_id", html_from_spans_col().alias("__html"))
    steps = {
        "scan": lambda: noop(df),
        "reassembly": lambda: noop(html),
        "boundary": lambda: noop(html.mapInArrow(lambda batches: batches, html.schema)),
        "extract": lambda: noop(extract(df)),
    }
    best = {}
    for name, step in steps.items():
        walls = []
        for _ in range(LAYER_REPEATS):
            with job_tag(spark.sparkContext, f"layers/{name}"):
                t0 = time.perf_counter()
                step()
                walls.append(time.perf_counter() - t0)
        best[name] = min(walls)
    return {
        "pipeline.scan_s": best["scan"],
        "pipeline.reassembly_s": best["reassembly"] - best["scan"],
        "pipeline.boundary_s": best["boundary"] - best["reassembly"],
        "pipeline.kernel_s": best["extract"] - best["boundary"],
    }


def _doc_ms(spark, work: str) -> list:
    rows = spark.read.parquet(os.path.join(work, "plain_extract")).select("metrics.ms").collect()
    return sorted(r["ms"] for r in rows)


def run_traced(args, work: str):
    """One context with the event log on: set-up, checks, warm-up, then
    plain and traced passes in turn.  The traced passes run under the
    driver-side wrappers and tag their jobs; the plain ones measure what
    the wrappers cost."""
    import workload as W
    from tracing import DRIVER_FUNCS, EventLog, Tracer, WorkerMemory, job_tag, kernel_profile

    events = os.path.join(work, "events")
    extracting = args.workload != "curate"
    spark = W.start_session(work, events)
    sc = spark.sparkContext
    try:
        inp = W.setup(spark, args.workload, args.seed, work)
        mem = WorkerMemory(spark)
        # at least one warm-up, so neither side of the comparison below
        # gets the first, coldest pass
        _warm_up(spark, args, inp, work, at_least=1)
        ref = _check_before(spark, args, inp, work)
        tracer = Tracer(DRIVER_FUNCS, sc)
        tracer.keep_results.add("ops.dedup.minhash_lsh_candidates")
        plain, traced, start = [], [], time.perf_counter()
        while not traced or time.perf_counter() - start < args.seconds:
            with job_tag(sc, "plain"):
                plain.append(W.PASSES[args.workload](spark, inp, args.seed, work))
            with tracer, job_tag(sc, "pass"):
                traced.append(W.PASSES[args.workload](spark, inp, args.seed, work))
        _check_after(spark, args, ref, traced)
        out = _layer_passes(spark, inp) if extracting else {}
        candidates = 0
        if not extracting:
            candidates = tracer.results["ops.dedup.minhash_lsh_candidates"][-1].count()
        doc_ms = _doc_ms(spark, work) if extracting else []
    finally:
        _shutdown(spark)

    n = len(traced)
    log = EventLog.find(events)
    sched = log.stats("pass")
    for key in ("jobs", "stages", "tasks", "gc_s", "shuffle_write_mb", "spill_mb"):
        out[f"spark.{key}"] = sched[key] / n
    out["spark.task_s_p50"] = sched["task_s_p50"]
    out["spark.task_s_max"] = sched["task_s_max"]
    if extracting:
        boundary = log.stats("layers/extract")
        for key in ("py_init_s", "py_start_s", "py_run_s", "to_py_mb", "from_py_mb"):
            out[f"pipeline.{key}"] = boundary[key] / LAYER_REPEATS
        out["spark.task_deser_s"] = boundary["task_deser_s"] / LAYER_REPEATS
    if args.workload != "extract_noop":
        out["lineage.write_s"] = log.exec_wall_s("pass", "lineage.", writes=True) / n
        out["lineage.stats_s"] = log.exec_wall_s("pass", "lineage.", writes=False) / n
        out["lineage.manifest_s"] = tracer.span_s["lineage.write_marker"] / n
        out["lineage.layout_s"] = tracer.self_s["lineage.resolve_bucket_layout"] / n
        out["lineage.files"] = statistics.median(r["files"] for r in traced)
        out["lineage.resume_buckets_computed"] = statistics.median(r["resume_buckets"] for r in traced)
    if not extracting:
        ops = [name for name in tracer.span_s if name.startswith("ops.")]
        out["ops.plan_build_s"] = (
            sum(tracer.span_s[name] for name in ops) - log.busy_s("pass", "ops.")
        ) / n
        stats = traced[-1]["stats"]
        out["ops.dedup.near_dup_pairs"] = stats["near_dup_pairs"]
        out["ops.dedup.verify_yield"] = stats["near_dup_pairs"] / max(candidates, 1)
        out["ops.dedup.injected_pairs"] = inp["injected"]
        for stage in ("quality", "line_clean", "pairs", "final"):
            out[f"jobs.curate.stage_s.{stage}"] = statistics.median(r["stage_s"][stage] for r in traced)

    out["wall.docs_per_sec"] = inp["docs"] / _med(plain, "full_s")
    out["wall.resume_s"] = _med_resumes(plain, "resume_walls")
    plain_dps = inp["docs"] / _med(plain, "full_cpu_s")
    traced_dps = inp["docs"] / _med(traced, "full_cpu_s")
    out["trace.docs_per_cpu_s"] = traced_dps
    out["trace.overhead_share"] = 1.0 - traced_dps / plain_dps

    if args.workload == "curate":
        indices = W.corpus_indices(args.seed, W.CURATE_DOCS, W.CURATE_SKIP)
    else:
        indices = W.corpus_indices(args.seed, W.EXTRACT_DOCS)
    n_docs = len(indices)
    prof = kernel_profile(args.seed, random.Random(args.seed).sample(indices, min(KERNEL_SAMPLE, n_docs)))
    out.update(prof["metrics"])
    if not doc_ms:
        doc_ms = sorted(prof["doc_ms"])
    out["kernel.doc_ms_p50"] = doc_ms[len(doc_ms) // 2]
    out["kernel.doc_ms_p99"] = doc_ms[min(len(doc_ms) - 1, int(len(doc_ms) * 0.99))]

    units = per_layer_units()
    metrics = {name: float(out.get(name, 0.0)) for name in units}
    print(
        f"perfbench: traced {args.workload} seed={args.seed} docs/cpu-s plain={plain_dps:.1f} "
        f"traced={traced_dps:.1f} passes={len(traced)}",
        file=sys.stderr,
    )
    return metrics, units, inp["docs"] * n, 0


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=("extract_noop", "extract_commit", "curate"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    for needed in ("nreadspark/__init__.py", "jobs/curate.py"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found next to perfbench/", file=sys.stderr)
            return 2
    # per process, so two runs in one checkout cannot delete each other's files
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    _prepare_env(work)
    from workload import CheckFailed

    try:
        runner = run_traced if args.trace else run_untraced
        metrics, units, attempted, failed = runner(args, work)
    except CheckFailed as exc:
        print(f"perfbench: output check failed: {exc}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
    result = {
        "correct": True,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": value, "unit": units[name]} for name, value in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
