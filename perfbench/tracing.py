"""Tracing from outside the program: wrappers on module functions, the
Spark event log, and /proc for worker memory.

Nothing here edits the library.  Wrappers replace module attributes for
the duration of a ``with Tracer(...)`` block and restore them on exit.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import threading
import time
from collections import defaultdict

# module -> functions whose self time the traced run reports
KERNEL_FUNCS = {
    "nreadspark.kernel": (
        "build_document", "prepare_document", "extract_article_title",
        "strip_unlikely_candidates", "collapse_redundant_paragraph_divs",
        "find_candidates_for_article_content", "determine_top_candidate",
        "create_article_content_element", "prepare_article_content_element",
        "glue_document", "find_next_page_link",
    ),
    "nreadspark.dom": ("parse_fragment",),
    "nreadspark.spans": ("extract_spans_flat",),
}
DRIVER_FUNCS = {
    "nreadspark.lineage": (
        "run_extraction", "write_marker", "resolve_bucket_layout", "commit_bucketed_stage",
    ),
    # the operator constructors curate_resumable imports at call time
    "nreadspark.ops.textstats": ("c4_quality_filter",),
    "nreadspark.ops.dedup": (
        "line_dedup", "minhash_lsh_candidates", "verify_jaccard", "keep_canonical",
    ),
}
TAG_PREFIX = "perfbench/"


class Tracer:
    """Per-function call counts and self time (span minus the spans of
    traced calls made inside it).  With a SparkContext, every traced call
    also tags the jobs it submits by appending its name to the job
    description, so the event log can attribute Spark time to it."""

    def __init__(self, funcs: dict, sc=None):
        self.funcs = funcs
        self.sc = sc
        self.self_s: dict = defaultdict(float)
        self.span_s: dict = defaultdict(float)
        self.calls: dict = defaultdict(int)
        self.results: dict = defaultdict(list)  # name -> returned values, if kept
        self.keep_results: set = set()
        self._local = threading.local()
        self._saved: list = []

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._local.__dict__.setdefault("stack", [])
            frame = [0.0]  # time spent in traced children
            stack.append(frame)
            with tracer.tag(name):
                t0 = time.perf_counter()
                try:
                    out = fn(*args, **kwargs)
                finally:
                    dur = time.perf_counter() - t0
                    stack.pop()
                    if stack:
                        stack[-1][0] += dur
                    tracer.span_s[name] += dur
                    tracer.self_s[name] += dur - frame[0]
                    tracer.calls[name] += 1
            if name in tracer.keep_results:
                tracer.results[name].append(out)
            return out

        traced.__wrapped__ = fn
        return traced

    def __enter__(self):
        for mod_name, names in self.funcs.items():
            mod = importlib.import_module(mod_name)
            for fn_name in names:
                orig = getattr(mod, fn_name)
                wrapped = self._wrap(f"{mod_name.removeprefix('nreadspark.')}.{fn_name}", orig)
                # rebind every alias of the same function object among the
                # traced modules (kernel imports build_document from dom)
                for other in {importlib.import_module(m) for m in self.funcs}:
                    for attr, val in list(vars(other).items()):
                        if val is orig:
                            self._saved.append((other, attr, val))
                            setattr(other, attr, wrapped)
        return self

    def __exit__(self, *exc):
        for mod, attr, val in reversed(self._saved):
            setattr(mod, attr, val)
        self._saved.clear()
        return False

    def tag(self, name: str):
        return job_tag(self.sc, name)


class job_tag:
    """Append ``name`` to the Spark job description while the block runs."""

    def __init__(self, sc, name: str):
        self.sc, self.name, self.prev = sc, name, None

    def __enter__(self):
        if self.sc is not None:
            self.prev = self.sc.getLocalProperty("spark.job.description")
            base = self.prev or TAG_PREFIX.rstrip("/")
            self.sc.setJobDescription(f"{base}/{self.name}")
        return self

    def __exit__(self, *exc):
        if self.sc is not None:
            self.sc.setJobDescription(self.prev)
        return False


# -- worker memory ---------------------------------------------------------


def _children() -> dict:
    kids = defaultdict(list)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the ppid is the second field after the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids[ppid].append(int(pid))
    return kids


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


# JVM threads whose CPU is not the program's: the JIT compilers.  Their
# work is a fresh JVM's warm-up, which a long-lived executor pays once.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _cpu_ticks(path: str, fields: slice) -> int:
    try:
        with open(path, encoding="ascii", errors="replace") as fh:
            stat = fh.read()
    except OSError:
        return 0
    return sum(int(v) for v in stat[stat.rindex(")") + 2 :].split()[fields])


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by ``root`` (default: this
    process) and every process under it, the reaped ones included: the
    driver, the JVM and the Python workers.  The JVM's JIT compiler
    threads are left out; ``start_session`` keeps them alive for the whole
    run, so their time can always be subtracted."""
    kids = _children()
    todo, ticks = [root or os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        # utime, stime, cutime, cstime: fields 14-17
        ticks += _cpu_ticks(f"/proc/{pid}/stat", slice(11, 15))
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm", encoding="ascii", errors="replace") as fh:
                    jit = fh.read().startswith(JIT_THREADS)
            except OSError:
                continue
            if jit:
                ticks -= _cpu_ticks(f"/proc/{pid}/task/{tid}/stat", slice(11, 13))
    return ticks / os.sysconf("SC_CLK_TCK")


class WorkerMemory:
    """Summed peak RSS (VmHWM) of the Python processes under the JVM."""

    def __init__(self, spark):
        self.jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        self.peak_mb = 0.0

    def sample(self) -> float:
        kids = _children()
        todo, total = list(kids.get(self.jvm_pid, [])), 0
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, []))
            try:
                with open(f"/proc/{pid}/comm", encoding="ascii") as fh:
                    is_python = fh.read().startswith("python")
            except OSError:
                continue
            if is_python:
                total += _peak_rss_kb(pid)
        self.peak_mb = max(self.peak_mb, total / 1024.0)
        return self.peak_mb


# -- Spark event log -------------------------------------------------------

PY_ACCUMULATORS = {
    "time to initialize Python workers": "py_init_s",
    "time to start Python workers": "py_start_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "to_py_mb",
    "data returned from Python workers": "from_py_mb",
}


class EventLog:
    """Jobs, SQL executions and tasks of one application's event log,
    grouped by the job description ``job_tag`` set."""

    def __init__(self, path: str):
        self.jobs: dict = {}  # job id -> {desc, start, end, stages}
        self.execs: dict = {}  # execution id -> {desc, plan, start, end, root}
        self.stage_job: dict = {}
        self.tasks: list = []  # (stage id, task info, task metrics)
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = self.jobs[ev["Job ID"]] = {
                        "desc": props.get("spark.job.description") or "",
                        "start": ev["Submission Time"],
                        "stages": ev["Stage IDs"],
                    }
                    for sid in ev["Stage IDs"]:
                        self.stage_job[sid] = ev["Job ID"]
                    job["end"] = job["start"]
                elif kind == "SparkListenerJobEnd":
                    self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    self.tasks.append((ev["Stage ID"], ev["Task Info"], ev.get("Task Metrics") or {}))
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    eid = ev["executionId"]
                    self.execs[eid] = {
                        "desc": ev.get("description") or "",
                        "plan": ev.get("physicalPlanDescription") or "",
                        "start": ev["time"],
                        "end": ev["time"],
                        "root": ev.get("rootExecutionId", eid),
                    }
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    if ev["executionId"] in self.execs:
                        self.execs[ev["executionId"]]["end"] = ev["time"]

    @staticmethod
    def find(directory: str) -> "EventLog":
        names = [n for n in os.listdir(directory) if not n.startswith(".")]
        if len(names) != 1:
            raise RuntimeError(f"expected one event log in {directory}, found {names}")
        return EventLog(os.path.join(directory, names[0]))

    @staticmethod
    def _under(desc: str, tag: str, segment: str | None) -> bool:
        """``desc`` lies under ``tag`` and, if given, inside a traced call
        whose name starts with ``segment``."""
        want = TAG_PREFIX + tag
        if not (desc == want or desc.startswith(want + "/")):
            return False
        return segment is None or any(s.startswith(segment) for s in desc.split("/"))

    def job_ids(self, tag: str, segment: str | None = None) -> list:
        return [j for j, job in self.jobs.items() if self._under(job["desc"], tag, segment)]

    def _root_execs(self, tag: str, segment: str | None) -> list:
        return [
            ex for eid, ex in self.execs.items()
            if ex["root"] == eid and self._under(ex["desc"], tag, segment)
        ]

    def exec_wall_s(self, tag: str, segment: str | None, writes: bool) -> float:
        """Wall time of the root SQL executions that write files
        (``writes=True``) or do not."""
        return sum(
            ex["end"] - ex["start"]
            for ex in self._root_execs(tag, segment)
            if ("InsertIntoHadoopFsRelationCommand" in ex["plan"]) == writes
        ) / 1000.0

    def busy_s(self, tag: str, segment: str | None) -> float:
        """Time covered by jobs or SQL executions (union of intervals)."""
        spans = sorted(
            [(self.jobs[j]["start"], self.jobs[j]["end"]) for j in self.job_ids(tag, segment)]
            + [(ex["start"], ex["end"]) for ex in self._root_execs(tag, segment)]
        )
        total, cur_start, cur_end = 0, None, None
        for start, end in spans:
            if cur_end is None or start > cur_end:
                if cur_end is not None:
                    total += cur_end - cur_start
                cur_start, cur_end = start, end
            else:
                cur_end = max(cur_end, end)
        if cur_end is not None:
            total += cur_end - cur_start
        return total / 1000.0

    def stats(self, tag: str) -> dict:
        """Scheduler and Python-boundary figures for the jobs under ``tag``."""
        jobs = set(self.job_ids(tag))
        stages = {s for j in jobs for s in self.jobs[j]["stages"]}
        ran = [(info, m) for sid, info, m in self.tasks if self.stage_job.get(sid) in jobs]
        walls = sorted((info["Finish Time"] - info["Launch Time"]) / 1000.0 for info, _m in ran)
        out = {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": len(ran),
            "task_s_p50": walls[len(walls) // 2] if walls else 0.0,
            "task_s_max": walls[-1] if walls else 0.0,
            "gc_s": sum(m.get("JVM GC Time", 0) for _i, m in ran) / 1000.0,
            "task_deser_s": sum(m.get("Executor Deserialize Time", 0) for _i, m in ran) / 1000.0,
            "shuffle_write_mb": sum(
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) for _i, m in ran
            ) / 2**20,
            "spill_mb": sum(
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0) for _i, m in ran
            ) / 2**20,
        }
        py = dict.fromkeys(PY_ACCUMULATORS.values(), 0.0)
        for info, _m in ran:
            for acc in info.get("Accumulables") or []:
                key = PY_ACCUMULATORS.get(acc.get("Name"))
                if key is not None:
                    py[key] += float(acc.get("Update") or 0)
        for key in ("py_init_s", "py_start_s", "py_run_s"):
            py[key] /= 1000.0  # timing SQL metrics are reported in ms
        for key in ("to_py_mb", "from_py_mb"):
            py[key] /= 2**20
        out.update(py)
        return out


# -- the kernel in process -------------------------------------------------


def kernel_profile(seed: int, indices: list) -> dict:
    """Run the corpus documents ``indices`` through the worker's per-document
    calls (``kernel.transcode`` then ``spans.extract_spans_flat``) on one
    core, once plain and once under the kernel wrappers; the two outputs
    must be equal."""
    from nreadspark import kernel, spans, spans_to_html
    from nreadspark.corpus import generate_document
    from workload import require

    htmls = []
    for i in indices:
        doc = sorted(generate_document(i, seed)[1], key=lambda s: s["offset"])
        htmls.append(spans_to_html(doc))
    htmls = [h for h in htmls if h.strip()]  # the worker skips blank pages

    def run():
        opts = kernel.Options()
        out = []
        for html in htmls:
            result = kernel.transcode(html, None, opts)
            cols: tuple = ([], [], [], [])
            spans.extract_spans_flat(result.article_content, *cols)
            out.append((cols, result.title, result.content_extracted, result.next_page_url,
                        result.metrics["fallback_rerun"], result.metrics["ms"]))
        return out

    def timed():
        t0 = time.perf_counter()
        out = run()
        return time.perf_counter() - t0, out

    # plain, traced, plain: bracketing cancels drift in the host's speed
    first_s, plain = timed()
    with Tracer(KERNEL_FUNCS) as tracer:
        traced_s, traced = timed()
    last_s, _ = timed()
    plain_s = (first_s + last_s) / 2
    require(
        [r[:5] for r in plain] == [r[:5] for r in traced],
        "kernel output under the wrappers differs from the plain kernel",
    )
    n = len(htmls)
    metrics = {
        "kernel.docs_per_sec_1core": n / plain_s,
        # parse_fragment parses through build_document: one count each
        "kernel.parses_per_doc": tracer.calls["kernel.build_document"] / n,
        "kernel.fallback_share": sum(r[4] for r in plain) / n,
        "spans.build_s": tracer.self_s["spans.extract_spans_flat"],
        "trace.kernel_overhead_share": traced_s / plain_s - 1.0,
    }
    for name, secs in tracer.self_s.items():
        if name.startswith(("kernel.", "dom.")):
            metrics["kernel.self_s." + name.split(".", 1)[1]] = secs
    return {"metrics": metrics, "doc_ms": [r[5] for r in plain]}
