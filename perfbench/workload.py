"""Workload inputs, the timed passes, and the output checks.

Every input is generated from ``--seed`` by the library's own corpus
generator (``nreadspark.corpus``); the program under test only ever sees
the materialized parquet.  All files live under the run's own directory
in the checkout's ``.perfbench_work/``.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import time
import zlib

# Input sizes.  Fixed (not scaled by core count) so docs_per_sec is always
# quoted at the same input size; small enough that one run of the slowest
# workload stays well inside the run-time budget on a 4-core host.
EXTRACT_DOCS = 1200
CURATE_DOCS = 400
# extract inputs are laid out like repartition_for_extraction: 4 files/core
FILES_PER_CORE = 4
COMMIT_BUCKETS = 64
CURATE_BUCKETS = 16  # jobs/curate.py default
RESUME_SHARE = 8  # 1/8 of the buckets are deleted and resumed
# a tenth as many perturbed copies as curate documents
NEAR_DUP_MODULUS = 10
# curate leaves out the mega_doc tail: in rendered text it only adds length,
# and its few long documents would set the input size seed by seed
CURATE_SKIP = ("mega_doc",)
# resumes a pass: an extract resume is short, so two; a curate pass is
# long, and one keeps its run inside the time budget of all runs
RESUMES = {"extract_noop": 2, "extract_commit": 2, "curate": 1}
CHECK_SAMPLE = 24  # documents compared against in-process extract_document


class CheckFailed(Exception):
    """An output check failed: the run must not report a result."""


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def cores() -> int:
    """Spark task slots: half the cores.  A running task keeps both its JVM
    task thread and its Python worker busy, so ``local[nproc]`` would run
    twice as many busy threads as there are cores and time the OS
    scheduler (and any neighbour on a shared host) more than the program."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def start_session(work: str, event_log_dir: str | None = None):
    """``local[cores()]`` session with every scratch path inside ``work``.  The
    JVM options only apply to the first session of the process."""
    from pyspark.sql import SparkSession

    from nreadspark.pipeline import configure_session_defaults

    n = cores()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        # compiler threads that never exit, so tracing.tree_cpu_s can always
        # subtract their time
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads",
        )
        .config("spark.eventLog.enabled", str(event_log_dir is not None).lower())
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.dir", "file://" + event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = configure_session_defaults(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def dir_bytes(path: str) -> int:
    """Bytes under ``path``, checksum side files excluded."""
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
        if not f.endswith(".crc")
    )


def data_files(path: str) -> int:
    return sum(
        1
        for _root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


EXTRACT_COLS = ("doc_id", "spans", "title", "content_extracted", "next_page_url")


def digest(df, cols, failed: bool = False) -> tuple:
    """Order-independent (rows, xor of row hashes) over ``cols``; the hash
    covers the JSON rendering, so NULLs and field positions count.  With
    ``failed``, also the rows the kernel failed on
    (``metrics.n_candidates < 0``)."""
    from pyspark.sql import functions as F

    aggs = [F.count("*"), F.bit_xor(F.xxhash64(F.to_json(F.struct(*cols))))]
    if failed:
        aggs.append(F.sum((F.col("metrics.n_candidates") < 0).cast("int")))
    return tuple(int(v or 0) for v in df.agg(*aggs).collect()[0])


# -- setup -----------------------------------------------------------------


def family_of(seed: int, index: int) -> str:
    """The family ``corpus.generate_document`` draws first for a document;
    :func:`generate` checks the prediction on every document it makes."""
    from nreadspark.corpus import _FAMILY_WEIGHTS, FAMILIES

    rng = random.Random((seed << 32) ^ index)
    return rng.choices(FAMILIES, weights=_FAMILY_WEIGHTS, k=1)[0]


def corpus_indices(seed: int, n_docs: int, skip: tuple = ()) -> list[int]:
    """The first documents of each family up to its share of ``n_docs``,
    families in ``skip`` left out.  Fixing the family mix keeps seeds from
    changing how much work the corpus is: mega_doc is 4% of the documents
    and most of the kernel time, and its count alone would otherwise vary
    by ~10% per seed."""
    from nreadspark.corpus import _FAMILY_WEIGHTS, FAMILIES

    weights = {f: w for f, w in zip(FAMILIES, _FAMILY_WEIGHTS) if f not in skip}
    total = sum(weights.values())
    quota = {f: n_docs * w // total for f, w in weights.items()}
    quota[FAMILIES[0]] += n_docs - sum(quota.values())
    picked, index = [], 0
    while len(picked) < n_docs:
        family = family_of(seed, index)
        if quota.get(family):
            quota[family] -= 1
            picked.append(index)
        index += 1
    return picked


def _write_docs(rows: list, path: str, files: int) -> None:
    """(doc_id, spans) rows -> ``files`` parquet files under ``path``, each
    row in file ``crc32(doc_id) % files``: a uniform, deterministic layout
    like ``pipeline.repartition_for_extraction``'s, written without Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                      ("media_ref", pa.string()), ("offset", pa.int32())])
    shards: list = [[] for _ in range(files)]
    for row in rows:
        shards[zlib.crc32(row[0].encode()) % files].append(row)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    for i, shard in enumerate(shards):
        table = pa.table({
            "doc_id": pa.array([r[0] for r in shard], pa.string()),
            "spans": pa.array([r[1] for r in shard], pa.list_(span)),
        })
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))


def generate(seed: int, n_docs: int, skip: tuple = ()) -> list:
    """(doc_id, spans) of the ``corpus_indices`` documents, generated in
    this process: set-up starts no Python workers, so their memory peak
    belongs to the workload."""
    from nreadspark.corpus import generate_document

    rows = []
    for i in corpus_indices(seed, n_docs, skip):
        doc_id, spans, family = generate_document(i, seed)
        require(family == family_of(seed, i), "corpus generator no longer draws the family first")
        rows.append((doc_id, spans))
    return rows


def perturb(text: str, token: str) -> str:
    """Replace the first word of EVERY line: line_dedup strips the lines a
    copy shares verbatim with its source, so an untouched line would
    vanish before MinHash ever saw the pair."""
    return re.sub(r"(?m)^(\s*)\S+", lambda m: m.group(1) + token, text)


def materialize_curate_input(spark, seed: int, work: str, path: str) -> dict:
    """Extracted (in process), rendered text plus a perturbed copy of a
    seeded tenth of the documents -> parquet."""
    from pyspark.sql import functions as F

    import nreadspark
    from nreadspark.ops.render import spans_to_training_text

    rows = []
    for doc_id, spans in generate(seed, CURATE_DOCS, CURATE_SKIP):
        html = nreadspark.spans_to_html(sorted(spans, key=lambda s: s["offset"]))
        rows.append((doc_id, nreadspark.extract_document(html)["spans"] if html.strip() else []))
    # copies of documents with enough words to survive the quality filter
    long_enough = [
        row for row in rows
        if sum(len(s["text"].split()) for s in row[1] if s["kind"] == "text") >= 40
    ]
    rng = random.Random(seed)
    copies = []
    for doc_id, extracted in rng.sample(long_enough, CURATE_DOCS // NEAR_DUP_MODULUS):
        token = f"nd{rng.getrandbits(32)}"
        copies.append((f"{doc_id}~nd", [
            dict(s, text=perturb(s["text"], token)) if s["kind"] == "text" else s
            for s in extracted
        ]))
    staged = os.path.join(work, "staged")
    _write_docs(rows + copies, staged, 1)
    (
        spans_to_training_text(spark.read.parquet(staged))
        .select("doc_id", "text")
        .repartition(cores() * FILES_PER_CORE, F.xxhash64("doc_id"))
        .write.mode("overwrite")
        .parquet(path)
    )
    return {"path": path, "docs": len(rows) + len(copies), "bytes": dir_bytes(path),
            "injected": len(copies)}


def setup(spark, workload: str, seed: int, work: str) -> dict:
    """Materialize the workload's input; returns its description."""
    path = os.path.join(work, "input")
    if workload == "curate":
        return materialize_curate_input(spark, seed, work, path)
    _write_docs(generate(seed, EXTRACT_DOCS), path, cores() * FILES_PER_CORE)
    return {"path": path, "docs": EXTRACT_DOCS, "bytes": dir_bytes(path), "injected": 0}


def resume_buckets(seed: int) -> list[int]:
    return sorted(random.Random(seed).sample(range(COMMIT_BUCKETS), COMMIT_BUCKETS // RESUME_SHARE))


# -- timed passes ----------------------------------------------------------


def _timed(fn):
    """((wall s, CPU s of the whole process tree), what ``fn`` returns)."""
    from tracing import tree_cpu_s

    c0, t0 = tree_cpu_s(), time.perf_counter()
    out = fn()
    return (time.perf_counter() - t0, tree_cpu_s() - c0), out


def _clocks(full: tuple, resumes: list) -> dict:
    """A pass's full-run and resume clocks, as ``_timed`` reads them."""
    return {
        "full_s": full[0],
        "full_cpu_s": full[1],
        "resume_walls": [r[0] for r in resumes],
        "resume_cpus": [r[1] for r in resumes],
    }


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def pass_extract_noop(spark, inp: dict, seed: int, work: str, warmup: bool = False) -> dict | None:
    from nreadspark.lineage import bucket_col
    from nreadspark.pipeline import extract

    df = spark.read.parquet(inp["path"])
    full, _ = _timed(lambda: noop(extract(df)))
    if warmup:
        return None
    part = df.filter(bucket_col(COMMIT_BUCKETS).isin(resume_buckets(seed)))
    resumes = [_timed(lambda: noop(extract(part)))[0] for _ in range(RESUMES["extract_noop"])]
    return _clocks(full, resumes)


def _delete_buckets(out: str, buckets) -> dict:
    """Delete the partition and manifest of each bucket; returns the
    surviving manifests' contents for the resume check."""
    from nreadspark.lineage import LINEAGE_DIR

    for b in buckets:
        shutil.rmtree(os.path.join(out, f"bucket={b}"), ignore_errors=True)
        os.remove(os.path.join(out, LINEAGE_DIR, f"bucket={b}.json"))
    return _manifests(out)


def _manifests(out: str) -> dict:
    from nreadspark.lineage import LINEAGE_DIR

    lin = os.path.join(out, LINEAGE_DIR)
    found = {}
    for name in os.listdir(lin):
        if name.startswith("bucket=") and name.endswith(".json"):
            with open(os.path.join(lin, name), encoding="utf-8") as fh:
                found[name] = fh.read()
    return found


def pass_extract_commit(spark, inp: dict, seed: int, work: str, warmup: bool = False) -> dict | None:
    from nreadspark.lineage import run_extraction

    df = spark.read.parquet(inp["path"])
    out = os.path.join(work, "committed")
    full, first = _timed(
        lambda: run_extraction(spark, df, out, n_buckets=COMMIT_BUCKETS, resume=False)
    )
    if warmup:
        return None
    require(first["buckets_computed"] == COMMIT_BUCKETS, f"full commit computed {first}")
    deleted = resume_buckets(seed)
    resumes = []
    for _ in range(RESUMES["extract_commit"]):
        kept = _delete_buckets(out, deleted)
        resume, second = _timed(
            lambda: run_extraction(spark, df, out, n_buckets=COMMIT_BUCKETS, resume=True)
        )
        resumes.append(resume)
        after = _manifests(out)
        recomputed = sorted(int(n[len("bucket="):-len(".json")]) for n in after if after[n] != kept.get(n))
        require(
            second["buckets_computed"] == len(deleted) and recomputed == deleted,
            f"resume recomputed {recomputed} ({second}), deleted {deleted}",
        )
    return {
        **_clocks(full, resumes),
        "out_bytes": dir_bytes(out),
        "files": data_files(out),
        "resume_buckets": len(recomputed),
        "out": out,
    }


def curate_job():
    """jobs/curate.py is a script directory, not a package: load it by path."""
    import importlib.util
    import sys

    name = "perfbench_jobs_curate"
    if name not in sys.modules:
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        spec = importlib.util.spec_from_file_location(name, os.path.join(root, "jobs", "curate.py"))
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
        sys.modules[name] = module
    return sys.modules[name]


STAGES = ("quality", "line_clean", "pairs", "final")


def pass_curate(spark, inp: dict, seed: int, work: str, warmup: bool = False) -> dict | None:
    """An uninterrupted run, then the resume after a crash that lost the
    final stage: removing the final commit leaves the state
    ``fail_after_stage="pairs"`` leaves.  The warm-up pass takes that
    crash for real and resumes from it.  Every run's survivors must equal
    the first's, which ``inp["survivors"]`` keeps."""
    from nreadspark.lineage import STAGE_MARKER, clean_bucketed_output, read_marker

    job = curate_job()
    docs = spark.read.parquet(inp["path"])
    out = os.path.join(work, "curated")

    def curate(resume: bool, fail_after_stage: str | None = None):
        return job.curate_resumable(
            spark, docs, out, n_buckets=CURATE_BUCKETS, resume=resume,
            fail_after_stage=fail_after_stage,
        )

    def same_survivors(final_df, what: str) -> None:
        got = digest(final_df, ("doc_id", "text"))
        want = inp.setdefault("survivors", got)
        require(got == want, f"{what} survivors {got} != first run's {want}")

    shutil.rmtree(out, ignore_errors=True)
    if warmup:
        try:
            curate(resume=False, fail_after_stage="pairs")
        except RuntimeError as exc:
            require(str(exc) == "injected failure after stage pairs", f"curate failed: {exc}")
        else:
            raise CheckFailed("curate_resumable did not stop after the pairs stage")
        same_survivors(curate(resume=True)[0], "crashed-and-resumed")
        return None

    started = time.time()
    full, (final_df, stats) = _timed(lambda: curate(resume=False))
    require(stats["near_dup_pairs"] > 0, f"no near-duplicate pairs found of {inp['injected']} injected")
    same_survivors(final_df, "uninterrupted")
    # stage walls from the commit times the stage markers record
    marks = [started] + [
        read_marker(os.path.join(out, job.STAGES_DIR, stage), STAGE_MARKER)["committed_at"]
        for stage in STAGES[:-1]
    ] + [read_marker(out, STAGE_MARKER)["committed_at"]]
    stage_s = {stage: marks[i + 1] - marks[i] for i, stage in enumerate(STAGES)}
    out_bytes, files = dir_bytes(out), data_files(out)

    resumes = []
    for _ in range(RESUMES["curate"]):
        clean_bucketed_output(spark, out)
        resume, (final_df, resumed) = _timed(lambda: curate(resume=True))
        resumes.append(resume)
        require(resumed["resumed_stages"] == list(STAGES[:-1]), f"resume reloaded {resumed['resumed_stages']}")
        same_survivors(final_df, "resumed")
    return {
        **_clocks(full, resumes),
        "out_bytes": out_bytes,
        "files": files,
        "stats": stats,
        "stage_s": stage_s,
        "resume_buckets": len(_manifests(out)),
    }


# unmeasured passes before the measured ones: the first run of a code path
# in a fresh JVM pays its code generation and JIT warm-up (on a 4-core host
# ~1.4x a warm commit pass, ~1.8x a warm curate pass)
WARMUP_PASSES = {"extract_noop": 0, "extract_commit": 1, "curate": 1}

PASSES = {
    "extract_noop": pass_extract_noop,
    "extract_commit": pass_extract_commit,
    "curate": pass_curate,
}


# -- output checks ---------------------------------------------------------


def check_extraction(spark, inp: dict, seed: int, work: str, repeat: bool) -> dict:
    """Extract to plain parquet; a seeded sample of it must equal
    in-process ``nreadspark.extract_document``.  With ``repeat`` a second
    extraction straight into an aggregate must give the same digest.
    Returns the reference digest."""
    from pyspark.sql import functions as F

    import nreadspark
    from nreadspark.corpus import generate_document
    from nreadspark.pipeline import extract

    df = spark.read.parquet(inp["path"])
    plain = os.path.join(work, "plain_extract")
    extract(df).write.mode("overwrite").parquet(plain)
    written = spark.read.parquet(plain)
    ref = digest(written, EXTRACT_COLS, failed=True)
    require(ref[0] == inp["docs"], f"extracted {ref[0]} of {inp['docs']} documents")
    if repeat:
        again = digest(extract(df), EXTRACT_COLS, failed=True)
        require(ref == again, f"extraction digests differ between runs: {ref} vs {again}")

    sample = random.Random(seed).sample(corpus_indices(seed, EXTRACT_DOCS), CHECK_SAMPLE)
    docs = {}
    for i in sample:
        doc_id, spans, _family = generate_document(i, seed)
        docs[doc_id] = spans
    rows = written.filter(F.col("doc_id").isin(list(docs))).collect()
    require(len(rows) == len(docs), "sampled documents missing from the output")
    for row in rows:
        html = nreadspark.spans_to_html(sorted(docs[row["doc_id"]], key=lambda s: s["offset"]))
        want = nreadspark.extract_document(html)
        got = {
            "spans": [s.asDict() for s in row["spans"]],
            "title": row["title"],
            "content_extracted": row["content_extracted"],
            "next_page_url": row["next_page_url"],
        }
        require(
            all(got[k] == want[k] for k in got),
            f"{row['doc_id']}: Spark output differs from in-process extract_document",
        )
    return {"digest": ref, "failed_rows": ref[2], "plain_bytes": dir_bytes(plain)}


def check_committed(spark, out: str, ref) -> None:
    got = digest(spark.read.parquet(out), EXTRACT_COLS, failed=True)
    require(got == ref, f"committed-then-resumed digest {got} != extract digest {ref}")
