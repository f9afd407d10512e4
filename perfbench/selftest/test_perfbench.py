"""Self-test of the benchmark itself (no Spark session needed):

    python3 -m pytest perfbench/selftest -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import types
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import run  # noqa: E402
import workload  # noqa: E402
from tracing import Tracer  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _input_digest(seed: int) -> str:
    h = hashlib.sha256()
    for doc_id, spans in workload.generate(seed, workload.CURATE_DOCS):
        h.update(json.dumps([doc_id, spans], sort_keys=True).encode())
    return h.hexdigest()


def test_seed_fixes_the_inputs():
    assert _input_digest(7) == _input_digest(7)
    assert _input_digest(7) != _input_digest(8)


def test_seed_keeps_the_family_mix():
    def mix(seed):
        return Counter(workload.family_of(seed, i) for i in workload.corpus_indices(seed, 500))

    assert mix(1) == mix(2)
    assert sum(mix(1).values()) == 500


def test_metric_names_are_well_formed():
    spec = _spec()
    names = (
        list(run.END_TO_END)
        + list(run.per_layer_units())
        + [m["name"] for m in spec["end_to_end"] + spec["per_layer"] + spec["workloads"]]
    )
    assert all(NAME.fullmatch(n) and len(n) <= 64 for n in names), names


def test_benchmark_json_records_every_metric_and_why():
    spec = _spec()
    assert {(m["name"], m["unit"]) for m in spec["end_to_end"]} == set(run.END_TO_END.items())
    assert {(m["name"], m["unit"]) for m in spec["per_layer"]} == set(run.per_layer_units().items())
    whys = [w["why"] for w in spec["workloads"]]
    for why in whys:
        assert "\n" not in why and len(why) <= 200
        assert any(m in why for m in run.END_TO_END), why
    # every layer appears in the layer -> end-to-end map of some workload;
    # trace.* is the tracing overhead and wall.* the end-to-end wall clock,
    # not layers
    layers = {name.split(".")[0] for name in run.per_layer_units()} - {"trace", "wall"}
    for layer in layers:
        assert any(layer + "." in why for why in whys), layer
    assert all(w["name"] in workload.PASSES for w in spec["workloads"])


def test_self_time_excludes_traced_children():
    mod = types.ModuleType("perfbench_selftest_mod")

    def inner():
        time.sleep(0.05)
        return 1

    def outer():
        time.sleep(0.05)
        return mod.inner() + 1

    mod.inner, mod.outer = inner, outer
    sys.modules[mod.__name__] = mod
    try:
        with Tracer({mod.__name__: ("outer", "inner")}) as tracer:
            assert mod.outer() == 2
        assert mod.outer is outer  # unwrapped again
    finally:
        del sys.modules[mod.__name__]
    span, own = tracer.span_s[f"{mod.__name__}.outer"], tracer.self_s[f"{mod.__name__}.outer"]
    assert span >= 0.1 and 0.05 <= own < span
    assert abs(own + tracer.span_s[f"{mod.__name__}.inner"] - span) < 1e-9


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "curate", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
