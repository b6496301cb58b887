"""Self-check of BENCHMARK.json against the benchmark contract.

    python3 -m pytest perfbench/tests -q     (or run this file directly)

Checks the manifest's schema and limits, that every metric it declares is
one the run emits (with the same unit), and that every recorded result in
``perfbench/results/`` carries exactly the declared metrics and units.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


def _spec() -> dict:
    path = os.path.join(ROOT, "BENCHMARK.json")
    assert os.path.getsize(path) <= 64 * 1024
    with open(path) as fh:
        return json.load(fh)


def test_schema_and_limits():
    spec = _spec()
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    paths = spec["paths"]
    assert 1 <= len(paths) <= 16
    for p in paths:
        assert PATH.match(p) and not p.startswith("/") and ".." not in p.split("/")
        full = os.path.join(ROOT, p)
        assert os.path.isdir(full)
        for f in glob.glob(os.path.join(full, "**"), recursive=True):
            assert not os.path.islink(f), f
    cmd = spec["command"]
    assert 1 <= len(cmd) <= 32 and all(isinstance(a, str) and len(a) <= 200 for a in cmd)
    for arg in cmd[1:]:
        assert not arg.startswith("/") and ".." not in arg.split("/")
        if os.path.exists(os.path.join(ROOT, arg)):
            assert any(arg == p or arg.startswith(p.rstrip("/") + "/") for p in paths), arg
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60

    workloads = spec["workloads"]
    assert 2 <= len(workloads) <= 8
    for w in workloads:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    e2e, layer = spec["end_to_end"], spec["per_layer"]
    assert 1 <= len(e2e) <= 16 and 1 <= len(layer) <= 128
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in layer:
        assert set(m) == {"name", "unit", "better"}
    names = [x["name"] for x in workloads + e2e + layer]
    assert len(names) == len(set(names)), "a name is used twice"
    for x in e2e + layer:
        assert UNIT.match(x["unit"]), x
        assert x["better"] in ("lower", "higher"), x
    for n in names:
        assert NAME.match(n), n
    setup = [m for m in e2e if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in e2e)


def test_declared_metrics_are_emitted():
    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_METRICS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_METRICS


def test_recorded_results_match():
    spec = _spec()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for path in glob.glob(os.path.join(BENCH, "results", "*.jsonl")):
        with open(path) as fh:
            for line in fh:
                rec = json.loads(line)
                res = rec["result"]
                assert set(res) == {"correct", "attempted", "failed", "metrics"}
                assert res["attempted"] >= 1 and res["failed"] == 0 and res["correct"]
                want = layer if rec["trace"] else e2e
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                assert got == want, (path, rec["workload"], rec["seed"])
                if not rec["trace"]:
                    assert all(v["value"] > 0 for v in res["metrics"].values())


if __name__ == "__main__":
    for fn in (test_schema_and_limits, test_declared_metrics_are_emitted,
               test_recorded_results_match):
        fn()
        print(f"{fn.__name__}: ok")
