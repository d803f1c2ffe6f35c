"""Self-test of the benchmark at tiny size: every workload runs once
untraced and once traced, its outputs pass their checks, every metric that
BENCHMARK.json names is reported, the metrics of the layers each workload
calls read above 0, and the traced spans nest one after another, so that
their self times add up to the traced total. Without the package the
command must fail and print no result.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = os.path.join(ROOT, "BENCHMARK.json")
SEED = 7
# per-layer metrics that must read above 0, by the layers each workload calls
USED = {
    "crawl_filter": [
        "extract.python_share", "extract.python_bytes", "quality.python_share",
        "quality.python_bytes", "pipeline.jobs", "pipeline.output_bytes",
    ],
    "recrawl_curate": [
        "quality.python_bytes", "dedup.jobs", "dedup.shuffle_bytes",
        "dedup.found_frac", "textanalysis.lines_removed", "sampling.jobs",
        "curation.self_share",
    ],
    "embed_semdedup": [
        "similarity.kmeans_jobs", "similarity.semdedup_share", "similarity.pairs",
    ],
}


def bench(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def spec() -> dict:
    with open(SPEC) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in spec()["workloads"]])
def test_workload(workload, trace):
    out = bench(
        "--workload", workload, "--seed", str(SEED), "--seconds", "1",
        "--trace", str(trace), "--size", "tiny",
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    kind = "per_layer" if trace else "end_to_end"
    want = {m["name"]: m["unit"] for m in spec()[kind]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    printed = {ln.split()[0] for ln in lines[:-1] if ln and not ln.startswith("{")}
    assert set(want) | {"failed_frac"} <= printed
    if workload == "crawl_filter":
        assert "doc_error_frac" in printed
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())
        return
    record = next(ln.split()[1] for ln in lines if ln.startswith("result "))
    with open(os.path.join(ROOT, record)) as f:
        trace_file = json.load(f)["trace_file"]
    with open(trace_file) as f:
        tr = json.load(f)
    spans = tr["spans"]
    assert spans[0]["name"] == "run" and spans[0]["parent_id"] is None
    assert {s["run_id"] for s in spans} == {tr["run_id"]}
    assert tr["errors"] == []
    by_id = {s["span_id"]: s for s in spans}
    for s in spans[1:]:
        parent = by_id[s["parent_id"]]
        assert parent["start"] <= s["start"] < s["end"] <= parent["end"]
    assert all(s["self_s"] >= 0 for s in spans)
    assert abs(sum(s["self_s"] for s in spans) - tr["total_s"]) < 1e-6
    for name in USED[workload]:
        assert res["metrics"][name]["value"] > 0, name


def test_without_package_fails():
    """A directory holding only BENCHMARK.json and perfbench/ must make the
    command fail without printing a result."""
    bare = os.path.join(HERE, "out", f"bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(
            HERE, os.path.join(bare, "perfbench"),
            ignore=shutil.ignore_patterns("out", "__pycache__"),
        )
        shutil.copy(SPEC, bare)
        out = bench(
            "--workload", "crawl_filter", "--seed", "1", "--seconds", "1",
            "--trace", "0", cwd=bare,
        )
        assert out.returncode != 0
        assert '"correct"' not in out.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
