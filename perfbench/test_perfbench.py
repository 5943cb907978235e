"""The benchmark's own tests: ``python3 -m pytest perfbench -q``.

The run tests start Spark (about a minute each)."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import datagen  # noqa: E402
from run import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(workload: str, trace: int, cwd: str = ROOT):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=300)
    return out


def result(out) -> dict:
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_spec_names_the_workloads():
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(WORKLOADS)


def test_inputs_follow_the_seed(tmp_path):
    def landing(name: str, seed: int) -> dict:
        root = tmp_path / name
        datagen.write_landing(str(root), seed, 50)
        return {f: (root / f).read_bytes() for f in os.listdir(root)}

    first = landing("a", 1)
    assert landing("b", 1) == first
    assert landing("c", 2) != first


def test_wrappers_rebind_names_bound_at_import():
    from layers import Tracer

    from batch_processing_iac_aws_spark import catalog
    from batch_processing_iac_aws_spark.operators import index_store
    from batch_processing_iac_aws_spark.plans import relational

    original = catalog.load_table
    Tracer().install()
    assert catalog.load_table is not original
    assert relational.load_table is catalog.load_table
    assert index_store.read_table is index_store.read_index


def test_runs_without_the_engine_fail(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = bench("etl_expand", 0, cwd=str(tmp_path))
    assert out.returncode != 0
    assert not out.stdout.strip()


def test_untraced_run_reports_every_end_to_end_metric():
    rec = result(bench("etl_expand", 0))
    assert rec["correct"] and rec["failed"] == 0
    assert sorted(rec["metrics"]) == sorted(
        m["name"] for m in SPEC["end_to_end"])
    assert rec["metrics"]["ok_frac"]["value"] == 1.0


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_reaches_every_mapped_layer(workload):
    out = bench(workload, 1)
    rec = result(out)
    # a traced run is incorrect when a wrapper in run.EXPECTED_CALLS saw
    # no call on its workload
    assert rec["correct"], out.stdout[-3000:]
    metrics = {k: v["value"] for k, v in rec["metrics"].items()}
    assert sorted(metrics) == sorted(m["name"] for m in SPEC["per_layer"])
    is_etl = workload == "etl_expand"
    assert (metrics["python.exec_nodes"] > 0) is not is_etl
    assert (metrics["stream.batches"] > 0) is not is_etl
    assert (metrics["io.write_parquet_s"] > 0) is is_etl
