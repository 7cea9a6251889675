"""Tests of the benchmark itself, not of the package.

    python3 -m pytest perfbench/tests -q

- Smoke: every workload, run once at tiny size, passes its output checks
  and emits every metric BENCHMARK.json names, with its unit; a traced
  run emits every per-layer metric.
- Negative: the output check is not vacuous. After a real backfill, one
  stored object is corrupted and another removed, and the check reports
  both; the local-FS check of the CDC workload likewise.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
DRIVER_WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def run_bench(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=False,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])["record"]


def units(result: dict) -> dict:
    return {k: v["unit"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", DRIVER_WORKLOADS + ["registry_sf0.1"])
def test_every_end_to_end_metric_is_emitted(workload):
    result, record = run_bench(workload, trace=0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert units(result) == {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert record["seed"] == 7 and record["errors"] == []
    assert record["host"]["spark_default_parallelism"] >= 1
    named = record["metrics"]
    assert named["error_rate"] == {"value": 0, "unit": "ratio"}
    assert named["setup_s"]["unit"] == "s" and named["peak_rss_mb"]["unit"] == "MB"
    if workload != "registry_sf0.1":
        assert named["dangling_pointers"]["value"] >= 1  # the over-cap defect


@pytest.mark.parametrize("workload", DRIVER_WORKLOADS)
def test_every_per_layer_metric_is_emitted(workload):
    result, record = run_bench(workload, trace=1)
    assert result["correct"]
    assert units(result) == {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    if workload == "backfill_s3":
        m = result["metrics"]
        assert m["blob_pipeline.validate.min_stage_tasks"]["value"] >= 1
        assert m["object_store.max_inflight"]["value"] >= 1
        assert m["object_store.put_n"]["value"] >= 1


# -- the checks catch a damaged store ------------------------------------------


def test_local_fs_check_reports_corrupted_and_removed(tmp_path):
    from perfbench import gen
    from perfbench.workloads import object_problems, read_file_store

    blobs = {gen.object_key(f"k{i}"): bytes([i]) * (100 + i) for i in range(4)}
    for key, blob in blobs.items():
        path = tmp_path / key
        path.parent.mkdir(parents=True)
        path.write_bytes(blob)
    read = read_file_store(str(tmp_path))
    assert object_problems(blobs, read) == ([], 0, 0)
    (tmp_path / gen.object_key("k1")).write_bytes(b"corrupt")
    (tmp_path / gen.object_key("k2")).unlink()
    problems, dangling, stale = object_problems(blobs, read)
    assert len(problems) == 2
    assert any(gen.object_key("k1") in p and "differ" in p for p in problems)
    assert any(gen.object_key("k2") in p and "no object" in p for p in problems)


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    from migrate_blob_data_from_rdbms_to_amazon_s3_spark import get_spark

    s = get_spark(app_name="perfbench-tests", cpus=2)
    yield s


def test_backfill_check_reports_corrupted_and_removed(spark, tmp_path):
    from perfbench import gen
    from perfbench.tracing import Tracer
    from perfbench.workloads import BackfillS3

    wl = BackfillS3(spark, Tracer(spark), str(tmp_path), seed=3, size="tiny", nproc=2)
    try:
        wl.setup()
        wl.cycle(0)  # a clean run passes every check
        by_id = {r.order_id: r for r in wl.rows}
        live = wl.survivors
        clean, dangling_before, _ = wl.store_problems(live)
        assert clean == []
        a, b = [k for k in live if 0 < len(by_id[k].blob) <= gen.CAP][:2]
        client = wl.endpoint.client()
        client.put_object(Bucket=wl.bucket, Key=gen.object_key(a), Body=b"corrupt")
        client.delete_object(Bucket=wl.bucket, Key=gen.object_key(b))
        problems, dangling, _ = wl.store_problems(live)
        assert len(problems) == 2
        assert any(gen.object_key(a) in p and "differ" in p for p in problems)
        assert any(gen.object_key(b) in p and "no object" in p for p in problems)
        assert dangling == dangling_before + 1  # b's pointer now names no object
    finally:
        wl.close()
