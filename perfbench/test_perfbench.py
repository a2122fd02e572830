"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

The smoke tests run each workload end to end on tiny inputs (about a
minute each), so they need Spark, Java and DuckDB like the benchmark.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen, run  # noqa: E402
from perfbench.tracing import length, minus, p50, p90, union_ms  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
RECORD_KEYS = {"workload", "seed", "seconds", "trace", "smoke", "context", "window",
               "end_to_end", "layers", "detail", "failures"}
CONTEXT_KEYS = {"nproc", "master", "defaultParallelism", "driver_memory", "spark_version",
                "python_version", "loadavg_before", "loadavg_after", "commit", "source_sha256",
                "seed"}


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_shape():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"]
    assert 1 <= b["run_seconds"] <= 60 and isinstance(b["run_seconds"], int)
    names = [w["name"] for w in b["workloads"]]
    assert tuple(names) == run.WORKLOADS
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    metrics = b["end_to_end"] + b["per_layer"]
    all_names = names + [m["name"] for m in metrics]
    assert len(all_names) == len(set(all_names))
    for n in all_names:
        assert NAME.match(n), n
    for m in metrics:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher"), m
    e2e = {m["name"]: m for m in b["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert {k: m["unit"] for k, m in e2e.items()} == run.END_TO_END


def test_generator_is_byte_identical_per_seed(tmp_path):
    for tag in ("a", "b"):
        gen.base_tables(5, 0.001, str(tmp_path / tag))
        gen.dedup_batch(5, 1, str(tmp_path / tag), str(tmp_path / f"{tag}-batch"), 50)
    for sub in ("", "-batch"):
        a, b = tmp_path / f"a{sub}", tmp_path / f"b{sub}"
        files = sorted(os.listdir(a))
        assert files == sorted(os.listdir(b)) and len(files) == 10
        _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
        assert not mismatch and not errors
    gen.base_tables(6, 0.001, str(tmp_path / "c"))
    assert not filecmp.cmp(tmp_path / "a" / "lineitem.parquet",
                           tmp_path / "c" / "lineitem.parquet", shallow=False)
    assert gen.serve_requests(5, 300, ["q"]) == gen.serve_requests(5, 300, ["q"])
    assert gen.serve_requests(5, 300, ["q"]) != gen.serve_requests(6, 300, ["q"])


def test_batch_paths_are_written_once(tmp_path):
    gen.base_tables(5, 0.001, str(tmp_path / "base"))
    gen.dedup_batch(5, 0, str(tmp_path / "base"), str(tmp_path / "b0"), 20)
    with pytest.raises(FileExistsError):
        gen.dedup_batch(5, 0, str(tmp_path / "base"), str(tmp_path / "b0"), 20)


def test_serve_mix_has_no_repeated_statement():
    reqs = gen.serve_requests(9, 3000, ["q"])
    sql = [body for kind, _, body in reqs if kind == "query"]
    assert len(sql) == len(set(sql))
    for i in range(0, len(reqs), 10):
        kinds = [r[0] for r in reqs[i:i + 10]]
        assert (kinds.count("query"), kinds.count("run"), kinds.count("upload")) == (7, 2, 1)


def test_harness_imports_nothing_of_the_program_before_set_up():
    # setup_s starts its clock before the program's imports; anything the
    # harness loaded earlier would be left out of it.
    code = ("import sys; import perfbench.run, perfbench.workloads; "
            "print(sorted(m for m in sys.modules if m.split('.')[0] in "
            "{'hetnetdb_spark', 'pyspark', 'py4j', 'numpy', 'pandas', 'pyarrow', 'duckdb'}))")
    proc = subprocess.run([sys.executable, "-c", code], cwd=ROOT, capture_output=True,
                          text=True, timeout=60, check=True)
    assert proc.stdout.strip() == "[]"


def test_interval_helpers():
    assert union_ms([(0, 2), (1, 3), (5, 6)]) == [(0, 3), (5, 6)]
    assert length([(0, 2), (1, 3), (5, 6)]) == 4
    assert minus([(0, 10)], [(2, 4), (3, 5)]) == 7
    assert p50([3.0, 1.0, 2.0]) == 2.0 and p90([float(i) for i in range(11)]) == 9.0


def _smoke(workload: str, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run_prints_pinned_result(workload):
    record, result = _smoke(workload, 0)
    assert set(result) == RESULT_KEYS
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(run.END_TO_END)
    for m in result["metrics"].values():
        assert set(m) == {"value", "unit"} and m["value"] > 0
    assert set(record) == RECORD_KEYS and set(record["context"]) == CONTEXT_KEYS
    assert record["context"]["master"].startswith("local[")
    assert record["context"]["defaultParallelism"] >= 1


def test_smoke_traced_run_reports_every_layer_metric():
    _, result = _smoke("dedup-batches", 1)
    want = {m["name"]: m["unit"] for m in _bench()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert result["metrics"]["registry.plan_cache_miss_frac"]["value"] == 1.0
    assert result["metrics"]["exec.jobs_per_op"]["value"] > 0
