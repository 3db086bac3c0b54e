"""The benchmark's own tests: python -m pytest perfbench -q

The fast ones check the metric spec, the generator and the parsers; the
smoke ones run every workload at the tiny size through Spark (about
five minutes on four cores).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import gen, report, trace, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_what_the_run_prints():
    b = _bench_json()
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]] == [
        tuple(m) for m in report.END_TO_END
    ]
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == [(n, u) for n, u, _ in report.PER_LAYER]
    assert {w["name"] for w in b["workloads"]} <= set(workloads.WORKLOADS)


def test_generator_total_is_fixed_and_content_follows_the_seed(tmp_path):
    for n, long_turns in [(20_000, 2_000), (123_457, 30_000)]:
        assert int(gen.conv_lengths(n, long_turns).sum()) == n
    paths = {}
    for name, seed in [("a", 1), ("b", 1), ("c", 2)]:
        paths[name] = str(tmp_path / name)
        gen.write_transcripts(paths[name], 20_000, seed, 2_000, "x_")
    a, b, c = (pq.read_table(paths[k]) for k in "abc")
    assert a.num_rows == b.num_rows == c.num_rows == 20_000
    assert a.equals(b)
    assert not a.equals(c)
    texts = a.column("text").to_pylist()
    assert max(len(t) for t in texts if t) > 64 * 1024
    assert any(t is None for t in texts) and any(t == "" for t in texts)
    assert any("🎉" in t for t in texts if t)
    lengths = a.group_by("conv_id").aggregate([("conv_id", "count")]).column("conv_id_count")
    assert max(lengths.to_pylist()) == 2_000


def test_parse_sql_metric():
    head = "total (min, med, max (stageId: taskId))\n"
    assert trace.parse_sql_metric(head + "12.4 s (3.0 s, 3.2 s, 3.2 s (stage 7.0: task 8))") == 12.4
    assert trace.parse_sql_metric(head + "528 ms (1 ms, 2 ms, 3 ms (stage 1.0: task 2))") == 0.528
    assert trace.parse_sql_metric(head + "2.0 KiB (1.0 KiB, ...)") == 2048
    assert trace.parse_sql_metric("1,000,000") == 1_000_000


def test_bytes_per_turn_is_compared_only_within_one_code_version(tmp_path):
    from perfbench import run

    runs = str(tmp_path)
    assert run._check_bytes_per_turn(runs, "scan-s1-aaaa", 20.5) is None
    assert run._check_bytes_per_turn(runs, "scan-s1-aaaa", 20.5) is None
    assert "differs" in run._check_bytes_per_turn(runs, "scan-s1-aaaa", 19.0)
    assert run._check_bytes_per_turn(runs, "scan-s1-bbbb", 19.0) is None
    # the key's code part follows every engine source, nested packages too
    shutil.copytree(os.path.join(ROOT, "parquet_converter_spark"), tmp_path / "parquet_converter_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    before = run.code_hash(str(tmp_path))
    with open(tmp_path / "parquet_converter_spark" / "codecs" / "__init__.py", "a") as f:
        f.write("\n# changed\n")
    assert run.code_hash(str(tmp_path)) != before


def test_tail_needs_ten_samples_beyond():
    assert report.tail([1.0] * 10)["value"] is None
    t = report.tail([float(i) for i in range(20)])
    assert (t["rank"], t["value"]) == (10, 9.0)


def test_union_of_stage_intervals():
    assert trace.union_length([(0, 10), (5, 15), (20, 30)]) == 25


def _run(*args, cwd=ROOT):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=600
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None), p.stderr


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    rc, result, _ = _run("--workload", "scan", "--seed", "1", "--seconds", "1", "--trace", "0",
                         cwd=str(tmp_path))
    assert rc != 0 and result is None


@pytest.mark.parametrize("trace_flag", [0, 1])
@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_smoke_every_metric_prints_with_its_unit(name, trace_flag):
    rc, result, err = _run("--workload", name, "--seed", "3", "--seconds", "1",
                           "--trace", str(trace_flag), "--size", "tiny")
    assert rc == 0, err[-3000:]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    spec = report.layer_spec(name) if trace_flag else report.END_TO_END
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {s[0]: s[1] for s in spec}
    assert all(isinstance(m["value"], (int, float)) for m in result["metrics"].values())


def test_one_tampered_block_fails_the_run():
    rc, result, err = _run("--workload", "scan", "--seed", "3", "--seconds", "1", "--trace", "0",
                           "--size", "tiny", "--tamper")
    assert rc != 0
    assert result is not None and result["correct"] is False and result["failed"] >= 1, err[-3000:]


def test_codec_microbench_covers_every_column(tmp_path):
    gen.write_transcripts(str(tmp_path / "src"), 5_000, 1, 500, "x_")
    out = workloads.codec_microbench([str(tmp_path / "src")], chunk_rows=2_000, chunks=1, reps=1)
    assert set(out) == set(report.COLUMNS)
    assert all(np.isfinite(v) and v > 0 for col in out.values() for v in col.values())
