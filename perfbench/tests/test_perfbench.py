"""Tests of the benchmark itself: reproducible inputs, the metric contract,
and a tiny end-to-end run of every workload.

    python3 -m pytest perfbench/tests -q

The end-to-end tests start a Spark session per run (about 25 s each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import oracle  # noqa: E402
from spans import Tracer, percentile  # noqa: E402

WORKLOADS = ("batch_backfill", "stream_dedup", "stream_upsert")
TINY = gen.SIZES["tiny"]


def _contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _tree(root) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            path = os.path.join(d, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = f.read()
    return out


def test_batch_inputs_and_expected_hash_repeat_per_seed(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.write_batch_inputs(7, a, TINY)
    gen.write_batch_inputs(7, b, TINY)
    gen.write_batch_inputs(8, c, TINY)
    assert _tree(a) == _tree(b)
    assert _tree(a) != _tree(c)
    dates = [d for d, _, _ in gen.batch_dates(TINY)]
    want = oracle.batch_expected(a, dates)
    assert want[0] > 0
    assert oracle.batch_expected(b, dates) == want
    assert oracle.batch_expected(c, dates) != want


@pytest.mark.parametrize("workload", ["stream_dedup", "stream_upsert"])
def test_stream_plans_repeat_per_seed(workload):
    one = gen.StreamPlan(workload, 7, 3.0, TINY)
    assert one.digest() == gen.StreamPlan(workload, 7, 3.0, TINY).digest()
    assert one.digest() != gen.StreamPlan(workload, 8, 3.0, TINY).digest()


def test_batch_work_does_not_depend_on_seed():
    sz = gen.SIZES["full"]
    rows = sum(f * r for _, f, r in gen.batch_dates(sz))
    assert rows == sz.small_dates * sz.small_rows + sz.large_dates * sz.large_files * sz.large_file_rows
    assert max(f * r for _, f, r in gen.batch_dates(sz)) > 20 * sz.small_rows  # uneven partitions


def test_dedup_plan_resends_inside_the_watermark():
    plan = gen.StreamPlan("stream_dedup", 3, 10.0, TINY)
    first: dict[str, int] = {}
    resent = 0
    for tick, msgs in enumerate(plan.schedule):
        for key, _, offset in msgs:
            if key in first:
                resent += 1
                delay = tick * gen.TICK_S - offset
                assert gen.DUP_DELAY_S[0] - gen.TICK_S <= delay <= gen.DUP_DELAY_S[1] + gen.TICK_S
            else:
                first[key] = tick
    assert resent > 0
    assert sorted(first) == sorted(k for k in plan.expected()["live_ids"] if k.startswith("e"))


def test_upsert_plan_is_last_writer_wins_over_a_bounded_key_space():
    plan = gen.StreamPlan("stream_upsert", 3, 10.0, TINY)
    warm_keys = {k for f in plan.warm for k, _, _ in f}
    assert len(warm_keys) == TINY.key_space  # the table is full-size after warm-up
    drains = plan.drain
    later = [k for f in plan.schedule + drains for k, _, _ in f]
    assert set(later) <= warm_keys
    assert len(later) > len(set(later))  # repeated keys, so batches carry in-batch duplicates
    table = plan.expected()["table"]
    last = {}
    for f in plan.warm + plan.schedule + drains:
        for k, v, _ in f:
            last[k] = [v["seq"], v["v"]]  # files are published in this order
    assert table == last


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer(True)
    root = tr.add("task", 0.0, 10.0, task="t")
    tr.add("a", 1.0, 4.0, parent=root)
    tr.add("b", 3.0, 5.0, parent=root)  # overlaps a
    tr.add("c", 8.0, 9.0, parent=root)
    self_time = tr.self_times()
    assert self_time["task"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_time["a"] == pytest.approx(3.0)


def test_percentile_is_nearest_rank():
    values = list(range(1, 11))
    assert percentile(values, 0.9) == 9
    assert percentile(values, 0.5) == 5
    assert percentile([4.0], 0.9) == 4.0


def _checkout(tmp_path, with_program: bool = True) -> str:
    """A directory laid out like a checkout: BENCHMARK.json, the benchmark,
    and (optionally) the program it measures. It sits under a
    dot-directory, as a checkout may, to show the benchmark does not
    depend on where the checkout is."""
    root = tmp_path / ".work" / "checkout"
    root.mkdir(parents=True)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), root)
    shutil.copytree(BENCH, root / "perfbench", ignore=shutil.ignore_patterns("__pycache__", "tests"))
    if with_program:
        os.symlink(os.path.join(ROOT, "rabbit_data_pipeline_spark"), root / "rabbit_data_pipeline_spark")
    return str(root)


def _run(root: str, workload: str, trace: int, size: str = "tiny", timeout: float = 180):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5", "--seconds", "2"]
    cmd += ["--trace", str(trace), "--size", size]
    return subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=timeout)


def test_contract_shape():
    c = _contract()
    assert c["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in c["workloads"]] == ["batch_backfill", "stream_dedup"]
    setup = next(m for m in c["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert all(m["bound"] <= setup["bound"] <= 0.25 for m in c["end_to_end"])


def test_refuses_to_run_without_the_program(tmp_path):
    p = _run(_checkout(tmp_path, with_program=False), "batch_backfill", 0, timeout=60)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_is_correct_and_prints_the_contract_metrics(tmp_path, workload):
    root = _checkout(tmp_path)
    contract = _contract()
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        p = _run(root, workload, trace)
        assert p.returncode == 0, p.stderr[-3000:]
        result = json.loads(p.stdout.strip().splitlines()[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        assert result["correct"] is True and result["failed"] == 0, p.stderr[-3000:]
        assert result["attempted"] >= 1
        got = {name: m["unit"] for name, m in result["metrics"].items()}
        assert got == {m["name"]: m["unit"] for m in contract[section]}
    assert os.path.exists(os.path.join(root, "perfbench-run", "out", f"{workload}.spans.json"))
