"""Tests of the benchmark itself: seeded inputs, the traps every wave
carries, the correctness check catching a corrupted output, and real
runs reporting every metric with every wave checked.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import subprocess
import sys

import pandas as pd
import pytest

from perfbench import gen, oracle
from perfbench.workloads import BATCH, LAYERS, Run, Wave
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
E2E = ("setup_s", "wave_s_p50", "wave_s_last", "raw_rows_per_s",
       "output_mb", "peak_rss_mb")


def _day(tmp_path, seed, name="day", nodes=8, samples=24):
    root = str(tmp_path / name)
    files = gen.write_batch_day(root, seed, 3, nodes, samples)
    return root, files


def _read(root, metric):
    return pd.concat(
        pd.read_csv(os.path.join(root, n, f))
        for n in sorted(os.listdir(root))
        for f in sorted(os.listdir(os.path.join(root, n)))
        if f.startswith(metric)
    )


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a, fa = _day(tmp_path, 5, "a")
    b, _ = _day(tmp_path, 5, "b")
    c, _ = _day(tmp_path, 6, "c")
    node = gen.node_name(0)
    for m in gen.METRICS:
        f = f"{node}/{m}.csv"
        assert filecmp.cmp(f"{a}/{f}", f"{b}/{f}", shallow=False)
    assert not filecmp.cmp(f"{a}/{node}/block.csv", f"{c}/{node}/block.csv",
                           shallow=False)
    assert fa.files == 8 * 4
    assert fa.raw_rows == sum(len(_read(a, m)) for m in gen.METRICS)


def _assert_traps(block, cpu, llite, mem):
    # >= 2 devices and >= 2 cores on every node
    assert (block.groupby("node")["device"].nunique() >= 2).all()
    assert (cpu.groupby("node")["device"].nunique() >= 2).all()
    # one counter reset: the device-summed block counter falls
    roll = block.groupby(["node", "timestamp"], sort=False)[
        ["rd_sectors", "wr_sectors"]].sum().sum(axis=1)
    assert (roll.groupby(level=0).diff() < 0).any()
    # one duplicated llite sample (0 s apart)
    assert llite.duplicated(["node", "timestamp"]).any()
    # one all-zero jiffy interval
    jiffies = cpu.groupby(["node", "timestamp"], sort=False)[
        gen.JIFFY_COLS].sum()
    assert (jiffies.groupby(level=0).diff().abs().sum(axis=1) == 0).sum() >= 1
    # MemUsed < FilePages
    assert (mem["MemUsed"] < mem["FilePages"]).any()
    # jobID... / job... / bare ids
    ids = block["jobID"].astype(str)
    assert ids.str.startswith("jobID").any()
    assert (ids.str.startswith("job") & ~ids.str.startswith("jobID")).any()
    assert ids.str.isdigit().any()


def test_every_batch_day_carries_the_raw_input_traps(tmp_path):
    root, _ = _day(tmp_path, 11)
    _assert_traps(*(_read(root, m) for m in gen.METRICS))


def test_every_stream_wave_carries_the_raw_input_traps(tmp_path):
    src = gen.StreamSource(11, 3, 8, 40)
    for w in range(3):
        files = src.land(str(tmp_path / "landing"), w)
        assert files.files == 8 * 4
        wave = [
            pd.concat(
                pd.read_csv(tmp_path / "landing" / gen.node_name(n)
                            / f"{m}_{w + 1:04d}.csv")
                for n in range(8)
            )
            for m in gen.METRICS
        ]
        _assert_traps(*wave)


def test_accounting_has_every_id_variant_and_both_bad_rows(tmp_path):
    path = str(tmp_path / "acct" / "2013-03.csv")
    n = gen.write_accounting(path, [gen.batch_timeline(0, 12, 24)])
    acct = pd.read_csv(path, dtype=str, keep_default_na=False)
    assert len(acct) == n
    ids = acct["jobID"]
    assert ids.str.startswith("jobID").any() and ids.str.isdigit().any()
    assert (acct["end"] == "").sum() == 1
    assert (acct["start"] == acct["end"]).sum() == 1


@pytest.fixture(scope="module")
def expected_day(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("oracle")
    root, _ = _day(tmp, 2)
    acct = str(tmp / "acct.csv")
    gen.write_accounting(acct, [gen.batch_timeline(3, 8, 24)])
    return oracle.expected(f"{root}/*/{{metric}}.csv", acct)


def test_expectation_has_rows_and_every_event(expected_day):
    assert len(expected_day) > 0
    for c in ("value_cpuuser", "value_memused", "value_nfs", "value_block"):
        assert expected_day[c].notna().any()
    # the clipped MemUsed < FilePages sample
    assert (expected_day["value_memused_minus_diskcache"] == 0.0).any()


def test_compare_accepts_a_reordered_copy(expected_day):
    got = expected_day.sample(frac=1.0, random_state=1)
    assert oracle.compare(got, expected_day) is None


@pytest.mark.parametrize("corrupt", [
    lambda df: df.assign(value_block=df["value_block"].where(
        df.index != df["value_block"].first_valid_index(),
        df["value_block"] * (1 + 1e-6))),
    lambda df: df.assign(host=df["host"].where(df.index != 3, "NODE9_S")),
    lambda df: df.iloc[1:],
])
def test_one_altered_output_fails_the_wave(expected_day, tmp_path, corrupt):
    got = corrupt(expected_day.copy())
    run = Run("etl_batch", 0, 1, str(tmp_path), Tracer(False))
    good, bad = Wave(0, "timed"), Wave(1, "timed")
    run.waves += [good, bad]
    run.check(good, lambda: oracle.compare(expected_day, expected_day))
    run.check(bad, lambda: oracle.compare(got, expected_day))
    assert good.error is None
    assert bad.error is not None
    assert run.failed == 1


def _run(workload, seed, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def test_batch_run_checks_every_wave_and_reports_every_metric():
    record, result = _run("etl_batch", 21, 0)
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] == len(record["waves"])
    assert [w["kind"] for w in record["waves"]] == (
        ["warmup"] * BATCH.warmup + ["timed"] * 3)
    assert set(result["metrics"]) == set(E2E)
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_stream_traced_run_reports_every_layer():
    record, result = _run("etl_stream", 22, 1)
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(LAYERS)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    landed = sum(w["files"] for w in record["waves"])
    assert m["streaming.step1_stream.files_landed"] >= landed - 16
    assert m["streaming.step1_stream.state_rows"] > 0
    assert m["streaming.step2_stream.state_mb"] > 0
    for name, value in m.items():
        if name.startswith(("sources.", "operators.", "pipeline.step1.",
                            "pipeline.step2.")):
            assert value == 0, name


def test_batch_traced_run_times_every_batch_layer_and_bypasses_streaming():
    _, result = _run("etl_batch", 23, 1)
    assert result["correct"] and result["failed"] == 0
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert set(m) == set(LAYERS)
    for name, value in m.items():
        if name.startswith(("sources.", "pipeline.", "operators.")):
            assert value > 0, name
        if name.startswith("streaming."):
            assert value == 0, name
