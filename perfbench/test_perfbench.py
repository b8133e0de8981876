"""The benchmark's own tests, at tiny size.

    python3 -m pytest perfbench -q

The end-to-end cases start one Spark run per workload and mode (about
half a minute each); the oracle and output-format cases need no Spark.
"""

from __future__ import annotations

import itertools
import json
import os
import shutil
import subprocess
import sys
from datetime import timedelta

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.oracle import FINGERPRINT, Oracle, normalize_rows  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _tiny_log(seed: int = 3) -> datagen.Log:
    shape = datagen.Shape(
        n_keys=300, segments=(2, 2), wave_keys=60, state_files=1,
        wave_files=1, hot_keys=20,
    )
    return datagen.new_log(shape, seed)


def _reference_state(log: datagen.Log, t) -> dict:
    """Latest row per key at or before ``t``, by a plain Python scan."""
    out: dict = {}
    for w in log.waves:
        if t is not None and w.ts > t:
            break
        for row in w.table.to_pylist():
            out[row["key"]] = row
    return out


@pytest.fixture
def oracle():
    o = Oracle()
    yield o
    o.close()


def test_log_is_seeded():
    a, b = _tiny_log(5), _tiny_log(5)
    assert [w.table.equals(x.table) for w, x in zip(a.waves, b.waves)] == [True] * len(a.waves)
    assert not _tiny_log(6).waves[1].table.equals(a.waves[1].table)


def test_oracle_lookup_matches_reference_and_rejects_corruption(oracle):
    log = _tiny_log()
    oracle.load(log.table())
    t = log.waves[2].ts + timedelta(minutes=5)
    keys = sorted({datagen.key_name(k) for k in log.waves[2].keys[:3]} | {"k0000001"})
    ref = _reference_state(log, t)
    want = oracle.lookup(keys, t)
    assert want == normalize_rows(
        tuple(ref[k][c] for c in ("key", "event_time", "v", "cat", "qty"))
        for k in keys
    )
    # a stale version, a wrong value and a missing row are all rejected
    older = _reference_state(log, log.waves[0].ts)
    stale = [tuple(older[k].values()) for k in keys]
    assert normalize_rows(stale) != want
    wrong = [list(r) for r in want]
    wrong[0][2] += 1
    assert normalize_rows(wrong) != want
    assert normalize_rows(want[1:]) != want


def test_fingerprint_rejects_a_corrupted_scan(oracle):
    log = _tiny_log()
    oracle.load(log.table())
    good = oracle.fingerprint(None)
    state = oracle.state(None)
    assert good[0] == len(_reference_state(log, None)) == state.num_rows
    v = state.column("v").to_pylist()
    v[7] += 1
    corrupt = state.set_column(state.schema.get_field_index("v"), "v", [v])
    other = Oracle()
    try:
        other.load(corrupt)
        assert other.fingerprint(None) != good
    finally:
        other.close()
    assert len(FINGERPRINT) == len(good)


def test_segment_waves_cover_every_wave_once():
    shape = datagen.Shape(n_keys=10, segments=(1, 2, 3), wave_keys=2,
                          state_files=1, wave_files=1)
    spans = datagen.segment_waves(shape)
    covered = [i for a, b in spans for i in range(a, b + 1)]
    assert covered == list(range(1 + sum(shape.segments)))


def test_timed_loop_ends_when_an_operation_raises(tmp_path, monkeypatch):
    """A raising operation adds no time; the loop must end all the same,
    and the result line must say the run is not correct."""
    from perfbench import report, tracing, workloads

    monkeypatch.setattr(tracing, "persistent_rdds", lambda spark: 0)
    monkeypatch.setattr(workloads, "peak_rss_mb", lambda spark: 1.0)
    bench = workloads.Bench(
        None, "scan_asof", 1, "tiny", str(tmp_path), tracing.Tracer()
    )

    def boom():
        raise RuntimeError("scan failed")

    op = workloads.Op("scan", boom, lambda result: True)
    bench._rounds = itertools.repeat(lambda: [op])
    try:
        samples = bench.measure(1.0)
        result = report.summarize(bench, samples, 1.0, [1.0], traced=False)
    finally:
        bench.oracle.close()
    assert samples == [0.0]
    assert [(r.kind, r.ok) for r in bench.records] == [("scan", False)]
    assert (result["correct"], result["attempted"], result["failed"]) == (False, 1, 1)


def test_without_the_library_it_exits_nonzero_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [*SPEC["command"], "--workload", SPEC["workloads"][0]["name"],
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


@pytest.fixture(scope="module")
def tiny_run(tmp_path_factory):
    """``tiny_run(workload, trace, attempt=0)``: one tiny run with seed 2,
    made once per module; returns the process and its ``--out`` dir."""
    done: dict = {}

    def run(workload: str, trace: int, attempt: int = 0):
        key = (workload, trace, attempt)
        if key not in done:
            out = tmp_path_factory.mktemp(f"{workload}-{trace}-{attempt}")
            done[key] = subprocess.run(
                [*SPEC["command"], "--workload", workload, "--seed", "2",
                 "--seconds", "1", "--trace", str(trace), "--scale", "tiny",
                 "--out", str(out)],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            ), out
        return done[key]

    return run


def _result(p) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_metric_is_printed_with_its_unit(workload, trace, tiny_run):
    p, out = tiny_run(workload, trace)
    result = _result(p)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float))
        if not trace:
            assert got["value"] > 0, m["name"]
    assert result["metrics"].get("exec.persistent_rdds_left", {"value": 0})["value"] == 0
    # the work dir is gone; traced runs leave their spans behind
    assert not os.listdir(out / "work")
    assert os.path.exists(out / "traces") == bool(trace)


def test_object_store_counts_repeat_for_a_seed(tiny_run):
    """Two traced runs with one seed read the same GETs, bytes, files and
    tasks over ``s3://``."""
    counts = (
        "s3server.gets", "s3server.meta_gets", "s3server.get_bytes",
        "datasource.tasks", "metadata.files_total", "metadata.files_kept",
    )
    a, b = (
        _result(tiny_run("scan_asof", 1, attempt)[0])["metrics"] for attempt in (0, 1)
    )
    assert a["s3server.gets"]["value"] > 0
    assert {k: a[k]["value"] for k in counts} == {k: b[k]["value"] for k in counts}
