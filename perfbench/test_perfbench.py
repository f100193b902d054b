"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys

import pytest

from perfbench import run
from perfbench.stats import fail_ratio, geomean, summarize
from perfbench.tracing import task_sums
from perfbench.workloads import ENGINE_STAGE_ROOT, WORKLOADS

SPEC = run.load_spec()


# -- statistics --------------------------------------------------------------

def test_summarize_matches_statistics_quartiles():
    values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
    q1, median, q3 = statistics.quantiles(values, n=4)
    assert summarize(values) == {"median": median, "q1": q1, "q3": q3, "n": 6}
    assert summarize(values)["median"] == 3.5


def test_summarize_single_sample():
    assert summarize([2.5]) == {"median": 2.5, "q1": 2.5, "q3": 2.5, "n": 1}
    with pytest.raises(ValueError):
        summarize([])


def test_geomean():
    assert geomean([1.0, 4.0]) == pytest.approx(2.0)
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_failed_keys_count_among_attempts():
    passes = [{"label": "pass1", "keys": [
        {"key": "a", "digest": "x"},
        {"key": "b", "digest": "wrong"},
        {"key": "c", "error": "ValueError('boom')"},
        {"key": "d", "digest": "y"},
    ]}]
    bad = run.failures(passes, {"a": "x", "b": "z", "c": "w", "d": "y"})
    assert len(bad) == 2
    assert fail_ratio(len(bad), 4) == 0.5
    with pytest.raises(ValueError):
        fail_ratio(5, 4)


# -- names and keys ------------------------------------------------------------

def _fake_result(keys):
    return {
        "session_start_s": 5.0, "warmup_s": 9.0,
        "rss_mb": {"python": 300.0, "jvm": 2000.0},
        "passes": [{"label": "traced", "pass_s": 2.0 * len(keys), "keys": [
            {"key": k, "module": "m", "build_s": 1.0, "collect_s": 1.0,
             "wall_s": 2.0, "catalyst_ms": {"analysis": 1, "optimization": 2,
                                            "planning": 3},
             "window": {"build": [10.0, 11.0], "collect": [11.0, 12.0]}}
            for k in keys]}],
        "trace": {"tasks": {}, "batches": [], "spans": []},
    }


def test_metric_and_workload_names_match_benchmark_json():
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)
    result = _fake_result(["k1", "k2"])
    assert list(run.end_to_end(result)) == [m["name"] for m in SPEC["end_to_end"]]
    _, total = run.layers(result, 3.0, 4)
    assert set(total) == {m["name"] for m in SPEC["per_layer"]}


def test_listed_keys_exist_have_oracles_and_expected_digests():
    from data_integration_exercise_spark.registry import oracle_sql, queries

    qs, oracles = queries(), oracle_sql()
    rows_only = set(qs) - set(oracles)
    expected = run.load_expected()
    for name, w in WORKLOADS.items():
        assert set(w.keys) <= set(qs), name
        assert not set(w.keys) & rows_only, name
        assert set(expected[name]) == set(w.keys), name


def test_cores_beyond_nproc_are_refused():
    assert run.checked_cores(None) == run.nproc()
    with pytest.raises(run.Unrunnable):
        run.checked_cores(run.nproc() + 1)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(run.REPO, "BENCHMARK.json"), tmp_path)
    shutil.copytree(run.BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    name = next(iter(WORKLOADS))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", name, "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


# -- tracing -----------------------------------------------------------------

def test_task_sums_attributes_jobs_by_group_and_window():
    windows = [{"key": "k", "phase": "build", "start": 100.0, "end": 101.0},
               {"key": "k", "phase": "collect", "start": 101.0, "end": 102.0}]

    def job(job_id, stages, at, group, label):
        return {"Event": "SparkListenerJobStart", "Job ID": job_id,
                "Submission Time": int(at * 1000), "Stage IDs": stages,
                "Properties": {"spark.jobGroup.id": group,
                               "spark.job.description": label}}

    def task(stage, run_ms, out_bytes=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Output Metrics": {"Bytes Written": out_bytes,
                                                    "Records Written": 1}}}

    events = [
        job(0, [0], 50.0, "k:build", "warmup"), task(0, 999),
        job(1, [1], 100.5, "k:build", "traced"), task(1, 10), task(1, 20),
        job(2, [2], 100.7, "streaming-run-id", "batch"), task(2, 5, 64),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        job(3, [3], 101.5, "k:collect", "traced"), task(3, 7),
    ]
    sums = task_sums(events, windows, "traced")
    build = sums[("k", "build")]
    assert (build["jobs"], build["stages"], build["tasks"]) == (2, 1, 3)
    assert (build["run_ms"], build["output_bytes"]) == (35, 64)
    assert sums[("k", "collect")]["run_ms"] == 7


def test_sink_keys_that_wrote_nothing_fail():
    streams, operators = run.SINK_MODULES[1], "data_integration_exercise_spark.operators.x"
    records = [{"key": "s", "module": streams}, {"key": "w", "module": streams},
               {"key": "o", "module": operators}]
    per_key = {"s": {"sink.output_bytes": 0}, "w": {"sink.output_bytes": 10},
               "o": {"sink.output_bytes": 0}}
    assert run.unwritten(records, per_key) == ["traced s: wrote no sink bytes"]


# -- smoke: every workload at sf0.001, two seeds ----------------------------------

@pytest.fixture(scope="module")
def smoke_run(tmp_path_factory):
    import __spark_entry__
    from perfbench.worker import Run

    work = tmp_path_factory.mktemp("perfbench-smoke")
    spec = {"sf_dir": __spark_entry__.SMOKE_SF_DIR, "work": str(work), "seed": 1,
            "trace": False, "fresh_alias": False, "keys": [], "spawned_at": 0.0}
    bench = Run(spec)
    yield bench
    shutil.rmtree(os.path.join(ENGINE_STAGE_ROOT, f"p{os.getpid()}"), ignore_errors=True)


@pytest.mark.parametrize("name", list(WORKLOADS))
def test_workload_smoke_two_seeds_same_digests(smoke_run, name):
    w = WORKLOADS[name]
    smoke_run.spec.update(keys=list(w.keys), fresh_alias=w.fresh_alias)
    digests = []
    for seed in (1, 2):
        smoke_run.spec["seed"] = seed
        records = smoke_run.one_pass(f"{name}-seed{seed}", 1, check=True)["keys"]
        assert [r["key"] for r in records if "error" in r] == []
        digests.append({r["key"]: r["digest"] for r in records})
    assert digests[0] == digests[1]
    assert set(digests[0]) == set(w.keys)
