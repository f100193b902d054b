"""One benchmark run in a fresh process.

Starts the session, makes ``WARMUP_PASSES`` discarded warm-up passes over
the workload's keys, then times passes until the run length is used up (at
least one). With tracing on, the only timed pass is the traced one: its jobs
are tagged per key and phase and its layer numbers are read back from the
event log.

Usage: ``python3 perfbench/worker.py <spec.json>``; ``run.py`` writes the
spec and reads the JSON result the worker leaves at ``spec["out"]``.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import sys
import time
import traceback
from contextlib import nullcontext

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_integration_exercise_spark.io import sf_cache_tag  # noqa: E402
from data_integration_exercise_spark.registry import queries  # noqa: E402
from data_integration_exercise_spark.session import get_session  # noqa: E402
from perfbench.digest import digest  # noqa: E402
from perfbench.workloads import ENGINE_STAGE_ROOT  # noqa: E402
from perfbench.tracing import (  # noqa: E402
    Spans,
    StreamProgress,
    catalyst_ms,
    read_event_log,
    task_sums,
)


#: Discarded passes before timing; they count in setup_s. After a single one
#: the next pass still ran 15-25% slower than the pass after it on a 4-core
#: box, and whether a run fit one or two timed passes then moved its median.
WARMUP_PASSES = 2


def pass_order(keys, seed: int, pass_index: int) -> list[str]:
    """The seeded order of one pass; the inputs themselves never change."""
    order = list(keys)
    random.Random(seed * 1000 + pass_index).shuffle(order)
    return order


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of process ``pid`` in MB (10^6 bytes)."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Run:
    def __init__(self, spec: dict):
        self.spec = spec
        self.spark = get_session("perfbench")
        self.session_ready = time.time()
        self.queries = queries()
        self.progress = None
        self.spans = None
        if spec["trace"]:
            self.progress = StreamProgress()
            self.spark.streams.addListener(self.progress)
            self.spans = Spans()

    # -- inputs ---------------------------------------------------------
    def input_for(self, label: str) -> str:
        sf_dir = self.spec["sf_dir"]
        if not self.spec["fresh_alias"]:
            return sf_dir
        parent = os.path.join(self.spec["work"], "alias", label)
        os.makedirs(parent)
        alias = os.path.join(parent, os.path.basename(sf_dir))
        os.symlink(sf_dir, alias)
        return alias

    def release(self, sf_dir: str) -> None:
        """Delete a fresh alias and everything the pass staged under it."""
        if not self.spec["fresh_alias"]:
            return
        tag = sf_cache_tag(sf_dir)
        root = os.path.join(ENGINE_STAGE_ROOT, f"p{os.getpid()}")
        doomed = [os.path.join(root, tag)]
        doomed += glob.glob(os.path.join(root, "sink", tag.replace(".", "_") + "__*"))
        for path in doomed:
            shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(os.path.dirname(sf_dir))

    # -- passes ---------------------------------------------------------
    def one_key(self, key: str, sf_dir: str, label: str, check: bool,
                parent_span: int | None) -> dict:
        sc = self.spark.sparkContext
        fn = self.queries[key]
        rec = {"key": key, "module": fn.__module__}
        traced = self.spans is not None and label == "traced"
        try:
            if self.spans is not None:
                sc.setJobGroup(f"{key}:build", label)
            w0, t0 = time.time(), time.perf_counter()
            df = fn(self.spark, sf_dir)
            w1, t1 = time.time(), time.perf_counter()
            if self.spans is not None:
                sc.setJobGroup(f"{key}:collect", label)
            rows = df.collect()
            w2, t2 = time.time(), time.perf_counter()
        except Exception as exc:  # a failing key is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            rec["error"] = repr(exc)[:500]
            return rec
        rec.update(build_s=t1 - t0, collect_s=t2 - t1, wall_s=t2 - t0,
                   rows=len(rows))
        if traced:
            rec["catalyst_ms"] = catalyst_ms(df)
            key_span = self.spans.add(key, w0, w2, parent=parent_span)
            short = fn.__module__.removeprefix("data_integration_exercise_spark.")
            self.spans.add(f"{short}.build", w0, w1, parent=key_span)
            self.spans.add("collect", w1, w2, parent=key_span)
            rec["window"] = {"build": [w0, w1], "collect": [w1, w2]}
        if check:
            rec["digest"] = digest(rows, df.columns)
        return rec

    def one_pass(self, label: str, index: int, check: bool) -> dict:
        order = pass_order(self.spec["keys"], self.spec["seed"], index)
        sf_dir = self.input_for(label)
        traced = self.spans is not None and label == "traced"
        with self.spans.span("pass", label=label) if traced else nullcontext() as parent:
            records = [self.one_key(k, sf_dir, label, check, parent) for k in order]
        self.release(sf_dir)
        return {
            "label": label,
            "pass_s": sum(r.get("wall_s", 0.0) for r in records),
            "keys": records,
        }

    def measure(self) -> dict:
        warm_start = time.perf_counter()
        for i in range(WARMUP_PASSES):
            self.one_pass(f"warmup{i + 1}", -1 - i, check=False)
        warmup_s = time.perf_counter() - warm_start
        passes = []
        if self.spec["trace"]:
            passes.append(self.one_pass("traced", 1, check=True))
        else:
            deadline = time.perf_counter() + self.spec["seconds"]
            while not passes or time.perf_counter() < deadline:
                passes.append(self.one_pass(f"pass{len(passes) + 1}",
                                            len(passes) + 1, check=True))
        sc = self.spark.sparkContext
        result = {
            "session_start_s": self.session_ready - self.spec["spawned_at"],
            "warmup_s": warmup_s,
            "passes": passes,
            "rss_mb": {"python": vm_hwm_mb(os.getpid()),
                       "jvm": vm_hwm_mb(sc._gateway.proc.pid)},
            "env": {"master": sc.master,
                    "default_parallelism": sc.defaultParallelism,
                    "spark_version": self.spark.version},
        }
        if self.spans is not None:
            self.progress.settle()
            result["trace"] = self.finish_trace(passes[-1])
        return result

    def finish_trace(self, traced: dict) -> dict:
        """Stop the session so the event log is complete, then read it."""
        self.spans.add("session", self.spec["spawned_at"], self.session_ready)
        windows = [
            {"key": r["key"], "phase": phase, "start": lo, "end": hi}
            for r in traced["keys"] if "window" in r
            for phase, (lo, hi) in r["window"].items()
        ]
        self.spark.stop()
        sums = task_sums(read_event_log(self.spec["event_log_dir"]), windows,
                         traced["label"])
        return {
            "tasks": {f"{k}:{p}": dict(v) for (k, p), v in sums.items()},
            "batches": list(self.progress.batches),
            "spans": self.spans.items,
        }


def main(spec_path: str) -> int:
    with open(spec_path) as fh:
        spec = json.load(fh)
    run = Run(spec)
    try:
        result = run.measure()
    finally:
        run.spark.stop()
    with open(spec["out"], "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
