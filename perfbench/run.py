#!/usr/bin/env python3
"""Benchmark of the engine's query keys.

    python3 perfbench/run.py                      # every workload, untraced
    python3 perfbench/run.py --workload sf1-volume --seed 3 --seconds 10 --trace 0
    python3 perfbench/run.py --workload sf0.1-iterative --trace 1  # layer numbers
    python3 perfbench/run.py --write-digests      # re-record expected_digests.json

Each run starts a fresh worker process (worker.py) at ``local[<cores>]``. The
worker makes two discarded warm-up passes, then times passes over the
workload's keys, in an order drawn from ``--seed``, until ``--seconds`` are
used up. ``--trace 1`` makes such a run and then a traced one; the difference
of their pass times is the tracing overhead. README.md describes the
workloads and metrics.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end metrics
of BENCHMARK.json, or its per-layer metrics with ``--trace 1``. Exit status is
0 when every key ran and matched its expected digest, 1 otherwise, and 2 when
the benchmark cannot run in this directory or on this machine.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.metadata
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
WORK = os.path.join(REPO, ".perfbench")
EXPECTED = os.path.join(BENCH, "expected_digests.json")
SF1_REPLICAS = 10
SF1_BUILD_TIMEOUT_S = 600
#: worker processes of one invocation must end within this many seconds
RUN_LIMIT_S = 170
#: driver heap, fixed (-Xms = -Xmx), with a fixed young generation that every
#: run fills many times over; then heap growth and GC timing do not move
#: peak_rss_mb from run to run, while old-generation growth still shows
DRIVER_MEMORY = "3g"
YOUNG_GEN = "512m"
#: modules of the sink layer: their keys must write on a fresh input alias
SINK_MODULES = ("data_integration_exercise_spark.sources.connectors",
                "data_integration_exercise_spark.streaming.streams")

sys.path.insert(0, REPO)

from perfbench.stats import fail_ratio, geomean, summarize  # noqa: E402
from perfbench.workloads import ENGINE_STAGE_ROOT, WORKLOADS  # noqa: E402


class Unrunnable(Exception):
    """The benchmark cannot run here (exit status 2)."""


def load_spec() -> dict:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- environment ---------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def checked_cores(requested: int | None) -> int:
    """``requested`` (default: every core) after refusing oversubscription."""
    cores = nproc() if requested is None else requested
    if not 1 <= cores <= nproc():
        raise Unrunnable(
            f"{cores} cores requested but nproc is {nproc()}; numbers from an "
            "oversubscribed local master are not comparable"
        )
    return cores


def source_digest() -> str:
    """sha256 of the engine's Python sources, for checkouts without git."""
    h = hashlib.sha256()
    paths = [os.path.join(REPO, "__spark_entry__.py")]
    for root, _, files in os.walk(os.path.join(REPO, "data_integration_exercise_spark")):
        paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    for path in sorted(paths):
        h.update(os.path.relpath(path, REPO).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def env_stamp(cores: int, spark_env: dict) -> dict:
    return {
        "nproc": nproc(),
        "cores": cores,
        "master": spark_env["master"],
        "default_parallelism": spark_env["default_parallelism"],
        "spark": spark_env["spark_version"],
        "duckdb": importlib.metadata.version("duckdb"),
        "driver_heap": DRIVER_MEMORY,
        "git_commit": git_commit(),
        "source_digest": source_digest(),
    }


# -- inputs ----------------------------------------------------------------

def sf01_dir() -> str:
    """The sf0.1 testdata directory, next to the engine's smoke input."""
    try:
        import __spark_entry__
    except ImportError as exc:
        raise Unrunnable(f"the engine cannot be imported from {REPO}: {exc}") from exc
    src = os.path.join(os.path.dirname(__spark_entry__.SMOKE_SF_DIR), "sf0.1")
    if not os.path.isdir(src):
        raise Unrunnable(f"input directory {src} is missing")
    return src


def row_counts(sf_dir: str) -> dict[str, int]:
    import pyarrow.dataset as ds

    from data_integration_exercise_spark.schemas import TABLES

    return {t: ds.dataset(os.path.join(sf_dir, f"{t}.parquet")).count_rows()
            for t in TABLES}


def sf1_stamp(src: str) -> dict:
    """What the replica was built from; a different stamp means rebuild."""
    tool = os.path.join(REPO, "tools", "make_scaled_sf.py")
    with open(tool, "rb") as fh:
        tool_sha = hashlib.sha256(fh.read()).hexdigest()
    sources = {}
    for name in sorted(os.listdir(src)):
        st = os.stat(os.path.join(src, name))
        sources[name] = [st.st_size, st.st_mtime_ns]
    return {"replicas": SF1_REPLICAS, "sources": sources, "tool": tool_sha}


def ensure_sf1(src: str, cores: int) -> tuple[str, dict]:
    """Build the 10x replica with tools/make_scaled_sf.py unless a replica
    of the same sources and replica count exists; check its row counts."""
    dst = os.path.join(WORK, "data", "sf1")
    stamp = sf1_stamp(src)
    try:
        with open(os.path.join(dst, "stamp.json")) as fh:
            built = json.load(fh)
        if built["stamp"] == stamp:
            return dst, {"built_now": False, "build_s": built["build_s"]}
    except (OSError, ValueError, KeyError):
        pass
    shutil.rmtree(dst, ignore_errors=True)
    tmp = dst + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    scratch = fresh_dir(os.path.join(WORK, "runs", "sf1-build"))
    try:
        t0 = time.perf_counter()
        rc, _ = run_group(
            [sys.executable, os.path.join(REPO, "tools", "make_scaled_sf.py"),
             "--src", src, "--dst", tmp, "--replicas", str(SF1_REPLICAS)],
            worker_env(scratch, cores), scratch, SF1_BUILD_TIMEOUT_S)
        build_s = time.perf_counter() - t0
        if rc != 0:
            raise RuntimeError("make_scaled_sf.py failed:\n" + log_tail(scratch))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    want = {t: n * (1 if t in ("region", "nation") else SF1_REPLICAS)
            for t, n in row_counts(src).items()}
    got = row_counts(tmp)
    if got != want:
        raise RuntimeError(f"sf1 replica row counts {got}, expected {want}")
    with open(os.path.join(tmp, "stamp.json"), "w") as fh:
        json.dump({"stamp": stamp, "build_s": build_s}, fh)
    os.rename(tmp, dst)
    return dst, {"built_now": True, "build_s": build_s}


# -- worker processes -------------------------------------------------------

def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def log_tail(run_dir: str, lines: int = 40) -> str:
    try:
        with open(os.path.join(run_dir, "log.txt"), errors="replace") as fh:
            return "".join(fh.readlines()[-lines:])
    except OSError:
        return ""


def group_members(pgid: int) -> list[int]:
    """Live (non-zombie) processes of process group ``pgid``."""
    live = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            live.append(int(entry))
    return live


def stop_group(pgid: int) -> None:
    """Stop every process left in group ``pgid`` and wait until none is."""
    for sig, grace_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        deadline = time.time() + grace_s
        if group_members(pgid):
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                return
        while group_members(pgid):
            if time.time() > deadline:
                break
            time.sleep(0.1)
        else:
            return
    raise RuntimeError(f"processes of group {pgid} did not stop")


def run_group(argv: list[str], env: dict, cwd: str, timeout_s: float) -> tuple[int, int]:
    """Run ``argv`` in its own process group, logging to ``cwd``/log.txt;
    return its exit status (-1 after ``timeout_s``) and pid once every
    process of the group ended."""
    with open(os.path.join(cwd, "log.txt"), "ab") as log:
        proc = subprocess.Popen(argv, env=env, cwd=cwd, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(timeout_s, 1))
        except subprocess.TimeoutExpired:
            rc = -1
        finally:
            stop_group(proc.pid)
            proc.wait()
    return rc, proc.pid


def worker_env(run_dir: str, cores: int, event_log_dir: str | None = None) -> dict:
    """Environment that keeps Spark's scratch files inside ``run_dir``."""
    from perfbench.tracing import event_log_confs

    tmp = fresh_dir(os.path.join(run_dir, "tmp"))
    local = fresh_dir(os.path.join(run_dir, "local"))
    confs = {"spark.driver.extraJavaOptions":
             f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN}"}
    if event_log_dir is not None:
        confs.update(event_log_confs(fresh_dir(event_log_dir)))
    submit = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    return dict(os.environ, SPARK_GRAFT_CPUS=str(cores), SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
                TMPDIR=tmp, SPARK_LOCAL_DIRS=local,
                PYSPARK_SUBMIT_ARGS=f"{submit} pyspark-shell")


def run_worker(name: str, sf_dir: str, seed: int, seconds: float, cores: int,
               trace: bool, deadline: float) -> dict:
    """Run one worker process; ``deadline`` is a ``time.monotonic()`` value."""
    w = WORKLOADS[name]
    run_dir = fresh_dir(os.path.join(WORK, "runs", "traced" if trace else "timed"))
    event_log_dir = os.path.join(run_dir, "eventlog") if trace else None
    spec_path = os.path.join(run_dir, "spec.json")
    spec = {
        "keys": list(w.keys), "sf_dir": sf_dir, "fresh_alias": w.fresh_alias,
        "seed": seed, "seconds": seconds, "trace": trace, "cores": cores,
        "work": run_dir, "event_log_dir": event_log_dir,
        "out": os.path.join(run_dir, "result.json"),
    }
    env = worker_env(run_dir, cores, event_log_dir)
    try:
        spec["spawned_at"] = time.time()
        with open(spec_path, "w") as fh:
            json.dump(spec, fh)
        rc, pid = run_group([sys.executable, os.path.join(BENCH, "worker.py"), spec_path],
                            env, run_dir, deadline - time.monotonic())
        shutil.rmtree(os.path.join(ENGINE_STAGE_ROOT, f"p{pid}"), ignore_errors=True)
        if rc != 0 or not os.path.exists(spec["out"]):
            raise RuntimeError(f"worker for {name} exited with {rc}:\n{log_tail(run_dir)}")
        with open(spec["out"]) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


# -- metrics ---------------------------------------------------------------

def load_expected() -> dict:
    try:
        with open(EXPECTED) as fh:
            return json.load(fh)
    except FileNotFoundError:
        return {}


def failures(passes: list[dict], expected: dict) -> list[str]:
    """One line per key attempt that raised or whose digest mismatched."""
    out = []
    for p in passes:
        for r in p["keys"]:
            if "error" in r:
                out.append(f"{p['label']} {r['key']}: raised {r['error']}")
            elif r["digest"] != expected.get(r["key"]):
                out.append(f"{p['label']} {r['key']}: digest {r['digest'][:16]} != "
                           f"expected {str(expected.get(r['key']))[:16]}")
    return out


def end_to_end(result: dict) -> dict[str, list[float]]:
    """Samples of each end-to-end metric in one worker result."""
    passes = result["passes"]
    geo = []
    for p in passes:
        walls = [r["wall_s"] for r in p["keys"] if "wall_s" in r]
        if walls:
            geo.append(geomean(walls))
    return {
        "pass_s": [p["pass_s"] for p in passes],
        "key_geomean_s": geo,
        "setup_s": [result["session_start_s"] + result["warmup_s"]],
        "peak_rss_mb": [result["rss_mb"]["python"] + result["rss_mb"]["jvm"]],
    }


def key_layers(rec: dict, tasks: dict, batches: list[dict], cores: int) -> dict:
    """Per-layer numbers of one traced key."""
    build = tasks.get(f"{rec['key']}:build", {})
    collect = tasks.get(f"{rec['key']}:collect", {})

    def total(counter):
        return build.get(counter, 0) + collect.get(counter, 0)

    lo, hi = rec["window"]["build"][0], rec["window"]["collect"][1]
    mine = sorted((b for b in batches if lo <= b["start"] <= hi), key=lambda b: b["start"])
    state = {b["query"]: b["state_rows"] for b in mine}  # last batch per query
    run_s = total("run_ms") / 1000
    return {
        "operators.build_s": rec["build_s"],
        "operators.build_jobs": build.get("jobs", 0),
        "catalyst.analysis_ms": rec["catalyst_ms"]["analysis"],
        "catalyst.optimization_ms": rec["catalyst_ms"]["optimization"],
        "catalyst.planning_ms": rec["catalyst_ms"]["planning"],
        "scheduler.jobs": total("jobs"),
        "scheduler.stages": total("stages"),
        "scheduler.tasks": total("tasks"),
        "scheduler.busy_share": run_s / (rec["wall_s"] * cores),
        "executor.run_s": run_s,
        "executor.cpu_s": total("cpu_ns") / 1e9,
        "executor.gc_s": total("gc_ms") / 1000,
        "io.input_bytes": total("input_bytes"),
        "io.input_records": total("input_records"),
        "shuffle.write_bytes": total("shuffle_write_bytes"),
        "shuffle.read_bytes": total("shuffle_remote_bytes") + total("shuffle_local_bytes"),
        "shuffle.spill_bytes": total("spill_bytes"),
        "sink.output_bytes": total("output_bytes"),
        "sink.output_records": total("output_records"),
        "streams.batches": len(mine),
        "streams.batch_ms": sum(b["batch_ms"] for b in mine),
        "streams.state_rows": sum(state.values()),
    }


def unwritten(records: list[dict], per_key: dict) -> list[str]:
    """Failures for sink-layer keys of a traced pass that wrote no bytes."""
    return [f"traced {r['key']}: wrote no sink bytes" for r in records
            if r["module"] in SINK_MODULES and r["key"] in per_key
            and per_key[r["key"]]["sink.output_bytes"] == 0]


def layers(traced: dict, untimed_pass_s: float, cores: int) -> tuple[dict, dict]:
    """Per-layer numbers per key and summed over the traced pass."""
    (traced_pass,) = traced["passes"]
    trace = traced["trace"]
    per_key = {r["key"]: key_layers(r, trace["tasks"], trace["batches"], cores)
               for r in traced_pass["keys"] if "window" in r}
    names = next(iter(per_key.values())).keys() if per_key else []
    total = {n: sum(k[n] for k in per_key.values()) for n in names}
    total["scheduler.busy_share"] = total.get("executor.run_s", 0) / (
        traced_pass["pass_s"] * cores)
    total["session.start_s"] = traced["session_start_s"]
    total["trace.overhead_s"] = traced_pass["pass_s"] - untimed_pass_s
    return per_key, total


# -- one workload ----------------------------------------------------------

def fmt(v: float) -> str:
    return f"{v:.6g}"


def run_workload(name: str, args, cores: int, spec: dict) -> dict:
    """Run one workload; print its report and return the contract's record."""
    w = WORKLOADS[name]
    src = sf01_dir()
    sf_dir, sf1 = ensure_sf1(src, cores)
    if w.scale != "sf1":
        sf_dir = src
    expected = load_expected().get(name, {})
    deadline = time.monotonic() + RUN_LIMIT_S
    timed = run_worker(name, sf_dir, args.seed, args.seconds, cores, False, deadline)
    runs = [timed]
    if args.trace:
        runs.append(run_worker(name, sf_dir, args.seed, args.seconds, cores, True, deadline))
    bad = [line for r in runs for line in failures(r["passes"], expected)]
    attempted = sum(len(p["keys"]) for r in runs for p in r["passes"])
    samples = end_to_end(timed)
    if args.trace:
        traced = runs[-1]
        per_key, total = layers(traced, summarize(samples["pass_s"])["median"], cores)
        if w.fresh_alias:
            bad += unwritten(traced["passes"][0]["keys"], per_key)

    stamp = env_stamp(cores, timed["env"])
    print(f"perfbench {name} seed={args.seed} seconds={args.seconds} trace={int(args.trace)}")
    print("env " + " ".join(f"{k}={v}" for k, v in stamp.items()))
    print(f"sf1 replica: {'built' if sf1['built_now'] else 'reused'}, "
          f"build {fmt(sf1['build_s'])} s (not part of setup_s)")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print(f"{'metric':<16}{'unit':<6}{'median':>12}{'q1':>12}{'q3':>12}{'n':>4}")
    for metric, values in samples.items():
        s = summarize(values or [0.0])
        print(f"{metric:<16}{units[metric]:<6}{fmt(s['median']):>12}"
              f"{fmt(s['q1']):>12}{fmt(s['q3']):>12}{len(values):>4}")
    print(f"fail_ratio      1     {fmt(fail_ratio(len(bad), attempted))} "
          f"({len(bad)} of {attempted} key runs)")
    for line in bad:
        print(f"FAILED {line}")
    key_s = {}
    for p in timed["passes"]:
        for r in p["keys"]:
            key_s.setdefault(r["key"], []).append(r.get("wall_s", 0.0))
    print("key median s: " + ", ".join(
        f"{k} {fmt(summarize(v)['median'])}" for k, v in key_s.items()))

    record = {"workload": name, "seed": args.seed, "env": stamp, "sf1": sf1,
              "session_start_s": timed["session_start_s"], "warmup_s": timed["warmup_s"],
              "samples": samples, "failures": bad, "passes": timed["passes"]}
    if args.trace:
        print(f"traced pass: {fmt(traced['passes'][0]['pass_s'])} s, "
              f"tracing overhead {fmt(total['trace.overhead_s'])} s")
        for metric in spec["per_layer"]:
            print(f"  {metric['name']:<26}{metric['unit']:<7}{fmt(total[metric['name']])}")
        record["layers"] = {"per_key": per_key, "total": total,
                            "spans": traced["trace"]["spans"]}
        metrics = {m["name"]: {"value": total[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": summarize(samples[m["name"]] or [0.0])["median"],
                               "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{name}-seed{args.seed}-trace{int(args.trace)}.json"),
              "w") as fh:
        json.dump(record, fh, indent=1)
    return {"correct": not bad, "attempted": attempted, "failed": len(bad),
            "metrics": metrics}


# -- expected digests --------------------------------------------------------

def oracle_mismatches(sf_dir: str, digests: dict[str, str]) -> list[str]:
    """Keys whose digest differs from their DuckDB oracle's on ``sf_dir``."""
    import duckdb

    from data_integration_exercise_spark.registry import oracle_sql
    from data_integration_exercise_spark.schemas import TABLES
    from perfbench.digest import digest_frame

    oracles = oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    bad = []
    for key, got in sorted(digests.items()):
        want = digest_frame(con.execute(oracles[key]).df())
        print(f"oracle {key}: {'match' if want == got else 'MISMATCH'}")
        if want != got:
            bad.append(key)
    return bad


def write_digests(names: list[str], cores: int) -> int:
    expected = {k: v for k, v in load_expected().items() if k in WORKLOADS}
    src = sf01_dir()
    sf1_dir, _ = ensure_sf1(src, cores)
    for name in names:
        w = WORKLOADS[name]
        result = run_worker(name, sf1_dir if w.scale == "sf1" else src, seed=1,
                            seconds=0, cores=cores, trace=False,
                            deadline=time.monotonic() + RUN_LIMIT_S)
        records = result["passes"][0]["keys"]
        errors = [f"{r['key']}: {r['error']}" for r in records if "error" in r]
        if errors:
            print(f"{name}: keys raised, digests not written:\n" + "\n".join(errors))
            return 1
        digests = {r["key"]: r["digest"] for r in records}
        if w.scale == "sf0.1" and oracle_mismatches(src, digests):
            print(f"{name}: oracle mismatch, digests not written")
            return 1
        expected[name] = dict(sorted(digests.items()))
        print(f"{name}: {len(digests)} digests recorded")
    with open(EXPECTED, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


def main(argv: list[str] | None = None) -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all", choices=["all", *WORKLOADS])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="local master cores (default and maximum: nproc)")
    ap.add_argument("--write-digests", action="store_true",
                    help="record expected_digests.json after checking the "
                    "sf0.1 keys against their DuckDB oracles")
    args = ap.parse_args(argv)
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    try:
        cores = checked_cores(args.cores)
        if args.write_digests:
            return write_digests(names, cores)
        records = {name: run_workload(name, args, cores, spec) for name in names}
    except Unrunnable as exc:
        print(f"perfbench: cannot run: {exc}", file=sys.stderr)
        return 2
    if len(records) == 1:
        (line,) = records.values()
    else:
        line = {
            "correct": all(r["correct"] for r in records.values()),
            "attempted": sum(r["attempted"] for r in records.values()),
            "failed": sum(r["failed"] for r in records.values()),
            "metrics": {name: r["metrics"] for name, r in records.items()},
        }
    print(json.dumps(line))
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
