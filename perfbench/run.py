"""The repository benchmark: ETL-shaped workloads over seeded tables.

Usage (from the repository root):

    python3 perfbench/run.py --workload srm_nightly --seed 1 --seconds 45 --trace 0

Workloads are ``srm_nightly`` and ``corpus_dedup`` (workloads.py; README.md
says why each exists and what a pass is). The run generates the tables for
``--seed`` under ``perfbench/.work``, then drives the engine in fresh
processes (driver.py) on ``local[nproc]``: with ``--trace 0`` one measured
run, with ``--trace 1`` one untraced and one traced run. Every query output
is checked against its DuckDB oracle. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
exit code is non-zero when any query raised or disagreed with its oracle.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import procfs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SF = 0.01  # lineitem 60k rows: a whole run, set-up included, takes about a minute
RUN_BUDGET_S = 170  # every child together: a run must end within 180 s


def _units(kind: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _mem_limit_bytes() -> int:
    with open("/proc/meminfo") as fh:
        total = next(int(line.split()[1]) * 1024 for line in fh if line.startswith("MemTotal:"))
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as fh:
                raw = fh.read().strip()
        except OSError:
            continue
        if raw.isdigit():
            total = min(total, int(raw))
    return total


def driver_memory() -> str:
    """A quarter of the memory limit, capped at 4 GiB: the rest is headroom
    for the Python workers, off-heap buffers and the OS (the engine's own
    48g default outgrows a 15 GB host)."""
    mb = min(4096, max(1024, _mem_limit_bytes() // 4 // (1 << 20)))
    return f"{mb}m"


class RssSampler(threading.Thread):
    """Peak summed RSS of a process and all its descendants (driver JVM,
    Python driver, Python workers), sampled from /proc."""

    def __init__(self, pid: int, period: float = 0.1):
        super().__init__(daemon=True)
        self.pid, self.period, self.peak = pid, period, 0
        self._stop_evt = threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            table = procfs.processes()
            rss = sum(int(table[p][1][procfs.RSS_PAGES]) for p in procfs.descendants(table, self.pid))
            self.peak = max(self.peak, rss * procfs.PAGE_BYTES)
            self._stop_evt.wait(self.period)

    def stop(self):
        self._stop_evt.set()
        self.join()


def _session_pids(sid: int) -> list[int]:
    return [
        pid for pid, (_, f) in procfs.processes().items()
        if int(f[procfs.SESSION]) == sid and f[procfs.STATE] != "Z"
    ]


def _reap_session(sid: int, grace: bool) -> None:
    """Stop every process left in a child's session and wait until each has
    ended; with ``grace``, first give them 10 s to exit by themselves (the
    JVM shuts down after its driver). A session, not a process group: the
    PySpark worker daemon moves itself and its workers into a group of
    their own."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL)[0 if grace else 1:]:
        deadline = time.monotonic() + 10.0
        while time.monotonic() < deadline:
            pids = _session_pids(sid)
            if not pids:
                return
            for pid in pids if sig else ():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)


def run_child(args: list[str], env: dict, out: str, timeout: float, sample_rss: bool) -> tuple[dict, int]:
    """Run driver.py in a fresh session; returns (its record, peak RSS)."""
    cmd = [sys.executable, os.path.join(HERE, "driver.py"), *args,
           "--out", out, "--spawn-ts", repr(time.monotonic())]
    proc = subprocess.Popen(cmd, env=env, cwd=os.path.join(WORK, "cwd"),
                            stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    sampler = RssSampler(proc.pid) if sample_rss else None
    if sampler:
        sampler.start()
    code = None
    try:
        code = proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
    finally:
        if sampler:
            sampler.stop()
        _reap_session(proc.pid, grace=code is not None)
        proc.wait()
    if code != 0:
        raise RuntimeError(f"driver exited with {code if code is not None else 'timeout'}: {' '.join(args)}")
    with open(out) as fh:
        return json.load(fh), (sampler.peak if sampler else 0)


def _pass_times(runs: list[dict]) -> dict[int, float]:
    per: dict[int, float] = {}
    for r in runs:
        if "construct_s" in r:
            per[r["pass"]] = per.get(r["pass"], 0.0) + r["construct_s"] + r["action_s"]
    return per


def _failures(runs: list[dict]) -> list[str]:
    out = []
    for r in runs:
        why = r.get("error") or r.get("mismatch")
        if why:
            out.append(f"pass {r['pass']} {r['query']}: {why}")
    return out


def _later_pass_s(runs: list[dict]) -> float:
    later = [t for p, t in _pass_times(runs).items() if p >= 1]
    return statistics.median(later) if later else float("nan")


def e2e_metrics(rec: dict) -> tuple[dict, int]:
    q_times = [r["construct_s"] + r["action_s"] for r in rec["runs"] if r["pass"] >= 1 and "construct_s" in r]
    vals = {
        "setup_s": rec["setup_s"],
        "first_pass_s": _pass_times(rec["runs"]).get(0, float("nan")),
        "pass_s": _later_pass_s(rec["runs"]),
        "query_p50_s": statistics.median(q_times) if q_times else float("nan"),
    }
    return vals, len(q_times)


def layer_metrics(
    untraced: dict, traced: dict, peak_rss: int, attempted: int, failed: int
) -> tuple[dict, list[str]]:
    vals = dict(traced["layers"])
    vals["host.peak_rss_mb"] = peak_rss / (1 << 20)
    vals["session.get_spark_s"] = traced["get_spark_s"]
    vals["host.steal_pct"] = traced["host"]["steal_pct"]
    vals["host.load1"] = traced["host"]["load1"]
    vals["trace.overhead_s"] = _later_pass_s(traced["runs"]) - _later_pass_s(untraced["runs"])
    plain = {(r["pass"], r["query"]): r.get("jobs") for r in untraced["runs"]}
    mismatched = [
        f"pass {r['pass']} {r['query']}: traced {r.get('jobs')} jobs, untraced {plain[r['pass'], r['query']]}"
        for r in traced["runs"]
        if (r["pass"], r["query"]) in plain and r.get("jobs") != plain[r["pass"], r["query"]]
    ]
    vals["trace.job_count_mismatches"] = len(mismatched)
    vals["trace.layer_sum_violations"] = len(traced["layer_sum_violations"])
    vals["failed_frac"] = failed / max(1, attempted)
    return vals, mismatched


def main() -> int:
    from workloads import WORKLOADS  # noqa: PLC0415

    ap = argparse.ArgumentParser(description="srm_etl_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "srm_etl_spark", "session.py")):
        print(f"perfbench: the engine package srm_etl_spark is missing under {ROOT}", file=sys.stderr)
        return 2

    import datagen  # noqa: PLC0415

    t0 = time.monotonic()
    data = os.path.join(WORK, "data", f"seed{a.seed}")
    datagen.write_tables(data, a.seed, SF)
    datagen_s = time.monotonic() - t0

    cpus = str(len(os.sched_getaffinity(0)))
    mem = driver_memory()
    env = dict(os.environ)
    env.update({
        # Python workers unpickle closures over engine code
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEMORY": mem,
        "TZ": "UTC",
    })
    base = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds), "--data", data]

    deadline = time.monotonic() + RUN_BUDGET_S

    def child(tag: str, extra: list[str], sample_rss: bool = False):
        work = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{tag}")
        shutil.rmtree(work, ignore_errors=True)
        for d in ("tmp", "local", "scratch"):
            os.makedirs(os.path.join(work, d))
        os.makedirs(os.path.join(WORK, "cwd"), exist_ok=True)
        cenv = dict(env, TMPDIR=f"{work}/tmp", SPARK_LOCAL_DIRS=f"{work}/local",
                    SPARK_GRAFT_SCRATCH_DIR=f"{work}/scratch",
                    # every JVM (the launcher's too) keeps its temp files in the run
                    # directory and writes no hsperfdata under /tmp
                    JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData")
        rec, rss = run_child(base + ["--work", work] + extra, cenv, os.path.join(work, "record.json"),
                             deadline - time.monotonic(), sample_rss)
        rec["work"] = work
        return rec, rss

    print(f"# perfbench workload={a.workload} seed={a.seed} cpus={cpus} driver_memory={mem} "
          f"sf={SF} datagen_s={datagen_s:.2f}", flush=True)
    if a.trace == 0:
        rec, _ = child("run", ["--trace", "0"])
        runs = rec["runs"]
        vals, n_q = e2e_metrics(rec)
        units = _units("end_to_end")
        print(f"# query_p50_s samples={n_q}; "
              f"host.steal_pct={rec['host']['steal_pct']:.3f} host.load1={rec['host']['load1']:.2f}",
              flush=True)
    else:
        untraced, peak = child("untraced", ["--trace", "0"], sample_rss=True)
        traced, _ = child("traced", ["--trace", "1"])
        runs = untraced["runs"] + traced["runs"]
        failed_n = len(_failures(runs))
        vals, mismatched = layer_metrics(untraced, traced, peak, len(runs), failed_n)
        units = _units("per_layer")
        # a layer the workload never entered did no work
        vals = {k: vals.get(k, 0.0) for k in units}
        for v in traced["layer_sum_violations"]:
            worst = max(v["by_layer"], key=v["by_layer"].get)
            print(f"# layer-sum: {v['trace']} wall={v['wall_s']:.3f}s "
                  f"unattributed={v['unattributed_s']:.3f}s (most in {worst}: "
                  f"{v['by_layer'][worst]:.3f}s)", flush=True)
        for k in mismatched:
            print(f"# job-count mismatch: {k}", flush=True)
        print(f"# layer wrappers installed in {traced['wrapped_bindings']} module bindings", flush=True)
        for q, s in traced["spikes"].items():
            print(f"# spike {q}: wall={s['wall_s']:.3f}s dominant={s['dominant']} "
                  f"{s['dominant_s']:.3f}s jobs={s['dominant_jobs']:.1f}", flush=True)
        with open(os.path.join(WORK, f"trace-report-{a.workload}-{a.seed}.json"), "w") as fh:
            json.dump({k: traced[k] for k in ("layers", "layer_sum_violations", "spikes")}
                      | {"untraced_runs": untraced["runs"], "traced_runs": traced["runs"],
                         "spans": os.path.join(traced["work"], "spans.jsonl")}, fh, indent=1)

    failures = _failures(runs)
    for f in failures:
        print(f"# FAILED {f}", flush=True)
    # a failed run can leave a metric without samples: null, not NaN, keeps the line JSON
    metrics = {k: {"value": vals[k] if math.isfinite(vals[k]) else None, "unit": units[k]} for k in units}
    print(json.dumps({"correct": not failures, "attempted": len(runs),
                      "failed": len(failures), "metrics": metrics}), flush=True)
    return 1 if failures else 0


def _exit_on_sigterm(signum, frame):
    # unwind through run_child's finally, which stops the child's processes
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    raise SystemExit(main())
