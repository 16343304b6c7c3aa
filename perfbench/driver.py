"""One benchmark process: set up the engine, run a workload's passes, check
every output against its DuckDB oracle, and write one JSON record.

``run.py`` spawns this in a fresh process so that set-up is measured from
process start. With ``--trace 1`` it records spans around the calls into each layer and reports
per-layer metrics (see tracing.py).

A pass runs every query of the workload once, in an order permuted by the
seed. Before every query run, ``session_cache.release_all`` drops every
pin, so every pass pays the pin builds a nightly run pays. A query run is
``QueryDef.spark(spark, data_dir)`` (construction) followed by the
workload's final action; pass time is the sum of both over the pass.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import time
from collections import defaultdict
from contextlib import nullcontext

import pyarrow.parquet as pq

from oracle import Oracle
from workloads import WORKLOADS

SPIKE_QUERIES = ("q137_meser_streaming_staging", "q141_manual_fix_status")
LAYER_SUM_TOLERANCE = 0.05


def pass_order(queries, seed: int, p: int) -> list[str]:
    order = list(queries)
    random.Random(f"{seed}/{p}").shuffle(order)
    return order


def _session_conf(work: str, trace: bool) -> dict:
    conf = {"spark.sql.warehouse.dir": f"{work}/warehouse"}
    if trace:
        log_dir = f"{work}/eventlog"
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })
    return conf


def _read_output(df, action_path: str | None) -> tuple[list[str], list[tuple]]:
    if action_path is not None:
        t = pq.read_table(action_path)
        return t.column_names, [tuple(r.values()) for r in t.to_pylist()]
    return df.columns, [tuple(r) for r in df.collect()]


def _wait_listeners(spark) -> None:
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 — internal API; a short sleep drains it too
        time.sleep(1.0)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--spawn-ts", type=float, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    # ---- set-up: process start -> registry import -> get_spark -> warm read
    from srm_etl_spark import session
    from srm_etl_spark.hostload import loadavg1, steal_total
    from srm_etl_spark.plans import REGISTRY

    t0 = time.monotonic()
    spark = session.get_spark("perfbench", extra_conf=_session_conf(a.work, bool(a.trace)))
    get_spark_s = time.monotonic() - t0
    spark.read.parquet(f"{a.data}/lineitem.parquet").count()
    setup_s = time.monotonic() - a.spawn_ts
    record = {"setup_s": setup_s, "get_spark_s": get_spark_s}

    from srm_etl_spark.operators import session_cache
    from srm_etl_spark.sinks import files

    tracer = streams = None
    if a.trace:
        import tracing  # noqa: PLC0415

        tracer = tracing.Tracer(spark)
        record["wrapped_bindings"] = tracing.install_layer_wrappers(tracer)
        streams = tracing.StreamingCounts(spark, tracer)

    def span(layer, name, trace=None):
        return tracer.span(layer, name, trace) if tracer else nullcontext()

    def next_job_id() -> int:
        # every job the session submits, from any thread or job group; the
        # read itself launches none (and is not counted as a traced call)
        with tracer.internal() if tracer else nullcontext():
            return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    wl = WORKLOADS[a.workload]
    oracle = Oracle(a.data)
    runs: list[dict] = []
    pinned: dict[str, int] = {}
    load1 = loadavg1()
    steal0, total0 = steal_total()
    measured = 0.0  # timed query runs only: the oracle checks are not measured
    for p in range(1 + wl.later_passes):
        if p >= 2 and measured + last_pass > a.seconds:
            break  # --seconds caps the measured time on a slow host
        for name in pass_order(wl.queries, a.seed, p):
            trace_id = f"{a.workload}/{p}/{name}"
            run = {"pass": p, "query": name}
            runs.append(run)
            qd = REGISTRY[name]
            out_path = None
            job0 = next_job_id()
            try:
                with span("query", name, trace_id):
                    session_cache.release_all(spark)
                    with span("plans", "construct"):
                        c0 = time.perf_counter()
                        df = qd.spark(spark, a.data)
                        c1 = time.perf_counter()
                    with span("execute", wl.action) as ex:
                        if tracer:
                            cpu0 = tracing.python_worker_cpu_s()
                        c2 = time.perf_counter()
                        if wl.action == "parquet":
                            out_path = os.path.join(session.scratch_dir("perfbench"), name)
                            files.write_parquet_stage(df, out_path)
                        else:
                            df.write.format("noop").mode("overwrite").save()
                        c3 = time.perf_counter()
                        if tracer:
                            ex.attrs["python_udf_s"] = tracing.python_worker_cpu_s() - cpu0
                run["construct_s"] = c1 - c0
                run["action_s"] = c3 - c2
                run["jobs"] = next_job_id() - job0
                if tracer:
                    pinned[trace_id] = tracer.storage_bytes()
                if p == 1:
                    cols, rows = _read_output(df, out_path)
                    run["mismatch"] = oracle.mismatch(name, qd.oracle, cols, rows)
            except Exception as ex:  # noqa: BLE001 — a failed query is counted, not fatal
                run["error"] = f"{type(ex).__name__}: {str(ex).splitlines()[0][:300] if str(ex) else ''}"
        last_pass = sum(r["construct_s"] + r["action_s"] for r in runs if r["pass"] == p and "construct_s" in r)
        measured += last_pass
    steal1, total1 = steal_total()
    record["host"] = {
        "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        "load1": load1,
    }
    record["runs"] = runs
    oracle.close()
    if tracer:
        # streaming progress reaches the Python listener through the bus
        _wait_listeners(spark)
    spark.stop()
    if tracer:
        groups = tracing.parse_event_log(f"{a.work}/eventlog")
        tracer.dump(os.path.join(a.work, "spans.jsonl"))
        record.update(layer_report(tracer.spans, groups, streams.events, pinned))
    with open(a.out, "w") as fh:
        json.dump(record, fh)
    return 0


def layer_report(spans, groups, stream_events, pinned) -> dict:
    """Per-layer metrics averaged per later pass, the layer-sum check and the
    spike attribution, from the finished spans and the event-log groups."""
    done = [s for s in spans if s.t1 is not None]
    kids: dict[int, list] = defaultdict(list)
    for s in done:
        if s.parent is not None:
            kids[s.parent].append(s)

    def dur(s):
        return s.t1 - s.t0

    def self_s(s):
        return dur(s) - sum(dur(c) for c in kids[s.sid])

    # every group's aggregates belong to one span: its own, or for a group
    # the engine set itself, the innermost span open at its first job
    agg: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    span_of_group = {s.group: s for s in done}
    for g, a in groups.items():
        owner = span_of_group.get(g)
        if owner is None:
            t = a.get("first_submit", 0.0)
            open_at = [s for s in done if s.wall0 <= t <= s.wall1]
            if not open_at:
                continue
            owner = max(open_at, key=lambda s: s.wall0)
        for k, v in a.items():
            if k != "first_submit":
                agg[owner.sid][k] += v

    def jobs(s):
        return agg[s.sid]["jobs"]

    def subtree(s):
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(kids[x.sid])
        return out

    def pass_of(s):
        return int(s.trace.split("/")[1])

    roots = [s for s in done if s.layer == "query"]
    later = [r for r in roots if pass_of(r) >= 1]
    n_later = max(1, len({pass_of(r) for r in later}))
    in_later = {id(s) for r in later for s in subtree(r)}
    sel = [s for s in done if id(s) in in_later]

    m: dict[str, float] = defaultdict(float)

    def add(key, v):
        m[key] += v / n_later

    ev_keys = ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
    for s in sel:
        if s.layer == "plans":
            tree = subtree(s)
            add("plans.construct_s", dur(s))
            add("plans.self_s", self_s(s))
            add("plans.construct_jobs", sum(jobs(x) for x in tree))
            add("plans.py4j_calls", sum(x.py4j_calls for x in tree))
            add("plans.py4j_s", sum(x.py4j_s for x in tree))
        elif s.layer == "sources":
            add("sources.load_table_calls", 1)
            add("sources.load_table_s", self_s(s))
            add("sources.load_table_jobs", jobs(s))
        elif s.layer == "pipelines":
            add("pipelines.run_calls", 1)
            add("pipelines.run_s", self_s(s))
        elif s.layer == "session_cache":
            if s.name == "release_all":
                add("session_cache.release_s", self_s(s))
            else:
                add("session_cache.pin_calls", 1)
                add("session_cache.pins_built", int(s.attrs.get("pin_built", False)))
                add("session_cache.pin_s", self_s(s))
                add("session_cache.pin_jobs", jobs(s))
        elif s.layer == "streaming":
            add("streaming.replay_s", self_s(s))
        elif s.layer == "execute":
            tree = subtree(s)
            add("execute.s", dur(s))
            add("execute.self_s", self_s(s))
            add("execute.jobs", sum(jobs(x) for x in tree))
            for k in ev_keys:
                add(f"execute.{k}", sum(agg[x.sid][k] for x in tree))
            add("execute.python_udf_s", s.attrs.get("python_udf_s", 0.0))
        elif s.layer == "sinks":
            add("sinks.write_s", self_s(s))
            add("sinks.bytes_written", s.attrs.get("bytes_written", 0))
            add("sinks.files_written", s.attrs.get("files_written", 0))
    for ev in stream_events:
        if any(r.wall0 <= ev["start"] <= r.wall1 for r in later):
            add("streaming.batches", 1)
            add("streaming.input_rows", ev["input_rows"])
            add("streaming.trigger_s", ev["trigger_s"])
    m["session_cache.pinned_bytes"] = max(
        (pinned.get(r.trace, 0) for r in later), default=0
    )

    # every query run: the span tree splits its wall time into layer self
    # times exactly, so the check asks whether an instrument explains each
    # layer's self time on the main thread: as JVM round trips, or as Python
    # CPU outside them. What neither explains (lock and GIL waits, sleeps,
    # blocking I/O, untracked threads) is unexplained; per query it must stay
    # within the tolerance of the wall time.
    def unexplained(s):
        main_kids = [c for c in kids[s.sid] if c.on_main]
        self_wall = dur(s) - sum(dur(c) for c in main_kids)
        self_cpu = (s.cpu1 - s.cpu0) - sum(c.cpu1 - c.cpu0 for c in main_kids)
        return self_wall - s.calls_s - (self_cpu - s.calls_cpu_s)

    violations = []
    for r in roots:
        by_layer: dict[str, float] = defaultdict(float)
        for x in subtree(r):
            if x.on_main:
                by_layer[x.layer] += unexplained(x)
        total = sum(by_layer.values())
        if pass_of(r) >= 1:
            m["trace.unexplained_s"] += total / n_later
        if total > LAYER_SUM_TOLERANCE * dur(r):
            violations.append({"trace": r.trace, "wall_s": dur(r), "unattributed_s": total,
                               "by_layer": dict(by_layer)})

    spikes = {}
    for q in SPIKE_QUERIES:
        qr = [r for r in later if r.name == q]
        if not qr:
            continue
        layers: dict[str, dict] = defaultdict(lambda: {"self_s": 0.0, "jobs": 0})
        for r in qr:
            for x in subtree(r):
                if x is r:
                    continue
                layers[x.layer]["self_s"] += self_s(x) / len(qr)
                layers[x.layer]["jobs"] += jobs(x) / len(qr)
        top = max(layers, key=lambda k: layers[k]["self_s"])
        spikes[q] = {
            "wall_s": statistics.mean(dur(r) for r in qr),
            "dominant": top,
            "dominant_s": layers[top]["self_s"],
            "dominant_jobs": layers[top]["jobs"],
            "layers": dict(layers),
        }
    return {
        "layers": dict(m),
        "layer_sum_violations": violations,
        "spikes": spikes,
    }


if __name__ == "__main__":
    raise SystemExit(main())
