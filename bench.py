"""Benchmark harness: runs the operator-inventory queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}.

Each query is materialized with a noop write (full execution, no driver
collect, no disk cost) — the number is the end-to-end plan runtime.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from srm_etl_spark.plans import REGISTRY  # noqa: PLC0415
    from srm_etl_spark.session import get_spark  # noqa: PLC0415

    spark = get_spark("srm-etl-spark-bench")
    # warm the JVM + parquet footers once so per-query numbers measure the
    # queries, not session bring-up
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    from srm_etl_spark.operators.session_cache import release_all  # noqa: PLC0415

    from srm_etl_spark.hostload import STEAL_MAX_PCT, loadavg1, timed_attempts  # noqa: PLC0415

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    timings: dict[str, float] = {}
    noise: dict[str, dict] = {}
    dirty: list[str] = []
    load_start = loadavg1()
    # a query whose every base rep ran under co-tenant CPU steal gets extra
    # attempts (hostload.timed_attempts), but the TOTAL extra budget is
    # bounded so a persistently loaded host cannot double the bench runtime;
    # past the budget the dirty flag alone carries the adjudication
    extra_budget = int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA", "40"))
    total = 0.0
    for name, qd in REGISTRY.items():
        # each query starts cold: one query's session pins must not occupy
        # memory (or serve as a warm cache) while its neighbour is measured —
        # the r11 driver bench showed phantom 4-6x regressions from exactly
        # that cross-query interference. Reps WITHIN a query still share the
        # warm cache (min-of-reps measures the steady state).
        release_all(spark)
        try:
            point = timed_attempts(
                lambda qd=qd: qd.spark(spark, sf_dir)
                .write.format("noop")
                .mode("overwrite")
                .save(),
                base_attempts=reps,
                max_attempts=reps + min(2, max(0, extra_budget)),
            )
        except Exception as ex:  # noqa: BLE001
            print(f"# {name} FAILED: {ex}", file=sys.stderr, flush=True)
            timings[name] = -1.0
            continue
        extra_budget -= max(0, point["n_attempts"] - reps)
        # min over clean reps: the first run of a new plan shape pays JVM JIT
        # compilation (a one-off), and this host shows bursty CPU steal —
        # the min is the steady-state number a long-running cluster sees.
        timings[name] = round(point["t"], 3)
        noise[name] = {"steal_pct": point["steal_pct"], "load1": point["load1"]}
        if point["dirty"]:
            dirty.append(name)
        total += point["t"]
        print(
            f"# {name}: {timings[name]}s steal={point['steal_pct']}%"
            f"{' DIRTY' if point['dirty'] else ''}",
            file=sys.stderr,
            flush=True,
        )

    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    payload = {
        "metric": "operator-inventory total runtime",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        # Methodology marker: v2 = release_all() between queries (r12+), so
        # every per-query number is the query's SELF-CONTAINED cost; v3
        # (r14+) = v2 + the hostload noise bound — dirty (steal-contaminated)
        # reps are re-run within a bounded budget and never reported while a
        # clean rep exists, and the payload carries per-query steal/loadavg.
        # On a quiet host v3 numbers are v2 numbers, so BENCH_LOCAL_r14 and
        # the BENCH_r12+ files are valid baselines. Round-over-round
        # per-query comparisons are valid only within the self-contained
        # family — r11 and earlier numbers let neighbours' warm pins
        # subsidize a query.
        "methodology": "self-contained-v3",
        # The noise bound: queries whose EVERY rep ran under > STEAL_MAX_PCT
        # co-tenant CPU steal (their timing is not adjudicable from this
        # artifact alone), plus per-query steal/loadavg for the chosen rep.
        "noise": {
            "steal_max_pct": STEAL_MAX_PCT,
            "dirty_queries": dirty,
            "loadavg_start": round(load_start, 2),
            "loadavg_end": round(loadavg1(), 2),
            "per_query": noise,
        },
    }
    # The driver's BENCH_r{N}.json capture keeps only the LAST 2000 chars of
    # stdout and json-parses them (r4-r9: the full-name map blew the cap, so
    # `parsed` came back null and `tail` held an arbitrary 66-query suffix).
    # Persist the FULL map (3-decimal, full names) to a committed artifact,
    # and print ONE COMPACT line that fits the cap: qNN keys (unique — the
    # registry numbers queries), 2-decimal values, n_queries as a
    # truncation tripwire.
    out_file = os.environ.get("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL_latest.json")
    with open(out_file, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    import re  # noqa: PLC0415

    compact = {
        "metric": "operator-inventory total runtime",
        "value": round(total, 2),
        "unit": "sec",
        "queries": {
            re.match(r"q\d+", k).group(0) if re.match(r"q\d+", k) else k: round(v, 2)
            for k, v in timings.items()
        },
        "sf": sf_val,
        "n_queries": len(timings),
        "n_dirty": len(dirty),
    }
    # shrink until the line fits the 2000-char tail: fewer decimals first,
    # then (last resort) drop the fastest queries — n_queries stays the full
    # count so a truncated map is self-evident, never silent
    line = json.dumps(compact, separators=(",", ":"))
    for nd in (1, 0):
        if len(line) <= 1990:
            break
        compact["queries"] = {k: round(v, nd) for k, v in compact["queries"].items()}
        line = json.dumps(compact, separators=(",", ":"))
    while len(line) > 1990 and compact["queries"]:
        keep = sorted(compact["queries"], key=compact["queries"].get, reverse=True)
        compact["queries"] = {k: compact["queries"][k] for k in keep[: len(keep) - 10]}
        line = json.dumps(compact, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
