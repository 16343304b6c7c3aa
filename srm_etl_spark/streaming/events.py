"""Streaming event pipelines (capability extension over the strictly-batch
reference — SURVEY §2.12).

The same logical plans as the batch twins (q32 in plans/streaming.py, q17 in plans/relational.py), lifted
to Structured Streaming: a file source replayed incrementally, event-time
watermarks bounding state, and window aggregates that emit finalized windows.
State stores shard by group key across executors, so every operator here
scales with the cluster exactly like its batch twin.

Design rules:
- watermark BEFORE any stateful op (Spark requires it; it also caps state);
- aggregations keyed by (window, key) — never a global collect;
- ``availableNow`` triggers for batch-replay tests; continuous micro-batches
  in production.
"""

from __future__ import annotations

from contextlib import contextmanager as _contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# File-source schema when the parquet carries TIMESTAMP(NANOS): the session
# reads those as longs (spark.sql.legacy.parquet.nanosAsLong) and we restore.
EVENT_SCHEMA_NANOS = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def _ts_is_nanos(path: str) -> bool:
    """Sniff the parquet footer: is ``ts`` stored as TIMESTAMP(NANOS)?

    The warehouse has shipped both units across generations; deciding from
    the footer (one driver-side metadata read) keeps the stream correct for
    either, instead of hardcoding a division that shifts micros data to 1970.
    """
    import glob  # noqa: PLC0415
    import os  # noqa: PLC0415

    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    if os.path.isdir(path):
        # recurse: partitioned sources keep their files under key=value subdirs
        files = sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        if not files:
            raise FileNotFoundError(
                f"stream_events: no parquet files under {path!r}; cannot "
                "sniff the ts unit (pass nanos_ts explicitly for an "
                "empty-at-start source)"
            )
        path = files[0]
    try:
        f = pq.read_schema(path).field("ts")
    except (KeyError, OSError):
        return False
    return pa.types.is_timestamp(f.type) and f.type.unit == "ns"


def stream_events(
    spark: SparkSession, source_dir: str, nanos_ts: bool | None = None
) -> DataFrame:
    """File-source stream of event rows; ts restored to TimestampType.

    ``source_dir`` may be a directory (the production shape: new files land,
    the stream picks them up) or a single ``.parquet`` file — the file source
    requires a directory, so a file path becomes (parent, pathGlobFilter).
    ``nanos_ts=None`` auto-detects the stored unit from the footer."""
    import os  # noqa: PLC0415

    if nanos_ts is None:
        nanos_ts = _ts_is_nanos(source_dir)
    schema = EVENT_SCHEMA_NANOS if nanos_ts else EVENT_SCHEMA
    reader = spark.readStream.schema(schema)
    if source_dir.endswith(".parquet") and os.path.isfile(source_dir):
        reader = reader.option("pathGlobFilter", os.path.basename(source_dir))
        source_dir = os.path.dirname(source_dir)
    df = reader.parquet(source_dir)
    if nanos_ts:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def _exact_sum(col: str) -> Column:
    return F.sum(F.col(col).cast("decimal(18,6)")).cast("double").alias("sum_value")


def tumbling_window_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Per (tumbling window, event_type) count + value sum. The streaming twin
    of q32 — identical plan, plus the watermark that lets Spark finalize and
    evict window state. The sum runs in DECIMAL(18,6), so it is exact and
    independent of the order the micro-batches add up in."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), _exact_sum("value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def session_window_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user (gap-based), the streaming twin of the batch
    sessionize operator (operators/windows.py) — state is one open session
    per user, merged/finalized by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), _exact_sum("value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once event stream on event_id within the watermark horizon —
    the streaming analogue of the engine's exact dedup; state is one key per
    in-horizon event id."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    max_delay: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: right-side events landing within
    ``[left_ts, left_ts + max_delay]`` for the same key.

    The time-range predicate plus both watermarks is what lets Spark expire
    join state: a buffered left row can be dropped once the right watermark
    passes ``left_ts + max_delay`` (state is bounded by delay + watermark, not
    by stream length). Column names must be disjoint across sides — rename
    before calling.
    """
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[key] == r[key])
        & (r[right_ts] >= l[left_ts])
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {max_delay}"))
    )
    return l.join(r, cond, "inner").drop(r[key])


def _dir_bytes(path: str) -> int:
    """Total size of the regular files at ``path`` — a single file or one
    flat directory (the replay source dirs are flat)."""
    import os  # noqa: PLC0415

    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        total = 0
        for entry in os.scandir(path):
            if entry.is_file():
                total += entry.stat().st_size
    except OSError:
        return 0
    return total


def source_bytes_of(path: str) -> int:
    """Public size probe for a replay source (file or flat dir) — the value
    callers hand to :func:`run_to_memory` / the replay harnesses so state
    partitioning can be derived from input volume (guide §2)."""
    return _dir_bytes(path)


# A Python-stateful stage processes bytes ~1000x slower than a JVM shuffle
# write, so it sizes its partitions against this fraction of the advisory.
_PY_STATE_ADVISORY_DIVISOR = 1024


@_contextmanager
def scaled_state_partitions(
    spark: SparkSession, source_bytes: int | None, python_stateful: bool = False
):
    """Scale-adaptive shuffle partitioning for ONE streaming query start
    (guide §2: derive partition counts from input size, never from a
    constant tuned to either local mode or the cluster).

    A stateful streaming query binds one state-store instance per shuffle
    partition at its first micro-batch, and AQE never re-plans streaming
    aggregations — so the session's batch-sized ``spark.sql.shuffle
    .partitions`` (cores on the bench, thousands on a cluster) silently
    becomes the state-partition count even for a dimension-scale replay,
    and every micro-batch then pays (open + load + commit) on every
    mostly-empty store. Derive the count the way AQE would coalesce the
    equivalent batch shuffle: ceil(source_bytes / advisoryPartitionSize),
    clamped to the session setting. At production volumes the ratio
    exceeds the clamp and this is a no-op; a query restarted from a
    checkpoint keeps its recorded partitioning regardless (Spark pins the
    state layout in checkpoint metadata), so recovery is unaffected.

    ``python_stateful``: the per-byte cost of a Python-stateful stage
    (``applyInPandasWithState``) is orders of magnitude above a JVM shuffle
    write — every group pays a Python function dispatch plus pandas frame
    assembly per micro-batch — so sizing its partitions by the SHUFFLE
    advisory starves it of parallelism (measured: q60's replay at one
    byte-derived partition ran its whole per-user loop single-threaded,
    1.5 s → 5-6 s). Such stages size against a proportionally smaller
    advisory (advisory / ``_PY_STATE_ADVISORY_DIVISOR`` = 64 KiB at the
    64 MiB default): the same input-derived, cluster-agnostic rule, with the
    operator's actual processing rate priced in."""
    if not source_bytes:
        yield
        return
    from ..session import parse_byte_size  # noqa: PLC0415

    conf = spark.conf
    cur = int(conf.get("spark.sql.shuffle.partitions"))
    advisory = parse_byte_size(
        conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", None) or "64m",
        64 << 20,
    )
    if python_stateful:
        advisory //= _PY_STATE_ADVISORY_DIVISOR
    target = max(1, min(cur, -(-int(source_bytes) // max(1, advisory))))
    if target == cur:
        yield
        return
    conf.set("spark.sql.shuffle.partitions", str(target))
    try:
        yield
    finally:
        conf.set("spark.sql.shuffle.partitions", str(cur))


def run_to_memory(
    stream_df: DataFrame, name: str, mode: str = "append",
    source_bytes: int | None = None, python_stateful: bool = False,
):
    """Replay the available data through the streaming plan into an in-memory
    table (tests / local inspection). Returns the finished query.

    ``source_bytes`` (when the caller knows the replay source volume)
    engages :func:`scaled_state_partitions` for the run; ``python_stateful``
    flags a plan whose stateful stage runs in Python (see there)."""
    with scaled_state_partitions(
        stream_df.sparkSession, source_bytes, python_stateful=python_stateful
    ):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return q


def stream_static_enrich(
    stream: DataFrame, dim: DataFrame, on: str, how: str = "left"
) -> DataFrame:
    """Stream-static join: enrich a stream against a batch dimension.

    The static side is re-planned per micro-batch (so a refreshed dimension
    table is picked up without restarting the query) and broadcast — the
    stream side never shuffles, which is what keeps a high-rate enrichment
    stage at wire speed on a cluster. No watermark is needed: stream-static
    joins are stateless.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    return stream.join(F.broadcast(dim), on, how)


def latest_staging_version(path: str) -> str | None:
    """Highest ``v=N`` subdir under a versioned staging root, or None."""
    import glob  # noqa: PLC0415
    import os  # noqa: PLC0415

    versions = sorted(
        glob.glob(os.path.join(path, "v=*")),
        key=lambda p: int(p.rsplit("=", 1)[1]),
    )
    return versions[-1] if versions else None


def stream_upsert_to_staging(
    stream: DataFrame,
    staging_root: str,
    key: str,
    source_id: str | None = None,
    checkpoint: str | None = None,
    source_bytes: int | None = None,
):
    """Incremental merge: each micro-batch runs the engine's upsert primitive
    (operators/upsert.py:staging_upsert — the reference's airtable_updater
    lifecycle, SURVEY §2.10) against the staging table and publishes a new
    version.

    ``foreachBatch`` is the bridge: inside it the micro-batch is a plain
    DataFrame, so the same batch MERGE (full-outer join on key, soft-delete
    status, change-hash skip) serves both the scheduled-batch and the
    streaming deployment — one upsert implementation, two drivers. Each
    batch writes ``{staging_root}/v={batch_id}`` and readers take the
    highest version (write-new-then-repoint — the same atomic-swap
    discipline as the ES revision sweep, K3); nothing is collected to the
    driver and no path is overwritten while being read. On a transactional
    table format the version directory collapses into a MERGE commit.

    Returns the schema of the last version this run wrote (None when no
    batch ran), so a caller can read that version back without a
    schema-inference job.
    """
    from ..operators.upsert import staging_upsert  # noqa: PLC0415
    from ..sources.tables import local_table  # noqa: PLC0415

    # The version the previous micro-batch wrote is read back with the
    # schema it was written with; only the first batch of a query start (a
    # recovery resume included) reads a version of unknown schema and infers.
    written: dict = {}

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        latest = latest_staging_version(staging_root)
        if latest:
            reader = spark.read
            if written.get("path") == latest:
                reader = reader.schema(written["schema"])
            current = reader.parquet(latest)
        else:
            # bootstrap: empty staging with the upsert bookkeeping columns
            # (the change hash covers source+status, reference
            # update_table.py:28-32)
            current = (
                local_table(spark, [], batch_df.schema)
                .withColumn("source", F.lit(None).cast("string"))
                .withColumn("status", F.lit(None).cast("string"))
            )
        merged = staging_upsert(
            current, batch_df, key=key, source_id=source_id, only_changed=False
        ).drop("_changed")
        # staging_upsert merges only the rows of `source_id` — but each
        # version is the COMPLETE table, so every OTHER row must ride along
        # untouched or the first batch silently deletes it. The preserved set
        # is the exact null-safe complement of the upsert's isin(source_id,
        # 'dummy') filter: a NULL source is not the merged source either.
        if source_id is not None and "source" in current.columns:
            others = current.filter(
                F.col("source").isNull() | ~F.col("source").isin(source_id, "dummy")
            )
            merged = merged.unionByName(others.select(*merged.columns))
        path = f"{staging_root}/v={batch_id}"
        merged.write.mode("overwrite").parquet(path)
        written.update(path=path, schema=merged.schema)

    writer = stream.writeStream.foreachBatch(merge_batch).trigger(availableNow=True)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    # scale the per-micro-batch MERGE shuffles to the feed volume (the
    # foreachBatch joins inherit the session shuffle partitioning)
    with scaled_state_partitions(stream.sparkSession, source_bytes):
        writer.start().awaitTermination()
    return written.get("schema")


# ---------------------------------------------------------------------------
# Custom stateful operator: applyInPandasWithState
# ---------------------------------------------------------------------------

RUNNING_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_RUNNING_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("total", DoubleType())]
)


def running_user_totals(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running event count + value total, carried across micro-batches in the
    state store.

    This is the escape hatch for stateful logic Spark's built-in windows
    can't express (per-key model state, custom eviction, session payloads).
    State shards by group key across executors like any keyed state; the
    watermark bounds how long idle keys stay resident (processing-time
    timeout evicts them here).
    """
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupState,
        GroupStateTimeout,
    )

    def update(key, pdf_iter, state: "GroupState"):
        import pandas as pd  # noqa: PLC0415

        (user_id,) = key
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [round(total, 6)]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_TOTALS_SCHEMA,
            stateStructType=_RUNNING_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def replay_in_batches(
    spark: SparkSession,
    batches: list[DataFrame],
    build,
    name: str,
    mode: str = "append",
    timeout_sec: int = 300,
):
    """Replay a controlled sequence of micro-batches through a streaming plan.

    Each batch DataFrame is written as ONE parquet file into a scratch source
    dir with explicitly spaced modification times (the file source orders by
    mtime), then streamed with ``maxFilesPerTrigger=1`` + ``availableNow`` —
    one micro-batch per file, in the given order, plus Spark's final no-data
    batch that advances the watermark and finalizes eligible state. ``build``
    maps the source stream to the streaming plan; the result is drained
    through a memory sink, copied to a scratch parquet (the q64 discipline:
    the sink view is dropped so repeated replays hold no driver state) and
    returned as (lazy result DataFrame, query progress list).

    This is the harness for semantics only multi-batch execution exposes —
    watermark advancement, APPEND-mode finalization, late-row drops against
    evicted state. On a cluster the same plan runs against a live source;
    nothing here is local-mode-specific except the scratch paths.
    """
    import glob as _glob  # noqa: PLC0415
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    from ..session import scratch_dir  # noqa: PLC0415
    import time as _time  # noqa: PLC0415

    base = scratch_dir(f"srm_replay_{name}")
    data = os.path.join(base, "stream")
    os.makedirs(data)
    now = _time.time()
    schema = batches[0].schema
    for i, b in enumerate(batches):
        d = os.path.join(base, f"b{i}")
        b.coalesce(1).write.mode("overwrite").parquet(d)
        (src,) = _glob.glob(os.path.join(d, "*.parquet"))
        dst = os.path.join(data, f"batch{i}.parquet")
        shutil.copy(src, dst)
        # spaced mtimes pin the batch order however fast the writes ran
        os.utime(dst, (now - 100 * (len(batches) - i), now - 100 * (len(batches) - i)))
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(data)
    with scaled_state_partitions(spark, _dir_bytes(data)):
        q = (
            build(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_sec):
            # a partial sink snapshot would return silently wrong results —
            # stop the straggling query and fail loudly instead
            q.stop()
            raise RuntimeError(
                f"replay_in_batches[{name}]: availableNow replay did not finish "
                f"within {timeout_sec}s"
            )
    out_path = os.path.join(base, "result")
    spark.table(name).write.mode("overwrite").parquet(out_path)
    progress = list(q.recentProgress)
    spark.catalog.dropTempView(name)
    return spark.read.parquet(out_path), progress


def replay_with_recovery(
    spark: SparkSession,
    batches: list[DataFrame],
    build,
    name: str,
    stop_after: int = 2,
    mode: str = "append",
    timeout_sec: int = 300,
):
    """Kill-and-resume twin of :func:`replay_in_batches`: certifies that a
    checkpointed streaming plan emits the SAME set whether it runs
    uninterrupted or is stopped mid-replay and restarted.

    Run 1 sees only the first ``stop_after`` batch files — its availableNow
    trigger drains what exists (watermark advanced, eligible state finalized)
    and terminates, standing in for a crash/redeploy after those
    micro-batches committed. The remaining files then land in the source dir
    and a SECOND query restarts from the same checkpoint: the file source's
    seen-files log skips the processed batches, and watermark + operator
    state resume from the state store — late-drop and dedup decisions are
    identical to the uninterrupted run's, because availableNow advances the
    watermark the same way a no-more-data lull does. Output flows through a
    parquet FILE sink whose commit log is tied to the checkpoint's batch ids,
    so rows are exactly-once across the restart. Returns
    (lazy result DataFrame, [run1 progress, run2 progress]).
    """
    import glob as _glob  # noqa: PLC0415
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import time as _time  # noqa: PLC0415

    from ..session import scratch_dir  # noqa: PLC0415

    if not 0 < stop_after < len(batches):
        raise ValueError("stop_after must split the batch list")
    base = scratch_dir(f"srm_recover_{name}")
    data = os.path.join(base, "stream")
    out_path = os.path.join(base, "result")
    ckpt = os.path.join(base, "checkpoint")
    os.makedirs(data)
    now = _time.time()
    schema = batches[0].schema
    staged = []
    for i, b in enumerate(batches):
        d = os.path.join(base, f"b{i}")
        b.coalesce(1).write.mode("overwrite").parquet(d)
        (src,) = _glob.glob(os.path.join(d, "*.parquet"))
        staged.append(src)

    def land(i: int) -> None:
        dst = os.path.join(data, f"batch{i}.parquet")
        shutil.copy(staged[i], dst)
        t = now - 100 * (len(batches) - i)  # same order pin as replay_in_batches
        os.utime(dst, (t, t))

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(data)
        )
        q = (
            build(stream)
            .writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", ckpt)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_sec):
            q.stop()
            raise RuntimeError(
                f"replay_with_recovery[{name}]: run did not finish within {timeout_sec}s"
            )
        return list(q.recentProgress)

    # one size for BOTH runs: run 1's first micro-batch fixes the state
    # layout in the checkpoint, so the resumed run must (and does) see the
    # same derived partitioning — computed from the full staged volume
    src_bytes = sum(os.path.getsize(p) for p in staged)
    for i in range(stop_after):
        land(i)
    with scaled_state_partitions(spark, src_bytes):
        p1 = run()  # "crash" after the first stop_after micro-batches committed
    for i in range(stop_after, len(batches)):
        land(i)
    with scaled_state_partitions(spark, src_bytes):
        p2 = run()  # resume from the checkpoint
    return spark.read.parquet(out_path), [p1, p2]


def ts_ordered_halves(df: DataFrame, ts_col: str = "ts") -> list[DataFrame]:
    """Two time-ordered micro-batches split at the event-time midpoint — the
    standard kill-and-resume split: batch 1 is entirely later than batch 0,
    so no row arrives late and the recovered run's watermark decisions are
    identical to the uninterrupted replay's. One bounded driver collect
    (min/max scalars)."""
    mm = df.agg(F.min(ts_col).alias("lo"), F.max(ts_col).alias("hi")).collect()[0]
    mid = mm["lo"] + (mm["hi"] - mm["lo"]) / 2
    return [
        df.filter(F.col(ts_col) <= F.lit(mid)),
        df.filter(F.col(ts_col) > F.lit(mid)),
    ]


def replay_with_recovery_memory(
    spark: SparkSession,
    batches: list[DataFrame],
    build,
    name: str,
    stop_after: int = 1,
    mode: str = "complete",
    timeout_sec: int = 300,
    python_stateful: bool = False,
):
    """Kill-and-resume harness for output modes a file sink can't carry
    (``complete`` / ``update`` — Spark's file sink is append-only): memory
    sink + a SHARED checkpoint across the two runs, each run's sink snapshot
    written to scratch parquet.

    The recovery certification is real despite the per-run sink: run 2's
    file-source log (from the checkpoint) SKIPS run 1's already-committed
    batches, so its output is only correct if the operator state also came
    back from the state store —

    - ``complete`` → memory sink (Spark allows checkpoint recovery for it in
      complete mode — the sink is rebuilt every trigger); run 2's final
      table IS the full aggregate iff state recovered (a lost state store
      with a kept file log would aggregate only the post-crash files).
    - ``update`` → the memory sink canNOT resume from a checkpoint
      ("query does not support recovering"), so each micro-batch's
      emissions flow through a fault-tolerant ``foreachBatch`` parquet
      append instead; the accumulated rows across both runs are returned —
      the caller's latest-per-key reduction sees post-crash emissions that
      must carry the pre-crash accumulated state.

    Returns (lazy result DataFrame, [run1 progress, run2 progress]).
    """
    import glob as _glob  # noqa: PLC0415
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import time as _time  # noqa: PLC0415

    from ..session import scratch_dir  # noqa: PLC0415

    if not 0 < stop_after < len(batches):
        raise ValueError("stop_after must split the batch list")
    if mode not in ("complete", "update"):
        raise ValueError("use replay_with_recovery (parquet sink) for append mode")
    base = scratch_dir(f"srm_recover_mem_{name}")
    data = os.path.join(base, "stream")
    ckpt = os.path.join(base, "checkpoint")
    os.makedirs(data)
    now = _time.time()
    schema = batches[0].schema
    staged = []
    for i, b in enumerate(batches):
        d = os.path.join(base, f"b{i}")
        b.coalesce(1).write.mode("overwrite").parquet(d)
        (src,) = _glob.glob(os.path.join(d, "*.parquet"))
        staged.append(src)

    def land(i: int) -> None:
        dst = os.path.join(data, f"batch{i}.parquet")
        shutil.copy(staged[i], dst)
        t = now - 100 * (len(batches) - i)
        os.utime(dst, (t, t))

    upd_path = os.path.join(base, "updates")

    def run(run_idx: int):
        sink = f"{name}_r{run_idx}"
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(data)
        )
        writer = build(stream).writeStream
        if mode == "complete":
            writer = writer.format("memory").queryName(sink)
        else:
            writer = writer.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(upd_path)
            )
        q = (
            writer.option("checkpointLocation", ckpt)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_sec):
            q.stop()
            raise RuntimeError(
                f"replay_with_recovery_memory[{name}]: run {run_idx} did not "
                f"finish within {timeout_sec}s"
            )
        if mode != "complete":
            return spark.read.parquet(upd_path), list(q.recentProgress)
        snap = os.path.join(base, f"result_r{run_idx}")
        spark.table(sink).write.mode("overwrite").parquet(snap)
        spark.catalog.dropTempView(sink)
        return spark.read.parquet(snap), list(q.recentProgress)

    # same one-size-for-both-runs rule as replay_with_recovery
    src_bytes = sum(os.path.getsize(p) for p in staged)
    for i in range(stop_after):
        land(i)
    with scaled_state_partitions(spark, src_bytes, python_stateful=python_stateful):
        _r1, p1 = run(1)  # "crash" after the first stop_after micro-batches
    for i in range(stop_after, len(batches)):
        land(i)
    with scaled_state_partitions(spark, src_bytes, python_stateful=python_stateful):
        r2, p2 = run(2)  # resume from the checkpoint
    return r2, [p1, p2]
