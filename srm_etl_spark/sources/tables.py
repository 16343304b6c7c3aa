"""Parquet warehouse table loaders.

The reference's inter-stage IR is datapackage directories of CSV+JSON
(``operators/derive/to_dp.py:227,405,574,697,919`` in the reference); here the
canonical IR is Parquet — columnar, splittable, predicate-pushdown-capable —
read lazily so Catalyst prunes columns and pushes filters into the scan.
"""

from __future__ import annotations

import functools
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    ByteType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
    _parse_datatype_string,
)

from ..session import parse_byte_size

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@functools.lru_cache(maxsize=256)
def _footer(path: str, mtime_ns: int, size: int) -> tuple[pa.Schema | None, tuple[str, ...]]:
    """One driver-side footer read per file version: the arrow schema (None
    when a column is INT96, whose pyarrow type says ``timestamp[ns]`` while
    Spark reads a timestamp) and the columns stored as TIMESTAMP(NANOS).

    Keyed on (path, mtime_ns, size) so a rewritten file is re-read; the
    bench and the harness load the same tables hundreds of times."""
    pf = pq.ParquetFile(path)
    schema = pf.schema_arrow
    nanos = tuple(
        f.name for f in schema if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )
    parquet = pf.metadata.schema
    if any(parquet.column(i).physical_type == "INT96" for i in range(len(parquet))):
        return None, nanos
    return schema, nanos


_SCALAR_TYPES = [
    (pa.types.is_boolean, BooleanType),
    (pa.types.is_int8, ByteType),
    (pa.types.is_int16, ShortType),
    (pa.types.is_int32, IntegerType),
    (pa.types.is_int64, LongType),
    (pa.types.is_float32, FloatType),
    (pa.types.is_float64, DoubleType),
    (pa.types.is_string, StringType),
    (pa.types.is_binary, BinaryType),
    (pa.types.is_date32, DateType),
]


def _spark_type(t: pa.DataType, ntz: bool) -> DataType | None:
    """The type Spark's parquet schema inference gives a footer column, or
    None for a type this mapping does not cover (the caller then lets Spark
    infer). Every level is nullable, as Spark reads every file source.

    A tz-naive timestamp is ``timestamp_ntz`` under
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` (``ntz``); TIMESTAMP(NANOS)
    is ``bigint``, as ``spark.sql.legacy.parquet.nanosAsLong`` reads it."""
    for test, spark_type in _SCALAR_TYPES:
        if test(t):
            return spark_type()
    if pa.types.is_decimal128(t):
        return DecimalType(t.precision, t.scale)
    if pa.types.is_timestamp(t):
        if t.unit == "ns":
            return LongType()
        return TimestampNTZType() if t.tz is None and ntz else TimestampType()
    if pa.types.is_list(t):
        elem = _spark_type(t.value_type, ntz)
        return None if elem is None else ArrayType(elem, True)
    if pa.types.is_struct(t):
        return _spark_struct([t.field(i) for i in range(t.num_fields)], ntz)
    return None


def _spark_struct(fields, ntz: bool) -> StructType | None:
    out = []
    for f in fields:
        dt = _spark_type(f.type, ntz)
        if dt is None:
            return None
        out.append(StructField(f.name, dt, True))
    return StructType(out)


def load_table(spark: SparkSession, sf_dir: str, name: str, spread: bool = True) -> DataFrame:
    """Lazily read one warehouse table; launches no Spark job.

    The read schema comes from the parquet footer, which the driver reads
    once per file version with pyarrow, so Spark runs no schema-inference
    job. It equals what Spark would infer: tz-naive timestamps are
    ``timestamp_ntz``, TIMESTAMP(NANOS) columns are read as nanos-since-epoch
    longs and then rewritten to micros-precision timestamps. A footer with a
    type the mapping does not cover (INT96, unsigned ints, maps, ...) falls
    back to Spark's inference.

    ``spread``: single-row-group parquet files scan as ONE partition, which
    serializes every pre-shuffle expression (regex, shingling, hashing) on one
    core. When the scan has fewer partitions than the cluster's parallelism,
    repartition it — a tiny shuffle locally, and a no-op at real scale where
    inputs are already split into many files/row-groups.
    """
    path = f"{sf_dir}/{name}.parquet"
    st = os.stat(path)
    arrow_schema, nanos = _footer(path, st.st_mtime_ns, st.st_size)
    # The warehouse may carry TIMESTAMP(NANOS) columns, which Spark rejects by
    # default. The conf is runtime-settable, and callers (driver harness,
    # notebooks) supply their own sessions — so set it here, not only in the
    # session factory, or the read fails with PARQUET_TYPE_ILLEGAL.
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:  # noqa: BLE001 — conf locked down; let Spark infer
        if nanos:
            arrow_schema = None
    schema = None
    if arrow_schema is not None:
        ntz = spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true") == "true"
        schema = _spark_struct(arrow_schema, ntz)
    reader = spark.read if schema is None else spark.read.schema(schema)
    df = reader.parquet(path)
    for c in nanos:
        # Integer nanos div 1000 → micros; double division would lose precision
        # (ns epoch values exceed 2^53). Only applies when the scan actually
        # surfaced the column as a long.
        dt = (df.schema if schema is None else schema)[c].dataType
        if isinstance(dt, LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    if spread:
        # Scan parallelism ≈ ceil(file_bytes / maxPartitionBytes), and a
        # single-row-group file can't split below one partition per file.
        # Deciding from the file size avoids df.rdd.getNumPartitions,
        # which converts the plan to an RDD on every load — measurable fixed
        # cost when the bench loads tables hundreds of times.
        parallelism = spark.sparkContext.defaultParallelism
        max_bytes = parse_byte_size(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"),
            default=128 << 20,
        )
        est_partitions = max(1, st.st_size // max_bytes)
        if est_partitions < parallelism // 2:
            df = df.repartition(parallelism)
    if os.environ.get("SPARK_GRAFT_RETRY") == "1":
        df = _with_task_retry_fault(df)
    return df


def _with_task_retry_fault(df: DataFrame) -> DataFrame:
    """SPARK_GRAFT_RETRY=1 — tenth invariance axis: task-failure/retry
    determinism. Every EVEN-numbered partition of every table scan FAILS its
    first task attempt with a real exception, so the scheduler (session
    factory runs ``local[N, 4]`` under the axis) re-executes those tasks —
    the lost-executor shape of a 100 TB run, where any stage can see a mix
    of first-attempt and retried tasks. The full registry must hash-MATCH
    the clean run: this catches kernels whose output depends on attempt
    count, partial re-execution, or non-deterministic per-task state that
    only a retry would expose. The injector is schema-preserving and
    otherwise an identity pass-through."""
    schema = df.schema

    def inject(batches):
        from pyspark import TaskContext  # noqa: PLC0415

        ctx = TaskContext.get()
        if (
            ctx is not None
            and ctx.attemptNumber() == 0
            and ctx.partitionId() % 2 == 0
        ):
            raise RuntimeError(
                "SPARK_GRAFT_RETRY fault injection: first attempt of even "
                f"partition {ctx.partitionId()} dies (expected; retried)"
            )
        yield from batches

    return df.mapInPandas(inject, schema)


def local_table(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """A table whose rows the driver holds, as a JVM ``LocalRelation``.

    ``spark.createDataFrame(<list>)`` builds a Python RDD: every job over it
    runs ``defaultParallelism`` Python tasks, however few the rows, and two
    such frames never compare equal under ``sameSemantics``. Shipping the
    rows as one Arrow table instead gives a ``LocalRelation`` (under
    ``spark.sql.execution.arrow.localRelationThreshold``): it plans as a
    ``LocalTableScan``, a ``collect`` over it runs no job, and equal rows
    give semantically equal plans.

    ``rows``: tuples (or Rows) in ``schema`` field order; ``schema``: a DDL
    string or a StructType."""
    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(struct)
    rows = list(rows)
    table = pa.Table.from_arrays(
        [pa.array([r[i] for r in rows], type=f.type) for i, f in enumerate(arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def load_datapackage(spark: SparkSession, path: str, resource: str | None = None) -> DataFrame:
    """S2: read a datapackage directory (the reference's inter-stage IR,
    written by sinks/files.py:write_datapackage or the reference's
    dump_to_path) — the ``datapackage.json`` manifest's field list drives a
    TYPED distributed read of the resource files, so the loop
    write_datapackage -> load_datapackage is lossless (q120 hash-gates it).

    ``resource`` selects by name when the package carries several; default is
    the first. Only the manifest is driver-side (bytes of JSON); the resource
    read is a normal lazy file scan.
    """
    import json  # noqa: PLC0415
    import os  # noqa: PLC0415

    with open(os.path.join(path, "datapackage.json"), encoding="utf-8") as fh:
        manifest = json.load(fh)
    resources = manifest["resources"]
    res = (
        resources[0]
        if resource is None
        else next((r for r in resources if r["name"] == resource), None)
    )
    if res is None:
        names = [r.get("name") for r in resources]
        raise ValueError(
            f"datapackage at {path!r} has no resource named {resource!r}; "
            f"available: {names}"
        )
    ddl = ", ".join(f"`{f['name']}` {f['type']}" for f in res["schema"]["fields"])
    rdir = os.path.join(path, res["path"])
    fmt = res.get("format", "csv")
    if fmt == "csv":
        return spark.read.schema(ddl).option("header", "true").csv(rdir)
    if fmt == "json":
        return spark.read.schema(ddl).json(rdir)
    return spark.read.parquet(rdir)
