"""Staging-table upsert with soft-delete status management.

This is the engine's MERGE primitive, reproducing the reference's
``airtable_updater`` lifecycle (``srm_tools/update_table.py:55-108``), used by
every ingestion pipeline there:

1. current rows of the target source are hashed for change detection;
2. fetched rows are full-outer joined on the business key;
3. ``status`` becomes ACTIVE when the fetch produced the row, INACTIVE when it
   disappeared (soft delete) — with ``manage_status=False`` a left join keeps
   current rows untouched instead;
4. rows whose change-hash is unchanged are dropped from the write set
   (write-amplification control, ``update_table.py:34-52``).

Spark-first shape: one full-outer join on the key (shuffle on `id`, AQE
handles skew), native-sha1 change hashes, and the result is a DataFrame ready
for a partition-overwrite write — no driver-side state, scales with the key
cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import hash_row


def staging_upsert(
    current: DataFrame,
    fetched: DataFrame,
    key: str = "id",
    table_fields: list[str] | None = None,
    source_id: str | None = None,
    manage_status: bool = True,
    only_changed: bool = True,
) -> DataFrame:
    """Merge `fetched` into `current`, returning the rows to write.

    `current` and `fetched` must share the schema on `table_fields` (+ key).
    Output columns: key, table_fields, ``source``, ``status``, ``_changed``.
    """
    if table_fields is None:
        table_fields = [c for c in fetched.columns if c not in (key, "source", "status")]

    cur = current
    if source_id is not None and "source" in cur.columns:
        cur = cur.filter(F.col("source").isin(source_id, "dummy"))
    cur = cur.withColumn("_current_hash", hash_row(table_fields))

    how = "full_outer" if manage_status else "left_outer"
    # Join fetched (new values win) against current; coalesce per field.
    f = fetched.alias("f")
    c = cur.alias("c")
    joined = f.join(c, on=F.col(f"f.{key}") == F.col(f"c.{key}"), how=how)

    picked = joined.select(
        F.coalesce(F.col(f"f.{key}"), F.col(f"c.{key}")).alias(key),
        *[
            F.when(F.col(f"f.{key}").isNotNull(), F.col(f"f.{c_}")).otherwise(F.col(f"c.{c_}")).alias(c_)
            if c_ in fetched.columns
            else F.col(f"c.{c_}").alias(c_)
            for c_ in table_fields
        ],
        (
            F.when(F.col(f"f.{key}").isNotNull(), F.lit(source_id))
            .otherwise(F.col("c.source") if "source" in cur.columns else F.lit(source_id))
            .alias("source")
        ),
        (
            F.when(F.col(f"f.{key}").isNotNull(), F.lit("ACTIVE"))
            .otherwise(F.lit("INACTIVE") if manage_status else F.col("c.status"))
            .alias("status")
        ),
        F.col("c._current_hash").alias("_current_hash"),
    )

    rehashed = picked.withColumn("_new_hash", hash_row(table_fields)).withColumn(
        "_changed",
        F.col("_current_hash").isNull() | (F.col("_current_hash") != F.col("_new_hash")),
    )
    out = rehashed.drop("_current_hash", "_new_hash")
    if only_changed:
        out = out.filter(F.col("_changed"))
    return out


