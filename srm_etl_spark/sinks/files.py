"""File sinks: Parquet stages, GeoJSON, sitemaps.

Mirrors the reference's dump targets (``dump_to_path`` CSV/GeoJSON at
``operators/derive/to_dp.py:227,919`` / ``to_mapbox.py:202``; sitemap chunking
at ``operators/derive/to_sitemap.py:41-95``) re-expressed as distributed
writes: every sink is a DataFrame transformation ending in a Spark write —
no driver-side row loops, so they hold at any output size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet_stage(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Canonical inter-stage write (the engine's datapackage equivalent)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.option("partitionOverwriteMode", "dynamic").partitionBy(*partition_by)
    w.parquet(path)


def geojson_features(
    df: DataFrame, lon_col: str = "lon", lat_col: str = "lat", props: list[str] | None = None
) -> DataFrame:
    """One GeoJSON Feature (as a JSON string column ``feature``) per row —
    computed distributed with to_json, never on the driver."""
    props = props or [c for c in df.columns if c not in (lon_col, lat_col)]
    feature = F.to_json(
        F.struct(
            F.lit("Feature").alias("type"),
            F.struct(
                F.lit("Point").alias("type"),
                F.array(F.col(lon_col), F.col(lat_col)).alias("coordinates"),
            ).alias("geometry"),
            F.struct(*[F.col(p).alias(p) for p in props]).alias("properties"),
        )
    )
    return df.select(feature.alias("feature"))


def write_geojson(
    df: DataFrame,
    path: str,
    lon_col: str = "lon",
    lat_col: str = "lat",
    props: list[str] | None = None,
) -> None:
    """Newline-delimited GeoJSON features (GeoJSONSeq — what tippecanoe and
    most geo tooling ingest at scale; a FeatureCollection wrapper would force
    a single-writer file)."""
    geojson_features(df, lon_col, lat_col, props).write.mode("overwrite").text(path)


def sitemap_documents(df: DataFrame, url_col: str = "url", urls_per_file: int = 50_000) -> DataFrame:
    """Chunk URLs into ≤N-per-file sitemap XML documents.

    Returns (file_index, xml) rows — one row per sitemap file. The global
    URL enumeration uses the range-partition + per-partition-offset scheme
    (operators/windows.py:enumerate_rows_scalable) — NOT a global
    row_number window, whose single-partition sort made this the
    super-linear leg of the r11 publish_fanout probe: one task owned the
    whole URL corpus. The protocol caps a sitemap corpus at 50k files ×
    50k URLs, but the publish surface feeding it does not cap, and the
    enumeration must scale with it.
    """
    from ..operators.windows import enumerate_rows_scalable  # noqa: PLC0415

    indexed = enumerate_rows_scalable(
        df.select(url_col), [url_col], "_rn"
    ).withColumn("file_index", F.floor(F.col("_rn") / urls_per_file).cast("long"))

    def _xml_escape(u):
        # & first, then < > — the sitemap protocol requires entity-escaped <loc>.
        escaped = F.replace(u, F.lit("&"), F.lit("&amp;"))
        escaped = F.replace(escaped, F.lit("<"), F.lit("&lt;"))
        return F.replace(escaped, F.lit(">"), F.lit("&gt;"))

    return (
        indexed.groupBy("file_index")
        .agg(F.array_sort(F.collect_list(url_col)).alias("urls"))
        .select(
            "file_index",
            F.concat_ws(
                "\n",
                F.lit('<?xml version="1.0" encoding="UTF-8"?>'),
                F.lit('<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'),
                F.array_join(
                    F.transform(
                        F.col("urls"),
                        lambda u: F.concat(F.lit("<url><loc>"), _xml_escape(u), F.lit("</loc></url>")),
                    ),
                    "\n",
                ),
                F.lit("</urlset>"),
            ).alias("xml"),
            F.size("urls").alias("n_urls"),
        )
    )


def write_sitemaps(df: DataFrame, path: str, url_col: str = "url", urls_per_file: int = 50_000) -> None:
    """Write the chunked sitemap XML documents, exactly one file per chunk.

    ``partitionBy(file_index)`` after a hash repartition on the same key puts
    each chunk's single row in exactly one task and one output directory —
    round-robin repartition(count) gives no one-row-per-file guarantee (a
    partition with 2 docs would emit invalid concatenated XML).
    """
    docs = sitemap_documents(df, url_col, urls_per_file)
    (
        docs.repartition("file_index")
        .select("file_index", "xml")
        .write.mode("overwrite")
        .partitionBy("file_index")
        .text(path)
    )


def write_datapackage(
    df: DataFrame, path: str, name: str, fmt: str = "csv"
) -> dict:
    """K1 dump_to_path: resource file(s) + a ``datapackage.json`` manifest
    (the reference's inter-stage IR, to_dp.py:227,919). The resource is
    written distributed (one file per partition — coalesce upstream if a
    single file is required); the manifest is driver-side metadata.

    Returns the manifest dict (also written to ``<path>/datapackage.json``).
    """
    import json  # noqa: PLC0415
    import os  # noqa: PLC0415

    res_dir = os.path.join(path, name)
    writer = df.write.mode("overwrite")
    if fmt == "csv":
        writer.option("header", "true").csv(res_dir)
    elif fmt == "json":
        writer.json(res_dir)
    else:
        writer.parquet(res_dir)
    manifest = {
        "name": name,
        "resources": [
            {
                "name": name,
                "path": name,
                "format": fmt,
                "schema": {
                    "fields": [
                        {"name": f.name, "type": f.dataType.simpleString()}
                        for f in df.schema.fields
                    ]
                },
            }
        ],
    }
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "datapackage.json"), "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, ensure_ascii=False, indent=1)
    return manifest
