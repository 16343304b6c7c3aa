"""Source and sink format queries: connector pagers, taxonomy YAML, HTML
scrape and spreadsheet ingest parity, multimodal binary decode (images,
audio, MP4 keyframes), parquet/CSV/JSON and datapackage/GeoJSON round trips,
schema evolution, sitemap chunking, Elasticsearch bulk lines and revision
swaps, deploy sync and backup packages.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint resolution needs it
from pyspark.sql import functions as F

from ..operators.deploy import deploy_table
from .common import QueryDef, _t, scalarized_sql, stringify_arrays


QUERIES: dict[str, QueryDef] = {}


# --------------------------------------------------------------------------
# q54 — multimodal binary round-trip (encode → sniff → Arrow-batched decode)
# --------------------------------------------------------------------------

def q54_multimodal_decode(spark, sf_dir):
    """Binary-column plumbing end-to-end with a REAL codec: synthesize an
    actual PNG per document (stdlib encoder — zlib IDAT, CRC chunks; top
    half rows at ``lum``, bottom at ``255 - lum``), sniff its format from
    magic bytes (JVM-side hex), then zlib-inflate + unfilter it back to
    features through mapInPandas (operators/multimodal.py). The oracle never
    sees the bytes — it states the closed-form mean luminance of the
    two-tone image, so a hash match proves a real encode→decode round trip.
    (The compressed payload size is zlib-dependent, hence not oracled.)"""
    import pandas as pd  # noqa: PLC0415

    from ..operators.multimodal import (  # noqa: PLC0415
        attach_media_metadata,
        decode_image_features,
        make_png,
    )

    @F.pandas_udf("binary")
    def encode_png(w: pd.Series, h: pd.Series, lum: pd.Series) -> pd.Series:
        return pd.Series(
            [make_png(int(a), int(b), int(c)) for a, b, c in zip(w, h, lum)]
        )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("n_chars") % 64 + 1).cast("int").alias("w"),
        (F.col("doc_id") % 48 + 1).cast("int").alias("h"),
        (F.col("doc_id") % 256).cast("int").alias("lum"),
    )
    media = attach_media_metadata(
        d.withColumn("media", encode_png("w", "h", "lum")), "media"
    )
    feats = decode_image_features(
        media, "media", passthrough=["doc_id", "media_format"]
    )
    return feats.select(
        "doc_id",
        "width",
        "height",
        F.round("mean_luminance", 9).alias("mean_luminance"),
        "media_format",
    )


# two-tone image: floor(h/2) rows at lum, the rest at 255-lum
Q54_SQL = """
SELECT doc_id,
       CAST(n_chars % 64 + 1 AS INTEGER) AS width,
       CAST(doc_id % 48 + 1 AS INTEGER) AS height,
       round((CAST((doc_id % 48 + 1) // 2 AS DOUBLE) * (doc_id % 256)
              + ((doc_id % 48 + 1) - (doc_id % 48 + 1) // 2) * (255 - doc_id % 256))
             / ((doc_id % 48 + 1) * 255.0), 9) AS mean_luminance,
       'png' AS media_format
FROM documents
"""


QUERIES.update({
    "q54_multimodal_decode": QueryDef(q54_multimodal_decode, Q54_SQL, "multimodal binary plumbing"),
})


def _pylist(sf_dir: str, table: str, cols: list[str], key: str, limit: int | None = None):
    """Driver-side fixture slice: pyarrow read → sort by key → optional cap.
    Shared by every parity query that feeds a driver-side connector."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    rows = sorted(
        pq.read_table(f"{sf_dir}/{table}.parquet", columns=cols).to_pylist(),
        key=lambda r: r[key],
    )
    return rows[:limit] if limit is not None else rows


# --------------------------------------------------------------------------
# q97 — multimodal audio round-trip (encode → sniff → Arrow-batched decode)
# --------------------------------------------------------------------------

def q97_audio_features(spark, sf_dir):
    """Audio-column plumbing end-to-end with a REAL codec (the q54
    discipline): synthesize an actual RIFF/WAVE PCM16 payload per document
    (constant amplitude ``amp * 128``), sniff the RIFF container from magic
    bytes (JVM-side hex), then parse fmt/data chunks back to
    sample-rate/duration/rms through mapInPandas
    (operators/multimodal.py:decode_audio_features). The oracle states every
    feature in closed form, INCLUDING the byte size (44-byte canonical
    header + 2 bytes per sample) — a hash match proves a real encode→decode
    round trip."""
    from ..operators.multimodal import (  # noqa: PLC0415
        attach_media_metadata,
        decode_audio_features,
        wav_const_expr,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        ((F.col("doc_id") % 3 + 1) * 8000).cast("int").alias("sr"),
        ((F.col("n_chars") % 500 + 1) * 16).cast("int").alias("n"),
        (F.col("doc_id") % 256).cast("int").alias("amp"),
    )
    # The encode leg is fully JVM-native (hex-domain WAV assembly +
    # unhex, byte-equal to make_wav — test-pinned); only the decode leg,
    # the thing the query actually verifies, crosses into Python.
    # One narrow exchange spreads the single-file fixture scan across
    # cores so the Arrow decode stage parallelizes (a many-split
    # production scan makes it a no-op).
    d = d.repartition(min(8, spark.sparkContext.defaultParallelism))
    media = attach_media_metadata(
        d.withColumn("media", wav_const_expr(F.col("sr"), F.col("n"), F.col("amp"))),
        "media",
    )
    feats = decode_audio_features(
        media, "media", passthrough=["doc_id", "media_size_bytes", "media_format"]
    )
    return feats.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "sample_rate",
        F.col("n_samples").cast("long").alias("n_samples"),
        F.round("duration_s", 9).alias("duration_s"),
        F.round("rms", 9).alias("rms"),
        "media_size_bytes",
        "media_format",
    )


Q97_SQL = """
SELECT doc_id,
       CAST((doc_id % 3 + 1) * 8000 AS INTEGER) AS sample_rate,
       CAST((n_chars % 500 + 1) * 16 AS BIGINT) AS n_samples,
       round(CAST((n_chars % 500 + 1) * 16 AS DOUBLE)
             / ((doc_id % 3 + 1) * 8000), 9) AS duration_s,
       round(CAST(doc_id % 256 AS DOUBLE) * 128 / 32768.0, 9) AS rms,
       CAST(44 + 2 * (n_chars % 500 + 1) * 16 AS BIGINT) AS media_size_bytes,
       'riff' AS media_format
FROM documents
"""


QUERIES["q97_audio_features"] = QueryDef(
    q97_audio_features, Q97_SQL, "multimodal audio decode round-trip"
)


# --------------------------------------------------------------------------
# q99 — connector-protocol parity: three pagers, one truth
# --------------------------------------------------------------------------

def q99_connector_parity(spark, sf_dir):
    """The three ingestion pager protocols (S5/S6/S8: skip-limit, keyset
    cursor with monotonicity asserts, link-following) each replay the
    supplier dimension through a deterministic in-memory API — page sizes
    chosen to exercise short-final-page, cursor-advance and next-link
    termination — and must all land the exact table content. Pagers are
    driver-side by nature (so is the reference's scraping); the dimension
    tables they ingest are driver-small by the same design."""
    from ..sources.connectors import (  # noqa: PLC0415
        keyset_paged_to_df,
        linked_pager_to_df,
        paged_to_df,
    )

    rows = _pylist(sf_dir, "supplier", ["s_suppkey", "s_name", "s_nationkey"], "s_suppkey")

    def fetch_page(skip, limit):
        return rows[skip : skip + limit]

    def fetch_after(cursor):
        after = [r for r in rows if cursor is None or r["s_suppkey"] > cursor]
        return after[:37]

    def fetch_url(url):
        i = int(url.split(":")[1])
        batch = rows[i * 53 : (i + 1) * 53]
        return {
            "records": batch,
            "next": f"page:{i + 1}" if len(batch) == 53 else None,
        }

    a = paged_to_df(spark, fetch_page, page_size=41)
    b = keyset_paged_to_df(spark, fetch_after, key_of=lambda r: r["s_suppkey"])
    c = linked_pager_to_df(spark, fetch_url, "page:0")
    out = (
        a.withColumn("protocol", F.lit("skip_limit"))
        .unionByName(b.withColumn("protocol", F.lit("keyset")))
        .unionByName(c.withColumn("protocol", F.lit("linked")))
    )
    return out.select(
        F.col("s_suppkey").cast("long").alias("s_suppkey"),
        "s_name",
        F.col("s_nationkey").cast("long").alias("s_nationkey"),
        "protocol",
    )


Q99_SQL = """
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
       CAST(s_nationkey AS BIGINT) AS s_nationkey, p.protocol
FROM supplier
CROSS JOIN (VALUES ('skip_limit'), ('keyset'), ('linked')) p(protocol)
"""


QUERIES["q99_connector_parity"] = QueryDef(
    q99_connector_parity, Q99_SQL, "S5 S6 S8 pager-protocol parity"
)


# --------------------------------------------------------------------------
# q102 — taxonomy YAML flatten (S13) oracle-checked
# --------------------------------------------------------------------------

def q102_taxonomy_flatten(spark, sf_dir):
    """S13 end-to-end: a two-level openeligibility-style tree (regions →
    nations, built deterministically from the dimension tables) flattened
    into colon-joined ids + name breadcrumbs by the driver-side recursion
    (sources/connectors.py:flatten_taxonomy — the tree is catalog-small by
    nature, exactly like the reference's YAML). The oracle rebuilds the
    same rows relationally."""
    from ..sources.connectors import taxonomy_to_df  # noqa: PLC0415

    regions = _pylist(sf_dir, "region", ["r_regionkey", "r_name"], "r_regionkey")
    nations = _pylist(
        sf_dir, "nation", ["n_nationkey", "n_name", "n_regionkey"], "n_nationkey"
    )
    tree = [
        {
            "slug": r["r_name"].strip().lower(),
            "name": r["r_name"].strip(),
            "items": [
                {
                    "slug": n["n_name"].strip().lower(),
                    "name": n["n_name"].strip(),
                    "synonyms": [n["n_name"].strip()],
                }
                for n in nations
                if n["n_regionkey"] == r["r_regionkey"]
            ],
        }
        for r in regions
    ]
    return stringify_arrays(taxonomy_to_df(spark, tree))


Q102_SQL = """
SELECT trim(lower(r_name)) AS id, trim(r_name) AS name, trim(r_name) AS name_en,
       CAST([] AS VARCHAR[]) AS synonyms, '' AS breadcrumbs
FROM region
UNION ALL
SELECT trim(lower(r_name)) || ':' || trim(lower(n_name)) AS id,
       trim(n_name) AS name, trim(n_name) AS name_en,
       [trim(n_name)] AS synonyms, trim(r_name) AS breadcrumbs
FROM nation JOIN region ON n_regionkey = r_regionkey
"""


Q102_SQL = scalarized_sql(Q102_SQL, ["synonyms"])


QUERIES["q102_taxonomy_flatten"] = QueryDef(
    q102_taxonomy_flatten, Q102_SQL, "S13 taxonomy YAML flatten parity"
)


# --------------------------------------------------------------------------
# q103 — HTML table scrape (S11) oracle-checked
# --------------------------------------------------------------------------

def q103_html_scrape(spark, sf_dir):
    """S11 end-to-end: the part dimension's first 200 rows rendered as a
    static HTML table and scraped back through
    sources/connectors.py:html_table_to_df (pandas read_html with the
    regex fallback) — the oracle reads the same slice relationally, so a
    hash match proves the scrape is lossless including numeric re-typing."""
    from ..sources.connectors import html_table_to_df  # noqa: PLC0415

    rows = _pylist(sf_dir, "part", ["p_partkey", "p_name", "p_brand"], "p_partkey", 200)
    body = "".join(
        f"<tr><td>{r['p_partkey']}</td><td>{r['p_name']}</td><td>{r['p_brand']}</td></tr>"
        for r in rows
    )
    html = (
        "<html><body><table><tr><th>p_partkey</th><th>p_name</th><th>p_brand</th></tr>"
        + body
        + "</table></body></html>"
    )
    df = html_table_to_df(spark, html)
    return df.select(
        F.col("p_partkey").cast("long").alias("p_partkey"), "p_name", "p_brand"
    )


Q103_SQL = """
SELECT CAST(p_partkey AS BIGINT) AS p_partkey, p_name, p_brand
FROM part ORDER BY p_partkey LIMIT 200
"""


QUERIES["q103_html_scrape"] = QueryDef(
    q103_html_scrape, Q103_SQL, "S11 HTML table scrape parity"
)


# --------------------------------------------------------------------------
# q104 — spreadsheet ingest (S4): headers on row 2 + duplicate-header dedup
# --------------------------------------------------------------------------

def q104_spreadsheet_ingest(spark, sf_dir):
    """S4 end-to-end: the customer slice exported as a CSV "sheet" with a
    tool banner on row 1, headers on row 2 and a DUPLICATE header name —
    ingested through sources/connectors.py:spreadsheet_to_df (headers_row=2,
    dedup_headers) exactly like the reference's Google-Sheet exports
    (manual_data_entry/external.py:28-33). The oracle reads the same slice
    relationally under the deduplicated names."""
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    from ..session import scratch_dir  # noqa: PLC0415

    from ..sources.connectors import spreadsheet_to_df  # noqa: PLC0415

    rows = _pylist(
        sf_dir, "customer", ["c_custkey", "c_name", "c_mktsegment"], "c_custkey", 300
    )
    tmp = scratch_dir("srm_q104")
    try:
        path = os.path.join(tmp, "sheet.csv")
        with open(path, "w") as f:
            f.write("exported,by,tool\n")
            f.write("c_custkey,val,val\n")
            for r in rows:
                f.write(f"{r['c_custkey']},{r['c_name']},{r['c_mktsegment']}\n")
        # spreadsheet_to_df materializes through pandas (not a lazy file
        # read), so the temp dir can be removed as soon as it returns
        df = spreadsheet_to_df(spark, path, headers_row=2)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return df.select(
        F.col("c_custkey").cast("long").alias("c_custkey"), "val", "val_2"
    )


Q104_SQL = """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name AS val, c_mktsegment AS val_2
FROM customer ORDER BY c_custkey LIMIT 300
"""


QUERIES["q104_spreadsheet_ingest"] = QueryDef(
    q104_spreadsheet_ingest, Q104_SQL, "S4 spreadsheet ingest (headers=2, dedup) parity"
)


# --------------------------------------------------------------------------
# q105 — sitemap chunking (K8) oracle-checked
# --------------------------------------------------------------------------

def q105_sitemap(spark, sf_dir):
    """K8 end-to-end: customer URLs chunked into ≤100-per-file sitemap XML
    documents (sinks/files.py:sitemap_documents — the reference's 50k cap
    scaled to the fixture). The oracle rebuilds each file's exact XML string
    with an ordered string_agg, so the hash match pins chunk assignment,
    per-file URL ordering and the XML envelope byte-for-byte."""
    from ..sinks.files import sitemap_documents  # noqa: PLC0415

    c = _t(spark, sf_dir, "customer")
    urls = c.select(
        F.concat(F.lit("https://example.org/c/"), F.col("c_custkey")).alias("url")
    )
    out = sitemap_documents(urls, urls_per_file=100)
    return out.select(
        F.col("file_index").cast("long").alias("file_index"),
        "xml",
        F.col("n_urls").cast("long").alias("n_urls"),
    )


Q105_SQL = """
WITH u AS (
  SELECT 'https://example.org/c/' || CAST(c_custkey AS VARCHAR) AS url FROM customer
),
i AS (
  SELECT url,
         CAST(floor((row_number() OVER (ORDER BY url) - 1) / 100.0) AS BIGINT) AS file_index
  FROM u
)
SELECT file_index,
       '<?xml version="1.0" encoding="UTF-8"?>' || chr(10)
       || '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">' || chr(10)
       || string_agg('<url><loc>' || url || '</loc></url>', chr(10) ORDER BY url) || chr(10)
       || '</urlset>' AS xml,
       CAST(count(*) AS BIGINT) AS n_urls
FROM i GROUP BY file_index
"""


QUERIES["q105_sitemap"] = QueryDef(
    q105_sitemap, Q105_SQL, "K8 sitemap chunking parity (to_sitemap:41-95)"
)


# --------------------------------------------------------------------------
# q114 — multi-format source parity: parquet == csv == json round-trip
# --------------------------------------------------------------------------


def q114_format_roundtrip(spark, sf_dir):
    """Format round-trip parity: a deterministic orders slice is written as
    CSV (header) and JSON lines, read back through spark.read with an
    explicit schema, and summarized per (format, priority) with
    decimal-pinned sums. All three format rows must agree with the parquet
    truth the oracle computes — any parse/print fidelity loss in either
    writer+reader pair breaks the hash. Scratch writes go to a mkdtemp dir
    (the q64 pattern); the lazy reads keep the data distributed."""
    from ..session import scratch_dir  # noqa: PLC0415

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus", "o_orderpriority"]
    o = _t(spark, sf_dir, "orders").select(*cols).filter(F.col("o_orderkey") % 20 == 0)
    base = scratch_dir("srm_q114")
    o.write.mode("overwrite").option("header", True).csv(base + "/csv")
    o.write.mode("overwrite").json(base + "/json")
    schema = (
        "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderstatus string, o_orderpriority string"
    )
    sources = {
        "parquet": o,
        "csv": spark.read.schema(schema).option("header", True).csv(base + "/csv"),
        "json": spark.read.schema(schema).json(base + "/json"),
    }

    def summarize(df, fmt):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").alias("sum_key"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2
            ).alias("sum_price"),
            F.max("o_orderstatus").alias("max_status"),
        ).withColumn("fmt", F.lit(fmt))

    out = None
    for fmt, df in sources.items():
        s = summarize(df, fmt)
        out = s if out is None else out.unionByName(s)
    return out


Q114_SQL = """
WITH s AS (
  SELECT o_orderpriority,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price,
         max(o_orderstatus) AS max_status
  FROM orders WHERE o_orderkey % 20 = 0
  GROUP BY o_orderpriority
)
SELECT s.*, f.fmt
FROM s CROSS JOIN (VALUES ('parquet'), ('csv'), ('json')) f(fmt)
"""


QUERIES.update({
    "q114_format_roundtrip": QueryDef(
        q114_format_roundtrip, Q114_SQL,
        "multi-format source parity: parquet == csv == json round-trip",
    ),
})


# --------------------------------------------------------------------------
# q118 — lake schema evolution: mergeSchema over heterogeneous batches
# --------------------------------------------------------------------------


def q118_schema_evolution(spark, sf_dir):
    """Schema evolution on a growing lake table: an early batch lands with
    (c_custkey, c_name), a later batch adds a `segment` column; a
    mergeSchema read unifies them — old rows surface NULL for the added
    column, no rewrite of history. This is the everyday 100 TB lake concern
    (a producer adds a field mid-stream); the hash gate proves the merged
    read loses nothing and invents nothing."""
    from ..session import scratch_dir  # noqa: PLC0415

    c = _t(spark, sf_dir, "customer")
    old = c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name")
    new = c.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", "c_name", F.upper("c_mktsegment").alias("segment")
    )
    base = scratch_dir("srm_q118") + "/table"
    old.write.mode("overwrite").parquet(base)
    new.write.mode("append").parquet(base)
    merged = spark.read.option("mergeSchema", "true").parquet(base)
    return merged.select("c_custkey", "c_name", "segment")


Q118_SQL = """
SELECT c_custkey, c_name,
       CASE WHEN c_custkey % 2 = 1 THEN upper(c_mktsegment) END AS segment
FROM customer
"""


QUERIES["q118_schema_evolution"] = QueryDef(
    q118_schema_evolution, Q118_SQL,
    "lake schema evolution: mergeSchema read over heterogeneous batches",
)


# --------------------------------------------------------------------------
# q120 — datapackage IR round-trip: K1 write -> S2 typed load, lossless
# --------------------------------------------------------------------------


def q120_datapackage_roundtrip(spark, sf_dir):
    """The reference's inter-stage IR as a closed loop: a customer slice is
    dumped as a datapackage (sinks/files.py:write_datapackage — CSV resource
    + manifest with the field schema), then loaded back through the
    manifest-typed reader (sources/tables.py:load_datapackage). The oracle
    reads the original table — every value must survive the CSV+manifest
    round trip bit-for-bit."""
    from ..session import scratch_dir  # noqa: PLC0415

    from ..sinks.files import write_datapackage  # noqa: PLC0415
    from ..sources.tables import load_datapackage  # noqa: PLC0415

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )
    base = scratch_dir("srm_q120")
    write_datapackage(c, base, "customers", fmt="csv")
    return load_datapackage(spark, base)


Q120_SQL = """
SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
"""


QUERIES["q120_datapackage_roundtrip"] = QueryDef(
    q120_datapackage_roundtrip, Q120_SQL,
    "datapackage IR round-trip: K1 dump -> S2 manifest-typed load",
)


# --------------------------------------------------------------------------
# q121 — GeoJSON sink round-trip: features parse back losslessly
# --------------------------------------------------------------------------


def q121_geojson_roundtrip(spark, sf_dir):
    """GeoJSON sink fidelity: deterministic supplier points written as
    newline-delimited Features (sinks/files.py:write_geojson — the
    GeoJSONSeq layout geo tooling ingests at scale), read back as text and
    parsed with from_json. The oracle recomputes the coordinates/properties
    relationally — a hash match proves the JSON print/parse cycle is
    lossless, which is what makes the sink a safe inter-system boundary."""
    from ..session import scratch_dir  # noqa: PLC0415

    from ..sinks.files import write_geojson  # noqa: PLC0415

    s = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        ((F.col("s_suppkey") % 360) - 180 + F.lit(0.5)).alias("lon"),
        ((F.col("s_suppkey") % 180) - 90 + F.lit(0.25)).alias("lat"),
    )
    path = scratch_dir("srm_q121") + "/features"
    write_geojson(s, path, props=["s_suppkey", "s_name"])
    schema = (
        "type string, geometry struct<type: string, coordinates: array<double>>, "
        "properties struct<s_suppkey: bigint, s_name: string>"
    )
    back = spark.read.text(path).select(F.from_json("value", schema).alias("f"))
    return back.select(
        F.col("f.properties.s_suppkey").alias("s_suppkey"),
        F.col("f.properties.s_name").alias("s_name"),
        F.col("f.geometry.type").alias("geom_type"),
        F.col("f.geometry.coordinates").getItem(0).alias("lon"),
        F.col("f.geometry.coordinates").getItem(1).alias("lat"),
    )


Q121_SQL = """
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
       'Point' AS geom_type,
       (s_suppkey % 360) - 180 + 0.5 AS lon,
       (s_suppkey % 180) - 90 + 0.25 AS lat
FROM supplier
"""


QUERIES["q121_geojson_roundtrip"] = QueryDef(
    q121_geojson_roundtrip, Q121_SQL,
    "GeoJSON sink round-trip: write features, parse back losslessly",
)


# --------------------------------------------------------------------------
# q122 — ES bulk payload lines, byte-exact (K3's wire format hash-gated)
# --------------------------------------------------------------------------


def q122_es_actions(spark, sf_dir):
    """K3's bulk-API wire format (sinks/es.py:to_es_actions): per-row
    (action_json, doc_json) built entirely JVM-side with to_json and a
    pinned revision stamp. The oracle REBUILDS both JSON lines by string
    construction — a hash match means the payload the publisher would send
    is byte-exact, not merely equivalent. Integer + string columns only:
    float JSON formatting is renderer-specific and the publisher contract
    (es.py) keeps floats out of id/action lines anyway."""
    from ..sinks.es import to_es_actions  # noqa: PLC0415

    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    return to_es_actions(c, "cards", "c_custkey", revision="r1")


Q122_SQL = """
SELECT '{"index":{"_index":"cards","_id":"' || CAST(c_custkey AS VARCHAR) || '"}}'
         AS action_json,
       '{"c_custkey":' || CAST(c_custkey AS VARCHAR)
         || ',"c_name":"' || c_name
         || '","c_mktsegment":"' || c_mktsegment
         || '","revision":"r1"}' AS doc_json
FROM customer
"""


QUERIES["q122_es_actions"] = QueryDef(
    q122_es_actions, Q122_SQL,
    "ES bulk payload lines byte-exact (K3 wire format)",
)


def q148_mp4_keyframes(spark, sf_dir):
    """REAL MP4 keyframe index (operators/multimodal.py:mp4_keyframe_index):
    synthesize a valid single-track MP4 per distinct (n_samples, sync_every,
    sample_size) combo — ftyp + full moov box tree (stsd/stts/stss/stsc/
    stsz/stco) + mdat — then sample up to 4 keyframes through
    sample_video_frames, which parses the sync-sample table for true byte
    offsets and decode timestamps. The oracle states every offset in closed
    form (MP4_HEADER_BASE + 4·n_sync + (s-1)·size), so a hash match proves
    the parser reads real box structure, not arithmetic."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from ..operators.multimodal import make_mp4, sample_video_frames  # noqa: PLC0415

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            (F.col("doc_id") % 20 + 4).cast("int").alias("n_samples"),
            (F.col("doc_id") % 3 + 2).cast("int").alias("sync_every"),
            ((F.col("doc_id") % 5 + 1) * 16).cast("int").alias("sample_size"),
        )
        .distinct()
    )

    @F.pandas_udf("binary")
    def encode_mp4(n: pd.Series, g: pd.Series, size: pd.Series) -> pd.Series:
        return pd.Series([make_mp4(int(a), int(b), int(c)) for a, b, c in zip(n, g, size)])

    media = d.withColumn("media", encode_mp4("n_samples", "sync_every", "sample_size"))
    media = media.withColumn("media_content_id", F.sha1("media"))
    frames = sample_video_frames(media, "media", n_frames=4)
    # distinct combos → distinct payloads → unique content ids; the join
    # back is broadcast-dimension sized
    out = frames.join(
        F.broadcast(media.select("media_content_id", "n_samples", "sync_every", "sample_size")),
        "media_content_id",
    )
    return out.select(
        "n_samples",
        "sync_every",
        "sample_size",
        "frame_index",
        "sample_number",
        "byte_offset",
        F.round("timestamp_s", 9).alias("timestamp_s"),
        "is_keyframe",
    )


def _q148_sql() -> str:
    from ..operators.multimodal import MP4_HEADER_BASE  # noqa: PLC0415

    return f"""
WITH combos AS (
  SELECT DISTINCT CAST(doc_id % 20 + 4 AS INT) AS n_samples,
         CAST(doc_id % 3 + 2 AS INT) AS sync_every,
         CAST((doc_id % 5 + 1) * 16 AS INT) AS sample_size
  FROM documents
),
k AS (
  SELECT *, ((n_samples - 1) // sync_every) + 1 AS n_sync,
         least(4, ((n_samples - 1) // sync_every) + 1) AS take
  FROM combos
),
expanded AS (
  SELECT k.*, CAST(t.i AS INT) AS frame_index,
         1 + ((t.i * n_sync) // take) * sync_every AS s
  FROM k, unnest(range(k.take)) AS t(i)
)
SELECT n_samples, sync_every, sample_size, frame_index,
       CAST(s AS INT) AS sample_number,
       CAST({MP4_HEADER_BASE} + 4 * n_sync + (s - 1) * sample_size AS BIGINT) AS byte_offset,
       round(CAST((s - 1) * 20 AS DOUBLE) / 600, 9) AS timestamp_s,
       TRUE AS is_keyframe
FROM expanded
"""


QUERIES.update({
    "q148_mp4_keyframes": QueryDef(
        q148_mp4_keyframes,
        _q148_sql(),
        "real MP4 sync-sample keyframe index (stss/stsz/stco/stts parse)",
    ),
})


def q150_deploy(spark, sf_dir):
    """Two DeploySpecs over fixture bases: a synonyms spec (add_missing)
    and a location spec with a 'resolved_lat:fixed_lat' rename
    (add_missing=False). Unchanged rows must vanish from the payload."""
    s = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    target_a = s.filter(k % 7 != 3).select(
        F.concat(F.lit("t-"), k.cast("string")).alias("id"),
        F.concat(F.lit("סינ "), (k % 5).cast("string")).alias("synonyms"),
    )
    source_a = s.filter(k % 5 != 4).select(
        F.concat(F.lit("t-"), k.cast("string")).alias("id"),
        F.when(k % 3 == 0, F.concat(F.lit("סינ "), (k % 5).cast("string")))
        .otherwise(F.concat(F.lit("חדש "), (k % 4).cast("string")))
        .alias("synonyms"),
    )
    a = deploy_table(target_a, source_a, "id", ["synonyms"], add_missing=True).select(
        F.lit("situations").alias("table"),
        "id",
        F.col("synonyms").alias("v1"),
        F.lit(None).cast("string").alias("v2"),
    )

    c = _t(spark, sf_dir, "customer")
    ck = F.col("c_custkey")
    target_b = c.filter(ck % 2 == 0).select(
        F.concat(F.lit("L"), ck.cast("string")).alias("id"),
        F.when(ck % 4 == 0, F.lit("ACTIVE")).otherwise(F.lit("DONE")).alias("status"),
        (F.lit(31.0) + (ck % 90) / F.lit(100.0)).alias("resolved_lat"),
    )
    source_b = c.filter(ck % 3 != 1).select(
        F.concat(F.lit("L"), ck.cast("string")).alias("id"),
        F.lit("ACTIVE").alias("status"),
        F.when(ck % 5 == 0, F.lit(31.0) + (ck % 90) / F.lit(100.0))
        .otherwise(F.lit(32.5))
        .alias("resolved_lat"),
    )
    b = deploy_table(
        target_b, source_b, "id", ["status", "resolved_lat:fixed_lat"], add_missing=False
    ).select(
        F.lit("locations").alias("table"),
        "id",
        F.col("status").alias("v1"),
        F.round("fixed_lat", 6).cast("string").alias("v2"),
    )
    return a.unionByName(b)


_Q150_SQL = """
WITH tgt_a AS (
  SELECT 't-' || CAST(s_suppkey AS VARCHAR) AS id,
         'סינ ' || CAST(s_suppkey % 5 AS VARCHAR) AS synonyms, s_suppkey AS k
  FROM supplier WHERE s_suppkey % 7 != 3
),
src_a AS (
  SELECT 't-' || CAST(s_suppkey AS VARCHAR) AS id,
         CASE WHEN s_suppkey % 3 = 0 THEN 'סינ ' || CAST(s_suppkey % 5 AS VARCHAR)
              ELSE 'חדש ' || CAST(s_suppkey % 4 AS VARCHAR) END AS synonyms,
         s_suppkey AS k
  FROM supplier WHERE s_suppkey % 5 != 4
),
a_updates AS (
  SELECT t.id, s.synonyms FROM tgt_a t JOIN src_a s USING (id)
  WHERE t.synonyms IS DISTINCT FROM s.synonyms
),
a_missing AS (
  SELECT s.id, s.synonyms FROM src_a s LEFT JOIN tgt_a t USING (id) WHERE t.id IS NULL
),
tgt_b AS (
  SELECT 'L' || CAST(c_custkey AS VARCHAR) AS id,
         CASE WHEN c_custkey % 4 = 0 THEN 'ACTIVE' ELSE 'DONE' END AS status,
         31.0 + (c_custkey % 90) / 100.0 AS resolved_lat
  FROM customer WHERE c_custkey % 2 = 0
),
src_b AS (
  SELECT 'L' || CAST(c_custkey AS VARCHAR) AS id, 'ACTIVE' AS status,
         CASE WHEN c_custkey % 5 = 0 THEN 31.0 + (c_custkey % 90) / 100.0
              ELSE 32.5 END AS resolved_lat
  FROM customer WHERE c_custkey % 3 != 1
),
b_updates AS (
  SELECT t.id, s.status, s.resolved_lat FROM tgt_b t JOIN src_b s USING (id)
  WHERE t.status IS DISTINCT FROM s.status
     OR t.resolved_lat IS DISTINCT FROM s.resolved_lat
)
SELECT 'situations' AS "table", id, synonyms AS v1, CAST(NULL AS VARCHAR) AS v2 FROM a_updates
UNION ALL
SELECT 'situations', id, synonyms, CAST(NULL AS VARCHAR) FROM a_missing
UNION ALL
SELECT 'locations', id, status, CAST(round(resolved_lat, 6) AS VARCHAR) FROM b_updates
"""


QUERIES.update({
    "q150_deploy": QueryDef(
        q150_deploy,
        _Q150_SQL,
        "deploy spec sync (changed-only emit, add_missing, rename)",
    ),
})


def _doc_sets(spark, sf_dir):
    """The two publish payloads, derived from ``documents``: publish 1 is
    two thirds of the corpus at body v1; publish 2 is the even half, a
    quarter of which changed to v2 (the rest re-publish unchanged — they
    must still be restamped to survive the sweep)."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    v1 = F.concat(F.lit("v1-"), (F.col("n_chars") % 7).cast("string"))
    v2 = F.concat(F.lit("v2-"), (F.col("n_chars") % 7).cast("string"))
    pub1 = docs.filter(did % 3 != 0).select(did, F.col("source"), v1.alias("body"))
    pub2 = docs.filter(did % 2 == 0).select(
        did, F.col("source"), F.when(did % 4 == 0, v2).otherwise(v1).alias("body")
    )
    return pub1, pub2


def q153_es_revision_swap(spark, sf_dir):
    """K3 end-to-end: run :func:`sinks.es.publish` twice over spool
    transports, then reconstruct the index state DISTRIBUTED (read the
    spools back through Spark — the spool stands in for the cluster's
    storage, no driver-side index). The final phase applies the revision
    recorded by the SECOND publish's actual sweep call, so the emitted set
    proves the delete-by-query wiring, not just the intended constant."""
    import os  # noqa: PLC0415

    from ..session import scratch_dir  # noqa: PLC0415
    from ..sinks.es import publish, replay_index_state, recording_sweep, spool_ship, sweep_revision  # noqa: PLC0415

    pub1, pub2 = _doc_sets(spark, sf_dir)
    # scratch_dir (not raw mkdtemp): the lazy replay frames need the spools
    # alive until collected, and scratch_dir's atexit cleanup stops repeated
    # bench/correctness runs accumulating /tmp litter
    base = scratch_dir("srm_q153")
    spool1, spool2 = os.path.join(base, "pub1"), os.path.join(base, "pub2")
    os.makedirs(spool1, exist_ok=True)
    os.makedirs(spool2, exist_ok=True)
    sweeps: list = []
    publish(pub1, "cards", "doc_id", spool_ship(spool1), recording_sweep(sweeps), revision="rev1", settle_seconds=0)
    publish(pub2, "cards", "doc_id", spool_ship(spool2), recording_sweep(sweeps), revision="rev2", settle_seconds=0)
    keep = sweep_revision(sweeps[-1][1])

    schema = "doc_id long, source string, body string, revision string"
    after1 = replay_index_state(spark, [(1, spool1)], schema)
    presweep = replay_index_state(spark, [(1, spool1), (2, spool2)], schema)
    cols = ["doc_id", "source", "body", "revision"]
    return (
        after1.select(F.lit("after_pub1").alias("phase"), *cols)
        .unionByName(presweep.select(F.lit("presweep2").alias("phase"), *cols))
        .unionByName(
            presweep.filter(F.col("revision") == keep).select(F.lit("final").alias("phase"), *cols)
        )
    )


_Q153_SQL = """
WITH pub1 AS (
  SELECT doc_id, source, 'v1-' || CAST(n_chars % 7 AS VARCHAR) AS body
  FROM documents WHERE doc_id % 3 <> 0
),
pub2 AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 4 = 0 THEN 'v2-' || CAST(n_chars % 7 AS VARCHAR)
              ELSE 'v1-' || CAST(n_chars % 7 AS VARCHAR) END AS body
  FROM documents WHERE doc_id % 2 = 0
),
presweep AS (
  SELECT doc_id, source, body, 'rev2' AS revision FROM pub2
  UNION ALL
  SELECT doc_id, source, body, 'rev1' AS revision
  FROM pub1 WHERE doc_id NOT IN (SELECT doc_id FROM pub2)
)
SELECT 'after_pub1' AS phase, doc_id, source, body, 'rev1' AS revision FROM pub1
UNION ALL
SELECT 'presweep2' AS phase, doc_id, source, body, revision FROM presweep
UNION ALL
SELECT 'final' AS phase, doc_id, source, body, revision FROM presweep
WHERE revision = 'rev2'
"""


def q154_backup_package(spark, sf_dir):
    """The backup composition end-to-end (reference
    operators/backup/__init__.py:22-44): per-table K1 datapackage dump →
    S2 manifest-typed reload → one combined CKAN package payload
    (sinks/rest.py:ckan_backup_package, name='backup', title='Manual Input
    Backup'). Emits one row per resource: row count from the RELOADED frame
    (dump→load lossless) and the field signature from the payload's schema
    block — a hash match certifies both the round trip and the manifest."""
    import os  # noqa: PLC0415
    from functools import reduce  # noqa: PLC0415

    from pyspark.sql import DataFrame  # noqa: PLC0415

    from ..session import scratch_dir  # noqa: PLC0415
    from ..sinks.files import write_datapackage  # noqa: PLC0415
    from ..sinks.rest import ckan_backup_package  # noqa: PLC0415
    from ..sources.tables import load_datapackage  # noqa: PLC0415

    frames = {t: _t(spark, sf_dir, t) for t in ["region", "nation", "supplier", "customer", "part"]}
    frames["documents_meta"] = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    base = scratch_dir("srm_q154")
    reloaded = {}
    for t, df in frames.items():
        p = os.path.join(base, t)
        write_datapackage(df, p, t, fmt="csv")
        reloaded[t] = load_datapackage(spark, p)
    payload = ckan_backup_package(reloaded)
    meta = {r["name"]: r for r in payload["resources"]}
    outs = []
    for t, df in reloaded.items():
        sig = ",".join(f'{f["id"]}:{f["type"]}' for f in meta[t]["schema"]["fields"])
        outs.append(
            df.agg(F.count(F.lit(1)).alias("n_rows")).select(
                F.lit(payload["name"]).alias("package_name"),
                F.lit(payload["title"]).alias("package_title"),
                F.lit(t).alias("resource"),
                F.lit(meta[t]["format"]).alias("fmt"),
                F.col("n_rows"),
                F.lit(sig).alias("fields_sig"),
            )
        )
    return reduce(DataFrame.unionByName, outs)


_Q154_SIGS = {
    "region": ("region", "r_regionkey:int,r_name:string"),
    "nation": ("nation", "n_nationkey:int,n_name:string,n_regionkey:int"),
    "supplier": ("supplier", "s_suppkey:bigint,s_name:string,s_nationkey:int,s_acctbal:double"),
    "customer": (
        "customer",
        "c_custkey:bigint,c_name:string,c_nationkey:int,c_acctbal:double,c_mktsegment:string",
    ),
    "part": (
        "part",
        "p_partkey:bigint,p_name:string,p_brand:string,p_type:string,p_size:int,p_retailprice:double",
    ),
    "documents_meta": ("documents", "doc_id:bigint,source:string,n_chars:bigint"),
}


_Q154_SQL = "\nUNION ALL\n".join(
    f"SELECT 'backup' AS package_name, 'Manual Input Backup' AS package_title,\n"
    f"       '{res}' AS resource, 'CSV' AS fmt,\n"
    f"       (SELECT COUNT(*) FROM {src}) AS n_rows,\n"
    f"       '{sig}' AS fields_sig"
    for res, (src, sig) in _Q154_SIGS.items()
)


QUERIES.update({
    "q153_es_revision_swap": QueryDef(
        q153_es_revision_swap,
        _Q153_SQL,
        "ES publish lifecycle: bulk upsert + revision sweep state semantics (K3)",
    ),
    "q154_backup_package": QueryDef(
        q154_backup_package,
        _Q154_SQL,
        "backup composition: per-table datapackage dump -> reload -> CKAN package (S2 K1 K5)",
    ),
})
