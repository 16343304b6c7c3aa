"""Sink tests: GeoJSON feature generation, sitemap chunking invariants, ES
mapping generation and bulk-action stamping — all without external services."""

import json

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from srm_etl_spark.sinks import es_mapping, revision_sweep_body, to_es_actions
from srm_etl_spark.sinks.es import publish_mapping
from srm_etl_spark.sinks.files import geojson_features, sitemap_documents, write_sitemaps


def test_geojson_features(spark):
    df = spark.createDataFrame(
        [(34.78, 32.08, "tlv", 3), (35.21, 31.77, "jlm", 5)],
        "lon double, lat double, name string, n long",
    )
    feats = [json.loads(r.feature) for r in geojson_features(df).collect()]
    assert len(feats) == 2
    by_name = {f["properties"]["name"]: f for f in feats}
    assert by_name["tlv"]["geometry"]["coordinates"] == [34.78, 32.08]
    assert by_name["tlv"]["type"] == "Feature"
    assert by_name["jlm"]["properties"]["n"] == 5


def test_sitemap_chunking(spark):
    urls = spark.range(2500).select(
        F.concat(F.lit("https://example.org/card/"), F.col("id")).alias("url")
    )
    docs = sitemap_documents(urls, urls_per_file=1000).collect()
    assert len(docs) == 3  # 2500 urls / 1000 per file (sitemap.org invariant)
    assert sorted(d.n_urls for d in docs) == [500, 1000, 1000]
    for d in docs:
        assert d.xml.startswith('<?xml version="1.0"')
        assert d.xml.count("<loc>") == d.n_urls
        assert d.xml.rstrip().endswith("</urlset>")
    # no URL lost or duplicated across chunks
    all_locs = sum(d.xml.count("example.org/card/") for d in docs)
    assert all_locs == 2500


def test_write_sitemaps_one_valid_xml_doc_per_file(spark, tmp_path):
    import pathlib
    import xml.etree.ElementTree as ET

    urls = spark.range(250).select(
        F.concat(F.lit("https://example.org/q?a=1&b=<2>&id="), F.col("id")).alias("url")
    )
    out = str(tmp_path / "sitemaps")
    write_sitemaps(urls, out, urls_per_file=100)
    files = sorted(pathlib.Path(out).glob("file_index=*/part-*.txt"))
    dirs = {f.parent.name for f in files}
    assert dirs == {"file_index=0", "file_index=1", "file_index=2"}
    assert len(files) == 3  # exactly one file per chunk
    total = 0
    for f in files:
        root = ET.fromstring(f.read_text())  # escaped & well-formed or this raises
        locs = [e.text for e in root.iter("{http://www.sitemaps.org/schemas/sitemap/0.9}loc")]
        assert all("a=1&b=<2>" in u for u in locs)  # entities round-trip back
        total += len(locs)
    assert total == 250


def test_es_mapping_from_metadata():
    schema = StructType(
        [
            StructField("card_id", StringType(), metadata={"es:type": "keyword"}),
            StructField("name", StringType(), metadata={"es:type": "hebrew"}),
            StructField("suggest", StringType(), metadata={"es:type": "autocomplete"}),
            StructField("hidden", StringType(), metadata={"es:index": False}),
            StructField("score", DoubleType()),
            StructField("tags", ArrayType(StringType()), metadata={"es:type": "keyword"}),
            StructField(
                "address",
                StructType([StructField("city", StringType()), StructField("n", LongType())]),
            ),
            # struct fields get the SAME post-conversion hint treatment as
            # leaves (reference applies its rules after _convert_type on every
            # field, es_utils.py:27-42): the name-suffix rule and es:index
            # both reach object entries.
            StructField(
                "branch_details",
                StructType([StructField("unit", StringType())]),
                metadata={"es:index": False},
            ),
        ]
    )
    m = es_mapping(schema)["properties"]
    assert m["card_id"] == {"type": "keyword"}
    # hebrew is a MULTI-FIELD on the base type (reference es_utils.py:36-42),
    # not a type replacement: card.name AND card.name.hebrew both resolve.
    assert m["name"] == {
        "type": "text",
        "fields": {"hebrew": {"type": "text", "analyzer": "hebrew"}},
    }
    assert m["suggest"]["type"] == "search_as_you_type"
    assert m["hidden"]["index"] is False
    assert m["score"] == {"type": "double", "index": True}
    assert m["tags"] == {"type": "keyword"}  # ES is array-transparent
    assert m["address"]["properties"]["n"] == {"type": "long", "index": True}
    bd = m["branch_details"]
    assert bd["type"] == "object"
    assert bd["index"] is False  # es:index honored on struct entries
    assert bd["fields"] == {"hebrew": {"type": "text", "analyzer": "hebrew"}}
    assert bd["properties"]["unit"] == {"type": "text"}


def test_es_mapping_golden_card_schema():
    """Golden mapping for a representative card schema, structure-matched to
    the reference's SRMMappingGenerator output (es_utils.py:21-44): suffix
    auto-rule, index:True on numerics/geopoint, es:itemType for `any`."""
    schema = StructType(
        [
            StructField("card_id", StringType(), metadata={"es:keyword": True}),
            StructField("service_name", StringType()),  # suffix -> hebrew
            StructField("organization_purpose", StringType()),  # suffix
            StructField("situation_ids", ArrayType(StringType()), metadata={"es:keyword": True}),
            StructField("branch_geometry", StringType(), metadata={"es:type": "geopoint"}),
            StructField("score", DoubleType()),
            StructField("organization_kind", StringType()),  # no suffix match
            StructField("data", StringType(), metadata={"es:type": "any"}),
            StructField(
                "address_parts",
                StructType([StructField("primary", StringType()), StructField("num", LongType())]),
            ),
        ]
    )
    heb = {"hebrew": {"type": "text", "analyzer": "hebrew"}}
    m = es_mapping(schema)["properties"]
    assert m["card_id"] == {"type": "keyword"}
    assert m["service_name"] == {"type": "text", "fields": heb}
    assert m["organization_purpose"] == {"type": "text", "fields": heb}
    assert m["situation_ids"] == {"type": "keyword"}
    assert m["branch_geometry"] == {"type": "geo_point", "index": True}
    assert m["score"] == {"type": "double", "index": True}
    assert m["organization_kind"] == {"type": "text"}
    assert m["data"] == {"type": "text"}  # any -> es:itemType default string
    assert m["address_parts"]["type"] == "object"
    assert m["address_parts"]["properties"]["num"] == {"type": "long", "index": True}

    # the publish-time mapping adds the revision stamp as an explicit keyword
    # (reference adds the field with es:keyword before dump, es_utils.py:67 —
    # the sweep's term query must not depend on dynamic mapping)
    pm = publish_mapping(schema)["properties"]
    assert pm["revision"] == {"type": "keyword"}
    assert {k: v for k, v in pm.items() if k != "revision"} == m
    # and the document mapping itself is not mutated by the publish variant
    assert "revision" not in es_mapping(schema)["properties"]


def test_es_actions_and_sweep(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    actions = to_es_actions(df, "cards", "id", revision="rev123").collect()
    assert len(actions) == 2
    act = json.loads(actions[0].action_json)
    doc = json.loads(actions[0].doc_json)
    assert act["index"]["_index"] == "cards"
    assert act["index"]["_id"] in ("1", "2")
    assert doc["revision"] == "rev123"
    sweep = revision_sweep_body("rev123")
    assert sweep["query"]["bool"]["must_not"] == [{"term": {"revision": "rev123"}}]


def test_publish_ensures_index_with_revision_mapping(spark):
    """publish(ensure=...) creates the index from publish_mapping BEFORE the
    bulk load (the reference's dump_to_es wires SRMMappingGenerator in as
    mapper_cls, es_utils.py:46-57) — so the sweep's term query always hits
    an explicit keyword-mapped revision field."""
    from srm_etl_spark.sinks.es import publish

    df = spark.createDataFrame([(1, "a")], "doc_id long, service_name string")
    ensured: list = []
    publish(
        df, "cards", "doc_id",
        ship=lambda rows: None,
        sweep=lambda i, b: None,
        ensure=lambda i, m: ensured.append((i, m)),
        settle_seconds=0,
    )
    assert ensured == [("cards", publish_mapping(df.schema))]
    props = ensured[0][1]["properties"]
    assert props["revision"] == {"type": "keyword"}
    # suffix auto-rule flows through to the publish-time mapping too
    assert props["service_name"]["fields"] == {"hebrew": {"type": "text", "analyzer": "hebrew"}}


def test_mapbox_upload_protocol_contract():
    """K7 (reference operators/derive/to_mapbox.py:23-66): credentials ->
    S3 stage -> create-upload -> poll-to-complete, with the error asserts
    and a bounded poll loop."""
    from srm_etl_spark.sinks.rest import mapbox_upload_tileset

    calls, staged, slept = [], [], []
    creds = {
        "accessKeyId": "AK", "secretAccessKey": "SK", "sessionToken": "ST",
        "bucket": "b", "key": "k", "url": "s3://b/k",
    }
    polls = iter([{"id": "u1", "complete": False, "progress": 0.5},
                  {"id": "u1", "complete": True, "progress": 1.0}])

    def fetch(url, params):
        calls.append((url, params))
        if url == "uploads/v1/credentials":
            return dict(creds)
        if url == "uploads/v1":
            assert params["json"] == {"tileset": "me.cards", "url": "s3://b/k", "name": "cards"}
            return {"id": "u1"}
        assert url == "uploads/v1/u1"
        return next(polls)

    def put_object(c, path):
        staged.append((c["bucket"], c["key"], path))

    out = mapbox_upload_tileset(
        fetch, put_object, "/tmp/cards.mbtiles", "me.cards", "cards",
        sleep=slept.append,
    )
    assert out["complete"] and staged == [("b", "k", "/tmp/cards.mbtiles")]
    assert slept == [10]  # slept once between the two polls

    # error surfaces fail loudly (the reference's asserts)
    import pytest

    def fetch_err(url, params):
        if url == "uploads/v1/credentials":
            return dict(creds)
        return {"error": "boom", "id": "u2"}

    with pytest.raises(RuntimeError, match="create failed"):
        mapbox_upload_tileset(fetch_err, put_object, "f", "t", "n")


def test_github_backup_push_protocol():
    """github_backup (reference operators/github_backup/__init__.py:26-66):
    GET ref -> sha carried on update, omitted on create; PUT payload is
    base64 content + branch; 200/201 succeed."""
    import base64

    from srm_etl_spark.sinks.rest import github_backup_push

    puts = []

    def put_ok(url, payload):
        puts.append((url, payload))
        return 201

    # create path: file absent (404) -> no sha in payload
    ok = github_backup_push(lambda u: (404, {}), put_ok, "2026-08-15T00:00:00")
    assert ok and "sha" not in puts[-1][1]
    assert base64.b64decode(puts[-1][1]["content"]).decode() == "2026-08-15T00:00:00"
    assert puts[-1][1]["branch"] == "backup-request"

    # update path: existing blob -> sha forwarded
    ok = github_backup_push(lambda u: (200, {"sha": "abc123"}), put_ok, "ts")
    assert ok and puts[-1][1]["sha"] == "abc123"
    # the GET carries the branch ref (the reference's ?ref= query)
    got = []
    github_backup_push(lambda u: got.append(u) or (404, {}), put_ok, "ts")
    assert got[0].endswith("?ref=backup-request")
    # default api_url is a full https URL (requests needs a scheme)
    assert got[0].startswith("https://api.github.com/repos/")

    # non-2xx PUT -> failure reported, not raised (reference logs and returns)
    assert github_backup_push(lambda u: (404, {}), lambda u, p: 500, "ts") is False
