"""Unit tests for the OSM place-bounds generator twin
(pipelines/places_osm.py, reference data-analysis/osm/generate_places.py).
The composed pipeline is oracle-gated as q163; these pin the hstore escaping
and the fix_osm_name chain goldens."""

from pyspark.sql import functions as F

from srm_etl_spark.pipelines.places_osm import (
    fix_osm_name,
    hstore_escape,
    is_heb,
    parse_hstore,
)

SF = "/root/testdata/sf0.001"


def test_hstore_escape_round_trip(spark):
    vals = ['עין "גדי"', 'back\\slash', 'plain', 'mix "q" and \\e\\']
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    tagged = df.select(
        "v",
        F.concat(F.lit('"name"=>"'), hstore_escape(F.col("v")), F.lit('"')).alias("t"),
    )
    got = tagged.select("v", F.element_at(parse_hstore(F.col("t")), "name").alias("r"))
    assert all(r["v"] == r["r"] for r in got.collect())


def test_fix_osm_name_goldens(spark):
    cases = {
        "קרית גת": "קריית גת",          # prefix rewrite (:122-123)
        "נוה צדק": "נווה צדק",           # prefix rewrite (:124-125)
        "הרצלייה": "הרצליה",             # ייה suffix (:126-127)
        "תל אביב - יפו": "תל אביב-יפו",  # dash collapse (:114-116)
        'עין "גדי"': "עין ״גדי״",        # quote canonicalization (:117-118)
        "שהם": "שוהם",                   # special case (:128)
        "רמת גן (מושב)": "רמת גן",       # annotation strip + trim
        "שכונת רמות": None,              # bad word (:129-133)
        "רחוב 12": None,                 # digits (:135)
        "אבג;דה": None,                  # semicolon (:134)
        "שם ארוך מאוד שעובר את עשרים התווים": None,  # > 20 chars (:136)
        "א ב ג ד ה ו ז ח": None,         # > 7 words (:136)
    }
    df = spark.createDataFrame([(k,) for k in cases], "raw string")
    got = {r["raw"]: r["out"] for r in df.select("raw", fix_osm_name(F.col("raw")).alias("out")).collect()}
    assert got == cases


def test_is_heb(spark):
    cases = {
        "חיפה": True,
        "City Center": False,      # Latin letters
        "1234": False,             # no Hebrew majority
        "רחוב 12": True,           # digits fine, Hebrew majority, no Latin
        "חיפה Haifa": False,       # mixed -> Latin kills it
    }
    df = spark.createDataFrame([(k,) for k in cases], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", is_heb(F.col("s")).alias("h")).collect()}
    assert got == cases


