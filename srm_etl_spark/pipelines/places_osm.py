"""Fixture-driven twin of the reference's OSM place-bounds generator
(``data-analysis/osm/generate_places.py``) — the offline one-shot that
produces the location-bounds datapackage the autocomplete and places flows
consume (``operators/derive/autocomplete.py:44-56``, ``to_es.py:163-206``).

What is reproduced Spark-first (all of the generator's LOGIC):

- **hstore tag parse** (:154-155, pghstore.loads) — native regexp → map;
- **Hebrew-name harvest** (:54-61): property values that are majority-Hebrew
  with no Latin letters, run through the ``fix_osm_name`` normalization chain
  (:113-138 — dash collapse, quote canonicalization, annotation strips,
  קרית/נוה prefix rewrites, ייה→יה suffix, the שהם special case, bad-word /
  semicolon / digit / length rejections), sorted distinct;
- **row gate** (:161-163): place rank ∈ {city,town,village,hamlet} OR
  residential landuse OR a population tag; polygonal geometry; ≥1 name;
- **key** (:64-65): the Hebrew runs of the joined names, '_'-joined;
- **merge per key** (:166-173): first row's scalars (arrival order made
  explicit: min feature id), geometry collected;
- **official-settlement fuzzy join** (:75-95 + :180-207): the gov registry
  names cleaned (:98-110), every OSM name scored against every official,
  cutoff 86; per-official best (score, key) — ties to the GREATER key, the
  reference's ``sorted(reverse=True)`` — accepted at ≥87; a row's official
  is its best ≥87 candidate whose official maps back to this row (the
  two-sided handshake of ``select_officials``);
- **keep rule** (:212): official OR ranked place OR the ``include_anyways``
  prefix whitelist (:38-46);
- **bounds** (:68-72): the union's bbox — min/max over every member
  polygon's points (bbox(union) == bbox over all points, so no geometry
  library is needed: the unary_union bbox is computed exactly).

Deliberate substitutions (documented, the rest is semantics-parity):

- the PBF download + ogr2ogr conversion (:18-30) are external C tooling —
  the feature source is an injected fixture built deterministically from the
  warehouse (customer × nation), carrying every shape the chain
  distinguishes;
- thefuzz's UWRatio scorer (:80) is replaced by an integer levenshtein
  ratio ``floor(100·(maxlen−lev)/maxlen)`` — same cutoff/accept structure
  (86/87), deterministic and engine/oracle-portable;
- "first in arrival order" and score ties are pinned to explicit orders
  (min fid; score desc then name asc) — the reference inherits generator /
  set-iteration order, which is not reproducible even run-to-run.

Scale shape: one shuffle groups features per key; the officials table is a
broadcast dimension (10²-10³ rows — the gov settlements registry is ~1.5k);
the per-name scoring is a broadcast nested loop bounded by
|keys| × |officials|, the same work the reference does in-memory per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load_table

RANKS = ("city", "town", "village", "hamlet")

# reference generate_places.py:39-41
OKAY_PREFIXES = ["מועצה אזורית", "א-", "אבו ", "אום ", "אל ", "אל-", "גבעת "]

# reference generate_places.py:129-131
BAD_WORDS = [
    "שכונת", "דיסטריקט", "שדרות ", "כפר הנוער ", "יורדי ים", "בית חולים",
    "נפת שכם", "יישוב בדואי",
]

_DASHES = ((" - ", "-"), (" -", "-"), ("- ", "-"))


_HS_VAL = r'((?:[^"\\]|\\.)*)'


def hstore_escape(col) -> F.Column:
    """pghstore value escaping: backslash then double-quote."""
    c = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    return F.replace(c, F.lit('"'), F.lit('\\"'))


def parse_hstore(col) -> F.Column:
    """pghstore.loads as a native expression: '"k"=>"v",...' → map, honoring
    the \\" and \\\\ value escapes (OSM names legitimately contain quotes —
    gershayim written as ASCII double-quotes)."""
    pairs = F.regexp_extract_all(
        col, F.lit(r'"(?:[^"\\]|\\.)+"=>"(?:[^"\\]|\\.)*"'), 0
    )
    return F.map_from_entries(
        F.transform(
            pairs,
            lambda m: F.struct(
                F.regexp_extract(m, r'^"((?:[^"\\]|\\.)+)"=>', 1).alias("key"),
                F.regexp_replace(
                    F.regexp_extract(m, '=>"' + _HS_VAL + '"$', 1),
                    r"\\(.)", "$1",
                ).alias("value"),
            ),
        )
    )


def is_heb(col) -> F.Column:
    """generate_places.py:54-55: majority-Hebrew, zero Latin letters."""
    heb = F.size(F.regexp_extract_all(col, F.lit("[א-ת]"), 0))
    eng = F.size(F.regexp_extract_all(col, F.lit("[a-zA-Z]"), 0))
    return (heb * 2 > F.length(col)) & (eng == 0)


def fix_osm_name(col) -> F.Column:
    """The OSM display-name normalization chain (generate_places.py:113-138),
    null for rejected names. Replacement order matches the reference."""
    c = col
    for a, b in (*_DASHES, ('"', "״"), ("'", "׳"),
                 ("(מושב)", ""), ("(קיבוץ)", ""), ("(הרוס)", "")):
        c = F.replace(c, F.lit(a), F.lit(b))
    big = F.lit(1 << 20)
    c = F.when(
        c.startswith("קרית "), F.concat(F.lit("קריית "), F.substring(c, 6, big))
    ).otherwise(c)
    c = F.when(
        c.startswith("נוה "), F.concat(F.lit("נווה "), F.substring(c, 5, big))
    ).otherwise(c)
    c = F.when(
        c.endswith("ייה"),
        F.concat(F.substring(c, 1, F.length(c) - 3), F.lit("יה")),
    ).otherwise(c)
    c = F.when(c == "שהם", F.lit("שוהם")).otherwise(c)
    bad = F.lit(False)  # noqa: FBT003
    for w in BAD_WORDS:
        bad = bad | c.contains(w)
    bad = (
        bad
        | c.contains(";")
        | c.rlike("[0-9]")
        | (F.length(c) > 20)
        | (F.size(F.split(c, " ")) > 7)
    )
    return F.when(~bad, F.nullif(F.trim(c), F.lit("")))


def fix_official_name(col) -> F.Column:
    """Gov settlement-registry name cleanup (generate_places.py:98-110)."""
    c = col
    for a in ("(שבט)", "(יישוב)", "(ישוב)", "(מושב)", "(כפר נוער)", "(קבוצה)"):
        c = F.replace(c, F.lit(a), F.lit(""))
    for a, b in _DASHES:
        c = F.replace(c, F.lit(a), F.lit(b))
    return F.trim(c)


def names_from_tags(tags_map) -> F.Column:
    """generate_places.py:58-61: Hebrew property values → fixed → sorted
    distinct (rejections drop)."""
    vals = F.map_values(tags_map)
    fixed = F.transform(F.filter(vals, is_heb), fix_osm_name)
    return F.array_sort(F.array_distinct(F.filter(fixed, lambda x: x.isNotNull())))


def key_of_names(names_col) -> F.Column:
    """generate_places.py:64-65: Hebrew runs of the joined names, '_'-joined."""
    joined = F.array_join(names_col, " ")
    return F.array_join(F.regexp_extract_all(joined, F.lit("[א-ת]+"), 0), "_")


# --------------------------------------------------------------------------
# fixture sources (the PBF/ogr2ogr and datagov downloads stay external)
# --------------------------------------------------------------------------

# Raw OSM display names, one family per index — together they cover every
# fix_osm_name path (prefix/suffix rewrites, dash/quote canonicalization,
# bad words, digits, the שהם special case, the length rejection via the
# alias variants) and every include_anyways prefix family.
_BASE_NAMES = [
    "חיפה", "קרית גת", "נוה צדק", "הרצלייה", "תל אביב - יפו", 'עין "גדי"',
    "שכונת רמות", "אום אל-פחם", "מועצה אזורית גלבוע", "שהם", "רחוב 12",
    "אבו גוש", "גבעת שמואל",
]

# Gov registry rows (pre-cleanup annotations included); 'חיפא' is a
# sub-cutoff near miss, 'גבעת שמואלל' a 90-score fuzzy (non-exact) match.
_OFFICIAL_POOL = [
    "חיפה", "קריית גת (יישוב)", "נווה צדק", "הרצליה (מושב)", "תל אביב - יפו",
    "אום אל-פחם (שבט)", "שוהם", "אבו גוש", "חיפא", "גבעת שמואלל",
]


def osm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One multipolygon feature per customer: hstore tag string (name +
    English alias + place/landuse/population stripes) and a rectangle —
    doubled into a second disjoint rectangle on the % 6 stripe so the
    union-bbox path sees true multi-geometry rows."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    j = c.join(n, c.c_nationkey == n.n_nationkey)
    ck, nk = F.col("c_custkey"), F.col("n_nationkey")
    base = F.element_at(F.array(*[F.lit(s) for s in _BASE_NAMES]), (ck % 13 + 1).cast("int"))
    alias = F.when(ck % 2 == 0, F.concat(base, F.lit(" עילית")))
    place = F.element_at(
        F.array(*[F.lit(s) for s in ("city", "town", "village", "hamlet", "suburb")]),
        F.when(ck % 7 < 5, (ck % 7 + 1).cast("int")).otherwise(F.lit(None).cast("int")),
    )
    population = F.when(ck % 11 == 4, ((ck * 7) % 9000 + 100).cast("string"))
    landuse = F.when(ck % 5 == 3, F.lit("residential"))

    def entry(k, v):
        return F.when(
            v.isNotNull(),
            F.concat(F.lit(f'"{k}"=>"'), hstore_escape(v), F.lit('"')),
        )

    tags = F.concat_ws(
        ",",
        entry("name", base),
        entry("alt_name", alias),
        entry("name:en", F.lit("City Center")),
        entry("place", place),
        entry("landuse", landuse),
        entry("population", population),
    )
    lon0 = F.lit(33.2) + (nk % 12) * F.lit(0.3) + (ck % 10) * F.lit(0.01)
    lat0 = F.lit(29.5) + (nk % 10) * F.lit(0.35)

    def rect(w, s):
        e, t = w + F.lit(0.02), s + F.lit(0.03)
        return F.array(
            F.array(w, s), F.array(e, s), F.array(e, t), F.array(w, t)
        )

    poly1 = rect(lon0, lat0)
    poly2 = rect(lon0 + F.lit(0.5), lat0 + F.lit(0.25))
    geometry = F.when(ck % 6 == 0, F.array(poly1, poly2)).otherwise(F.array(poly1))
    return j.select(
        ck.alias("fid"), tags.alias("tags"), geometry.alias("geometry")
    )


def official_places(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The datagov settlements registry twin (generate_places.py:180-189):
    pool rows per nation, the % 9 == 8 stripe standing in for the
    ``סמל_ישוב != '0'`` filter, names cleaned, distinct."""
    n = load_table(spark, sf_dir, "nation")
    nk = F.col("n_nationkey")
    raw = F.element_at(
        F.array(*[F.lit(s) for s in _OFFICIAL_POOL]), (nk % 10 + 1).cast("int")
    )
    return (
        n.filter(nk % 9 != 8)
        .select(fix_official_name(raw).alias("official"))
        .distinct()
    )


# --------------------------------------------------------------------------
# the pipeline
# --------------------------------------------------------------------------

def _ratio(a, b) -> F.Column:
    """Integer levenshtein ratio (the UWRatio substitution): exact strings
    score 100; the 86/87 gates keep the reference's structure."""
    mx = F.greatest(F.length(a), F.length(b))
    return F.floor(
        (F.lit(100) * (mx - F.levenshtein(a, b))).cast("double") / mx.cast("double")
    ).cast("int")


def generate_place_bounds(
    features: DataFrame, officials: DataFrame, cutoff: int = 86, accept: int = 87
) -> dict[str, DataFrame]:
    """The full generator: returns ``merged`` (the per-key join_with_self
    surface, generate_places.py:166-173) and ``places`` (the final
    official-matched, filtered, bounds-annotated package rows, :209-223)."""
    from ..operators.session_cache import (  # noqa: PLC0415
        keep_checkpointed_pooled,
        keep_persisted,
    )

    # the parsed tag map is referenced FOUR times below (three scalar
    # extracts + the name harvest) — same projection-collapse duplication as
    # ``name``, so the parse gets its own barrier too
    parsed = keep_persisted(
        features.select("fid", "geometry", parse_hstore(F.col("tags")).alias("props")),
        "places_osm_parsed",
    )
    named = parsed.select(
        "fid", "geometry",
        F.element_at("props", "place").alias("place"),
        F.element_at("props", "landuse").alias("landuse"),
        F.element_at("props", "population").alias("population"),
        names_from_tags(F.col("props")).alias("name"),
    )
    # pin the frame IMMEDIATELY after the name computation: ``name`` is a
    # DEEP expression (hstore parse -> per-value fix chain, too large for
    # whole-stage codegen) and Catalyst's projection collapse would inline
    # it once per downstream reference (the gate filter, the key, the output
    # column — measured ~3x re-evaluation of the dominant per-row work).
    # A lineage-truncating checkpoint (not a persist): the fix-chain tree is
    # ~10^3 expression nodes, and with a persist every downstream op's
    # analysis re-walks it (the cache only short-circuits EXECUTION — the
    # logical plan under each consumer still carries the whole subtree;
    # measured ~5 s of warm plan-construction per q163 build on this tree).
    # The checkpoint bottoms every consumer out at a block scan. The frame
    # is feature-count-sized (dimension scale, never corpus scale).
    named = keep_checkpointed_pooled(named, "places_osm_named", eager=False)
    rows = named.filter(
        F.col("place").isin(*RANKS)
        | (F.col("landuse") == "residential")
        | (F.col("population").isNotNull() & (F.col("population") != ""))
    ).filter(F.size("name") > 0)
    pts = F.flatten(F.col("geometry"))
    rows = rows.select(
        "fid", "place", "landuse", "population", "name",
        key_of_names(F.col("name")).alias("key"),
        F.array_min(F.transform(pts, lambda p: p[0])).alias("_minlon"),
        F.array_min(F.transform(pts, lambda p: p[1])).alias("_minlat"),
        F.array_max(F.transform(pts, lambda p: p[0])).alias("_maxlon"),
        F.array_max(F.transform(pts, lambda p: p[1])).alias("_maxlat"),
    )
    merged = rows.groupBy("key").agg(
        F.min_by(
            F.struct("place", "landuse", "population", "name"), F.col("fid")
        ).alias("_first"),
        F.count(F.lit(1)).alias("n_features"),
        # bbox of the unary_union == bbox over every member point
        F.min("_minlon").alias("minlon"), F.min("_minlat").alias("minlat"),
        F.max("_maxlon").alias("maxlon"), F.max("_maxlat").alias("maxlat"),
    ).select("key", "_first.*", "n_features", "minlon", "minlat", "maxlon", "maxlat")
    # merged has THREE consumers (the merged surface itself, the fuzzy
    # candidate scan, and the final official join) — without a persist each
    # one re-runs the scan + group-by (measured 37.8 s at sf0.1 with both
    # pins missing: the whole pipeline re-derived per leg). Post-merge it is
    # key-count-sized (10²-10³ rows); this pin is the reference's
    # checkpoint() (generate_places.py:175) made explicit — a TRUNCATING
    # checkpoint so the three consumers' plans (and their analysis cost)
    # bottom out at the scan instead of each carrying the full parse tree.
    merged = keep_checkpointed_pooled(merged, "places_osm_merged", eager=False)

    # fuzzy official matching over the merged rows (generate_places.py:75-95).
    # Score computed ONCE per (name, official) pair — a ratio in the join
    # predicate would be re-evaluated by the downstream aggregate (no CSE
    # across join condition and agg), doubling the dominant levenshtein work.
    # Length block BEFORE the levenshtein: score >= cutoff requires
    # lev <= mx·(100−cutoff)/100, and lev >= |len(a)−len(b)| always — so a
    # pair whose length gap alone exceeds the budget can never pass. A
    # length-only predicate prunes the |names|×|officials| candidate set
    # ~10× before the quadratic edit-distance kernel ever runs, with zero
    # semantic change (every surviving score is computed exactly as before).
    _mx = F.greatest(F.length("nm"), F.length("official"))
    _gap = F.abs(F.length("nm") - F.length("official"))
    cand = (
        merged.select("key", F.explode("name").alias("nm"))
        .crossJoin(F.broadcast(officials))
        .filter(_gap * 100 <= (100 - cutoff) * _mx)
        .withColumn("score", _ratio(F.col("nm"), F.col("official")))
        .filter(F.col("score") >= cutoff)
        .groupBy("key", "official")
        .agg(F.max("score").alias("score"))
    )
    # per-official winner: max (score, key) — the reference's reverse-sorted
    # tuple head (ties go to the GREATER key) — accepted at >= accept
    top = (
        cand.groupBy("official")
        .agg(F.max(F.struct("score", "key")).alias("_t"))
        .filter(F.col("_t.score") >= accept)
        .select("official", F.col("_t.key").alias("_top_key"))
    )
    # two-sided handshake (select_officials): the row keeps its best >= accept
    # candidate whose official maps back to this row's key
    chosen = (
        cand.filter(F.col("score") >= accept)
        .join(F.broadcast(top), "official")
        .filter(F.col("key") == F.col("_top_key"))
        .groupBy("key")
        .agg(F.min_by("official", F.struct(-F.col("score"), F.col("official"))).alias("official"))
    )
    # include_anyways: the prefix whitelist as an explicit OR-chain
    # (generate_places.py:38-46)
    anyways = F.lit(False)  # noqa: FBT003
    for p in OKAY_PREFIXES:
        anyways = anyways | F.exists("name", _starts(p))
    places = (
        merged.join(chosen, "key", "left")
        .filter(
            F.col("official").isNotNull()
            | F.col("place").isin(*RANKS)
            | anyways
        )
        .select(
            "key", "place", "name", "population", "official",
            F.array("minlon", "minlat", "maxlon", "maxlat").alias("bounds"),
        )
    )
    return {"merged": merged, "places": places}


def _starts(prefix: str):
    # closure factory — a default-arg lambda would shift higher-order arity
    return lambda n: n.startswith(prefix)


