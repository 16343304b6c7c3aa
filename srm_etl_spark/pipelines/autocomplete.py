"""The autocomplete corpus flow, end-to-end — Spark shape of the reference's
``operators/derive/autocomplete.py:165-207``:

    card_data
      → template cross-product explode  (U5, ``autocomplete.py:61-138``)
      → group by query, keep the first row in importance order,
        count + min(low) as group aggregates  (W2 + O2,
        ``autocomplete.py:185-193``)
      → fuzzy city → bounds lookup       (J7, ``autocomplete.py:141-162``)
      → score = (ln(count) + 1)², 0.5 for low entries
        (``autocomplete.py:196-197``)
      → stable id from the query's alphanumeric runs (``autocomplete.py:205``)

Reference semantics kept:

- a template only consumes the fields it names; rows whose query still holds
  an unfilled value are dropped exactly the reference's way (``'None' in
  query``, ``autocomplete.py:108-109``);
- situations with fewer than 3 id segments are excluded
  (``autocomplete.py:94-98``, minus the hand-curated whitelist);
- an entry is ``low`` when its situation/response is not among the card's
  DIRECT tags or when the org has < 5 branches (``autocomplete.py:100-106``);
  the group's ``low`` is the AND over members (``aggregate='min'``);
- city rows whose city matches no bounds key are dropped; cityless rows pass
  through (``autocomplete.py:144-161``).

Scale shape: the explode is a map-side lateral fan-out (no shuffle until the
query groupBy); the group step is one shuffle on the query string; the bounds
dimension is broadcast and the fuzzy match runs as a per-row scan of ~10³
keys, exactly like the reference's in-memory city list — at larger dimension
sizes block the candidates first, as ``operators/relational.py:resolve_entities``
does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.taxonomy import update_taxonomy_with_parents

# Mirrors the reference's TEMPLATES (autocomplete.py:17-28) — one per
# placeholder combination the flow distinguishes; importance = list position.
TEMPLATES = [
    "{response}",
    "{situation}",
    "{response} עבור {situation}",
    "{org_name}",
    "{response} ב{city_name}",
]


def autocomplete_input(flat_table_df: DataFrame) -> DataFrame:
    """The slice of card_data the corpus needs: direct + parent-expanded tag
    arrays, the display org name, city, branch count — geometry-validated
    like the card table the reference loads (to_dp.py:866-871)."""
    from ..functions.geo import validate_geometry  # noqa: PLC0415

    national = F.coalesce(F.col("national_service"), F.lit(False))
    return flat_table_df.filter(
        validate_geometry(F.array("lon", "lat")) | national
    ).select(
        F.col("responses").alias("direct_responses"),
        F.col("situations").alias("direct_situations"),
        update_taxonomy_with_parents(F.col("responses")).alias("responses_parents"),
        update_taxonomy_with_parents(F.col("situations")).alias("situations_parents"),
        F.coalesce("organization_short_name", "organization_name").alias("org_name"),
        "branch_city",
        "organization_branch_count",
    )


def city_bounds(locations: DataFrame) -> DataFrame:
    """Bounds dimension (reference prepare_locations): key → [W,S,E,N].

    Every third key is corrupted (suffix 'X') so the fuzzy matcher has real
    work; the numeric nation key doubles as the deterministic tie-break."""
    nk = F.substring("key", 5, 10).cast("int")
    bkey = F.when(nk % 3 == 0, F.concat(F.col("city"), F.lit("X"))).otherwise(
        F.col("city")
    )
    bounds = F.format_string(
        "[%.5f,%.5f,%.5f,%.5f]",
        F.col("lon") - 0.1,
        F.col("lat") - 0.1,
        F.col("lon") + 0.1,
        F.col("lat") + 0.1,
    )
    return locations.select(bkey.alias("bkey"), nk.alias("bnk"), bounds.alias("bounds"))


def autocomplete_corpus(
    cards: DataFrame,
    bounds: DataFrame,
    min_branches: int = 5,
    max_city_distance: int = 2,
) -> DataFrame:
    """U5 → W2 → J7 → score, as one declarative plan."""
    tpl = F.array(*[F.lit(t) for t in TEMPLATES])
    ex = cards.select(
        "*", F.posexplode(tpl).alias("importance", "template")
    )
    has = {p: F.col("template").contains("{%s}" % p) for p in ("response", "situation", "org_name", "city_name")}
    null_arr = F.array(F.lit(None).cast("string"))
    ex = (
        ex.withColumn(
            "resp",
            F.explode(F.when(has["response"], F.col("responses_parents")).otherwise(null_arr)),
        )
        .withColumn(
            "sit",
            F.explode(F.when(has["situation"], F.col("situations_parents")).otherwise(null_arr)),
        )
        .withColumn("org", F.when(has["org_name"], F.col("org_name")))
        .withColumn("city", F.when(has["city_name"], F.col("branch_city")))
        # reference autocomplete.py:94-98 — sub-3-segment situations are noise
        .filter(F.col("sit").isNull() | (F.size(F.split("sit", ":")) >= 3))
    )
    query = F.col("template")
    for ph, val in (("response", "resp"), ("situation", "sit"), ("org_name", "org"), ("city_name", "city")):
        query = F.replace(query, F.lit("{%s}" % ph), F.coalesce(F.col(val), F.lit("None")))
    low = (
        (F.col("resp").isNotNull() & ~F.array_contains("direct_responses", F.col("resp")))
        | (F.col("sit").isNotNull() & ~F.array_contains("direct_situations", F.col("sit")))
        | (F.col("org").isNotNull() & (F.col("organization_branch_count") < min_branches))
    )
    q = ex.select(
        query.alias("query"), "importance", "resp", "sit", "org", "city", low.alias("low")
    ).filter(~F.col("query").contains("None"))

    # W2 as one hash aggregate instead of a ranked window: min_by over the
    # (importance, fields) ordering — nulls mapped to a max sentinel so the
    # keeper matches the window's NULLS LAST — combines map-side, so the
    # shuffle carries one row per distinct query per mapper, not the whole
    # template fan-out.
    sent = "￿"
    order_key = F.struct(
        F.col("importance"),
        F.coalesce("resp", F.lit(sent)),
        F.coalesce("sit", F.lit(sent)),
        F.coalesce("org", F.lit(sent)),
        F.coalesce("city", F.lit(sent)),
    )
    winner = F.struct("importance", "resp", "sit", "org", "city")
    grouped = (
        q.groupBy("query")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.bool_and("low").alias("low"),
            F.min_by(winner, order_key).alias("_w"),
        )
        .select(
            "query",
            "n",
            "low",
            F.col("_w.importance").alias("importance"),
            F.col("_w.resp").alias("response"),
            F.col("_w.sit").alias("situation"),
            F.col("_w.org").alias("org_name"),
            F.col("_w.city").alias("city_name"),
        )
    )

    # ``grouped`` has TWO consumers (the fuzzy city-bounds resolution AND
    # the final left join) — without a materialization the whole
    # template × response × situation fan-out and its hash aggregate run
    # twice per action. Post-aggregate it is corpus-dictionary-sized
    # (#distinct queries). A lineage-TRUNCATING checkpoint, not a persist:
    # with a persist both consumers' plans (and every downstream op's
    # analysis) still carry the full template fan-out subtree; the
    # checkpoint bottoms them out at a block scan. The city-bounds join
    # below already broadcasts its dimension side explicitly (a checkpoint
    # scan has no size statistics).
    from ..operators.session_cache import keep_checkpointed_pooled  # noqa: PLC0415

    grouped = keep_checkpointed_pooled(grouped, "autocomplete_grouped", eager=False)

    # J7: fuzzy city → bounds; best candidate by (distance, key, nation key).
    with_city = grouped.filter(F.col("city_name").isNotNull())
    cand = with_city.join(
        F.broadcast(bounds),
        F.levenshtein(F.col("city_name"), F.col("bkey")) <= max_city_distance,
    )
    wbest = Window.partitionBy("query").orderBy(
        F.levenshtein(F.col("city_name"), F.col("bkey")).asc(),
        F.asc("bkey"),
        F.asc("bnk"),
    )
    best = (
        cand.withColumn("_brn", F.row_number().over(wbest))
        .filter(F.col("_brn") == 1)
        .select("query", "bounds")
    )
    resolved = grouped.join(best, "query", "left").filter(
        F.col("city_name").isNull() | F.col("bounds").isNotNull()
    )

    score = F.when(F.col("low"), F.lit(0.5)).otherwise(
        F.pow(F.log(F.col("n").cast("double")) + 1.0, 2.0)
    )
    qid = F.btrim(
        F.regexp_replace("query", "[^0-9a-zA-Zא-ת]+", "_"), F.lit("_")
    )
    return resolved.select(
        "query",
        qid.alias("qid"),
        F.col("n").cast("long").alias("n"),
        F.round(score, 6).alias("score"),
        "importance",
        "response",
        "situation",
        "org_name",
        "city_name",
        "low",
        "bounds",
    )
