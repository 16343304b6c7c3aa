"""Taxonomy-id array kernels.

The reference's taxonomy is two trees (responses / situations) whose hierarchy
is encoded *inside* colon-delimited id strings, e.g.
``human_situations:age_group:adults``. These kernels reproduce, as native
Spark array expressions (no UDFs — they stay inside whole-stage codegen):

- parent expansion        (reference ``operators/derive/helpers.py:100-107``)
- array merge             (reference ``operators/derive/to_dp.py:84-96``)
- gender/language rules   (reference ``operators/derive/to_dp.py:99-113``)
- id normalization        (reference ``operators/derive/to_dp.py:116-177``)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .expr import let


def update_taxonomy_with_parents(ids: Column) -> Column:
    """Expand each id ``a:b:c`` into all its prefixes with >= 2 segments.

    ``['a:b:c']`` -> ``['a:b', 'a:b:c']``; result is de-duplicated and sorted
    (the reference builds a set and returns ``sorted(ret)``). Null input maps
    to the empty list.
    """
    def expand(parts: Column) -> Column:
        # F.sequence(2, n) is DESCENDING [2,1] when n < 2, which would expand a
        # single-segment id to itself; the reference's range(2, n+1) yields []
        # there — guard so sub-2-segment ids contribute nothing.
        n = F.size(parts)
        return F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(2), n),
                lambda i: F.array_join(F.slice(parts, F.lit(1), i), ":"),
            ),
        ).otherwise(F.array().cast("array<string>"))

    prefixes = F.transform(
        F.coalesce(ids, F.array()),
        # let-bound: split once per id, not once per prefix length.
        lambda x: let(F.split(x, ":"), expand),
    )
    return F.array_sort(F.array_distinct(F.flatten(prefixes)))


_BOTH_GENDERS = ["human_situations:gender:women", "human_situations:gender:men"]
_HEBREW = "human_situations:language:hebrew_speaking"
_ARABS = "human_situations:sectors:arabs"
_BEDOUIN = "human_situations:sectors:bedouin"
_ARABIC = "human_situations:language:arabic_speaking"


def fix_situations(ids: Column) -> Column:
    """Situation-list business rules, order-preserving.

    1. if BOTH men+women tags present -> drop both (a service for everyone);
    2. drop hebrew_speaking always;
    3. arabs or bedouin sector present and arabic_speaking absent -> append it.

    Null input passes through as null (the reference only rewrites truthy
    lists).
    """
    both = F.lit(_BOTH_GENDERS).cast("array<string>")
    dropped_genders = F.when(
        F.size(F.array_intersect(F.coalesce(ids, F.array()), both)) == 2,
        F.filter(ids, lambda x: ~x.isin(*_BOTH_GENDERS)),
    ).otherwise(ids)
    dropped_hebrew = F.filter(dropped_genders, lambda x: x != F.lit(_HEBREW))
    needs_arabic = (
        F.array_contains(F.coalesce(dropped_hebrew, F.array()), _ARABS)
        | F.array_contains(F.coalesce(dropped_hebrew, F.array()), _BEDOUIN)
    ) & ~F.array_contains(F.coalesce(dropped_hebrew, F.array()), _ARABIC)
    appended = F.when(needs_arabic, F.concat(dropped_hebrew, F.array(F.lit(_ARABIC)))).otherwise(
        dropped_hebrew
    )
    return F.when(ids.isNull() | (F.size(ids) == 0), ids).otherwise(appended)


def normalize_taxonomy_ids(ids: Column) -> Column:
    """Clean malformed taxonomy-id lists, order-preserving dedupe.

    Handles the malformed shapes observed in curated data: comma-joined ids in
    one element, several full ids smashed together with spaces, the singular
    root ``human_situation:`` typo, bare-root tokens, stray ``,;`` punctuation.
    Null/empty input passes through unchanged.

    Expression pipeline (all native, no UDF):
    split each element on commas -> flatten -> extract smashed full ids via
    regexp (falling back to the trimmed element when none match) -> flatten ->
    canonicalize singular root -> strip whitespace + trailing punctuation ->
    drop empties and bare roots -> order-preserving distinct.
    """
    by_comma = F.flatten(F.transform(ids, lambda x: F.split(x, ",")))
    smashed = F.transform(
        by_comma,
        lambda x: F.when(
            F.size(
                F.regexp_extract_all(x, F.lit(r"human_situations?:[A-Za-z0-9_:-]+"), F.lit(0))
            )
            > 1,
            F.regexp_extract_all(x, F.lit(r"human_situations?:[A-Za-z0-9_:-]+"), F.lit(0)),
        ).otherwise(F.array(F.trim(x))),
    )
    tokens = F.flatten(smashed)
    canonical = F.transform(
        tokens,
        lambda x: F.regexp_replace(F.trim(x), r"^human_situation:", "human_situations:"),
    )
    stripped = F.transform(canonical, lambda x: F.regexp_replace(x, r"[,;]+$", ""))
    kept = F.filter(
        stripped,
        lambda x: (x != "") & (x != "human_situations"),
    )
    # array_distinct preserves first-appearance order.
    return F.when(ids.isNull() | (F.size(ids) == 0), ids).otherwise(F.array_distinct(kept))


# Age-group tags in the reference's emission order with their overlap windows
# (srm_tools/situations.py:42-62): tag kept when [min_age, max_age] intersects
# the window; `seniors` is open-ended above 55; all six at once means "no age
# restriction" and collapses to an empty list.
_AGE_WINDOWS = [
    ("adults", 31, 54),
    ("young_adults", 20, 30),
    ("teens", 13, 19),
    ("infants", 0, 1),
    ("children", 2, 12),
]


def situations_for_age_range(min_age: Column, max_age: Column) -> Column:
    """Age interval -> array of ``human_situations:age_group:*`` tags.

    Mirrors reference semantics exactly (srm_tools/situations.py:42-62):
    null bounds default to [0, 120]; a tag is emitted when the interval
    overlaps its window; all 6 tags at once -> empty array.
    """
    mn = F.coalesce(min_age.cast("long"), F.lit(0))
    mx = F.coalesce(max_age.cast("long"), F.lit(120))
    conds = [
        (tag, (mn <= hi) & (mx >= lo)) for tag, lo, hi in _AGE_WINDOWS
    ] + [("seniors", mx >= 55)]
    arr = F.array_compact(
        F.array(
            *[
                F.when(cond, F.lit(f"human_situations:age_group:{tag}"))
                for tag, cond in conds
            ]
        )
    )
    return F.when(F.size(arr) == 6, F.array().cast("array<string>")).otherwise(arr)
