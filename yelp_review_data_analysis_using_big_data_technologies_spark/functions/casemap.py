"""Conditional / decode expression builders (SURVEY.md §2.7–2.8).

All of these stay inside Tungsten whole-stage codegen — no Python
worker boundary.  The reference implements the same semantics with a
row-at-a-time Python UDF (scripts/etl.py:76-88) and a 27-branch
hand-written ``when`` chain (scripts/etl.py:144-174); here both are
*generated* from plain dicts, so the mapping data is config, not code.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


#: The reference's super-category keyword map, key-for-key and
#: keyword-for-keyword (scripts/etl.py:63-74 = scripts/glue_job.py:50-61).
#: Insertion order IS the match priority (first-match-wins): "Bars"
#: first matches Nightlife, never Restaurants.
SUPER_CATEGORIES: dict[str, tuple[str, ...]] = {
    "Restaurants": ("Restaurants", "Food"),
    "Shopping": ("Shopping", "Fashion", "Books", "Department Stores"),
    "Beauty & Spas": ("Hair Salons", "Beauty & Spas", "Nail Salons", "Massage"),
    "Health & Medical": ("Dentists", "Health & Medical", "Chiropractors"),
    "Nightlife": ("Bars", "Nightlife", "Clubs", "Pubs"),
    "Automotive": ("Auto Repair", "Automotive", "Car Dealers"),
    "Fitness": ("Gyms", "Fitness & Instruction", "Yoga", "Trainers"),
    "Home Services": ("Home Services", "Plumbing", "Electricians"),
    "Education": ("Education", "Tutoring Centers"),
    "Pets": ("Pet Services", "Veterinarians", "Pet Stores"),
}


def first_match_category(
    col: Column | str,
    categories: Mapping[str, Sequence[str]] = SUPER_CATEGORIES,
) -> Column:
    """Native replacement for the reference's ``map_super_category``
    Python UDF (scripts/etl.py:76-88, U1 in SURVEY.md §2.8).

    Semantics preserved exactly:
    - first-match-wins in mapping insertion order ("Food, Fashion" →
      Restaurants, not Shopping);
    - *substring* containment, case-sensitive, not token match:
      "Fast Food" matches keyword "Food" but "Seafood" does NOT
      (lower-case ``f``; pinned by tests/test_casemap.py:38-41);
    - NULL input → ``"Other"`` (reference scripts/etl.py:77-78).

    Implemented as one chained CASE WHEN so the whole expression is
    codegen'd JVM-side — no per-row pickling through a Python worker.
    """
    c = F.col(col) if isinstance(col, str) else col
    expr: Column | None = None
    for label, keywords in categories.items():
        cond: Column | None = None
        for kw in keywords:
            hit = c.contains(kw)
            cond = hit if cond is None else (cond | hit)
        if cond is None:
            continue
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    if expr is None:
        return F.lit("Other")
    # NULL.contains(...) yields NULL → falls through every branch →
    # otherwise("Other"), matching the UDF's None → "Other".
    return expr.otherwise(F.lit("Other"))


def sentiment() -> Column:
    """Sentiment bucketing CASE over ``stars`` (C1; reference
    scripts/etl.py:96-101): stars <= 2 → negative, == 3 → neutral,
    else positive."""
    c = F.col("stars")
    return (
        F.when(c <= F.lit(2.0), F.lit("negative"))
        .when(c == F.lit(3.0), F.lit("neutral"))
        .otherwise(F.lit("positive"))
    )


def bucketize(
    col: Column | str,
    thresholds: Sequence[tuple[float, str]],
) -> Column:
    """Generalized ordered bucketing: first threshold with
    ``col <= bound`` wins; NULL input falls through every branch to
    ``"high"``.  NOT interchangeable with ``sentiment``, whose
    neutral band is a strict EQUALITY (== 3) and whose else-branch
    therefore also catches the open interval (2, 3) and NULL —
    reference semantics (scripts/etl.py:96-99) this interval bucketing
    cannot express.  Exposed for quality/score bands."""
    c = F.col(col) if isinstance(col, str) else col
    expr: Column | None = None
    for bound, label in thresholds:
        branch = c <= F.lit(bound)
        expr = (
            F.when(branch, F.lit(label))
            if expr is None
            else expr.when(branch, F.lit(label))
        )
    return F.lit("high") if expr is None else expr.otherwise(F.lit("high"))


def decode_map(col: Column | str, mapping: Mapping[str, str]) -> Column:
    """Key→value decode (C2; the reference's 27-branch state-name CASE,
    scripts/glue_job.py:85-115, with ``otherwise(col("state"))``
    pass-through).

    Implemented with a MAP literal + ``element_at`` — one constant-
    folded expression instead of 27 chained branches, and O(1) lookup.
    An unmapped key passes through unchanged, the reference's behavior
    for unmapped states.
    """
    c = F.col(col) if isinstance(col, str) else col
    pairs: list[Column] = []
    for k, v in mapping.items():
        pairs.append(F.lit(k))
        pairs.append(F.lit(v))
    return F.coalesce(F.element_at(F.create_map(*pairs), c), c)




#: US state decode, mirroring the reference's 27-branch ``when`` chain
#: entry-for-entry in branch order (scripts/glue_job.py:85-113),
#: including its quirk mapping the literal "Unknown" to Mississippi.
#: Unmapped abbreviations pass through unchanged (``otherwise(col)``).
US_STATE_NAMES: dict[str, str] = {
    "DE": "Delaware",
    "MO": "Missouri",
    "VI": "Virgin Islands",
    "IL": "Illinois",
    "SD": "South Dakota",
    "UT": "Utah",
    "HI": "Hawaii",
    "CA": "California",
    "NC": "North Carolina",
    "AZ": "Arizona",
    "LA": "Louisiana",
    "NJ": "New Jersey",
    "MT": "Montana",
    "FL": "Florida",
    "MI": "Michigan",
    "NV": "Nevada",
    "ID": "Idaho",
    "VT": "Vermont",
    "WA": "Washington",
    "IN": "Indiana",
    "TN": "Tennessee",
    "TX": "Texas",
    "CO": "Colorado",
    "PA": "Pennsylvania",
    "AB": "Alberta",
    "MA": "Massachusetts",
    "Unknown": "Mississippi",
}
