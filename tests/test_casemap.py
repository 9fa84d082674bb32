"""Semantic-trap tests for the expression layer (SURVEY.md §2.8):
first-match-wins order, substring-not-token matching, NULL handling,
decode pass-through — the places a UDF→native translation can drift.
"""

from pyspark.sql import functions as F

from yelp_review_data_analysis_using_big_data_technologies_spark.functions.casemap import (
    SUPER_CATEGORIES,
    US_STATE_NAMES,
    bucketize,
    decode_map,
    first_match_category,
    sentiment,
)


def _one_col(spark, values, dtype="string"):
    return spark.createDataFrame([(v,) for v in values], f"v {dtype}")


def _mapped(spark, values, expr):
    df = _one_col(spark, values).withColumn("out", expr)
    return [r.out for r in df.orderBy(F.monotonically_increasing_id()).collect()]


class TestFirstMatchCategory:
    def test_order_trap_first_match_wins(self, spark):
        # "Food, Fashion" matches both Restaurants(Food) and
        # Shopping(Fashion); insertion order says Restaurants
        # (reference scripts/etl.py:63-74 dict order).
        out = _mapped(spark, ["Food, Fashion"], first_match_category("v"))
        assert out == ["Restaurants"]

    def test_substring_not_token(self, spark):
        # Substring match is CASE-SENSITIVE, matching the reference's
        # Python `in` check (scripts/etl.py:80-82): "Food" matches
        # "Fast Food"/"Food Trucks" but NOT "Seafood" (lowercase f).
        out = _mapped(
            spark,
            ["Seafood", "Fast Food", "Food Trucks"],
            first_match_category("v"),
        )
        assert out == ["Other", "Restaurants", "Restaurants"]

    def test_nightlife_before_restaurants(self, spark):
        # "Bars" is a Nightlife keyword (scripts/etl.py:68); a bar that
        # also serves food still first-matches Restaurants only if a
        # Restaurants keyword appears, not because of "Bars".
        out = _mapped(
            spark, ["Bars", "Bars, Restaurants"], first_match_category("v")
        )
        assert out == ["Nightlife", "Restaurants"]

    def test_null_and_no_match(self, spark):
        out = _mapped(spark, [None, "Lawyers"], first_match_category("v"))
        assert out == ["Other", "Other"]

    def test_each_category_reachable(self, spark):
        labels = list(SUPER_CATEGORIES)
        probes = [kws[0] for kws in SUPER_CATEGORIES.values()]
        assert _mapped(spark, probes, first_match_category("v")) == labels

    def test_dict_matches_reference_literals(self):
        # Key-for-key, keyword-for-keyword, in order — the reference's
        # super_categories dict (scripts/etl.py:63-74).
        assert {k: list(v) for k, v in SUPER_CATEGORIES.items()} == {
            "Restaurants": ["Restaurants", "Food"],
            "Shopping": ["Shopping", "Fashion", "Books", "Department Stores"],
            "Beauty & Spas": ["Hair Salons", "Beauty & Spas", "Nail Salons", "Massage"],
            "Health & Medical": ["Dentists", "Health & Medical", "Chiropractors"],
            "Nightlife": ["Bars", "Nightlife", "Clubs", "Pubs"],
            "Automotive": ["Auto Repair", "Automotive", "Car Dealers"],
            "Fitness": ["Gyms", "Fitness & Instruction", "Yoga", "Trainers"],
            "Home Services": ["Home Services", "Plumbing", "Electricians"],
            "Education": ["Education", "Tutoring Centers"],
            "Pets": ["Pet Services", "Veterinarians", "Pet Stores"],
        }
        assert list(SUPER_CATEGORIES) == [
            "Restaurants", "Shopping", "Beauty & Spas", "Health & Medical",
            "Nightlife", "Automotive", "Fitness", "Home Services",
            "Education", "Pets",
        ]

    def test_state_dict_matches_reference_branches(self):
        # The 27 when-branches of scripts/glue_job.py:85-113 in order;
        # VI/HI/VT present, GA/MS/OH/VA absent (unmapped pass-through).
        assert list(US_STATE_NAMES.items()) == [
            ("DE", "Delaware"), ("MO", "Missouri"), ("VI", "Virgin Islands"),
            ("IL", "Illinois"), ("SD", "South Dakota"), ("UT", "Utah"),
            ("HI", "Hawaii"), ("CA", "California"), ("NC", "North Carolina"),
            ("AZ", "Arizona"), ("LA", "Louisiana"), ("NJ", "New Jersey"),
            ("MT", "Montana"), ("FL", "Florida"), ("MI", "Michigan"),
            ("NV", "Nevada"), ("ID", "Idaho"), ("VT", "Vermont"),
            ("WA", "Washington"), ("IN", "Indiana"), ("TN", "Tennessee"),
            ("TX", "Texas"), ("CO", "Colorado"), ("PA", "Pennsylvania"),
            ("AB", "Alberta"), ("MA", "Massachusetts"),
            ("Unknown", "Mississippi"),
        ]


class TestSentiment:
    def test_boundaries(self, spark):
        df = spark.createDataFrame(
            [(1.0,), (2.0,), (2.5,), (3.0,), (3.5,), (5.0,)], "stars double"
        ).withColumn("out", sentiment())
        out = [r.out for r in df.orderBy("stars").collect()]
        # reference scripts/etl.py:96-101: <=2 negative, ==3 neutral
        assert out == ["negative", "negative", "positive", "neutral", "positive", "positive"]


class TestBucketize:
    def test_ordered_bands(self, spark):
        expr = bucketize("v", [(10.0, "low"), (20.0, "mid")])
        df = spark.createDataFrame([(5.0,), (10.0,), (15.0,), (25.0,)], "v double")
        out = [r.out for r in df.withColumn("out", expr).orderBy("v").collect()]
        assert out == ["low", "low", "mid", "high"]


class TestDecodeMap:
    def test_decode_with_passthrough(self, spark):
        out = _mapped(spark, ["DE", "PA", "ZZ", None], decode_map("v", US_STATE_NAMES))
        # unmapped "ZZ" passes through; NULL stays NULL
        assert out == ["Delaware", "Pennsylvania", "ZZ", None]

    def test_unknown_quirk(self, spark):
        # scripts/glue_job.py:113 maps literal "Unknown" → Mississippi
        assert _mapped(spark, ["Unknown"], decode_map("v", US_STATE_NAMES)) == [
            "Mississippi"
        ]
