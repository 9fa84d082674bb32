"""Property-based tests (hypothesis) for the engine's semantic traps.

Each property replays a reference semantic (SURVEY.md §2.8) or an
engine invariant against a pure-Python model over randomized inputs —
the cases hand-written examples miss (weird concatenations, boundary
weights, bucket-edge ids).
"""

from hypothesis import given, settings, strategies as st

from yelp_review_data_analysis_using_big_data_technologies_spark.functions.casemap import (
    SUPER_CATEGORIES,
    first_match_category,
)
from yelp_review_data_analysis_using_big_data_technologies_spark.llm import packing as lpk
from yelp_review_data_analysis_using_big_data_technologies_spark.llm import sampling as lsmp

#: Keyword fragments + separators that generate adversarial category
#: strings: full keywords, case-twisted variants, substring traps
#: ("Seafood" contains "food" but NOT "Food"), and noise.
_FRAGMENTS = (
    [kw for kws in SUPER_CATEGORIES.values() for kw in kws]
    + ["Seafood", "food", "FOOD", "Fast Food", "fashionista", "Bookstore"]
    + ["Xyz", ""]
)


def _model_category(cats: str | None) -> str:
    """Pure-Python replica of the reference UDF (scripts/etl.py:76-83):
    first mapping entry (insertion order) with ANY keyword contained
    case-sensitively in the string; None/no-match → 'Other'."""
    if cats is None:
        return "Other"
    for label, keywords in SUPER_CATEGORIES.items():
        if any(kw in cats for kw in keywords):
            return label
    return "Other"


class TestCategoryMapperProperty:
    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.one_of(
                st.sampled_from(_FRAGMENTS),
                st.text(
                    alphabet="abcdefgF oodBR,", min_size=0, max_size=12
                ),
            ),
            min_size=0,
            max_size=4,
        )
    )
    def test_native_chain_equals_udf_model(self, spark, parts):
        cats = ", ".join(parts) if parts else None
        df = spark.createDataFrame([(cats,)], "categories string")
        got = df.select(
            first_match_category("categories").alias("c")
        ).collect()[0].c
        assert got == _model_category(cats)


class TestPackBinsProperty:
    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=50_000),  # doc_id
                st.integers(min_value=1, max_value=400),  # n_tokens
            ),
            min_size=1,
            max_size=40,
            unique_by=lambda t: t[0],
        ),
    )
    def test_two_level_prefix_matches_python_model(self, spark, rows):
        df = spark.createDataFrame(rows, "doc_id long, n long")
        got = {
            r.doc_id: (r.offset_tokens, r.bin_id)
            for r in lpk.pack_bins(df, tokens_col="n").collect()
        }
        off = 0
        expect = {}
        for doc_id, n in sorted(rows):
            expect[doc_id] = (off, off // lpk.BUDGET)
            off += n
        assert got == expect


class TestWeightedTakeProperty:
    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=10_000),
                st.integers(min_value=-2, max_value=50),
            ),
            min_size=90,
            max_size=140,
            unique_by=lambda t: t[0],
        ),
    )
    def test_top_k_matches_python_model(self, spark, rows):
        """weighted_take == sort by the SAME priority formula in pure
        Python (md5 + exact float arithmetic), positives only; around
        WEIGHTED_K = 100 rows, so some draws truncate and some do not."""
        import hashlib

        k = lsmp.WEIGHTED_K
        df = spark.createDataFrame(rows, "doc_id long, n_chars long")
        got = sorted(r.doc_id for r in lsmp.weighted_take(df).collect())

        def pri(doc_id, w):
            h8 = hashlib.md5(
                f"{doc_id}{lsmp.WEIGHTED_SALT}".encode()
            ).hexdigest()[:8]
            return float(w) * lsmp._U32_SPAN / (float(int(h8, 16)) + 1.0)

        eligible = [(i, w) for i, w in rows if w > 0]
        expect = sorted(
            i
            for i, _ in sorted(
                eligible, key=lambda t: (-pri(*t), t[0])
            )[:k]
        )
        assert got == expect


class TestMixtureParityProperty:
    """Engine-parity of the in-engine mixture-rate derivation under
    RANDOM weights and token distributions — the adversarial surface
    is the float path (non-representable weights like 0.1, rates a
    hair under 1.0, the floor/clamp at the hex-threshold edge), which
    must produce bit-identical doubles in Spark and DuckDB."""

    @settings(max_examples=6, deadline=None)
    @given(
        st.integers(min_value=2, max_value=4).flatmap(
            lambda n: st.tuples(
                st.lists(
                    st.floats(
                        min_value=0.01,
                        max_value=1.0,
                        allow_nan=False,
                        allow_infinity=False,
                    ),
                    min_size=n,
                    max_size=n,
                ),
                st.lists(
                    st.integers(min_value=1, max_value=500),
                    min_size=n,
                    max_size=n,
                ),
            )
        )
    )
    def test_report_matches_duckdb_twin(self, spark, wt):
        import duckdb

        weights_raw, sizes = wt
        domains = [f"d{i}" for i in range(len(weights_raw))]
        weights = dict(zip(domains, weights_raw))
        langs = list(lsmp.MIXTURE_WEIGHTS)
        rows, nid = [], 0
        for i, dom in enumerate(domains):
            for _ in range(sizes[i]):
                rows.append((nid, dom, langs[nid % len(langs)], 1 + (nid * 7919) % 97))
                nid += 1
        df = spark.createDataFrame(
            rows, "doc_id long, src string, lang string, n_tokens long"
        )
        con = duckdb.connect()
        con.register("documents", df.toPandas())
        # the random weights reach the membership draw ...
        got = sorted(
            r.doc_id for r in lsmp.mixture_sample(df, weights, domain_col="src").collect()
        )
        oracle = sorted(
            r[0]
            for r in con.execute(
                lsmp.mixture_sample_sql(weights, domain_expr="src", cols="doc_id")
            ).fetchall()
        )
        assert got == oracle
        # ... and the random token totals the report at MIXTURE_WEIGHTS
        got = [tuple(map(str, r)) for r in lsmp.mixture_report(df, "n_tokens").collect()]
        oracle = [
            tuple(map(str, r))
            for r in con.execute(lsmp.mixture_report_sql("n_tokens")).fetchall()
        ]
        assert got == oracle


class TestInterpolateAgainstNumpy:
    """interpolate_join claims numpy.interp semantics (clamp at the
    edges, linear inside) — replay randomized per-key series/queries
    against np.interp itself."""

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(  # series: (second-offset, value), unique ts
            st.tuples(
                st.integers(min_value=0, max_value=10_000),
                st.integers(min_value=-50, max_value=50),
            ),
            min_size=1,
            max_size=8,
            unique_by=lambda p: p[0],
        ),
        st.lists(  # query second-offsets
            st.integers(min_value=-2_000, max_value=12_000),
            min_size=1,
            max_size=8,
        ),
    )
    def test_matches_np_interp(self, spark, series, queries):
        import datetime as dt

        import numpy as np

        from yelp_review_data_analysis_using_big_data_technologies_spark.operators.interpolate import interpolate_join

        t0 = dt.datetime(2024, 1, 1)
        s_rows = [
            (1, t0 + dt.timedelta(seconds=sec), float(v))
            for sec, v in series
        ]
        q_rows = [
            (i, 1, t0 + dt.timedelta(seconds=sec))
            for i, sec in enumerate(queries)
        ]
        sdf = spark.createDataFrame(
            s_rows, "user_id long, ts timestamp, value double"
        )
        qdf = spark.createDataFrame(
            q_rows, "qid long, user_id long, ts timestamp"
        )
        got = {
            r.qid: r.interp_value
            for r in interpolate_join(
                qdf, sdf
            ).collect()
        }
        xs = np.array(sorted(sec for sec, _ in series), dtype=float)
        by_sec = dict(series)
        ys = np.array([by_sec[int(x)] for x in xs], dtype=float)
        for i, sec in enumerate(queries):
            expect = float(np.interp(float(sec), xs, ys))
            assert got[i] is not None, (sec, series)
            assert abs(got[i] - expect) < 1e-6, (sec, series, got[i], expect)


class TestAsofAgainstPandasMergeAsof:
    """asof_join's backward semantics are pandas.merge_asof's —
    randomized replay against it (ties match, unmatched stay NULL)."""

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=3),  # key
                st.integers(min_value=0, max_value=5_000),
                st.integers(min_value=-9, max_value=9),
            ),
            min_size=1,
            max_size=10,
        ),
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=3),
                st.integers(min_value=0, max_value=5_000),
            ),
            min_size=1,
            max_size=10,
        ),
    )
    def test_matches_merge_asof(self, spark, right, left):
        import datetime as dt

        import pandas as pd

        from yelp_review_data_analysis_using_big_data_technologies_spark.operators.asof import asof_join

        t0 = dt.datetime(2024, 1, 1)
        # dedup right on (key, ts) keeping max value — the operator's
        # documented deterministic collapse
        rbest = {}
        for k, sec, v in right:
            cur = rbest.get((k, sec))
            if cur is None or v > cur:
                rbest[(k, sec)] = v
        r_rows = [
            (k, t0 + dt.timedelta(seconds=sec), float(v))
            for (k, sec), v in rbest.items()
        ]
        l_rows = [
            (i, k, t0 + dt.timedelta(seconds=sec))
            for i, (k, sec) in enumerate(left)
        ]
        ldf = spark.createDataFrame(
            l_rows, "lid long, user_id long, ts timestamp"
        )
        rdf = spark.createDataFrame(
            r_rows, "user_id long, ts timestamp, value double"
        )
        got = {
            r.lid: (r.asof_ts, r.asof_value)
            for r in asof_join(ldf, rdf).collect()
        }
        lp = pd.DataFrame(
            [(i, k, t0 + dt.timedelta(seconds=sec)) for i, (k, sec) in enumerate(left)],
            columns=["lid", "user_id", "ts"],
        ).sort_values("ts", kind="stable")
        rp = pd.DataFrame(r_rows, columns=["user_id", "ts", "value"]).sort_values(
            "ts", kind="stable"
        )
        merged = pd.merge_asof(
            lp, rp, on="ts", by="user_id", direction="backward",
            suffixes=("", "_r"),
        )
        for _, row in merged.iterrows():
            g_ts, g_v = got[row.lid]
            if pd.isna(row.value):
                assert g_ts is None and g_v is None, (row.lid, g_ts, g_v)
            else:
                assert g_v == row.value, (row.lid, g_v, row.value)
