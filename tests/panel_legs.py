"""Panel legs checked under their own names.

A panel stacks several builders under one row hash, and ``queries()``
registers only the panel.  The plan lint and the robustness
suites still check each leg below on its own: its plan is linted
without the panel's whitelist entries, and its rows are compared with
its panel twin's rows for that leg, projected back onto the leg's own
columns (or with the SQL text the panel twin composes, where the twin
keeps it as a constant).  A disagreement then names the leg, not only
the panel.

``builder(name)`` and ``twin(name)`` resolve a leg here and any other
name through ``queries()`` / ``oracle_sql()``.
"""

from __future__ import annotations

import __spark_entry__ as entrymod

_TWINS = entrymod.oracle_sql()


def _rows(panel: str, op: str, columns: str) -> str:
    """``columns`` of ``panel``'s twin rows tagged ``op``."""
    return f"SELECT {columns} FROM ({_TWINS[panel]}) WHERE op = '{op}'"


#: leg name -> (builder, twin SQL)
LEGS = {
    "join_semi": (
        entrymod._q_join_semi,
        _rows("join_variants_panel", "semi", "c_custkey, c_mktsegment"),
    ),
    "join_anti": (
        entrymod._q_join_anti,
        _rows("join_variants_panel", "anti", "c_custkey, c_mktsegment"),
    ),
    "join_left_outer_zero_orders": (
        entrymod._q_join_left_outer_zero,
        _rows("join_variants_panel", "left_outer_zero", "c_custkey, c_mktsegment"),
    ),
    "union_all_by_name": (
        entrymod._q_union_all,
        _rows("set_ops_panel", "union", "nationkey, side, n"),
    ),
    "intersect": (
        entrymod._q_intersect,
        _rows("set_ops_panel", "intersect", "nationkey"),
    ),
    "except_all": (
        entrymod._q_except_all,
        _rows("set_ops_panel", "except_all", "nationkey"),
    ),
    # the panel keys the leg by concat_ws('|', segment, event_type);
    # neither a market segment nor an event type contains '|'
    "stream_static_enrich": (
        entrymod._q_stream_static_enrich,
        _rows(
            "stream_joins_panel",
            "static_enrich",
            "split_part(k, '|', 1) AS c_mktsegment, "
            "split_part(k, '|', 2) AS event_type, "
            "CAST(v1 AS BIGINT) AS n_events, v2 AS sum_value",
        ),
    ),
    "events_value_histogram": (
        entrymod._q_value_histogram,
        entrymod._VALUE_HISTOGRAM_SQL,
    ),
    "doc_lang_id": (
        entrymod.llm_queries.doc_lang_id,
        entrymod.llm_queries.LANG_ID_SQL,
    ),
    "doc_shingle_top10": (
        entrymod._q_shingle_explode,
        entrymod._SHINGLE_TOP10_SQL,
    ),
    "dashboard_price_quantiles": (
        entrymod._q_quantiles,
        _rows(
            "dashboard_metrics_panel",
            "price_quantiles",
            "key AS o_orderstatus, v1 AS q25, v2 AS q50, v3 AS q75",
        ),
    ),
    "dashboard_cube_slicers": (
        entrymod.analytics.cube_slicers,
        _rows(
            "dashboard_slicer_panel",
            "cube",
            "l_returnflag, l_linestatus, n, sum_price",
        ),
    ),
    "dashboard_grouping_sets": (
        entrymod.analytics.grouping_sets_slicers,
        _rows(
            "dashboard_slicer_panel",
            "grouping_sets",
            "l_returnflag, l_linestatus, n, sum_price",
        ),
    ),
    "dashboard_most_active_day": (
        entrymod.analytics.most_active_day,
        f"SELECT dayname, n_orders FROM ({_TWINS['dashboard_tiles']})",
    ),
    "json_ingest_roundtrip": (
        entrymod._q_json_ingest_roundtrip,
        _rows(
            "ingest_roundtrip_panel",
            "json",
            "key AS lang, n AS n_docs, CAST(v1 AS BIGINT) AS sum_chars, "
            "CAST(v2 AS BIGINT) AS n_sources",
        ),
    ),
    "csv_ingest_roundtrip": (
        entrymod._q_csv_ingest_roundtrip,
        _rows(
            "ingest_roundtrip_panel",
            "csv",
            "key AS r_name, n AS n_nations, CAST(v1 AS BIGINT) AS sum_nationkey",
        ),
    ),
    "orc_ingest_roundtrip": (
        entrymod._q_orc_ingest_roundtrip,
        _rows(
            "ingest_roundtrip_panel",
            "orc",
            "key AS o_orderpriority, n AS n_orders, v1 AS sum_price, "
            "CAST(v2 AS BIGINT) AS n_custs",
        ),
    ),
}


def builder(name: str):
    if name in LEGS:
        return LEGS[name][0]
    return entrymod.queries()[name]


def twin(name: str) -> str | None:
    if name in LEGS:
        return LEGS[name][1]
    return _TWINS[name]
