"""Workload definitions: which registered entries each workload runs, and why.

Entries run in the listed order, one after another, in one Spark process
(a closed loop with one client). Each is timed as ``bench.py`` times it:
the ``api.QUERIES[name](spark, sf_dir)`` call plus a ``noop`` write of the
result.

``ods`` lists the CDC branches the entries read. Set-up warms those (and
the dirty branch and the raw log topic) the way ``bench.py`` warms every
branch; a branch missing here shows as a ``sources.cache_misses`` count in
the traced run.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    "dw_batch": {
        "why": (
            "ODS->DWD->DWS->DIM batch rebuild; 8-10 of 13 entries run under 1 s "
            "and a traced pass keeps the cores busy under a third of its time, "
            "so the per-entry driver floor and the session memos dominate"
        ),
        "entries": [
            # registry/m01_dwd.py: the entry that builds the _pre memo, one
            # that reads it, and the sub-second log splitters
            "dwd_user_register",
            "dwd_interaction_favor_add",
            "dwd_trade_order_pre_process",
            "dwd_trade_order_detail",
            "dwd_traffic_start_log",
            "dwd_traffic_error_log",
            "dwd_traffic_dirty_log",
            "dwd_traffic_unique_visitor_detail",
            "dwd_traffic_user_jump_detail",
            # registry/m02_dws.py, including the one entry without an oracle
            # and its exact twin
            "dws_user_user_register_window",
            "dws_trade_province_order_window_approx",
            "dws_trade_province_order_window",
            # registry/m05_dim.py
            "dim_user_info",
        ],
        "ods": [
            "user_info", "favor_info", "order_info", "order_detail",
            "order_detail_activity", "order_detail_coupon",
        ],
    },
    "stream_replay": {
        "why": (
            "UV replay on bucketed Python keyed state and a foreachBatch MVCC "
            "upsert sink; a traced pass spends 40-50% of its core time in the "
            "per-batch floor, 17-24% in Python, 10% in state commits"
        ),
        "entries": [
            "streaming_unique_visitor",
            "streaming_order_info_upsert_snapshot",
        ],
        "ods": ["order_info"],
    },
}

# The one registered entry without an oracle, checked by row count
# against its exact twin.
ROW_COUNT_TWINS = {
    "dws_trade_province_order_window_approx": "dws_trade_province_order_window",
}
