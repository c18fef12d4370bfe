"""The benchmark's fixed query mixes. Every query named here has a
DuckDB oracle in the registry; ``README.md`` explains why each mix was
chosen and which layers it stresses."""

from __future__ import annotations

WORKLOADS: dict[str, tuple[str, ...]] = {
    # source- and join-bound: every query registers all ten tables as
    # SQL views, one schema-inference job per table
    "sql_intake": (
        "sql_pricing_summary",
        "sql_supplier_share_trend",
        "sql_nation_trade_balance",
    ),
    # bypasses the SQL intake: an iterative graph loop launching Spark
    # jobs while the plan is built, the Job API's mapInPandas
    # map/reduce on Python workers, and bounded stream drains with
    # state stores and a foreachBatch sink
    "loops_udf_stream": (
        "graph_label_propagation",
        "jobapi_wordcount",
        "stream_session_timeout",
        "stream_cdc_upsert",
    ),
}
