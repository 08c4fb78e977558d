"""Expected outputs, computed by DuckDB over the generated parquet bytes.

This is an independent implementation of parse -> enrich -> route ->
aggregate in SQL. It shares only the pattern bank's regexes with the
program. It runs once per generated input, outside any timed region, and
its result is cached next to the input.
"""

from __future__ import annotations

import os

import duckdb

from opentelemetry_collector_contrib_spark.registry.transcript_sql import JSON_RE, KV_RE, SYSLOG_RE

MOVE_SINKS = ("errors", "tool_events", "general")


def expected(table_dir: str, dims_dir: str) -> dict:
    """Row counts per sink and layer, and the ``agg_per_tool`` table."""
    src = os.path.join(table_dir, "*.parquet")
    tool_dim = os.path.join(dims_dir, "tool_dim.parquet")
    role_dim = os.path.join(dims_dir, "role_dim.parquet")
    sql = f"""
    WITH parsed AS (
      SELECT t.*,
        CASE WHEN regexp_matches(text, '{KV_RE}') THEN 'kv'
             WHEN regexp_matches(text, '{SYSLOG_RE}') THEN 'syslog'
             WHEN regexp_matches(text, '{JSON_RE}') THEN 'json'
             ELSE 'raw' END AS pattern_id,
        CASE WHEN regexp_matches(text, '{KV_RE}')
             THEN regexp_extract(text, '{KV_RE}', 4) END AS status
      FROM read_parquet('{src}') t
    ),
    routed AS (
      SELECT p.*,
        coalesce(td.tool_category, 'Unknown') AS tool_category,
        coalesce(td.tool_cost_weight, 0.0) AS tool_cost_weight,
        coalesce(rd.role_group, 'unknown') AS role_group,
        CASE WHEN status = 'err' THEN 'errors'
             WHEN p.tool <> 'none' AND p.role = 'assistant' THEN 'tool_events'
             ELSE 'general' END AS route_id
      FROM parsed p
      LEFT JOIN read_parquet('{tool_dim}') td USING (tool)
      LEFT JOIN read_parquet('{role_dim}') rd USING (role)
    )
    SELECT * FROM routed
    """
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TEMP TABLE routed AS {sql}")
        (rows, raw, miss, human, convs) = con.execute(
            """SELECT count(*), count(*) FILTER (pattern_id = 'raw'),
                      count(*) FILTER (tool_category = 'Unknown'),
                      count(*) FILTER (role_group = 'human'),
                      count(DISTINCT (route_id, conv_id))
               FROM routed"""
        ).fetchone()
        per_route = dict(con.execute("SELECT route_id, count(*) FROM routed GROUP BY 1").fetchall())
        per_tool = con.execute(
            """SELECT route_id, tool, tool_category, count(*) AS event_count,
                      round(sum(tool_cost_weight), 4) AS sum_cost
               FROM routed GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""
        ).fetchall()
    finally:
        con.close()
    sinks = {name: per_route.get(name, 0) for name in MOVE_SINKS}
    sinks["human_turns"] = human
    return {
        "rows": rows,
        "raw_rows": raw,
        "tool_miss_rows": miss,
        "sinks": sinks,
        "agg_per_conv_rows": convs,
        "agg_per_tool": [list(r) for r in per_tool],
    }
