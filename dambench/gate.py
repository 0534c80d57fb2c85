"""Correctness gates, run after each timed window.

* Ingest: the streamed sinks must equal the full-batch twin on the same
  events — normalize → users join → drop firewall blocks →
  ``apply_rule_battery`` with the rate rule — compared through
  ``operators.validate.table_checksum`` (whose row count is the alert
  count for the alerts table), plus the block count.
* Dashboard: the facade's KPIs, severity histogram, top users,
  ops-by-type and timeline must equal DuckDB over the same parquet.

Each gate returns a list of (check name, passed, detail) tuples.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from database_activity_monitoring_dam_system_spark.operators import rules
from database_activity_monitoring_dam_system_spark.operators.validate import (
    table_checksum,
)
from database_activity_monitoring_dam_system_spark.schemas import AGENT_EVENT
from database_activity_monitoring_dam_system_spark.sources.agent import (
    normalize_agent_events,
)

Check = tuple[str, bool, str]


def checksum_check(name: str, got: DataFrame, want: DataFrame, cols: list[str]) -> Check:
    g = table_checksum(got.select(*cols)).first().asDict()
    w = table_checksum(want.select(*cols)).first().asDict()
    return (name, g == w, f"got {g} want {w}")


def ingest_twin(
    spark: SparkSession,
    source_dir: str,
    *,
    users: DataFrame,
    ip_blacklist: DataFrame,
    firewall_rules: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """(enriched activity, firewall hits) of the full-batch pipeline."""
    raw = spark.read.schema(AGENT_EVENT).json(source_dir)
    norm = (
        normalize_agent_events(raw)
        .join(F.broadcast(users.select("username", "user_id")), "username", "left")
        .withColumn("ip_address", F.lit(None).cast("string"))
        .withColumn("rows_affected", F.lit(None).cast("int"))
        # derive_alerts carries activity_id, which the gate ignores
        .withColumn("activity_id", F.lit(None).cast("long"))
    )
    fw = rules.firewall_check(norm, firewall_rules, user_col="username")
    hits = fw.filter(F.col("rule_id").isNotNull())
    kept = fw.filter(
        F.col("action").isNull() | (F.col("action") != "block")
    ).drop("rule_id", "action", "rule_description")
    enriched = rules.apply_rule_battery(
        kept, users=users, ip_blacklist=ip_blacklist, with_rate_rule=True
    ).drop("queries_last_min")
    return enriched, hits


def ingest_gate(
    *,
    activity: DataFrame,
    alerts: DataFrame,
    blocks: DataFrame,
    twin: DataFrame,
    twin_hits: DataFrame,
) -> list[Check]:
    """The alert count is the alerts checksum's n_rows."""
    # activity_id is a stream-side content hash; every other column
    # must match value for value
    act_cols = sorted(set(activity.columns) - {"activity_id"})
    alert_cols = sorted(set(alerts.columns) - {"activity_id"})
    n_blocks, n_hits = blocks.count(), twin_hits.count()
    twin = twin.persist()
    try:
        return [
            checksum_check("activity_checksum", activity, twin, act_cols),
            checksum_check("alerts_checksum", alerts, rules.derive_alerts(twin), alert_cols),
            ("block_count", n_blocks == n_hits, f"{n_blocks} vs {n_hits}"),
        ]
    finally:
        twin.unpersist()


def _duck_expected(parquet_glob: str, now: str, timeline_hours: int) -> dict:
    con = duckdb.connect()
    try:
        src = f"read_parquet('{parquet_glob}', hive_partitioning = true)"
        kpi = con.execute(f"""
            SELECT count(*),
                   sum(CAST(is_suspicious AS INTEGER)),
                   sum(CAST(operation_status = 'Failed' AS INTEGER)),
                   sum(CAST(CAST(access_timestamp AS DATE)
                            = CAST(TIMESTAMP '{now}' AS DATE) AS INTEGER)),
                   sum(CAST(severity_level = 'Low' AS INTEGER)),
                   sum(CAST(severity_level = 'Medium' AS INTEGER)),
                   sum(CAST(severity_level = 'High' AS INTEGER)),
                   sum(CAST(severity_level = 'Critical' AS INTEGER))
            FROM {src}""").fetchone()
        by_type = dict(con.execute(
            f"SELECT operation_type, count(*) FROM {src} GROUP BY 1"
        ).fetchall())
        top = con.execute(f"""
            SELECT username, count(*) AS cnt FROM {src}
            GROUP BY 1 ORDER BY cnt DESC, username ASC LIMIT 5""").fetchall()
        timeline = con.execute(f"""
            SELECT strftime(date_trunc('hour', access_timestamp), '%Y-%m-%d %H:00') AS b,
                   count(*),
                   sum(CAST(is_suspicious AS INTEGER)),
                   sum(CASE WHEN operation_status = 'Failed' THEN 1 ELSE 0 END)
            FROM {src}
            WHERE access_timestamp >= TIMESTAMP '{now}' - INTERVAL {int(timeline_hours)} HOUR
            GROUP BY 1 ORDER BY 1""").fetchall()
    finally:
        con.close()
    return {
        "kpis": {
            "total": kpi[0], "suspicious": kpi[1], "failed": kpi[2], "today": kpi[3],
        },
        "severity": [kpi[4], kpi[5], kpi[6], kpi[7]],
        "by_type": by_type,
        "top_users": [(u, c) for u, c in top],
        "timeline": [tuple(r) for r in timeline],
    }


def dashboard_gate(
    charts: dict, parquet_glob: str, *, now: str, timeline_hours: int = 24
) -> list[Check]:
    """Compare a ``DamAnalytics.chart_data`` payload with DuckDB."""
    want = _duck_expected(parquet_glob, now, timeline_hours)
    tl = charts["timeline_chart"]
    got_timeline = list(zip(tl["labels"], tl["total"], tl["suspicious"], tl["failed"]))
    got_by_type = dict(zip(
        charts["operation_type_chart"]["labels"], charts["operation_type_chart"]["data"]
    ))
    got_top = list(zip(charts["top_users_chart"]["labels"], charts["top_users_chart"]["data"]))
    pairs = [
        ("kpis", charts["kpis"], want["kpis"]),
        ("severity_histogram", charts["severity_chart"]["data"], want["severity"]),
        ("top_users", got_top, want["top_users"]),
        ("ops_by_type", got_by_type, want["by_type"]),
        ("timeline", got_timeline, want["timeline"]),
    ]
    return [(n, g == w, f"got {g} want {w}") for n, g, w in pairs]
