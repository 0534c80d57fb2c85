"""The correctness gates accept the engine's output and reject one
planted severity flip."""

from __future__ import annotations

import os
import time

import duckdb
import pytest
from pyspark.sql import functions as F

from dambench import gate, gen, workloads


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from database_activity_monitoring_dam_system_spark.session import get_spark

    os.environ["TZ"] = "UTC"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    time.tzset()
    s = get_spark(
        "dambench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.local.dir": str(tmp_path_factory.mktemp("spark-local"))},
    )
    s.sparkContext.setLogLevel("OFF")
    yield s
    s.stop()


def _flip_one(frame):
    """Change the severity of the first row (by time, text and user):
    exactly one value differs."""
    key = F.struct("access_timestamp", "operation_details", "username")
    first = frame.agg(F.min(key)).first()[0]
    hit = key == F.struct(*[F.lit(v) for v in first])
    return frame.withColumn(
        "severity_level",
        F.when(hit & (F.col("severity_level") == "Critical"), F.lit("Low"))
        .when(hit, F.lit("Critical"))
        .otherwise(F.col("severity_level")),
    )


def test_ingest_gate_rejects_a_severity_flip(spark, tmp_path):
    shape = gen.ingest_shape(5, mean_events_per_file=20)
    src = tmp_path / "src"
    src.mkdir()
    for k in range(6):
        gen.write_agent_file(str(src / f"f{k}.json"), gen.agent_file_lines(shape, 5, k))
    users = spark.createDataFrame(gen.users_rows(shape.n_users), gen.USERS_SCHEMA)
    blacklist = spark.createDataFrame(gen.blacklist_rows(), gen.BLACKLIST_SCHEMA)
    firewall = spark.createDataFrame(list(gen.FIREWALL_RULES), gen.FIREWALL_SCHEMA)
    twin, hits = gate.ingest_twin(
        spark, str(src), users=users, ip_blacklist=blacklist, firewall_rules=firewall
    )
    twin = twin.cache()
    from database_activity_monitoring_dam_system_spark.operators import rules

    alerts = rules.derive_alerts(twin)

    def verdict(activity):
        return {n: ok for n, ok, _ in gate.ingest_gate(
            activity=activity, alerts=alerts, blocks=hits, twin=twin, twin_hits=hits
        )}

    assert all(verdict(twin).values())
    flipped = verdict(_flip_one(twin))
    assert not flipped["activity_checksum"]
    assert flipped["alerts_checksum"] and flipped["block_count"]


def test_dashboard_gate_rejects_a_severity_flip(spark, tmp_path):
    shape = gen.dashboard_shape(5, n_rows=4000, appends=2)
    inputs = gen.write_dashboard_inputs(str(tmp_path / "in"), 5, shape)
    paths = workloads.build_dashboard_tables(spark, inputs, str(tmp_path / "t"), shape.appends)
    from database_activity_monitoring_dam_system_spark.api import DamAnalytics

    api = DamAnalytics(
        spark.read.parquet(paths["activity"]),
        security_alerts=spark.read.parquet(paths["alerts"]),
        now=workloads.DASH_NOW,
    )
    charts = api.chart_data()
    glob = os.path.join(paths["activity"], "*", "*.parquet")
    assert all(ok for _, ok, _ in gate.dashboard_gate(charts, glob, now=workloads.DASH_NOW))

    flipped = tmp_path / "flipped.parquet"
    con = duckdb.connect()
    con.execute(f"""
        COPY (
          WITH t AS (SELECT * FROM read_parquet('{glob}', hive_partitioning = true)),
               one AS (SELECT min(activity_id) AS id FROM t WHERE severity_level = 'Low')
          SELECT * REPLACE (
            CASE WHEN activity_id = (SELECT id FROM one) THEN 'Critical'
                 ELSE severity_level END AS severity_level)
          FROM t
        ) TO '{flipped}' (FORMAT PARQUET)""")
    con.close()
    verdict = {n: ok for n, ok, _ in gate.dashboard_gate(charts, str(flipped), now=workloads.DASH_NOW)}
    assert not verdict["severity_histogram"]
    assert verdict["kpis"] and verdict["top_users"] and verdict["timeline"]
