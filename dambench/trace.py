"""Span tracing from outside the engine.

The tracer wraps module-level public functions of the engine and the
Spark actions it calls, records one span per call (name, start, end,
parent span, op id) in memory, and hands them over when the run ends.
No engine file is edited: wrappers are installed by attribute
assignment and removed by :meth:`Tracer.uninstall`.

Parent tracking is per thread: the py4j callback thread that runs
``foreachBatch`` and the main thread that drives the facade each keep
their own stack. A root span opened with an op id tags every span
below it with that id.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager

from .measure import Span


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[tuple[int, object]]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, op_id: object = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        parent, parent_op = stack[-1] if stack else (None, None)
        op = op_id if op_id is not None else parent_op
        stack.append((sid, op))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, op))

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def wrap_foreach_batch(self, name: str) -> None:
        """Make every foreachBatch function open a root span whose op
        id is the micro-batch id."""
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        orig = DataStreamWriter.foreachBatch
        tracer = self

        def foreach_batch(writer, func):
            def traced(batch_df, batch_id):
                with tracer.span(name, op_id=batch_id):
                    return func(batch_df, batch_id)

            return orig(writer, traced)

        DataStreamWriter.foreachBatch = foreach_batch
        self._patches.append((DataStreamWriter, "foreachBatch", orig))

    def install_engine(self) -> None:
        """Wrap the engine's layer entry points and Spark actions."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from database_activity_monitoring_dam_system_spark.operators import (
            analytics,
            anomaly,
            rules,
        )
        from database_activity_monitoring_dam_system_spark.streaming import (
            ingest,
            stateful,
        )

        self.wrap(ingest, "normalize_agent_events", "sources.normalize")
        for fn in ("firewall_check", "apply_rule_battery", "derive_alerts", "compliance_findings"):
            self.wrap(rules, fn, f"rules.{fn}")
        for fn in ("read_rate_state", "write_rate_state", "seeded_rate_counts", "rate_state_after"):
            self.wrap(stateful, fn, f"stateful.{fn}")
        for fn in (
            "latest_activities", "activity_stats", "operations_by_type",
            "top_users", "hourly_timeline", "user_behavior_profile", "active_alerts",
        ):
            self.wrap(analytics, fn, f"analytics.{fn}")
        for fn in ("volume_anomalies", "impossible_travel"):
            self.wrap(anomaly, fn, f"anomaly.{fn}")
        self.wrap(DataFrameWriter, "parquet", "sinks.write")
        for fn in ("collect", "count"):
            self.wrap(DataFrame, fn, "spark.action")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
