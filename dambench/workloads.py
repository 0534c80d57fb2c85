"""The benchmark's workloads, driven through the engine's public entry
points (``streaming.ingest.start_ingest`` and ``api.DamAnalytics``).

ingest_live — open loop. After a backlog of a few seconds of files,
    one generator thread drops small agent-event files into the
    production-config stream on a fixed schedule, well below the
    stream's throughput, so each micro-batch picks up several files and
    the backlog stays flat. An op is one file's alert delivery, timed
    from the file's *scheduled* drop time to the moment the notifier
    receives the file's marker alert. Throughput counts the files and
    events of the micro-batches that delivered the window's files over
    those batches' wall span.
dashboard — closed loop, one analyst client issuing a seeded request
    mix against a rule-battery-enriched activity table written through
    ``sinks.write_activity_partitioned`` in several appends. An op is
    one facade call. Percentiles weight each request type to its share
    of the mix, throughput is the inverse of the mix's mean latency,
    and events are the activity rows each answer covers, as its
    payload reports them.

Each workload returns a :class:`Result`; per-layer figures are filled
in only for a traced window.
"""

from __future__ import annotations

import datetime as dt
import itertools
import math
import os
import shutil
import threading
import time
from dataclasses import asdict, dataclass, field

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from database_activity_monitoring_dam_system_spark import sinks
from database_activity_monitoring_dam_system_spark.api import DamAnalytics
from database_activity_monitoring_dam_system_spark.operators import rules
from database_activity_monitoring_dam_system_spark.schemas import AGENT_EVENT
from database_activity_monitoring_dam_system_spark.sources.agent import (
    normalize_agent_events,
)
from database_activity_monitoring_dam_system_spark.streaming import ingest

from . import gate, gen
from .measure import median, self_times
from .trace import Tracer

# ingest_live: file drop rate and mean file size (each file's size is
# drawn from the seed). 7 files/s of 20 events on average keeps a
# 4-core host's micro-batches near 6-7 s, well below saturation, so the
# backlog stays flat, and a 15 s window yields the 100+ samples a
# resolved p90 needs.
LIVE_FILES_PER_S = 7.0
LIVE_MEAN_EVENTS_PER_FILE = 20
# Backlog (seconds of files) present when a window opens: the stream
# starts the window on a full-sized micro-batch instead of a one-file
# batch from idle, so the window sees steady-state batches.
LIVE_LEAD_S = 6.0
# Longest wait for a dropped file's alert after the window closes.
DRAIN_TIMEOUT_S = 60.0

# dashboard: table size and the number of appends that lay it down
DASH_ROWS = 100_000
DASH_APPENDS = 3
DASH_NOW = gen.DASHBOARD_NOW.strftime("%Y-%m-%d %H:%M:%S")
# The closed-loop request mix, issued round-robin in this order; every
# request's parameters (filters, Zipf-drawn user, report period) are
# drawn from the seed. The main path is the open admin dashboard, which
# refreshes every 30 s from /api/dashboard-data and /api/v2/charts/all
# (SURVEY.md §E2, §E3 and its "Dashboard refresh" row): four such poll
# pairs, two minutes of one open dashboard, make 8 of the 13 calls. The
# secondary entry points SURVEY.md §E3 lists (per-user views, behaviour
# profile, compliance report) and the anomaly view come once each,
# early in the cycle so that a window shorter than one cycle still
# sees every request type. The alerts page's 20 s poll reads the active alerts that
# dashboard_data's payload already carries; the facade has no separate
# call for it. A fixed order keeps each window's composition the same
# across seeds.
DASH_CYCLE = (
    "dashboard_data", "chart_data", "user_activities", "behavior_profile", "guest_summary",
    "dashboard_data", "chart_data", "compliance_report", "anomalies",
    "dashboard_data", "chart_data",
    "dashboard_data", "chart_data",
)


@dataclass
class Window:
    """One timed window's measurements. ``weights`` (None: equal)
    weight each latency sample so that percentiles describe the
    workload's nominal op mix."""

    latencies_ms: list[float] = field(default_factory=list)
    kinds: list[str] = field(default_factory=list)
    weights: list[float] | None = None
    elapsed_s: float = 0.0
    ops_per_s: float = 0.0
    events_per_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    layer: dict[str, float] = field(default_factory=dict)


@dataclass
class Result:
    setup_s: float
    windows: list[Window]
    checks: list[gate.Check]
    counts: dict[str, float]
    shape: dict
    gate_s: float = 0.0


def _say(t_start: float, msg: str) -> None:
    print(f"[{time.perf_counter() - t_start:6.1f} s] {msg}", flush=True)


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``path``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _job_span(sc, first_job: int) -> tuple[int, dict[str, int]]:
    """Jobs with id >= ``first_job`` as (next job id, counts of jobs,
    stages and tasks run, tasks failed). Job ids are dense; a run of
    missing ids marks the end."""
    tracker = sc.statusTracker()
    jobs = stages = tasks = failed = 0
    j, misses = first_job, 0
    while misses < 20:
        info = tracker.getJobInfo(j)
        j += 1
        if info is None:
            misses += 1
            continue
        misses = 0
        jobs += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks + st.numFailedTasks > 0:
                stages += 1
                tasks += st.numCompletedTasks + st.numFailedTasks
                failed += st.numFailedTasks
    return j - misses, {"jobs": jobs, "stages": stages, "tasks": tasks, "failed_tasks": failed}


def _next_job_id(sc) -> int:
    return _job_span(sc, 0)[0]


def _span_layers(tracer: Tracer) -> dict[str, float]:
    """Per-op span totals (ms) by span name, per-op self time by layer
    and per-op call counts; ``ops`` is the number of root spans. Spans
    outside any op (a batch already running when tracing began) are
    left out."""
    spans = [s for s in tracer.spans if s.op_id is not None]
    selfs = self_times(spans)
    ops = sum(1 for s in spans if s.parent is None)
    out: dict[str, float] = {}
    for s in spans:
        layer = s.name.split(".", 1)[0]
        out[f"dur:{s.name}"] = out.get(f"dur:{s.name}", 0.0) + s.duration * 1e3
        out[f"calls:{s.name}"] = out.get(f"calls:{s.name}", 0.0) + 1
        out[f"self:{layer}"] = out.get(f"self:{layer}", 0.0) + selfs[s.span_id] * 1e3
    per_op = {k: v / max(ops, 1) for k, v in out.items()}
    per_op["ops"] = float(ops)
    return per_op


def _self_metrics(per_op: dict[str, float]) -> dict[str, float]:
    return {
        f"self.{k.split(':', 1)[1]}_ms": v for k, v in per_op.items() if k.startswith("self:")
    }


# ── ingest_live ─────────────────────────────────────────────────────


class _Deliveries:
    """Notifier: first delivery time of each file's alerts, and the
    (time, files) of every call — one call per micro-batch, since every
    file carries an alert."""

    def __init__(self, shape: gen.IngestShape) -> None:
        self.shape = shape
        self.first: dict[int, float] = {}
        self.calls: list[tuple[float, set[int]]] = []
        self.lock = threading.Lock()

    def __call__(self, payload: list) -> None:
        now = time.perf_counter()
        files = {gen.file_of(self.shape, a["created_at"]) for a in payload}
        with self.lock:
            self.calls.append((now, files))
            for k in files:
                self.first.setdefault(k, now)

    def delivered(self, files) -> int:
        with self.lock:
            return sum(1 for k in files if k in self.first)


class _Generator(threading.Thread):
    """Moves staged files into the source dir: the ``lead`` backlog
    files at once, then window file k at t0 + (k - first) / rate, where
    ``first`` is the first window file, never slowing down when the
    stream does."""

    def __init__(self, staging: str, src: str, files: range, lead: int, t0: float) -> None:
        super().__init__()
        self.staging, self.src, self.t0 = staging, src, t0
        self.backlog, self.window = files[:lead], files[lead:]
        self.stop_event = threading.Event()
        self.late: list[float] = []

    def due(self, k: int) -> float:
        return self.t0 + (k - self.window.start) / LIVE_FILES_PER_S

    def run(self) -> None:
        for k in self.backlog:
            _drop(self.staging, self.src, k)
        for k in self.window:
            if self.stop_event.wait(max(0.0, self.due(k) - time.perf_counter())):
                return
            _drop(self.staging, self.src, k)
            self.late.append(time.perf_counter() - self.due(k))


def _drop(staging: str, src: str, k: int) -> None:
    name = f"f{k:06d}.json"
    os.utime(os.path.join(staging, name))
    os.rename(os.path.join(staging, name), os.path.join(src, name))


def run_ingest_live(
    spark: SparkSession, work: str, seed: int, seconds: int, tracer: Tracer | None, t_start: float
) -> Result:
    _say(t_start, "session started")
    shape = gen.ingest_shape(seed, mean_events_per_file=LIVE_MEAN_EVENTS_PER_FILE)
    src, staging, sink = (os.path.join(work, d) for d in ("src", "staging", "sink"))
    os.makedirs(src)
    os.makedirs(staging)
    n_windows = 2 if tracer else 1
    per_window = math.ceil(LIVE_FILES_PER_S * seconds)
    lead = math.ceil(LIVE_FILES_PER_S * LIVE_LEAD_S)
    # file 0 warms the stream up; each window follows its backlog
    n_files = 1 + n_windows * (lead + per_window)
    events_in = {}
    for k in range(n_files):
        lines = gen.agent_file_lines(shape, seed, k)
        events_in[k] = gen.write_agent_file(os.path.join(staging, f"f{k:06d}.json"), lines)
    users = spark.createDataFrame(gen.users_rows(shape.n_users), gen.USERS_SCHEMA)
    blacklist = spark.createDataFrame(gen.blacklist_rows(), gen.BLACKLIST_SCHEMA)
    firewall = spark.createDataFrame(list(gen.FIREWALL_RULES), gen.FIREWALL_SCHEMA)
    paths = {n: os.path.join(sink, n) for n in ("activity", "alerts", "blocks")}
    deliveries = _Deliveries(shape)
    if tracer:
        tracer.wrap_foreach_batch("ingest.batch")
        tracer.install_engine()
    _drop(staging, src, 0)
    query = ingest.start_ingest(
        spark,
        src,
        activity_sink=paths["activity"],
        alerts_sink=paths["alerts"],
        blocks_sink=paths["blocks"],
        checkpoint_dir=os.path.join(sink, "checkpoint"),
        users=users,
        ip_blacklist=blacklist,
        firewall_rules=firewall,
        notifier=deliveries,
        resolve_user_ids=True,
        exact_rate=True,
    )
    windows = []
    try:
        _await_files(query, deliveries, [0], DRAIN_TIMEOUT_S * 2)
        _await_idle(query)
        for w in range(n_windows):
            first = 1 + w * (lead + per_window)
            generator = _Generator(
                staging, src, range(first, first + lead + per_window), lead,
                time.perf_counter() + 0.05,
            )
            if w == 0:
                setup_s = generator.t0 - t_start
            traced = tracer is not None and w == n_windows - 1
            generator.start()
            try:
                windows.append(_live_window(
                    spark, query, deliveries, generator, events_in,
                    tracer if traced else None, paths,
                ))
            finally:
                generator.stop_event.set()
                generator.join()
            _await_idle(query)
    finally:
        query.stop()
        if tracer:
            tracer.enabled = False
    if query.exception() is not None:
        raise RuntimeError(f"ingest query failed: {query.exception()}")

    t_gate = time.perf_counter()
    twin, hits = gate.ingest_twin(
        spark, src, users=users, ip_blacklist=blacklist, firewall_rules=firewall
    )
    activity = spark.read.parquet(paths["activity"])
    alerts = spark.read.parquet(paths["alerts"])
    blocks = spark.read.parquet(paths["blocks"])
    checks = gate.ingest_gate(
        activity=activity, alerts=alerts, blocks=blocks, twin=twin, twin_hits=hits
    )
    counts = {}
    if tracer:
        counts = _ingest_counts(spark, src, activity, alerts, blocks, sink)
    shutil.rmtree(staging, ignore_errors=True)
    return Result(setup_s, windows, checks, counts, asdict(shape),
                  time.perf_counter() - t_gate)


def _await_files(query, deliveries: _Deliveries, ks, timeout: float) -> None:
    ks = list(ks)
    deadline = time.perf_counter() + timeout
    while deliveries.delivered(ks) < len(ks) and time.perf_counter() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"ingest query failed: {query.exception()}")
        time.sleep(0.02)


def _await_idle(query, timeout: float = DRAIN_TIMEOUT_S) -> None:
    """Wait until no micro-batch is running: the notifier fires before
    the batch's rate-state snapshot and commit, and stopping the query
    inside a batch would abandon them."""
    deadline = time.perf_counter() + timeout
    while query.status["isTriggerActive"] and time.perf_counter() < deadline:
        time.sleep(0.02)


def _batch_spans(query) -> list[tuple[float, float, dict]]:
    """(start, end, progress) of each recent micro-batch, on the
    perf_counter clock."""
    offset = time.time() - time.perf_counter()
    out = []
    for p in query.recentProgress:
        start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=dt.timezone.utc).timestamp() - offset
        out.append((start, start + p["durationMs"]["triggerExecution"] / 1e3, p))
    return out


def _live_window(spark, query, deliveries, generator, events_in, tracer, paths) -> Window:
    """Measure the window files of ``generator``."""
    ks = list(generator.window)
    sc = spark.sparkContext
    first_job = _next_job_id(sc) if tracer else 0
    files0 = sum(_dir_stats(p)[0] for p in paths.values())
    if tracer:
        tracer.spans.clear()
        tracer.enabled = True
    time.sleep(max(0.0, generator.due(ks[-1]) - time.perf_counter()) + 0.01)
    backlog_end = len(ks) - deliveries.delivered(ks)
    _await_files(query, deliveries, ks, DRAIN_TIMEOUT_S)
    # the last batch snapshots rate state and commits after notifying
    _await_idle(query)
    if tracer:
        tracer.enabled = False
    with deliveries.lock:
        got = {k: deliveries.first[k] for k in ks if k in deliveries.first}
        calls = list(deliveries.calls)
    w = Window()
    w.latencies_ms = [(got[k] - generator.due(k)) * 1e3 for k in ks if k in got]
    w.attempted = len(ks)
    w.failed = len(ks) - len(got)
    # throughput: every file and event of the micro-batches that
    # delivered this window's files, over those batches' wall span
    window_calls = [(t, f) for t, f in calls if f & set(ks)]
    if window_calls:
        lo, hi = window_calls[0][0], window_calls[-1][0]
        batches = [b for b in _batch_spans(query) if b[1] >= lo and b[0] <= hi]
    else:
        batches = []
    done = sorted(set().union(*[f for _, f in window_calls])) if window_calls else []
    events = sum(events_in[k] for k in done)
    if batches:
        w.elapsed_s = batches[-1][1] - batches[0][0]
        w.ops_per_s = len(done) / w.elapsed_s
        w.events_per_s = events / w.elapsed_s
    if tracer is None:
        return w
    n_b = max(len(batches), 1)

    def mean_dur(*keys):
        return sum(sum(b[2]["durationMs"].get(k, 0) for k in keys) for b in batches) / n_b

    _, jobs = _job_span(sc, first_job)
    per_op = _span_layers(tracer)
    n_ops = max(int(per_op.pop("ops", 0)), 1)
    files_added = sum(_dir_stats(p)[0] for p in paths.values()) - files0
    w.layer = {
        "ingest.trigger_ms": mean_dur("triggerExecution"),
        "ingest.add_batch_ms": mean_dur("addBatch"),
        "ingest.source_ms": mean_dur("getBatch", "latestOffset"),
        "ingest.commit_ms": mean_dur("walCommit", "commitOffsets"),
        "ingest.files_per_batch": sum(len(f) for _, f in window_calls) / max(len(window_calls), 1),
        "ingest.events_per_batch": events / n_b,
        # the foreachBatch body re-reads its source once per action
        "ingest.source_scans_per_batch": sum(b[2]["numInputRows"] for b in batches)
        / max(events, 1),
        "ingest.backlog_files_end": float(backlog_end),
        "ingest.generator_late_ms": max(generator.late) * 1e3,
        "sources.normalize_build_ms": per_op.get("dur:sources.normalize", 0.0),
        "rules.firewall_build_ms": per_op.get("dur:rules.firewall_check", 0.0),
        "rules.battery_build_ms": per_op.get("dur:rules.apply_rule_battery", 0.0),
        "rules.alerts_build_ms": per_op.get("dur:rules.derive_alerts", 0.0),
        "stateful.read_ms": per_op.get("dur:stateful.read_rate_state", 0.0),
        "stateful.write_ms": per_op.get("dur:stateful.write_rate_state", 0.0),
        "stateful.build_ms": per_op.get("dur:stateful.seeded_rate_counts", 0.0)
        + per_op.get("dur:stateful.rate_state_after", 0.0),
        "sinks.write_ms": per_op.get("dur:sinks.write", 0.0),
        "sinks.writes_per_batch": per_op.get("calls:sinks.write", 0.0),
        "sinks.files_per_batch": files_added / n_ops,
        "spark.jobs_per_op": jobs["jobs"] / n_ops,
        "spark.stages_per_op": jobs["stages"] / n_ops,
        "spark.tasks_per_op": jobs["tasks"] / n_ops,
        "spark.failed_tasks": float(jobs["failed_tasks"]),
        **_self_metrics(per_op),
    }
    return w


def _ingest_counts(spark, src, activity, alerts, blocks, sink) -> dict[str, float]:
    """Row counts behind the ingest ratio metrics (outside timing)."""
    raw = spark.read.schema(AGENT_EVENT).json(src)
    n_raw = raw.count()
    n_norm = normalize_agent_events(raw).count()
    n_act = activity.count()
    n_susp = activity.filter(F.col("is_suspicious")).count()
    state_dir = os.path.join(sink, "checkpoint", "rate_state")
    state = spark.read.parquet(state_dir)
    last = state.agg(F.max("batch_id")).first()[0]
    table_files, table_bytes = _dir_stats(os.path.join(sink, "activity"))
    return {
        "sources.kept_frac": n_norm / n_raw,
        "rules.suspicious_frac": n_susp / n_act,
        "rules.alerts_per_1k_events": alerts.count() * 1000.0 / n_raw,
        "rules.firewall_hit_frac": blocks.count() / n_norm,
        "stateful.state_rows": float(state.filter(F.col("batch_id") == last).count()),
        "sinks.bytes_per_event": table_bytes / n_act,
        "sinks.table_files": float(table_files),
        "sinks.table_bytes": float(table_bytes),
    }


# ── dashboard ───────────────────────────────────────────────────────


def build_dashboard_tables(spark: SparkSession, inputs: dict[str, str], out: str,
                           appends: int) -> dict[str, str]:
    """Enrich the raw rows with the rule battery and lay the table down
    through the partitioned sink in ``appends`` appends, plus the
    alerts table. Returns the table paths."""
    users = spark.read.parquet(inputs["users"])
    blacklist = spark.read.parquet(inputs["blacklist"])
    enriched = rules.apply_rule_battery(
        spark.read.parquet(inputs["raw"]), users=users, ip_blacklist=blacklist,
        now=DASH_NOW, with_rate_rule=True,
    ).drop("queries_last_min", "role").persist()
    paths = {"activity": os.path.join(out, "activity"), "alerts": os.path.join(out, "alerts")}
    try:
        for i in range(appends):
            sinks.write_activity_partitioned(
                enriched.filter(F.col("activity_id") % appends == i), paths["activity"]
            )
        rules.derive_alerts(enriched).write.mode("overwrite").parquet(paths["alerts"])
    finally:
        enriched.unpersist()
    return paths


def _requests(seed: int, n_users: int, zipf_a: float) -> list[tuple[str, dict]]:
    """One seeded pass of DASH_CYCLE as (kind, kwargs). The analyst
    repeats it: an open dashboard re-polls with the filters set on it,
    so they are drawn once."""
    r = np.random.default_rng([seed, 5])
    p = gen.zipf_weights(n_users, zipf_a)
    filters = {
        "severity": [None, "Critical", "High", "Medium", "Failed"][int(r.integers(5))],
        "database": [None, None, "customers", "orders"][int(r.integers(4))],
        "time_range_hours": [None, 24, 168][int(r.integers(3))],
    }
    out = []
    for kind in DASH_CYCLE:
        uid = int(r.choice(n_users, p=p)) + 1
        if kind == "dashboard_data":
            kw = dict(filters)
        elif kind in ("user_activities", "guest_summary"):
            kw = {"user_id": uid}
        elif kind == "behavior_profile":
            kw = {"user_id": uid, "days": 7}
        elif kind == "compliance_report":
            kw = {"report_type": ["daily", "weekly", "monthly"][int(r.integers(3))]}
        else:
            kw = {}
        out.append((kind, kw))
    return out


def _call(api: DamAnalytics, kind: str, kw: dict):
    return getattr(api, kind)(**kw)


def _rows_answered(kind: str, payload) -> int:
    """Activity rows an answer covers, as its payload reports them:
    the table totals behind the dashboard KPIs and the guest summary,
    the report's scope, the user's profile period, and the rows listed
    for a user page or the anomaly view."""
    if kind == "dashboard_data":
        return payload["stats"]["total_activities"]
    if kind == "chart_data":
        return payload["kpis"]["total"]
    if kind == "compliance_report":
        return payload["statistics"]["total_activities"]
    if kind in ("behavior_profile", "guest_summary"):
        return payload["total_activities"]
    if kind == "anomalies":
        return len(payload["volume"]) + len(payload["impossible_travel"])
    return len(payload)


def run_dashboard(
    spark: SparkSession, work: str, seed: int, seconds: int, tracer: Tracer | None, t_start: float
) -> Result:
    _say(t_start, "session started")
    shape = gen.dashboard_shape(seed, n_rows=DASH_ROWS, appends=DASH_APPENDS)
    inputs = gen.write_dashboard_inputs(os.path.join(work, "inputs"), seed, shape)
    _say(t_start, "inputs generated")
    paths = build_dashboard_tables(spark, inputs, os.path.join(work, "tables"), shape.appends)
    _say(t_start, "tables built")
    api = DamAnalytics(
        sinks.read_activity(spark, paths["activity"]),
        users=spark.read.parquet(inputs["users"]),
        security_alerts=spark.read.parquet(paths["alerts"]),
        now=DASH_NOW,
    )
    if tracer:
        tracer.install_engine()
    requests = _requests(seed, shape.n_users, shape.zipf_a)
    # warm-up: one untimed call of each distinct request the windows
    # repeat, so JIT and generated-code caches are as warm as on a
    # dashboard that has been polling for a while
    seen = []
    for kind, kw in requests:
        if (kind, kw) not in seen:
            seen.append((kind, kw))
            _call(api, kind, kw)
    setup_s = time.perf_counter() - t_start
    windows = []
    n_windows = 2 if tracer else 1
    for w in range(n_windows):
        traced = tracer is not None and w == n_windows - 1
        # every window issues the same request sequence, so the traced
        # and untraced windows differ only by tracing
        windows.append(_dash_window(spark, api, itertools.cycle(requests), seconds,
                                    tracer if traced else None, paths))
    t_gate = time.perf_counter()
    checks = gate.dashboard_gate(
        api.chart_data(), os.path.join(paths["activity"], "*", "*.parquet"), now=DASH_NOW
    )
    return Result(setup_s, windows, checks, {}, asdict(shape),
                  time.perf_counter() - t_gate)


def _dash_window(spark, api, stream, seconds, tracer, paths) -> Window:
    sc = spark.sparkContext
    first_job = _next_job_id(sc) if tracer else 0
    if tracer:
        tracer.spans.clear()
        tracer.enabled = True
    w = Window()
    rows: list[int] = []
    t0 = time.perf_counter()
    deadline = t0 + seconds
    while time.perf_counter() < deadline:
        kind, kw = next(stream)
        start = time.perf_counter()
        w.attempted += 1
        try:
            if tracer:
                with tracer.span(f"api.{kind}", op_id=w.attempted):
                    payload = _call(api, kind, kw)
            else:
                payload = _call(api, kind, kw)
        except Exception as exc:  # a failed request counts, the loop goes on
            print(f"request {kind} {kw} failed: {exc!r}")
            w.failed += 1
            continue
        w.latencies_ms.append((time.perf_counter() - start) * 1e3)
        w.kinds.append(kind)
        rows.append(_rows_answered(kind, payload))
    w.elapsed_s = time.perf_counter() - t0
    # A window holds about one pass of DASH_CYCLE, and where it cuts the
    # cycle would shift the mix; weight each request type to its share
    # of the cycle, and take throughput from the mix's mean latency.
    share = {k: DASH_CYCLE.count(k) / len(DASH_CYCLE) for k in DASH_CYCLE}
    seen = {k: w.kinds.count(k) for k in share if k in w.kinds}
    w.weights = [share[k] / seen[k] for k in w.kinds]
    norm = sum(share[k] for k in seen)
    def mix_mean(values):
        return sum(share[k] / norm * sum(v for v, kk in zip(values, w.kinds) if kk == k)
                   / seen[k] for k in seen)

    mix_ms = mix_mean(w.latencies_ms)
    w.ops_per_s = 1e3 / mix_ms if mix_ms else 0.0
    w.events_per_s = mix_mean(rows) * w.ops_per_s
    if tracer is None:
        return w
    tracer.enabled = False
    n = max(len(w.latencies_ms), 1)
    _, jobs = _job_span(sc, first_job)
    per_op = _span_layers(tracer)
    per_op.pop("ops", None)
    build = sum(v for k, v in per_op.items()
                if k.startswith(("self:analytics", "self:anomaly", "self:rules")))
    table_files, table_bytes = _dir_stats(paths["activity"])
    w.layer = {
        "api.build_ms": build,
        "api.action_ms": per_op.get("dur:spark.action", 0.0),
        "api.self_ms": per_op.get("self:api", 0.0),
        "api.actions_per_request": per_op.get("calls:spark.action", 0.0),
        "sinks.table_files": float(table_files),
        "sinks.table_bytes": float(table_bytes),
        "spark.jobs_per_op": jobs["jobs"] / n,
        "spark.stages_per_op": jobs["stages"] / n,
        "spark.tasks_per_op": jobs["tasks"] / n,
        "spark.failed_tasks": float(jobs["failed_tasks"]),
        **_self_metrics(per_op),
    }
    for kind in sorted(set(DASH_CYCLE)):
        lat = [x for x, k in zip(w.latencies_ms, w.kinds) if k == kind]
        w.layer[f"api.{kind}_ms"] = median(lat) if lat else 0.0
    return w


WORKLOADS = {
    "ingest_live": run_ingest_live,
    "dashboard": run_dashboard,
}
