"""Seeded input generator for the DAM benchmark.

Everything the engine reads in a run is produced here from the seed:
agent-event JSON files (general_log shape: ``event_time, user_host,
argument``) for the ingest workloads, and raw activity-log parquet plus
the small dimension tables for the dashboard workload. The same seed
gives byte-identical files; the engine only ever sees the files.

The seed also draws the traffic shape inside fixed ranges (Zipf user
skew, hex share, system-query share, alert / firewall / rate-burst
shares, out-of-order share), so different seeds exercise different
mixes of the same workload.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Event-time origin of the ingest streams; the hour is drawn per seed.
INGEST_DAY = dt.datetime(2026, 8, 3)
# Dashboard data ends here (the facade's "now" anchor).
DASHBOARD_NOW = dt.datetime(2026, 8, 31, 16, 0, 0)

NORMAL_TABLES = ("products", "orders", "inventory", "shipments", "sessions")
SENSITIVE_TABLES = ("customers", "accounts", "payments", "users")
SYSTEM_QUERIES = (
    "SHOW TABLES",
    "SELECT * FROM information_schema.tables",
    "COMMIT",
    "BEGIN",
    "SET NAMES utf8mb4",
    "SELECT argument FROM mysql.general_log",
)
# Critical-severity patterns that no firewall rule blocks.
INJECTIONS = (
    "SELECT * FROM products WHERE id={n} OR load_file('/etc/passwd')",
    "SELECT benchmark(100000, md5({n}))",
    "SELECT * INTO OUTFILE '/tmp/x{n}' FROM orders",
    "SELECT * FROM orders; waitfor delay '0:0:5' -- {n}",
)
# Hit an action='block' firewall rule: journaled, kept out of the log.
FIREWALL_BLOCKED = (
    "SELECT name FROM products WHERE id={n} UNION SELECT password FROM users",
    "SELECT sleep(5) FROM orders WHERE id={n}",
)
# High severity (sensitive column); 'salary' also hits an alert rule.
SENSITIVE = (
    "SELECT ssn, salary FROM employees WHERE id={n}",
    "SELECT password FROM staff WHERE id={n}",
    "UPDATE payroll SET bank_account='x' WHERE id={n}",
)

# (rule_id, pattern, description, match_type, action, priority,
#  applies_to_user, applies_to_ip, is_active)
FIREWALL_RULES = (
    (1, "union select", "Block UNION injection", "contains", "block", 1, None, None, True),
    (2, r"sleep\s*\(", "Block sleep payloads", "regex", "block", 2, None, None, True),
    (3, "delete from", "Alert on deletes", "starts_with", "alert", 3, None, None, True),
    (4, "payments", "Payments access by user3", "contains", "alert", 4, "user3", None, True),
    (5, "from", "Any query from 10.9.9.9", "contains", "alert", 5, None, "10.9.9.9", True),
    (6, "truncate", "Inactive rule", "contains", "block", 0, None, None, False),
    (7, "salary", "Salary mention", "contains", "alert", 3, None, None, True),
)
FIREWALL_SCHEMA = (
    "rule_id long, pattern string, description string, match_type string, "
    "action string, priority int, applies_to_user string, "
    "applies_to_ip string, is_active boolean"
)
USERS_SCHEMA = "user_id long, username string, role string"
BLACKLIST_SCHEMA = "ip_address string, reason string, expires_at timestamp"


@dataclass(frozen=True)
class IngestShape:
    """Traffic shape of one agent-event stream."""

    n_users: int
    zipf_a: float
    mean_events_per_file: int  # including the burst user's events
    file_span_s: float  # event time one file covers
    hex_share: float
    system_share: float
    injection_share: float
    sensitive_share: float
    firewall_share: float
    delete_share: float
    burst_events_per_file: int  # one burst user; >8/file breaches 100/min
    out_of_order_share: float
    start_hour: int


@dataclass(frozen=True)
class DashboardShape:
    """Shape of the analyst-dashboard tables."""

    n_rows: int
    n_users: int
    zipf_a: float
    days: int
    appends: int
    login_share: float
    failed_share: float
    injection_share: float
    sensitive_share: float
    hex_share: float
    large_share: float


def ingest_shape(seed: int, *, mean_events_per_file: int) -> IngestShape:
    """Draw an ingest shape for ``seed`` from fixed ranges."""
    r = np.random.default_rng([seed, 1])
    return IngestShape(
        n_users=200,
        zipf_a=round(float(r.uniform(1.05, 1.3)), 3),
        mean_events_per_file=mean_events_per_file,
        file_span_s=5.0,
        hex_share=round(float(r.uniform(0.03, 0.08)), 3),
        system_share=round(float(r.uniform(0.05, 0.10)), 3),
        injection_share=round(float(r.uniform(0.01, 0.03)), 3),
        sensitive_share=round(float(r.uniform(0.02, 0.04)), 3),
        firewall_share=round(float(r.uniform(0.02, 0.04)), 3),
        delete_share=round(float(r.uniform(0.03, 0.06)), 3),
        burst_events_per_file=int(r.integers(9, 12)),
        out_of_order_share=round(float(r.uniform(0.01, 0.03)), 3),
        start_hour=int(r.integers(7, 19)),
    )


def dashboard_shape(seed: int, *, n_rows: int, appends: int) -> DashboardShape:
    r = np.random.default_rng([seed, 2])
    return DashboardShape(
        n_rows=n_rows,
        n_users=2000,
        zipf_a=round(float(r.uniform(1.05, 1.3)), 3),
        days=14,
        appends=appends,
        login_share=round(float(r.uniform(0.04, 0.08)), 3),
        failed_share=round(float(r.uniform(0.02, 0.05)), 3),
        injection_share=round(float(r.uniform(0.005, 0.015)), 4),
        sensitive_share=round(float(r.uniform(0.02, 0.04)), 3),
        hex_share=round(float(r.uniform(0.005, 0.015)), 4),
        large_share=round(float(r.uniform(0.005, 0.02)), 4),
    )


def zipf_weights(n: int, a: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** a
    return w / w.sum()


def users_rows(n_users: int) -> list[tuple]:
    """user{i}: every tenth a Guest, every 25th an Admin, else User.
    The burst service account is user ``n_users + 1``."""
    rows = []
    for i in range(1, n_users + 2):
        role = "Admin" if i % 25 == 0 else "Guest" if i % 10 == 0 else "User"
        name = "svc_batch" if i == n_users + 1 else f"user{i}"
        rows.append((i, name, role))
    return rows


def blacklist_rows() -> list[tuple]:
    far = dt.datetime(2099, 1, 1)
    return [
        ("10.66.0.1", "scanner", far),
        ("10.66.0.2", "brute force", far),
        ("10.66.0.3", "expired", dt.datetime(2020, 1, 1)),
    ]


# ── agent-event files ───────────────────────────────────────────────


def _ts(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}"


def _host(name: str, k: int) -> str:
    return f"{name}[{name}] @ app{k % 4} [10.0.{k % 7}.{k % 251}]"


def _plain_sql(r: np.random.Generator, n: int) -> str:
    table = NORMAL_TABLES[int(r.integers(len(NORMAL_TABLES)))]
    if r.random() < 0.2:
        table = SENSITIVE_TABLES[int(r.integers(len(SENSITIVE_TABLES)))]
    kind = r.random()
    if kind < 0.7:
        return f"SELECT id, name, qty FROM {table} WHERE id={n}"
    if kind < 0.85:
        return f"INSERT INTO {table} VALUES ({n}, 'item{n}', {n % 97})"
    return f"UPDATE {table} SET qty={n % 97} WHERE id={n}"


def file_start(shape: IngestShape, k: int) -> dt.datetime:
    """Event time at which file ``k``'s own events begin."""
    origin = INGEST_DAY.replace(hour=shape.start_hour)
    return origin + dt.timedelta(seconds=shape.file_span_s * k)


def file_of(shape: IngestShape, event_time: dt.datetime) -> int:
    """Inverse of :func:`file_start`: the file whose span holds
    ``event_time`` (alerts carry their event time as created_at)."""
    origin = INGEST_DAY.replace(hour=shape.start_hour)
    return int((event_time - origin).total_seconds() // shape.file_span_s)


def agent_file_lines(shape: IngestShape, seed: int, k: int) -> list[str]:
    """JSON lines of agent-event file ``k``.

    Event 0 is the file's marker: a sensitive-column read by an
    ordinary user, which always raises a High alert, so every file
    has at least one alert whose created_at falls in the file's span.
    Out-of-order events are plain SELECTs (never an alert) stamped
    with the previous file's span; they come from Zipf users, who stay
    far below the 100/min rate limit, so late arrival cannot change a
    rate verdict.
    """
    r = np.random.default_rng([seed, 3, k])
    base = file_start(shape, k)
    # the file's non-burst events, marker included: uniform on
    # 1 .. 2m - 1, so a file holds the shape's mean on average
    n = int(r.integers(1, 2 * (shape.mean_events_per_file - shape.burst_events_per_file)))
    step = shape.file_span_s / (n + shape.burst_events_per_file + 1)
    weights = zipf_weights(shape.n_users, shape.zipf_a)
    users = r.choice(shape.n_users, size=n, p=weights) + 1
    lines = []

    def emit(t: dt.datetime, user_host: str, argument: str) -> None:
        lines.append(json.dumps(
            {"event_time": _ts(t), "user_host": user_host, "argument": argument}
        ))

    marker_user = 1 if users[0] % 10 == 0 else int(users[0])  # never a Guest
    emit(
        base,
        _host(f"user{marker_user}", k),
        f"SELECT credit_card FROM customers WHERE id={k}",
    )
    cuts = np.cumsum([
        shape.out_of_order_share,
        shape.system_share,
        shape.injection_share,
        shape.sensitive_share,
        shape.firewall_share,
        shape.delete_share,
    ])
    slot = 1
    for j in range(1, n):
        t = base + dt.timedelta(seconds=step * slot)
        slot += 1
        uid = int(users[j])
        num = k * 1000 + j
        x = r.random()
        if x < cuts[0] and k > 0:
            late = t - dt.timedelta(seconds=shape.file_span_s)
            emit(late, _host(f"user{uid}", k),
                 f"SELECT id, name FROM products WHERE id={num}")
            continue
        if x < cuts[1]:
            sql = SYSTEM_QUERIES[int(r.integers(len(SYSTEM_QUERIES)))]
        elif x < cuts[2]:
            sql = INJECTIONS[int(r.integers(len(INJECTIONS)))].format(n=num)
        elif x < cuts[3]:
            sql = SENSITIVE[int(r.integers(len(SENSITIVE)))].format(n=num)
        elif x < cuts[4]:
            sql = FIREWALL_BLOCKED[int(r.integers(len(FIREWALL_BLOCKED)))].format(n=num)
        elif x < cuts[5]:
            sql = f"DELETE FROM orders WHERE id={num}"
        else:
            sql = _plain_sql(r, num)
        if r.random() < shape.hex_share:
            sql = "0x" + sql.encode().hex()
        host = "" if r.random() < 0.01 else _host(f"user{uid}", k)
        emit(t, host, sql)
    for b in range(shape.burst_events_per_file):
        t = base + dt.timedelta(seconds=step * (slot + b))
        emit(t, _host("svc_batch", k), f"SELECT id FROM orders WHERE id={k * 100 + b}")
    return lines


def write_agent_file(path: str, lines: list[str]) -> int:
    """Write one agent-event file; returns the number of events."""
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    return len(lines)


# ── dashboard tables ────────────────────────────────────────────────

_OPS = ("SELECT", "INSERT", "UPDATE", "DELETE", "CREATE", "DROP", "ALTER", "GRANT", "OTHER")
_OP_P = np.array([0.62, 0.14, 0.11, 0.06, 0.015, 0.01, 0.015, 0.01, 0.02])
_COLS = ("id", "name", "qty", "status", "created_at")


def _details(op: str, table: str, n: int, r: np.random.Generator, s: DashboardShape) -> str:
    x = r.random()
    if x < s.injection_share:
        return INJECTIONS[n % len(INJECTIONS)].format(n=n)
    if x < s.injection_share + s.sensitive_share:
        return SENSITIVE[n % len(SENSITIVE)].format(n=n)
    if x < s.injection_share + s.sensitive_share + s.hex_share:
        return f"SELECT * FROM {table} WHERE tag=0x{n:012x}"
    col = _COLS[n % len(_COLS)]
    if op == "SELECT":
        return f"SELECT {col} FROM {table} WHERE id={n}"
    if op == "INSERT":
        return f"INSERT INTO {table} ({col}) VALUES ({n})"
    if op == "UPDATE":
        return f"UPDATE {table} SET {col}={n % 97} WHERE id={n}"
    if op == "DELETE":
        return f"DELETE FROM {table} WHERE id={n}"
    if op in ("CREATE", "DROP", "ALTER"):
        return f"{op} TABLE {table}_{n % 13}"
    if op == "GRANT":
        return f"GRANT SELECT ON {table} TO user{n % 50}"
    return f"CALL refresh_{table}({n})"


def dashboard_activity(seed: int, s: DashboardShape) -> pa.Table:
    """Raw activity_logs rows (the battery's input; derived threat
    columns are computed by the engine when the table is built)."""
    r = np.random.default_rng([seed, 4])
    n = s.n_rows
    user = r.choice(s.n_users, size=n, p=zipf_weights(s.n_users, s.zipf_a)) + 1
    span = s.days * 86400
    # diurnal load: two thirds of the traffic inside working hours
    day = r.integers(0, s.days, size=n)
    in_hours = r.random(n) < 0.66
    sec_of_day = np.where(
        in_hours, r.integers(9 * 3600, 18 * 3600, size=n), r.integers(0, 86400, size=n)
    )
    offset = span - (day * 86400 + (86400 - sec_of_day))
    start = DASHBOARD_NOW - dt.timedelta(seconds=span)
    ts_us = (
        int(start.replace(tzinfo=dt.timezone.utc).timestamp()) + offset
    ) * 1_000_000 + r.integers(0, 1_000_000, size=n)
    is_login = r.random(n) < s.login_share
    ops = np.where(is_login, "LOGIN", r.choice(_OPS, size=n, p=_OP_P / _OP_P.sum()))
    tables_all = NORMAL_TABLES + SENSITIVE_TABLES + ("financial", "transactions", "credit_cards")
    tables = r.choice(len(tables_all), size=n)
    failed = r.random(n) < s.failed_share
    large = r.random(n) < s.large_share
    rows_aff = np.where(large, r.integers(1001, 50_000, size=n), r.integers(0, 200, size=n))
    ip_pick = r.integers(0, 2, size=n)
    blk = r.random(n) < 0.002
    details, table_col, ip_col = [], [], []
    for i in range(n):
        op = str(ops[i])
        t = tables_all[int(tables[i])]
        if op == "LOGIN":
            details.append(f"LOGIN user{int(user[i])}")
            table_col.append(None)
        else:
            d = _details(op, t, i, r, s)
            details.append(d + (" -- failed" if failed[i] else ""))
            table_col.append(t)
        u = int(user[i])
        ip_col.append(
            f"10.66.0.{1 + i % 3}" if blk[i] else f"10.{u % 200}.{u // 200}.{1 + int(ip_pick[i])}"
        )
    hashes = [hashlib.md5(d.encode()).hexdigest() for d in details]
    return pa.table({
        "activity_id": pa.array(np.arange(1, n + 1), pa.int64()),
        "user_id": pa.array(user.astype(np.int64), pa.int64()),
        "username": pa.array([f"user{int(u)}" for u in user], pa.string()),
        "operation_type": pa.array(ops.tolist(), pa.string()),
        "table_name": pa.array(table_col, pa.string()),
        "operation_status": pa.array(np.where(failed, "Failed", "Success").tolist(), pa.string()),
        "operation_details": pa.array(details, pa.string()),
        "ip_address": pa.array(ip_col, pa.string()),
        "access_timestamp": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        "session_id": pa.array([f"s{int(u)}-{int(d)}" for u, d in zip(user, day)], pa.string()),
        "rows_affected": pa.array(rows_aff.astype(np.int32), pa.int32()),
        "query_hash": pa.array(hashes, pa.string()),
    })


def write_dashboard_inputs(root: str, seed: int, s: DashboardShape) -> dict[str, str]:
    """Raw activity parquet (one file per later append) plus users and
    blacklist parquet; returns their paths."""
    paths = {k: os.path.join(root, k) for k in ("raw", "users", "blacklist")}
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    table = dashboard_activity(seed, s)
    # append i carries every row with activity_id % appends == i, so
    # each append spans the whole date range, as streamed batches of
    # late and on-time events do
    ids = table.column("activity_id").to_numpy()
    for i in range(s.appends):
        part = table.filter(pa.array(ids % s.appends == i))
        pq.write_table(part, os.path.join(paths["raw"], f"part-{i:03d}.parquet"))
    users = users_rows(s.n_users)
    pq.write_table(
        pa.table({
            "user_id": pa.array([u[0] for u in users], pa.int64()),
            "username": pa.array([u[1] for u in users], pa.string()),
            "role": pa.array([u[2] for u in users], pa.string()),
        }),
        os.path.join(paths["users"], "users.parquet"),
    )
    bl = blacklist_rows()
    pq.write_table(
        pa.table({
            "ip_address": pa.array([b[0] for b in bl], pa.string()),
            "reason": pa.array([b[1] for b in bl], pa.string()),
            "expires_at": pa.array(
                [b[2].replace(tzinfo=dt.timezone.utc) for b in bl],
                pa.timestamp("us", tz="UTC"),
            ),
        }),
        os.path.join(paths["blacklist"], "blacklist.parquet"),
    )
    return paths
