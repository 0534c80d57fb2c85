"""The generator is a pure function of the seed."""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

from dambench import gen

ROOT = Path(__file__).resolve().parents[2]


def _digests(root: Path) -> dict[str, str]:
    return {
        str(p.relative_to(root)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(root.rglob("*")) if p.is_file()
    }


def _write_all(root: Path, seed: int) -> dict[str, str]:
    shape = gen.ingest_shape(seed, mean_events_per_file=20)
    (root / "agent").mkdir(parents=True)
    for k in range(8):
        gen.write_agent_file(str(root / "agent" / f"f{k}.json"), gen.agent_file_lines(shape, seed, k))
    gen.write_dashboard_inputs(
        str(root / "dash"), seed, gen.dashboard_shape(seed, n_rows=3000, appends=3)
    )
    return _digests(root)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _write_all(tmp_path / "a", 7)
    b = _write_all(tmp_path / "b", 7)
    c = _write_all(tmp_path / "c", 8)
    assert a == b
    assert len(a) == 8 + 3 + 2
    assert all(a[k] != c[k] for k in a if k.startswith("agent") or "raw" in k)


def test_every_file_carries_its_marker_alert_in_its_own_span():
    shape = gen.ingest_shape(3, mean_events_per_file=20)
    for k in range(1, 30):
        events = [json.loads(line) for line in gen.agent_file_lines(shape, 3, k)]
        marker = events[0]
        assert "credit_card" in marker["argument"]
        t = gen.file_start(shape, k)
        assert marker["event_time"].startswith(t.strftime("%Y-%m-%dT%H:%M:%S"))
        assert gen.file_of(shape, t) == k


def test_file_sizes_vary_around_the_mean():
    shape = gen.ingest_shape(4, mean_events_per_file=20)
    sizes = [len(gen.agent_file_lines(shape, 4, k)) for k in range(400)]
    assert len(set(sizes)) > 5
    assert min(sizes) > shape.burst_events_per_file
    assert abs(sum(sizes) / len(sizes) - 20) < 1.0


def test_benchmark_json_matches_run_py():
    from dambench import run, workloads

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
