"""BENCHMARK.json is generated from kgbench/spec.py and keeps to its format."""

import json
from pathlib import Path

from kgbench import spec

ROOT = Path(__file__).resolve().parents[2]


def test_benchmark_json_matches_spec():
    on_disk = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert on_disk == spec.benchmark_json()


def test_keys_names_and_units():
    b = spec.benchmark_json()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [w["name"] for w in b["workloads"]]
    names += [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    for name in names:
        assert spec.NAME_RE.fullmatch(name), name
    for w in b["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in b["end_to_end"] + b["per_layer"]:
        assert spec.UNIT_RE.fullmatch(m["unit"]), m
        assert m["better"] in ("higher", "lower")


def test_sizes_and_setup_metric():
    b = spec.benchmark_json()
    assert 2 <= len(b["workloads"]) <= 8
    assert 1 <= len(b["end_to_end"]) <= 16
    assert 1 <= len(b["per_layer"]) <= 128
    assert 1 <= b["run_seconds"] <= 60
    setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
    assert setup == [{"name": "setup_s", "unit": "s", "better": "lower", "bound": max(
        m["bound"] for m in b["end_to_end"])}]
    assert len(json.dumps(b)) <= 64 * 1024


def test_command_stays_inside_paths():
    b = spec.benchmark_json()
    assert len(b["command"]) <= 32
    for arg in b["command"][1:]:
        assert not arg.startswith("/") and ".." not in arg
        assert any(arg.startswith(p + "/") for p in b["paths"])


def test_battery_names_match_the_extractor_lists():
    from kgbench.battery import KINDS

    for kind, (_, extractors) in KINDS.items():
        names = [s.name for s in extractors]
        assert set(spec.BATTERY_EXTRACTORS[kind]) <= set(names)
        assert spec.BATTERY_HAS_OTHER[kind] == (len(spec.BATTERY_EXTRACTORS[kind]) < len(names))
