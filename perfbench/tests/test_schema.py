"""BENCHMARK.json against the contract and against what run.py prints."""

import json
import os
import re

import layers
import run

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_top_level_keys():
    assert set(spec()) == {"command", "paths", "run_seconds", "workloads",
                           "end_to_end", "per_layer"}


def test_command_and_paths():
    s = spec()
    assert s["command"][0] == "python3"
    assert 1 <= len(s["paths"]) <= 16
    for p in s["paths"]:
        assert PATH.match(p) and not p.startswith("/") and ".." not in p
    for arg in s["command"][1:]:
        assert any(arg.startswith(p + "/") for p in s["paths"])
    assert isinstance(s["run_seconds"], int) and 1 <= s["run_seconds"] <= 60


def test_workloads_match_runner():
    s = spec()
    assert [w["name"] for w in s["workloads"]] == list(run.WORKLOADS)
    for w in s["workloads"]:
        assert set(w) == {"name", "why"}
        assert len(w["why"]) <= 200 and "\n" not in w["why"]


def test_end_to_end_names_units_bounds():
    s = spec()
    printed = {m["name"]: m["unit"] for m in s["end_to_end"]}
    assert printed == run.E2E_UNITS
    for m in s["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in s["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in s["end_to_end"])


def test_per_layer_names_units():
    s = spec()
    printed = {m["name"]: m["unit"] for m in s["per_layer"]}
    assert printed == layers.LAYER_UNITS
    for m in s["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")


def test_names_unique():
    s = spec()
    names = [m["name"] for m in s["end_to_end"] + s["per_layer"]]
    names += [w["name"] for w in s["workloads"]]
    assert len(names) == len(set(names))
