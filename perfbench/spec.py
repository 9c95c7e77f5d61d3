"""Read the metric names and units the benchmark declares in
``BENCHMARK.json``."""

from __future__ import annotations

import json

from perfbench.harness import ROOT


def load() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def per_layer_names() -> dict[str, str]:
    return {m["name"]: m["unit"] for m in load()["per_layer"]}


def end_to_end_names() -> dict[str, str]:
    return {m["name"]: m["unit"] for m in load()["end_to_end"]}
