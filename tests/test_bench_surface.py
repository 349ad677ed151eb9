"""The engine surface the traced benchmark run depends on, checked without a
Spark session. Only `perfbench/run.py --trace 1` imports perfbench/layers.py,
names per-layer metrics from pipeline.STAGES and drives the durable and
incremental paths, so an engine change that breaks that surface shows up
nowhere else before a traced run. Both files are read, never edited."""

from __future__ import annotations

import ast
import dataclasses
import importlib
import json
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "fuzzy_dedupe_pipeline_spark"


def _layers_tree() -> ast.Module:
    return ast.parse((ROOT / "perfbench" / "layers.py").read_text())


def test_layers_engine_imports_resolve():
    imports = [
        node
        for node in ast.walk(_layers_tree())
        if isinstance(node, ast.ImportFrom)
        and node.module
        and node.module.split(".")[0] == PACKAGE
    ]
    assert imports
    missing = []
    for node in imports:
        module = importlib.import_module(node.module)
        for alias in node.names:
            if hasattr(module, alias.name):
                continue
            try:  # `from package import submodule`
                importlib.import_module(f"{node.module}.{alias.name}")
            except ModuleNotFoundError:
                missing.append(f"{node.module}.{alias.name}")
    assert not missing, missing


def test_layers_config_overrides_are_fields():
    from fuzzy_dedupe_pipeline_spark.config import DedupeConfig

    fields = {f.name for f in dataclasses.fields(DedupeConfig)}
    overrides = {
        kw.arg
        for node in ast.walk(_layers_tree())
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "replace"
        for kw in node.keywords
    }
    assert overrides and overrides <= fields, overrides - fields


def test_stage_wall_metrics_match_benchmark():
    from fuzzy_dedupe_pipeline_spark.pipeline import STAGES

    declared = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer"]
    want = {
        m["name"]
        for m in declared
        if m["name"].startswith("pipeline.") and m["name"].endswith(".wall_s")
    }
    assert {f"pipeline.{s}.wall_s" for s in STAGES if s != "00_url_dedup"} == want
