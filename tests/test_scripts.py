"""Every ``scripts/*.py`` tool loads by path without starting Spark, so a
package rename that breaks a script's imports fails here (no Spark)."""

from __future__ import annotations

import importlib.util
from pathlib import Path

import pytest
from pyspark import SparkContext

SCRIPTS = sorted((Path(__file__).resolve().parents[1] / "scripts").glob("*.py"))


def test_scripts_found():
    assert SCRIPTS


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_loads_without_spark(path):
    before = SparkContext._active_spark_context
    spec = importlib.util.spec_from_file_location(f"_script_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert SparkContext._active_spark_context is before
