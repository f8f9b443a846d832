"""Every ``scripts/*.py`` tool loads by path without starting Spark, so a
package rename that breaks a script's imports fails here (no Spark), and
without reading the loading program's command line."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest
from pyspark import SparkContext

SCRIPTS = sorted((Path(__file__).resolve().parents[1] / "scripts").glob("*.py"))

#: argv of a program that loads a script as a module; no script may take it
#: as its own (the command line is ``main()``'s to parse)
SENTINEL = "sentinel-argv-of-the-loading-program"


def _load(path: Path):
    spec = importlib.util.spec_from_file_location(f"_script_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_scripts_found():
    assert SCRIPTS


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_loads_without_spark(path):
    before = SparkContext._active_spark_context
    _load(path)
    assert SparkContext._active_spark_context is before


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_reads_no_argv_at_import(path, monkeypatch):
    monkeypatch.setattr(sys, "argv", [SENTINEL, SENTINEL, SENTINEL])
    module = _load(path)
    taken = [k for k, v in vars(module).items() if isinstance(v, str) and SENTINEL in v]
    assert not taken, f"{path.name} reads sys.argv at import into {taken}"
