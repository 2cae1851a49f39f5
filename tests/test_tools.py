"""The measurement tools under tools/: importing one has no side effects, and
ab.py's exact-result gate refuses to time variants that disagree."""

from __future__ import annotations

import importlib.util
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
TOOLS = sorted((REPO / "tools").glob("*.py"))

# Imports every tool in a fresh interpreter (so no session from the rest of
# the suite can mask one the import creates) and reports the tools whose
# import started a JVM or SparkContext, or changed os.environ.
_IMPORT_CHECK = """
import importlib.util, os, sys
import pyspark
from pyspark import SparkContext
bad = []
for path in sys.argv[1:]:
    before = dict(os.environ)
    name = "tool_" + os.path.basename(path)[:-3]
    spec = importlib.util.spec_from_file_location(name, path)
    sys.modules[name] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(sys.modules[name])
    if SparkContext._gateway is not None or SparkContext._active_spark_context:
        bad.append(f"{path}: started Spark")
    if dict(os.environ) != before:
        bad.append(f"{path}: changed os.environ")
        os.environ.clear()
        os.environ.update(before)
print("\\n".join(bad))
"""


def test_every_tool_imports_without_side_effects():
    assert TOOLS
    out = subprocess.run(
        [sys.executable, "-c", _IMPORT_CHECK, *map(str, TOOLS)],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert out == ""


def _load_ab():
    spec = importlib.util.spec_from_file_location("tool_ab", REPO / "tools" / "ab.py")
    ab = sys.modules["tool_ab"] = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ab)
    return ab


class _StubSession:
    def __init__(self, variant, conf):
        self.variant = variant

    def stop(self):
        pass


def _stub_experiment(ab, results, worked):
    def work(spark, sf_dir, names):
        worked.append(spark.variant)
        return {"bytes": 1}

    return ab.Experiment(
        variants={"a": {"k": "1"}, "b": {"k": "2"}},
        result=lambda spark, sf_dir, names: results[spark.variant],
        work=work,
    )


def test_ab_gate_refuses_to_time_differing_results():
    ab = _load_ab()
    worked = []
    exp = _stub_experiment(ab, {"a": "3:17", "b": "3:18"}, worked)
    with pytest.raises(ab.GateError) as err:
        ab.run_ab(exp, "unused", 2, [], session=_StubSession,
                  canary=lambda: (0.0, 0.0))
    assert err.value.args[0] == {"a": "3:17", "b": "3:18"}
    assert worked == []


def test_ab_times_agreeing_variants_interleaved():
    ab = _load_ab()
    worked = []
    exp = _stub_experiment(ab, {"a": "3:17", "b": "3:17"}, worked)
    ledger = ab.run_ab(exp, "unused", 2, [], session=_StubSession,
                       canary=lambda: (0.5, 0.25))
    assert worked == ["a", "b", "a", "b"]
    assert ledger["gate"] == {"passed": True, "digest": "3:17"}
    for variant, row in ledger["variants"].items():
        assert row["conf"] == exp.variants[variant]
        assert len(row["wall_s"]) == 2 and row["bytes"] == [1, 1]
        assert row["canaries"] == [[0.5, 0.25], [0.5, 0.25]]
