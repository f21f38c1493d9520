"""The registry sweep tool (tools/noop_sweep.py): record shape, plan
capture, warm runs compiling nothing, and a failing query not aborting
the sweep."""

from __future__ import annotations

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_sweep():
    path = os.path.join(ROOT, "tools", "noop_sweep.py")
    spec = importlib.util.spec_from_file_location("noop_sweep", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class _Boom:
    @staticmethod
    def spark(spark, sf_dir):
        raise RuntimeError("boom")


def test_sweep_records_timing_plans_and_errors(spark, sf_dir, tmp_path):
    from blockchaintoavro_spark.plans import load_all

    registry = load_all()
    cheap = ("dq01_scan_count", "dq02_project_arith")
    queries = {n: registry[n] for n in cheap}
    queries["boom"] = _Boom()
    explain_dir = str(tmp_path / "t")

    rows = _load_sweep().sweep(spark, queries, sf_dir, runs=2, explain_dir=explain_dir)

    assert set(rows) == {*cheap, "boom"}
    for name in cheap:
        assert set(rows[name]) == {"wall", "cpu", "iqr", "codegen_compiles"}, rows[name]
        assert rows[name]["wall"] >= 0 and rows[name]["iqr"] >= 0
        # after the warm-up pass every class is in the codegen cache
        assert rows[name]["codegen_compiles"] == 0, rows[name]
        with open(os.path.join(explain_dir, f"{name}.txt")) as f:
            assert "Physical Plan" in f.read()
    assert rows["boom"] == {"err": "RuntimeError: boom"}
    assert not os.path.exists(os.path.join(explain_dir, "boom.txt"))
