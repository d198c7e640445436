"""Smoke test of scripts/scale.py: the entry point runs in-process over
a 2x replica of the smallest sf directory for one registry row and one
scale-only (contrast) row, and emits the artifact's JSON line."""

from __future__ import annotations

import importlib.util
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _scale():
    spec = importlib.util.spec_from_file_location(
        "scale", os.path.join(ROOT, "scripts", "scale.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_name_filter_grammar():
    scale = _scale()
    rows = ["dedup_exact", "dedup_exact_substring", "text_code_quality"]
    assert scale.select_rows(rows, "") == rows
    assert scale.select_rows(rows, "exact") == rows[:2]
    assert scale.select_rows(rows, "dedup_exact,") == ["dedup_exact"]
    assert scale.select_rows(rows, "dedup_exact,text_code_quality") == [rows[0], rows[2]]
    assert scale.select_rows(rows, "!dedup_exact") == rows[1:]


def test_row_sets_are_registry_gates_or_reasoned_closures():
    from hive_scd_spark.queries import QUERIES

    scale = _scale()
    assert set(scale.ROWS_100X) <= set(scale.ROWS)
    assert len(set(scale.ROWS)) == len(scale.ROWS)
    for name in scale.ROWS:
        assert name in scale.SCALE_ONLY or name in QUERIES, name
    for name, (reason, fn) in scale.SCALE_ONLY.items():
        assert reason and callable(fn), name
    assert set(scale.CONTRAST_ROWS) <= set(scale.SCALE_ONLY)


def test_entry_point_emits_ratio_line(spark, sf_dir, capsys):
    scale = _scale()
    scale.REPS = 1  # one timed run per scale keeps the smoke test short
    rc = scale.main([sf_dir, "2", "text_code_quality,dedup_embedding_lsh_fixed4"], spark=spark)
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert out["metric"] == "scale2x_ratios" and out["replication"] == 2
    assert out["unit"] == "sec" and out["reps"] == 1
    assert out["sf_base"] == os.path.basename(sf_dir.rstrip("/"))
    assert "errors" not in out and "partial" not in out
    assert set(out["queries"]) == {"text_code_quality", "dedup_embedding_lsh_fixed4"}
    for row in out["queries"].values():
        assert {"t1", "t2", "ratio"} <= set(row)
        assert abs(row["ratio"] - row["t2"] / row["t1"]) < 0.02
    assert "contrast" not in out["queries"]["text_code_quality"]
    assert out["queries"]["dedup_embedding_lsh_fixed4"]["contrast"].startswith(
        "designed contrast row"
    )
