"""Tests for tools/: the self-check gate's value normalization
(tools/check_correctness.py; the NaN / negative-zero symmetry fixes
from round 2's ADVICE.md, no SparkSession needed), the executed-plan
metrics walk (tools/metrics_report.py), and the commands the docs name.
"""

from __future__ import annotations

import math
import re
from pathlib import Path

from tests.conftest import SF_SMOKE
from tools.check_correctness import normalize


def test_nan_normalizes_identically_both_directions():
    # NaN == NaN must pass (same normalized string), and NaN must NOT
    # collapse into NULL (they must normalize differently).
    spark_side = normalize([(float("nan"), 1)])
    oracle_side = normalize([(float("nan"), 1)])
    assert spark_side == oracle_side
    null_side = normalize([(None, 1)])
    assert spark_side != null_side


def test_negative_zero_folds_into_positive_zero():
    assert normalize([(-0.0,)]) == normalize([(0.0,)])
    # and the folded string is the positive form
    assert normalize([(-0.0,)])[0][0] == "0.000000000"


def test_float_rounding_unchanged():
    a = normalize([(1.23456789012345,)])
    b = normalize([(1.234567890,)])
    assert a == b  # 9-digit round still in force
    assert not math.isnan(float(a[0][0]))


def test_lrv_rotation_orders_stale_first(tmp_path, monkeypatch):
    """__spark_entry__ must order queries never-verified first, then by
    least-recently-green round; hash mismatch must NOT count as green;
    no_oracle clean runs must count."""
    import json

    import __spark_entry__ as e

    files = {
        "CORRECTNESS_r01.json": {
            "q_green_r1": {"rows_match": True, "schema_match": True, "hash_match": True},
            "q_hash_mismatch": {"rows_match": True, "schema_match": True, "hash_match": False},
            "q_no_oracle": {"rows_match": None, "schema_match": None, "hash_match": None,
                            "spark_rows": 5, "err": "no_oracle"},
        },
        "CORRECTNESS_r02.json": {
            "q_green_r2": {"rows_match": True, "schema_match": True, "hash_match": True},
        },
    }
    for name, data in files.items():
        (tmp_path / name).write_text(json.dumps(data))
    monkeypatch.setattr(e, "_REPO", tmp_path)
    last = e._last_green_round()
    assert last["q_green_r1"] == 1 and last["q_green_r2"] == 2
    assert last["q_no_oracle"] == 1
    assert "q_hash_mismatch" not in last  # stays in the fresh group


def test_metrics_report_walks_aqe_stages_and_reuse(spark):
    """tools/metrics_report.py descends through the AQE wrappers into
    the query stages, marks a reused exchange instead of counting it
    twice, and reads the shuffle metrics of the stages it reaches.
    q15_top_supplier's plan reuses its revenue exchange."""
    import __spark_entry__ as e
    from tools.metrics_report import report, summarize

    tree = report(e.queries()["q15_top_supplier"](spark, SF_SMOKE))
    names = [name for _, name, _ in tree]
    assert "AdaptiveSparkPlan" in names
    assert any(n.startswith("ShuffleQueryStage") for n in names)
    assert any(n.endswith("[reused: counted above]") for n in names)
    assert summarize(tree)["shuffle_bytes_written"] > 0


def test_documented_commands_name_existing_files():
    """Every `python <path>.py` command in README.md and the verify
    skill names a file that exists, so retiring a script without its
    doc line fails here."""
    root = Path(__file__).resolve().parent.parent
    cmd = re.compile(r"\bpython3? +([\w./-]+\.py)\b")
    docs = [root / "README.md", root / ".claude/skills/verify/SKILL.md"]
    paths = {m for doc in docs for m in cmd.findall(doc.read_text())}
    assert paths  # the pattern still matches the docs' command lines
    missing = sorted(p for p in paths if not (root / p).is_file())
    assert not missing, missing
