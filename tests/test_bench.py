"""bench.py harness contract (VERDICT r3 ask #2): one broken query must
never zero out the round's perf signal — the JSON line always comes out,
failures land under "errors", and the survivors are timed.

Runs in a SUBPROCESS: bench.main() builds and .stop()s SparkSessions
(its recycling design), and getOrCreate() shares the JVM-wide session —
running it in-process would kill the suite's session fixture.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

_DRIVER = """
import json, sys
sys.path.insert(0, {repo!r})
import __spark_entry__ as entry_mod

def fake_queries():
    def ok(spark, sf_dir):
        return spark.range(5)
    def boom(spark, sf_dir):
        raise RuntimeError("synthetic query failure")
    def ok2(spark, sf_dir):
        return spark.range(3)
    return {{"q_ok": ok, "q_boom": boom, "q_ok2": ok2}}

entry_mod.queries = fake_queries
import bench
bench.main()
"""


def test_bench_survives_failing_query(tmp_path):
    detail = tmp_path / "BENCH_DETAIL.json"
    proc = subprocess.run(
        [sys.executable, "-c", _DRIVER.format(repo=str(REPO))],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(REPO),
        env={
            "PATH": "/usr/bin:/bin",
            "HOME": "/root",
            "JAVA_HOME": __import__("os").environ.get("JAVA_HOME", ""),
            "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
            "SPARK_GRAFT_BENCH_COLD": "1",  # skip warm pass
            "SPARK_GRAFT_CPUS": "4",
            # keep the fake-query run away from the committed record
            "SPARK_GRAFT_BENCH_DETAIL": str(detail),
            # single-process path: a chunk subprocess would re-import
            # the REAL registry, losing the fake queries injected above
            "SPARK_GRAFT_BENCH_CHUNKED": "0",
        },
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    # contract (VERDICT r4 ask #2): LAST line is a compact summary that
    # always fits a 2000-char tail; the full per-query record precedes
    # it and is also written to BENCH_DETAIL.json
    compact = json.loads(lines[-1])
    assert compact["n"] == 2 and compact["errors"] == 1
    assert compact["mode"] == "cold" and compact["value"] > 0
    assert len(lines[-1]) < 500
    assert compact["detail"] == "BENCH_DETAIL.json"

    out = json.loads(lines[-2])
    assert set(out["queries"]) == {"q_ok", "q_ok2"}
    assert all(isinstance(v, float) for v in out["queries"].values())
    assert "synthetic query failure" in out["errors"]["q_boom"]
    assert out["mode"] == "cold"
    assert out["value"] > 0

    got_detail = json.loads(detail.read_text())
    assert got_detail["queries"] == out["queries"]


def test_bench_chunked_mode_isolates_jvms(tmp_path):
    """VERDICT r7 ask #2: the default sweep runs in subprocess chunks,
    one JVM per chunk, so late-sweep JVM aging can't inflate readings.
    Two real registry queries, chunk size 1 → two child JVMs; the
    merged record must carry both timings and the usual two lines."""
    import os

    detail = tmp_path / "BENCH_DETAIL.json"
    proc = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=str(REPO),
        env={
            "PATH": "/usr/bin:/bin",
            "HOME": "/root",
            "JAVA_HOME": os.environ.get("JAVA_HOME", ""),
            "SPARK_GRAFT_SF_DIR": "/root/testdata/sf0.001",
            "SPARK_GRAFT_BENCH_COLD": "1",
            "SPARK_GRAFT_CPUS": "4",
            "SPARK_GRAFT_BENCH_DETAIL": str(detail),
            "SPARK_GRAFT_BENCH_ONLY": "flagship_priority_agg,p5_filter_project",
            "SPARK_GRAFT_BENCH_CHUNK_SIZE": "1",
        },
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    compact = json.loads(lines[-1])
    assert compact["n"] == 2 and compact["errors"] == 0
    out = json.loads(lines[-2])
    assert set(out["queries"]) == {"flagship_priority_agg", "p5_filter_project"}
    assert all(v > 0 for v in out["queries"].values())


def test_newest_anchors_skips_cold_and_prefers_latest(tmp_path):
    """The newest anchor per query (the ``value`` of each
    ``anchors_with_provenance`` entry): later rounds override earlier
    ones, ``*_cold`` rounds are ignored (not comparable to the warm
    sweep), and junk values are dropped."""
    import bench

    p = tmp_path / "anchors.json"
    p.write_text(
        json.dumps(
            {
                "rounds": {
                    "r1": {"a": 1.0, "b": 2.0, "junk": None},
                    "r2_cold": {"a": 99.0, "c": 5.0},
                    "r3": {"a": 0.5, "z": 0},
                }
            }
        )
    )
    a = {q: e["value"] for q, e in bench.anchors_with_provenance(p).items()}
    assert a == {"a": 0.5, "b": 2.0}
    assert bench.anchors_with_provenance(tmp_path / "missing.json") == {}


_ADJ_DRIVER = """
import json, sys, time
sys.path.insert(0, {repo!r})
import __spark_entry__ as entry_mod

def fake_queries():
    def slow(spark, sf_dir):
        time.sleep(0.25)  # guarantees wall >= 0.2 and >= 2x the 0.001 anchor
        return spark.range(2)
    return {{"q_slow": slow}}

entry_mod.queries = fake_queries
import bench
bench.main()
"""


def test_bench_self_adjudicates_2x_readings(tmp_path):
    """VERDICT r6 ask #2: a query reading >=2x its newest anchor is
    automatically re-run standalone (fresh session, n=3) and both the
    in-sweep wall and the standalone median land in the bench record."""
    detail = tmp_path / "BENCH_DETAIL.json"
    anchors = tmp_path / "anchors.json"
    anchors.write_text(json.dumps({"rounds": {"r1": {"q_slow": 0.001}}}))
    # adjudication is gated on sf >= 0.1 (parsed from the dir name);
    # symlink a tiny dataset under an sf0.1-named path
    sf_dir = tmp_path / "sf0.1"
    sf_dir.symlink_to("/root/testdata/sf0.001")
    env = {
        "PATH": "/usr/bin:/bin",
        "HOME": "/root",
        "JAVA_HOME": __import__("os").environ.get("JAVA_HOME", ""),
        "SPARK_GRAFT_SF_DIR": str(sf_dir),
        "SPARK_GRAFT_BENCH_COLD": "1",
        "SPARK_GRAFT_CPUS": "4",
        "SPARK_GRAFT_BENCH_DETAIL": str(detail),
        "SPARK_GRAFT_BENCH_ANCHORS": str(anchors),
        "SPARK_GRAFT_BENCH_CHUNKED": "0",  # fake queries: see above
    }
    # This test launches 4 sequential Spark JVMs in a subprocess; under
    # full-suite load a launch can transiently fail (observed once in
    # ~10 full-suite runs). One retry keeps the suite honest without
    # masking a deterministic break.
    for attempt in (1, 2):
        proc = subprocess.run(
            [sys.executable, "-c", _ADJ_DRIVER.format(repo=str(REPO))],
            capture_output=True,
            text=True,
            timeout=300,
            cwd=str(REPO),
            env=env,
        )
        if proc.returncode == 0:
            break
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-2])
    adj = out["standalone"]["q_slow"]
    assert adj["anchor"] == 0.001 and adj["wall"] >= 0.2
    assert adj["ratio"] >= 2.0
    assert len(adj["standalone_reps"]) == 3
    assert adj["standalone_median"] >= 0.25
    # r16 noise-proofing additions (VERDICT r15 ask #1), additions-only:
    # the contract core count (not just os.cpu_count()) and the
    # anchor-normalized per-query ratios + their median land in the
    # record, so a reader can split ambient from code in one pass.
    assert out["conditions"]["cpus_env"] == "4"
    assert out["anchor_ratios"]["q_slow"] >= 2.0
    assert (
        out["conditions"]["anchor_ratio_median"]
        == out["anchor_ratios"]["q_slow"]
    )
    assert out["conditions"]["anchor_ratio_n"] == 1


# Layers that predate the r14 governance rule (VERDICT r13 ask #2);
# the rule applies to everything added from r13 on.
_GRANDFATHERED_SMALL_LAYERS = {
    "r6_adjudications",
    "r7_adjudications",
    "r8_adjudications",
}


def test_baseline_bench_small_layers_carry_note():
    """Anchor governance (VERDICT r13 ask #2a): any targeted re-anchor
    layer (sub-30-entry, non-cold) in the committed BASELINE_BENCH.json
    must carry a ``_note`` naming the contract change it re-anchors —
    a bare self-anchor could silently normalize a regression."""
    import bench

    data = json.loads((REPO / "BASELINE_BENCH.json").read_text())
    for rname, vals in data["rounds"].items():
        if rname.endswith("_cold") or not isinstance(vals, dict):
            continue
        if rname in _GRANDFATHERED_SMALL_LAYERS:
            continue
        n = sum(
            1
            for k, v in vals.items()
            if not k.startswith("_") and isinstance(v, (int, float))
        )
        if n < bench.SELF_ANCHOR_MAX_ENTRIES:
            assert "_note" in vals, (
                f"self-anchor layer {rname!r} ({n} entries) lacks a _note"
            )


def test_anchors_with_provenance_reports_prior(tmp_path):
    """Anchor governance (VERDICT r13 ask #2b): a gate whose newest
    anchor is a targeted self-anchor keeps its newest FULL-layer anchor
    as ``prior``, so bench records can show both ratios."""
    import bench

    full = {f"q{i}": 1.0 for i in range(bench.SELF_ANCHOR_MAX_ENTRIES)}
    p = tmp_path / "anchors.json"
    p.write_text(
        json.dumps(
            {
                "rounds": {
                    "r1_local": full,
                    "r2_local": {**full, "q0": 0.8},
                    "r3_local": {"_note": "q0 contract changed", "q0": 2.0},
                }
            }
        )
    )
    prov = bench.anchors_with_provenance(p)
    assert prov["q0"] == {
        "value": 2.0,
        "layer": "r3_local",
        "self_anchor": True,
        "prior": 0.8,
    }
    # a gate never self-anchored: newest full layer, no prior
    assert prov["q1"]["self_anchor"] is False and prov["q1"]["prior"] is None
    # real committed file: the r13_local self-anchors must resolve a prior
    real = bench.anchors_with_provenance(REPO / "BASELINE_BENCH.json")
    r13 = {q: v for q, v in real.items() if v["layer"] == "r13_local"}
    assert r13, "r13_local self-anchor layer disappeared"
    assert all(v["self_anchor"] and v["prior"] for v in r13.values())
