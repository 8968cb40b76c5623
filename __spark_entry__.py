"""Driver contract for the spark-graft builder (PySpark target).

Thin wrapper over the engine package: the query registry lives in
``automated_etl_pipeline_spark/queries*.py`` (PySpark + DuckDB-oracle
pairs per SURVEY.md §2); this module adapts it to the driver's
entry/queries/oracle_sql interface.
"""

from __future__ import annotations

import json
import sys
from collections.abc import Callable
from pathlib import Path

_REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(_REPO))

from pyspark.sql import DataFrame, SparkSession

from automated_etl_pipeline_spark import queries as _q
from automated_etl_pipeline_spark import queries_ext  # noqa: F401  (registers)
from automated_etl_pipeline_spark import queries_llm  # noqa: F401  (registers)
from automated_etl_pipeline_spark import queries_ml  # noqa: F401  (registers)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


# Gate-contract changes: a driver-green record only verifies the
# contract (oracle SQL + emitted columns) that existed when it was
# recorded.  When a gate's contract changes in round N, records from
# rounds < N are STALE and must not keep the gate out of the rotation —
# list name -> N here; the entry self-expires once the driver re-greens
# the gate at round >= N.
_CONTRACT_CHANGED: dict[str, int] = {
    # r10 rewrites (VERDICT r9 asks #2-#4): LCD ANSI oracles + new
    # integer gate columns — prior greens verified the old contract.
    "locf_hourly_gap_fill": 10,
    "rolling_anomaly_zscores": 10,
    "ks_drift_statistic": 10,
    "quality_mad_outliers": 10,
    # r10 advice fix: transcendental-free cent-moment gate values.
    "udaf_geometric_mean_price": 10,
    # r10 root-cause fix (VERIFY.md HUGEINT section): their r9 integer
    # conversions introduced uncast HUGEINT SUM outputs that have
    # never been driver-sampled; now cast to BIGINT.
    "multi_touch_attribution": 10,
    "salted_skew_agg": 10,
    # r12: pinned-coefficient integer logit replaces the no-oracle
    # IRLS-invariant contract (VERDICT r11 ask #3).
    "quality_classifier_filter": 12,
    # r12: rebuilt_checksum re-reduced mod 1e12 after an exact decimal
    # sum (r11 ADVICE: bare long sum wraps past ~9.2M docs/bucket).
    "line_dedup_rebuild": 12,
    # r13: pinned-coefficient integer scoring replaces the no-oracle
    # IRLS-invariant contract (VERDICT r12 ask #1) — prior rows-only
    # greens are stale.
    "m2_poisson_expected": 13,
    # r13: exact z-buckets moved from ntile (needed a single-partition
    # window — plan-sweep rule 4) to the closed-form balanced tile
    # rank*256 div N over distributed ranks; bucket values shift where
    # N % 256 != 0, so the oracle changed with the query.
    "zorder_bucket_stats": 13,
    # r14: the SF-dependent exact fragment-file count (failed at
    # sf0.001 — rows-per-partition artifact) was replaced by the
    # >=1-file-per-append invariant column frag_files_ge_appends; the
    # gate also gained the capture-base-first TOCTOU fix (r13 ADVICE).
    "manifest_compaction_rewrite": 14,
}


def _last_green_round() -> dict[str, int]:
    """For each query, the latest round whose driver correctness file has
    it green on ALL three axes (rows/schema/hash — a hash mismatch means
    ordering/float drift and must NOT count as verified).  Green records
    older than the gate's last contract change (_CONTRACT_CHANGED) are
    ignored: they verified a different oracle/column set.

    The driver checks queries in registration order under a budget (~50
    entries/round), so ordering by least-recently-verified bounds any
    query's staleness at ceil(n_queries / budget) rounds.
    """
    last: dict[str, int] = {}
    for f in sorted(_REPO.glob("CORRECTNESS_r*.json")):
        try:
            rnd = int(f.stem.split("_r")[-1])
        except ValueError:
            rnd = 0
        try:
            data = json.loads(f.read_text())
        except (OSError, json.JSONDecodeError):
            continue
        for name, res in data.items():
            if not isinstance(res, dict):
                continue
            all_green = (
                res.get("rows_match")
                and res.get("schema_match")
                and res.get("hash_match")
            )
            # no_oracle entries record None on all three axes; a clean
            # run (rows produced, no other error) is their whole contract.
            rows_only_green = (
                res.get("err") == "no_oracle" and res.get("spark_rows") is not None
            )
            if (all_green or rows_only_green) and rnd >= _CONTRACT_CHANGED.get(
                name, 0
            ):
                last[name] = max(last.get(name, 0), rnd)
    return last


def _ordered_names() -> list[str]:
    last = _last_green_round()
    names = list(_q.QUERIES)
    # Never-verified queries (last-green 0) first, then least recently
    # verified; registration order breaks ties so runs are deterministic.
    return sorted(names, key=lambda n: (last.get(n, 0), names.index(n)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7.1) on sf0.001: per-priority
    multi-aggregate of orders — scan → groupBy multi-agg → orderBy."""
    return _q.QUERIES["flagship_priority_agg"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {n: _q.QUERIES[n] for n in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    return {n: _q.ORACLES[n] for n in _ordered_names() if n in _q.ORACLES}
