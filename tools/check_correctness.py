"""Local replica of the driver's t2 correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables, then compares row count, sorted
column names, and order-insensitive values. Use while iterating so
mismatches surface before the round gate does.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
       python tools/check_correctness.py [sf_dir] --json OUT.json
       python tools/check_correctness.py [sf_dir] --vanilla [--tz ZONE] ...

``--json`` additionally writes per-query records in the driver's
CORRECTNESS_r{N}.json shape (rows_match/schema_match/hash_match/
spark_rows/oracle_rows/err) so a full local run can be committed as
the round's registry-wide correctness record (VERDICT r4 ask #3).
On a hash mismatch the record also carries ``first_diff`` — the first
normalized (spark_row, oracle_row) pair that differs — so a red entry
is diagnosable post-hoc without re-running (VERDICT r8 ask #3).

``--vanilla`` runs the Spark side on a PLAIN untuned SparkSession
(``local[8]``, default confs — the driver's shape) instead of the
repo's tuned ``get_spark()``; ``--tz ZONE`` (e.g. ``--tz
Asia/Kolkata``) additionally pins ``spark.sql.session.timeZone`` to a
non-UTC zone, simulating a differently-zoned driver JVM.  Together
they form the environment-skew matrix leg: a gate that is only green
under the tuned session or only under UTC fails HERE before it fails
on the driver (VERDICT r8 ask #3).  A second DuckDB version is not
installable in this container (no pip), so oracle-side version skew
stays uncovered; the integer-space gate-value discipline (r9) is the
mitigation.
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(rows: list[tuple], ndigits: int = 9) -> list[tuple]:
    """Sort-key-safe normalization: floats rounded, everything stringified."""
    out = []
    for row in rows:
        vals = []
        for v in row:
            if isinstance(v, float):
                if math.isnan(v):
                    vals.append("NaN")
                else:
                    # v + 0.0 folds -0.0 into +0.0 (IEEE): both sides
                    # normalize to the same string
                    vals.append(f"{round(v + 0.0, ndigits):.9f}")
            elif v is None:
                vals.append("\x00NULL")
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def register_views(con, sf_dir: str) -> None:
    """Register every existing testdata parquet as a DuckDB view —
    the driver's t2 table setup, shared with the oracle checks in
    tests/ and perfbench/ so they cannot drift from the real comparison
    protocol."""
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")


def fetch_oracle(con, sql: str) -> tuple[list[str], list[tuple]]:
    """(sorted_cols, rows-as-tuples-in-sorted-col-order) for an oracle
    query.  Arrow to_pylist preserves SQL NULL (None) vs float NaN —
    pandas would fold NULL floats into NaN, which forced the old
    NaN->None remap and silently passed Spark-NULL vs oracle-NaN
    divergences.  normalize() treats NaN identically on both sides, so
    NaN==NaN passes and NULL-vs-NaN fails loudly."""
    odf = con.execute(sql).fetch_arrow_table()
    cols = sorted(odf.column_names)
    return cols, [tuple(d[c] for c in cols) for d in odf.to_pylist()]


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    vanilla = "--vanilla" in args
    if vanilla:
        args.remove("--vanilla")
    tz = None
    if "--tz" in args:
        i = args.index("--tz")
        tz = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entry_mod

    if vanilla or tz:
        from pyspark.sql import SparkSession

        builder = SparkSession.builder.appName(
            "check_correctness_vanilla"
        ).master("local[8]")
        if tz:
            builder = builder.config("spark.sql.session.timeZone", tz)
        spark = builder.getOrCreate()
        print(f"[matrix] vanilla session, tz={tz or 'jvm-default'}")
    else:
        from automated_etl_pipeline_spark.session import get_spark

        spark = get_spark("check_correctness")
    con = duckdb.connect()
    register_views(con, sf_dir)

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    failures = []
    records: dict[str, dict] = {}
    import gc

    for name, fn in qs.items():
        if only and name not in only:
            continue
        gc.collect()  # release prior queries' checkpoint blocks (see bench.py)
        t0 = time.time()
        rec = records[name] = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        try:
            sdf = fn(spark, sf_dir)
            spark_cols = sorted(sdf.columns)
            spark_rows = [tuple(r[c] for c in spark_cols) for r in sdf.collect()]
            rec["spark_rows"] = len(spark_rows)
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            rec["err"] = f"spark error: {type(e).__name__}: {e}"[:300]
            print(f"FAIL  {name}: spark error: {type(e).__name__}: {e}")
            continue
        if name not in oracles:
            rec["err"] = "no_oracle"
            print(f"weak  {name}: rows={len(spark_rows)} (no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            oracle_cols, oracle_rows = fetch_oracle(con, oracles[name])
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            rec["err"] = f"oracle error: {type(e).__name__}: {e}"[:300]
            print(f"FAIL  {name}: oracle error: {type(e).__name__}: {e}")
            continue
        rec["oracle_rows"] = len(oracle_rows)
        rec["schema_match"] = spark_cols == oracle_cols
        rec["rows_match"] = len(spark_rows) == len(oracle_rows)
        problems = []
        if not rec["schema_match"]:
            problems.append(f"cols spark={spark_cols} oracle={oracle_cols}")
        if not rec["rows_match"]:
            problems.append(f"rowcount spark={len(spark_rows)} oracle={len(oracle_rows)}")
        if not problems:
            a, b = normalize(spark_rows), normalize(oracle_rows)
            rec["hash_match"] = a == b
            if a != b:
                diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
                if diff:
                    rec["first_diff"] = {
                        "spark": list(diff[0][0]),
                        "oracle": list(diff[0][1]),
                    }
                problems.append(f"values differ, first diffs: {diff}")
        else:
            rec["hash_match"] = False
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"ok    {name}: rows={len(spark_rows)} [{time.time()-t0:.1f}s]")

    if json_out:
        import json

        with open(json_out, "w") as f:
            json.dump(records, f, indent=1)
        print(f"wrote {json_out} ({len(records)} records)")
    # denominator = queries actually CHECKED this run (a subset run must
    # not read like a full-registry record — VERDICT r12 harness nit #1)
    n_checked = len(records)
    suffix = "" if n_checked == len(qs) else f" (subset of {len(qs)} registered)"
    print(f"\n{n_checked - len(failures)}/{n_checked} queries match{suffix}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
