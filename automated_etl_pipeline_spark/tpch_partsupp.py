"""TPC-H Q2 / Q11 / Q20 — the partsupp-bound join shapes.

The driver testdata has no ``partsupp`` table (verified: 10 tables per
sf dir), so these three queries cannot be registry gates.  They are
covered as pytest oracle gates instead (tests/test_tpch_partsupp.py):
a DETERMINISTIC seeded generator builds a TPC-H-shaped partsupp over
the real part/supplier keys, both engines read the same parquet, and
the results are value-compared exactly like the driver's t2 gate.

Generator (mirrors dbgen's layout at the testdata's 0-based keys):
each part gets ``SUPP_PER_PART``=4 suppliers via the round-robin
spread ``(p + i*step) % S`` with ``step = S//4 + (p//S) % (S//4)``.
dbgen's own step ``S//4 + p//S`` is only collision-free when S scales
with P (real TPC-H); at the testdata's fixed small S it collides —
e.g. S=100, p ∈ [7500, 7600): step=100 ≡ 0, all four i map to ONE
supplier (ADVICE r7). Bounding the part-dependent term by ``% (S//4)``
keeps ``step ∈ [S//4, 2*(S//4)-1]``, and then ``d*step ≡ 0 (mod S)``
for d ∈ {1,2,3} would need step ∈ {S/2, S/3, 2S/3} — unreachable for
every testdata S (10, 100, 1000: step < S/2 and 3 ∤ S), so the four
suppliers are distinct for EVERY part key; generate_partsupp asserts
this so a future S that breaks the argument fails loudly instead of
silently collapsing pairs. Seeded availqty ∈ [1, 9999] and supplycost a multiple of 0.25 in
[1.00, 1000.00] — quarter-dollars are BINARY-EXACT doubles (cents/100
is not: 0.98 has no finite base-2 representation), so every
supplycost × availqty product and their sums are exact integers-of-
quarter-cents (< 2^53) in both engines, making Q11's aggregate
order-insensitive and hash-comparable.

Query adaptations to the testdata's reduced columns (p_mfgr, s_address,
s_phone, s_comment absent; n_name values are NATION_k; p_type is one of
six category words): predicates and output columns are remapped but
every JOIN/AGGREGATION SHAPE of the originals is preserved —
  Q2: correlated scalar-min subquery over the regional supply chain,
  Q11: group-by against a fraction-of-global-total HAVING threshold,
  Q20: nested semi-join chain with a correlated half-of-shipped-qty
       availability filter.
Reference parity: the reference's BigQuery notebook runs ad-hoc
aggregate SQL of exactly these families (SURVEY.md §2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from automated_etl_pipeline_spark.io.sources import load_testdata

SUPP_PER_PART = 4

# Adapted predicate constants (testdata domains, sf-invariant).
Q2_SIZE = 15
Q2_TYPE = "STANDARD"
Q2_REGION = "EUROPE"
Q11_NATION = "NATION_7"
Q11_FRACTION = 0.001
Q20_NAME_PREFIX = "red"
Q20_NATION = "NATION_11"
Q20_YEAR = 1996


def generate_partsupp(
    part_keys: list[int],
    n_suppliers: int,
    seed: int = 42,
    extra_pairs: list[tuple[int, int]] = (),
):
    """Deterministic partsupp rows: [(ps_partkey, ps_suppkey,
    ps_availqty, ps_supplycost)] — pure function of (sorted keys,
    n_suppliers, seed, extra_pairs).

    ``extra_pairs`` adds (partkey, suppkey) pairs beyond the formula's
    4-per-part — used to honor dbgen's referential guarantee that
    every lineitem (l_partkey, l_suppkey) exists in partsupp (the
    driver's lineitem was generated without a partsupp, so its pairs
    are arbitrary; without this, Q20's correlated shipped-quantity
    join would be near-empty).  Attribute draws iterate the MERGED
    sorted pair list, so the output is independent of which source
    contributed a pair."""
    import numpy as np

    s = n_suppliers
    q = s // SUPP_PER_PART
    pairs = {
        (int(p), (p + i * (q + (p // s) % q)) % s)
        for p in sorted(part_keys)
        for i in range(SUPP_PER_PART)
    }
    # the module docstring's distinctness argument, enforced: the spread
    # must yield exactly SUPP_PER_PART distinct suppliers per part
    assert len(pairs) == SUPP_PER_PART * len(set(part_keys)), (
        f"supplier spread collided for n_suppliers={s}"
    )
    pairs.update((int(p), int(sk)) for p, sk in extra_pairs)
    rng = np.random.default_rng(seed)
    rows = []
    for p, suppkey in sorted(pairs):
        availqty = int(rng.integers(1, 10_000))
        supplycost = int(rng.integers(4, 4_001)) * 0.25
        rows.append((p, int(suppkey), availqty, supplycost))
    return rows


def write_partsupp_parquet(sf_dir: str, out_path: str) -> str:
    """Generate partsupp for the part/supplier keys of ``sf_dir`` and
    write one parquet file both engines read."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    part_keys = [
        r[0]
        for r in duckdb.sql(
            f"SELECT p_partkey FROM '{sf_dir}/part.parquet' ORDER BY 1"
        ).fetchall()
    ]
    (n_suppliers,) = duckdb.sql(
        f"SELECT COUNT(*) FROM '{sf_dir}/supplier.parquet'"
    ).fetchone()
    shipped_pairs = duckdb.sql(
        f"SELECT DISTINCT l_partkey, l_suppkey FROM '{sf_dir}/lineitem.parquet' "
        "ORDER BY 1, 2"
    ).fetchall()
    rows = generate_partsupp(part_keys, n_suppliers, extra_pairs=shipped_pairs)
    table = pa.table(
        {
            "ps_partkey": pa.array([r[0] for r in rows], pa.int64()),
            "ps_suppkey": pa.array([r[1] for r in rows], pa.int64()),
            "ps_availqty": pa.array([r[2] for r in rows], pa.int32()),
            "ps_supplycost": pa.array([r[3] for r in rows], pa.float64()),
        }
    )
    pq.write_table(table, out_path)
    return out_path


def _tables(spark: SparkSession, sf_dir: str, partsupp_path: str, *names):
    t = load_testdata(spark, sf_dir, list(names))
    t["partsupp"] = spark.read.parquet(partsupp_path)
    return t


def q2_min_cost_supplier(
    spark: SparkSession, sf_dir: str, partsupp_path: str
) -> DataFrame:
    """Q2 shape: for STANDARD parts of size <= 15, the EUROPE supplier(s)
    at the regional minimum supply cost, top 100 by account balance.

    The correlated scalar-min subquery is decorrelated the way a 100-TB
    plan wants it: the regional supply chain (partsupp ⋈ supplier ⋈
    nation ⋈ region) is built once, its per-part MIN aggregates
    map-side, and the min joins back on (partkey, cost).  region and
    nation are fixed-size → broadcast; supplier is SF-scaling → left to
    AQE.  Top-100 is orderBy+limit → TakeOrderedAndProject."""
    t = _tables(
        spark, sf_dir, partsupp_path, "part", "supplier", "nation", "region"
    )
    eu = (
        t["supplier"]
        .join(
            F.broadcast(
                t["nation"].join(
                    F.broadcast(t["region"].filter(F.col("r_name") == Q2_REGION)),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    chain = t["partsupp"].join(eu, F.col("ps_suppkey") == F.col("s_suppkey"))
    min_cost = (
        chain.groupBy("ps_partkey")
        .agg(F.min("ps_supplycost").alias("min_cost"))
        .withColumnRenamed("ps_partkey", "mc_partkey")  # self-join lineage
    )
    parts = t["part"].filter(
        (F.col("p_size") <= Q2_SIZE) & (F.col("p_type") == Q2_TYPE)
    )
    return (
        parts.join(chain, F.col("p_partkey") == F.col("ps_partkey"))
        .join(
            min_cost,
            (F.col("ps_partkey") == F.col("mc_partkey"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


Q2_ORACLE = f"""
SELECT s_acctbal, s_name, n_name, p_partkey, p_type
FROM part, supplier, partsupp, nation, region
WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
  AND p_size <= {Q2_SIZE} AND p_type = '{Q2_TYPE}'
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = '{Q2_REGION}'
  AND ps_supplycost = (
    SELECT MIN(ps_supplycost)
    FROM partsupp ps2, supplier s2, nation n2, region r2
    WHERE p_partkey = ps2.ps_partkey AND s2.s_suppkey = ps2.ps_suppkey
      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = '{Q2_REGION}')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q11_important_stock(
    spark: SparkSession, sf_dir: str, partsupp_path: str
) -> DataFrame:
    """Q11 shape: per-part inventory value (supplycost × availqty) for
    one nation's suppliers, kept when above FRACTION of that nation's
    total inventory value.

    Determinism: supplycost is a binary-exact quarter-dollar and
    availqty ≤ 9999, so the DOUBLE products and their sums stay exact
    integers-of-quarter-cents in both engines (< 2^53) —
    order-insensitive.  The global threshold
    is a scalar aggregate over the SAME single-nation chain; Catalyst
    plans it as one reusable subtree + broadcast scalar, so the fact
    side is scanned twice at most, never per group."""
    t = _tables(spark, sf_dir, partsupp_path, "supplier", "nation")
    nat_supp = t["supplier"].join(
        F.broadcast(t["nation"].filter(F.col("n_name") == Q11_NATION)),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    chain = t["partsupp"].join(
        nat_supp.select("s_suppkey"), F.col("ps_suppkey") == F.col("s_suppkey")
    )
    value = F.sum(F.col("ps_supplycost") * F.col("ps_availqty"))
    per_part = chain.groupBy("ps_partkey").agg(value.alias("part_value"))
    threshold = chain.agg((value * F.lit(Q11_FRACTION)).alias("thr"))
    return (
        per_part.join(F.broadcast(threshold))
        .filter(F.col("part_value") > F.col("thr"))
        .select("ps_partkey", F.round("part_value", 2).alias("part_value"))
        .orderBy(F.desc("part_value"), "ps_partkey")
    )


Q11_ORACLE = f"""
SELECT ps_partkey,
       ROUND(SUM(ps_supplycost * ps_availqty), 2) AS part_value
FROM partsupp, supplier, nation
WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
  AND n_name = '{Q11_NATION}'
GROUP BY ps_partkey
HAVING SUM(ps_supplycost * ps_availqty) > (
  SELECT SUM(ps_supplycost * ps_availqty) * {Q11_FRACTION}
  FROM partsupp, supplier, nation
  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name = '{Q11_NATION}')
ORDER BY part_value DESC, ps_partkey
"""


def q20_excess_inventory(
    spark: SparkSession, sf_dir: str, partsupp_path: str
) -> DataFrame:
    """Q20 shape: suppliers in one nation holding more than half a
    year's shipped quantity of any 'red' part — the candidates for a
    part promotion.

    Decorrelation: the correlated half-of-shipped-qty subquery becomes
    a per-(partkey, suppkey) lineitem aggregate joined to partsupp on
    BOTH keys; partsupp rows with no shipments drop out of the inner
    join exactly as the SQL's ``> NULL`` predicate drops them (keys
    are non-null, so inner-join and correlated-subquery semantics
    coincide).  The part-name filter is a semi join; the surviving
    supplier keys semi-join into the supplier⋈nation probe.  Every
    join is equi-keyed; the lineitem aggregate is the only large
    shuffle and it collapses map-side."""
    t = _tables(
        spark, sf_dir, partsupp_path, "part", "supplier", "nation", "lineitem"
    )
    red_parts = t["part"].filter(F.col("p_name").startswith(Q20_NAME_PREFIX))
    shipped = (
        t["lineitem"]
        .filter(F.year("l_shipdate") == Q20_YEAR)
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    excess = (
        t["partsupp"]
        .join(
            red_parts.select("p_partkey"),
            F.col("ps_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(
            shipped,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .filter(F.col("ps_availqty") > 0.5 * F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    return (
        t["supplier"]
        .join(excess, F.col("s_suppkey") == F.col("ps_suppkey"), "left_semi")
        .join(
            F.broadcast(t["nation"].filter(F.col("n_name") == Q20_NATION)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


Q20_ORACLE = f"""
SELECT s_name, s_acctbal
FROM supplier, nation
WHERE s_suppkey IN (
    SELECT ps_suppkey FROM partsupp
    WHERE ps_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE '{Q20_NAME_PREFIX}%')
      AND ps_availqty > (
        SELECT 0.5 * SUM(l_quantity) FROM lineitem
        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
          AND year(l_shipdate) = {Q20_YEAR}))
  AND s_nationkey = n_nationkey AND n_name = '{Q20_NATION}'
ORDER BY s_name
"""

QUERIES = {
    "q2_min_cost_supplier": (q2_min_cost_supplier, Q2_ORACLE),
    "q11_important_stock": (q11_important_stock, Q11_ORACLE),
    "q20_excess_inventory": (q20_excess_inventory, Q20_ORACLE),
}
