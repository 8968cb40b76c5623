"""Star-schema builder (SURVEY.md §2.2 P3, §2.5 W1, §2.3 J1-J2).

The reference splits one wide table into fact + 2 dims by column subsets
with row-aligned ``monotonically_increasing_id()`` surrogate keys
(spark_etl_job.py:46-48,74-78) — a degenerate star whose "dims" are not
deduplicated. This module generalizes to a config-driven splitter with
*proper* dimensional modeling:

- dims are ``DISTINCT`` over their natural columns;
- surrogate keys are deterministic ``dense_rank`` over the natural key
  (stable under repartitioning, unlike monotonically_increasing_id —
  SURVEY.md §4.3);
- the fact table gets FKs by joining back on the natural key, with dims
  broadcast (they are orders of magnitude smaller than the fact at any
  realistic scale).

Scale: the dedup is one shuffle per dim on the natural key; the
key-assignment ``dense_rank`` runs over the *deduplicated* dim (small),
and the fact join is broadcast — so building an N-dim star over a 100 TB
fact costs N broadcast-hash-join map-side passes, no fact shuffle.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


@dataclass(frozen=True)
class DimSpec:
    """One dimension: natural columns + surrogate key column name."""

    name: str
    natural_cols: Sequence[str]
    key_col: str


def build_dim(df: DataFrame, spec: DimSpec, key_mode: str = "dense") -> DataFrame:
    """Deduplicated dimension with a deterministic surrogate key.

    key_mode="dense": contiguous 1-based ``dense_rank`` over the
    natural-key ordering — reproducible across runs and partitionings,
    but the rank is a single-partition sort (fine for dims, which are
    small by construction after dedup; Spark warns 'No Partition
    Defined' on it by design).

    key_mode="hash": ``xxhash64(natural_cols)`` — fully distributed, no
    sort, stable across runs AND across incremental loads (a re-run or
    late-arriving batch assigns the same key to the same natural key,
    which contiguous ranks cannot promise). The price: 64-bit keys are
    non-contiguous and collide with probability ~n^2/2^65 — run
    ``validate_unique_keys`` after build (one agg) when n is large.
    This is the mode for genuinely huge dims and for idempotent
    append pipelines (SURVEY.md §4.3).
    """
    natural = list(spec.natural_cols)
    dim = df.select(*natural).distinct()
    if key_mode == "hash":
        # Spark's hash functions SKIP null inputs (running hash
        # unchanged), so (NULL, 'x') and ('x', NULL) would collide;
        # interleave a non-null null-flag per column so position always
        # contributes. Columns are hashed as their NATIVE types — a
        # string cast would make timestamp keys depend on the session
        # timezone, breaking cross-session key stability.
        key = F.xxhash64(
            *[x for c in natural for x in (F.col(c), F.col(c).isNull())]
        )
    elif key_mode == "dense":
        w = Window.orderBy(*[F.col(c).asc_nulls_first() for c in natural])
        key = F.dense_rank().over(w).cast("long")
    else:
        raise ValueError(f"unknown key_mode: {key_mode!r}")
    return dim.withColumn(spec.key_col, key).select(spec.key_col, *natural)


def validate_unique_keys(dim: DataFrame, key_col: str) -> None:
    """Fail fast on surrogate-key collisions (hash mode at large n)."""
    dup = (
        dim.groupBy(key_col).agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1)
    )
    rows = dup.limit(1).collect()
    if rows:
        raise ValueError(
            f"surrogate key collision in {key_col}: {rows[0][key_col]}"
        )


def build_star(
    df: DataFrame,
    dims: Sequence[DimSpec],
    fact_measures: Sequence[str],
    key_mode: str = "hash",
) -> dict[str, DataFrame]:
    """P3/W1/J1-J2 — split ``df`` into ``{dim_name: dim_df, 'fact': fact_df}``.

    The fact carries one FK per dim plus the measure columns. Dim
    lookups are broadcast joins on the natural key (map-side; no fact
    shuffle). Joins are null-SAFE: build_dim deliberately assigns a
    surrogate key to NULL natural keys (asc_nulls_first / null-flag
    hashing), so fact rows with NULL naturals resolve to that dim row
    instead of being silently dropped by null-unsafe equality.

    Default ``key_mode="hash"`` is the scale path (fully distributed,
    idempotent across incremental loads — no global window anywhere in
    the star build); pass ``key_mode="dense"`` when contiguous 1-based
    keys are required (oracle parity, compact BI exports)."""
    out: dict[str, DataFrame] = {}
    fact = df
    for spec in dims:
        dim = build_dim(df, spec, key_mode=key_mode)
        out[spec.name] = dim
        # Alias dim-side naturals: dim derives from the same plan as
        # fact, so unaliased attribute references would be an ambiguous
        # self-join.
        renamed = {c: f"__{spec.name}_{c}" for c in spec.natural_cols}
        dim_j = dim.select(
            spec.key_col, *[F.col(c).alias(t) for c, t in renamed.items()]
        )
        cond = None
        for c, t in renamed.items():
            eq = F.col(c).eqNullSafe(F.col(t))
            cond = eq if cond is None else cond & eq
        fact = fact.join(F.broadcast(dim_j), on=cond, how="inner").drop(
            *renamed.values()
        )
    out["fact"] = fact.select(
        *[s.key_col for s in dims], *[F.col(m) for m in fact_measures]
    )
    return out


def join_star(
    fact: DataFrame, dims: Mapping[str, tuple[DataFrame, str]]
) -> DataFrame:
    """J1/J2 — make the star queryable: fact ⋈ each (dim, key) with the
    dim broadcast (README.md:10 'The schema for the output is Star')."""
    df = fact
    for _, (dim, key) in dims.items():
        df = df.join(F.broadcast(dim), on=key)
    return df
