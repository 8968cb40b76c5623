"""Misra-Gries heavy-hitters sketch: single-pass, mergeable, bounded
memory — the principled basis for every "hot key" cap in the dedup
stack (VERDICT r7 ask #5: compute the cap, don't guess it).

Algorithm (Misra & Gries 1982; mergeable form per Agarwal et al.,
"Mergeable Summaries", PODS 2012): each partition keeps at most ``k``
weighted counters.  Arriving items increment their counter; when the
table would exceed ``k`` entries, the (k+1)-th largest weight is
subtracted from EVERY counter and non-positive counters are dropped.
Each such truncation removes at least ``cut*(k+1)`` total weight, and
total weight never exceeds the partition's row count ``n_p``, so the
sum of cuts — the maximum undercount of any single item — is at most
``n_p/(k+1)``.  Summing per-partition sketches (register-wise weight
add) keeps the bound additive: for every item,

    count(x) - n/(k+1)  <=  merged_weight(x)  <=  count(x).

Hence any item with ``count(x) >= phi*n`` where ``phi > 1/(k+1)`` has
positive merged weight — it CANNOT be missed by the candidate set.
``heavy_hitters`` exploits this: sketch pass → candidate filter at
``phi*n - n/(k+1)`` → EXACT recount of candidates only → final filter
at ``phi*n``.  The output is therefore the exact, deterministic set
``{x : count(x) >= phi*n}`` with exact counts — partition layout
affects which extra candidates get recounted, never the result — which
is what makes the gate oracle-checkable (a plain GROUP BY ... HAVING
in DuckDB).

Scale: the sketch pass is one full scan with O(k) memory per partition
and <= k rows emitted per partition (Arrow-batched mapInPandas — the
per-batch exact count is a vectorized value_counts; the MG truncation
touches at most k+batch-distinct counters).  The merge is a groupBy
over <= k * n_partitions rows.  Candidates number at most ~2/phi
(weights sum to <= n, each candidate holds >= phi*n/2 of it when k =
ceil(2/phi)), so they broadcast.  The exact recount is a second scan,
but its aggregate is semi-join-pruned to candidate keys — map-side
combine makes the shuffle O(candidates).  Two scans total; a true
single-pass variant would skip the recount and return (candidate,
weight_lower_bound) — approximate, partition-dependent, and therefore
deliberately NOT the gate surface.

Consumer: ``dedup/ngram_jaccard.jaccard_pairs(stop_hot_share=...)`` — the
measured df-cap that replaces a guessed stop-shingle constant.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def mg_partials(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries sketches: (key_col, __w) with at most
    ``k`` rows per input partition.  NULL keys are the caller's problem
    (pandas value_counts drops NaN — ``heavy_hitters`` filters them).

    Weight contract per partition (see module docstring):
    ``count_p(x) - n_p/(k+1) <= w(x) <= count_p(x)``.
    """
    key_type = df.schema[key_col].dataType.simpleString()
    out_schema = f"`{key_col}` {key_type}, __w long"

    # Let the table grow to `slack` entries between truncations: each
    # truncation to k subtracts the (k+1)-th largest weight `cut` from
    # everything and keeps positives — removed mass >= cut*(k+1)
    # regardless of the pre-truncation size, so the summed-cuts error
    # bound (<= n_p/(k+1)) is unchanged while sorts happen ~slack/k
    # times less often.  All Series ops are vectorized; there is no
    # per-item Python loop anywhere (an earlier dict-based merge was
    # ~13x slower on a wide-vocabulary stream).
    slack = max(2 * k, 4096)

    def sketch(batches):
        import pandas as pd

        def truncate(s: "pd.Series", to_k: int) -> "pd.Series":
            if len(s) <= to_k:
                return s
            cut = s.nlargest(to_k + 1).iloc[-1]
            s = s - cut
            return s[s > 0]

        acc = None
        for pdf in batches:
            vc = pdf[key_col].value_counts()
            acc = vc if acc is None else acc.add(vc, fill_value=0)
            if len(acc) > slack:
                acc = truncate(acc, k)
        if acc is None:
            acc = pd.Series(dtype="int64")
        acc = truncate(acc, k)
        yield pd.DataFrame(
            {key_col: acc.index, "__w": acc.values.astype("int64")}
        )

    return df.select(key_col).mapInPandas(sketch, out_schema)


def heavy_hitters(
    df: DataFrame, key_col: str, phi: float, k: int | None = None
) -> DataFrame:
    """The exact set ``{x : count(x) >= phi * n}`` with exact counts
    (columns: key_col, cnt), computed sketch-first so no full GROUP BY
    over the key space ever happens — only candidates are recounted.

    ``k`` defaults to ceil(2/phi), giving the sketch error ``n/(k+1)
    <= phi*n/2`` — half the threshold, so the candidate filter at
    ``phi*n - n/(k+1)`` keeps every true heavy hitter (module
    docstring) while candidates stay <= ~2/phi (broadcastable).
    """
    if k is None:
        k = int(math.ceil(2.0 / phi))
    if phi <= 1.0 / (k + 1):
        raise ValueError(
            f"phi={phi} must exceed 1/(k+1)={1.0 / (k + 1):.6f} for the "
            "no-miss guarantee; raise k or phi"
        )
    stream = df.select(key_col).filter(F.col(key_col).isNotNull())
    merged = mg_partials(stream, key_col, k).groupBy(key_col).agg(
        F.sum("__w").alias("__w")
    )
    total = stream.agg(F.count(F.lit(1)).alias("__n"))
    cands = (
        merged.crossJoin(F.broadcast(total))
        .filter(F.col("__w") >= phi * F.col("__n") - F.col("__n") / (k + 1.0))
        .select(key_col)
    )
    exact = (
        stream.join(F.broadcast(cands), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= phi * F.col("__n"))
        .select(key_col, "cnt")
    )
