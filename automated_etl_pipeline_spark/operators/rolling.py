"""Trailing-window moments without the sliding-frame blowup.

Spark evaluates a SLIDING window frame (``rangeBetween(-w, 0)``) by
re-aggregating the full frame for every row — there is no retraction
support — so a trailing-24h sum over a key with n events and ~f events
per frame costs O(n*f) inside ONE task.  Measured (SCALE_SMOKE_r09.md):
the planted 2%-hot key (640k events, f~21k) takes ~529 s at 32 M rows,
while every other shape finishes in seconds — the classic hot-entity
poison pill for per-row trailing statistics.

The fix is the event/expiry RETRACTION union, which Spark executes
incrementally:

  1. every row emits itself (+x, +x^2, +1) at time t AND an expiry
     row (-x, -x^2, -1) at time t + w;
  2. one cumulative window — ``rangeBetween(unboundedPreceding, 0)``
     over the union — computes running sums.  UNBOUNDED PRECEDING
     frames grow monotonically, so Spark aggregates each row ONCE
     (O(1) amortized per row), unlike sliding frames;
  3. rows are ordered by the combined key ``2*t + marker`` so an
     expiry at exactly t+w sorts AFTER events at t+w (the event still
     counts in frames ending at t+w, matching ``rangeBetween(-w, 0)``
     inclusive-both-ends semantics), and same-timestamp events share
     one range position (ties see each other, as in the RANGE frame);
  4. filter marker = 0: original rows with exact trailing sums.

Cost: 2n rows through one keyed sort instead of n rows through an
O(n*f) re-aggregation — linear in data size, hot keys included.  The
moments are INTEGER columns (the r9 determinism rule), so the
retraction plan produces bit-identical sums to the naive sliding
frame — proven in tests/test_rolling.py and by the unchanged
rolling_anomaly_zscores DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def trailing_integer_moments(
    df: DataFrame,
    key_col: str,
    order_col: str,
    x_col: str,
    window_span: int,
) -> DataFrame:
    """Append exact trailing-window integer moments to every row.

    ``order_col``: BIGINT event-time in ANY integer unit (micros,
    days, ...); ``x_col``: BIGINT measure; ``window_span``: the frame
    width in the same unit.  Returns the input rows plus ``sc`` (sum
    of x over [t - window_span, t]), ``s2c`` (sum of x^2) and ``n``
    (count), with frame semantics identical to
    ``Window.partitionBy(key).orderBy(t).rangeBetween(-window_span, 0)``
    but linear cost on hot keys (module docstring).
    """
    reserved = {"sc", "s2c", "n", "__k", "__xs", "__x2s", "__ns"}
    clash = reserved & set(df.columns)
    if clash:
        raise ValueError(
            f"trailing_integer_moments appends columns {sorted(reserved)};"
            f" input already has {sorted(clash)} — rename them first so"
            " the output is unambiguous"
        )
    t = F.col(order_col)
    x = F.col(x_col)
    ev = df.select(
        "*",
        (t * 2).alias("__k"),
        x.alias("__xs"),
        (x * x).alias("__x2s"),
        F.lit(1).cast("bigint").alias("__ns"),
    )
    ex = df.select(
        "*",
        ((t + F.lit(window_span)) * 2 + 1).alias("__k"),
        (-x).alias("__xs"),
        (-(x * x)).alias("__x2s"),
        F.lit(-1).cast("bigint").alias("__ns"),
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("__k")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.unionByName(ex)
        .select(
            "*",
            F.sum("__xs").over(w).alias("sc"),
            F.sum("__x2s").over(w).alias("s2c"),
            F.sum("__ns").over(w).alias("n"),
        )
        # events carry __ns = +1; expiries (-1) are dropped after
        # contributing their retractions to the running sums
        .filter(F.col("__ns") == 1)
        .drop("__k", "__xs", "__x2s", "__ns")
    )
