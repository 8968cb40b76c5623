"""Stat-clean materialization for iterative DataFrame algorithms.

``df.localCheckpoint(eager=True)`` truncates the LINEAGE but preserves
the plan's cost STATISTICS (the checkpointed ``LogicalRDD`` carries
``originStats`` forward).  Catalyst's size estimation multiplies
``sizeInBytes`` across joins as exact ``BigInt`` arithmetic, so in an
iterative algorithm (prefix doubling, connected components, iterative
re-ranking) the preserved stat is SQUARED per self-join per round —
its bit-length grows 2-4x every iteration, and by round ~7 the driver
spends 10+ seconds per query just multiplying million-bit integers
inside plan estimation (measured on dedup/suffix_array: per-level LCP
joins at 12.8 s each with a 2.3M-bit ``sizeInBytes``, 0.3 s once
reset; jstack showed the planning thread pinned in
``BigInteger.multiplyToomCook3``).  ``persist()`` does not help: the
cached plan keeps the full logical join tree and estimation walks it
to the same blown-up product.

``materialize`` therefore checkpoints AND re-roots the frame: the
public JVM ``SparkSession.createDataFrame(RDD[Row], schema)`` wraps
the checkpointed partitions in a FRESH ``LogicalRDD`` with no
inherited statistics, so every round's plan re-starts from the
64-bit default size estimate and per-round planning cost is constant.
The row-codec hop (InternalRow -> Row -> InternalRow) is per-row
linear work on the executors, paid only when the frame is consumed —
negligible next to the shuffle each iteration already does, and the
price of keeping a 20-round loop plannable at all.

Partition structure is preserved (the conversion is a per-partition
map), so frames carrying ``spark_partition_id`` columns stamped
before materialization stay consistent — the operators/ranks.py
contract.

It is also the one way a gate detaches a result from data it staged
(``queries.scratch``, ``streaming.windows.detach_sink_table``): the
returned frame reads only the checkpointed blocks, so the staging dir
can be deleted as soon as the call returns.

Block lifetime: the checkpointed blocks live in executor block storage
until the returned frame (and every frame derived from it) is
garbage-collected on the Python side and Spark's ContextCleaner then
releases the RDD.  Nothing frees them earlier; that is why ``bench.py``
and ``tools/check_correctness.py`` call ``gc.collect()`` between
queries — without it, blocks from earlier gates pile up and slow later
ones.

Supported runtime: classic (non-Connect) PySpark 3.4-4.x.  The
re-root goes through the session's py4j handles (``_jsparkSession`` /
``_jdf``), which Spark Connect does not expose and which are private
API in any build — so the function probes for them once and FALLS
BACK to the bare eager ``localCheckpoint`` when absent (r11 ADVICE).
Under the fallback, iterative loops stay CORRECT (checkpointing alone
preserves semantics) but re-inherit the originStats growth this
module exists to cut; the one-time warning names the symptom so a
Connect migration surfaces it instead of silently re-slowing loops.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame

_WARNED = False


def _jvm_reroot_available(df: DataFrame) -> bool:
    # Spark Connect frames have no _jdf/_jsparkSession py4j handles;
    # probe attributes only — never trigger a JVM call here.
    return hasattr(df, "_jdf") and hasattr(df.sparkSession, "_jsparkSession")


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly localCheckpoint ``df`` and re-root it as a fresh
    ``LogicalRDD`` with no inherited statistics (module docstring).
    Use instead of bare ``localCheckpoint(eager=True)`` inside any
    LOOP whose rounds build on the previous round's frame."""
    global _WARNED
    cp = df.localCheckpoint(eager=True)
    if not _jvm_reroot_available(cp):
        if not _WARNED:
            _WARNED = True
            warnings.warn(
                "materialize(): JVM re-root unavailable (Spark Connect or "
                "incompatible build) — falling back to bare localCheckpoint. "
                "Iterative loops stay correct but Catalyst sizeInBytes stats "
                "survive checkpoints and grow per self-join round; expect "
                "planning-time growth in long loops.",
                RuntimeWarning,
                stacklevel=2,
            )
        return cp
    sess = cp.sparkSession
    new_jdf = sess._jsparkSession.createDataFrame(cp._jdf.rdd(), cp._jdf.schema())
    return DataFrame(new_jdf, sess)
