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
``_jdf``), which Spark Connect does not expose; ``session.get_spark``
builds only classic ``local[...]`` sessions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly localCheckpoint ``df`` and re-root it as a fresh
    ``LogicalRDD`` with no inherited statistics (module docstring).
    Use instead of bare ``localCheckpoint(eager=True)`` inside any
    LOOP whose rounds build on the previous round's frame."""
    cp = df.localCheckpoint(eager=True)
    sess = cp.sparkSession
    new_jdf = sess._jsparkSession.createDataFrame(cp._jdf.rdd(), cp._jdf.schema())
    return DataFrame(new_jdf, sess)
