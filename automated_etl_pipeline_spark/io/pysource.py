"""Custom Python Data Source (Spark 4 ``pyspark.sql.datasource``).

The reference reads managed-warehouse tables through a connector the
warehouse vendor wrote (spark-bq-dag.py:126's load job / ml_project.py's
storage-API read).  The engine-side equivalent capability is AUTHORING
a connector: Spark 4's Python Data Source API lets a pure-Python class
participate in Catalyst planning — schema, partition planning (split
the scan into parallel tasks), and filter pushdown — without touching
the JVM.

``SyntheticEventsDataSource`` is the engine's reference connector: a
deterministic arithmetic event generator (every value a pure function
of the row id, so a DuckDB ``range()`` query reproduces it exactly —
the connector is oracle-checkable like any other operator).

Scale notes:
- ``partitions()`` is the split planner: N ranges → N parallel read
  tasks, the Python analog of parquet row-group splits.  Executors call
  ``read(partition)`` independently; nothing flows through the driver.
- ``pushFilters`` receives Catalyst's predicates BEFORE planning;
  supported ones (id range/equality here) shrink the generated ranges
  — the Python-source analog of parquet predicate pushdown.  Returning
  the unsupported remainder keeps Spark evaluating those post-scan, so
  pushdown is an optimization, never a correctness risk.
- Rows yield as tuples matching the declared schema; Spark
  Arrow-batches them executor-side.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Iterable, Iterator, Sequence
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

SCHEMA = "id bigint, user_id bigint, bucket bigint, value double"


class _IdRange(InputPartition):
    def __init__(self, start: int, end: int):
        self.start, self.end = start, end


def _row(i: int) -> tuple[int, int, int, float]:
    # pure integer arithmetic then one double division: bit-identical
    # in any engine (the oracle recomputes it in SQL)
    return i, i % 150, (i * 37) % 8, float((i * 7919) % 10000) / 100.0


class _Reader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 1000))
        self.n_parts = int(options.get("n_parts", 8))
        self.lo, self.hi = 0, self.n_rows  # [lo, hi) after pushdown

    def pushFilters(self, filters: "Sequence[Filter]") -> Iterable[Filter]:
        """Fold supported id-range predicates into the generated range;
        yield back everything else for Spark to evaluate post-scan."""
        for f in filters:
            col = getattr(f, "attribute", None)
            if col == ("id",):
                if isinstance(f, EqualTo):
                    self.lo = max(self.lo, int(f.value))
                    self.hi = min(self.hi, int(f.value) + 1)
                    continue
                if isinstance(f, GreaterThan):
                    self.lo = max(self.lo, int(f.value) + 1)
                    continue
                if isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, int(f.value))
                    continue
                if isinstance(f, LessThan):
                    self.hi = min(self.hi, int(f.value))
                    continue
                if isinstance(f, LessThanOrEqual):
                    self.hi = min(self.hi, int(f.value) + 1)
                    continue
            yield f

    def partitions(self) -> list[_IdRange]:
        lo, hi = self.lo, max(self.lo, self.hi)
        n = max(1, self.n_parts)
        step = max(1, (hi - lo + n - 1) // n)
        return [
            _IdRange(s, min(s + step, hi)) for s in range(lo, hi, step)
        ] or [_IdRange(lo, lo)]

    def read(self, partition: _IdRange) -> Iterator[tuple]:
        for i in range(partition.start, partition.end):
            yield _row(i)


class _StreamReader(SimpleDataSourceStreamReader):
    """Bounded synthetic stream: the same deterministic rows delivered
    ``batch_size`` per micro-batch up to ``n_rows`` — offset is just the
    next row id (a monotonic long, the simplest replayable offset).

    ``read(start)`` returns (rows, nextOffset); an empty batch with an
    unchanged offset signals "no new data", which terminates
    ``processAllAvailable`` drains.  (An availableNow trigger fixes its
    end offset at the first ``read()``, so it drains only one
    ``batch_size`` slice.)  ``readBetweenOffsets``
    is the REPLAY path: after a failure Spark re-requests a committed
    offset range, and determinism (rows are a pure function of id)
    makes the replay exactly-once."""

    def __init__(self, options):
        self.n_rows = int(options.get("n_rows", 1000))
        self.batch_size = int(options.get("batch_size", 100))

    def initialOffset(self) -> dict:
        return {"next": 0}

    def read(self, start: dict):
        lo = start["next"]
        hi = min(lo + self.batch_size, self.n_rows)
        # Spark's prefetch cache calls next() on the result AND pickles
        # it for partition planning — list_iterator satisfies both
        # (a bare list fails the first, a generator the second)
        return iter([_row(i) for i in range(lo, hi)]), {"next": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter([_row(i) for i in range(start["next"], end["next"])])


@dataclass
class _PartFile(WriterCommitMessage):
    path: str
    n_rows: int


class _ManifestWriter(DataSourceWriter):
    """Two-phase-commit JSONL sink: each task writes a uniquely-named
    part file and returns a commit message; only the driver-side
    ``commit`` publishes a _MANIFEST.json listing the committed parts.
    Readers that trust ONLY manifest-listed files get exactly-once
    visibility on object storage, where "file exists" is not "task
    succeeded" (speculative/zombie tasks leave orphans — ``abort``
    removes the reported ones, and unlisted leftovers are ignorable)."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("manifest_jsonl requires .option('path', ...)")

    def write(self, rows: Iterator) -> _PartFile:
        os.makedirs(self.path, exist_ok=True)
        part = os.path.join(self.path, f"part-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(part, "w") as f:
            for r in rows:
                f.write(json.dumps(r.asDict()) + "\n")
                n += 1
        return _PartFile(part, n)

    def commit(self, messages) -> None:
        # a zero-partition input never calls write(), so the directory
        # may not exist yet — an empty manifest must still publish
        os.makedirs(self.path, exist_ok=True)
        manifest = {
            "files": sorted(
                ({"path": m.path, "n_rows": m.n_rows} for m in messages if m),
                key=lambda d: d["path"],
            ),
            "total_rows": sum(m.n_rows for m in messages if m),
        }
        tmp = os.path.join(self.path, f"._manifest.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(self.path, "_MANIFEST.json"))  # atomic

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None:
                try:
                    os.remove(m.path)
                except OSError:
                    pass


class SyntheticEventsDataSource(DataSource):
    """``spark.read.format("synthetic_events").option("n_rows", N)``
    (batch or readStream) — and ``df.write.format("manifest_jsonl")``
    for the manifest-committed sink (registered separately)."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_events"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> _Reader:
        return _Reader(self.options)

    def simpleStreamReader(self, schema) -> _StreamReader:
        return _StreamReader(self.options)


class ManifestJsonlDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "manifest_jsonl"

    def writer(self, schema, overwrite: bool) -> _ManifestWriter:
        return _ManifestWriter(self.options)


def register(spark) -> None:
    # runtime conf so driver-created vanilla sessions work too; without
    # it Spark refuses a reader that implements pushFilters
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SyntheticEventsDataSource)
    spark.dataSource.register(ManifestJsonlDataSource)
