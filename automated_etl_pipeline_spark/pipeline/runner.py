"""Pipeline runner — the engine analog of the reference's Airflow DAG
(SURVEY.md §2.10 O1-O5, §3.2).

The reference orchestrates: create Dataproc cluster → submit Spark job
→ fan-out 4 GCS→BigQuery loads → delete cluster (ALL_DONE) → cleanup
(spark-bq-dag.py:26-261, retries=1 / retry_delay=5min at :32-33,
TriggerRule.ALL_DONE at :246). In a Spark-native engine the session is
both compute and warehouse, so the equivalent is an in-process stage
graph with:

- O1: ordered stages with per-stage retry count (a failed stage is
  retried at once: the reference's 5-minute delay waits out a remote
  cluster, which an in-process stage does not have);
- O3: stages as callables receiving (spark, context-dict);
- O4: fan-out groups — independent stages run concurrently on one
  SparkSession via the JVM scheduler (Spark jobs from multiple
  threads share the cluster, the FAIR scheduler interleaves them);
- O5: always-run cleanup stages (finally semantics / ALL_DONE);
- §4.3: a run_id generated per execution and passed to every stage so
  sinks can use idempotent partition-overwrite appends.
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

# Threads per fan-out group: the reference's 4 parallel BigQuery loads.
MAX_PARALLEL = 4


@dataclass
class Stage:
    name: str
    fn: Callable[[SparkSession, dict], object]
    retries: int = 1  # spark-bq-dag.py:32 ('retries': 1)
    always_run: bool = False  # TriggerRule.ALL_DONE semantics


@dataclass
class StageResult:
    name: str
    ok: bool
    attempts: int
    elapsed_sec: float
    error: str | None = None
    value: object = None


@dataclass
class Pipeline:
    """Ordered pipeline: each element is a Stage (sequential) or a list
    of Stages (fan-out group, run concurrently)."""

    stages: Sequence[Stage | Sequence[Stage]]
    run_id: str | None = None
    results: list[StageResult] = field(default_factory=list)

    def _run_stage(self, spark: SparkSession, ctx: dict, st: Stage) -> StageResult:
        t0 = time.time()
        last_err: str | None = None
        for attempt in range(1, st.retries + 2):
            try:
                value = st.fn(spark, ctx)
                return StageResult(st.name, True, attempt, time.time() - t0, None, value)
            except Exception as e:  # noqa: BLE001
                last_err = f"{type(e).__name__}: {e}"
        return StageResult(st.name, False, st.retries + 1, time.time() - t0, last_err)

    def run(self, spark: SparkSession) -> list[StageResult]:
        """Execute; raises RuntimeError at the end if any non-always_run
        stage failed, after always_run stages have executed (ALL_DONE)."""
        ctx = {"run_id": self.run_id or uuid.uuid4().hex[:12]}
        self.results = []
        failed = False
        for item in self.stages:
            group = [item] if isinstance(item, Stage) else list(item)
            if failed and not all(s.always_run for s in group):
                for s in group:
                    if s.always_run:
                        self.results.append(self._run_stage(spark, ctx, s))
                    else:
                        self.results.append(
                            StageResult(s.name, False, 0, 0.0, "skipped: upstream failure")
                        )
                continue
            if len(group) == 1:
                res = [self._run_stage(spark, ctx, group[0])]
            else:
                with ThreadPoolExecutor(max_workers=MAX_PARALLEL) as pool:
                    res = list(
                        pool.map(lambda s: self._run_stage(spark, ctx, s), group)
                    )
            self.results.extend(res)
            if any(not r.ok for r in res):
                failed = True
        if failed:
            bad = [r for r in self.results if not r.ok]
            raise RuntimeError(
                f"pipeline failed: {[(r.name, r.error) for r in bad]}"
            )
        return self.results
