"""Streaming-gate overhead breakdown (VERDICT r5 ask #6).

The streaming gates are a large share of the sf0.1 bench. This
profiler answers "is that data or fixed cost?" with a FIXED-vs-SCALING
split for every streaming gate: wall at sf0.001 (data is ~1 MB —
effectively pure fixed cost: stream planning, state-store init, sink
setup) vs wall at sf0.1. The difference is the data-dependent part a
scale regression would inflate; the sf0.001 number is the constant
that masks it.

Per-phase numbers for one gate (micro-batch count, trigger time and
the sink detach of streaming_tumbling_1h) come from the benchmark's
traced run instead: ``python3 perfbench/run.py --workload table_writes
--seed 1 --seconds 20 --trace 1`` reports ``streaming.batches``,
``streaming.trigger_ms`` and ``streaming.detach_s``.

Results are written to BENCH_STREAMING_DETAIL.json (committed once per
round — bench.py's BENCH_DETAIL.json is overwritten every run, so the
breakdown lives in its own sidecar) and printed as markdown.

No semantics change anywhere: gates are executed as-is.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from automated_etl_pipeline_spark.session import get_spark

GATES = [
    "streaming_tumbling_1h",
    "streaming_dedup_watermark",
    "streaming_stateful_sessions",
    "streaming_static_enrich",
    "streaming_interval_join",
    "streaming_funnel_completions",
    "streaming_hll_hourly",
    "streaming_heavy_tokens",
    "pysource_stream_agg",
]


def main() -> None:
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    spark = get_spark("stream-prof")
    spark.read.parquet("/root/testdata/sf0.1/region.parquet").count()

    # warm codegen on the tiny SF first (bench methodology)
    for g in GATES:
        qs[g](spark, "/root/testdata/sf0.001").count()

    load_start = tuple(round(x, 2) for x in os.getloadavg())
    record: dict = {"comment": __doc__.split("\n\n")[1], "gates": {}}
    for g in GATES:
        t0 = time.perf_counter()
        qs[g](spark, "/root/testdata/sf0.001").count()
        fixed = round(time.perf_counter() - t0, 3)
        t1 = time.perf_counter()
        qs[g](spark, "/root/testdata/sf0.1").count()
        full = round(time.perf_counter() - t1, 3)
        record["gates"][g] = {
            "sf0001_fixed_s": fixed,
            "sf01_wall_s": full,
            "data_dependent_s": round(full - fixed, 3),
        }
        print(
            f"{g}: sf0.001 {fixed}s (fixed) | sf0.1 {full}s | "
            f"data-dependent {round(full - fixed, 3)}s",
            flush=True,
        )

    # host-load context alongside the timings, same shape as
    # BENCH_DETAIL.json's conditions block (r14 VERDICT ask #7): a
    # reader comparing two records can see whether a drift is load
    record["conditions"] = {
        "loadavg_start": load_start,
        "loadavg_end": tuple(round(x, 2) for x in os.getloadavg()),
        "cpus": os.cpu_count(),
    }
    dst = Path(__file__).resolve().parent.parent / "BENCH_STREAMING_DETAIL.json"
    dst.write_text(json.dumps(record, indent=1) + "\n")
    print(f"written {dst}")
    spark.stop()


if __name__ == "__main__":
    main()
