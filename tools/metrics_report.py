"""Per-operator SQL-metrics report — spill and shuffle, measured.

The Spark UI/REST endpoint is disabled in this environment
(spark.ui.enabled=false), so per-stage spill counters are not
scrapable the usual way; the r5 scale smoke had to argue "no spill"
from the absence of log lines.  This tool closes that gap: it executes
a registry query and walks the EXECUTED plan via the JVM SQLMetric
objects directly — every operator's spillSize, shuffleBytesWritten,
and numOutputRows, after the run, no UI required.

Usage:
  python tools/metrics_report.py <query> [sf_dir]          # full node tree
  python tools/metrics_report.py --summary q1 q2 [sf_dir]  # one line/query

Summary line: total shuffle bytes written, total spill bytes, widest
operator output (rows).  A non-zero spill at bench scale means a
partition no longer fits its executor's memory — the first thing to
check before believing a scale claim.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from automated_etl_pipeline_spark.session import get_spark


def _children(node):
    out = []
    ch = node.children()
    for i in range(ch.length()):
        out.append(ch.apply(i))
    name = node.nodeName()
    # AQE wrappers hide their real subtree behind accessors
    if "QueryStage" in name:
        out.append(node.plan())
    if name == "AdaptiveSparkPlan":
        out.append(node.executedPlan())
    if name == "ReusedExchange":
        out.append(node.child())
    return out


def walk_metrics(node, depth=0, out=None, seen=None):
    """[(depth, nodeName, {metric: value})] for the executed plan.

    Each plan node is counted ONCE by its SparkPlan id: a
    ReusedExchange's child() is the SAME JVM node as the original
    exchange subtree elsewhere in the plan, so descending into it
    unguarded would double-count that subtree's spill/shuffle/row
    totals in summarize() (e.g. q15's deliberate ReusedExchange plan).
    The skipped occurrence still appears in the tree, marked, with no
    metrics."""
    out = out if out is not None else []
    seen = seen if seen is not None else set()
    nid = node.id()
    if nid in seen:
        out.append((depth, node.nodeName() + " [reused: counted above]", {}))
        return out
    seen.add(nid)
    vals = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        vals[kv._1()] = kv._2().value()
    out.append((depth, node.nodeName(), vals))
    for c in _children(node):
        walk_metrics(c, depth + 1, out, seen)
    return out


def report(df) -> list[tuple[int, str, dict]]:
    """Execute ``df`` (collect) and return its metric tree.

    collect() is deliberate: metrics live on THIS QueryExecution, and
    a noop write clones the execution (its metrics would read zero).
    Registry gates return small results; for a frame too wide to
    collect, wrap it in an aggregate first and read the child
    metrics."""
    df.collect()
    return walk_metrics(df._jdf.queryExecution().executedPlan())


def summarize(tree) -> dict:
    total_spill = sum(v.get("spillSize", 0) for _, _, v in tree)
    total_shuffle = sum(v.get("shuffleBytesWritten", 0) for _, _, v in tree)
    widest = max(
        (v.get("numOutputRows", 0) for _, _, v in tree), default=0
    )
    return {
        "spill_bytes": total_spill,
        "shuffle_bytes_written": total_shuffle,
        "widest_operator_rows": widest,
    }


def main() -> None:
    args = [a for a in sys.argv[1:]]
    summary = "--summary" in args
    if summary:
        args.remove("--summary")
    sf_dir = "/root/testdata/sf0.1"
    if args and "/" in args[-1]:
        sf_dir = args.pop()
    if not args:
        print(__doc__)
        return

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    spark = get_spark("metrics")
    for name in args:
        tree = report(qs[name](spark, sf_dir))
        if summary:
            s = summarize(tree)
            print(
                f"{name}: shuffle={s['shuffle_bytes_written']:,}B "
                f"spill={s['spill_bytes']:,}B "
                f"widest={s['widest_operator_rows']:,} rows"
            )
        else:
            print(f"== {name} @ {sf_dir}")
            for depth, node, vals in tree:
                keep = {
                    k: v
                    for k, v in vals.items()
                    if any(
                        s in k.lower()
                        for s in ("spill", "bytes", "records", "rows")
                    )
                    and v
                }
                print("  " * depth + node + (f"  {keep}" if keep else ""))
    spark.stop()


if __name__ == "__main__":
    main()
