"""Automated physical-plan audit over every entry query.

Builds each `__spark_entry__.queries()` DataFrame at sf0.001 (plans,
no execution — except queries that execute eagerly by design) and
counts the plan operators that encode the engine's scale claims:

- Python exec nodes (`BatchEvalPython`, `ArrowEvalPython`,
  `MapInPandas`, `FlatMapGroupsInPandas*`, `PythonMapInArrow`) — one
  rule for all of them: only the media codecs run Python, so a query
  whose name does not start with `media_` must have none
- `Exchange`         — shuffles
- nested-loop / cartesian joins (only 1-row scalar attachments allowed)
- `WholeStageCodegen` spans (JVM-side execution)

It also reports, without gating on them, each query builder's build
seconds and the py4j round trips it makes (the driver-side cost paid
before any Spark job of the query; builders that run jobs while they
build include them).

Usage: python scripts/plan_audit.py [sf_dir] > BENCH/plan_audit_rN.md

Exits 1 when a non-media query has a Python exec node, or a plan fails
to build.
"""

from __future__ import annotations

import re
import sys
import threading
import time

PYTHON_NODE = re.compile(
    r"(?:BatchEvalPython|ArrowEvalPython|MapInPandas"
    r"|FlatMapGroupsInPandas\w*|PythonMapInArrow)\b.*"
)


def _listed(names: list[str]) -> str:
    return (f"{len(names)} "
            f"({', '.join(names) if names else 'ZERO — invariant holds'})")


def _timed_build(spark, build):
    """(result, seconds, py4j round trips) of ``build()``; only this
    thread's commands count, not the finalizer thread's releases."""
    client = spark.sparkContext._gateway._gateway_client
    send, me, trips = client.send_command, threading.get_ident(), [0]

    def counted(*args, **kwargs):
        trips[0] += threading.get_ident() == me
        return send(*args, **kwargs)

    client.send_command = counted
    start = time.perf_counter()
    try:
        out = build()
    finally:
        del client.send_command
    return out, time.perf_counter() - start, trips[0]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    sys.path.insert(0, ".")
    import __spark_entry__ as entry

    rows = []
    for name, fn in entry.queries().items():
        try:
            df, build_s, trips = _timed_build(
                spark, lambda: fn(spark, sf_dir))
            df.collect()  # materialize so AQE's FINAL plan is audited
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001 — audit must cover all
            rows.append((name, None, f"PLAN FAILED: {e}"))
            continue
        # a final AQE plan prints each shuffle subtree once under its
        # ShuffleQueryStage and again at reuse sites — count DISTINCT
        # exchange plan_ids, not raw occurrences
        ex_ids = set(re.findall(
            r"Exchange (?:hash|range|Single)\S*.*?\[plan_id=(\d+)\]",
            plan,
        ))
        counts = {
            # Python nodes print no plan_id — dedupe on the node's line
            # (reuse sites repeat it verbatim)
            "python": len(set(PYTHON_NODE.findall(plan))),
            "exchange": len(ex_ids),
            "bnlj": len(set(re.findall(
                r"BroadcastNestedLoopJoin.*?\[plan_id=(\d+)\]", plan))
                or re.findall(r"BroadcastNestedLoopJoin", plan)),
            "cartesian": len(re.findall(r"CartesianProduct", plan)),
            "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
            "build_s": build_s,
            "py4j": trips,
        }
        rows.append((name, counts, None))

    bad_py = [n for n, c, _ in rows
              if c and c["python"] and not n.startswith("media_")]
    failed = [(n, e) for n, c, e in rows if c is None]
    print("# Plan audit — all entry queries (executed plans, "
          f"{sf_dir})\n")
    print(f"Queries audited: {len(rows)}; "
          f"Python exec nodes outside media_ queries: {_listed(bad_py)}")
    if failed:
        print(f"\nPlan build failures: {failed}")
    print("\n| query | exchanges | python | bnlj | cartesian |"
          " codegen spans | build s | py4j round trips |")
    print("|---|---|---|---|---|---|---|---|")
    for name, c, _ in sorted(
        rows, key=lambda r: -(r[1] or {}).get("exchange", 0)
    ):
        if c is None:
            continue
        print(f"| {name} | {c['exchange']} | {c['python']} |"
              f" {c['bnlj']} | {c['cartesian']} | {c['codegen']} |"
              f" {c['build_s']:.2f} | {c['py4j']} |")
    return 1 if bad_py or failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
