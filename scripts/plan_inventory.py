#!/usr/bin/env python
"""Generate BENCH/PLANS.md — a physical-plan inventory for every gate query.

For each `driver_queries` entry this captures the *formatted* physical
plan (what Catalyst actually chose) and counts the operators that decide
100 TB behavior:

- shuffle exchanges (``Exchange hashpartitioning`` — each is a full
  repartition of that stage's data)
- broadcast exchanges / BroadcastHashJoin (build sides shipped to every
  executor, no shuffle of the probe side)
- SortMergeJoin / ShuffledHashJoin (the shuffling join strategies)
- nested-loop joins (BroadcastNestedLoopJoin / CartesianProduct) —
  every probe row meets every build row; distance-bounded pairings go
  through the cell-candidate join instead, so a nonzero count should
  only be a total-fallback tier over missed rows
- Arrow stages (MapInPandas / FlatMapGroupsInPandas /
  FlatMapCoGroupsInPandas / ArrowEvalPython) — the vectorized Python
  escape hatches
- BatchEvalPython — row-at-a-time Python UDFs; the input_hint mandates
  this stays **zero** everywhere, and the table proves it
- WholeStageCodegen spans (JVM-fused pipelines)
- **eager pre-work** (VERDICT r02 #3 blind-spot fix): jobs/shuffle
  dependencies actually EXECUTED while the query builder ran — static
  plan columns can't see work a builder materializes before returning
  (q_near_dup_groups runs the whole LSH + connected-components pipeline
  eagerly and used to print "0 shuffles").  Measured by diffing the
  JVM's DAGScheduler job counter and SparkContext shuffle-id counter
  around the builder call, so the numbers are the real executed counts,
  not annotations.

Run: ``python scripts/plan_inventory.py`` (writes BENCH/PLANS.md).
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

MARKERS = {
    "shuffles": r"\bExchange hashpartitioning",
    "bcast": r"\bBroadcastExchange\b",
    "bhj": r"\bBroadcastHashJoin\b",
    "smj": r"\bSortMergeJoin\b",
    "shj": r"\bShuffledHashJoin\b",
    "nlj": r"\b(BroadcastNestedLoopJoin|CartesianProduct)\b",
    "arrow": r"\b(MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|ArrowEvalPython(UDTF)?|MapInArrow|PythonMapInArrow|ArrowEvalPythonUDTF)\b",
    "rowpy": r"\bBatchEvalPython\b",
    "codegen": None,  # counted as distinct *(n) codegen-stage ids below
}


def main() -> None:
    from greenex_py_spark import driver_queries as dq
    from greenex_py_spark.session import get_spark

    spark = get_spark(
        app_name="plan-inventory", cores=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    jsc = spark.sparkContext._jsc.sc()
    shuffle_fld = jsc.getClass().getDeclaredField("nextShuffleId")
    shuffle_fld.setAccessible(True)

    def counters() -> tuple[int, int]:
        return int(jsc.dagScheduler().nextJobId()), int(shuffle_fld.get(jsc))

    rows = []
    for name, fn in sorted(dq.QUERIES.items()):
        j0, s0 = counters()
        if name in ("q_stream_ingest", "q_sessionize_stream"):
            fn(spark, SF)  # streaming: drains to its sink while building
            j1, s1 = counters()
            rows.append((name, "—  (streaming: AvailableNow readStream → checkpointed sink; "
                               "plan is per-microbatch)", None, (j1 - j0, s1 - s0)))
            continue
        df = fn(spark, SF)
        j1, s1 = counters()
        txt = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple"
        )
        counts = {k: len(re.findall(p, txt)) for k, p in MARKERS.items() if p}
        cg = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "codegen"
        )
        m = re.search(r"Found (\d+) WholeStageCodegen subtrees", cg)
        counts["codegen"] = int(m.group(1)) if m else 0
        rows.append((name, None, counts, (j1 - j0, s1 - s0)))

    lines = [
        "# Physical-plan inventory (auto-generated by scripts/plan_inventory.py)",
        "",
        f"Catalyst's chosen plan per gate query at {SF} — the operators that",
        "decide scale behavior.  `rowPython` is the row-at-a-time Python UDF",
        "count; the input_hint mandates it stays **0** on every query.",
        "",
        "| query | shuffles | broadcast joins | sort-merge joins | nested-loop joins | Arrow stages | rowPython | codegen spans | eager pre-work |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    worst_rowpy = 0
    for name, note, c, (ej, es) in rows:
        eager = f"{ej} jobs / {es} shuffles" if (ej or es) else "—"
        if c is None:
            lines.append(f"| {name} | {note} ||||||| {eager} |")
            continue
        worst_rowpy = max(worst_rowpy, c["rowpy"])
        lines.append(
            f"| {name} | {c['shuffles']} | {c['bhj']} | {c['smj'] + c['shj']} "
            f"| {c['nlj']} | {c['arrow']} | {c['rowpy']} | {c['codegen']} | {eager} |"
        )
    lines += [
        "",
        f"Row-at-a-time Python UDF stages across all queries: **{worst_rowpy}** "
        "(required: 0).",
        "",
        "Reading guide: the flagship PiP join shows 0 shuffles + 1 broadcast",
        "join — the probe side streams map-side only.  Iterative operators",
        "(dissolve CC, Dijkstra) intentionally shuffle per round; dedup/text",
        "queries shuffle once per groupBy as partial-aggregated combines.",
        "`nested-loop joins` counts BroadcastNestedLoopJoin + CartesianProduct:",
        "in the accessibility and streetview families the only one left is",
        "nearest_node's total-fallback tier over missed points (network rows).",
        "Codegen spans print 0 for AQE-wrapped plans (AdaptiveSparkPlan",
        "fuses stages at runtime, after this static capture); the",
        "exchange/join/Arrow counts are static and exact.  `eager pre-work`",
        "is the REAL executed job/shuffle-dependency count during the query",
        "builder (JVM counter diff): a row like q_near_dup_groups with 0",
        "static shuffles but eager pre-work is a query whose cost lives in",
        "builder-materialized actions (LSH + connected components), not in",
        "the returned DataFrame's plan.",
    ]
    out = os.path.join(REPO, "BENCH", "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(out)
    spark.stop()


if __name__ == "__main__":
    main()
