#!/usr/bin/env python3
"""Per-query profiling harness for the optimization rounds.

For each headline bench query (or a subset given as argv names), runs the
same noop-sink timing as bench.py but additionally records:
  - number of Spark jobs the query schedules (statusTracker job-group delta)
  - Janino compiles (CodegenMetrics compilation-count delta): ``compiles``
    for the last attempt, ``compiles_first`` for the first
  - schema-inference jobs: the group's jobs that ran outside any SQL
    execution, i.e. schema-less ``spark.read`` footer inference (an RDD
    action in a query would count too)
  - plan shape: counts of Exchange / BroadcastExchange / *EvalPython /
    WholeStageCodegen spans in explain("formatted")
  - the full explain("formatted") text, written to
    plans/$SPARK_GRAFT_PLANS_ROUND/<q>_<tag>.txt (default plans/r14) when
    --plans <tag> is passed

Usage:
  python scripts/profile_bench.py [--plans before] [--attempts 2] [q01_... ...]

Prints one JSON line per query and a trailing summary JSON line.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hive_backend_spark.registry import all_queries
from hive_backend_spark.session import get_spark


def plan_stats(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan))
        - len(re.findall(r"\bBroadcastExchange\b", plan)),
        "broadcast_exchanges": len(re.findall(r"\bBroadcastExchange\b", plan)),
        "py_eval": len(re.findall(r"EvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas", plan)),
        "smj": len(re.findall(r"\bSortMergeJoin\b", plan)),
        "shj": len(re.findall(r"\bShuffledHashJoin\b", plan)),
        "bhj": len(re.findall(r"\bBroadcastHashJoin\b", plan)),
        "sorts": len(re.findall(r"\bSort\b", plan)),
        "codegen_spans": len(set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))),
    }


def sql_job_ids(spark) -> set[int]:
    """Ids of every job that ran inside a SQL execution so far."""
    jvm = spark._jvm
    as_java = jvm.scala.jdk.javaapi.CollectionConverters.asJava
    store = spark._jsparkSession.sharedState().statusStore()
    return {
        int(j)
        for e in as_java(store.executionsList())
        for j in as_java(e.jobs().keySet())
    }


def main() -> None:
    args = sys.argv[1:]
    plans_tag = None
    attempts = 2
    if "--plans" in args:
        i = args.index("--plans")
        plans_tag = args[i + 1]
        del args[i : i + 2]
    if "--attempts" in args:
        i = args.index("--attempts")
        attempts = int(args[i + 1])
        del args[i : i + 2]

    import bench

    names = args if args else bench.HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("hive-backend-spark-profile")
    sc = spark.sparkContext
    specs = all_queries()

    # same warmup as bench.py
    specs["q01_priority_dequeue"].fn(spark, sf_dir).count()
    par = sc.defaultParallelism
    spark.range(0, par * 10, 1, par).mapInPandas(lambda it: it, "id long").count()

    from hive_backend_spark.queries.dedup import (
        clear_bands_cache,
        clear_candidates_cache,
        clear_labels_cache,
    )

    COLD_RESET = {
        "q82_minhash_bands": clear_bands_cache,
        "q67_lsh_candidates": clear_candidates_cache,
        "q79_dup_clusters": clear_labels_cache,
    }

    plans_dir = None
    if plans_tag:
        plans_dir = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "plans",
            os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r14"),
        )
        os.makedirs(plans_dir, exist_ok=True)

    compile_count = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    rows = []
    for name in names:
        reset = COLD_RESET.get(name)
        samples = []
        compiles = []
        jobs_last = 0
        for attempt in range(attempts if reset is None else max(attempts, 3)):
            if reset is not None:
                reset()
            group = f"prof-{name}-{attempt}"
            sc.setJobGroup(group, name)
            c0 = compile_count.getCount()
            t0 = time.perf_counter()
            df = specs[name].fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            sc.setJobGroup(None, None)
            samples.append(dt)
            compiles.append(compile_count.getCount() - c0)
            job_ids = set(sc.statusTracker().getJobIdsForGroup(group))
            jobs_last = len(job_ids)
            inference_last = len(job_ids - sql_job_ids(spark))
        df = specs[name].fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        if plans_dir:
            with open(os.path.join(plans_dir, f"{name}_{plans_tag}.txt"), "w") as f:
                f.write(plan)
        stats = plan_stats(plan)
        row = {
            "query": name,
            "best_s": round(min(samples), 4),
            "samples": [round(s, 3) for s in samples],
            "jobs": jobs_last,
            "compiles": compiles[-1],
            "compiles_first": compiles[0],
            "inference_jobs": inference_last,
            **stats,
        }
        rows.append(row)
        print(json.dumps(row), flush=True)

    total = round(sum(r["best_s"] for r in rows), 3)
    print(json.dumps({"summary": True, "n": len(rows), "total_best_s": total,
                      "total_jobs": sum(r["jobs"] for r in rows),
                      "total_compiles": sum(r["compiles"] for r in rows),
                      "total_inference_jobs": sum(r["inference_jobs"] for r in rows)}),
          flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
