#!/usr/bin/env python
"""Per-query profiler (guide §1): run named registry queries to the noop
sink on a UI-enabled session and report, per query, wall seconds plus the
per-stage executor CPU / run time and top stages — the measurement loop
behind OPTIMIZATION_r12.md. With --explain, writes .explain("formatted")
to plans/$SPARK_GRAFT_PLANS_DIR/<query>_<tag>.txt; SPARK_GRAFT_PLANS_DIR
(the round's plan directory, e.g. r14) must then be set, and the tool
exits with an error before starting Spark when it is not.

Usage: [SPARK_GRAFT_PLANS_DIR=rN] python tools/profile_query.py
           [--explain TAG] [--runs N] name...
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.registry import (
    all_queries,
)
from fraud_detetion_with__kafkastreams_and_grafana_spark.session import get_spark


def _stages(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def main() -> int:
    args = sys.argv[1:]
    explain_tag = None
    runs = 1
    if "--explain" in args:
        i = args.index("--explain")
        explain_tag = args[i + 1]
        del args[i : i + 2]
    if "--runs" in args:
        i = args.index("--runs")
        runs = int(args[i + 1])
        del args[i : i + 2]
    names = args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    plans_dir = os.environ.get("SPARK_GRAFT_PLANS_DIR")
    if explain_tag and not plans_dir:
        print("profile_query: --explain needs SPARK_GRAFT_PLANS_DIR "
              "(the plans/ subdirectory to write to, e.g. r14)", file=sys.stderr)
        return 2

    spark = get_spark(
        "profile",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.retainedStages": "4000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    url = f"{ui}/api/v1/applications/{app_id}/stages?status=complete"

    queries = all_queries()
    # Warm up shared session artifacts exactly like bench.py so the first
    # profiled query doesn't absorb one-time costs.
    import bench

    bench._warmup(spark, sf_dir)
    seen = {(s["stageId"], s["attemptId"]) for s in _stages(url)}

    for name in names:
        fn = queries[name]
        for run in range(runs):
            spark.sparkContext.setJobDescription(f"{name} run{run}")
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t_build = time.perf_counter() - t0
            if explain_tag and run == 0:
                pdir = os.path.join("plans", plans_dir)
                os.makedirs(pdir, exist_ok=True)
                with open(f"{pdir}/{name}_{explain_tag}.txt", "w") as fh:
                    fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"))
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            wall = time.perf_counter() - t1
            time.sleep(0.6)  # let the status API settle
            stages = _stages(url)
            new = [
                s
                for s in stages
                if (s["stageId"], s["attemptId"]) not in seen
            ]
            for s in new:
                seen.add((s["stageId"], s["attemptId"]))
            cpu = sum(s.get("executorCpuTime", 0) for s in new) / 1e9
            rt = sum(s.get("executorRunTime", 0) for s in new) / 1e3
            print(
                f"== {name} run{run}: build {t_build:.2f}s exec {wall:.2f}s "
                f"cpu {cpu:.2f}s runtime {rt:.2f}s stages {len(new)}"
            )
            top = sorted(
                new, key=lambda s: -s.get("executorCpuTime", 0)
            )[:8]
            for s in top:
                print(
                    f"   stage {s['stageId']:>5} cpu {s.get('executorCpuTime', 0)/1e9:7.2f}s"
                    f" run {s.get('executorRunTime', 0)/1e3:7.2f}s"
                    f" tasks {s.get('numCompleteTasks', 0):>3}"
                    f" in {s.get('inputBytes', 0)>>20}M"
                    f" sh_r {s.get('shuffleReadBytes', 0)>>10}K"
                    f" sh_w {s.get('shuffleWriteBytes', 0)>>10}K"
                    f"  {s.get('name', '')[:70]}"
                )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
