#!/usr/bin/env python
"""Decompose warm ADHOC single-query latency into plan-build vs
execution (VERDICT r4 #9): the ~150 ms/query adhoc floor is claimed to
be plan analysis + codegen + scheduling, not data work — this measures
each phase separately on the cached serving table.

Phases per query (fresh plan every time, like bench_warm's adhoc loop):
  build   construct the DataFrame + force analysis & physical planning
          (`df._jdf.queryExecution().executedPlan()`) — no job runs
  exec    `.collect()` on the already-planned DataFrame — job submit,
          codegen/JIT, task scheduling, the actual scan+topk, results

See README "Supported serving mode" for the finding; batch serving
remains the answer for repeated queries.

Usage: python scripts/adhoc_breakdown.py   (prints one JSON line)
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from vectra_py_spark.operators import similarity as sim  # noqa: E402
from vectra_py_spark.plans.entry_queries import (  # noqa: E402
    load,
    seeded_query_vector,
)
from vectra_py_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("vectra-adhoc-breakdown")
    spark.sparkContext.setLogLevel("ERROR")

    raw = load(spark, sf_dir, "embeddings")
    n_rows = raw.count()
    emb = raw.repartition(max(1, min(32, n_rows // 50_000 + 1))).cache()
    emb.count()

    # warm-up: one full query so JVM/codegen baselines are paid
    sim.cosine_topk(emb, seeded_query_vector(64, seed=99), k=10).collect()

    n = 20
    build_ms = []
    exec_ms = []
    for s in range(n):
        q = seeded_query_vector(64, seed=100 + s)
        t0 = time.perf_counter()
        df = sim.cosine_topk(emb, q, k=10)
        df._jdf.queryExecution().executedPlan()  # analysis + planning
        t1 = time.perf_counter()
        df.collect()
        t2 = time.perf_counter()
        build_ms.append((t1 - t0) * 1000.0)
        exec_ms.append((t2 - t1) * 1000.0)

    build_ms.sort()
    exec_ms.sort()
    out = {
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "queries": n,
        "plan_build_ms_median": round(build_ms[n // 2], 1),
        "exec_ms_median": round(exec_ms[n // 2], 1),
        "total_ms_median": round(build_ms[n // 2] + exec_ms[n // 2], 1),
        "plan_build_ms_mean": round(sum(build_ms) / n, 1),
        "exec_ms_mean": round(sum(exec_ms) / n, 1),
    }
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
