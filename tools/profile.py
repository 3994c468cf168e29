#!/usr/bin/env python
"""Optimization-round profiling harness for registry queries.

For each named registry query: capture ``explain("formatted")`` to
``plans/r<round>/<name>_<tag>.txt`` and time the computation through
the noop sink (computes every column of every row, no
collect-to-driver cost) N times, printing per-run seconds.

Usage:
    python tools/profile.py --round 16 --tag before [--runs 3] [--no-plan] name...
    python tools/profile.py --round 16 --tag before --slowest 25   # from BENCH_DETAIL

The ETL phases (parse, Python worker time, sinks) are measured by
``perfbench/run.py --workload backfill --trace 1`` instead.

Timing methodology matches bench.py (same session factory, same
warm-up) so numbers are comparable; the noop sink replaces collect()
only here, in the isolation harness — bench.py's contract is
unchanged.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def plan_summary(text: str) -> str:
    """One-line shape summary of an explain("formatted") dump."""
    n_ex = len(re.findall(r"\bExchange\b", text))
    n_reuse = len(re.findall(r"ReusedExchange", text))
    joins = re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)", text
    )
    pyth = re.findall(r"(BatchEvalPython|ArrowEvalPython|MapInPandas|"
                      r"PythonMapInArrow|FlatMapGroupsInPandas)", text)
    n_codegen = len(set(re.findall(r"WholeStageCodegen \((\d+)\)", text)))
    from collections import Counter
    j = dict(Counter(joins))
    p = dict(Counter(pyth))
    return (f"Exchange={n_ex}(reused {n_reuse}) joins={j or '{}'} "
            f"python={p or '{}'} codegenSpans={n_codegen}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--round", required=True,
                    help="round label; plan dumps go to plans/r<round>/")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--no-plan", action="store_true")
    ap.add_argument("--no-warm", action="store_true",
                    help="skip the bench warm-up (plan-only captures)")
    ap.add_argument("--slowest", type=int, default=0,
                    help="profile the N slowest from the newest BENCH_DETAIL")
    ap.add_argument("--out-json", default=None)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    names = list(args.names)
    if args.slowest:
        import glob
        detail = sorted(glob.glob(os.path.join(HERE, "BENCH_DETAIL_r*.json")))[-1]
        d = json.load(open(detail))
        q = d["queries"]
        names += [n for n in sorted(q, key=q.get, reverse=True)
                  if not n.startswith("mahjong_")][: args.slowest]

    from mahjong_etl_spark.plans.registry import registry
    from mahjong_etl_spark.session import get_spark, local_rows_df

    spark = get_spark(f"profile-r{args.round}")
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()

    # same warm-up sequence as bench.py
    if args.no_warm or args.runs == 0:
        warm = False
    else:
        warm = True
    spark.range(1000).selectExpr("sum(id)").collect()

    def _noop_mp(it):
        import numpy  # noqa: F401
        yield from it

    spark.range(64).repartition(32).mapInPandas(_noop_mp, "id long").collect()
    local_rows_df(spark, [(0,)], "i int").collect()
    try:
        if not warm:
            raise RuntimeError("warm-up disabled")
        from mahjong_etl_spark.operators.dedup import (
            _dup_stats, _sem_centroids, corpus_jaccard_pairs)
        from mahjong_etl_spark.operators.similarity import (
            IVF_CLUSTERS, IVF_LLOYD_ITERS, corpus_centroids,
            corpus_embeddings, corpus_ivfpq, corpus_pq_codebooks)
        from mahjong_etl_spark.sources.tables import load_spread
        _emb = corpus_embeddings(spark, sf_dir)
        corpus_centroids(spark, sf_dir, IVF_CLUSTERS, IVF_LLOYD_ITERS)
        _sem_centroids(spark, sf_dir, _emb)
        corpus_pq_codebooks(spark, sf_dir)
        corpus_ivfpq(spark, sf_dir)[2].count()
        corpus_jaccard_pairs(spark, sf_dir).count()
        _dup_stats(load_spread(spark, sf_dir, "documents"))
    except Exception as exc:
        print(f"warm-up skipped: {exc}", file=sys.stderr)

    plans_dir = os.path.join(HERE, "plans", f"r{args.round}")
    os.makedirs(plans_dir, exist_ok=True)

    results = {}
    for name in names:
        if name not in reg:
            print(f"!! unknown query: {name}", file=sys.stderr)
            continue
        df = reg[name].spark_fn(spark, sf_dir)
        if not args.no_plan:
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            path = os.path.join(plans_dir, f"{name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(txt)
            summ = plan_summary(txt)
        else:
            summ = ""
        if args.runs == 0:
            results[name] = {"plan": summ}
            print(f"{name:40s} {summ}")
            continue
        times = []
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"{name} [{args.tag} run {i}]")
            # t0 BEFORE spark_fn: query construction may run eager
            # jobs (localCheckpoint) that bench.py's timer also pays
            t0 = time.perf_counter()
            df = reg[name].spark_fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times.append(round(time.perf_counter() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        results[name] = {"noop_sec": times, "min": min(times), "plan": summ}
        print(f"{name:40s} {times} min={min(times):6.3f}  {summ}")

    if args.out_json:
        with open(args.out_json, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
