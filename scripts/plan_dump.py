"""Dump .explain('formatted') for registered queries → plans/<tag>/.

Usage:
    SPARK_GRAFT_SF_DIR=<table dir> python scripts/plan_dump.py --tag pr4 before --all-bench
    SPARK_GRAFT_SF_DIR=<table dir> python scripts/plan_dump.py --tag pr4 after q_dedup_ngram q_sim_topk

Writes plans/<tag>/<query>_{before,after}.txt, the evidence behind a plan
claim (Exchange counts, join strategies, PushedFilters, BatchEvalPython
nodes): run it with ``before`` on the parent commit and ``after`` on the
change, then diff the pairs.

Queries whose fn eagerly runs jobs while building the DataFrame (iterative
CC, KMeans fits, sink round-trips) still work here: the explain captures
the plan of the RETURNED frame, which is the timed artifact.
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--tag", required=True, help="output directory under plans/")
    ap.add_argument("phase", choices=("before", "after"))
    ap.add_argument("--all-bench", action="store_true", help="every bench query")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        raise SystemExit("set SPARK_GRAFT_SF_DIR to the table directory to plan against")

    from etl_open_source_spark.registry import get_registry
    from etl_open_source_spark.session import get_spark

    registry = get_registry()
    names = list(args.queries)
    if args.all_bench:
        names += [n for n in sorted(registry) if registry[n].bench and n not in names]
    unknown = [n for n in names if n not in registry]
    if unknown or not names:
        raise SystemExit(f"unknown queries: {unknown}" if unknown else "no queries given")

    spark = get_spark(app_name=f"{args.tag}-plan-dump")
    out_dir = os.path.join(ROOT, "plans", args.tag)
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        # bench.py clearCache()s between samples — match those conditions so
        # a previous query's persist() can't ride into this plan as an
        # InMemoryRelation via CacheManager plan-matching
        spark.catalog.clearCache()
        df = registry[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{args.phase}.txt")
        with open(path, "w") as fh:
            fh.write(f"-- {name} @ {sf_dir} ({args.phase})\n")
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
    spark.stop()


if __name__ == "__main__":
    main()
