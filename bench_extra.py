"""Extra measurement harness for the optimization round (guide §1).

NOT the driver contract — bench.py stays frozen.  This tool times
individual queries in isolation (noop sink), splits plan CONSTRUCTION
from EXECUTION, and can dump .explain("formatted") per query.

Usage:
    python bench_extra.py q1 q2 ...            # time the named queries
    python bench_extra.py --all                # every headline query
    python bench_extra.py --explain-dir plans/r07 --suffix before q1 q2
    SPARK_GRAFT_TRIALS=3 python bench_extra.py q1

Prints one JSON line per query:
    {"query": name, "construct_s": [...], "exec_s": [...], "total_s": [...]}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    explain_dir = None
    suffix = "before"
    names: list[str] = []
    run_all = False
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--explain-dir":
            explain_dir = args[i + 1]
            i += 2
        elif a == "--suffix":
            suffix = args[i + 1]
            i += 2
        elif a == "--all":
            run_all = True
            i += 1
        else:
            names.append(a)
            i += 1

    from surfactant_spark import queries as q
    from surfactant_spark.session import get_spark, host_cores

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = host_cores()
    trials = int(os.environ.get("SPARK_GRAFT_TRIALS", "3"))
    spark = get_spark(app_name="bench_extra", cores=cores,
                      shuffle_partitions=max(cores, 8))
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").groupBy(
        "r_regionkey").count().write.format("noop").mode("overwrite").save()

    registry = q.queries()
    if run_all:
        names = list(registry)

    if explain_dir:
        os.makedirs(explain_dir, exist_ok=True)

    out = {}
    for name in names:
        fn = registry[name]
        construct, execute, total = [], [], []
        for t in range(trials):
            spark.sparkContext.setJobDescription(f"{name} trial {t}")
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            t1 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.monotonic()
            construct.append(round(t1 - t0, 3))
            execute.append(round(t2 - t1, 3))
            total.append(round(t2 - t0, 3))
        spark.sparkContext.setJobDescription(None)
        if explain_dir:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            with open(os.path.join(explain_dir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(plan)
        rec = {"query": name, "construct_s": construct, "exec_s": execute,
               "total_s": total, "median_total": sorted(total)[len(total) // 2]}
        out[name] = rec
        print(json.dumps(rec), flush=True)
    print(json.dumps({"sum_median_total": round(
        sum(r["median_total"] for r in out.values()), 3)}))


if __name__ == "__main__":
    main()
