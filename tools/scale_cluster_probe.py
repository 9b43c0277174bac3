"""One MULTI-JVM scaling-probe run: the production KG job on Spark's
standalone-in-a-box ``local-cluster[n_exec, cores_per_exec, mem_mb]``
master.

Invoked as a subprocess (a JVM can't change master mid-run):
    python tools/scale_cluster_probe.py <n_exec> <cores_per_exec> \
        <n_pages> <pages_dir>
Prints one JSON line
    {"executors": N, "cores_per_exec": C, "cores": N*C, "n_pages": P,
     "sec": s, "docs_per_sec": d, "runs_sec": [...]}

Why this exists (r5 VERDICT item 5): ``local[8]`` → ``local[32]``
widens ONE JVM — GC, shuffle-IO threads and 32 Python workers all
contend inside a single heap, which is NOT what "N → 4N executors"
means on a real cluster.  ``local-cluster[2,4,m]`` → ``local-cluster
[8,4,m]`` adds *separate executor JVMs* with a fixed core count each —
the faithful emulation of adding executors — with real task
serialization, off-heap shuffle transfers between processes, and one
Python-worker pool per executor.

The job is the one tools/scale_probe.py times: read pages parquet →
``run_pipeline`` on a fresh snapshot catalog.  Corpus generation and
warm-up are untimed scaffolding.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n_exec = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    cores_per = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    n_pages = int(sys.argv[3]) if len(sys.argv) > 3 else 600000
    pages_dir = (
        sys.argv[4]
        if len(sys.argv) > 4
        else f"/tmp/spark_graft_pages_{n_pages}_s8"
    )
    body_scale = int(os.environ.get("SPARK_GRAFT_BODY_SCALE", "8"))
    mem_mb = int(os.environ.get("SPARK_GRAFT_LC_MEM_MB", "6144"))
    cores = n_exec * cores_per

    # local-cluster launches Worker JVMs via the Spark launcher, which
    # needs SPARK_HOME; the pip install's package dir IS a valid home
    import pyspark

    os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))

    from pyspark.sql import SparkSession

    from surfactant_spark.operators.extract import extract_pages
    from surfactant_spark.plans.catalog import SnapshotCatalog
    from surfactant_spark.plans.pipeline import run_pipeline
    from surfactant_spark.session import _DEFAULTS
    from surfactant_spark.sources.pages import synth_pages

    # executor JVMs spawn their OWN Python workers, which do not inherit
    # the driver's sys.path — ship the package exactly the way a real
    # spark-submit job would: --py-files zip (tools/make_pyfiles.py)
    from tools.make_pyfiles import build as build_pyfiles

    pyzip = build_pyfiles()
    builder = (
        SparkSession.builder.appName(f"scale_lc_{n_exec}x{cores_per}")
        .master(f"local-cluster[{n_exec},{cores_per},{mem_mb}]")
        .config("spark.executor.memory", f"{mem_mb}m")
        .config("spark.submit.pyFiles", pyzip)
    )
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(max(2 * cores, 8))
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.addPyFile(pyzip)

    if not os.path.exists(os.path.join(pages_dir, "_SUCCESS")):
        synth_pages(spark, n_pages, partitions=64, body_scale=body_scale).write.mode(
            "overwrite"
        ).parquet(pages_dir)

    # warm executor JVMs, per-executor Python workers, and page cache
    spark.range(1000).selectExpr("sum(id)").collect()
    pages = spark.read.parquet(pages_dir)
    extract_pages(pages.limit(64 * cores)).write.format("noop").mode(
        "overwrite"
    ).save()
    pages.write.format("noop").mode("overwrite").save()

    def one_run() -> float:
        cat = tempfile.mkdtemp(prefix="scale_lc_catalog_")
        t0 = time.monotonic()
        run_pipeline(spark, pages, SnapshotCatalog(cat),
                     run_id=f"scale-lc-{n_exec}x{cores_per}", corpus_fingerprint=pages_dir)
        sec = time.monotonic() - t0
        shutil.rmtree(cat, ignore_errors=True)
        return sec

    # JIT steady state: ≥3 runs, stop after TWO consecutive
    # non-improving runs (one is not enough on this host — a steal-storm
    # window mid-ramp reads as a false plateau; each executor JVM JITs
    # independently and sees 1/n_exec of the tasks, so the ramp takes
    # more wall-runs than single-JVM), ~7 min budget
    times: list[float] = []
    flat = 0
    while len(times) < 10 and sum(times) < 420:
        t = one_run()
        times.append(t)
        if len(times) >= 3:
            flat = flat + 1 if t >= min(times[:-1]) * 0.95 else 0
            if flat >= 2:
                break
    sec = min(times)

    print(json.dumps({
        "executors": n_exec,
        "cores_per_exec": cores_per,
        "cores": cores,
        "n_pages": n_pages,
        "sec": round(sec, 3),
        "docs_per_sec": round(n_pages / sec, 1),
        "runs_sec": [round(t, 3) for t in times],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
