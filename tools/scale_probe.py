"""One scaling-probe run: ``run_pipeline`` at a given core count.

Invoked as a subprocess by bench.py (a JVM can't change master mid-run):
    SPARK_GRAFT_CPUS=8 python tools/scale_probe.py 2000000 /tmp/pages
Prints one JSON line {"cores": N, "n_pages": N, "sec": s, "docs_per_sec": d}.

The timed job is the pipeline users run: read the pages table (parquet,
OS-page-cache-hot — the stand-in for a distributed FS) → ``run_pipeline``
on a fresh snapshot catalog (extract, mentions, entity map, nodes and
edges, each committed with lineage).  Corpus generation is scaffolding
and happens once, untimed, shared across parallelism levels.  The same
job at two levels is the sandbox evidence for the north rule's N→4N
executor scaling criterion (BASELINE.md); tools/hw_envelope.py measures
the box's own ceiling.
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
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 200000
    pages_dir = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/spark_graft_pages_{n_pages}"
    # body_scale 8 ≈ 5-10 KB pages — the Common-Crawl-ish size regime,
    # so per-page extraction is realistic work, not a 0.5 KB toy
    body_scale = int(os.environ.get("SPARK_GRAFT_BODY_SCALE", "8"))

    from surfactant_spark.operators.extract import extract_pages
    from surfactant_spark.plans.catalog import SnapshotCatalog
    from surfactant_spark.plans.pipeline import run_pipeline
    from surfactant_spark.session import get_spark, host_cores
    from surfactant_spark.sources.pages import synth_pages

    cores = host_cores()
    spark = get_spark(
        app_name=f"scale_probe_{cores}",
        cores=cores,
        shuffle_partitions=max(2 * cores, 8),
    )
    # corpus materialized once (untimed; instant if it already exists)
    if not os.path.exists(os.path.join(pages_dir, "_SUCCESS")):
        synth_pages(spark, n_pages, partitions=64, body_scale=body_scale).write.mode(
            "overwrite"
        ).parquet(pages_dir)

    # Warm up the JVM *and* the Python UDF workers (each worker's first
    # task pays ~1-2 s of pandas/pyarrow import — a fixed per-executor
    # cost on a long-lived cluster, not throughput) and the page cache.
    spark.range(1000).selectExpr("sum(id)").collect()
    pages = spark.read.parquet(pages_dir)
    extract_pages(pages.limit(64 * cores)).write.format("noop").mode("overwrite").save()
    pages.write.format("noop").mode("overwrite").save()  # heat page cache

    def one_run() -> float:
        cat = tempfile.mkdtemp(prefix="scale_probe_catalog_")
        t0 = time.monotonic()
        run_pipeline(spark, pages, SnapshotCatalog(cat),
                     run_id=f"scale-{cores}", corpus_fingerprint=pages_dir)
        sec = time.monotonic() - t0
        shutil.rmtree(cat, ignore_errors=True)
        return sec

    # Run to JIT steady state: C2 compilation of the whole-stage-codegen
    # and UDF paths keeps improving run-over-run (measured at local[8]:
    # 74 s → 56 s → 41 s → 34 s for identical work), and short
    # high-parallelism runs finish before the JIT warms — the ramp
    # takes MORE wall-runs at high parallelism because each run is 4×
    # shorter.  Policy: at least 3 runs, then stop once the latest run
    # no longer improves the best by >5%; a ~6-minute time budget caps
    # the probe, which allows ~3 runs at the slow level and up to 8 at
    # the fast level (where the ramp needs them).
    times: list[float] = []
    while len(times) < 8 and sum(times) < 360:
        t = one_run()
        times.append(t)
        if len(times) >= 3 and t >= min(times[:-1]) * 0.95:
            break
    sec = min(times)

    print(json.dumps({
        "cores": cores,
        "n_pages": n_pages,
        "sec": round(sec, 3),
        "docs_per_sec": round(n_pages / sec, 1),
        "runs_sec": [round(t, 3) for t in times],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
