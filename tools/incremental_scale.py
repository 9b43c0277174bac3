"""Incremental-update cost at scale: base pipeline on 90% of a 1M-page
corpus, then run_pipeline_incremental on the remaining 10% delta, vs a
from-scratch rebuild of the full corpus.  Evidence for the O(Δ)
per-document-stage claim in SCALING.md.

Usage: python tools/incremental_scale.py [n_pages]
Prints one JSON line:
  {"n_pages":…, "base_sec":…, "incremental_sec":…, "scratch_sec":…,
   "delta_fraction":…, "inc_vs_scratch":…, "counts_match":bool}
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from surfactant_spark.plans.catalog import SnapshotCatalog  # noqa: E402
from surfactant_spark.plans.pipeline import (  # noqa: E402
    run_pipeline,
    run_pipeline_incremental,
)
from surfactant_spark.session import get_spark, host_cores  # noqa: E402


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    from tools.run_full_scale import ensure_corpus

    cores = host_cores()
    spark = get_spark(app_name="inc-scale", cores=cores,
                      shuffle_partitions=2 * cores)
    pages_dir = ensure_corpus(spark, n_pages)
    full = spark.read.parquet(pages_dir)
    # python-worker warmup (first mapInPandas task pays pandas import)
    spark.range(4 * cores).repartition(4 * cores).mapInPandas(
        lambda it: it, "id long"
    ).count()

    base = full.where("crc32(url) % 10 != 0")
    delta = full.where("crc32(url) % 10 = 0")

    work = f"/tmp/inc_scale_{n_pages}"
    shutil.rmtree(work, ignore_errors=True)
    inc_cat = SnapshotCatalog(f"{work}/inc")
    scratch_cat = SnapshotCatalog(f"{work}/scratch")

    t0 = time.monotonic()
    run_pipeline(spark, base, inc_cat, corpus_fingerprint="base")
    base_sec = time.monotonic() - t0

    t0 = time.monotonic()
    inc = run_pipeline_incremental(spark, delta, inc_cat,
                                   delta_fingerprint="delta")
    inc_nodes = inc.nodes.count()
    inc_edges = inc.edges.count()
    inc_sec = time.monotonic() - t0

    t0 = time.monotonic()
    scratch = run_pipeline(spark, full, scratch_cat,
                           corpus_fingerprint="full")
    s_nodes = scratch.nodes.count()
    s_edges = scratch.edges.count()
    scratch_sec = time.monotonic() - t0

    out = {
        "n_pages": n_pages,
        "delta_fraction": 0.1,
        "base_sec": round(base_sec, 1),
        "incremental_sec": round(inc_sec, 1),
        "scratch_sec": round(scratch_sec, 1),
        "inc_vs_scratch": round(inc_sec / scratch_sec, 3),
        "counts_match": (inc_nodes, inc_edges) == (s_nodes, s_edges),
        "nodes": s_nodes,
        "edges": s_edges,
    }
    print(json.dumps(out))
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
