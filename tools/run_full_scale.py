"""Full-pipeline scale proof (VERDICT r3 'next round' item 1).

Runs the COMPLETE checkpointed pipeline (plans/pipeline.run_pipeline —
extract → mentions → entity_map → nodes → edges, every stage committed
to the snapshot catalog with lineage) on a materialized page corpus,
at one or more sizes, with a REAL mid-run kill:

* ``child`` mode — run the pipeline once against a catalog and print
  stage times + lineage summary as JSON (the unit the wrapper drives).
* ``kill-resume`` mode — spawn a child, poll the catalog manifest
  until the mentions stage commits, SIGKILL the child mid-edges, then
  rerun to completion.  Asserts the resumed run skipped every
  committed stage and that node/edge counts equal a clean
  uninterrupted run on a fresh catalog.
* ``sweep`` mode — clean runs at n/10 and n, reporting the per-stage
  scaling ratio (the 'edges stage sub-linear vs 10× input' check).

Usage:
  PYTHONPATH=/root/repo python tools/run_full_scale.py sweep 1000000
  PYTHONPATH=/root/repo python tools/run_full_scale.py kill-resume 1000000
Corpus parquet is materialized once per size at
/tmp/spark_graft_pages_<n>_s<body_scale> (shared with the bench's
scaling probe at the default body_scale=8).
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BODY_SCALE = int(os.environ.get("SPARK_GRAFT_BODY_SCALE", "8"))


def corpus_dir(n_pages: int) -> str:
    return f"/tmp/spark_graft_pages_{n_pages}_s{BODY_SCALE}"


def ensure_corpus(spark, n_pages: int) -> str:
    from surfactant_spark.sources.pages import synth_pages

    d = corpus_dir(n_pages)
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        synth_pages(spark, n_pages, partitions=64, body_scale=BODY_SCALE).write.mode(
            "overwrite"
        ).parquet(d)
    return d


def run_once(spark, n_pages: int, catalog_dir: str, run_id: str) -> dict:
    from pyspark.sql import functions as F

    from surfactant_spark.plans.catalog import SnapshotCatalog
    from surfactant_spark.plans.pipeline import run_pipeline

    pages_dir = ensure_corpus(spark, n_pages)
    t0 = time.monotonic()
    res = run_pipeline(
        spark,
        spark.read.parquet(pages_dir),
        SnapshotCatalog(catalog_dir),
        run_id=run_id,
        corpus_fingerprint=f"pages-{n_pages}-s{BODY_SCALE}",
    )
    n_nodes, n_edges = res.nodes.count(), res.edges.count()
    total = time.monotonic() - t0
    lin = (
        res.lineage.groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("partitions"),
            F.sum("output_rows").alias("rows"),
            F.sum("output_bytes").alias("bytes"),
            F.sum("wall_ms").alias("cpu_ms"),
        )
        .collect()
    )
    return {
        "n_pages": n_pages,
        "sec": round(total, 2),
        "docs_per_sec": round(n_pages / total, 1),
        "nodes": n_nodes,
        "edges": n_edges,
        "stages_run": res.stages_run,
        "stages_skipped": res.stages_skipped,
        "stage_seconds": res.stage_seconds,
        "lineage": {
            r["stage"]: {
                "partitions": r["partitions"],
                "rows": r["rows"],
                "mb": round((r["bytes"] or 0) / 1e6, 1),
                "cpu_s": round((r["cpu_ms"] or 0) / 1000, 1),
            }
            for r in lin
        },
    }


def cmd_child(n_pages: int, catalog_dir: str) -> None:
    from surfactant_spark.session import get_spark, host_cores

    cores = host_cores()
    spark = get_spark(app_name="full_scale", cores=cores,
                      shuffle_partitions=max(2 * cores, 8))
    print(json.dumps(run_once(spark, n_pages, catalog_dir, "full-scale")), flush=True)
    spark.stop()


def _spawn_child(n_pages: int, catalog_dir: str) -> subprocess.Popen:
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "child", str(n_pages), catalog_dir],
        env=dict(os.environ, PYTHONPATH=repo),
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        # own process group: the kill takes the child's JVM and Python
        # workers down with it instead of orphaning them
        start_new_session=True,
    )


def _committed(catalog_dir: str) -> set[str]:
    p = os.path.join(catalog_dir, "manifest.json")
    if not os.path.exists(p):
        return set()
    try:
        with open(p) as f:
            return set(json.load(f))
    except json.JSONDecodeError:
        return set()  # mid-replace read; poll again


def cmd_kill_resume(n_pages: int) -> None:
    from surfactant_spark.session import get_spark, host_cores

    base = f"/tmp/spark_graft_fullscale_{n_pages}"
    kill_cat, clean_cat = f"{base}/kill_catalog", f"{base}/clean_catalog"
    for d in (kill_cat, clean_cat):
        shutil.rmtree(d, ignore_errors=True)

    cores = host_cores()
    spark = get_spark(app_name="full_scale_driver", cores=cores,
                      shuffle_partitions=max(2 * cores, 8))
    ensure_corpus(spark, n_pages)

    # 1. child run, SIGKILLed once extract+mentions have committed
    child = _spawn_child(n_pages, kill_cat)
    killed_after: set[str] = set()
    for _ in range(1200):
        committed = _committed(kill_cat)
        if {"extracted", "mentions"} <= committed:
            killed_after = committed
            os.killpg(child.pid, signal.SIGKILL)
            break
        if child.poll() is not None:
            raise SystemExit("child finished before the kill window — corpus too small")
        time.sleep(0.5)
    child.wait()
    assert killed_after, "never reached the kill window"

    # 2. resume on the same catalog: committed stages must be skipped
    t0 = time.monotonic()
    resumed = run_once(spark, n_pages, kill_cat, "resume-after-kill")
    resume_sec = round(time.monotonic() - t0, 2)
    assert set(resumed["stages_skipped"]) >= {"extracted", "mentions"}, resumed
    assert not (set(resumed["stages_run"]) & killed_after), resumed

    # 3. clean uninterrupted run on a fresh catalog: results must match
    clean = run_once(spark, n_pages, clean_cat, "clean-run")
    assert (resumed["nodes"], resumed["edges"]) == (clean["nodes"], clean["edges"]), (
        resumed["nodes"], resumed["edges"], clean["nodes"], clean["edges"])

    print(json.dumps({
        "mode": "kill-resume",
        "n_pages": n_pages,
        "killed_after_stages": sorted(killed_after),
        "resume": resumed,
        "resume_wall_sec": resume_sec,
        "clean": clean,
        "counts_match": True,
    }), flush=True)
    spark.stop()


def cmd_sweep(n_pages: int) -> None:
    from surfactant_spark.session import get_spark, host_cores

    cores = host_cores()
    spark = get_spark(app_name="full_scale_sweep", cores=cores,
                      shuffle_partitions=max(2 * cores, 8))
    # python-worker warmup (first mapInPandas task pays pandas import)
    spark.range(4 * cores).repartition(4 * cores).mapInPandas(
        lambda it: it, "id long"
    ).count()
    out = {"mode": "sweep", "runs": []}
    for n in (n_pages // 10, n_pages):
        cat = f"/tmp/spark_graft_fullscale_{n}/sweep_catalog"
        shutil.rmtree(cat, ignore_errors=True)
        out["runs"].append(run_once(spark, n, cat, f"sweep-{n}"))
    lo, hi = out["runs"]
    out["stage_ratio_10x"] = {
        s: round(hi["stage_seconds"][s] / lo["stage_seconds"][s], 2)
        for s in hi["stage_seconds"]
        if s in lo["stage_seconds"] and lo["stage_seconds"][s] > 0
    }
    print(json.dumps(out), flush=True)
    spark.stop()


def main() -> None:
    mode = sys.argv[1]
    n_pages = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    if mode == "child":
        cmd_child(n_pages, sys.argv[3])
    elif mode == "kill-resume":
        cmd_kill_resume(n_pages)
    elif mode == "sweep":
        cmd_sweep(n_pages)
    else:
        raise SystemExit(f"unknown mode {mode!r}")


if __name__ == "__main__":
    main()
