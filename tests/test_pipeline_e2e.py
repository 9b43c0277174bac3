"""End-to-end pipeline vs the single-process oracle + resume semantics.

The translated tests/cmd/test_generate.py golden e2e (exact counts and
edges on a tiny corpus) — here: exact P/R == 1.0 at small scale (the
BASELINE target is ≥0.95), run-twice == run-once resumability, and
per-partition lineage presence."""

import pytest

from surfactant_spark.oracle.pyoracle import run_oracle
from surfactant_spark.plans.catalog import SnapshotCatalog
from surfactant_spark.plans.pipeline import run_pipeline
from surfactant_spark.sources.pages import synth_pages

N = 400


@pytest.fixture(scope="module")
def pipeline_run(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("catalog"))
    catalog = SnapshotCatalog(root)
    pages = synth_pages(spark, N)
    res = run_pipeline(spark, pages, catalog, run_id="t-e2e", corpus_fingerprint=f"synth-{N}")
    return catalog, pages, res


def test_triples_match_oracle_exactly(pipeline_run):
    _, _, res = pipeline_run
    got = {(r.subj, r.pred, r.obj) for r in res.edges.collect()}
    exp = run_oracle(N).triples
    missing = exp - got
    extra = got - exp
    assert not missing and not extra, f"missing={list(missing)[:3]} extra={list(extra)[:3]}"


def test_nodes_match_oracle(pipeline_run):
    _, _, res = pipeline_run
    oracle = run_oracle(N)
    got = {r.canonical_id: r for r in res.nodes.collect()}
    assert set(got) == set(oracle.nodes)
    for cid, onode in oracle.nodes.items():
        g = got[cid]
        assert g.node_type == onode["node_type"], cid
        if onode["node_type"] == "page":
            assert sorted(onode["urls"]) == list(g.urls)
            assert g.attrs["captureStart"] == onode["captureStart"].strftime("%Y-%m-%d %H:%M:%S")
        if onode["node_type"] == "entity":
            assert sorted(onode["names"]) == list(g.names)
            assert g.attrs.get("version") == onode["version"]


def test_resume_skips_all_stages(spark, pipeline_run):
    catalog, pages, first = pipeline_run
    assert len(first.stages_run) == 5
    second = run_pipeline(
        spark, pages, catalog, run_id="t-e2e-2", corpus_fingerprint=f"synth-{N}"
    )
    assert second.stages_run == []
    assert set(second.stages_skipped) == {"extracted", "mentions", "entity_map", "nodes", "edges"}
    # run-twice == run-once
    a = {(r.subj, r.pred, r.obj) for r in first.edges.collect()}
    b = {(r.subj, r.pred, r.obj) for r in second.edges.collect()}
    assert a == b


def test_partial_resume_recomputes_downstream(spark, pipeline_run):
    catalog, pages, _ = pipeline_run
    res = run_pipeline(
        spark, pages, catalog, run_id="t-e2e-3",
        corpus_fingerprint=f"synth-{N}-CHANGED",
    )
    # corpus fingerprint change invalidates extract and its dependents,
    # but not the dictionary-only entity_map stage
    assert "extracted" in res.stages_run and "edges" in res.stages_run
    assert res.stages_skipped == ["entity_map"]


def test_lineage_rows_emitted(spark, pipeline_run):
    catalog, _, first = pipeline_run
    lin = catalog.read(spark, "lineage")
    stages = {r.stage for r in lin.select("stage").distinct().collect()}
    assert {"extracted", "mentions", "nodes", "edges"} <= stages
    import pyspark.sql.functions as F

    bad = lin.where((F.col("output_rows") < 0) | (F.col("partition_id") < 0)).count()
    assert bad == 0
    # bytes metric: any stage that emitted rows must report payload bytes
    under = lin.where((F.col("output_rows") > 0) & (F.col("output_bytes") <= 0)).count()
    assert under == 0


def _triples(res, preds):
    return {(r.subj, r.pred, r.obj) for r in res.edges.collect() if r.pred in preds}


def test_empty_dictionary_run(spark, tmp_path):
    """An empty dictionary yields no Uses edges and leaves the
    dictionary-free LinksTo/Contains edges as a default run has them."""
    pages = synth_pages(spark, 20)
    empty = run_pipeline(spark, pages, SnapshotCatalog(str(tmp_path / "empty")),
                         corpus_fingerprint="synth-20", dict_rows=[])
    default = run_pipeline(spark, pages, SnapshotCatalog(str(tmp_path / "default")),
                           corpus_fingerprint="synth-20")
    assert not _triples(empty, {"Uses"})
    assert _triples(default, {"Uses"})
    structural = {"LinksTo", "Contains"}
    assert _triples(empty, structural) == _triples(default, structural)


def test_dictionary_key_named_none_keeps_entity_map_row(spark, tmp_path):
    catalog = SnapshotCatalog(str(tmp_path))
    run_pipeline(spark, synth_pages(spark, 20), catalog, corpus_fingerprint="synth-20",
                 dict_rows=[("_none_", "name", "_none_", None)], extra_alias_edges=[])
    rows = catalog.read(spark, "entity_map").collect()
    assert [(r.entity_key, list(r.member_keys)) for r in rows] == [("_none_", ["_none_"])]


def test_expire_snapshots_keeps_committed_and_resume(spark, tmp_path):
    """Iceberg expire_snapshots analog: old snapshot dirs are removed,
    the committed one survives unconditionally, reads and resume work
    unchanged afterwards."""
    import os

    from pyspark.sql import functions as F

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    df = spark.range(10).select(F.col("id"))
    for fp in ("fp1", "fp2", "fp3"):
        cat.write(df, "t", fp)
    tdir = str(tmp_path / "cat" / "t")
    assert len([d for d in os.listdir(tdir) if d.startswith("snap-")]) == 3
    removed = cat.expire_snapshots()
    assert len(removed) == 2
    left = [d for d in os.listdir(tdir) if d.startswith("snap-")]
    assert left == ["snap-00002"]  # the committed (latest) snapshot
    assert cat.has("t", "fp3") and cat.read(spark, "t").count() == 10
    # keep_last=2 retains one extra newest snapshot as time-travel margin
    cat.write(df, "t", "fp4")
    cat.write(df, "t", "fp5")
    assert len(cat.expire_snapshots(keep_last=2)) == 1  # drops only snap-00002
    snaps = sorted(d for d in os.listdir(tdir) if d.startswith("snap-"))
    assert snaps == ["snap-00003", "snap-00004"]


def test_catalog_time_travel(spark, tmp_path):
    """Iceberg VERSION AS OF analog: any unexpired snapshot id reads
    back exactly (incl. append commits, which see base ∪ delta as of
    that commit); expired ids fail loudly; history lists the log."""
    import pytest as _pt
    from pyspark.sql import functions as F

    cat = SnapshotCatalog(str(tmp_path / "tt"))
    cat.write(spark.range(5).select(F.col("id")), "t", "fp0")
    cat.write(spark.range(7).select(F.col("id")), "t", "fp1")
    cat.write(spark.range(3).select(F.col("id")), "t", "fp2", mode="append")
    # current = append commit: 7 + 3 rows; snapshot 0/1 = as-of reads
    assert cat.read(spark, "t").count() == 10
    assert cat.read(spark, "t", snapshot=0).count() == 5
    assert cat.read(spark, "t", snapshot=1).count() == 7
    assert cat.read(spark, "t", snapshot=2).count() == 10
    hist = cat.history("t")
    assert [h["snapshot"] for h in hist] == [0, 1, 2]
    assert [h["fingerprint"] for h in hist] == ["fp0", "fp1", "fp2"]
    assert len(hist[2]["paths"]) == 2  # append references base + delta
    with _pt.raises(KeyError, match="no snapshot 9"):
        cat.read(spark, "t", snapshot=9)
    # expire with keep_last=1 drops snapshot 0; its id now fails loudly
    cat.expire_snapshots(keep_last=1)
    with _pt.raises(KeyError):
        cat.read(spark, "t", snapshot=0)
    # the append chain keeps snapshot 1's dir alive (it is part of the
    # committed snapshot-2 paths), so BOTH ids still read exactly
    assert cat.read(spark, "t", snapshot=1).count() == 7
    assert cat.read(spark, "t", snapshot=2).count() == 10
    assert [h["snapshot"] for h in cat.history("t")] == [1, 2]
