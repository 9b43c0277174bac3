"""Incremental corpus update ≡ from-scratch rebuild.

The reference's incremental-SBOM semantics (an existing SBOM plus new
specimens, surfactant/cmd/generate.py:308-314) at pipeline level:
``run_pipeline_incremental`` appends delta-only extract/mention
snapshots (the Iceberg append-snapshot analog in SnapshotCatalog),
reuses the entity map while the dictionary is unchanged and recomputes
the corpus-wide graph joins — the result must equal ``run_pipeline``
from scratch on base ∪ delta, row for row.

Fixture note (FIXTURES.md): page content depends on the corpus size
(link targets are mod n_pages), so base and delta are ROW-SUBSETS of
one materialized corpus — never two independently-sized syntheses.
"""

import pytest

from surfactant_spark.plans.catalog import SnapshotCatalog
from surfactant_spark.plans.pipeline import run_pipeline, run_pipeline_incremental
from surfactant_spark.sources.pages import write_pages_parquet


def _canon_nodes(df):
    return sorted(
        (
            r.canonical_id,
            r.node_type,
            r.sha256,
            tuple(r.names or []),
            tuple(r.urls or []),
            r.lang,
            tuple(sorted((r.attrs or {}).items())),
        )
        for r in df.collect()
    )


def _canon_edges(df):
    return sorted((r.subj, r.pred, r.obj, r.lang) for r in df.collect())


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("inc") / "pages")
    write_pages_parquet(spark, 600, path)
    full = spark.read.parquet(path)
    # deterministic split with content overlap: the synthetic corpus
    # repeats content hashes across urls, so the delta re-crawls some
    # base content (exercising the seen-hash anti-join) and adds new
    base = full.where("crc32(url) % 4 != 0")
    delta = full.where("crc32(url) % 4 = 0")
    assert 0 < delta.count() < full.count()
    return full, base, delta


def test_incremental_equals_scratch(spark, corpus, tmp_path):
    full, base, delta = corpus
    scratch_cat = SnapshotCatalog(str(tmp_path / "scratch"))
    inc_cat = SnapshotCatalog(str(tmp_path / "inc"))

    scratch = run_pipeline(
        spark, full, scratch_cat, corpus_fingerprint="full-600"
    )
    run_pipeline(spark, base, inc_cat, corpus_fingerprint="base-600")
    emap_snapshot = inc_cat.snapshot_info("entity_map")["snapshot"]
    inc = run_pipeline_incremental(
        spark, delta, inc_cat, delta_fingerprint="delta-600"
    )

    assert _canon_nodes(inc.nodes) == _canon_nodes(scratch.nodes)
    assert _canon_edges(inc.edges) == _canon_edges(scratch.edges)
    assert inc.stages_run == [
        "extract_delta", "mentions_delta", "nodes", "edges"
    ]
    # the dictionary did not change: the fold reuses the committed
    # entity map instead of rebuilding it
    assert inc.stages_skipped == ["entity_map"]
    assert inc_cat.snapshot_info("entity_map")["snapshot"] == emap_snapshot
    assert set(inc.stage_seconds) == set(inc.stages_run)

    # the per-document tables were APPENDED, not rewritten: two
    # committed data paths, both surviving snapshot expiry
    ext_info = inc_cat.snapshot_info("extracted")
    assert len(ext_info["paths"]) == 2
    removed = inc_cat.expire_snapshots()
    import os

    assert all(os.path.exists(p) for p in ext_info["paths"])
    assert not any("extracted" in p for p in removed)

    # delta mention detection skipped every already-seen content hash:
    # appended mentions cover exactly the delta-new contents
    base_hashes = {
        r.content_sha256
        for r in spark.read.parquet(ext_info["paths"][0])
        .select("content_sha256").distinct().collect()
    }
    delta_mention_hashes = {
        r.content_sha256
        for r in spark.read.parquet(
            inc_cat.snapshot_info("mentions")["paths"][1]
        ).select("content_sha256").distinct().collect()
    }
    assert not (delta_mention_hashes & base_hashes)


def test_incremental_requires_base(spark, corpus, tmp_path):
    _full, _base, delta = corpus
    empty_cat = SnapshotCatalog(str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="run_pipeline on the base"):
        run_pipeline_incremental(spark, delta, empty_cat)


def test_incremental_chains(spark, corpus, tmp_path):
    """Two successive increments == one scratch run (the append chain
    keeps composing)."""
    full, _base, _delta = corpus
    a = full.where("crc32(url) % 3 = 0")
    b = full.where("crc32(url) % 3 = 1")
    c = full.where("crc32(url) % 3 = 2")
    cat = SnapshotCatalog(str(tmp_path / "chain"))
    run_pipeline(spark, a, cat, corpus_fingerprint="a")
    run_pipeline_incremental(spark, b, cat, delta_fingerprint="b")
    inc = run_pipeline_incremental(spark, c, cat, delta_fingerprint="c")
    scratch_cat = SnapshotCatalog(str(tmp_path / "chain-scratch"))
    scratch = run_pipeline(spark, full, scratch_cat, corpus_fingerprint="full")
    assert _canon_nodes(inc.nodes) == _canon_nodes(scratch.nodes)
    assert _canon_edges(inc.edges) == _canon_edges(scratch.edges)
    assert len(cat.snapshot_info("extracted")["paths"]) == 3


def test_incremental_replay_idempotent(spark, corpus, tmp_path):
    """foreachBatch delivery is at-least-once: replaying the SAME delta
    (same delta_fingerprint) must not double-append corpus rows.  The
    catalog's applied-delta ledger skips both appends, and the graph
    stages resume from their snapshots: a replay recomputes nothing."""
    _full, base, delta = corpus
    cat = SnapshotCatalog(str(tmp_path / "replay"))
    run_pipeline(spark, base, cat, corpus_fingerprint="base")
    first = run_pipeline_incremental(spark, delta, cat, delta_fingerprint="d1")
    n_ext = cat.read(spark, "extracted").count()
    n_ment = cat.read(spark, "mentions").count()
    snapshots = {t: cat.snapshot_info(t)["snapshot"] for t in ("nodes", "edges")}

    replay = run_pipeline_incremental(spark, delta, cat, delta_fingerprint="d1")
    assert replay.stages_run == []
    assert replay.stages_skipped == [
        "extract_delta", "mentions_delta", "entity_map", "nodes", "edges"
    ]
    assert {t: cat.snapshot_info(t)["snapshot"] for t in ("nodes", "edges")} == snapshots
    assert cat.read(spark, "extracted").count() == n_ext
    assert cat.read(spark, "mentions").count() == n_ment
    assert len(cat.snapshot_info("extracted")["paths"]) == 2
    assert cat.applied_deltas("extracted") == ["d1"]
    assert _canon_nodes(replay.nodes) == _canon_nodes(first.nodes)
    assert _canon_edges(replay.edges) == _canon_edges(first.edges)


def test_incremental_crash_between_appends(spark, corpus, tmp_path):
    """Crash AFTER the extracted append commits but BEFORE the mentions
    append (the at-least-once window ADVICE r5 flagged): the replay
    skips the extracted append, reconstructs the PRE-delta base from the
    snapshot log for the mentions anti-join, and ends equal to a
    from-scratch rebuild."""
    full, base, delta = corpus
    cat = SnapshotCatalog(str(tmp_path / "crash"))
    run_pipeline(spark, base, cat, corpus_fingerprint="base")

    real_write = cat.write

    def crashing_write(df, table, fingerprint, **kw):
        if table == "mentions":
            raise RuntimeError("injected crash before mentions commit")
        return real_write(df, table, fingerprint, **kw)

    cat.write = crashing_write
    with pytest.raises(RuntimeError, match="injected crash"):
        run_pipeline_incremental(spark, delta, cat, delta_fingerprint="dx")
    cat.write = real_write
    assert cat.applied_deltas("extracted") == ["dx"]
    assert "dx" not in cat.applied_deltas("mentions")

    inc = run_pipeline_incremental(spark, delta, cat, delta_fingerprint="dx")
    assert inc.stages_skipped == ["extract_delta", "entity_map"]
    assert "mentions_delta" in inc.stages_run
    assert len(cat.snapshot_info("extracted")["paths"]) == 2

    scratch = run_pipeline(
        spark, full, SnapshotCatalog(str(tmp_path / "crash-scratch")),
        corpus_fingerprint="full",
    )
    assert _canon_nodes(inc.nodes) == _canon_nodes(scratch.nodes)
    assert _canon_edges(inc.edges) == _canon_edges(scratch.edges)
