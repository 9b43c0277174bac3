"""The end-to-end KG-construction pipeline with checkpoint/resume.

Restates Surfactant's ``generate`` lifecycle
(surfactant/cmd/generate.py:278-615) as staged DataFrame→DataFrame
functions with materialized boundaries:

  stage 1 extract   pages → extracted           (narrow; Arrow UDF)
  stage 2 mentions  unique content → mentions   (broadcast dict, Arrow UDF)
  stage 3 entity_map alias edges → canonical ids (driver union-find)
  stage 4 nodes     groupBy-canonical merge     (shuffle)
  stage 5 edges     Uses/LinksTo/Contains joins (broadcast + skew-aware)

One stage runner (``_Run``) drives every stage of both entry points.  It
owns the compiled dictionary and its fingerprint, the lineage collector,
the resume rule and the run's stage bookkeeping.  Each stage commits a
snapshot to the catalog keyed by a fingerprint of (code version, params,
upstream fingerprints); a stage whose committed snapshot already carries
its fingerprint is read, not recomputed — run-twice == run-once
(BASELINE.md resumability row).

``run_pipeline`` runs extract and mentions over the whole corpus.
``run_pipeline_incremental`` runs their delta forms: extract over the
delta pages only, and mentions over the delta contents never seen in the
base; both land as append snapshots under the catalog's applied-delta
ledger.  The two entry points then share one graph step (entity_map →
nodes → edges → lineage commit), so a fold with an unchanged dictionary
reuses the committed entity map and a replayed fold recomputes nothing.

Node/edge outputs are partitioned by ``lang`` per the north rule;
bucketing by entity hash is an Iceberg table property in production
(parquet stand-in has no bucket metadata, so we note it here rather
than fake it).
"""

from __future__ import annotations

import hashlib
import json
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .. import __version__, stats
from ..dictionary import alias_edges, compile_dictionary
from ..operators.canonicalize import entity_canonical_map
from ..operators.extract import extract_pages
from ..operators.linking import aliased_entity_keys, build_edges, build_nodes
from ..operators.mentions import (
    CONTENT_DEDUP_THRESHOLD,
    content_for_detection,
    detect_mentions,
    unique_content,
)
from .catalog import SnapshotCatalog
from .lineage import LineageCollector


@dataclass
class PipelineResult:
    nodes: DataFrame
    edges: DataFrame
    lineage: DataFrame
    stages_run: list[str]
    stages_skipped: list[str]
    stage_seconds: dict[str, float] | None = None  # wall per executed stage


def _fingerprint(*parts: object) -> str:
    return hashlib.sha256(json.dumps([str(p) for p in parts]).encode()).hexdigest()[:16]


class _Run:
    """One pipeline run: the dictionary, the lineage collector, the
    resume rule and the stages run, skipped and timed."""

    def __init__(self, spark: SparkSession, catalog: SnapshotCatalog, run_id: str,
                 dict_rows, extra_alias_edges, resume: bool = True):
        self.spark, self.catalog, self.run_id, self.resume = spark, catalog, run_id, resume
        self.compiled = compile_dictionary(dict_rows)
        self.alias = alias_edges(dict_rows, extra_alias_edges)
        self.dict_fp = _fingerprint([p.pattern for p in self.compiled.patterns], self.alias)
        self.lineage = LineageCollector(spark, run_id)
        self.stages_run: list[str] = []
        self.stages_skipped: list[str] = []
        self.stage_seconds: dict[str, float] = {}

    def stage(self, name: str, fp: str, compute, table: str | None = None,
              done: bool | None = None, **write) -> DataFrame:
        """Compute, wrap, write and read back catalog table ``table``
        (default ``name``) — or skip to the read when ``done``, which
        defaults to the resume rule: the committed snapshot carries
        ``fp``.  ``write`` goes to ``SnapshotCatalog.write``."""
        table = table or name
        if done is None:
            done = self.resume and self.catalog.has(table, fp)
        if done:
            self.stages_skipped.append(name)
        else:
            t0 = time.monotonic()
            self.catalog.write(self.lineage.wrap(compute(), name), table, fp, **write)
            self.stage_seconds[name] = round(time.monotonic() - t0, 3)
            self.stages_run.append(name)
        return self.catalog.read(self.spark, table)

    def graph(self, extracted: DataFrame, mentions: DataFrame,
              mentions_unique: bool) -> PipelineResult:
        """entity_map → nodes → edges over the committed corpus tables,
        then the lineage commit.  Upstream fingerprints are those of the
        committed ``extracted`` and ``mentions`` snapshots, so after a
        fold they name the appended state."""
        up = [self.catalog.snapshot_info(t)["fingerprint"] for t in ("extracted", "mentions")]
        fp_emap = _fingerprint(__version__, "entity_map", self.dict_fp)
        emap = self.stage(
            "entity_map",
            fp_emap,
            lambda: entity_canonical_map(
                self.spark, sorted({p.entity_key for p in self.compiled.patterns}), self.alias
            ),
        )
        nodes = self.stage(
            "nodes",
            _fingerprint(__version__, "nodes", *up, fp_emap),
            lambda: build_nodes(extracted, mentions, emap),
            partition_by=["lang"],
        )
        edges = self.stage(
            "edges",
            _fingerprint(__version__, "edges", *up, fp_emap),
            lambda: build_edges(
                extracted, mentions, emap,
                mentions_unique=mentions_unique,
                # injective ⟺ no alias edge joins two distinct keys (free
                # driver-side check on the dictionary-sized edge list);
                # non-injective maps need the Uses dedup even over
                # per-content mentions (two aliases → one canonical_id) —
                # but only for mentions of the aliased keys, so the dedup
                # shuffle shrinks to that sliver
                entity_map_injective=not any(a != b for a, b in self.alias),
                aliased_keys=aliased_entity_keys(self.alias),
            ),
            partition_by=["lang"],
        )
        # commit lineage rows gathered during this run
        lin_df = self.lineage.to_df()
        if self.stages_run:
            self.catalog.write(lin_df, "lineage", _fingerprint(self.run_id, self.stages_run))
        return PipelineResult(
            nodes=nodes,
            edges=edges,
            lineage=lin_df,
            stages_run=self.stages_run,
            stages_skipped=self.stages_skipped,
            stage_seconds=self.stage_seconds,
        )


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    catalog: SnapshotCatalog,
    run_id: str = "run-0",
    corpus_fingerprint: str = "corpus-0",
    dict_rows=None,
    extra_alias_edges=None,
    resume: bool = True,
) -> PipelineResult:
    run = _Run(spark, catalog, run_id, dict_rows, extra_alias_edges, resume)
    fp_extract = _fingerprint(__version__, "extract", corpus_fingerprint)
    extracted = run.stage(
        "extracted", fp_extract, lambda: extract_pages(pages), partition_by=["lang"]
    )

    # ONE corpus-stats probe decides both the mention pre-dedup path and
    # whether Uses edges need a dedup shuffle (they don't when mentions
    # ran over per-content rows) — the shared stats pass
    content_stats = stats.column_stats(extracted, "content_sha256")
    mentions = run.stage(
        "mentions",
        _fingerprint(__version__, "mentions", fp_extract, run.dict_fp),
        lambda: detect_mentions(
            content_for_detection(extracted, stats=content_stats), run.compiled
        ),
    )
    return run.graph(
        extracted, mentions, stats.dup_rate(content_stats) >= CONTENT_DEDUP_THRESHOLD
    )


def run_pipeline_incremental(
    spark: SparkSession,
    delta_pages: DataFrame,
    catalog: SnapshotCatalog,
    run_id: str = "run-inc",
    delta_fingerprint: str = "delta-0",
    dict_rows=None,
    extra_alias_edges=None,
) -> PipelineResult:
    """Incremental corpus update — the reference's incremental-SBOM
    input path (surfactant/cmd/generate.py:308-314: start from an
    existing SBOM, add new specimens) and the Iceberg MERGE INTO /
    append-snapshot shape the north rule names, at pipeline level.

    Cost model at 100 TB: the per-DOCUMENT stages (extract, mention
    detection — the UDF-heavy, byte-touching work) run ONLY on the
    delta and land as APPEND snapshots (catalog ``mode="append"``:
    delta bytes written, base never rewritten).  Mention detection is
    further trimmed to delta contents whose hash was never seen in the
    base — an anti-join against the base's distinct hashes — so
    re-crawled duplicates cost nothing.  The graph step is the batch
    one: the entity map is reused while the dictionary is unchanged,
    and nodes and edges recompute over base ∪ delta (LinksTo is
    corpus-wide: a delta page may be the target of a base page's link).

    Idempotency (ADVICE r5): foreachBatch delivery is at-least-once, so
    a crash between the catalog commit and the stream-checkpoint commit
    REPLAYS this call with the same ``delta_fingerprint``.  Each append
    records the delta id it folds in (``catalog.applied_deltas``); a
    replayed append is skipped, and the graph stages resume from their
    snapshots, so a replay recomputes nothing.

    Equivalence contract (tested): nodes/edges equal a from-scratch
    ``run_pipeline`` on base ∪ delta, row-for-row.

    Requires a prior ``run_pipeline`` (or incremental run) to have
    committed ``extracted`` and ``mentions`` snapshots in ``catalog``."""
    base_ext_info = catalog.snapshot_info("extracted")
    if base_ext_info is None or catalog.snapshot_info("mentions") is None:
        raise ValueError(
            "incremental update needs committed 'extracted' and 'mentions' "
            "snapshots — run run_pipeline on the base corpus first"
        )
    run = _Run(spark, catalog, run_id, dict_rows, extra_alias_edges)

    def append(name: str, table: str, fp: str, compute, **write) -> DataFrame:
        return run.stage(name, fp, compute, table=table,
                         done=delta_fingerprint in catalog.applied_deltas(table),
                         mode="append", applied_delta=delta_fingerprint, **write)

    extracted = append(
        "extract_delta", "extracted",
        _fingerprint(__version__, "extract+", base_ext_info["fingerprint"], delta_fingerprint),
        lambda: extract_pages(delta_pages),
        partition_by=["lang"],
    )

    def new_content() -> DataFrame:
        # the anti-join runs against the extracted state this delta was
        # appended to, read from the snapshot log: after a crash between
        # the two appends the delta is already committed and would
        # otherwise look already-seen.  The key is the content hash —
        # two short columns against the base's distinct hashes.
        hist = catalog.history("extracted")
        idx = next(i for i, h in enumerate(hist) if h["applied_delta"] == delta_fingerprint)
        base = catalog.read(spark, "extracted", snapshot=hist[idx - 1]["snapshot"])
        return unique_content(extract_pages(delta_pages)).join(
            base.select("content_sha256").distinct(), "content_sha256", "left_anti"
        )

    mentions = append(
        "mentions_delta", "mentions",
        _fingerprint(__version__, "mentions+",
                     catalog.snapshot_info("extracted")["fingerprint"], run.dict_fp),
        lambda: detect_mentions(new_content(), run.compiled),
    )
    # the base mentions snapshot may hold per-row (non-unique) mentions
    # while the delta holds per-content rows, so the Uses family always
    # dedups
    return run.graph(extracted, mentions, mentions_unique=False)
