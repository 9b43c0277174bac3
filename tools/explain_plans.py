"""Dump formatted physical plans for the key operators into EXPLAIN.md
and audit them for scale-readiness:

  * parquet scans must show pruned ReadSchema (no html/text columns
    where not needed) and PushedFilters for find-style queries
  * dimension joins must be BroadcastHashJoin
  * column-expression operators must sit inside WholeStageCodegen

Usage: python tools/explain_plans.py
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# "* " prefix in formatted plans marks whole-stage-codegen nodes; AQE
# plans hide per-stage codegen markers until execution, so codegen is
# audited on the non-AQE scan/filter query and aggregation structure
# (two HashAggregates = map-side partial agg) on the AQE ones.
# A "!needle" audit asserts the string is ABSENT (anti-pattern check).
# A "<=N Node args" audit bounds the plan to at most N ``Node`` operators,
# each with ``args`` in its Arguments line (e.g. one keyed Exchange).
AUDITS = {
    "find_filter": ["PushedFilters", "* Filter"],
    "broadcast_join_agg": ["BroadcastHashJoin", "HashAggregate"],
    "mention_detect": ["BroadcastHashJoin"],
    "tpch_q1_pricing": ["HashAggregate", "PushedFilters"],
    "probe_path_join": ["BroadcastHashJoin"],
    "local_supplier_volume": ["BroadcastHashJoin", "!CartesianProduct"],
    "embed_neardup": ["!CartesianProduct", "!BroadcastNestedLoopJoin"],
    "simhash_pairs": ["HashAggregate", "!CartesianProduct"],
    "ngram_jaccard": ["!CartesianProduct", "!BroadcastNestedLoopJoin"],
    "lsh_dup_groups": ["!CartesianProduct"],
    "installs_hash_join": ["!CartesianProduct", "HashAggregate"],
    "dotnet_probe_uses": ["!CartesianProduct", "HashAggregate"],
    "simhash_groups": ["!CartesianProduct"],
    "archive_members": ["FlatMapGroupsInPandas"],
    "sidefile_attach": ["!CartesianProduct"],
    # sampling must stay a pure predicate: no shuffle, no join, scan +
    # codegen filter only (membership is an md5 expression, so the
    # filter is not parquet-pushable — absence of Exchange is the claim)
    "hash_sample": ["* Filter", "!Exchange", "!Join"],
    "stratified_sample": ["* Filter", "!Exchange", "!Join"],
    # exactly-k-per-group needs its one window shuffle and nothing
    # else; WindowGroupLimit BELOW the Exchange = map-side partial
    # top-k (each task keeps k rows per group before shuffling)
    "group_topk_sample": ["WindowGroupLimit", "!Join"],
    # digest identification: broadcast the dictionary-sized hash list
    "hash_identify": ["BroadcastHashJoin", "!CartesianProduct"],
    # filename identification: vectorized matching over DISTINCT
    # basenames (one Arrow stage), equi-joined back — never a regex
    # per url row, never a nested-loop join
    "filename_identify": ["MapInPandas", "HashAggregate",
                          "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # cc fixpoint gate: the eager rounds run at construction, the
    # returned frame must still be join/scan shaped, not a cartesian
    "cc_components": ["!CartesianProduct"],
    # PII scrub is a pure projection: chained regexp_replace inside
    # codegen, nothing moves
    "pii_scrub": ["* Project", "!Exchange", "!Join"],
    # decontamination: benchmark n-gram set broadcasts, corpus side
    # never nested-loops
    "contamination": ["BroadcastHashJoin", "!CartesianProduct",
                      "!BroadcastNestedLoopJoin"],
    # passage dedup: first-occurrence resolution is groupBy(min) +
    # equi-join on the passage hash — partial agg map-side, no window
    # sort over the corpus, no nested loop
    "passage_dedup": ["HashAggregate", "!Window", "!CartesianProduct",
                      "!BroadcastNestedLoopJoin"],
    # repetition signals: two-level groupBy, both with partial agg;
    # nothing joins except the final left join back to doc ids
    "gopher_repetition": ["HashAggregate", "!CartesianProduct",
                          "!BroadcastNestedLoopJoin"],
    # iterative pagerank: per-iteration equi-join + partial-agg sum,
    # never a nested loop
    "pagerank": ["HashAggregate", "!CartesianProduct",
                 "!BroadcastNestedLoopJoin"],
    # feature-hashed scorer: ONE codegen projection over the scan —
    # no shuffle, no join anywhere in the plan
    # r7: hashed_quality/url_canon/gopher_quality/cdc_chunks gained a
    # CONDITIONAL spread (hash repartition only when the scan plans
    # narrower than the session parallelism — partitioning.spread), so
    # on the single-row-group audit fixture exactly one keyed Exchange
    # appears before the map projection; still no join anywhere.
    "hashed_quality": ["<=1 Exchange hashpartitioning", "!Join", "!CartesianProduct"],
    # as-of join is union-tag-window: NO join operator of any kind
    "asof_join": ["Window", "!Join", "!CartesianProduct"],
    # binned range join: plain equi-join on the bin key — the naive
    # inequality join would be a nested loop
    "range_bin_join": ["!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # multi-resolution rollup: two partial-agg groupBys, no join
    "time_rollup": ["HashAggregate", "!Join", "!CartesianProduct"],
    # triangle counting: degree-ordered orientation keeps the wedge
    # join an equi-join (O(sqrt(m)) fan-out) — never a nested loop
    "triangle_count": ["HashAggregate", "!CartesianProduct",
                       "!BroadcastNestedLoopJoin"],
    # tf-idf top-k: per-doc top-3 should plan as WindowGroupLimit
    # (map-side partial top-k before the window shuffle)
    "tfidf_topk": ["HashAggregate", "WindowGroupLimit",
                   "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # percentile keep: the cumulative window runs over the compact
    # distinct-score frame; the join back to docs must broadcast.
    # ONE corpus scan total (r5 VERDICT): the scored projection is
    # checkpointed eagerly at construction — the final plan reads the
    # materialized RDD and must contain NO parquet scan at all (the old
    # shape paid the per-token scoring twice: a count action plus the
    # probe-side rescan)
    "quality_percentile": ["BroadcastHashJoin", "!CartesianProduct",
                           "!SortMergeJoin", "Scan ExistingRDD",
                           "!Scan parquet"],
    # bloom semi-join: bitmap predicate filters inside the scan stage,
    # exact pass is a broadcast semi-join — nothing nested-loops
    "bloom_join": ["Filter", "BroadcastHashJoin", "!CartesianProduct",
                   "!BroadcastNestedLoopJoin"],
    # boilerplate strip: explode + two partial-agg groupBys + one
    # equi-join on the chunk key; order restored in-group (no window)
    "boilerplate_strip": ["HashAggregate", "!Window", "!CartesianProduct",
                          "!BroadcastNestedLoopJoin"],
    # host collapse: pure groupBy with map-side partial agg — no join
    "host_graph": ["HashAggregate", "!Join", "!CartesianProduct"],
    # k-core peel: degree agg + left-semi equi-joins per round
    "kcore": ["HashAggregate", "!CartesianProduct",
              "!BroadcastNestedLoopJoin"],
    # sign projection: ONE projection over the scan (higher-order
    # aggregate/zip_with lambdas stay outside whole-stage codegen but
    # evaluate JVM-side) — the whole operator is map-only
    "sign_projection": ["Project", "!Exchange", "!Join",
                        "!CartesianProduct"],
    # inverted index: per-term posting cap plans as WindowGroupLimit
    # (map-side partial top-k), df is a partial-agg groupBy
    "inverted_index": ["WindowGroupLimit", "HashAggregate",
                       "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # mixture weights: one corpus groupBy + 1-row broadcast total —
    # the corpus is never joined
    "domain_mix": ["HashAggregate", "!SortMergeJoin",
                   "!CartesianProduct"],
    # URL canonicalization / gopher rules: pure codegen projections
    # riding the scan (higher-order lambdas stay plain Project)
    "url_canon": ["Project", "<=1 Exchange hashpartitioning", "!Join"],
    "gopher_quality": ["Project", "<=1 Exchange hashpartitioning", "!Join"],
    # bm25: tf/df/dl partial aggs + term/doc equi-joins; top-k plans
    # as WindowGroupLimit (N and avgdl are driver literals, no
    # scalar-frame join in the plan)
    "bm25_topk": ["WindowGroupLimit", "HashAggregate",
                  "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # HITS: the normalizing max is a 1-row broadcast (plans as a
    # broadcast nested loop over one row — constant work); the real
    # joins must stay equi-joins
    "hits": ["HashAggregate", "!CartesianProduct"],
    # label propagation: per-node argmax = WindowGroupLimit
    "label_prop": ["WindowGroupLimit", "!CartesianProduct"],
    # co-occurrence: array-expression pair expansion (Generate) + one
    # partial-agg groupBy — NO join anywhere in the plan
    "cooccur_pairs": ["HashAggregate", "Generate", "!Join"],
    # anchor profiles: canonicalize in the scan projection, ONE
    # groupBy, no join
    "anchor_agg": ["HashAggregate", "!Join", "!CartesianProduct"],
    # host pagerank: equi-joins only over the collapsed host graph
    "host_pagerank": ["HashAggregate", "!CartesianProduct"],
    # blocklist (literal path): suffix intersect is pure codegen —
    # no join, no shuffle
    "url_blocklist": ["Project", "!Exchange", "!Join"],
    # delta-vs-base near-dup: band equi-join only — never quadratic
    "delta_dedup": ["HashAggregate", "!CartesianProduct",
                    "!BroadcastNestedLoopJoin"],
    # capture collapse: one shuffle on the canonical key, no join
    "cdx_latest": ["!Join", "!CartesianProduct"],
    # robots: rules broadcast, winners per distinct page join back —
    # the URL table never meets a nested loop
    "robots_match": ["BroadcastHashJoin", "!CartesianProduct",
                     "!BroadcastNestedLoopJoin"],
    # script detection: pure projection riding the scan
    "script_mix": ["Project", "!Exchange", "!Join"],
    # redirect doubling: equi-self-joins only
    "redirect_resolve": ["!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # JSON-LD: block scan is codegen regex; the Arrow flatten runs on
    # DISTINCT blocks and equi-joins back — no nested loop ever
    "jsonld_triples": ["MapInPandas", "!CartesianProduct",
                       "!BroadcastNestedLoopJoin"],
    # sitemap: pure codegen regex projection, union of two scans
    "sitemap_extract": ["Project", "!Exchange", "!Join"],
    # fuzzy entity resolution: block equi-joins + codegen levenshtein,
    # never all-pairs
    "name_match": ["levenshtein", "!CartesianProduct",
                   "!BroadcastNestedLoopJoin"],
    # RA link prediction: array pair expansion + one groupBy — the
    # edge table never self-joins
    "link_predict": ["HashAggregate", "!Join", "!CartesianProduct"],
    # bounded BFS: frontier equi-joins + min-groupBy per round
    "bfs_dist": ["!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # CDC diff: exactly one full-outer hash join, comparisons codegen
    "snapshot_diff": ["FullOuter", "!CartesianProduct", "!Window",
                      "!BroadcastNestedLoopJoin"],
    # random walks: each hop is an equi-join against the compact
    # adjacency — never a nested loop
    "random_walks": ["!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # URL templating: codegen projection + ONE partial-agg groupBy
    "url_template": ["HashAggregate", "!Join", "!CartesianProduct"],
    # frontier scheduling: per-host cap = WindowGroupLimit (map-side
    # partial top-k; its Sort nodes are partition-local), global cap
    # = TakeOrderedAndProject (per-partition heap + driver merge —
    # never a global sort), no join anywhere
    "frontier_schedule": ["WindowGroupLimit", "TakeOrderedAndProject",
                          "!Join"],
    # corpus CUBE: all grouping sets from ONE shuffle via Expand
    "corpus_cube": ["Expand", "HashAggregate", "!Join"],
    # SVO extraction: explode (Generate) + codegen regex + groupBy
    "svo_triples": ["Generate", "HashAggregate", "!Join"],
    # event transitions: one window on the user key + partial agg
    "event_transitions": ["Window", "HashAggregate", "!Join"],
    # sessionization: two windows sharing ONE sort + rollup, no join
    "sessionize": ["Window", "HashAggregate", "!Join"],
    # SCD-2 intervals: windows on the entity key only, no join
    "scd2_status": ["Window", "!Join", "!CartesianProduct"],
    # degree histogram: two shrinking partial-agg groupBys, no join
    "degree_hist": ["HashAggregate", "!Join", "!CartesianProduct"],
    # vocab coverage: top-k vocab = TakeOrderedAndProject; the corpus
    # meets only the broadcast vocabulary — never a nested loop
    "vocab_coverage": ["TakeOrderedAndProject", "BroadcastHashJoin",
                       "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # centroids: posexplode (Generate) + ONE partial-agg groupBy
    "label_centroids": ["Generate", "HashAggregate", "!Join"],
    # PSL: rules broadcast against distinct-host suffix candidates
    "psl_domain": ["BroadcastHashJoin", "!CartesianProduct",
                   "!BroadcastNestedLoopJoin"],
    # containment: inverted-index shingle equi-join, never all-pairs
    "containment_pairs": ["HashAggregate", "!CartesianProduct",
                          "!BroadcastNestedLoopJoin"],
    # FS scoring: block equi-join + codegen levenshtein tiers
    "er_scores": ["levenshtein", "!CartesianProduct",
                  "!BroadcastNestedLoopJoin"],
    # taxonomy closure: min-plus doubling = equi-joins + min groupBys
    "type_closure": ["HashAggregate", "!CartesianProduct",
                     "!BroadcastNestedLoopJoin"],
    # skip-grams: array-expression pair expansion + ONE groupBy over
    # the walk corpus (the walk build itself joins adjacency)
    "walk_skipgrams": ["Generate", "HashAggregate", "!CartesianProduct"],
    # BGP match: constants must reach the scans as filters (the gate
    # derives subj/obj via concat+modulo so parquet pushdown cannot
    # apply — the filter sits in codegen directly above each scan);
    # every pattern join is an equi-join — a cross product is a
    # rejected input, never a plan
    "bgp_match": ["Filter", "!CartesianProduct",
                  "!BroadcastNestedLoopJoin"],
    # entailment: taxonomy closure joined BROADCAST onto the
    # corpus-sized instance table
    "rdfs_entail": ["BroadcastHashJoin", "!CartesianProduct"],
    # bounded SCC: one closure + self-equi-join, never all-pairs
    "scc": ["HashAggregate", "!CartesianProduct",
            "!BroadcastNestedLoopJoin"],
    # neighbor agg: one shuffle join + one partial-agg groupBy
    "neighbor_agg": ["HashAggregate", "!CartesianProduct",
                     "!BroadcastNestedLoopJoin"],
    # substring spans: gram-hash frequency groupBy + equi-join; the
    # islands window is per-document, never corpus-wide
    "dup_spans": ["HashAggregate", "Window", "!CartesianProduct",
                  "!BroadcastNestedLoopJoin"],
    # stable ids: per-pid window + BROADCAST offset join — the range
    # exchange sits behind the localCheckpoint (plans as Scan
    # ExistingRDD), so the audit pins the downstream shape; the whole
    # point is no single-partition window over the KEY data (the only
    # unpartitioned window is the one-row-per-partition offsets frame)
    "stable_ids": ["Window", "BroadcastHashJoin", "!CartesianProduct"],
    # negative sampling: same two-phase prefix-sum shape
    "neg_sampling": ["Window", "BroadcastHashJoin",
                     "!CartesianProduct"],
    # keep-best: winner via two partial-agg groupBys, no per-group
    # window sort
    "cluster_keep_best": ["HashAggregate", "!Window",
                          "!CartesianProduct"],
    "conductance": ["HashAggregate", "!CartesianProduct",
                    "!BroadcastNestedLoopJoin"],
    # personalized pagerank: seed flag attaches by broadcast before
    # the iteration loop
    "ppr": ["BroadcastHashJoin", "!CartesianProduct"],
    "clustering_coef": ["HashAggregate", "!CartesianProduct",
                        "!BroadcastNestedLoopJoin"],
    # min-plus squaring: equi-join + min groupBy per round
    "wsp": ["HashAggregate", "!CartesianProduct",
            "!BroadcastNestedLoopJoin"],
    # co-citation: capped array pair expansion, NO edge self-join
    "cocitation": ["Generate", "HashAggregate", "!CartesianProduct",
                   "!BroadcastNestedLoopJoin"],
    # salience: literal-vocab filter (codegen), one groupBy + doc join
    "salience": ["HashAggregate", "!CartesianProduct",
                 "!BroadcastNestedLoopJoin"],
    # verbalization: pure projection over the edge frame (the gate's
    # edge synthesis contributes its own distinct exchange) — no join
    "verbalize": ["Project", "!Join"],
    "kg_qa": ["HashAggregate", "!CartesianProduct", "!Join"],
    # bpe: ONE Arrow stage over DISTINCT words + join back
    "bpe_tokens": ["MapInPandas", "HashAggregate", "!CartesianProduct",
                   "!BroadcastNestedLoopJoin"],
    # eval harness: both pair generators sub-quadratic, confusion =
    # one outer join + global agg
    "lsh_eval": ["HashAggregate", "!CartesianProduct",
                 "!BroadcastNestedLoopJoin"],
    # packing: two-phase prefix sum (window behind checkpoint +
    # broadcast offsets)
    "seq_pack": ["Window", "BroadcastHashJoin", "!CartesianProduct"],
    # exact histogram: two-phase ranks, boundary filter; never a
    # single-partition sort of the data
    "equi_depth": ["Window", "BroadcastHashJoin", "!CartesianProduct"],
    # outliers: broadcast moment frame + codegen integer verdict
    "length_outliers": ["BroadcastHashJoin", "HashAggregate",
                        "!CartesianProduct", "!SortMergeJoin"],
    # sequence write-out: explode + slice expressions + ONE groupBy
    # with in-group array_sort (the Window nodes in the plan are the
    # packing plan's per-pid prefix sums, not a corpus reassembly)
    "seq_materialize": ["Generate", "HashAggregate",
                        "!CartesianProduct"],
    # drift: one simhash groupBy + join + per-url lag window
    "capture_drift": ["HashAggregate", "Window", "!CartesianProduct",
                      "!BroadcastNestedLoopJoin"],
    # disambiguation: dictionary sides broadcast (behind the scored
    # frame's localCheckpoint — plans as Scan ExistingRDD), argmax =
    # two groupBys, never a per-group window
    "entity_disambig": ["HashAggregate", "!CartesianProduct",
                        "!Window", "!BroadcastNestedLoopJoin"],
    # frecency: ONE partial-agg groupBy over the event stream
    "frecency": ["HashAggregate", "!Join", "!CartesianProduct"],
    # DSIR selection: scoring is a zero-shuffle codegen projection
    # (model = literal array), selection = per-partition top-k
    "dsir_select": ["TakeOrderedAndProject", "!Exchange", "!Join",
                    "!Window"],
    # TextRank: pair extraction is map-side array exprs; rank loop =
    # partial-agg sum + equi-join per round; top-k never a global sort
    "textrank": ["TakeOrderedAndProject", "HashAggregate",
                 "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # multi-probe LSH: bucket equi-join with the small probe side
    # broadcast; never a cross join
    "mp_topk": ["BroadcastHashJoin", "!CartesianProduct",
                "!BroadcastNestedLoopJoin"],
    # SHACL validation: anti-joins + partial-agg HAVING + codegen
    # regexp; the shape list is driver metadata, never a cross join
    "shacl": ["HashAggregate", "!CartesianProduct",
              "!BroadcastNestedLoopJoin"],
    # content-defined chunking: pure array expressions riding the
    # scan — posexplode only, no join, no shuffle beyond the
    # conditional spread
    "cdc_chunks": ["Generate", "<=1 Exchange hashpartitioning", "!Join"],
    # HyperBall: per-round register join + partial-agg max groupBy;
    # state O(16|V|), never a cross join
    "hyperball": ["HashAggregate", "!CartesianProduct",
                  "!BroadcastNestedLoopJoin"],
    # PMI: count joins back onto the min_count-filtered pair frame;
    # top-k never a global sort
    "pmi": ["TakeOrderedAndProject", "HashAggregate",
            "!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # microdata: one Arrow parse per DISTINCT page, equi-joined back
    "microdata": ["MapInPandas", "!CartesianProduct",
                  "!BroadcastNestedLoopJoin"],
    # B-cubed: three partial-agg groupBys + keyed joins, one-row agg
    "bcubed": ["HashAggregate", "!CartesianProduct",
               "!BroadcastNestedLoopJoin"],
    # split assignment itself is a pure projection over the group
    # labels (the CC machinery upstream owns the shuffles)
    "leak_split": ["!CartesianProduct", "!BroadcastNestedLoopJoin"],
    # hard negatives: bucketed self-join + two partial-agg groupBys
    "hard_negatives": ["HashAggregate", "!CartesianProduct",
                       "!BroadcastNestedLoopJoin", "!Window"],
    # IVF-PQ: cluster-gated candidate join over code columns (raw
    # vectors dropped before the join), never a cross join
    "ivfpq_topk": ["BroadcastHashJoin", "!CartesianProduct"],
    # k-truss: wedge equi-join on the low endpoint + partial-agg
    # support; never a nested loop
    "ktruss": ["HashAggregate", "!CartesianProduct",
               "!BroadcastNestedLoopJoin"],
    # HLL distinct: two partial-agg groupBys, no join at all
    "hll_distinct": ["HashAggregate", "!Join", "!CartesianProduct"],
}


def plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def bounded(txt: str, limit: int, node: str, args: str) -> bool:
    """At most ``limit`` ``node`` operators in the formatted plan, each
    with ``args`` in its Arguments line."""
    found = re.findall(rf"^\(\d+\) {node}\n(?:.*\n)*?Arguments: (.*)$", txt, re.M)
    return len(found) <= limit and all(args in a for a in found)


def main() -> None:
    from surfactant_spark import queries as q
    from surfactant_spark.session import get_spark, host_cores

    spark = get_spark(cores=host_cores(), shuffle_partitions=8)
    registry = q.queries()
    names = [
        "find_filter", "broadcast_join_agg", "probe_path_join",
        "local_supplier_volume", "tpch_q1_pricing", "mention_detect",
        "minhash_lsh", "window_rank", "roots_antijoin", "embed_topk",
        "embed_neardup", "simhash_pairs", "ngram_jaccard", "lsh_dup_groups",
        "installs_hash_join", "dotnet_probe_uses", "simhash_groups",
        "archive_members", "sidefile_attach", "hash_sample",
        "stratified_sample", "group_topk_sample", "hash_identify",
        "filename_identify", "cc_components", "pii_scrub", "contamination",
        "passage_dedup", "gopher_repetition", "pagerank", "hashed_quality",
        "asof_join", "range_bin_join", "time_rollup",
        "triangle_count", "tfidf_topk", "quality_percentile", "bloom_join",
        "boilerplate_strip", "host_graph", "kcore", "sign_projection",
        "inverted_index", "domain_mix", "url_canon", "gopher_quality",
        "bm25_topk", "hits", "label_prop", "cooccur_pairs", "anchor_agg",
        "host_pagerank", "url_blocklist", "delta_dedup", "cdx_latest",
        "robots_match", "script_mix", "redirect_resolve",
        "jsonld_triples", "sitemap_extract", "name_match",
        "link_predict", "bfs_dist", "snapshot_diff",
        "random_walks", "url_template", "frontier_schedule",
        "corpus_cube", "svo_triples", "event_transitions",
        "sessionize", "scd2_status", "degree_hist", "vocab_coverage",
        "label_centroids", "psl_domain", "containment_pairs",
        "er_scores", "type_closure", "walk_skipgrams",
        "bgp_match", "rdfs_entail", "scc", "neighbor_agg",
        "dup_spans", "stable_ids", "neg_sampling", "cluster_keep_best",
        "conductance", "ppr", "clustering_coef", "wsp", "cocitation",
        "salience", "verbalize", "kg_qa", "bpe_tokens",
        "lsh_eval", "seq_pack", "equi_depth", "length_outliers",
        "seq_materialize", "capture_drift", "entity_disambig",
        "frecency", "dsir_select", "textrank", "mp_topk", "shacl",
        "cdc_chunks", "hyperball", "pmi", "microdata", "bcubed",
        "leak_split", "hard_negatives", "ivfpq_topk", "ktruss",
        "hll_distinct",
    ]
    out = ["# EXPLAIN — physical plans of key operators\n"]
    failures = []
    for name in names:
        txt = plan_text(registry[name](spark, SF))
        out.append(f"\n## {name}\n\n```\n{txt}\n```\n")
        for needle in AUDITS.get(name, []):
            if needle.startswith("!"):
                ok = needle[1:] not in txt
                label = f"absent `{needle[1:]}`"
            elif needle.startswith("<="):
                limit, node, args = needle[2:].split(" ", 2)
                ok = bounded(txt, int(limit), node, args)
                label = f"at most {limit} `{node} {args}`"
            else:
                ok = needle in txt
                label = f"`{needle}`"
            out.append(f"- audit {label}: {'OK' if ok else '**MISSING**'}\n")
            if not ok:
                failures.append((name, needle))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "EXPLAIN.md"), "w") as f:
        f.writelines(out)
    print("wrote EXPLAIN.md;", "ALL AUDITS OK" if not failures else f"FAILED: {failures}")
    spark.stop()


if __name__ == "__main__":
    main()
