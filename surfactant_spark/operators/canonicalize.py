"""Entity canonicalization: union-find over alias edges, hash election.

Surfactant canonicalizes by SHA-256 dedup-merge (one Software entry per
unique content, surfactant/sbomtypes/_sbom.py:205-263) plus symlink
alias accumulation (surfactant/cmd/generate.py:466-498).  The KG analog
has two parts:

1. page nodes — already canonical by construction: ``p:<content_sha256>``
   (groupBy on the hash, no iteration needed);
2. dictionary entities — aliases form an arbitrary graph, so canonical
   IDs need **connected components**.  Two paths, one contract
   (node → min member of its component):

   * dictionaries: the alias edge list is already a Python list on the
     driver, so ``entity_canonical_map`` runs ``union_find`` there and
     ships one small Arrow frame — no Spark job before the stage write;
   * corpus graphs (dedup clusters, link graphs): ``connected_components``
     implements min-label propagation with pointer jumping
     (hash-to-min): each iteration (a) takes the min label over the
     2-hop neighborhood (two chained propagate+min steps), (b) compresses
     paths by joining labels onto themselves twice.  Converges in
     O(log n) iterations; every iteration is checkpointed so lineage
     stays flat — executor-local by default, or a reliable
     ``checkpoint`` when ``checkpoint_dir`` points at cluster storage.
     The convergence probe is FUSED into each round's materializing
     action (lazy checkpoint + full-scan changed-count agg): one Spark
     job per round.  Graphs of at most ``SMALL_GRAPH_EDGES`` edges are
     collected and answered by the same ``union_find``.

Canonical ID election is deterministic: the minimum sha256 over the
component's member keys (FIXTURES.md §4), the analog of Surfactant's
keep-the-first-UUID merge (surfactant/sbomtypes/_sbom.py:219-263).
"""

from __future__ import annotations

import hashlib
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..schema import ENTITY_MAP_SCHEMA
from ..session import local_frame


def _round_checkpoint(df: DataFrame, checkpoint_dir: str | None) -> DataFrame:
    """Per-iteration lineage truncation.  localCheckpoint (executor
    block store) by default; a reliable ``checkpoint`` when a directory
    is provided — at production scale a lost executor invalidates
    localCheckpoint blocks mid-convergence, so long CC runs on real
    clusters should pass an HDFS/S3 ``checkpoint_dir``."""
    if checkpoint_dir is not None:
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() != checkpoint_dir:
            sc.setCheckpointDir(checkpoint_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


# Below this many edges, the component graph collects to the driver and
# a Python union-find answers in one job — the broadcast-join-selection
# analog for the CC fixpoint.  CC serves two very different regimes:
# billion-edge dedup graphs (distributed fixpoint required) and
# dictionary-sized alias graphs (tens of edges, where ~12 eager Spark
# jobs of fixpoint rounds are pure job-launch overhead).
SMALL_GRAPH_EDGES = 100_000


def union_find(pairs, nodes=()) -> dict:
    """node → min member of its component, over the nodes of ``pairs``
    plus ``nodes`` (singletons unless a pair joins them).  Self-pairs
    add nothing, as in the distributed fixpoints.  Each union hangs the
    larger root under the smaller, so every root is its component's
    minimum."""
    parent = {n: n for n in nodes}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        if a == b:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in parent}


def _small_graph_labels(
    edges: DataFrame, src: str, dst: str, threshold: int
) -> DataFrame | None:
    """The small-graph fast path, or None when the graph exceeds
    ``threshold`` edges (probed with an early-aborting limit+count —
    big inputs never fully evaluate).  Output contract is identical to
    the distributed fixpoints: (node, component=min member), nodes from
    non-self edges only.  String min parity holds because UTF-8 byte
    order (Spark) equals code-point order (Python)."""
    pairs = edges.select(src, dst)
    # ONE execution of the (possibly expensive) upstream chain: collect
    # through the same early-aborting limit that used to feed a count —
    # when the graph exceeds the threshold the limit stops at
    # threshold+1 rows and we fall through to the distributed path;
    # when it fits, the collected rows ARE the edge list (the previous
    # count-then-collect shape executed the upstream chain twice, ~2×
    # the construction cost of every CC-backed gate).
    collected = pairs.limit(threshold + 1).collect()
    if len(collected) > threshold:
        return None
    comp = union_find(
        (r[0], r[1]) for r in collected if r[0] is not None and r[1] is not None
    )
    dt = pairs.schema.fields[0].dataType
    st = StructType([StructField("node", dt), StructField("component", dt)])
    return local_frame(edges.sparkSession, list(comp.items()), st)


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    small_threshold: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """→ (node, component) where component = min node id (total order on
    the node string) reachable from ``node``.

    Nodes appearing only as isolated (self-edge or absent) should be
    unioned in by the caller; edges here may be sparse.

    ``small_threshold``: graphs at or under this many edges take the
    driver union-find fast path (identical output); 0 forces the
    distributed fixpoint."""
    if small_threshold:
        small = _small_graph_labels(edges, src, dst, small_threshold)
        if small is not None:
            return small
    # the symmetric edge list is probed by EVERY round's propagation
    # join — checkpoint it once so the union+distinct shuffle doesn't
    # re-execute per iteration (it did until r5: each round silently
    # re-ran the distinct over the full edge set).  Checkpointed
    # PRE-PARTITIONED on the probe key ``v``: the checkpoint preserves
    # output partitioning, so each round's propagation join shuffles
    # only the compact (node, label) side — the EDGE frame (the big one
    # at 100 TB) never moves again after setup (r6; was re-exchanged
    # per prop hop per round).  LAZY checkpoint: the init-labels job
    # below is its first action and materializes the blocks, so setup
    # costs one job, not two.
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .repartition(F.col("v"))
    )
    if checkpoint_dir is not None:
        sc = sym.sparkSession.sparkContext
        if sc.getCheckpointDir() != checkpoint_dir:
            sc.setCheckpointDir(checkpoint_dir)
        sym = sym.checkpoint(eager=False)
    else:
        sym = sym.localCheckpoint(eager=False)
    # init folds the FIRST propagation round in: label₀(u) = min(u,
    # neighbors(u)) comes out of the same groupBy shuffle that a plain
    # distinct-nodes init would pay, one round cheaper
    labels = _round_checkpoint(
        sym.groupBy("u")
        .agg(F.least(F.col("u"), F.min("v")).alias("label"))
        .select(F.col("u").alias("node"), "label"),
        checkpoint_dir,
    )
    converged = False
    for it in range(max_iter):
        # (a) min label over the 1-hop neighborhood, TWICE per round:
        # alias/KG graphs are propagation-limited (star-shaped — the
        # min must travel hub→spoke→hub waves), so two graph hops per
        # round halves the round count for the common case (A/B at
        # sf0.1: 4 → 3 rounds, ~25% less wall).
        # the previous label rides through the whole round as a _prev
        # COLUMN (r6): the original rows carry it, propagated rows carry
        # NULL, and the per-node groupBy re-attaches it with max() —
        # exactly one non-null per node — so the convergence probe at
        # the end compares two columns of the same frame instead of
        # paying a per-round confirm JOIN (one fewer exchange + join
        # per round; rounds are the expensive unit at fixpoint scale)
        ltype = labels.schema["label"].dataType
        cur = labels.select("node", F.col("label").alias("_prev"), "label")
        for _p in range(2):
            prop = (
                sym.join(
                    cur.select("node", "label"),
                    sym["v"] == F.col("node"),
                    "inner",
                )
                .select(
                    F.col("u").alias("node"),
                    F.lit(None).cast(ltype).alias("_prev"),
                    "label",
                )
            )
            cur = (
                cur.unionByName(prop)
                .groupBy("node")
                .agg(
                    F.max("_prev").alias("_prev"),
                    F.min("label").alias("label"),
                )
            )
        # (b) pointer jumping: label ← label(label), applied twice —
        # chain doubling bounds rounds at O(log depth) for deep label
        # chains (paths, long redirect trails).  DEFERRED until round 2
        # (r6): in early rounds labels are 1-2 hops old and point at
        # nodes whose own labels are already minimal, so the jump joins
        # were pure overhead; shallow graphs (the alias workload —
        # converge in ≤3 rounds) now never pay them, while deep chains
        # still get doubling from round 2 on (a constant-round delay,
        # asymptotics intact).
        jumped = cur
        if it >= 2:
            for _hop in range(2):
                lab2 = jumped.select(
                    F.col("node").alias("pnode"), F.col("label").alias("plabel")
                )
                jumped = (
                    jumped.join(lab2, jumped["label"] == lab2["pnode"], "left")
                    .select(
                        "node",
                        "_prev",
                        F.coalesce(F.col("plabel"), F.col("label")).alias("label"),
                    )
                )
        # FUSED convergence probe: checkpoint LAZILY and let the
        # full-scan changed-count agg be the action that materializes
        # the checkpoint blocks — one Spark job per round.  The agg is
        # a full scan on purpose: a limit-style probe could
        # short-circuit and leave checkpoint partitions unmaterialized
        # for the next round to recompute.
        flagged = jumped
        if checkpoint_dir is not None:
            sc = flagged.sparkSession.sparkContext
            if sc.getCheckpointDir() != checkpoint_dir:
                sc.setCheckpointDir(checkpoint_dir)
            flagged = flagged.checkpoint(eager=False)
        else:
            flagged = flagged.localCheckpoint(eager=False)
        (changed,) = flagged.agg(
            F.sum(
                (~F.col("label").eqNullSafe(F.col("_prev"))).cast("long")
            ).alias("c")
        ).collect()[0]
        labels = flagged.select("node", "label")
        if not changed:
            converged = True
            break
    if not converged:
        warnings.warn(
            f"connected_components: no convergence within max_iter={max_iter}; "
            "labels may be non-minimal for some components",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select("node", F.col("label").alias("component"))


def connected_components_star(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    small_threshold: int = SMALL_GRAPH_EDGES,
) -> DataFrame:
    """Large-star/small-star connected components (the MapReduce CC
    algorithm of Kiveris et al., "Connected Components in MapReduce and
    Beyond") — same (node, component=min-id) contract as
    ``connected_components``, different scaling shape: each round's
    shuffle is keyed on the CURRENT star centers, so a giant skewed
    component (one hub with 10⁹ spokes — the stop-word-alias case)
    flattens in O(log n) rounds without ever materializing the
    neighborhood of a single reducer key beyond its star.  Use this
    variant when component size distribution is heavy-tailed; the
    min-label/pointer-jumping variant is fine for dictionary-sized
    graphs.

    large-star: every neighbor v > u links to m = min(Γ(u) ∪ {u});
    small-star: every neighbor v < u (and u itself) links to m.
    Alternate until the edge set is stable; the result is a star
    forest rooted at component minima."""
    if small_threshold:
        small = _small_graph_labels(edges, src, dst, small_threshold)
        if small is not None:
            return small

    def canon(e: DataFrame) -> DataFrame:
        return (
            e.select(
                F.least(F.col("a"), F.col("b")).alias("lo"),
                F.greatest(F.col("a"), F.col("b")).alias("hi"),
            )
            .where(F.col("lo") != F.col("hi"))
            .distinct()
        )

    def sym(e: DataFrame) -> DataFrame:
        return e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).union(
            e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
        )

    def large_star(e: DataFrame) -> DataFrame:
        s = sym(e)
        mins = s.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least(F.col("u"), F.col("mv")).alias("m"))
        out = (
            s.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        return canon(out)

    def small_star(e: DataFrame) -> DataFrame:
        s = sym(e).where(F.col("v") < F.col("u"))
        mins = s.groupBy("u").agg(F.min("v").alias("m"))
        out = (
            s.join(mins, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(mins.select(F.col("u").alias("a"), F.col("m").alias("b")))
        )
        return canon(out)

    def _lazy_checkpoint(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            sc = df.sparkSession.sparkContext
            if sc.getCheckpointDir() != checkpoint_dir:
                sc.setCheckpointDir(checkpoint_dir)
            return df.checkpoint(eager=False)
        return df.localCheckpoint(eager=False)

    def _fingerprint_of(df: DataFrame) -> tuple[int, int]:
        """(row count, order-independent xxhash64 xor) in ONE job that
        also materializes the frame's lazy-checkpoint blocks — the
        full scan is deliberate, a short-circuiting probe would leave
        partitions unmaterialized for the next round to recompute."""
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(lo, hi))").alias("h"),
        ).collect()[0]
        return (int(row["n"]), int(row["h"] or 0))

    cur = _lazy_checkpoint(
        canon(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    )
    fp = _fingerprint_of(cur)
    converged = False
    for _it in range(max_iter):
        nxt = _lazy_checkpoint(small_star(large_star(cur)))
        nfp = _fingerprint_of(nxt)
        # fingerprint equality is the cheap stability signal (one job
        # per round instead of r4's eager checkpoint + two exceptAll
        # probes); the exact symmetric-difference check runs only on
        # the rare candidate-convergence round, so a hash collision
        # can never produce a wrong result — only one wasted confirm
        if nfp == fp:
            changed = (
                nxt.exceptAll(cur).limit(1).count()
                + cur.exceptAll(nxt).limit(1).count()
            )
            if changed == 0:
                cur = nxt
                converged = True
                break
        cur, fp = nxt, nfp
    if not converged:
        warnings.warn(
            f"connected_components_star: no convergence within max_iter={max_iter}; "
            "emitting the current (possibly non-stable) star forest",
            RuntimeWarning,
            stacklevel=2,
        )
    # star forest: every non-root points straight at the component min
    members = cur.select(F.col("hi").alias("node"), F.col("lo").alias("component"))
    roots = (
        cur.select(F.col("lo").alias("node"))
        .distinct()
        .join(members.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    return members.unionByName(roots)


def entity_canonical_map(
    spark,
    dict_keys: list[str],
    alias_edge_rows: list[tuple[str, str]],
) -> DataFrame:
    """→ (entity_key, canonical_id, member_keys) for every key in the
    dictionary or the alias-edge graph, built on the driver.

    canonical_id = ``e:`` + min(sha256(member)) over the component — the
    same hex Spark's ``sha2(key, 256)`` gives over UTF-8."""
    comp = union_find(alias_edge_rows, dict_keys)
    members: dict = {}
    for key in sorted(comp):
        members.setdefault(comp[key], []).append(key)
    rows = []
    for keys in members.values():
        cid = "e:" + min(hashlib.sha256(k.encode()).hexdigest() for k in keys)
        rows.extend((k, cid, keys) for k in keys)
    return local_frame(spark, rows, ENTITY_MAP_SCHEMA)
