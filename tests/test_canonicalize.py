"""Union-find connected components — chains, stars, isolated keys.
The distributed analog of Surfactant's dedup-merge canonical election
(surfactant/sbomtypes/_sbom.py:219-263); FIXTURES.md §3 shapes."""

import hashlib

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from surfactant_spark.operators.canonicalize import connected_components, entity_canonical_map
from surfactant_spark.schema import ENTITY_MAP_SCHEMA
from surfactant_spark.session import local_frame


def _sha(s):
    return hashlib.sha256(s.encode()).hexdigest()


def test_cc_chain_and_isolated(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")], ["a", "b"]
    )
    got = {(r.node, r.component) for r in connected_components(edges).collect()}
    assert got == {
        ("a", "a"), ("b", "a"), ("c", "a"),
        ("x", "x"), ("y", "x"),
    }


def test_cc_giant_star(spark):
    n = 500
    rows = [("hub", f"spoke{i:04d}") for i in range(n)]
    edges = spark.createDataFrame(rows, ["a", "b"])
    comp = connected_components(edges)
    labels = {r.component for r in comp.collect()}
    assert labels == {"hub"}
    assert comp.count() == n + 1


def test_cc_long_path_converges_by_pointer_jumping(spark):
    # path of 33 nodes: min-label alone needs 32 rounds; with pointer
    # jumping it must converge within max_iter=8
    rows = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(32)]
    edges = spark.createDataFrame(rows, ["a", "b"])
    comp = connected_components(edges, max_iter=8)
    labels = {r.component for r in comp.collect()}
    assert labels == {"n00"}


def test_star_cc_matches_pointer_jumping(spark):
    """large-star/small-star CC must produce the identical (node,
    component) map as the min-label/pointer-jumping variant on mixed
    shapes: chain + clique + giant skewed star + isolated pair."""
    from surfactant_spark.operators.canonicalize import connected_components_star

    rows = [(f"c{i}", f"c{i+1}") for i in range(12)]                 # chain
    rows += [(f"k{i}", f"k{j}") for i in range(5) for j in range(i)]  # clique
    rows += [("hub", f"s{i:03d}") for i in range(300)]                # skewed star
    rows += [("p", "q"), ("q", "p")]                                  # dup/reverse
    edges = spark.createDataFrame(rows, ["a", "b"])
    a = {(r.node, r.component) for r in connected_components(edges).collect()}
    b = {(r.node, r.component) for r in connected_components_star(edges).collect()}
    assert a == b and len({c for _, c in a}) == 4


def test_star_cc_long_path(spark):
    from surfactant_spark.operators.canonicalize import connected_components_star

    rows = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(32)]
    comp = connected_components_star(spark.createDataFrame(rows, ["a", "b"]), max_iter=10)
    labels = {r.component for r in comp.collect()}
    assert labels == {"n00"} and comp.count() == 33


def test_entity_canonical_map_min_sha_election(spark):
    emap = entity_canonical_map(
        spark,
        dict_keys=["k1", "k2", "solo"],
        alias_edge_rows=[("k1", "k2")],
    )
    rows = {r.entity_key: (r.canonical_id, tuple(r.member_keys)) for r in emap.collect()}
    expected_canon = "e:" + min(_sha("k1"), _sha("k2"))
    assert rows["k1"] == (expected_canon, ("k1", "k2"))
    assert rows["k2"] == (expected_canon, ("k1", "k2"))
    assert rows["solo"] == ("e:" + _sha("solo"), ("solo",))


def test_cc_deep_chain_all_paths_agree(spark):
    # a 25-node chain is the worst case for label propagation (deep
    # diameter); the driver fast path, the distributed min-label
    # fixpoint (fused convergence probe), and large-star/small-star
    # must produce identical components
    rows = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(24)]
    edges = spark.createDataFrame(rows, ["a", "b"])
    a = {(r.node, r.component) for r in connected_components(edges).collect()}
    b = {
        (r.node, r.component)
        for r in connected_components(edges, small_threshold=0).collect()
    }
    assert a == b
    from surfactant_spark.operators.canonicalize import connected_components_star

    c = {
        (r.node, r.component)
        for r in connected_components_star(edges, small_threshold=0).collect()
    }
    assert a == c


def test_cc_warns_on_max_iter_exhaustion(spark):
    import warnings as w

    from surfactant_spark.operators.canonicalize import connected_components_star

    # a 65-node path cannot flatten in 1 round for either variant
    rows = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(64)]
    edges = spark.createDataFrame(rows, ["a", "b"])
    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        connected_components(edges, max_iter=1, small_threshold=0).collect()
        assert any("no convergence" in str(x.message) for x in rec)
    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        connected_components_star(edges, max_iter=1, small_threshold=0).collect()
        assert any("no convergence" in str(x.message) for x in rec)


def test_small_graph_fast_path_parity(spark):
    """The driver union-find fast path must be row-identical to BOTH
    distributed fixpoints on the same graph (the adaptive cutover can
    never change results), and the limit-probe must leave big graphs on
    the distributed path."""
    from surfactant_spark.operators.canonicalize import (
        _small_graph_labels,
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y"), ("z", "z"), ("q", "x")],
        "a string, b string",
    )
    fast = {(r.node, r.component) for r in
            connected_components(edges).collect()}
    dist = {(r.node, r.component) for r in
            connected_components(edges, small_threshold=0).collect()}
    star = {(r.node, r.component) for r in
            connected_components_star(edges, small_threshold=0).collect()}
    assert fast == dist == star
    assert fast == {("a", "a"), ("b", "a"), ("c", "a"),
                    ("x", "q"), ("y", "q"), ("q", "q")}
    # probe: threshold below the edge count → fast path declines
    assert _small_graph_labels(edges, "a", "b", 2) is None
    # int-typed node ids keep their type through the fast path
    iedges = spark.createDataFrame([(2, 1), (3, 2)], "a int, b int")
    got = {(r.node, r.component) for r in
           connected_components(iedges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1)}


def _spark_entity_map(spark, dict_keys, edges):
    """The distributed reference: fixpoint CC over the alias edges,
    dictionary keys outside every edge as singletons, and the min
    ``sha2`` over each component elected in Spark."""
    cc = connected_components(
        spark.createDataFrame(edges, "a string, b string"), small_threshold=0
    )
    keys = spark.createDataFrame([(k,) for k in dict_keys], "entity_key string")
    nodes = cc.select(F.col("node").alias("entity_key"), "component").unionByName(
        keys.join(cc, keys["entity_key"] == cc["node"], "left_anti").select(
            "entity_key", F.col("entity_key").alias("component")
        )
    )
    canon = nodes.groupBy("component").agg(
        F.concat(F.lit("e:"), F.min(F.sha2("entity_key", 256))).alias("canonical_id"),
        F.sort_array(F.collect_set("entity_key")).alias("member_keys"),
    )
    return nodes.join(canon, "component").select("entity_key", "canonical_id", "member_keys")


_names = st.sampled_from([f"k{i}" for i in range(10)] + ["_none_", "Z", "ä", "日本"])


@st.composite
def _alias_graphs(draw):
    """(dict_keys, edges): chains, stars and cliques, plus duplicate,
    reversed and self edges; edge nodes outside ``dict_keys`` are
    alias-only nodes."""
    edges = []
    for _ in range(draw(st.integers(0, 3))):
        shape = draw(st.sampled_from(["chain", "star", "clique"]))
        ns = draw(st.lists(_names, min_size=2, max_size=5, unique=True))
        if shape == "chain":
            edges += list(zip(ns, ns[1:]))
        elif shape == "star":
            edges += [(ns[0], n) for n in ns[1:]]
        else:
            edges += [(a, b) for i, a in enumerate(ns) for b in ns[i + 1:]]
    if edges:
        edges += draw(st.lists(st.sampled_from(edges), max_size=3))
        edges += [(b, a) for a, b in draw(st.lists(st.sampled_from(edges), max_size=3))]
    edges += [(n, n) for n in draw(st.lists(_names, max_size=2))]
    dict_keys = draw(st.lists(_names, max_size=6, unique=True))
    return dict_keys, edges


@given(_alias_graphs())
@example(([], []))
@example((["k1", "solo"], []))
@example((["k1", "k9"], [("k1", "k2"), ("k2", "k1"), ("k1", "k2"), ("k3", "k3"), ("ä", "k2")]))
@settings(max_examples=12, deadline=None)
def test_entity_map_matches_spark_reference(spark, graph):
    dict_keys, edges = graph
    got = entity_canonical_map(spark, dict_keys, edges)
    assert got.schema == ENTITY_MAP_SCHEMA
    want = _spark_entity_map(spark, dict_keys, edges)

    def rows(df):
        return sorted((r.entity_key, r.canonical_id, tuple(r.member_keys)) for r in df.collect())

    assert rows(got) == rows(want)


def test_local_frame_one_partition_exact_schema(spark):
    for rows in ([], [("k", "e:" + _sha("k"), ["k"])]):
        df = local_frame(spark, rows, ENTITY_MAP_SCHEMA)
        assert df.rdd.getNumPartitions() == 1
        assert df.schema == ENTITY_MAP_SCHEMA
        assert [tuple(r) for r in df.collect()] == rows
