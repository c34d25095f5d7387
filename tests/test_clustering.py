"""Connected components pinned against a brute-force union-find, including
path-shaped graphs (worst case for label propagation: diameter rounds) and
the real MinHash-pairs input."""

import random

from pyspark.sql import functions as F

from custom_columnar_format_spark.operators import clustering, dedup


def union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: every node -> min of its component
    comp = {}
    for n in list(parent):
        comp[n] = find(n)
    # find() path-compresses to the root, which is the min because unions
    # always point the larger root at the smaller one
    return comp


def check_graph(spark, edges):
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r.node: r.component for r in clustering.connected_components(df).collect()}
    want = union_find(edges)
    assert got == want


def test_cc_two_triangles_and_bridge(spark):
    check_graph(spark, [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (3, 10), (20, 21)])


def test_cc_long_path(spark):
    # path 0-1-2-...-15: diameter 15 exercises multi-round convergence
    check_graph(spark, [(i, i + 1) for i in range(15)])


def test_cc_random_graph(spark):
    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(50)]
    edges = [(a, b) for a, b in edges if a != b]
    check_graph(spark, edges)


def test_duplicate_clusters_from_minhash(spark, sf_small):
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    pairs = dedup.minhash_neardup_pairs(docs, jaccard_threshold=0.4)
    clusters = clustering.duplicate_clusters(pairs).collect()
    assert len(clusters) > 0
    by_comp = {r.component: r for r in clusters}
    # every component id is its own keep_id (min member), members >= 2
    for comp, row in by_comp.items():
        assert row.keep_id == comp
        assert row.n_members >= 2
    # total deduped members == distinct nodes in the pair list
    nodes = pairs.select(F.explode(F.array("id_a", "id_b")).alias("n")).distinct().count()
    assert sum(r.n_members for r in clusters) == nodes


# ---------------------------------------------------------------------------
# incremental cluster maintenance (round 9)
# ---------------------------------------------------------------------------


def check_incremental(spark, hist_edges, new_edges):
    """incremental_components(state, new) must equal a from-scratch rebuild
    over hist+new for every node that has an edge."""
    hist_df = spark.createDataFrame(hist_edges, ["id_a", "id_b"])
    state = clustering.connected_components(hist_df)
    new_df = spark.createDataFrame(new_edges, ["id_a", "id_b"])
    got = {
        r.node: r.component
        for r in clustering.incremental_components(state, new_df).collect()
    }
    want = union_find(hist_edges + new_edges)
    assert got == want


def test_incremental_merges_two_history_components(spark):
    # {5,9} and {3,7} merge through a batch doc 20 touching both
    check_incremental(spark, [(5, 9), (3, 7)], [(20, 9), (20, 7)])


def test_incremental_new_min_relabels_whole_old_component(spark):
    # new node 2 < old label 5: every member of {5,9,11} must drop to 2,
    # including node 11 which no new edge touches
    check_incremental(spark, [(5, 9), (9, 11)], [(2, 11)])


def test_incremental_batch_only_component(spark):
    check_incremental(spark, [(5, 9)], [(30, 31), (31, 32)])


def test_incremental_chain_through_many_components(spark):
    # a batch path threading four separate history components into one
    hist = [(10, 11), (20, 21), (30, 31), (40, 41)]
    new = [(11, 21), (21, 31), (31, 41)]
    check_incremental(spark, hist, new)


def test_incremental_edge_within_one_component_is_noop(spark):
    hist = [(5, 9), (9, 11), (20, 21)]
    check_incremental(spark, hist, [(5, 11)])


def test_incremental_empty_new_edges_returns_state(spark):
    hist = [(5, 9), (3, 7)]
    hist_df = spark.createDataFrame(hist, ["id_a", "id_b"])
    state = clustering.connected_components(hist_df)
    empty = spark.createDataFrame([], "id_a: long, id_b: long")
    got = {
        r.node: r.component
        for r in clustering.incremental_components(state, empty).collect()
    }
    assert got == union_find(hist)


def test_incremental_random_graphs_match_rebuild(spark):
    rng = random.Random(9)
    for trial in range(3):
        nodes = list(range(60))
        hist = [
            (rng.choice(nodes), rng.choice(nodes))
            for _ in range(40)
        ]
        hist = [(a, b) for a, b in hist if a != b]
        # batch introduces ids 100+ and random links into history
        new = [(100 + i, rng.choice(nodes + [100 + j for j in range(i)])) for i in range(15)]
        new += [(rng.choice(nodes), rng.choice(nodes)) for _ in range(5)]
        new = [(a, b) for a, b in new if a != b]
        check_incremental(spark, hist, new)


def test_incremental_rejects_non_canonical_state(spark):
    """r9 VERDICT #8: a state table that is NOT a converged min-label
    output (label > node — crash mid-maintenance, manual edit) must raise
    loudly instead of silently mislabeling; a canonical state of the same
    shape passes."""
    import pytest
    from py4j.protocol import Py4JJavaError

    # corrupted: node 3 claims label 9 (> node) — impossible for converged
    # min-label state
    bad_state = spark.createDataFrame(
        [(3, 9), (9, 9)], "node: long, component: long"
    )
    new_edges = spark.createDataFrame([(100, 3)], "id_a: long, id_b: long")
    with pytest.raises((Py4JJavaError, Exception), match="non-canonical"):
        clustering.incremental_components(bad_state, new_edges).collect()

    good_state = spark.createDataFrame(
        [(3, 3), (9, 3)], "node: long, component: long"
    )
    got = {
        r.node: r.component
        for r in clustering.incremental_components(good_state, new_edges).collect()
    }
    assert got == {3: 3, 9: 3, 100: 3}


def test_reliable_checkpoint_matches_local(spark, tmp_path):
    """reliable_checkpoint=True (guide §5: executor-loss-safe lineage cuts
    for real clusters) must produce exactly the labels the localCheckpoint
    default does, for both the from-scratch and the incremental loop."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 10)],
        "id_a: long, id_b: long",
    )
    base = {
        (r.node, r.component)
        for r in clustering.connected_components(edges).collect()
    }
    rel = {
        (r.node, r.component)
        for r in clustering.connected_components(
            edges, reliable_checkpoint=True
        ).collect()
    }
    assert rel == base
    state = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (50, 50)], "node: long, component: long"
    )
    new_edges = spark.createDataFrame([(3, 50), (60, 61)], "id_a: long, id_b: long")
    base_inc = {
        (r.node, r.component)
        for r in clustering.incremental_components(state, new_edges).collect()
    }
    rel_inc = {
        (r.node, r.component)
        for r in clustering.incremental_components(
            state, new_edges, reliable_checkpoint=True
        ).collect()
    }
    assert rel_inc == base_inc


def test_cc_null_endpoint_local_vs_distributed(spark):
    """An edge with a NULL endpoint is no edge: the driver-side union-find
    and the distributed loop (forced by local_max_edges=0) agree."""
    df = spark.createDataFrame(
        [(1, 2), (2, None), (None, 3), (3, 4)], "id_a: long, id_b: long"
    )
    local = {(r.node, r.component) for r in clustering.connected_components(df).collect()}
    dist = {
        (r.node, r.component)
        for r in clustering.connected_components(df, local_max_edges=0).collect()
    }
    assert local == dist == {(1, 1), (2, 1), (3, 3), (4, 3)}


def test_cc_local_vs_distributed(spark):
    """The driver-side union-find fast path (local_max_edges gate) must
    produce exactly the distributed loop's labels — random graph, both
    from-scratch and through the incremental fold."""
    import random

    rng = random.Random(7)
    nodes = list(range(200))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a: long, id_b: long")
    local = {
        (r.node, r.component)
        for r in clustering.connected_components(df).collect()
    }
    # max_iter=100: the distributed loop is an any-diameter propagation
    # capped by max_iter (a safety valve); this random graph can need more
    # than the default 20 rounds, while union-find is always converged —
    # compare converged vs converged
    dist = {
        (r.node, r.component)
        for r in clustering.connected_components(
            df, local_max_edges=0, max_iter=100
        ).collect()
    }
    assert local == dist
    state = spark.createDataFrame([(1, 1), (2, 1), (500, 500)], "node: long, component: long")
    new_edges = spark.createDataFrame([(2, 500), (600, 601)], "id_a: long, id_b: long")
    inc_local = {
        (r.node, r.component)
        for r in clustering.incremental_components(state, new_edges).collect()
    }
    inc_dist = {
        (r.node, r.component)
        for r in clustering.incremental_components(
            state, new_edges, local_max_edges=0
        ).collect()
    }
    assert inc_local == inc_dist == {(1, 1), (2, 1), (500, 1), (600, 600), (601, 600)}


def test_cc_warns_when_loop_stops_unconverged(spark):
    """The distributed loop capped at max_iter before labels stop changing
    returns split components, so it must say so; a converged run is silent."""
    import warnings

    import pytest

    df = spark.createDataFrame([(i, i + 1) for i in range(5)], "id_a: long, id_b: long")
    with pytest.warns(RuntimeWarning, match="max_iter=1"):
        clustering.connected_components(df, max_iter=1, local_max_edges=0).collect()
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        clustering.connected_components(df, max_iter=20, local_max_edges=0).collect()
