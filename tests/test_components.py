"""Connected components over near-dup pair graphs: chains collapse
transitively, labels are minimum reachable keys, convergence beats the
iteration cap."""

from pyspark.sql import functions as F

from cloud_native_medical_data_etl_pipeline_spark.operators import (
    components as C,
    dedup,
)

from conftest import ORACLE_SF_DIR


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "key_a long, key_b long")


def test_chain_collapses_to_one_component(spark):
    # 1-2, 2-3, 3-4: one component labeled 1, though 1~4 never scored
    cc = C.connected_components(_pairs(spark, [(1, 2), (2, 3), (3, 4)]))
    got = {r["vertex"]: r["component"] for r in cc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1}


def test_separate_components_stay_separate(spark):
    cc = C.connected_components(
        _pairs(spark, [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)])
    )
    got = {r["vertex"]: r["component"] for r in cc.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_star_and_reversed_edges(spark):
    # hub 5 with spokes, edges in both orders; min key 1 wins the label
    cc = C.connected_components(_pairs(spark, [(5, 9), (1, 5), (5, 7), (7, 9)]))
    got = {r["vertex"]: r["component"] for r in cc.collect()}
    assert got == {1: 1, 5: 1, 7: 1, 9: 1}


def test_dedup_clusters_summary(spark):
    out = C.dedup_clusters(_pairs(spark, [(1, 2), (2, 3), (10, 11)]))
    got = {r["component"]: (r["n_members"], r["max_member"]) for r in out.collect()}
    assert got == {1: (3, 3), 10: (2, 11)}


def test_components_on_real_minhash_pairs(spark):
    docs = (
        spark.read.parquet(f"{ORACLE_SF_DIR}/documents.parquet")
        .select("doc_id", "text")
    )
    pairs = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    cc = C.connected_components(pairs)
    rows = cc.collect()
    assert len(rows) > 0
    # every component label is itself a member vertex and the minimum
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r["vertex"])
    for comp, members in by_comp.items():
        assert comp == min(members)
        assert comp in members


def test_path_graph_converges_logarithmically(spark):
    """The long-chain worst case: a 1024-node path graph has diameter
    1023, so neighbor propagation alone would need 1023 rounds (and
    would silently return WRONG labels under max_iter=50). Pointer
    jumping must converge in O(log n) rounds with the correct
    all-reach-the-minimum labels."""
    import math

    n = 1024
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "key_a long, key_b long"
    )
    stats: dict = {}
    rows = C.connected_components(pairs, stats=stats).collect()
    assert len(rows) == n
    assert all(r["component"] == 0 for r in rows)
    assert stats["rounds"] <= 2 * int(math.log2(n)) + 4, stats


def test_cluster_representatives_quality_keep(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators.components import (
        cluster_representatives,
    )

    # cluster {1,2,3} via chain 1-2, 2-3; cluster {8,9}; doc 5 isolated
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (8, 9)], "key_a long, key_b long"
    )
    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (8, 7), (9, 7), (5, 1000)],
        "doc_id long, n_chars long",
    )
    out = {
        r["component"]: r
        for r in cluster_representatives(pairs, docs, "n_chars").collect()
    }
    assert set(out) == {1, 8}  # isolated doc 5 not returned
    assert out[1]["keep"] == 2 and out[1]["keep_score"] == 99
    assert out[1]["n_members"] == 3 and out[1]["dropped"] == 2
    # tie on score -> smaller id wins
    assert out[8]["keep"] == 8 and out[8]["dropped"] == 1


def test_collapsed_representatives_match_full_graph(spark):
    """collapsed_cluster_representatives must be row-identical to the
    full-graph form on a replica-dense corpus — including a solo
    exact-copy group (no canonical pair), a copy whose score beats its
    canonical's, and empty-text copies (never clustered, matching the
    MinHash kernel's shingle filter)."""
    base_a = "the quick brown fox jumps over the lazy dog again and again"
    base_b = "the quick brown fox jumps over the lazy dog again and again today"
    solo = "completely different content about medical trial enrollment records"
    rows = [
        (1, base_a, 10),
        (2, base_a, 99),   # exact copy of 1 with HIGHER score -> must win keep
        (3, base_b, 50),   # near-dup of the {1,2} text
        (4, base_b, 50),
        (10, solo, 5),     # exact-copy group with no near-dup neighbor
        (11, solo, 7),
        (20, "", 1),       # empty-text copies: no shingles -> no cluster
        (21, "", 1),
        (30, "unique standalone text never repeated anywhere", 3),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, score long")

    full_pairs = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.3)
    want = sorted(
        tuple(r) for r in C.cluster_representatives(full_pairs, docs, "score").collect()
    )
    got = sorted(
        tuple(r)
        for r in C.collapsed_cluster_representatives(
            docs, "score", jaccard_threshold=0.3
        ).collect()
    )
    assert got == want
    comps = {r[0]: r for r in got}
    assert comps[1][1] == 2 and comps[1][2] == 99  # copy outscores canonical
    assert 10 in comps and comps[10][3] == 2       # solo exact group emitted
    assert 20 not in comps and 30 not in comps     # empty/singleton excluded


def _py_pagerank(edges, d=0.85, iters=8, iter_dp=10):
    """Reference implementation mirroring operators/graph.py exactly."""
    nodes = sorted({s for s, _, _ in edges} | {t for _, t, _ in edges})
    n = len(nodes)
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0.0) + float(w)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dm = sum(r[v] for v in nodes if v not in outw)
        c = {v: 0.0 for v in nodes}
        for s, t, w in edges:
            c[t] += r[s] * float(w) / outw[s]
        r = {
            v: round((1.0 - d) / n + d * (c[v] + dm / n), iter_dp)
            for v in nodes
        }
    return {v: round(r[v], 6) for v in nodes}


def test_pagerank_matches_reference_and_conserves_mass(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators import graph as G

    edges = [
        ("a", "b", 2), ("b", "a", 1), ("b", "c", 1),
        ("c", "a", 3), ("a", "c", 1), ("d", "a", 1),  # d has no inlinks
        ("c", "e", 1),  # e is dangling (no outlinks)
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    got = {r["node"]: r["rank"] for r in G.pagerank(df).collect()}
    assert got == _py_pagerank(edges)
    # dangling-mass redistribution conserves total mass
    assert abs(sum(got.values()) - 1.0) < 1e-4
    # hub 'a' outranks the no-inlink node 'd'
    assert got["a"] > got["d"]


def test_pagerank_two_node_cycle_is_uniform(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators import graph as G

    df = spark.createDataFrame(
        [("x", "y", 1), ("y", "x", 1)], "src string, dst string, w long"
    )
    got = {r["node"]: r["rank"] for r in G.pagerank(df).collect()}
    assert got == {"x": 0.5, "y": 0.5}


def test_adjacency_edges_counts_ordered_bigrams(spark):
    from cloud_native_medical_data_etl_pipeline_spark.operators import graph as G

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "B c"), (3, None), (4, "  ")],
        "doc_id long, text string",
    )
    got = {
        (r["src"], r["dst"]): r["w"] for r in G.adjacency_edges(df).collect()
    }
    assert got == {("a", "b"): 2, ("b", "a"): 1, ("b", "c"): 1}


def test_pagerank_zero_outweight_node_is_dangling(spark):
    """A node whose edges carry zero/NULL total weight has no defined
    w/outw split: its mass must redistribute as dangling mass, not
    evaporate through a NULL division (ranks always sum to 1)."""
    from cloud_native_medical_data_etl_pipeline_spark.operators import graph as G

    df = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 1.0), ("c", "a", 0.0)],
        "src string, dst string, w double",
    )
    got = {r["node"]: r["rank"] for r in G.pagerank(df).collect()}
    assert set(got) == {"a", "b", "c"}
    assert abs(sum(got.values()) - 1.0) < 1e-4
    # the a<->b cycle is symmetric (dangling mass spreads uniformly),
    # so a == b; c gets only teleport + its own dangling share
    assert got["a"] == got["b"] > got["c"] > 0
