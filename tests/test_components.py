"""Connected components: cross-checked against a driver-side
union-find on the same edges, plus edge cases (chains force >1
star-contraction round; isolated nodes become singletons)."""

from __future__ import annotations

from aws_etl_spark.dedup import connected_components, dedup_clusters
from aws_etl_spark.dedup.jaccard import ngram_jaccard_pairs
from aws_etl_spark.queries.registry import load_table


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def test_cc_matches_union_find_on_chain(spark):
    # a 6-node path (worst diameter), a triangle, and a lone edge
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11), (11, 12), (10, 12), (20, 21)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r.node: r.comp for r in connected_components(df).collect()}
    assert got == _union_find(edges)


def test_cc_matches_union_find_on_real_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.3)
    edges = [(r.id_a, r.id_b) for r in pairs.collect()]
    got = {r.node: r.comp for r in connected_components(pairs).collect()}
    assert got == _union_find(edges)


def test_dedup_clusters_full_corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5)
    out = dedup_clusters(pairs, docs, "doc_id")
    n_docs = docs.count()
    assert out.count() == n_docs  # every doc labeled exactly once
    rows = out.collect()
    # canonical iff id == cluster, and exactly one canonical per cluster
    clusters = {}
    for r in rows:
        assert r.is_canonical == (r.doc_id == r.cluster)
        clusters.setdefault(r.cluster, []).append(r)
    for cid, members in clusters.items():
        assert sum(m.is_canonical for m in members) == 1
        assert min(m.doc_id for m in members) == cid


def test_cc_distributed_path_matches_fast_path(spark, monkeypatch):
    """Force the star-contraction path (cc_edges cap -1) and check it
    agrees with driver union-find on a multi-round chain graph."""
    from aws_etl_spark.ops import lanes

    edges = [(i, i + 1) for i in range(1, 40)] + [(100, 101), (101, 102)]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    monkeypatch.setitem(lanes.CAPS, "cc_edges", -1)
    got = {r.node: r.comp for r in connected_components(df).collect()}
    assert got == _union_find(edges)
