"""Star-contraction connected components over dedup's near-dup edge
list (round 12: _propagate_clusters rewrite), and the edge list's
no-state contract: every consumer builds it and nothing outlives the
query.

The registered dedup_clusters query only ever sees the fixture's
near-dup graph — almost all 2-node components. These tests drive the
contraction on ADVERSARIAL graph shapes it never meets there (long
paths past the old min-label 20-round diameter cap, bi-stars that fool
a parents∩children-only convergence test, webs, forests), with a
plain-Python union-find as the ground truth.
"""

from __future__ import annotations

import pytest

from file_scraper_spark.operators import dedup


def _uf_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Ground truth: min node id per component, union-find."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _contract(
    spark, sf_dir: str, edges: list[tuple[int, int]]
) -> dict[int, int]:
    """Run _propagate_clusters on an explicit edge list and return the
    touched-node labels (the fixture singletons are filtered back out
    so the assertion is purely about the contraction)."""
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    out = dedup._propagate_clusters(spark, sf_dir, df)
    touched = {n for e in edges for n in e}
    return {
        r.doc_id: r.cluster
        for r in out.collect()
        if r.doc_id in touched
    }


GRAPHS = {
    # diameter 39: the SUPERSEDED min-label loop's 20-round cap would
    # have returned a partially-propagated (wrong) labeling here;
    # star contraction needs O(log^2) rounds
    "long_path": [(i, i + 1) for i in range(1000, 1040)],
    # bi-star: {(3,1),(3,2)} — children∩parents is EMPTY yet it is NOT
    # a star forest; pins the multi-parent clause of the convergence
    # test (a parents-only check would exit early and mislabel 2)
    "bi_star": [(1, 3), (2, 3)],
    "two_pairs": [(1, 2), (10, 11)],
    "triangle_plus_tail": [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)],
    "star_already": [(1, 2), (1, 3), (1, 4), (1, 5)],
    "reverse_star": [(5, 9), (6, 9), (7, 9), (8, 9)],
    "web": [
        (a, b)
        for a in range(100, 110)
        for b in range(100, 110)
        if a < b and (a * 7 + b * 3) % 4 == 0
    ],
    # self-loops: jaccard never emits one, but the shared helper must
    # not hang the convergence test on own-child-own-parent rows
    "self_loop_mixed": [(7, 7), (7, 8)],
    "self_loop_only": [(9, 9)],
    "forest_mixed": (
        [(i, i + 1) for i in range(200, 216)]  # path of 17
        + [(300, 301)]
        + [(400, 402), (401, 402), (402, 403)]
    ),
}


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_star_contraction_matches_union_find(spark, smoke_dir, name):
    edges = GRAPHS[name]
    assert _contract(spark, smoke_dir, edges) == _uf_components(edges)


def test_edge_consumers_leave_nothing_on_disk(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The near-dup edge list is kept nowhere between runs: the
    jaccard and cluster queries, run cold to completion, write nothing
    under the process temp dir (where a cross-run edge cache would
    land), and a session reset afterwards still works."""
    import tempfile

    from file_scraper_spark.tables import reset_session_state

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    reset_session_state(spark)
    for fn in (dedup.dedup_ngram_jaccard, dedup.dedup_clusters):
        assert fn(spark, sf_dir).count() > 0
    assert sorted(p.name for p in tmp_path.iterdir()) == []
    reset_session_state(spark)


def test_near_dup_ids_matches_corpus_nodes(spark, sf_dir):
    """near_dup_ids is a shuffle-free id-only twin of near_dup_corpus;
    the two derivations must never drift (the clusterer's singleton
    anti-join quietly mislabels docs if they do)."""
    from file_scraper_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    ids = {r.doc_id for r in dedup.near_dup_ids(docs).collect()}
    nodes = {
        r.doc_id
        for r in dedup.near_dup_corpus(docs).select("doc_id").collect()
    }
    assert ids == nodes and len(ids) > 0
