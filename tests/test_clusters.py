"""Connected-components cluster assignment: transitivity, determinism,
chain/star/singleton shapes."""

from __future__ import annotations

from bigdata_rags_spark.dedup.clusters import connected_components


def _clusters(spark, pairs):
    df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    return {r["doc_id"]: r["cluster_id"] for r in connected_components(df).collect()}


def test_chain_is_transitively_merged(spark):
    # a-b, b-c, c-d: one component even though a-d never paired
    got = _clusters(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    assert got[1] == got[2] == got[3] == got[4] == 1
    assert got[10] == got[11] == 10
    assert len(set(got.values())) == 2


def test_star_and_cycle(spark):
    got = _clusters(spark, [(5, 1), (5, 2), (5, 3), (1, 3), (3, 5)])
    assert set(got.values()) == {1}


def test_long_path_converges(spark):
    # path of length 12 needs several propagation rounds
    pairs = [(i, i + 1) for i in range(20, 32)]
    got = _clusters(spark, pairs)
    assert set(got.values()) == {20}
    assert len(got) == 13


def test_nonconvergence_raises_instead_of_returning_wrong_labels(spark):
    # ADVICE r1: a component whose diameter exceeds max_iter must fail loudly,
    # not silently return partial (wrong) cluster labels
    import pytest

    df = spark.createDataFrame([(i, i + 1) for i in range(8)], ["doc_a", "doc_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2, local_contract=False)

def test_zero_max_iter_raises_convergence_error_not_nameerror(spark):
    """ADVICE r3 (pinned per VERDICT r4 #4): max_iter=0 on a non-empty edge
    set must raise the intended non-convergence RuntimeError — the
    ``changed`` sentinel guards against an unbound-variable crash."""
    import pytest

    from bigdata_rags_spark.dedup.clusters import connected_components

    pairs = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
    with pytest.raises(RuntimeError, match="did not converge in 0 rounds"):
        connected_components(pairs, max_iter=0, local_contract=False)


def test_local_solve_matches_distributed_loop(spark):
    """The contracted-graph driver solve (round 11) and the doubled
    min-label loop must label identically on every topology."""
    import bigdata_rags_spark.dedup.clusters as cl

    pairs = [(i, i + 1) for i in range(20, 32)] + [(5, 1), (5, 2), (100, 101)]
    df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    fast = sorted(map(tuple, cl.connected_components(df).collect()))
    assert cl.LAST_ROUNDS == 0  # took the driver base case
    slow = sorted(map(tuple, cl.connected_components(df, local_contract=False).collect()))
    assert cl.LAST_ROUNDS > 0  # took the loop
    assert fast == slow


def test_graph_within_bound_is_solved_without_contraction(spark, monkeypatch):
    """A raw graph within ``local_solve_max_edges`` goes straight to the
    driver solve: no mapInPandas contraction (no Python workers), and the
    loop's labels."""
    import bigdata_rags_spark.dedup.clusters as cl

    pairs = [(i, i + 1) for i in range(20, 32)] + [(5, 1), (5, 2), (100, 101), (2, 1)]
    df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    slow = sorted(map(tuple, cl.connected_components(df, local_contract=False).collect()))

    def refuse(fwd):
        raise AssertionError("contraction ran on a graph within the bound")

    monkeypatch.setattr(cl, "_contract_local_stars", refuse)
    fast = cl.connected_components(df, local_solve_max_edges=len(pairs)).collect()
    assert cl.LAST_ROUNDS == 0
    assert sorted(map(tuple, fast)) == slow


def test_local_solve_fallback_threshold(spark):
    """An over-threshold contracted graph must fall through to the
    distributed loop (the 100-TB path), with identical labels."""
    import bigdata_rags_spark.dedup.clusters as cl

    df = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["doc_a", "doc_b"])
    out = sorted(
        map(tuple, cl.connected_components(df, local_solve_max_edges=0).collect())
    )
    assert cl.LAST_ROUNDS > 0
    assert out == [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)]


def test_empty_pairs_empty_result(spark):
    from bigdata_rags_spark.dedup.clusters import connected_components

    df = spark.createDataFrame([], "doc_a long, doc_b long")
    assert connected_components(df).count() == 0
