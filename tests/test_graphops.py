"""connected_components unit tests: chain transitivity, isolated vertices,
convergence guard.  The end-to-end dedup_clusters query is covered by
tests/test_oracle_parity.py (exact DuckDB recursive-CTE oracle)."""

import pytest

from pyspark.sql import functions as F

from clin_variant_etl_spark.queries.graphops import connected_components


def _cc(spark, edge_pairs, node_ids, **kw):
    pairs = spark.createDataFrame(edge_pairs, "src: long, dst: long")
    edges = pairs.unionAll(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    nodes = spark.createDataFrame([(n,) for n in node_ids], "doc_id: long")
    out = connected_components(edges, nodes, **kw)
    return {r["doc_id"]: r["cluster_id"] for r in out.collect()}


def test_chain_transitivity(spark):
    # 1-2, 2-3, 3-4 is one component even though 1 and 4 never pair;
    # 10-11 separate; 99 isolated
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (10, 11)], [1, 2, 3, 4, 10, 11, 99])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}


def test_min_label_not_first_seen(spark):
    # the min id enters through the far end of the chain: 5-4, 4-3, 3-0
    got = _cc(spark, [(5, 4), (4, 3), (3, 0)], [0, 3, 4, 5])
    assert set(got.values()) == {0}


def test_convergence_guard(spark):
    # diameter 3 cannot converge in 1 iteration
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc(spark, [(1, 2), (2, 3), (3, 4)], [1, 2, 3, 4], max_iters=1)


# ---- large-star/small-star (the O(log n) escalation path) ----


def _dsu_oracle(n_nodes, edge_list):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component min as the label (path-compress to roots first)
    return {v: find(v) for v in range(n_nodes)}


def _run_star(spark, n_nodes, edge_list, **kw):
    from clin_variant_etl_spark.queries.graphops import connected_components_star

    edges = spark.createDataFrame(
        [(a, b) for a, b in edge_list] or [(0, 0)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "doc_id long")
    out = connected_components_star(edges, nodes)
    return {r["doc_id"]: r["cluster_id"] for r in out.collect()}


def test_star_cc_matches_union_find_on_random_graphs(spark):
    import random

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        n = 60
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(45)]
        assert _run_star(spark, n, edges) == _dsu_oracle(n, edges)


def test_star_cc_long_chain_where_propagation_budget_fails(spark):
    """A 120-node path graph has diameter > MAX_ITERS: min-label propagation
    refuses (loud error), the star algorithm converges in O(log n) rounds."""
    from clin_variant_etl_spark.queries.graphops import connected_components

    n = 120
    chain = [(i, i + 1) for i in range(n - 1)]
    sym = chain + [(b, a) for a, b in chain]
    edges = spark.createDataFrame(sym, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, nodes, max_iters=50)
    got = _run_star(spark, n, chain)
    assert set(got.values()) == {0} and len(got) == n


def test_star_cc_isolated_nodes_and_self_loops(spark):
    got = _run_star(spark, 6, [(0, 1), (1, 0), (2, 2)])
    assert got == {0: 0, 1: 0, 2: 2, 3: 3, 4: 4, 5: 5}


def test_star_cc_folded_convergence_job_budget(spark, spark_work):
    """The fixed-point test rides the round's own distinct: per alternation
    exactly 2 jobs run (the checkpoint materialization and the scalar scan
    of its blocks) — the r4 shape paid 3 (checkpoint + two exceptAll jobs,
    each a full shuffle of both edge frames).  Labels unchanged."""
    from clin_variant_etl_spark.queries.graphops import connected_components_star

    n = 120
    chain = [(i, i + 1) for i in range(n - 1)]
    edges = spark.createDataFrame(chain, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")

    # AQE materializes each shuffle stage as its own job, so the job count
    # is a plan-shape artifact under it; pin the ACTION count with AQE off
    # (one job per action), which is what the folded test actually changes.
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        with spark_work() as counted:
            stats: dict = {}
            out = connected_components_star(edges, nodes, stats=stats)
            labels = {r["doc_id"]: r["cluster_id"] for r in out.collect()}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)

    assert set(labels.values()) == {0} and len(labels) == n
    rounds = stats["rounds"]
    assert 1 <= rounds <= 12  # O(log n) promise for a 120-chain
    # 2 jobs/round + constant overhead (initial edge checkpoint, final
    # label collect); the r4 shape would need >= 3/round
    assert counted.jobs <= 2 * rounds + 3, (counted.jobs, rounds)
