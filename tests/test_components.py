"""Connected components against a pure-Python union-find.

Every graph runs twice: with AQE partition coalescing on (a small round
collapses into one partition, so round 1 is closed) and off (the round's
shuffle keeps spark.sql.shuffle.partitions partitions, so tasks are not
closed and the rounds stop on the unchanged test instead).
"""

import random

import pytest

from sparkdedup.config import DedupConfig
from sparkdedup.operators.components import (cc_round, connected_components,
                                              release_local_checkpoint)

COALESCE = "spark.sql.adaptive.coalescePartitions.enabled"


def _ids(rng, n):
    return rng.sample(range(1, 10**12), n)


def _chain(rng):
    ids = _ids(rng, 60)
    return ids, list(zip(ids, ids[1:]))


def _window4(rng):
    # the boilerplate shape: each member paired with its 4 successors
    ids = _ids(rng, 80)
    return ids, [(ids[i], ids[j]) for i in range(len(ids))
                 for j in range(i + 1, min(len(ids), i + 5))]


def _random_sparse(rng):
    ids = _ids(rng, 200)
    return ids, [(rng.choice(ids), rng.choice(ids)) for _ in range(150)]


def _star_dups_loops(rng):
    ids = _ids(rng, 40)
    hub = ids[len(ids) // 2]  # not the minimum: the star must re-root
    star = [(hub, x) for x in ids if x != hub]
    return ids, star + star[:10] + [(b, a) for a, b in star[:10]] + [
        (x, x) for x in ids[:5]]


def _empty(rng):
    return _ids(rng, 10), []


GRAPHS = {"chain": _chain, "window4": _window4,
          "random_sparse": _random_sparse,
          "star_dups_loops": _star_dups_loops, "empty": _empty}


def _reference(nodes, edges):
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in nodes}


@pytest.fixture(params=[True, False], ids=["coalesce", "no_coalesce"])
def coalesce(spark, request):
    before = spark.conf.get(COALESCE)
    spark.conf.set(COALESCE, str(request.param).lower())
    yield request.param
    spark.conf.set(COALESCE, before)


@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_matches_union_find(spark, coalesce, graph):
    rng = random.Random(f"components-{graph}")
    ids, edge_list = GRAPHS[graph](rng)
    nodes = ids + _ids(rng, 5)  # isolated nodes never appear in an edge
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    node_df = spark.createDataFrame([(v,) for v in nodes], "file_id long")
    clusters, iters = connected_components(edges, node_df, DedupConfig())
    got = {r.file_id: r.cluster_id for r in clusters.collect()}
    assert got == _reference(nodes, edge_list)
    if coalesce:
        assert iters == 1
    if not coalesce and graph == "chain":
        assert iters > 1  # stopped on the unchanged test, not closed


def test_round_plan_one_shuffle(spark):
    edges = spark.createDataFrame([(2, 1), (3, 2)], "c long, p long")
    plan = cc_round(edges)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("MapInArrow") == 1
    assert "SortMergeJoin" not in plan


def test_release_only_touches_checkpoints(spark):
    plain = spark.range(4).cache()
    plain.count()
    release_local_checkpoint(plain)  # no-op, does not raise
    assert plain.storageLevel.useMemory
    plain.unpersist()
    ckpt = spark.range(4).localCheckpoint()
    rdd = ckpt._jdf.queryExecution().analyzed().rdd()
    assert rdd.isLocallyCheckpointed() and rdd.getStorageLevel().useMemory()
    release_local_checkpoint(ckpt)
    assert not rdd.getStorageLevel().useMemory()
