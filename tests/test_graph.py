"""Graph expansion: k-hop BFS vs hand-computed hops, PPR vs a numpy
power-iteration oracle, count-bounded DFS vs an independent Python
walk, DOT rendering vs exact expected text (SURVEY.md §2.8
G1/G2/G3/G5)."""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from chameleon_entity_linking_spark.operators.graph import (
    dfs_expand,
    expansion_dot,
    k_hop_ball,
    k_hop_expand,
    personalized_pagerank,
)

#  graph: a-b-c-d chain, e-f edge, g isolated-ish via c
EDGES = [("a", "b"), ("b", "c"), ("c", "d"), ("e", "f"), ("c", "g")]


def _edges(spark, edges=EDGES):
    return spark.createDataFrame(edges, "src string, dst string")


def _seeds(spark, nodes):
    return spark.createDataFrame([(n,) for n in nodes], "node string")


class TestKHop:
    def test_hops_from_single_seed(self, spark):
        got = {
            r.node: r.hop
            for r in k_hop_expand(_edges(spark), _seeds(spark, ["a"]), 2).collect()
        }
        assert got == {"a": 0, "b": 1, "c": 2}

    def test_full_reach_and_disconnected(self, spark):
        got = {
            r.node: r.hop
            for r in k_hop_expand(_edges(spark), _seeds(spark, ["a"]), 10).collect()
        }
        assert got == {"a": 0, "b": 1, "c": 2, "d": 3, "g": 3}
        assert "e" not in got and "f" not in got

    def test_multi_seed_min_hop(self, spark):
        got = {
            r.node: r.hop
            for r in k_hop_expand(
                _edges(spark), _seeds(spark, ["a", "d"]), 1
            ).collect()
        }
        assert got == {"a": 0, "d": 0, "b": 1, "c": 1}


def _ppr_oracle(edges, seeds, alpha, iters):
    nodes = sorted({x for e in edges for x in e} | set(seeds))
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    A = np.zeros((n, n))
    sym = set()
    for s, d in edges:
        if s != d:
            sym.add((s, d))
            sym.add((d, s))
    for s, d in sym:
        A[idx[d], idx[s]] = 1.0
    deg = A.sum(axis=0)
    P = np.divide(A, deg, out=np.zeros_like(A), where=deg > 0)
    r0 = np.zeros(n)
    for s in seeds:
        r0[idx[s]] = 1.0 / len(seeds)
    r = r0.copy()
    for _ in range(iters):
        dangling = r[deg == 0].sum()
        r = (1 - alpha) * r0 + alpha * (P @ r + dangling * r0)
    return {nodes[i]: r[i] for i in range(n) if r[i] > 0}


class TestPPR:
    @pytest.mark.parametrize("seeds", [["a"], ["a", "e"]])
    def test_matches_numpy_power_iteration(self, spark, seeds):
        got = {
            r.node: r.rank
            for r in personalized_pagerank(
                _edges(spark), _seeds(spark, seeds), alpha=0.85, iterations=8
            ).collect()
        }
        want = _ppr_oracle(EDGES, seeds, 0.85, 8)
        assert set(got) == {k for k, v in want.items() if v > 0}
        for node, rank in got.items():
            assert rank == pytest.approx(want[node], rel=1e-9), node


class TestKHopBall:
    def test_per_seed_balls_stay_separate(self, spark):
        got = {
            (r.seed, r.node): r.hop
            for r in k_hop_ball(
                _edges(spark), _seeds(spark, ["a", "e"]), 2
            ).collect()
        }
        assert got == {
            ("a", "a"): 0, ("a", "b"): 1, ("a", "c"): 2,
            ("e", "e"): 0, ("e", "f"): 1,
        }


class TestDuplicateSeeds:
    @pytest.mark.parametrize(
        "op",
        [
            lambda e, s: k_hop_expand(e, s, 2),
            lambda e, s: k_hop_ball(e, s, 2),
            lambda e, s: personalized_pagerank(e, s, iterations=5),
        ],
        ids=["k_hop_expand", "k_hop_ball", "personalized_pagerank"],
    )
    def test_repeated_seed_row_is_one_seed(self, spark, op):
        # seeds are a set: a duplicated row neither emits a second
        # hop-0 row nor doubles the seed's restart mass
        def rows(seeds):
            # ranks are float sums: compare to 1e-12, not bit-exact
            return sorted(
                tuple(round(v, 12) if isinstance(v, float) else v for v in r)
                for r in op(_edges(spark), _seeds(spark, seeds)).collect()
            )

        assert rows(["a", "a", "c"]) == rows(["a", "c"])


class TestDfsExpand:
    def test_chain_graph_order(self, spark):
        # from a: visit b (smallest nbr), then c, then d vs g — g > d
        # lexicographically so d first
        rows = dfs_expand(
            _edges(spark), _seeds(spark, ["a"]), k=10
        ).collect()
        got = [r.node for r in sorted(rows, key=lambda r: r.visit_order)]
        assert got == ["b", "c", "d", "g"]
        assert [r.visit_order for r in sorted(rows, key=lambda r: r.visit_order)] == [1, 2, 3, 4]

    def test_count_bound_and_seed_excluded(self, spark):
        rows = dfs_expand(_edges(spark), _seeds(spark, ["a"]), k=2).collect()
        got = [r.node for r in sorted(rows, key=lambda r: r.visit_order)]
        assert got == ["b", "c"]
        assert "a" not in got

    def test_isolated_seed_emits_nothing(self, spark):
        rows = dfs_expand(_edges(spark), _seeds(spark, ["zz"]), k=5).collect()
        assert rows == []

    def test_matches_python_walk_on_random_graph(self, spark):
        rng = random.Random(7)
        nodes = [str(i) for i in range(30)]
        edges = sorted(
            {
                tuple(sorted(rng.sample(nodes, 2)))
                for _ in range(60)
            }
        )
        seeds = ["0", "1", "2"]
        got = {}
        for r in dfs_expand(
            _edges(spark, edges), _seeds(spark, seeds), k=8
        ).collect():
            got.setdefault(r.seed, {})[r.visit_order] = r.node
        for s in seeds:
            order = [got.get(s, {})[i] for i in range(1, len(got.get(s, {})) + 1)]
            assert order == _simple_dfs(edges, s, 8), s


def _simple_dfs(edges, seed, k):
    """Plain mirror of the pinned semantics for the random-graph test."""
    adj: dict = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
        adj.setdefault(d, []).append(s)
    vset, visited, stack = set(), [], [seed]
    while stack and len(visited) < k:
        v = stack.pop()
        if v in vset:
            continue
        vset.add(v)
        if v != seed:
            visited.append(v)
        stack.extend(
            n for n in sorted(adj.get(v, ()), reverse=True) if n not in vset
        )
    return visited


class TestExpansionDot:
    def test_exact_dot_text(self, spark):
        ball = k_hop_ball(_edges(spark), _seeds(spark, ["a"]), 2)
        rows = expansion_dot(ball, top_n=5).collect()
        assert len(rows) == 1
        assert rows[0].dot == (
            'graph "a" {\n'
            '  "a" -- "b";\n'
            '  "a" -- "c";\n'
            "}"
        )

    def test_top_n_truncates_by_hop_then_node(self, spark):
        ball = k_hop_ball(_edges(spark), _seeds(spark, ["c"]), 1)
        # c's 1-hop neighbors: b, d, g -> top 2 = b, d
        rows = expansion_dot(ball, top_n=2).collect()
        assert rows[0].dot == (
            'graph "c" {\n'
            '  "c" -- "b";\n'
            '  "c" -- "d";\n'
            "}"
        )

    def test_plan_is_pure_jvm(self, spark):
        ball = k_hop_ball(_edges(spark), _seeds(spark, ["a"]), 2)
        plan = (
            expansion_dot(ball)._jdf.queryExecution().executedPlan().toString()
        )
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


class TestDfsExpandIntIds:
    def test_bigint_node_ids(self, spark):
        """dfs_expand must follow the input id type like every other
        graph operator (the output schema is derived, not hardcoded
        to string)."""
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 5)], "src long, dst long"
        )
        seeds = spark.createDataFrame([(1,)], "node long")
        rows = dfs_expand(edges, seeds, k=10).collect()
        got = [r.node for r in sorted(rows, key=lambda r: r.visit_order)]
        assert got == [2, 3, 5]
        assert all(isinstance(r.node, int) for r in rows)


class TestDfsBoundedGather:
    """r6 optimization guard: dfs_expand's default gather grows its
    radius geometrically instead of gathering the full k-hop ball —
    on a hub-connected graph the k-ball is the whole component, an
    exponential over-gather for a k-node walk."""

    def _spied(self, monkeypatch):
        import chameleon_entity_linking_spark.operators.graph as G

        calls = []
        orig = G.k_hop_ball

        def spy(edges, seeds, k, **kw):
            calls.append(k)
            return orig(edges, seeds, k, **kw)

        monkeypatch.setattr(G, "k_hop_ball", spy)
        return calls

    def test_hub_graph_gathers_small_radius_only(self, spark, monkeypatch):
        calls = self._spied(monkeypatch)
        # hub graph: seed -- hub, hub -- 50 leaves; a k=10 walk stays
        # within 2 hops, so one radius-4 gather must settle it
        edges = spark.createDataFrame(
            [("s", "h")] + [("h", f"n{i:02d}") for i in range(50)],
            "src string, dst string",
        )
        seeds = spark.createDataFrame([("s",)], "node string")
        rows = dfs_expand(edges, seeds, k=10).collect()
        assert calls == [4], calls  # never gathered the 10-ball
        got = [r.node for r in sorted(rows, key=lambda r: r.visit_order)]
        edge_list = [("s", "h")] + [("h", f"n{i:02d}") for i in range(50)]
        assert got == _simple_dfs(edge_list, "s", 10)

    def test_deep_path_iterates_to_exact_result(self, spark, monkeypatch):
        calls = self._spied(monkeypatch)
        # 15-node path: the k=12 walk runs 12 hops deep, so the
        # schedule must escalate 4 -> 8 -> 12 and still match the
        # reference walk exactly
        edge_list = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(15)]
        edges = spark.createDataFrame(edge_list, "src string, dst string")
        seeds = spark.createDataFrame([("n00",)], "node string")
        rows = dfs_expand(edges, seeds, k=12).collect()
        assert calls == [4, 8, 12], calls
        got = [r.node for r in sorted(rows, key=lambda r: r.visit_order)]
        assert got == _simple_dfs(edge_list, "n00", 12)

    def test_mixed_depths_split_across_rounds(self, spark, monkeypatch):
        calls = self._spied(monkeypatch)
        # one shallow seed (hub) + one deep seed (path): the shallow
        # seed finalizes in round 1, only the deep seed re-gathers
        edge_list = (
            [("s", "h")]
            + [("h", f"m{i:02d}") for i in range(20)]
            + [(f"p{i:02d}", f"p{i + 1:02d}") for i in range(9)]
        )
        edges = spark.createDataFrame(edge_list, "src string, dst string")
        seeds = spark.createDataFrame(
            [("s",), ("p00",)], "node string"
        )
        rows = dfs_expand(edges, seeds, k=8).collect()
        assert calls == [4, 8], calls
        by_seed = {}
        for r in rows:
            by_seed.setdefault(r.seed, {})[r.visit_order] = r.node
        for s in ("s", "p00"):
            order = [
                by_seed[s][i] for i in range(1, len(by_seed[s]) + 1)
            ]
            assert order == _simple_dfs(edge_list, s, 8), s
