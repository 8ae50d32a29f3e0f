"""Connected-components correctness vs a union-find oracle
(SURVEY.md §5.1-5.2: hand-built graphs + randomized oracle)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from chameleon_entity_linking_spark.operators.cluster import (
    assign_clusters,
    connected_components,
)


def _uf_oracle(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


def _run_cc(spark, nodes, edges, driver_finish_max_edges=0):
    # default 0 = force the fully distributed star rounds; tests that
    # cover the driver-contraction epilogue pass a large bound
    edges_df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in edges] or [("x", "x", 0.0)],
        "doc_a string, doc_b string, score double",
    )
    if not edges:
        edges_df = edges_df.where("doc_a <> doc_a")
    docs_df = spark.createDataFrame([(n,) for n in nodes], "doc_id string")
    got = assign_clusters(
        docs_df,
        connected_components(
            edges_df, driver_finish_max_edges=driver_finish_max_edges
        ),
    )
    return {r.doc_id: r.cluster_id for r in got.collect()}


class TestConnectedComponents:
    def test_chain(self, spark):
        nodes = ["a", "b", "c", "d"]
        assert _run_cc(spark, nodes, [("a", "b"), ("b", "c"), ("c", "d")]) == {
            n: "a" for n in nodes
        }

    def test_star(self, spark):
        nodes = ["m", "x", "y", "z"]
        got = _run_cc(spark, nodes, [("m", "x"), ("m", "y"), ("m", "z")])
        assert got == {n: "m" for n in nodes}

    def test_two_components_plus_singleton(self, spark):
        nodes = ["a", "b", "c", "p", "q", "solo"]
        got = _run_cc(spark, nodes, [("a", "b"), ("b", "c"), ("p", "q")])
        assert got == {
            "a": "a",
            "b": "a",
            "c": "a",
            "p": "p",
            "q": "p",
            "solo": "solo",
        }

    def test_self_loop_and_duplicates(self, spark):
        nodes = ["a", "b"]
        got = _run_cc(
            spark, nodes, [("a", "a"), ("a", "b"), ("a", "b"), ("b", "a")]
        )
        assert got == {"a": "a", "b": "a"}

    def test_empty_edges(self, spark):
        got = _run_cc(spark, ["a", "b"], [])
        assert got == {"a": "a", "b": "b"}

    def test_long_chain_logarithmic_rounds(self, spark):
        # chain of 40: naive propagation needs ~40 rounds; star
        # contraction must finish well under _MAX_STAR_ROUNDS (25)
        nodes = [f"n{i:03d}" for i in range(40)]
        edges = list(zip(nodes, nodes[1:]))
        got = _run_cc(spark, nodes, edges)
        assert set(got.values()) == {"n000"}

    def test_large_component_row_stream(self, spark):
        # ~50k-member single component: both stars must stay pure row
        # streams — a collect_set formulation would put the whole
        # component in one aggregation buffer at the star root.
        # Binary-tree shape (i -- i//2): diameter ~2*log2(n).
        n = 50_000
        edges = (
            spark.range(1, n + 1)
            .select(
                F.format_string("n%06d", F.col("id")).alias("doc_a"),
                F.format_string("n%06d", F.floor(F.col("id") / 2)).alias("doc_b"),
            )
        )
        comp = connected_components(edges, driver_finish_max_edges=0)
        rows = comp.agg(
            F.count("*").alias("n"),
            F.countDistinct("cluster_id").alias("k"),
            F.min("cluster_id").alias("root"),
        ).collect()[0]
        assert rows["n"] == n + 1  # nodes 0..n
        assert rows["k"] == 1 and rows["root"] == "n000000"

    @pytest.mark.parametrize("seed", [0, 1])
    @pytest.mark.parametrize("dfme", [0, 3_000_000])
    def test_random_graph_vs_union_find(self, spark, seed, dfme):
        # dfme=0: fully distributed star rounds; dfme=3M: the driver
        # contraction epilogue. Both must match the union-find oracle.
        rng = np.random.RandomState(seed)
        nodes = [f"v{i:02d}" for i in range(30)]
        edges = [
            tuple(sorted(rng.choice(nodes, 2, replace=False)))
            for _ in range(25)
        ]
        assert _run_cc(
            spark, nodes, edges, driver_finish_max_edges=dfme
        ) == _uf_oracle(nodes, edges)

    def test_driver_contract_mid_algorithm_handoff(self, spark):
        # a 600-edge chain with a 500-edge bound: the first star round
        # shrinks the edge set below the bound, so the run starts
        # distributed and finishes with the driver contraction —
        # the handoff must preserve exact min-id components
        nodes = [f"c{i:04d}" for i in range(601)]
        edges = list(zip(nodes, nodes[1:]))
        got = _run_cc(spark, nodes, edges, driver_finish_max_edges=500)
        assert set(got.values()) == {"c0000"}

    @pytest.mark.parametrize("via_canonical_count", [False, True])
    def test_contract_prepass_identical(
        self, spark, monkeypatch, via_canonical_count
    ):
        # above _CONTRACT_PREPASS_MIN_EDGES one distributed small-star
        # round runs before the driver collect; the components must be
        # identical to the plain contraction. Clique-heavy input (the
        # ER shape the pre-pass exists for) + a chain + a singleton
        # pair, via both entry paths (observed count and the
        # canonical_count fast path).
        from chameleon_entity_linking_spark.operators import cluster as cl

        monkeypatch.setattr(cl, "_CONTRACT_PREPASS_MIN_EDGES", 5)
        rng = np.random.RandomState(3)
        nodes = [f"p{i:02d}" for i in range(24)]
        edges = sorted(
            {
                tuple(sorted(rng.choice(nodes, 2, replace=False)))
                for _ in range(40)
            }
        )
        if via_canonical_count:
            edges_df = spark.createDataFrame(
                edges, "doc_a string, doc_b string"
            )
            got = dict(
                connected_components(
                    edges_df,
                    driver_finish_max_edges=1_000_000,
                    canonical_count=len(edges),
                ).collect()
            )
            want = _uf_oracle(nodes, edges)
            want = {k: v for k, v in want.items() if k != v or any(
                k in e for e in edges
            )}
            assert all(got[k] == want[k] for k in got)
        else:
            assert _run_cc(
                spark, nodes, edges, driver_finish_max_edges=1_000_000
            ) == _uf_oracle(nodes, edges)

    def test_driver_contract_int_ids(self, spark):
        # the epilogue must preserve non-string id types end-to-end
        edges_df = spark.createDataFrame(
            [(2, 7), (7, 5), (10, 11)], "doc_a long, doc_b long"
        )
        comp = connected_components(edges_df, driver_finish_max_edges=100)
        assert dict(comp.collect()) == {2: 2, 7: 2, 5: 2, 10: 10, 11: 10}
        assert comp.schema["cluster_id"].dataType.typeName() == "long"
