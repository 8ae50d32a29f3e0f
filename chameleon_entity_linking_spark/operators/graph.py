"""Graph expansion operators: k-hop frontier BFS, count-bounded DFS
expansion, personalized PageRank, and DOT-text neighborhood rendering
as DataFrame programs.

The reference expands entity neighborhoods with in-memory BFS/DFS and
personalized PageRank over a scipy CSR matrix
(`utils/entity_expander.py:80-129`). Here BFS and PPR are
driver-controlled iterative joins over an ``edges(src, dst)``
DataFrame — the classic distributed formulation (frontier joins for
BFS, rank-mass joins for PPR), each round ``localCheckpoint``-ed to
truncate lineage.

DFS (G2, `utils/entity_expander.py:80-90`) is a count-bounded LIFO
walk whose reference realization is order-dependent (it pushes
``set()``-ordered neighbors, so its output order is a Python hashing
artifact). ``dfs_expand`` pins a canonical deterministic order
(smallest-id neighbor first) and distributes the work across seeds:
the k-hop ball of each seed is gathered with frontier joins (work
proportional to the expansion, never the graph), then the inherently
sequential per-seed stack walk runs inside ``applyInPandas`` — one
small local walk per seed, millions of seeds in parallel.

The visualization surface (G5,
`utils/visualize_expanded_entities.py:16-41` — a networkx/matplotlib
debug notebook) is re-expressed as ``expansion_dot``: a deterministic
Graphviz DOT document per seed, pure string aggregation, renderable
by any dot(1) toolchain.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def _symmetrize(edges: DataFrame) -> DataFrame:
    return (
        edges.select("src", "dst")
        .unionByName(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _frontier_bfs(
    e: DataFrame, seeds: DataFrame, k: int, key: list[str]
) -> DataFrame:
    """The frontier-join BFS shared by :func:`k_hop_expand` and
    :func:`k_hop_ball`: ``key`` is ``["node"]`` (one visited set for
    all seeds) or ``["seed", "node"]`` (one per seed). Each round joins
    the frontier to the edge list and anti-joins already-visited rows,
    so work is proportional to the expansion, not the graph. Seeds are
    a set: a repeated seed row starts one walk."""
    nodes = seeds.select("node").distinct()
    if "seed" in key:
        nodes = nodes.select(F.col("node").alias("seed"), "node")
    visited = nodes.withColumn("hop", F.lit(0)).localCheckpoint()
    frontier = visited.select(*key)
    for hop in range(1, k + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["src"])
            .select(*key[:-1], F.col("dst").alias("node"))
            .distinct()
            .join(visited.select(*key), key, "left_anti")
            .withColumn("hop", F.lit(hop))
        )
        nxt = nxt.localCheckpoint()
        if not nxt.take(1):
            break
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt.select(*key)
    return visited


def k_hop_expand(
    edges: DataFrame, seeds: DataFrame, k: int, directed: bool = False
) -> DataFrame:
    """All nodes within k hops of any seed (G1 analogue).

    seeds(node) -> (node, hop) with the minimal hop distance (seeds
    at hop 0), by frontier-join BFS (:func:`_frontier_bfs`).
    """
    e = edges if directed else _symmetrize(edges)
    return _frontier_bfs(e.localCheckpoint(), seeds, k, ["node"])


def k_hop_ball(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    directed: bool = False,
    checkpoint_input: bool = True,
) -> DataFrame:
    """Per-seed k-hop neighborhoods: (seed, node, hop) with minimal
    hop distance, one row per (seed, reachable node).

    Unlike :func:`k_hop_expand` (which merges all seeds into one
    visited set), every seed keeps its own ball — the shape the
    reference's per-query expansion loop needs
    (`utils/entity_expander.py:106-121` runs one walk per entity).
    Frontier joins keyed on (seed, node): work is proportional to the
    sum of ball sizes and partitions by hash of both columns, so a
    popular hub node appearing in many balls spreads across tasks.

    ``checkpoint_input=False``: the caller already materialized the
    (directed) edge table — skip the second copy.
    """
    e = edges if directed else _symmetrize(edges)
    if checkpoint_input:
        e = e.localCheckpoint()
    return _frontier_bfs(e, seeds, k, ["seed", "node"])


def dfs_expand(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    ball_hops: int | None = None,
) -> DataFrame:
    """Count-bounded DFS expansion per seed (G2 analogue of
    `utils/entity_expander.py:80-90`): LIFO walk from each seed that
    stops after visiting ``k`` nodes (the seed itself is expanded but
    excluded from the output, like the reference's ``dfs``).

    Returns (seed, node, visit_order) with visit_order 1-based in
    discovery order. Semantics pinned deterministic where the
    reference is not: neighbors are pushed largest-id-last, so the
    lexicographically smallest unvisited neighbor is visited first
    (the reference pushes ``set()``-ordered neighbors — a hashing
    artifact with no canonical order to reproduce — and can re-expand
    its start node; here the start is marked visited immediately).

    Distribution: a DFS that visits at most ``k`` nodes can reach at
    most ``k`` hops, so the k-hop ball (``k_hop_ball``, frontier
    joins) bounds the walk exactly; each seed's ball edges are then
    grouped to one ``applyInPandas`` call running the sequential
    stack walk locally. Millions of seeds parallelize across the
    cluster; ``ball_hops`` can cap the gather radius below ``k`` when
    the application knows its expansions are shallow.

    Seeds with no incident edges produce no rows (the reference
    returns ``[]`` for them).

    Gather bound (r6): with ``ball_hops=None`` the gather radius no
    longer jumps straight to ``k`` — on a hub-connected graph the
    k-hop ball of a k=10 walk is the whole component per seed, an
    exponential over-gather for a walk that visits 10 nodes. Instead
    the radius grows geometrically (min(4, k), doubling, capped at
    ``k``) and each round's walk carries an exactness certificate: a
    seed's walk is FINAL iff it exhausted its k-visit budget, or
    every node it visited had its full adjacency in the gathered
    ball (i.e. no visited node was a fringe node seen only as a
    ``dst``). Only seeds whose walk touched the fringe re-gather at
    the doubled radius, and radius ``k`` is unconditionally final
    (visiting a hop-k node requires k visits, which exhausts the
    budget). Shallow expansions — the common case — finish at radius
    4 with a fraction of the frontier joins; the result is identical
    at every radius where the certificate passes (superset balls
    cannot change a walk that never left the smaller ball).
    """
    # one materialization, shared by the ball AND the ball-edges join
    # (checkpoint_input=False stops k_hop_ball re-materializing it)
    e = _symmetrize(edges).localCheckpoint()
    if ball_hops is not None:
        schedule = [ball_hops]  # caller-pinned radius: one pass, as before
    else:
        schedule = [min(4, k)]
        while schedule[-1] < k:
            schedule.append(min(k, schedule[-1] * 2))

    def _walk(pdf: pd.DataFrame) -> pd.DataFrame:
        seed = pdf["seed"].iloc[0]
        adj: dict = {}
        for s, d in zip(pdf["src"], pdf["dst"]):
            adj.setdefault(s, []).append(d)
        vset = set()
        visited: list = []
        stack = [seed]
        while stack and len(visited) < k:
            v = stack.pop()
            if v in vset:
                continue
            vset.add(v)
            if v != seed:
                visited.append(v)
            stack.extend(
                n
                for n in sorted(adj.get(v, ()), reverse=True)
                if n not in vset
            )
        # exactness certificate. A "fringe" node (hop radius+1) is one
        # gathered only as a dst — it has no entry in adj, so the walk
        # cannot push its true neighbors. The walk is exact iff no
        # fringe node was visited BEFORE the last visit (its missing
        # pushes would corrupt every later visit), and a fringe node
        # in last position is fine only when the k-visit budget ended
        # the walk right there anyway.
        fringe_before_last = any(v not in adj for v in visited[:-1])
        last_fringe = bool(visited) and visited[-1] not in adj
        complete = (not fringe_before_last) and (
            not last_fringe or len(visited) == k
        )
        return pd.DataFrame(
            {
                "seed": [seed] * len(visited),
                "node": visited,
                "visit_order": pd.Series(
                    range(1, len(visited) + 1), dtype="int32"
                ),
                "complete": [complete] * len(visited),
            }
        )

    # id type follows the input (every other graph operator is
    # id-type generic — bigint edge tables must work here too)
    id_t = edges.schema["src"].dataType.simpleString()
    walk_schema = f"seed {id_t}, node {id_t}, visit_order int, complete boolean"
    pending = seeds
    done_parts: list[DataFrame] = []
    for i, radius in enumerate(schedule):
        members = k_hop_ball(
            e, pending, radius, directed=True, checkpoint_input=False
        ).select("seed", "node")
        ball_edges = members.join(e, members["node"] == e["src"]).select(
            "seed", "src", "dst"
        )
        out = ball_edges.groupBy("seed").applyInPandas(_walk, walk_schema)
        if i == len(schedule) - 1:  # final radius: always exact
            done_parts.append(out.drop("complete"))
            break
        out = out.localCheckpoint()
        done_parts.append(out.where(F.col("complete")).drop("complete"))
        retry = (
            out.where(~F.col("complete"))
            .select(F.col("seed").alias("node"))
            .distinct()
            .localCheckpoint()
        )
        if not retry.take(1):
            break
        pending = retry
    result = done_parts[0]
    for part in done_parts[1:]:
        result = result.unionByName(part)
    return result


def expansion_dot(ball: DataFrame, top_n: int = 5) -> DataFrame:
    """Graphviz DOT rendering of expansion neighborhoods (G5 analogue
    of `utils/visualize_expanded_entities.py:16-41`, which draws a
    star graph from each query to its first expansion nodes).

    Input: (seed, node, hop) as produced by :func:`k_hop_ball`.
    Output: (seed, dot) — one deterministic DOT document per seed,
    a star of the seed's ``top_n`` nearest expansion nodes ordered by
    (hop, node), e.g.::

        graph "7" {
          "7" -- "12";
          "7" -- "31";
        }

    Pure JVM string aggregation (window top-n + sorted collect_list),
    no Python in the plan; seeds with no hop>=1 nodes emit no row
    (the reference would draw an empty star).
    """
    w = Window.partitionBy("seed").orderBy(F.asc("hop"), F.asc("node"))
    ranked = (
        ball.where(F.col("hop") >= 1)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= top_n)
    )
    return (
        ranked.select("seed", F.struct("hop", "node").alias("hn"))
        .groupBy("seed")
        .agg(F.array_sort(F.collect_list("hn")).alias("hns"))
        .select(
            "seed",
            F.concat(
                F.lit('graph "'),
                F.col("seed"),
                F.lit('" {\n'),
                F.array_join(
                    F.transform(
                        "hns",
                        lambda x: F.concat(
                            F.lit('  "'),
                            F.col("seed"),
                            F.lit('" -- "'),
                            x["node"],
                            F.lit('";'),
                        ),
                    ),
                    "\n",
                ),
                F.lit("\n}"),
            ).alias("dot"),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    alpha: float = 0.85,
    iterations: int = 15,
    directed: bool = False,
) -> DataFrame:
    """Personalized PageRank by power iteration over rank-mass joins
    (G3 analogue of ``pagerank_power(G, personalize=seed)``,
    `utils/entity_expander.py:116-126`).

    seeds(node) carry equal restart mass. Dangling mass is restarted
    to the seeds (standard PPR semantics). Returns (node, rank).

    One job per iteration: the dangling mass (sum of rank on nodes
    with no outgoing edges) is an OBSERVED metric of the iteration's
    ``localCheckpoint`` job — the same fuse-the-scalar-into-the-
    checkpoint pattern as cluster._checkpoint_with_fingerprint. (The
    previous form ran a separate driver ``collect`` per iteration:
    2x the fixed job latency over 15 iterations.)
    """
    e = edges if directed else _symmetrize(edges)
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    e = e.join(out_deg, "src").localCheckpoint()
    # nodes WITH out-edges; a rank row that fails this join is dangling
    has_out = (
        e.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.lit(True).alias("has_out"))
        .localCheckpoint()
    )
    seeds = seeds.select("node").distinct()  # a repeated seed row is one seed
    n_seeds = seeds.count()
    restart = seeds.select(
        "node", F.lit(1.0 / n_seeds).alias("restart_mass")
    ).localCheckpoint()

    def _checkpoint_with_dangling(r: DataFrame) -> tuple[DataFrame, float]:
        obs = Observation()
        r = (
            r.join(has_out, "node", "left")
            .observe(
                obs,
                F.coalesce(
                    F.sum(F.when(F.col("has_out").isNull(), F.col("rank"))),
                    F.lit(0.0),
                ).alias("dangling"),
            )
            .drop("has_out")
            .localCheckpoint()
        )
        return r, float(obs.get["dangling"])

    ranks, dangling = _checkpoint_with_dangling(
        restart.select("node", F.col("restart_mass").alias("rank"))
    )
    for _ in range(iterations):
        contribs = (
            ranks.join(e, ranks["node"] == e["src"])
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("deg")).alias("contrib"),
            )
            .groupBy("node")
            .agg(F.sum("contrib").alias("inflow"))
        )
        new_ranks = (
            restart.join(contribs, "node", "left_outer")
            .select(
                "node",
                (
                    (1 - alpha) * F.col("restart_mass")
                    + alpha
                    * (
                        F.coalesce(F.col("inflow"), F.lit(0.0))
                        + dangling * F.col("restart_mass")
                    )
                ).alias("rank"),
            )
        )
        # nodes reached beyond the restart set
        reached = contribs.join(restart.select("node"), "node", "left_anti").select(
            "node", (alpha * F.col("inflow")).alias("rank")
        )
        ranks, dangling = _checkpoint_with_dangling(
            new_ranks.unionByName(reached)
        )
    return ranks
