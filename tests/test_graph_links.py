"""Degree-capped link prediction: the hot-node tier of
operators/graph.py (VERDICT r4 "Next round" #4).

Cross-engine value equality is check_oracle.py's job (both the exact and
the capped registry queries have full SQL oracles); these tests pin the
cap's SEMANTICS on planted graphs:

1. cap >= max degree  =>  bit-identical to the exact path,
2. a planted hot hub's wedge fan-out is bounded at C(cap, 2),
3. the hash-sample is deterministic (same rows on re-run, any partitioning).
"""

from __future__ import annotations

from itertools import combinations

from etl_expenses_spark.operators.graph import (
    capped_adjacency,
    jaccard_link_prediction,
)


def _edges_df(spark, pairs, num_partitions=None):
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "pa long, pb long"
    )
    return df.repartition(num_partitions) if num_partitions else df


def _rows(df):
    return sorted(
        (r.pa, r.pb, r.n_common_neighbors, round(r.jaccard, 12))
        for r in df.collect()
    )


def _planted_graph():
    """Two communities plus a bridge, with one clique edge removed so the
    pair (4,5) is a high-overlap NON-edge (common neighbors {1,2,3},
    Jaccard 3/4) that survives the 1/5 threshold. Max degree 5."""
    comm_a = [e for e in combinations([1, 2, 3, 4, 5], 2) if e != (4, 5)]
    comm_b = list(combinations([10, 11, 12, 13], 2))  # clique of 4, deg 3
    bridge = [(5, 10)]
    return comm_a + comm_b + bridge


def test_cap_vs_uncapped_equality_below_cap(spark):
    edges = _edges_df(spark, _planted_graph())
    exact = _rows(jaccard_link_prediction(edges, max_degree=None))
    capped = _rows(jaccard_link_prediction(edges, max_degree=64))
    assert exact == capped
    assert exact  # the cliques produce non-edge candidates


def test_planted_hot_hub_fanout_is_bounded(spark):
    # one hub (id 0) connected to 50 spokes: uncapped, the hub's neighbor
    # list yields C(50,2)=1225 wedges; capped at 8 it must yield C(8,2)=28.
    hub_edges = [(0, s) for s in range(1, 51)]
    edges = _edges_df(spark, hub_edges)
    adj = capped_adjacency(edges, max_degree=8)
    per_node = {
        r.node: r.cnt
        for r in adj.groupBy("node").count().withColumnRenamed("count", "cnt").collect()
    }
    assert per_node[0] == 8          # hub capped
    assert all(v == 1 for n, v in per_node.items() if n != 0)  # spokes exact
    # wedge fan-out bound: candidates are exactly the hub's sampled C(8,2)
    out = jaccard_link_prediction(edges, max_degree=8, threshold_num=0)
    rows = out.collect()
    assert len(rows) == 28
    sampled = {r.nbr for r in adj.filter("node = 0").collect()}
    assert len(sampled) == 8
    for r in rows:
        assert r.pa in sampled and r.pb in sampled
        # spokes' only (reverse-capped) neighbor is the hub: Jaccard = 1/1
        assert r.n_common_neighbors == 1 and r.jaccard == 1.0


def test_capped_sample_is_deterministic_across_partitionings(spark):
    graph = _planted_graph() + [(0, s) for s in range(20, 60)]
    a = _rows(jaccard_link_prediction(_edges_df(spark, graph, 1), max_degree=6))
    b = _rows(jaccard_link_prediction(_edges_df(spark, graph, 7), max_degree=6))
    assert a == b and a


def test_degree_join_carries_no_broadcast_hint(spark):
    # r5 ADVICE: the degree relation is O(nodes); a pinned F.broadcast on
    # it risks driver OOM at scale. The logical plan must carry NO
    # broadcast hint — AQE may still pick a broadcast join at runtime when
    # the measured size fits, which is the desired adaptive behavior.
    out = jaccard_link_prediction(_edges_df(spark, _planted_graph()))
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "broadcast" not in analyzed.lower()


def _peel_cores(edge_list):
    """Literal sequential peeling (the textbook algorithm)."""
    from collections import defaultdict

    adj = defaultdict(set)
    for a, b in edge_list:
        adj[a].add(b)
        adj[b].add(a)
    core = {}
    deg = {v: len(n) for v, n in adj.items()}
    remaining = set(adj)
    k = 0
    while remaining:
        k = max(k, min(deg[v] for v in remaining))
        peel = [v for v in remaining if deg[v] <= k]
        while peel:
            v = peel.pop()
            if v not in remaining:
                continue
            core[v] = k
            remaining.discard(v)
            for u in adj[v]:
                if u in remaining:
                    deg[u] -= 1
                    if deg[u] <= k:
                        peel.append(u)
    return core


def test_kcore_matches_sequential_peeling_known_graph(spark):
    from etl_expenses_spark.operators.graph import kcore_decomposition

    # K4 (core 3) + triangle (core 2), bridged by a path whose inner nodes
    # still have degree 2 (core 2), plus a pendant leaf (core 1)
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),   # K4
        (10, 11), (11, 12), (10, 12),                      # triangle
        (4, 20), (20, 21), (21, 10),                       # bridge
        (21, 30),                                          # pendant leaf
    ]
    df = spark.createDataFrame(edges, "pa long, pb long")
    got = {r.node: r.core for r in kcore_decomposition(df).collect()}
    assert got == _peel_cores(edges)
    assert got[1] == 3 and got[10] == 2 and got[20] == 2 and got[30] == 1


def test_kcore_matches_peeling_random_graphs(spark):
    import random

    from etl_expenses_spark.operators.graph import kcore_decomposition

    rng = random.Random(42)
    for trial in range(3):
        n = 40
        edges = sorted(
            {
                (a, b)
                for a, b in (
                    sorted(rng.sample(range(n), 2)) for _ in range(150)
                )
            }
        )
        df = spark.createDataFrame(edges, "pa long, pb long")
        got = {r.node: r.core for r in kcore_decomposition(df).collect()}
        assert got == _peel_cores(edges), f"trial {trial}"


def test_kcore_capped_equals_exact_when_cap_clears_max_degree(spark):
    """max_degree ≥ the graph's max degree ⇒ the capped lists are the full
    lists, mutual-capping keeps every edge, and core numbers are exact."""
    import random

    from etl_expenses_spark.operators.graph import kcore_decomposition

    rng = random.Random(7)
    edges = sorted(
        {
            (a, b)
            for a, b in (sorted(rng.sample(range(30), 2)) for _ in range(120))
        }
    )
    df = spark.createDataFrame(edges, "pa long, pb long")
    exact = {r.node: r.core for r in kcore_decomposition(df).collect()}
    capped = {
        r.node: r.core
        for r in kcore_decomposition(df, max_degree=64).collect()
    }
    assert capped == exact


def test_kcore_capped_lower_bounds_exact(spark):
    """A small cap removes edges (mutual-capped subgraph), so every capped
    core number is ≤ the exact one — never an over-estimate."""
    import random

    from etl_expenses_spark.operators.graph import kcore_decomposition

    rng = random.Random(13)
    edges = sorted(
        {
            (a, b)
            for a, b in (sorted(rng.sample(range(25), 2)) for _ in range(180))
        }
    )
    df = spark.createDataFrame(edges, "pa long, pb long")
    exact = {r.node: r.core for r in kcore_decomposition(df).collect()}
    capped = {
        r.node: r.core
        for r in kcore_decomposition(df, max_degree=3).collect()
    }
    assert capped  # cap=3 keeps a non-trivial graph here
    for node, c in capped.items():
        assert c <= exact[node], (node, c, exact[node])


def test_kcore_capped_degrees_bounded_on_planted_hub(spark):
    """A 200-spoke hub's adjacency must enter the loop with ≤ cap
    neighbors: the mutual-capped symmetric adjacency bounds every degree
    (the O(deg) collect_list state) at max_degree."""
    from etl_expenses_spark.operators.graph import capped_adjacency

    from pyspark.sql import functions as F

    hub = [(0, i) for i in range(1, 201)]
    df = spark.createDataFrame(hub, "pa long, pb long")
    kept = capped_adjacency(df, 8)
    rev = kept.select(F.col("nbr").alias("node"), F.col("node").alias("nbr"))
    mutual = kept.join(rev, ["node", "nbr"], "left_semi")
    degs = {
        r.node: r.d
        for r in mutual.groupBy("node").agg(F.count("*").alias("d")).collect()
    }
    assert max(degs.values()) <= 8


def test_kcore_raises_when_rounds_exhausted_while_changing(spark):
    """r6 ADVICE: exhausting max_rounds mid-descent must raise, not return
    silent over-estimates."""
    import pytest

    from etl_expenses_spark.operators.graph import kcore_decomposition

    # a long path: h-index descent needs several rounds to settle
    edges = [(i, i + 1) for i in range(12)]
    df = spark.createDataFrame(edges, "pa long, pb long")
    with pytest.raises(RuntimeError, match="max_rounds"):
        kcore_decomposition(df, max_rounds=1)
    # and with enough rounds the same graph converges exactly
    got = {r.node: r.core for r in kcore_decomposition(df).collect()}
    assert set(got.values()) == {1}


def test_lpa_two_cliques_with_bridge_stay_separate(spark):
    """Two K5 cliques joined by one bridge edge: LPA assigns each clique
    one community and the bridge does not merge them."""
    from etl_expenses_spark.operators.graph import lpa_communities

    k5a = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    k5b = [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
    edges = k5a + k5b + [(4, 10)]  # bridge
    df = spark.createDataFrame(edges, "pa long, pb long")
    got = {r.node: r.community for r in lpa_communities(df).collect()}
    a_labels = {got[n] for n in range(5)}
    b_labels = {got[n] for n in range(10, 15)}
    assert len(a_labels) == 1 and len(b_labels) == 1
    assert a_labels != b_labels


def test_lpa_deterministic_across_partitionings(spark):
    import random

    from etl_expenses_spark.operators.graph import lpa_communities

    rng = random.Random(99)
    edges = sorted(
        {
            (a, b)
            for a, b in (sorted(rng.sample(range(40), 2)) for _ in range(120))
        }
    )
    df1 = spark.createDataFrame(edges, "pa long, pb long")
    df2 = spark.createDataFrame(edges, "pa long, pb long").repartition(17)
    r1 = {(r.node, r.community) for r in lpa_communities(df1).collect()}
    r2 = {(r.node, r.community) for r in lpa_communities(df2).collect()}
    assert r1 == r2


def test_lpa_bipartite_does_not_oscillate(spark):
    """K3,3 — the synchronous-LPA worst case (labels swap sides forever).
    The parity schedule must reach a stable assignment."""
    from etl_expenses_spark.operators.graph import lpa_communities

    edges = [(a, b) for a in (0, 1, 2) for b in (10, 11, 12)]
    df = spark.createDataFrame(edges, "pa long, pb long")
    got = {r.node: r.community for r in lpa_communities(df, max_cycles=8).collect()}
    # stability check: run again with a larger budget — same fixed point
    got2 = {
        r.node: r.community
        for r in lpa_communities(df, max_cycles=16).collect()
    }
    assert got == got2 and len(got) == 6


def test_lpa_returns_when_cycle_budget_runs_out(spark):
    """LPA's budget is its contract: labels still moving when max_cycles
    runs out are returned, not raised."""
    from etl_expenses_spark import caching
    from etl_expenses_spark.operators.graph import lpa_communities

    edges = [(i, i + 1) for i in range(12)]
    df = spark.createDataFrame(edges, "pa long, pb long")
    capped = {r.node: r.community for r in lpa_communities(df, max_cycles=1).collect()}
    assert caching.BSP_RUNS[-1]["rounds"] == 2
    # the labels were still moving: a larger budget ends elsewhere
    full = {r.node: r.community for r in lpa_communities(df).collect()}
    assert set(capped) == set(full) == set(range(13))
    assert capped != full


def test_kcore_capped_dedups_both_direction_input(spark):
    """ADVICE r7: an edge list carrying BOTH (a,b) and (b,a) must produce
    the same capped core numbers as its canonical pa<pb form — duplicate
    (node,nbr) rows previously survived the mutual-cap semi join and
    double-counted neighbors in the h-index, over-estimating cores and
    breaking the documented lower-bound guarantee."""
    import random

    from etl_expenses_spark.operators.graph import kcore_decomposition

    rng = random.Random(99)
    canon = sorted(
        {
            (a, b)
            for a, b in (sorted(rng.sample(range(25), 2)) for _ in range(160))
        }
    )
    both = canon + [(b, a) for a, b in canon]
    df_canon = spark.createDataFrame(canon, "pa long, pb long")
    df_both = spark.createDataFrame(both, "pa long, pb long")
    for cap in (3, 64):
        want = {
            r.node: r.core
            for r in kcore_decomposition(df_canon, max_degree=cap).collect()
        }
        got = {
            r.node: r.core
            for r in kcore_decomposition(df_both, max_degree=cap).collect()
        }
        assert got == want, f"cap={cap}"
    # and the capped duplicates still lower-bound the exact cores
    exact = _peel_cores(canon)
    got3 = {
        r.node: r.core
        for r in kcore_decomposition(df_both, max_degree=3).collect()
    }
    assert all(got3[v] <= exact[v] for v in got3)


def test_kcore_ignores_self_loops(spark):
    from etl_expenses_spark.operators.graph import kcore_decomposition

    edges = [(1, 2), (2, 3), (1, 3), (2, 2)]  # K3 + a self-loop
    df = spark.createDataFrame(edges, "pa long, pb long")
    got = {r.node: r.core for r in kcore_decomposition(df).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    got_capped = {
        r.node: r.core
        for r in kcore_decomposition(df, max_degree=8).collect()
    }
    assert got_capped == got


def test_lpa_negative_ids_are_not_frozen(spark):
    """ADVICE r7: Spark's % keeps the dividend's sign, so negative odd ids
    evaluated to -1 under the old `node % 2 == parity` schedule and never
    matched either half-sweep — frozen at their initial label forever. With
    pmod they update, so a clique containing negative ids converges to ONE
    community like its positive-shifted twin."""
    from etl_expenses_spark.operators.graph import lpa_communities

    neg_clique = [(-5, -3), (-5, -1), (-3, -1), (-1, 2), (-5, 2), (-3, 2)]
    far_clique = [(100, 101), (100, 102), (101, 102)]
    df = spark.createDataFrame(
        neg_clique + far_clique, "pa long, pb long"
    )
    got = {r.node: r.community for r in lpa_communities(df).collect()}
    assert len({got[v] for v in (-5, -3, -1, 2)}) == 1
    assert len({got[v] for v in (100, 101, 102)}) == 1
    assert got[-5] != got[100]


def _peel_ktruss(edge_list, k):
    """Literal sequential k-truss peeling (textbook reference)."""
    edges = {tuple(sorted(e)) for e in edge_list if e[0] != e[1]}
    changed = True
    while changed:
        changed = False
        adj = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        drop = set()
        for a, b in edges:
            if len(adj[a] & adj[b]) < k - 2:
                drop.add((a, b))
        if drop:
            edges -= drop
            changed = True
    return edges


def test_ktruss_matches_sequential_peeling(spark):
    import random

    from etl_expenses_spark.operators.graph import ktruss_edges

    rng = random.Random(21)
    edges = sorted(
        {
            (a, b)
            for a, b in (sorted(rng.sample(range(24), 2)) for _ in range(140))
        }
    )
    df = spark.createDataFrame(edges, "pa long, pb long")
    for k in (3, 4, 5):
        got = {
            (r.pa, r.pb) for r in ktruss_edges(df, k).collect()
        }
        assert got == _peel_ktruss(edges, k), f"k={k}"


def test_ktruss_known_graph(spark):
    from etl_expenses_spark.operators.graph import ktruss_edges

    # K5 (every edge in 3 triangles) + a pendant triangle + a chain
    k5 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    extra = [(4, 10), (10, 11), (4, 11), (11, 20), (20, 21)]
    df = spark.createDataFrame(k5 + extra, "pa long, pb long")
    t4 = {(r.pa, r.pb) for r in ktruss_edges(df, 4).collect()}
    assert t4 == set(k5)  # only K5 survives k=4 (support >= 2 in-subgraph)
    t3 = {(r.pa, r.pb) for r in ktruss_edges(df, 3).collect()}
    assert t3 == set(k5) | {(4, 10), (10, 11), (4, 11)}  # triangles survive k=3
    t6 = {(r.pa, r.pb) for r in ktruss_edges(df, 6).collect()}
    assert t6 == set()  # K5 has max truss 5


def test_ktruss_raises_when_budget_exhausted(spark):
    import pytest

    from etl_expenses_spark.operators.graph import ktruss_edges

    # a long chain of triangles peels one per round from each end
    edges = []
    for i in range(6):
        a = 2 * i
        edges += [(a, a + 1), (a, a + 2), (a + 1, a + 2)]
    df = spark.createDataFrame(sorted(set(edges)), "pa long, pb long")
    with pytest.raises(RuntimeError, match="still peeling"):
        ktruss_edges(df, 4, max_rounds=1)


def test_ktruss_capped_equals_exact_when_cap_clears_max_degree(spark):
    import random

    from etl_expenses_spark.operators.graph import ktruss_edges

    rng = random.Random(33)
    edges = sorted(
        {
            (a, b)
            for a, b in (sorted(rng.sample(range(22), 2)) for _ in range(120))
        }
    )
    df = spark.createDataFrame(edges, "pa long, pb long")
    exact = {(r.pa, r.pb) for r in ktruss_edges(df, 4).collect()}
    capped = {
        (r.pa, r.pb) for r in ktruss_edges(df, 4, max_degree=64).collect()
    }
    assert capped == exact and exact


def test_ktruss_capped_lower_bounds_exact(spark):
    """k-truss is monotone under edge removal, so a small cap yields a
    SUBSET of the exact truss edges — never extra edges."""
    import random

    from etl_expenses_spark.operators.graph import ktruss_edges

    rng = random.Random(77)
    edges = sorted(
        {
            (a, b)
            for a, b in (sorted(rng.sample(range(18), 2)) for _ in range(110))
        }
    )
    df = spark.createDataFrame(edges, "pa long, pb long")
    exact = {(r.pa, r.pb) for r in ktruss_edges(df, 3).collect()}
    capped = {
        (r.pa, r.pb) for r in ktruss_edges(df, 3, max_degree=4).collect()
    }
    assert capped <= exact


def test_ktruss_uncapped_hub_guard(spark):
    """ADVICE r8: an uncapped run on a hub graph fails fast with a pointer
    to the capped tier instead of materializing C(deg,2) wedge structs in
    one executor row; the capped tier on the same graph runs fine."""
    import pytest

    from pyspark.sql import functions as F

    from etl_expenses_spark.operators.graph import ktruss_edges

    hub = spark.range(1, 8).select(
        F.lit(0).alias("pa"), F.col("id").alias("pb")
    )
    with pytest.raises(ValueError, match="max_degree"):
        ktruss_edges(hub, 3, degree_guard=5)
    got = ktruss_edges(hub, 3, degree_guard=5, max_degree=5).collect()
    assert got == []  # a star has no triangles at any cap


def _aa_replica(adj_rows):
    """From-first-principles Adamic-Adar over a COLLECTED (node, nbr)
    adjacency: wedges from each node's sorted neighbor set, center weight
    1/ln(|ns|) quantized to DECIMAL(18,9) before the exact decimal sum —
    the operator's documented semantics."""
    import decimal
    from collections import defaultdict

    ns = defaultdict(set)
    for node, nbr in adj_rows:
        ns[node].add(nbr)
    acc = defaultdict(lambda: [0, decimal.Decimal(0)])
    for w, s in ns.items():
        t = decimal.Decimal(repr(1.0 / __import__("math").log(len(s)))).quantize(
            decimal.Decimal("0.000000001"), rounding=decimal.ROUND_HALF_UP
        )
        srt = sorted(s)
        for x in range(len(srt)):
            for y in range(x + 1, len(srt)):
                acc[(srt[x], srt[y])][0] += 1
                acc[(srt[x], srt[y])][1] += t
    return acc


def test_adamic_adar_capped_degree_consistent_with_wedges(spark):
    """ADVICE r10: with max_degree set the capped adjacency is asymmetric;
    deg(w) must come from the SAME neighbor array that generated the
    wedges (not a nbr-side count, whose inner join could also silently
    drop centers). Pin capped output == replica computed from the capped
    adjacency itself, and uncapped output == replica of the full graph."""
    from etl_expenses_spark.operators.graph import (
        adamic_adar_link_prediction,
        capped_adjacency,
    )

    edges = _edges_df(spark, _planted_graph(), num_partitions=5)
    for cap in (None, 3):
        adj = capped_adjacency(edges, cap)
        acc = _aa_replica([(r.node, r.nbr) for r in adj.collect()])
        known = {(a, b) for a, b in _planted_graph()}
        want = sorted(
            (u, v, c, float(s))
            for (u, v), (c, s) in acc.items()
            if c >= 2 and (u, v) not in known
        )
        got = sorted(
            (r.pa, r.pb, r.n_common_neighbors, r.aa_score)
            for r in adamic_adar_link_prediction(edges, max_degree=cap).collect()
        )
        assert got == want, f"cap={cap}: {got} != {want}"
