"""Neighborhood-overlap link prediction over an undirected edge list, with
an optional hot-node degree cap.

Reference parity: the reference has no graph surface (SURVEY.md §2 scope is
relational); this operator serves the co-purchase / co-occurrence scoring a
100 TB curation pipeline runs over its own derived graphs.

Scale contract: candidate pairs come ONLY from wedge expansion of per-node
neighbor arrays (Σ deg² work, no all-pairs anything). That bound is the
algorithm — and it is catastrophic for adversarially hot nodes: one part in
1% of 100 TB of orders puts ~10⁷ ids in a single neighbor array and ~10¹⁴
wedges behind it. `max_degree` is the standard approximation for that tier:
each node's neighbor list is deterministically hash-sampled down to at most
k before expansion, bounding every node's wedge fan-out at k² while leaving
sub-cap nodes bit-identical to the exact path (pinned by
tests/test_graph_links.py::test_cap_vs_uncapped_equality_below_cap).

The sample is order-free and engine-portable: neighbors are ranked by the
Knuth multiplicative hash ((nbr % 1000003) * 2654435761) % 2^32 (tie-break
on nbr), computed in exact int64 arithmetic in both Spark and the DuckDB
oracle — the modulus keeps the product far below int64 overflow for any key
the synthetic tiers produce.

Capped-semantics note: capping breaks adjacency symmetry, so scores are the
EXACT Jaccard of the reverse-capped neighborhoods Ñ⁻(x) = {w : x ∈ Ñ(w)} —
the intersection is what the wedge expansion from capped lists counts, and
degrees are counted on the same capped rows, so the score stays a true
Jaccard of well-defined sets (and equals the classic one when k ≥ max deg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_expenses_spark.caching import bsp_checkpoint, bsp_iterate

# Knuth multiplicative hash constants, int64-safe given the pre-modulus.
_H_MOD = 1000003
_H_MUL = 2654435761
_H_SPACE = 4294967296


# H-steps applied per materialization round on the CAPPED k-core path
# (H is monotone non-increasing per node, so H^k(x) = x ⟺ H(x) = x — the
# k-step fixed point is the single-step fixed point and exactness is
# untouched). Wall on the convergence tail is driver round-trips, not
# compute: each un-checkpointed inner step is recomputed by its consumer
# (≈2^k−1 evaluations per round) but that work is task-parallel and
# cap-bounded, while every round saved removes one checkpoint job + one
# probe job of fixed scheduling cost. Measured at sf0.1 (alternating A/B,
# 3 samples each): k=2 min 4.71 s, k=3 4.77 s, k=4 4.93 s — the capped
# co-purchase graph converges in ~8 H-steps, so deeper nesting saves at
# most one or two round-trips while the recompute and plan depth double;
# k=2 stays the right point (see OPTIMIZATION_r13.md). Two more measured
# dead ends recorded so nobody re-tries them: AQE off for the whole query
# (min 7.76 s vs 4.97 s on) and AQE scope-disabled around just the round
# loop (min 6.52 s vs 4.86 s) both LOSE — the runtime broadcast conversion
# AQE applies to each round's est⋈sym join is worth more than the
# query-stage job overhead it adds.
_CAPPED_H_STEPS = 2


def _hash_rank_col(nbr):
    """Deterministic, engine-portable sampling key for a neighbor id."""
    return (nbr % F.lit(_H_MOD)) * F.lit(_H_MUL) % F.lit(_H_SPACE)


def capped_adjacency(edges: DataFrame, max_degree: int | None) -> DataFrame:
    """Symmetrized (node, nbr) adjacency from an edge list (pa, pb); when
    `max_degree` is set each node keeps only its `max_degree` hash-lowest
    neighbors. The per-node row_number window is partitioned on `node` —
    it never sees more than one node's rows per partition at any scale."""
    adj = edges.select(F.col("pa").alias("node"), F.col("pb").alias("nbr")).unionAll(
        edges.select(F.col("pb").alias("node"), F.col("pa").alias("nbr"))
    )
    if max_degree is None:
        return adj
    w = W.partitionBy("node").orderBy(
        _hash_rank_col(F.col("nbr")).asc(), F.col("nbr").asc()
    )
    return (
        adj.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= max_degree)
        .drop("_rk")
    )


def jaccard_link_prediction(
    edges: DataFrame,
    max_degree: int | None = None,
    threshold_num: int = 1,
    threshold_den: int = 5,
) -> DataFrame:
    """Score every NON-edge pair sharing >= 1 (capped) common neighbor with
    the Jaccard overlap of their neighborhoods; keep pairs whose overlap is
    >= threshold_num/threshold_den, selected in EXACT integer space
    (ic * den >= num * union) so any SQL oracle picks the identical row set.

    `edges` must be a deduplicated undirected edge list with long columns
    (pa, pb), pa < pb. Output: (pa, pb, n_common_neighbors, jaccard).

    Plan shape: one groupBy builds sorted neighbor arrays; wedges expand
    JVM-side from each array (no self-join shuffle); one hash aggregate
    counts intersections; one left_anti removes known edges; degrees join
    back (broadcast-sized at test SFs, plain hash joins at scale).
    """
    adj = capped_adjacency(edges, max_degree)
    # reverse-capped degree: how many capped lists contain x — the set the
    # wedge expansion actually intersects (== classic degree when uncapped).
    deg = adj.groupBy("nbr").agg(F.count(F.lit(1)).alias("d"))
    nbrs = adj.groupBy("node").agg(F.sort_array(F.collect_set("nbr")).alias("ns"))
    wedges = nbrs.select(
        F.explode(
            F.expr(
                "flatten(transform(ns, (x, i) -> transform("
                "slice(ns, i + 2, size(ns)), y -> struct(x AS u, y AS v))))"
            )
        ).alias("w")
    ).select("w.u", "w.v")
    inter = wedges.groupBy("u", "v").agg(F.count(F.lit(1)).alias("ic"))
    non_edges = inter.join(
        edges,
        (inter.u == edges.pa) & (inter.v == edges.pb),
        "left_anti",
    )
    du = deg.select(F.col("nbr").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("nbr").alias("v"), F.col("d").alias("dv"))
    # No broadcast hint: the degree relation is O(nodes), so pinning a
    # broadcast risks driver OOM at the 100 TB tier. AQE
    # converts these to broadcast joins at runtime whenever the measured
    # size fits autoBroadcastJoinThreshold; otherwise they are the plain
    # hash joins the docstring promises.
    cand = (
        non_edges.join(du, "u")
        .join(dv, "v")
        .withColumn("uc", F.col("du") + F.col("dv") - F.col("ic"))
    )
    return cand.filter(
        F.col("ic") * F.lit(threshold_den) >= F.col("uc") * F.lit(threshold_num)
    ).select(
        F.col("u").alias("pa"),
        F.col("v").alias("pb"),
        F.col("ic").alias("n_common_neighbors"),
        (F.col("ic").cast("double") / F.col("uc")).alias("jaccard"),
    )


def kcore_decomposition(
    edges: DataFrame,
    src: str = "pa",
    dst: str = "pb",
    max_rounds: int = 50,
    max_degree: int | None = None,
) -> DataFrame:
    """Exact core number per node → ``(node, core)`` via distributed
    h-index iteration (Montresor, De Pellegrini, Miorandi, "Distributed
    k-Core Decomposition", IEEE TPDS 2013).

    The core number of v is the largest k such that v belongs to a
    subgraph where every node has degree ≥ k. Sequential peeling is
    inherently serial; the distributed formulation iterates

        c₀(v) = deg(v);  c_{t+1}(v) = H-index{ c_t(u) : u ∈ N(v) }

    which is non-increasing, bounded below by the true core number, and
    converges to it exactly (locality theorem). Each round is ONE shuffle:
    join neighbor estimates onto the symmetric adjacency, groupBy node,
    h-index of the collected neighbor values as a JVM array expression
    (sort desc, count positions where a[i] ≥ i+1 — prefix-monotone, so a
    plain size(filter(...))). The rounds run through
    ``caching.bsp_iterate``: each round's estimates and changed flag are
    materialized by one checkpoint job that also counts the changed rows,
    and the next round reads a stats-reset leaf (plain localCheckpoint
    inherits origin stats that double in bit length every round and kill
    planning around round 25), so the plan stays one round deep.

    100 TB shape: per-round cost ≡ one hash join + one hash aggregate on
    the edge relation — identical to one BSP round of CC/PageRank; rounds
    needed ≈ graph's "coreness diameter", observed single digits on real
    co-occurrence graphs. Per-node state during the aggregate is O(deg),
    which is catastrophic on hubs: `max_degree` is the scale tier (same
    playbook as link-prediction's capped tier) — each node's
    neighbor list is hash-sampled down to `max_degree` entries
    (capped_adjacency's deterministic engine-portable Knuth-hash pick) and
    the graph is then MUTUAL-capped (an edge survives only if BOTH
    endpoints kept it), so every degree — and therefore every collect_list,
    every h-index array, and the initial estimate bounding the round count
    — is ≤ max_degree. The mutual-capped graph is a subgraph of the
    original, so capped core numbers LOWER-BOUND the exact ones, and they
    EQUAL them whenever max_degree ≥ the graph's max degree (the capped
    lists are then the full lists; pinned in tests/test_graph_links.py).

    Convergence contract: the h-index iteration converges to the exact
    core numbers only when it reaches a fixed point; exhausting
    `max_rounds` while estimates are still changing would silently return
    OVER-estimates. bsp_iterate raises instead, so callers either see exact
    output or an explicit instruction to raise max_rounds.
    """
    hindex = (
        "size(filter(transform(sort_array(cs, false), (x, i) -> "
        "case when x >= i + 1 then 1 end), y -> y is not null))"
    )
    directed = edges.select(
        F.col(src).alias("pa"), F.col(dst).alias("pb")
    ).filter(
        # simple-graph contract: self-loops are dropped (k-core/LPA are
        # defined on simple graphs; a loop would also re-duplicate through
        # capped_adjacency's two-direction symmetrization)
        F.col("pa") != F.col("pb")
    )
    if max_degree is None:
        sym = (
            directed.select(F.col("pa").alias("node"), F.col("pb").alias("nbr"))
            .union(
                directed.select(F.col("pb").alias("node"), F.col("pa").alias("nbr"))
            )
            .distinct()
        )
    else:
        # Canonicalize BEFORE capping: an input listing both
        # (a,b) and (b,a) would otherwise survive capped_adjacency's
        # unionAll as duplicate (node,nbr) rows — duplicates eat cap slots
        # AND double-count neighbors in the h-index collect_list, turning
        # the documented lower bound into an over-estimate. least/greatest
        # + distinct collapses both directions in one shuffle.
        canon = directed.select(
            F.least("pa", "pb").alias("pa"), F.greatest("pa", "pb").alias("pb")
        ).distinct()
        kept = capped_adjacency(canon, max_degree)
        # mutual cap: keep (node, nbr) only when the reverse direction was
        # kept too — degrees stay ≤ max_degree and the graph stays a
        # symmetric subgraph of the original (the lower-bound guarantee)
        rev = kept.select(F.col("nbr").alias("node"), F.col("node").alias("nbr"))
        sym = kept.join(rev, ["node", "nbr"], "left_semi")
        # Pre-partition ON nbr once (materialized by the checkpoint): each
        # round's join then reuses the big side's layout and only the
        # node-sized estimate relation shuffles into it. Safe HERE because
        # the mutual cap bounds every nbr key at ≤ max_degree rows — keyed
        # partitioning cannot skew. The uncapped path must NOT do this: a
        # hub key owns deg(hub) rows, and hashing the adjacency by nbr
        # parks an entire hub in one task (measured: the ×10 tier went
        # from ~62 s to a stuck single-threaded hour-class run).
        sym = sym.repartition("nbr")
    # stats-reset checkpoint for sym too: although sym is checkpointed
    # once (its stats cannot compound), the reset leaf measured ~1.6×
    # FASTER at the ×10 synth tier twice in a row (40.7 s vs ~65 s on the
    # uncapped co-purchase kcore) — the conservative huge-leaf estimate
    # keeps the per-round join from planning around sym's copied stats.
    # Cost: one Row-conversion pass per round's sym scan, ~+0.8 s at
    # sf0.1 — the right trade for the tier this loop is built for.
    sym = bsp_checkpoint(sym)
    est = (
        sym.groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(bsp_checkpoint)
    )
    # One edge-scale shuffle per H-step (the groupBy): the join picks up
    # sym's pre-made nbr partitioning, the node-sized estimate shuffles
    # into it. A frontier-driven delta variant was measured here and LOST —
    # its two extra semi joins re-shuffle the edge relation every round,
    # which costs more than the late near-empty rounds save (frontiers
    # collapse geometrically on co-occurrence graphs: 964→116→15→4→0 at
    # sf0.1, so the tail the delta form optimizes is already cheap). The
    # convergence tail is instead long and FIXED-COST bound (24 rounds of
    # ~1.5 s scheduling overhead at the ×10 tier), so on the CAPPED path
    # each materialization round applies the H operator TWICE before
    # checkpointing — plan depth stays constant (2 steps) and the number
    # of driver round-trips halves. Exactness is untouched: H is monotone
    # non-increasing, so H²(x) = x ⟺ H(x) = x — the double-step fixed
    # point is the single-step fixed point. The UNCAPPED path stays
    # single-step: the inner step's un-checkpointed result is referenced
    # twice by the outer step (join + least), and recomputing a hub-heavy
    # collect_list costs more than the saved round-trips (measured 62 s →
    # 108 s at the ×10 tier); under the cap that recomputation is bounded
    # and the double step wins the overhead-dominated tiers.
    def h_step(cur: DataFrame) -> DataFrame:
        # one H-step: h and changed computed in ONE select off one cur join
        # — no extra node-sized joins (they cost a measurable per-round
        # stage at overhead-bound tiers)
        nbrv = sym.join(
            cur.select(F.col("node").alias("nbr"), F.col("c").alias("c_nbr")),
            "nbr",
        )
        return (
            nbrv.groupBy("node")
            .agg(F.collect_list("c_nbr").alias("cs"))
            .select("node", F.expr(hindex).cast("long").alias("h"))
            .join(cur, "node")
            .select(
                "node",
                F.least("h", "c").alias("c"),
                (F.least("h", "c") != F.col("c")).alias("changed"),
            )
        )

    def step(est: DataFrame, _round: int) -> DataFrame:
        est = est.drop("changed")
        if max_degree is None:
            return h_step(est)
        stepped = est
        for _ in range(_CAPPED_H_STEPS):
            stepped = h_step(stepped)
        return stepped.join(
            est.select("node", F.col("c").alias("c_prev")), "node"
        ).select("node", "c", (F.col("c") != F.col("c_prev")).alias("changed"))

    est = bsp_iterate(
        est,
        step,
        max_rounds=max_rounds,
        exhausted=f"kcore_decomposition: estimates still changing after "
        f"{max_rounds} rounds — the output would be an over-estimate, "
        "not core numbers. Raise max_rounds (rounds needed grow with "
        "the graph's coreness diameter).",
    )
    return est.select("node", F.col("c").alias("core"))


def lpa_communities(
    edges: DataFrame,
    src: str = "pa",
    dst: str = "pb",
    max_cycles: int = 8,
    max_degree: int | None = None,
) -> DataFrame:
    """Community detection by label propagation (Raghavan/Albert/Kumara
    2007) → ``(node, community)`` — the classic near-linear community
    assigner for co-occurrence graphs. Each sweep every node adopts its
    neighborhood's most frequent label; ties break to the SMALLEST label
    and updates run on a two-phase PARITY schedule (even node ids on even
    half-sweeps, odd on odd), the standard fix for the synchronous form's
    two-cycles on bipartite-ish structures — and, with the deterministic
    tie-break, it makes the whole evolution (and so the output)
    reproducible across runs, partitionings, and engines. Runs until a
    full even+odd cycle changes nothing or `max_cycles` cycles elapse,
    and then returns the current labels without raising: LPA is
    fixed-budget by nature (labels are schedule-dependent in any
    implementation), so a budget cap is the honest contract — unlike
    k-core there is no exact answer being approximated.

    Plan per half-sweep: ONE edge-scale shuffle (neighbor-label join +
    (node, label) count) and a per-node argmax window whose partition
    holds ≤ deg(node) rows. Hub-heavy graphs pass `max_degree` for the
    same mutual-capped adjacency tier as kcore_decomposition."""
    directed = edges.select(
        F.col(src).alias("pa"), F.col(dst).alias("pb")
    ).filter(
        # simple-graph contract: self-loops are dropped (k-core/LPA are
        # defined on simple graphs; a loop would also re-duplicate through
        # capped_adjacency's two-direction symmetrization)
        F.col("pa") != F.col("pb")
    )
    if max_degree is None:
        sym = (
            directed.select(F.col("pa").alias("node"), F.col("pb").alias("nbr"))
            .union(
                directed.select(F.col("pb").alias("node"), F.col("pa").alias("nbr"))
            )
            .distinct()
        )
    else:
        # same both-directions canonicalization as kcore's capped path:
        # duplicates would double LPA votes
        canon = directed.select(
            F.least("pa", "pb").alias("pa"), F.greatest("pa", "pb").alias("pb")
        ).distinct()
        kept = capped_adjacency(canon, max_degree)
        rev = kept.select(F.col("nbr").alias("node"), F.col("node").alias("nbr"))
        sym = kept.join(rev, ["node", "nbr"], "left_semi").repartition("nbr")
    # stats-reset checkpoint for sym too: although sym is checkpointed
    # once (its stats cannot compound), the reset leaf measured ~1.6×
    # FASTER at the ×10 synth tier twice in a row (40.7 s vs ~65 s on the
    # uncapped co-purchase kcore) — the conservative huge-leaf estimate
    # keeps the per-round join from planning around sym's copied stats.
    # Cost: one Row-conversion pass per round's sym scan, ~+0.8 s at
    # sf0.1 — the right trade for the tier this loop is built for.
    sym = bsp_checkpoint(sym)
    # "moved" is the previous half's raw change; the initial true keeps the
    # first half from ending the loop
    labels = (
        sym.select("node")
        .distinct()
        .select("node", F.col("node").alias("lab"), F.lit(True).alias("moved"))
    ).transform(bsp_checkpoint)

    def half_sweep(labels: DataFrame, half: int) -> DataFrame:
        nbrlab = sym.join(
            labels.select(F.col("node").alias("nbr"), F.col("lab").alias("nlab")),
            "nbr",
        )
        counts = nbrlab.groupBy("node", "nlab").agg(
            F.count(F.lit(1)).alias("c")
        )
        w = W.partitionBy("node").orderBy(F.col("c").desc(), F.col("nlab").asc())
        best = (
            counts.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select("node", F.col("nlab").alias("best"))
        )
        lab_new = F.when(
            # pmod, not %: Spark's % keeps the dividend's sign, so a
            # negative odd id yields -1 and would never match parity 1 —
            # frozen at its initial label forever
            (F.pmod(F.col("node"), F.lit(2)) == half % 2)
            & F.col("best").isNotNull(),
            F.col("best"),
        ).otherwise(F.col("lab"))
        moved = lab_new != F.col("lab")
        # changed = moved this half OR last half: no changed row means one
        # full even+odd cycle without movement
        return labels.join(best, "node", "left").select(
            "node",
            lab_new.alias("lab"),
            moved.alias("moved"),
            (moved | F.col("moved")).alias("changed"),
        )

    labels = bsp_iterate(
        labels, half_sweep, max_rounds=2 * max_cycles, exhausted=None
    )
    return labels.select("node", F.col("lab").alias("community"))


def ktruss_edges(
    edges: DataFrame,
    k: int,
    src: str = "pa",
    dst: str = "pb",
    max_rounds: int = 30,
    max_degree: int | None = None,
    degree_guard: int = 20_000,
) -> DataFrame:
    """The k-TRUSS subgraph's edge set → ``(pa, pb)``, pa < pb: the maximal
    subgraph in which EVERY edge participates in ≥ k−2 triangles (Cohen,
    "Trusses: Cohesive Subgraphs for Social Network Analysis", 2008).
    Edge-level cohesion — stricter than k-core (every k-truss is inside a
    (k−1)-core) and the standard community-core primitive.

    Algorithm: support peeling to a fixpoint. Each round:
    1. orient edges low→high and enumerate triangles by the standard
       oriented wedge join — wedges expand JVM-side from per-node sorted
       neighbor arrays (Σ deg² bounded, no edge self-join), then one
       left_semi against the edge set closes them;
    2. per-edge support = its triangle count (each triangle credits its
       three edges);
    3. drop edges with support < k−2; repeat until no edge drops (the
       fixpoint IS the k-truss: peeling order never changes the result).

    Rounds are data-dependent (≤ edges in the worst chain); state is the
    edge relation itself, run through ``caching.bsp_iterate``, which
    re-checkpoints it per round behind a stats-reset leaf, since e_{t+1}
    derives from e_t through joins (plain localCheckpoint's copied stats
    would compound). Convergence raises on budget exhaustion rather than
    returning a superset.

    `edges` must be deduplicated undirected (pa < pb) long pairs —
    _copurchase_edges' contract. Exactness vs literal sequential peeling
    is pinned in tests/test_graph_links.py.

    UNCAPPED DEGREE BOUND: the wedge expansion flattens all
    C(deg, 2) higher-neighbor pairs of a node into ONE array value before
    exploding, so a hub of degree d materializes a ~d²/2-element array in a
    single row — a 100k-degree hub is ~5·10⁹ structs, an executor OOM, not
    a slow query. When `max_degree` is None a one-pass pre-check fails fast
    with a pointer to the capped tier instead; `degree_guard` sets the
    threshold (the default's C(d,2) structs ≈ tens of MB in one row — the
    conservative edge of safe)."""
    canon = (
        edges.select(
            F.least(src, dst).alias("lo"), F.greatest(src, dst).alias("hi")
        )
        .filter(F.col("lo") < F.col("hi"))
        .distinct()
    )
    if max_degree is not None:
        # hot-node scale tier, the k-core playbook: mutual-capped adjacency
        # (both endpoints must keep the edge) bounds every neighbor array
        # the wedge expansion sees at <= max_degree. k-truss is monotone
        # under edge removal (the k-truss of a subgraph is contained in the
        # k-truss of the graph), so the capped truss LOWER-BOUNDS the exact
        # edge set and EQUALS it whenever the cap clears the max degree —
        # pinned in tests/test_graph_links.py.
        kept = capped_adjacency(
            canon.select(F.col("lo").alias("pa"), F.col("hi").alias("pb")),
            max_degree,
        )
        rev = kept.select(F.col("nbr").alias("node"), F.col("node").alias("nbr"))
        mutual = kept.join(rev, ["node", "nbr"], "left_semi")
        canon = (
            mutual.filter(F.col("node") < F.col("nbr"))
            .select(F.col("node").alias("lo"), F.col("nbr").alias("hi"))
            .distinct()
        )
    if max_degree is None:
        # fail fast on hubs the uncapped wedge expansion can't hold in one
        # row (see docstring); one cheap agg vs an executor OOM mid-loop.
        deg = (
            canon.select(F.col("lo").alias("n"))
            .unionAll(canon.select(F.col("hi").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
            .agg(F.max("d").alias("m"))
            .first()
        )
        if deg is not None and deg["m"] is not None and deg["m"] > degree_guard:
            raise ValueError(
                f"ktruss_edges: max degree {deg['m']} exceeds the uncapped "
                f"wedge-expansion guard ({degree_guard}); a hub's C(deg,2) "
                "higher-neighbor pairs land in ONE array row. Pass "
                "max_degree=<cap> for the mutual-capped lower-bound tier."
            )
    # input leaf, checkpointed once; the state's "changed" flag marks the
    # edges a round peels, which the next round filters out
    e = canon.select("lo", "hi", F.lit(False).alias("changed")).localCheckpoint()
    min_support = k - 2

    def peel(e: DataFrame, _round: int) -> DataFrame:
        e = e.filter(~F.col("changed")).select("lo", "hi")
        # oriented adjacency: per-lo sorted arrays of higher neighbors
        nbrs = e.groupBy("lo").agg(F.sort_array(F.collect_set("hi")).alias("ns"))
        wedges = nbrs.select(
            F.col("lo").alias("a"),
            F.explode(
                F.expr(
                    "flatten(transform(ns, (x, i) -> transform("
                    "slice(ns, i + 2, size(ns)), y -> struct(x AS b, y AS c))))"
                )
            ).alias("w"),
        ).select("a", "w.b", "w.c")
        # close the wedge: (b, c) must itself be an edge (b < c by sort)
        tri = wedges.join(
            e.select(F.col("lo").alias("b"), F.col("hi").alias("c")),
            ["b", "c"],
            "left_semi",
        )
        # every triangle credits its three edges
        support = (
            tri.select(F.col("a").alias("lo"), F.col("b").alias("hi"))
            .unionAll(tri.select(F.col("a").alias("lo"), F.col("c").alias("hi")))
            .unionAll(tri.select(F.col("b").alias("lo"), F.col("c").alias("hi")))
            .groupBy("lo", "hi")
            .agg(F.count(F.lit(1)).alias("sup"))
        )
        # peeled edges are materialized alongside survivors for one round
        # (few rows — the peel's delta) and filtered lazily off the leaf
        return e.join(support, ["lo", "hi"], "left").select(
            "lo",
            "hi",
            (F.coalesce(F.col("sup"), F.lit(0)) < min_support).alias("changed"),
        )

    e = bsp_iterate(
        e,
        peel,
        max_rounds=max_rounds,
        exhausted=f"ktruss_edges: still peeling after {max_rounds} rounds — "
        "the current edge set is a SUPERSET of the k-truss, not the k-truss. "
        "Raise max_rounds.",
    )
    return e.select(F.col("lo").alias("pa"), F.col("hi").alias("pb"))


def adamic_adar_link_prediction(
    edges: DataFrame,
    max_degree: int | None = None,
    min_common: int = 2,
) -> DataFrame:
    """Score every NON-edge pair with the Adamic-Adar index
    Σ_{w ∈ Γ(u)∩Γ(v)} 1/ln(deg(w)) (Adamic & Adar, Social Networks 2003)
    — the common-neighbor measure that discounts promiscuous hubs, the
    second classic link-prediction score next to neighborhood Jaccard.

    `edges`: deduplicated undirected (pa, pb) with pa < pb. Output:
    (pa, pb, n_common_neighbors, aa_score) for pairs with >=
    ``min_common`` common neighbors.

    Cross-engine determinism: each wedge's term 1/ln(d_w) is quantized to
    DECIMAL(18,9) BEFORE summation (raw double sums are
    aggregation-order-dependent; decimal sums are exact), and the final
    score is one cast — the dsum convention applied to a derived weight.
    Wedge centers always have degree >= 2, so ln never hits 0.

    Plan shape: identical silhouette to jaccard_link_prediction — one
    groupBy builds sorted neighbor arrays, wedges expand JVM-side from
    each array carrying their CENTER node (the only structural delta: the
    center is what gets weighted), one join brings the center's degree,
    one hash aggregate sums the decimal terms, one left_anti removes
    known edges. Wedge-bound cost, no all-pairs stage."""
    adj = capped_adjacency(edges, max_degree)
    nbrs = adj.groupBy("node").agg(F.sort_array(F.collect_set("nbr")).alias("ns"))
    # deg(w) = size of the SAME neighbor array the wedges expand from —
    # under a max_degree cap the adjacency is asymmetric, so a nbr-side
    # count would disagree with the wedge-generating degree (and an inner
    # join on it could silently drop wedges whose center never appears on
    # the nbr side). Deriving d from ns keeps capped and uncapped calls
    # consistent and removes the degree join entirely.
    wedges = nbrs.select(
        F.col("node").alias("w"),
        F.size("ns").alias("d"),
        F.explode(
            F.expr(
                "flatten(transform(ns, (x, i) -> transform("
                "slice(ns, i + 2, size(ns)), y -> struct(x AS u, y AS v))))"
            )
        ).alias("p"),
    ).select("w", "d", "p.u", "p.v")
    terms = wedges.withColumn(
        "t",
        (F.lit(1.0) / F.log(F.col("d").cast("double"))).cast("decimal(18,9)"),
    )
    agg = terms.groupBy("u", "v").agg(
        F.count(F.lit(1)).alias("ic"), F.sum("t").alias("s")
    )
    non_edges = agg.join(
        edges, (agg.u == edges.pa) & (agg.v == edges.pb), "left_anti"
    )
    return non_edges.filter(F.col("ic") >= min_common).select(
        F.col("u").alias("pa"),
        F.col("v").alias("pb"),
        F.col("ic").cast("bigint").alias("n_common_neighbors"),
        F.col("s").cast("double").alias("aa_score"),
    )
