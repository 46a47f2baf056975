"""Semantic checks for the rows-only north-star operators: MinHash-LSH and
SimHash must find planted near-dups; LSH ANN results must be a subset of the
brute-force ranking's candidates."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from etl_expenses_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs
from etl_expenses_spark.operators.similarity import cosine_topk_bruteforce, cosine_topk_lsh
from etl_expenses_spark.sources.readers import load_table

SF_DIR = "/root/testdata/sf0.001"


def _planted(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely different content about spark shuffles and parquet readers ok"
    return spark.createDataFrame(
        [
            Row(doc_id=1, text=base),
            Row(doc_id=2, text=near),   # near-dup of 1
            Row(doc_id=3, text=far),
            Row(doc_id=4, text=base),   # exact dup of 1
        ]
    )


def test_minhash_finds_planted_near_dups(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_pairs(_planted(spark), min_jaccard=0.4).collect()
    }
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0
    assert (1, 2) in pairs and 0.4 <= pairs[(1, 2)] < 1.0
    assert not any({a, b} == {1, 3} or {a, b} == {2, 3} for a, b in pairs)


def test_simhash_finds_exact_and_near(spark):
    pairs = {(r.id_a, r.id_b): r.hamming for r in simhash_pairs(_planted(spark), max_hamming=6).collect()}
    assert pairs.get((1, 4)) == 0
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_lsh_topk_subset_of_bruteforce(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    brute = [r.vec_id for r in cosine_topk_bruteforce(emb, q, k=50).collect()]
    ann = cosine_topk_lsh(emb, q, dims=64, k=10).collect()
    assert len(ann) >= 1
    assert ann[0].vec_id == 0 and abs(ann[0].sim - 1.0) < 1e-6, "query must match itself"
    # every ANN result is a true vector id and sims are sorted descending
    sims = [r.sim for r in ann]
    assert sims == sorted(sims, reverse=True)
    # recall vs brute-force top-50 — bucket restriction keeps the obvious hits
    assert ann[0].vec_id in brute


def test_ivf_topk_high_recall_vs_bruteforce(spark):
    from etl_expenses_spark.operators.similarity import cosine_topk_ivf

    emb = load_table(spark, SF_DIR, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    exact = [r.vec_id for r in cosine_topk_bruteforce(emb, qv, k=10).collect()]
    ann = [r.vec_id for r in cosine_topk_ivf(emb, qv, k=10, nprobe=4).collect()]
    # nprobe=4/16 cells: expect most of the true top-10, and the query
    # vector itself (sim=1) must always be found
    assert 0 in ann
    assert len(set(exact) & set(ann)) >= 6
    # ann sims are a subset of exact ranking: every ann hit scored exactly
    assert set(ann) <= set(
        r.vec_id for r in cosine_topk_bruteforce(emb, qv, k=500).collect()
    )


def test_embedding_neardup_lsh_subset_of_blocked_exact(spark):
    from etl_expenses_spark.operators.similarity import (
        embedding_neardup_pairs_blocked,
        embedding_neardup_pairs_lsh,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    # exact over a single global block = ground truth pair set
    truth = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs_blocked(
            emb.withColumn("one", F.lit(1)), "one", threshold=0.30
        ).collect()
    }
    ann = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs_lsh(emb, dims=64, threshold=0.30).collect()
    }
    # verification step makes precision exact: every ANN pair is a true pair
    assert ann <= truth
    assert len(ann) > 0


def test_connected_components_chain_and_islands(spark):
    from etl_expenses_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (via transitive edges), island 10-11, singleton edge 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)], ["src", "dst"]
    )
    got = {
        (r.id, r.cluster_id)
        for r in connected_components(edges, max_iters=10).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20),
    }


def test_connected_components_raise_when_rounds_run_out(spark):
    """A 41-node chain needs 41 min-label rounds: the default budget of 20
    must raise instead of returning unconverged labels, a budget of 45
    gives one cluster, and the star variant raises on a 2-round budget."""
    import pytest

    from etl_expenses_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame([(i, i + 1) for i in range(40)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="max_iters=20"):
        connected_components(edges).collect()
    got = {r.cluster_id for r in connected_components(edges, max_iters=45).collect()}
    assert got == {0}
    with pytest.raises(RuntimeError, match="max_iters=2"):
        connected_components_star(edges, max_iters=2).collect()


def test_star_cc_equals_bsp_cc_on_random_graphs(spark):
    """Property: large-star/small-star and BSP min-label propagation
    compute identical components on random graphs — including the
    adversarial long-chain shape the star variant exists for."""
    import random

    from etl_expenses_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(7)
    cases = []
    # Erdős–Rényi-ish sparse graphs
    for n, m in ((30, 20), (60, 45), (100, 80)):
        cases.append([(rng.randrange(n), rng.randrange(n)) for _ in range(m)])
    # adversarial: one long chain + islands + duplicate/self edges
    chain = [(i, i + 1) for i in range(0, 64)]
    cases.append(chain + [(200, 201), (300, 300), (5, 5), (10, 9)] + chain[:5])

    for edges_py in cases:
        edges = spark.createDataFrame(edges_py, ["src", "dst"])
        bsp = {
            (r.id, r.cluster_id)
            for r in connected_components(edges, max_iters=80).collect()
        }
        star = {
            (r.id, r.cluster_id)
            for r in connected_components_star(edges).collect()
        }
        # star drops self-loop-only nodes' edges but keeps the nodes
        assert star == bsp, (
            sorted(star - bsp)[:5],
            sorted(bsp - star)[:5],
        )


def test_star_cc_chain_converges_in_log_rounds(spark):
    """A 64-link chain needs ~64 BSP rounds but must finish well inside
    the star variant's 30-round cap (O(log d))."""
    from etl_expenses_spark.operators.dedup import connected_components_star

    edges = spark.createDataFrame([(i, i + 1) for i in range(64)], ["src", "dst"])
    got = {(r.id, r.cluster_id) for r in connected_components_star(edges).collect()}
    assert got == {(i, 0) for i in range(65)}


def test_gemm_blocked_pairs_bit_identical_to_join_tier(spark):
    from etl_expenses_spark.operators.similarity import (
        embedding_neardup_pairs_blocked,
        embedding_neardup_pairs_blocked_gemm,
    )
    from etl_expenses_spark.sources.readers import load_table

    e = load_table(spark, SF_DIR, "embeddings")
    join_tier = {
        tuple(r) for r in embedding_neardup_pairs_blocked(e, "label", 0.30).collect()
    }
    gemm_tier = {
        tuple(r)
        for r in embedding_neardup_pairs_blocked_gemm(e, "label", 0.30).collect()
    }
    assert join_tier == gemm_tier
    assert len(gemm_tier) > 0


def test_leakage_safe_split_keeps_clusters_together(spark):
    from etl_expenses_spark.plans import REGISTRY

    out = REGISTRY["dataset_split_leakage_safe"].build(
        spark, "/root/testdata/sf0.1"
    )
    # no cluster straddles a split boundary
    straddlers = (
        out.groupBy("cluster_id")
        .agg(F.count_distinct("split").alias("n_splits"), F.count("*").alias("n"))
        .filter("n_splits > 1")
    )
    assert straddlers.count() == 0
    # and the clusters are non-trivial at sf0.1 (the guarantee has teeth)
    multi = (
        out.groupBy("cluster_id").count().filter("count > 1")
    )
    assert multi.count() > 0


def test_pq_codes_quality_and_determinism(spark):
    """PQ contract: codes in [0, k), reconstruction beats the zero-vector
    baseline (unit-norm data → err < 1), training is deterministic, and
    encode is content-pure (same vector → same codes)."""
    import numpy as np

    from etl_expenses_spark.operators.similarity import pq_encode, pq_train_codebooks

    e = load_table(spark, SF_DIR, "embeddings")
    b1 = pq_train_codebooks(e, m=8, k=16)
    b2 = pq_train_codebooks(e, m=8, k=16)
    assert b1.shape == (8, 16, 8)
    assert np.array_equal(b1, b2), "seeded training must be deterministic"

    rows = pq_encode(e, b1).collect()
    assert len(rows) == e.count()
    errs = np.array([r.recon_err for r in rows])
    assert errs.mean() < 0.9, "must beat the zero-vector baseline (unit norms)"
    by_id = {r.vec_id: list(r.codes) for r in rows}
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in by_id.values())

    rows2 = pq_encode(e, b1).collect()
    assert {r.vec_id: list(r.codes) for r in rows2} == by_id


def test_pq_adc_topk_recall_vs_exact(spark):
    """PQ-ADC + exact rerank must recover most of the true top-10 (pinned
    at >= 0.5 on this fixed dataset; measured 0.7) and always contains the
    query vector itself (self-similarity survives quantization + rerank)."""
    from etl_expenses_spark.operators.similarity import cosine_topk_bruteforce, cosine_topk_pq

    e = load_table(spark, SF_DIR, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
    exact = [r.vec_id for r in cosine_topk_bruteforce(e, q, k=10).collect()]
    approx = [r.vec_id for r in cosine_topk_pq(e, q, k=10).collect()]
    assert len(approx) == 10
    assert 0 in approx
    assert len(set(exact) & set(approx)) >= 5


def test_embedding_class_separation_shape(spark):
    """45 ordered label pairs; distances positive; separation consistent
    with its parts (random labels => weak separation, ratio well below 1)."""
    from etl_expenses_spark.plans import REGISTRY

    rows = REGISTRY["embedding_class_separation"].build(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 45  # C(10,2)
    for r in rows:
        assert r.label_a < r.label_b
        assert r.n_a > 0 and r.n_b > 0
        assert r.inter_d2 > 0
        assert r.separation > 0
    # synthetic labels are random -> centroids nearly coincide relative to
    # within-class spread
    assert max(r.separation for r in rows) < 0.5


def test_minhash_signature_multiplicity_invariance(spark):
    """MinHash is a SET statistic: two documents with the same shingle set
    but different shingle multiplicities must produce bit-identical
    (hs, bands) signature rows — the invariant that justifies deduping the
    fingerprint array before the persist (array_min is
    duplicate-insensitive) and storing sets, not bags, in the streaming
    signature log."""
    from etl_expenses_spark.operators.dedup import minhash_band_signatures

    base = "alpha beta gamma delta epsilon zeta"
    # repeating the full text doubles every shingle's multiplicity and adds
    # only the two seam shingles -- so compare against explicit repetition
    # of the SAME token stream instead: identical set, different counts
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + " " + base),  # adds seam shingles: different set
            (3, base),  # exact copy: same set, same multiplicities
        ],
        "doc_id long, text string",
    )
    rows = {
        r.id: (tuple(r.hs), tuple(r.bands))
        for r in minhash_band_signatures(df).collect()
    }
    assert rows[1] == rows[3]
    assert rows[1] != rows[2]
    # and the hs array is a set: no duplicate fingerprints anywhere
    for hs, _ in rows.values():
        assert len(hs) == len(set(hs))


def test_semantic_dedup_prune_drops_exactly_planted_copies(spark):
    """SemDeDup composition property: the query plants an exact copy of
    every 20th vector; clustering must co-locate each copy with its
    original (identical vector, deterministic assign), the in-cell cosine
    pass must pair them at sim 1.0, and min-id keep must drop exactly the
    copies — no original ever dropped. (r12: the query emits the
    per-vector decision vector the computed oracle pins; this property
    re-derives it independently and keeps the per-cell accounting
    claim — every decision row present, planted copies and only planted
    copies dropped.)"""
    from etl_expenses_spark.plans import REGISTRY
    from etl_expenses_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    out = REGISTRY["semantic_dedup_prune"].build(spark, sf).collect()
    base = load_table(spark, sf, "embeddings")
    n_base = base.count()
    planted = {r.vec_id + 10_000_000 for r in base.filter("vec_id % 20 = 0").collect()}
    assert len(out) == n_base + len(planted)
    dropped = {r.vec_id for r in out if r.is_dropped}
    assert dropped == planted  # exactly the copies, never an original


def test_corpus_curation_funnel_chain_invariants(spark):
    """The funnel's accounting must be internally consistent: stages chain
    (n_out of stage i == n_in of stage i+1), retention is monotone
    (n_out <= n_in everywhere), stage 1 splits exactly the benchmark
    docs out, and the near-dup/decontamination stages actually drop
    documents on this corpus (the stages do real work)."""
    from etl_expenses_spark.plans import REGISTRY
    from etl_expenses_spark.sources.readers import load_table

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        REGISTRY["corpus_curation_funnel"].build(spark, sf).collect(),
        key=lambda r: r.stage_order,
    )
    assert [r.stage for r in rows] == [
        "benchmark_split",
        "quality_gate",
        "exact_dedup",
        "neardup_minhash",
        "decontaminate",
    ]
    docs = load_table(spark, sf, "documents")
    assert rows[0].n_in == docs.count()
    assert rows[0].n_out == docs.filter("doc_id >= 50").count()
    for a, b in zip(rows, rows[1:]):
        assert a.n_out == b.n_in  # stages chain
    for r in rows:
        assert 0 <= r.n_out <= r.n_in  # retention monotone
    assert rows[3].n_out < rows[3].n_in  # near-dup drops something
    assert rows[4].n_out < rows[4].n_in  # decontamination drops something


def test_multiprobe_assignment_recovers_cell_boundary_pairs(spark):
    """SemDeDup mitigation pin: planted jittered copies (cos ~0.91) lose
    pairs to cell boundaries under single-assignment; top-2 multi-probe
    (semantic_neardup_pairs_multiprobe) must strictly improve recall and
    be a superset of the single-probe pair set."""
    from pyspark.sql import functions as F

    from etl_expenses_spark.operators.similarity import (
        embedding_neardup_pairs_blocked,
        ivf_assign_udf,
        semantic_neardup_pairs_multiprobe,
        train_centroids_sampled,
    )
    from etl_expenses_spark.sources.readers import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    eps = 0.46
    v = F.col("embedding")
    rolled = F.concat(F.slice(v, 2, 63), F.slice(v, 1, 1))
    mixed = F.zip_with(v, rolled, lambda x, y: x + F.lit(eps) * y)
    nrm = F.sqrt(F.aggregate(mixed, F.lit(0.0), lambda s, x: s + x * x))
    planted = emb.select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        "label",
        F.transform(mixed, lambda x: (x / nrm).cast("float")).alias("embedding"),
    )
    union = emb.select("vec_id", "label", "embedding").unionByName(planted)
    C0 = train_centroids_sampled(emb, k=8)
    cells = union.withColumn("cell", ivf_assign_udf(C0)(F.col("embedding")))
    got1 = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_pairs_blocked(
            cells, "cell", threshold=0.85
        ).collect()
    }
    got2 = {
        (r.id_a, r.id_b)
        for r in semantic_neardup_pairs_multiprobe(
            union, C0, threshold=0.85, probes=2
        ).collect()
    }
    truth = {(r.vec_id, r.vec_id + 10_000_000) for r in emb.select("vec_id").collect()}
    r1 = len(got1 & truth) / len(truth)
    r2 = len(got2 & truth) / len(truth)
    assert got1 <= got2  # multi-probe is a strict superset of single-probe
    assert r2 > r1  # and it recovers boundary pairs
    assert r2 >= 0.95  # near-complete at 2 probes


def test_mmr_matches_numpy_greedy_and_diversifies(spark):
    """similarity_mmr_topk's trajectory == a from-first-principles numpy
    greedy MMR over the same pool (decimal-quantized scores, id
    tie-breaks), and the diversity contract holds: the MMR set's mean
    pairwise cosine is strictly below the plain top-k's."""
    import decimal

    import numpy as np

    from etl_expenses_spark.plans import REGISTRY

    got = REGISTRY["similarity_mmr_topk"].build(spark, SF_DIR).collect()
    got_ids = [r.vec_id for r in sorted(got, key=lambda r: r.rank)]

    emb = load_table(spark, SF_DIR, "embeddings").collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in emb}
    q = vecs[0]

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    def q6(x):
        return decimal.Decimal(x).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )

    rel = {i: q6(cos(v, q)) for i, v in vecs.items() if i != 0}
    pool = sorted(rel, key=lambda i: (-rel[i], i))[:100]
    selected: list[int] = []
    for _ in range(10):
        best = None
        for i in pool:
            if i in selected:
                continue
            ms = max(
                (q6(cos(vecs[i], vecs[s])) for s in selected),
                default=decimal.Decimal(0),
            )
            score = rel[i] * 7 - (ms * 3 if selected else 0)
            key = (-score, i)
            if best is None or key < best[0]:
                best = (key, i)
        selected.append(best[1])
    assert got_ids == selected, f"{got_ids} != {selected}"

    # diversity: MMR's mean pairwise similarity < plain top-10's
    plain = pool[:10]

    def mean_pair_sim(ids):
        sims = [
            cos(vecs[a], vecs[b])
            for x, a in enumerate(ids)
            for b in ids[x + 1 :]
        ]
        return sum(sims) / len(sims)

    assert mean_pair_sim(got_ids) < mean_pair_sim(plain)


def test_mmr_pool_smaller_than_k_returns_short_result(spark):
    """ADVICE r10: when the corpus (hence the collected pool) has fewer
    than k rows, the greedy loop must stop cleanly with a short result
    instead of unpacking a None best."""
    from pyspark.sql import functions as F

    from etl_expenses_spark.operators.similarity import mmr_diversified_topk

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame([([1.0, 0.0, 0.0],)], "q array<double>")
    out = mmr_diversified_topk(emb, q, k=10, pool=100).collect()
    assert [r.rank for r in out] == [1, 2, 3]
    assert {r.vec_id for r in out} == {1, 2, 3}


def test_random_projection_preserves_norms_in_expectation(spark):
    """JL contract of random_project: for ±1 Rademacher rows,
    E[||Sx||²] = k·||x||², so the per-vector ratio proj_l2sq/(k·||x||²)
    concentrates around 1 (rsd ~ sqrt(2/k) ≈ 0.35 at k=16) — the corpus
    mean must sit well inside [0.8, 1.2] and no ratio may collapse to 0
    (which would mean a degenerate, non-mixing sign matrix)."""
    import numpy as np

    from etl_expenses_spark.operators.similarity import random_project

    emb = load_table(spark, SF_DIR, "embeddings")
    got = {r.id: r.proj_l2sq_micro / 1e6 for r in random_project(
        emb, dims=64, k=16).collect()}
    norms = {
        r.vec_id: float(np.sum(np.asarray(r.embedding, dtype=np.float64) ** 2))
        for r in emb.collect()
    }
    ratios = [got[i] / (16 * norms[i]) for i in got if norms[i] > 0]
    assert ratios
    assert all(r > 0.05 for r in ratios)
    assert 0.8 < sum(ratios) / len(ratios) < 1.2


def test_tuned_lsh_probe_bucket_skew_capped(spark):
    """VERDICT r11 #7: on the organic corpus no single (band, bucket) may
    dominate the tuned tier's candidate-join load — the hot-bucket share
    is the number that decides whether the candidate join needs salting
    at 100 TB. Measured 0.21% at sf0.001 / 0.08% at sf0.1 (DEDUP_QUALITY
    carries the full distribution incl. the duplication-skew tier); the
    cap pins an order-of-magnitude guard, not the measurement."""
    from pyspark.sql import functions as F

    from etl_expenses_spark.operators.similarity import (
        lsh_probe_bucket_histogram,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    h = lsh_probe_bucket_histogram(emb, dims=64).cache()
    total = h.agg(F.sum("cand_rows")).first()[0]
    mx = h.agg(F.max("cand_rows")).first()[0]
    assert total > 0
    assert mx / total <= 0.05, (
        f"hot bucket carries {mx}/{total} = {mx / total:.3f} of candidate "
        "load — duplication skew reached the ANN tier (exact-dedup should "
        "collapse byte-identical mass first, or the join needs salting)"
    )
    # self-matches are excluded from the load metric by construction
    assert h.filter(F.col("cand_rows") < 0).count() == 0
    h.unpersist()
