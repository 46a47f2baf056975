"""Deduplication operators for the LLM-data-pipeline surface (north star).

Four tiers, all shuffle-friendly DataFrame compositions (no Python in the
candidate-generation hot path):

- exact: content-hash groupBy (one shuffle on the 16-byte hash).
- ngram-jaccard: exact pairwise Jaccard within small blocking groups.
- MinHash+LSH: shingle → per-permutation min-hash → banded bucket join —
  the O(n·bands) candidate generation that replaces O(n²) at 100 TB.
- SimHash: token-hash bit-majority signature + chunk-banded candidate join
  with popcount Hamming verification.

The reference has only exact-key dedup (J1-J4); these generalize it per
BASELINE.json's north star.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_expenses_spark.caching import bsp_checkpoint, bsp_iterate, track
from etl_expenses_spark.functions.text import tokens
from etl_expenses_spark.scaleout import fan_out


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical payloads by md5; canonical id = min id per group."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def shingles_of_tokens(t: Column, k: int = 3) -> Column:
    """k-token shingles from an ALREADY-MATERIALIZED token-array column;
    whole doc if shorter than k.

    Built from k-1 zip_with passes over shifted slices rather than
    per-shingle slicing — array expressions don't whole-stage-codegen, so
    each traversal is interpreted and the cheap formulation matters. Pass a
    real column, not a fresh ``tokens(...)`` expression: every reference to
    an unmaterialized subtree re-evaluates it."""
    n = F.size(t)
    acc = t
    for off in range(1, k):
        shifted = F.slice(t, off + 1, F.greatest(n - off, F.lit(0)))
        acc = F.zip_with(
            acc,
            shifted,
            lambda a, b: F.when(b.isNotNull(), F.concat_ws(" ", a, b)),
        )
    shingled = F.filter(acc, lambda x: x.isNotNull())
    return F.when(n >= k, shingled).otherwise(F.array(F.concat_ws(" ", t)))


def _salted_hash(i: int):
    """Closure factory — NOTE: pyspark higher-order-function lambdas must
    declare exactly the engine-provided parameters (a 2-arg transform lambda
    receives (element, index)); capturing loop state via default args would
    silently bind the index column instead. Operates on PRE-HASHED shingle
    longs: re-hashing a long with a salt literal is an independent family and
    ~10× cheaper than re-hashing the shingle strings per permutation."""
    return lambda h: F.xxhash64(F.lit(i), h)


def _minhash_sig(shingle_hashes: Column, num_perm: int) -> list[Column]:
    """One min-hash per permutation over a pre-hashed shingle array
    (array<long>); permutation i = xxhash64(i, h) — an independent salted
    family, 100% JVM-side, touching each string shingle exactly once."""
    return [
        F.array_min(F.transform(shingle_hashes, _salted_hash(i))).alias(f"mh{i}")
        for i in range(num_perm)
    ]


def minhash_band_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-document MinHash banding state: ``(id, hs, bands)`` where ``hs``
    is the DISTINCT 64-bit shingle-fingerprint set (the exact-Jaccard verify
    input) and ``bands`` is the array of band hashes (the LSH bucket keys).
    Deterministic in the document content alone — computable per micro-batch
    under streaming ingest and identical to the batch computation, which is
    what makes the log-structured LSH index (streaming/pipeline.py:
    lsh_state_sink) equal the batch pairs exactly.

    Hash-first shingling: tokens are xxhash64'd ONCE to longs, then a
    k-gram's fingerprint is the zip_with chain xxhash64(xxhash64(t1,t2),t3)
    — shingle strings are never materialized (the concat_ws allocation was
    ~half the signature cost, measured at sf0.1), and the verify set is
    array<long> instead of array<string> (8 bytes/shingle in the shuffle).
    Jaccard over distinct 64-bit fingerprints equals Jaccard over distinct
    shingle strings up to hash collisions (~n²·2⁻⁶⁴, negligible). The
    distinct runs before any reuse: array_min is duplicate-insensitive, so
    the minhash is unchanged and downstream consumers read the set as-is."""
    rows_per_band = num_perm // bands
    # the tokenize→hash→minhash projection is the measured ~100% of this
    # operator's cost and is compute-bound per row; fan the input out
    # before it so a narrow scan (one small file / one delta shard) does
    # not serialize the signature stage on a single task
    df = fan_out(df, id_col)
    tok = df.select(F.col(id_col).alias("id"), tokens(text_col).alias("toks"))
    th = F.transform("toks", lambda x: F.xxhash64(x))
    n_tok = F.size("toks")

    def shingle_fingerprints(thcol):
        acc = thcol
        for off in range(1, shingle_k):
            shifted = F.slice(thcol, off + 1, F.greatest(n_tok - off, F.lit(0)))
            acc = F.zip_with(
                acc, shifted, lambda a, b: F.when(b.isNotNull(), F.xxhash64(a, b))
            )
        full = F.filter(acc, lambda x: x.isNotNull())
        # shorter-than-k doc: one fingerprint for the whole token stream
        return F.when(n_tok >= shingle_k, full).otherwise(
            F.array(F.xxhash64(F.concat_ws(" ", F.col("toks"))))
        )

    with_sig = (
        tok.select("id", "toks", th.alias("th"))
        .select("id", F.array_distinct(shingle_fingerprints(F.col("th"))).alias("hs"))
        .select("id", "hs", *_minhash_sig(F.col("hs"), num_perm))
    )
    band_cols = [
        F.xxhash64(*[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)])
        for b in range(bands)
    ]
    return with_sig.select("id", "hs", F.array(*band_cols).alias("bands"))


def verify_jaccard(
    sig: DataFrame, candidates: DataFrame, min_jaccard: float
) -> DataFrame:
    """Exact-Jaccard verify of (id_a, id_b) candidate pairs against the
    signature relation's distinct shingle-fingerprint sets: re-joins the
    hs arrays for just the candidate ids and filters on the true Jaccard
    — the shared tail of every LSH tier (full self-join or delta probe)."""
    sets = sig.select("id", F.col("hs").alias("s"))  # already distinct
    verified = (
        candidates.join(
            sets.select(F.col("id").alias("id_a"), F.col("s").alias("sh_a")),
            "id_a",
        ).join(
            sets.select(F.col("id").alias("id_b"), F.col("s").alias("sh_b")),
            "id_b",
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        verified.withColumn("jaccard", inter / F.greatest(union, F.lit(1.0)))
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def lsh_pairs_from_signatures(sig: DataFrame, min_jaccard: float = 0.5) -> DataFrame:
    """Candidate generation + exact-Jaccard verify over ``(id, hs, bands)``
    signature rows (minhash_band_signatures). Returns (id_a, id_b, jaccard)
    with id_a < id_b.

    Scale shape: candidates come from a self-join on (band_idx, band_hash) —
    data volume after the posexplode is bands× the doc count, not doc².
    Candidate generation carries ONLY (band bucket, id): exploding/joining
    with the shingle arrays attached would shuffle the full document
    payloads bands× — the single biggest cost at scale. Shingle sets are
    re-joined afterwards for just the (few) candidate ids."""
    exploded = sig.select(
        "id", F.posexplode("bands").alias("band_idx", "band_hash")
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return verify_jaccard(sig, candidates, min_jaccard)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Near-duplicate candidate pairs via banded MinHash, verified with exact
    shingle-set Jaccard (on 64-bit shingle fingerprints). Returns
    (id_a, id_b, jaccard) with id_a < id_b. See minhash_band_signatures /
    lsh_pairs_from_signatures for the shape; this composition persists the
    signature relation because the banded candidate join and the verify
    re-join both consume it — the signature computation runs once, not 4×."""
    sig = minhash_band_signatures(
        df, text_col, id_col, num_perm=num_perm, bands=bands, shingle_k=shingle_k
    ).persist()
    track(sig)
    return lsh_pairs_from_signatures(sig, min_jaccard=min_jaccard)


def maintain_lsh_index(
    index: DataFrame,
    cdc: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """Maintain the (id, hs, bands) MinHash-LSH signature index under a
    KEYED CDC batch — the near-dup sibling of operators/ivm.py's z-set
    folds: when 0.1% of a 100 TB corpus changes, only the |Δ| changed
    documents are re-tokenized/re-hashed; the corpus and its index are
    never rescanned.

    ``cdc`` rows are (op, id_col, text_col) with Debezium-style codes:
    'I'/'U' upsert the keyed view (signatures are a function of content
    alone, so insert-vs-update need no before-image), 'D' removes. Unknown
    op codes FAIL FAST inline, matching zset_from_cdc (a silently dropped
    op would quietly corrupt the maintained view). Re-applying the same
    batch is a no-op (anti-join + recompute of the same deterministic
    signatures), so at-least-once CDC delivery converges.

    Cost: one anti-join of the index against |Δ| keys + signature
    computation over |Δ| documents. The returned index is BY CONSTRUCTION
    equal to minhash_band_signatures(corpus-after-CDC) — pinned in
    tests/test_ivm.py."""
    guarded = F.when(
        F.col("op").isin("I", "U", "D"), F.col("op")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("maintain_lsh_index: unknown CDC op code "),
                F.coalesce(F.col("op"), F.lit("NULL")),
                F.lit(" (expected 'I'/'U'/'D')"),
            )
        )
    )
    cdc = cdc.withColumn("op", guarded)
    touched = cdc.select(F.col(id_col).alias("id")).distinct()
    survivors = index.join(touched, "id", "left_anti")
    upserts = cdc.filter(F.col("op").isin("I", "U")).select(id_col, text_col)
    new_sigs = minhash_band_signatures(
        upserts, text_col, id_col,
        num_perm=num_perm, bands=bands, shingle_k=shingle_k,
    )
    return survivors.unionByName(new_sigs)


def lsh_delta_pairs(
    new_index: DataFrame,
    delta_ids: DataFrame,
    min_jaccard: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-duplicate pairs INTRODUCED by a CDC delta: banded probe of only
    the |Δ| upserted signatures against the full maintained index, then the
    shared exact-Jaccard verify. Pairs between two untouched documents
    never re-form — with the pairs-view removal rule (drop stored pairs
    touching a retracted id, a semi-join on the tiny Δ key set) this is the
    complete O(|Δ|)-probe maintenance of the near-dup pair view, pinned
    against the full recompute in tests/test_ivm.py.

    Scale shape: the Δ side explodes to |Δ|·bands bucket keys; for the
    typical small CDC batch AQE broadcasts it at runtime from its MEASURED
    size (no explicit hint — a forced broadcast of a 0.1%-of-100TB delta
    would exceed the broadcast/driver limit and fail the query instead of
    degrading to the shuffled hash join AQE falls back to). Candidate
    volume is bounded by bucket co-membership of the delta docs, not the
    corpus."""
    if id_col not in delta_ids.columns:
        raise ValueError(
            f"lsh_delta_pairs: delta_ids must carry '{id_col}' "
            f"(got {delta_ids.columns}); pass id_col= for a different name"
        )
    d = new_index.join(delta_ids.select(F.col(id_col).alias("id")),
                       "id", "left_semi")
    ex_all = new_index.select(
        "id", F.posexplode("bands").alias("bi", "bh")
    )
    ex_d = d.select(
        F.col("id").alias("did"), F.posexplode("bands").alias("bi", "bh")
    )
    cands = (
        ex_d
        .join(ex_all, ["bi", "bh"])
        .filter(F.col("did") != F.col("id"))
        .select(
            F.least("did", "id").alias("id_a"),
            F.greatest("did", "id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return verify_jaccard(new_index, cands, min_jaccard)


def _simhash60_udf():
    """60-bit SimHash from a token-hash array column, as a vectorized pandas
    UDF. Bit-majority needs a variable shift per bit position, which Spark's
    expression language can't vectorize (shiftright takes only literal
    amounts) — per-bit expression loops evaluate interpreted and 60× slower.
    numpy does the whole batch with three broadcasts. (60 bits keeps the
    signature a positive long; the 4 dropped bits cost ~nothing.)"""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def simhash(hashes: pd.Series) -> pd.Series:
        shifts = np.arange(60, dtype=np.uint64)
        out = np.zeros(len(hashes), dtype=np.int64)
        for i, hs in enumerate(hashes):
            if hs is None or len(hs) == 0:
                continue
            h = np.asarray(hs, dtype=np.int64).astype(np.uint64)
            bits = ((h[:, None] >> shifts) & 1).astype(np.int64) * 2 - 1
            counts = bits.sum(axis=0)
            out[i] = int(((counts > 0).astype(np.uint64) << shifts).sum())
        return pd.Series(out)

    return simhash


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Candidates via 4-way chunk banding (pigeonhole: distance ≤3 ⇒ at least
    one 15-bit chunk identical), verified with popcount on XOR. Same
    bucket-join scale shape as MinHash-LSH.
    """
    simhash = _simhash60_udf()
    sigs = (
        df.select(F.col(id_col).alias("id"), tokens(text_col).alias("toks"))
        .select("id", F.transform("toks", lambda t: F.xxhash64(t)).alias("hs"))
        .select("id", simhash(F.col("hs")).alias("sig"))
    )
    chunks = sigs.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftright(F.col("sig"), c * 15).bitwiseAND(F.lit((1 << 15) - 1)).alias("chunk"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ch"),
    ).select("id", "sig", "ch.chunk_idx", "ch.chunk")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iters: int = 20
) -> DataFrame:
    """Connected components over a pair graph → ``(id, cluster_id)`` where
    ``cluster_id`` is the smallest doc id in the component.

    The dedup ENDGAME: candidate pairs (from any tier — MinHash bands,
    fingerprints, Jaccard) are edges; a near-dup *set* is a connected
    component; the kept/canonical doc is the component minimum. Algorithm:
    BSP min-label propagation — each round every node takes the min of its
    own and its neighbors' labels (one join + one groupBy per round),
    converging in O(component diameter) rounds. Near-dup components are
    shallow (dups of a common ancestor), so diameter is small; for
    adversarially long chains use ``connected_components_star`` below
    (alternating large-star/small-star, O(log d) rounds) — property-tested
    equivalent on random graphs.

    The rounds run through ``caching.bsp_iterate``: each round's labels and
    its changed flag, computed inside the update join, are materialized by
    one checkpoint job that also counts the changed rows, and the next
    round reads a stats-reset leaf, so the logical plan stays ONE round
    deep. Round 1 is fused into the label initialization, so ``max_iters``
    counts it. A graph that needs more than ``max_iters`` rounds (its
    widest component's diameter plus one round that changes nothing)
    raises ``RuntimeError`` rather than returning labels that have not
    converged.
    """
    sym = bsp_checkpoint(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
    )
    # fused round 1: with identity labels, each node's neighbor-min is
    # just min(neighbor ids) — one groupBy over sym, no join needed yet
    labels = bsp_checkpoint(
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(F.col("u").alias("id"), F.least("u", "mv").alias("lbl"))
    )

    def step(labels: DataFrame, _round: int) -> DataFrame:
        nbr_min = (
            sym.join(labels, sym["v"] == labels["id"])
            .groupBy("u")
            .agg(F.min("lbl").alias("nbr_min"))
        )
        new_lbl = F.least(
            labels["lbl"], F.coalesce(F.col("nbr_min"), labels["lbl"])
        )
        return labels.join(nbr_min, labels["id"] == nbr_min["u"], "left").select(
            labels["id"],
            new_lbl.alias("lbl"),
            (new_lbl < labels["lbl"]).alias("changed"),
        )

    labels = bsp_iterate(
        labels,
        step,
        max_rounds=max_iters - 1,
        exhausted=f"connected_components: labels still changing after "
        f"max_iters={max_iters} rounds — some component is wider than "
        "the budget, so its labels are not its minimum yet. Raise "
        "max_iters, or use connected_components_star for long chains.",
    )
    return labels.select("id", F.col("lbl").alias("cluster_id"))


def star_fold_components(
    star: DataFrame,
    pairs: DataFrame,
    nodes: DataFrame,
    node_col: str = "id",
) -> DataFrame:
    """Components of (star ∪ pairs) computed on the pair-sized
    REPRESENTATIVE QUOTIENT GRAPH:
    ``star`` is a min-labeled cluster map (``src`` member → ``dst`` =
    component minimum, roots implicit), ``pairs`` is a batch of new edges
    (``id_a``, ``id_b``), ``nodes`` the universe to label (one column,
    ``node_col``). Returns ``(node_col, cluster_id)`` for every node —
    equal to ``connected_components(star ∪ pairs)`` extended with identity
    labels for untouched nodes (pinned by tests/test_apss.py), but the BSP
    loop only ever sees O(|pairs|) rep-graph edges, never the corpus-sized
    star: a new pair (a, b) merges stored components iff it links their
    representatives rep(a)—rep(b) (rep = stored minimum for members, self
    otherwise), and since every rep is the MINIMUM of its component and
    non-members represent themselves, the min label over a merged
    rep-graph component equals the min over the full merged membership."""
    rep_map = star.select(F.col("src").alias("_n"), F.col("dst").alias("rep"))

    def to_rep(col: str) -> DataFrame:
        return rep_map.select(
            F.col("_n").alias(col), F.col("rep").alias(f"rep_{col}")
        )

    rep_edges = (
        pairs.select("id_a", "id_b")
        .join(to_rep("id_a"), "id_a", "left")
        .join(to_rep("id_b"), "id_b", "left")
        .select(
            F.coalesce("rep_id_a", F.col("id_a")).alias("src"),
            F.coalesce("rep_id_b", F.col("id_b")).alias("dst"),
        )
    )
    cc_rep = connected_components(rep_edges).withColumnRenamed("id", "rep")
    return (
        nodes.select(F.col(node_col))
        .join(rep_map.withColumnRenamed("_n", node_col), node_col, "left")
        .select(node_col, F.coalesce("rep", F.col(node_col)).alias("rep"))
        .join(cc_rep, "rep", "left")
        .select(
            node_col,
            F.coalesce("cluster_id", F.col("rep")).alias("cluster_id"),
        )
    )


def connected_components_star(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iters: int = 30
) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SOCC'14) → same ``(id, cluster_id=component min)`` contract as
    ``connected_components``.

    Each round rewires the edge set toward star graphs:
    - large-star: every node strictly LARGER than its neighbor u links to
      m = min(Γ(u) ∪ {u})  — halves long chains (pointer doubling);
    - small-star: every node's smaller neighbors (and itself) link to the
      minimum of that set — flattens local trees into stars.

    Converges in O(log d) rounds vs BSP's O(d), so it's the tier for
    adversarial chain-shaped dup components at 100 TB. Per round: two
    groupBy-min shuffles + joins on node id; edges only ever point
    downward, and the edge count never grows above the input after the
    first large-star. Convergence = small-star output equals its input
    (set equality via a two-sided exceptAll probe on checkpointed, hence
    stable, inputs). That test compares whole edge sets, which no per-row
    flag expresses, so this loop does not run through
    ``caching.bsp_iterate``; like it, it raises ``RuntimeError`` when
    ``max_iters`` rounds run out before the fixpoint."""
    raw = edges.select(
        F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
    )
    # nodes from RAW edges: a self-loop-only node has no proper edge but is
    # still its own singleton component (BSP-contract parity)
    nodes = (
        raw.select(F.col("u").alias("id"))
        .union(raw.select(F.col("v").alias("id")))
        .distinct()
        # plain: checkpointed once, stats cannot compound (see graph.py)
        .localCheckpoint()
    )
    e = raw.filter(F.col("u") != F.col("v")).distinct().localCheckpoint()

    def large_star(cur: DataFrame) -> DataFrame:
        sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("u", "mn").alias("m"))
        return (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(cur: DataFrame) -> DataFrame:
        # orient every edge large→small, then link each node's small
        # neighborhood (plus itself) to that neighborhood's minimum
        dn = cur.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = dn.groupBy("u").agg(F.min("v").alias("m"))
        relink = dn.join(mins, "u").select(F.col("v").alias("u"), F.col("m").alias("v"))
        self_link = mins.select("u", F.col("m").alias("v"))
        return (
            relink.union(self_link)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    for _ in range(max_iters):
        # plain checkpoint: star-CC converges in O(log d) rounds, so the
        # copied-stats doubling tops out around 2^16 bits — harmless; the
        # stats-reset leaf would instead tax every round's EDGE-scale scan
        # with a Row conversion. bsp_checkpoint is for unbounded-round,
        # node-scale state chains (k-core, LPA, BSP-CC labels).
        nxt = small_star(large_star(e)).localCheckpoint()
        changed = (
            nxt.exceptAll(e).limit(1).count() + e.exceptAll(nxt).limit(1).count()
        )
        e = nxt
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components_star: edges still rewiring after "
            f"max_iters={max_iters} rounds — the edge set is not a forest "
            "of stars yet, so its labels are not component minima. Raise "
            "max_iters."
        )

    # fixpoint: e is a forest of stars (child → component-min root)
    labels = nodes.join(e, nodes["id"] == e["u"], "left").select(
        nodes["id"], F.coalesce(e["v"], nodes["id"]).alias("cluster_id")
    )
    return labels
