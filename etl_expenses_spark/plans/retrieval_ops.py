"""Retrieval / ranking / graph-centrality surface over `documents` and the
co-purchase graph — the index-and-rank layer of a training-data pipeline
(corpus search for curation, dedup triage, and data-mixing diagnostics).

Reference parity: the reference exposes its corpus only through scans and
scalar filters (SURVEY.md §2.1/§2.3); these operators extend that surface
with the retrieval primitives a 100 TB curation pipeline needs: an inverted
index, BM25 ranking, an n-gram LM rarity score, and PageRank centrality.

Exactness discipline (registry header rules): every score here is computed
in INTEGER arithmetic end-to-end — classic BM25/PageRank constants are
rationalized (k1 = 6/5, b = 3/4, damping = 17/20) and folded into
integer-scaled "micropoint" scores via integer division, so Spark's
parallel partial aggregation and DuckDB's serial aggregation produce
bit-identical results at any scale and any partitioning. The only doubles
are final single-op divisions (identical IEEE operands on both engines).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from etl_expenses_spark.functions.text import tokens
from etl_expenses_spark.plans._util import T
from etl_expenses_spark.plans.registry import query
from etl_expenses_spark.scaleout import fan_out

# DuckDB twin of functions/text.py:tokens over lower(text).
_D_TOKS = r"list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> '')"

# The literal query workload for the ranking operators: tiny by design
# (a query set is always driver-sized) — it broadcasts against the
# corpus-sized posting lists.
_BM25_QUERIES = [
    (1, "hash"),
    (1, "join"),
    (2, "window"),
    (2, "agg"),
    (2, "stream"),
    (3, "vector"),
    (3, "scan"),
]
_D_BM25_QUERIES = ", ".join(f"({q}, '{t}')" for q, t in _BM25_QUERIES)


@query(
    "inverted_index_postings",
    oracle=f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, unnest({_D_TOKS}) AS tok
            FROM documents WHERE doc_id < 100
        )
        SELECT tok,
               CAST(COUNT(*) AS BIGINT) AS df,
               string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                   AS postings
        FROM toks GROUP BY tok
    """,
    tags=("retrieval", "index", "collect"),
)
def inverted_index_postings(spark, sf_dir):
    """Inverted index build: token -> document frequency + sorted postings
    list. One explode + one hash aggregate; at scale the postings arrays are
    bounded per token by partial aggregation before the single shuffle on
    `tok` (vocabulary-partitioned, the classic index-build layout).

    The postings list is emitted as a deterministic comma-joined STRING (ids
    sorted ascending) rather than array<long>: same information and order
    pin, but sortable/hashable by the driver harness's pandas
    canonicalization, which cannot factorize list values (the r4 `err` —
    VERDICT.md round 4, "What's wrong" #1)."""
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    toks = d.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok")
    ).distinct()
    return toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(
            F.transform(
                F.sort_array(F.collect_set("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )


@query(
    "bm25_topk_per_query",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest({_D_TOKS}) AS tok FROM documents
        ),
        tf AS (
            SELECT doc_id, tok, CAST(COUNT(*) AS HUGEINT) AS tf
            FROM toks GROUP BY doc_id, tok
        ),
        dl AS (
            SELECT doc_id, CAST(COUNT(*) AS HUGEINT) AS dl
            FROM toks GROUP BY doc_id
        ),
        df AS (
            SELECT tok, CAST(COUNT(DISTINCT doc_id) AS HUGEINT) AS df
            FROM toks GROUP BY tok
        ),
        corpus AS (
            SELECT CAST(COUNT(DISTINCT doc_id) AS HUGEINT) AS n,
                   CAST(COUNT(*) AS HUGEINT) AS s
            FROM toks
        ),
        q(query_id, term) AS (VALUES {_D_BM25_QUERIES}),
        scored AS (
            SELECT q.query_id, tf.doc_id,
                   SUM((1000000 * (2*c.n - 2*df.df + 1) * 44 * tf.tf * c.s)
                       // ((2*df.df + 1)
                           * (20*c.s*tf.tf + 6*c.s + 18*dl.dl*c.n))) AS score
            FROM q
            JOIN tf ON tf.tok = q.term
            JOIN df ON df.tok = q.term
            JOIN dl ON dl.doc_id = tf.doc_id
            CROSS JOIN corpus c
            GROUP BY q.query_id, tf.doc_id
        ),
        ranked AS (
            SELECT query_id, doc_id, CAST(score AS BIGINT) AS score_micro,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, doc_id) AS rk
            FROM scored
        )
        SELECT query_id, doc_id, score_micro FROM ranked WHERE rk <= 10
    """,
    tags=("retrieval", "bm25", "topk"),
)
def bm25_topk_per_query(spark, sf_dir):
    """BM25 top-10 documents per query, in exact integer micropoints.

    Okapi BM25 with k1 = 1.2 = 6/5 and b = 0.75 = 3/4, rationalized so both
    factors are integer ratios:

        idf  = (N - df + 1/2) / (df + 1/2)          = (2N-2df+1) / (2df+1)
        tfc  = tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))
             = 44*tf*S / (20*S*tf + 6*S + 18*dl*N)   with avgdl = S/N

    term score = floor(1e6 * idf * tfc) via a single integer division of
    decimal(38,0) products — exact, associative, engine-identical; the
    per-query score is then a plain integer SUM. (The log in classic idf is
    deliberately replaced by its rational core: java.lang.Math.log and
    libm's log differ in the last ulp, so a log-based score could never be
    compared bit-exact across engines; the rational form ranks identically
    for single-term queries and is a standard smoothed variant.)

    Plan shape: explode -> three hash aggregates (tf, dl, df) sharing one
    scan; the query set and df-per-term are broadcast (query-set- and
    vocabulary-sized); tf co-partitions with dl on doc_id; top-k is a
    per-query window over an aggregated relation. At 100 TB only tf/dl are
    corpus-sized and they partition by doc_id."""
    # r13: tokenization + explode is the compute-heavy map stage; fan the
    # single-file scan out so it does not serialize on one task.
    toks = (
        fan_out(T(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
        .select("doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("tok"))
    )
    from etl_expenses_spark.caching import track

    toks = toks.persist()
    track(toks)
    big = "decimal(38,0)"
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).cast(big).alias("tf"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast(big).alias("dl"))
    df = toks.groupBy("tok").agg(F.count_distinct("doc_id").cast(big).alias("df"))
    corpus = toks.agg(
        F.count_distinct("doc_id").cast(big).alias("n"),
        F.count(F.lit(1)).cast(big).alias("s"),
    )
    q = spark.createDataFrame(_BM25_QUERIES, "query_id int, term string")
    scored = (
        F.broadcast(q)
        .join(tf, tf["tok"] == F.col("term"))
        .join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "term_score",
            F.expr(
                "(1000000 * (2*n - 2*df + 1) * 44 * tf * s)"
                " div ((2*df + 1) * (20*s*tf + 6*s + 18*dl*n))"
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("term_score").alias("score_micro"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score_micro"), "doc_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("query_id", "doc_id", "score_micro")
    )


@query(
    "lm_bigram_rarity",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, {_D_TOKS} AS t FROM documents
        ),
        bigrams AS (
            -- DuckDB zips parallel unnests positionally: adjacent slices
            -- give (w1, w2) = (t[i], t[i+1]).
            SELECT doc_id,
                   unnest(t[1:len(t) - 1]) AS w1,
                   unnest(t[2:len(t)]) AS w2
            FROM toks
        ),
        c12 AS (
            SELECT w1, w2, CAST(COUNT(*) AS HUGEINT) AS c12
            FROM bigrams GROUP BY w1, w2
        ),
        c1 AS (
            SELECT w1, CAST(SUM(c12) AS HUGEINT) AS c1 FROM c12 GROUP BY w1
        )
        SELECT b.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM((1000000 * c1.c1) // c12.c12) AS BIGINT)
                   AS rarity_micro_sum,
               CAST(CAST(SUM((1000000 * c1.c1) // c12.c12) AS BIGINT) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS avg_rarity
        FROM bigrams b
        JOIN c12 ON c12.w1 = b.w1 AND c12.w2 = b.w2
        JOIN c1 ON c1.w1 = b.w1
        GROUP BY b.doc_id
    """,
    tags=("retrieval", "lm", "quality"),
)
def lm_bigram_rarity(spark, sf_dir):
    """Bigram-LM rarity score per document — the log-free perplexity proxy a
    curation pipeline uses to flag out-of-distribution text (high rarity =
    the corpus LM finds the document surprising).

    Per bigram (w1,w2): rarity = floor(1e6 * c(w1,.) / c(w1,w2)) — the
    integer-scaled inverse of the MLE conditional probability p(w2|w1).
    Per document: integer sum + count, then ONE double division for the
    mean (identical IEEE operands on both engines). Documents with < 2
    tokens have no bigrams and are excluded by construction.

    Plan shape: the bigram "training" pass is two hash aggregates over the
    exploded corpus; the model tables are vocabulary²-sized and broadcast
    (at 100 TB a trimmed top-K bigram table plays this role); the scoring
    pass re-joins occurrences to the broadcast model and aggregates by
    doc_id — corpus rows shuffle once, on doc_id."""
    # r13: same input-parallelism fix as bm25 — the tokenize+zip_with
    # bigram expansion ran as three ~0.83 s single-task stages.
    toks = fan_out(
        T(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    ).select("doc_id", tokens(F.lower(F.col("text"))).alias("t"))
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
                F.slice(F.col("t"), 2, F.greatest(F.size("t") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("doc_id", "bg.w1", "bg.w2")
    from etl_expenses_spark.caching import track

    bigrams = bigrams.persist()
    track(bigrams)
    big = "decimal(38,0)"
    c12 = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast(big).alias("c12"))
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast(big).alias("c1"))
    scored = (
        bigrams.join(F.broadcast(c12), ["w1", "w2"])
        .join(F.broadcast(c1), "w1")
        .withColumn("rarity", F.expr("(1000000 * c1) div c12"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("rarity").alias("rarity_micro_sum"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "rarity_micro_sum",
        (
            F.col("rarity_micro_sum").cast("double")
            / F.col("n_bigrams").cast("double")
        ).alias("avg_rarity"),
    )


# Shared SQL prefix: the symmetric co-purchase graph (same edge sparsifier
# as triangle_count_copurchase — parts linked by >= 2 common orders).
_D_GRAPH = """
        pairs AS (
            SELECT DISTINCT a.l_orderkey, a.l_partkey AS pa, b.l_partkey AS pb
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        e0 AS (
            SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING COUNT(*) >= 2),
        edges AS (
            SELECT pa AS s, pb AS d FROM e0
            UNION ALL SELECT pb, pa FROM e0),
        deg AS (SELECT s AS node, CAST(COUNT(*) AS HUGEINT) AS deg
                FROM edges GROUP BY s)
"""

_D_PR_STEP = """
        c{k} AS (
            SELECT e.d AS node, SUM(r{j}.r // deg.deg) AS s
            FROM r{j} JOIN deg USING (node) JOIN edges e ON e.s = r{j}.node
            GROUP BY e.d),
        r{k} AS (
            SELECT deg.node,
                   CAST(150000 AS HUGEINT) + (17 * COALESCE(c{k}.s, 0)) // 20 AS r
            FROM deg LEFT JOIN c{k} USING (node))
"""


@query(
    "pagerank_copurchase",
    oracle=(
        "WITH "
        + _D_GRAPH
        + ", r0 AS (SELECT node, CAST(1000000 AS HUGEINT) AS r FROM deg),"
        + _D_PR_STEP.format(k=1, j=0)
        + ","
        + _D_PR_STEP.format(k=2, j=1)
        + ","
        + _D_PR_STEP.format(k=3, j=2)
        + " SELECT node AS part_id, CAST(r AS BIGINT) AS rank_micro FROM r3"
    ),
    tags=("graph", "pagerank", "iterative"),
)
def pagerank_copurchase(spark, sf_dir):
    """PageRank centrality over the co-purchase part graph, 3 power
    iterations, damping 0.85 = 17/20, in exact integer micro-rank units:

        r0(v)   = 1_000_000
        r_k(v)  = 150_000 + (17 * sum_{u->v} (r_{k-1}(u) div outdeg(u))) div 20

    Integer division makes every iteration bit-identical across engines and
    partitionings (no double accumulation anywhere); the truncation bias is
    < 1 micro-unit per edge — irrelevant for centrality ranking. The DuckDB
    oracle unrolls the 3 iterations as chained CTEs; Spark builds the same
    dataflow in a bounded Python loop (fixed iteration count, so plan depth
    is bounded and no checkpointing is needed).

    Scale shape (measured, see SCALING.md): edges are generated from
    collected per-order baskets — one shuffle keyed by order, in-basket
    pairs expanded JVM-side from the array (bounded by basket size, never
    |parts|²; replaces a sort-merge self-join + DISTINCT, two exchanges
    cheaper) — then checkpointed once, keyed on the source node, with AQE
    sizing the keyed shuffle. The checkpoint leaf does not expose that key
    layout to the planner, so each round's probe join re-shuffles the edges
    (KB-scale at sf0.1). The rank relation carries outdeg with it, so no
    per-iteration (rank ⋈ degree) join exists at all."""
    # r13: same-key fan-out as _copurchase_edges — no added exchange, the
    # partial collect_set leaves the single-task scan (guide §2.4/§2.5).
    li = fan_out(
        T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
        "l_orderkey",
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("bs")
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(bs, (x, i) -> transform("
                "slice(bs, i + 2, size(bs)), y -> struct(x AS pa, y AS pb))))"
            )
        ).alias("p")
    ).select("p.pa", "p.pb")
    e0 = (
        pairs.groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= 2)
        .select("pa", "pb")
    )
    edges = e0.select(F.col("pa").alias("s"), F.col("pb").alias("d")).unionAll(
        e0.select(F.col("pb").alias("s"), F.col("pa").alias("d"))
    )
    from etl_expenses_spark.caching import bsp_checkpoint

    edges = bsp_checkpoint(edges.repartition("s"))
    deg = bsp_checkpoint(
        edges.groupBy("s")
        .agg(F.count(F.lit(1)).alias("deg"))
        .withColumnRenamed("s", "node")
    )
    r = deg.select("node", "deg", F.lit(1000000).cast("long").alias("r"))
    for _ in range(3):
        contrib = r.select(
            F.col("node").alias("s_node"), F.expr("r div deg").alias("c")
        )
        incoming = (
            edges.join(contrib, edges["s"] == F.col("s_node"))
            .groupBy("d")
            .agg(F.sum("c").alias("s_in"))
        )
        r = (
            deg.join(incoming, F.col("node") == F.col("d"), "left")
            .select(
                "node",
                "deg",
                (F.lit(150000).cast("long") + F.expr("(17 * coalesce(s_in, 0)) div 20")).alias("r"),
            )
        )
    return r.select(F.col("node").alias("part_id"), F.col("r").alias("rank_micro"))


@query(
    "quality_filter_rules",
    oracle=f"""
        WITH s AS (
            SELECT doc_id,
                   CAST(len({_D_TOKS}) AS BIGINT) AS n_tokens,
                   CAST(LENGTH(regexp_replace(text, '\\s', '', 'g')) AS BIGINT)
                       AS n_glyph,
                   CAST(len(regexp_extract_all(text, '[.,;:!?"''()\\-]')) AS BIGINT)
                       AS n_punct,
                   CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
                   CAST(GREATEST(LENGTH(text), 1) AS BIGINT) AS n_chars
            FROM documents
        )
        SELECT doc_id,
               n_tokens BETWEEN 10 AND 100000 AS r_length,
               (3 * n_tokens <= n_glyph AND n_glyph <= 10 * n_tokens)
                   AS r_word_len,
               10 * n_punct < n_chars AS r_punct,
               5 * n_digit < n_chars AS r_digit,
               (n_tokens BETWEEN 10 AND 100000)
                   AND (3 * n_tokens <= n_glyph AND n_glyph <= 10 * n_tokens)
                   AND (10 * n_punct < n_chars)
                   AND (5 * n_digit < n_chars) AS passes
        FROM s
    """,
    tags=("text", "quality", "filter"),
)
def quality_filter_rules(spark, sf_dir):
    """Gopher-style rule-based quality gate, one boolean per rule plus the
    conjunction — the curation pre-filter that runs before any model-based
    scoring. Every rule is an INTEGER cross-multiplication (3*n_tokens <=
    n_glyph, 10*n_punct < n_chars, ...) so there is no ratio rounding to
    disagree on: length band, mean-word-length band [3,10], punctuation
    density < 10%, digit density < 20%. Pure scan-fused column expressions
    — one pass, no shuffle, trivially 100 TB-safe."""
    d = T(spark, sf_dir, "documents")
    toks = tokens(F.lower(F.col("text")))
    n_tokens = F.size(toks).cast("long")
    n_glyph = F.length(F.regexp_replace("text", r"\s", "")).cast("long")
    n_punct = F.regexp_count("text", F.lit(r"""[.,;:!?"'()\-]""")).cast("long")
    n_digit = F.regexp_count("text", F.lit(r"[0-9]")).cast("long")
    n_chars = F.greatest(F.length("text"), F.lit(1)).cast("long")
    r_length = n_tokens.between(10, 100000)
    r_word_len = (3 * n_tokens <= n_glyph) & (n_glyph <= 10 * n_tokens)
    r_punct = 10 * n_punct < n_chars
    r_digit = 5 * n_digit < n_chars
    return d.select(
        "doc_id",
        r_length.alias("r_length"),
        r_word_len.alias("r_word_len"),
        r_punct.alias("r_punct"),
        r_digit.alias("r_digit"),
        (r_length & r_word_len & r_punct & r_digit).alias("passes"),
    )
