"""Corpus-search and graph coverage (q89-q91): inverted-index
construction, BM25-style ranked retrieval, and iterative PageRank —
the retrieval-side counterparts of the LLM-pipeline operators in
``queries/llm.py`` (a training-data engine both curates documents AND
serves lexical search / graph signals over them).

Exactness strategy (COVERAGE.md): token counts, document frequencies,
posting lists, and graph ranks are all integers; BM25's real-valued
scoring function is replaced by an order-equivalent exact rational
(numerator/denominator cleared of float constants, one integer
division) so Spark and DuckDB agree bit-for-bit — no transcendental
``log`` idf, no float summation order.

Reference parity: the reference delegates all post-scan analytics to
Spark SQL (/root/reference/USAGE.md:259-280); this module pins the
text-retrieval surface a corpus engine needs beyond it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import tokens, word_shingles
from ..operators.similarity import brute_force_topk_arrow
from ..operators.topk import top_k_per_group
from ..session import scoped_persist
from ..tables import EMBEDDINGS_CTE, load, load_vectors

#: Fixed retrieval query for q90 (terms chosen to exist in the corpus).
BM25_TERMS = ("hash", "join", "vector")


# ---------------------------------------------------------------- q89
def q89_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: token -> (document frequency, sorted
    posting list), keeping tokens that appear in >= 10 documents.

    Shape: explode(distinct per-doc tokens) -> ONE hash aggregation
    keyed by token (collect_set is partial-aggregated object hash
    agg, so the exchange carries per-token partial sets, not the
    exploded token stream).  At 100 TB the posting lists for
    stop-word-frequency tokens are the skew risk: cap or shard them
    (the df >= 10 floor here is the inverse guard — drop the long
    tail instead) and write the index bucketed by token so lookups
    prune.

    The posting list is emitted as a comma-joined STRING (not
    ArrayType) so the result is hashable by any pandas-based result
    canonicalizer; the array form stays available internally via
    ``split(postings, ',')``."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tok_doc = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.lower(F.col("text"))))).alias("token"),
    )
    return (
        tok_doc.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_set("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= 10)
    )


_Q89_SQL = r"""
WITH td AS (
  SELECT DISTINCT doc_id, lower(tok) AS token
  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '\S+')) AS tok
        FROM documents)
)
SELECT token, CAST(count(*) AS BIGINT) AS df,
       array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
FROM td GROUP BY token HAVING count(*) >= 10
"""


# ---------------------------------------------------------------- q90
def q90_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-ranked retrieval for a fixed 3-term query, top-20 docs.

    The classic BM25(k1=1.2, b=0.75) per-term score
    ``idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))`` is computed as an
    exact rational in integer micro-units: with T = total corpus
    tokens, N = docs, avgdl = T/N, multiplying numerator and
    denominator by 10*T clears every float constant:

        score_u = (1_000_000 * 22*T*tf * (N-df+1))
                  DIV ((10*T*tf + 3*T + 9*dl*N) * (df+1))

    (idf uses the rational form (N-df+1)/(df+1) instead of its log —
    same ordering, no transcendental).  Per-doc totals are integer
    sums — order-independent, so the shuffle schedule can't change
    the ranking.  Magnitudes stay under 2^63 up to ~1e9-token
    corpora; past that the accumulator moves to DECIMAL(38,0) with
    the same plan shape.

    Plan: ONE map-only tokenize pass produces a compact per-doc row
    (dl + one tf column per query term — ``size(filter(toks, ...))``,
    no explode, no per-term shuffle); that table is the only thing
    the corpus scan feeds.  Corpus stats (T, N, every term's df) are
    ONE aggregated row broadcast back over it, scoring is a map-side
    expression, and top-20 is TakeOrderedAndProject — the whole query
    is one aggregation exchange over |docs| compact rows."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens(F.lower(F.col("text")))

    def eq(term):
        return lambda x: x == term

    per_doc = docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("dl"),
        *[
            F.size(F.filter(toks, eq(t))).cast("bigint").alias(f"tf_{t}")
            for t in BM25_TERMS
        ],
    )
    stats = per_doc.agg(
        F.sum("dl").alias("T"),
        F.count(F.lit(1)).alias("N"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("bigint")).alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )
    term_score = " + ".join(
        f"IF(tf_{t} > 0, (1000000L * 22 * T * tf_{t} * (N - df_{t} + 1))"
        f" DIV ((10 * T * tf_{t} + 3 * T + 9 * dl * N) * (df_{t} + 1)), 0L)"
        for t in BM25_TERMS
    )
    scored = (
        per_doc.filter(sum(F.col(f"tf_{t}") for t in BM25_TERMS) > 0)
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.expr(term_score).alias("score_micro"))
    )
    return scored.orderBy(F.col("score_micro").desc(), "doc_id").limit(20)


_Q90_SQL = r"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM documents
), dl AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM toks
), stats AS (
  SELECT CAST(sum(dl) AS BIGINT) AS T, CAST(count(*) AS BIGINT) AS N FROM dl
), tf AS (
  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(toks) AS token FROM toks)
  WHERE token IN ('hash', 'join', 'vector')
  GROUP BY 1, 2
), dfreq AS (
  SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
)
SELECT tf.doc_id,
       CAST(sum((1000000 * 22 * s.T * tf.tf * (s.N - d.df + 1))
                // ((10 * s.T * tf.tf + 3 * s.T + 9 * dl.dl * s.N)
                    * (d.df + 1))) AS BIGINT) AS score_micro
FROM tf
JOIN dfreq d USING (token)
JOIN dl USING (doc_id)
CROSS JOIN stats s
GROUP BY tf.doc_id
ORDER BY score_micro DESC, doc_id
LIMIT 20
"""


# ---------------------------------------------------------------- q91
#: Part nodes are offset past the supplier key space.
_PART_OFFSET = 1_000_000
_ITERATIONS = 3


def q91_pagerank_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 iterations) over the bipartite
    supplier-part shipment graph, reporting supplier ranks.

    Exact integer fixed-point: ranks live in micro-units (r0 = 1e6);
    each step is ``r' = 150000 + (85 * sum(r DIV outdeg)) DIV 100`` —
    integer contributions sum order-independently and the truncating
    DIVs are deterministic, so the oracle (the same three steps
    unrolled as chained CTEs) agrees bit-for-bit.

    Scale shape: the symmetrized edge list is built ONCE from a
    distinct-pairs aggregation and persisted; every iteration is then
    edges ⋈ ranks (hash join on src) -> hash agg on dst.  The rank
    side is |V| rows — tiny next to |E| — so AQE broadcasts it and
    the edge table never re-shuffles; on a real cluster the iteration
    loop is the place to ``localCheckpoint`` every few rounds to
    truncate lineage."""
    li = load(spark, sf_dir, "lineitem")
    pairs = (
        li.select(
            F.col("l_suppkey").alias("s"),
            (F.col("l_partkey") + _PART_OFFSET).alias("p"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("s").alias("src"), F.col("p").alias("dst")).unionByName(
        pairs.select(F.col("p").alias("src"), F.col("s").alias("dst"))
    ).transform(scoped_persist)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")).select(
        F.col("src").alias("node"), "outdeg"
    ).transform(scoped_persist)
    ranks = deg.select("node", "outdeg", F.lit(1000000).cast("bigint").alias("r"))
    for _ in range(_ITERATIONS):
        contribs = (
            edges.join(ranks, edges.src == ranks.node)
            .select("dst", F.expr("r DIV outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = deg.join(contribs, deg.node == contribs.dst).select(
            "node",
            "outdeg",
            (F.lit(150000) + F.expr("(85 * in_sum) DIV 100")).alias("r"),
        )
    return (
        ranks.filter(F.col("node") < _PART_OFFSET)
        .select(F.col("node").alias("s_suppkey"), F.col("r").alias("rank_micro"))
        .orderBy(F.col("rank_micro").desc(), "s_suppkey")
    )


_Q91_SQL = f"""
WITH pairs AS (
  SELECT DISTINCT l_suppkey AS s, l_partkey + {_PART_OFFSET} AS p FROM lineitem
), e AS (
  SELECT s AS src, p AS dst FROM pairs
  UNION ALL
  SELECT p AS src, s AS dst FROM pairs
), deg AS (
  SELECT src AS node, CAST(count(*) AS BIGINT) AS outdeg FROM e GROUP BY 1
), r0 AS (
  SELECT node, outdeg, CAST(1000000 AS BIGINT) AS r FROM deg
), r1 AS (
  SELECT d.node, d.outdeg, 150000 + (85 * c.in_sum) // 100 AS r
  FROM deg d JOIN (SELECT e.dst, sum(r.r // r.outdeg) AS in_sum
                   FROM e JOIN r0 r ON e.src = r.node GROUP BY 1) c
    ON d.node = c.dst
), r2 AS (
  SELECT d.node, d.outdeg, 150000 + (85 * c.in_sum) // 100 AS r
  FROM deg d JOIN (SELECT e.dst, sum(r.r // r.outdeg) AS in_sum
                   FROM e JOIN r1 r ON e.src = r.node GROUP BY 1) c
    ON d.node = c.dst
), r3 AS (
  SELECT d.node, d.outdeg, 150000 + (85 * c.in_sum) // 100 AS r
  FROM deg d JOIN (SELECT e.dst, sum(r.r // r.outdeg) AS in_sum
                   FROM e JOIN r2 r ON e.src = r.node GROUP BY 1) c
    ON d.node = c.dst
)
SELECT node AS s_suppkey, CAST(r AS BIGINT) AS rank_micro
FROM r3 WHERE node < {_PART_OFFSET}
ORDER BY rank_micro DESC, s_suppkey
"""


# ---------------------------------------------------------------- q92
def q92_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection: after near-duplicate clustering
    (connected components over the cosine-threshold pair graph, as in
    q33), keep ONE representative per cluster — the longest member,
    ties to the smallest id.  This is the "collapse the duplicate
    family" step that turns pair/cluster detection into an actual
    deduplicated corpus.

    The argmax is a lexicographic ``max`` over
    ``struct(n_chars, -doc_id)`` — longest first, smallest id on ties
    — a deterministic total order with no domain bound on either key
    (the earlier packed-integer form assumed doc_id < 2^20); both
    engines order structs by field position and the aggregate stays
    partial-aggregatable.  Embedding ids and doc ids share a key
    space at matching row counts; the inner join scopes the report to
    embedded documents."""
    from ..operators.components import connected_components
    from ..operators.dedup import embedding_near_duplicates

    emb = load_vectors(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    pairs = embedding_near_duplicates(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.5, num_planes=None
    )
    comp = connected_components(pairs, emb, src="id_a", dst="id_b", vertex_id="vec_id")
    return (
        comp.join(docs, comp.id == docs.doc_id)
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(
                F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
            ).alias("__m"),
            F.max("n_chars").alias("rep_chars"),
        )
        .select(
            "component",
            "n_members",
            (-F.col("__m.neg_id")).alias("rep_doc_id"),
            "rep_chars",
        )
    )


_Q92_SQL = f"""
WITH RECURSIVE {EMBEDDINGS_CTE},
E AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM E a JOIN E b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= 0.5
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT reach.id, edges.v FROM reach JOIN edges ON reach.r = edges.u
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
SELECT component,
       CAST(count(*) AS BIGINT) AS n_members,
       -((max({{'n_chars': n_chars, 'neg_id': -doc_id}})).neg_id) AS rep_doc_id,
       CAST(max(n_chars) AS BIGINT) AS rep_chars
FROM comp JOIN documents ON comp.id = doc_id
GROUP BY component
"""


# --------------------------------------------------------- q92_lsh
_Q92_LSH_PLANES = 8


def q92_cluster_reps_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q92's clustering + representative rule under the LSH SCALE
    DIAL: candidate pairs come from an 8-plane random-hyperplane sign
    bucket (SimHash-for-vectors) instead of the registered
    exact-quadratic baseline — the production shape, since the exact
    twin's all-pairs scan is the documented sanctioned baseline that
    cannot ship at 100 TB.  Registered the same way q202_dialed
    closed q202's amber: the ENTIRE approximation is replayed in the
    oracle — the SHA-256-derived hyperplanes are deterministic
    constants, so the SQL computes the identical sign buckets
    (``list_dot_product(v, plane) >= 0`` per plane), the identical
    bucket-equi candidate join, the identical cosine >= 0.5 filter,
    and the same recursive min-id components — putting the FULL LSH
    pipeline (bucketing included) under the value-hash gate, not just
    its output shape.

    Scale: the self-join is bucket-partitioned (2^planes cells) —
    no all-pairs; components are pointer-jumping over the candidate
    graph; the representative argmax is the same lexicographic
    ``max(struct)`` partial-agg as q92.  Measured at the sf1→sf10
    decade in STRESS_SF10.json under this registered name."""
    from ..operators.components import connected_components
    from ..operators.dedup import embedding_near_duplicates

    emb = load_vectors(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    pairs = embedding_near_duplicates(
        emb,
        id_col="vec_id",
        vec_col="embedding",
        threshold=0.5,
        num_planes=_Q92_LSH_PLANES,
        dim=64,
    )
    comp = connected_components(pairs, emb, src="id_a", dst="id_b", vertex_id="vec_id")
    return (
        comp.join(docs, comp.id == docs.doc_id)
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(
                F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
            ).alias("__m"),
            F.max("n_chars").alias("rep_chars"),
        )
        .select(
            "component",
            "n_members",
            (-F.col("__m.neg_id")).alias("rep_doc_id"),
            "rep_chars",
        )
    )


def _q92_lsh_bucket_sql(n_planes: int = _Q92_LSH_PLANES) -> str:
    """The ``n_planes``-plane sign bucket as a SQL expression over
    ``v``, built from the SAME deterministic hyperplanes the Spark
    operator uses (``operators.similarity._hyperplane`` —
    SHA-256(plane, coord)); ``repr`` round-trips each double exactly,
    so both engines dot against bit-identical plane constants."""
    from ..operators.similarity import _hyperplane

    terms = []
    for p in range(n_planes):
        lit = ", ".join(repr(x) for x in _hyperplane(p, 64))
        terms.append(
            f"(CASE WHEN list_dot_product(v, [{lit}]) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    return " + ".join(terms)


_Q92_LSH_SQL = f"""
WITH RECURSIVE {EMBEDDINGS_CTE},
E AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
B AS (SELECT vec_id, v, {_q92_lsh_bucket_sql()} AS b FROM E),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM B a JOIN B b ON a.b = b.b AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= 0.5
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT reach.id, edges.v FROM reach JOIN edges ON reach.r = edges.u
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
SELECT component,
       CAST(count(*) AS BIGINT) AS n_members,
       -((max({{'n_chars': n_chars, 'neg_id': -doc_id}})).neg_id) AS rep_doc_id,
       CAST(max(n_chars) AS BIGINT) AS rep_chars
FROM comp JOIN documents ON comp.id = doc_id
GROUP BY component
"""


# --------------------------------------------------------------- q206
def q206_cluster_reps_lsh_dialed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q92_lsh under the PRODUCTION plane dial — the q202→q202_dialed
    move applied to the LSH family's one over-linear row: fixed
    8-plane bucketing makes candidate pairs grow quadratically with
    volume (bucket occupancy ∝ n; measured 1.43-1.76x over 10x-linear
    at the sf1→sf10 decade), so the deployment rule derives planes
    from corpus size (``lsh_planes_dial``: occupancy pinned at ~32,
    pairs linear).  The ENTIRE dialed approximation sits under the
    hash gate: the oracle computes the same 16-plane sign bucket from
    literal hyperplane constants and masks it to the dial's low bits
    — bit p IS plane p's sign, so ``bucket16 & (2^planes - 1)``
    equals bucketing with exactly ``planes`` planes — with planes
    derived from ``count(*)`` by the same integer rule
    (LEAST/GREATEST/LENGTH(BIN(n//32)))."""
    from ..operators.components import connected_components
    from ..operators.dedup import embedding_near_duplicates
    from ..operators.similarity import lsh_planes_dial

    emb = load_vectors(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    planes = lsh_planes_dial(emb.count())
    pairs = embedding_near_duplicates(
        emb,
        id_col="vec_id",
        vec_col="embedding",
        threshold=0.5,
        num_planes=planes,
        dim=64,
    )
    comp = connected_components(pairs, emb, src="id_a", dst="id_b", vertex_id="vec_id")
    return (
        comp.join(docs, comp.id == docs.doc_id)
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.max(
                F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))
            ).alias("__m"),
            F.max("n_chars").alias("rep_chars"),
        )
        .select(
            "component",
            "n_members",
            (-F.col("__m.neg_id")).alias("rep_doc_id"),
            "rep_chars",
        )
    )


_Q206_SQL = f"""
WITH RECURSIVE {EMBEDDINGS_CTE},
E AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
P AS (
  SELECT LEAST(16, GREATEST(3, LENGTH(BIN(count(*) // 32)))) AS planes
  FROM E
),
B AS (
  SELECT vec_id, v,
         ({_q92_lsh_bucket_sql(16)})
           & ((1 << (SELECT planes FROM P)) - 1) AS b
  FROM E
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM B a JOIN B b ON a.b = b.b AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= 0.5
),
edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(id, r) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT reach.id, edges.v FROM reach JOIN edges ON reach.r = edges.u
),
comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
SELECT component,
       CAST(count(*) AS BIGINT) AS n_members,
       -((max({{'n_chars': n_chars, 'neg_id': -doc_id}})).neg_id) AS rep_doc_id,
       CAST(max(n_chars) AS BIGINT) AS rep_chars
FROM comp JOIN documents ON comp.id = doc_id
GROUP BY component
"""


# --------------------------------------------------------------- q207
_Q207_PLANES = 16


def q207_plane_sign_parity_canary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLANE-SIGN PARITY CANARY — the q204 pattern applied to the LSH
    bucket kernel (ADVICE r10): q92_lsh/q206's oracles replay the
    sign-bucket join in SQL, which rests on the empirical invariant
    that Spark's sequential ``aggregate``/``zip_with`` dot fold and
    DuckDB's ``list_dot_product`` agree on the SIGN of every
    (vector, hyperplane) dot.  That is NOT bit-equality of the dots:
    measured on this data family the raw dots diverge by up to
    8.9e-16 (different accumulation order), while the smallest
    |dot| margin is 3.5e-7 at sf0.1 — nine orders of magnitude of
    headroom, pinned by tests/test_plane_parity.py.  A near-zero dot
    in FUTURE data (or an engine kernel change) could flip one bucket
    bit in one engine only, failing the q92_lsh/q206 hash gate with
    poor localization; this canary emits the per-(vec_id, plane) sign
    bit for ALL 16 static hyperplanes, so any divergence grades red
    HERE, naming the exact vector and plane.  Canary red + family
    green = margin erosion on specific rows; canary red + family red
    = the dot kernel itself.

    Scale shape: map-only over the vectors (16 fused fold
    expressions, no shuffle, no collect); output is 16·|vectors|
    rows — a canary you run on a sample at 100 TB, not a search."""
    from ..operators.similarity import _dot_literal, _hyperplane

    emb = load_vectors(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    bits = F.array(
        *[
            F.when(
                _dot_literal(v, _hyperplane(p, 64)) >= 0,
                F.lit(1).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            for p in range(_Q207_PLANES)
        ]
    )
    return emb.select(
        "vec_id", F.posexplode(bits).alias("plane", "sign_bit")
    ).select(
        "vec_id", F.col("plane").cast("bigint").alias("plane"), "sign_bit"
    )


def _q207_sql() -> str:
    from ..operators.similarity import _hyperplane

    arms = []
    for p in range(_Q207_PLANES):
        lit = ", ".join(repr(x) for x in _hyperplane(p, 64))
        arms.append(
            f"SELECT vec_id, CAST({p} AS BIGINT) AS plane,\n"
            f"       CAST(CASE WHEN list_dot_product(v, [{lit}]) >= 0\n"
            f"            THEN 1 ELSE 0 END AS BIGINT) AS sign_bit FROM E"
        )
    body = "\nUNION ALL\n".join(arms)
    return (
        f"WITH {EMBEDDINGS_CTE},\n"
        "E AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings)\n"
        + body
    )


_Q207_SQL = _q207_sql()


# ---------------------------------------------------------------- q93
def q93_bpe_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One iteration of BPE tokenizer training: count adjacent
    character pairs across the corpus weighted by word frequency, and
    report the top-30 merge candidates — the inner loop of building a
    subword vocabulary from a 100 TB corpus.

    Two bounded aggregations: words collapse to (word, freq) FIRST
    (the heavy exploded token stream partial-aggregates map-side;
    the exchange carries |vocab| rows), then each distinct word fans
    out to its ~len(word) bigrams exactly once — pair counting runs
    on the vocabulary, not the corpus.  All counts integer; top-30
    is TakeOrdered."""
    from ..functions import char_ngrams

    docs = load(spark, sf_dir, "documents").select("text")
    words = (
        docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.length("w") >= 2)
    )
    return (
        words.select(F.explode(char_ngrams(F.col("w"), 2)).alias("pair"), "c")
        .groupBy("pair")
        .agg(F.sum("c").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(30)
    )


_Q93_SQL = r"""
WITH words AS (
  SELECT lower(tok) AS w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(regexp_extract_all(text, '\S+')) AS tok FROM documents)
  GROUP BY 1
), prs AS (
  SELECT unnest(list_transform(range(1, length(w)),
                               i -> substring(w, i::INT, 2))) AS pair, c
  FROM words WHERE length(w) >= 2
)
SELECT pair, CAST(sum(c) AS BIGINT) AS n
FROM prs GROUP BY pair ORDER BY n DESC, pair LIMIT 30
"""


# --------------------------------------------------------------- q114
def q114_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorization-risk passage detection: 8-word shingles appearing
    in 3+ distinct documents, with their posting lists — the span
    finder that runs before training to locate boilerplate/duplicated
    passages that per-document dedup misses (doc pairs below any
    similarity threshold can still share one verbatim paragraph).

    Scale shape: the per-doc-distinct shingles feed ONE
    partial-aggregated exchange keyed by the passage string.

    ``doc_ids`` is a comma-joined STRING (not ArrayType) so the
    output is hashable by pandas-based result canonicalizers."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # one pass beat the prefilter at every swept size (AB_floor_span.json)
    return _q114_aggregate(_q114_shingles(docs))


def _q114_shingles(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(word_shingles(tokens(F.lower(F.col("text"))), 8))
        ).alias("passage"),
    )


def _q114_aggregate(sh: DataFrame) -> DataFrame:
    """The >= 3 floor is applied on the true passage string, so a
    hot-hash prefiltered input (collisions only ADD rows) lands on the
    same result as the full shingle set."""
    return (
        sh.groupBy("passage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_set("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("doc_ids"),
        )
        .filter(F.col("n_docs") >= 3)
        .orderBy(F.col("n_docs").desc(), "passage")
    )


_Q114_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+7], ' ') AS passage
  FROM t, unnest(range(1, len(toks) - 6)) u(i)
  WHERE len(toks) >= 8
)
SELECT passage, CAST(count(*) AS BIGINT) AS n_docs,
       array_to_string(list(doc_id ORDER BY doc_id), ',') AS doc_ids
FROM sh GROUP BY passage HAVING count(*) >= 3
ORDER BY n_docs DESC, passage
"""


# --------------------------------------------------------------- q123
_BPE_ROUNDS = 3


def _bpe_merge_round(vocab: DataFrame, iteration: int) -> tuple[DataFrame, DataFrame]:
    """One BPE training round over the (word, freq, seq) vocab table:
    count adjacent symbol pairs weighted by word frequency, pick the
    most frequent pair (cnt DESC, left ASC, right ASC — a total
    order), and merge every greedy-leftmost non-overlapping occurrence
    of it.  Greedy-leftmost selection is exact: occurrences can only
    overlap when left == right, and then consecutive match positions
    form an island where canonical BPE takes the 1st, 3rd, … — i.e.
    odd ranks within (word, pos − row_number) islands.

    Returns (merged vocab, one-row merge record)."""
    from pyspark.sql import Window

    tok = vocab.select(
        "word",
        "freq",
        F.posexplode(F.split("seq", " ")).alias("pos", "tok"),
    )
    wv = Window.partitionBy("word").orderBy("pos")
    tok = tok.withColumn("nxt", F.lead("tok").over(wv))
    counts = (
        tok.filter(F.col("nxt").isNotNull())
        .groupBy(F.col("tok").alias("merge_left"), F.col("nxt").alias("merge_right"))
        .agg(F.sum("freq").alias("pair_freq"))
    )
    top1 = counts.orderBy(
        F.col("pair_freq").desc(), "merge_left", "merge_right"
    ).limit(1)
    merge_row = top1.select(
        F.lit(iteration).cast("bigint").alias("iteration"),
        "merge_left",
        "merge_right",
        "pair_freq",
    )
    matched = tok.join(
        F.broadcast(top1),
        (F.col("tok") == F.col("merge_left")) & (F.col("nxt") == F.col("merge_right")),
    ).select("word", "pos")
    rn = F.row_number().over(wv)
    isl = Window.partitionBy("word", F.col("pos") - F.col("rn")).orderBy("pos")
    selected = (
        matched.withColumn("rn", rn)
        .withColumn("rw", F.row_number().over(isl))
        .filter(F.col("rw") % 2 == 1)
        .select("word", F.col("pos").alias("sel_pos"))
    )
    start = selected.withColumnRenamed("sel_pos", "pos")
    absorbed = selected.select("word", (F.col("sel_pos") + 1).alias("pos"))
    rebuilt = (
        tok.join(start.withColumn("is_start", F.lit(True)), ["word", "pos"], "left")
        .join(absorbed.withColumn("is_gone", F.lit(True)), ["word", "pos"], "left")
        .filter(F.col("is_gone").isNull())
        .select(
            "word",
            "freq",
            "pos",
            F.when(F.col("is_start"), F.concat("tok", "nxt"))
            .otherwise(F.col("tok"))
            .alias("new_tok"),
        )
    )
    merged = rebuilt.groupBy("word", "freq").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "new_tok"))),
                lambda x: x.new_tok,
            ),
            " ",
        ).alias("seq")
    )
    return merged, merge_row


def q123_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE tokenizer training, 3 merge rounds: the corpus is
    scanned ONCE into a (word, freq, char-seq) vocab table, then every
    round — pair counting, argmax merge selection, greedy-leftmost
    merge application — runs on the vocab alone (canonical Sennrich'16
    procedure: q93 is its single-round profile, this is the loop).

    Scale shape: ONE corpus-scale exchange builds the vocab; each
    round is 2 small exchanges over |vocab| rows (window per word on
    ≤ ~25-symbol sequences, then re-aggregate), the selected pair
    attaches by broadcast, and the vocab is persisted per round so
    the lineage doesn't re-expand.  |vocab| is a few million words on
    a 100 TB corpus — trivially partition-parallel, no driver loop
    state beyond the round count.

    Exactness: pair counts are integer word-frequency sums; the merge
    choice uses the total order (count DESC, left, right); greedy-
    leftmost occurrence selection is the island-parity window — every
    stage has a 1:1 SQL twin, so the generated chained-CTE oracle
    matches bit-for-bit.  Returns (iteration, merge_left, merge_right,
    pair_freq) — the learned merge table."""
    docs = load(spark, sf_dir, "documents")
    return bpe_train(docs, text_col="text", rounds=_BPE_ROUNDS)


def _bpe_run(
    docs: DataFrame, *, text_col: str = "text", rounds: int = 3
) -> tuple[DataFrame, list[DataFrame]]:
    """Shared BPE loop: corpus → (final vocab state, per-round merge
    rows).  Train (q123) consumes the merge rows, encode (q170) the
    final vocab — one machinery, so the trained tokenizer and the
    applied one are byte-identical by construction."""
    vocab = (
        docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "word",
            "freq",
            F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("seq"),
        )
    )
    merges = []
    for i in range(1, rounds + 1):
        # localCheckpoint truncates the lineage each round: without it
        # the physical plan re-derives round N from the raw corpus
        # (stage count grows linearly in rounds — 25 shuffles for 3
        # rounds); with it each round plans against the materialized
        # previous vocab, so stage count per round is flat.
        vocab = vocab.localCheckpoint(eager=False)
        vocab, merge_row = _bpe_merge_round(vocab, i)
        merges.append(merge_row)
    return vocab, merges


def bpe_train(docs: DataFrame, *, text_col: str = "text", rounds: int = 3) -> DataFrame:
    """Corpus → learned BPE merge table (see :func:`q123_bpe_train`)."""
    _, merges = _bpe_run(docs, text_col=text_col, rounds=rounds)
    out = merges[0]
    for mr in merges[1:]:
        out = out.unionAll(mr)
    return out


def _bpe_cte_chain(rounds: int = _BPE_ROUNDS) -> str:
    """The generated chained-CTE program shared by the q123 and q170
    oracles — one tok/top/sel/v block per merge round, ending after
    the last CTE (no final SELECT)."""
    parts = [
        r"""WITH v1 AS (
  SELECT word, CAST(count(*) AS BIGINT) AS freq,
         trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS seq
  FROM (SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS word
        FROM documents)
  GROUP BY word
)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", tok{i} AS (
  SELECT word, freq, CAST(u.i AS BIGINT) AS pos,
         toks[CAST(u.i AS INTEGER) + 1] AS tok,
         CASE WHEN u.i + 1 < len(toks)
              THEN toks[CAST(u.i AS INTEGER) + 2] END AS nxt
  FROM (SELECT word, freq, string_split(seq, ' ') AS toks FROM v{i}),
       unnest(range(len(toks))) u(i)
), top{i} AS (
  SELECT tok AS merge_left, nxt AS merge_right,
         CAST(sum(freq) AS BIGINT) AS pair_freq
  FROM tok{i} WHERE nxt IS NOT NULL
  GROUP BY 1, 2
  ORDER BY pair_freq DESC, merge_left, merge_right
  LIMIT 1
), sel{i} AS (
  SELECT word, pos FROM (
    SELECT word, pos,
           row_number() OVER (PARTITION BY word, pos - rn ORDER BY pos) AS rw
    FROM (SELECT t.word, t.pos,
                 row_number() OVER (PARTITION BY t.word ORDER BY t.pos) AS rn
          FROM tok{i} t, top{i} p
          WHERE t.tok = p.merge_left AND t.nxt = p.merge_right)
  ) WHERE rw % 2 = 1
), v{i + 1} AS (
  SELECT t.word, t.freq,
         string_agg(CASE WHEN s.pos IS NOT NULL THEN t.tok || t.nxt
                         ELSE t.tok END, ' ' ORDER BY t.pos) AS seq
  FROM tok{i} t
  LEFT JOIN sel{i} s ON s.word = t.word AND s.pos = t.pos
  LEFT JOIN sel{i} d ON d.word = t.word AND d.pos = t.pos - 1
  WHERE d.pos IS NULL
  GROUP BY t.word, t.freq
)"""
        )
    return "".join(parts)


def _bpe_oracle_sql(rounds: int = _BPE_ROUNDS) -> str:
    """Full q123 oracle: the shared CTE chain + the merge-list
    selects.  q170 composes the SAME chain with a different final
    select (``_bpe_encode_oracle_sql``) — neither oracle is derived
    by splitting the other's generated text, so reformatting the
    generator can't silently corrupt either."""
    selects = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS iteration, merge_left, merge_right,"
        f" pair_freq FROM top{i}"
        for i in range(1, rounds + 1)
    )
    return _bpe_cte_chain(rounds) + "\n" + selects


_Q123_SQL = _bpe_oracle_sql()


# --------------------------------------------------------------- q170
def q170_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE *application*: the encoded word vocabulary after the 3
    trained merges — train (q123) and apply share the greedy-leftmost
    island-parity merge machinery, so the tokenizer a user trains is
    byte-identical to the one that encodes (the property HF/Sennrich
    tokenizers guarantee and downstream token counts depend on).

    Output is the encoding TABLE (word, freq, encoding, n_symbols):
    applying it to a corpus is then one broadcast hash-join on word —
    corpus text never passes through the iterative stages.  Oracle:
    the same generated chained-CTE program as q123, selecting the
    final vocab state instead of the merge list."""
    docs = load(spark, sf_dir, "documents")
    vocab, _ = _bpe_run(docs, text_col="text", rounds=_BPE_ROUNDS)
    return vocab.select(
        "word",
        "freq",
        F.col("seq").alias("encoding"),
        F.size(F.split("seq", " ")).alias("n_symbols"),
    )


def _bpe_encode_oracle_sql(rounds: int = _BPE_ROUNDS) -> str:
    """q170 oracle: the shared CTE chain + the final-vocab select
    (composed from :func:`_bpe_cte_chain`, never by splitting the
    q123 oracle's generated text)."""
    return (
        _bpe_cte_chain(rounds)
        + f"""
SELECT word, freq, seq AS encoding,
       CAST(len(string_split(seq, ' ')) AS INT) AS n_symbols
FROM v{rounds + 1}
"""
    )


_Q170_SQL = _bpe_encode_oracle_sql()


# --------------------------------------------------------------- q178
def q178_corpus_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE *corpus application* — the step a training pipeline runs on
    every document after training (q123) and encoding-table build
    (q170): per-document whitespace-word count and BPE token count
    under the trained merges.

    Shape: the corpus word stream joins the |vocab|-sized encoding
    table on word (every corpus word is in the vocab by construction,
    so the inner join is lossless), then ONE per-doc aggregation.  The
    iterative merge machinery never touches corpus-scale data — at
    100 TB the vocab join is the textbook broadcast/bucketed dimension
    join and this query is two exchanges total."""
    docs = load(spark, sf_dir, "documents")
    vocab, _ = _bpe_run(docs, text_col="text", rounds=_BPE_ROUNDS)
    enc = vocab.select(
        "word", F.size(F.split("seq", " ")).cast("bigint").alias("n_symbols")
    )
    words = docs.select(
        "doc_id", F.explode(tokens(F.lower(F.col("text")))).alias("word")
    )
    return (
        words.join(enc, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_symbols").alias("n_tokens"),
        )
    )


def _bpe_apply_oracle_sql(rounds: int = _BPE_ROUNDS) -> str:
    return (
        _bpe_cte_chain(rounds)
        + f""", enc AS (
  SELECT word, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_symbols
  FROM v{rounds + 1}
), w AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS word
  FROM documents
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_symbols) AS BIGINT) AS n_tokens
FROM w JOIN enc USING (word)
GROUP BY doc_id
"""
    )


_Q178_SQL = _bpe_apply_oracle_sql()


# --------------------------------------------------------------- q179
def q179_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per language: BPE tokens per
    whitespace word (micro-units, exact integer rational) — the
    standard multilingual-tokenizer health check (a language with
    outlier fertility is being over-fragmented, inflating its
    effective cost in the token budget).  Same lossless vocab join as
    q178, aggregated by the declared ``lang`` column."""
    docs = load(spark, sf_dir, "documents")
    vocab, _ = _bpe_run(docs, text_col="text", rounds=_BPE_ROUNDS)
    enc = vocab.select(
        "word", F.size(F.split("seq", " ")).cast("bigint").alias("n_symbols")
    )
    words = docs.select(
        F.coalesce("lang", F.lit("")).alias("lang"),
        F.explode(tokens(F.lower(F.col("text")))).alias("word"),
    )
    return (
        words.join(enc, "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_symbols").alias("n_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            F.expr("(1000000L * n_tokens) DIV n_words").alias("fertility_micro"),
        )
    )


def _bpe_fertility_oracle_sql(rounds: int = _BPE_ROUNDS) -> str:
    return (
        _bpe_cte_chain(rounds)
        + f""", enc AS (
  SELECT word, CAST(len(string_split(seq, ' ')) AS BIGINT) AS n_symbols
  FROM v{rounds + 1}
), w AS (
  SELECT coalesce(lang, '') AS lang,
         unnest(regexp_extract_all(lower(text), '\\S+')) AS word
  FROM documents
), agg AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
         CAST(sum(n_symbols) AS BIGINT) AS n_tokens
  FROM w JOIN enc USING (word)
  GROUP BY lang
)
SELECT lang, n_words, n_tokens,
       (1000000 * n_tokens) // n_words AS fertility_micro
FROM agg
"""
    )


_Q179_SQL = _bpe_fertility_oracle_sql()


# --------------------------------------------------------------- q120
def q120_domain_distinctive_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain distinctive vocabulary: the 5 tokens whose relative
    frequency in a domain most exceeds their corpus-wide frequency
    (the "lift" TF ratio behind domain-drift dashboards and mixture
    debugging in corpus curation).

    Exactness: lift = (c_d/N_d) / (c/N) = c_d·N / (c·N_d) is kept as
    an exact integer rational — ``lift_micro = (1e6·c_d·N) DIV
    (c·N_d)`` with an explicit (lift DESC, token ASC) tiebreak — so
    no float ever enters the ordering and both engines agree
    bit-for-bit.  Magnitudes: c_d·N ≤ (corpus tokens)², safe in
    BIGINT to ~1e6-token test corpora; at 100 TB the product moves to
    DECIMAL(38,0) with the same plan shape.

    Scale shape: ONE corpus-scale exchange (explode tokens →
    hash-agg keyed by (source, token) with map-side partials).  Every
    downstream stage — corpus counts, domain totals, the rank window
    — re-aggregates the already-compact vocab×domain table, and the
    totals attach back by broadcast, so the corpus is scanned and
    shuffled exactly once."""
    docs = load(spark, sf_dir, "documents").select("source", "text")
    tok = docs.select(
        "source", F.explode(tokens(F.lower(F.col("text")))).alias("token")
    )
    dom = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("dom_count"))
    dom = dom.transform(scoped_persist)  # feeds corpus counts, domain totals, and the join
    corpus = dom.groupBy("token").agg(F.sum("dom_count").alias("corpus_count"))
    dom_tot = dom.groupBy("source").agg(F.sum("dom_count").alias("dom_total"))
    grand = dom.agg(F.sum("dom_count").alias("grand_total"))
    lifted = (
        dom.filter(F.col("dom_count") >= 5)
        .join(F.broadcast(corpus), "token")
        .join(F.broadcast(dom_tot), "source")
        .crossJoin(F.broadcast(grand))
        .select(
            "source",
            "token",
            "dom_count",
            "corpus_count",
            F.expr(
                "(1000000L * dom_count * grand_total)"
                " DIV (corpus_count * dom_total)"
            ).alias("lift_micro"),
        )
    )
    return top_k_per_group(
        lifted,
        group_by=["source"],
        order_by=[F.col("lift_micro").desc(), F.col("token")],
        k=5,
        rank_col="rnk",
    )


_Q120_SQL = r"""
WITH tok AS (
  SELECT source, unnest(regexp_extract_all(lower(text), '\S+')) AS token
  FROM documents
), dom AS (
  SELECT source, token, CAST(count(*) AS BIGINT) AS dom_count
  FROM tok GROUP BY 1, 2
), corpus AS (
  SELECT token, CAST(sum(dom_count) AS BIGINT) AS corpus_count
  FROM dom GROUP BY 1
), dom_tot AS (
  SELECT source, CAST(sum(dom_count) AS BIGINT) AS dom_total
  FROM dom GROUP BY 1
), grand AS (
  SELECT CAST(sum(dom_count) AS BIGINT) AS grand_total FROM dom
), lifted AS (
  SELECT d.source, d.token, d.dom_count, c.corpus_count,
         CAST((1000000 * d.dom_count * g.grand_total)
              // (c.corpus_count * t.dom_total) AS BIGINT) AS lift_micro
  FROM dom d
  JOIN corpus c USING (token)
  JOIN dom_tot t USING (source)
  CROSS JOIN grand g
  WHERE d.dom_count >= 5
)
SELECT source, token, dom_count, corpus_count, lift_micro,
       CAST(row_number() OVER (PARTITION BY source
                               ORDER BY lift_micro DESC, token) AS BIGINT) AS rnk
FROM lifted
QUALIFY rnk <= 5
"""


# --------------------------------------------------------------- q137
def q137_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-pair collocations by document-level lift — the log-free
    exact sibling of PMI (ln diverges across libm builds; lift = the
    same ranking since log is monotone): for token pairs co-occurring
    in ≥5 documents, lift = P(a,b)/(P(a)·P(b)) computed as ONE
    division of exact integer products (c_ab·N / df_a·df_b).

    Scale shape: documents collapse to DISTINCT tokens before any
    pairing, the pair generation is a doc-keyed self-join (fan-out
    u²/2 per doc where u = distinct tokens — bounded by vocabulary
    per doc, not corpus size; at 100 TB you'd band u with a per-doc
    top-N-by-rarity cap first), the ≥5 support filter runs inside the
    pair aggregate, and the doc-frequency dimension broadcasts back
    onto the surviving pairs."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens(F.lower(F.col("text"))))).alias("t"),
    )
    df_t = tok.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    a, b = tok.alias("a"), tok.alias("b")
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("a.t") < F.col("b.t"))
        .groupBy(F.col("a.t").alias("token_a"), F.col("b.t").alias("token_b"))
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    da = df_t.select(F.col("t").alias("token_a"), F.col("df").alias("__dfa"))
    db = df_t.select(F.col("t").alias("token_b"), F.col("df").alias("__dfb"))
    return (
        pairs.join(F.broadcast(da), "token_a")
        .join(F.broadcast(db), "token_b")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token_a",
            "token_b",
            "c_ab",
            (
                (F.col("c_ab") * F.col("n_docs")).cast("double")
                / (F.col("__dfa") * F.col("__dfb")).cast("double")
            ).alias("lift"),
        )
    )


_Q137_SQL = r"""
WITH T AS (
  SELECT doc_id,
         unnest(list_distinct(regexp_extract_all(lower(text), '\S+'))) AS t
  FROM documents
), DF AS (
  SELECT t, CAST(count(*) AS BIGINT) AS df FROM T GROUP BY 1
), N AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), PAIRS AS (
  SELECT a.t AS token_a, b.t AS token_b, CAST(count(*) AS BIGINT) AS c_ab
  FROM T a JOIN T b USING (doc_id)
  WHERE a.t < b.t
  GROUP BY 1, 2
  HAVING count(*) >= 5
)
SELECT token_a, token_b, c_ab,
       CAST(c_ab * n_docs AS DOUBLE) / CAST(da.df * db.df AS DOUBLE) AS lift
FROM PAIRS
JOIN DF da ON da.t = token_a
JOIN DF db ON db.t = token_b
CROSS JOIN N
"""


# --------------------------------------------------------------- q157
def q157_frequent_tokens_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory heavy hitters: distributed Misra–Gries over the
    token stream (capacity 64 counters per partition — the shuffle
    carries ≤ capacity×partitions rows no matter how large the
    vocabulary), survivors exact-verified with one semi-joined
    re-count.  Rows-only in the gate (which items the sketch retains
    beyond the guaranteed set depends on partitioning); the GUARANTEE
    — every token above the 2n/(capacity+1) frequency floor present,
    estimates never exceeding truth — is pinned by unit tests."""
    from ..operators.sketches import frequent_items

    docs = load(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.lower(F.col("text")))).alias("token"))
    return frequent_items(
        tok, item_col="token", capacity=64, min_share=0.01, verify=True
    )


# ---------------------------------------------------------------- q192
#: RRF constant (Cormack et al. 2009's k=60), candidate depth per
#: retrieval system, and fused output depth.
_RRF_K = 60
_HY_CAND = 50
_HY_OUT = 10


def q192_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval with reciprocal-rank fusion —
    the round-7 flagship: for each query document (doc_id < 4), rank
    the corpus twice — lexically by distinct-token Jaccard overlap
    and densely by embedding cosine — take each system's top-50
    candidates, and fuse with RRF
    ``score = Σ_systems 1_000_000 DIV (60 + rank)`` (Cormack et al.,
    SIGIR 2009), emitting the fused top-10 per query.  This is the
    standard first stage of a RAG / hard-negative-mining stack: no
    single ranker's score scale has to be calibrated because fusion
    consumes only RANKS, which also makes the whole query exactly
    integer-reproducible end to end (the one float — cosine — is used
    purely for ordering, the regime q13 already proves bit-identical
    across engines).

    Scale shape: the lexical branch broadcasts the |Q| query token
    sets over the corpus (BroadcastNestedLoopJoin on a 4-row side —
    map-side scoring, the corpus never shuffles to score) and the
    dense branch is the q13 Arrow kernel (query block rides in the
    UDF closure, corpus partitions score locally).  Both branches end
    in a per-query top-k window over |corpus|x|Q| scalar candidate
    rows — the documented local-to-cluster swap (SCALE.md: replace
    with per-partition heap top-k + re-rank of P*k survivors when |Q|
    is small enough to skew the rank exchange).  Fusion itself is a
    tiny shuffled full-outer join over two |Q|x50-row candidate lists
    (Spark cannot broadcast full_outer) — trivially flat at any
    corpus size."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tk = docs.select(
        "doc_id",
        F.array_distinct(tokens(F.lower(F.col("text")))).alias("toks"),
    )
    qk = tk.filter(F.col("doc_id") < 4).select(
        F.col("doc_id").alias("query_id"),
        F.col("toks").alias("qt"),
        F.size("toks").cast("bigint").alias("qn"),
    )
    lex_scored = (
        tk.join(F.broadcast(qk), F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("doc_id").alias("item_id"),
            F.size(F.array_intersect("toks", "qt")).cast("bigint").alias("inter"),
            (F.size("toks").cast("bigint") + F.col("qn")).alias("sz"),
        )
        .filter(F.col("inter") > 0)
        # Jaccard = inter/(|A|+|B|-inter) as an exact micro-unit
        # rational; ranking ties broken by item_id in both engines
        .select(
            "query_id",
            "item_id",
            F.expr("(1000000 * inter) DIV (sz - inter)").alias("score_micro"),
        )
    )
    lex = top_k_per_group(
        lex_scored,
        group_by=["query_id"],
        order_by=[F.col("score_micro").desc(), F.col("item_id").asc()],
        k=_HY_CAND,
        rank_col="lex_rank",
    ).select("query_id", "item_id", "lex_rank")
    emb = load_vectors(spark, sf_dir)
    dense = brute_force_topk_arrow(
        emb,
        emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        id_col="vec_id",
        vec_col="embedding",
        query_id="query_id",
        k=_HY_CAND,
    ).select("query_id", F.col("vec_id").alias("item_id"), F.col("rank").alias("dense_rank"))
    fused = lex.join(dense, ["query_id", "item_id"], "full_outer").select(
        "query_id",
        "item_id",
        (
            F.coalesce(F.expr(f"1000000 DIV ({_RRF_K} + lex_rank)"), F.lit(0))
            + F.coalesce(F.expr(f"1000000 DIV ({_RRF_K} + dense_rank)"), F.lit(0))
        ).cast("bigint").alias("rrf_micro"),
    )
    return (
        top_k_per_group(
            fused,
            group_by=["query_id"],
            order_by=[F.col("rrf_micro").desc(), F.col("item_id").asc()],
            k=_HY_OUT,
            rank_col="fused_rank",
        )
        .select("query_id", "item_id", "fused_rank", "rrf_micro")
        .orderBy("query_id", "fused_rank")
    )


_Q192_SQL = rf"""
WITH {EMBEDDINGS_CTE}, tk AS (
  SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '\S+')) AS toks
  FROM documents
),
q AS (SELECT doc_id AS query_id, toks AS qt FROM tk WHERE doc_id < 4),
lexs AS (
  SELECT q.query_id, c.doc_id AS item_id,
         CAST(len(list_intersect(c.toks, q.qt)) AS BIGINT) AS inter,
         CAST(len(c.toks) + len(q.qt) AS BIGINT) AS sz
  FROM q, tk c
  WHERE c.doc_id <> q.query_id
),
lexr AS (
  SELECT query_id, item_id,
         CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY (1000000 * inter) // (sz - inter) DESC, item_id
         ) AS BIGINT) AS lex_rank
  FROM lexs WHERE inter > 0
  QUALIFY lex_rank <= {_HY_CAND}
),
E AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
dens AS (
  SELECT qe.vec_id AS query_id, c.vec_id AS item_id,
         list_cosine_similarity(qe.v, c.v) AS cos_sim
  FROM E qe JOIN E c ON c.vec_id <> qe.vec_id
  WHERE qe.vec_id < 4
),
denr AS (
  SELECT query_id, item_id,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cos_sim DESC, item_id
         ) AS BIGINT) AS dense_rank
  FROM dens
  QUALIFY dense_rank <= {_HY_CAND}
),
fused AS (
  SELECT COALESCE(l.query_id, d.query_id) AS query_id,
         COALESCE(l.item_id, d.item_id) AS item_id,
         CAST(COALESCE(1000000 // ({_RRF_K} + l.lex_rank), 0)
            + COALESCE(1000000 // ({_RRF_K} + d.dense_rank), 0) AS BIGINT) AS rrf_micro
  FROM lexr l
  FULL OUTER JOIN denr d
    ON l.query_id = d.query_id AND l.item_id = d.item_id
)
SELECT query_id, item_id,
       CAST(row_number() OVER (
         PARTITION BY query_id ORDER BY rrf_micro DESC, item_id
       ) AS BIGINT) AS fused_rank,
       rrf_micro
FROM fused
QUALIFY fused_rank <= {_HY_OUT}
"""


QUERIES = {
    "q170_bpe_encode": q170_bpe_encode,
    "q178_corpus_tokenize": q178_corpus_tokenize,
    "q179_tokenizer_fertility": q179_tokenizer_fertility,
    "q89_inverted_index": q89_inverted_index,
    "q137_collocation_lift": q137_collocation_lift,
    "q157_frequent_tokens_sketch": q157_frequent_tokens_sketch,
    "q90_bm25_topk": q90_bm25_topk,
    "q192_hybrid_retrieval": q192_hybrid_retrieval,
    "q91_pagerank_suppliers": q91_pagerank_suppliers,
    "q92_cluster_representatives": q92_cluster_representatives,
    "q92_cluster_reps_lsh": q92_cluster_reps_lsh,
    "q206_cluster_reps_lsh_dialed": q206_cluster_reps_lsh_dialed,
    "q207_plane_sign_parity_canary": q207_plane_sign_parity_canary,
    "q93_bpe_merge_pairs": q93_bpe_merge_pairs,
    "q114_repeated_passages": q114_repeated_passages,
    "q120_domain_distinctive_tokens": q120_domain_distinctive_tokens,
    "q123_bpe_train": q123_bpe_train,
}

ORACLE = {
    "q170_bpe_encode": _Q170_SQL,
    "q178_corpus_tokenize": _Q178_SQL,
    "q179_tokenizer_fertility": _Q179_SQL,
    "q89_inverted_index": _Q89_SQL,
    "q137_collocation_lift": _Q137_SQL,
    "q90_bm25_topk": _Q90_SQL,
    "q192_hybrid_retrieval": _Q192_SQL,
    "q91_pagerank_suppliers": _Q91_SQL,
    "q92_cluster_representatives": _Q92_SQL,
    "q92_cluster_reps_lsh": _Q92_LSH_SQL,
    "q206_cluster_reps_lsh_dialed": _Q206_SQL,
    "q207_plane_sign_parity_canary": _Q207_SQL,
    "q93_bpe_merge_pairs": _Q93_SQL,
    "q114_repeated_passages": _Q114_SQL,
    "q120_domain_distinctive_tokens": _Q120_SQL,
    "q123_bpe_train": _Q123_SQL,
}
