"""LLM-training-data pipeline queries (SURVEY.md §2G q12/q13 + the
north-star operator set): dedup family + near-dup clustering,
similarity search, text analysis, reproducible sampling, sequence
packing, decontamination, embedding maintenance, data profiling,
multimodal plumbing.

Oracle-design notes:
- cosine: DuckDB ``list_cosine_similarity`` on DOUBLE[] is bit-exact
  vs Spark's ``zip_with``+``aggregate`` fold for every NON-SELF pair
  of this float32-widened data family (an empirical property, not an
  IEEE identity: self-pairs diverge by 1 ulp and arbitrary-precision
  inputs diverge at ulp level — see q204_cosine_parity_canary, the
  registered tripwire) — q13 compares raw doubles, no tolerance.
- ratios/scores: both engines evaluate the same IEEE expression tree
  over exactly-equal integer inputs → bit-identical doubles.
- MinHash/SimHash pipelines hash with xxhash64 (no DuckDB
  equivalent) → rows-only checks; their numeric correctness is
  unit-tested in tests/test_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import (
    embedding_near_duplicates,
    exact_duplicate_groups,
    minhash_near_duplicates,
    ngram_jaccard_on_pairs,
    portable_hash60,
    simhash_near_duplicates,
)
from ..operators.ids import assign_stable_ids
from ..operators.multimodal import audio_energy_windows, decode_media, synthesize_media
from ..operators.similarity import (
    assign_cells,
    brute_force_topk_arrow,
    cell_assigner,
    cosine_block_scores,
    ivf_topk,
    knn_graph_exact,
    lsh_topk,
    pq_adc_scorer,
    seed_centroids,
    semdedup,
    train_ivf_centroids,
)
from ..operators.text import with_fingerprint, with_lang_id, with_text_stats
from ..operators.topk import top_k_per_group
from ..functions import (
    char_ngrams,
    cosine_similarity,
    jaccard,
    tokens,
    word_shingles,
)
from ..session import scoped_persist
from ..tables import DOCUMENTS_CTE, EMBEDDINGS_CTE, load, load_texts, load_vectors


# ---------------------------------------------------------------- q12
def q12_text_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate pairs over documents (rows-only:
    xxhash64 signatures have no DuckDB twin; recall/precision are
    unit-tested against brute-force Jaccard)."""
    docs = load(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs, id_col="doc_id", text_col="text", shingle_k=3, threshold=0.2
    )


def q12_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (Hamming ≤ 3) over documents
    (rows-only)."""
    docs = load(spark, sf_dir, "documents")
    return simhash_near_duplicates(docs, id_col="doc_id", text_col="text", max_hamming=3)


def q12_text_dedup_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME MinHash+LSH pipeline as q12_text_dedup but on the
    portable md5-derived hash family — every step (string hash,
    universal-family minima, band tuples, bucket-size guard, Jaccard
    verify) has an exact DuckDB twin, so this variant is FULLY
    oracle-paired: the zero-tolerance gate verifies the entire
    approximate pipeline, not just row counts.  (The xxhash64 variant
    stays registered as the throughput path — same plan shape, ~3×
    cheaper hashing.)"""
    docs = load(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs, id_col="doc_id", text_col="text", shingle_k=3, threshold=0.2, portable=True
    )


def _minhash_portable_sql(num_hashes: int = 64, num_bands: int = 16) -> str:
    from ..operators.dedup import MERSENNE_P, minhash_family_coeffs

    coeffs = minhash_family_coeffs(num_hashes)
    p = MERSENNE_P
    mins = ",\n         ".join(
        f"min((hm * {a} + {b}) % {p}) AS m{i}" for i, (a, b) in enumerate(coeffs)
    )
    rpb = num_hashes // num_bands
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, {ks} FROM sig".format(
            b=b,
            ks=", ".join(f"m{b * rpb + r} AS k{r + 1}" for r in range(rpb)),
        )
        for b in range(num_bands)
    )
    return f"""
WITH docs AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(toks) - 1),
           i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])
         )) AS shingles
  FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks FROM documents)
  WHERE len(toks) >= 3
),
ex AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(s.s), 1, 15)) AS BIGINT) % {p} AS hm
  FROM docs, UNNEST(shingles) AS s(s)
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM ex GROUP BY doc_id
),
bands AS (
{band_selects}
),
ok AS (
  SELECT band, k1, k2, k3, k4
  FROM bands GROUP BY 1, 2, 3, 4, 5
  HAVING count(*) BETWEEN 2 AND 1000
),
b2 AS (SELECT bands.* FROM bands SEMI JOIN ok USING (band, k1, k2, k3, k4)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM b2 a JOIN b2 b USING (band, k1, k2, k3, k4)
  WHERE a.doc_id < b.doc_id
),
verified AS (
  SELECT id_a, id_b,
         CASE WHEN len(list_distinct(list_concat(da.shingles, db.shingles))) = 0
              THEN 0.0
              ELSE CAST(len(list_intersect(da.shingles, db.shingles)) AS DOUBLE)
                   / CAST(len(list_distinct(list_concat(da.shingles, db.shingles)))
                          AS DOUBLE)
         END AS jaccard_sim
  FROM cand
  JOIN docs da ON da.doc_id = cand.id_a
  JOIN docs db ON db.doc_id = cand.id_b
)
SELECT id_a, id_b, jaccard_sim FROM verified WHERE jaccard_sim >= 0.2
"""


_Q12_TEXT_PORTABLE_SQL = _minhash_portable_sql()


def q12_simhash_dedup_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup (Hamming ≤ 3) on the portable 60-bit
    md5-derived signature — fully oracle-paired: DuckDB recomputes
    the per-bit votes, the signature, the 4×15-bit pigeonhole
    buckets, and the bit_count verification."""
    docs = load(spark, sf_dir, "documents")
    out = simhash_near_duplicates(
        docs, id_col="doc_id", text_col="text", max_hamming=3, portable=True
    )
    return out.select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def _simhash_portable_sql(nbits: int = 60) -> str:
    votes = ",\n         ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(nbits)
    )
    bits = "\n         + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(nbits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, t.tok AS tok
  FROM (SELECT doc_id, list_distinct(regexp_extract_all(text, '\\S+')) AS tk
        FROM documents),
       UNNEST(tk) AS t(tok)
),
h AS (
  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h
  FROM toks
),
votes AS (
  SELECT doc_id,
         {votes}
  FROM h GROUP BY doc_id
),
sig AS (
  SELECT doc_id,
         {bits} AS sim
  FROM votes
),
chunks AS (
  SELECT doc_id, sim, c.chunk AS chunk, (sim >> (15 * c.chunk)) & 32767 AS ck
  FROM sig, (VALUES (0), (1), (2), (3)) c(chunk)
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
FROM chunks a
JOIN chunks b ON a.chunk = b.chunk AND a.ck = b.ck AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sim, b.sim)) <= 3
"""


_Q12_SIMHASH_PORTABLE_SQL = _simhash_portable_sql()


def q12_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate groups by normalized md5 fingerprint — the
    oracle-checkable member of the dedup family."""
    docs = load(spark, sf_dir, "documents")
    return exact_duplicate_groups(docs, id_col="doc_id", text_col="text")


_Q12_EXACT_SQL = """
SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(doc_id) AS min_doc_id
FROM documents
GROUP BY 1
"""


def q12_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — EXACT all-pairs as a
    distributed triangle block-pair join (``all_pairs_above_blocked``):
    no driver collect anywhere in the plan, no task holds more than
    two hash blocks, compute is the inherent O(n²) of the exact
    operator.  The sub-quadratic scale path of the same operator is
    ``q12_embedding_dedup_lsh``.  Threshold 0.35 ≈ the top 0.1% of
    pairs on this uniform synthetic corpus (real dedup runs at ~0.95
    on near-identical embeddings)."""
    emb = load_vectors(spark, sf_dir)
    return embedding_near_duplicates(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.35, num_planes=None
    )


_Q12_EMB_SQL = f"""
WITH {EMBEDDINGS_CTE}, E AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_cosine_similarity(a.v, b.v) AS cos_sim
FROM E a JOIN E b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.35
"""


def _plane_sql(p: int, dim: int = 64) -> str:
    """The deterministic hyperplane as a DuckDB DOUBLE[] literal.
    ``repr(float)`` round-trips, so DuckDB parses the identical IEEE
    doubles Spark embeds as plan literals."""
    from ..operators.similarity import _hyperplane

    return "[" + ",".join(repr(x) for x in _hyperplane(p, dim)) + "]::DOUBLE[]"


def _bucket_sql(col: str, *, num_planes: int = 8, dim: int = 64) -> str:
    """DuckDB twin of :func:`operators.similarity.sign_bucket`: the
    sign of each plane dot sets one bit.  ``list_inner_product``
    accumulates in the same sequential order as Spark's
    ``zip_with``+``aggregate`` fold (verified: 0/500 bucket mismatches
    at sf0.01), so the bucket ids match bit-for-bit."""
    return (
        "("
        + " + ".join(
            f"(CASE WHEN list_inner_product({col}, {_plane_sql(p, dim)}) >= 0"
            f" THEN {1 << p} ELSE 0 END)"
            for p in range(num_planes)
        )
        + ")"
    )


def q12_embedding_dedup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-scale path of embedding near-dup: candidates are
    restricted to vectors sharing an 8-plane sign bucket (a
    shuffle-partitioned equi-join on the bucket id — never all-pairs),
    then exact-cosine verified.  FULLY oracle-paired: the hyperplanes
    are deterministic compile-time constants, so the DuckDB oracle
    replicates the exact bucketing and finds the identical pair set."""
    emb = load_vectors(spark, sf_dir)
    return embedding_near_duplicates(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.35, num_planes=8, dim=64
    )


_Q12_EMB_LSH_SQL = f"""
WITH {EMBEDDINGS_CTE}, E AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
B AS (SELECT vec_id, v, {_bucket_sql('v')} AS bucket FROM E)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_cosine_similarity(a.v, b.v) AS cos_sim
FROM B a JOIN B b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.v, b.v) >= 0.35
"""


def q33_near_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS, not just pairs: connected components
    over the cosine-threshold pair graph (A~B, B~C ⇒ {A,B,C} one
    cluster) via hash-min label propagation — the transitive grouping
    step that picks one representative per duplicate family.  Oracle:
    DuckDB recursive-CTE transitive closure."""
    from ..operators.components import connected_components

    emb = load_vectors(spark, sf_dir)
    pairs = embedding_near_duplicates(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.5, num_planes=None
    )
    return connected_components(
        pairs, emb, src="id_a", dst="id_b", vertex_id="vec_id"
    ).select(F.col("id").alias("vec_id"), "component")


_Q33_SQL = f"""
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
)
SELECT id AS vec_id, min(r) AS component FROM reach GROUP BY id
"""


def q33_near_dup_components_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters over the LSH-bucketed pair graph — the
    composition a 100 TB dedup actually runs: sign-bucket candidate
    generation (no all-pairs, no driver collect) feeding hash-min
    label propagation.  Oracle: recursive-CTE transitive closure over
    the identically-bucketed pair set."""
    from ..operators.components import connected_components

    emb = load_vectors(spark, sf_dir)
    pairs = embedding_near_duplicates(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.5, num_planes=8, dim=64
    )
    return connected_components(
        pairs, emb, src="id_a", dst="id_b", vertex_id="vec_id"
    ).select(F.col("id").alias("vec_id"), "component")


_Q33_LSH_SQL = f"""
WITH RECURSIVE {EMBEDDINGS_CTE},
E AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
B AS (SELECT vec_id, v, {_bucket_sql('v')} AS bucket FROM E),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM B a JOIN B b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
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
)
SELECT id AS vec_id, min(r) AS component FROM reach GROUP BY id
"""


# ---------------------------------------------------------------- q13
def _q13_queries(emb: DataFrame) -> DataFrame:
    """The q13 family's query set: the vectors with ``vec_id < 8``."""
    return emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def q13_embedding_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for query vectors (vec_id < 8)
    over the full embedding corpus.  Only the 8-row QUERY set rides
    in the Arrow UDF closure; the corpus never leaves the executors
    (scored partition-locally by ``brute_force_topk_arrow``, then one
    per-query top-k window over |corpus|×8 scalar rows)."""
    emb = load_vectors(spark, sf_dir)
    return brute_force_topk_arrow(emb, _q13_queries(emb), k=10)


_Q13_SQL = f"""
WITH {EMBEDDINGS_CTE}, E AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
P AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         list_cosine_similarity(q.v, c.v) AS cos_sim
  FROM E q JOIN E c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 8
),
R AS (
  SELECT query_id, vec_id, cos_sim,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cos_sim DESC, vec_id
         ) AS BIGINT) AS rank
  FROM P
)
SELECT query_id, vec_id, rank, cos_sim FROM R WHERE rank <= 10
"""


def q13_embedding_sim_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate neighbors via 8-plane sign-LSH with Hamming-1
    multiprobe.  FULLY oracle-paired (upgraded from rows-only): the
    hyperplanes are deterministic constants, so the DuckDB oracle
    replicates the bucketing, the 9-bucket probe set, and the exact
    cosine re-rank — the approximation itself is verified, not just
    row counts.  The scale path: bucket pruning replaces the full
    corpus scan."""
    emb = load_vectors(spark, sf_dir)
    # 8 planes (256 buckets): on uniform random 64-dim data the
    # Hamming-1 probe set covers ~3.5% of the corpus — enough recall to
    # fill k while still pruning ~96% of the scan.
    return lsh_topk(emb, _q13_queries(emb), dim=64, k=10, num_planes=8)


_Q13_ANN_SQL = f"""
WITH {EMBEDDINGS_CTE}, E AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
B AS (SELECT vec_id, v, {_bucket_sql('v')} AS bucket FROM E),
Q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qb FROM B WHERE vec_id < 8),
P AS (
  SELECT query_id, qv, xor(qb, m.mask) AS bucket
  FROM Q, (VALUES (0),(1),(2),(4),(8),(16),(32),(64),(128)) m(mask)
),
S AS (
  SELECT DISTINCT p.query_id, c.vec_id,
         list_cosine_similarity(p.qv, c.v) AS cos_sim
  FROM P p JOIN B c USING (bucket)
  WHERE c.vec_id <> p.query_id
),
R AS (
  SELECT query_id, vec_id, cos_sim,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cos_sim DESC, vec_id
         ) AS BIGINT) AS rank
  FROM S
)
SELECT query_id, vec_id, rank, cos_sim FROM R WHERE rank <= 10
"""


def q13_embedding_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate neighbors via an IVF coarse quantizer (rows-only;
    recall vs brute force is unit-tested).  The data-adaptive scale
    path: spherical-k-means cells trained on a fixed-size sample,
    queries probe their 4 nearest of 16 cells."""
    emb = load_vectors(spark, sf_dir)
    centroids = train_ivf_centroids(emb, num_cells=16)
    return ivf_topk(emb, _q13_queries(emb), centroids=centroids, k=10, nprobe=4)


#: The deterministic IVF geometry every oracle-gated IVF query shares
#: (q13_ivf_det, q177, q196, q200, q201, q202): 16 seed cells, 4 probed
#: per query, top-10.
_IVF_CELLS = 16
_IVF_NPROBE = 4
_IVF_K = 10


def q13_embedding_sim_ivf_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe structure under the EXACT oracle gate: deterministic
    centroids (embeddings of the 16 smallest ids — random-sample init,
    zero k-means iterations) make cell assignment, nprobe probing, and
    the cosine re-rank all SQL-replicable, so DuckDB verifies the
    approximation itself, not just row counts.  Complements
    ``q13_embedding_sim_ivf`` (data-adaptive k-means, rows-only +
    recall unit tests) — the same ``ivf_topk`` probe over the other
    seed."""
    emb = load_vectors(spark, sf_dir)
    _, centroids = seed_centroids(emb, _IVF_CELLS)
    return ivf_topk(
        emb, _q13_queries(emb), centroids=centroids, k=_IVF_K, nprobe=_IVF_NPROBE
    )


def _ivf_ctes(src: str, ncells, *probes: tuple[str, str, str, int]) -> str:
    """The deterministic IVF index in SQL, one CTE chain for every IVF
    oracle.  ``C (cell, <src columns>)`` holds the ``seed_centroids``
    seed: the ``ncells`` smallest-id rows of CTE ``src`` (``vec_id``,
    ``v`` and any other columns), numbered from 0 in id order;
    ``ncells`` is an integer or a scalar SQL subquery.  Each probe
    ``(name, rows, where, topn)`` emits CTE ``name (<rows columns>,
    cell)``: every row of CTE ``rows`` that passes ``where``, once per
    each of its ``topn`` nearest cells by cosine, cell index breaking
    ties — ``cell_assigner``'s order.  ``topn`` 1 is the corpus
    assignment, ``topn`` nprobe the query probe."""
    ctes = [
        f"""C AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cell, *
  FROM (SELECT * FROM {src} ORDER BY vec_id LIMIT {ncells})
)"""
    ]
    for name, rows, where, topn in probes:
        ctes.append(
            f"""{name} AS (
  SELECT * EXCLUDE (rn) FROM (
    SELECT e.*, c.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.v) DESC, c.cell
           ) AS rn
    FROM (SELECT * FROM {rows} WHERE {where}) e CROSS JOIN C c
  ) WHERE rn <= {topn}
)"""
        )
    return ",\n".join(ctes)


def _ivf_cosine_sql(corpus: str, queries: str, *, exclude_self: bool) -> str:
    """The cosine-IVF oracle (q13_ivf_det, q196): the index over the
    embeddings passing ``corpus``, probed by those passing ``queries``,
    exact cosine re-rank to the top ``_IVF_K`` by (cos_sim desc,
    vec_id).  ``exclude_self`` drops each query's own row."""
    self_pair = "WHERE a.vec_id <> q.vec_id" if exclude_self else ""
    return f"""
WITH {EMBEDDINGS_CTE}, E AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
CORP AS (SELECT * FROM E WHERE {corpus}),
{_ivf_ctes("CORP", _IVF_CELLS, ("A", "CORP", "TRUE", 1),
           ("Q", "E", queries, _IVF_NPROBE))},
S AS (
  SELECT q.vec_id AS query_id, a.vec_id,
         list_cosine_similarity(q.v, a.v) AS cos_sim
  FROM Q q JOIN A a USING (cell)
  {self_pair}
),
R AS (
  SELECT query_id, vec_id, cos_sim,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cos_sim DESC, vec_id
         ) AS BIGINT) AS rank
  FROM S
)
SELECT query_id, vec_id, rank, cos_sim FROM R WHERE rank <= {_IVF_K}
"""


_Q13_IVF_DET_SQL = _ivf_cosine_sql("TRUE", "vec_id < 8", exclude_self=True)


# --------------------------------------------------------------- q176
def q176_knn_graph_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-NN graph over the whole embedding corpus — the
    neighborhood structure behind semantic clustering, curriculum
    ordering, and graph-based dedup audits.  Built on the distributed
    triangle block-pair join (``knn_graph_exact``): every cosine is
    scored exactly once, no driver collect, each task bounded by two
    hash blocks.  The compute is the exact graph's inherent O(n²);
    the ANN variants (q13 LSH / IVF) are the sub-quadratic trade."""
    emb = load_vectors(spark, sf_dir)
    return knn_graph_exact(emb, id_col="vec_id", vec_col="embedding", k=5)


_Q176_SQL = f"""
WITH {EMBEDDINGS_CTE}, E AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
P AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         list_cosine_similarity(a.v, b.v) AS cos_sim
  FROM E a JOIN E b ON a.vec_id <> b.vec_id
),
R AS (
  SELECT src, dst, cos_sim,
         CAST(row_number() OVER (
           PARTITION BY src ORDER BY cos_sim DESC, dst
         ) AS BIGINT) AS rank
  FROM P
)
SELECT src, dst, rank, cos_sim FROM R WHERE rank <= 5
"""


# --------------------------------------------------------------- q177
def q177_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic deduplication (Abbas et al. 2023): coarse
    k-means-style cells bound the quadratic pair work to within-cell,
    then each duplicate chain keeps its lowest-id representative.
    Deterministic quantizer (16 smallest-id embeddings as centroids,
    bit-exact assignment kernel) puts the ENTIRE published algorithm
    under the exact oracle gate — cell assignment, within-cell pair
    generation, and the keep rule all replicate in SQL.  Threshold
    0.25 ≈ the semantic-dup tail of this uniform synthetic corpus
    (production runs at ~0.95+ on real embedding spaces)."""
    emb = load_vectors(spark, sf_dir)
    return semdedup(
        emb, id_col="vec_id", vec_col="embedding", threshold=0.25, num_cells=_IVF_CELLS
    )


_Q177_SQL = f"""
WITH {EMBEDDINGS_CTE}, E AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
{_ivf_ctes("E", _IVF_CELLS, ("A", "E", "TRUE", 1))},
D AS (
  SELECT DISTINCT b.vec_id
  FROM A a JOIN A b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= 0.25
)
SELECT a.vec_id, a.cell, (d.vec_id IS NULL) AS kept
FROM A a LEFT JOIN D d ON a.vec_id = d.vec_id
"""


# ---------------------------------------------------------------- q15
def q15_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring over documents."""
    docs = load(spark, sf_dir, "documents")
    return with_text_stats(docs.select("doc_id", "text"), "text").drop("text")


_Q15_SQL = """
WITH T AS (
  SELECT doc_id,
         regexp_extract_all(text, '\\S+') AS toks,
         CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct
  FROM documents
), S AS (
  SELECT doc_id, n_punct,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(toks, x -> x IN
           ('the','and','of','to','in','is','a','that','it','for'))) AS BIGINT)
           AS n_stop,
         CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS tok_chars
  FROM T
)
SELECT doc_id, n_tokens, n_punct,
       CASE WHEN n_tokens = 0 THEN 0.0
            ELSE n_stop / CAST(n_tokens AS DOUBLE) END AS stopword_ratio,
       CASE WHEN n_tokens = 0 THEN 0.0
            ELSE tok_chars / CAST(n_tokens AS DOUBLE) END AS mean_token_len,
       least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4
         + least((CASE WHEN n_tokens = 0 THEN 0.0
                       ELSE n_stop / CAST(n_tokens AS DOUBLE) END) * 5.0, 1.0) * 0.3
         + (CASE WHEN (CASE WHEN n_tokens = 0 THEN 0.0
                            ELSE tok_chars / CAST(n_tokens AS DOUBLE) END) >= 3.0
                  AND (CASE WHEN n_tokens = 0 THEN 0.0
                            ELSE tok_chars / CAST(n_tokens AS DOUBLE) END) <= 9.0
                 THEN 0.3 ELSE 0.0 END) AS quality_score
FROM S
"""


def q32_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation pipeline a training corpus goes through,
    as one composed plan: quality-score → threshold filter → exact
    dedup (min-id representative) → per-doc token budget counts.
    Every stage is an existing operator; Catalyst fuses the whole
    chain into scan → project/filter → one agg + semi-join → project.
    """
    from ..operators.dedup import drop_exact_duplicates
    from ..operators.text import with_token_counts

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    scored = with_text_stats(docs, "text")
    kept = scored.filter(F.col("quality_score") >= 0.5)
    deduped = drop_exact_duplicates(kept, id_col="doc_id", text_col="text")
    return with_token_counts(deduped, "text").select(
        "doc_id", "quality_score", "n_ws_tokens", "n_bpe_tokens"
    )


_Q32_SQL = r"""
WITH T AS (
  SELECT doc_id, text,
         regexp_extract_all(text, '\S+') AS toks
  FROM documents
), S AS (
  SELECT doc_id, text,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(toks, x -> x IN
           ('the','and','of','to','in','is','a','that','it','for'))) AS BIGINT)
           AS n_stop,
         CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT) AS tok_chars
  FROM T
), Q AS (
  SELECT doc_id, text,
       least(CAST(n_tokens AS DOUBLE) / 50.0, 1.0) * 0.4
         + least((CASE WHEN n_tokens = 0 THEN 0.0
                       ELSE n_stop / CAST(n_tokens AS DOUBLE) END) * 5.0, 1.0) * 0.3
         + (CASE WHEN (CASE WHEN n_tokens = 0 THEN 0.0
                            ELSE tok_chars / CAST(n_tokens AS DOUBLE) END) >= 3.0
                  AND (CASE WHEN n_tokens = 0 THEN 0.0
                            ELSE tok_chars / CAST(n_tokens AS DOUBLE) END) <= 9.0
                 THEN 0.3 ELSE 0.0 END) AS quality_score
  FROM S
), K AS (
  SELECT * FROM Q WHERE quality_score >= 0.5
), R AS (
  SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp,
         min(doc_id) AS keep_id
  FROM K GROUP BY 1
)
SELECT k.doc_id, k.quality_score,
       CAST(len(regexp_extract_all(trim(k.text), '\S+')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(
         k.text, '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'
       )) AS BIGINT) AS n_bpe_tokens
FROM K k
JOIN R r ON k.doc_id = r.keep_id
"""


# ---------------------------------------------------------------- q16
def q16_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language identification."""
    docs = load_texts(spark, sf_dir)
    return with_lang_id(docs.select("doc_id", "text"), "text").drop("text")


_Q16_SQL = f"""
WITH {DOCUMENTS_CTE}, T AS (
  SELECT doc_id, list_distinct(regexp_extract_all(text, '\\S+')) AS toks
  FROM documents
), S AS (
  SELECT doc_id,
    CAST(len(list_intersect(toks, ['the','and','of','to','in','is','a','that','it','for'])) AS BIGINT) AS score_en,
    CAST(len(list_intersect(toks, ['el','la','de','que','y','en','un','por','con','una'])) AS BIGINT) AS score_es,
    CAST(len(list_intersect(toks, ['der','die','und','das','ist','von','mit','den','ein','zu'])) AS BIGINT) AS score_de,
    CAST(len(list_intersect(toks, ['le','la','et','les','des','un','une','du','est','dans'])) AS BIGINT) AS score_fr
  FROM T
)
SELECT doc_id, score_en, score_es, score_de, score_fr,
       CASE WHEN greatest(score_en, score_es, score_de, score_fr) <= 0 THEN 'und'
            WHEN score_en = greatest(score_en, score_es, score_de, score_fr) THEN 'en'
            WHEN score_es = greatest(score_en, score_es, score_de, score_fr) THEN 'es'
            WHEN score_de = greatest(score_en, score_es, score_de, score_fr) THEN 'de'
            ELSE 'fr' END AS lang_pred
FROM S
"""


# ---------------------------------------------------------------- q17
def q17_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document canonical fingerprint (doc_id → md5 of normalized
    text) — the join key for cross-corpus dedup."""
    docs = load(spark, sf_dir, "documents")
    return with_fingerprint(docs.select("doc_id", "text"), "text").drop("text")


_Q17_SQL = """
SELECT doc_id,
       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint
FROM documents
"""


# ---------------------------------------------------------------- q18
def q18_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: documents → opaque binary media table →
    Arrow-batched mapInPandas 'decode' (stubbed codec, real batch
    contract).  Oracle recomputes the deterministic fake decode in
    SQL."""
    docs = load_texts(spark, sf_dir)
    media = synthesize_media(docs)
    return decode_media(media).select(
        "doc_id", "media_type", "n_bytes", "width", "height", "checksum"
    )


_Q18_SQL = f"""
WITH {DOCUMENTS_CTE}
SELECT doc_id,
       CASE CAST(doc_id % 3 AS INTEGER)
         WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
       CAST(length(text) AS BIGINT) AS n_bytes,
       CAST(length(text) % 64 + 1 AS BIGINT) AS width,
       CAST(length(text) % 48 + 1 AS BIGINT) AS height,
       CAST(list_sum(list_transform(
              range(1, length(text) + 1, greatest(1, length(text) // 32)),
              i -> ascii(substring(text, i, 1))
            )) % 2147483648 AS BIGINT) AS checksum
FROM documents
"""


# --------------------------------------------------------------- q122
def q122_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio plumbing: the 'audio'-typed media rows fan out
    to one row per 32-byte sample window with integer signal-energy
    features (sum of squares + milli-RMS²) via an Arrow-batched
    ``mapInPandas`` featurizer — the exact stage a mel-filterbank /
    embedding extractor would occupy at 100 TB (map-only, no shuffle;
    the fan-out happens inside the Python worker on Arrow batches).

    The fake 'waveform' is the document's utf-8 payload (pure-ASCII
    fixture, so byte k == ``ord(char k)``), which lets the oracle
    replicate the featurizer in SQL bit-for-bit — the honest-stub
    pattern of q18."""
    docs = load_texts(spark, sf_dir)
    return audio_energy_windows(synthesize_media(docs), window_bytes=32)


_Q122_SQL = f"""
WITH {DOCUMENTS_CTE}, audio AS (
  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS L
  FROM documents WHERE doc_id % 3 = 1
), w AS (
  SELECT doc_id, text, L, CAST(i AS BIGINT) AS window_no,
         CAST(i AS BIGINT) * 32 + 1 AS st
  FROM audio, unnest(range((L + 31) // 32)) u(i)
), s AS (
  SELECT doc_id, window_no,
         CAST(least(32, L - st + 1) AS BIGINT) AS n_samples,
         CAST(list_sum(list_transform(
                range(st, least(st + 32, L + 1)),
                j -> ascii(substring(text, CAST(j AS INTEGER), 1))
                     * ascii(substring(text, CAST(j AS INTEGER), 1))
              )) AS BIGINT) AS ssq
  FROM w
)
SELECT doc_id, window_no, n_samples, ssq,
       CAST((1000 * ssq) // n_samples AS BIGINT) AS energy_milli
FROM s
"""


# --------------------------------------------------------------- q180
def q180_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal resize plumbing: 'image'-typed media rows resampled
    to a fixed 16-byte payload by the canonical 1-D nearest-neighbor
    rule (position j gathers byte (j·L) // 16) via an Arrow-batched
    ``mapInPandas`` stage — completing the decode / feature-extract /
    RESIZE / frame-sample multimodal quartet.  Map-only, no shuffle;
    exact integer gather positions keep the stub fully SQL-replicable
    on the ASCII fixture (q18/q122 honest-stub pattern)."""
    from ..operators.multimodal import resize_media

    docs = load(spark, sf_dir, "documents")
    return resize_media(synthesize_media(docs), target_len=16)


_Q180_SQL = """
WITH img AS (
  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS L
  FROM documents WHERE doc_id % 3 = 0 AND length(text) > 0
)
SELECT doc_id, L AS n_bytes, CAST(16 AS BIGINT) AS out_len,
       array_to_string(list_transform(
         range(16), j -> substring(text, CAST((j * L) // 16 AS INTEGER) + 1, 1)
       ), '') AS resized,
       CAST(list_sum(list_transform(
         range(16),
         j -> ascii(substring(text, CAST((j * L) // 16 AS INTEGER) + 1, 1))
       )) AS BIGINT) AS resample_checksum
FROM img
"""


# ---------------------------------------------------------------- q19
def q19_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-3-gram Jaccard over consecutive doc-id pairs — the
    standalone verification metric of the dedup family."""
    docs = load_texts(spark, sf_dir)
    pairs = docs.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    return ngram_jaccard_on_pairs(
        pairs,
        docs,
        id_a="id_a",
        id_b="id_b",
        id_col="doc_id",
        ngrams_col=char_ngrams(F.col("text"), 3),
    )


_Q19_SQL = f"""
WITH {DOCUMENTS_CTE}, G AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, length(text) - 1),
           i -> substring(text, i, 3)
         )) AS ng
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CASE WHEN len(list_distinct(list_concat(a.ng, b.ng))) = 0 THEN 0.0
            ELSE CAST(len(list_intersect(a.ng, b.ng)) AS DOUBLE)
                 / CAST(len(list_distinct(list_concat(a.ng, b.ng))) AS DOUBLE)
       END AS jaccard_sim
FROM G a JOIN G b ON b.doc_id = a.doc_id + 1
"""


# ---------------------------------------------------------------- q37
def q37_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible corpus sampling: keep ~30% of documents by a
    double-round Lehmer permutation of doc_id — partition-independent,
    rerun-stable, no engine RNG; the oracle runs the identical integer
    arithmetic, so the sampled set matches exactly (the reproducibility
    IS the tested property)."""
    from ..operators.sampling import deterministic_sample

    docs = load(spark, sf_dir, "documents")
    return deterministic_sample(docs, id_col="doc_id", rate=0.3).select(
        "doc_id", "source", "lang"
    )


_Q37_SQL = """
SELECT doc_id, source, lang
FROM documents
WHERE ((((doc_id % 2147483647) * 48271) % 2147483647) * 16807) % 2147483647
      < 644245094
"""


# ---------------------------------------------------------------- q38
def q38_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: per (lang, shard) concatenate documents
    in id order and cut every 2048 BPE tokens; each doc's ``bin`` is
    where its first token lands.  Shards are deterministic
    (``doc_id % 8``) so packing parallelism scales with shard count —
    the per-worker layout a 100 TB tokenize-and-pack job uses."""
    from ..operators.sampling import pack_sequences
    from ..operators.text import with_token_counts

    docs = with_token_counts(load(spark, sf_dir, "documents")).select(
        "doc_id", "lang", F.pmod("doc_id", F.lit(8)).alias("shard"), "n_bpe_tokens"
    )
    packed = pack_sequences(
        docs,
        shard_cols=["lang", "shard"],
        order_col="doc_id",
        tokens_col="n_bpe_tokens",
        budget=2048,
    )
    return packed.groupBy("lang", "shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe_tokens").alias("bin_tokens"),
    )


_Q38_SQL = r"""
WITH t AS (
  SELECT lang, doc_id % 8 AS shard, doc_id,
         CAST(len(regexp_extract_all(
           text, '''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+'
         )) AS BIGINT) AS n_bpe
  FROM documents
), p AS (
  SELECT lang, shard, doc_id, n_bpe,
         COALESCE(sum(n_bpe) OVER (
           PARTITION BY lang, shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS prefix
  FROM t
)
SELECT lang, shard, CAST(floor(prefix / 2048) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bpe) AS BIGINT) AS bin_tokens
FROM p
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------- q39
def q39_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: drop every document whose normalized
    fingerprint collides with the held-out eval set (here: docs with
    ``doc_id % 97 = 0``), then count surviving docs/tokens per source.
    The anti-join probes a broadcast fingerprint set — the fact-side
    corpus never shuffles."""
    from ..operators.text import with_token_counts

    docs = with_token_counts(with_fingerprint(load_texts(spark, sf_dir)))
    eval_fps = (
        docs.filter(F.pmod("doc_id", F.lit(97)) == 0).select("fingerprint").distinct()
    )
    clean = docs.join(F.broadcast(eval_fps), "fingerprint", "left_anti")
    return clean.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
    )


_Q39_SQL = rf"""
WITH {DOCUMENTS_CTE}, fp AS (
  SELECT doc_id, source,
         md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint,
         CAST(len(regexp_extract_all(
           text, '''s|''t|''re|''ve|''m|''ll|''d| ?\p{{L}}+| ?\p{{N}}+| ?[^\s\p{{L}}\p{{N}}]+'
         )) AS BIGINT) AS n_bpe
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens
FROM fp
WHERE fingerprint NOT IN (
  SELECT fingerprint FROM fp WHERE doc_id % 97 = 0
)
GROUP BY 1
"""


# ---------------------------------------------------------------- q42
def q42_embedding_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding maintenance ops ahead of any ANN index build: L2 norm,
    unit-normalization, and int8 quantization (the 4x storage shrink
    every 100 TB vector corpus applies before indexing).  All array
    lambdas run JVM-side; quantization uses ``floor(x*127 + 0.5)``
    (clamped) instead of ``round`` — floor of a double is bit-exact on
    every engine, Spark/DuckDB ``round`` are not (HALF_UP on decimal
    repr vs binary).

    Output is exploded to one row per (vec_id, pos) with scalar
    ``unit_val``/``int8_val`` columns: top-level ArrayType columns are
    unhashable by pandas-based result canonicalizers, and stringifying
    doubles is engine-divergent — the exploded scalar form keeps the
    values bit-exact AND hashable.  (The array-shaped variant is a
    trivial re-``collect_list`` over this.)"""
    emb = load_vectors(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    norm = F.sqrt(
        F.aggregate(
            F.zip_with(v, v, lambda a, b: a * b), F.lit(0.0), lambda acc, t: acc + t
        )
    )
    base = emb.select("vec_id", norm.alias("l2_norm"), v.alias("v"))
    return base.select(
        "vec_id",
        "l2_norm",
        F.posexplode("v").alias("pos", "x"),
    ).select(
        "vec_id",
        "l2_norm",
        F.col("pos").cast("bigint").alias("pos"),
        (F.col("x") / F.col("l2_norm")).alias("unit_val"),
        F.greatest(
            F.lit(-127.0),
            F.least(F.lit(127.0), F.floor(F.col("x") * 127.0 + 0.5)),
        )
        .cast("bigint")
        .alias("int8_val"),
    )


_Q42_SQL = f"""
WITH {EMBEDDINGS_CTE}, E AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x),
                             'sum')) AS l2_norm
  FROM embeddings
)
SELECT vec_id, l2_norm, CAST(i - 1 AS BIGINT) AS pos,
       v[i] / l2_norm AS unit_val,
       CAST(greatest(-127.0, least(127.0, floor(v[i] * 127.0 + 0.5)))
            AS BIGINT) AS int8_val
FROM E, unnest(range(1, len(v) + 1)) u(i)
"""


# --------------------------------------------------------------- q133
def q133_token_rarity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-rarity quality profile — the log-free exact
    sibling of LM-surprisal scoring (transcendental ``ln`` is NOT
    bit-identical across engines' libm, so the profile sticks to
    integer statistics of each token's corpus frequency): rarest-token
    count, lower-median token frequency (explicit sorted-array
    selection, deterministic), and the rare-token fraction (corpus
    frequency < 10) as the usual one-division rational.  Low median /
    high rare fraction flags gibberish and boilerplate-free outliers
    exactly like high surprisal does.

    Scale shape: ONE corpus exchange builds the vocab counts; the
    vocab broadcasts back onto the exploded token stream; the per-doc
    aggregate is the only other exchange."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.posexplode(tokens(F.lower(F.col("text")))).alias("pos", "token")
    )
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    per_doc = (
        tok.join(F.broadcast(vocab), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.min("tf").alias("min_tf"),
            F.sort_array(F.collect_list("tf")).alias("__tfs"),
            F.sum((F.col("tf") < 10).cast("bigint")).alias("n_rare"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "min_tf",
        F.element_at(
            F.col("__tfs"),
            F.floor((F.col("n_tokens") + 1) / 2).cast("int"),
        ).alias("median_tf"),
        "n_rare",
        (F.col("n_rare") / F.col("n_tokens").cast("double")).alias("rare_frac"),
    )


_Q133_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS token
  FROM documents
), vocab AS (
  SELECT token, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1
), j AS (
  SELECT t.doc_id, v.tf FROM tok t JOIN vocab v USING (token)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       min(tf) AS min_tf,
       (list_sort(list(tf)))[CAST((count(*) + 1) // 2 AS INTEGER)] AS median_tf,
       CAST(sum(CASE WHEN tf < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       CAST(sum(CASE WHEN tf < 10 THEN 1 ELSE 0 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS rare_frac
FROM j
GROUP BY doc_id
"""


# --------------------------------------------------------------- q134
def q134_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training data prep: for each query vector, the 5
    most-similar vectors with a DIFFERENT label — the "hard negatives"
    that make embedding models learn (easy negatives are random; hard
    ones are the near-misses).  The label filter runs BEFORE the rank
    window, and the 8-query side broadcasts, so the corpus never
    shuffles for the scoring; the WindowGroupLimit prune bounds the
    rank exchange at queries × 5.

    Exactness: the cosine fold is the engine's sequential-order kernel
    (bit-identical to DuckDB's ``list_cosine_similarity`` — same
    IEEE accumulation, verified by q13), tiebreak on vec_id."""
    emb = load_vectors(spark, sf_dir)
    v = F.col("embedding").cast("array<double>")
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        v.alias("qv"),
    )
    c = emb.select("vec_id", "label", v.alias("cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("q_label"))
        .select(
            "query_id",
            "vec_id",
            cosine_similarity(F.col("qv"), F.col("cv")).alias("cos_sim"),
        )
    )
    return top_k_per_group(
        scored,
        group_by=["query_id"],
        order_by=[F.col("cos_sim").desc(), F.col("vec_id")],
        k=5,
        rank_col="rank",
    )


_Q134_SQL = f"""
WITH {EMBEDDINGS_CTE}, E AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
P AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
         list_cosine_similarity(q.v, c.v) AS cos_sim
  FROM E q JOIN E c ON c.label <> q.label
  WHERE q.vec_id < 8
),
R AS (
  SELECT query_id, vec_id, cos_sim,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cos_sim DESC, vec_id
         ) AS BIGINT) AS rank
  FROM P
)
SELECT query_id, vec_id, rank, cos_sim FROM R WHERE rank <= 5
"""


# --------------------------------------------------------------- q124
_JL_IN_DIM = 64
_JL_OUT_DIM = 16


def _jl_signs(out_dim: int = _JL_OUT_DIM, in_dim: int = _JL_IN_DIM) -> list[list[int]]:
    """Deterministic Rademacher (±1) projection matrix via a Lehmer
    sequence — embedded as plan literals in Spark and SQL literals in
    the oracle, the same shared-constants pattern as the q13 LSH
    hyperplanes."""
    x, rows = 1, []
    for _ in range(out_dim):
        row = []
        for _ in range(in_dim):
            x = (x * 48271) % ((1 << 31) - 1)
            row.append(1 if x & 1 else -1)
        rows.append(row)
    return rows


def q124_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction: 64-dim vectors
    projected to 16 dims with a fixed Rademacher ±1 matrix — the
    standard cheap shrink before ANN indexing / clustering at corpus
    scale (distance-preserving w.h.p., no training pass, no data
    shuffle: the projection is map-only, the matrix lives in the
    plan).

    Exactness: each output component is a left-associated chain of
    ±CAST(e[k] AS DOUBLE) additions — identical operand order and
    IEEE double ops in both engines, so the projected vectors match
    bit-for-bit with no tolerance.

    The whole 16×64-term projection is ONE generated SQL expression
    (Spark array indexing is 0-based vs DuckDB's 1-based — only the
    subscripts differ from the oracle text).  Building it as 2048
    chained Column objects costs a py4j round-trip per operator
    (~13 s of driver time before any data moves); one ``F.expr``
    parse is milliseconds — the same plan, constructed sanely.

    Output is 16 scalar columns ``proj_0..proj_15`` (NOT a top-level
    double array — see q42's docstring — and NOT exploded rows, which
    would 16× the output for no reason): the projection stays
    map-only, one row per vector, every cell pandas-hashable."""
    emb = load_vectors(spark, sf_dir)
    comps = [
        " + ".join(
            f"CAST(embedding[{k}] AS DOUBLE) * CAST({s} AS DOUBLE)"
            for k, s in enumerate(row)
        )
        for row in _jl_signs()
    ]
    return emb.select(
        "vec_id",
        *[F.expr(c).alias(f"proj_{i}") for i, c in enumerate(comps)],
    )


def _jl_oracle_sql() -> str:
    comps = []
    for i, row in enumerate(_jl_signs()):
        expr = " + ".join(
            f"CAST(embedding[{k + 1}] AS DOUBLE) * CAST({s} AS DOUBLE)"
            for k, s in enumerate(row)
        )
        comps.append(f"{expr} AS proj_{i}")
    arr = ",\n  ".join(comps)
    # vector-ops contract (tables.load_vectors): NULL embeddings excluded
    return (
        f"SELECT vec_id,\n  {arr}\n"
        "FROM embeddings WHERE embedding IS NOT NULL"
    )


_Q124_SQL = _jl_oracle_sql()


# ---------------------------------------------------------------- q43
def q43_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-training data-quality audit of the corpus in ONE pass: row
    count, per-column null counts, numeric min/max, exact distinct
    counts — a single partial-aggregated scan reduced to one row
    (versus the #columns-passes naive profile, which at 100 TB is the
    difference between an audit and a week)."""
    from ..operators.profile import profile_table

    docs = load(spark, sf_dir, "documents")
    return profile_table(
        docs, numeric_cols=["n_chars"], distinct_cols=["lang", "source"]
    )


_Q43_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN doc_id  IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_doc_id,
       CAST(sum(CASE WHEN text    IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_text,
       CAST(sum(CASE WHEN lang    IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_lang,
       CAST(sum(CASE WHEN source  IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_source,
       CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_n_chars,
       min(n_chars) AS min_n_chars,
       max(n_chars) AS max_n_chars,
       CAST(count(DISTINCT lang)   AS BIGINT) AS distinct_lang,
       CAST(count(DISTINCT source) AS BIGINT) AS distinct_source
FROM documents
"""


# --------------------------------------------------------------- q135
def q135_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric per-vector quantization audit — the storage
    transform a 100 TB embedding store actually ships (4× smaller than
    float32, 8× than float64): per vector, the scale (max |x|), the
    max absolute reconstruction error after round-trip, and the count
    of clipped lanes.  Every per-lane op (divide, scale, ``floor(x +
    0.5)`` half-up, clamp, dequantize, subtract, abs) is a fixed IEEE
    sequence, and the per-vector reductions are max/count — order-
    independent, so the whole audit is engine-exact with no float-sum
    caveats.  Map-only: zero shuffles, pure codegen over the array
    column."""
    emb = load_vectors(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("__v")
    )
    scale = F.array_max(F.transform(F.col("__v"), lambda x: F.abs(x)))
    emb = emb.withColumn("__s", scale)
    raw_q = lambda x: F.floor(x / F.col("__s") * F.lit(127.0) + F.lit(0.5))  # noqa: E731
    deq = lambda x: (  # noqa: E731
        F.greatest(F.least(raw_q(x), F.lit(127.0)), F.lit(-127.0))
        * F.col("__s")
        / F.lit(127.0)
    )
    return emb.select(
        "vec_id",
        F.col("__s").alias("scale"),
        F.when(F.col("__s") == 0, F.lit(0.0))
        .otherwise(
            F.array_max(F.transform(F.col("__v"), lambda x: F.abs(x - deq(x))))
        )
        .alias("max_abs_err"),
        F.when(F.col("__s") == 0, F.lit(0).cast("bigint"))
        .otherwise(
            F.size(F.filter(F.col("__v"), lambda x: F.abs(raw_q(x)) > 127.0)).cast(
                "bigint"
            )
        )
        .alias("n_clipped"),
    )


_Q135_SQL = f"""
WITH {EMBEDDINGS_CTE}, E AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), S AS (
  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM E
)
SELECT vec_id, scale,
       CASE WHEN scale = 0 THEN 0.0 ELSE
         list_max(list_transform(v, x -> abs(x -
           greatest(least(floor(x / scale * 127.0 + 0.5), 127.0), -127.0)
             * scale / 127.0)))
       END AS max_abs_err,
       CASE WHEN scale = 0 THEN 0 ELSE
         CAST(len(list_filter(v, x ->
           abs(floor(x / scale * 127.0 + 0.5)) > 127.0)) AS BIGINT)
       END AS n_clipped
FROM S
"""


# --------------------------------------------------------------- q136
def q136_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/validation split with a leakage audit — the check every
    training pipeline needs before it trusts its eval numbers: docs
    are split 80/20 by a PORTABLE deterministic hash of the id (md5-
    derived, no RNG state, identical in any engine), then each val doc
    is scored by how many of its distinct 5-grams also occur anywhere
    in the train split.  A val doc with high overlap is a leaked
    near-copy that inflates eval.

    Scale shape: the val side is the small side (20%) — its exploded
    grams broadcast into a semi-join against the train gram stream
    would be backwards; instead BOTH sides explode once and meet in
    one hash join on the gram (train grams deduped first), then one
    per-doc aggregate.  No all-pairs anything."""
    from ..operators.dedup import portable_hash60

    docs = load_texts(spark, sf_dir)
    split = docs.withColumn(
        "__is_val", portable_hash60(F.col("doc_id").cast("string")) % 10 >= 8
    )
    grams = F.array_distinct(word_shingles(tokens(F.col("text")), 5))
    # generator rides alone (q61's CollapseProject lesson)
    val_grams = split.filter(F.col("__is_val")).select(
        "doc_id", F.explode(grams).alias("g")
    )
    train_grams = (
        split.filter(~F.col("__is_val")).select(F.explode(grams).alias("g")).distinct()
    )
    hits = (
        val_grams.join(train_grams, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_leaked"))
    )
    per_doc = split.filter(F.col("__is_val")).select(
        "doc_id", F.size(grams).cast("bigint").alias("n_grams")
    )
    return per_doc.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        F.coalesce("n_leaked", F.lit(0)).cast("bigint").alias("n_leaked"),
        F.when(F.col("n_grams") == 0, F.lit(0.0))
        .otherwise(
            F.coalesce("n_leaked", F.lit(0)).cast("double")
            / F.col("n_grams").cast("double")
        )
        .alias("leak_frac"),
    )


_Q136_SQL = rf"""
WITH {DOCUMENTS_CTE}, D AS (
  SELECT doc_id, text,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 10 >= 8
           AS is_val
  FROM documents
), T AS (
  SELECT doc_id, is_val, regexp_extract_all(trim(text), '\S+') AS toks FROM D
), G AS (
  SELECT doc_id, is_val,
         CASE WHEN len(toks) >= 5 THEN
           list_distinct([array_to_string(toks[i:i+4], ' ')
                          FOR i IN range(1, len(toks) - 3)])
         ELSE [] END AS grams
  FROM T
), V AS (
  SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS g FROM G WHERE is_val
), TR AS (
  SELECT DISTINCT unnest(grams) AS g FROM G WHERE NOT is_val
)
SELECT v.doc_id,
       CAST(any_value(v.n_grams) AS BIGINT) AS n_grams,
       CAST(count(tr.g) AS BIGINT) AS n_leaked,
       CASE WHEN any_value(v.n_grams) = 0 THEN 0.0
            ELSE CAST(count(tr.g) AS DOUBLE)
                   / CAST(any_value(v.n_grams) AS DOUBLE) END AS leak_frac
FROM V v LEFT JOIN TR tr USING (g)
GROUP BY v.doc_id
UNION ALL
SELECT doc_id, 0, 0, 0.0 FROM G WHERE is_val AND len(grams) = 0
"""


# --------------------------------------------------------------- q140
def q140_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification over the embedding store: each held-out
    query vector (id < 20) is labeled by majority vote of its 10
    nearest corpus neighbors (id ≥ 20) — the zero-training baseline
    every embedding-quality eval starts from.  Reuses the exact
    brute-force top-k (corpus never shuffles, queries ride the Arrow
    closure); the vote argmax is a deterministic (votes ↓, label ↑)
    window pick, and the label dimension attaches by broadcast."""
    emb = load_vectors(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 20)
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    topk = brute_force_topk_arrow(
        corpus, queries, id_col="vec_id", vec_col="embedding",
        query_id="query_id", k=10,
    )
    labels = emb.select("vec_id", "label")
    votes = (
        topk.join(F.broadcast(labels), "vec_id")
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    pred = top_k_per_group(
        votes,
        group_by=["query_id"],
        order_by=[F.col("votes").desc(), F.col("label").asc()],
        k=1,
    )
    truth = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return pred.join(F.broadcast(truth), "query_id").select(
        "query_id", "true_label", F.col("label").alias("pred_label"), "votes"
    )


_Q140_SQL = f"""
WITH {EMBEDDINGS_CTE}, E AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
P AS (
  SELECT q.vec_id AS query_id, c.vec_id AS vec_id, c.label,
         list_cosine_similarity(q.v, c.v) AS cos_sim
  FROM E q JOIN E c ON c.vec_id >= 20
  WHERE q.vec_id < 20
),
R AS (
  SELECT query_id, vec_id, label,
         row_number() OVER (
           PARTITION BY query_id ORDER BY cos_sim DESC, vec_id
         ) AS rank
  FROM P
),
V AS (
  SELECT query_id, label, CAST(count(*) AS BIGINT) AS votes
  FROM R WHERE rank <= 10 GROUP BY 1, 2
),
W AS (
  SELECT query_id, label, votes,
         row_number() OVER (
           PARTITION BY query_id ORDER BY votes DESC, label
         ) AS rn
  FROM V
)
SELECT w.query_id, e.label AS true_label, w.label AS pred_label, w.votes
FROM W w JOIN E e ON e.vec_id = w.query_id
WHERE w.rn = 1
"""


# --------------------------------------------------------------- q144
def q144_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with EXACT per-stratum quotas: every source
    contributes ceil(20%) of its documents, chosen by the portable
    md5-derived hash order (rerun-stable, partition-independent, no
    RNG) — the corpus-mixture building block when a rate-based keep
    (q37) would leave small strata under-represented.  One exchange on
    the stratum; rank and stratum size share the partition."""
    from ..operators.dedup import portable_hash60

    docs = load(spark, sf_dir, "documents")
    h = portable_hash60(F.col("doc_id").cast("string"))
    w = Window.partitionBy("source").orderBy(h, F.col("doc_id"))
    wn = Window.partitionBy("source")
    r = docs.select(
        "doc_id",
        "source",
        F.row_number().over(w).cast("bigint").alias("sample_rank"),
        F.count(F.lit(1)).over(wn).alias("__n"),
    )
    return r.filter(
        F.col("sample_rank") <= F.ceil(F.col("__n") * 0.2)
    ).select("doc_id", "source", "sample_rank")


_Q144_SQL = """
WITH R AS (
  SELECT doc_id, source,
         CAST(row_number() OVER (
           PARTITION BY source
           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                    doc_id
         ) AS BIGINT) AS sample_rank,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT doc_id, source, sample_rank
FROM R WHERE sample_rank <= ceil(n * 0.2)
"""


# --------------------------------------------------------------- q162
def q162_cross_validation_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible k-fold assignment (k=5) by the portable hash —
    every document lands in exactly one fold, assignment is
    partition-independent and rerun-stable (no RNG), and the audit
    rolls up per (fold, source) so stratification skew is visible
    before any training run burns compute on a bad split.  Map-only
    assignment; one partial-agg exchange for the audit."""
    from ..operators.dedup import portable_hash60

    docs = load(spark, sf_dir, "documents")
    fold = (portable_hash60(F.col("doc_id").cast("string")) % 5).alias("fold")
    assigned = docs.select(fold, "source", "n_chars")
    return assigned.groupBy("fold", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars_total"),
    )


_Q162_SQL = """
SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 5 AS fold,
       source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars_total
FROM documents
GROUP BY 1, 2
"""


# --------------------------------------------------------------- q158
def q158_source_language_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixture diversity per source: language counts and the
    Gini impurity 1 − Σ(cᵢ/n)² — the log-free exact sibling of
    Shannon entropy (ln is not bit-portable across libm builds;
    impurity ranks mixtures the same way).  Expressed as the single
    rational (n² − Σcᵢ²)/n²: integer numerator and denominator, ONE
    division.  Two partial-aggregated exchanges: (source, lang)
    counts, then the per-source fold."""
    docs = load(spark, sf_dir, "documents")
    by_lang = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    per_source = by_lang.groupBy("source").agg(
        F.sum("c").alias("n_docs"),
        F.count(F.lit(1)).alias("n_langs"),
        F.sum(F.col("c") * F.col("c")).alias("__ssq"),
    )
    return per_source.select(
        "source",
        "n_docs",
        "n_langs",
        (
            (F.col("n_docs") * F.col("n_docs") - F.col("__ssq")).cast("double")
            / (F.col("n_docs") * F.col("n_docs")).cast("double")
        ).alias("lang_gini"),
    )


_Q158_SQL = """
WITH BL AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS c
  FROM documents GROUP BY 1, 2
)
SELECT source,
       CAST(sum(c) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_langs,
       CAST(sum(c) * sum(c) - sum(c * c) AS DOUBLE)
         / CAST(sum(c) * sum(c) AS DOUBLE) AS lang_gini
FROM BL
GROUP BY source
"""


# --------------------------------------------------------------- q148
def q148_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame extraction plumbing, oracle-gated: the 'video'
    subset of the synthetic media table fans out into per-frame rows
    (64-byte slices standing in for decoded frames) through a
    generator ``mapInPandas`` — the 1→N Arrow batch shape real frame
    extraction has.  The fake decode is deterministic byte slicing, so
    DuckDB replicates every frame boundary and payload byte and the
    gate hash-verifies the full fan-out, not just row counts.  (Real
    codecs are honestly stubbed — see ``decode_media``; the Spark-side
    contract is the deliverable.)

    The operator's ``frame`` column is BINARY (the real contract for
    decoded frames); the registered query projects it to STRING
    because the driver's pandas canonicalizer cannot hash ``bytearray``
    cells (round-5 driver-red).  The corpus is verified single-byte
    ASCII (q180's ``resized`` pattern), so the cast is lossless and
    the gate still hash-verifies every payload byte."""
    from ..operators.multimodal import frame_sample

    docs = load_texts(spark, sf_dir)
    media = synthesize_media(docs)
    fs = frame_sample(media, every_n_bytes=64)
    return fs.select(
        "doc_id", "frame_no", F.col("frame").cast("string").alias("frame")
    )


# The corpus is verified single-byte (octet_length(encode(text)) =
# length(text) for every row), so char slicing yields the identical
# frame payloads as the operator's byte slicing cast to STRING.
_Q148_SQL = f"""
WITH {DOCUMENTS_CTE}
SELECT d.doc_id,
       CAST(t.i AS BIGINT) AS frame_no,
       substr(d.text, CAST(t.i * 64 + 1 AS INT), 64) AS frame
FROM documents d,
     UNNEST(range(0, CAST(ceil(octet_length(encode(d.text)) / 64.0) AS BIGINT)))
       AS t(i)
WHERE d.doc_id % 3 = 2
"""


# --------------------------------------------------------------- q141
def q141_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair contamination matrix: for every pair of sources,
    the count of distinct normalized 5-grams they share — the
    provenance audit that finds mirror sites, scraped re-posts, and
    licensing leaks BETWEEN corpus components (q61 audits docs against
    one benchmark; this audits every source against every other).

    Scale shape: ONE corpus pass — grams collapse to (gram, source)
    DISTINCT pairs, each gram folds its sources into a sorted set
    (bounded by #sources, not corpus size), and the pair fan-out is
    the in-array combination expansion: ≤ C(#sources,2) rows per gram,
    never a corpus-sized self-join (a two-branch join would scan,
    tokenize, and explode the corpus twice)."""
    docs = load(spark, sf_dir, "documents")
    grams = F.array_distinct(word_shingles(tokens(F.col("text")), 5))
    gs = docs.select("source", F.explode(grams).alias("g")).distinct()
    by_gram = (
        gs.groupBy("g")
        .agg(F.sort_array(F.collect_set("source")).alias("__ss"))
        .filter(F.size("__ss") >= 2)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("__ss"),
            lambda x, i: F.transform(
                F.slice(F.col("__ss"), i + 2, F.size(F.col("__ss"))),
                lambda y: F.struct(x.alias("source_a"), y.alias("source_b")),
            ),
        )
    )
    return (
        by_gram.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.source_a").alias("source_a"), F.col("p.source_b").alias("source_b"))
        .agg(F.count(F.lit(1)).alias("shared_grams"))
    )


_Q141_SQL = r"""
WITH T AS (
  SELECT source, regexp_extract_all(trim(text), '\S+') AS toks FROM documents
), G AS (
  SELECT DISTINCT source,
         unnest([array_to_string(toks[i:i+4], ' ')
                 FOR i IN range(1, len(toks) - 3)]) AS g
  FROM T WHERE len(toks) >= 5
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS shared_grams
FROM G a JOIN G b USING (g)
WHERE a.source < b.source
GROUP BY 1, 2
"""


# ---------------------------------------------------------------- q173
def q173_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: the summary block a corpus release ships
    with — doc/token counts, language/source cardinalities, exact
    duplicate rate (via the canonical fingerprint), mean and EXACT
    median document length (upper-median convention for even counts: the first histogram value whose cumulative count reaches (n+1)/2).

    Scale shape: one corpus scan feeds one hash aggregation (counts,
    sums, distincts); the exact median is selected from the *length
    HISTOGRAM* (groupBy n_chars → cumulative count → min value with
    cum ≥ (n+1)/2) — the ordered window runs over ≤
    |distinct lengths| rows, never the corpus, so there is no global
    row sort anywhere.  Every output is an integer or one division
    over identical integers."""
    from ..operators.text import normalized_fingerprint

    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "n_chars",
        "lang",
        "source",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_toks"),
        normalized_fingerprint("text").alias("fp"),
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("fp").alias("n_unique"),
    )
    hist = base.groupBy("n_chars").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("c").over(w))
    median = (
        cum.crossJoin(F.broadcast(stats.select("n_docs")))
        .filter(F.col("cum") >= (F.col("n_docs") - 1) / 2 + 1)
        .agg(F.min("n_chars").alias("median_chars"))
    )
    # try_divide: an EMPTY corpus has n_docs = 0 and the card's ratios
    # are NULL — matching DuckDB, whose /0 yields NULL, where ANSI
    # Spark's bare `/` would throw DIVIDE_BY_ZERO (empty-input gate)
    return stats.crossJoin(F.broadcast(median)).select(
        "n_docs",
        "n_tokens",
        "n_langs",
        "n_sources",
        F.try_divide(
            F.col("total_chars").cast("double"), F.col("n_docs")
        ).alias("avg_chars"),
        "median_chars",
        (F.col("n_docs") - F.col("n_unique")).alias("dup_docs"),
        F.try_divide(
            (F.col("n_docs") - F.col("n_unique")).cast("double"),
            F.col("n_docs"),
        ).alias("dup_rate"),
    )


_Q173_SQL = """
WITH base AS (
  SELECT n_chars, lang, source,
         CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_toks,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
  FROM documents
),
s AS (
  SELECT count(*) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         count(DISTINCT lang) AS n_langs,
         count(DISTINCT source) AS n_sources,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         count(DISTINCT fp) AS n_unique
  FROM base
),
hist AS (SELECT n_chars, count(*) AS c FROM base GROUP BY n_chars),
cum AS (
  SELECT n_chars,
         sum(c) OVER (ORDER BY n_chars
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM hist
),
m AS (
  SELECT min(n_chars) AS median_chars
  FROM cum CROSS JOIN s
  WHERE cum >= (n_docs - 1) / 2 + 1
)
SELECT n_docs, n_tokens, n_langs, n_sources,
       CAST(total_chars AS DOUBLE) / n_docs AS avg_chars,
       median_chars,
       CAST(n_docs - n_unique AS BIGINT) AS dup_docs,
       CAST(n_docs - n_unique AS DOUBLE) / n_docs AS dup_rate
FROM s CROSS JOIN m
"""


# ---------------------------------------------------------------- q175
def q175_lang_label_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit: confusion matrix between the DECLARED
    ``lang`` column and the stopword-overlap language-id prediction
    (q16's operator), with per-cell counts and each cell's share of
    its declared-label total (``disagree_share`` is 0 on diagonal
    cells and n_docs/declared_total off-diagonal — a per-CELL share;
    the per-label disagreement RATE is the sum of the off-diagonal
    shares within a declared label) — the check that catches
    mislabeled metadata before language-filtered training mixes are
    drawn.

    Scale shape: lang-id is a map-side expression; ONE hash
    aggregation on (declared, predicted); the per-label total attaches
    by a window over the |labels|² matrix, not the corpus.  Rates are
    one division over identical integers."""
    docs = load_texts(spark, sf_dir)
    pred = with_lang_id(docs.select("lang", "text")).select(
        F.coalesce("lang", F.lit("")).alias("declared"), "lang_pred"
    )
    cells = pred.groupBy("declared", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("declared")
    return cells.select(
        "declared",
        "lang_pred",
        "n_docs",
        F.sum("n_docs").over(w).alias("declared_total"),
        (
            F.when(F.col("declared") == F.col("lang_pred"), F.lit(0)).otherwise(
                F.col("n_docs")
            ).cast("double")
            / F.sum("n_docs").over(w)
        ).alias("disagree_share"),
    )


_Q175_SQL = f"""
WITH {DOCUMENTS_CTE}, T AS (
  SELECT coalesce(lang, '') AS declared,
         list_distinct(regexp_extract_all(text, '\\S+')) AS toks
  FROM documents
), S AS (
  SELECT declared,
    len(list_intersect(toks, ['the','and','of','to','in','is','a','that','it','for'])) AS score_en,
    len(list_intersect(toks, ['el','la','de','que','y','en','un','por','con','una'])) AS score_es,
    len(list_intersect(toks, ['der','die','und','das','ist','von','mit','den','ein','zu'])) AS score_de,
    len(list_intersect(toks, ['le','la','et','les','des','un','une','du','est','dans'])) AS score_fr
  FROM T
), P AS (
  SELECT declared,
         CASE WHEN greatest(score_en, score_es, score_de, score_fr) <= 0 THEN 'und'
              WHEN score_en = greatest(score_en, score_es, score_de, score_fr) THEN 'en'
              WHEN score_es = greatest(score_en, score_es, score_de, score_fr) THEN 'es'
              WHEN score_de = greatest(score_en, score_es, score_de, score_fr) THEN 'de'
              ELSE 'fr' END AS lang_pred
  FROM S
), C AS (
  SELECT declared, lang_pred, count(*) AS n_docs FROM P GROUP BY 1, 2
)
SELECT declared, lang_pred, n_docs,
       CAST(sum(n_docs) OVER (PARTITION BY declared) AS BIGINT) AS declared_total,
       CAST(CASE WHEN declared = lang_pred THEN 0 ELSE n_docs END AS DOUBLE)
         / CAST(sum(n_docs) OVER (PARTITION BY declared) AS BIGINT)
         AS disagree_share
FROM C
"""


# ---------------------------------------------------------------- q174
def q174_template_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/template detection: documents sharing their first
    8 tokens grouped into template clusters (count, representative,
    source spread, share of corpus) — the cheap screen that catches
    generated/boilerplate families (cookie banners, scaffold pages)
    before the expensive near-dup passes run.

    Scale shape: ONE hash aggregation keyed by the 8-token prefix
    (map-side partial; the exchange carries |templates| rows).  Share
    is one division over identical integers."""
    docs = load(spark, sf_dir, "documents")
    t = tokens(F.lower(F.col("text")))
    base = docs.select(
        "doc_id",
        "source",
        F.concat_ws(" ", F.slice(t, 1, 8)).alias("prefix"),
    ).filter(F.size(t) >= 8)
    total = base.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        base.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("rep_doc_id"),
            F.countDistinct("source").alias("n_sources"),
        )
        .filter(F.col("n_docs") >= 2)
        .crossJoin(F.broadcast(total))
        .select(
            "prefix",
            "n_docs",
            "rep_doc_id",
            "n_sources",
            (F.col("n_docs").cast("double") / F.col("n_total")).alias("corpus_share"),
        )
    )


_Q174_SQL = """
WITH base AS (
  SELECT doc_id, source,
         array_to_string(t[1:8], ' ') AS prefix
  FROM (SELECT doc_id, source, regexp_extract_all(lower(text), '\\S+') AS t
        FROM documents)
  WHERE len(t) >= 8
),
total AS (SELECT count(*) AS n_total FROM base)
SELECT prefix,
       count(*) AS n_docs,
       min(doc_id) AS rep_doc_id,
       count(DISTINCT source) AS n_sources,
       CAST(count(*) AS DOUBLE) / max(n_total) AS corpus_share
FROM base CROSS JOIN total
GROUP BY prefix
HAVING count(*) >= 2
"""


# ---------------------------------------------------------------- q171
def q171_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation energy audit: per vector, the fraction of
    L2 norm retained by the first 32/16/8 of 64 dims
    (``‖v[:k]‖/‖v‖``) plus per-corpus summary flags — the check run
    before shipping truncated (MRL-style) embeddings to a cheaper ANN
    tier.  Map-only: one codegen'd pass, no shuffle except the final
    nothing (per-row output).

    Exactness: dot products are sequential ``aggregate`` folds over
    DOUBLE (bit-identical to DuckDB's ``list_inner_product`` loop, the
    q13-verified pairing); sqrt and one division are IEEE-identical on
    identical operands."""
    emb = load_vectors(spark, sf_dir)
    v = F.transform("embedding", lambda x: x.cast("double"))

    def dot(x):
        return F.aggregate(
            F.zip_with(x, x, lambda a, b: a * b), F.lit(0.0), lambda acc, y: acc + y
        )

    full = F.sqrt(dot(v))
    out = [F.col("vec_id")]
    for k in (32, 16, 8):
        out.append((F.sqrt(dot(F.slice(v, 1, k))) / full).alias(f"retained_{k}"))
    return emb.select(*out)


_Q171_SQL = f"""
WITH {EMBEDDINGS_CTE}, E AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings)
SELECT vec_id,
       sqrt(list_inner_product(v[1:32], v[1:32]))
         / sqrt(list_inner_product(v, v)) AS retained_32,
       sqrt(list_inner_product(v[1:16], v[1:16]))
         / sqrt(list_inner_product(v, v)) AS retained_16,
       sqrt(list_inner_product(v[1:8], v[1:8]))
         / sqrt(list_inner_product(v, v)) AS retained_8
FROM E
"""


# ---------------------------------------------------------------- q172
def q172_kwic_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context (KWIC) index for a fixed term set: every
    occurrence of each term with its 1-based token position and a
    ±1-token context window — the retrieval artifact behind
    concordance UIs and prompt-leak audits (where did this phrase
    appear, in what context).

    Shape: ONE map-only pass — tokenize, posexplode, IN-filter — no
    joins, no shuffle; the corpus is scanned once and the output is
    occurrence-proportional.  Window arithmetic is exact integer
    slicing, identical on both engines."""
    from .search import BM25_TERMS

    docs = load(spark, sf_dir, "documents")
    t = tokens(F.lower(F.col("text")))
    pos = (
        docs.select("doc_id", t.alias("t"))
        .select("doc_id", "t", F.posexplode("t").alias("pos0", "token"))
        .filter(F.col("token").isin(*BM25_TERMS))
    )
    p = F.col("pos0") + 1
    start = F.greatest(p - 1, F.lit(1))
    end = F.least(p + 1, F.size("t"))
    return pos.select(
        "doc_id",
        "token",
        p.cast("bigint").alias("position"),
        F.concat_ws(" ", F.slice("t", start, end - start + 1)).alias("context"),
    )


_Q172_SQL = """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t FROM documents
)
SELECT doc_id, t[i] AS token, CAST(i AS BIGINT) AS position,
       array_to_string(t[greatest(i-1, 1):least(i+1, len(t))], ' ') AS context
FROM toks, unnest(range(1, len(t) + 1)) AS r(i)
WHERE t[i] IN ('hash', 'join', 'vector')
"""


# ---------------------------------------------------------------- q169
def q169_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta-vs-corpus) MinHash dedup: the 20% of
    documents with ``doc_id % 5 = 0`` are treated as a new crawl batch
    and deduped against the other 80% — corpus-internal pairs are
    never generated, so the work is delta-proportional (the production
    ingest shape; at scale the corpus band buckets are a precomputed
    bucketed table).  Portable md5 hash family → the oracle replays
    the whole pipeline (signatures, band buckets, both-side bucket
    guard, cross pairs, exact-Jaccard verify) bit-exactly."""
    docs = load(spark, sf_dir, "documents")
    from ..operators.dedup import incremental_minhash_dedup

    return incremental_minhash_dedup(
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 5 == 0),
        id_col="doc_id", text_col="text", shingle_k=3,
        threshold=0.2,
    )


def _incremental_portable_sql(num_hashes: int = 64, num_bands: int = 16) -> str:
    from ..operators.dedup import MERSENNE_P, minhash_family_coeffs

    coeffs = minhash_family_coeffs(num_hashes)
    p = MERSENNE_P
    mins = ",\n         ".join(
        f"min((hm * {a} + {b}) % {p}) AS m{i}" for i, (a, b) in enumerate(coeffs)
    )
    rpb = num_hashes // num_bands
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, {ks} FROM sig".format(
            b=b,
            ks=", ".join(f"m{b * rpb + r} AS k{r + 1}" for r in range(rpb)),
        )
        for b in range(num_bands)
    )
    return f"""
WITH docs AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(toks) - 1),
           i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])
         )) AS shingles
  FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks FROM documents)
  WHERE len(toks) >= 3
),
ex AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(s.s), 1, 15)) AS BIGINT) % {p} AS hm
  FROM docs, UNNEST(shingles) AS s(s)
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM ex GROUP BY doc_id
),
bands AS (
{band_selects}
),
ok AS (
  SELECT band, k1, k2, k3, k4
  FROM bands GROUP BY 1, 2, 3, 4, 5
  HAVING count(*) <= 1000
     AND sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) >= 1
     AND sum(CASE WHEN doc_id % 5 <> 0 THEN 1 ELSE 0 END) >= 1
),
b2 AS (SELECT bands.* FROM bands SEMI JOIN ok USING (band, k1, k2, k3, k4)),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
  FROM b2 n JOIN b2 o USING (band, k1, k2, k3, k4)
  WHERE n.doc_id % 5 = 0 AND o.doc_id % 5 <> 0
),
verified AS (
  SELECT new_id, old_id,
         CASE WHEN len(list_distinct(list_concat(dn.shingles, do_.shingles))) = 0
              THEN 0.0
              ELSE CAST(len(list_intersect(dn.shingles, do_.shingles)) AS DOUBLE)
                   / CAST(len(list_distinct(list_concat(dn.shingles, do_.shingles)))
                          AS DOUBLE)
         END AS jaccard_sim
  FROM cand
  JOIN docs dn ON dn.doc_id = cand.new_id
  JOIN docs do_ ON do_.doc_id = cand.old_id
)
SELECT new_id, old_id, jaccard_sim FROM verified WHERE jaccard_sim >= 0.2
"""


_Q169_SQL = _incremental_portable_sql()


# ---------------------------------------------------------------- q193
def _q193_artifacts(spark: SparkSession, sf_dir: str):
    """Batch-build the ingest near-dup INDEX from the corpus side
    (``doc_id % 5 != 0``), the artifact a production crawl pipeline
    maintains incrementally:

    * ``index`` — one SLIM row per surviving (corpus doc × LSH band):
      ``(band, k1..k4, old_id)``.  Buckets with more than 1000 corpus
      members are dropped AT INDEX BUILD (the stream-side guard has to
      live here: a stateless stream cannot count bucket membership).
      The per-doc payloads deliberately do NOT ride the band rows —
      that would store them 16x per doc and shuffle the blowup through
      every micro-batch join.
    * ``docinfo`` — ONE row per indexed corpus doc:
      ``(old_id, sig_o, okb, sh_o)`` — the full signature (for the
      first-matching-band predicate), the 16-slot surviving-band mask
      (the predicate must skip bands whose bucket was pruned, or a
      pair whose earliest sig-matching band is a pruned one would be
      dropped entirely), and the distinct 3-shingle set (exact-Jaccard
      verify).

    Both are eagerly checkpointed (q191's pattern) so each micro-batch
    joins materialized blocks instead of re-running the batch stages."""
    from ..operators.dedup import (
        band_key_structs,
        minhash_signatures,
        shingle_sets,
    )

    from ..session import scoped_persist

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    # persisted: sig_o feeds BOTH the band rows (-> index checkpoint)
    # and the docinfo payload checkpoint — without the persist the
    # minhash stage recomputes once per consumer during the one-time
    # build.  Released by the caller's release_scoped_caches() AFTER
    # both eager checkpoints have materialized.
    sig_o = scoped_persist(
        minhash_signatures(
            corpus, id_col="doc_id", text_col="text", shingle_k=3,
            num_hashes=64, portable=True,
        )
    )
    brows = sig_o.select(
        F.col("doc_id").alias("old_id"),
        F.explode(band_key_structs(F.col("sig"))).alias("bb"),
    ).select("old_id", "bb.band", "bb.k1", "bb.k2", "bb.k3", "bb.k4")
    ok = (
        brows.groupBy("band", "k1", "k2", "k3", "k4")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= 1000)
        .drop("__n")
    )
    surv = brows.join(ok, ["band", "k1", "k2", "k3", "k4"], "left_semi")
    index = surv.localCheckpoint(eager=True)
    # mask reads the CHECKPOINTED band rows, not the surv lineage —
    # identical rows, but the minhash/banding/guard stages don't
    # recompute a second time during the build
    mask = (
        index.groupBy("old_id")
        .agg(F.collect_set("band").alias("__bs"))
        .select(
            "old_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(15)),
                lambda b: F.exists("__bs", lambda x: x == b).cast("int"),
            ).alias("okb"),
        )
    )
    sh_o = shingle_sets(
        corpus, id_col="doc_id", text_col="text", shingle_k=3
    ).select(F.col("doc_id").alias("old_id"), F.col("shingles").alias("sh_o"))
    docinfo = (
        sig_o.select(F.col("doc_id").alias("old_id"), F.col("sig").alias("sig_o"))
        .join(mask, "old_id")
        .join(sh_o, "old_id")
        .localCheckpoint(eager=True)
    )
    return index, docinfo


def _q193_candidates(
    src: DataFrame, index: DataFrame, docinfo: DataFrame
) -> DataFrame:
    """q193's candidate stage, BEFORE the first-matching-band
    predicate: row-local portable signature + banding over ``src``,
    equi-join against the band index, then the doc-keyed payload
    join.  Exposed separately so the property test can compare the
    production first-band dedup against a plain DISTINCT over the
    SAME candidate rows — one code path, no test-side re-derivation
    of the signature math."""
    from ..operators.dedup import (
        MERSENNE_P,
        band_key_structs,
        minhash_family_coeffs,
        portable_hash60,
    )

    coeffs = minhash_family_coeffs(64)
    p = F.lit(MERSENNE_P)
    shingles = F.array_distinct(word_shingles(tokens(F.col("text")), 3))
    base = (
        src.select(F.col("doc_id").alias("new_id"), shingles.alias("sh_n"))
        .filter(F.size("sh_n") > 0)
        .withColumn(
            "__hs",
            F.transform("sh_n", lambda s: F.pmod(portable_hash60(s), p)),
        )
        .withColumn(
            "sig_n",
            F.array(
                *[
                    F.array_min(
                        F.transform(
                            "__hs",
                            lambda h: F.pmod(h * F.lit(a) + F.lit(b), p),
                        )
                    )
                    for a, b in coeffs
                ]
            ),
        )
        .drop("__hs")
    )
    exploded = base.select(
        "new_id", "sh_n", "sig_n",
        F.explode(band_key_structs(F.col("sig_n"))).alias("bb"),
    ).select(
        "new_id", "sh_n", "sig_n",
        "bb.band", "bb.k1", "bb.k2", "bb.k3", "bb.k4",
    )
    return exploded.join(index, ["band", "k1", "k2", "k3", "k4"]).join(
        docinfo, "old_id"
    )


def _q193_transform(index: DataFrame, docinfo: DataFrame):
    """The stream-side plan builder for q193 (exposed for the
    stateless plan pin on the batch-equivalent input).

    Statelessness costs one known trade: the MinHash signature is
    computed ROW-LOCALLY (64 ``array_min(transform(...))`` interpreted
    lambdas over the shingle-hash array) instead of the batch
    operator's explode + map-combinable min aggregation — the form
    ``minhash_signatures``'s docstring measured ~3x slower per doc.
    In the stream that form would be a stateful Aggregate; paying the
    constant on DELTA-sized batches buys zero state entries and zero
    in-stream shuffles before the index join."""

    def transform(stream: DataFrame) -> DataFrame:
        cand = _q193_candidates(stream, index, docinfo)
        # first-matching-band wins: a (new, old) pair colliding in
        # several surviving buckets is kept only at the SMALLEST
        # surviving band whose 4-slot signature slices agree — a pure
        # row-local predicate replacing the batch pipeline's DISTINCT
        # (which would be a stateful dedup in a stream)
        def _band_matches(b):
            eq = F.lit(True)
            for r in range(4):
                eq = eq & (
                    F.element_at("sig_n", b * 4 + r + 1)
                    == F.element_at("sig_o", b * 4 + r + 1)
                )
            return eq & (F.element_at("okb", b + 1) == 1)

        matches = F.filter(
            F.sequence(F.lit(0), F.lit(15)),
            lambda b: _band_matches(b),
        )
        first = cand.filter(F.col("band") == F.array_min(matches))
        verified = first.select(
            "new_id",
            "old_id",
            jaccard(F.col("sh_n"), F.col("sh_o")).alias("jaccard_sim"),
        )
        return verified.filter(F.col("jaccard_sim") >= 0.2).select(
            "new_id", "old_id", "jaccard_sim"
        )

    return transform


def q193_streaming_ingest_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q169's delta-vs-corpus NEAR-dup gate EXECUTED AS A LIVE INGEST
    STREAM — the round-7 streaming flagship: new documents
    (``doc_id % 5 = 0``) arrive on a stream and are checked against a
    batch-built corpus LSH index with ZERO stateful operators, the
    ingest shape a 100 TB/day crawl actually runs (nobody re-LSHes
    the corpus per snapshot; they maintain the band index and gate
    the delta against it).

    Stateless decomposition of the batch pipeline
    (``operators/dedup.py::incremental_minhash_dedup``):

    * signature + banding are row-local HOFs (see ``_q193_transform``
      for the measured trade vs the batch aggregation form);
    * the bucket-size guard moves to INDEX BUILD (corpus-side counts;
      a stateless stream cannot count bucket membership) — so this
      query's own oracle guards on corpus bucket size, where q169's
      batch guard counts the union;
    * candidate pairing is the stream-static equi-join against the
      checkpointed SLIM band index — per-micro-batch, proportional to
      the delta's band rows × matching buckets, never the corpus —
      followed by one doc-keyed join that attaches each matched old
      doc's payload (signature, surviving-band mask, shingle set)
      exactly once per candidate;
    * pair dedup (the batch DISTINCT) becomes the row-local
      first-matching-band predicate over the two full signatures and
      the old doc's surviving-band mask — provably the same pair SET:
      every oracle pair has >= 1 surviving sig-matching band and is
      kept exactly at the smallest one;
    * exact-Jaccard verify is row-local over the shingle sets already
      on the candidate row.

    State: zero entries, append mode, no watermark/sentinel.  The
    portable md5 hash family means the DuckDB oracle replays the
    ENTIRE pipeline (signatures, bands, corpus-side guard, pair set,
    verify) bit-exactly — the streaming execution is hash-gated, not
    rows-only."""
    from ..session import release_scoped_caches
    from ..streaming.gate import run_streaming_gate

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    index, docinfo = _q193_artifacts(spark, sf_dir)
    # release the build-time persist (sig_o) before the stream starts:
    # both artifacts are eager checkpoints, already materialized, and
    # nothing may stay cached underneath a running stream
    release_scoped_caches()
    delta = docs.filter(F.col("doc_id") % 5 == 0)
    transform = _q193_transform(index, docinfo)
    return run_streaming_gate(spark, [(delta, None)], transform, prefix="q193")


def _q193_sql(num_hashes: int = 64, num_bands: int = 16) -> str:
    """Oracle: the full portable pipeline replayed in SQL with the
    corpus-side bucket guard (this query's semantic; q169 guards the
    union) and DISTINCT pair semantics (set-equal to the stream's
    first-matching-band predicate).  Genuinely parametric: the
    guard/join key lists are derived from rows-per-band, so a
    non-default num_bands cannot silently under-constrain the bucket
    (the Spark side's 64/16/4 lives in ``band_key_structs`` defaults —
    change BOTH or the gate catches the skew)."""
    from ..operators.dedup import MERSENNE_P, minhash_family_coeffs

    coeffs = minhash_family_coeffs(num_hashes)
    p = MERSENNE_P
    mins = ",\n         ".join(
        f"min((hm * {a} + {b}) % {p}) AS m{i}" for i, (a, b) in enumerate(coeffs)
    )
    rpb = num_hashes // num_bands
    keys = ", ".join(f"k{r + 1}" for r in range(rpb))
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, {ks} FROM sig".format(
            b=b,
            ks=", ".join(f"m{b * rpb + r} AS k{r + 1}" for r in range(rpb)),
        )
        for b in range(num_bands)
    )
    return f"""
WITH docs AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(toks) - 1),
           i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])
         )) AS shingles
  FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks FROM documents)
  WHERE len(toks) >= 3
),
ex AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(s.s), 1, 15)) AS BIGINT) % {p} AS hm
  FROM docs, UNNEST(shingles) AS s(s)
),
sig AS (
  SELECT doc_id,
         {mins}
  FROM ex GROUP BY doc_id
),
bands AS (
{band_selects}
),
okc AS (
  SELECT band, {keys}
  FROM bands WHERE doc_id % 5 <> 0
  GROUP BY ALL
  HAVING count(*) <= 1000
),
bo AS (
  SELECT b.* FROM (SELECT * FROM bands WHERE doc_id % 5 <> 0) b
  SEMI JOIN okc USING (band, {keys})
),
bn AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
  FROM bn n JOIN bo o USING (band, {keys})
),
verified AS (
  SELECT new_id, old_id,
         CASE WHEN len(list_distinct(list_concat(dn.shingles, do_.shingles))) = 0
              THEN 0.0
              ELSE CAST(len(list_intersect(dn.shingles, do_.shingles)) AS DOUBLE)
                   / CAST(len(list_distinct(list_concat(dn.shingles, do_.shingles)))
                          AS DOUBLE)
         END AS jaccard_sim
  FROM cand
  JOIN docs dn ON dn.doc_id = cand.new_id
  JOIN docs do_ ON do_.doc_id = cand.old_id
)
SELECT new_id, old_id, jaccard_sim FROM verified WHERE jaccard_sim >= 0.2
"""


_Q193_SQL = _q193_sql()


# ---------------------------------------------------------------- q194
def q194_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget-constrained corpus selection: the MAXIMAL PREFIX
    of the quality order whose documents fit a fixed training-token
    budget whole — the selection a pretraining run actually makes
    ("the best B tokens", not "the best K documents").  Prefix, not
    skip-and-continue greedy: ``cum_before`` counts ALL
    strictly-better documents, so the first overflow ends the
    selection — a deliberate choice (skipping one long document to
    admit lower-quality short ones changes the mix the quality
    ordering promised).

    Budget B = total corpus tokens DIV 5.  Quality is the integer
    lexical-diversity score ``(1e6 * distinct_tokens) DIV n_tokens``;
    order is (quality desc, doc_id asc), and a document is selected
    iff the tokens of all strictly-better documents plus its own fit:
    ``cum_before + n_tokens <= B``.

    Scale shape: the cumulative token count is the classic
    single-partition-window trap (``sum(n_tokens) OVER (ORDER BY ...)``
    plans ONE task sorting the corpus).  Here it rides the
    DISTRIBUTED prefix-sum added to ``assign_stable_ids``: a range
    partition + within-partition sort, one |partitions|-row driver
    aggregation for the per-partition token totals, and a map-only
    Arrow stage adds offset + running local sum — bit-identical to
    the window for any total order (doc_id tie-break), no
    single-partition exchange anywhere.  The budget scalar falls out
    of the same driver aggregation (``weight_total_col``) — the
    corpus is scanned exactly once."""
    docs = load_texts(spark, sf_dir).select("doc_id", "text")
    t = tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        F.size(t).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("bigint").alias("__nd"),
    ).select(
        "doc_id",
        "n_tokens",
        F.when(F.col("n_tokens") == 0, F.lit(0).cast("bigint"))
        .otherwise(F.expr("(1000000 * __nd) DIV n_tokens"))
        .alias("quality_micro"),
    )
    # the budget scalar (total tokens DIV 5) falls out of the prefix
    # sum's own driver aggregation (weight_total_col) — no separate
    # corpus scan, no crossJoin
    ranked = assign_stable_ids(
        scored.withColumn("__negq", -F.col("quality_micro")),
        ["__negq", "doc_id"],
        id_col="__rank",
        weight_col="n_tokens",
        cumsum_col="cum_before",
        weight_total_col="__wtot",
    )
    return ranked.select(
        "doc_id",
        "n_tokens",
        "quality_micro",
        "cum_before",
        (F.col("cum_before") + F.col("n_tokens") <= F.expr("__wtot DIV 5"))
        .cast("bigint")
        .alias("selected"),
    )


# ---------------------------------------------------------------- q195
def q195_coverage_quota_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage-constrained corpus selection: every source keeps its
    top-3 documents (the FLOOR — no source disappears from the mix),
    then the remaining budget up to K = N DIV 5 total documents is
    filled by global quality order over the non-floor docs.  This is
    the mix-floor selection a multilingual/multi-source pretraining
    run makes so minority sources survive a global quality cut
    (pure top-K would drop them entirely).

    Disposition per document: ``floor`` (source top-3), ``fill``
    (global fill rank within the remaining budget), ``out``.

    Scale shape: the floor rank is a per-SOURCE window (thousands of
    partitions — no single-partition exchange); the global fill rank
    over non-floor docs rides the distributed range-partition rank
    (``assign_stable_ids``); the two scalars (corpus size, floor
    count) are one aggregated row broadcast back over the corpus."""
    docs = load_texts(spark, sf_dir).select("doc_id", "source", "text")
    t = tokens(F.col("text"))
    scored = docs.select(
        "doc_id",
        "source",
        F.size(t).cast("bigint").alias("__nt"),
        F.size(F.array_distinct(t)).cast("bigint").alias("__nd"),
    ).select(
        "doc_id",
        "source",
        F.when(F.col("__nt") == 0, F.lit(0).cast("bigint"))
        .otherwise(F.expr("(1000000 * __nd) DIV __nt"))
        .alias("quality_micro"),
    )
    ws = Window.partitionBy("source").orderBy(
        F.col("quality_micro").desc(), F.col("doc_id").asc()
    )
    flagged = scored.withColumn("__rs", F.row_number().over(ws)).transform(
        scoped_persist
    )
    totals = flagged.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum((F.col("__rs") <= 3).cast("bigint")).alias("__floor_cnt"),
    )
    fill_ranked = assign_stable_ids(
        flagged.filter(F.col("__rs") > 3).withColumn(
            "__negq", -F.col("quality_micro")
        ),
        ["__negq", "doc_id"],
        id_col="__rg",
    ).select("doc_id", "__rg")
    return (
        flagged.join(fill_ranked, "doc_id", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "source",
            "quality_micro",
            F.when(F.col("__rs") <= 3, F.lit("floor"))
            .when(
                F.col("__rg") <= F.expr("__n DIV 5") - F.col("__floor_cnt"),
                F.lit("fill"),
            )
            .otherwise(F.lit("out"))
            .alias("disposition"),
        )
    )


_Q195_SQL = rf"""
WITH {DOCUMENTS_CTE}, t AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS nt,
         CAST(len(list_distinct(regexp_extract_all(text, '\S+'))) AS BIGINT)
           AS nd
  FROM documents
),
s AS (
  SELECT doc_id, source,
         CASE WHEN nt = 0 THEN 0 ELSE (1000000 * nd) // nt END
           AS quality_micro
  FROM t
),
f AS (
  SELECT doc_id, source, quality_micro,
         row_number() OVER (
           PARTITION BY source ORDER BY quality_micro DESC, doc_id
         ) AS rs
  FROM s
),
n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN rs <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS floor_cnt
  FROM f
),
g AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY quality_micro DESC, doc_id) AS rg
  FROM f WHERE rs > 3
)
SELECT f.doc_id, f.source, f.quality_micro,
       CASE WHEN f.rs <= 3 THEN 'floor'
            WHEN g.rg <= n.n_docs // 5 - n.floor_cnt THEN 'fill'
            ELSE 'out' END AS disposition
FROM f LEFT JOIN g ON g.doc_id = f.doc_id CROSS JOIN n
"""


_Q194_SQL = rf"""
WITH {DOCUMENTS_CTE}, t AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(regexp_extract_all(text, '\S+'))) AS BIGINT)
           AS n_distinct
  FROM documents
),
s AS (
  SELECT doc_id, n_tokens,
         CASE WHEN n_tokens = 0 THEN 0
              ELSE (1000000 * n_distinct) // n_tokens END AS quality_micro
  FROM t
),
b AS (SELECT CAST(sum(n_tokens) // 5 AS BIGINT) AS budget FROM s),
c AS (
  SELECT doc_id, n_tokens, quality_micro,
         CAST(COALESCE(sum(n_tokens) OVER (
           ORDER BY quality_micro DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS cum_before
  FROM s
)
SELECT c.doc_id, c.n_tokens, c.quality_micro, c.cum_before,
       CAST(c.cum_before + c.n_tokens <= b.budget AS BIGINT) AS selected
FROM c, b
"""


# ---------------------------------------------------------------- q199
#: Per-source ingest token budget — sized so sf0.01's ~1.2k-token
#: sources land a real mix of admitted and rejected documents.
_Q199_BUDGET = 800


def q199_streaming_budget_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The q194 budget rule AT INGEST TIME, executed as a live stream:
    documents flow through ``applyInPandasWithState`` keyed by
    ``source``, each adding its (batch-computed, Spark-expression)
    token count to the source's running total, and a document is
    ADMITTED iff the total including itself still fits the per-source
    budget — the maximal fitting prefix of the ingest order, decided
    online with ONE BIGINT of state per source.

    Complements the executed-streaming families: q153 holds arbitrary
    per-key session state, q193/q196 are deliberately zero-state —
    this is the minimal-state fold (state size = |keys|, independent
    of stream length), the admission-control shape a 100 TB/day
    ingest quota actually runs.  Emission is immediate (the decision
    for a record never changes once made), so no watermark and no
    sentinel protocol; the oracle is the per-source running-sum
    window over the same ingest order.

    Scale shape: token counting stays a Spark map expression BEFORE
    the stream (the stream folds integers, no tokenizer in the hot
    path); sources hash across the state-store partitions; per-key
    work is O(batch rows for that key).  Order discipline as
    ``streaming.gate`` stages it: ``doc_id`` within a batch, file
    order monotone across batches (cross-batch state continuity is
    pinned by the two-batch unit test)."""
    from ..streaming.gate import run_streaming_gate
    from ..streaming.stateful import budgeted_admission

    # a NULL text counts 0 tokens on BOTH engines.  Guard the NULL
    # explicitly rather than coalescing size(tokens(NULL)): under
    # legacy sizeOfNull, size(NULL) = -1 is non-NULL and would pass a
    # coalesce straight into the running total (ADVICE r8), so the
    # count must not depend on the ANSI/sizeOfNull conf at all.
    docs = load(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.when(F.col("text").isNull(), F.lit(0).cast("long"))
        .otherwise(F.size(tokens(F.col("text"))).cast("long"))
        .alias("n_tokens"),
    )
    sunk = run_streaming_gate(
        spark,
        [(docs, None)],
        lambda stream: budgeted_admission(
            stream,
            key="source",
            order="doc_id",
            weight="n_tokens",
            budget=_Q199_BUDGET,
        ),
        prefix="q199",
    )
    return sunk.select("source", "doc_id", "n_tokens", "cum_tokens", "admitted")


_Q199_SQL = rf"""
WITH t AS (
  SELECT source, doc_id,
         COALESCE(CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT), 0)
           AS n_tokens
  FROM documents
)
SELECT source, doc_id, n_tokens,
       CAST(sum(n_tokens) OVER (
         PARTITION BY source ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_tokens,
       CAST(sum(n_tokens) OVER (
         PARTITION BY source ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) <= {_Q199_BUDGET} AS BIGINT) AS admitted
FROM t
"""


# ---------------------------------------------------------------- q196
def _pack_cells(rows: DataFrame, *payload) -> DataFrame:
    """``(cell, members)``: each IVF cell's ``(cell, vec_id, *payload)``
    rows packed into ONE sorted payload array ``array<struct<vec_id,
    *payload>>``, eagerly checkpointed.  The array form is what makes
    the serving streams (q196, q202) stateless: per-query top-k over
    the probed cells' union becomes a ROW-LOCAL fold after joining the
    probe cells' rows — no per-query aggregation, no state.  Payload
    size is bounded by the cell population (|corpus|/cells in
    expectation; the cell-count dial keeps it executor-sized at any
    corpus scale — the same bound every IVF posting list lives
    under)."""
    return (
        rows.groupBy("cell")
        .agg(
            F.sort_array(F.collect_list(F.struct("vec_id", *payload))).alias(
                "members"
            )
        )
        .localCheckpoint(eager=True)
    )


def _ivf_stream_probe(centroids, *, vec, extra=(), probe, rungs, score, scored=None):
    """The stream-static IVF probe behind q196 and q202.  Each query
    row (``vec_id`` → ``query_id``, ``embedding`` as doubles in column
    ``vec``, plus the ``extra`` columns) gets its ``_IVF_NPROBE``
    nearest cells from the row-local Arrow assigner (quantizer in the
    closure), then ONE stream-static left join per probed cell —
    nprobe fixed joins instead of explode+regroup, since regrouping
    probe rows per query would be a stateful aggregation.

    ``probe(frame, i)`` joins probe ``i`` (its cell id is in column
    ``__c{i}``) and returns the joined frame and the probe's array of
    candidate structs, ``(score, vec_id)`` or still to be scored by
    ``scored`` over the concatenation.  The candidates are then sorted
    row-locally by ``rungs(a, b)`` — a ``F.when`` chain over the score
    that the ascending ``vec_id`` tie-break completes — sliced to the
    top ``_IVF_K`` and posexploded into ``(query_id, vec_id, rank,
    score)``.  Zero stateful operators."""

    def transform(stream: DataFrame) -> DataFrame:
        out = stream.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias(vec),
            *extra,
        ).withColumn("__cells", cell_assigner(centroids, _IVF_NPROBE)(F.col(vec)))
        parts = []
        for i in range(_IVF_NPROBE):
            out, part = probe(
                out.withColumn(f"__c{i}", F.col("__cells").getItem(i).cast("long")), i
            )
            parts.append(part)
        cands = F.concat(*parts)
        top = F.slice(
            F.array_sort(
                cands if scored is None else scored(cands),
                lambda a, b: rungs(a, b).otherwise(
                    F.when(a["vec_id"] < b["vec_id"], F.lit(-1))
                    .when(a["vec_id"] > b["vec_id"], F.lit(1))
                    .otherwise(F.lit(0))
                ),
            ),
            1,
            _IVF_K,
        )
        return (
            out.select("query_id", top.alias("__top"))
            .select("query_id", F.posexplode("__top").alias("__pos", "__t"))
            .select(
                "query_id",
                F.col("__t.vec_id").alias("vec_id"),
                (F.col("__pos") + 1).cast("long").alias("rank"),
                F.col(f"__t.{score}").alias(score),
            )
        )

    return transform


def _q196_artifacts(spark: SparkSession, sf_dir: str):
    """Batch-build the ONLINE VECTOR SEARCH index from the corpus side
    (``vec_id % 25 != 0``): ``centroids``, the deterministic IVF
    quantizer (embeddings of the 16 smallest corpus ids; the
    ``q13_ivf_det`` seed, so the whole approximation stays
    SQL-replicable), a 16×dim Python list that rides in the stream's
    assigner closure; and ``cells``, each cell's ``(vec_id, v)``
    members packed by ``_pack_cells``."""
    emb = load_vectors(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") % 25 != 0)
    _, centroids = seed_centroids(corpus, _IVF_CELLS)
    cells = _pack_cells(assign_cells(corpus, centroids), F.col("__v").alias("v"))
    return centroids, cells


def _q196_transform(centroids, cells: DataFrame):
    """Stream-side plan builder for q196: ``_ivf_stream_probe`` with
    the packed cell payloads as probe ``i``'s candidates, scored after
    the concatenation by the same sequential ``aggregate`` cosine fold
    the batch kernels use — bit-identical to DuckDB's
    ``list_cosine_similarity``, so the oracle hashes the full
    approximation."""
    empty = F.array().cast(cells.schema["members"].dataType)

    def probe(out: DataFrame, i: int):
        cell_i = cells.select(
            F.col("cell").alias(f"__c{i}"), F.col("members").alias(f"__m{i}")
        )
        return out.join(cell_i, f"__c{i}", "left"), F.coalesce(F.col(f"__m{i}"), empty)

    # order by (cos_sim desc, vec_id asc).  NaN (a zero-norm
    # embedding's cosine) sorts FIRST, matching DuckDB's ORDER BY
    # cos_sim DESC where NaN > any number — the >/< rungs are both
    # false for NaN, so without the explicit isnan rungs a NaN row
    # would silently fall through to the vec_id tie-break and diverge
    # from the oracle.
    def rungs(a, b):
        return (
            F.when(F.isnan(a["cos_sim"]) & ~F.isnan(b["cos_sim"]), F.lit(-1))
            .when(F.isnan(b["cos_sim"]) & ~F.isnan(a["cos_sim"]), F.lit(1))
            .when(a["cos_sim"] > b["cos_sim"], F.lit(-1))
            .when(a["cos_sim"] < b["cos_sim"], F.lit(1))
        )

    return _ivf_stream_probe(
        centroids,
        vec="qv",
        probe=probe,
        rungs=rungs,
        score="cos_sim",
        scored=lambda cands: F.transform(
            cands,
            lambda m: F.struct(
                cosine_similarity(m["v"], F.col("qv")).alias("cos_sim"),
                m["vec_id"].alias("vec_id"),
            ),
        ),
    )


def q196_streaming_vector_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE VECTOR SEARCH against a batch-built IVF index — the
    vector twin of q193's ingest gate: query embeddings
    (``vec_id % 25 = 0``) arrive on a stream and are answered with
    approximate top-10 cosine neighbors from the corpus index with
    ZERO stateful operators — the serving shape of a production
    retrieval/RAG stack (the index is maintained in batch; queries
    never touch the raw corpus).

    Stateless decomposition of ``ivf_topk`` over ``seed_centroids``:

    * the deterministic quantizer (q13_ivf_det's seed) rides in the
      stream's Arrow assigner closure — O(num_cells·dim), a MODEL
      artifact, not corpus-scale;
    * the batch path's explode(probe cells) + per-query top-k WINDOW
      becomes the shared ``_ivf_stream_probe``: ``nprobe`` fixed
      stream-static joins against the ``_pack_cells`` payload table
      followed by a row-local score/sort/slice — no regrouping, no
      window, no state;
    * every double is the same sequential fold as the batch kernels,
      so the DuckDB oracle (``_ivf_cosine_sql``, shared with
      q13_ivf_det) hash-verifies the full approximation (assignment,
      probing, re-rank) — not just row counts.

    State: zero entries, append mode, no watermark/sentinel."""
    from ..session import release_scoped_caches
    from ..streaming.gate import run_streaming_gate

    emb = load_vectors(spark, sf_dir)
    centroids, cells = _q196_artifacts(spark, sf_dir)
    release_scoped_caches()
    queries = emb.filter(F.col("vec_id") % 25 == 0).select("vec_id", "embedding")
    transform = _q196_transform(centroids, cells)
    return run_streaming_gate(spark, [(queries, None)], transform, prefix="q196")


_Q196_SQL = _ivf_cosine_sql("vec_id % 25 <> 0", "vec_id % 25 = 0", exclude_self=False)


# ---------------------------------------------------------------- q198
#: Product-quantization geometry: dim 64 = 8 subspaces × 8 lanes,
#: 16 centroids per subspace (codes are 8 × 4 bits — a 64-float
#: vector compresses to 4 bytes + the shared codebook), lane values
#: on a fixed 1e-5 grid so every distance is an exact BIGINT.
_Q198_M = 8
_Q198_LANES = 8
_Q198_K_CENTROIDS = 16
_Q198_SCALE = 100_000
_Q198_TOPK = 10


def _q198_sqdist(a, b):
    """Σ(aᵢ−bᵢ)² over two equal-length BIGINT arrays — exact integer
    arithmetic, identical in any engine (no float accumulation)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _int_grid(col):
    """Embedding → BIGINT lanes on the fixed 1e-5 grid (the q135
    ``floor(x·s + 0.5)`` idiom) — THE quantizer every integer-exact
    vector query shares (q198/q200/q201), one definition so the grid
    cannot silently diverge between the PQ, maintenance and IVF-PQ
    pipelines."""
    return F.transform(
        col.cast("array<double>"),
        lambda x: F.floor(x * _Q198_SCALE + F.lit(0.5)).cast("long"),
    )


def _pq_subspaces(col):
    """posexplode into (s, subq): the M fixed lane slices of a grid
    vector — shared by every PQ consumer."""
    return F.posexplode(
        F.transform(
            F.sequence(F.lit(0), F.lit(_Q198_M - 1)),
            lambda s: F.slice(col, s * _Q198_LANES + 1, _Q198_LANES),
        )
    )


def _grid_centroids(spark: SparkSession, centroids: list) -> DataFrame:
    """(cell, cq): the integer-grid image of the ``seed_centroids``
    vectors, numbered by seed order — the cell indices
    ``cell_assigner`` returns.  Built from the seed's one collect as a
    one-task literal scan, so no reference to it re-plans the corpus."""
    vecs = F.lit(centroids).cast("array<array<double>>")
    return (
        spark.range(1, numPartitions=1)
        .select(F.posexplode(vecs).alias("cell", "__v"))
        .select(
            F.col("cell").cast("long").alias("cell"),
            _int_grid(F.col("__v")).alias("cq"),
        )
    )


def _pq_train_encode(subs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared PQ core (q198 raw vectors, q201 coarse residuals): from a
    ``(vec_id, s, subq)`` integer-grid subspace frame, train the
    per-subspace codebooks (md5-ordered deterministic seeds, ONE Lloyd
    iteration with HALF-UP grid-rounded means, empty clusters keep
    their seed) and encode every vector.  Returns ``(codebook, codes)``
    — ``(s, j, cq)`` and ``(vec_id, s, code)``.  Every stage meets the
    corpus through a broadcast of the K·M-row artifact; argmins are
    struct-min partial aggregates with exact-BIGINT (dist, j)
    tie-break."""
    K = _Q198_K_CENTROIDS
    seeds = (
        subs.select("vec_id")
        .distinct()
        .select(
            "vec_id", portable_hash60(F.col("vec_id").cast("string")).alias("__h")
        )
        .orderBy("__h", "vec_id")
        .limit(K)
    )
    jw = Window.orderBy("__h", "vec_id")
    seed_ids = seeds.select(
        "vec_id", (F.row_number().over(jw) - 1).cast("long").alias("j")
    )
    seed_sub = seed_ids.join(subs, "vec_id").select(
        "j", "s", F.col("subq").alias("cq0")
    )
    asg = (
        subs.join(F.broadcast(seed_sub), "s")
        .withColumn("__d", _q198_sqdist("subq", "cq0"))
        .groupBy("vec_id", "s")
        .agg(
            F.min(F.struct("__d", "j")).alias("__m"),
            F.first("subq").alias("subq"),  # constant per group
        )
        .select("s", F.col("__m.j").alias("j"), "subq")
    )
    lane_sums = (
        asg.select("s", "j", F.posexplode("subq").alias("l", "v"))
        .groupBy("s", "j", "l")
        .agg(F.sum("v").alias("n"), F.count(F.lit(1)).alias("c"))
    )
    cent_arr = (
        lane_sums.withColumn(
            "cql",
            F.floor((2 * F.col("n") + F.col("c")) / (2 * F.col("c"))).cast("long"),
        )
        .groupBy("s", "j")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("l", "cql"))),
                lambda x: x["cql"],
            ).alias("cqa")
        )
    )
    codebook = seed_sub.join(cent_arr, ["s", "j"], "left").select(
        "s", "j", F.coalesce("cqa", "cq0").alias("cq")
    )
    codes = (
        subs.join(F.broadcast(codebook), "s")
        .withColumn("__d", _q198_sqdist("subq", "cq"))
        .groupBy("vec_id", "s")
        .agg(F.min(F.struct("__d", "j")).alias("__m"))
        .select("vec_id", "s", F.col("__m.j").alias("code"))
    )
    return codebook, codes


def q198_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT QUANTIZATION with asymmetric-distance (ADC) top-k — the
    compression half of a planet-scale vector index (Jégou et al.,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011;
    the storage layout behind IVF-PQ in every production ANN system):
    each 64-d embedding splits into 8 subspaces, each subspace learns
    a 16-centroid codebook (one Lloyd iteration from deterministic
    md5-ordered seeds), vectors are ENCODED as 8 nibble codes (4 bytes
    per vector — 64× smaller than float64), and queries scan the
    codes with a per-query 8×16 lookup table of exact subspace
    distances, never touching the original vectors.

    Engine-exact by construction: lanes land on a fixed 1e-5 integer
    grid (the q135 ``floor(x·s + 0.5)`` idiom), the trained centroid
    means are HALF-UP-rounded back onto the same grid via
    ``floor((2N + c) / 2c)`` (one IEEE double division of exact-in-
    double integers, identical in Spark and DuckDB), and from there
    every distance, argmin tie-break (dist, then centroid id) and
    ADC sum is BIGINT arithmetic — the whole approximation replays in
    the oracle with zero float-tolerance caveats.

    Scale shape: training touches the corpus twice (assign, then
    per-lane integer sums — both map-side partial aggregates against
    a BROADCAST 128-row seed table); encode is one more broadcast-
    join pass; the codebook and the per-query LUT are K·M-row
    artifacts that attach as broadcasts, so the serving scan is
    map-side + one (query, vec) partial-agg — no all-pairs stage, no
    driver collect, and the corpus-side payload the scan reads is the
    4-byte codes, not the vectors.  The exact top-k twin is q13; the
    recall/compression trade is the point."""
    emb = load_vectors(spark, sf_dir).select(
        "vec_id", _int_grid(F.col("embedding")).alias("q")
    )
    # one row per (vector, subspace): the frame every stage reads —
    # persisted across its three consumers (train-assign, encode,
    # query LUT)
    subs = scoped_persist(
        emb.select("vec_id", _pq_subspaces(F.col("q")).alias("s", "subq"))
    )
    # train (seeds -> one Lloyd iteration) + encode — the shared PQ
    # core, also driven on coarse residuals by q201
    codebook, codes = _pq_train_encode(subs)
    # per-query ADC lookup table: exact subspace distance from each
    # query subvector to each centroid (|Q|·M·K rows — broadcast)
    lut = (
        subs.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("query_id"), "s", "subq")
        .join(F.broadcast(codebook), "s")
        .select("query_id", "s", "j", _q198_sqdist("subq", "cq").alias("dpart"))
    )
    adc = (
        codes.join(
            F.broadcast(lut),
            (codes["s"] == lut["s"]) & (codes["code"] == lut["j"]),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dpart").alias("adc_dist"))
    )
    return top_k_per_group(
        adc,
        group_by=["query_id"],
        order_by=[F.col("adc_dist").asc(), F.col("vec_id").asc()],
        k=_Q198_TOPK,
        rank_col="rank",
    ).select("query_id", "vec_id", "rank", "adc_dist")


def _pq_sql_core(src: str) -> str:
    """The PQ train+encode CTE chain (seeds, one Lloyd iteration,
    empty-cluster fallback, encode) over a ``(vec_id, s, subq)``
    integer-grid source CTE named ``src`` — shared verbatim by the
    q198 (raw vectors) and q201 (coarse residuals) oracles so the two
    approximations cannot silently diverge."""
    return f"""
SEED AS (
  SELECT seed_vec, rn - 1 AS j FROM (
    SELECT vec_id AS seed_vec, row_number() OVER (
      ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT,
               vec_id) AS rn
    FROM (SELECT DISTINCT vec_id FROM {src})) WHERE rn <= {_Q198_K_CENTROIDS}
),
SEEDSUB AS (
  SELECT j, s, subq AS cq0 FROM SEED JOIN {src} ON {src}.vec_id = seed_vec
),
AD AS (
  SELECT v.vec_id, v.s, c.j, v.subq,
         CAST(list_sum(list_transform(range(1, {_Q198_LANES} + 1),
           i -> (v.subq[i] - c.cq0[i]) * (v.subq[i] - c.cq0[i]))) AS BIGINT) AS d
  FROM {src} v JOIN SEEDSUB c ON v.s = c.s
),
ASG AS (
  SELECT s, j, subq FROM (
    SELECT s, j, subq,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
    FROM AD) WHERE rn = 1
),
CS AS (
  SELECT s, j, l, CAST(sum(subq[l]) AS BIGINT) AS n, count(*) AS c
  FROM ASG, (SELECT unnest(range(1, {_Q198_LANES} + 1)) AS l) LX
  GROUP BY 1, 2, 3
),
CARR AS (
  SELECT s, j,
         list(CAST(floor((2.0 * n + c) / (2.0 * c)) AS BIGINT) ORDER BY l)
           AS cqa
  FROM CS GROUP BY 1, 2
),
CB AS (
  SELECT ss.s, ss.j, COALESCE(ca.cqa, ss.cq0) AS cq
  FROM SEEDSUB ss LEFT JOIN CARR ca ON ca.s = ss.s AND ca.j = ss.j
),
ED AS (
  SELECT v.vec_id, v.s, c.j,
         CAST(list_sum(list_transform(range(1, {_Q198_LANES} + 1),
           i -> (v.subq[i] - c.cq[i]) * (v.subq[i] - c.cq[i]))) AS BIGINT) AS d
  FROM {src} v JOIN CB c ON v.s = c.s
),
CODES AS (
  SELECT vec_id, s, j AS code FROM (
    SELECT vec_id, s, j,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) AS rn
    FROM ED) WHERE rn = 1
)"""


# The oracle replays the ENTIRE pipeline — grid quantization, seed
# choice, one Lloyd iteration (assign + rounded-mean update + empty-
# cluster fallback), encode, LUT, ADC scan, top-k — in pure SQL over
# the same integer grid, so the hash gate covers the approximation
# itself, not just a wrapper.
_Q198_SQL = f"""
WITH {EMBEDDINGS_CTE}, E AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
           x -> CAST(floor(x * {_Q198_SCALE} + 0.5) AS BIGINT)) AS q
  FROM embeddings
),
SS AS (SELECT unnest(range({_Q198_M})) AS s),
SUBS AS (
  SELECT vec_id, s,
         q[(s*{_Q198_LANES}+1):(s*{_Q198_LANES}+{_Q198_LANES})] AS subq
  FROM E, SS
),
{_pq_sql_core("SUBS")},
LUT AS (
  SELECT q.vec_id AS query_id, c.s, c.j,
         CAST(list_sum(list_transform(range(1, {_Q198_LANES} + 1),
           i -> (q.subq[i] - c.cq[i]) * (q.subq[i] - c.cq[i]))) AS BIGINT)
           AS dpart
  FROM SUBS q JOIN CB c ON q.s = c.s WHERE q.vec_id < 8
),
ADC AS (
  SELECT l.query_id, co.vec_id, CAST(sum(l.dpart) AS BIGINT) AS adc_dist
  FROM CODES co JOIN LUT l ON l.s = co.s AND l.j = co.code
  WHERE co.vec_id <> l.query_id
  GROUP BY 1, 2
),
R AS (
  SELECT query_id, vec_id, adc_dist,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY adc_dist, vec_id
         ) AS BIGINT) AS rank
  FROM ADC
)
SELECT query_id, vec_id, rank, adc_dist FROM R WHERE rank <= {_Q198_TOPK}
"""


# ---------------------------------------------------------------- q200
_Q200_SCALE = _Q198_SCALE  # one grid for the whole integer-exact vector family


def q200_ivf_index_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL ANN-INDEX MAINTENANCE — q169's delta-vs-corpus
    shape applied to the embedding index: a daily delta of vectors
    (``vec_id % 25 == 0``) is assigned to the EXISTING IVF cells
    (q196's deterministic quantizer — the index already serving
    queries) and each cell reports its growth and radius drift, the
    two signals an index maintainer acts on (append-in-place vs
    re-train the cell).  Without this, a 100 TB vector store re-builds
    its index from scratch per ingest; with it, work is ∝ |delta| and
    a bounded per-cell audit.

    Signals per cell: populations (``old_n``/``delta_n``/``new_n``),
    exact squared-L2 radius MASS on the 1e-5 integer lane grid
    (``old_sqdist``/``delta_sqdist`` — accumulated as DECIMAL(38,0)
    sums of BIGINT per-member distances, order-independent and
    wrap-proof to ~1e26 members per cell where an int64 sum would
    silently wrap past ~1.3e7; EMITTED as BIGINT, exact at any gate
    scale, because decimal is hash-unstable across the Spark/DuckDB
    oracle boundary), ``grew`` (delta adds >1/8 of the old population) and
    ``drift`` (delta members sit farther out than the old mean radius:
    ``delta_sqdist/delta_n > old_sqdist/old_n``, compared as exact
    cross-multiplied 128-bit integers — no float division; the
    product stays in range up to ~1e12 members per cell).

    Engine-exact: cell assignment is the bit-replicable cosine
    assigner q196/q13_ivf_det already gate (sequential IEEE fold =
    DuckDB's ``list_cosine_similarity``, cell-index tie-break); the
    radius stats are q198's integer-grid distances.  Scale shape:
    quantizer collect is O(cells·dim); both assignment passes are
    map-only Arrow batches (no shuffle); radius stats meet the
    16-row centroid table through a broadcast and partial-aggregate
    to |cells| rows; the delta pass touches ONLY the delta."""
    emb = load_vectors(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") % 25 != 0)
    delta = emb.filter(F.col("vec_id") % 25 == 0)
    _, centroids = seed_centroids(corpus, _IVF_CELLS)
    centq = _grid_centroids(spark, centroids)

    def cell_stats(side: DataFrame, n_name: str, sq_name: str) -> DataFrame:
        a = assign_cells(side, centroids).select(
            "cell", _int_grid(F.col("__v")).alias("qv")
        )
        # the radius MASS accumulates as DECIMAL(38,0): a per-member
        # distance is <= lanes*(2*grid_max)^2 ~ 7e11, so a BIGINT cell
        # sum would wrap past ~1.3e7 worst-case members — real at the
        # corpus sizes this audit is for; 38 digits never wraps and
        # DuckDB's HUGEINT sum casts to the same decimal exactly
        return (
            a.join(F.broadcast(centq), "cell")
            .select(
                "cell",
                _q198_sqdist("qv", "cq").cast("decimal(38,0)").alias("__d"),
            )
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias(n_name), F.sum("__d").alias(sq_name))
        )

    old = cell_stats(corpus, "old_n", "__old_sq")
    new = cell_stats(delta, "delta_n", "__delta_sq")
    zero = F.lit(0).cast("decimal(38,0)")
    return (
        centq.select("cell")
        .join(old, "cell", "left")
        .join(new, "cell", "left")
        .select(
            "cell",
            F.coalesce("old_n", F.lit(0)).cast("bigint").alias("old_n"),
            F.coalesce("__old_sq", zero).cast("decimal(38,0)").alias("__old_sq"),
            F.coalesce("delta_n", F.lit(0)).cast("bigint").alias("delta_n"),
            F.coalesce("__delta_sq", zero)
            .cast("decimal(38,0)")
            .alias("__delta_sq"),
        )
        # the radius mass stays DECIMAL(38,0) through the drift
        # cross-multiply (wrap-proof); the EMITTED columns are BIGINT —
        # decimal output is the one hash-unstable type at the
        # cross-engine oracle boundary (driver r9: rows+schema green,
        # hash red, unique to this query's decimal columns), and at any
        # gate scale the mass is far below 2^63 so the cast is exact
        .select(
            "cell",
            "old_n",
            F.col("__old_sq").cast("bigint").alias("old_sqdist"),
            "delta_n",
            F.col("__delta_sq").cast("bigint").alias("delta_sqdist"),
            (F.col("old_n") + F.col("delta_n")).alias("new_n"),
            (F.col("delta_n") * 8 > F.col("old_n")).cast("bigint").alias("grew"),
            F.when(
                (F.col("delta_n") == 0) | (F.col("old_n") == 0), F.lit(0)
            )
            .otherwise(
                (
                    F.col("__delta_sq") * F.col("old_n")
                    > F.col("__old_sq") * F.col("delta_n")
                ).cast("int")
            )
            .cast("bigint")
            .alias("drift"),
        )
    )


_Q200_SQL = f"""
WITH {EMBEDDINGS_CTE}, E AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_transform(embedding::DOUBLE[],
           x -> CAST(floor(x * {_Q200_SCALE} + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
CO AS (SELECT * FROM E WHERE vec_id % 25 <> 0),
{_ivf_ctes("CO", _IVF_CELLS, ("AO", "CO", "TRUE", 1),
           ("ADL", "E", "vec_id % 25 = 0", 1))},
SO AS (
  SELECT a.cell, count(*) AS n,
         CAST(sum(CAST(list_sum(list_transform(range(1, 65),
           i -> (a.qv[i] - c.qv[i]) * (a.qv[i] - c.qv[i]))) AS BIGINT))
           AS DECIMAL(38,0)) AS sq
  FROM AO a JOIN C c USING (cell) GROUP BY 1
),
SD AS (
  SELECT a.cell, count(*) AS n,
         CAST(sum(CAST(list_sum(list_transform(range(1, 65),
           i -> (a.qv[i] - c.qv[i]) * (a.qv[i] - c.qv[i]))) AS BIGINT))
           AS DECIMAL(38,0)) AS sq
  FROM ADL a JOIN C c USING (cell) GROUP BY 1
),
J AS (
  SELECT c.cell,
         COALESCE(so.n, 0) AS old_n,
         COALESCE(so.sq, CAST(0 AS DECIMAL(38,0))) AS old_sqdist,
         COALESCE(sd.n, 0) AS delta_n,
         COALESCE(sd.sq, CAST(0 AS DECIMAL(38,0))) AS delta_sqdist
  FROM C c LEFT JOIN SO so USING (cell) LEFT JOIN SD sd USING (cell)
)
SELECT cell, old_n, CAST(old_sqdist AS BIGINT) AS old_sqdist,
       delta_n, CAST(delta_sqdist AS BIGINT) AS delta_sqdist,
       old_n + delta_n AS new_n,
       CAST(delta_n * 8 > old_n AS BIGINT) AS grew,
       CAST(CASE WHEN delta_n = 0 OR old_n = 0 THEN 0
            WHEN CAST(delta_sqdist AS HUGEINT) * old_n
                 > CAST(old_sqdist AS HUGEINT) * delta_n THEN 1
            ELSE 0 END AS BIGINT) AS drift
FROM J
"""


# ---------------------------------------------------------------- q201
def q201_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the COMPOSED production ANN layout (FAISS's default
    billion-scale index; Jégou et al. 2011 §V): the coarse IVF
    quantizer (q196/q200's deterministic cosine cells) partitions the
    corpus, PQ codebooks are trained on the coarse RESIDUALS (vector
    minus its cell centroid, where PQ's grid has far less variance to
    cover), and serving probes the query's ``nprobe`` nearest cells,
    scanning only those cells' 4-byte codes with a per-(query, cell)
    residual lookup table.  q198 proved the PQ kernel; this is the
    index a 100 TB store actually ships: memory = |corpus|·(cell id +
    4 bytes), serving work ∝ nprobe/cells of the corpus.

    Engine-exact end to end: the bit-replicable cosine coarse
    assigner (sequential IEEE fold = DuckDB ``list_cosine_similarity``,
    cell-index tie-break), integer residuals on the 1e-5 lane grid
    (BIGINT subtraction — exact), then the SHARED ``_pq_train_encode``
    core and pure-BIGINT ADC.  The oracle replays coarse assignment,
    residuals, codebook training, encoding, probing and the ADC scan
    through the same ``_pq_sql_core`` CTE chain q198 uses.

    Scale shape: coarse assignment is a map-only Arrow batch; the
    residual join attaches the 16-row centroid table as a broadcast;
    PQ train/encode keep q198's broadcast + partial-agg shapes; the
    codes↔cell attach is a co-partitioned corpus equi-join (vec_id
    keyed, one shuffle); the |Q|·nprobe·M·K-row LUT broadcasts, and
    its inner join on the cell id IS the probe pruning — unprobed
    cells never join, so serving touches ~nprobe/cells of the code
    table."""
    from ..operators import spread

    emb = load_vectors(spark, sf_dir)
    _, centroids = seed_centroids(emb, _IVF_CELLS)
    centq = _grid_centroids(spark, centroids)
    base = assign_cells(emb, centroids).withColumn("qv", _int_grid(F.col("__v")))
    res = scoped_persist(
        base.join(F.broadcast(centq), "cell").select(
            "vec_id",
            "cell",
            F.zip_with("qv", "cq", lambda a, b: a - b).alias("rq"),
        )
    )
    rsubs = scoped_persist(
        res.select("vec_id", _pq_subspaces(F.col("rq")).alias("s", "subq"))
    )
    codebook, codes = _pq_train_encode(rsubs)
    # serving side: probe cells per query, per-(query, cell) residual LUT
    qp = (
        spread(
            emb.filter(F.col("vec_id") < 8).select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").cast("array<double>").alias("__v"),
                _int_grid(F.col("embedding")).alias("qv"),
            )
        )
        .withColumn(
            "__cells", cell_assigner(centroids, _IVF_NPROBE)(F.col("__v"))
        )
        .select("query_id", "qv", F.explode("__cells").alias("cell"))
        .withColumn("cell", F.col("cell").cast("long"))
    )
    qsubs = (
        qp.join(F.broadcast(centq), "cell")
        .select(
            "query_id",
            "cell",
            F.zip_with("qv", "cq", lambda a, b: a - b).alias("rq"),
        )
        .select("query_id", "cell", _pq_subspaces(F.col("rq")).alias("s", "subq"))
    )
    lut = qsubs.join(F.broadcast(codebook), "s").select(
        "query_id", "cell", "s", "j", _q198_sqdist("subq", "cq").alias("dpart")
    )
    cand = codes.join(res.select("vec_id", "cell"), "vec_id")
    adc = (
        cand.join(
            F.broadcast(lut),
            (cand["cell"] == lut["cell"])
            & (cand["s"] == lut["s"])
            & (cand["code"] == lut["j"]),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("dpart").alias("adc_dist"))
    )
    return top_k_per_group(
        adc,
        group_by=["query_id"],
        order_by=[F.col("adc_dist").asc(), F.col("vec_id").asc()],
        k=_IVF_K,
        rank_col="rank",
    ).select("query_id", "vec_id", "rank", "adc_dist")


def _ivfpq_sql(corpus: str, queries: str, *, exclude_self: bool, dial=None) -> str:
    """The IVF-PQ oracle (q201, q202, q202_dialed): the coarse IVF
    index (``_ivf_ctes``) over the embeddings passing ``corpus``,
    residual codebooks trained and applied by the shared
    ``_pq_sql_core`` chain, the nprobe probe of the rows passing
    ``queries``, the per-(query, cell) residual LUT and the ADC scan,
    top ``_IVF_K`` by (adc_dist, vec_id).  ``exclude_self`` drops each
    query's own row.  ``dial`` is the cell count as a SQL expression
    over the corpus size ``n`` (``_IVF_DIAL_SQL``); without it the
    index has ``_IVF_CELLS`` cells."""
    ncells = _IVF_CELLS
    if dial is not None:
        ncells = f"(SELECT {dial} FROM (SELECT count(*) AS n FROM CORP))"
    self_pair = "WHERE ca.vec_id <> l.query_id" if exclude_self else ""
    return f"""
WITH {EMBEDDINGS_CTE}, E AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_transform(embedding::DOUBLE[],
           x -> CAST(floor(x * {_Q198_SCALE} + 0.5) AS BIGINT)) AS qv
  FROM embeddings
),
CORP AS (SELECT * FROM E WHERE {corpus}),
{_ivf_ctes("CORP", ncells, ("AO", "CORP", "TRUE", 1),
           ("QP", "E", queries, _IVF_NPROBE))},
RES AS (
  SELECT a.vec_id, a.cell,
         list_transform(range(1, 65), i -> a.qv[i] - c.qv[i]) AS rq
  FROM AO a JOIN C c USING (cell)
),
SS AS (SELECT unnest(range({_Q198_M})) AS s),
RSUBS AS (
  SELECT vec_id, s,
         rq[(s*{_Q198_LANES}+1):(s*{_Q198_LANES}+{_Q198_LANES})] AS subq
  FROM RES, SS
),
{_pq_sql_core("RSUBS")},
QSUBS AS (
  SELECT query_id, cell, s,
         rq[(s*{_Q198_LANES}+1):(s*{_Q198_LANES}+{_Q198_LANES})] AS subq
  FROM (
    SELECT q.vec_id AS query_id, q.cell,
           list_transform(range(1, 65), i -> q.qv[i] - c.qv[i]) AS rq
    FROM QP q JOIN C c USING (cell)), SS
),
LUT AS (
  SELECT q.query_id, q.cell, c.s, c.j,
         CAST(list_sum(list_transform(range(1, {_Q198_LANES} + 1),
           i -> (q.subq[i] - c.cq[i]) * (q.subq[i] - c.cq[i]))) AS BIGINT)
           AS dpart
  FROM QSUBS q JOIN CB c ON q.s = c.s
),
CAND AS (
  SELECT co.vec_id, a.cell, co.s, co.code
  FROM CODES co JOIN AO a USING (vec_id)
),
ADC AS (
  SELECT l.query_id, ca.vec_id, CAST(sum(l.dpart) AS BIGINT) AS adc_dist
  FROM CAND ca
  JOIN LUT l ON l.cell = ca.cell AND l.s = ca.s AND l.j = ca.code
  {self_pair}
  GROUP BY 1, 2
),
R AS (
  SELECT query_id, vec_id, adc_dist,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY adc_dist, vec_id
         ) AS BIGINT) AS rank
  FROM ADC
)
SELECT query_id, vec_id, rank, adc_dist FROM R WHERE rank <= {_IVF_K}
"""


_Q201_SQL = _ivfpq_sql("TRUE", "vec_id < 8", exclude_self=True)


# ---------------------------------------------------------------- q202
def _q202_artifacts(spark: SparkSession, sf_dir: str, cells: int = _IVF_CELLS):
    """Batch-build the COMPRESSED serving index from the corpus side
    (``vec_id % 25 != 0``): coarse cells + residual-PQ codes packed by
    ``_pack_cells`` (``array<struct<vec_id, codes>>`` per cell), the
    |cells|-row grid-centroid table (joins stream-static for
    row-local residuals), and the codebook COLLECTED into a
    (M, K, lanes) Python array for the Arrow scorer closure —
    K·M·lanes ints, a MODEL artifact.  The centroid table is a
    literal scan.  ``cells`` is the IVF dial: the registered query
    pins it to the oracle's 16; a deployment scales it with the
    corpus (``_ivf_dial``, q202_dialed) so per-query scan work stays
    bounded — ``tools/retime_some.py`` measures both settings
    (SCALE.md)."""
    emb = load_vectors(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") % 25 != 0)
    _, centroids = seed_centroids(corpus, cells)
    centq = _grid_centroids(spark, centroids)
    base = assign_cells(corpus, centroids).withColumn("qv", _int_grid(F.col("__v")))
    res = scoped_persist(
        base.join(F.broadcast(centq), "cell").select(
            "vec_id",
            "cell",
            F.zip_with("qv", "cq", lambda a, b: a - b).alias("rq"),
        )
    )
    rsubs = res.select("vec_id", _pq_subspaces(F.col("rq")).alias("s", "subq"))
    codebook, codes = _pq_train_encode(rsubs)
    code_arrays = codes.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("s", "code"))),
            lambda x: x["code"],
        ).alias("codes")
    )
    cellpay = _pack_cells(
        res.select("vec_id", "cell").join(code_arrays, "vec_id"), "codes"
    )
    cb_rows = codebook.orderBy("s", "j").collect()
    cb_py = [
        [list(r["cq"]) for r in cb_rows if r["s"] == s]
        for s in range(_Q198_M)
    ]
    return centroids, centq, cellpay, cb_py


def _q202_transform(centroids, centq: DataFrame, cellpay: DataFrame, cb_py):
    """Stream-side plan: ``_ivf_stream_probe`` where probe ``i`` joins
    the packed payload table and the 16-row grid-centroid table (for
    the row-local residual) and scores its members with the Arrow ADC
    scorer; the top-k sorts by the exact integer ``adc_dist``
    ascending.  Zero stateful operators."""
    scorer = pq_adc_scorer(cb_py, _IVF_K)
    empty = F.array().cast("array<struct<adc_dist: bigint, vec_id: bigint>>")

    def probe(out: DataFrame, i: int):
        pay_i = cellpay.select(
            F.col("cell").alias(f"__c{i}"), F.col("members").alias(f"__m{i}")
        )
        cq_i = centq.select(
            F.col("cell").alias(f"__c{i}"), F.col("cq").alias(f"__cq{i}")
        )
        out = (
            out.join(pay_i, f"__c{i}", "left")
            .join(cq_i, f"__c{i}", "left")
            .withColumn(
                f"__s{i}",
                scorer(
                    F.zip_with("__qg", F.col(f"__cq{i}"), lambda a, b: a - b),
                    F.col(f"__m{i}"),
                ),
            )
        )
        return out, F.coalesce(F.col(f"__s{i}"), empty)

    return _ivf_stream_probe(
        centroids,
        vec="__qv",
        extra=[_int_grid(F.col("embedding")).alias("__qg")],
        probe=probe,
        rungs=lambda a, b: F.when(a["adc_dist"] < b["adc_dist"], F.lit(-1)).when(
            a["adc_dist"] > b["adc_dist"], F.lit(1)
        ),
        score="adc_dist",
    )


def q202_streaming_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE VECTOR SEARCH OVER THE COMPRESSED INDEX — q196's
    serving shape upgraded to the q201 storage layout: query
    embeddings (``vec_id % 25 = 0``) arrive on a live stream and are
    answered from the corpus's IVF-PQ index with ZERO stateful
    operators.  The stream never touches a corpus vector: probed
    cells ship only 4-byte PQ codes, the per-query lookup table is
    built row-locally from the broadcast codebook, and distances are
    exact BIGINTs — the whole approximation (coarse assignment,
    residual codebooks, encoding, probing, ADC) replays in the DuckDB
    oracle under the hash gate.

    The stream plan is the shared ``_ivf_stream_probe`` (q196's), with
    the Arrow ADC scorer as each probe's score; the oracle is the
    shared ``_ivfpq_sql`` (q201's), over the q196 split.

    This closes the vector-family matrix: exact (q13) / LSH (q13_ann)
    / IVF (q13_ivf, served live by q196) / PQ (q198) / IVF-PQ (q201)
    / index maintenance (q200) — and now IVF-PQ served live.

    State: zero entries, append mode, no watermark/sentinel.  Scale:
    the per-cell payload is |corpus|/cells × ~4 bytes + id (the
    num_cells dial keeps it executor-sized); the codebook closure and
    centroid join are K·M-row model artifacts; per-query work is
    nprobe payload joins + row-local integer math."""
    from ..session import release_scoped_caches
    from ..streaming.gate import run_streaming_gate

    emb = load_vectors(spark, sf_dir)
    centroids, centq, cellpay, cb_py = _q202_artifacts(spark, sf_dir)
    release_scoped_caches()
    queries = emb.filter(F.col("vec_id") % 25 == 0).select("vec_id", "embedding")
    transform = _q202_transform(centroids, centq, cellpay, cb_py)
    return run_streaming_gate(spark, [(queries, None)], transform, prefix="q202")


_Q202_SQL = _ivfpq_sql("vec_id % 25 <> 0", "vec_id % 25 = 0", exclude_self=False)


# --------------------------------------------------------- q202_dialed
def _ivf_dial(n_corpus: int) -> int:
    """Production IVF cell-count dial: the largest power of two whose
    square fits the corpus (cells ≈ √n balances the per-probe payload
    scan, |corpus|/cells, against the probe fan-out), floored at the
    oracle grid's 16 (``_IVF_CELLS``) and CAPPED at 65536 — the last
    value in the oracle's candidate list, and the point past which a
    real deployment shards the index across serving groups rather
    than growing nlist (n ≥ 2^34 vectors in one index).  Pure integer
    arithmetic — no floating-point log/sqrt — so the SQL oracle
    derives the IDENTICAL value from ``count(*)`` at every n and the
    dialed plan stays hash-gateable at every scale factor (the
    round-8 amber: the measured scale dial lived only in tools/,
    outside the gate)."""
    cells = _IVF_CELLS
    while cells < 65536 and (cells * 2) * (cells * 2) <= max(
        n_corpus, _IVF_CELLS * _IVF_CELLS
    ):
        cells *= 2
    return cells


def q202_dialed_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q202's live IVF-PQ serving with the PRODUCTION quantizer dial:
    the cell count scales with the corpus (``_ivf_dial``: largest
    power of two with cells² ≤ |corpus|, min 16) instead of the fixed
    16-cell grid the q202 oracle pins.  Identical artifacts, stream
    plan and Arrow ADC scorer — only the dial differs — so per-query
    candidate work is |corpus|/√|corpus| ≈ √|corpus| per probe and the
    decade sweep stays sub-linear where the pinned dial measured 1.79×
    of linear at sf10 (SCALE.md).  The dial rule itself replays in the
    oracle (integer max-power-of-two from ``count(*)``), keeping the
    scale-correct configuration under the same hash gate as the
    registered fixed-dial twin: the oracle is q202's ``_ivfpq_sql``
    with ``_IVF_DIAL_SQL`` as the cell count.

    State: zero entries, append mode.  The one extra driver action is
    a corpus ``count()`` (a scalar; the artifact build already
    collects the K·M-row codebook)."""
    from ..session import release_scoped_caches
    from ..streaming.gate import run_streaming_gate

    emb = load_vectors(spark, sf_dir)
    cells = _ivf_dial(emb.filter(F.col("vec_id") % 25 != 0).count())
    centroids, centq, cellpay, cb_py = _q202_artifacts(spark, sf_dir, cells=cells)
    release_scoped_caches()
    queries = emb.filter(F.col("vec_id") % 25 == 0).select("vec_id", "embedding")
    transform = _q202_transform(centroids, centq, cellpay, cb_py)
    return run_streaming_gate(spark, [(queries, None)], transform, prefix="q202d")


#: ``_ivf_dial`` in SQL, over the corpus size ``n``: the largest
#: candidate power of two whose square fits ``n``, at least 16.
_IVF_DIAL_SQL = f"""(SELECT max(p)
  FROM (SELECT unnest([16, 32, 64, 128, 256, 512, 1024, 2048, 4096,
                       8192, 16384, 32768, 65536]::BIGINT[]) AS p)
  WHERE p * p <= greatest(n, {_IVF_CELLS * _IVF_CELLS}))"""

_Q202_DIALED_SQL = _ivfpq_sql(
    "vec_id % 25 <> 0", "vec_id % 25 = 0", exclude_self=False, dial=_IVF_DIAL_SQL
)


# ---------------------------------------------------------------- q166
def q166_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty curve: the fraction of a document's
    distinct 5-gram shingles that first appear in THAT document when
    the corpus is consumed in doc_id order — the standard duplication/
    novelty diagnostic for curriculum ordering and crawl-snapshot
    triage (a near-zero novelty doc is retained boilerplate).

    Scale shape: the exploded gram stream is aggregated TWICE on
    compact keys — per-doc gram counts, and min(doc_id) per gram whose
    winners re-aggregate into per-doc novel counts — then one join of
    two |docs|-sized tables.  (The naive form joins the gram-level
    first-occurrence table back onto the full exploded stream: a
    corpus-scale shuffle this shape never pays.)  All aggs are
    map-side combinable; novelty is one division over identical
    integers."""
    docs = load(spark, sf_dir, "documents")
    from ..operators.dedup import shingle_sets

    sh = shingle_sets(docs, id_col="doc_id", text_col="text", shingle_k=5)
    ex = sh.select("doc_id", F.explode("shingles").alias("g"))
    per_doc = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    novel = (
        ex.groupBy("g")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("novel_grams"))
    )
    return (
        per_doc.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("novel_grams", F.lit(0)).alias("novel_grams"),
            (
                F.coalesce("novel_grams", F.lit(0)).cast("double")
                / F.col("n_grams").cast("double")
            ).alias("novelty"),
        )
    )


_Q166_SQL = """
WITH sets AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(toks) - 3),
           i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2], ' ',
                       toks[i+3], ' ', toks[i+4])
         )) AS shingles
  FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks FROM documents)
  WHERE len(toks) >= 5
),
ex AS (SELECT doc_id, unnest(shingles) AS g FROM sets WHERE len(shingles) > 0),
pd AS (SELECT doc_id, count(*) AS n_grams FROM ex GROUP BY doc_id),
nv AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT min(doc_id) AS doc_id FROM ex GROUP BY g)
  GROUP BY doc_id
)
SELECT pd.doc_id, pd.n_grams,
       coalesce(nv.c, 0) AS novel_grams,
       CAST(coalesce(nv.c, 0) AS DOUBLE) / CAST(pd.n_grams AS DOUBLE) AS novelty
FROM pd LEFT JOIN nv USING (doc_id)
"""


# ---------------------------------------------------------------- q168
def q168_privacy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit over quasi-identifiers
    (lang, source, 100-char length band): group sizes, distinct
    sensitive values (first token as the stand-in sensitive
    attribute), and an at-risk flag (k < 5 or l < 2) — the release
    gate a privacy-aware corpus pipeline runs before publishing.

    Scale shape: one hash aggregation with partial map-side combine;
    the distinct count is exact via a two-level agg (QI+value, then
    QI), still shuffle-bounded by |distinct pairs|, not the corpus."""
    docs = load(spark, sf_dir, "documents")
    qi = docs.select(
        F.coalesce("lang", F.lit("")).alias("lang"),
        F.coalesce("source", F.lit("")).alias("source"),
        (F.col("n_chars") - F.pmod("n_chars", F.lit(100))).alias("len_band"),
        F.coalesce(F.element_at(tokens(F.col("text")), 1), F.lit("")).alias("sv"),
    )
    pairs = qi.groupBy("lang", "source", "len_band", "sv").agg(
        F.count(F.lit(1)).alias("c")
    )
    return (
        pairs.groupBy("lang", "source", "len_band")
        .agg(
            F.sum("c").alias("group_size"),
            F.count(F.lit(1)).alias("l_diversity"),
        )
        .select(
            "lang",
            "source",
            "len_band",
            "group_size",
            "l_diversity",
            ((F.col("group_size") < 5) | (F.col("l_diversity") < 2)).alias("at_risk"),
        )
    )


_Q168_SQL = """
WITH qi AS (
  SELECT coalesce(lang, '') AS lang,
         coalesce(source, '') AS source,
         n_chars - (n_chars % 100) AS len_band,
         coalesce(regexp_extract_all(text, '\\S+')[1], '') AS sv
  FROM documents
),
pairs AS (
  SELECT lang, source, len_band, sv, count(*) AS c
  FROM qi GROUP BY 1, 2, 3, 4
)
SELECT lang, source, len_band,
       CAST(sum(c) AS BIGINT) AS group_size,
       count(*) AS l_diversity,
       (CAST(sum(c) AS BIGINT) < 5 OR count(*) < 2) AS at_risk
FROM pairs
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------- q163
def q163_setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard ≥ 1/2 near-dup pairs over 3-word shingle sets via
    prefix filtering (PPJoin-family) — the lossless counterpart of
    q12_text_dedup's MinHash pipeline, fully oracle-paired: the DuckDB
    twin computes the naive all-pairs exact join and must agree
    bit-for-bit, which verifies the prefix-filter lemma end-to-end
    (candidate generation dropped nothing).  Threshold is the exact
    rational 1/2 so the survive predicate is integer on both engines."""
    docs = load(spark, sf_dir, "documents")
    from ..operators.dedup import setsim_prefix_join

    return setsim_prefix_join(
        docs, id_col="doc_id", text_col="text", shingle_k=3,
        threshold_num=1, threshold_den=2,
    )


_Q163_SQL = """
WITH sets AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, len(toks) - 1),
           i -> concat(toks[i], ' ', toks[i+1], ' ', toks[i+2])
         )) AS shingles
  FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks FROM documents)
  WHERE len(toks) >= 3
),
ex AS (SELECT doc_id, unnest(shingles) AS g FROM sets),
sizes AS (SELECT doc_id, len(shingles) AS n FROM sets),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       CAST(i AS INT) AS inter_size,
       CAST(na.n AS INT) AS size_a,
       CAST(nb.n AS INT) AS size_b,
       CAST(i AS DOUBLE) / (na.n + nb.n - i) AS jaccard_sim
FROM inter
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE 2 * i >= (na.n + nb.n - i)
"""


# ---------------------------------------------------------------- q164
def q164_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup pairs: documents whose whitespace-normalized
    text appears contiguously inside another document (Lee et al.
    substring dedup, "contained document" case).  Rarest-token
    blocking generates candidates losslessly (space-padded containment
    aligns on token boundaries, so A's rarest token must be a token of
    B); oracle is the naive all-pairs ``position()`` scan."""
    docs = load(spark, sf_dir, "documents")
    from ..operators.dedup import containment_pairs

    return containment_pairs(docs, id_col="doc_id", text_col="text")


_Q164_SQL = """
WITH norm AS (
  SELECT doc_id,
         array_to_string(regexp_extract_all(text, '\\S+'), ' ') AS s
  FROM documents
  WHERE len(regexp_extract_all(text, '\\S+')) >= 1
)
SELECT a.doc_id AS contained_id,
       b.doc_id AS container_id,
       CAST(length(a.s) AS INT) AS contained_chars,
       CAST(length(b.s) AS INT) AS container_chars
FROM norm a JOIN norm b ON a.doc_id <> b.doc_id
WHERE (length(a.s) < length(b.s)
       OR (length(a.s) = length(b.s) AND a.doc_id < b.doc_id))
  AND position((' ' || a.s || ' ') IN (' ' || b.s || ' ')) > 0
"""


# ---------------------------------------------------------------- q165
def q165_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model estimation over the corpus: per-bigram
    count, first-token continuation total, and the exact conditional
    probability P(w2|w1) (one division over identical integers on both
    engines).  Top-100 bigrams with a total-order tiebreak.

    Scale shape: one explode + hash-agg over corpus bigrams (partial
    aggregation map-side), then the continuation total as a window
    over the *bigram-type* table (vocabulary-sized, not corpus-sized)
    partitioned by w1 — never a second corpus scan."""
    docs = load(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    n = F.size(t)
    big = (
        # the >= 2 token floor mirrors the oracle's WHERE len(t) >= 2:
        # without it a zero-token document makes slice length n-1
        # negative, which is a runtime error in Spark while the oracle
        # just emits no rows — an engine-divergent crash on valid input
        docs.filter(n >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice(t, 1, n - 1).alias("w1"), F.slice(t, 2, n - 1).alias("w2")
                )
            ).alias("bg")
        )
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    counts = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_count"))
    w = Window.partitionBy("w1")
    return (
        counts.withColumn("first_count", F.sum("pair_count").over(w))
        .withColumn(
            "cond_p",
            F.col("pair_count").cast("double") / F.col("first_count").cast("double"),
        )
        .orderBy(F.col("pair_count").desc(), "w1", "w2")
        .limit(100)
    )


_Q165_SQL = """
WITH toks AS (SELECT regexp_extract_all(text, '\\S+') AS t FROM documents),
big AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM toks, unnest(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2
),
c AS (SELECT w1, w2, count(*) AS pair_count FROM big GROUP BY 1, 2)
SELECT w1, w2, pair_count,
       CAST(sum(pair_count) OVER (PARTITION BY w1) AS BIGINT) AS first_count,
       CAST(pair_count AS DOUBLE)
         / CAST(CAST(sum(pair_count) OVER (PARTITION BY w1) AS BIGINT) AS DOUBLE)
         AS cond_p
FROM c
ORDER BY pair_count DESC, w1, w2
LIMIT 100
"""


# ---------------------------------------------------------------- q182
def q182_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-band quality filter — the CCNet/Gopher-style step
    that sits between dedup and sampling in a pretraining pipeline:
    score every document under the corpus's own q165 bigram LM and
    report the quality-band mix the filter would keep/drop.

    Hash-exactness: true log-probabilities would need ``ln`` (libm,
    engine-divergent in the last ulp) or an order-dependent double
    sum, so the per-transition surprisal is kept integer-rational:
    ``inv_p_micro = (1_000_000 * first_count) DIV pair_count`` — the
    transition's inverse probability (its per-step perplexity) in
    micro-units, exact on both engines.  A document's score is the
    integer mean over its transitions (by AM >= GM this upper-bounds
    the geometric-mean perplexity, so band thresholds act as a
    conservative filter with the same ranking discipline).

    Scale shape: LM training is q165's one explode + map-side-partial
    hash-agg over corpus bigrams, with the continuation total as a
    window over the bigram-TYPE table (vocab-sized).  Scoring re-
    explodes transitions and joins the LM **broadcast** (the LM is
    vocab-bounded by construction — CCNet ships a fixed LM for the
    same reason; past broadcast size the dial is a shuffle join on
    w1), then aggregates per doc_id: every transition of a doc sits
    contiguous in its scan partition, so partial aggregation collapses
    the exchange to ~1 row per document.  The band rollup on top is
    band-count-sized.  No corpus-scale shuffle beyond the explode+agg
    pair; self-trained LM means every transition is in-vocabulary (no
    smoothing term needed for exactness)."""
    docs = load(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    n = F.size(t)
    trans = (
        docs.filter(n >= 2)  # q165's zero/one-token guard
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice(t, 1, n - 1).alias("w1"), F.slice(t, 2, n - 1).alias("w2")
                )
            ).alias("bg"),
        )
        .select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    lm = (
        trans.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .withColumn(
            "first_count", F.sum("pair_count").over(Window.partitionBy("w1"))
        )
        .withColumn(
            "inv_p_micro",
            F.expr("(1000000 * first_count) DIV pair_count"),
        )
        .select("w1", "w2", "inv_p_micro")
    )
    scored = (
        trans.join(F.broadcast(lm), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trans"),
            F.sum("inv_p_micro").alias("sum_inv"),
        )
        .select(
            "doc_id",
            "n_trans",
            F.expr("sum_inv DIV n_trans").alias("avg_inv_p_micro"),
        )
    )
    return (
        scored.groupBy(
            F.least(
                F.expr("avg_inv_p_micro DIV 5000000"), F.lit(9).cast("bigint")
            ).alias("quality_band")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_trans").alias("total_transitions"),
            F.min("avg_inv_p_micro").alias("best_score_micro"),
        )
        .orderBy("quality_band")
    )


_Q182_SQL = """
WITH toks AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM documents
),
trans AS (
  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM toks, unnest(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2
),
lm AS (
  SELECT w1, w2,
         (1000000 * CAST(sum(count(*)) OVER (PARTITION BY w1) AS BIGINT))
           // count(*) AS inv_p_micro
  FROM trans GROUP BY w1, w2
),
scored AS (
  SELECT tr.doc_id,
         CAST(count(*) AS BIGINT) AS n_trans,
         CAST(sum(lm.inv_p_micro) AS BIGINT) AS sum_inv
  FROM trans tr JOIN lm USING (w1, w2)
  GROUP BY 1
)
SELECT LEAST(sum_inv // n_trans // 5000000, 9) AS quality_band,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_trans) AS BIGINT) AS total_transitions,
       CAST(min(sum_inv // n_trans) AS BIGINT) AS best_score_micro
FROM scored
GROUP BY 1
ORDER BY 1
"""


# ---------------------------------------------------------------- q183
def q183_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021, Table A1),
    token-level: per document, the distinct-token ratio, the share of
    2-gram slots taken by the single most frequent 2-gram, and the
    fraction of 3-gram occurrences that are repeats — the intra-doc
    repetition signals that catch boilerplate/looping text that
    corpus-level dedup (inter-doc) never sees.  The keep rule uses
    exact integer cross-multiplication (5*top2 <= n2 i.e. top-2-gram
    share <= 20%, 10*dup3 <= 3*n3 i.e. repeated-3-gram share <= 30%),
    so the filter decision is engine-exact; the reported fractions are
    single divisions of identical integers.

    Scale shape (r12 OPT, guide §2.4): every signal — including the
    top-2-gram count, via the row-local sorted-run fold the streaming
    twin q190 already hash-validated against the same rule — is a
    function of the doc's own token array, so the whole query is ONE
    map-only projection: zero exchanges, zero joins, embarrassingly
    data-parallel at any scale.  (The previous shape exploded g2 into
    a corpus-bigram-volume groupBy((doc_id, g)) → groupBy(doc_id)
    pass and joined three doc-sized tables back on doc_id — 8
    Exchange nodes; A/B at sf0.1 the isolated top2 stage alone fell
    2.59s → 1.06s row-local.)"""
    docs = load_texts(spark, sf_dir)
    t = tokens(F.col("text"))
    stats = docs.select(
        "doc_id",
        F.size(t).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("bigint").alias("n_distinct"),
        word_shingles(t, 2).alias("g2"),
        word_shingles(t, 3).alias("g3"),
    ).select(
        "doc_id",
        "n_tokens",
        (F.col("n_distinct").cast("double")
         / F.col("n_tokens").cast("double")).alias("distinct_frac"),
        _rowlocal_top2(F.col("g2")).cast("bigint").alias("top2"),
        F.size("g2").cast("bigint").alias("n2"),
        (F.size("g3").cast("bigint")
         - F.size(F.array_distinct("g3")).cast("bigint")).alias("dup3"),
        F.size("g3").cast("bigint").alias("n3"),
    )
    return stats.select(
        "doc_id",
        "n_tokens",
        "distinct_frac",
        (F.col("top2").cast("double")
         / F.nullif(F.col("n2"), F.lit(0)).cast("double")).alias("top2gram_frac"),
        (F.col("dup3").cast("double")
         / F.nullif(F.col("n3"), F.lit(0)).cast("double")).alias("dup3gram_frac"),
        (
            (F.lit(5) * F.col("top2") <= F.col("n2"))
            & (F.lit(10) * F.col("dup3") <= F.lit(3) * F.col("n3"))
        ).cast("bigint").alias("keep"),
    )


# shared CTE block for the Gopher repetition rule — q183 (batch, full
# report) and q190 (streaming twin's batch oracle) gate the SAME rule,
# so they derive from ONE spec string and cannot drift apart.
_GOPHER_REP_CTES = rf"""
WITH {DOCUMENTS_CTE}, toks AS (
  SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS t FROM documents
),
base AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
         CAST(greatest(len(t) - 1, 0) AS BIGINT) AS n2,
         CAST(greatest(len(t) - 2, 0) AS BIGINT) AS n3
  FROM toks
),
g2 AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
  FROM toks, unnest(range(1, len(t))) AS r(i)
),
top2 AS (
  SELECT doc_id, max(c) AS top2 FROM (
    SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2
  ) GROUP BY 1
),
g3 AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
  FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
),
tri AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n3_occ,
         CAST(count(DISTINCT g) AS BIGINT) AS d3
  FROM g3 GROUP BY 1
)
"""

_Q183_SQL = _GOPHER_REP_CTES + r"""
SELECT b.doc_id,
       b.n_tokens,
       CAST(b.n_distinct AS DOUBLE) / CAST(b.n_tokens AS DOUBLE)
         AS distinct_frac,
       CAST(COALESCE(t2.top2, 0) AS DOUBLE)
         / CAST(NULLIF(b.n2, 0) AS DOUBLE) AS top2gram_frac,
       CAST(COALESCE(tr.n3_occ - tr.d3, 0) AS DOUBLE)
         / CAST(NULLIF(b.n3, 0) AS DOUBLE) AS dup3gram_frac,
       CAST(
         5 * COALESCE(t2.top2, 0) <= b.n2
         AND 10 * COALESCE(tr.n3_occ - tr.d3, 0) <= 3 * b.n3
         AS BIGINT
       ) AS keep
FROM base b
LEFT JOIN top2 t2 USING (doc_id)
LEFT JOIN tri tr USING (doc_id)
"""


# ---------------------------------------------------------------- q184
def q184_stopword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-derived stop-word quality signal (the CCNet/Gopher
    "contains required stop words" filter, with the stop list LEARNED
    from the corpus instead of shipped): the 20 tokens with the
    highest document frequency become the stop set; each document
    reports its stop-token fraction and the Gopher keep rule (>= 2
    DISTINCT stop tokens present).  Ties at the df cutoff break by
    token text so the set is deterministic on both engines.

    Scale shape (r12 OPT, guide §2.4): stop-set discovery folds the
    per-doc DISTINCT into the row (``explode(array_distinct(t))``),
    so the corpus-wide (doc, token) DISTINCT exchange disappears and
    the one remaining exchange is the map-side-combined token-type
    df-agg.  Scoring is then ROW-LOCAL — the 20-token set attaches as
    a 1-row broadcast and each doc counts its own occurrences/types
    with array folds — so the previous shape's broadcast-join over
    the exploded corpus (whose join keys are by construction the
    corpus's HOTTEST tokens), its per-doc re-aggregation, and the
    final doc_id join are all gone: one corpus pass + one projection."""
    docs = load(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    stop = (
        docs.select(F.explode(F.array_distinct(t)).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), "token")
        .limit(20)
    )
    # constant-key attach: the key must be DERIVED from a non-null
    # column (pmod(x, 1) == 0), not lit(1) — Catalyst constant-folds
    # literal keys out of the join condition and falls back to
    # BroadcastNestedLoopJoin; a derived key keeps the 1-row attach a
    # real BroadcastHashJoin.
    stop_arr = stop.agg(F.collect_list("token").alias("__stops")).withColumn(
        "__k", F.pmod(F.size("__stops"), F.lit(1))
    )
    return (
        docs.select(
            "doc_id", t.alias("__t"), F.array_distinct(t).alias("__td")
        )
        # the explode-based shape emitted no row for token-less docs
        # (NULL/empty text); keep that contract explicitly
        .filter(F.size("__t") >= 1)
        .withColumn("__k", F.pmod(F.size("__t"), F.lit(1)))
        .join(F.broadcast(stop_arr), "__k")
        .select(
            "doc_id",
            F.size("__t").cast("bigint").alias("n_tokens"),
            F.size(
                F.filter(
                    "__t", lambda x: F.array_contains(F.col("__stops"), x)
                )
            ).cast("bigint").alias("stop_occ"),
            F.size(F.array_intersect("__td", "__stops"))
            .cast("bigint")
            .alias("stop_types"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "stop_occ",
            "stop_types",
            (
                F.col("stop_occ").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("stop_frac"),
            (F.col("stop_types") >= 2).cast("bigint").alias("keep"),
        )
    )


_Q184_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(trim(text), '\S+')) AS token
  FROM documents
),
stop AS (
  SELECT token FROM (
    SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM tok)
    GROUP BY 1
  ) ORDER BY df DESC, token LIMIT 20
),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY 1
),
hits AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS stop_occ,
         CAST(count(DISTINCT token) AS BIGINT) AS stop_types
  FROM tok JOIN stop USING (token)
  GROUP BY 1
)
SELECT p.doc_id, p.n_tokens,
       COALESCE(h.stop_occ, 0) AS stop_occ,
       COALESCE(h.stop_types, 0) AS stop_types,
       CAST(COALESCE(h.stop_occ, 0) AS DOUBLE) / CAST(p.n_tokens AS DOUBLE)
         AS stop_frac,
       CAST(COALESCE(h.stop_types, 0) >= 2 AS BIGINT) AS keep
FROM per_doc p LEFT JOIN hits h USING (doc_id)
"""


# ---------------------------------------------------------------- q185
def q185_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture reweighting (alpha = 0.5, the
    multilingual-pretraining upsampling rule): each (lang, source)
    domain's sampling weight is proportional to its token mass raised
    to alpha.  Reported as the UPSAMPLING RATIO relative to the
    largest domain — sqrt(n_i)/sqrt(n_max) — because IEEE-754 sqrt is
    correctly rounded on every engine (unlike ln/pow) and the ratio of
    two sqrt values needs no order-dependent normalizing sum, keeping
    the whole operator hash-exact.  A data-mixing config divides by
    the (engine-local) weight sum at APPLY time; the ratios here are
    the portable artifact.

    Scale shape: one explode+agg for domain token mass (map-side
    partials), then all arithmetic happens on the domain-count-sized
    table with the max attached by a scalar window."""
    docs = load(spark, sf_dir, "documents")
    per = docs.groupBy("lang", "source").agg(
        F.sum(F.size(tokens(F.col("text"))).cast("bigint")).alias("n_tokens")
    )
    mx = F.max("n_tokens").over(Window.partitionBy())
    return per.select(
        "lang",
        "source",
        "n_tokens",
        (
            F.sqrt(F.col("n_tokens").cast("double"))
            / F.sqrt(mx.cast("double"))
        ).alias("temp_weight_rel"),
    )


_Q185_SQL = r"""
WITH per AS (
  SELECT lang, source,
         CAST(sum(len(regexp_extract_all(trim(text), '\S+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY 1, 2
)
SELECT lang, source, n_tokens,
       sqrt(CAST(n_tokens AS DOUBLE))
         / sqrt(CAST(max(n_tokens) OVER () AS DOUBLE)) AS temp_weight_rel
FROM per
"""


# ---------------------------------------------------------------- q187
def _dsir_raw_lm(trans: DataFrame) -> DataFrame:
    """Survivor ("raw") bigram LM — (w1, w2, pair_r, first_r,
    n_bigram_types) — shared by q187 and the q189/q191/q197 pipeline.

    The vocab-bounded pair table is scope-persisted: the LM's window
    and the ``n_bigram_types`` scalar both read it, so the corpus-sized
    ``trans`` is aggregated once.  The scalar is attached with a 1-row
    constant-key BroadcastHashJoin, never a ``Window.partitionBy()``
    that would gather the whole bigram-type table onto one task."""
    # persist beat recompute at every swept size (AB_floor_dsir.json)
    pair_tbl = scoped_persist(
        trans.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_r"))
    )
    # pmod(non-null, 1) == 0 keeps the 1-row attach a real
    # BroadcastHashJoin (lit(1) keys constant-fold out of the join
    # condition and degrade to BroadcastNestedLoopJoin)
    nbt = pair_tbl.agg(
        F.count(F.lit(1)).alias("n_bigram_types")
    ).withColumn("__k", F.pmod(F.col("n_bigram_types"), F.lit(1)))
    return (
        pair_tbl.withColumn(
            "first_r", F.sum("pair_r").over(Window.partitionBy("w1"))
        )
        .withColumn("__k", F.pmod(F.col("pair_r"), F.lit(1)))
        .join(F.broadcast(nbt), "__k")
        .drop("__k")
    )


def _dsir_scoring(docs: DataFrame):
    """The DSIR scoring stage shared by q187 and q189 stage 3
    (SimpleNamespace: raw_lm, tgt_lm, ratios).  ``docs`` (doc_id, lang,
    text) explodes into a scope-persisted bigram transition table; the
    survivor LM and the English target LM are both vocab-bounded and
    broadcast back to it; ``ratios`` is one (doc_id, lang, ratio_micro)
    row per transition, the exact-integer importance ratio that the
    callers average per document."""
    from types import SimpleNamespace

    t = tokens(F.col("text"))
    n = F.size(t)
    trans = (
        docs.filter(n >= 2)
        .select(
            "doc_id",
            "lang",
            F.explode(
                F.arrays_zip(
                    F.slice(t, 1, n - 1).alias("w1"), F.slice(t, 2, n - 1).alias("w2")
                )
            ).alias("bg"),
        )
        .select("doc_id", "lang", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .transform(scoped_persist)
    )
    raw_lm = _dsir_raw_lm(trans)
    tgt_lm = (
        trans.filter(F.col("lang") == "en")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_t"))
        .withColumn("first_t", F.sum("pair_t").over(Window.partitionBy("w1")))
    )
    ratios = (
        trans.join(F.broadcast(raw_lm), ["w1", "w2"])
        .join(F.broadcast(tgt_lm), ["w1", "w2"], "left")
        .select(
            "doc_id",
            "lang",
            F.expr(
                "(1000000 * (coalesce(pair_t, 0) + 1) * first_r)"
                " DIV ((coalesce(first_t, 0) + n_bigram_types) * pair_r)"
            ).alias("ratio_micro"),
        )
    )
    return SimpleNamespace(raw_lm=raw_lm, tgt_lm=tgt_lm, ratios=ratios)


def _q187_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q187's SCORING stage (everything up to the per-doc weight table,
    ~1 row/doc) — exposed separately so plan tests can assert the
    broadcast-LM shape on the stage itself: the distributed rank that
    follows starts with a ``localCheckpoint``, which truncates the
    visible plan of the full query."""
    docs = load(spark, sf_dir, "documents")
    return (
        _dsir_scoring(docs)
        .ratios.groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_trans"),
            F.sum("ratio_micro").alias("sum_ratio"),
        )
        .select(
            "doc_id",
            "lang",
            "n_trans",
            F.expr("sum_ratio DIV n_trans").alias("dsir_weight_micro"),
        )
    )


def q187_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, Data Selection via
    Importance Resampling): score every document by how target-like
    its bigram distribution is — the importance ratio between a TARGET
    LM (here: the English subset, standing in for the high-quality
    domain) and the RAW corpus LM — then keep the top 20%.  This is
    the selection step that follows the q182-q185 quality filters in a
    modern curation pipeline: filters drop junk, DSIR re-weights what
    remains toward the target distribution.

    Hash-exactness (same discipline as q182): no logs, no float sums.
    Per transition, the importance ratio p_target/p_raw is kept
    integer-rational with add-one smoothing on the target side (raw is
    self-trained, so every transition is raw-in-vocab):

        ratio_micro = (1e6 * (pair_t + 1) * first_r)
                      DIV ((first_t + B) * pair_r)

    where B is the raw corpus's distinct-bigram-type count (the
    Laplace denominator).  A document's weight is the integer mean of
    its transition ratios (AM of ratios — a conservative, monotone
    proxy for the geometric mean the paper uses; same note as q182).
    Selection is exact: rank by (weight DESC, doc_id) and keep rows
    with rank*5 <= n_scored (integer cross-multiplication, no
    percent arithmetic).  BIGINT headroom: the numerator is bounded by
    1e6 * max_pair * total_transitions — fine through ~sf1; past that
    the documented dial is DECIMAL(38,0) for the two products.

    Scale shape: one corpus explode feeds three consumers (raw LM,
    target LM, scoring), so the transition table is scope-persisted
    once; both LMs are vocab²-bounded and attach to the scoring pass
    as broadcasts; per-doc aggregation partial-aggregates to ~1 row
    per document.  The final top-20% rank is DISTRIBUTED: the
    range-partition rank operator (``assign_stable_ids``,
    operators/ids.py — descending via exact BIGINT negation,
    per-partition counts -> offsets, map-only Arrow numbering, total
    count attached from the same count job), so no corpus-scale
    single-partition sort exists anywhere in the plan and the
    selection is pure column arithmetic — bit-identical to the
    single-partition window, strict (weight DESC, doc_id) tiebreak
    included."""
    scored = _q187_scored(spark, sf_dir)
    ranked = assign_stable_ids(
        scored.withColumn("_neg", -F.col("dsir_weight_micro")),
        ["_neg", "doc_id"],
        id_col="_rank",
        total_col="_n",
    )
    return ranked.select(
        "doc_id",
        "lang",
        "n_trans",
        "dsir_weight_micro",
        (F.col("_rank") * F.lit(5) <= F.col("_n")).cast("bigint").alias("selected"),
    )


_Q187_SQL = """
WITH toks AS (
  SELECT doc_id, lang, regexp_extract_all(text, '\\S+') AS t FROM documents
),
trans AS (
  SELECT doc_id, lang, t[i] AS w1, t[i+1] AS w2
  FROM toks, unnest(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2
),
raw_lm AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_r,
         CAST(sum(count(*)) OVER (PARTITION BY w1) AS BIGINT) AS first_r,
         CAST(count(*) OVER () AS BIGINT) AS n_bigram_types
  FROM trans GROUP BY w1, w2
),
tgt_lm AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_t,
         CAST(sum(count(*)) OVER (PARTITION BY w1) AS BIGINT) AS first_t
  FROM trans WHERE lang = 'en' GROUP BY w1, w2
),
scored AS (
  SELECT tr.doc_id, tr.lang,
         CAST(count(*) AS BIGINT) AS n_trans,
         CAST(sum(
           (1000000 * (coalesce(tg.pair_t, 0) + 1) * r.first_r)
           // ((coalesce(tg.first_t, 0) + r.n_bigram_types) * r.pair_r)
         ) AS BIGINT) AS sum_ratio
  FROM trans tr
  JOIN raw_lm r USING (w1, w2)
  LEFT JOIN tgt_lm tg USING (w1, w2)
  GROUP BY 1, 2
)
SELECT doc_id, lang, n_trans,
       sum_ratio // n_trans AS dsir_weight_micro,
       CAST(
         row_number() OVER (ORDER BY sum_ratio // n_trans DESC, doc_id) * 5
           <= count(*) OVER ()
         AS BIGINT) AS selected
FROM scored
"""


# ---------------------------------------------------------------- q188
def _q188_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q188's SCORING stage (per-vec integer dot products, ~1 row/vec)
    — exposed for plan tests, same reason as :func:`_q187_scored`."""
    emb = load_vectors(spark, sf_dir)
    comp = (
        emb.select(
            "vec_id", "label", F.posexplode("embedding").alias("dim", "comp")
        )
        .withColumn(
            "comp_micro",
            F.expr("CAST(floor(CAST(comp AS DOUBLE) * 1000000) AS BIGINT)"),
        )
        .drop("comp")
        .transform(scoped_persist)
    )
    w_vec = (
        comp.filter(F.col("label") == 1)
        .groupBy("dim")
        .agg(F.sum("comp_micro").alias("w_micro"))
    )
    return (
        comp.join(F.broadcast(w_vec), "dim")
        .groupBy("vec_id", "label")
        .agg(F.sum(F.col("comp_micro") * F.col("w_micro")).alias("score_u"))
    )


def q188_classifier_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-classifier quality filter — the FineWeb-Edu-style
    selection step: score every item by a linear classifier in
    embedding space and keep the top 20%.  The classifier here is the
    nearest-class-mean direction for the positive seed class
    (``label = 1`` stands in for "rated educational"): w = the
    (unnormalized) centroid of the seed class, score = <w, x>.  This
    completes the quality-filter block: q182 scores text under an LM,
    q183/q184 apply surface heuristics, q188 scores the EMBEDDING —
    the three signal families every modern curation pipeline combines.

    Hash-exactness (same discipline as q182/q187, extended to float
    vectors): each float component is quantized ONCE to integer
    micro-units — ``floor(CAST(comp AS DOUBLE) * 1e6)`` — after which
    the centroid sum, the dot product and the ranking are pure BIGINT
    arithmetic, order-independent on both engines (a float centroid
    mean would be an order-dependent double sum — engine-divergent).
    Headroom: |comp| < 1 so each dot term is < 1e6 * n_pos * 1e6;
    at sf1 (~5k positives) the 64-term score is < 1e17, well inside
    BIGINT; past ~sf100 the documented dial is DECIMAL(38,0).

    Scale shape: one posexplode of the corpus (64 rows/vec) is
    scope-persisted and feeds BOTH the class-centroid aggregation
    (dim-bounded: 64 rows out) and the scoring pass, where the
    centroid attaches as a broadcast; per-vec dot products partial-
    aggregate to ~1 row per vector before the exchange.  The final
    top-20% rank uses the same distributed range-partition rank
    operator as q187 (``assign_stable_ids`` — no single-partition
    sort; exact tiebreak (score DESC, vec_id) preserved)."""
    scored = _q188_scored(spark, sf_dir)
    ranked = assign_stable_ids(
        scored.withColumn("_neg", -F.col("score_u")),
        ["_neg", "vec_id"],
        id_col="_rank",
        total_col="_n",
    )
    return ranked.select(
        "vec_id",
        "label",
        "score_u",
        (F.col("_rank") * F.lit(5) <= F.col("_n")).cast("bigint").alias("selected"),
    )


_Q188_SQL = f"""
WITH {EMBEDDINGS_CTE}, comp AS (
  SELECT vec_id, label, i - 1 AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
           AS comp_micro
  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS r(i)
),
w_vec AS (
  SELECT dim, CAST(sum(comp_micro) AS BIGINT) AS w_micro
  FROM comp WHERE label = 1 GROUP BY dim
),
scored AS (
  SELECT c.vec_id, c.label,
         CAST(sum(c.comp_micro * w.w_micro) AS BIGINT) AS score_u
  FROM comp c JOIN w_vec w USING (dim)
  GROUP BY 1, 2
)
SELECT vec_id, label, score_u,
       CAST(row_number() OVER (ORDER BY score_u DESC, vec_id) * 5
              <= count(*) OVER ()
            AS BIGINT) AS selected
FROM scored
"""


def _rowlocal_top2(g2):
    """Top-2-gram occurrence count computed ROW-LOCALLY: sort the
    doc's own 2-gram array and fold it once (max run length = top
    2-gram count).  The fold's lambdas touch only their accumulator
    and element, so nothing upstream re-evaluates per position.  This
    is the streaming-safe shape of q183's explode + per-(doc, gram)
    aggregation — zero shuffles, zero state — shared by q190 and q191
    so the two streaming quality paths cannot drift."""
    zero = F.lit(0).cast("bigint")
    one = F.lit(1).cast("bigint")
    return F.aggregate(
        F.array_sort(g2),
        F.struct(F.lit("").alias("prev"), zero.alias("run"), zero.alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + one).otherwise(one).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + one).otherwise(one),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )


# ---------------------------------------------------------------- q190
def q190_streaming_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The q183 Gopher repetition filter EXECUTED AS A LIVE STREAM —
    the ingest-time shape of quality filtering: documents arriving on
    a stream are scored and flagged per micro-batch, stateless, and
    the streamed result is hash-gated against the batch oracle (same
    rule, two execution modes — the q181 discipline applied to the
    curation block).

    The streaming rewrite changes the SHAPE, not the semantics: batch
    q183 finds the top-2-gram count via explode + per-(doc, gram)
    aggregation (right at rest, where partial aggs collapse the
    exchange); a stream must not shuffle per batch, so here the same
    count is computed ROW-LOCALLY — sort the doc's own 2-gram array
    and fold it once (``aggregate`` over ``array_sort``, max run
    length = top-2-gram count; the fold's lambdas touch only their
    accumulator and element, so nothing upstream is re-evaluated per
    position).  Zero shuffles, zero state store entries: each doc is
    scored inside its scan task, which is exactly how an ingest
    filter holds up at 100 TB/day.

    No watermark/sentinel protocol needed (stateless projection in
    append mode), so the gate runs with ``sentinel=None``."""
    from ..streaming.gate import run_streaming_gate

    docs = load_texts(spark, sf_dir).select("doc_id", "text")

    def score(stream: DataFrame) -> DataFrame:
        t = tokens(F.col("text"))
        g2 = word_shingles(t, 2)
        g3 = word_shingles(t, 3)
        top2 = _rowlocal_top2(g2)
        # two chained selects, deliberately: higher-order functions are
        # excluded from subexpression elimination (SPARK-35410), so
        # referencing the sorted fold twice in ONE projection would run
        # it twice per row; aliasing it once here and deriving the keep
        # rule from plain attributes below evaluates it once
        # (CollapseProject keeps non-cheap multi-referenced aliases
        # un-inlined, SPARK-36718).
        stats = stream.select(
            "doc_id",
            F.size(t).cast("bigint").alias("n_tokens"),
            top2.alias("top2"),
            F.size(g2).cast("bigint").alias("n2"),
            F.size(g3).cast("bigint").alias("n3"),
            (F.size(g3) - F.size(F.array_distinct(g3))).cast("bigint").alias("dup3"),
        )
        return stats.select(
            "doc_id",
            "n_tokens",
            "top2",
            "dup3",
            (
                (F.lit(5) * F.col("top2") <= F.col("n2"))
                & (F.lit(10) * F.col("dup3") <= F.lit(3) * F.col("n3"))
            )
            .cast("bigint")
            .alias("rep_keep"),
        )

    return run_streaming_gate(spark, [(docs, None)], score, prefix="q190")


_Q190_SQL = _GOPHER_REP_CTES + r"""
SELECT b.doc_id, b.n_tokens,
       CAST(COALESCE(t2.top2, 0) AS BIGINT) AS top2,
       CAST(COALESCE(tr.n3_occ - tr.d3, 0) AS BIGINT) AS dup3,
       CAST(5 * COALESCE(t2.top2, 0) <= b.n2
            AND 10 * COALESCE(tr.n3_occ - tr.d3, 0) <= 3 * b.n3
            AS BIGINT) AS rep_keep
FROM base b
LEFT JOIN top2 t2 USING (doc_id)
LEFT JOIN tri tr USING (doc_id)
"""


# ---------------------------------------------------------------- q191
def _q191_artifacts(spark: SparkSession, sf_dir: str):
    """Batch-train the streaming-ingest artifacts from q189's OWN
    stage objects (so the two execution modes cannot drift):

    * ``stops`` — the corpus top-20 document-frequency stop tokens
      (q184's rule), 20 strings → a literal array in the stream plan.
    * ``canon_fp`` — md5 fingerprint → min-doc_id canonical among
      stage-1 survivors, eagerly checkpointed so each micro-batch's
      stream-static join scans materialized blocks instead of
      re-running the batch stage graph.
    * ``lm`` — the two DSIR bigram LMs as plain dicts for a Python
      broadcast: vocab-bounded MODEL artifacts (the same memory class
      as the batch query's ``F.broadcast(raw_lm)``), not corpus-sized
      tables.
    * ``cutoff`` — the (weight, doc_id) of the LAST selected document
      under the batch top-20% rank (wgt desc, doc_id asc tie-break),
      so ingest-side selection is the pure row-local predicate
      ``wgt > w* OR (wgt = w* AND doc_id <= id*)`` — exactly the
      batch membership, no global rank in the stream.
    """
    p = _q189_pipeline(spark, sf_dir)
    stops = [r["token"] for r in p.stop.collect()]
    canon_fp = (
        p.surv1.groupBy(F.md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("canon_id"))
        .localCheckpoint(eager=True)
    )
    raw_rows = p.raw_lm.collect()
    raw = {(r["w1"], r["w2"]): (r["pair_r"], r["first_r"]) for r in raw_rows}
    nbt = raw_rows[0]["n_bigram_types"] if raw_rows else 1
    tgt = {
        (r["w1"], r["w2"]): (r["pair_t"], r["first_t"])
        for r in p.tgt_lm.collect()
    }
    ranked = assign_stable_ids(
        p.weights.withColumn("_neg", -F.col("wgt")),
        ["_neg", "doc_id"],
        id_col="_rank",
        total_col="_n",
    )
    last = (
        ranked.filter(F.col("_rank") * F.lit(5) <= F.col("_n"))
        .orderBy(F.col("_rank").desc())
        .limit(1)
        .collect()
    )
    cutoff = (last[0]["wgt"], last[0]["doc_id"]) if last else None
    return stops, canon_fp, (raw, nbt, tgt), cutoff


def q191_streaming_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q189's END-TO-END curation ledger EXECUTED AS A LIVE INGEST
    STREAM — the round-6 flagship: documents arriving on a stream flow
    through the SAME composed selection function (Gopher repetition ->
    corpus stop-word gate -> exact dedup -> DSIR top-20%) and emit the
    same per-document disposition ledger, hash-gated against q189's
    batch oracle SQL.

    This is the production lambda shape for corpus curation: the
    corpus-level statistics are BATCH-TRAINED artifacts (stop set,
    survivor fingerprint canon, DSIR bigram LMs, selection cutoff —
    ``_q191_artifacts``, derived from q189's own stage objects), and
    the stream applies them per arriving document with ZERO stateful
    operators:

    * repetition + stop-word scores are row-local array folds (q190's
      pattern; the stop gate intersects the doc's distinct tokens with
      the 20-token literal) — no explode, no shuffle;
    * exact dedup is a stream-static LEFT join against the fingerprint
      canon — per-micro-batch, state-free, the Spark expression of
      "ingest dedup against the historical corpus index".  (The
      in-stream alternative, ``dropDuplicatesWithinWatermark``, keeps
      the FIRST arrival — arrival order under file-source batching is
      nondeterministic, so it cannot hash-match the batch ledger's
      min-doc_id canon; the state-free static join both matches
      exactly and is the shape a 100 TB/day ingest actually uses);
    * the DSIR importance weight is computed row-locally in ONE Arrow
      ``mapInPandas`` stage over the broadcast LM dicts (exact integer
      arithmetic, identical to the batch DIV formula), and selection
      compares against the broadcast batch cutoff — no global rank,
      no window, in the stream.

    State: zero entries (no watermark/sentinel needed — every operator
    is a stateless projection/join, append mode).  The one per-batch
    exchange is the canon join, proportional to the BATCH, never the
    corpus."""
    from ..session import release_scoped_caches
    from ..streaming.gate import run_streaming_gate

    docs = load_texts(spark, sf_dir).select("doc_id", "lang", "text")
    stops, canon_fp, lm_payload, cutoff = _q191_artifacts(spark, sf_dir)
    # artifacts are materialized (collected / checkpointed): drop the
    # batch stages' operator persists before the stream starts
    release_scoped_caches()
    bc = spark.sparkContext.broadcast(lm_payload)
    transform = _q191_transform(stops, canon_fp, bc, cutoff)
    try:
        return run_streaming_gate(spark, [(docs, None)], transform, prefix="q191")
    finally:
        bc.unpersist(blocking=False)


def _q191_transform(stops, canon_fp, bc, cutoff):
    """The stream-side plan builder for q191 (exposed so plan tests
    can pin the stateless shape on the batch-equivalent input)."""

    out_schema = (
        "doc_id bigint, lang string, n_tokens bigint, "
        "rep_keep boolean, stop_keep boolean, fp string, dsir_sel boolean"
    )

    def dsir_score(batches):
        import re

        import pandas as pd

        # EXACTLY the batch path's token class: tokens() splits on the
        # explicit [ \t\n\f\r] \u2014 RE2's \s, the same class the DuckDB
        # oracle's regexp_extract_all('\S+') complements \u2014 so all
        # three tokenizers (this one, tokens(), the oracle) agree on
        # EVERY character including \x0B, which is a token char
        # everywhere (VERDICT r8 item 5 closed the old vertical-tab
        # exception).  Python str.split() would be far worse \u2014 it
        # also splits on Unicode whitespace (\xa0, \x85, \u2028,
        # \x1c-\x1f), yielding different bigrams and a divergent DSIR
        # disposition.
        ascii_tok = re.compile(r"[^ \t\n\f\r]+")
        raw, nbt, tgt = bc.value
        cut = cutoff
        for pdf in batches:
            sels = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                ts = ascii_tok.findall(text)
                num = 0
                cnt = 0
                for w1, w2 in zip(ts, ts[1:]):
                    pr = raw.get((w1, w2))
                    if pr is None:  # bigram unseen by the survivor LM
                        continue  # (batch inner join drops it too)
                    pair_r, first_r = pr
                    pair_t, first_t = tgt.get((w1, w2), (0, 0))
                    num += (1000000 * (pair_t + 1) * first_r) // (
                        (first_t + nbt) * pair_r
                    )
                    cnt += 1
                if cnt == 0 or cut is None:
                    sels.append(False)
                else:
                    wgt = num // cnt
                    sels.append(
                        wgt > cut[0] or (wgt == cut[0] and doc_id <= cut[1])
                    )
            out = pdf.drop(columns=["text"]).copy()
            out["dsir_sel"] = pd.Series(sels, dtype="bool", index=pdf.index)
            yield out

    def transform(stream: DataFrame) -> DataFrame:
        t = tokens(F.col("text"))
        g2 = word_shingles(t, 2)
        g3 = word_shingles(t, 3)
        stop_arr = F.array(*(F.lit(s) for s in stops))
        flagged = stream.select(
            "doc_id",
            "lang",
            F.size(t).cast("bigint").alias("n_tokens"),
            _rowlocal_top2(g2).alias("top2"),
            F.size(g2).cast("bigint").alias("n2"),
            F.size(g3).cast("bigint").alias("n3"),
            (F.size(g3) - F.size(F.array_distinct(g3)))
            .cast("bigint")
            .alias("dup3"),
            F.size(F.array_intersect(F.array_distinct(t), stop_arr)).alias(
                "stop_types"
            ),
            F.md5("text").alias("fp"),
            "text",
        ).select(
            "doc_id",
            "lang",
            "n_tokens",
            (
                (F.lit(5) * F.col("top2") <= F.col("n2"))
                & (F.lit(10) * F.col("dup3") <= F.lit(3) * F.col("n3"))
            ).alias("rep_keep"),
            (F.col("stop_types") >= F.lit(2)).alias("stop_keep"),
            "fp",
            "text",
        )
        scored = flagged.mapInPandas(dsir_score, out_schema)
        enriched = scored.join(canon_fp, "fp", "left")
        return enriched.select(
            "doc_id",
            "lang",
            "n_tokens",
            F.when(~F.col("rep_keep"), F.lit("drop_repetition"))
            .when(~F.col("stop_keep"), F.lit("drop_stopword"))
            .when(F.col("canon_id") != F.col("doc_id"), F.lit("drop_exact_dup"))
            .when(~F.coalesce(F.col("dsir_sel"), F.lit(False)), F.lit("drop_dsir"))
            .otherwise(F.lit("keep"))
            .alias("disposition"),
        )

    return transform


# ---------------------------------------------------------------- q189
def q189_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation pipeline as ONE declarative plan — the
    capstone over the round-5 quality-filter block: every document
    flows through Gopher repetition filtering (q183's keep rule) ->
    corpus-derived stop-word filtering (q184's rule) -> exact dedup
    (md5 fingerprint, min-doc_id canonical, computed among filter
    SURVIVORS) -> DSIR target reweighting (q187's integer importance
    ratio, LMs trained on the POST-dedup survivor corpus, top-20%
    kept), and the output is the per-document disposition ledger with
    first-failing-stage attribution: ``drop_repetition``,
    ``drop_stopword``, ``drop_exact_dup``, ``drop_dsir`` or ``keep``.
    This is the query a pipeline operator actually runs: not one
    filter at a time, but the composed selection function, staged so
    every later stage's statistics (dedup canon, DSIR LMs) are
    computed on exactly the population the stage would see in
    production.

    Correctness note: a document reaching the DSIR stage always has a
    transition to score — the stop-word gate requires >= 2 DISTINCT
    stop tokens, hence >= 2 tokens, hence >= 1 bigram — so the inner
    weights join cannot silently drop survivors.

    Scale shape: each stage keeps its own query's shape — the n-gram
    and stop aggregations are doc-keyed (map-side combinable), the
    stop set and both DSIR LMs attach as broadcasts, exact dedup is
    one fingerprint-window shuffle, and the ledger reassembly is three
    doc_id-keyed joins over ~1-row-per-doc tables.  The two corpus
    fan-outs (token base, survivor transitions) are scope-persisted
    so each is computed once.  The DSIR top-20% rank is distributed
    (``assign_stable_ids`` range-partition rank, as in q187 — no
    single-partition sort in the composed plan either)."""
    flags, dedup, weights = _q189_stages(spark, sf_dir)
    sel = assign_stable_ids(
        weights.withColumn("_neg", -F.col("wgt")),
        ["_neg", "doc_id"],
        id_col="_rank",
        total_col="_n",
    ).select("doc_id", (F.col("_rank") * F.lit(5) <= F.col("_n")).alias("dsir_sel"))
    # -- ledger: first-failing-stage attribution ----------------------
    return (
        flags.join(dedup, "doc_id", "left")
        .join(sel, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "n_tokens",
            F.when(~F.col("rep_keep"), F.lit("drop_repetition"))
            .when(~F.col("stop_keep"), F.lit("drop_stopword"))
            .when(F.col("canon_id") != F.col("doc_id"), F.lit("drop_exact_dup"))
            .when(~F.coalesce(F.col("dsir_sel"), F.lit(False)), F.lit("drop_dsir"))
            .otherwise(F.lit("keep"))
            .alias("disposition"),
        )
    )


def _q189_stages(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """q189's batch stages up to the DSIR weight table — returns
    ``(flags, dedup, weights)``.  Exposed so plan tests can pin the
    weights branch's broadcast-LM shape stage-level: the distributed
    rank that consumes ``weights`` starts with a ``localCheckpoint``,
    which truncates the full query's visible plan (same pattern as
    :func:`_q187_scored`)."""
    p = _q189_pipeline(spark, sf_dir)
    return p.flags, p.dedup, p.weights


def _q189_pipeline(spark: SparkSession, sf_dir: str):
    """The full q189 stage graph with every intermediate exposed
    (SimpleNamespace: flags, stop, surv1, dedup, raw_lm, tgt_lm,
    weights) — q189 consumes the ledger inputs; q191 trains its
    streaming-ingest artifacts (stop set, survivor fingerprint canon,
    DSIR LMs, selection cutoff) from the SAME stage objects so the two
    execution modes cannot drift."""
    from types import SimpleNamespace

    docs = load_texts(spark, sf_dir)
    t = tokens(F.col("text"))
    base = docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(t).cast("bigint").alias("n_tokens"),
        word_shingles(t, 2).alias("g2"),
        word_shingles(t, 3).alias("g3"),
        F.array_distinct(t).alias("td"),
    ).transform(scoped_persist)
    # -- stage 1a+1b: row-local quality flags (r12 OPT) ----------------
    # Both filter signals are computed ROW-LOCALLY, the shape the
    # streaming twins q190/q191 already hash-validated against the
    # same oracle semantics (guide §2.4 — remove shuffles outright):
    #   * top-2-gram count: the sorted-run fold (_rowlocal_top2)
    #     replaces explode(g2) → groupBy(doc_id, g) → groupBy(doc_id)
    #     — two corpus-bigram-volume exchanges + a doc_id join gone
    #     (A/B at sf0.1: 2.59s → 1.06s on the isolated stage).
    #   * stop gate: per-doc DISTINCT tokens fold into the row
    #     (array_distinct), so stop-set discovery aggregates the
    #     pre-deduped explode (no corpus-wide DISTINCT exchange), and
    #     the ≥2-distinct-stop-tokens test is an array_intersect
    #     against the 20-token set attached as a 1-row broadcast
    #     (constant-key BroadcastHashJoin — no corpus join, no
    #     per-doc re-aggregation).
    # flags is therefore ONE projection of base + a 1-row broadcast:
    # zero doc-keyed joins survive in stage 1.
    stop = (
        base.select(F.explode("td").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), "token")
        .limit(20)
    )
    # pmod-derived constant key: see q184 — lit(1) keys constant-fold
    # into a BroadcastNestedLoopJoin, a derived key stays a hash join
    stop_arr = stop.agg(F.collect_list("token").alias("__stops")).withColumn(
        "__k", F.pmod(F.size("__stops"), F.lit(1))
    )
    flags = (
        base.withColumn("__k", F.pmod(F.col("doc_id"), F.lit(1)))
        .join(F.broadcast(stop_arr), "__k")
        .select(
            "doc_id",
            "lang",
            "text",
            "n_tokens",
            (
                (F.lit(5) * _rowlocal_top2(F.col("g2")) <= F.size("g2"))
                & (
                    F.lit(10)
                    * (F.size("g3") - F.size(F.array_distinct("g3")))
                    <= F.lit(3) * F.size("g3")
                )
            ).alias("rep_keep"),
            (F.size(F.array_intersect("td", "__stops")) >= 2).alias(
                "stop_keep"
            ),
        )
        .transform(scoped_persist)
    )
    surv1 = flags.filter(F.col("rep_keep") & F.col("stop_keep"))
    # -- stage 2: exact dedup among survivors -------------------------
    dedup = surv1.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy(F.md5("text"))).alias("canon_id"),
    )
    surv2 = (
        surv1.join(dedup, "doc_id")
        .filter(F.col("canon_id") == F.col("doc_id"))
        .drop("canon_id")
    )
    # -- stage 3: DSIR select over the post-dedup corpus (q187) -------
    dsir = _dsir_scoring(surv2)
    weights = (
        dsir.ratios.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_trans"),
            F.sum("ratio_micro").alias("sum_ratio"),
        )
        .select("doc_id", F.expr("sum_ratio DIV n_trans").alias("wgt"))
    )
    return SimpleNamespace(
        flags=flags,
        stop=stop,
        surv1=surv1,
        dedup=dedup,
        raw_lm=dsir.raw_lm,
        tgt_lm=dsir.tgt_lm,
        weights=weights,
    )


_Q189_SQL = rf"""
WITH {DOCUMENTS_CTE}, toks AS (
  SELECT doc_id, lang, text, regexp_extract_all(trim(text), '\S+') AS t
  FROM documents
),
base AS (
  SELECT doc_id, lang, text,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(greatest(len(t) - 1, 0) AS BIGINT) AS n2,
         CAST(greatest(len(t) - 2, 0) AS BIGINT) AS n3
  FROM toks
),
g2 AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS g
  FROM toks, unnest(range(1, len(t))) AS r(i)
),
top2 AS (
  SELECT doc_id, max(c) AS top2 FROM (
    SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2
  ) GROUP BY 1
),
g3 AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
  FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
),
tri AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n3_occ,
         CAST(count(DISTINCT g) AS BIGINT) AS d3
  FROM g3 GROUP BY 1
),
rep AS (
  SELECT b.doc_id,
         (5 * COALESCE(t2.top2, 0) <= b.n2
          AND 10 * COALESCE(tr.n3_occ - tr.d3, 0) <= 3 * b.n3) AS rep_keep
  FROM base b
  LEFT JOIN top2 t2 USING (doc_id)
  LEFT JOIN tri tr USING (doc_id)
),
tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
stop AS (
  SELECT token FROM (
    SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1
  ) ORDER BY df DESC, token LIMIT 20
),
stopk AS (
  SELECT doc_id, count(DISTINCT token) AS stop_types
  FROM tok JOIN stop USING (token) GROUP BY 1
),
flags AS (
  SELECT b.doc_id, b.lang, b.text, b.n_tokens, r.rep_keep,
         COALESCE(s.stop_types, 0) >= 2 AS stop_keep
  FROM base b
  JOIN rep r USING (doc_id)
  LEFT JOIN stopk s USING (doc_id)
),
surv1 AS (SELECT * FROM flags WHERE rep_keep AND stop_keep),
dedup AS (
  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canon_id
  FROM surv1
),
surv2 AS (
  SELECT f.* FROM surv1 f JOIN dedup d USING (doc_id)
  WHERE d.canon_id = f.doc_id
),
trans AS (
  SELECT doc_id, lang, t[i] AS w1, t[i+1] AS w2
  FROM (
    SELECT doc_id, lang, regexp_extract_all(trim(text), '\S+') AS t
    FROM surv2
  ), unnest(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2
),
raw_lm AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_r,
         CAST(sum(count(*)) OVER (PARTITION BY w1) AS BIGINT) AS first_r,
         CAST(count(*) OVER () AS BIGINT) AS n_bigram_types
  FROM trans GROUP BY w1, w2
),
tgt_lm AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_t,
         CAST(sum(count(*)) OVER (PARTITION BY w1) AS BIGINT) AS first_t
  FROM trans WHERE lang = 'en' GROUP BY w1, w2
),
weights AS (
  SELECT tr.doc_id,
         CAST(count(*) AS BIGINT) AS n_trans,
         CAST(sum(
           (1000000 * (coalesce(tg.pair_t, 0) + 1) * r.first_r)
           // ((coalesce(tg.first_t, 0) + r.n_bigram_types) * r.pair_r)
         ) AS BIGINT) AS sum_ratio
  FROM trans tr
  JOIN raw_lm r USING (w1, w2)
  LEFT JOIN tgt_lm tg USING (w1, w2)
  GROUP BY 1
),
sel AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY sum_ratio // n_trans DESC, doc_id) * 5
           <= count(*) OVER () AS dsir_sel
  FROM weights
)
SELECT f.doc_id, f.lang, f.n_tokens,
       CASE WHEN NOT f.rep_keep THEN 'drop_repetition'
            WHEN NOT f.stop_keep THEN 'drop_stopword'
            WHEN d.canon_id <> f.doc_id THEN 'drop_exact_dup'
            WHEN NOT COALESCE(s.dsir_sel, false) THEN 'drop_dsir'
            ELSE 'keep' END AS disposition
FROM flags f
LEFT JOIN dedup d USING (doc_id)
LEFT JOIN sel s USING (doc_id)
"""


# ---------------------------------------------------------------- q197
#: q197 packing budget (context-window tokens per bin, q38's value).
_Q197_BUDGET = 2048
#: q197 shard fan-out (deterministic doc_id % N; production dials this
#: to the cluster's write parallelism — the fixture uses q38's 8).
_Q197_SHARDS = 8


def q197_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CRAWL-TO-TRAINING-SHARDS — the end-to-end corpus build as ONE
    query, composing the three LLM-pipeline capstones that previously
    only ran separately: the q189 curation ledger (repetition ->
    stop-word -> exact-dedup -> DSIR disposition) selects the training
    documents, the q38 packing rule (``pack_sequences``) lays the
    survivors into 2048-token context-window bins per (lang, shard),
    and the result is LANDED through a real partitioned-parquet sink
    with a separate shard MANIFEST — then read back FROM DISK and
    verified against the manifest under the zero-tolerance hash gate.

    Conservation invariant (hash-enforced, not just asserted): every
    kept document lands in exactly one bin of exactly one shard file,
    and the manifest's per-shard totals — written BEFORE the shard
    files from the pre-sink ledger — must equal the read-back packed
    totals.  Each output row carries both sides: (``n_docs``,
    ``bin_tokens``, ``first_doc``, ``last_doc``) aggregated from the
    read-back shard files vs (``shard_docs``, ``shard_tokens``) joined
    from the read-back manifest; any row lost, duplicated, or
    re-binned by the sink round-trip breaks the exact compare, and
    ``sum(bin_tokens) per shard == shard_tokens`` is checkable from
    the rows alone.

    Scale shape: the ledger keeps q189's stage shapes (broadcast LMs,
    doc-keyed aggs, one fingerprint window, distributed DSIR rank);
    packing is q38's per-shard prefix-sum window whose parallelism =
    shard count (production dials ``_Q197_SHARDS`` to the cluster —
    the window never sees more than one shard per task); the sink is
    a hive-partitioned write whose read-back bin rollup is map-side
    combinable; the manifest is |langs × shards| rows and attaches as
    a broadcast.  No stage is corpus-quadratic; nothing collects to
    the driver."""
    import tempfile

    from ..operators.sampling import pack_sequences

    ledger = scoped_persist(q189_curation_pipeline(spark, sf_dir))
    keep = ledger.filter(F.col("disposition") == "keep").select(
        "doc_id",
        "lang",
        F.pmod("doc_id", F.lit(_Q197_SHARDS)).alias("shard"),
        "n_tokens",
    )
    root = tempfile.mkdtemp(prefix="q197_store_")
    dest = f"{root}/shards"
    # manifest FIRST, from the pre-sink ledger — the write-ahead totals
    # a resumable 100 TB shard job checks its landed files against
    # (sibling dir: the shard overwrite below must not clobber it)
    manifest = keep.groupBy("lang", "shard").agg(
        F.count(F.lit(1)).alias("shard_docs"),
        F.sum("n_tokens").alias("shard_tokens"),
    )
    manifest.write.mode("overwrite").parquet(f"{root}/manifest")
    packed = pack_sequences(
        keep,
        shard_cols=["lang", "shard"],
        order_col="doc_id",
        tokens_col="n_tokens",
        budget=_Q197_BUDGET,
    )
    packed.write.mode("overwrite").partitionBy("lang", "shard").parquet(dest)
    # read back with the WRITER's schema: partition values parse
    # straight to the manifest's BIGINT (no inferred-INT recast), no
    # inference job, and the read stays total when the kept set is
    # EMPTY (zero part files — an all-filtered crawl slice is routine)
    back = spark.read.schema(packed.schema).parquet(dest)
    bins = back.groupBy("lang", "shard", "bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )
    mback = spark.read.parquet(f"{root}/manifest")
    return bins.join(F.broadcast(mback), ["lang", "shard"])


# The oracle replays the ENTIRE composition: the q189 ledger SQL rides
# verbatim as a nested CTE (one source of truth — a semantics change
# there cannot silently diverge here), then the q38 packing window and
# both aggregation paths (bins + shard manifest) that the Spark side
# lands through the parquet sink.
_Q197_SQL = f"""
WITH ledger AS ({_Q189_SQL}),
keep AS (
  SELECT doc_id, lang, doc_id % {_Q197_SHARDS} AS shard, n_tokens
  FROM ledger WHERE disposition = 'keep'
),
packed AS (
  SELECT lang, shard, doc_id, n_tokens,
         COALESCE(sum(n_tokens) OVER (
           PARTITION BY lang, shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS prefix
  FROM keep
),
bins AS (
  SELECT lang, shard, CAST(floor(prefix / {_Q197_BUDGET}) AS BIGINT) AS bin,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
         min(doc_id) AS first_doc, max(doc_id) AS last_doc
  FROM packed GROUP BY 1, 2, 3
),
manifest AS (
  SELECT lang, shard, CAST(count(*) AS BIGINT) AS shard_docs,
         CAST(sum(n_tokens) AS BIGINT) AS shard_tokens
  FROM keep GROUP BY 1, 2
)
SELECT b.lang, b.shard, b.bin, b.n_docs, b.bin_tokens, b.first_doc,
       b.last_doc, m.shard_docs, m.shard_tokens
FROM bins b JOIN manifest m USING (lang, shard)
"""


# ---------------------------------------------------------------- q186
def _q186_toks_occ(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(per-doc token counts + span arrays, exploded span occurrences)
    — the shared front of q186 and its prefiltered form q210."""
    t = tokens(F.lower(F.col("text")))
    toks = docs.select(
        "doc_id",
        F.size(t).cast("bigint").alias("n_tokens"),
        word_shingles(t, 8).alias("spans"),
    )
    occ = toks.select("doc_id", F.posexplode("spans").alias("pos", "span"))
    return toks, occ


def _q186_ledger(toks: DataFrame, cand_occ: DataFrame) -> DataFrame:
    """Shared tail of q186 and q210: global first-occurrence window
    over the (possibly prefiltered) occurrence set, duplicate
    occurrences explode ×8 into dropped token indices, per-doc ledger.

    The window predicate is EXACT on the true span string, which is
    what makes the prefilter tier sound: ``cand_occ`` may carry extra
    rows (hash collisions), but a span type arrives either complete or
    not at all (membership is decided per span string by its hash), so
    every rn>1 decision here matches the all-occurrences window."""
    w = Window.partitionBy("span").orderBy("doc_id", "pos")
    dup_occ = cand_occ.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") > 1
    )
    dropped = (
        dup_occ.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(7))
            ).alias("tok_idx"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dropped"))
    )
    return (
        toks.select("doc_id", "n_tokens")
        .join(dropped, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dropped", F.lit(0))
            .cast("bigint")
            .alias("n_tokens_dropped"),
            (F.col("n_tokens") - F.coalesce("n_dropped", F.lit(0)))
            .cast("bigint")
            .alias("n_tokens_kept"),
        )
    )


def _q186_onepass(docs: DataFrame) -> DataFrame:
    """The window runs over every occurrence (one string-keyed
    exchange, one shingle-generation pass)."""
    toks, occ = _q186_toks_occ(docs)
    return _q186_ledger(toks, occ)


def _q186_prefiltered(docs: DataFrame) -> DataFrame:
    """q210's form: only occurrences of HOT span hashes (>= 2
    occurrences — the only spans that can produce duplicates) reach
    the string-keyed window.  The count pass shuffles 8-byte hashes
    map-side combined; collisions only ADD candidates and the window
    re-ranks on the true string (see ``hot_hash_candidates``)."""
    from ..operators.text import hot_hash_candidates

    toks, occ = _q186_toks_occ(docs)
    return _q186_ledger(toks, hot_hash_candidates(occ, "span", 2))


def q186_span_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span REMOVAL accounting — the rewrite step of C4-style
    corpus cleaning (Raffel et al. 2020 drop repeated three-sentence
    spans; Lee et al. 2022 deduplicate exact substrings): q114 FINDS
    repeated passages, this query decides, for every token of every
    document, whether it survives.  An 8-token span occurrence is
    canonical iff it is the globally first occurrence of that span
    (ordered by doc_id, then position); every token covered by a
    NON-canonical occurrence of a repeated span is dropped.  Output is
    the per-document kept/dropped token ledger a rewrite job would act
    on (the reconstructed text itself is a trivial per-doc filter once
    the drop set exists).

    Scale shape: one exchange keyed by span for the global
    first-occurrence window, then only the DUPLICATE occurrences
    explode ×8 into token indices; every other stage is keyed by
    doc_id."""
    # one pass beat the prefilter at every swept size (AB_floor_span.json)
    return _q186_onepass(load(spark, sf_dir, "documents"))


def q210_span_dedup_prefiltered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q186 through the hot-hash prefilter (``hot_hash_candidates``),
    checked against the DuckDB oracle: a map-side-combined count over
    ``xxhash64(span)`` keeps only occurrences of hot hashes, and the
    exact window re-ranks on the true string, so the rows equal
    q186's.  q186 itself runs one pass, which won at every swept size
    (AB_floor_span.json); this query keeps the prefilter's soundness
    under the oracle.  Runs on the ``doc_id % 2 = 0`` half-corpus —
    still 233 hot span types at sf0.01 and 2,922 at sf0.1 (measured),
    so the hot-set branch does real work at every gate scale.  The
    oracle is q186's SQL verbatim over the same half-corpus (the CTE
    prefix swaps the document population, nothing else)."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 2 == 0)
    return _q186_prefiltered(docs)


_Q186_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks
  FROM documents
), occ AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+7], ' ') AS span
  FROM t, unnest(range(1, len(toks) - 6)) u(i)
  WHERE len(toks) >= 8
), dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
    FROM occ
  ) WHERE rn > 1
), dropped AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dropped FROM (
    SELECT DISTINCT doc_id, pos + j AS tok_idx
    FROM dup, unnest(range(0, 8)) v(j)
  ) GROUP BY 1
)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(d.n_dropped, 0) AS BIGINT) AS n_tokens_dropped,
       CAST(len(t.toks) - coalesce(d.n_dropped, 0) AS BIGINT)
         AS n_tokens_kept
FROM t LEFT JOIN dropped d USING (doc_id)
"""

# q210 = q186's SQL verbatim over the doc_id % 2 = 0 half-corpus (one
# source of truth — only the document population differs).
_Q210_SQL = _Q186_SQL.replace(
    "FROM documents",
    "FROM (SELECT * FROM documents WHERE doc_id % 2 = 0)",
    1,
)


# --------------------------------------------------------------- q204
_Q204_CELLS = 8
_Q204_MOD = 37


def q204_cosine_parity_canary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COSINE-PARITY CANARY — the bit-equality claim ~30 vector
    oracles lean on, isolated to one tiny hash-gated row set.

    The whole deterministic-ANN family (q13_ivf_det, q196, q200,
    q201, q202*, semdedup) rests on one cross-engine invariant: the
    sequential-IEEE cosine fold (``operators/similarity.py``
    ``_seq_cosine``, one accumulate per dimension)
    is BIT-identical to DuckDB's ``list_cosine_similarity``.  A
    driver-side engine change that breaks that invariant would turn
    ~30 queries red at once with no localization (round 9's q200 red
    row took a round of analysis to attribute — it turned out to be
    the OTHER boundary, decimal rendering).  This canary emits the
    RAW cosine doubles for a fixed probe set (``vec_id % 37 == 0``)
    against the family's deterministic seed centroids (the 8 smallest
    vec_ids), so any future fold divergence flips exactly this query:
    canary red + family green = near-tie assignment drift; canary
    red + family red = the fold itself.

    SELF-PAIRS ARE EXCLUDED, by measurement: building this canary
    showed the engines provably DIVERGE on a vector scored against
    itself — the fold yields ``dot/(sqrt(s)·sqrt(s))`` =
    1.0000000000000002 while DuckDB returns exactly 1.0 (consistent
    with a ``dot/sqrt(sa·sb)`` denominator, where self-pairs cancel
    exactly) — and random non-float32 inputs show ulp-level
    divergence in both directions, so cross-engine bit-equality of
    raw cosines is an EMPIRICAL property of this float32-widened
    data family (every non-self pair matches), not an IEEE identity.
    The ~30 sibling oracles are insulated because they consume cosine
    only through ORDER BY with a cell-index tie-break; this canary is
    the tripwire that tells us if that insulation is ever the only
    thing left standing.

    Scale shape: ONE centroid collect, O(cells·dim), yields both the
    seed vectors and the excluded seed ids; the fold is one map-only
    Arrow batch over the probes; output is |probes|·cells rows — a
    canary, not a search."""
    from ..operators import spread

    emb = load_vectors(spark, sf_dir)
    cent_ids, centroids = seed_centroids(emb, _Q204_CELLS)
    cos_all = cosine_block_scores(centroids)
    probes = spread(
        emb.filter(
            (F.col("vec_id") % _Q204_MOD == 0)
            & ~F.col("vec_id").isin(cent_ids or [-1])
        ).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("__v")
        )
    )
    return probes.select(
        "vec_id", F.posexplode(cos_all(F.col("__v"))).alias("cell", "cosine")
    ).select(
        "vec_id", F.col("cell").cast("bigint").alias("cell"), "cosine"
    )


_Q204_SQL = f"""
WITH {EMBEDDINGS_CTE}, E AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), {_ivf_ctes("E", _Q204_CELLS)}, P AS (
  -- self-pairs excluded: the engines' raw cosines provably differ on
  -- a vector scored against itself (see the query docstring)
  SELECT vec_id, v FROM E
  WHERE vec_id % {_Q204_MOD} = 0 AND vec_id NOT IN (SELECT vec_id FROM C)
)
SELECT p.vec_id, c.cell,
       list_cosine_similarity(p.v, c.v) AS cosine
FROM P p CROSS JOIN C c
"""


QUERIES = {
    "q163_setsim_prefix_join": q163_setsim_prefix_join,
    "q164_containment_dedup": q164_containment_dedup,
    "q165_bigram_lm": q165_bigram_lm,
    "q182_perplexity_filter": q182_perplexity_filter,
    "q183_repetition_filter": q183_repetition_filter,
    "q184_stopword_filter": q184_stopword_filter,
    "q186_span_dedup_rewrite": q186_span_dedup_rewrite,
    "q210_span_dedup_prefiltered": q210_span_dedup_prefiltered,
    "q187_dsir_importance": q187_dsir_importance,
    "q188_classifier_quality_filter": q188_classifier_quality_filter,
    "q189_curation_pipeline": q189_curation_pipeline,
    "q190_streaming_quality_filter": q190_streaming_quality_filter,
    "q191_streaming_curation": q191_streaming_curation,
    "q185_temperature_mixture": q185_temperature_mixture,
    "q166_ngram_novelty": q166_ngram_novelty,
    "q168_privacy_audit": q168_privacy_audit,
    "q169_incremental_dedup": q169_incremental_dedup,
    "q193_streaming_ingest_neardup": q193_streaming_ingest_neardup,
    "q194_token_budget_selection": q194_token_budget_selection,
    "q195_coverage_quota_selection": q195_coverage_quota_selection,
    "q196_streaming_vector_search": q196_streaming_vector_search,
    "q171_matryoshka_audit": q171_matryoshka_audit,
    "q173_dataset_card": q173_dataset_card,
    "q174_template_prefixes": q174_template_prefixes,
    "q175_lang_label_audit": q175_lang_label_audit,
    "q172_kwic_index": q172_kwic_index,
    "q12_text_dedup": q12_text_dedup,
    "q12_text_dedup_portable": q12_text_dedup_portable,
    "q12_simhash_dedup": q12_simhash_dedup,
    "q12_simhash_dedup_portable": q12_simhash_dedup_portable,
    "q12_exact_dedup": q12_exact_dedup,
    "q12_embedding_dedup": q12_embedding_dedup,
    "q12_embedding_dedup_lsh": q12_embedding_dedup_lsh,
    "q13_embedding_sim": q13_embedding_sim,
    "q13_embedding_sim_ann": q13_embedding_sim_ann,
    "q13_embedding_sim_ivf": q13_embedding_sim_ivf,
    "q13_embedding_sim_ivf_det": q13_embedding_sim_ivf_det,
    "q176_knn_graph_exact": q176_knn_graph_exact,
    "q177_semdedup": q177_semdedup,
    "q15_text_stats": q15_text_stats,
    "q16_lang_id": q16_lang_id,
    "q17_fingerprint": q17_fingerprint,
    "q18_multimodal_meta": q18_multimodal_meta,
    "q122_audio_energy": q122_audio_energy,
    "q180_media_resize": q180_media_resize,
    "q19_ngram_jaccard": q19_ngram_jaccard,
    "q32_corpus_curation": q32_corpus_curation,
    "q33_near_dup_components": q33_near_dup_components,
    "q33_near_dup_components_lsh": q33_near_dup_components_lsh,
    "q37_deterministic_sample": q37_deterministic_sample,
    "q38_sequence_packing": q38_sequence_packing,
    "q39_decontaminate": q39_decontaminate,
    "q42_embedding_ops": q42_embedding_ops,
    "q124_random_projection": q124_random_projection,
    "q134_hard_negative_mining": q134_hard_negative_mining,
    "q133_token_rarity_profile": q133_token_rarity_profile,
    "q135_embedding_quantization": q135_embedding_quantization,
    "q136_split_leakage_audit": q136_split_leakage_audit,
    "q140_knn_label_vote": q140_knn_label_vote,
    "q141_cross_source_overlap": q141_cross_source_overlap,
    "q144_stratified_sample": q144_stratified_sample,
    "q148_frame_sampling": q148_frame_sampling,
    "q158_source_language_gini": q158_source_language_gini,
    "q162_cross_validation_folds": q162_cross_validation_folds,
    "q43_data_profile": q43_data_profile,
    "q197_corpus_build": q197_corpus_build,
    "q198_pq_adc_topk": q198_pq_adc_topk,
    "q199_streaming_budget_admission": q199_streaming_budget_admission,
    "q200_ivf_index_maintenance": q200_ivf_index_maintenance,
    "q201_ivfpq_search": q201_ivfpq_search,
    "q202_streaming_pq_search": q202_streaming_pq_search,
    "q202_dialed_pq_search": q202_dialed_pq_search,
    "q204_cosine_parity_canary": q204_cosine_parity_canary,
}

ORACLE = {
    "q163_setsim_prefix_join": _Q163_SQL,
    "q164_containment_dedup": _Q164_SQL,
    "q165_bigram_lm": _Q165_SQL,
    "q182_perplexity_filter": _Q182_SQL,
    "q183_repetition_filter": _Q183_SQL,
    "q184_stopword_filter": _Q184_SQL,
    "q185_temperature_mixture": _Q185_SQL,
    "q186_span_dedup_rewrite": _Q186_SQL,
    "q210_span_dedup_prefiltered": _Q210_SQL,
    "q187_dsir_importance": _Q187_SQL,
    "q188_classifier_quality_filter": _Q188_SQL,
    "q189_curation_pipeline": _Q189_SQL,
    "q190_streaming_quality_filter": _Q190_SQL,
    # q191 is q189's ledger executed as a live stream: same oracle
    "q191_streaming_curation": _Q189_SQL,
    "q197_corpus_build": _Q197_SQL,
    "q198_pq_adc_topk": _Q198_SQL,
    "q199_streaming_budget_admission": _Q199_SQL,
    "q200_ivf_index_maintenance": _Q200_SQL,
    "q201_ivfpq_search": _Q201_SQL,
    "q202_streaming_pq_search": _Q202_SQL,
    "q202_dialed_pq_search": _Q202_DIALED_SQL,
    "q204_cosine_parity_canary": _Q204_SQL,
    "q166_ngram_novelty": _Q166_SQL,
    "q168_privacy_audit": _Q168_SQL,
    "q169_incremental_dedup": _Q169_SQL,
    "q193_streaming_ingest_neardup": _Q193_SQL,
    "q194_token_budget_selection": _Q194_SQL,
    "q195_coverage_quota_selection": _Q195_SQL,
    "q196_streaming_vector_search": _Q196_SQL,
    "q171_matryoshka_audit": _Q171_SQL,
    "q173_dataset_card": _Q173_SQL,
    "q174_template_prefixes": _Q174_SQL,
    "q175_lang_label_audit": _Q175_SQL,
    "q172_kwic_index": _Q172_SQL,
    "q12_text_dedup_portable": _Q12_TEXT_PORTABLE_SQL,
    "q12_simhash_dedup_portable": _Q12_SIMHASH_PORTABLE_SQL,
    "q12_exact_dedup": _Q12_EXACT_SQL,
    "q12_embedding_dedup": _Q12_EMB_SQL,
    "q12_embedding_dedup_lsh": _Q12_EMB_LSH_SQL,
    "q13_embedding_sim": _Q13_SQL,
    "q13_embedding_sim_ann": _Q13_ANN_SQL,
    "q13_embedding_sim_ivf_det": _Q13_IVF_DET_SQL,
    "q176_knn_graph_exact": _Q176_SQL,
    "q177_semdedup": _Q177_SQL,
    "q135_embedding_quantization": _Q135_SQL,
    "q136_split_leakage_audit": _Q136_SQL,
    "q140_knn_label_vote": _Q140_SQL,
    "q141_cross_source_overlap": _Q141_SQL,
    "q144_stratified_sample": _Q144_SQL,
    "q148_frame_sampling": _Q148_SQL,
    "q158_source_language_gini": _Q158_SQL,
    "q162_cross_validation_folds": _Q162_SQL,
    "q15_text_stats": _Q15_SQL,
    "q16_lang_id": _Q16_SQL,
    "q17_fingerprint": _Q17_SQL,
    "q18_multimodal_meta": _Q18_SQL,
    "q122_audio_energy": _Q122_SQL,
    "q180_media_resize": _Q180_SQL,
    "q19_ngram_jaccard": _Q19_SQL,
    "q32_corpus_curation": _Q32_SQL,
    "q33_near_dup_components": _Q33_SQL,
    "q33_near_dup_components_lsh": _Q33_LSH_SQL,
    "q37_deterministic_sample": _Q37_SQL,
    "q38_sequence_packing": _Q38_SQL,
    "q39_decontaminate": _Q39_SQL,
    "q42_embedding_ops": _Q42_SQL,
    "q124_random_projection": _Q124_SQL,
    "q134_hard_negative_mining": _Q134_SQL,
    "q133_token_rarity_profile": _Q133_SQL,
    "q43_data_profile": _Q43_SQL,
}
