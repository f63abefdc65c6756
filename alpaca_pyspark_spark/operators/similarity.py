"""Similarity search over embedding columns (``array<float>``).

Three paths, mirroring how a 100 TB pipeline would run ANN:

- **brute force** — broadcast the (small) query set against the
  candidate corpus; cosine is a codegen'd fold (``zip_with`` +
  ``aggregate``), top-k by per-query window.  Exact baseline; linear
  scan of the corpus, no shuffle of the big side (queries broadcast).
- **random-hyperplane LSH** — 16 fixed hyperplanes → 16-bit sign
  bucket per vector; probe buckets within Hamming ≤ 1 of the query's
  bucket (17 buckets).  Candidate set shrinks ~2^16-fold on uniform
  data; recall is traded for a ~constant-factor scan reduction and is
  unit-tested against the brute-force baseline.
- **IVF (inverted file)** — one probe path (``ivf_topk``) over either
  quantizer: spherical k-means centroids trained on a deterministic
  fixed-size sample (``train_ivf_centroids``; driver-side numpy, the
  sample stays ~4k vectors whether the corpus is 60k or 60B rows), or
  the oracle-replicable seed of the smallest ids (``seed_centroids``).
  Every corpus vector is assigned to its nearest cell by the
  sequential-order cosine kernel (``cell_assigner``, cell-index
  tie-break), queries probe their ``nprobe`` nearest cells, and the
  survivors get the exact cosine re-rank.  Data-adaptive where LSH is
  oblivious: cells follow the corpus distribution, so skewed
  real-world embeddings keep balanced candidate lists.

Hyperplanes are deterministic pseudo-random constants derived from
SHA-256 of (plane, dim) — reproducible across sessions with no RNG
state, embedded as plan literals.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cosine_similarity
from . import spread
from .topk import top_k_per_group


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic unit-free hyperplane: each coord is a U(-1,1)
    value derived from SHA-256(plane, i)."""
    out = []
    for i in range(dim):
        h = hashlib.sha256(struct.pack("<II", plane, i)).digest()
        u = int.from_bytes(h[:8], "little") / 2**64  # [0, 1)
        out.append(2.0 * u - 1.0)
    return out


def _dot_literal(vec: Column, plane: list[float]) -> Column:
    lit = F.array(*[F.lit(x) for x in plane])
    return F.aggregate(
        F.zip_with(vec, lit, lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )


def sign_bucket(vec: Column, *, dim: int, num_planes: int = 16) -> Column:
    """16-bit random-hyperplane (SimHash-for-vectors) bucket id."""
    bucket = None
    for p in range(num_planes):
        bit = F.when(_dot_literal(vec, _hyperplane(p, dim)) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, p)
        bucket = term if bucket is None else bucket.bitwiseXOR(term)
    return bucket


def lsh_planes_dial(n: int) -> int:
    """The PRODUCTION plane-count rule: enough hyperplanes that the
    expected bucket occupancy stays ~32 as the corpus grows —
    ``max(3, min(16, bit_length(n // 32)))``.  Integer-exact and
    replayable in SQL as ``LEAST(16, GREATEST(3, LENGTH(BIN(n //
    32))))`` (for ``n // 32 >= 1`` the binary-string length IS the
    bit length; both clamp to 3 below that), so an oracle can derive
    the identical dial from ``count(*)``.  Fixed planes make candidate
    pairs grow QUADRATICALLY with volume (bucket occupancy ∝ n —
    measured 1.43-1.76x over-linear for the 8-plane q92 twin at the
    sf1→sf10 decade); this dial holds occupancy constant, so pairs
    grow linearly.  The cap at 16 bounds the static 16-plane bucket
    expression both engines share: masking its low ``planes`` bits
    equals bucketing with exactly ``planes`` planes, because bit p is
    plane p's sign."""
    return max(3, min(16, (n // 32).bit_length()))


def _seq_dot_block(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
    """All-pairs dot products with the EXACT IEEE summation order of
    the engine's scalar fold: one accumulate step per dimension
    (((0 + a₀b₀) + a₁b₁) + …), vectorized across pairs.  numpy's
    elementwise add/multiply are plain IEEE ops (no FMA, no pairwise
    reassociation), so every entry is bit-identical to the
    ``aggregate``/``zip_with`` fold and to DuckDB's
    ``list_cosine_similarity`` accumulation — verified in tests.
    ~100× the interpreted fold's throughput.

    Total on empty input: ``np.asarray([])`` is 1-D, so an empty
    side yields the (0 × n) / (n × 0) result instead of an
    IndexError (empty slices/partitions are routine at scale).  A
    NON-empty 1-D input (a single vector passed unstacked) is a
    caller bug and fails loudly instead of silently zero-scoring."""
    if A.ndim < 2 or B.ndim < 2:
        for name, M in (("A", A), ("B", B)):
            if M.ndim < 2 and M.size:
                raise ValueError(
                    f"{name} is a non-empty 1-D array — stack single "
                    "vectors to shape (1, dim) before scoring"
                )
        return np.zeros(
            (0 if A.ndim < 2 else A.shape[0], 0 if B.ndim < 2 else B.shape[0])
        )
    acc = np.zeros((A.shape[0], B.shape[0]))
    for i in range(A.shape[1]):
        acc += A[:, i, None] * B[None, :, i]
    return acc


def _seq_norms(M: "np.ndarray") -> "np.ndarray":
    if M.ndim < 2:
        if M.size:
            raise ValueError(
                "non-empty 1-D array — stack single vectors to shape "
                "(1, dim) before scoring"
            )
        return np.zeros(0)  # empty input: no vectors, no norms
    acc = np.zeros(M.shape[0])
    for i in range(M.shape[1]):
        acc += M[:, i] * M[:, i]
    return np.sqrt(acc)


def _seq_cosine(A: "np.ndarray", B: "np.ndarray") -> "np.ndarray":
    """Cosine of every row of ``A`` against every row of ``B``:
    ``_seq_dot_block`` divided by both ``_seq_norms`` — the doubles of
    the engine's scalar fold, bit for bit."""
    return _seq_dot_block(A, B) / (_seq_norms(A)[:, None] * _seq_norms(B)[None, :])


def pq_adc_scorer(cb_py, k: int):
    """Arrow ADC scorer for streamed PQ serving (q202): per query row,
    build the M×K asymmetric-distance lookup table from the row's
    integer-grid residual, score one probed cell's packed members
    (``array<struct<vec_id, codes>>``) by gathering their codes, and
    return only the cell's TOP-``k`` by (dist, vec_id) — per-cell
    top-k then a cross-cell merge is exactly the global top-k because
    cells partition the candidates, and it keeps the Arrow boundary
    at O(k) structs per (query, cell) instead of the whole payload
    (the difference between ~2x-over-linear and under-linear at the
    measured sf10 decade: 120k python dicts per query vs 10).  The
    codebook rides the closure (K·M·lanes ints — a model artifact);
    every distance is exact int64, so the output hashes identically
    to the SQL oracle's LUT join.  Row-local: no state, no
    regrouping."""
    CB = np.asarray(cb_py, dtype=np.int64)  # (M, K, lanes)
    if CB.ndim < 3:  # empty codebook (no training data): score nothing
        m, lanes = 0, 0
        CB = CB.reshape(0, 0, 0)
    else:
        m, _, lanes = CB.shape

    @F.pandas_udf("array<struct<adc_dist: bigint, vec_id: bigint>>")
    def score(rq: pd.Series, members: pd.Series) -> pd.Series:
        out = []
        for rqv, mem in zip(rq, members):
            if rqv is None or mem is None or len(mem) == 0:
                out.append([])
                continue
            r = np.asarray(rqv, dtype=np.int64).reshape(m, lanes)
            diff = r[:, None, :] - CB
            lut = (diff * diff).sum(axis=2)  # (M, K)
            codes = np.asarray([mm["codes"] for mm in mem], dtype=np.int64)
            vec_ids = np.asarray([mm["vec_id"] for mm in mem], dtype=np.int64)
            dists = lut[np.arange(m)[None, :], codes].sum(axis=1)
            # deterministic (dist, vec_id) order; keep the cell's top-k
            top = np.lexsort((vec_ids, dists))[:k]
            out.append(
                [
                    {"adc_dist": int(dists[i]), "vec_id": int(vec_ids[i])}
                    for i in top
                ]
            )
        return pd.Series(out)

    return score


def _rank_neighbors(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-``k`` of ``(query_id, vec_id, cos_sim)`` by (cos_sim
    desc, vec_id asc), numbered in ``rank`` — the one ranking the
    Arrow, LSH and IVF search paths share."""
    return top_k_per_group(
        scored,
        group_by=["query_id"],
        order_by=[F.col("cos_sim").desc(), F.col("vec_id").asc()],
        k=k,
        rank_col="rank",
    )


def brute_force_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors, Arrow fast path: the (small)
    query set rides in the UDF closure as one numpy block; each
    corpus partition scores itself against every query with the
    sequential-order kernel — same doubles as ``brute_force_topk``,
    no interpreted per-pair fold, no pair materialization before the
    top-k window.  The corpus side still never shuffles until the
    final window over |corpus|×|Q| scored rows."""
    q_rows = queries.select(
        F.col(query_id).alias("qid"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).collect()
    qids = np.array([r["qid"] for r in q_rows], dtype=np.int64)
    Q = np.array([r["qv"] for r in q_rows], dtype=np.float64)

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            cos = _seq_cosine(np.stack(pdf["__cv"].to_numpy()), Q)
            m, q = cos.shape
            yield pd.DataFrame(
                {
                    "query_id": np.tile(qids, m),
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), q),
                    "cos_sim": cos.ravel(),
                }
            )

    c = spread(
        corpus.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("__cv"),
        )
    )
    scored = c.mapInPandas(score, "query_id long, vec_id long, cos_sim double")
    return _rank_neighbors(scored.filter(F.col("vec_id") != F.col("query_id")), k)


def all_pairs_above_arrow(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold (id_a < id_b), Arrow
    closure baseline — TEST BASELINE ONLY since round 4: every
    registered query routes through :func:`all_pairs_above_blocked`
    (distributed triangle join, no driver collect); this variant
    keeps the simplest possible reference implementation for the
    block-count-invariance unit test.  The full vector set is
    collected into the UDF closure, so it only works while
    |corpus|×dim fits the driver."""
    rows = vectors.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).collect()
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    C = np.array([r["v"] for r in rows], dtype=np.float64)
    nc = _seq_norms(C)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["__v"].to_numpy())
            mids = pdf["__id"].to_numpy()
            cos = _seq_dot_block(M, C) / (_seq_norms(M)[:, None] * nc[None, :])
            keep = (cos >= threshold) & (mids[:, None] < ids[None, :])
            r, c = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "id_a": mids[r],
                    "id_b": ids[c],
                    "cos_sim": cos[r, c],
                }
            )

    v = spread(
        vectors.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
    )
    return v.mapInPandas(gen, "id_a long, id_b long, cos_sim double")


def _block_pair_replicas(
    vectors: DataFrame, id_col: str, vec_col: str, num_blocks: int
) -> DataFrame:
    """The triangle-join replication shared by the blocked operators:
    every vector hashes into one of ``B = num_blocks`` blocks
    (``__blk``) and is joined to each unordered block pair ``(bi, bj)``,
    ``bi <= bj``, that names its block, keyed by ``pid``.  The B·(B+1)/2
    pair rows are a one-task literal scan, not a parallelized list."""
    B = int(num_blocks)
    pair_rows = [[i * B + j, i, j] for i in range(B) for j in range(i, B)]
    pairs = (
        vectors.sparkSession.range(1, numPartitions=1)
        .select(F.explode(F.lit(pair_rows).cast("array<array<int>>")).alias("__p"))
        .select(*(F.col("__p")[k].alias(c) for k, c in enumerate(("pid", "bi", "bj"))))
    )
    v = vectors.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn(
        "__blk", F.pmod(F.xxhash64(F.col("__id")), F.lit(B)).cast("int")
    )
    return v.join(
        F.broadcast(pairs),
        (F.col("__blk") == F.col("bi")) | (F.col("__blk") == F.col("bj")),
    )


def all_pairs_above_blocked(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float,
    num_blocks: int = 8,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold (id_a < id_b) as a
    distributed TRIANGLE JOIN — the de-collected replacement for
    :func:`all_pairs_above_arrow` in registered queries:

    - every vector hashes into one of ``num_blocks`` blocks,
    - every unordered block pair (i ≤ j) becomes ONE ``applyInPandas``
      group that scores its two blocks with the sequential-order
      kernel (bit-identical doubles to the ``zip_with``/``aggregate``
      fold and DuckDB's ``list_cosine_similarity``),
    - only passing pairs are emitted.

    Nothing is ever collected to the driver and no task holds more
    than two blocks (≈ 2·|corpus|/num_blocks vectors), so the operator
    survives corpora where |corpus|×dim no longer fits one machine;
    each side is replicated ``num_blocks`` times through one shuffle
    (the classic O(n·B) triangle-join replication — pick
    B ≈ √tasks_wanted).  The quadratic COMPUTE is inherent to the
    exact operator; the scale dial for avoiding it is the LSH-bucketed
    path, not this.

    Stays ``applyInPandas`` deliberately: the round-6 ``applyInArrow``
    twin measured only 1.06x (under the 10% conversion bar) — the wall
    here is the O(n²/B²) BLAS block products, not the pandas
    conversion (tools/arrow_probe.py, ARROW_PROBE_r6.json)."""
    rep = _block_pair_replicas(vectors, id_col, vec_col, num_blocks)

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []})
        if not len(pdf):
            return empty
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        blk = pdf["__blk"].to_numpy()
        ids = pdf["__id"].to_numpy()
        M = np.stack(pdf["__v"].to_numpy())
        if bi == bj:
            cos = _seq_cosine(M, M)
            keep = (cos >= threshold) & (ids[:, None] < ids[None, :])
            r, c = np.nonzero(keep)
            if not len(r):
                return empty
            return pd.DataFrame(
                {"id_a": ids[r], "id_b": ids[c], "cos_sim": cos[r, c]}
            )
        left, right = blk == bi, blk == bj
        if not left.any() or not right.any():
            return empty
        A, Aids = M[left], ids[left]
        Bm, Bids = M[right], ids[right]
        cos = _seq_cosine(A, Bm)
        keep = cos >= threshold
        r, c = np.nonzero(keep)
        if not len(r):
            return empty
        ia, ib = Aids[r], Bids[c]
        lo, hi = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos_sim": cos[r, c]})

    return rep.groupBy("pid").applyInPandas(
        score, "id_a long, id_b long, cos_sim double"
    )


def knn_graph_exact(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_blocks: int = 8,
) -> DataFrame:
    """Exact k-NN GRAPH (every vertex → its k nearest neighbors by
    cosine), blocked-triangle layout with PER-TASK PARTIAL TOP-K:
    each block-pair task scores its two blocks with the sequential
    kernel and emits only each source's local top-k (a global top-k
    member can be beaten by at most k−1 vertices anywhere, so it is
    always inside its task's local top-k — the union is a superset of
    the answer).  The exchange into the final per-source window
    therefore carries ≤ n·num_blocks·k rows instead of the n² scored
    pairs.  Selection never touches the doubles, so the output is
    bit-identical to the all-pairs window form.

    Returns (src, dst, rank, cos_sim).  No driver collect anywhere;
    compute is the inherent O(n²) of the exact graph — the published
    scale alternatives (NN-Descent, IVF/LSH candidate graphs) trade
    recall for sub-quadratic work, and this operator is their exact
    baseline."""
    rep = _block_pair_replicas(vectors, id_col, vec_col, num_blocks)

    def local_topk(cos, src_ids, dst_ids):
        """Per-row (cos desc, dst asc) top-k — selection only."""
        out_s, out_d, out_c = [], [], []
        kk = min(k, cos.shape[1])
        for r in range(cos.shape[0]):
            order = np.lexsort((dst_ids, -cos[r]))[:kk]
            out_s.extend([src_ids[r]] * len(order))
            out_d.extend(dst_ids[order])
            out_c.extend(cos[r, order])
        return out_s, out_d, out_c

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame({"src": [], "dst": [], "cos_sim": []})
        if not len(pdf):
            return empty
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        blk = pdf["__blk"].to_numpy()
        ids = pdf["__id"].to_numpy()
        M = np.stack(pdf["__v"].to_numpy())
        # Cosine is undefined for the zero vector; a NaN here would
        # sort FIRST under Spark's NaN-greatest descending order and
        # silently pollute every source's top-k.  Fail loudly instead.
        zero = _seq_norms(M) == 0.0
        if zero.any():
            raise ValueError(
                "knn_graph_exact: zero-norm embedding(s) for vec_id(s) "
                f"{ids[zero][:5].tolist()} — cosine undefined; filter or "
                "re-embed degenerate rows before building the k-NN graph"
            )
        srcs, dsts, coss = [], [], []
        if bi == bj:
            if len(pdf) < 2:
                return empty
            cos = _seq_cosine(M, M)
            np.fill_diagonal(cos, -np.inf)  # exclude self-edges
            s, d, c = local_topk(cos, ids, ids)
            srcs += s; dsts += d; coss += c
        else:
            left, right = blk == bi, blk == bj
            if not left.any() or not right.any():
                return empty
            A, Aids = M[left], ids[left]
            Bm, Bids = M[right], ids[right]
            cos = _seq_cosine(A, Bm)
            s, d, c = local_topk(cos, Aids, Bids)
            srcs += s; dsts += d; coss += c
            s, d, c = local_topk(cos.T, Bids, Aids)
            srcs += s; dsts += d; coss += c
        if not srcs:
            return empty
        return pd.DataFrame({"src": srcs, "dst": dsts, "cos_sim": coss})

    edges = rep.groupBy("pid").applyInPandas(
        score, "src long, dst long, cos_sim double"
    # a block with ≤ k members emits its −inf self-placeholder row;
    # drop it, and guard against NaN (kernel raises on zero norms, but
    # NaN-greatest descending sort makes any leak rank first — belt
    # and braces per round-4 review)
    ).filter(
        (F.col("cos_sim") != F.lit(float("-inf"))) & ~F.isnan("cos_sim")
    )
    return top_k_per_group(
        edges,
        group_by=["src"],
        order_by=[F.col("cos_sim").desc(), F.col("dst").asc()],
        k=k,
        rank_col="rank",
    )


def semdedup(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float,
    num_cells: int = 16,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) with a deterministic quantizer:
    cluster the embedding space coarsely, then deduplicate ONLY within
    cells — the published trick that bounds semantic dedup's quadratic
    pair work to |cell|² instead of |corpus|².

    Deterministic variant so the whole operator sits under the exact
    oracle gate: centroids are the embeddings of the ``num_cells``
    smallest ids (``seed_centroids``), assignment is the bit-exact
    sequential-order kernel (``assign_cells``), and the keep rule is
    "drop v iff a lower-id cell-mate u has cos(u, v) ≥ threshold"
    (lowest-id representative per duplicate chain — deterministic, no
    transitive closure needed).

    Returns one row per vector: (vec_id, cell, kept).  Scale shape:
    centroid collect is O(num_cells); assignment is map-only Arrow;
    the only exchanges are the equi-join on cell (bounded by the
    largest cell, the knob ``num_cells`` controls) and the final
    left-anti attach."""
    _, centroids = seed_centroids(vectors, num_cells, id_col=id_col, vec_col=vec_col)
    # assignment feeds both self-join sides and the final output:
    # checkpoint runs the Arrow kernel once and truncates lineage
    v = assign_cells(vectors, centroids, id_col=id_col, vec_col=vec_col)
    v = v.localCheckpoint(eager=False)
    a = v.select(
        "cell", F.col("vec_id").alias("id_a"), F.col("__v").alias("va")
    )
    b = v.select(
        "cell", F.col("vec_id").alias("id_b"), F.col("__v").alias("vb")
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_b", cosine_similarity(F.col("va"), F.col("vb")).alias("__cos"))
        .filter(F.col("__cos") >= threshold)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    return v.join(dropped, "vec_id", "left").select(
        "vec_id", "cell", F.col("__drop").isNull().alias("kept")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    k: int = 10,
    include_self: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors per query.

    Returns (query_id, vec_id, rank, cos_sim).  The query side is
    broadcast — the corpus is scanned once with no shuffle until the
    final per-query top-k window (which only sees corpus×|Q| rows cut
    to k by the window filter)."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("__cv")
    )
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(vec_col).cast("array<double>").alias("__qv")
    )
    pairs = c.join(F.broadcast(q), F.lit(True))
    if not include_self:
        pairs = pairs.filter(F.col("vec_id") != F.col("query_id"))
    scored = pairs.select(
        "query_id", "vec_id", cosine_similarity(F.col("__qv"), F.col("__cv")).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    dim: int,
    k: int = 10,
    num_planes: int = 16,
    max_probe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to corpus vectors whose
    sign-bucket is within Hamming ≤ ``max_probe_hamming`` of the
    query's bucket (multi-probe: the bucket plus its bit-flip
    neighborhood), then exact cosine + window top-k on the reduced set.

    Recall/speed dial: more planes → smaller buckets → faster but
    lower recall; a wider probe radius buys recall back at linear cost
    in probe count (1 + P + P·(P−1)/2 buckets for radius 2)."""
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("__cv"),
    ).withColumn("__bucket", sign_bucket(F.col("__cv"), dim=dim, num_planes=num_planes))
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    ).withColumn("__qb", sign_bucket(F.col("__qv"), dim=dim, num_planes=num_planes))
    masks = [0]
    if max_probe_hamming >= 1:
        masks += [1 << p for p in range(num_planes)]
    if max_probe_hamming >= 2:
        masks += [
            (1 << p) | (1 << q)
            for p in range(num_planes)
            for q in range(p + 1, num_planes)
        ]
    if max_probe_hamming > 2:
        raise ValueError("max_probe_hamming > 2 not supported (probe blow-up)")
    probes = F.array(*[F.col("__qb").bitwiseXOR(F.lit(m)) for m in masks])
    q_probed = q.select("query_id", "__qv", F.explode(probes).alias("__bucket"))
    scored = (
        c.join(F.broadcast(q_probed), "__bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_similarity(F.col("__qv"), F.col("__cv")).alias("cos_sim"),
        )
        .dropDuplicates(["query_id", "vec_id"])
    )
    return _rank_neighbors(scored, k)


# --------------------------------------------------------------- IVF
def train_ivf_centroids(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_cells: int = 16,
    sample_size: int = 4096,
    iters: int = 10,
):
    """Spherical k-means centroids (unit-norm, cosine geometry) from a
    DETERMINISTIC sample: rows are ranked by xxhash64(id) — a stable
    pseudo-random order with no RNG state — and the first
    ``sample_size`` collected to the driver.  Driver work is
    O(sample × cells × iters) regardless of corpus size; at 100 TB the
    sample is still ~4k vectors.

    Returns a unit-row-normalized numpy array (num_cells × dim)."""
    rows = (
        corpus.select(F.col(vec_col).cast("array<double>").alias("__v"), F.col(id_col))
        .orderBy(F.xxhash64(F.col(id_col).cast("string")))
        .limit(sample_size)
        .collect()
    )
    X = np.asarray([r["__v"] for r in rows], dtype=np.float64)
    if X.size == 0:  # empty corpus: a 0-cell index (total, like the kernels)
        return np.zeros((0, 0))
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    C = X[:num_cells].copy()  # deterministic init: first in hash order
    for _ in range(iters):
        assign = (X @ C.T).argmax(axis=1)
        for j in range(num_cells):
            members = X[assign == j]
            if len(members):
                C[j] = members.sum(axis=0)
        C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C


def seed_centroids(
    df: DataFrame, n: int, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> tuple[list, list[list[float]]]:
    """The deterministic IVF quantizer seed: the embeddings of the
    ``n`` smallest ids (a fixed random-sample init, zero k-means
    iterations — a legitimate quantizer, just not data-adaptive).
    Unlike trained centroids it is exactly replicable in SQL, so the
    whole approximation built on it — assignment, probing, re-rank —
    sits under the oracle hash gate.  ONE collect returns ``(ids,
    vectors)``, cell ``i`` being the ``i``-th smallest id; driver work
    is O(n·dim) regardless of corpus size."""
    rows = (
        df.select(
            F.col(id_col).alias("__sid"),
            F.col(vec_col).cast("array<double>").alias("__sv"),
        )
        .orderBy("__sid")
        .limit(n)
        .collect()
    )
    return [r["__sid"] for r in rows], [list(r["__sv"]) for r in rows]


def cell_assigner(centroids, topn: int):
    """Pandas UDF: vector → its ``topn`` nearest cells by cosine,
    tie-broken by cell index, computed with the sequential-order
    kernel — every double is bit-identical to the engine's scalar
    ``aggregate`` fold, and EMPIRICALLY bit-identical to DuckDB's
    ``list_cosine_similarity`` on the float32-widened embedding
    family for every NON-SELF pair (self-pairs provably diverge by
    1 ulp, and random full-precision doubles diverge at ulp level —
    the q204 canary pins the live boundary), so the ORDER-BY-based
    assignment is exactly replicable in the oracle.  ``centroids`` is
    either quantizer (``seed_centroids`` vectors or
    ``train_ivf_centroids``) and rides in the UDF closure (cells × dim
    doubles).  An earlier all-literal ``aggregate``-fold expression
    had the same doubles but ran interpreted per row (higher-order
    functions don't codegen): 48 folds/row ≈ 6 s at sf0.1 vs ~0.3 s
    for this Arrow batch."""
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("array<int>")
    def cells(v: pd.Series) -> pd.Series:
        M = np.stack(v.to_numpy()).astype(np.float64, copy=False)
        # stable argsort on -cos: equal keys keep cell-index order
        order = np.argsort(-_seq_cosine(M, C), axis=1, kind="stable")[:, :topn]
        return pd.Series([row.tolist() for row in order])

    return cells


def assign_cells(
    df: DataFrame, centroids, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """The cell-assigned corpus ``(vec_id, __v, cell bigint)``: every
    vector (cast to ``array<double>``) with its nearest cell under
    ``cell_assigner``.  The assignment is a map-only Arrow batch — one
    Python worker per input split — so a narrow scan is spread first."""
    cell = cell_assigner(centroids, 1)(F.col("__v")).getItem(0).cast("long")
    return spread(
        df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
    ).withColumn("cell", cell)


def cosine_block_scores(centroids: list[list[float]]):
    """Pandas UDF: vector → its RAW cosine to every centroid, as the
    sequential-fold doubles the oracle's ``list_cosine_similarity``
    must reproduce bit-for-bit (the q204 canary's kernel — the same
    ``_seq_cosine`` as ``cell_assigner`` but emitting the scores
    instead of the argsort, so a cross-engine divergence is visible
    per-double rather than only at near-tie assignment flips)."""
    C = np.asarray(centroids, dtype=np.float64)

    @F.pandas_udf("array<double>")
    def cos_all(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = np.stack(v.to_numpy()).astype(np.float64, copy=False)
        return pd.Series([row.tolist() for row in _seq_cosine(M, C)])

    return cos_all


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k via an IVF coarse quantizer: corpus vectors
    live in their single nearest cell of ``centroids``
    (``train_ivf_centroids`` or ``seed_centroids``), each query probes
    its ``nprobe`` nearest cells, survivors get the exact cosine
    re-rank.  ``nprobe`` is the one recall/work knob over a fixed
    index.

    Scale shape: the centroid collect is O(cells) regardless of
    corpus size, assignment is a map-only Arrow batch (no shuffle),
    and the candidate join is an equi-join on the cell id with the
    queries broadcast — per-query work drops to ~nprobe/cells of the
    corpus."""
    c = assign_cells(corpus, centroids, id_col=id_col, vec_col=vec_col)
    q = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    ).withColumn("__cells", cell_assigner(centroids, nprobe)(F.col("__qv")))
    probes = F.explode(F.col("__cells").cast("array<bigint>")).alias("cell")
    q_probed = q.select("query_id", "__qv", probes)
    scored = (
        c.join(F.broadcast(q_probed), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            cosine_similarity(F.col("__qv"), F.col("__v")).alias("cos_sim"),
        )
    )
    return _rank_neighbors(scored, k)
