"""Deduplication family for training-data pipelines.

Four tiers, all scale-first (no O(n²) anywhere except inside an LSH
bucket):

- **exact**: hash-groupBy on a normalized fingerprint — one shuffle.
- **MinHash + LSH**: shingle → per-seed min-hash signature → band
  buckets → equi-join within buckets → exact-Jaccard verify.  The
  classic near-dup pipeline (Broder'97 resemblance sketches as used by
  every large-corpus dedup); candidate generation is a hash-partition
  join, never all-pairs.
- **SimHash**: 64-bit charikar signature via per-token hash bit
  voting; candidates share one of four 16-bit chunks (Hamming ≤ 3
  guarantee by pigeonhole), verified with ``bit_count(xor)``.
- **n-gram Jaccard**: exact verification metric, used standalone on an
  explicit pair list or as the verify stage of LSH.

Everything is built-in columns + joins: xxhash64 / array ops /
bit ops all run in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import jaccard, tokens, word_shingles
from ..session import scoped_persist
from .text import normalized_fingerprint


from . import spread as _spread

# ------------------------------------------------- portable hash family
#: 2^31 - 1 (Mersenne prime): universal-hash modulus.  Coefficients and
#: hashed values stay < 2^31, so a*h + b < 2^62 — no 64-bit overflow on
#: either engine (both Spark ANSI and DuckDB error on overflow).
MERSENNE_P = (1 << 31) - 1


def portable_hash60(col: Column) -> Column:
    """60-bit integer hash computable bit-identically on Spark AND
    DuckDB: the first 15 hex chars of md5 parsed as an integer
    (Spark: ``conv(substring(md5(x),1,15),16,10)``; DuckDB:
    ``('0x' || substr(md5(x),1,15))::BIGINT``).  15 hex chars = 60
    bits, safely inside BIGINT.  ~3× slower than xxhash64 but it has
    an exact SQL twin — the portable dedup variants trade that
    constant for a zero-tolerance oracle."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def minhash_family_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal hash family
    h_i(x) = (a_i·x + b_i) mod p — Lehmer-sequence constants, embedded
    as plan literals in Spark and as SQL literals in the oracle."""
    out = []
    a, b = 1, 1
    for _ in range(num_hashes):
        a = (a * 48271) % MERSENNE_P
        b = (b * 16807 + 12345) % MERSENNE_P
        out.append((a or 1, b))
    return out

# ------------------------------------------------------------- exact
def exact_duplicate_groups(
    df: DataFrame, *, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Groups of exact duplicates under canonical normalization.
    Returns (fingerprint, n_docs, min_doc_id) per group — one shuffle
    keyed by the fingerprint."""
    return (
        df.select(F.col(id_col), normalized_fingerprint(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("min_doc_id"),
        )
    )


def drop_exact_duplicates(
    df: DataFrame, *, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Keep the min-id representative of each exact-duplicate group."""
    fp = normalized_fingerprint(text_col)
    keep = (
        df.select(F.col(id_col).alias("__id"), fp.alias("__fp"))
        .groupBy("__fp")
        .agg(F.min("__id").alias(id_col))
        .drop("__fp")
    )
    return df.join(keep, id_col, "left_semi")


# ----------------------------------------------------------- minhash
def band_key_structs(
    sig_col: Column, *, num_bands: int = 16, rows_per_band: int = 4
) -> Column:
    """``array<struct<band, k1..k{rpb}>>``: one raw-key struct per LSH
    band over a signature array — the exploded form both the q193
    index build and its stream-side twin band on (shared here so the
    banding layout can never skew between the two).  Raw signature
    slots (not a hashed bucket) so an external SQL oracle can replay
    the keys bit-exactly; ``incremental_minhash_dedup``'s internal
    ``band_cols`` keeps its own single-bucket-column shape (one struct
    column) for the generic grouped pipeline."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                *[
                    sig_col.getItem(b * rows_per_band + r).alias(f"k{r + 1}")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(num_bands)
        ]
    )


def shingle_sets(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """(id, shingles): per-document distinct k-word shingle set.
    Map-only (tokenize → shingle → array_distinct per row)."""
    shingles = F.array_distinct(word_shingles(tokens(F.col(text_col)), shingle_k))
    return (
        _spread(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), shingles.alias("shingles"))
        .filter(F.size("shingles") > 0)
    )


def minhash_signatures(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 64,
    portable: bool = False,
) -> DataFrame:
    """(id, sig): a ``num_hashes``-long MinHash signature per document.

    Hash family (default): each variable-length shingle string is
    xxhash64'd ONCE into a long; family member *i* re-hashes that
    fixed-width long with the seed (``xxhash64(h, i)``) — equivalent
    independence to seeding the string hash directly at a fraction of
    the work.  With ``portable=True`` the string hash is
    :func:`portable_hash60` (md5-derived) and members are the
    universal family (a_i·h + b_i) mod 2^31−1 — bit-replicable in
    DuckDB SQL, which is what makes the portable dedup query fully
    oracle-paired instead of rows-only.

    Shape: explode(shingles) → hash-aggregate with ``num_hashes``
    ``min()`` columns.  Everything stays in whole-stage codegen (the
    earlier form — 64 ``array_min(transform(...))`` columns — ran
    interpreted higher-order lambdas and allocated 64 arrays per row,
    ~3× slower), and because ``min`` is map-side combinable the
    shuffle carries exactly one 64-long row per (doc × partition) —
    never the exploded shingles and never the shingle strings.  (A
    prior revision also ``collect_list``'d the shingle set through
    this exchange to save recomputing it for the verify stage; at
    scale the shuffle is the scarce resource and that trade is
    backwards — 3× slower end-to-end.  The verify stage now recomputes
    shingles only for LSH candidates via :func:`shingle_sets` + a
    semi-join.)"""
    base = shingle_sets(df, id_col=id_col, text_col=text_col, shingle_k=shingle_k)
    exploded = base.select(F.col(id_col), F.explode("shingles").alias("__s"))
    if portable:
        coeffs = minhash_family_coeffs(num_hashes)
        hm = F.pmod(portable_hash60(F.col("__s")), F.lit(MERSENNE_P))
        exploded = exploded.withColumn("__h", hm)
        members = [
            F.pmod(F.col("__h") * F.lit(a) + F.lit(b), F.lit(MERSENNE_P))
            for a, b in coeffs
        ]
    else:
        # ONE xxhash64 per shingle; family members come from the same
        # universal (a·h + b) mod p family as the portable path —
        # mul+add+pmod per member instead of a full xxhash64 re-hash
        # (~2× cheaper signatures, measured).  Operands stay < 2^31 so
        # products stay < 2^62: safe under ANSI overflow checking.
        coeffs = minhash_family_coeffs(num_hashes)
        exploded = exploded.withColumn(
            "__h", F.pmod(F.xxhash64("__s"), F.lit(MERSENNE_P))
        )
        members = [
            F.pmod(F.col("__h") * F.lit(a) + F.lit(b), F.lit(MERSENNE_P))
            for a, b in coeffs
        ]
    return (
        exploded.groupBy(id_col)
        .agg(*[F.min(m).alias(f"__m{i}") for i, m in enumerate(members)])
        .select(
            F.col(id_col),
            F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("sig"),
        )
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    *,
    id_col: str,
    num_bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int = 1000,
    exact_buckets: bool = False,
) -> DataFrame:
    """Banded-LSH candidate generation: hash each band of the
    signature; documents sharing any (band, hash) bucket become a
    candidate pair.  Pairs are generated by an equi-join on the bucket
    key (shuffle-partition-parallel); degenerate buckets larger than
    ``max_bucket_size`` are dropped (standard guard — such buckets are
    boilerplate shingle-sets whose pairs explode quadratically; the
    count is exposed to callers via the drop, not silently unbounded).

    ``exact_buckets=True`` keys buckets on the band's raw signature
    TUPLE instead of its xxhash64 — no cross-tuple collision is
    possible, so an external oracle grouping on the same tuple finds
    the identical candidate set (the hashed key admits a ~2^-64
    false-candidate).  Same shuffle shape; the key is 4 longs instead
    of 1."""
    def band_key(b: int):
        cols = [F.col("sig").getItem(b * rows_per_band + r) for r in range(rows_per_band)]
        if exact_buckets:
            return F.struct(*[c.alias(f"k{r}") for r, c in enumerate(cols)])
        return F.xxhash64(*cols)

    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                band_key(b).alias("bucket"),
            )
            for b in range(num_bands)
        ]
    )
    buckets = (
        sigs.select(F.col(id_col), F.explode(bands).alias("bb"))
        .select(id_col, "bb.band", "bb.bucket")
    )
    # Pairs come from per-bucket member-list combinations, not a
    # self-join: ONE shuffle groups members per (band, bucket) — the
    # same exchange the size guard needs anyway — then each bucket
    # emits its C(n,2) sorted-id pairs via nested array lambdas.  The
    # per-bucket quadratic stays bounded by max_bucket_size (the guard
    # is now a plain filter on the collected size, no window pass), and
    # the old plan's window sort + double join shuffles disappear.
    grouped = (
        buckets.groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("__ids"))
        .filter((F.size("__ids") >= 2) & (F.size("__ids") <= max_bucket_size))
    )
    combos = F.flatten(
        F.transform(
            "__ids",
            lambda x, i: F.transform(
                F.slice(F.col("__ids"), i + F.lit(2), F.size("__ids") - i - 1),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(combos).alias("__p"))
        .select(F.col("__p.id_a"), F.col("__p.id_b"))
        .distinct()
    )


def minhash_near_duplicates(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    threshold: float = 0.5,
    portable: bool = False,
) -> DataFrame:
    """Full near-dup pipeline: MinHash → LSH candidates → exact-Jaccard
    verify on the shingle sets.  Returns (id_a, id_b, jaccard_sim) for
    pairs with resemblance ≥ threshold.

    Scale shape: the corpus-wide exchange carries 64 longs per doc
    (the signature); shingle SETS are recomputed only for documents
    that appear in some LSH candidate pair (typically a tiny fraction
    of the corpus) by semi-joining the raw docs against the candidate
    id list before re-tokenizing."""
    # persist: the signature stage feeds 16 band-bucket projections in
    # the LSH pass; without it the tokenize→shingle→64-hash computation
    # reruns per consumer.  At cluster scale this is the step you'd
    # checkpoint to reliable storage.
    sigs = minhash_signatures(
        df,
        id_col=id_col,
        text_col=text_col,
        shingle_k=shingle_k,
        num_hashes=num_hashes,
        portable=portable,
    ).transform(scoped_persist)
    # persist pairs too: consumed by the candidate-id extraction AND the
    # verify join — without it the whole bucket-combination pass reruns.
    pairs = lsh_candidate_pairs(
        sigs,
        id_col=id_col,
        num_bands=num_bands,
        rows_per_band=num_hashes // num_bands,
        exact_buckets=portable,
    ).transform(scoped_persist)
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # Recompute shingles ONLY for candidate docs: filter the raw corpus
    # down (semi-join on the small candidate-id set) BEFORE tokenizing,
    # and persist the result because it feeds both sides of the verify.
    cand_docs = df.select(F.col(id_col), F.col(text_col)).join(cand_ids, id_col, "left_semi")
    sh = shingle_sets(
        cand_docs, id_col=id_col, text_col=text_col, shingle_k=shingle_k
    ).transform(scoped_persist)
    verified = (
        pairs.join(sh.withColumnsRenamed({id_col: "id_a", "shingles": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "shingles": "sh_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard_sim"),
        )
    )
    return verified.filter(F.col("jaccard_sim") >= threshold)


# ----------------------------------------------------------- simhash
def simhash_signatures(
    df: DataFrame, *, id_col: str, text_col: str = "text", portable: bool = False
) -> DataFrame:
    """SimHash per document: per-token hash, each bit votes ±1,
    signature bit = sign of the vote sum.  Implemented as one explode
    + one hash-agg with one conditional sum per bit (single shuffle).

    Default: 64-bit via xxhash64.  ``portable=True``: 60-bit via
    :func:`portable_hash60` — every op (md5-hex parse, shift/and,
    conditional sum) has an exact DuckDB twin, so the portable variant
    is fully oracle-paired."""
    nbits = 60 if portable else 64
    toks = _spread(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok")
    )
    if portable:
        toks = toks.withColumn("h", portable_hash60(F.col("tok")))
    else:
        toks = toks.withColumn("h", F.xxhash64("tok"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(nbits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    sim = None
    for i in range(nbits):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, i)
        sim = term if sim is None else sim.bitwiseXOR(term)  # disjoint bits: XOR == OR == ADD
    return agg.select(F.col(id_col), sim.alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str = "text",
    max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ ``max_hamming``.
    Candidates must share one of four chunks (16-bit, or 15-bit in
    the 60-bit portable variant; pigeonhole: any pair within Hamming 3
    shares at least one untouched chunk), then exact
    ``bit_count(xor)`` verification."""
    chunk_bits = 15 if portable else 16
    chunk_mask = (1 << chunk_bits) - 1
    sigs = simhash_signatures(
        df, id_col=id_col, text_col=text_col, portable=portable
    ).transform(scoped_persist)
    chunks = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), chunk_bits * c)
                .bitwiseAND(F.lit(chunk_mask))
                .alias("ck"),
            )
            for c in range(4)
        ]
    )
    buckets = sigs.select(
        F.col(id_col), F.col("simhash"), F.explode(chunks).alias("cc")
    ).select(id_col, "simhash", "cc.chunk", "cc.ck")
    a = buckets.select("chunk", "ck", F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"))
    b = buckets.select("chunk", "ck", F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"))
    return (
        a.join(b, ["chunk", "ck"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"))
        # Hamming filter BEFORE the dedup shuffle: similar corpora put
        # thousands of docs in one shared chunk bucket, so the raw
        # candidate stream is orders of magnitude larger than the
        # ≤ max_hamming survivors the distinct actually needs to see
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ------------------------------------------------ embedding near-dup
def embedding_near_duplicates(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int | None = 8,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ ``threshold``.

    With ``num_planes`` set (the scale path), candidates are restricted
    to vectors sharing a random-hyperplane sign bucket — genuinely
    near-identical vectors (the dedup case, cos ≥ 0.95) collide with
    probability (1 − θ/π)^planes ≈ 0.94^8, and the all-pairs blow-up
    is confined to buckets.  ``num_planes=None`` = exact all-pairs
    (test/oracle baseline only — O(n²) scan)."""
    from .similarity import all_pairs_above_blocked, sign_bucket

    if num_planes is None:
        # exact all-pairs: distributed triangle join — every block
        # pair is one Arrow task with the identical IEEE op order
        # (bit-equal to the fold below and to the oracle); no driver
        # collect, no task holds more than two blocks
        return all_pairs_above_blocked(
            vectors, id_col=id_col, vec_col=vec_col, threshold=threshold
        )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q), F.lit(0.0), lambda acc, t: acc + t
        )

    v = vectors.select(
        F.col(id_col).alias("__id"), F.col(vec_col).cast("array<double>").alias("__v")
    )
    # Precompute each vector's norm once — the per-pair work drops to a
    # single dot product.  cos = dot/(na*nb) is the identical IEEE
    # expression to computing norms per pair, so oracle parity holds.
    v = v.withColumn("__n", F.sqrt(dot(F.col("__v"), F.col("__v"))))
    if dim is None:
        raise ValueError("dim is required when bucketing (num_planes set)")
    v = v.withColumn(
        "__b", sign_bucket(F.col("__v"), dim=dim, num_planes=num_planes)
    ).transform(scoped_persist)
    a = v.select(
        "__b", F.col("__id").alias("id_a"), F.col("__v").alias("va"), F.col("__n").alias("na")
    )
    b = v.select(
        "__b", F.col("__id").alias("id_b"), F.col("__v").alias("vb"), F.col("__n").alias("nb")
    )
    # shuffle-partitioned equi-join: parallelizes by bucket and scales
    # past broadcast limits
    return (
        a.join(b, ["__b"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


# ----------------------------------------- explicit-pair n-gram jaccard
def ngram_jaccard_on_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    id_col: str = "doc_id",
    ngrams_col: Column,
) -> DataFrame:
    """Exact n-gram Jaccard for an explicit pair list (two hash joins
    to attach the n-gram sets, then a codegen'd set computation)."""
    sets = docs.select(F.col(id_col), F.array_distinct(ngrams_col).alias("__ng"))
    return (
        pairs.join(sets.withColumnsRenamed({id_col: id_a, "__ng": "__ng_a"}), id_a)
        .join(sets.withColumnsRenamed({id_col: id_b, "__ng": "__ng_b"}), id_b)
        .select(
            id_a, id_b, jaccard(F.col("__ng_a"), F.col("__ng_b")).alias("jaccard_sim")
        )
    )


# ------------------------------------- prefix-filtered set-similarity
def _setsim_prefix_candidates(sets, *, id_col, num, den, persist_ordered=False):
    """The PPJoin candidate stage shared by ``setsim_prefix_join`` and
    ``setsim_partner_profile`` (one definition so the two verifies can
    never diverge on the prefix lemma — review r9).

    Candidate generation runs on 64-bit item HASHES, not the shingle
    strings: the frequency pass and the prefix join exchange 8 bytes
    per item instead of ~30-char strings (~4× less shuffle volume,
    cheaper per-set sort).  Lossless: shared string ⇒ shared hash, and
    a collision can only merge items — the hash-set Jaccard is ≥ the
    string-set Jaccard, so the hash-level prefix + size filters can
    only ADD candidates, never drop a true pair; each caller's exact
    verify kills false candidates.  The canonical total order is the
    comparator (item_df, hash) itself — ``array_sort`` on
    ``struct<item_df, item>`` inside codegen, no materialized global
    rank, no single-partition window.

    Returns ``(cand, ordered)``: the distinct (id_a, id_b) candidate
    pairs past the integer size bound, and the per-id
    ``(__ord: sorted array<struct<item_df, item>>, n)`` table (persist
    it via ``persist_ordered`` when the caller's verify reuses it)."""
    ex = sets.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.transform("shingles", lambda s: F.xxhash64(s)))
        ).alias("item"),
    )
    freq = ex.groupBy("item").agg(F.count(F.lit(1)).alias("item_df"))
    ordered = (
        ex.join(freq, "item")
        .groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("item_df", "item"))).alias(
                "__ord"
            ),
            F.count(F.lit(1)).alias("n"),
        )
    )
    if persist_ordered:
        ordered = ordered.transform(scoped_persist)
    # prefix length p = n − ⌈t·n⌉ + 1, computed in exact integer math
    plen = (
        F.col("n") - F.expr(f"(n * {num} + {den} - 1) DIV {den}") + F.lit(1)
    ).cast("int")
    prefix = ordered.select(
        F.col(id_col),
        F.col("n"),
        F.explode(
            F.slice(F.transform("__ord", lambda x: x["item"]), F.lit(1), plen)
        ).alias("item"),
    )
    a = prefix.withColumnsRenamed({id_col: "id_a", "n": "n_a"})
    b = prefix.withColumnsRenamed({id_col: "id_b", "n": "n_b"})
    cand = (
        a.join(b, "item")
        .filter(F.col("id_a") < F.col("id_b"))
        # size bound: t·|A| ≤ |B| and t·|B| ≤ |A| (integer form)
        .filter(
            (F.col("n_b") * den >= F.col("n_a") * num)
            & (F.col("n_a") * den >= F.col("n_b") * num)
        )
        .select("id_a", "id_b")
        .distinct()
    )
    return cand, ordered


def setsim_prefix_join(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str = "text",
    shingle_k: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """EXACT Jaccard-threshold self-join via prefix filtering
    (PPJoin-family, Chaudhuri et al. SSJoin / Xiao et al. PPJoin).

    Unlike MinHash+LSH this is *lossless*: a pair survives iff its
    true shingle-set Jaccard ≥ ``threshold_num/threshold_den`` — no
    recall knob — yet it never materializes all pairs.  The trick is
    the prefix-filter lemma: order every set by one global total order
    (rarest item first); if ``J(A,B) ≥ t`` then ``|A∩B| ≥ ⌈t·|A|⌉``,
    so the first ``|A| − ⌈t·|A|⌉ + 1`` items of A must share at least
    one item with B's corresponding prefix.  Candidates therefore come
    from an equi-join on *prefix* items only — and because prefixes
    hold each set's globally rarest items, the join keys are the
    least-skewed items in the corpus (the inverse of the naive
    explode-join, whose hottest key is the most common item).

    Scale shape (100 TB): two shuffles on item (document frequency,
    then prefix-candidate join) + one shuffle on id (regroup) — all
    hash-partitioned, no all-pairs stage, no driver state.  The
    canonical order is the comparator ``(item_df, item)`` itself, NOT
    a materialized global rank — no single-partition window anywhere.

    Threshold is an exact rational ``num/den``; the survive predicate
    is integer (``den·|A∩B| ≥ num·|A∪B|``), so the decision is
    engine-exact and the whole pipeline is oracle-pairable.

    Returns (id_a, id_b, inter_size, size_a, size_b, jaccard_sim).
    """
    num, den = threshold_num, threshold_den
    if not (0 < num <= den):
        raise ValueError(f"threshold must be in (0, 1]: {num}/{den}")
    # persisted: feeds the item-frequency pass AND both sides of the
    # exact verify join
    sets = shingle_sets(df, id_col=id_col, text_col=text_col, shingle_k=shingle_k).transform(scoped_persist)
    cand, _ = _setsim_prefix_candidates(sets, id_col=id_col, num=num, den=den)
    verified = (
        cand.join(sets.withColumnsRenamed({id_col: "id_a", "shingles": "sh_a"}), "id_a")
        .join(sets.withColumnsRenamed({id_col: "id_b", "shingles": "sh_b"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter_size"),
            F.size("sh_a").alias("size_a"),
            F.size("sh_b").alias("size_b"),
        )
        .withColumn("union_size", F.col("size_a") + F.col("size_b") - F.col("inter_size"))
        .filter(F.col("inter_size") * den >= F.col("union_size") * num)
    )
    return verified.select(
        "id_a",
        "id_b",
        "inter_size",
        "size_a",
        "size_b",
        (F.col("inter_size").cast("double") / F.col("union_size")).alias("jaccard_sim"),
    )


# ------------------------- density-bounded set-similarity profile
def setsim_partner_profile(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str = "text",
    shingle_k: int = 3,
    threshold_num: int = 1,
    threshold_den: int = 2,
) -> DataFrame:
    """Density-BOUNDED companion to ``setsim_prefix_join`` — the
    configuration a 100 TB dedup run actually consumes.

    Same prefix-filter candidate generation and the same exact integer
    threshold predicate, two deliberate physical changes for
    adversarially dup-dense corpora (where the lossless PAIR LIST's
    own output is the quadratic term — SCALE.md's q163 sf10 note):

    1. The verify intersects the per-document sorted 64-bit item-HASH
       arrays (already built for the prefix pass) instead of
       re-shipping the shingle STRINGS — ~4× less verify-join volume.
       Lossless up to a 64-bit collision between two items of the
       same compared pair (≈|A|·|B|/2⁶⁴ per pair; a collision can
       only inflate ``inter_size``), the standard trade every
       hash-fingerprint deduper makes.
    2. The output is the per-document partner PROFILE — partner count
       plus the best partner by (Jaccard, id) — so rows out are
       ≤|docs| regardless of cluster density: a C(100,2)-pairs/cluster
       replica emits 100 rows per cluster, not 4 950.

    Returns (doc_id, n_partners, best_partner, best_inter, best_union,
    best_jaccard), partners being documents whose exact hash-set
    Jaccard ≥ num/den.  Docs with no partner are absent (a left join
    against the corpus restores them as n_partners=0 if needed).
    """
    num, den = threshold_num, threshold_den
    if not (0 < num <= den):
        raise ValueError(f"threshold must be in (0, 1]: {num}/{den}")
    sets = shingle_sets(
        df, id_col=id_col, text_col=text_col, shingle_k=shingle_k
    )
    # ordered persisted: feeds the prefix explode AND both verify sides
    cand, ordered = _setsim_prefix_candidates(
        sets, id_col=id_col, num=num, den=den, persist_ordered=True
    )
    harr = ordered.select(
        F.col(id_col),
        F.transform("__ord", lambda x: x["item"]).alias("__h"),
        "n",
    )
    verified = (
        cand.join(harr.withColumnsRenamed({id_col: "id_a", "__h": "__ha", "n": "na"}), "id_a")
        .join(harr.withColumnsRenamed({id_col: "id_b", "__h": "__hb", "n": "nb"}), "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__ha", "__hb")).alias("inter"),
            (F.col("na") + F.col("nb")).alias("__nsum"),
        )
        .withColumn("uni", F.col("__nsum") - F.col("inter"))
        .filter(F.col("inter") * den >= F.col("uni") * num)
    )
    # symmetric per-doc profile: each surviving pair credits BOTH ends
    both = verified.select(
        F.col("id_a").alias("doc_id"),
        F.col("id_b").alias("partner"),
        "inter",
        "uni",
    ).unionByName(
        verified.select(
            F.col("id_b").alias("doc_id"),
            F.col("id_a").alias("partner"),
            "inter",
            "uni",
        )
    )
    # best partner = max by (IEEE-double Jaccard, lower partner id).
    # The double is a pure function of the exact integers (inter, uni),
    # so the selection is engine-deterministic; two DISTINCT rationals
    # within one ulp round to the same double and then resolve by id —
    # acceptable for a profile (a true cross-multiplied argmax needs a
    # pairwise compare no partial-aggregatable struct-max expresses)
    best = F.max(
        F.struct(
            (F.col("inter").cast("double") / F.col("uni")).alias("j"),
            (-F.col("partner")).alias("negp"),
            "inter",
            "uni",
            "partner",
        )
    ).alias("b")
    return (
        both.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_partners"), best)
        .select(
            "doc_id",
            "n_partners",
            F.col("b.partner").alias("best_partner"),
            F.col("b.inter").alias("best_inter"),
            F.col("b.uni").alias("best_union"),
            F.col("b.j").alias("best_jaccard"),
        )
    )


# --------------------------------------- token-sequence containment
def containment_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str = "text",
) -> DataFrame:
    """EXACT substring-dedup pairs: document A whose whitespace-
    normalized token sequence appears contiguously inside document B
    (the "contained document" case of substring dedup, Lee et al.
    "Deduplicating Training Data Makes Language Models Better").

    Candidate generation is rarest-4-GRAM blocking, and it is
    *lossless*: containment is checked on space-padded normalized
    strings (`' '+norm+' '` ⊆ `' '+norm+' '`), so a match always
    aligns on token boundaries — hence every 4-token gram of A is a
    4-gram of B, in particular A's globally rarest one.  One
    equi-join of each document's rarest gram against the corpus gram
    index yields all candidates; an exact ``contains`` verifies.
    Documents with fewer than 4 tokens fall back to rarest-TOKEN
    blocking (every token of a contained doc is a token of its
    container) against a token index semi-filtered to just those
    rare tokens.  Grams/tokens are joined as 64-bit hashes — a
    collision can only add a candidate, never drop one.

    A single rare *token* is a poor block key on small-vocabulary
    corpora (df of even the rarest token grows with corpus size ⇒
    quadratic candidates); the rarest 4-gram's df is ~1 for any
    non-duplicated passage, so candidates stay near-linear.

    Scale shape: gram document-frequency (one shuffle), per-doc
    rarest gram via ``min(struct(df, g))`` (map-side combinable),
    candidate equi-join keyed on rare grams (minimum skew by
    construction), verify via two id-joins.  No all-pairs stage.

    Exact duplicates (equal norms) are emitted once with
    ``contained_id < container_id``; otherwise the shorter side is
    ``contained_id``.

    Returns (contained_id, container_id, contained_chars,
    container_chars).
    """
    toks = tokens(F.col(text_col))
    norm = (
        _spread(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.concat_ws(" ", toks).alias("norm"))
        .filter(F.length("norm") > 0)
        .transform(scoped_persist)
    )
    toks_arr = F.split("norm", " ")
    g4 = norm.select(
        F.col(id_col),
        F.explode(
            F.transform(F.array_distinct(word_shingles(toks_arr, 4)), lambda g: F.xxhash64(g))
        ).alias("g"),
    )
    gfreq = g4.groupBy("g").agg(F.count(F.lit(1)).alias("g_df"))
    rare4 = (
        g4.join(gfreq, "g")
        .groupBy(id_col)
        .agg(F.min(F.struct("g_df", "g")).getField("g").alias("g"))
        .withColumnRenamed(id_col, "contained_id")
    )
    cand4 = (
        rare4.join(g4.withColumnRenamed(id_col, "container_id"), "g")
        .filter(F.col("contained_id") != F.col("container_id"))
        .select("contained_id", "container_id")
    )
    # <4-token docs have no 4-gram: rarest-token fallback, A-side only
    ex_tok = norm.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.transform(toks_arr, lambda t: F.xxhash64(t)))).alias("tok"),
    )
    tfreq = ex_tok.groupBy("tok").agg(F.count(F.lit(1)).alias("tok_df"))
    short_ids = norm.filter(F.size(toks_arr) < 4).select(id_col)
    rare_tok = (
        ex_tok.join(short_ids, id_col, "left_semi")
        .join(tfreq, "tok")
        .groupBy(id_col)
        .agg(F.min(F.struct("tok_df", "tok")).getField("tok").alias("tok"))
        .withColumnRenamed(id_col, "contained_id")
    )
    cand_tok = (
        rare_tok.join(ex_tok.withColumnRenamed(id_col, "container_id"), "tok")
        .filter(F.col("contained_id") != F.col("container_id"))
        .select("contained_id", "container_id")
    )
    cand = cand4.unionByName(cand_tok).distinct()
    pad = lambda c: F.concat(F.lit(" "), c, F.lit(" "))  # noqa: E731
    return (
        cand.join(norm.withColumnsRenamed({id_col: "contained_id", "norm": "s_a"}), "contained_id")
        .join(norm.withColumnsRenamed({id_col: "container_id", "norm": "s_b"}), "container_id")
        .filter(
            (F.length("s_a") < F.length("s_b"))
            | (
                (F.length("s_a") == F.length("s_b"))
                & (F.col("contained_id") < F.col("container_id"))
            )
        )
        .filter(F.contains(pad(F.col("s_b")), pad(F.col("s_a"))))
        .select(
            "contained_id",
            "container_id",
            F.length("s_a").alias("contained_chars"),
            F.length("s_b").alias("container_chars"),
        )
    )


# --------------------------------------------- incremental (delta) dedup
def incremental_minhash_dedup(
    corpus: DataFrame,
    delta: DataFrame,
    *,
    id_col: str,
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus without comparing
    corpus docs to each other — the shape every production ingest
    actually runs (nobody re-dedups 100 TB per crawl snapshot; they
    dedup the delta against the index).

    Candidates come from one bucket-grouped exchange over the union of
    both sides' LSH band buckets: each surviving bucket (≥1 member
    from each side, total ≤ ``max_bucket_size``) emits its new×old
    cross pairs via nested array lambdas — delta-internal pairs are
    never generated.  Verification recomputes shingle sets only for
    candidate ids (semi-join), exactly like the batch pipeline.

    At cluster scale the corpus band buckets are a *precomputed,
    bucketed-by-(band,key) table* maintained incrementally; this
    operator's plan then touches only the delta's signatures plus the
    matching corpus buckets — work proportional to the delta, not the
    corpus.

    Signatures use the md5 hash family and buckets are the raw band
    tuples, so an external SQL oracle can replay the ENTIRE pipeline
    bit-exactly.

    Returns (new_id, old_id, jaccard_sim) with jaccard ≥ threshold.
    """
    rpb = num_hashes // num_bands

    def band_cols(sigs: DataFrame) -> DataFrame:
        def band_key(b: int):
            cols = [
                F.col("sig").getItem(b * rpb + r) for r in range(rpb)
            ]
            return F.struct(*[c.alias(f"k{r}") for r, c in enumerate(cols)])

        bands = F.array(
            *[
                F.struct(F.lit(b).alias("band"), band_key(b).alias("bucket"))
                for b in range(num_bands)
            ]
        )
        return sigs.select(F.col(id_col), F.explode(bands).alias("bb")).select(
            id_col, "bb.band", "bb.bucket"
        )

    sig_new = minhash_signatures(
        delta, id_col=id_col, text_col=text_col, shingle_k=shingle_k,
        num_hashes=num_hashes, portable=True,
    )
    sig_old = minhash_signatures(
        corpus, id_col=id_col, text_col=text_col, shingle_k=shingle_k,
        num_hashes=num_hashes, portable=True,
    )
    tagged = band_cols(sig_new).withColumn("is_new", F.lit(1)).unionByName(
        band_cols(sig_old).withColumn("is_new", F.lit(0))
    )
    grouped = (
        tagged.groupBy("band", "bucket")
        .agg(
            F.sort_array(
                F.collect_list(F.when(F.col("is_new") == 1, F.col(id_col)))
            ).alias("__new"),
            F.sort_array(
                F.collect_list(F.when(F.col("is_new") == 0, F.col(id_col)))
            ).alias("__old"),
        )
        .filter(
            (F.size("__new") >= 1)
            & (F.size("__old") >= 1)
            & (F.size("__new") + F.size("__old") <= max_bucket_size)
        )
    )
    combos = F.flatten(
        F.transform(
            "__new",
            lambda n: F.transform(
                F.col("__old"),
                lambda o: F.struct(n.alias("new_id"), o.alias("old_id")),
            ),
        )
    )
    pairs = (
        grouped.select(F.explode(combos).alias("__p"))
        .select("__p.new_id", "__p.old_id")
        .distinct()
        .transform(scoped_persist)
    )
    sh_new = shingle_sets(
        delta.join(
            pairs.select(F.col("new_id").alias(id_col)).distinct(), id_col, "left_semi"
        ),
        id_col=id_col, text_col=text_col, shingle_k=shingle_k,
    )
    sh_old = shingle_sets(
        corpus.join(
            pairs.select(F.col("old_id").alias(id_col)).distinct(), id_col, "left_semi"
        ),
        id_col=id_col, text_col=text_col, shingle_k=shingle_k,
    )
    return (
        pairs.join(sh_new.withColumnsRenamed({id_col: "new_id", "shingles": "sh_n"}), "new_id")
        .join(sh_old.withColumnsRenamed({id_col: "old_id", "shingles": "sh_o"}), "old_id")
        .select(
            "new_id",
            "old_id",
            jaccard(F.col("sh_n"), F.col("sh_o")).alias("jaccard_sim"),
        )
        .filter(F.col("jaccard_sim") >= threshold)
    )
