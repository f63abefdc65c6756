"""Round-2 coverage growth: time-series verbs over the reference's
tick data model (LOCF gap-fill, TWAP, drawdown, rolling moments),
string aggregation, lateral explode, bloom-filter join pruning, and
two more training-data ops (document chunking, PII scrubbing).

Every query is oracle-exact (COVERAGE.md "Exactness strategy"):
integer cents / integer µs accumulations, fixed float-op tails, window
orders with unique tiebreakers, regex constructs Java and RE2 agree
on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cents
from ..operators.text import chunk_documents, scrub_pii
from ..operators.topk import top_k_per_group
from ..operators.timeseries import (
    drawdown,
    locf_gapfill,
    rolling_moments,
    time_weighted_average,
)
from ..tables import load


# ---------------------------------------------------------------- q48
def q48_locf_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF gap-fill (TimescaleDB ``locf(time_bucket_gapfill(...))``
    analog): each user's daily last purchase value, carried forward
    over days with no purchases, on a per-user generated day spine."""
    # LOCF carries the last OBSERVATION forward — a NULL value is not
    # an observation (and arg_max/max_by disagree on NULL-valued rows),
    # so observations are valued purchases on BOTH sides
    e = load(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    return locf_gapfill(e, keys=["user_id"], ts="ts", value_col="value")


_Q48_SQL = """
WITH obs AS (
  SELECT user_id, date_trunc('day', ts) AS bucket, arg_max(value, ts) AS obs
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
  GROUP BY 1, 2
), spine AS (
  SELECT user_id,
         unnest(generate_series(min(bucket), max(bucket), INTERVAL 1 DAY)) AS bucket
  FROM obs GROUP BY user_id
)
SELECT s.user_id, s.bucket,
       last_value(o.obs IGNORE NULLS) OVER (
         PARTITION BY s.user_id ORDER BY s.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
FROM spine s LEFT JOIN obs o ON o.user_id = s.user_id AND o.bucket = s.bucket
"""


# ---------------------------------------------------------------- q49
def q49_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg ... ORDER BY):
    per order, its line numbers + return flags joined in line order.
    Spark has no ordered string_agg aggregate; the scalable rewrite is
    collect_list of (order-key, payload) structs → sort_array →
    transform → array_join — one shuffle, deterministic order."""
    li = load(spark, sf_dir, "lineitem")
    # (l_linenumber, l_returnflag) is NOT unique per order — the struct
    # sort is total over BOTH fields, and the oracle's ORDER BY carries
    # the same tiebreaker (duplicate payloads then agree either way)
    parts = F.sort_array(
        F.collect_list(F.struct("l_linenumber", "l_returnflag"))
    )
    return li.groupBy("l_orderkey").agg(
        F.array_join(
            F.transform(
                parts,
                lambda s: F.concat_ws(
                    ":", s["l_linenumber"].cast("string"), s["l_returnflag"]
                ),
            ),
            ",",
        ).alias("lines"),
        F.count(F.lit(1)).alias("n_lines"),
    )


_Q49_SQL = """
SELECT l_orderkey,
       string_agg(l_linenumber || ':' || l_returnflag, ','
                  ORDER BY l_linenumber, l_returnflag)
         AS lines,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem GROUP BY 1
"""


# ---------------------------------------------------------------- q50
def q50_rolling_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day mean/stddev of purchase values per user via the
    algebraic (n, Σx, Σx²) daily decomposition — the RANGE window
    re-sums three integers per day instead of rescanning rows, and the
    stddev is a fixed float-op tail over exact integer sums."""
    e = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return rolling_moments(
        e, keys=["user_id"], ts="ts", value_col="value", trailing_days=6
    )


_Q50_SQL = """
WITH daily AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(round(value * 100) AS BIGINT)
                  * CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS sxx
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), rolled AS (
  SELECT user_id, day,
         sum(n)   OVER w AS n,
         sum(sx)  OVER w AS sx,
         sum(sxx) OVER w AS sxx
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY day
               RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
)
SELECT user_id, day,
       CAST(n AS BIGINT) AS n_obs,
       CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean_value,
       CASE WHEN n > 1
            THEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      / CAST(n * (n - 1) AS DOUBLE)) / 100.0
       END AS stddev_value
FROM rolled
"""


# ---------------------------------------------------------------- q51
def q51_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running peak and drawdown of each user's purchase series —
    the canonical risk metric over the bar/tick data model (running
    max picks exact inputs; one subtraction + one division)."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select("user_id", "ts", "value")
    return drawdown(e, keys=["user_id"], ts="ts", value_col="value")


_Q51_SQL = """
SELECT user_id, ts, value,
       max(value) OVER w AS peak,
       (value - max(value) OVER w) / max(value) OVER w AS drawdown
FROM events WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------- q52
def q52_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user-day (the TWAP twin of
    q02's VWAP bars): each observation weighted by the integer µs it
    stays current within its day.  BIGINT weighted sums, two final
    divisions — engine-exact."""
    e = load(spark, sf_dir, "events")
    return time_weighted_average(
        e, keys=["user_id"], ts="ts", value_col="value"
    )


_Q52_SQL = """
WITH x AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket,
         CAST(round(value * 100) AS BIGINT) AS cents,
         epoch_us(least(
             coalesce(lead(ts) OVER (PARTITION BY user_id ORDER BY ts),
                      date_trunc('day', ts) + INTERVAL 1 DAY),
             date_trunc('day', ts) + INTERVAL 1 DAY))
           - epoch_us(ts) AS dt
  FROM events
)
SELECT user_id, bucket,
       CAST(sum(cents * dt) AS DOUBLE) / CAST(sum(dt) AS DOUBLE) / 100.0 AS twap,
       CAST(count(*) AS BIGINT) AS n_obs
FROM x GROUP BY 1, 2
"""


# ---------------------------------------------------------------- q53
def q53_document_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (50-token windows, stride 40)
    — the context-window shaping step between curation and packing."""
    docs = load(spark, sf_dir, "documents")
    return chunk_documents(
        docs, id_col="doc_id", text_col="text", chunk_tokens=50, stride=40
    )


_Q53_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS toks,
         CASE WHEN len(toks) > 50
              THEN 1 + 40 * ((len(toks) - 50 + 39) // 40)
              ELSE 1 END AS last_start
  FROM documents
), starts AS (
  SELECT doc_id, toks,
         unnest(generate_series(1, last_start, 40)) AS s,
         generate_subscripts(generate_series(1, last_start, 40), 1) AS chunk_id
  FROM t WHERE len(toks) > 0
)
SELECT doc_id,
       CAST(chunk_id - 1 AS BIGINT) AS chunk_id,
       CAST(len(toks[s:s+49]) AS BIGINT) AS n_tokens,
       array_to_string(toks[s:s+49], ' ') AS chunk_text
FROM starts
"""


# ---------------------------------------------------------------- q54
def q54_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents salted with deterministic synthetic
    contact strings (the raw corpus has none): emails and phone
    numbers are injected per doc_id, then redacted and counted — the
    pre-training privacy pass, all in codegen regex ops that Java and
    RE2 interpret identically."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1"),
            F.lpad((F.col("doc_id") % 900 + 100).cast("string"), 3, "0"),
            F.lit("-555-"),
            F.lpad((F.col("doc_id") % 9000 + 1000).cast("string"), 4, "0"),
        ).alias("text"),
    )
    return scrub_pii(docs, text_col="text")


_Q54_SQL = r"""
WITH salted AS (
  SELECT doc_id,
         text || ' contact: user' || doc_id || '@example.com or +1'
              || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0')
              || '-555-'
              || lpad(CAST(doc_id % 9000 + 1000 AS VARCHAR), 4, '0') AS text
  FROM documents
)
SELECT doc_id, text,
       regexp_replace(
         regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                        '[EMAIL]', 'g'),
         '\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', '[PHONE]', 'g') AS scrubbed,
       CAST(len(regexp_extract_all(
         text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(
         text, '\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}')) AS BIGINT) AS n_phones
FROM salted
"""


# ---------------------------------------------------------------- q55
def q55_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning (operators/bloomjoin.py): build a
    bloom bitmap over the filtered orders keys, broadcast it as one
    row, prune the lineitem scan with codegen'd bit tests BEFORE the
    join shuffle — the semi-join reduction that keeps most of a 100 TB
    fact table out of the exchange.  The real join still runs, so
    bloom false positives cannot leak: the result is exactly the plain
    join's (which is the oracle)."""
    from ..operators.bloomjoin import bloom_prune, build_bloom

    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )
    bloom = build_bloom(o.select("o_orderkey"), "o_orderkey")
    pruned = bloom_prune(li, bloom, "l_orderkey")
    price_cents = cents(F.col("l_extendedprice"))
    return (
        pruned.join(o.select("o_orderkey", "o_orderpriority"),
                    pruned.l_orderkey == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            (F.sum(price_cents) / 100.0).alias("revenue"),
        )
    )


_Q55_SQL = """
SELECT o.o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lineitems,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
         / 100.0 AS revenue
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY 1
"""


# ---------------------------------------------------------------- q56
def q56_token_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary via lateral explode (the UDTF-shaped op):
    explode every document's tokens, count, keep the top 20 under a
    total (count DESC, token ASC) order."""
    docs = load(spark, sf_dir, "documents")
    from ..functions import tokens

    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )


_Q56_SQL = r"""
WITH t AS (
  SELECT unnest(regexp_extract_all(trim(text), '\S+')) AS token
  FROM documents
)
SELECT token, CAST(count(*) AS BIGINT) AS n
FROM t GROUP BY 1
ORDER BY n DESC, token ASC
LIMIT 20
"""




# ---------------------------------------------------------------- q57
def q57_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified EXACT-COUNT sampling: the top 20 documents per
    (lang, source) stratum under a deterministic Lehmer-hash order —
    the corpus-mixing primitive when each domain needs a fixed budget,
    not a fixed rate (q37 is the rate-based sibling).  One shuffle on
    the strata, rank window, no RNG state."""
    docs = load(spark, sf_dir, "documents")
    h = ((F.col("doc_id") % 2147483647) * 48271 % 2147483647) * 16807 % 2147483647
    return top_k_per_group(
        docs.select("doc_id", "lang", "source"),
        group_by=["lang", "source"],
        order_by=[h.asc(), F.col("doc_id").asc()],
        k=20,
        rank_col="rk",
    )


_Q57_SQL = """
WITH h AS (
  SELECT doc_id, lang, source,
         ((((doc_id % 2147483647) * 48271) % 2147483647) * 16807) % 2147483647
           AS hh
  FROM documents
)
SELECT doc_id, lang, source,
       CAST(row_number() OVER (PARTITION BY lang, source
                               ORDER BY hh, doc_id) AS BIGINT) AS rk
FROM h
QUALIFY rk <= 20
"""


# ---------------------------------------------------------------- q58
def q58_window_rank_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-window breadth: ntile, percent_rank, cume_dist, and
    dense_rank over one per-flag price order — these four are the
    remaining ranking functions the engine had not yet declared
    (rank/row_number/lag/lead live in q20)."""
    li = load(spark, sf_dir, "lineitem")
    from pyspark.sql import Window

    # NULL ordering pinned EXPLICITLY on both sides: Spark's ASC
    # default is NULLS FIRST, DuckDB's is NULLS LAST — on a
    # NULL-bearing price column every rank function diverges unless
    # one convention is declared (null-stress gate)
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").asc_nulls_first(),
        F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_extendedprice",
        F.ntile(10).over(w).cast("bigint").alias("decile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.dense_rank().over(w).cast("bigint").alias("drank"),
    )


_Q58_SQL = """
SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
       CAST(ntile(10) OVER w AS BIGINT) AS decile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       CAST(dense_rank() OVER w AS BIGINT) AS drank
FROM lineitem
WINDOW w AS (PARTITION BY l_returnflag
             ORDER BY l_extendedprice NULLS FIRST, l_orderkey, l_linenumber)
"""


# ---------------------------------------------------------------- q59
def q59_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (the SQL FILTER clause family):
    count_if / sum-where / any / every per user over events — the
    single-pass multi-metric shape that replaces N filtered scans."""
    e = load(spark, sf_dir, "events")
    value_cents = cents(F.col("value"))
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_if(F.col("event_type") == "purchase").alias("n_purchases"),
        (
            F.sum(F.when(F.col("event_type") == "purchase", value_cents).otherwise(0))
            / 100.0
        ).alias("purchase_total"),
        F.max(F.col("event_type") == "error").alias("any_error"),
        F.min(F.col("value") > 0).alias("all_positive"),
    )


_Q59_SQL = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchases,
       CAST(coalesce(sum(CAST(round(value * 100) AS BIGINT))
                     FILTER (event_type = 'purchase'), 0) AS DOUBLE) / 100.0
         AS purchase_total,
       bool_or(event_type = 'error') AS any_error,
       bool_and(value > 0) AS all_positive
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------- q60
def q60_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 dimension build from an event stream: each user's
    signup events become versioned attribute rows with
    [effective_from, effective_to) validity and a current flag —
    lead() closes each version, the final version stays open (NULL).
    One shuffle, one window pass; the standard CDC-to-warehouse shape."""
    e = load(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    nxt = F.lead("ts").over(w)
    return e.select(
        "user_id",
        F.col("value").alias("attr_value"),
        F.col("ts").alias("effective_from"),
        nxt.alias("effective_to"),
        nxt.isNull().alias("is_current"),
        F.row_number().over(w).cast("bigint").alias("version"),
    )


_Q60_SQL = """
SELECT user_id,
       value AS attr_value,
       ts AS effective_from,
       lead(ts) OVER w AS effective_to,
       lead(ts) OVER w IS NULL AS is_current,
       CAST(row_number() OVER w AS BIGINT) AS version
FROM events WHERE event_type = 'signup'
WINDOW w AS (PARTITION BY user_id ORDER BY ts)
"""




# ---------------------------------------------------------------- q61
def q61_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy benchmark-contamination scoring (q39 is the exact-match
    anti-join): per document, the FRACTION of its distinct 5-grams
    that appear anywhere in the benchmark set (docs with doc_id%97==0
    play the benchmark).  The benchmark n-gram set is dimension-sized
    → broadcast semi-join per exploded n-gram, then one ratio —
    integer counts, one division, engine-exact."""
    from ..functions import tokens, word_shingles

    docs = load(spark, sf_dir, "documents")
    grams = F.array_distinct(word_shingles(tokens(F.col("text")), 5))
    # The generator rides ALONE in its projection: a sibling column
    # like size(grams) would be merged through the Generate by
    # CollapseProject and re-evaluate the whole tokenize→shingle
    # pipeline once PER EXPLODED ROW (~50× the work; measured 56 s vs
    # 1 s at sf0.1).  Per-doc scalars come from a separate narrow
    # projection joined back at the end.
    exploded = docs.select("doc_id", F.explode(grams).alias("g"))
    bench = (
        docs.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode(grams).alias("g"))
        .distinct()
    )
    hits = (
        exploded.join(F.broadcast(bench), "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    per_doc = docs.select("doc_id", F.size(grams).alias("n_grams")).filter(
        F.col("n_grams") > 0
    )
    return per_doc.join(hits, "doc_id", "left").select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
        (
            F.coalesce("n_hits", F.lit(0)).cast("double")
            / F.col("n_grams").cast("double")
        ).alias("overlap_frac"),
    )


_Q61_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS toks FROM documents
), g AS (
  SELECT doc_id,
         list_distinct([array_to_string(toks[i:i+4], ' ')
                        FOR i IN range(1, len(toks) - 3)]) AS grams
  FROM t WHERE len(toks) >= 5
), e AS (
  SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gram FROM g
), bench AS (
  SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0
)
SELECT e.doc_id,
       CAST(any_value(e.n_grams) AS BIGINT) AS n_grams,
       CAST(count(bench.gram) AS BIGINT) AS n_hits,
       CAST(count(bench.gram) AS DOUBLE) / CAST(any_value(e.n_grams) AS DOUBLE)
         AS overlap_frac
FROM e LEFT JOIN bench USING (gram)
GROUP BY e.doc_id
"""


# ---------------------------------------------------------------- q62
def q62_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition signals (the Gopher/MassiveText
    quality-filter family): duplicate-3-gram fraction and top-token
    dominance per document — exact integer counts, two divisions."""
    from ..functions import tokens, word_shingles

    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    grams = word_shingles(toks, 3)
    # generator isolated from the per-doc scalar columns — see q61
    exploded = docs.select("doc_id", F.explode(toks).alias("tok"))
    top = (
        exploded.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top_tok_n"))
    )
    stats = docs.select(
        "doc_id",
        F.size(toks).alias("n_tok"),
        F.size(grams).alias("n_g"),
        F.size(F.array_distinct(grams)).alias("n_gd"),
    ).filter(F.col("n_tok") > 0)
    return stats.join(top, "doc_id").select(
        "doc_id",
        F.col("n_tok").cast("bigint").alias("n_tokens"),
        F.when(
            F.col("n_g") > 0,
            (F.col("n_g") - F.col("n_gd")).cast("double") / F.col("n_g").cast("double"),
        ).otherwise(F.lit(0.0)).alias("dup_3gram_frac"),
        (F.col("top_tok_n").cast("double") / F.col("n_tok").cast("double")).alias(
            "top_token_frac"
        ),
    )


_Q62_SQL = r"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS toks FROM documents
), g AS (
  SELECT doc_id, len(toks) AS n_tok,
         CASE WHEN len(toks) >= 3
              THEN [array_to_string(toks[i:i+2], ' ')
                    FOR i IN range(1, len(toks) - 1)]
              ELSE [] END AS grams,
         toks
  FROM t WHERE len(toks) > 0
), tok_counts AS (
  SELECT doc_id, any_value(n_tok) AS n_tok, tok, count(*) AS c
  FROM (SELECT doc_id, n_tok, unnest(toks) AS tok FROM g)
  GROUP BY doc_id, tok
)
SELECT g.doc_id,
       CAST(g.n_tok AS BIGINT) AS n_tokens,
       CASE WHEN len(g.grams) > 0
            THEN CAST(len(g.grams) - len(list_distinct(g.grams)) AS DOUBLE)
                 / CAST(len(g.grams) AS DOUBLE)
            ELSE 0.0 END AS dup_3gram_frac,
       CAST(m.top_n AS DOUBLE) / CAST(g.n_tok AS DOUBLE) AS top_token_frac
FROM g JOIN (SELECT doc_id, max(c) AS top_n FROM tok_counts GROUP BY doc_id) m
  USING (doc_id)
"""


# ---------------------------------------------------------------- q63
def q63_corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture weights: token mass per (lang, source) domain
    and its share of the whole corpus — what a data-mixing config is
    derived from.  Exact integer token totals; the share is one
    division by the (windowed) grand total."""
    from ..functions import tokens

    docs = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    per = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(F.col("text"))).cast("bigint")).alias("n_tokens"),
    )
    total = F.sum("n_tokens").over(Window.partitionBy())
    return per.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / total.cast("double")).alias("token_share"),
    )


_Q63_SQL = r"""
WITH per AS (
  SELECT lang, source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(regexp_extract_all(trim(text), '\S+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY 1, 2
)
SELECT lang, source, n_docs, n_tokens,
       CAST(n_tokens AS DOUBLE)
         / CAST(sum(n_tokens) OVER () AS DOUBLE) AS token_share
FROM per
"""




# ---------------------------------------------------------------- q64
def q64_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping priority): customer ⋈ orders ⋈
    lineitem with selective filters on both dimensions, revenue
    aggregation, top-10 — the canonical multi-way join Catalyst
    reorders; the customer side broadcasts, lineitem never shuffles
    for the first join.  Revenue in exact cents: price·(1−disc)
    re-expressed as integer cents·(100−disc_pct) summed in BIGINT,
    ONE final division by 10000."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1995-03-15 00:00:00"
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1995-03-15 00:00:00"
    )
    price_cents = cents(F.col("l_extendedprice"))
    disc_pct = cents(F.col("l_discount"))
    joined = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            (F.sum(price_cents * (F.lit(100) - disc_pct)) / 10000.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


_Q64_SQL = """
SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
       CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l.l_discount * 100) AS BIGINT)))
            AS DOUBLE) / 10000.0 AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------- q65
def q65_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL surface (q47 is
    the scalar-subquery sibling): suppliers of a part ordered with
    quantity > 45, minus any that also shipped late-return lines —
    Catalyst decorrelates both into semi/anti joins (no per-row
    subquery execution)."""
    for t in ("part", "supplier", "lineitem"):
        load(spark, sf_dir, t).createOrReplaceTempView(f"__q65_{t}")
    return spark.sql(
        """
        SELECT s.s_suppkey, s.s_name
        FROM __q65_supplier s
        WHERE EXISTS (
            SELECT 1 FROM __q65_lineitem l
            WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 45
        )
        AND NOT EXISTS (
            SELECT 1 FROM __q65_lineitem l
            WHERE l.l_suppkey = s.s_suppkey AND l.l_returnflag = 'R'
              AND l.l_quantity > 49
        )
        """
    )


_Q65_SQL = """
SELECT s.s_suppkey, s.s_name
FROM supplier s
WHERE EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 45
)
AND NOT EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_suppkey = s.s_suppkey AND l.l_returnflag = 'R'
      AND l.l_quantity > 49
)
"""


QUERIES = {
    "q48_locf_gapfill": q48_locf_gapfill,
    "q49_listagg": q49_listagg,
    "q50_rolling_volatility": q50_rolling_volatility,
    "q51_drawdown": q51_drawdown,
    "q52_twap": q52_twap,
    "q53_document_chunking": q53_document_chunking,
    "q54_pii_scrub": q54_pii_scrub,
    "q55_bloom_join_prune": q55_bloom_join_prune,
    "q56_token_vocab": q56_token_vocab,
    "q57_stratified_sample": q57_stratified_sample,
    "q58_window_rank_suite": q58_window_rank_suite,
    "q59_conditional_agg": q59_conditional_agg,
    "q60_scd2_history": q60_scd2_history,
    "q61_contamination_overlap": q61_contamination_overlap,
    "q62_repetition_stats": q62_repetition_stats,
    "q63_corpus_mixture": q63_corpus_mixture,
    "q64_shipping_priority": q64_shipping_priority,
    "q65_exists_subquery": q65_exists_subquery,
}

ORACLE = {
    "q48_locf_gapfill": _Q48_SQL,
    "q49_listagg": _Q49_SQL,
    "q50_rolling_volatility": _Q50_SQL,
    "q51_drawdown": _Q51_SQL,
    "q52_twap": _Q52_SQL,
    "q53_document_chunking": _Q53_SQL,
    "q54_pii_scrub": _Q54_SQL,
    "q55_bloom_join_prune": _Q55_SQL,
    "q56_token_vocab": _Q56_SQL,
    "q57_stratified_sample": _Q57_SQL,
    "q58_window_rank_suite": _Q58_SQL,
    "q59_conditional_agg": _Q59_SQL,
    "q60_scd2_history": _Q60_SQL,
    "q61_contamination_overlap": _Q61_SQL,
    "q62_repetition_stats": _Q62_SQL,
    "q63_corpus_mixture": _Q63_SQL,
    "q64_shipping_priority": _Q64_SQL,
    "q65_exists_subquery": _Q65_SQL,
}
