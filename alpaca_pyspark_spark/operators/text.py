"""Text analysis operators for training-data pipelines.

Language-ID (stopword/charset heuristic), quality scoring, token
counting, and document fingerprinting — all as JVM-side column
expressions over the ``documents`` table (no Python UDFs: at 100 TB
these run inside whole-stage codegen on the scan output, shuffling
nothing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import tokens

#: Tiny per-language stopword tables for the n-gram/stopword heuristic.
#: Deliberately small + deterministic; real deployments would swap in
#: fuller tables (the operator shape is what matters).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "a", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "por", "con", "una"),
    "de": ("der", "die", "und", "das", "ist", "von", "mit", "den", "ein", "zu"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "du", "est", "dans"),
}

#: Punctuation class shared verbatim with the DuckDB oracle.
PUNCT_CLASS = "[.,!?;:]"

#: Deterministic tie-break order for language scores.
LANG_ORDER = ("en", "es", "de", "fr")


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token count, punctuation count, stopword ratio, mean token
    length, and a composite quality score in [0, 1]."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tok = F.size(toks).cast("bigint")
    n_punct = F.size(F.regexp_extract_all(t, F.lit(PUNCT_CLASS), 0)).cast("bigint")
    stop = F.size(
        F.filter(toks, lambda x: x.isin(*LANG_STOPWORDS["en"]))
    ).cast("bigint")
    stop_ratio = F.when(n_tok == 0, F.lit(0.0)).otherwise(stop / n_tok.cast("double"))
    mean_tok_len = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        F.aggregate(toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x))
        / n_tok.cast("double")
    )
    # quality: long-enough docs with some stopwords and sane word size
    quality = (
        F.least(n_tok.cast("double") / 50.0, F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 5.0, F.lit(1.0)) * 0.3
        + F.when((mean_tok_len >= 3.0) & (mean_tok_len <= 9.0), 0.3).otherwise(0.0)
    )
    return df.select(
        "*",
        n_tok.alias("n_tokens"),
        n_punct.alias("n_punct"),
        stop_ratio.alias("stopword_ratio"),
        mean_tok_len.alias("mean_token_len"),
        quality.alias("quality_score"),
    )


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-overlap language ID: score = distinct stopword hits per
    language; prediction = arg-max with LANG_ORDER tie-break, 'und'
    (undetermined) when no language scores at all."""
    toks_d = F.array_distinct(tokens(F.col(text_col)))
    scores = {
        lang: F.size(F.array_intersect(toks_d, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.when(best <= 0, F.lit("und"))
    for lang in LANG_ORDER:  # first max in fixed order wins ties
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return df.select(
        "*", *[scores[lang].cast("bigint").alias(f"score_{lang}") for lang in LANG_ORDER],
        pred.alias("lang_pred"),
    )


def normalized_fingerprint(text_col: str = "text") -> Column:
    """Canonical document fingerprint: lowercase, collapse whitespace,
    trim, md5 — identical across engines (shared normalization
    recipe).

    Order matters for exactness on EVERY input: collapse THEN trim.
    The earlier trim-first form left a trailing space whenever the
    text ended in non-space whitespace ('hello\\n' → 'hello ') because
    trim strips only ' ' — a latent divergence from the
    collapse-then-trim oracles that no fixture happened to hit (round-9
    review finding).  The whitespace class is the explicit
    ``[ \\t\\n\\f\\r]`` (RE2's ``\\s``), NOT Java's ``\\s`` which also
    eats ``\\x0B`` — so Spark and the DuckDB oracles'
    ``trim(regexp_replace(text, '\\s+', ' ', 'g'))`` agree on every
    character.  ``lower`` commutes with both steps (character-wise,
    never creates or destroys whitespace), so oracle forms with lower
    inside or outside are equivalent."""
    norm = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), "[ \t\n\f\r]+", " ")
    )
    return F.md5(norm.cast("binary"))


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("fingerprint", normalized_fingerprint(text_col))


def hot_hash_candidates(
    df: DataFrame, col: str, min_count: int
) -> DataFrame:
    """Hot-hash prefilter for string-keyed repeat detection (guide
    §3.2 — reduce the big side before shuffling it): keep exactly the
    rows of ``df`` whose ``col`` HASH value occurs ``>= min_count``
    times in ``df``.

    Shape: one map-side-combined count pass over ``xxhash64(col)``
    (the exchange carries 8-byte keys + partial counts, never the
    strings), the surviving hash set joins back — broadcast by AQE
    only when its runtime size allows, since the hot set grows with
    the corpus's repeated content — and the join is 1:1 (the hot set
    is grouped by hash, and a row's hash equals exactly one key), so
    no row is ever duplicated.  The input side is aliased, so a
    caller's own ``__h`` column passes through untouched.

    Bloom-filter semantics, deliberately: a hash COLLISION can only
    ADD candidate rows (two distinct strings sharing a hash both pass
    the floor), never drop one — a string with ``>= min_count``
    occurrences gives its own hash at least that count.  Callers must
    therefore re-apply their exact predicate on the true string
    downstream (q210 re-ranks occurrences per span string): the
    prefilter only shrinks the string-keyed exchange, it never decides
    membership.

    The extra count pass lost to one pass at every swept corpus size
    (AB_floor_span.json), so only q210 runs it, under the oracle."""
    hot = (
        df.select(F.xxhash64(F.col(col)).alias("__h"))
        .groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= min_count)
        .select("__h")
        .alias("__hot")
    )
    src = df.alias("__src")
    return src.join(
        hot, F.xxhash64(F.col(f"__src.{col}")) == F.col("__hot.__h"), "inner"
    ).select("__src.*")


#: BPE-ish pre-tokenization pattern (GPT-2 style, minus the trailing
#: lookahead so RE2 engines — the DuckDB oracle — accept it verbatim):
#: contractions, optionally-space-prefixed letter runs, digit runs, and
#: punctuation runs.  Whitespace itself is not a token.
BPE_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_tokens(text: Column) -> Column:
    """BPE-ish pre-tokens of a string (``array<string>``), entirely
    JVM-side (``regexp_extract_all`` — no Python in the hot path).
    Approximates a BPE tokenizer's pre-split: the unit a downstream
    merge table would operate on; the count is the standard
    cost/budget proxy for LLM training data."""
    return F.regexp_extract_all(text, F.lit(BPE_PATTERN), 0)


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish pre-token count per document."""
    t = F.col(text_col)
    return df.select(
        "*",
        F.size(tokens(t)).cast("bigint").alias("n_ws_tokens"),
        F.size(bpe_tokens(t)).cast("bigint").alias("n_bpe_tokens"),
    )


def chunk_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 50,
    stride: int = 40,
) -> DataFrame:
    """Split each document into overlapping token-window chunks
    (``chunk_tokens`` wide, advancing ``stride`` tokens) — the context
    -window shaping step between curation and sequence packing.

    Pure built-ins: tokenize once, explode the chunk-start sequence,
    slice the token array per chunk.  Output rows ≈ rows × n_tok/stride
    with no shuffle at all (the explode is map-side); a downstream
    repartition, if needed, is the caller's choice.  Returns
    (id, chunk_id, n_tokens, chunk_text)."""
    t = F.col(text_col)
    toks = tokens(t)
    base = df.select(
        F.col(id_col), toks.alias("__toks"), F.size(toks).alias("__n")
    ).filter(F.col("__n") > 0)
    # Last start rounds UP to the stride grid so the final (possibly
    # shorter) chunk always covers the document tail — a chunker that
    # emits only full windows silently drops up to stride-1 trailing
    # tokens per document.
    last_start = F.when(
        F.col("__n") > chunk_tokens,
        F.expr(
            f"1 + {stride} * ((__n - {chunk_tokens} + {stride - 1}) div {stride})"
        ),
    ).otherwise(F.lit(1))
    starts = F.sequence(F.lit(1), last_start, F.lit(stride))
    chunked = base.select(
        F.col(id_col),
        F.posexplode(starts).alias("chunk_id", "__start"),
        F.col("__toks"),
    )
    piece = F.slice(F.col("__toks"), F.col("__start"), chunk_tokens)
    return chunked.select(
        F.col(id_col),
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size(piece).cast("bigint").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


#: Scrub patterns shared verbatim with the DuckDB oracle — kept to
#: constructs Java regex and RE2 interpret identically (no backrefs,
#: no lookaround, explicit character classes).
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PATTERN = r"\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"


def scrub_pii(
    df: DataFrame, *, text_col: str = "text", out_col: str = "scrubbed"
) -> DataFrame:
    """Redact email addresses and phone numbers from ``text_col``,
    counting redactions per row — the standard pre-training privacy
    scrub, entirely in codegen (regexp_replace / regexp_count)."""
    t = F.col(text_col)
    return df.select(
        "*",
        F.regexp_replace(
            F.regexp_replace(t, EMAIL_PATTERN, "[EMAIL]"),
            PHONE_PATTERN,
            "[PHONE]",
        ).alias(out_col),
        F.regexp_count(t, F.lit(EMAIL_PATTERN)).cast("bigint").alias("n_emails"),
        F.regexp_count(t, F.lit(PHONE_PATTERN)).cast("bigint").alias("n_phones"),
    )
