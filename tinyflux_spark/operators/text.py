"""Text analysis operators for training-data pipelines.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM,
whole-stage codegen) — no Python UDFs. Each operator is also expressible
in ANSI SQL so the DuckDB oracle can replicate it bit-for-bit.

Operators: token counting (whitespace + BPE-ish regex), quality scoring
(length/punct/stopword/digit ratios), language ID (character-script +
stopword n-gram heuristic), document fingerprinting (hash and min-shingle
rolling fingerprint).
"""

from __future__ import annotations

import functools
from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._spread import spread_scan

# A BPE-ish tokenization regex: runs of word chars, or single
# non-word/non-space chars (each punctuation mark its own token).
BPE_TOKEN_RE = r"\w+|[^\w\s]"

PUNCT_RE = r"[.,;:!?]"

# Distinctive stopwords per language for the latin-script heuristic.
# Word-boundary alternations keep this one regexp_count per language.
_STOPWORDS = {
    "en": ["the", "and", "is", "was", "that", "with"],
    "es": ["el", "la", "los", "las", "que", "es"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "fr": ["le", "les", "des", "est", "que", "dans"],
    "pt": ["o", "os", "uma", "que", "em", "para"],
    "it": ["il", "gli", "che", "di", "per", "sono"],
}

# Script ranges for non-latin detection (BMP blocks).
_SCRIPTS = {
    "zh": "一-鿿",
    "ja": "぀-ヿ",
    "ko": "가-힯",
    "ru": "Ѐ-ӿ",
    "ar": "؀-ۿ",
    "hi": "ऀ-ॿ",
    "th": "฀-๿",
}


def token_count(col, pattern: str = r"\s+") -> Column:
    """Whitespace token count; 0 for empty/blank/null text."""
    t = F.trim(null_to_empty(col))
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, pattern))
    )


def null_to_empty(text_col) -> Column:
    """The text column with NULL coalesced to '' — the engine-wide
    rule (null text is empty text), making every text operator total
    over real corpora, where text columns DO carry nulls. The DuckDB
    oracles replay the rule with a
    ``SELECT * REPLACE (coalesce(text, '') AS text)`` wrap."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.coalesce(c, F.lit(""))


def ws_tokens(text_col) -> Column:
    """The engine's whitespace tokenizer: NULL→'', trim, lower, split
    on ``\\s+`` (blank text yields ``[""]``). The vocabulary, LM,
    BM25, embedding and dedup word operators all tokenize with it, and
    the DuckDB oracles replay it token for token."""
    return F.split(F.lower(F.trim(null_to_empty(text_col))), r"\s+")


def _words(text_col) -> Column:
    """Case-preserving whitespace words: NULL→'', trim, split on
    ``\\s+``, and blank text yields ``[]`` — ``split("")`` yields
    ``[""]``, which would make an empty document a one-word one (and,
    say, a non-repetitive one that sails through a quality filter)."""
    t = F.trim(null_to_empty(text_col))
    return F.when(t == "", F.array().cast("array<string>")).otherwise(
        F.split(t, r"\s+")
    )


def _lm_tokens(text_col, min_token_len: int) -> Column:
    """The LM family's token array: :func:`ws_tokens` without tokens
    shorter than ``min_token_len``."""
    return F.filter(
        ws_tokens(text_col), lambda t: F.length(t) >= min_token_len
    )


def _gram_structs(k: int) -> Column:
    """Every k-gram of the ``_ws`` token array, in order, as a struct
    ``(w1, ..., wk)``; callers guard ``size(_ws) >= k``."""
    return F.transform(
        F.sequence(F.lit(1), F.size("_ws") - (k - 1)),
        lambda i: F.struct(
            *[F.element_at("_ws", i + j).alias(f"w{j + 1}") for j in range(k)]
        ),
    )


def _lm_token_arrays(
    df: DataFrame,
    id_col: str,
    text_col: str,
    ref: Optional[DataFrame],
    ref_text_col: Optional[str],
    min_token_len: int,
):
    """The LM scorers' :func:`_lm_tokens` arrays ``(doc, ref)``:
    ``doc`` is ``(id, _ws)`` over ``df``; ``ref`` is ``(_ws)`` over
    the reference corpus (``df`` when ``ref`` is None), of which only
    the text column (``ref_text_col``, default ``text_col``) is read."""
    doc_df = spread_scan(df.select(id_col, text_col), id_col)
    ref_tc = text_col if ref_text_col is None else ref_text_col
    ref_base = df if ref is None else ref
    # Tokenize BELOW the spread exchange: the token arrays cross one
    # exchange that AQE's stage cache shares across every count table,
    # so the corpus is tokenized once per plan, not once per table. For
    # that sharing to survive the optimizer, no consumer may push a
    # filter beneath the exchange: each count table's `size >= k`
    # guard is a `when()` in its OWN projection (explode drops the null
    # array — row-for-row the same as the filter), not a `where()`. On
    # wide inputs the spread is a no-op and each consumer tokenizes for
    # itself, with no added exchange.
    ref_arr = spread_scan(
        ref_base.select(_lm_tokens(ref_tc, min_token_len).alias("_ws"))
    )
    doc_arr = doc_df.select(
        F.col(id_col).alias("id"),
        _lm_tokens(text_col, min_token_len).alias("_ws"),
    )
    return doc_arr, ref_arr


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
    case: Optional[str] = None,
    collapse_ws: bool = False,
    out_col: str = "text_norm",
) -> DataFrame:
    """Unicode normalization — the curation primitive a multilingual
    corpus pipeline runs before any dedup/fingerprint pass (CCNet,
    Gopher and friends all NFC- or NFKC-normalize first, so that
    ``e + U+0301`` and precomposed ``é`` — or full-width and ASCII
    digits under NFKC — dedup together).

    ``form`` is one of NFC/NFD/NFKC/NFKD (UAX #15); ``case`` is None,
    ``'lower'`` (simple Unicode lowercase) or ``'casefold'`` (full case
    folding, ß→ss — best for matching, not display); ``collapse_ws``
    additionally trims and collapses whitespace runs (Python ``\\s``,
    which like Java's includes ``\\x0B``).

    Unicode normalization is not expressible in built-in Spark SQL
    functions, so this is a vectorized Arrow-batched pandas UDF — the
    sanctioned slow path — with an ASCII fast path: all four normal
    forms are identity on ASCII, so only non-ASCII rows (a small
    minority of a web corpus) pay the per-row ``unicodedata`` pass;
    ASCII rows stay in vectorized pandas ops. The plan stays narrow
    (one ArrowEvalPython projection, no shuffle) at any scale.

    To feed the result into the dedup family without re-normalizing,
    pass the output column AS A COLUMN: ``dedup.minhash_lsh_pairs(df2,
    "doc_id", text_col=F.col("text_norm"))`` — a ``Column`` argument
    is treated as already-normalized text and used as-is (nulls still
    coalesced), while a ``str`` keeps the engine's own
    lower/trim/collapse normalization. Use ``case='lower',
    collapse_ws=True`` to match what the dedup family would have done.

    DuckDB oracle: ``nfc_normalize()`` replays form='NFC' (q92); the
    other forms and case modes are pytest-verified against Python's
    ``unicodedata`` directly.

    Cross-engine ``lower()`` boundary (measured over the whole BMP,
    pinned by ``tests/test_plans.py::
    test_cross_engine_lower_parity_boundary``): Python/Java/DuckDB
    lowercasing agrees everywhere except U+0130 (Turkish dotted
    capital I — full mapping adds a combining dot in Python/Java, not
    utf8proc) and ~13 rare historic letters where engine Unicode
    versions differ. Real multilingual corpora sit inside the safe
    region; pipelines that must round-trip Turkish İ through a SQL
    oracle should casefold comparisons explicitly.
    """
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"form must be NFC/NFD/NFKC/NFKD, got {form!r}")
    if case not in (None, "lower", "casefold"):
        raise ValueError(f"case must be None/'lower'/'casefold', got {case!r}")

    @F.pandas_udf("string")
    def _norm(s):  # pd.Series -> pd.Series
        out = s.fillna("")
        mask = ~out.map(str.isascii)
        if mask.any():
            out = out.copy()
            out[mask] = out[mask].str.normalize(form)
        if case == "lower":
            out = out.str.lower()
        elif case == "casefold":
            out = out.str.casefold()
        if collapse_ws:
            out = out.str.replace(r"\s+", " ", regex=True).str.strip()
        return out

    return df.withColumn(out_col, _norm(null_to_empty(text_col)))


def bpe_token_count(col) -> Column:
    """BPE-ish token count: word runs + individual punctuation marks;
    0 for null text (the engine-wide null-is-empty rule)."""
    return F.size(
        F.regexp_extract_all(
            null_to_empty(col), F.lit(BPE_TOKEN_RE), F.lit(0)
        )
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append quality-scoring features used for corpus filtering."""
    c = null_to_empty(text_col)
    n_chars = F.length(c)
    n_tokens = token_count(c)
    stop_re = r"(?i)\b(the|and|is|was|of|to|in|that|it|for)\b"
    return df.select(
        "*",
        n_chars.alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        (F.regexp_count(c, F.lit(PUNCT_RE)) / F.greatest(n_chars, F.lit(1)))
        .alias("punct_ratio"),
        (F.regexp_count(c, F.lit(r"[0-9]")) / F.greatest(n_chars, F.lit(1)))
        .alias("digit_ratio"),
        (F.regexp_count(c, F.lit(r"[A-Z]")) / F.greatest(n_chars, F.lit(1)))
        .alias("upper_ratio"),
        (
            F.regexp_count(c, F.lit(stop_re))
            / F.greatest(n_tokens, F.lit(1))
        ).alias("stopword_ratio"),
        (
            (n_chars - F.regexp_count(c, F.lit(r"\s")))
            / F.greatest(n_tokens, F.lit(1))
        ).alias("mean_token_len"),
    )


def _script_count(c: Column, ranges: str) -> Column:
    return F.regexp_count(c, F.lit(f"[{ranges}]"))


def _stopword_count(c: Column, words) -> Column:
    pat = r"(?i)\b(" + "|".join(words) + r")\b"
    return F.regexp_count(c, F.lit(pat))


def lang_id(col, out_unknown: str = "und") -> Column:
    """Heuristic language ID.

    Two stages, all JVM regex: (1) character-script counts decide
    non-latin languages when >30% of chars are in a script block;
    (2) otherwise the latin-script language with the highest distinctive
    stopword count wins (fixed priority on ties). Deterministic, so the
    SQL oracle reproduces it exactly. Null text classifies as
    ``out_unknown`` by the engine-wide null-is-empty rule (explicitly,
    not by accidental null-propagation through regexp_count).
    """
    c = null_to_empty(col)
    n = F.greatest(F.length(c), F.lit(1))

    # Latin-script stopword argmax with EARLIER-declared languages
    # winning ties. Built as array_max over (count, -rank, lang) structs
    # — struct ordering compares fields left to right, so the max is
    # the highest count and, on ties, the lowest declaration index.
    # Crucially each regexp_count appears in the plan exactly once; the
    # equivalent when/otherwise fold nests every count into every later
    # branch condition, exploding the tree O(k²) and defeating
    # subexpression reuse.
    langs = list(_STOPWORDS)
    scores = F.array(
        *[
            F.struct(
                _stopword_count(c, _STOPWORDS[lang]).alias("c"),
                F.lit(-i).alias("r"),
                F.lit(lang).alias("l"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    top = F.array_max(scores)
    expr = F.when(top["c"] > 0, top["l"]).otherwise(F.lit(out_unknown))
    # Script detection overrides (checked in fixed order).
    for lang, ranges in reversed(list(_SCRIPTS.items())):
        expr = F.when(
            _script_count(c, ranges) * 10 > n * 3, F.lit(lang)
        ).otherwise(expr)
    return expr


def fingerprint(col) -> Column:
    """Stable 128-bit content fingerprint (hex md5 of normalized text).
    Null text fingerprints as the empty string (the engine-wide rule),
    so null and empty documents land in ONE duplicate group instead of
    null rows silently dropping out of dedup.

    Same str/Column contract as the dedup family: a ``str`` names a
    raw text column and is normalized (null→'', lower, trim, collapse
    whitespace); a ``Column`` is treated as already-normalized text
    (e.g. :func:`normalize_text` output) and only null-coalesced."""
    if isinstance(col, Column):
        return F.md5(F.coalesce(col, F.lit("")))
    normalized = F.regexp_replace(
        F.lower(F.trim(null_to_empty(col))), r"\s+", " "
    )
    return F.md5(normalized)


def shingle_fingerprint(df: DataFrame, id_col: str, text_col: str, n: int = 8) -> DataFrame:
    """Rolling-hash document fingerprint: minimum md5 over character
    n-gram shingles of the normalized text (winnowing-style; robust to
    local edits, unlike the whole-document hash)."""
    # Project the normalized text first: referencing the regexp inside
    # the transform lambda would re-evaluate it per sequence element.
    # Kept as the in-row (narrow, no-shuffle) formulation deliberately:
    # the per-shingle md5 dominates either way, and an A/B against an
    # explode + codegen-md5 + groupBy-min variant measured the explode
    # 15% SLOWER (row fan-out overhead, identical hash count) — unlike
    # the minhash/simhash cases where the interpreted work was the
    # arithmetic around the hash, not the hash itself.
    # md5 (not xxhash64) is LOAD-BEARING here, unlike q89's internal
    # gram fp: the fingerprint IS the operator's output, compared
    # bit-for-bit against the DuckDB oracle and stable across engines
    # and sessions — Spark's xxhash64 (XXH64, seed 42) has no DuckDB
    # replay, so swapping it would trade the hard correctness gate for
    # ~hash-cost savings. Do not.
    base = spread_scan(
        df.select(
            F.col(id_col),
            F.regexp_replace(
                F.lower(F.trim(null_to_empty(text_col))), r"\s+", " "
            ).alias("_t"),
        ),
        id_col,
    )
    c = F.col("_t")
    shingles = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
        lambda i: F.md5(c.substr(i, F.lit(n))),
    )
    return base.select(
        F.col(id_col),
        F.array_min(shingles).alias("shingle_fp"),
    )


def repetition_stats(
    df: DataFrame, id_col: str, text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition metrics.

    Training-data quality filters drop documents whose content repeats
    itself (boilerplate, keyword stuffing, scraper loops). Per document
    this computes word and word-bigram duplication fractions:

    * ``dup_word_frac``   = 1 - |distinct words| / |words|
    * ``dup_bigram_frac`` = 1 - |distinct bigrams| / |bigrams|

    Everything is a narrow per-row expression (split / array_distinct /
    transform) — no explode, no shuffle, whole-stage codegen — so the
    operator is a pure map over the corpus and scales linearly. The
    bigram list is built from a staged words column so the split runs
    once, not once per sequence element.
    """
    ws = _words(text_col)
    staged = df.select(F.col(id_col), ws.alias("_ws"))
    bigrams = F.expr(
        "CASE WHEN size(_ws) >= 2 THEN "
        "transform(sequence(1, size(_ws) - 1), "
        "i -> concat(element_at(_ws, i), ' ', element_at(_ws, i + 1))) "
        "ELSE cast(array() AS array<string>) END"
    )
    n_w = F.size("_ws")
    n_dw = F.size(F.array_distinct("_ws"))
    with_b = staged.select(
        F.col(id_col),
        n_w.alias("n_words"),
        n_dw.alias("n_distinct_words"),
        bigrams.alias("_bg"),
    )
    n_b = F.size("_bg")
    n_db = F.size(F.array_distinct("_bg"))
    frac = lambda n, d: F.when(  # noqa: E731
        d > 0, F.round(F.lit(1.0) - n.cast("double") / d.cast("double"), 6)
    ).otherwise(F.lit(0.0))
    return with_b.select(
        F.col(id_col),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_distinct_words").cast("long").alias("n_distinct_words"),
        frac(F.col("n_distinct_words"), F.col("n_words")).alias(
            "dup_word_frac"
        ),
        n_b.cast("long").alias("n_bigrams"),
        n_db.cast("long").alias("n_distinct_bigrams"),
        frac(n_db, n_b).alias("dup_bigram_frac"),
    )


# PII / boilerplate scrub patterns. Kept in the common subset of Java
# regex (Spark) and RE2 (DuckDB oracle): no backrefs, no lookaround,
# and no bare \s/\S — Java's \S excludes \x0B (vertical tab) while
# RE2's matches it, so "not whitespace" is spelled [^\s\x0B], which
# evaluates identically in both engines (in Java the extra \x0B is
# redundant; in RE2 it supplies the missing vertical tab).
SCRUB_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", r"https?://[^\s\x0B]+", "<URL>"),
    ("longnum", r"\d{6,}", "<NUM>"),
]


def scrub_text(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """PII / identifier scrubbing for training corpora: emails, URLs and
    long digit runs replaced by typed placeholder tokens.

    Returns ``(id, scrubbed, n_redactions, was_scrubbed)``. Pure
    chained ``regexp_replace`` / ``regexp_count`` expressions — narrow,
    codegen'd, no shuffle; applied in a fixed order (email before URL
    before digit-run) so counts are well-defined and engine-portable.
    """
    c = null_to_empty(text_col)
    n_red = F.lit(0)
    scrubbed = c
    for _, pat, rep in SCRUB_PATTERNS:
        n_red = n_red + F.regexp_count(scrubbed, F.lit(pat))
        scrubbed = F.regexp_replace(scrubbed, pat, rep)
    return df.select(
        F.col(id_col),
        scrubbed.alias("scrubbed"),
        n_red.cast("long").alias("n_redactions"),
        (scrubbed != c).alias("was_scrubbed"),
    )


def top_tokens(
    df: DataFrame,
    text_col: str = "text",
    k: int = 50,
    min_count: int = 1,
) -> DataFrame:
    """Corpus-wide token heavy hitters: the k most frequent whitespace
    tokens with ties broken lexicographically.

    The classic distributed wordcount: explode is a narrow map, the
    groupBy count shuffles (token, partial_count) pairs — map-side
    partial aggregation means shuffle volume is per-partition DISTINCT
    tokens, not corpus tokens. The final top-k is a TakeOrdered over the
    aggregated (vocabulary-sized) relation, never a global row sort of
    the corpus.
    """
    toks = _words(text_col)
    return (
        df.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(k)
    )


def top_tokens_by_key(
    df: DataFrame,
    group_col,
    text_col: str = "text",
    k: int = 20,
    min_count: int = 1,
) -> DataFrame:
    """Per-group token heavy hitters — the GROUP BY form of
    :func:`top_tokens` and the vocabulary row of the data card: the k
    most frequent whitespace tokens *within each group* (source,
    language, shard), ties broken lexicographically. Comparing the
    per-source lists against the corpus-level q62 list is the
    standard drift check between ingest batches.

    Plan shape: explode is a narrow map; ``groupBy(group, token)``
    partial-aggregates map-side, so shuffle volume is per-partition
    DISTINCT (group, token) pairs, never corpus tokens; the per-group
    top-k is a rank window whose filter Spark rewrites to
    Partial+Final **WindowGroupLimit** over the vocabulary-sized
    aggregate — at most k rows per group leave each map task, so a
    hot group's vocabulary never funnels through one task unbounded.
    No joins, no global sort, no driver collection.

    Returns ``(group, token, n, rank int)`` with rank 1 = most
    frequent, ordered by (group, rank).
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError("k must be >= 1")
    gc = F.col(group_col) if isinstance(group_col, str) else group_col
    toks = _words(text_col)
    counts = (
        df.where(gc.isNotNull())
        .select(gc.alias("group"), F.explode(toks).alias("token"))
        .groupBy("group", "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
    )
    ranked = counts.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("group").orderBy(
                F.col("n").desc(), F.col("token")
            )
        ),
    ).where(F.col("rank") <= k)
    return ranked.select("group", "token", "n", "rank").orderBy(
        "group", "rank"
    )


def quality_filter(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    max_punct_ratio: float = 0.10,
    max_digit_ratio: float = 0.20,
    max_dup_word_frac: float = 0.50,
    max_dup_bigram_frac: float = 0.35,
    min_mean_token_len: float = 2.0,
    max_mean_token_len: float = 12.0,
) -> DataFrame:
    """Composite Gopher-style quality gate: per-document keep/drop with
    the full list of violated rules as evidence.

    Real curation pipelines don't apply quality signals one at a time —
    they evaluate a rule set per document and keep the docs that pass
    all of it, logging WHICH rules each dropped doc violated (for
    tuning thresholds and auditing what a filter removed). Output:
    ``(id, keep, reasons)`` where ``reasons`` is the sorted array of
    violated rule names (empty ⇔ ``keep``).

    One narrow pass — every signal (token count, punctuation / digit
    ratios, mean token length, Gopher word / bigram duplication
    fractions) is a per-row codegen expression over one scan; no joins,
    no shuffle, scales linearly. Ratios are rounded to 6dp before
    threshold comparison so the decision is bit-identical across
    engines (the DuckDB oracle replays every rule).
    """
    qf = quality_features(
        df.select(F.col(id_col), F.col(text_col)), text_col
    )
    ws = _words(text_col)
    staged = qf.withColumn("_ws", ws).withColumn(
        "_bg",
        F.expr(
            "CASE WHEN size(_ws) >= 2 THEN "
            "transform(sequence(1, size(_ws) - 1), "
            "i -> concat(element_at(_ws, i), ' ', "
            "element_at(_ws, i + 1))) "
            "ELSE cast(array() AS array<string>) END"
        ),
    )
    frac = lambda n, d: F.when(  # noqa: E731
        d > 0,
        F.round(F.lit(1.0) - n.cast("double") / d.cast("double"), 6),
    ).otherwise(F.lit(0.0))
    dup_w = frac(F.size(F.array_distinct("_ws")), F.size("_ws"))
    dup_b = frac(F.size(F.array_distinct("_bg")), F.size("_bg"))
    r6 = lambda c: F.round(c, 6)  # noqa: E731
    rules = [
        ("too_few_tokens", F.col("n_tokens") < min_tokens),
        ("too_many_tokens", F.col("n_tokens") > max_tokens),
        ("punct_ratio", r6(F.col("punct_ratio")) > max_punct_ratio),
        ("digit_ratio", r6(F.col("digit_ratio")) > max_digit_ratio),
        ("dup_words", dup_w > max_dup_word_frac),
        ("dup_bigrams", dup_b > max_dup_bigram_frac),
        (
            "token_len",
            (r6(F.col("mean_token_len")) < min_mean_token_len)
            | (r6(F.col("mean_token_len")) > max_mean_token_len),
        ),
    ]
    reasons = F.array_sort(
        F.filter(
            F.array(
                *[
                    F.when(cond, F.lit(name)).cast("string")
                    for name, cond in rules
                ]
            ),
            lambda x: x.isNotNull(),
        )
    )
    return staged.select(
        F.col(id_col),
        reasons.alias("reasons"),
    ).select(
        id_col,
        (F.size("reasons") == 0).alias("keep"),
        "reasons",
    )


def pack_sequences(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    capacity: int,
    shard_col: str = "shard",
    salt: str = "pack",
) -> DataFrame:
    """Contiguous greedy sequence packing: lay documents out in
    deterministic hash order within each shard, concatenate, and cut at
    ``capacity``-token boundaries — each doc's pack is
    ``floor(start_offset / capacity)``.

    Adds ``pack`` (pack index within the shard) and ``pack_offset``
    (the doc's start offset inside its pack). This is the streaming
    "concat-and-chunk" packing used to build fixed-length training
    sequences; a doc longer than ``capacity`` starts in its pack and
    spills into the next (real pipelines truncate or split it — that
    decision stays with the caller, the offsets make it computable).

    Scale design: one window per shard — ``partitionBy(shard)`` with a
    deterministic ``(md5(salt:id), id)`` order, so the sort distributes
    across shards and no task ever sees more than one shard
    (shards-per-corpus is the parallelism knob; 100 TB / 10k shards =
    10 GB sorts). The hash order doubles as the corpus shuffle that
    training-data layouts need — adjacent source documents land in
    different packs.
    """
    from pyspark.sql import Window

    if capacity <= 0:
        raise ValueError("capacity must be positive")
    order_key = F.md5(
        F.concat(F.lit(salt + ":"), F.col(id_col).cast("string"))
    )
    w = (
        Window.partitionBy(shard_col)
        .orderBy(order_key, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tok = F.col(tokens_col).cast("long")
    start = (F.sum(tok).over(w) - tok).alias("_start")
    staged = df.withColumn("_start", start)
    return (
        staged.withColumn(
            "pack", F.floor(F.col("_start") / capacity).cast("long")
        )
        .withColumn(
            "pack_offset", (F.col("_start") % capacity).cast("long")
        )
        .drop("_start")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    chunk_words: int = 100,
    overlap: int = 20,
) -> DataFrame:
    """Split documents into overlapping word-window chunks (the standard
    pre-embedding/pretokenization step).

    Chunk i covers words [1 + i*stride, 1 + i*stride + chunk_words) with
    stride = chunk_words - overlap; the last chunk may be short. Output
    ``(id, chunk_idx, n_chunk_words, chunk_text)``.

    Physical shape: split once per document, chunk starts via
    ``sequence(1, n_words, stride)``, chunk text via ``slice`` +
    ``array_join`` inside a ``transform`` — all computed BEFORE the
    explode so the per-document work is one narrow expression; the
    explode fan-out is bounded by each document's own length. No shuffle.
    """
    if overlap >= chunk_words:
        raise ValueError("chunk_documents: overlap must be < chunk_words")
    stride = chunk_words - overlap
    ws = _words(text_col)
    staged = df.select(F.col(id_col), ws.alias("_ws"))
    chunks = F.expr(
        f"CASE WHEN size(_ws) = 0 THEN "
        f"cast(array() AS array<struct<i:int,words:array<string>>>) "
        f"ELSE transform(sequence(1, size(_ws), {stride}), "
        f"(s, i) -> struct(i AS i, slice(_ws, s, {chunk_words}) AS words)) "
        f"END"
    )
    return (
        staged.select(F.col(id_col), F.explode(chunks).alias("_c"))
        .select(
            F.col(id_col),
            F.col("_c.i").cast("long").alias("chunk_idx"),
            F.size("_c.words").cast("long").alias("n_chunk_words"),
            F.array_join("_c.words", " ").alias("chunk_text"),
        )
    )


def bm25_scores(
    df: DataFrame,
    query_terms,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 relevance of every document against a bag of query terms:
    ``(id, n_matched_terms, score)``; zero-match documents are absent
    (the result is a ranking candidate set, like contamination_hits).

    Uses the standard Robertson/Sparck-Jones formulation with the
    +1-smoothed idf: idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)).

    Scale shape: the query-term IN-filter applies at the token explode —
    only matching (doc, term) rows ever reach a shuffle, so the corpus
    cost is one tokenize pass regardless of |query|. Corpus statistics
    (N, avgdl) are a one-row aggregate and per-term document
    frequencies are |query|-row aggregates; both broadcast back. No
    collect(), no corpus-wide wide rows.
    """
    terms = [t.lower() for t in query_terms]
    toks = ws_tokens(text_col)
    base = df.select(
        F.col(id_col).alias("id"), F.size(toks).alias("dl"),
        toks.alias("_toks"),
    )
    # one-row corpus stats; broadcast to every downstream row
    stats = base.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        base.select("id", "dl", F.explode("_toks").alias("term"))
        .where(F.col("term").isin(terms))
        .groupBy("id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(
        F.countDistinct("id").alias("term_df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("term_df") + 0.5)
        / (F.col("term_df") + 0.5)
    )
    contrib = idf * (
        F.col("tf") * (k1 + 1)
        / (
            F.col("tf")
            + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("id")
        .agg(
            F.count("*").alias("n_matched_terms"),
            F.sum(contrib).alias("score"),
        )
    )


def corpus_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_cols=("lang", "source"),
) -> DataFrame:
    """Per-group corpus data card: the summary table every curation run
    publishes alongside the dataset. One aggregation pass computes, per
    group: document count, token totals, mean/median tokens per doc,
    character volume, and the exact-duplicate rate (1 - distinct
    normalized fingerprints / docs).

    Scale shape: a single groupBy on low-cardinality keys with all-
    codegen aggregates; the distinct-fingerprint count is Spark's
    partial-distinct aggregation (no second shuffle of raw text — only
    md5s travel). The median is exact (ints interpolate to .5 at worst,
    both representable), not a sketch, because a data card is a
    publishable artifact.
    """
    toks = ws_tokens(text_col)
    t = F.trim(null_to_empty(text_col))
    n_tokens = F.when(t == "", F.lit(0)).otherwise(F.size(toks))
    base = df.select(
        *[F.col(c) for c in group_cols],
        F.col(id_col).alias("id"),
        n_tokens.alias("n_tokens"),
        F.length(null_to_empty(text_col)).alias("n_chars"),
        F.md5(
            F.regexp_replace(F.lower(t), r"\s+", " ")
        ).alias("fp"),
    )
    return base.groupBy(*group_cols).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("n_tokens"), 6).alias("mean_tokens"),
        F.percentile("n_tokens", 0.5).alias("median_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("fp").alias("distinct_docs"),
        F.round(
            1 - F.countDistinct("fp") / F.count("*"), 6
        ).alias("exact_dup_rate"),
    )


def remove_boilerplate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    delimiter: str = r"\s+",
    joiner: str = " ",
    min_doc_frac: float = 0.5,
    min_span_chars: int = 1,
) -> DataFrame:
    """Corpus-level boilerplate removal, the C4 cleanup rule: split
    every document into spans (lines by default in C4; any regex
    delimiter here), measure each span's document frequency across the
    corpus, and delete spans that occur in at least ``min_doc_frac`` of
    all documents (nav bars, cookie banners, license footers — or, at
    token granularity, a corpus-driven stopword cut for index builds).

    Two passes, like every production implementation:

    1. *Count*: explode spans, aggregate document frequency per span
       **fingerprint** — only (md5, doc_id) pairs reach the shuffle,
       never span text. The total-document count is a one-row aggregate
       cross-joined in (bounded build side by construction).
    2. *Rewrite*: re-explode, left-anti mark against the broadcast hot
       set (boilerplate is small by definition — spans above a 10%+
       document frequency number in the thousands, not billions), and
       regroup by document, restoring span order via the explode
       position. The regroup is the single corpus-text shuffle; at
       100 TB persist the exploded span table between the passes
       instead of recomputing the split.

    Spans shorter than ``min_span_chars`` after trimming (e.g. empty
    lines) are never counted as boilerplate and are always kept.

    Returns one row per input document: ``id``, ``clean_text`` (spans
    rejoined with ``joiner``), ``n_removed``, ``n_kept``.
    """
    # Measured, deliberately NOT spread (r12): widening the (id, text)
    # projection ahead of the split+md5 regressed the bench 1.32 ->
    # 2.40 s — the added exchange ahead of the span regroup (this op's
    # one corpus-text shuffle) costs more than the widened split saves.
    spans = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(null_to_empty(text_col), delimiter)).alias(
            "pos", "span"
        ),
    ).withColumn("fp", F.md5("span"))

    n_docs = spans.agg(F.countDistinct("id").alias("_n_total"))
    dfreq = (
        spans.where(F.length(F.trim("span")) >= min_span_chars)
        .groupBy("fp")
        .agg(F.countDistinct("id").alias("_df"))
    )
    hot = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .where(F.col("_df") >= F.col("_n_total") * min_doc_frac)
        .select("fp", F.lit(True).alias("_hot"))
    )

    flagged = spans.join(F.broadcast(hot), "fp", "left")
    keep = F.col("_hot").isNull()
    ordered = F.array_sort(
        F.collect_list(F.when(keep, F.struct("pos", "span")))
    )
    return flagged.groupBy("id").agg(
        F.concat_ws(
            joiner, F.transform(ordered, lambda x: x["span"])
        ).alias("clean_text"),
        F.coalesce(
            F.sum(F.when(~keep, F.lit(1))), F.lit(0)
        ).cast("long").alias("n_removed"),
        F.count(F.when(keep, F.lit(1))).alias("n_kept"),
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_token_len: int = 1,
) -> DataFrame:
    """CCNet-style language-model quality signal: score every document
    by its average per-token unigram log-probability under the corpus's
    own unigram distribution. Gibberish and boilerplate-free natural
    text separate cleanly on this score, which is the cheap stand-in
    for the KenLM perplexity filter in web-corpus pipelines (documents
    are then bucketed head/middle/tail by score).

    Plan shape: one token-count aggregation builds the vocabulary (the
    only shuffle of token strings), the one-row total cross-joins in
    (bounded build by construction), and the scored join broadcasts the
    vocabulary back onto the exploded tokens — web-scale vocabularies
    up to ~10M terms broadcast fine; beyond that Spark falls back to a
    shuffle join on the token key.

    Determinism: a float sum over a document's tokens is
    order-sensitive in the last ulp and partial aggregation makes the
    order nondeterministic (the ``decimal_sum`` class of bug), so each
    token's log-probability is quantized to DECIMAL(20,12) in the
    vocabulary first — the per-document sum is then exact and
    order-independent, and the oracle replays it bit-for-bit.

    Returns one row per document that has at least one token of
    ``min_token_len``+ chars: ``id``, ``n_tokens``, ``avg_logp``.
    """
    src = spread_scan(df.select(id_col, text_col), id_col)
    toks = src.select(
        F.col(id_col).alias("id"),
        F.explode(ws_tokens(text_col)).alias("tok"),
    ).where(F.length("tok") >= min_token_len)

    vocab = toks.groupBy("tok").agg(F.count("*").alias("_cnt"))
    total = vocab.agg(F.sum("_cnt").alias("_total"))
    vq = vocab.crossJoin(F.broadcast(total)).select(
        "tok",
        F.log(F.col("_cnt") / F.col("_total"))
        .cast("decimal(20,12)")
        .alias("_lp"),
    )
    return toks.join(F.broadcast(vq), "tok").groupBy("id").agg(
        F.count("*").alias("n_tokens"),
        (F.sum("_lp").cast("double") / F.count("*")).alias("avg_logp"),
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref: DataFrame = None,
    ref_text_col: str = None,
    alpha: float = 0.4,
    min_token_len: int = 1,
) -> DataFrame:
    """Bigram Stupid-Backoff LM score (Brants et al. 2007, "Large
    Language Models in Machine Translation") — the step up from
    :func:`unigram_logprob` toward the CCNet KenLM filter: each
    document is scored by the average log-probability of its token
    bigrams under a reference corpus's bigram counts, backing off to
    ``alpha`` x the unigram probability when the bigram is unseen and
    to ``alpha / total_tokens`` when even the second token is
    out-of-vocabulary.

    score(w2 | w1) = c(w1 w2) / c(w1)         if the bigram is in ref
                   = alpha * c(w2) / total    elif w2 is in ref
                   = alpha * 1 / total        else (OOV floor)

    ``ref`` defaults to ``df`` (self-scoring, like unigram_logprob);
    pass a held-out or filtered corpus (e.g. the English slice) to make
    the backoff paths meaningful. Only the text column is read from
    ``ref`` — it needs no id column, and ``ref_text_col`` (default:
    ``text_col``) names its text column when the schemas differ.
    Repetitive/boilerplate text scores high, cross-lingual and
    gibberish text falls to the backoff/OOV floor, and
    ``backoff_frac`` itself is a usable quality signal.

    This is :func:`ngram_backoff_logprob` at ``order=2`` without
    pruning; plan shape and determinism are documented there.

    Returns one row per document with >= 2 kept tokens: ``id``,
    ``n_bigrams``, ``avg_logp``, ``backoff_frac`` (fraction of bigrams
    that missed the bigram table, 6dp). Degenerate case: a reference
    corpus with an empty vocabulary has no distribution to score under
    — ``avg_logp`` comes back null (the lazy plan cannot raise without
    forcing an action on ``ref``).
    """
    return ngram_backoff_logprob(
        df, id_col, text_col, ref, ref_text_col,
        order=2, alpha=alpha, prune_min_count=1,
        min_token_len=min_token_len,
    ).withColumnRenamed("n_ngrams", "n_bigrams").drop("oov_frac")


def trigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref: DataFrame = None,
    ref_text_col: str = None,
    alpha: float = 0.4,
    min_token_len: int = 1,
) -> DataFrame:
    """Trigram Stupid-Backoff LM score (Brants et al. 2007) — the next
    step up the CCNet ladder from :func:`bigram_logprob` (production
    web filters use 5-gram KenLM; order 3 is where context effects
    appear while counts stay estimable from modest reference corpora).

    score(w3 | w1 w2) = c(w1 w2 w3) / c(w1 w2)   if the trigram is in ref
                      = a   * c(w2 w3) / c(w2)   elif the (w2,w3) bigram is
                      = a^2 * c(w3) / total      elif w3 is in ref
                      = a^2 * 1 / total          else (OOV floor)

    with a = ``alpha`` (no normalization — Stupid Backoff's "score",
    not a probability, which is the point: it needs only count tables
    and equi-joins). Same reference-corpus contract as bigram_logprob:
    only the text column is read from ``ref`` (``ref_text_col`` names
    it); empty reference vocabulary → null ``avg_logp``.

    This is :func:`ngram_backoff_logprob` at ``order=3`` without
    pruning; plan shape and determinism (``a^2`` is one Python
    literal shared with the oracle) are documented there.

    Returns one row per document with >= 3 kept tokens: ``id``,
    ``n_trigrams``, ``avg_logp``, ``backoff_frac`` (fraction of
    positions that missed the trigram table — any backoff level, the
    bigram-family convention), ``oov_frac`` (fraction that fell past
    the bigram table too: unigram or floor — the stronger
    out-of-domain signal).
    """
    return ngram_backoff_logprob(
        df, id_col, text_col, ref, ref_text_col,
        order=3, alpha=alpha, prune_min_count=1,
        min_token_len=min_token_len,
    ).withColumnRenamed("n_ngrams", "n_trigrams")


def perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    quant: int = 1000,
) -> DataFrame:
    """CCNet-style head/middle/tail LM-quality bucketing (Wenzek et
    al. 2020, arXiv:1911.00359): every document is scored by its
    average unigram log-probability (the KenLM-perplexity stand-in,
    see :func:`unigram_logprob`) and the corpus is split into ``k``
    equal-mass buckets — bucket 0 = head (best LM fit), ``k-1`` =
    tail. CCNet keeps head+middle and drops tail for pretraining.

    Scale design: the naive ``ntile(k) OVER (ORDER BY score)`` is a
    global sort with one task holding the corpus. Here the score is
    first quantized to a bounded integer domain — ``floor(score *
    quant)``; floor, not round, because round's half-up vs half-even
    mode differs across engines on doubles while floor cannot — then
    the cumulative window runs over the score HISTOGRAM (the
    value_deciles pattern: |distinct quantized scores| rows, never
    |corpus| rows), and documents join their bucket back via a
    broadcast of that map. Equal quantized scores share a bucket
    (value-based bucketing), so reruns and repartitionings cannot
    split ties nondeterministically.

    Returns one row per document with ≥1 token:
    ``(id, n_tokens, avg_logp, ppl_bucket)``.
    """
    from pyspark.sql import Window

    if k < 2:
        raise ValueError("k must be >= 2")
    if quant < 1:
        raise ValueError("quant must be >= 1")
    scored = unigram_logprob(df, id_col, text_col)
    s = scored.select(
        "id",
        "n_tokens",
        "avg_logp",
        F.floor(F.col("avg_logp") * quant).cast("long").alias("_q"),
    )
    hist = s.groupBy("_q").agg(F.count("*").alias("_c"))
    w_cum = Window.orderBy(F.desc("_q")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.partitionBy(F.lit(1))
    buckets = hist.select(
        "_q",
        F.least(
            F.lit(k - 1),
            F.floor(
                F.lit(k)
                * F.coalesce(F.sum("_c").over(w_cum), F.lit(0))
                / F.sum("_c").over(w_all)
            ),
        )
        .cast("int")
        .alias("ppl_bucket"),
    )
    return s.join(F.broadcast(buckets), "_q").select(
        "id", "n_tokens", "avg_logp", "ppl_bucket"
    )


def kneser_ney_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref: DataFrame = None,
    ref_text_col: str = None,
    discount: float = 0.75,
    min_token_len: int = 1,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM score (Kneser & Ney 1995;
    Chen & Goodman 1999's interpolated variant) — the other classic
    smoothing next to the Stupid-Backoff ladder (q85/q91/q94), and
    the one KenLM itself implements. Absolute discounting frees mass
    from seen bigrams; the freed mass is spread over the CONTINUATION
    probability (how many distinct contexts a word follows — "Francisco"
    is frequent but follows only "San", so its continuation probability
    is tiny):

        p(w2|w1) = max(c(w1 w2) - d, 0) / c(w1)
                   + (d * N1+(w1, .) / c(w1)) * pc(w2)   if c(w1) > 0
                 = pc(w2)                                 otherwise

        pc(w2)   = (N1+(. , w2) + 1) / (B + V)

    where c(w1) counts w1 as a bigram CONTEXT, N1+(w1, .) / N1+(. , w2)
    are distinct-successor / distinct-predecessor counts, B = distinct
    bigram types, V = vocabulary size. The +1/+V on the continuation
    distribution is add-one smoothing so out-of-vocabulary words take
    the uniform 1/(B + V) floor and the score is total (standard KN
    leaves pc(OOV) = 0, which a corpus scorer cannot log()).

    Same conventions as bigram_logprob: ``ref`` defaults to ``df``
    (self-scoring), only the text column is read from ``ref``,
    per-bigram log-probs are quantized DECIMAL(20,12) before the
    per-document sum (order-independent, oracle replays bit-for-bit),
    and the float expression is spelled in one fixed op order in both
    engines. Plan shape: the bigram aggregation (one token shuffle)
    feeds three bounded derived tables (context stats by w1,
    continuation counts by w2, a 1-row (B, V) total); doc bigrams
    left-join each — all linear, broadcast while small.

    Returns one row per document with >= 2 kept tokens: ``id``,
    ``n_bigrams``, ``avg_logp``, ``unseen_ctx_frac`` (fraction of
    bigrams whose context never appeared in ref, 6dp). Degenerate: an
    empty reference vocabulary yields null ``avg_logp`` (B + V = 0 has
    no distribution; the lazy plan cannot raise without forcing an
    action on ``ref``).
    """
    if not 0.0 < discount < 1.0:
        raise ValueError("discount must be in (0, 1)")
    d = float(discount)
    doc_arr, ref_arr = _lm_token_arrays(
        df, id_col, text_col, ref, ref_text_col, min_token_len
    )
    bigram_structs = _gram_structs(2)
    big = (
        ref_arr.select(
            F.explode(
                F.when(F.size("_ws") >= 2, bigram_structs)
            ).alias("b")
        )
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("_c2"))
    )
    # context stats: c(w1) as a context + distinct-successor count
    ctx = big.groupBy("w1").agg(
        F.sum("_c2").alias("_c1"), F.count("*").alias("_n1f")
    )
    # continuation counts: distinct predecessors of w2
    contw = big.groupBy("w2").agg(F.count("*").alias("_n1p"))
    vocab = ref_arr.select(F.explode("_ws").alias("tok")).agg(
        F.count_distinct("tok").alias("_v")
    )
    totals = big.agg(F.count("*").alias("_b")).crossJoin(
        F.broadcast(vocab)
    )

    doc_big = (
        doc_arr.where(F.size("_ws") >= 2)
        .select("id", F.explode(bigram_structs).alias("b"))
        .select("id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    # one fixed IEEE op order, spelled identically in the SQL oracle:
    #   pc     = (n1p + 1) / (B + V)
    #   seen   = greatest(c2 - d, 0.0)/c1 + ((d * n1f)/c1) * pc
    #   unseen = pc
    bv = F.col("_b") + F.col("_v")
    pc = F.when(
        bv > 0, (F.coalesce("_n1p", F.lit(0)) + F.lit(1)) / bv
    )
    seen = (
        F.greatest(F.coalesce("_c2", F.lit(0)) - F.lit(d), F.lit(0.0))
        / F.col("_c1")
        + ((F.lit(d) * F.col("_n1f")) / F.col("_c1")) * pc
    )
    p = F.when(F.col("_c1").isNotNull(), seen).otherwise(pc)
    scored = (
        doc_big.join(big, ["w1", "w2"], "left")
        .join(ctx, "w1", "left")
        .join(contw, "w2", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "id",
            F.log(p).cast("decimal(20,12)").alias("_lp"),
            F.col("_c1").isNull().cast("int").alias("_noctx"),
        )
    )
    return scored.groupBy("id").agg(
        F.count("*").alias("n_bigrams"),
        (F.sum("_lp").cast("double") / F.count("*")).alias("avg_logp"),
        F.round(F.sum("_noctx") / F.count("*"), 6).alias(
            "unseen_ctx_frac"
        ),
    )


def ngram_backoff_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ref: DataFrame = None,
    ref_text_col: str = None,
    order: int = 5,
    alpha: float = 0.4,
    prune_min_count: int = 1,
    min_token_len: int = 1,
) -> DataFrame:
    """Order-N Stupid-Backoff LM with count pruning — the web-scale
    production configuration (Brants et al. 2007 built Google's
    5-gram MT LM exactly this way: Stupid Backoff instead of KN
    because it needs only count tables, plus a count cutoff so the
    high-order tables fit). Generalizes the q85/q91/q94 ladder to any
    order; ``order=5`` is the CCNet-adjacent production depth, and
    :func:`bigram_logprob` / :func:`trigram_logprob` are its unpruned
    orders 2 and 3.

    score(w_i | w_{i-N+1..i-1}) walks k = N..2:
        c_k(last k tokens) / c_{k-1}(its context)  at the first k
        whose (pruned) k-gram table holds the gram, scaled by
        alpha^(N-k); else alpha^(N-1) * c_1(w_i)/total; else the
        alpha^(N-1)/total OOV floor.

    Count pruning: every table of order >= 2 drops rows with count <
    ``prune_min_count`` (unigrams and the total stay unpruned so the
    floor semantics are unchanged). A pruned gram scores exactly as
    an unseen one — backoff. Joins stay total under pruning because a
    k-gram's context count always >= the k-gram's own count, so one
    shared threshold can never orphan a surviving numerator.

    Determinism: alpha powers are computed ONCE in Python by repeated
    multiplication and shipped to both engines as literals (a shared
    IEEE product chain, not re-derived per engine); each branch's
    ln() over IEEE-exact count ratios is quantized to DECIMAL(20,12)
    before the per-document sum — exact, order-independent, replayed
    bit-for-bit by the SQL oracle (the q85/q91/q94 convention).

    Plan shape: N count aggregations over the reference explode
    (token-string shuffles with map-side partial aggregation, all
    linear in corpus size; pruning shrinks every table it feeds
    downstream — at web scale the cutoff is what makes the 5-gram
    table materializable at all), then the document N-gram positions
    left-join the N conditional tables — equi-joins that broadcast
    while small and shuffle at scale.

    Returns one row per document with >= ``order`` kept tokens:
    ``(id, n_ngrams, avg_logp, backoff_frac, oov_frac)`` —
    backoff_frac = fraction of positions that missed the top-order
    table (any backoff depth), oov_frac = fraction that fell past the
    bigram table too (unigram or floor), the family convention.
    """
    if order < 2:
        raise ValueError("order must be >= 2 (unigram_logprob is order 1)")
    if not 0.0 < alpha <= 1.0:
        raise ValueError("alpha must be in (0, 1]")
    if prune_min_count < 1:
        raise ValueError("prune_min_count must be >= 1")
    # alpha^j by repeated multiplication — the oracle embeds the same
    # chain's literals, so both engines share one IEEE product
    a_pow = [1.0]
    for _ in range(order - 1):
        a_pow.append(a_pow[-1] * alpha)
    doc_arr, ref_arr = _lm_token_arrays(
        df, id_col, text_col, ref, ref_text_col, min_token_len
    )

    def count_table(k: int) -> DataFrame:
        cols = [f"w{j + 1}" for j in range(k)]
        if k == 1:
            g = ref_arr.select(F.explode("_ws").alias("w1"))
        else:
            g = ref_arr.select(
                F.explode(
                    F.when(F.size("_ws") >= k, _gram_structs(k))
                ).alias("g")
            ).select(*[F.col(f"g.{c}") for c in cols])
        out = g.groupBy(*cols).agg(F.count("*").alias(f"_c{k}"))
        if k >= 2 and prune_min_count > 1:
            out = out.where(F.col(f"_c{k}") >= prune_min_count)
        return out

    counts = {k: count_table(k) for k in range(1, order + 1)}
    total = counts[1].agg(F.sum("_c1").alias("_total"))

    # Level-k conditional table, keyed on the LAST k positions of the
    # document N-gram (w{order-k+1}..w{order}); each branch's alpha
    # scaling and DECIMAL quantization happen at build time.
    def cond_table(k: int) -> DataFrame:
        ctx_cols = [f"w{j + 1}" for j in range(k - 1)]
        t = counts[k].join(
            counts[k - 1].select(
                *ctx_cols, F.col(f"_c{k - 1}").alias("_ctx")
            ),
            ctx_cols,
        )
        ratio = F.col(f"_c{k}") / F.col("_ctx")
        scaled = (
            ratio if k == order else F.lit(a_pow[order - k]) * ratio
        )
        shift = order - k
        return t.select(
            *[
                F.col(f"w{j + 1}").alias(f"w{j + 1 + shift}")
                for j in range(k)
            ],
            F.log(scaled).cast("decimal(20,12)").alias(f"_lp{k}"),
        )

    conds = {k: cond_table(k) for k in range(2, order + 1)}
    uni_back = counts[1].crossJoin(F.broadcast(total)).select(
        F.col("w1").alias(f"w{order}"),
        F.log(F.lit(a_pow[order - 1]) * (F.col("_c1") / F.col("_total")))
        .cast("decimal(20,12)")
        .alias("_lp1"),
    )

    doc_cols = [f"w{j + 1}" for j in range(order)]
    doc_ng = (
        doc_arr.where(F.size("_ws") >= order)
        .select("id", F.explode(_gram_structs(order)).alias("g"))
        .select("id", *[F.col(f"g.{c}") for c in doc_cols])
    )
    joined = doc_ng
    for k in range(order, 1, -1):
        joined = joined.join(conds[k], doc_cols[order - k:], "left")
    joined = joined.join(uni_back, [doc_cols[-1]], "left").crossJoin(
        F.broadcast(total)
    )
    lps = [f"_lp{k}" for k in range(order, 0, -1)]
    floor = F.log(F.lit(a_pow[order - 1]) / F.col("_total")).cast(
        "decimal(20,12)"
    )
    scored = joined.select(
        "id",
        F.coalesce(*lps, floor).alias("_lp"),
        F.col(f"_lp{order}").isNull().cast("int").alias("_missN"),
        functools.reduce(
            lambda a, b: a & b,
            [F.col(f"_lp{k}").isNull() for k in range(2, order + 1)],
        )
        .cast("int")
        .alias("_oov"),
    )
    return scored.groupBy("id").agg(
        F.count("*").alias("n_ngrams"),
        (F.sum("_lp").cast("double") / F.count("*")).alias("avg_logp"),
        F.round(F.sum("_missN") / F.count("*"), 6).alias("backoff_frac"),
        F.round(F.sum("_oov") / F.count("*"), 6).alias("oov_frac"),
    )


def embed_bow(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 64,
    salt: str = "bow",
    min_token_len: int = 1,
) -> DataFrame:
    """Hashed signed bag-of-words document embedding (the feature-
    hashing / SimHash-style construction: Weinberger et al. 2009):
    every token lands in an md5 bucket ``j in [0, dim)`` with a +/-1
    md5 sign, and ``vec[j]`` is the signed token count. The cheap,
    deterministic, engine-replayable text→vector bridge: documents
    with similar token multisets get high cosine, so the vector
    family (cosine_topk, semantic_dedup, SRP-LSH) works on corpora
    that ship no embedding column at all. A learned encoder slots in
    by swapping this column — every downstream operator is unchanged.

    Plan shape: one token explode → one (id, bucket) aggregation
    (map-side combined, at most ``dim`` rows per doc) → one bounded
    ``collect_list`` per doc re-assembled into a dense array. All
    integer arithmetic until the final cast, so the vector is exact
    in both engines; no UDFs.

    Returns ``(id, embedding array<double>)``; docs with zero kept
    tokens get the all-zero vector (zero-norm, which the similarity
    family already treats as "no direction": null cosine / -2.0
    sentinel).
    """
    if dim < 2:
        raise ValueError("dim must be >= 2")
    src = spread_scan(df.select(id_col, text_col), id_col)
    toks = src.select(
        F.col(id_col).alias("id"),
        F.explode(ws_tokens(text_col)).alias("tok"),
    ).where(F.length("tok") >= min_token_len)
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + ":"), F.col("tok"))), 1, 8
            ),
            16,
            10,
        )
        .cast("long")
        % dim
    )
    sign = F.when(
        F.substring(
            F.md5(F.concat(F.lit("sgn:" + salt + ":"), F.col("tok"))),
            1,
            1,
        )
        < F.lit("8"),
        F.lit(1),
    ).otherwise(F.lit(-1))
    sums = (
        toks.select("id", bucket.alias("_j"), sign.alias("_s"))
        .groupBy("id", "_j")
        .agg(F.sum("_s").alias("_v"))
    )
    packed = sums.groupBy("id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("_j", "_v"))
        ).alias("_m")
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: F.coalesce(
            F.element_at("_m", j.cast("long")), F.lit(0)
        ).cast("double"),
    )
    dense = packed.select("id", vec.alias("embedding"))
    # zero-token docs are absent from `sums` — re-attach with the
    # documented all-zero vector so the operator is total over df
    zero = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)), lambda j: F.lit(0.0)
    )
    return (
        df.select(F.col(id_col).alias("id"))
        .join(dense, "id", "left")
        .select(
            "id",
            F.coalesce("embedding", zero).alias("embedding"),
        )
    )
