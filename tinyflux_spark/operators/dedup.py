"""Deduplication operators for large-scale corpus curation.

Five families, all pure DataFrame compositions (no Python in the hot
path), each designed around its shuffle profile at 100 TB:

* exact            — hash-groupBy on a normalized fingerprint; one
                     shuffle on a high-entropy key (no skew).
* ngram-jaccard    — shingle explode → inverted-index self-join →
                     per-pair intersection counts. Hot shingles are the
                     skew hazard: ``max_shingle_freq`` drops
                     stop-shingles (standard df-cut), bounding join
                     fan-out.
* MinHash + LSH    — k md5-derived min-hashes per doc, banded into
                     b groups of r; candidate pairs only need equality
                     joins on (band, signature) — the classic
                     sub-quadratic path; optional exact-Jaccard verify.
* SimHash          — 64-bit (xxhash64) or 32-bit (md5, oracle-friendly)
                     near-dup bit signature; hamming-ball lookup via
                     band rotation.
* embedding cosine — see operators/similarity.py (near_dup_pairs).

MinHash hashing is md5-based (not xxhash) deliberately: md5 exists in
every engine, so the whole pipeline stays oracle-checkable; the hash
cost is one pass over shingles either way.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._spread import spread_scan
from .text import fingerprint, null_to_empty, ws_tokens


def _txt(text_col) -> Column:
    """The text expression (str name or Column) projected under the
    fixed alias ``_txt`` — the dedup family accepts either, and the
    spread projections need one stable column name downstream."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return c.alias("_txt")


def _norm_text(text_col) -> Column:
    """Normalized text for fingerprinting/shingling.

    A ``str`` names a raw text column and gets the engine's standard
    normalization (null→'', lower, trim, collapse whitespace). A
    ``Column`` is treated as ALREADY-normalized text (e.g. the output
    of :func:`~tinyflux_spark.operators.text.normalize_text` with
    ``case='lower', collapse_ws=True``) and is used as-is apart from
    null coalescing — every operator in this module accepts either."""
    if isinstance(text_col, Column):
        return F.coalesce(text_col, F.lit(""))
    return F.regexp_replace(F.lower(F.trim(null_to_empty(text_col))), r"\s+", " ")


def _norm_words(text_col) -> Column:
    """Token array of normalized text — same str/Column contract as
    :func:`_norm_text`; the str path is the engine's whitespace
    tokenizer, :func:`~tinyflux_spark.operators.text.ws_tokens` (split
    of lowered text, no collapse pass)."""
    if isinstance(text_col, Column):
        return F.split(F.trim(F.coalesce(text_col, F.lit(""))), r"\s+")
    return ws_tokens(text_col)


def exact_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    keep: str = "min",
) -> DataFrame:
    """One representative row id per distinct normalized text.

    Returns (fingerprint, keep_id, n_dups). groupBy on md5 — uniform
    key distribution, AQE-safe at any scale.
    """
    agg_id = F.min(id_col) if keep == "min" else F.max(id_col)
    return (
        df.select(fingerprint(text_col).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(agg_id.alias("keep_id"), F.count("*").alias("n_dups"))
    )


def char_shingles(text_col: str, n: int = 3) -> Column:
    """Distinct character n-gram shingles of normalized text."""
    c = _norm_text(text_col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1))),
            lambda i: c.substr(i, F.lit(n)),
        )
    )


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of normalized text.

    The default shingle unit for near-dup detection: word n-grams have
    orders-of-magnitude higher entropy than character n-grams (which on
    natural text concentrate on a few hundred hot trigrams whose
    inverted-index fan-out is quadratic in corpus size). Word shingling
    is the standard unit in large-corpus dedup pipelines (C4 / GPT-3
    style 13-gram dedup uses the same construction).
    """
    w = F.split(F.trim(_norm_text(text_col)), r"\s+")
    k = F.greatest(F.size(w) - (n - 1), F.lit(1))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.concat_ws(" ", F.slice(w, i, n)),
        )
    )


def exploded_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    unit: str = "word",
    distinct: bool = True,
) -> DataFrame:
    """(id, shingle) rows — the shared base of the dedup family.

    For word shingles this is posexplode + ``lead()`` over a per-doc
    window: every step is whole-stage-codegen'd, unlike the
    array-lambda formulation (higher-order functions are interpreted —
    ~3x slower measured). The token array is projected ONCE before the
    explode: referencing the split twice in the Generate projection
    (e.g. size(split(..)) next to posexplode(split(..))) defeats
    subexpression elimination and re-runs the regex split per output
    row — measured 8× slower on the documents table. The token count
    rides along as a scalar, so no second window pass is needed.

    ``distinct=False`` skips the set-dedup aggregate for consumers with
    multiset-invariant semantics (min-hash: min over a multiset equals
    min over its set) — one fewer aggregate over the widest relation in
    the pipeline.
    """
    from pyspark.sql import Window

    if unit == "word":
        # split on \s+ directly: pre-collapsing runs of whitespace with
        # regexp_replace (what _norm_text does for char shingles) yields
        # the IDENTICAL token array and costs a second regex pass over
        # every document.
        pre = spread_scan(
            df.select(F.col(id_col).alias("id"), _txt(text_col)), "id"
        ).select("id", _norm_words("_txt").alias("_arr"))
        toks = pre.select(
            "id",
            F.size("_arr").alias("_ntok"),
            F.posexplode("_arr").alias("_pos", "_tok"),
        )
        w = Window.partitionBy("id").orderBy("_pos")
        shingle = F.concat_ws(
            " ",
            F.col("_tok"),
            *[F.lead("_tok", j).over(w) for j in range(1, n)],
        )
        out = (
            toks.select(
                "id",
                "_pos",
                shingle.alias("shingle"),
                "_ntok",
            )
            .where(F.col("_pos") <= F.greatest(F.col("_ntok") - n, F.lit(0)))
            .select("id", "shingle")
        )
        return out.distinct() if distinct else out
    # char unit: per-row substr transform over the projected normalized
    # text (cheap per element; the normalization is evaluated once).
    base = spread_scan(
        df.select(F.col(id_col).alias("id"), _txt(text_col)), "id"
    ).select("id", _norm_text("_txt").alias("_t"))
    c = F.col("_t")
    k = F.greatest(F.length(c) - (n - 1), F.lit(1))
    sh = F.array_distinct(
        F.transform(F.sequence(F.lit(1), k), lambda i: c.substr(i, F.lit(n)))
    )
    return base.select("id", F.explode(sh).alias("shingle"))


def shingle_sets(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    unit: str = "word",
) -> DataFrame:
    """(id, sh: array<string>, n_shingles) — one row per document,
    grouped back from :func:`exploded_shingles` (shuffles on the
    high-entropy id key; the expensive shingling itself is shared with
    the other consumers via ReusedExchange)."""
    return exploded_shingles(df, id_col, text_col, n, unit).groupBy(
        "id"
    ).agg(
        F.collect_list("shingle").alias("sh"),
        F.count("*").alias("n_shingles"),
    )


def shingle_table(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    max_shingle_freq: Optional[int] = None,
    unit: str = "word",
) -> DataFrame:
    """(id, shingle, n_shingles) exploded inverted-index rows.

    ``n_shingles`` is a window count over the doc id — no
    count-and-join-back shuffle. ``max_shingle_freq`` drops shingles
    appearing in more than that many documents — the df-cut that caps
    self-join fan-out (a shingle shared by 1M docs would otherwise emit
    10^12 pairs).
    """
    from pyspark.sql import Window

    sh = exploded_shingles(df, id_col, text_col, n, unit).withColumn(
        "n_shingles", F.count("*").over(Window.partitionBy("id"))
    )
    if max_shingle_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count("*").alias("_df"))
        sh = (
            sh.join(freq.where(F.col("_df") <= max_shingle_freq), "shingle")
            .drop("_df")
        )
    return sh


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: Optional[int] = None,
    unit: str = "word",
) -> DataFrame:
    """All document pairs with Jaccard(shingles_a, shingles_b) >= t.

    Exact (no hashing): inverted-index self-join on shingle, count
    common shingles per pair, |A∪B| = |A|+|B|-common. Quadratic in the
    worst case — use minhash_lsh_pairs at corpus scale; this is the
    ground-truth operator the LSH variant is verified against, so the
    library DEFAULT is exact (``max_shingle_freq=None``) — a silent
    df-cut here would poison every caller that treats this as ground
    truth (duplicate_clusters / dedup_keep_canonical callers included).

    ``max_shingle_freq`` (opt-in, e.g. 1000) drops shingles appearing
    in more than that many documents before the prefix self-join — the
    df-cut that bounds candidate fan-out when one boilerplate sentence
    recurs across a large corpus (a shingle in f docs emits O(f²)
    candidate rows). Its semantics are EXACT and modelable: candidates
    are still verified against the full uncut shingle sets, and the
    prefix bound (|A| - ceil(t|A|) + 2, computed from PRE-cut sizes
    but applied over the post-cut set) provably catches every pair
    with J >= t that shares at least one under-cut shingle — because
    J >= t gives |A∩B| >= t|A|, so |A'| - |A'∩B'| + 1 <= |A| - |A∩B|
    + 1 <= |A|(1-t) + 1 <= prefix_len (removed shared-hot shingles
    shrink the post-cut set at least as fast as the post-cut overlap).
    Hence: a pair is emitted iff it shares >= 1 shingle with df <= cut
    and its FULL jaccard >= t — the property the q18 oracle replays.
    """
    from pyspark.sql import Window

    ex = exploded_shingles(df, id_col, text_col, n, unit)
    sh = ex.withColumn(
        "n_shingles", F.count("*").over(Window.partitionBy("id"))
    )

    # Prefix filtering (AllPairs/PPJoin): two docs with Jaccard >= t MUST
    # share a shingle within each one's first (n - ceil(t*n) + 1)
    # shingles under a fixed global order. Ordering by ascending document
    # frequency puts the RAREST shingles in the prefix, so the candidate
    # join fans out on rare keys instead of stop-shingles — this is what
    # turns the O(sum df^2) hot-key blow-up into candidates proportional
    # to true near-duplicates. Exact: no false negatives.
    #
    # ONE document-frequency aggregate serves both the df-cut and the
    # rarity ordering (they were two identical groupBys before): the cut
    # filters inverted-index rows before ranking, and ordering by the
    # PRE-cut frequency is still a consistent global order, which is all
    # prefix filtering requires. n_shingles stays pre-cut so the length
    # filter and prefix bound reflect true set sizes.
    freq = sh.groupBy("shingle").agg(F.count("*").alias("_gdf"))
    ranked = sh.join(freq, "shingle")
    if max_shingle_freq is not None:
        ranked = ranked.where(F.col("_gdf") <= max_shingle_freq)
    ranked = ranked.withColumn(
        "_pos",
        F.row_number().over(
            Window.partitionBy("id").orderBy("_gdf", "shingle")
        ),
    )
    # +1 slack on the prefix bound guards float rounding in t*n.
    prefix_len = (
        F.col("n_shingles")
        - F.ceil(F.lit(threshold) * F.col("n_shingles"))
        + F.lit(2)
    )
    pre = ranked.where(F.col("_pos") <= prefix_len).select(
        "shingle", "id", "n_shingles"
    )
    a = pre.select(
        "shingle", F.col("id").alias("id_a"), F.col("n_shingles").alias("n_a")
    )
    b = pre.select(
        "shingle", F.col("id").alias("id_b"), F.col("n_shingles").alias("n_b")
    )
    cands = (
        a.join(b, "shingle")
        .where(
            (F.col("id_a") < F.col("id_b"))
            # length filter: Jaccard >= t implies min(|A|,|B|)/max >= t
            & (F.col("n_a") >= F.lit(threshold) * F.col("n_b"))
            & (F.col("n_b") >= F.lit(threshold) * F.col("n_a"))
        )
        .select("id_a", "id_b")
        .distinct()
    )
    # Verify candidates in-row against the full (uncut) shingle sets,
    # grouped back from the same exploded base — ReusedExchange shares
    # the shingling work with the prefix path.
    sets = ex.groupBy("id").agg(
        F.collect_list("shingle").alias("sh"),
        F.count("*").alias("n_shingles"),
    )
    sa = sets.select(
        F.col("id").alias("id_a"),
        F.col("sh").alias("sh_a"),
        F.col("n_shingles").alias("n_a"),
    )
    sb = sets.select(
        F.col("id").alias("id_b"),
        F.col("sh").alias("sh_b"),
        F.col("n_shingles").alias("n_b"),
    )
    common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    jac = common / (F.col("n_a") + F.col("n_b") - common)
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _minhash_min_exprs(num_hashes: int) -> list:
    """The k min-hash aggregate expressions over a ``shingle`` column.

    Hash h_i(s) = the i-th 8-hex-char window of md5((i // 4) || ':' || s)
    — one md5 digest yields FOUR independent 32-bit hash words, so k
    hashes cost ceil(k/4) md5 evaluations per shingle instead of k
    (measured ~40% of the signature stage). The min is taken over the
    fixed-width hex substring directly: lexicographic order on
    fixed-width lowercase hex IS numeric order, so no hex→int
    conversion is needed (F.conv per hash was another 30% of the
    stage). md5 keeps the family reproducible in any SQL engine.
    """
    ndig = (num_hashes + 3) // 4
    digs = [
        F.md5(F.concat(F.lit(f"{d}:"), F.col("shingle")))
        for d in range(ndig)
    ]
    mins = []
    for i in range(num_hashes):
        d, w = divmod(i, 4)
        mins.append(
            F.min(F.substring(digs[d], w * 8 + 1, 8)).alias(f"_h{i}")
        )
    return mins


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    unit: str = "word",
) -> DataFrame:
    """(id, sig: array<string>) — k independent min-hashes per document.

    Each sig element is an 8-hex-char hash word (see
    :func:`_minhash_min_exprs`); the min over a document's shingle
    multiset approximates a uniform permutation minimum (duplicates
    can't change a min, so the shingle explode skips its set-dedup
    aggregate entirely).
    """
    # One explode, then a single groupBy(id) carrying k codegen'd min()
    # aggregates. Partial (map-side) aggregation reduces each partition
    # to k hashes per doc BEFORE the shuffle, so the exchange moves
    # O(docs × k) bytes regardless of shingle count. (A "narrow"
    # nested-lambda variant — array_min(transform(sh, md5)) per seed —
    # avoids the shuffle but falls off the codegen path and evaluates
    # k×|shingles| interpreted md5s per row: ~5× slower end-to-end.)
    sh = exploded_shingles(df, id_col, text_col, n, unit, distinct=False)
    return (
        sh.groupBy("id")
        .agg(*_minhash_min_exprs(num_hashes))
        .select(
            "id",
            F.array(*[F.col(f"_h{i}") for i in range(num_hashes)]).alias(
                "sig"
            ),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    verify_threshold: Optional[float] = 0.5,
    unit: str = "word",
    max_bucket_size: Optional[int] = None,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH.

    Signatures are split into ``bands`` groups of r = k/b hashes; a pair
    colliding on any band's concatenated signature becomes a candidate.
    Candidates come from ONE aggregation — groupBy (band, band-sig) →
    collect member ids → expand pairs in-row — rather than a bucket
    self-join: the self-join formulation traverses the signature
    lineage twice (Catalyst prunes each side differently, so the
    exchange is never reused) and shuffles every banded row two more
    times. Measured: the grouped form cut the whole operator's 10×-rows
    scaling ratio from 3.7× to ~2×. Candidate volume still scales with
    true-ish collisions, never |docs|².

    ``max_bucket_size`` drops band-buckets with more members (a bucket
    of m docs expands m(m-1)/2 pairs — a degenerate band value acts
    like a stop-shingle). None = exact LSH semantics; set it at corpus
    scale where a boilerplate-heavy shard can blow up one bucket.

    With ``verify_threshold`` set, candidates are verified with the
    exact n-gram Jaccard (returns id_a, id_b, jaccard): the candidate
    pair list (tiny relative to the corpus — it IS the near-dup set)
    broadcasts as (pair, member, role) rows against the exploded
    shingles, and one count aggregate per pair computes |A∩B| and the
    set sizes — the corpus-wide collect_list of full shingle sets the
    join-based verify needed is gone. Cost scales with |candidates|,
    preserving the sub-quadratic property.
    """
    r = num_hashes // bands
    # Explicit isnotnull(id) pre-filter: the verify join below infers
    # it on ITS branch only, and that one pushed filter makes the two
    # otherwise-identical shingle subtrees canonically unequal — which
    # silently disabled exchange reuse, so the corpus was scanned,
    # exploded and shuffle-written twice. With the filter on both
    # branches, AQE reuses the exchange and the corpus pays one scan.
    # (Null-id docs can never appear in a pair; dropping them up front
    # is semantically free.)
    ex = exploded_shingles(
        df.where(F.col(id_col).isNotNull()),
        id_col, text_col, n, unit, distinct=False,
    )
    sigs = ex.groupBy("id").agg(*_minhash_min_exprs(num_hashes))
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "|", *[F.col(f"_h{b * r + j}") for j in range(r)]
            ).alias("bsig"),
        )
        for b in range(bands)
    ]
    banded = (
        sigs.select("id", F.explode(F.array(*band_cols)).alias("bs"))
        .select("id", F.col("bs.band").alias("band"),
                F.col("bs.bsig").alias("bsig"))
    )
    buckets = (
        banded.groupBy("band", "bsig")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    if max_bucket_size is not None:
        buckets = buckets.where(F.size("ids") <= max_bucket_size)
    # In-row pair expansion over the (sorted) bucket members: for each
    # element, pair it with every later element — id_a < id_b for free.
    pairs_arr = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    cands = (
        buckets.select(F.explode(pairs_arr).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    if verify_threshold is None:
        return cands
    # Exact-Jaccard verify via counting: each candidate pair becomes two
    # broadcast rows (id_a, id_b, member id, role); the exploded-shingle
    # relation joins against that broadcast (docs not in any pair emit
    # nothing), then per (pair, shingle) presence flags collapse
    # duplicates, and per pair SUM(ha∧hb)=|A∩B|, SUM(ha)=|A|, SUM(hb)=|B|.
    roles = cands.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a"), F.col("id_b"),
                    F.col("id_a").alias("id"), F.lit("a").alias("role"),
                ),
                F.struct(
                    F.col("id_a"), F.col("id_b"),
                    F.col("id_b").alias("id"), F.lit("b").alias("role"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    m = ex.join(F.broadcast(roles), "id")
    g1 = m.groupBy("id_a", "id_b", "shingle").agg(
        F.max(F.when(F.col("role") == "a", 1).otherwise(0)).alias("ha"),
        F.max(F.when(F.col("role") == "b", 1).otherwise(0)).alias("hb"),
    )
    g2 = g1.groupBy("id_a", "id_b").agg(
        F.sum(F.col("ha") * F.col("hb")).alias("common"),
        F.sum("ha").alias("n_a"),
        F.sum("hb").alias("n_b"),
    )
    jac = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    return (
        g2.select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= verify_threshold)
    )


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 32,
    use_md5: bool = True,
) -> DataFrame:
    """(id, simhash) — near-dup bit signature over whitespace tokens.

    Each token votes ±1 on each bit of its hash; the sign pattern of the
    per-bit sums is the signature. ``use_md5`` derives the token hash
    from the first bits/4 hex chars of md5 (portable to any engine);
    False uses xxhash64 (faster, Spark-only). Similar docs differ in few
    bits (hamming distance).
    """
    # Explode tokens (one narrow Generate), hash each ONCE, then one
    # groupBy(id) carrying `bits` codegen'd SUM(±1) vote aggregates —
    # partial (map-side) aggregation reduces each partition to `bits`
    # counters per doc before the exchange. This replaced an in-row
    # formulation (per-bit F.aggregate lambdas over the token-hash
    # array): higher-order functions are interpreted, and 64 array
    # folds per row measured 3× slower than the codegen'd sums.
    # explode_outer keeps empty documents in the output (signature 0,
    # matching the fold's empty-accumulator result). shiftleft (not a
    # 1<<63 literal) because the sign bit is a legal shift target but
    # an overflowing long literal isn't; OR-fold (not SUM) because bit
    # values are disjoint and OR can't overflow when bit 63 (negative
    # as a long) participates.
    if bits > 64 or bits % 4:
        raise ValueError("bits must be a multiple of 4, at most 64")

    def _tok_hash(tok: Column) -> Column:
        if use_md5:
            if bits <= 32:
                return F.conv(
                    F.substring(F.md5(tok), 1, bits // 4), 16, 10
                ).cast("long")
            # conv() of >8 hex chars can exceed signed-long range (nulls);
            # assemble from two halves instead. The high half lands on
            # bits 32..63 via shiftleft — the sign bit included, which is
            # exactly the two's-complement 64-bit pattern we want.
            hi_digits = (bits - 32) // 4
            hi = F.conv(F.substring(F.md5(tok), 1, hi_digits), 16, 10).cast(
                "long"
            )
            lo = F.conv(
                F.substring(F.md5(tok), hi_digits + 1, 8), 16, 10
            ).cast("long")
            return F.shiftleft(hi, 32).bitwiseOR(lo)
        return F.xxhash64(tok)

    toks = F.filter(
        _norm_words("_txt"),
        lambda t: t != "",
    )
    hashed = (
        spread_scan(
            df.select(F.col(id_col).alias("id"), _txt(text_col)), "id"
        )
        .select("id", toks.alias("_a"))
        .select("id", F.explode_outer("_a").alias("_tok"))
        .select("id", _tok_hash(F.col("_tok")).alias("_h"))
    )
    votes = [
        F.sum(
            F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) * 2 - 1
        ).alias(f"_s{i}")
        for i in range(bits)
    ]
    agg = hashed.groupBy("id").agg(*votes)
    sig = None
    for i in range(bits):
        term = F.when(
            F.col(f"_s{i}") > 0,
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig.bitwiseOR(term)
    return agg.select("id", sig.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    use_md5: bool = True,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash_a, simhash_b) <= max_hamming.

    Pigeonhole banding: split the signature into (max_hamming + 1) bit
    bands — two signatures within hamming distance k must agree EXACTLY
    on at least one band, so candidates come from an equality join on
    (band, band_bits) and are verified with bit_count(xor). The join
    fans out on band collisions (near-dups plus chance byte matches),
    never on the |docs|^2 cross product.
    """
    nb = max_hamming + 1
    w = bits // nb
    sigs = simhash(df, id_col, text_col, bits, use_md5)
    band_structs = []
    for j in range(nb):
        lo = j * w
        width = bits - lo if j == nb - 1 else w
        # width == 64 (single band): all-ones mask is -1 as a long.
        mask = F.lit(-1).cast("long") if width >= 64 else F.lit((1 << width) - 1)
        band_structs.append(
            F.struct(
                F.lit(j).alias("band"),
                F.shiftright(F.col("simhash"), lo)
                .bitwiseAND(mask)
                .alias("bval"),
            )
        )
    banded = sigs.select(
        "id", "simhash", F.explode(F.array(*band_structs)).alias("b")
    ).select(
        "id",
        "simhash",
        F.col("b.band").alias("band"),
        F.col("b.bval").alias("bval"),
    )
    a = banded.select(
        "band",
        "bval",
        F.col("id").alias("id_a"),
        F.col("simhash").alias("sig_a"),
    )
    b = banded.select(
        "band",
        "bval",
        F.col("id").alias("id_b"),
        F.col("simhash").alias("sig_b"),
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        a.join(b, ["band", "bval"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
        .select("id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs: (node, cluster).

    The pair emitters (ngram_jaccard_pairs / minhash_lsh_pairs /
    simhash_pairs / embedding near-dup) produce edges; a training-data
    dedup pipeline then needs the transitive closure — A~B and B~C must
    land A, B, C in ONE cluster so exactly one survives. ``cluster`` is
    the minimum node id reachable from ``node``.

    Algorithm: HashMin label propagation — every node starts with
    label = own id; each round every node takes the min of its and its
    neighbors' labels; converged when no label changes. Rounds needed =
    graph diameter, and near-dup components are shallow (dups of a
    common source), so 2-4 rounds is typical. Each round is one
    self-equi-join on node id + a groupBy-min — no cross product, and
    ``localCheckpoint`` truncates the lineage so plan size stays
    constant across iterations (the classic Spark iterative-algorithm
    trap). This is the one deliberately iterative operator in the
    engine; its oracle is a recursive CTE.
    """
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    )
    # Undirected: propagate both ways.
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = edges.localCheckpoint(eager=True)

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nlabel", "label")
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if not changed:
            break
    return labels.select("node", F.col("label").alias("cluster"))


def dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Drop every near-duplicate except its cluster's canonical (min-id)
    document: rows of ``df`` whose id is not a non-canonical member of
    any duplicate cluster. Singleton docs (no pair) always survive.
    The clusters side is tiny relative to the corpus (only docs that
    appeared in a pair), so the anti-join broadcasts at scale.
    """
    clusters = duplicate_clusters(pairs, id_a, id_b)
    losers = clusters.where(F.col("node") != F.col("cluster")).select(
        F.col("node").alias(id_col)
    )
    return df.join(F.broadcast(losers), id_col, "left_anti")


def contamination_hits(
    train: DataFrame,
    test: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 13,
    unit: str = "word",
    prefilter: str = "broadcast",
    bloom_bits: int = 1 << 20,
    bloom_hashes: int = 5,
) -> DataFrame:
    """Train/test decontamination: flag training documents that share
    any text n-gram with a held-out evaluation set.

    Returns one row per contaminated training document:
    ``(id, n_hits, sample_shingle)`` — ``n_hits`` counts the distinct
    shared shingles, ``sample_shingle`` is the lexicographically first
    one (evidence for manual review). Training docs with zero overlap
    are absent (the common case; the result is the removal list).

    Scale design, ``prefilter="broadcast"`` (default): the eval set
    is small (thousands of docs) against a 100 TB train corpus, so
    its DISTINCT shingle set broadcasts and the train side is
    shingle-generate → broadcast hash join → partial count — the
    corpus is never shuffled on raw n-gram text, and docs with no
    overlap produce zero join output. Production pipelines use
    n = 8..13 word-grams (the GPT-3-style 13-gram decontamination
    rule); smaller n flags more aggressively.

    ``prefilter="bloom"``: when the eval suite is itself large (a
    full held-out shard — tens of millions of shingles), its raw
    string set no longer broadcasts. The eval shingles fold into a
    Bloom bitmap instead — ``bloom_bits`` bits as ``bloom_bits/64``
    packed-long words built by ONE ``bit_or`` aggregation, then
    eagerly materialized (``persist()`` + ``count()``: the bloom arm
    runs that one bitmap job AT CALL TIME, even if the returned
    DataFrame is never evaluated) so the j per-probe joins broadcast
    the one cached table instead of re-planning the aggregation;
    the lineage stays recomputable, so an executor loss after the
    materialization recomputes the bitmap instead of failing the job
    (a ``localCheckpoint`` would truncate lineage to executor-only
    blocks) — and
    only the word table (8 bytes/word: 2^20 bits ≡ 16 K rows ≡ 128 KB,
    three orders smaller than the strings) broadcasts. Each train
    shingle probes its ``bloom_hashes`` double-hashed positions
    (Kirsch-Mitzenmacher ``h1 + i·h2``, xxhash64 halves, all codegen)
    via per-probe broadcast joins on the word index — fully narrow,
    the corpus still never shuffles on raw text. Survivors (true hits
    + the bitmap's false positives) then verify against the exact
    eval set with a plain shuffle join — the eval side SHUFFLES
    instead of broadcasting, and the train side ships candidates
    only. The final result is therefore EXACT — identical to the
    broadcast path (pytest-asserted); the bitmap only bounds the
    verify join's input. Size ``bloom_bits ≈ 14×`` the eval shingle
    count for ~1e-3 FP (bits/entry = 14 ⇒ j=5 is near-optimal);
    at 100 M eval shingles that is 2^31 bits = 256 MB of words —
    still a broadcastable table where the string set is not.

    Cache lifetime (bloom arm only): the persisted word table stays
    cached for the SparkSession lifetime so the returned DataFrame —
    and any plan derived from it — can keep re-executing against the
    one materialized bitmap; repeated calls each pin their own
    (ADVICE r11). Once the result is fully consumed, release it via
    the handle the result carries: ``res._bloom_words.unpersist()``
    (non-blocking is fine), or ``spark.catalog.clearCache()`` to drop
    every cached relation. Unpersisting early is safe — correctness
    is unaffected; the bitmap lineage just recomputes on next use.
    """
    test_g = (
        exploded_shingles(test, id_col, text_col, n=n, unit=unit)
        .select("shingle")
        .distinct()
    )
    train_g = exploded_shingles(train, id_col, text_col, n=n, unit=unit)
    if prefilter == "broadcast":
        matched = train_g.join(F.broadcast(test_g), "shingle")
    elif prefilter == "bloom":
        if bloom_bits < 64 or bloom_bits & (bloom_bits - 1):
            raise ValueError("bloom_bits must be a power of two >= 64")
        if bloom_bits > 1 << 31:
            raise ValueError("bloom_bits must be <= 2^31 (256 MB)")
        if bloom_hashes < 1:
            raise ValueError("bloom_hashes must be >= 1")
        m = F.lit(bloom_bits)
        # Both halves reduced to 31 bits so h1 + j*h2 can never
        # overflow a BIGINT under ANSI arithmetic (Spark 4 default);
        # 31 bits >= any supported bloom_bits' entropy need.
        h1 = F.pmod(F.xxhash64(F.col("shingle")), F.lit(1 << 31))
        # Odd step so the probe sequence walks the full power-of-two
        # ring (gcd(h2, m) == 1).
        h2 = F.pmod(
            F.xxhash64(F.col("shingle"), F.lit(1)), F.lit(1 << 31)
        ).bitwiseOR(F.lit(1).cast("long"))

        def _pos(i: int):
            return F.pmod(h1 + F.lit(i) * h2, m)

        # Eval side: explode the j probe positions, pack into
        # bloom_bits/64 longs. One narrow explode + ONE bit_or
        # aggregation; the result is the only thing kept.
        pos = F.explode(
            F.array(*[_pos(i) for i in range(bloom_hashes)])
        ).alias("_p")
        words = (
            test_g.select(pos)
            .select(
                (F.col("_p") / F.lit(64)).cast("long").alias("_w"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(_p % 64 AS INT))"
                ).alias("_b"),
            )
            .groupBy("_w")
            .agg(F.bit_or("_b").alias("_bits"))
        )
        # Materialize the bitmap ONCE (eager — this triggers a job at
        # call time): the j per-probe joins below each broadcast the
        # word table under a different alias, so exchange reuse cannot
        # canonicalize them and, unmaterialized, the eval-side shingle
        # scan + bit_or aggregation would be re-planned and re-executed
        # j times — at the documented 256 MB scale, j full bitmap
        # rebuilds. persist() + count() rather than localCheckpoint:
        # the InMemoryRelation is shared by every alias (one cached
        # <= bloom_bits/64-row table per broadcast) AND the lineage
        # stays recomputable — an executor lost after a checkpoint
        # would take its truncated-lineage blocks with it and fail
        # the job; a lost cached block just recomputes (ADVICE r10).
        words = words.persist()
        words.count()
        # Train side: j narrow broadcast lookups of the word table —
        # a probe misses iff its word row is absent or its bit unset.
        cand = train_g
        hit = F.lit(True)
        for i in range(bloom_hashes):
            p = _pos(i)
            wtab = F.broadcast(
                words.select(
                    F.col("_w").alias(f"_w{i}"),
                    F.col("_bits").alias(f"_bits{i}"),
                )
            )
            cand = (
                cand.withColumn(f"_w{i}", (p / F.lit(64)).cast("long"))
                .withColumn(f"_m{i}", (p % 64).cast("int"))
                .join(wtab, f"_w{i}", "left")
            )
            hit = hit & F.expr(
                f"(coalesce(_bits{i}, CAST(0 AS BIGINT)) & "
                f"shiftleft(CAST(1 AS BIGINT), _m{i})) != 0"
            )
        survivors = cand.where(hit).select("id", "shingle")
        # Exact verify: candidates only vs the full eval set — a
        # shuffle join on the shingle (NO broadcast of the strings).
        matched = survivors.hint("shuffle_hash").join(test_g, "shingle")
    else:
        raise ValueError(
            f"prefilter must be 'broadcast' or 'bloom', got {prefilter!r}"
        )
    out = (
        matched.groupBy("id")
        .agg(
            F.count("*").alias("n_hits"),
            F.min("shingle").alias("sample_shingle"),
        )
    )
    if prefilter == "bloom":
        # the unpersist handle documented above — callers release the
        # cached word table once the result is consumed
        out._bloom_words = words
    return out


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    max_distance: int = 40,
    bits: int = 64,
    max_hamming: int = 3,
    use_md5: bool = True,
) -> DataFrame:
    """Near-duplicate pairs by EDIT DISTANCE: SimHash pigeonhole bands
    generate candidates, then exact Levenshtein (Spark's built-in, with
    the early-exit threshold) verifies ``distance <= max_distance`` on
    the normalized texts. Returns (id_a, id_b, edit_distance).

    The character-level complement to the token-level Jaccard family:
    catches small in-word edits (typos, OCR noise) that word-shingle
    overlap scores poorly. Scale shape: candidates come from the
    banded signature equi-join (never |docs|²); 64-bit signatures are
    the default because candidate volume is the whole cost model here
    (32-bit banding admitted 260× more candidates on the documents
    table — the O(len·len) Levenshtein amplifies every false
    candidate). A length-difference prefilter (an exact lower bound on
    edit distance) drops pairs before the DP, and the threshold
    variant bails out once the distance provably exceeds the budget.
    """
    cand = simhash_pairs(
        df, id_col, text_col, bits, max_hamming, use_md5
    ).select("id_a", "id_b")
    # The Levenshtein DP runs inside the broadcast-join scan stages —
    # widen the text side or the whole verify serializes per file.
    texts = spread_scan(
        df.select(F.col(id_col).alias("_tid"), _txt(text_col)), "_tid"
    ).select("_tid", _norm_text("_txt").alias("_t"))
    a = texts.select(F.col("_tid").alias("id_a"), F.col("_t").alias("t_a"))
    b = texts.select(F.col("_tid").alias("id_b"), F.col("_t").alias("t_b"))
    lev = F.levenshtein(F.col("t_a"), F.col("t_b"), max_distance)
    return (
        a.join(F.broadcast(cand), "id_a")
        .join(b, "id_b")
        # |len(a) - len(b)| lower-bounds the edit distance: an exact,
        # O(1) cut before the O(len·max_distance) DP.
        .where(
            F.abs(F.length("t_a") - F.length("t_b")) <= max_distance
        )
        .select("id_a", "id_b", lev.alias("edit_distance"))
        .where(F.col("edit_distance") >= 0)
    )


def banded_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    unit: str = "word",
) -> DataFrame:
    """(id, band, bsig) — the banded MinHash signature table of a
    corpus, the reusable half of :func:`minhash_lsh_join`: persist it
    once (a few dozen bytes per document) and every future ingest
    batch needs only a band equi-join against it instead of
    re-hashing the corpus. Parameters must match the join that
    consumes it (same hash family by construction — md5-derived, so
    the table is stable across sessions and engines).

    Same isnotnull(id) alignment as minhash_lsh_pairs: keeps the
    shingle subtree canonically equal to its verify-branch twin so
    AQE reuses the exchange (one scan per side) when both are built
    in one plan."""
    r = num_hashes // bands
    ex = exploded_shingles(df.where(F.col(id_col).isNotNull()),
                           id_col, text_col, n, unit,
                           distinct=False)
    sigs = ex.groupBy("id").agg(*_minhash_min_exprs(num_hashes))
    band_cols = [
        F.struct(
            F.lit(bnd).alias("band"),
            F.concat_ws(
                "|", *[F.col(f"_h{bnd * r + j}") for j in range(r)]
            ).alias("bsig"),
        )
        for bnd in range(bands)
    ]
    return (
        sigs.select("id", F.explode(F.array(*band_cols)).alias("bs"))
        .select("id", F.col("bs.band").alias("band"),
                F.col("bs.bsig").alias("bsig"))
    )


def minhash_lsh_join(
    left: DataFrame,
    right: DataFrame,
    id_col: str,
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    verify_threshold: Optional[float] = 0.5,
    unit: str = "word",
    right_banded: Optional[DataFrame] = None,
) -> DataFrame:
    """Near-duplicate pairs BETWEEN two corpora — the incremental-ingest
    form of :func:`minhash_lsh_pairs`: check a new shard (``left``)
    against the existing corpus (``right``) without ever self-joining
    the corpus. Ids must be unique across left ∪ right. Returns
    ``(id_left, id_right, jaccard)`` (or unverified candidate pairs
    with ``verify_threshold=None``).

    Scale shape: signatures are computed per side with the SAME hash
    family (so the right side's signatures can be precomputed with
    :func:`banded_signatures`, persisted once, and passed back as
    ``right_banded`` every ingest batch — the streaming path); when
    they are, the exact-Jaccard verify first prunes ``right`` to the
    candidate ids (broadcast semi-join) instead of re-shingling the
    whole corpus, so a micro-batch's cost is proportional to its
    candidates, not to |corpus|. Candidates come from a left×right
    band equi-join that fans out on collisions, never |left|·|right|;
    the verify touches candidate docs only via the broadcast
    (pair, member, role) pattern.
    """
    kw = dict(text_col=text_col, n=n, num_hashes=num_hashes,
              bands=bands, unit=unit)
    bl = banded_signatures(left, id_col, **kw).select(
        "band", "bsig", F.col("id").alias("id_left")
    )
    br = (
        right_banded if right_banded is not None
        else banded_signatures(right, id_col, **kw)
    ).select("band", "bsig", F.col("id").alias("id_right"))
    cands = (
        bl.join(br, ["band", "bsig"])
        .select("id_left", "id_right")
        .distinct()
    )
    if verify_threshold is None:
        return cands
    if right_banded is not None:
        # the corpus's shingle exchange is NOT in this plan (its
        # signatures came precomputed), so re-shingling all of
        # ``right`` for the verify would re-scan the corpus per
        # ingest batch — prune to candidate ids first.
        right = right.join(
            F.broadcast(
                cands.select(F.col("id_right").alias(id_col)).distinct()
            ),
            id_col,
            "semi",
        )
    roles = cands.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_left"), F.col("id_right"),
                    F.col("id_left").alias("id"),
                    F.lit("a").alias("role"),
                ),
                F.struct(
                    F.col("id_left"), F.col("id_right"),
                    F.col("id_right").alias("id"),
                    F.lit("b").alias("role"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    ex_all = exploded_shingles(
        left.where(F.col(id_col).isNotNull()),
        id_col, text_col, n, unit, distinct=False,
    ).unionByName(
        exploded_shingles(
            right.where(F.col(id_col).isNotNull()),
            id_col, text_col, n, unit, distinct=False,
        )
    )
    m = ex_all.join(F.broadcast(roles), "id")
    g1 = m.groupBy("id_left", "id_right", "shingle").agg(
        F.max(F.when(F.col("role") == "a", 1).otherwise(0)).alias("ha"),
        F.max(F.when(F.col("role") == "b", 1).otherwise(0)).alias("hb"),
    )
    g2 = g1.groupBy("id_left", "id_right").agg(
        F.sum(F.col("ha") * F.col("hb")).alias("common"),
        F.sum("ha").alias("n_a"),
        F.sum("hb").alias("n_b"),
    )
    jac = F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
    return (
        g2.select("id_left", "id_right", jac.alias("jaccard"))
        .where(F.col("jaccard") >= verify_threshold)
    )


def excise_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 2,
    persist_grams: bool = True,
) -> DataFrame:
    """Exact-substring deduplication at word-gram granularity (the
    "deduplicating training data" excision rule): find every word
    ``n``-gram that occurs in at least ``min_docs`` distinct documents,
    keep its globally-first occurrence (ordered by ``(doc, position)``),
    and cut every other occurrence OUT of its document — the memorized
    boilerplate leaves, the document stays.

    Pipeline (a composition of this engine's own primitives):

    1. gram occurrences ``(doc, pos, md5(fp))`` via one in-row
       transform + explode — only hashes and positions shuffle;
    2. per-fingerprint first-occurrence + distinct-doc count in one
       aggregation; non-first occurrences of cross-doc grams become
       excision ranges ``[pos, pos+n-1]``;
    3. each doc's ranges collect into ONE sorted array and coalesce
       in-row with a linear ``aggregate`` fold — semantics identical
       to :func:`~tinyflux_spark.operators.aggregates.merge_intervals`
       at ``gap=0`` (a range opens a new span iff its start exceeds
       the running max end; adjacent spans stay separate);
    4. the clean text reassembles in-row from the token-array slices
       between merged spans — tokens never shuffle: the only
       post-gram exchanges are the two aggregations and the final
       doc-keyed join (r12 opt; previously this half was two window
       passes + a bucketed interval_join + a token anti-join + a
       collect_list rebuild, computed twice — once per output stat).

    Documents shorter than ``n`` tokens are untouched; a document whose
    every token is excised survives as an empty string (row count is
    preserved). Returns ``id, clean_text, n_removed, n_spans``.
    """
    if n <= 0 or min_docs < 2:
        raise ValueError("need n >= 1 and min_docs >= 2")
    base = spread_scan(
        df.select(F.col(id_col).alias("id"), _txt(text_col)), "id"
    ).select("id", _norm_words("_txt").alias("_arr"))

    # fp is engine-internal (the oracle replays grams by value), so it
    # is stored as the 16-byte unhex'd md5, not the 32-char hex string:
    # the occurrence table is the widest relation here and the binary
    # halves its dominant column — measured ~13% off the whole operator
    # at sf0.1 (3.60 -> 3.13 s), checkpoint and shuffle both shrink.
    gram_structs = F.transform(
        F.sequence(F.lit(0), F.size("_arr") - n),
        lambda i: F.struct(
            i.alias("pos"),
            F.unhex(
                F.md5(F.concat_ws(" ", F.slice("_arr", i + 1, n)))
            ).alias("fp"),
        ),
    )
    occ = (
        base.where(F.size("_arr") >= n)
        .select("id", F.explode(gram_structs).alias("g"))
        .select("id", F.col("g.pos").alias("pos"), F.col("g.fp").alias("fp"))
    )
    if persist_grams:
        # occ feeds BOTH the first-occurrence aggregate and the
        # cut-range join below; without materialization the md5-gram
        # explode (the dominant cost) runs twice. Eager localCheckpoint
        # — the same pattern duplicate_clusters uses — computes the
        # (id, pos, fp) table once; it holds only hashes and positions,
        # ~a few % of corpus bytes. Opt out for a purely-lazy plan.
        occ = occ.localCheckpoint(eager=True)
    firsts = occ.groupBy("fp").agg(
        F.min(F.struct("id", "pos")).alias("first"),
        F.countDistinct("id").alias("_ndocs"),
    ).where(F.col("_ndocs") >= min_docs)
    cut_ranges = (
        occ.join(firsts, "fp")
        .where(
            ~(
                (F.col("id") == F.col("first.id"))
                & (F.col("pos") == F.col("first.pos"))
            )
        )
        .select("id", F.col("pos").alias("s"), (F.col("pos") + n - 1).alias("e"))
    )
    # In-row linear merge of each doc's sorted cut ranges. Equivalent
    # to merge_intervals(gap=0): sorted by (start, end), a range joins
    # the open span iff start <= span.end (running max end — adjacent
    # ranges do NOT merge), else it opens a new span. One aggregation
    # replaces the two running-frame windows, and the array is in the
    # row the rebuild needs it in — no second pass, no re-join.
    _empty_spans = F.expr(
        "CAST(array() AS array<struct<start:int,end:int>>)"
    )
    spans = (
        cut_ranges.groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("_raw"))
        .select(
            "id",
            F.aggregate(
                "_raw",
                _empty_spans,
                lambda acc, r: F.when(
                    (F.size(acc) > 0)
                    & (r["s"] <= F.element_at(acc, -1)["end"]),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(
                            F.struct(
                                F.element_at(acc, -1)["start"].alias(
                                    "start"
                                ),
                                F.greatest(
                                    F.element_at(acc, -1)["end"], r["e"]
                                ).alias("end"),
                            )
                        ),
                    ),
                ).otherwise(
                    F.concat(
                        acc,
                        F.array(
                            F.struct(
                                r["s"].alias("start"),
                                r["e"].alias("end"),
                            )
                        ),
                    )
                ),
            ).alias("_spans"),
        )
    )

    # Rebuild each doc from the slices BETWEEN its merged spans — a
    # linear fold over the (few, disjoint, sorted) spans; tokens stay
    # inside their row. Docs with no spans keep every token.
    kept_arr = F.aggregate(
        "_spans",
        F.struct(
            F.lit(0).alias("p"),
            F.expr("CAST(array() AS array<string>)").alias("out"),
        ),
        lambda acc, sp: F.struct(
            (sp["end"] + 1).alias("p"),
            F.concat(
                acc["out"],
                F.slice("_arr", acc["p"] + 1, sp["start"] - acc["p"]),
            ).alias("out"),
        ),
        lambda acc: F.concat(
            acc["out"],
            F.slice("_arr", acc["p"] + 1, F.size("_arr") - acc["p"]),
        ),
    )
    return (
        base.join(spans, "id", "left")
        .select(
            "id",
            "_arr",
            F.coalesce("_spans", _empty_spans).alias("_spans"),
        )
        .select("id", "_arr", "_spans", kept_arr.alias("_kept"))
        .select(
            "id",
            F.concat_ws(" ", "_kept").alias("clean_text"),
            (F.size("_arr") - F.size("_kept"))
            .cast("long")
            .alias("n_removed"),
            F.size("_spans").cast("long").alias("n_spans"),
        )
    )
