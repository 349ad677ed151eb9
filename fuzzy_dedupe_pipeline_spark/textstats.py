"""Text-analysis operators for a training-data pipeline.

All JVM-side built-in column expressions (deliberately: these run over every
document of a 100 TB corpus, so they must stay inside whole-stage codegen) —
language ID (stopword-hit heuristic), quality scoring, token counting, and a
winnowed document fingerprint (reuses the substring machinery).

Each has an exact ANSI-SQL twin in __spark_entry__.oracle_sql so the DuckDB
harness checks value-level parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fuzzy_dedupe_pipeline_spark.lsh import bucket_pairs

# Small deterministic stopword inventories. Heuristic quality is not the
# point (the driver corpus is synthetic); determinism + SQL-expressibility is.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "una", "los", "por"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "ein", "eine", "zu"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
}
LANG_PRIORITY = ("en", "es", "de", "fr")  # deterministic argmax tie-break


def tokens_simple(c: Column) -> Column:
    """Whitespace tokens (no normalization) — matches DuckDB
    string_split_regex(text, '\\s+') on pre-trimmed input."""
    return F.filter(F.split(c, r"\s+"), lambda x: x != "")


def token_count_col(c: Column) -> Column:
    return F.size(tokens_simple(c))


def stopword_hits_from_tokens(toks: Column, lang: str) -> Column:
    """Count of tokens (with multiplicity) that are stopwords of `lang`,
    off an already-tokenized array column — no re-split."""
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))


def stopword_hits_col(c: Column, lang: str) -> Column:
    """Count of tokens (with multiplicity) that are stopwords of `lang`."""
    return stopword_hits_from_tokens(tokens_simple(c), lang)


def _lang_argmax(hits: dict[str, Column]) -> Column:
    """argmax over per-language hit Columns; ties resolved by LANG_PRIORITY
    order; zero hits everywhere -> 'und'."""
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    for lang in reversed(LANG_PRIORITY):
        expr = F.when((hits[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr


def lang_id_col(c: Column) -> Column:
    """Single-Column form (convenience/tests). The corpus-scan path is
    with_lang_id: this expression tree re-splits the text once per language —
    Catalyst does not CSE across the per-language subtrees."""
    hits = {lang: stopword_hits_col(c, lang) for lang in LANG_PRIORITY}
    return _lang_argmax(hits)


def with_lang_id(
    df: DataFrame, text_col: str = "text", out_col: str = "lang_pred"
) -> DataFrame:
    """Corpus-scan language ID: tokenize ONCE, then per-language stopword
    hits off the array, then the argmax off materialized hit columns.

    Staged projections matter: `split` is non-cheap and referenced by all
    four languages, so Catalyst's CollapseProject keeps the stage boundary
    instead of inlining the regex split 4x (ditto the hit counts in the
    argmax when-chain). One regex pass per document instead of ~5.
    """
    staged = df.withColumn("_toks", tokens_simple(F.col(text_col)))
    hit_cols = {
        lang: f"_hits_{lang}" for lang in LANG_PRIORITY
    }
    staged = staged.select(
        "*",
        *[
            stopword_hits_from_tokens(F.col("_toks"), lang).alias(name)
            for lang, name in hit_cols.items()
        ],
    )
    hits = {lang: F.col(name) for lang, name in hit_cols.items()}
    return staged.withColumn(out_col, _lang_argmax(hits)).drop(
        "_toks", *hit_cols.values()
    )


def quality_score_cols(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Per-doc quality features + composite score — the web-pipeline analog of
    heuristic quality filters (length, punctuation density, stopword ratio,
    mean token length). Pure double arithmetic, bit-identical in any ANSI
    engine.

    Tokenizes once: the split / stopword-filter / punct-strip land in a
    staged projection whose results the scoring expressions reference as
    plain attributes (CollapseProject keeps the boundary for non-cheap
    multiply-referenced expressions).

    keep: extra input columns threaded through to the output unchanged —
    lets callers compose per-row pipelines (e.g. the curation funnel) in one
    projection chain instead of re-scanning and self-joining on id."""
    c = F.col(text_col)
    kept = [F.col(k) for k in keep]
    staged = df.select(
        F.col(id_col),
        *kept,
        F.length(c).alias("_n_chars"),
        tokens_simple(c).alias("_toks"),
        # punct count = chars remaining after removing word-char RUNS — same
        # value as length(c) - length(remove-punct) for every input, but the
        # positive class matches once per run instead of forcing Java regex
        # to restart a find() at every position of a rarely-matching negated
        # class (measured 3.1s -> 0.25s over 50k docs x 32 cores, r6)
        F.length(F.regexp_replace(c, r"[a-zA-Z0-9_ ]+", "")).alias("_punct"),
    ).select(
        F.col(id_col),
        *kept,
        "_n_chars",
        "_punct",
        F.size(F.col("_toks")).alias("_n_tokens"),
        stopword_hits_from_tokens(F.col("_toks"), "en").alias("_sw_hits"),
    )
    n_chars, n_tokens = F.col("_n_chars"), F.col("_n_tokens")
    sw_hits, punct = F.col("_sw_hits"), F.col("_punct")
    mean_tok_len = F.when(
        n_tokens > 0, (n_chars - (n_tokens - 1)) / n_tokens
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, sw_hits / n_tokens).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    score = (
        F.when((n_tokens >= 50) & (n_tokens <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((mean_tok_len >= 3) & (mean_tok_len <= 12), F.lit(0.3)).otherwise(F.lit(0.0))
        + F.when(stop_ratio >= 0.01, F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(punct_ratio <= 0.2, F.lit(0.1)).otherwise(F.lit(0.0))
    )
    return staged.select(
        F.col(id_col),
        *kept,
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def doc_fingerprints(
    df: DataFrame,
    k: int = 8,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowed rolling-hash document fingerprints (Schleimer et al. 2003),
    SQL-expressible variant: md5 over k-token grams, per-window minimum, set
    semantics. Returns (doc_id, fingerprint) — one row per distinct selected
    fingerprint. Docs shorter than k+window-1 tokens yield no rows.

    Winnowing guarantee: any shared verbatim token run of >= k+window-1 tokens
    shares at least one selected fingerprint, so equi-joining this output on
    `fingerprint` is a scalable (shuffle-on-key) substring-candidate generator.
    The dedup pipeline's internal pass (substring.py) uses a faster numeric
    rolling hash inside an Arrow UDF; this one trades speed for an exact
    ANSI-SQL twin (md5 is bit-identical across engines).
    """
    toks = tokens_simple(F.col(text_col))
    tok = df.select(F.col(id_col), F.posexplode(toks).alias("pos", "tok"))
    w_lead = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [
        F.lead("tok", i).over(w_lead) for i in range(1, k)
    ]
    grams = (
        tok.select(
            F.col(id_col),
            F.col("pos"),
            F.lead("tok", k - 1).over(w_lead).alias("_last"),
            F.md5(F.concat_ws(" ", *parts)).alias("gram"),
        )
        .filter(F.col("_last").isNotNull())  # drop incomplete tail grams
        .drop("_last")
    )
    w_min = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(-(window - 1), Window.currentRow)
    )
    return (
        grams.withColumn("fingerprint", F.min("gram").over(w_min))
        .filter(F.col("pos") >= window - 1)  # full windows only
        .select(F.col(id_col), "fingerprint")
        .dropDuplicates([id_col, "fingerprint"])
    )


def token_bigrams(toks: Column) -> Column:
    """Adjacent-token bigram strings off an already-tokenized array column —
    `transform(sequence(1, n-1), i -> tok[i] || ' ' || tok[i+1])`, the exact
    shape DuckDB's `list_transform(generate_series(...))` oracle uses.

    Guarded for n < 2: Spark's `sequence(1, 0)` yields the DESCENDING [1, 0]
    (step defaults to -1 when start > stop), which would fabricate a bogus
    bigram from tok[0]/tok[1]; short docs must yield an empty array."""
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat(
            F.element_at(toks, i), F.lit(" "), F.element_at(toks, i + 1)
        ),
    )
    return F.when(n >= 2, grams).otherwise(F.array().cast("array<string>"))


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style per-document repetition signals: the fraction of tokens
    (and of adjacent-token bigrams) that are repeats of an earlier occurrence
    — `1 - distinct/total`. Boilerplate-heavy and templated web pages score
    high and get filtered before training; the published Gopher rules cut at
    dup-ngram fractions in the 0.1-0.2 band.

    Pure JVM array expressions (`array_distinct` inside whole-stage codegen):
    per-row work only, NO shuffle — at 100 TB this runs as a map-only pass
    over the scan, unlike an explode+groupBy formulation which would shuffle
    every token. Tokenize-once staged projection, same pattern as
    quality_score_cols."""
    staged = df.select(
        F.col(id_col), tokens_simple(F.col(text_col)).alias("_toks")
    ).select(
        F.col(id_col),
        F.size(F.col("_toks")).alias("_n"),
        F.size(F.array_distinct(F.col("_toks"))).alias("_nd"),
        token_bigrams(F.col("_toks")).alias("_bg"),
    ).select(
        F.col(id_col),
        F.col("_n"),
        F.col("_nd"),
        F.size(F.col("_bg")).alias("_nb"),
        F.size(F.array_distinct(F.col("_bg"))).alias("_nbd"),
    )
    n, nd, nb, nbd = (F.col(c) for c in ("_n", "_nd", "_nb", "_nbd"))
    return staged.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        nd.cast("long").alias("n_distinct_tokens"),
        F.round(F.when(n > 0, 1.0 - nd / n).otherwise(F.lit(0.0)), 6).alias(
            "dup_token_ratio"
        ),
        F.round(F.when(nb > 0, 1.0 - nbd / nb).otherwise(F.lit(0.0)), 6).alias(
            "dup_bigram_ratio"
        ),
    )


def top_ngrams(
    df: DataFrame, k: int = 20, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-level top-k most frequent adjacent-token bigrams — the
    boilerplate-discovery aggregate a web pipeline runs to find nav bars,
    cookie banners and footer templates worth stripping before dedup.

    explode -> groupBy(gram).count() is ONE shuffle with map-side partial
    aggregation (hash-combine per task before exchange), then a k-row
    TakeOrderedAndProject — the per-partition top-k heap means no global
    sort materializes. Deterministic under ties: ordered by (count DESC,
    gram ASC)."""
    # explode_outer + null filter: plain explode makes Catalyst infer
    # `size(bigrams) > 0` and push the whole bigram construction below the
    # caller's spread exchange onto the single-partition scan (the same trap
    # measured at 62s in ngram_jaccard_pairs); row set is identical
    grams = df.select(
        F.explode_outer(token_bigrams(tokens_simple(F.col(text_col)))).alias(
            "gram"
        )
    ).filter(F.col("gram").isNotNull())
    return (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("gram").asc())
        .limit(k)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    min_jaccard: float = 0.01,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_cols: tuple[str, ...] = ("lang", "source"),
    max_gram_bucket: int = 1000,
) -> tuple[DataFrame, DataFrame]:
    """Word n-gram Jaccard similarity join within block_cols blocks.

    Pairs come from per-(gram, block) buckets (lsh.bucket_pairs, n_grams as
    payload) under the SAME hot-key guard as the LSH stage: a gram shared by
    m docs emits O(m^2) pairs, so grams whose per-block document frequency
    exceeds max_gram_bucket are counted and excluded before any array is
    built, and returned as `dropped` for the caller to log —
    a boilerplate trigram shared by 10^5 docs at web scale would otherwise
    produce 10^10 rows. Dropped grams also leave the Jaccard *numerator*
    (the denominator keeps every gram), so capped scores only ever shrink —
    the filter never invents pairs. Set max_gram_bucket above the corpus
    ceiling (e.g. sf0.01 has 500 docs) for exact oracle parity.

    Returns (pairs(id1, id2, jaccard), dropped(gram + block_cols, bucket_size)).
    """
    # r6 shuffle-count rewrite (guide §2.4): the distinct gram set per doc is
    # built as an ARRAY in the scan projection — tokenize once into a bound
    # attribute, then transform(sequence)/slice/concat_ws over it (the
    # earlier posexplode + lead-window formulation existed to avoid
    # re-tokenizing per element inside a HOF lambda; slicing a MATERIALIZED
    # token array has no such trap). array_distinct replaces the corpus-wide
    # dropDuplicates shuffle, the doc_id gram-count groupBy becomes a
    # map-side size(), and n_grams rides the exploded rows so the two
    # count-joins disappear: 2 shuffles total (gram buckets, pair agg)
    # instead of 7. Output is identical: same gram
    # strings (full windows, single-space joins), same distinct sets, same
    # denominators and cap semantics.
    toks = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != "")
    staged = docs.select(
        F.col(id_col).alias("id"), *block_cols, toks.alias("_toks")
    )
    sz = F.size(F.col("_toks"))
    grams = F.when(
        sz >= n,
        F.transform(
            F.sequence(F.lit(1), sz - n + 1),
            lambda i: F.concat_ws(" ", F.slice(F.col("_toks"), i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    staged = staged.select(
        "id", *block_cols, F.array_distinct(grams).alias("_gd")
    )
    # explode_OUTER + null filter, NOT plain explode: for a non-outer
    # generate Catalyst infers `size(_gd) > 0` and pushes it through the
    # exchange to the SCAN — re-evaluating the whole tokenize+gram
    # construction per row on the unspread (single-partition) scan side,
    # which measured 62s vs 6s at sf1.0. explode_outer infers nothing; the
    # explicit isNotNull restores the identical row set (empty-gram docs
    # contribute no gram rows either way).
    g = staged.select(
        "id",
        *block_cols,
        F.size(F.col("_gd")).alias("n_grams"),
        F.explode_outer(F.col("_gd")).alias("gram"),
    ).filter(F.col("gram").isNotNull())
    # one exchange of the gram rows computes the scan->tokenize->gram
    # lineage once. Grams are per-doc distinct, so ids are unique per bucket
    # and `shared` counts each shared gram once.
    pairs, dropped = bucket_pairs(
        g, ["gram", *block_cols], max_gram_bucket, ["n_grams"]
    )
    shared = F.col("shared")
    union = F.col("n_grams1") + F.col("n_grams2") - shared
    jaccard = (
        pairs.groupBy("id1", "id2", "n_grams1", "n_grams2")
        .agg(F.count("*").cast("long").alias("shared"))
        .select("id1", "id2", F.round(shared / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )
    return jaccard, dropped


# --- C4-style line-quality filter -----------------------------------------

# the classic C4 (Raffel et al. 2020, §2.2) line heuristics, re-expressed as
# one map-only JVM array pass: keep a line only if it ends in terminal
# punctuation, has >= c4_min_words words, and contains neither code braces
# nor the "lorem ipsum" placeholder. Patterns use explicit whitespace
# classes (not \s) so Java regex and the DuckDB oracle's RE2 agree.
C4_MIN_WORDS = 5
_C4_WS = "[ \\t\\n\\r\\f]+"


def c4_keep_line(l: Column, min_words: int = C4_MIN_WORDS) -> Column:
    return (
        l.rlike('[.!?"]$')
        & (F.size(F.split(l, _C4_WS)) >= min_words)
        & ~l.contains("{")
        & ~F.lower(l).contains("lorem ipsum")
    )


def c4_line_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_words: int = C4_MIN_WORDS,
) -> DataFrame:
    """-> (id_col, text_clean, n_lines, n_kept): per-doc C4 line filter,
    surviving-line order preserved. Map-only (no shuffle, no Python) — at
    100 TB this fuses into the scan projection like the other text filters."""
    from fuzzy_dedupe_pipeline_spark.linededup import lines_col

    lines = lines_col(F.col(text_col), sep)  # NULL-text-safe (empty array)
    kept = F.filter(lines, lambda l: c4_keep_line(l, min_words))
    return docs.select(
        id_col,
        F.concat_ws(sep, kept).alias("text_clean"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
    )
