"""Text-analysis operators: token counting, quality stats/score,
language ID, document fingerprinting. All pure JVM expressions (or a
broadcast join against a tiny profile table) — no Python in the row
path, so they fuse into whole-stage codegen with the rest of the plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from spark_ext_spark.llm.dedup import normalize_text, shingle_array

__all__ = ["tokens", "text_stats", "quality_score", "language_id",
           "fingerprint", "tfidf_top_terms", "chunk_documents",
           "redact_pii", "repeated_ngram_spans", "gopher_rules",
           "winnow_fingerprints", "winnow_match_pairs", "STOPWORDS"]

# Tiny per-language stopword profiles (top function words) for the
# n-gram/stopword language-ID heuristic.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "est"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ein", "ist"],
    "zh": ["的", "了", "是", "在", "我", "有", "和", "就", "不", "人"],
}


def tokens(col: Column | str) -> Column:
    """Whitespace+punctuation tokenizer (BPE-ish regex split) as a JVM
    expression; empty strings filtered."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), r"[\s\p{Punct}]+"),
                    lambda t: t != "")


def text_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document stats: char length, token count, distinct-token
    ratio, punctuation/digit/whitespace ratios, mean token length."""
    c = F.col(text_col)
    toks = tokens(text_col)
    n_chars = F.length(c)
    nz = F.greatest(n_chars, F.lit(1))
    n_tokens = F.size(toks)
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(F.size(F.array_distinct(toks))
                / F.greatest(n_tokens, F.lit(1)).cast("double"), 4)
         .alias("distinct_ratio"),
        F.round(F.length(F.regexp_replace(c, r"[^\p{Punct}]", "")) / nz, 4)
         .alias("punct_ratio"),
        F.round(F.length(F.regexp_replace(c, r"[^0-9]", "")) / nz, 4)
         .alias("digit_ratio"),
        F.round(F.length(F.regexp_replace(c, r"\S", "")) / nz, 4)
         .alias("space_ratio"),
        F.round((n_chars - F.length(F.regexp_replace(c, r"\s", "")))
                .cast("double"), 4).alias("n_spaces"))


def quality_score(df: DataFrame, id_col: str, text_col: str,
                  min_chars: int = 50, max_chars: int = 10000) -> DataFrame:
    """Heuristic [0,1] quality score: length window, token diversity,
    low punctuation/digit noise — the standard cheap pre-filter in a
    training-data pipeline."""
    stats = text_stats(df, id_col, text_col)
    length_ok = ((F.col("n_chars") >= min_chars)
                 & (F.col("n_chars") <= max_chars)).cast("double")
    diversity = F.least(F.col("distinct_ratio") * 2, F.lit(1.0))
    noise = F.greatest(
        F.lit(0.0),
        F.lit(1.0) - (F.col("punct_ratio") + F.col("digit_ratio")) * 5)
    # floor-quantize instead of F.round: the 0.3·(4dp ratio) products
    # land EXACTLY on the .00005 half-grid, where Spark's BigDecimal
    # shortest-repr rounding and DuckDB's binary-value rounding flip
    # opposite ways; floor(x·1e4 + 0.5)/1e4 is the same double op
    # chain on both engines (see plans/relational._lattice_avg_4dp)
    raw = 0.4 * length_ok + 0.3 * diversity + 0.3 * noise
    score = F.floor(raw * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)
    return stats.select(id_col, score.alias("quality_score"))


def winnow_fingerprints(df: DataFrame, id_col: str, text_col: str,
                        k: int = 4, window: int = 5) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, the
    MOSS algorithm): hash every k-gram, slide a ``window`` over the
    hash sequence, keep each window's MINIMUM hash — guaranteeing any
    shared substring of length ≥ k+window-1 contributes at least one
    matching fingerprint, with ~2/(window+1) selection density. The
    position-aware, local complement to MinHash (which sketches the
    global shingle SET and can't localize matches).

    Returns distinct (doc, fp) rows. All-JVM: k-grams from
    dedup.shingle_array, the 60-bit hash is an md5-prefix (base-16
    conv — codegen, and DuckDB replays it exactly; xxhash64 does not
    exist there), window minima via array_min over slices."""
    from spark_ext_spark.sources.io import ensure_fanout

    wdf = ensure_fanout(
        df.select(F.col(id_col).alias("doc"),
                  F.split(normalize_text(text_col), " ").alias("__w")),
        "doc")
    gram = shingle_array(F.col("__w"), k)
    # md5-prefix 60-bit hash: deterministic, engine-replayable
    hashes = F.transform(
        gram, lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10)
        .cast("long"))
    hdf = wdf.select("doc", hashes.alias("__h"))
    n_h = F.size("__h")
    win_idx = F.when(
        n_h >= window,
        F.sequence(F.lit(0), n_h - F.lit(window))
    ).otherwise(F.when(n_h > 0, F.array(F.lit(0)))
                .otherwise(F.array().cast("array<int>")))
    fps = F.transform(
        win_idx,
        lambda i: F.array_min(F.slice("__h", i + 1,
                                      F.least(F.lit(window), n_h))))
    return (hdf.select("doc", F.explode(F.array_distinct(fps))
                       .alias("fp"))
            .distinct())


def winnow_match_pairs(df: DataFrame, id_col: str, text_col: str,
                       k: int = 4, window: int = 5,
                       min_shared: int = 2) -> DataFrame:
    """Candidate local-overlap pairs: documents sharing ≥ min_shared
    winnowing fingerprints (each shared fingerprint certifies a common
    substring of ≥ k+window-1 words at some position). Blocked
    equi-join on the fingerprint — never all-pairs."""
    fp = winnow_fingerprints(df, id_col, text_col, k, window).cache()
    a = fp.select(F.col("doc").alias("doc_a"), "fp")
    b = fp.select(F.col("doc").alias("doc_b"), "fp")
    return (a.join(b, "fp")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("shared_fps"))
            .filter(F.col("shared_fps") >= min_shared))


def gopher_rules(df: DataFrame, id_col: str, text_col: str,
                 min_words: int = 50, max_words: int = 100_000,
                 min_mean_word_len: float = 3.0,
                 max_mean_word_len: float = 10.0,
                 max_symbol_ratio: float = 0.1,
                 min_alpha_ratio: float = 0.8,
                 min_stopwords: int = 2) -> DataFrame:
    """Gopher-style hard quality rules (Rae et al. 2021, §A1.1) as one
    per-document rule report plus an overall ``keep`` flag — the
    published-recipe counterpart to the soft :func:`quality_score`:

    - word count in [min_words, max_words] (whitespace words);
    - mean word length in [min_mean_word_len, max_mean_word_len];
    - symbol-to-word ratio (# and ellipsis) ≤ max_symbol_ratio;
    - ≥ min_alpha_ratio of words contain an alphabetic character;
    - ≥ min_stopwords distinct common English stopwords present.

    One scan, no shuffle, no UDF. Word-character total comes from
    ``length(regexp_replace(text, '\\s', ''))`` (codegen) instead of a
    higher-order fold (interpreted); thresholds compare ROUNDED (4dp)
    ratios so the booleans are reproducible across engines. The
    alpha-word count uses one higher-order filter (interpreted but
    linear); everything else stays in whole-stage codegen.
    """
    c = F.col(text_col)
    words = F.filter(F.split(c, r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    nzw = F.greatest(n_words, F.lit(1)).cast("double")
    word_chars = F.length(F.regexp_replace(c, r"\s", ""))
    mean_len = F.round(word_chars / nzw, 4)
    n_symbols = (F.regexp_count(c, F.lit("#"))
                 + F.regexp_count(c, F.lit(r"(\.\.\.|…)")))
    symbol_ratio = F.round(n_symbols / nzw, 4)
    alpha_words = F.size(F.filter(words,
                                  lambda w: w.rlike("[A-Za-z]")))
    alpha_ratio = F.round(alpha_words / nzw, 4)
    n_stop = F.size(F.array_intersect(
        F.array_distinct(tokens(text_col)),
        F.lit(list(STOPWORDS["en"]))))
    ok_words = (n_words >= min_words) & (n_words <= max_words)
    ok_mean_len = ((mean_len >= min_mean_word_len)
                   & (mean_len <= max_mean_word_len))
    ok_symbols = symbol_ratio <= max_symbol_ratio
    ok_alpha = alpha_ratio >= min_alpha_ratio
    ok_stop = n_stop >= min_stopwords
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        n_stop.alias("n_stopwords"),
        ok_words.alias("ok_words"),
        ok_mean_len.alias("ok_mean_len"),
        ok_symbols.alias("ok_symbols"),
        ok_alpha.alias("ok_alpha"),
        ok_stop.alias("ok_stop"),
        (ok_words & ok_mean_len & ok_symbols & ok_alpha
         & ok_stop).alias("keep"))


def language_id(df: DataFrame, id_col: str, text_col: str,
                profiles: dict[str, list[str]] | None = None,
                carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """Stopword-profile language ID: explode tokens, broadcast-join the
    (word → lang) profile table, argmax hit count per doc with
    deterministic tie-break (count desc, lang asc); 'und' when no
    profile word occurs. Scales as one explode + broadcast join +
    two-level agg.

    ``carry_cols``: extra per-row columns to pass through to the
    output. They ride the operator's OWN final doc join — NOT the
    exploded token rows, which stay narrow — so a caller that needs (lang_pred, source, …) per doc gets them
    without a second doc-sized join back onto its input
    (OPTIMIZATION_r12.md)."""
    profiles = profiles or STOPWORDS
    spark = df.sparkSession
    profile_rows = [(w, lang) for lang, ws in profiles.items() for w in ws]
    prof = F.broadcast(
        spark.createDataFrame(profile_rows, "word string, lang string"))

    exploded = df.select(F.col(id_col),
                         F.explode(tokens(text_col)).alias("word"))
    hits = (exploded.join(prof, "word")
            .groupBy(id_col, "lang").agg(F.count(F.lit(1)).alias("hits")))
    best = (hits
            .withColumn("rk", F.row_number().over(
                Window.partitionBy(id_col)
                .orderBy(F.desc("hits"), F.asc("lang"))))
            .filter(F.col("rk") == 1)
            .select(id_col, F.col("lang").alias("lang_pred"), "hits"))
    return (df.select(id_col, *carry_cols).join(best, id_col, "left")
            .select(id_col, *carry_cols,
                    F.coalesce("lang_pred", F.lit("und")).alias("lang_pred"),
                    F.coalesce("hits", F.lit(0)).alias("hits")))


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str,
                    k: int = 3, round_to: int = 4) -> DataFrame:
    """Top-k terms per document by smoothed TF-IDF
    (``tf · (ln((N+1)/(df+1)) + 1)``) — the classic keyword/feature
    extraction pass of a text pipeline, kept fully JVM-side.

    Plan: explode → (doc, term) count (shuffle 1) → term document
    frequency (shuffle 2, already term-partitioned partials) → join tf
    back to df-per-term (shuffle on term) → per-doc top-k window. The
    corpus size N rides along as a broadcast single-row cross join, not
    a driver round-trip outside the plan. Ranking uses the ROUNDED
    score (desc, then term asc) so cross-engine ULP noise in ln() can't
    reorder the cut."""
    from spark_ext_spark.sources.io import ensure_fanout
    toks = (ensure_fanout(df.select(F.col(id_col), F.col(text_col)), id_col)
            .select(F.col(id_col), F.explode(tokens(text_col)).alias("term")))
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    from spark_ext_spark.functions import attach_scalar_agg
    idf = F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1
    scored = (attach_scalar_agg(tf.join(dfreq, "term"),
                                {"n_docs": F.count(F.lit(1))}, source=df)
              .select(F.col(id_col), "term", "tf",
                      F.round(F.col("tf") * idf, round_to).alias("tfidf")))
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (scored
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(id_col, "term", "tf", "tfidf",
                    F.col("rk").cast("int").alias("rk")))


def fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic document fingerprint: md5 of the normalized text
    (matching md5() in any other engine) plus a locality-insensitive
    sorted-token variant that survives word reordering.

    NULL text → NULL in BOTH columns (concat_ws would silently turn a
    null token array into '' and stamp every null doc with md5('') —
    colliding them all into one spurious dedup cluster); a non-null
    but token-less text (empty, whitespace, punctuation-only) is a
    real value and fingerprints as md5('')."""
    norm = normalize_text(text_col)
    sorted_tokens = F.concat_ws(" ", F.array_sort(tokens(text_col)))
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fingerprint"),
        F.when(F.col(text_col).isNull(), F.lit(None))
         .otherwise(F.md5(sorted_tokens)).alias("bag_fingerprint"))


def chunk_documents(df: DataFrame, id_col: str, text_col: str,
                    chunk_tokens: int = 50, overlap: int = 10) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    standard training-data prep step — entirely with JVM array
    expressions: tokenize once, generate window starts with sequence(),
    slice per start, explode. No Python, no shuffle; output cardinality
    ≈ total_tokens / (chunk_tokens - overlap).

    Output: (id, chunk_idx, n_chunk_tokens, chunk_text)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    step = chunk_tokens - overlap
    toks = tokens(text_col)
    tdf = df.select(F.col(id_col), toks.alias("__tk"))
    starts = F.sequence(F.lit(1), F.greatest(F.size("__tk"), F.lit(1)),
                        F.lit(step))
    chunks = F.transform(starts, lambda s: F.slice("__tk", s, chunk_tokens))
    ex = tdf.select(id_col,
                    F.posexplode(chunks).alias("chunk_idx", "__chunk"))
    return (ex.filter(F.size("__chunk") > 0)
            .select(id_col, "chunk_idx",
                    F.size("__chunk").alias("n_chunk_tokens"),
                    F.concat_ws(" ", "__chunk").alias("chunk_text")))


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Regex PII scrub (emails, long digit runs) as pure JVM
    expressions — the cheap first pass of a pipeline's compliance
    stage; entity-model scrubbing would ride the multimodal
    mapInPandas seam instead. Patterns stay in the portable subset
    (character classes + bounded repeats) shared by Java regex and
    RE2-style engines.

    Output: (id, redacted, n_emails, n_numbers)."""
    email = r"[A-Za-z0-9_.+-]+@[A-Za-z0-9-]+\.[A-Za-z0-9.-]+"
    number = r"\+?[0-9][0-9 -]{7,}[0-9]"
    c = F.col(text_col)
    return df.select(
        F.col(id_col),
        F.regexp_replace(F.regexp_replace(c, email, "<EMAIL>"),
                         number, "<NUMBER>").alias("redacted"),
        F.regexp_count(c, F.lit(email)).alias("n_emails"),
        F.regexp_count(c, F.lit(number)).alias("n_numbers"))


def char_trigram_lm_scores(df: DataFrame, id_col: str, text_col: str,
                           round_to: int = 4) -> DataFrame:
    """Character-trigram language-model quality score: train a unigram
    trigram profile over the corpus (count/total), then score each doc
    by the MEAN log10 probability of its trigrams — the classic
    perplexity-style filter for pretraining data (documents far from
    the corpus distribution score low: wrong charset, boilerplate,
    binary junk).

    All JVM expressions: trigrams via sequence+substr transform (no
    Python), profile via one trigram-keyed shuffle with map-side
    combine, scoring via a join on trigram + per-doc avg. The profile
    is corpus-trained inside the SAME plan (self-supervised — no
    labels, no driver state). Trigram vocabulary is bounded by
    charset³, so the profile side of the join stays compact at any
    corpus size. Scores use the rounded mean so cross-engine ULP noise
    in log10 cancels.

    The normalized text is PROJECTED before the transform lambda (same
    rule as shingle_array): a lambda referencing the raw regexp
    expression re-evaluates it per element (measured in
    OPTIMIZATION_r12.md)."""
    from spark_ext_spark.sources.io import ensure_fanout
    base = ensure_fanout(
        df.select(F.col(id_col), normalize_text(text_col).alias("__t")),
        id_col)
    t = F.col("__t")
    # explode the OFFSETS, then take trigrams with a plain substr
    # projection: substr(t, i, 3) with column args is whole-stage
    # codegen, while a transform() lambda is interpreted (measured in
    # OPTIMIZATION_r12.md). when() guards len<3
    # (sequence(1,0) would count DOWN, not produce empty).
    offsets = F.explode(F.when(
        F.length(t) >= 3, F.sequence(F.lit(1), F.length(t) - 2)))
    exploded = (base.select(F.col(id_col), t, offsets.alias("__i"))
                .select(F.col(id_col),
                        F.substr(t, F.col("__i"), F.lit(3)).alias("tri")))
    # ONE explode pipeline: compact to per-doc term frequencies first;
    # profile/total/scores all derive from tf, whose (doc, tri) shuffle
    # is a shared subplan (ReusedExchange) — the raw trigram stream is
    # materialized once, not once per consumer.
    tf = (exploded.groupBy(id_col, "tri")
          .agg(F.count(F.lit(1)).alias("tf")))
    profile = tf.groupBy("tri").agg(F.sum("tf").alias("cnt"))
    from spark_ext_spark.functions import attach_scalar_agg
    # profile is charset³-bounded → broadcast; the only remaining big
    # shuffle is the final per-doc aggregation
    scored = (attach_scalar_agg(tf.join(F.broadcast(profile), "tri"),
                                {"total": F.sum("cnt")}, source=profile)
              .groupBy(id_col)
              .agg(F.sum("tf").alias("n_trigrams"),
                   F.round(F.sum(F.col("tf")
                                 * F.log10(F.col("cnt") / F.col("total")))
                           / F.sum("tf"), round_to).alias("lm_score")))
    return scored


def repeated_ngram_spans(df: DataFrame, id_col: str, text_col: str,
                         n: int = 8, min_df: int = 3,
                         k: int = 50) -> DataFrame:
    """Cross-document repeated n-gram spans — the span-level dedup
    primitive from "Deduplicating Training Data Makes Language Models
    Better" (Lee et al., 2022): every word n-gram occurring in at least
    ``min_df`` distinct documents, with its document frequency and
    total occurrence count; top ``k`` by (df, occurrences) with the
    gram string as the deterministic tie-break.

    Plan shape: tokenize → posexplode → per-document ``lead`` window
    builds each gram with ``concat_ws`` (whole-stage codegen; the
    equivalent in-row ``transform``+``slice`` array expressions are
    interpreted and slower, OPTIMIZATION_r12.md) → hash-agg on the
    gram → HAVING filter → TakeOrderedAndProject. Two shuffles: the
    token stream once on the doc key (documents are length-bounded, so
    a doc's tokens always fit one task), then the map-side-combined
    gram agg. At 100 TB the gram key space is huge but uniform — the
    agg is the scale limit and shards cleanly; swap the gram string
    for ``xxhash64(gram)`` to shrink shuffle width when the span text
    itself isn't needed.
    """
    from spark_ext_spark.sources.io import ensure_fanout
    # fanning out on the doc key ALSO satisfies the window's required
    # distribution, so the lead() stage reuses this exchange instead of
    # adding one
    ex = (ensure_fanout(df.select(F.col(id_col).alias("doc_id"),
                                  F.col(text_col)), "doc_id")
          .select("doc_id",
                  F.posexplode(tokens(F.col(text_col))).alias("pos", "w")))
    win = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.concat_ws(
        " ", F.col("w"), *[F.lead("w", i).over(win) for i in range(1, n)])
    return (ex
            .select("doc_id", gram.alias("gram"),
                    F.lead("w", n - 1).over(win).alias("__last"))
            .filter(F.col("__last").isNotNull())
            .groupBy("gram")
            .agg(F.countDistinct("doc_id").alias("df"),
                 F.count(F.lit(1)).alias("occurrences"))
            .filter(F.col("df") >= min_df)
            .orderBy(F.desc("df"), F.desc("occurrences"), F.asc("gram"))
            .limit(k))
