"""Text analysis operators: language ID, quality scoring, token counting,
document fingerprinting. All pure JVM expressions (pyspark.sql.functions) —
no Python on any path; each is a column factory so it composes into any
select/groupBy.

These back the training-data-pipeline surface; the reference analogs are its
string-normalization ETL patterns (SURVEY.md P7/P8) and the quality cutoffs
its parsers apply (score >= cutoff filters, stringParser.py:51).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# tiny per-language stopword lists for the n-gram/stopword language heuristic
# (space-tokenized scripts only; CJK/Cyrillic/Arabic go via script ranges —
# a pinyin stopword list can never match real Chinese text)
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "was"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del", "se", "por"],
    "de": ["der", "die", "und", "das", "nicht", "von", "mit", "ist", "des", "ein"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "que", "pour", "qui"],
}

# Unicode-block character classes for non-space-tokenized scripts; ratio of
# matching chars over non-space chars is the detector (pure JVM regexp).
# Kana is checked before the Han range so Japanese (which mixes kanji) wins
# over zh whenever kana is present.
LANG_SCRIPTS: dict[str, str] = {
    "ja": "[\\u3040-\\u30ff]",          # hiragana + katakana
    "ko": "[\\uac00-\\ud7af]",          # hangul syllables
    "zh": "[\\u4e00-\\u9fff]",          # CJK unified ideographs
    "ru": "[\\u0400-\\u04ff]",          # cyrillic
    "ar": "[\\u0600-\\u06ff]",          # arabic
}


def tokens(col: Column) -> Column:
    """Whitespace tokens of lowercased text (empty array for empty/null)."""
    t = F.split(F.trim(F.lower(F.coalesce(col, F.lit("")))), r"\s+")
    return F.filter(t, lambda x: x != "")


def token_count(col: Column) -> Column:
    """Whitespace token count (SURVEY 'token counting')."""
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish subword proxy: count of maximal runs of word chars / digits /
    punctuation (a cheap, deterministic stand-in for a real tokenizer)."""
    pattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
    return F.size(
        F.regexp_extract_all(F.coalesce(col, F.lit("")), F.lit(pattern), F.lit(0))
    )


def char_len(col: Column) -> Column:
    return F.length(F.coalesce(col, F.lit("")))


def punct_ratio(col: Column) -> Column:
    """Fraction of non-alphanumeric, non-space characters."""
    c = F.coalesce(col, F.lit(""))
    stripped = F.regexp_replace(c, r"[^a-zA-Z0-9\s]", "")
    return F.when(F.length(c) > 0,
                  (F.length(c) - F.length(stripped)) / F.length(c)).otherwise(F.lit(0.0))


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    toks = tokens(col)
    stops = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    vocabulary diversity. Deterministic; thresholds from common web-pipeline
    practice (length >= 20 tokens, punct <= 20%, distinct-token ratio)."""
    n = token_count(col)
    distinct_ratio = F.when(
        n > 0, F.size(F.array_distinct(tokens(col))) / n
    ).otherwise(F.lit(0.0))
    len_score = F.least(n / F.lit(20.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_ratio(col) * 5.0, F.lit(1.0))
    return F.round((len_score + punct_score + distinct_ratio) / 3.0, 6)


def script_ratio(col: Column, lang: str) -> Column:
    """Fraction of non-space characters in ``lang``'s Unicode block.

    Counted by length difference after REMOVING the block's characters —
    one plain character-class regex. (The original removed every char NOT
    in the block via a `(?!class).` negative lookahead, which the regex
    engine evaluates per input position; same value, ~several times the
    cost, and lang_best evaluates this for five scripts per row.)"""
    c = F.regexp_replace(F.coalesce(col, F.lit("")), r"\s", "")
    removed = F.regexp_replace(c, LANG_SCRIPTS[lang], "")
    return F.when(
        F.length(c) > 0,
        (F.length(c) - F.length(removed)) / F.length(c)).otherwise(F.lit(0.0))


def lang_scores(col: Column) -> Column:
    """Map lang -> detector score: stopword-hit ratio for space-tokenized
    languages, Unicode-script char ratio for zh/ja/ko/ru/ar."""
    langs = sorted(LANG_STOPWORDS) + list(LANG_SCRIPTS)
    scores = ([stopword_ratio(col, c) for c in sorted(LANG_STOPWORDS)]
              + [script_ratio(col, c) for c in LANG_SCRIPTS])
    return F.map_from_arrays(F.array(*[F.lit(c) for c in langs]), F.array(*scores))


def lang_best(col: Column) -> Column:
    """argmax language; 'und' when nothing matches.

    Script-range detectors win whenever a script ratio clears 0.15 (their
    scores approach 1.0 on native text, while stopword ratios top out around
    0.3-0.5, so mixed documents resolve to the dominant script). Japanese
    mixes kanji (the Han block) with kana, so ANY meaningful kana presence
    (> 0.05) decides ja before the generic argmax — Chinese contains no
    kana. Deterministic: pure column arithmetic, tie-break by score then
    language code.
    """
    ja_override = F.when(script_ratio(col, "ja") > 0.05, F.lit("ja"))
    script_pairs = F.array(
        *[
            F.struct(script_ratio(col, c).alias("score"), F.lit(c).alias("lang"))
            for c in sorted(LANG_SCRIPTS)
        ]
    )
    script_best = F.array_max(F.filter(script_pairs, lambda p: p["score"] > 0.15))
    stop_pairs = F.array(
        *[
            F.struct(stopword_ratio(col, c).alias("score"), F.lit(c).alias("lang"))
            for c in sorted(LANG_STOPWORDS)
        ]
    )
    stop_best = F.array_max(F.filter(stop_pairs, lambda p: p["score"] > 0))
    return F.coalesce(ja_override, script_best["lang"], stop_best["lang"],
                      F.lit("und"))


def doc_fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercase, collapsed whitespace/punctuation) — the exact-dedup key."""
    norm = F.trim(F.regexp_replace(F.lower(F.coalesce(col, F.lit(""))), r"[^a-z0-9]+", " "))
    return F.md5(norm)


def rolling_fingerprint(col: Column, window: int = 8) -> Column:
    """Winnowing-style content fingerprint: min xxhash64 over token
    ``window``-grams — robust to small edits, JVM fold only."""
    toks = tokens(col)
    # build n-grams from the tokens array and take the min hash
    return F.when(
        F.size(toks) >= window,
        F.array_min(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - window + 1),
                lambda i: F.xxhash64(F.array_join(F.slice(toks, i, window), " ")),
            )
        ),
    ).otherwise(F.xxhash64(F.array_join(toks, " ")))


def document_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass per-document stat block."""
    c = F.col(text_col)
    return df.select(
        "*",
        token_count(c).alias("n_tokens"),
        char_len(c).alias("n_chars_calc"),
        F.round(punct_ratio(c), 6).alias("punct_ratio"),
        quality_score(c).alias("quality"),
        lang_best(c).alias("lang_guess"),
        doc_fingerprint(c).alias("fingerprint"),
    )


# -- corpus-level quality filters (Gopher / C4 style) -------------------------
#
# Training-data cleaning rules from the published corpus pipelines:
# Gopher's document-quality heuristics (Rae et al. 2021, appendix A1) and
# C4's line-level cleaning (Raffel et al. 2020, §2.2). Pure JVM column
# expressions — higher-order array functions, zero Python — so they run
# inside whole-stage codegen over a 100-TB documents table and push the
# ``keep`` predicate down to the scan when used as a filter.

GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _gopher_metric_cols(text_expr: Column) -> dict[str, Column]:
    """The Gopher metric columns over one text expression (shared by the
    DataFrame-level flags and the streaming keep-predicate)."""
    text = F.coalesce(text_expr, F.lit(""))
    toks = tokens(text_expr)
    n_words = F.size(toks)
    nw = F.greatest(n_words, F.lit(1)).cast("double")
    mean_wl = F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
    ).cast("double") / nw
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ell = (
        (F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))) / 3
        + F.length(text) - F.length(F.replace(text, F.lit("…"), F.lit("")))
    )
    lines = F.split(text, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    return {
        "n_words": n_words,
        "mean_word_len": mean_wl,
        "symbol_word_ratio": (n_hash + n_ell) / nw,
        "bullet_line_frac": F.size(F.filter(
            lines, lambda l: F.ltrim(l).rlike("^[-*•●▪]"))) / n_lines,
        "ellipsis_line_frac": F.size(F.filter(
            lines, lambda l: F.rtrim(l).rlike("(\\.\\.\\.|…)$"))) / n_lines,
        "alpha_word_frac": F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))) / nw,
        "stopword_hits": F.size(F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]))),
    }


def _gopher_keep(m: dict[str, Column], min_words: int, max_words: int,
                 min_mean_word_len: float, max_mean_word_len: float,
                 max_symbol_word_ratio: float, max_bullet_line_frac: float,
                 max_ellipsis_line_frac: float, min_alpha_word_frac: float,
                 min_stopword_hits: int) -> Column:
    return (
        m["n_words"].between(min_words, max_words)
        & m["mean_word_len"].between(min_mean_word_len, max_mean_word_len)
        & (m["symbol_word_ratio"] <= max_symbol_word_ratio)
        & (m["bullet_line_frac"] <= max_bullet_line_frac)
        & (m["ellipsis_line_frac"] <= max_ellipsis_line_frac)
        & (m["alpha_word_frac"] >= min_alpha_word_frac)
        & (m["stopword_hits"] >= min_stopword_hits)
    )


def gopher_keep_expr(
    text_expr: Column,
    min_words: int = 50, max_words: int = 100_000,
    min_mean_word_len: float = 3.0, max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9, max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8, min_stopword_hits: int = 2,
) -> Column:
    """The Gopher keep-rule as ONE boolean column — usable directly in a
    streaming ``where`` (no projection, no join; stays stateless)."""
    return _gopher_keep(
        _gopher_metric_cols(text_expr), min_words, max_words,
        min_mean_word_len, max_mean_word_len, max_symbol_word_ratio,
        max_bullet_line_frac, max_ellipsis_line_frac, min_alpha_word_frac,
        min_stopword_hits)


def gopher_quality_flags(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    min_words: int = 50, max_words: int = 100_000,
    min_mean_word_len: float = 3.0, max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9, max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8, min_stopword_hits: int = 2,
) -> DataFrame:
    """Per-document Gopher quality metrics + rule flags + overall ``keep``.

    Every metric is a JVM expression over the token/line arrays:
    word-count bounds, mean word length window, symbol-to-word ratio
    (hash + ellipsis), bullet-start and ellipsis-end line fractions,
    alphabetic-word fraction, and the stop-word-presence count
    (``array_intersect`` against an 8-word literal array — the Gopher
    "contains at least N of ..." rule).
    """
    m = _gopher_metric_cols(F.col(text_col))
    out = df.select(
        F.col(id_col), *[expr.alias(name) for name, expr in m.items()])
    keep = _gopher_keep(
        {name: F.col(name) for name in m}, min_words, max_words,
        min_mean_word_len, max_mean_word_len, max_symbol_word_ratio,
        max_bullet_line_frac, max_ellipsis_line_frac, min_alpha_word_frac,
        min_stopword_hits)
    return out.withColumn("keep", keep)


C4_BLOCKLIST = ["javascript", "lorem ipsum", "{"]


def c4_line_filter(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    min_line_words: int = 5,
) -> DataFrame:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2): keep lines that end
    in terminal punctuation, carry at least ``min_line_words`` words, and
    contain no blocklisted substring; rebuild the document from kept lines.

    Returns (id, clean_text, n_lines_kept, n_lines_total). Narrow JVM map —
    no shuffle, codegen-friendly, safe to chain before tokenization."""
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(text, "\n")

    def line_ok(l):
        ok = F.rtrim(l).rlike("[.!?\"']$")
        ok = ok & (F.size(F.split(F.trim(l), r"\s+")) >= min_line_words)
        low = F.lower(l)
        for b in C4_BLOCKLIST:
            ok = ok & ~low.contains(b)
        return ok

    kept = F.filter(lines, line_ok)
    return df.select(
        F.col(id_col),
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(kept).alias("n_lines_kept"),
        F.size(lines).alias("n_lines_total"),
    )


def _keep_empty_docs(df: DataFrame, id_col: str, per_doc: DataFrame) -> DataFrame:
    """Left-join per-doc token scores back onto the input doc ids so
    zero-token documents surface as (doc_id, 0, null) instead of silently
    vanishing from the output (the explode emits no rows for them)."""
    ids = df.select(F.col(id_col).alias("doc_id")).distinct()
    return ids.join(per_doc, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        "mean_neg_logp",
    )


def unigram_logprob_score(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          vocab_size: int = 100_000) -> DataFrame:
    """Perplexity-proxy quality score: mean token negative log-probability
    under the corpus's OWN add-one-smoothed unigram distribution — the
    cheap stand-in for the CCNet-style LM quality signal (low score =
    typical text, high = rare-token soup). Deterministic formula:

        p(t) = (c_t + 1) / (N + V + 1)   for the top ``vocab_size`` tokens,
        p(OOV) = 1 / (N + V + 1),

    N = corpus token count, V = kept-vocabulary size.

    Scale shape: one algebraic token-count aggregation (shuffle keyed on
    token, map-side combined), top-``vocab_size`` cut (dictionary-scale),
    BROADCAST back against the exploded token stream, one per-doc mean —
    the corpus is scanned twice and never shuffled on doc_id beyond its
    own layout. Output: (doc_id, n_tokens, mean_neg_logp) — zero-token
    documents are KEPT (n_tokens=0, mean_neg_logp null) via a left join
    back to the input ids; explode alone would silently drop them."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")).collect()[0]
    n_total, v = int(totals["n"] or 0), int(totals["v"] or 0)
    denom = float(n_total + min(v, vocab_size) + 1)
    vocab = (
        counts.orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .select("tok", ((F.col("c") + 1) / denom).alias("p"))
    )
    scored = (
        toks.join(F.broadcast(vocab), on="tok", how="left")
        .select("doc_id",
                (-F.log(F.coalesce("p", F.lit(1.0 / denom)))).alias("nlp"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg("nlp").alias("mean_neg_logp"),
    )
    return _keep_empty_docs(df, id_col, per_doc)


def build_unigram_model(df: DataFrame, model_dir: str,
                        id_col: str = "doc_id", text_col: str = "text",
                        vocab_size: int = 100_000) -> str:
    """Persist the corpus unigram LM (the ``unigram_logprob_score`` model)
    as a vocabulary table + JSON manifest — train once over the 100-TB
    corpus, score any stream/batch later without re-aggregating. The
    vocabulary is a lineage stage (``unigram_vocab`` snapshot table with
    its per-partition metrics; plans/lineage.py)."""
    import json
    import os

    from ..plans import lineage as LIN

    toks = df.select(F.explode(tokens(F.col(text_col))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")).collect()[0]
    n_total, v = int(totals["n"] or 0), int(totals["v"] or 0)
    denom = float(n_total + min(v, vocab_size) + 1)
    vocab = (
        counts.orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(vocab_size)
        .select("tok", ((F.col("c") + 1) / denom).alias("p"))
    )
    run_id = LIN.new_run_id()
    LIN.write_stage(vocab, model_dir, "unigram_vocab", run_id)
    with open(os.path.join(model_dir, "unigram_manifest.json"), "w") as f:
        json.dump({"n_total": n_total, "v": v, "vocab_size": vocab_size,
                   "denom": denom}, f)
    return model_dir


def unigram_score_with_model(df: DataFrame, model_dir: str,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """Score documents against a persisted unigram model (broadcast
    vocabulary join; identical output to ``unigram_logprob_score`` when the
    model was built on the same corpus, including zero-token docs kept as
    (doc_id, 0, null) on batch inputs). Works on batch or streaming
    inputs — the model side is static. Streaming inputs skip the
    empty-doc left join (distinct over an unbounded stream needs state);
    token-less streamed docs are dropped from the score stream."""
    import json
    import os

    from ..plans import lineage as LIN

    with open(os.path.join(model_dir, "unigram_manifest.json")) as f:
        m = json.load(f)
    vocab = LIN.read_stage(df.sparkSession, model_dir, "unigram_vocab")
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    scored = (
        toks.join(F.broadcast(vocab), on="tok", how="left")
        .select("doc_id",
                (-F.log(F.coalesce("p", F.lit(1.0 / m["denom"])))).alias("nlp"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.avg("nlp").alias("mean_neg_logp"),
    )
    if df.isStreaming:
        return per_doc
    return _keep_empty_docs(df, id_col, per_doc)


# -- PII scrubbing -------------------------------------------------------------

# Patterns restricted to syntax Java regex (Spark) and RE2 (DuckDB,
# Hyperscan-class engines) interpret IDENTICALLY: character classes,
# bounded repetition, ASCII \d and \b. No backrefs, no lookaround.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
}
# Redaction applies in this fixed order (email first: its local part may
# contain digits a later pattern would otherwise bite into).
PII_ORDER = ("email", "ip", "phone")


def pii_scrub(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """Count and redact common PII classes (emails, IPv4s, phone-shaped
    numbers) — the scrub a training-data pipeline runs before export.
    The reference handles clinical-subject identifiers by schema design
    (subjects are nodes keyed by internal ids, never free text); for
    free-text corpora the scrub must happen in the text itself.

    Output: (doc_id, n_email, n_ip, n_phone, text) with each match
    replaced by <EMAIL>/<IP>/<PHONE>. Counts are taken BEFORE redaction,
    on the raw text.

    Scale: one narrow JVM pass — regexp_extract_all + regexp_replace are
    Catalyst expressions inside whole-stage codegen; no shuffle, no UDF,
    no Python. Patterns are Java/RE2-portable so the same scrub can run
    in a non-Spark engine bit-for-bit (the q79 oracle attests this)."""
    out = df.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        *[F.size(F.regexp_extract_all(text_col, F.lit(PII_PATTERNS[k]),
                                      F.lit(0))).cast("long").alias(f"n_{k}")
          for k in PII_ORDER])
    red = F.col("_t")
    for k in PII_ORDER:
        red = F.regexp_replace(red, PII_PATTERNS[k], f"<{k.upper()}>")
    return out.select("doc_id", "n_email", "n_ip", "n_phone",
                      red.alias("text"))


def bigram_backoff_score(df: DataFrame, model_df: DataFrame | None = None,
                         id_col: str = "doc_id", text_col: str = "text",
                         alpha: float = 0.4) -> DataFrame:
    """Stupid-backoff bigram LM score (Brants et al. 2007, "Large
    Language Models in Machine Translation") — the next step up from the
    unigram perplexity proxy (`unigram_logprob_score`): mean per-bigram
    log score of each document under counts taken from ``model_df`` (the
    LM corpus; defaults to ``df`` itself).

        s(w1 w2) = ln( c(w1 w2) / c(w1) )            if c(w1 w2) > 0
                 = ln(alpha) + ln( (c(w2)+1)/(N+V+1) ) otherwise

    The backoff leg uses the house add-one unigram (q62's formula) so
    out-of-vocabulary tokens score finitely instead of -inf. Scoring a
    held-out corpus against a disjoint model exercises both legs; scoring
    the model corpus against itself never backs off (every bigram has
    count >= 1) — pass a distinct ``model_df`` for a discriminating
    signal.

    Scale shape: token/bigram streams shuffle on 64-bit xxhash64 keys,
    never on gram strings (q76 precedent; 8/16-byte shuffle rows). Model
    counts are two algebraic aggregations (map-side combined). Scoring is
    three hash-key equi-joins (bigram, left word, right word) — AQE
    broadcasts whichever count tables fit — then one per-doc mean. Docs
    with < 2 tokens surface as (doc_id, 0, null) via the id left-join.

    Output: (doc_id, n_bigrams, mean_score)."""
    model_df = model_df if model_df is not None else df

    def _bigrams(frame: DataFrame) -> DataFrame:
        tk = frame.select(F.col(id_col).alias("doc_id"),
                          tokens(F.col(text_col)).alias("tks"))
        pair = F.expr(
            "arrays_zip(slice(tks, 1, greatest(size(tks) - 1, 0)), "
            "slice(tks, 2, greatest(size(tks) - 1, 0)))")
        return (tk.select("doc_id", F.explode(pair).alias("bg"))
                  .select("doc_id",
                          F.xxhash64(F.col("bg.0")).alias("h1"),
                          F.xxhash64(F.col("bg.1")).alias("h2")))

    model_uni = (model_df.select(F.explode(tokens(F.col(text_col))).alias("w"))
                 .groupBy(F.xxhash64("w").alias("h"))
                 .agg(F.count(F.lit(1)).alias("c")))
    tot = model_uni.agg(F.sum("c").alias("n"),
                        F.count(F.lit(1)).alias("v")).collect()[0]
    n_total, v = int(tot["n"] or 0), int(tot["v"] or 0)
    denom = float(n_total + v + 1)

    model_bi = (_bigrams(model_df).groupBy("h1", "h2")
                .agg(F.count(F.lit(1)).alias("c12")))

    big = _bigrams(df)
    scored = (
        big.join(model_bi, on=["h1", "h2"], how="left")
        .join(model_uni.select(F.col("h").alias("h1"), F.col("c").alias("c1")),
              on="h1", how="left")
        .join(model_uni.select(F.col("h").alias("h2"), F.col("c").alias("c2")),
              on="h2", how="left")
        .select(
            "doc_id",
            F.when(F.col("c12").isNotNull(),
                   F.log(F.col("c12") / F.col("c1")))
             .otherwise(F.log(F.lit(alpha))
                        + F.log((F.coalesce("c2", F.lit(0)) + 1)
                                / F.lit(denom))).alias("s"))
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.avg("s").alias("mean_score"))
    ids = df.select(F.col(id_col).alias("doc_id")).distinct()
    return ids.join(per_doc, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        "mean_score")


def nb_train_score(df: DataFrame, label_col: str, model_df: DataFrame | None = None,
                   id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Multinomial Naive Bayes text classifier, trained and applied in one
    plan — the classic seed-set quality/language filter (the fasttext-style
    classifier a curation pipeline trains on "known good" vs "rest" labels;
    CCNet/LLaMA used exactly this shape for quality).

        log_odds(d) = ln(P1/P0) + sum_w ln( p(w|1) / p(w|0) ),
        p(w|y) = (c_y(w) + 1) / (N_y + V + 1)   (add-one; +1 leaves OOV mass)

    ``model_df`` is the labeled training corpus (defaults to ``df``); the
    label column must be boolean-like (cast to int 0/1). P(y) is the doc-
    count prior. OOV tokens contribute the constant ln((N0+V+1)/(N1+V+1)).

    Scale shape: training is one token-hash aggregation pivoted by class
    (map-side combined; the count table is vocabulary-scale); scoring joins
    the scored corpus's token stream to it on the 64-bit hash (AQE
    broadcasts when it fits) and takes one per-doc sum. Zero-token docs
    surface with the prior alone.

    Output: (doc_id, n_tokens, log_odds, pred)."""
    model_df = model_df if model_df is not None else df
    y = F.col(label_col).cast("int")

    mtoks = model_df.select(y.alias("y"),
                            F.explode(tokens(F.col(text_col))).alias("w"))
    counts = (mtoks.groupBy(F.xxhash64("w").alias("h"))
              .agg(F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).alias("c1"),
                   F.sum(F.when(F.col("y") == 0, 1).otherwise(0)).alias("c0")))
    tot = counts.agg(F.sum("c1").alias("n1"), F.sum("c0").alias("n0"),
                     F.count(F.lit(1)).alias("v")).collect()[0]
    n1, n0, v = int(tot["n1"] or 0), int(tot["n0"] or 0), int(tot["v"] or 0)
    d1, d0 = float(n1 + v + 1), float(n0 + v + 1)
    docs = model_df.agg(
        F.sum(y).alias("p"), F.sum(1 - y).alias("q")).collect()[0]
    import math as _m
    prior = _m.log((int(docs["p"] or 0) + 1) / (int(docs["q"] or 0) + 1))

    toks = df.select(F.col(id_col).alias("doc_id"),
                     F.explode(tokens(F.col(text_col))).alias("w"))
    contrib = (toks.join(counts, on=F.xxhash64("w") == counts["h"], how="left")
               .select("doc_id",
                       (F.log((F.coalesce("c1", F.lit(0)) + 1) / F.lit(d1))
                        - F.log((F.coalesce("c0", F.lit(0)) + 1) / F.lit(d0))
                        ).alias("s")))
    per_doc = contrib.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"), F.sum("s").alias("ssum"))
    ids = df.select(F.col(id_col).alias("doc_id")).distinct()
    return ids.join(per_doc, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
        (F.coalesce("ssum", F.lit(0.0)) + F.lit(prior)).alias("log_odds"),
        ((F.coalesce("ssum", F.lit(0.0)) + F.lit(prior)) > 0).alias("pred"))


def token_divergence(df: DataFrame, group_col: str = "source",
                     text_col: str = "text",
                     vocab_size: int | None = None) -> DataFrame:
    """Per-group token-distribution drift vs the whole corpus: KL(P_g ||
    P_corpus) and Jensen-Shannon divergence under add-one-smoothed unigram
    distributions over the corpus vocabulary — the monitor a continuous-
    ingestion pipeline runs per shard/source/delta to catch a feed whose
    content shifted (KL spikes) before it pollutes the training mixture.

        P_g(w) = (c_g(w)+1) / (N_g+V),   P(w) = (c(w)+1) / (N+V),
        KL = sum_w P_g ln(P_g/P),  JS = (KL(P_g||M) + KL(P||M)) / 2

    summed over the FULL vocabulary (absent tokens carry smoothed mass —
    dropping them biases KL low), which costs a groups x vocab grid of
    8-byte-hash rows. ``vocab_size`` caps the grid for web-scale vocabs:
    top-V corpus tokens keep their identity and the tail folds into one
    residual pseudo-token per side (the truncated model stays a proper
    distribution). Output: (group, n_tokens, kl, js)."""
    toks = df.select(F.col(group_col).alias("grp"),
                     F.explode(tokens(F.col(text_col))).alias("w"))
    gcounts = (toks.groupBy("grp", F.xxhash64("w").alias("h"))
               .agg(F.count(F.lit(1)).alias("cg")))
    vocab = gcounts.groupBy("h").agg(F.sum("cg").alias("c"))
    if vocab_size is not None:
        keep = vocab.orderBy(F.col("c").desc(), F.col("h").asc()) \
                    .limit(vocab_size).select("h")
        tailed = gcounts.join(F.broadcast(keep.withColumn("k", F.lit(1))),
                              on="h", how="left")
        gcounts = (tailed.select(
            "grp", F.when(F.col("k").isNotNull(), F.col("h"))
                    .otherwise(F.lit(-(2 ** 63))).alias("h"), "cg")
            .groupBy("grp", "h").agg(F.sum("cg").alias("cg")))
        vocab = gcounts.groupBy("h").agg(F.sum("cg").alias("c"))
    tot = vocab.agg(F.sum("c").alias("n"), F.count(F.lit(1)).alias("v")).collect()[0]
    n_all, v = int(tot["n"] or 0), int(tot["v"] or 0)
    gtot = gcounts.groupBy("grp").agg(F.sum("cg").alias("ng"))

    grid = gtot.crossJoin(vocab)
    j = grid.join(gcounts, on=["grp", "h"], how="left")
    pg = (F.coalesce("cg", F.lit(0)) + 1) / (F.col("ng") + F.lit(v))
    p = (F.col("c") + 1) / F.lit(float(n_all + v))
    m = (pg + p) / 2
    out = j.groupBy("grp", "ng").agg(
        F.sum(pg * F.log(pg / p)).alias("kl"),
        ((F.sum(pg * F.log(pg / m)) + F.sum(p * F.log(p / m))) / 2).alias("js"))
    return out.select(F.col("grp").alias(group_col),
                      F.col("ng").alias("n_tokens"), "kl", "js")


def calibration_table(scored: DataFrame, score_col: str, label_col: str,
                      n_bins: int = 10) -> DataFrame:
    """Reliability table for a probabilistic/score classifier: equal-width
    bins over the observed score range with per-bin count, positive count,
    positive fraction, and mean score — the calibration curve an ML-ops
    pipeline monitors before trusting a filter's threshold.

    Bin edges come from the global min/max (one dictionary-scale
    aggregate); bin = clamp(floor((s - min)/(max - min) * B), 0, B-1), a
    pure-arithmetic formula an external engine reproduces bit-for-bit.
    Degenerate range (min == max) puts everything in bin 0. One shuffle
    (the bin groupBy, map-side combined)."""
    mm = scored.agg(F.min(score_col).alias("lo"),
                    F.max(score_col).alias("hi")).collect()[0]
    lo, hi = float(mm["lo"]), float(mm["hi"])
    if hi > lo:
        b = F.least(F.floor((F.col(score_col) - F.lit(lo))
                            / F.lit(hi - lo) * F.lit(n_bins)),
                    F.lit(n_bins - 1)).cast("long")
    else:
        b = F.lit(0).cast("long")
    y = F.col(label_col).cast("int")
    return (scored.select(b.alias("bin"), y.alias("y"),
                          F.col(score_col).alias("s"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("y").alias("n_pos"),
                 (F.sum("y") / F.count(F.lit(1))).alias("frac_pos"),
                 F.avg("s").alias("mean_score")))


def source_fingerprints(df: DataFrame, group_col: str = "source",
                        text_col: str = "text", top_k: int = 5,
                        min_count: int = 3) -> DataFrame:
    """Per-group most-DISTINCTIVE tokens by pointwise mutual information:

        PMI(w, g) = ln( (c_g(w)/N_g) / (c(w)/N) )

    restricted to tokens with c_g(w) >= ``min_count`` (rare-token PMI is
    noise), top ``top_k`` per group by (PMI desc, token asc) — the
    "what makes this feed different" diagnostic that pairs with
    `token_divergence`'s scalar drift score.

    Scale shape: one (group, token) count aggregation (the distinct
    grid is vocabulary x groups — token strings do surface here because
    the OUTPUT is tokens; each distinct pair shuffles once), a vocab
    join for corpus counts, dictionary-scale group totals broadcast,
    then a per-group top-k window over the min_count survivors. The PMI
    expression is written identically in external engines, so ranking
    (ties broken by token) reproduces exactly."""
    toks = df.select(F.col(group_col).alias("grp"),
                     F.explode(tokens(F.col(text_col))).alias("w"))
    gc = toks.groupBy("grp", "w").agg(F.count(F.lit(1)).alias("cg"))
    voc = gc.groupBy("w").agg(F.sum("cg").alias("c"))
    gt = gc.groupBy("grp").agg(F.sum("cg").alias("ng"))
    n = int(voc.agg(F.sum("c")).collect()[0][0] or 0)
    x = (gc.where(F.col("cg") >= min_count)
         .join(voc, on="w")
         .join(F.broadcast(gt), on="grp")
         .select("grp", "w", "cg",
                 F.log((F.col("cg") / F.col("ng"))
                       / (F.col("c") / F.lit(float(n)))).alias("pmi")))
    w_rank = Window.partitionBy("grp").orderBy(F.col("pmi").desc(),
                                               F.col("w").asc())
    return (x.withColumn("rank", F.row_number().over(w_rank))
            .where(F.col("rank") <= top_k)
            .select(F.col("grp").alias(group_col), F.col("w").alias("token"),
                    "cg", "pmi", "rank"))
