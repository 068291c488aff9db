"""Mention detection (SURVEY.md M8) — dictionary matching over turn text.

The reference consumes precomputed JensenLab tagger output (dictionary NER;
see ckg/graphdb_builder/builder/cypher.yml:371 and
databases/parsers/textminingParser.py:96-120). Here the tagger itself is
re-expressed in Spark as one JVM-only matcher, ``extract_mentions``: one
token-row stream, one broadcast join against the combined dictionary of
unigram aliases and first words of multi-word aliases, one explode of the
candidate grams and one broadcast join against the alias set. No Python
runs per row.

The matcher has two forms that differ in one step only, how a token row
gets the ``max_n - 1`` tokens that follow it:

- batch: ``lead()`` over ``Window.partitionBy(keys).orderBy(pos)``;
- stream (``turns.isStreaming``): the token array rides along through
  ``posexplode`` and ``get(toks, pos + i)`` reads the followers (null past
  the end, also under ANSI mode). Structured Streaming forbids window
  functions, so this is the only form that runs on a stream.

The form follows the input; there is no option to choose one.

Matching semantics (both forms):
- normalization: lowercase, every non-alphanumeric run becomes a single
  space (the tagger's token-boundary behavior; alias keys are lowercased
  exactly as ckg/graphdb_builder/mapping.py:69 does).
- ``match_all``: every alias occurrence is reported (used by the DuckDB
  oracle queries — trivially SQL-expressible).
- ``resolve_longest_match``: leftmost-longest greedy resolution (the
  tagger's priority rule, cf. the longest-alias-first ordering at
  mapping.py:259), computed JVM-side as a fold (``aggregate``) over the
  per-turn match list sorted by (pos, -len). No per-row Python.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

DEFAULT_KEYS = ("conv_id", "turn_idx")


def normalize_text(col: Column) -> Column:
    """lowercase + collapse non-alphanumerics to single spaces + trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"[^a-z0-9]+", " "))


def tokens_col(col: Column) -> Column:
    return F.split(normalize_text(col), " ")


def prepare_alias_grams(aliases: DataFrame, alias_col: str = "alias_lc") -> DataFrame:
    """Distinct normalized alias surface forms + word counts.

    Returns columns (gram string, n_words int). Broadcast-scale by design
    (the reference loads the same dictionary into an in-process dict,
    mapping.py:164-205).
    """
    g = normalize_text(F.col(alias_col))
    return (
        aliases.select(g.alias("gram"))
        .where(F.col("gram") != "")
        .distinct()
        .withColumn("n_words", F.size(F.split(F.col("gram"), " ")))
    )


def _gram_lengths(alias_grams: DataFrame) -> list[int]:
    return sorted(
        r["n_words"] for r in alias_grams.select("n_words").distinct().collect()
    )


def extract_mentions(
    turns: DataFrame,
    alias_grams: DataFrame,
    keys: Sequence[str] = DEFAULT_KEYS,
    text_col: str = "text",
    gram_lengths: Iterable[int] | None = None,
) -> DataFrame:
    """JVM-only dictionary matching. Output: keys + (pos, n_words, alias_lc).

    ``pos`` is the 0-based token offset of the match start. One output row
    per alias occurrence (match_all semantics); run
    ``resolve_longest_match`` afterwards for tagger-style overlap pruning.
    ``gram_lengths`` are the word counts present in ``alias_grams`` when
    the caller already knows them (saves one collect job).

    Plan: tokenize and posexplode each turn once; attach the following
    ``max_n - 1`` tokens (``lead()`` window in batch, ``get()`` on the
    carried token array on a stream — see the module docstring); one
    broadcast inner join against the combined first-token dictionary
    (unigram aliases ∪ first words of multi-word aliases, flagged
    is_uni/is_first) keeps only positions that can start a match; one
    explode emits the unigram hit (the token string itself) and the
    multi-word candidates; one broadcast join against the alias set
    finalizes. Multi-word grams are only built at positions whose token
    starts some multi-word alias, so unigram-heavy text allocates almost
    no gram strings. A vocabulary without unigrams or without multi-word
    aliases needs no special case: that side of the dictionary is empty.
    """
    ns = list(gram_lengths) if gram_lengths is not None else _gram_lengths(alias_grams)
    max_n = max(ns, default=1)
    multi_ns = [n for n in ns if n >= 2]
    toks = turns.select(*keys, tokens_col(F.col(text_col)).alias("toks"))

    if turns.isStreaming:
        rows = toks.select(*keys, "toks", F.posexplode("toks").alias("pos", "w"))
        following = [F.get("toks", F.col("pos") + i).alias(f"w{i}")
                     for i in range(1, max_n)]
    else:
        rows = toks.select(*keys, F.posexplode("toks").alias("pos", "w"))
        win = Window.partitionBy(*keys).orderBy("pos")
        following = [F.lead("w", i).over(win).alias(f"w{i}")
                     for i in range(1, max_n)]
    led = rows.where(F.col("w") != "").select(*keys, "pos", "w", *following)

    uni_words = (
        alias_grams.where(F.col("n_words") == 1)
        .select(F.col("gram").alias("w"), F.lit(True).alias("is_uni"))
    )
    first_words = (
        alias_grams.where(F.col("n_words") >= 2)
        .select(F.split("gram", " ")[0].alias("w"))
        .distinct()
        .withColumn("is_first", F.lit(True))
    )
    dict0 = uni_words.join(first_words, on="w", how="full_outer").select(
        "w",
        F.coalesce("is_uni", F.lit(False)).alias("is_uni"),
        F.coalesce("is_first", F.lit(False)).alias("is_first"),
    )
    cand = led.join(F.broadcast(dict0), on="w", how="inner")

    gram_exprs = [F.when(F.col("is_uni"), F.col("w"))]
    for n in multi_ns:
        parts = ["w"] + [f"w{i}" for i in range(1, n)]
        gram_exprs.append(
            F.when(F.col("is_first") & F.col(f"w{n-1}").isNotNull(),
                   F.concat_ws(" ", *parts))
        )
    cands = cand.select(
        *keys, "pos", F.explode(F.array(*gram_exprs)).alias("gram")
    ).where(F.col("gram").isNotNull())
    return cands.join(
        F.broadcast(alias_grams.select("gram", "n_words")), on="gram"
    ).select(
        *keys, F.col("pos").cast("int").alias("pos"),
        F.col("n_words").cast("int").alias("n_words"),
        F.col("gram").alias("alias_lc"),
    )


def resolve_longest_match(
    mentions: DataFrame, keys: Sequence[str] = DEFAULT_KEYS
) -> DataFrame:
    """Leftmost-longest greedy overlap resolution, fully JVM-side.

    Collect the per-turn match list, sort by (pos asc, length desc,
    alias asc), then fold: keep a match iff it starts at/after the end of
    the previously kept match. Per-turn match counts are tiny (<= dozens),
    so the collect_list is safe; the fold is a Catalyst ``aggregate``.
    """
    key_cols = [F.col(k) for k in keys]
    packed = mentions.groupBy(*key_cols).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("pos"),
                    (-F.col("n_words")).alias("neg_n"),
                    F.col("alias_lc"),
                    F.col("n_words"),
                )
            )
        ).alias("ms")
    )
    kept = packed.withColumn(
        "kept",
        F.expr(
            "aggregate(ms, "
            "named_struct('fin', cast(-1 as int), "
            "             'acc', cast(array() as array<struct<pos:int,n_words:int,alias_lc:string>>)), "
            "(s, m) -> IF(m.pos >= s.fin, "
            "  named_struct('fin', m.pos + m.n_words, "
            "               'acc', array_append(s.acc, named_struct('pos', m.pos, 'n_words', m.n_words, 'alias_lc', m.alias_lc))), "
            "  s), "
            "s -> s.acc)"
        ),
    )
    return kept.select(*keys, F.explode("kept").alias("m")).select(
        *keys,
        F.col("m.pos").alias("pos"),
        F.col("m.n_words").alias("n_words"),
        F.col("m.alias_lc").alias("alias_lc"),
    )


def mention_contexts(mentions: DataFrame, docs: DataFrame,
                     window_chars: int = 40,
                     keys: tuple[str, ...] = ("doc_id",),
                     text_col: str = "text",
                     term_col: str = "term") -> DataFrame:
    """Character context windows around each mention's FIRST occurrence —
    the (term, left_ctx, right_ctx) training examples an entity-linking
    or disambiguation model is trained on (the learned form of the
    reference's dictionary-tagger lookup, textminingParser.py:96-120).

    Works over the NORMALIZED text (same ``normalize_text`` the extractor
    matches on, space-padded), so positions are found with plain
    substring arithmetic instead of a second regex pass: with
    s = ' ' || norm || ' ' and p = instr(s, ' ' || term || ' '),
    left_ctx = the last ``window_chars`` chars before the match's leading
    space and right_ctx = the ``window_chars`` chars after its trailing
    space. Character (not token) windows keep the arithmetic exact and
    engine-portable; windows may start/end mid-token, which linkers
    tolerate by construction.

    Scale shape: ONE co-partitioned equi-join of the mention stream with
    the docs' normalized text on ``keys``; all window math is JVM-side
    expression work in the same stage. Deterministic at any parallelism
    (first occurrence is a pure string function of the row).
    """
    w = int(window_chars)
    s = F.concat(F.lit(" "), normalize_text(F.col(text_col)), F.lit(" "))
    d = docs.select(*keys, s.alias("_s"))
    j = (mentions.join(d, on=list(keys))
         .withColumn("_pat", F.concat(F.lit(" "), F.col(term_col), F.lit(" ")))
         .withColumn("_p", F.expr("instr(_s, _pat)"))
         .where(F.col("_p") > 0))
    before = F.col("_s").substr(F.lit(1), F.col("_p") - 1)
    after_start = F.col("_p") + F.length(term_col) + 2
    return j.select(
        *keys,
        F.col(term_col),
        before.substr(
            F.greatest(F.lit(1), F.length(before) - F.lit(w) + 1),
            F.lit(w)).alias("left_ctx"),
        F.col("_s").substr(after_start, F.lit(w)).alias("right_ctx"),
    )
