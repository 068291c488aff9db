"""Property-based tests (hypothesis): the JVM extractor agrees with the
single-process pandas oracle on arbitrary text."""

import pandas as pd
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from ckg_spark.operators import extract as X
from ckg_spark.oracle_ref import oracle_extract
from ckg_spark.vocab import Vocab

# surface forms exercising boundaries: shared prefixes, multi-word, digits
_ALIASES = ["flu", "flu shot", "bird flu", "type 2", "x", "xx", "a b c"]

# text fragments: alias-adjacent punctuation, case variants, overlaps, unicode
_FRAGMENTS = [
    "flu", "FLU", "Flu.", "(flu)", "flu-shot", "flu shot", "bird flu shot",
    "type", "2", "type 2", "influenza", "xxx", "xx", "x", "a b", "b c",
    "a b c", "", "   ", "über", "naïve", "…", "a,b,c", "1type 2x",
]


def _mini_vocab() -> Vocab:
    aliases = pd.DataFrame(
        [(f"E{i:02d}", "NAME", a, a.lower(), 1, "Entity")
         for i, a in enumerate(_ALIASES)],
        columns=["ident", "source", "alias", "alias_lc", "rank", "entity_type"],
    )
    terms = pd.DataFrame(
        [(f"E{i:02d}", "Entity", a, "", "-20", []) for i, a in enumerate(_ALIASES)],
        columns=["id", "label", "name", "description", "type", "synonyms"],
    )
    empty = pd.DataFrame(columns=["entity_type", "ident"])
    parents = pd.DataFrame(columns=["start_id", "end_id", "type"])
    return Vocab(terms, aliases, empty, parents, {}, pd.DataFrame(
        columns=["ident_a", "ident_b"]))


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(_FRAGMENTS), min_size=0, max_size=12).map(" ".join),
        min_size=1, max_size=20,
    )
)
def test_extractor_agrees_with_oracle_on_generated_text(spark, texts):
    vocab = _mini_vocab()
    pdf = pd.DataFrame({
        "conv_id": ["c"] * len(texts),
        "turn_idx": range(len(texts)),
        "text": texts,
    })
    df = spark.createDataFrame(pdf)
    grams = X.prepare_alias_grams(
        spark.createDataFrame(vocab.aliases[["alias_lc"]])
    )
    got = (
        X.extract_mentions(df, grams)
        .toPandas()
        .sort_values(["conv_id", "turn_idx", "pos", "n_words", "alias_lc"])
        .reset_index(drop=True)
    )
    exp = (
        oracle_extract(pdf, vocab)
        .sort_values(["conv_id", "turn_idx", "pos", "n_words", "alias_lc"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["conv_id", "turn_idx", "pos", "n_words", "alias_lc"]],
        exp, check_dtype=False,
    )


# -- round-3 quality filters vs pure-Python renditions ------------------------

_QF_FRAGMENTS = [
    "the", "and", "word", "###", "...", "…", "- bullet", "* item",
    "", "   ", "a", "über", "LONGWORDHERE", "1234", "x y", "line one.\n",
    "\n", "dup\ndup", "tab\there",
]


def _py_tokens(t):
    return [x for x in (t or "").strip().lower().split() if x != ""]


def _py_gopher(t, min_words=50, min_stop=2):
    import re

    toks = _py_tokens(t)
    n = len(toks)
    nw = max(n, 1)
    mwl = sum(len(x) for x in toks) / nw
    text = t or ""
    n_sym = (text.count("#") + text.count("...") + text.count("…"))
    lines = text.split("\n")
    nl = max(len(lines), 1)
    bullet = sum(bool(re.match(r"^[-*•●▪]", l.lstrip())) for l in lines) / nl
    ell = sum(bool(re.search(r"(\.\.\.|…)$", l.rstrip())) for l in lines) / nl
    alpha = sum(bool(re.search(r"[a-z]", x)) for x in toks) / nw
    stops = {"the", "be", "to", "of", "and", "that", "have", "with"}
    sh = len(set(toks) & stops)
    return {
        "n_words": n, "mean_word_len": mwl, "symbol_word_ratio": n_sym / nw,
        "bullet_line_frac": bullet, "ellipsis_line_frac": ell,
        "alpha_word_frac": alpha, "stopword_hits": sh,
        "keep": (min_words <= n <= 100_000 and 3.0 <= mwl <= 10.0
                 and n_sym / nw <= 0.1 and bullet <= 0.9 and ell <= 0.3
                 and alpha >= 0.8 and sh >= min_stop),
    }


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(_QF_FRAGMENTS), min_size=0, max_size=15).map(" ".join),
        min_size=1, max_size=8,
    )
)
def test_gopher_flags_agree_with_python_on_generated_text(spark, texts):
    from ckg_spark.operators.textstats import gopher_quality_flags

    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    got = {
        r["doc_id"]: r
        for r in gopher_quality_flags(
            spark.createDataFrame(pdf), min_words=3, min_stopword_hits=1
        ).collect()
    }
    for i, t in enumerate(texts):
        exp = _py_gopher(t, min_words=3, min_stop=1)
        g = got[i]
        assert g["n_words"] == exp["n_words"], (i, t)
        for k in ("mean_word_len", "symbol_word_ratio", "bullet_line_frac",
                  "ellipsis_line_frac", "alpha_word_frac"):
            assert abs((g[k] or 0) - exp[k]) < 1e-9, (k, t, g[k], exp[k])
        assert g["stopword_hits"] == exp["stopword_hits"], (i, t)
        assert bool(g["keep"]) == exp["keep"], (i, t, dict(g.asDict()), exp)


def _py_c4(t, min_words=5):
    import re

    kept = []
    for l in (t or "").split("\n"):
        if not re.search(r"[.!?\"']$", l.rstrip()):
            continue
        if len([w for w in [l.strip()] for w in re.split(r"\s+", w)]) < min_words:
            continue
        low = l.lower()
        if any(b in low for b in ("javascript", "lorem ipsum", "{")):
            continue
        kept.append(l)
    return "\n".join(kept), len(kept)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(_QF_FRAGMENTS + [
            "This proper sentence has many useful words in it.",
            "Enable javascript now please everyone right here.",
        ]), min_size=0, max_size=6).map(" ".join),
        min_size=1, max_size=6,
    )
)
def test_c4_filter_agrees_with_python_on_generated_text(spark, texts):
    from ckg_spark.operators.textstats import c4_line_filter

    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    got = {
        r["doc_id"]: r
        for r in c4_line_filter(spark.createDataFrame(pdf)).collect()
    }
    for i, t in enumerate(texts):
        exp_text, exp_kept = _py_c4(t)
        assert got[i]["n_lines_kept"] == exp_kept, (i, t)
        assert got[i]["clean_text"] == exp_text, (i, t)


def _py_repetition(t):
    import re
    from collections import Counter

    lines = [l for l in (t or "").split("\n") if l.strip() != ""]
    nl = max(len(lines), 1)
    dup_line_frac = (len(lines) - len(set(lines))) / nl
    line_chars = sum(len(l) for l in lines)
    distinct_chars = sum(len(l) for l in set(lines))
    dlcf = (line_chars - distinct_chars) / line_chars if line_chars else 0.0
    toks = _py_tokens(t)
    nsp = max(len(re.sub(r"\s+", "", t or "")), 1)

    def gram_stats(n):
        grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
        c = Counter(grams)
        if not c:
            return 0.0, 0.0
        def chars(g):
            return len(g.replace(" ", ""))
        top = max(c.items(), key=lambda kv: (kv[1], chars(kv[0])))
        topfrac = top[1] * chars(top[0]) / nsp
        dupfrac = sum(k * chars(g) for g, k in c.items() if k > 1) / nsp
        return topfrac, dupfrac

    top2, _ = gram_stats(2)
    _, dup5 = gram_stats(5)
    return dup_line_frac, dlcf, top2, dup5


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(_QF_FRAGMENTS), min_size=0, max_size=20).map(" ".join),
        min_size=1, max_size=6,
    )
)
def test_repetition_flags_agree_with_python(spark, texts):
    from ckg_spark.operators.dedup import repetition_flags

    pdf = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    got = {r["doc_id"]: r for r in repetition_flags(
        spark.createDataFrame(pdf)).collect()}
    for i, t in enumerate(texts):
        dlf, dlcf, top2, dup5 = _py_repetition(t)
        g = got[i]
        assert abs(g["dup_line_frac"] - dlf) < 1e-9, (t, g["dup_line_frac"], dlf)
        assert abs(g["dup_line_char_frac"] - dlcf) < 1e-9, (t,)
        assert abs(g["top2gram_char_frac"] - top2) < 1e-9, (t, g["top2gram_char_frac"], top2)
        assert abs(g["dup5gram_char_frac"] - dup5) < 1e-9, (t,)
