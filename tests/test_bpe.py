"""BPE tokenizer training/apply: driver fast path vs naive Sennrich
reference recompute, distributed-rounds path equality, apply properties."""

import pandas as pd
import pytest

from conftest import _spark_jobs
from ckg_spark.operators import bpe as B
from ckg_spark.operators.ckpt import collect_if_small


DOCS = [
    "low lower lowest low low",
    "new newer newest news new",
    "the newest lowest widest",
    "wide wider widest wide",
    "low new wide the the the",
    "lower newer wider",
]


def _docs_df(spark, texts=DOCS):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))


def _naive_learn(texts, n_merges, min_pair_freq=2):
    """Independent Sennrich reference: full pair recount every round (no
    incremental statistics), same (count desc, pair asc) tiebreak."""
    import re

    freqs = {}
    for t in texts:
        for w in re.findall(B.PRETOKEN_PATTERN, t.lower()):
            freqs[w] = freqs.get(w, 0) + 1
    vocab = {}
    for w, f in freqs.items():
        syms = tuple(w) + (B.END_OF_WORD,)
        vocab[syms] = vocab.get(syms, 0) + f
    merges = []
    for _ in range(n_merges):
        counts = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + f
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if counts[best] < min_pair_freq:
            break
        merges.append(best)
        nv = {}
        for syms, f in vocab.items():
            new = B._merge_word(syms, best, best[0] + best[1])
            nv[new] = nv.get(new, 0) + f
        vocab = nv
    return merges


def test_learn_bpe_matches_naive_reference(spark):
    got = B.learn_bpe(_docs_df(spark), n_merges=25)
    want = _naive_learn(DOCS, 25)
    assert got == want
    assert len(got) >= 8
    # the corpus's dominant subwords emerge as merges
    merged_tokens = {a + b for a, b in got}
    assert "low</w>" in merged_tokens or "low" in merged_tokens


def test_distributed_rounds_equal_driver_path(spark, monkeypatch):
    df = _docs_df(spark)
    fast = B.learn_bpe(df, n_merges=10)
    monkeypatch.setattr(B, "LEARN_BPE_MAX_COLLECT", 0)
    slow = B.learn_bpe(df, n_merges=10)
    assert fast == slow
    # determinism across parallelism for the distributed path
    slow7 = B.learn_bpe(df.repartition(7), n_merges=10)
    assert slow7 == slow


def test_driver_path_fetches_word_table_once(spark):
    """The driver tier's one truncated fetch is its size probe and its
    collect: learn_bpe runs no more Spark jobs than that fetch alone."""
    df = _docs_df(spark)
    want, learn_jobs = _spark_jobs(spark, lambda: B.learn_bpe(df, n_merges=10))
    _, fetch_jobs = _spark_jobs(spark, lambda: collect_if_small(
        B.word_frequencies(df), B.LEARN_BPE_MAX_COLLECT))
    assert want == _naive_learn(DOCS, 10)
    assert learn_jobs <= fetch_jobs, (learn_jobs, fetch_jobs)


def test_apply_bpe_matches_inorder_reference_and_reconstructs(spark):
    df = _docs_df(spark)
    merges = B.learn_bpe(df, n_merges=20)
    out = B.apply_bpe(df, merges).toPandas().set_index("doc_id")

    import re
    for i, text in enumerate(DOCS):
        toks = list(out.loc[i, "bpe_tokens"])
        assert out.loc[i, "bpe_token_count"] == len(toks)
        # independent in-order (subword-nmt style) apply: iterate merges in
        # learned order, replacing all occurrences — must equal the
        # rank-greedy executor implementation
        want = []
        for w in re.findall(B.PRETOKEN_PATTERN, text.lower()):
            syms = tuple(w) + (B.END_OF_WORD,)
            for m in merges:
                syms = B._merge_word(syms, m, m[0] + m[1])
            want.extend(syms)
        assert toks == want, i
        # concatenating tokens reconstructs the pre-token stream exactly
        joined = "".join(toks).replace(B.END_OF_WORD, " ").strip()
        assert joined == " ".join(re.findall(B.PRETOKEN_PATTERN, text.lower()))


def test_more_merges_never_increase_token_count(spark):
    df = _docs_df(spark)
    m20 = B.learn_bpe(df, n_merges=20)
    c0 = B.apply_bpe(df, []).agg({"bpe_token_count": "sum"}).collect()[0][0]
    c5 = B.apply_bpe(df, m20[:5]).agg({"bpe_token_count": "sum"}).collect()[0][0]
    c20 = B.apply_bpe(df, m20).agg({"bpe_token_count": "sum"}).collect()[0][0]
    assert c0 >= c5 >= c20
    assert c20 < c0  # merges actually compress this corpus


def test_bpe_degenerate_inputs(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "text": ["", None, "   "]}))
    assert B.learn_bpe(df, n_merges=5) == []
    out = B.apply_bpe(df, [("l", "o")]).toPandas()
    assert sorted(out["bpe_token_count"]) == [0, 0, 0]


def test_bpe_model_roundtrip(spark, tmp_path):
    df = _docs_df(spark)
    merges = B.learn_bpe(df, n_merges=15)
    p = str(tmp_path / "model" / "bpe.merges")
    B.save_bpe_model(merges, p)
    loaded = B.load_bpe_model(p)
    assert loaded == merges
    a = B.apply_bpe(df, merges).toPandas().set_index("doc_id")["bpe_token_count"]
    b = B.apply_bpe(df, loaded).toPandas().set_index("doc_id")["bpe_token_count"]
    assert (a == b).all()


def test_driver_learn_incremental_equals_full_recount_randomized():
    """The incremental-pair-statistics driver loop must equal the O(V)
    full-recount reference on randomized corpora — overlapping pairs
    (aaa), words collapsing to the same key, and single-char words are
    where incremental updates typically go wrong. Pure Python, no Spark."""
    import random

    for seed in range(12):
        rng = random.Random(seed)
        alphabet = "abc"
        words = {}
        for _ in range(rng.randint(5, 40)):
            w = "".join(rng.choice(alphabet)
                        for _ in range(rng.randint(1, 7)))
            words[w] = words.get(w, 0) + rng.randint(1, 9)
        texts = [" ".join(w for w, f in words.items() for _ in range(f))]
        got = B._driver_learn(sorted(words.items()), n_merges=30,
                              min_pair_freq=2)
        want = _naive_learn(texts, 30)
        assert got == want, (seed, got, want)
