"""Incremental tokenizer training over a growing corpus.

BPE's single corpus-scale cost is the word-frequency shuffle
(operators/bpe.py); merge learning is a pure function of the summed
(word, freq) table. So the incremental form maintains that table as a
merge-on-read snapshot — each sync tokenizes ONLY the docs appended
since the last one and appends partial counts — and re-learning the
merge list after a corpus release touches the word table (vocabulary
scale), never the corpus. Incremental merges == batch `learn_bpe` over
the full corpus by construction (summation is associative), pinned by
tests/test_tokenizer_sync.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.bpe import learn_bpe_from_word_table, word_frequencies
from ..operators.ckpt import checkpoint_reset_stats as _ckpt
from . import table as T


@dataclass
class TokenizerSyncReport:
    from_version: int | None
    to_version: int
    n_docs: int
    wf_version: int | None  # None when nothing to do


def last_synced_version(wf_dir: str) -> int | None:
    return T.last_stamped_version(wf_dir, "docs_version")


def sync_word_frequencies(
    spark: SparkSession,
    docs_table_dir: str,
    wf_dir: str,
    text_col: str = "text",
) -> TokenizerSyncReport:
    """Append the delta's partial word counts (idempotent, crash-replay
    safe via the high-water mark in snapshot properties)."""
    cur = T.read_manifest(docs_table_dir)["version"]
    done = last_synced_version(wf_dir)
    if done is not None and done >= cur:
        return TokenizerSyncReport(done, cur, 0, None)
    new_files = T.incremental_files(docs_table_dir, done, cur)
    if not new_files:
        if T.current_version(wf_dir) is None:
            return TokenizerSyncReport(done, cur, 0, None)
        v = T.commit_properties(wf_dir, {"docs_version": cur})
        return TokenizerSyncReport(done, cur, 0, v)
    delta = T.read_files(spark, docs_table_dir, new_files, cur)
    n_docs = delta.count()
    partial = _ckpt(word_frequencies(delta, text_col))
    v = T.append(partial, wf_dir, properties={"docs_version": cur})
    return TokenizerSyncReport(done, cur, n_docs, v)


def read_word_frequencies(spark: SparkSession, wf_dir: str) -> DataFrame:
    """Merge-on-read: one (word, freq) row per word — summed partials."""
    return (T.read(spark, wf_dir)
            .groupBy("word").agg(F.sum("freq").alias("freq")))


def compact_word_frequencies(spark: SparkSession, wf_dir: str) -> int:
    """Fold partials to one row per word; preserves the high-water mark."""
    mark = last_synced_version(wf_dir)
    merged = read_word_frequencies(spark, wf_dir)
    props = {} if mark is None else {"docs_version": mark}
    return T.overwrite(merged, wf_dir, properties=props)


def sync_bpe(
    spark: SparkSession,
    docs_table_dir: str,
    wf_dir: str,
    n_merges: int = 1000,
    **learn_kwargs,
) -> tuple[TokenizerSyncReport, list]:
    """One tokenizer-refresh tick: fold the docs delta into the word
    table, then learn the CURRENT merge list from it (vocabulary-scale
    work; the corpus is touched only for the delta)."""
    rep = sync_word_frequencies(spark, docs_table_dir, wf_dir)
    merges = learn_bpe_from_word_table(
        read_word_frequencies(spark, wf_dir), n_merges=n_merges,
        **learn_kwargs)
    return rep, merges
