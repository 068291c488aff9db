"""Extraction operator: batch form vs stream form vs pandas oracle."""

from types import SimpleNamespace

import pandas as pd
import pytest

from ckg_spark.operators import extract as X
from ckg_spark.oracle_ref import oracle_extract

KEY = ["conv_id", "turn_idx", "pos", "n_words", "alias_lc"]


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf[KEY].sort_values(KEY).reset_index(drop=True)


def _extract_stream(spark, turns, grams, workdir, n_files=1):
    """Run ``extract_mentions`` on a file stream over ``turns`` (written as
    ``n_files`` parquet files, one per micro-batch) into a parquet sink
    with an availableNow trigger; return the sink's rows as a batch frame."""
    src, out = f"{workdir}/src", f"{workdir}/out"
    turns.repartition(n_files).write.parquet(src)
    stream = (spark.readStream.schema(turns.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    mentions = X.extract_mentions(stream, grams)
    assert mentions.isStreaming
    q = (mentions.writeStream.format("parquet")
         .option("checkpointLocation", f"{workdir}/ckpt")
         .trigger(availableNow=True).start(out))
    assert q.awaitTermination(180), "stream did not drain within 180 s"
    return spark.read.schema(mentions.schema).parquet(out)


@pytest.fixture(scope="module")
def stream_mentions(spark, vocab_tables, transcripts_df, tmp_path_factory):
    grams = X.prepare_alias_grams(vocab_tables["aliases"])
    return _extract_stream(spark, transcripts_df, grams,
                           str(tmp_path_factory.mktemp("xstream")))


def test_jvm_extract_matches_oracle(spark, vocab, vocab_tables, transcripts_df,
                                    transcripts_pdf):
    grams = X.prepare_alias_grams(vocab_tables["aliases"])
    got = X.extract_mentions(transcripts_df, grams).toPandas()
    exp = oracle_extract(transcripts_pdf, vocab)
    assert len(exp) > 100, "fixture should embed plenty of mentions"
    pd.testing.assert_frame_equal(_sorted(got), _sorted(exp), check_dtype=False)


def test_arrow_extract_matches_jvm(spark, vocab_tables, transcripts_df,
                                   stream_mentions):
    """The stream form (array-carried followers) yields exactly the batch
    form's (lead-window) mentions on the fixture."""
    grams = X.prepare_alias_grams(vocab_tables["aliases"])
    batch = _sorted(X.extract_mentions(transcripts_df, grams).toPandas())
    stream = _sorted(stream_mentions.toPandas())
    assert len(batch) > 100
    pd.testing.assert_frame_equal(batch, stream, check_dtype=False)


def test_longest_match_resolution(spark, vocab, vocab_tables, transcripts_df,
                                  transcripts_pdf):
    grams = X.prepare_alias_grams(vocab_tables["aliases"])
    m = X.extract_mentions(transcripts_df, grams)
    got = X.resolve_longest_match(m).toPandas()
    exp = oracle_extract(transcripts_pdf, vocab, longest_match=True)
    pd.testing.assert_frame_equal(_sorted(got), _sorted(exp), check_dtype=False)


def test_case_and_punctuation_insensitive(spark, vocab_tables):
    grams = X.prepare_alias_grams(vocab_tables["aliases"])
    some = grams.limit(1).collect()[0]["gram"]
    df = spark.createDataFrame(
        [("c1", 0, f"We saw {some.upper()}, yesterday."),
         ("c1", 1, f"no mention here"),
         ("c1", 2, f"({some.title()})")],
        "conv_id string, turn_idx int, text string",
    )
    got = X.extract_mentions(df, grams).toPandas()
    assert set(got["turn_idx"]) == {0, 2}
    # the chosen alias matches in both turns (sub-aliases may also match in
    # match_all mode — that is the intended 1:N behavior)
    assert set(got.loc[got["alias_lc"] == some, "turn_idx"]) == {0, 2}


def test_single_scan_matches_union(spark, vocab, vocab_tables, transcripts_df,
                                   transcripts_pdf, tmp_path):
    """Both forms == oracle when the input is split: the batch form over a
    repartitioned frame (the window regroups each turn's tokens), the
    stream form over four files consumed as four micro-batches."""
    grams = X.prepare_alias_grams(vocab_tables["aliases"])
    exp = _sorted(oracle_extract(transcripts_pdf, vocab))
    batch = X.extract_mentions(transcripts_df.repartition(7), grams)
    stream = _extract_stream(spark, transcripts_df, grams, str(tmp_path),
                             n_files=4)
    commits = [p for p in (tmp_path / "ckpt" / "commits").iterdir()
               if p.name.isdigit()]
    assert len(commits) == 4
    for got in (batch, stream):
        pd.testing.assert_frame_equal(_sorted(got.toPandas()), exp,
                                      check_dtype=False)


def test_strategies_all_agree(spark, vocab, vocab_tables, transcripts_df,
                              transcripts_pdf, stream_mentions):
    """Both forms == oracle, as match_all output and after
    leftmost-longest resolution."""
    grams = X.prepare_alias_grams(vocab_tables["aliases"])
    batch = X.extract_mentions(transcripts_df, grams)
    for longest in (False, True):
        exp = _sorted(oracle_extract(transcripts_pdf, vocab,
                                     longest_match=longest))
        for got in (batch, stream_mentions):
            if longest:
                got = X.resolve_longest_match(got)
            pd.testing.assert_frame_equal(_sorted(got.toPandas()), exp,
                                          check_dtype=False)


_EDGE_TEXTS = [
    "we gave aspirin",              # unigram alias on the last token
    "this was a heart attack",      # multi-word alias on the last tokens
    "he had a heart",               # multi-word alias cut off by the end
    "type 2",                       # three-word alias cut off after two
    "Type-2 diabetes, then HEART ATTACK; aspirin!",
    "",
    None,
    "?!... ,;",                     # punctuation only: normalizes to ""
    "aspirin",                      # single-token turn
]
_EDGE_VOCABS = {
    "mixed": ["aspirin", "heart", "heart attack", "type 2 diabetes"],
    "unigram_only": ["aspirin", "heart", "attack"],
    "multiword_only": ["heart attack", "type 2 diabetes", "gave aspirin"],
}


@pytest.mark.parametrize("vocab_name", sorted(_EDGE_VOCABS))
@pytest.mark.parametrize("form", ["batch", "stream"])
def test_edge_cases_both_forms_match_oracle(spark, tmp_path, form,
                                            vocab_name):
    aliases = _EDGE_VOCABS[vocab_name]
    pdf = pd.DataFrame({"conv_id": "c", "turn_idx": range(len(_EDGE_TEXTS)),
                        "text": _EDGE_TEXTS})
    turns = spark.createDataFrame(
        pdf, "conv_id string, turn_idx int, text string")
    grams = X.prepare_alias_grams(
        spark.createDataFrame(pd.DataFrame({"alias_lc": aliases})))
    got = (X.extract_mentions(turns, grams) if form == "batch"
           else _extract_stream(spark, turns, grams, str(tmp_path)))
    exp = oracle_extract(
        pdf, SimpleNamespace(aliases=pd.DataFrame({"alias_lc": aliases})))
    assert len(exp) > 0
    pd.testing.assert_frame_equal(_sorted(got.toPandas()), _sorted(exp),
                                  check_dtype=False)
