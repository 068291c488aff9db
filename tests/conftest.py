import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ckg_spark.session import get_spark  # noqa: E402
from ckg_spark.vocab import build_vocab, vocab_to_spark  # noqa: E402
from ckg_spark.datagen import gen_transcripts  # noqa: E402


def _spark_jobs(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    import uuid
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ckg_spark_tests", cpus=int(os.environ.get("TEST_CPUS", "8")),
                  shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def vocab():
    return build_vocab(n_entities=120, seed=7)


@pytest.fixture(scope="session")
def vocab_tables(spark, vocab):
    return vocab_to_spark(spark, vocab)


@pytest.fixture(scope="session")
def transcripts_pdf(vocab):
    return gen_transcripts(1500, vocab=vocab, seed=42)


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_pdf):
    df = spark.createDataFrame(transcripts_pdf)
    df = df.withColumn("turn_idx", df["turn_idx"].cast("int"))
    return df.cache()
