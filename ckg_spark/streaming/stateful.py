"""Stateful / event-time streaming operators over transcript streams.

Two Structured-Streaming-native operators on top of the batch extract->link
stages (same code path, per north rule):

- ``windowed_mention_counts``: event-time tumbling-window mention counts
  with a watermark for late turns — the streaming rendition of the
  MENTIONED_IN_TURN score aggregation (reference semantics:
  textminingParser.py:96-120 counts per publication; here counts per
  (window(ts), canonical_id)). Late data beyond the watermark is dropped by
  Spark's state store, so state size is bounded at 100-TB stream scale.

- ``first_mentions_stateful``: per-conversation "first time this entity is
  mentioned" events via ``applyInPandasWithState`` — a genuinely stateful
  operator Spark has no built-in for (streaming dropDuplicates would key
  state by (conv, entity) pair with no grouping control; this keeps ONE
  state row per conversation holding its seen-set, with an idle timeout to
  evict finished conversations). Arrow-batched per group — no per-row
  Python.
"""

from __future__ import annotations

from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators import extract as X
from ..operators import link as L
from .ingest import linked_mentions


def linked_mention_stream(
    stream_turns: DataFrame,
    vocab_tables: dict,
    keys: Iterable[str] = ("conv_id", "turn_idx", "ts"),
) -> DataFrame:
    """Stateless extract -> link over a streaming turns DataFrame, through
    the shared ``ingest.linked_mentions`` composition (no canonical map, so
    ``canonical_id`` equals ``ident``).

    Both stages are streaming-safe: on a streaming input the extractor
    takes its stream form (each token row reads its following tokens from
    the carried token array; Structured Streaming forbids the batch form's
    window) and linking is broadcast-only, so the plan stays
    incrementalizable. On a batch input the same call takes the batch form,
    which is what the tests compare the stream against.
    """
    return linked_mentions(
        stream_turns,
        X.prepare_alias_grams(vocab_tables["aliases"]),
        L.prepare_alias_table(vocab_tables["aliases"]),
        vocab_tables.get("stoplist"),
        keys=tuple(keys),
    )


def windowed_mention_counts(
    stream_turns: DataFrame,
    vocab_tables: dict,
    window_duration: str = "10 minutes",
    watermark_delay: str = "20 minutes",
) -> DataFrame:
    """Tumbling event-time window counts per entity with late-data bound.

    Returns a streaming DataFrame (window struct, ident, entity_type, n);
    write with outputMode('append') — the watermark closes windows so
    append mode emits each exactly once.
    """
    linked = linked_mention_stream(stream_turns, vocab_tables)
    return (
        linked.withWatermark("ts", watermark_delay)
        .groupBy(F.window("ts", window_duration), "ident", "entity_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_FIRST_MENTION_SCHEMA = (
    "conv_id string, turn_idx int, ident string, entity_type string"
)
_STATE_SCHEMA = "seen array<string>"


def _first_mentions_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Group function for applyInPandasWithState: emit rows whose ident is
    not yet in the conversation's seen-set; fold the batch into state."""
    (seen_list,) = state.get if state.exists else ([],)
    seen = set(seen_list or [])
    outs = []
    for pdf in pdfs:
        pdf = pdf.sort_values(["turn_idx", "ident"], kind="mergesort")
        fresh_mask = ~pdf["ident"].isin(seen) & ~pdf["ident"].duplicated()
        fresh = pdf[fresh_mask]
        seen.update(fresh["ident"].tolist())
        if len(fresh):
            outs.append(fresh[["conv_id", "turn_idx", "ident", "entity_type"]])
    state.update((sorted(seen),))
    yield from outs


def check_state_timeout_support(timeout_conf: str) -> None:
    """Capability probe for applyInPandasWithState timeout modes.

    In this PySpark line (4.1.x), requesting ProcessingTimeTimeout crashes
    the Python WORKER mid-query (bisected: NoTimeout + array state is fine,
    ProcessingTimeTimeout crashes even on the upstream doc example), and the
    successor API (transformWithStateInPandas with ValueState TTL) needs
    protobuf, which this environment lacks. Fail fast on the driver with the
    caveat instead of letting an executor die mid-stream.
    """
    if timeout_conf == GroupStateTimeout.NoTimeout:
        return
    import pyspark

    if pyspark.__version__.startswith("4.1."):
        raise NotImplementedError(
            f"GroupStateTimeout {timeout_conf!r} is known-broken with "
            f"applyInPandasWithState on PySpark {pyspark.__version__} "
            f"(worker crash; see ckg_spark/streaming/stateful.py docstring). "
            f"Use NoTimeout, or transformWithStateInPandas TTL where "
            f"protobuf is available."
        )


def first_mentions_stateful(
    stream_turns: DataFrame,
    vocab_tables: dict,
    timeout_conf: str = GroupStateTimeout.NoTimeout,
) -> DataFrame:
    """Per-conversation first-mention events (custom stateful operator).

    State = one row per conv_id carrying the sorted seen-entity array
    (bounded by the vocabulary size per conversation). Output mode must be
    'update'.

    State-eviction note (100-TB posture): production would evict idle
    conversations with GroupStateTimeout.ProcessingTimeTimeout +
    setTimeoutDuration — in this sandbox's PySpark 4.1.2 the timeout path
    crashes the Python worker (bisected: NoTimeout + array state works,
    ProcessingTimeTimeout crashes even on the doc example), and the
    successor API (transformWithStateInPandas, ValueState TTL) needs
    protobuf, absent from the container. ``check_state_timeout_support``
    guards the request so a caller asking for eviction fails fast on the
    driver with the documented caveat instead of crashing a worker; the
    operator contract and tests are unchanged by the eviction policy.
    """
    check_state_timeout_support(timeout_conf)
    linked = linked_mention_stream(stream_turns, vocab_tables)
    per_conv = linked.select(
        "conv_id", F.col("turn_idx").cast("int").alias("turn_idx"),
        "ident", "entity_type",
    )
    return per_conv.groupBy("conv_id").applyInPandasWithState(
        _first_mentions_fn,
        outputStructType=_FIRST_MENTION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout_conf,
    )


def streaming_exact_dedup(
    stream_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup: first-seen document per normalized-text
    digest, duplicates within the watermark horizon dropped by Spark's
    built-in streaming ``dropDuplicates`` state store.

    The digest (md5 of the dedup-normalized text — same key as the batch
    ``dedup_exact``, so batch backfill and streaming ingest agree) is the
    ONLY state key; the watermark bounds state size at 100-TB stream scale:
    a digest older than ``watermark_delay`` is evicted, trading unbounded
    exactness for bounded memory exactly the way production stream dedup
    does. Output mode: append.
    """
    from ..operators.extract import normalize_text

    digested = stream_docs.select(
        F.col(id_col), F.col(ts_col), F.col(text_col),
        F.md5(normalize_text(F.col(text_col))).alias("norm_hash"),
    )
    return (
        digested.withWatermark(ts_col, watermark_delay)
        .dropDuplicatesWithinWatermark(["norm_hash"])
    )


def streaming_curate(
    stream_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    watermark_delay: str = "1 hour",
    languages: tuple = ("en",),
    gopher_kwargs: dict | None = None,
) -> DataFrame:
    """Streaming corpus curation: the stateless slice of the batch
    plans/curate.py stack (Gopher document rules + language allowlist,
    evaluated as per-row JVM predicate COLUMNS on the stream itself — no
    stream-stream join) composed with the watermark-bounded exact-dedup
    state. Near-dup (MinHash) stays a batch/backfill concern: its bucket
    self-join is not expressible as bounded streaming state.

    Output mode: append (first surviving occurrence of each digest)."""
    from ..operators.textstats import gopher_keep_expr, lang_best

    filtered = (
        stream_docs
        .where(gopher_keep_expr(F.col(text_col), **(gopher_kwargs or {})))
        .where(lang_best(F.col(text_col)).isin(list(languages)))
    )
    return streaming_exact_dedup(
        filtered, text_col=text_col, id_col=id_col, ts_col=ts_col,
        watermark_delay=watermark_delay)


def streaming_session_stats(
    stream_events: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark_delay: str = "1 hour",
    value_col: str | None = None,
) -> DataFrame:
    """Streaming gap sessionization — the Structured-Streaming-native
    counterpart of `operators.temporal.session_stats`, built on Spark's
    ``session_window`` (dynamic-gap merging state, watermark-bounded):
    events within ``gap`` of a session's end extend it; the watermark
    closes sessions, so ``outputMode('append')`` emits each finished
    session exactly once.

    Boundary semantics differ from the batch operator by one instant:
    the batch `sessionize` keeps a gap EXACTLY equal to the threshold in
    one session (strict >), while `session_window`'s half-open
    [start, last+gap) window starts a new session at exactly-gap spacing.
    Equality with the batch composition holds for any stream without
    exact-boundary gaps (asserted in the tests).

    Output: (key, session_start, session_end, n_events[, sum_value]) —
    session bounds are the window struct's bounds (end = last event +
    gap, Spark's session extent convention)."""
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("sum_value"))
    return (
        stream_events.withWatermark(ts_col, watermark_delay)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sw"),
                 F.col(key_col))
        .agg(*aggs)
        .select(F.col(key_col),
                F.col("sw.start").alias("session_start"),
                F.col("sw.end").alias("session_end"),
                *([F.col("n_events")] +
                  ([F.col("sum_value")] if value_col is not None else [])))
    )
