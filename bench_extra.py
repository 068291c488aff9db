"""Extra benchmarks: per-stage breakdowns of the heavy bench queries.

NOT part of the frozen driver bench (bench.py). Each breakdown isolates the
computation with the noop sink (guide §1.4) and labels jobs
(setJobDescription) so stage attribution is unambiguous.

Usage:
    python bench_extra.py kg|q93|q31|q21|pack|curation|all
Prints one JSON line per breakdown.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _timed(spark, label, fn, out):
    spark.sparkContext.setJobDescription(label)
    t0 = time.time()
    r = fn()
    out[label] = round(time.time() - t0, 3)
    spark.sparkContext.setJobDescription(None)
    return r


def breakdown_kg(spark) -> dict:
    from pyspark.sql import functions as F

    from bench import _ensure_bench_inputs
    from ckg_spark.operators import extract as X
    from ckg_spark.operators import link as L
    from ckg_spark.operators import materialize as M
    from ckg_spark.operators.canonicalize import canonical_mapping
    from ckg_spark.vocab import vocab_to_spark

    vocab, tpath = _ensure_bench_inputs()
    tables = vocab_to_spark(spark, vocab)
    out: dict = {}
    cpus = spark.sparkContext.defaultParallelism

    t = spark.read.parquet(tpath)
    _timed(spark, "kg:00_scan_count", lambda: t.count(), out)
    t = t.repartition(2 * cpus, "conv_id", "turn_idx")

    grams = X.prepare_alias_grams(tables["aliases"])
    alias_table = L.prepare_alias_table(tables["aliases"])

    mentions = X.extract_mentions(t, grams)
    _timed(spark, "kg:10_extract_noop", lambda: _noop(mentions), out)

    linked0 = L.link_mentions(mentions, alias_table, tables["stoplist"],
                              keep="best")
    _timed(spark, "kg:20_extract+link_noop", lambda: _noop(linked0), out)

    canonical = canonical_mapping(
        tables["identity_edges"], tables["aliases"].select("ident").distinct())
    _timed(spark, "kg:30_canonical_mapping", lambda: _noop(canonical), out)

    slim = (M.canonicalize_linked(linked0, canonical)
            .select("conv_id", "turn_idx", "canonical_id", "entity_type")
            .repartition(2 * cpus, "conv_id", "turn_idx"))
    _timed(spark, "kg:40_slim_stream_noop", lambda: _noop(slim), out)

    cached = slim.persist()
    _timed(spark, "kg:50_cache_build", lambda: cached.count(), out)
    me = M.mention_edges(cached)
    _timed(spark, "kg:60_mention_edges_noop", lambda: _noop(me), out)
    ce = M.comention_edges(cached)
    _timed(spark, "kg:70_comention_edges_noop", lambda: _noop(ce), out)
    edges = me.unionByName(ce)
    _timed(spark, "kg:80_edges_count", lambda: edges.count(), out)
    cached.unpersist()
    return out


def breakdown_q31(spark) -> dict:
    from pyspark.sql import functions as F

    from ckg_spark.operators import dedup as D
    from ckg_spark.operators.canonicalize import connected_components

    out: dict = {}
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    _timed(spark, "q31:00_scan", lambda: docs.count(), out)

    sh_lazy = D.shingles(docs, "doc_id", "text", k=3)
    _timed(spark, "q31:10_shingles_ckpt",
           lambda: sh_lazy.localCheckpoint(eager=True), out)
    sh = sh_lazy.localCheckpoint(eager=True)

    sigs = D.minhash_signatures(sh, n_hashes=64)
    _timed(spark, "q31:20_signatures_noop", lambda: _noop(sigs), out)

    cands = D.lsh_candidate_pairs(sigs, bands=16, rows=4)
    _timed(spark, "q31:30_candidates_noop", lambda: _noop(cands), out)

    verified = D.exact_jaccard(cands, sh).where(F.col("jaccard") >= 0.8)
    _timed(spark, "q31:40_verified_noop", lambda: _noop(verified), out)

    edges = verified.select(
        F.col("doc_a").cast("string").alias("ident_a"),
        F.col("doc_b").cast("string").alias("ident_b"))
    cc = connected_components(edges)
    _timed(spark, "q31:50_cc_noop", lambda: _noop(cc), out)
    return out


def breakdown_q93(spark) -> dict:
    from pyspark.sql import Window, functions as F

    from ckg_spark.operators.canonicalize import incremental_canonical_mapping
    from ckg_spark.operators.ckpt import checkpoint_reset_stats

    out: dict = {}
    c = spark.read.parquet(os.path.join(SF_DIR, "customer.parquet")).select(
        F.concat(F.lit("c"), F.lpad(F.col("c_custkey").cast("string"),
                                    7, "0")).alias("ident"),
        "c_nationkey", "c_custkey")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    edges = (
        c.withColumn("ident_b", F.lead("ident").over(w))
        .where(F.col("ident_b").isNotNull())
        .select(F.col("ident").alias("ident_a"), "ident_b")
    )
    parity = F.conv(
        F.substring(F.md5(F.concat_ws("|", "ident_a", "ident_b")), 1, 4),
        16, 10).cast("long") % 2
    edges = _timed(spark, "q93:00_edges_ckpt", lambda: checkpoint_reset_stats(
        edges.withColumn("_p", parity)), out)
    m1 = _timed(spark, "q93:10_fold1", lambda: incremental_canonical_mapping(
        None, edges.where(F.col("_p") == 0))[0], out)
    m1 = _timed(spark, "q93:20_m1_ckpt",
                lambda: checkpoint_reset_stats(m1), out)
    m2 = _timed(spark, "q93:30_fold2", lambda: incremental_canonical_mapping(
        m1, edges.where(F.col("_p") == 1),
        new_idents=c.select("ident"))[0], out)
    _timed(spark, "q93:40_final_count", lambda: m2.count(), out)
    return out


def breakdown_q21(spark) -> dict:
    from ckg_spark.driver_contract import q21_mentions

    out: dict = {}
    _timed(spark, "q21:full", lambda: q21_mentions(spark, SF_DIR).count(), out)
    return out


def breakdown_pack(spark) -> dict:
    from pyspark.sql import functions as F

    from bench import _ensure_bench_inputs
    from ckg_spark.operators.packing import pack_sequences

    _, tpath = _ensure_bench_inputs()
    out: dict = {}
    turns = spark.read.parquet(tpath).select(
        F.concat_ws(":", "conv_id", F.format_string("%06d", "turn_idx"))
        .alias("doc_id"),
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"))
    _timed(spark, "pack:00_tokencount_noop", lambda: _noop(turns), out)
    segs = pack_sequences(turns, 2048)
    _timed(spark, "pack:10_segments_noop", lambda: _noop(segs), out)
    _timed(spark, "pack:20_distinct_count",
           lambda: segs.select("seq_id").distinct().count(), out)
    return out


def breakdown_curation(spark) -> dict:
    import shutil
    import tempfile

    from ckg_spark.plans.curate import run_curation_pipeline

    out: dict = {}
    d = os.path.join(tempfile.gettempdir(), "ckg_bx_curate")
    shutil.rmtree(d, ignore_errors=True)
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    docs.count()
    t0 = time.time()
    cur = run_curation_pipeline(
        spark, docs, d,
        gopher_kwargs={"min_words": 50, "min_stopword_hits": 1},
        minhash_threshold=0.8)
    cur.corpus.count()
    out["curation:full"] = round(time.time() - t0, 3)
    return out


BREAKDOWNS = {
    "kg": breakdown_kg,
    "q31": breakdown_q31,
    "q93": breakdown_q93,
    "q21": breakdown_q21,
    "pack": breakdown_pack,
    "curation": breakdown_curation,
}


def main():
    from ckg_spark.session import get_spark

    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    names = list(BREAKDOWNS) if which == "all" else which.split(",")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("bench_extra", cpus=cpus)
    for n in names:
        res = BREAKDOWNS[n](spark)
        print(json.dumps({"breakdown": n, "stages": res,
                          "total": round(sum(res.values()), 3)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
