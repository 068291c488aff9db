"""Similarity search over embedding columns (array<float>).

Two paths, per the scale contract:
- ``cosine_topk``: brute-force exact — a single JVM pass computing the dot
  product against a literal query vector with ``zip_with``/``aggregate``
  (no Python), then a top-k. The baseline and the verifier for the ANN path.
- ``lsh_topk``: random-hyperplane LSH — sign-bit signatures from fixed
  deterministic planes, bucket by signature prefix, exact rerank inside the
  probed buckets only. At 100 TB the bucket join prunes the candidate set by
  ~2^bits; the planes are seeded constants so results are stable across runs
  and cluster sizes.

Also ``embedding_near_dups``: all-pairs near-duplicate detection by cosine
over LSH buckets (the embedding flavor of dedup).
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F


def _vec_lit(vec: list[float]):
    return F.array(*[F.lit(float(x)) for x in vec])


def with_cosine(df: DataFrame, query: list[float], vec_col: str = "embedding",
                out_col: str = "cosine") -> DataFrame:
    """Append cosine similarity vs a literal query vector — pure JVM."""
    q = _vec_lit(query)
    qn = math.sqrt(sum(x * x for x in query)) or 1.0
    dot = F.aggregate(
        F.zip_with(F.col(vec_col), q, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = F.sqrt(
        F.aggregate(
            F.col(vec_col),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return df.withColumn(out_col, dot / (norm * F.lit(qn)))


def cosine_topk(df: DataFrame, query: list[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact brute-force top-k by cosine (ties broken by id for determinism)."""
    scored = with_cosine(df, query, vec_col)
    return (
        scored.select(id_col, "cosine")
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _planes(dim: int, n_planes: int, seed: int = 1234) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


def lsh_signature_col(vec_col: str, planes: list[list[float]]):
    """Bit-signature column: bit i = sign(v . plane_i)."""
    bits = []
    for i, p in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), _vec_lit(p), lambda a, b: a.cast("double") * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig + b
    return sig.cast("long")


def lsh_topk(df: DataFrame, query: list[float], k: int = 10, n_planes: int = 8,
             id_col: str = "vec_id", vec_col: str = "embedding",
             seed: int = 1234, multiprobe_hamming: int = 1) -> DataFrame:
    """Approximate top-k: filter to buckets within ``multiprobe_hamming`` of
    the query signature, exact-rerank the survivors."""
    dim = len(query)
    planes = _planes(dim, n_planes, seed)
    sig = lsh_signature_col(vec_col, planes)
    qsig = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(query, p)) >= 0:
            qsig |= 1 << i
    cands = df.withColumn("_sig", sig).where(
        F.bit_count(F.col("_sig").bitwiseXOR(F.lit(qsig))) <= multiprobe_hamming
    )
    return cosine_topk(cands.drop("_sig"), query, k=k, id_col=id_col, vec_col=vec_col)


def embedding_near_dups(df: DataFrame, threshold: float = 0.95, n_planes: int = 12,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        seed: int = 99, bucket_cap: int = 500) -> DataFrame:
    """Near-duplicate pairs by cosine >= threshold, candidates from identical
    LSH signatures (high threshold -> near-identical signatures)."""
    first = df.select(F.size(vec_col).alias("d")).limit(1).collect()
    if not first:
        return df.sparkSession.createDataFrame([], "id_a long, id_b long, cosine double")
    dim = first[0]["d"]
    planes = _planes(dim, n_planes, seed)
    sigs = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        lsh_signature_col(vec_col, planes).alias("sig"),
    )
    counts = sigs.groupBy("sig").count().where(F.col("count") <= bucket_cap)
    small = sigs.join(counts.select("sig"), on="sig", how="left_semi")
    a, b = small.alias("a"), small.alias("b")
    pairs = (
        a.join(b, on="sig")
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (
                F.aggregate(
                    F.zip_with(F.col("a.v"), F.col("b.v"),
                               lambda x, y: x.cast("double") * y.cast("double")),
                    F.lit(0.0), lambda acc, x: acc + x)
                / (
                    F.sqrt(F.aggregate(F.col("a.v"), F.lit(0.0),
                                       lambda acc, x: acc + x.cast("double") * x.cast("double")))
                    * F.sqrt(F.aggregate(F.col("b.v"), F.lit(0.0),
                                         lambda acc, x: acc + x.cast("double") * x.cast("double")))
                )
            ).alias("cosine"),
        )
    )
    return pairs.where(F.col("cosine") >= threshold)


# -- persisted ANN index -------------------------------------------------------

def build_ann_index(df: DataFrame, index_dir: str, n_planes: int = 8,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    seed: int = 1234) -> str:
    """Materialize an LSH index: (sig, id, vector) parquet PARTITIONED BY the
    signature, plus a manifest carrying the plane parameters.

    At query time only the probed signature partitions are scanned
    (partition pruning), so each query touches ~C(n_planes, <=h)/2^n_planes
    of the data instead of a full pass — the fix for the round-1 'signatures
    recomputed per query over a full scan' weakness. The index is a plain
    hive-partitioned parquet dir (``{index_dir}/ann_sigs``), not a snapshot
    table: lookups rely on Spark's own ``PartitionFilters`` over it.
    """
    import json
    import os

    first = df.select(F.size(vec_col).alias("d")).limit(1).collect()
    if not first:
        raise ValueError("cannot index an empty embedding table")
    dim = int(first[0]["d"])
    planes = _planes(dim, n_planes, seed)
    sigs = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        lsh_signature_col(vec_col, planes).alias("sig"),
    )
    sigs.write.mode("overwrite").partitionBy("sig").parquet(
        os.path.join(index_dir, "ann_sigs"))
    manifest = {"dim": dim, "n_planes": n_planes, "seed": seed,
                "id_col": id_col, "vec_col": vec_col}
    with open(os.path.join(index_dir, "ann_manifest.json"), "w") as f:
        json.dump(manifest, f)
    return index_dir


def _probe_sigs(qsig: int, n_planes: int, max_hamming: int) -> list[int]:
    """All signatures within hamming distance <= max_hamming of qsig
    (driver-side enumeration; C(n_planes, <=h) values)."""
    from itertools import combinations

    out = [qsig]
    for h in range(1, max_hamming + 1):
        for bits in combinations(range(n_planes), h):
            s = qsig
            for b in bits:
                s ^= (1 << b)
            out.append(s)
    return out


def ann_topk(spark, index_dir: str, query: list[float], k: int = 10,
             multiprobe_hamming: int = 1) -> DataFrame:
    """Top-k over a persisted index: read ONLY the probed sig partitions
    (partition-pruned scan), exact-rerank inside them. Same contract as
    ``lsh_topk`` on the raw table — tests assert identical output."""
    import json
    import os

    with open(os.path.join(index_dir, "ann_manifest.json")) as f:
        m = json.load(f)
    planes = _planes(m["dim"], m["n_planes"], m["seed"])
    qsig = 0
    for i, p in enumerate(planes):
        if sum(a * b for a, b in zip(query, p)) >= 0:
            qsig |= 1 << i
    probes = _probe_sigs(qsig, m["n_planes"], multiprobe_hamming)
    idx = spark.read.parquet(os.path.join(index_dir, "ann_sigs"))
    cands = idx.where(F.col("sig").isin(probes))  # partition pruning
    return cosine_topk(
        cands.select(F.col("id").alias(m["id_col"]),
                     F.col("v").alias(m["vec_col"])),
        query, k=k, id_col=m["id_col"], vec_col=m["vec_col"],
    )


# -- IVF (inverted-file) ANN ----------------------------------------------------

def _ivf_assign_udf(centroids):
    """Vectorized nearest-centroid assignment (Arrow-batched pandas UDF —
    one numpy matmul per batch, no per-row Python). ``centroids`` is a
    driver-scale (n_clusters x dim) list-of-lists, closed over and shipped
    once per executor."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)          # (k, dim)
    half_norms = 0.5 * (C * C).sum(axis=1)               # (k,)

    @pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        V = np.stack(vecs.to_numpy())                     # (batch, dim)
        # argmin ||v-c||^2 == argmax v.c - ||c||^2/2
        scores = V.astype(np.float64) @ C.T - half_norms
        return pd.Series(scores.argmax(axis=1).astype("int32"))

    return assign


def ivf_train(df: DataFrame, n_clusters: int = 16, iters: int = 5,
              id_col: str = "vec_id", vec_col: str = "embedding",
              seed: int = 7) -> list[list[float]]:
    """Distributed Lloyd k-means over the embedding column (the IVF coarse
    quantizer). Init picks the ``n_clusters`` vectors with the smallest
    xxhash64(id, seed) — deterministic, no data-order dependence. Each
    iteration is one vectorized assignment (pandas UDF) plus one JVM
    aggregation: posexplode the vector and average per (cluster, position) —
    map-side combine, no skew (cluster count is tiny), centroids collected
    to the driver are (n_clusters x dim) scalars.
    """
    sample = (
        df.select(F.col(vec_col).alias("v"),
                  F.xxhash64(F.col(id_col), F.lit(seed)).alias("h"))
        .orderBy("h").limit(max(50 * n_clusters, n_clusters)).collect()
    )
    S = np.asarray([[float(x) for x in r["v"]] for r in sample])
    # farthest-point init on the driver sample: deterministic, spreads seeds
    # across well-separated regions (avoids two seeds in one cluster)
    chosen = [0]
    d2 = ((S - S[0]) ** 2).sum(axis=1)
    while len(chosen) < min(n_clusters, len(S)):
        nxt = int(d2.argmax())
        chosen.append(nxt)
        d2 = np.minimum(d2, ((S - S[nxt]) ** 2).sum(axis=1))
    centroids = [S[i].tolist() for i in chosen]
    while len(centroids) < n_clusters:  # degenerate tiny inputs
        centroids.append(centroids[0])
    for _ in range(iters):
        assign = _ivf_assign_udf(centroids)
        assigned = df.select(F.col(vec_col).alias("v"),
                             assign(F.col(vec_col)).alias("c"))
        means = (
            assigned.select("c", F.posexplode("v").alias("pos", "x"))
            .groupBy("c", "pos").agg(F.avg("x").alias("m"))
            .collect()
        )
        by_c: dict[int, dict[int, float]] = {}
        for r in means:
            by_c.setdefault(r["c"], {})[r["pos"]] = r["m"]
        centroids = [
            [by_c[c][p] for p in sorted(by_c[c])] if c in by_c else centroids[c]
            for c in range(n_clusters)
        ]
    return centroids


def build_ivf_index(df: DataFrame, index_dir: str, n_clusters: int = 16,
                    iters: int = 5, id_col: str = "vec_id",
                    vec_col: str = "embedding", seed: int = 7) -> str:
    """Materialize an IVF index: train the coarse quantizer, assign every
    vector, write (cluster, id, vector) as parquet PARTITIONED BY cluster
    (``{index_dir}/ivf_rows``), and persist the centroids in the manifest.
    Queries scan only the ``n_probe`` partitions whose centroids are nearest
    the query — the IVF analog of the LSH index's signature pruning, done
    by Spark's ``PartitionFilters`` and dynamic partition pruning."""
    import json
    import os

    centroids = ivf_train(df, n_clusters, iters, id_col, vec_col, seed)
    assign = _ivf_assign_udf(centroids)
    rows = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        assign(F.col(vec_col)).alias("cluster"),
    )
    rows.write.mode("overwrite").partitionBy("cluster").parquet(
        os.path.join(index_dir, "ivf_rows"))
    manifest = {"n_clusters": n_clusters, "seed": seed, "iters": iters,
                "id_col": id_col, "vec_col": vec_col, "centroids": centroids}
    with open(os.path.join(index_dir, "ivf_manifest.json"), "w") as f:
        json.dump(manifest, f)
    return index_dir


def ivf_topk(spark, index_dir: str, query: list[float], k: int = 10,
             n_probe: int = 2) -> DataFrame:
    """Approximate top-k over a persisted IVF index: rank centroids by
    distance to the query on the driver (n_clusters scalars), read ONLY the
    ``n_probe`` nearest cluster partitions (partition-pruned scan), exact
    cosine rerank inside them."""
    import json
    import os

    import numpy as np

    with open(os.path.join(index_dir, "ivf_manifest.json")) as f:
        m = json.load(f)
    C = np.asarray(m["centroids"], dtype=np.float64)
    q = np.asarray(query, dtype=np.float64)
    d2 = ((C - q) ** 2).sum(axis=1)
    probes = [int(i) for i in np.argsort(d2)[:n_probe]]
    idx = spark.read.parquet(os.path.join(index_dir, "ivf_rows"))
    cands = idx.where(F.col("cluster").isin(probes))  # partition pruning
    return cosine_topk(
        cands.select(F.col("id").alias(m["id_col"]),
                     F.col("v").alias(m["vec_col"])),
        query, k=k, id_col=m["id_col"], vec_col=m["vec_col"],
    )


def _ivf_probe_udf(centroids: list[list[float]], n_probe: int):
    """Vectorized per-query probe list: the ``n_probe`` nearest centroids by
    L2 (argpartition over the tiny (batch x n_clusters) score matrix)."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    half_norms = 0.5 * (C * C).sum(axis=1)

    @pandas_udf("array<int>")
    def probes(vecs: pd.Series) -> pd.Series:
        V = np.stack(vecs.to_numpy()).astype(np.float64)
        scores = V @ C.T - half_norms          # argmax == nearest by L2
        order = np.argsort(-scores, axis=1)[:, :n_probe]
        return pd.Series([row.astype("int32").tolist() for row in order])

    return probes


def ivf_topk_batch(spark, index_dir: str, queries: DataFrame, k: int = 10,
                   n_probe: int = 2, query_id_col: str = "query_id",
                   query_vec_col: str = "embedding",
                   broadcast_queries: bool = True) -> DataFrame:
    """Batch ANN over a persisted IVF index: approximate top-k for EVERY row
    of ``queries`` in one distributed join — the retrieval/dedup shape a
    100-TB pipeline needs (millions of queries; a driver loop over
    ``ivf_topk`` would serialize them).

    Plan: (1) vectorized centroid scoring assigns each query its ``n_probe``
    nearest clusters (Arrow-batched pandas UDF against the tiny centroid
    matrix) and explodes to (cluster, query); (2) join the cluster-
    partitioned index on ``cluster`` — with ``broadcast_queries`` (the
    dictionary-scale default) Spark's dynamic partition pruning skips
    unprobed index partitions entirely, mirroring the single-query path's
    manifest pruning; (3) exact cosine rerank with the JVM zip_with dot
    product; (4) per-query top-k window (ties broken by id). Returns
    (query_id, vec_id-named id col, cosine, rank).
    """
    import json
    import os

    from pyspark.sql import Window

    with open(os.path.join(index_dir, "ivf_manifest.json")) as f:
        m = json.load(f)
    probes = _ivf_probe_udf(m["centroids"], n_probe)
    qx = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("qv"),
        F.explode(probes(F.col(query_vec_col))).alias("cluster"),
    )
    qn = F.sqrt(F.aggregate(
        F.col("qv"), F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double")))
    qx = qx.withColumn("qnorm", qn)
    idx = spark.read.parquet(os.path.join(index_dir, "ivf_rows"))
    if broadcast_queries:
        # Spark's dynamic partition pruning declines this join (no selective
        # build-side predicate to derive from), so prune STATICALLY: the
        # union of probed clusters is at most n_clusters values — one cheap
        # job over the (dictionary-scale, by assumption) query table buys a
        # literal PartitionFilters in-set on the index scan, same pruning as
        # the single-query manifest path. Plan-audited in tests.
        probed = sorted(
            r["cluster"] for r in qx.select("cluster").distinct().collect())
        idx = idx.where(F.col("cluster").isin(probed))
        qx = F.broadcast(qx)
    joined = idx.join(qx, on="cluster")
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("qv"),
                   lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    vnorm = F.sqrt(F.aggregate(
        F.col("v"), F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double")))
    scored = joined.select(
        "query_id", F.col("id").alias(m["id_col"]),
        (dot / (vnorm * F.col("qnorm"))).alias("cosine"),
    ).dropDuplicates(["query_id", m["id_col"]])  # same id via 2 probed clusters
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col(m["id_col"]).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# -- semantic dedup (SemDeDup) -------------------------------------------------

def semantic_seeds(df: DataFrame, k: int, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   seed: str = "sem0") -> list[tuple]:
    """The k rows with the lowest seeded md5 uniform draw (ties by id):
    a deterministic, partitioning-independent centroid pick that any
    external engine reproduces bit-for-bit (same draw as
    `sampling.hash_uniform`). Returns [(id, vector), ...] ordered by
    draw — k is a user-chosen dictionary-scale constant (the collect is
    k rows, never corpus-scale)."""
    from .sampling import hash_uniform

    rows = (df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                      hash_uniform(id_col, seed=seed).alias("u"))
            .orderBy(F.asc("u"), F.asc("id")).limit(int(k)).collect())
    return [(r["id"], [float(x) for x in r["v"]]) for r in rows]


def assign_to_seeds(df: DataFrame, seeds: list[tuple],
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Nearest-seed cluster assignment by cosine (one narrow JVM pass —
    the seed vectors are literals folded into the plan, so nothing
    shuffles and nothing is a UDF). Ties prefer the earliest seed in
    ``seeds`` order, so the assignment is deterministic."""
    norm = F.sqrt(F.aggregate(
        F.col(vec_col), F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double")))
    scored = []
    for i, (_, v) in enumerate(seeds):
        q = _vec_lit(v)
        qn = math.sqrt(sum(x * x for x in v)) or 1.0
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), q, lambda a, b: a.cast("double") * b),
            F.lit(0.0), lambda acc, x: acc + x)
        cos = dot / (norm * F.lit(qn))
        # array_max on (cos, -i) structs: max cosine, ties -> max(-i) =
        # LOWEST seed index, matching the oracle's rank tie-break
        scored.append(F.struct(cos.alias("c"), F.lit(-i).alias("ni")))
    best = F.array_max(F.array(*scored))
    return df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                     (-best["ni"]).cast("int").alias("cluster"))


def semantic_dedup_pairs(df: DataFrame, k: int = 8, threshold: float = 0.99,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         seed: str = "sem0") -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs found
    by clustering embeddings and comparing only WITHIN a cluster —
    bounding the quadratic pair search to cluster-local blocks, same
    posture as the LSH/IVF family. This sandbox rendition assigns to k
    deterministically drawn seed embeddings in one pass (no k-means
    iterations: the pick and the assignment stay reproducible under any
    parallelism AND re-derivable by the SQL oracle; swap
    `ivf_train` centroids in when exact oracle parity is not required).

    Output: (id_a, id_b, cluster, cosine) for intra-cluster pairs with
    cosine >= threshold, id_a < id_b.

    Scale: the only corpus shuffle is the self-join on ``cluster``
    (clusters bound pair work; choose k so corpus/k fits a join block,
    SemDeDup's own design). Seed vectors are driver literals (k rows)."""
    seeds = semantic_seeds(df, k, id_col, vec_col, seed)
    if not seeds:
        return df.sparkSession.createDataFrame(
            [], "id_a long, id_b long, cluster int, cosine double")
    # both sides of the cluster self-join read the assignment; lazy, the
    # k-seed scoring pass (k dot products per row) runs twice
    assigned = assign_to_seeds(df, seeds, id_col, vec_col).localCheckpoint(
        eager=True)
    a, b = assigned.alias("a"), assigned.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)

    def _n(side):
        return F.sqrt(F.aggregate(
            F.col(side + ".v"), F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double")))

    return (a.join(b, on=[F.col("a.cluster") == F.col("b.cluster"),
                          F.col("a.id") < F.col("b.id")])
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                    F.col("a.cluster").alias("cluster"),
                    (dot / (_n("a") * _n("b"))).alias("cosine"))
            .where(F.col("cosine") >= F.lit(float(threshold))))


def semantic_dedup(df: DataFrame, k: int = 8, threshold: float = 0.99,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   seed: str = "sem0") -> DataFrame:
    """(id, canonical_id) for rows in a semantic near-dup group:
    connected components over the verified intra-cluster pairs, canonical
    = the CC representative (min string ident, the house CC ordering) —
    keep one representative per group, same contract as
    `dedup.dedup_minhash_lsh` / `dedup.dedup_simhash`."""
    from .canonicalize import connected_components

    pairs = semantic_dedup_pairs(df, k, threshold, id_col, vec_col, seed)
    edges = pairs.select(F.col("id_a").cast("string").alias("ident_a"),
                         F.col("id_b").cast("string").alias("ident_b"))
    return connected_components(edges).select(
        F.col("ident").alias(id_col), F.col("component").alias("canonical_id"))
