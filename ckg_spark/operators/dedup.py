"""Deduplication operators for large-scale text corpora.

Reference analog: the per-parser in-memory ``set()`` dedup
(ckg/graphdb_builder/databases/parsers/stringParser.py:10,54-57) and
drop_duplicates(keep='first') (proteomicsParser.py:382) — generalized here to
the dedup suite a 100 TB training-data pipeline needs:

- exact: hash-groupBy on normalized text (pure shuffle-on-digest; the digest
  groupBy keys on a 128-bit md5 so hot identical documents hash-spread only
  by their own mass — AQE skew split covers pathological clone armies).
- MinHash + LSH: shingle -> 64 minhash slots via affine transforms of one
  xxhash64 base hash (all JVM column arithmetic, no UDF) -> band buckets ->
  candidate pairs via bucket self-join -> exact-jaccard verify -> connected
  components -> canonical keep-min-id.
- SimHash: 64-bit signature from a JVM fold over token hashes; near-dup =
  small hamming distance within band buckets.
- n-gram Jaccard: exact verify used standalone for adjacent-id pairs (the
  SQL-oracle-checkable slice).

Scale notes: every stage is expressible as explode + groupBy + equi-join;
candidate generation never materializes the O(n^2) pair space — only
same-bucket pairs, and ``bucket_cap`` guards degenerate buckets (a bucket of
k docs contributes k(k-1)/2 pairs; capping protects against boilerplate
floods, the standard trick in web-dedup pipelines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .extract import normalize_text

def normalized_doc(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc_id"), normalize_text(F.col(text_col)).alias("norm")
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min id per distinct normalized text. Output: (doc_id, norm_hash, group_size)."""
    d = normalized_doc(df, id_col, text_col).withColumn("norm_hash", F.md5("norm"))
    return (
        d.groupBy("norm_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("group_size"))
        .select("doc_id", "norm_hash", "group_size")
    )


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
             k: int = 3) -> DataFrame:
    """Distinct k-token shingles per doc: (doc_id, shingle)."""
    toks = normalized_doc(df, id_col, text_col).withColumn(
        "toks", F.split(F.col("norm"), " ")
    )
    sh = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(toks) >= {k} THEN "
                f"transform(sequence(1, size(toks)-{k}+1), i -> array_join(slice(toks, i, {k}), ' ')) "
                f"WHEN size(toks) > 0 AND toks[0] != '' THEN array(array_join(toks, ' ')) "
                f"ELSE array() END"
            )
        ).alias("shingle"),
    )
    return sh.distinct()


def minhash_signatures(sh: DataFrame, n_hashes: int = 64) -> DataFrame:
    """(doc_id, sig array<bigint>) — n_hashes min values of permuted shingle hashes.

    Each "permutation" is xxhash64 with a distinct integer seed column —
    pure JVM, ANSI-safe (no modular arithmetic to overflow), aggregated with
    n_hashes min() (algebraic, map-side combined, skew-immune).

    The shingle STRING is hashed exactly once (base hash); the n_hashes
    permutations re-hash the resulting 8-byte long with per-permutation
    seeds — 64x less string traffic on the hot path for the same
    uniform-hash-family guarantees (standard double-hashing construction).
    """
    based = sh.withColumn("_h", F.xxhash64(F.col("shingle")))
    aggs = [
        F.min(F.xxhash64(F.lit(i * 2654435761 + 12345), F.col("_h"))).alias(f"_m{i}")
        for i in range(n_hashes)
    ]
    sigs = based.groupBy("doc_id").agg(*aggs)
    return sigs.select(
        "doc_id", F.array(*[F.col(f"_m{i}") for i in range(n_hashes)]).alias("sig")
    )


def band_rows(sigs: DataFrame, bands: int = 16, rows: int = 4) -> DataFrame:
    """LSH banding: (doc_id, band, bh) — one 8-byte bucket hash per band
    (the persisted form an incremental index stores, plans/neardup.py)."""
    return sigs.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> named_struct('band', b, 'bh', xxhash64(b, array_join(slice(sig, b*{rows}+1, {rows}), '_'))))"
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))


def lsh_candidate_pairs(sigs: DataFrame, bands: int = 16, rows: int = 4,
                        bucket_cap: int = 200) -> DataFrame:
    """Same-band-bucket candidate pairs (doc_a < doc_b), distinct.

    bands*rows must equal the signature length. ``bucket_cap`` drops
    degenerate buckets (boilerplate floods) before the quadratic self-join.
    """
    # banded feeds BOTH the bucket-size filter and the pairing self-join;
    # left lazy, the whole signature pipeline (64 hash aggs over the
    # shingle table) runs twice. The band table is tiny (docs x bands
    # rows of 3 longs) — materialize it once.
    banded = band_rows(sigs, bands=bands, rows=rows).localCheckpoint(eager=True)

    counts = banded.groupBy("band", "bh").count().where(F.col("count") <= bucket_cap)
    small = banded.join(counts.select("band", "bh"), on=["band", "bh"], how="left_semi")

    a, b = small.alias("a"), small.alias("b")
    return (
        a.join(b, on=["band", "bh"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def exact_jaccard(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact shingle-set Jaccard for each candidate pair.

    Shape (r6): ONE aggregation packs each doc's distinct shingle set into
    an array of 8-byte xxhash64 values, and the candidate pairs join that
    per-doc array table twice; the intersection is a JVM array_intersect
    over fixed-width longs. The previous form expanded every pair to
    (pair x shingles-of-doc_a) rows and shuffled the shingle STRING table
    three times (per-doc sizes, doc_a attach, (doc_b, shingle) probe) —
    the guide §2.3 "shuffle keys, not payloads" case. Set sizes stay exact
    string-level counts; the intersection counts hash values, identical to
    string intersection up to xxhash64 collisions (~|sh|^2/2^64 — the same
    immaterial-odds standard minhash_signatures already rests on; the
    exact-truth q31 oracle and test_exact_jaccard_matches_python pin it).
    """
    sets = (
        sh.groupBy("doc_id")
        .agg(
            F.collect_set(F.xxhash64("shingle")).alias("_hs"),
            F.count(F.lit(1)).alias("sz"),
        )
    )
    a = sets.select(F.col("doc_id").alias("doc_a"),
                    F.col("_hs").alias("_ha"), F.col("sz").alias("sz_a"))
    b = sets.select(F.col("doc_id").alias("doc_b"),
                    F.col("_hs").alias("_hb"), F.col("sz").alias("sz_b"))
    inter = F.size(F.array_intersect("_ha", "_hb"))
    return (
        pairs.join(a, on="doc_a")
        .join(b, on="doc_b")
        .select(
            "doc_a", "doc_b",
            (inter / (F.col("sz_a") + F.col("sz_b") - inter)).alias("jaccard"),
        )
    )


def dedup_minhash_lsh(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      threshold: float = 0.8, k: int = 3, n_hashes: int = 64,
                      bands: int = 16, rows: int = 4) -> DataFrame:
    """Full near-dup pipeline: (doc_id, canonical_id) for docs in a near-dup
    cluster; canonical = min id of the connected component over verified pairs."""
    from .canonicalize import connected_components

    # The shingle table feeds BOTH the signature branch and the exact-jaccard
    # verify branch; left lazy, the normalize+shingle+distinct job runs twice
    # (round-2 verdict's top perf defect — q31 was the costliest bench
    # query). Materialize it ONCE with an eager localCheckpoint. Measured at
    # sf0.1 (interleaved trials): lazy 6.0-16.1s, .persist() 18.0-19.5s
    # (caching the wide string rows defeats AQE on the cached subtree and
    # pays a deserialized-row cache build), localCheckpoint 5.4s stable —
    # the checkpoint both deduplicates the job and truncates the lineage the
    # downstream self-joins re-optimize over. Executor-local storage is the
    # right durability tier for an intra-operator temp (same lifetime as a
    # shuffle file).
    sh = shingles(df, id_col, text_col, k=k).localCheckpoint(eager=True)
    sigs = minhash_signatures(sh, n_hashes=n_hashes)
    cands = lsh_candidate_pairs(sigs, bands=bands, rows=rows)
    verified = exact_jaccard(cands, sh).where(F.col("jaccard") >= threshold)
    edges = verified.select(
        F.col("doc_a").cast("string").alias("ident_a"),
        F.col("doc_b").cast("string").alias("ident_b"),
    )
    return connected_components(edges).select(
        F.col("ident").alias("doc_id"), F.col("component").alias("canonical_id")
    )


def _md5_64(col):
    """First 64 bits of md5 as a signed long (two 32-bit hex halves; the
    high half's shiftleft wraps into the sign bit, preserving the exact
    bit pattern). Exists so the simhash family has a hash both Spark and
    DuckDB can compute bit-identically (`md5` is in both engines;
    `xxhash64` is Spark-only) — the q33 value-checked oracle runs on this
    variant while production defaults to the faster xxhash64."""
    hx = F.md5(col)
    hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash_signatures(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       hash_fn: str = "xxhash64") -> DataFrame:
    """64-bit SimHash per doc, as a JVM fold over distinct token hashes.

    bit_i(sig) = sign of sum over tokens of (+1 if bit_i(hash(token)) else -1).

    ``hash_fn``: 'xxhash64' (default, fastest) or 'md5' (first 64 md5
    bits — bit-identical in DuckDB, so results are exactly oracle-able).
    The sketch's near-dup properties are identical: both are uniform
    64-bit hashes; only the concrete bit patterns differ.
    """
    if hash_fn == "xxhash64":
        h = F.xxhash64("tok")
    elif hash_fn == "md5":
        h = _md5_64(F.col("tok"))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r} (xxhash64|md5)")
    toks = (
        normalized_doc(df, id_col, text_col)
        .select("doc_id", F.explode(F.split("norm", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .distinct()
        .withColumn("h", h)
    )
    packed = toks.groupBy("doc_id").agg(F.collect_list("h").alias("hs"))
    return packed.select(
        "doc_id",
        F.expr(
            "aggregate("
            "  zip_with("
            "    aggregate(hs, array_repeat(0L, 64), "
            "      (acc, h) -> zip_with(acc, sequence(0, 63), "
            "        (a, i) -> a + IF(((h >> i) & 1) = 1, 1, -1))), "
            "    sequence(0, 63), (c, i) -> IF(c > 0, shiftleft(1L, i), 0L)), "
            "  0L, (s, bit) -> s | bit)"
        ).alias("simhash"),
    )


def simhash_near_dups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                      max_hamming: int = 3, bucket_cap: int = 200,
                      metrics: dict | None = None,
                      hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup pairs by SimHash: block on 4 x 16-bit chunks (any pair within
    hamming distance <= 3 shares at least one identical chunk), verify exact
    hamming distance JVM-side.

    ``bucket_cap`` guards the quadratic self-join the same way
    ``lsh_candidate_pairs`` does: a chunk value shared by more than
    ``bucket_cap`` docs (empty/boilerplate documents collapse to one
    simhash) is dropped before pairing. No silent caps: pass a ``metrics``
    dict to receive ``{"dropped_buckets": n}`` (counted in the same cached
    pass that builds the bucket filter — one extra driver action only when
    the caller opts in; the default path stays fully lazy with zero eager
    actions, per the round-2 verdict). Recall note: a dropped bucket can only
    lose pairs whose OTHER three chunks all differ — i.e. boilerplate floods —
    the exact-hamming verify keeps precision at 1.0 regardless."""
    sigs = simhash_signatures(df, id_col, text_col, hash_fn=hash_fn)
    chunks = sigs.select(
        "doc_id", "simhash",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), "
                "c -> named_struct('chunk', c, 'cv', (simhash >> (c * 16)) & 65535))"
            )
        ).alias("cc"),
    ).select("doc_id", "simhash", F.col("cc.chunk").alias("chunk"), F.col("cc.cv").alias("cv"))
    if bucket_cap is not None:
        bcounts = chunks.groupBy("chunk", "cv").count()
        if metrics is not None:
            bcounts = bcounts.persist()
            metrics["dropped_buckets"] = (
                bcounts.where(F.col("count") > bucket_cap).count()
            )
        small = bcounts.where(F.col("count") <= bucket_cap).select("chunk", "cv")
        chunks = chunks.join(small, on=["chunk", "cv"], how="left_semi")
    a, b = chunks.alias("a"), chunks.alias("b")
    pairs = (
        a.join(b, on=["chunk", "cv"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs.where(F.col("hamming") <= max_hamming)


def repetition_flags(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text",
                     max_dup_line_frac: float = 0.3,
                     max_dup_line_char_frac: float = 0.2,
                     max_top2gram_char_frac: float = 0.2,
                     max_dup5gram_char_frac: float = 0.15) -> DataFrame:
    """Gopher-style within-document repetition rules (Rae et al. 2021 A1):
    duplicate-line fraction, duplicate-line character fraction, character
    fraction of the single most common word 2-gram, and the character
    fraction covered by word 5-grams that occur more than once (the
    standard non-overlapping-span proxy used by open reproductions — the
    paper's exact overlapping-span accounting is noted, not claimed).

    Shapes: line metrics are per-row higher-order array expressions (no
    shuffle); the n-gram metrics explode to (doc, gram) and aggregate —
    algebraic counts, map-side combined, grouped back on doc_id (one
    shuffle keyed by the same doc_id the caller already partitions by).
    Output: (id, the four metrics, keep).
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    d = df.select(F.col(id_col).alias("_id"), text.alias("_t"))
    lines = F.filter(F.split(F.col("_t"), "\n"), lambda l: F.trim(l) != "")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    line_chars = F.aggregate(
        lines, F.lit(0).cast("bigint"), lambda acc, l: acc + F.length(l)
    ).cast("double")
    # duplicate lines: total - distinct; duplicated chars via the distinct
    # array's char mass (each repeated line's extra copies count)
    dup_line_frac = (F.size(lines) - F.size(F.array_distinct(lines))) / n_lines
    distinct_chars = F.aggregate(
        F.array_distinct(lines), F.lit(0).cast("bigint"),
        lambda acc, l: acc + F.length(l)).cast("double")
    dup_line_char_frac = F.when(
        line_chars > 0, (line_chars - distinct_chars) / line_chars
    ).otherwise(F.lit(0.0))
    base = d.select(
        "_id",
        dup_line_frac.alias("dup_line_frac"),
        dup_line_char_frac.alias("dup_line_char_frac"),
        F.greatest(
            F.length(F.regexp_replace(F.col("_t"), r"\s+", "")).cast("double"),
            F.lit(1.0),
        ).alias("nsp_chars"),
        tokens_of(F.col("_t")).alias("toks"),
    )

    # ONE explode emits the 2-grams and 5-grams together (tagged by n) and
    # ONE count shuffle serves both metrics; the previous per-n branches
    # each re-derived `base` (re-tokenizing every doc) and shuffled their
    # own gram stream, then joined twice. max semantics preserved exactly:
    # max(struct(c, gchars, c*gchars)).v orders by (c, gchars) first —
    # the same ordering the old max_by(c*gchars, struct(c, gchars)) used.
    def _gram_arm(n: int) -> str:
        return (
            f"CASE WHEN size(toks) >= {n} THEN "
            f"transform(sequence(1, size(toks)-{n}+1), "
            f"i -> named_struct('n', {n}, "
            f"'gram', array_join(slice(toks, i, {n}), ' '))) "
            f"ELSE array() END"
        )

    grams = base.select(
        "_id", "nsp_chars",
        F.explode(F.expr(f"concat({_gram_arm(2)}, {_gram_arm(5)})")).alias("g"),
    )
    counts = grams.groupBy(
        "_id", F.col("g.n").alias("_n"), F.col("g.gram").alias("gram")
    ).agg(F.count(F.lit(1)).alias("c"), F.first("nsp_chars").alias("_nsp"))
    gchars = F.length(F.regexp_replace(F.col("gram"), r"\s+", ""))
    per_id = counts.groupBy("_id").agg(
        (F.max(F.when(F.col("_n") == 2,
                      F.struct(F.col("c"), gchars.alias("gc"),
                               (F.col("c") * gchars).alias("v"))))["v"]
         / F.first("_nsp")).alias("top2gram_char_frac"),
        (F.sum(F.when((F.col("_n") == 5) & (F.col("c") > 1),
                      F.col("c") * gchars).otherwise(F.lit(0)))
         / F.first("_nsp")).alias("dup5gram_char_frac"),
    )
    out = (
        base.select("_id", "dup_line_frac", "dup_line_char_frac")
        .join(per_id, on="_id", how="left")
        .select(
            F.col("_id").alias(id_col),
            "dup_line_frac", "dup_line_char_frac",
            F.coalesce("top2gram_char_frac", F.lit(0.0)).alias("top2gram_char_frac"),
            F.coalesce("dup5gram_char_frac", F.lit(0.0)).alias("dup5gram_char_frac"),
        )
    )
    keep = (
        (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("dup_line_char_frac") <= max_dup_line_char_frac)
        & (F.col("top2gram_char_frac") <= max_top2gram_char_frac)
        & (F.col("dup5gram_char_frac") <= max_dup5gram_char_frac)
    )
    return out.withColumn("keep", keep)


def tokens_of(col):
    """Whitespace tokens of lowercased text (shared with textstats.tokens;
    local alias avoids a circular import)."""
    t = F.split(F.trim(F.lower(F.coalesce(col, F.lit("")))), r"\s+")
    return F.filter(t, lambda x: x != "")


def dedup_simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                  max_hamming: int = 3, bucket_cap: int = 200,
                  metrics: dict | None = None) -> DataFrame:
    """SimHash near-dup pipeline parity with ``dedup_minhash_lsh``:
    (doc_id, canonical_id) for documents in a near-dup cluster, canonical =
    min id of the connected component over the verified hamming pairs."""
    from .canonicalize import connected_components

    pairs = simhash_near_dups(df, id_col, text_col, max_hamming=max_hamming,
                              bucket_cap=bucket_cap, metrics=metrics)
    edges = pairs.select(
        F.col("doc_a").cast("string").alias("ident_a"),
        F.col("doc_b").cast("string").alias("ident_b"),
    )
    return connected_components(edges).select(
        F.col("ident").alias("doc_id"), F.col("component").alias("canonical_id")
    )


DECONTAM_BROADCAST_MAX_HASHES = 20_000_000  # ~160 MB of 8-byte hashes


def contamination_report(docs: DataFrame, benchmark: DataFrame,
                         id_col: str = "doc_id", text_col: str = "text",
                         k: int = 13) -> DataFrame:
    """Benchmark-overlap report: for every training document, how many of
    its k-token shingles appear anywhere in the benchmark set (the GPT-3 /
    PaLM-style n-gram decontamination check, typically k = 13).

    Scale shape: benchmark shingles reduce to DISTINCT 8-byte hashes — a
    benchmark SUITE of millions of examples hashes to a broadcastable set —
    so the corpus-side scan is one broadcast semi-join + algebraic count
    and the 100-TB corpus is never shuffled. The broadcast is SIZE-GATED
    at ``DECONTAM_BROADCAST_MAX_HASHES`` (a truncated count, the constant
    read per call): a caller passing a large held-out corpus as
    ``benchmark`` gets a plain shuffle left-semi join instead of a driver
    OOM. Output:
    (doc_id, n_contaminated, n_shingles, frac_contaminated)."""
    bench_side = bench_hash_side(benchmark, id_col, text_col, k)
    doc_sh = shingles(docs, id_col, text_col, k=k).withColumn(
        "_h", F.xxhash64("shingle"))
    per_doc = doc_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        doc_sh.join(bench_side, on=doc_sh["_h"] == bench_side["_bh"],
                    how="left_semi")
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return contamination_select(per_doc, hits)


def bench_hash_side(benchmark: DataFrame, id_col: str, text_col: str,
                    k: int) -> DataFrame:
    """Distinct benchmark gram hashes with the size-gated broadcast hint —
    shared by the batch report above and the incremental index probe
    (plans/decontam.py) so the gate can never drift between them."""
    bench_h = (
        shingles(benchmark, id_col, text_col, k=k)
        .select(F.xxhash64("shingle").alias("_bh")).distinct()
        .localCheckpoint(eager=True)
    )
    cap = DECONTAM_BROADCAST_MAX_HASHES
    small = bench_h.limit(cap + 1).count() <= cap
    return F.broadcast(bench_h) if small else bench_h


def contamination_select(per_doc: DataFrame, hits: DataFrame) -> DataFrame:
    """The report projection shared by batch and incremental paths."""
    return (
        per_doc.join(hits, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
            "n_shingles",
            (F.coalesce("n_contaminated", F.lit(0))
             / F.greatest("n_shingles", F.lit(1))).alias("frac_contaminated"),
        )
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  k: int = 13, min_hits: int = 1) -> DataFrame:
    """Drop training documents sharing >= min_hits k-token shingles with the
    benchmark set (anti-join on the contamination report)."""
    bad = contamination_report(docs, benchmark, id_col, text_col, k=k).where(
        F.col("n_contaminated") >= min_hits).select("doc_id")
    return docs.join(bad.withColumnRenamed("doc_id", id_col),
                     on=id_col, how="left_anti")


def duplicate_ngram_coverage(df: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text", n: int = 8,
                             min_docs: int = 2, hash_fn=None,
                             cache_grams: bool = True) -> DataFrame:
    """Per-document duplicate-text diagnostic at word n-gram granularity
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better": the fraction of a document covered by text that also occurs
    elsewhere in the corpus — here, token positions inside any word
    n-gram that appears in >= ``min_docs`` DISTINCT documents). The
    reference has no corpus-dedup stage (it rebuilds from curated
    ontology sources); this is a training-data-pipeline extension.

    Output: (doc_id, n_tok, dup_gram_starts, covered_tokens,
    dup_coverage) — one row per input document; docs shorter than n
    tokens have coverage 0.0.

    Scale: grams never shuffle as strings — each window is hashed to 64
    bits executor-side (``hash_fn`` column builder, default xxhash64;
    the contract oracle runs the md5 variant ``_md5_64`` so DuckDB
    reproduces the exact grouping) and the ONE corpus-scale shuffle is
    the groupBy on the 8-byte hash with map-side partial aggregation.
    The gram table has two consumers (the groupBy and the rejoin), so it
    is localCheckpoint'ed once (``cache_grams``; the house minhash
    shingle pattern — recomputing the tokenize+explode per consumer costs
    a second full corpus pass). The rejoin is a left-semi on the same
    8-byte key (AQE broadcasts when the duplicated-gram set is small,
    the healthy-corpus case), the n-rows-per-gram position explode
    happens only for duplicated windows, and both per-doc measures come
    from ONE aggregation over the exploded frame (dup_gram_starts ==
    countDistinct(pos): (doc, pos) is unique pre-explode).
    """
    from .ckpt import checkpoint_reset_stats

    hash_fn = hash_fn or F.xxhash64
    d = df.select(F.col(id_col).alias("doc_id"),
                  tokens_of(F.col(text_col)).alias("toks"))
    d = d.withColumn("n_tok", F.size("toks"))
    grams = (
        d.where(F.col("n_tok") >= n)
        .select(
            "doc_id",
            F.posexplode(F.expr(
                f"transform(sequence(0, n_tok - {int(n)}), "
                f"i -> concat_ws(' ', slice(toks, i + 1, {int(n)})))"
            )).alias("pos", "gram"))
        .select("doc_id", "pos", hash_fn(F.col("gram")).alias("h"))
    )
    if cache_grams:
        grams = checkpoint_reset_stats(grams)
    dup_hashes = (grams.groupBy("h")
                  .agg(F.countDistinct("doc_id").alias("nd"))
                  .where(F.col("nd") >= int(min_docs))
                  .select("h"))
    per_doc = (
        grams.join(dup_hashes, on="h", how="left_semi")
        .select("doc_id", "pos", F.explode(
            F.expr(f"sequence(pos, pos + {int(n) - 1})")).alias("p"))
        .groupBy("doc_id")
        .agg(F.countDistinct("pos").alias("dup_gram_starts"),
             F.countDistinct("p").alias("covered_tokens")))
    return (
        d.select("doc_id", F.col("n_tok").cast("long").alias("n_tok"))
        .join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id", "n_tok",
            F.coalesce("dup_gram_starts", F.lit(0)).cast("long")
            .alias("dup_gram_starts"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long")
            .alias("covered_tokens"),
            F.when(F.col("n_tok") > 0,
                   F.round(F.coalesce("covered_tokens", F.lit(0))
                           / F.col("n_tok"), 6))
            .otherwise(F.lit(0.0)).alias("dup_coverage"))
    )


def remove_duplicate_ngrams(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", n: int = 8,
                            hash_fn=None,
                            cache_grams: bool = True) -> DataFrame:
    """The actionable form of `duplicate_ngram_coverage` (Lee et al. 2022
    keep ONE occurrence of duplicated text): rewrite each document with
    the token positions removed that fall inside a word n-gram whose
    corpus-wide FIRST occurrence (min doc id) is some other document.
    The owning document keeps its text unchanged, so exactly one copy of
    every duplicated n-gram survives; within-doc repeats are the owner's
    own and survive too.

    Output: (doc_id, n_tok, kept_tokens, text) — text rebuilt from the
    kept positions in order (normalized token stream, the same
    normalization every dedup operator here applies).

    Scale: identical shape to `duplicate_ngram_coverage` — the gram
    table (8-byte hash + doc + pos) is checkpointed once, the ONE
    corpus-scale shuffle is the groupBy on the gram hash (partial
    min/count map-side), foreign-owned windows rejoin on the same key,
    and the keep-filter is an anti-semantics left join on (doc, pos)
    followed by a per-doc sort-within-group rebuild (no window over the
    whole corpus; grouping key is the doc).
    """
    from .ckpt import checkpoint_reset_stats

    hash_fn = hash_fn or F.xxhash64
    d = df.select(F.col(id_col).alias("doc_id"),
                  tokens_of(F.col(text_col)).alias("toks"))
    d = d.withColumn("n_tok", F.size("toks"))
    grams = (
        d.where(F.col("n_tok") >= n)
        .select(
            "doc_id",
            F.posexplode(F.expr(
                f"transform(sequence(0, n_tok - {int(n)}), "
                f"i -> concat_ws(' ', slice(toks, i + 1, {int(n)})))"
            )).alias("pos", "gram"))
        .select("doc_id", "pos", hash_fn(F.col("gram")).alias("h"))
    )
    if cache_grams:
        grams = checkpoint_reset_stats(grams)
    owners = (grams.groupBy("h")
              .agg(F.min("doc_id").alias("owner"),
                   F.countDistinct("doc_id").alias("nd"))
              .where(F.col("nd") >= 2)
              .select("h", "owner"))
    drop_pos = (
        grams.join(owners, on="h")
        .where(F.col("doc_id") != F.col("owner"))
        .select("doc_id", F.explode(
            F.expr(f"sequence(pos, pos + {int(n) - 1})")).alias("p"))
        .distinct())
    kept = (
        d.select("doc_id", "n_tok",
                 F.posexplode("toks").alias("p", "tok"))
        .join(drop_pos, on=["doc_id", "p"], how="left_anti")
        .groupBy("doc_id", "n_tok")
        .agg(F.concat_ws(
            " ", F.transform(
                F.array_sort(F.collect_list(F.struct("p", "tok"))),
                lambda s: s["tok"])).alias("text"),
             F.count(F.lit(1)).alias("kept_tokens")))
    return (
        d.select("doc_id", F.col("n_tok").cast("long").alias("n_tok"))
        .join(kept.select("doc_id", "kept_tokens", "text"),
              on="doc_id", how="left")
        .select("doc_id", "n_tok",
                F.coalesce("kept_tokens", F.lit(0)).cast("long")
                .alias("kept_tokens"),
                F.coalesce("text", F.lit("")).alias("text")))
