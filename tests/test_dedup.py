"""Dedup operators: exact, MinHash+LSH, SimHash, exact Jaccard."""

import random

from pyspark.sql import functions as F

from ckg_spark.operators import dedup as D


def _corpus(spark, seed=5, n=60):
    """Docs with known near-dup clusters: base docs + mutated copies."""
    rng = random.Random(seed)
    words = [f"w{i}" for i in range(200)]
    rows = []
    doc_id = 0
    clusters = {}
    for b in range(n):
        base = [rng.choice(words) for _ in range(40)]
        cluster = [doc_id]
        rows.append((doc_id, " ".join(base)))
        doc_id += 1
        if b % 4 == 0:  # exact copy
            rows.append((doc_id, " ".join(base)))
            cluster.append(doc_id)
            doc_id += 1
        if b % 5 == 0:  # near copy: mutate 2 words of 40
            mut = list(base)
            mut[3] = "zzz"
            mut[17] = "qqq"
            rows.append((doc_id, " ".join(mut)))
            cluster.append(doc_id)
            doc_id += 1
        clusters[b] = cluster
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return df, clusters


def _jaccard_tokens(a: str, b: str, k=3):
    def sh(t):
        toks = t.split()
        return {" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)}
    A, B = sh(a), sh(b)
    return len(A & B) / len(A | B)


def test_dedup_exact(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello world"), (3, "different text"),
         (4, "HELLO   world")],
        "doc_id long, text string",
    )
    got = D.dedup_exact(df).toPandas().sort_values("doc_id").reset_index(drop=True)
    # 1,2,4 normalize identically -> keeper is min id 1 with group_size 3
    assert len(got) == 2
    grp = got.set_index("doc_id")["group_size"].to_dict()
    assert grp == {1: 3, 3: 1}


def test_minhash_lsh_finds_known_clusters(spark):
    df, clusters = _corpus(spark)
    pdf = df.toPandas().set_index("doc_id")["text"].to_dict()
    got = D.dedup_minhash_lsh(df, threshold=0.7).toPandas()
    assign = dict(zip(got["doc_id"].astype(int), got["canonical_id"].astype(str)))
    # exact duplicates must always cluster together
    for cl in clusters.values():
        if len(cl) < 2:
            continue
        base = cl[0]
        for other in cl[1:]:
            true_j = _jaccard_tokens(pdf[base], pdf[other])
            if true_j >= 0.75:  # comfortably above threshold
                assert assign.get(other) == assign.get(base), (base, other, true_j)
    # docs from different clusters never merge (distinct random words)
    comps = {}
    for d, c in assign.items():
        comps.setdefault(c, []).append(d)
    bases = {d: b for b, cl in clusters.items() for d in cl}
    for c, members in comps.items():
        assert len({bases[m] for m in members}) == 1, members


def test_exact_jaccard_matches_python(spark):
    df, _ = _corpus(spark, seed=9, n=10)
    pdf = df.toPandas().set_index("doc_id")["text"].to_dict()
    ids = sorted(pdf)
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)], "doc_a long, doc_b long"
    )
    sh = D.shingles(df)
    got = D.exact_jaccard(pairs, sh).toPandas()
    for r in got.itertuples():
        exp = _jaccard_tokens(pdf[r.doc_a], pdf[r.doc_b])
        assert abs(r.jaccard - exp) < 1e-9


def test_simhash_near_dups(spark):
    df, clusters = _corpus(spark, seed=11, n=30)
    got = D.simhash_near_dups(df, max_hamming=6).toPandas()
    found = {(int(a), int(b)) for a, b in zip(got["doc_a"], got["doc_b"])}
    # exact copies have identical simhash -> hamming 0 -> must be found
    for cl in clusters.values():
        if len(cl) >= 2:
            a, b = cl[0], cl[1]
            pair = (min(a, b), max(a, b))
            # cl[1] is the exact copy when created (b%4==0 path)
            # only assert for exact copies
    # at minimum: identical docs pair up
    sigs = D.simhash_signatures(df).toPandas()
    by_doc = dict(zip(sigs["doc_id"], sigs["simhash"]))
    texts = df.toPandas().set_index("doc_id")["text"].to_dict()
    for a in texts:
        for b in texts:
            if a < b and texts[a] == texts[b]:
                assert by_doc[a] == by_doc[b]
                assert (a, b) in found


def test_dedup_simhash_clusters(spark):
    import pandas as pd

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            # near-dup by token superset (one added token flips few sign
            # sums; a token SUBSTITUTION on a 9-token doc flips ~half the
            # bits — SimHash is a large-document sketch by design)
            "the quick brown fox jumps over the lazy dog today",
            "the quick brown fox jumps over the lazy dog today extra",
            "a completely different document about spark partitions",
            "yet another unrelated text concerning graph algorithms",
        ],
    }))
    metrics = {}
    out = {r["doc_id"]: r["canonical_id"]
           for r in D.dedup_simhash(docs, max_hamming=6,
                                    metrics=metrics).collect()}
    assert out.get("1") == "1" and out.get("2") == "1"
    assert "3" not in out and "4" not in out  # singletons excluded
    assert metrics["dropped_buckets"] == 0


def test_decontamination(spark):
    import pandas as pd

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [
            "alpha beta gamma delta epsilon zeta",     # contains bench 4-gram
            "one two three four five six seven",       # clean
            "alpha beta gamma delta unrelated tail",   # shares the 4-gram too
        ],
    }))
    bench = spark.createDataFrame(pd.DataFrame({
        "doc_id": [100],
        "text": ["question: alpha beta gamma delta answer: something"],
    }))
    rep = {r["doc_id"]: r for r in D.contamination_report(
        docs, bench, k=4).collect()}
    assert rep[1]["n_contaminated"] == 1  # exactly the shared 4-gram
    assert rep[2]["n_contaminated"] == 0
    assert rep[3]["n_contaminated"] == 1
    clean = D.decontaminate(docs, bench, k=4)
    assert [r["doc_id"] for r in clean.select("doc_id").collect()] == [2]


def test_contamination_broadcasts_benchmark(spark):
    """Scale posture: the benchmark-hash side must be a broadcast exchange —
    the corpus stream itself is never shuffled for the semi-join."""
    import pandas as pd

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(20),
        "text": [f"some words number {i} padding tokens here now" for i in range(20)],
    }))
    bench = docs.where(F.col("doc_id") % 5 == 0)
    plan = (
        D.contamination_report(docs, bench, k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_contamination_large_benchmark_takes_shuffle_path(spark, monkeypatch):
    """The benchmark broadcast is size-gated (round-3 verdict item 3): a
    caller passing a large held-out corpus as ``benchmark`` must get a plan
    change (plain shuffle left-semi), not a forced-broadcast driver OOM —
    and identical values on both paths."""
    import pandas as pd

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(20),
        "text": [f"some words number {i} padding tokens here now" for i in range(20)],
    }))
    bench = docs.where(F.col("doc_id") % 5 == 0)
    wide = {r["doc_id"]: (r["n_contaminated"], r["n_shingles"])
            for r in D.contamination_report(docs, bench, k=3).collect()}
    monkeypatch.setattr(D, "DECONTAM_BROADCAST_MAX_HASHES", 1)
    gated = {r["doc_id"]: (r["n_contaminated"], r["n_shingles"])
             for r in D.contamination_report(docs, bench, k=3).collect()}
    assert wide == gated
    # doc 0 is itself in the benchmark: fully contaminated; doc 1 only
    # shares the shingles not containing its unique number token
    assert gated[0][0] == gated[0][1]
    assert 0 < gated[1][0] < gated[1][1]


def test_simhash_md5_variant_matches_xxhash64_pairs(spark):
    """The md5 hash variant (q33's oracle-able form) and the xxhash64
    production default must find the same near-dup pair set: the sketch
    algebra is hash-agnostic, only bit patterns differ. Exact copies are
    hamming-0 under ANY hash; supersets land within the loose radius for
    both uniform 64-bit hashes on these fixtures."""
    df, _ = _corpus(spark, seed=23, n=40)
    px = {(int(r["doc_a"]), int(r["doc_b"]))
          for r in D.simhash_near_dups(df, max_hamming=0).collect()}
    pm = {(int(r["doc_a"]), int(r["doc_b"]))
          for r in D.simhash_near_dups(df, max_hamming=0,
                                       hash_fn="md5").collect()}
    assert px == pm and px  # hamming-0 (identical text) is hash-invariant


def test_md5_64_bit_pattern(spark):
    """_md5_64 packs the first 16 md5 hex chars as bits 63..0 (chars 1-8
    high, 9-16 low) — pinned against a hand-computed value so the DuckDB
    oracle's nibble indexing stays in sync."""
    import hashlib

    from pyspark.sql import functions as F

    word = "transcript"
    expect = int(hashlib.md5(word.encode()).hexdigest()[:16], 16)
    if expect >= 1 << 63:
        expect -= 1 << 64  # signed long wrap
    got = (spark.range(1).select(
        D._md5_64(F.lit(word)).alias("h")).collect()[0]["h"])
    assert got == expect


def test_duplicate_ngram_coverage_hand_computed(spark):
    """Known corpus: the 4-gram 'a b c d' appears in docs 1 and 2 -> both
    covered on those positions; doc 3 shares nothing; doc 4 is shorter
    than n. Overlapping dup windows must not double-count positions."""
    rows = [
        (1, "a b c d e a b c d"),   # dup windows at pos 0 and 5
        (2, "x a b c d y"),         # dup window at pos 1
        (3, "p q r s t u v w"),     # unique
        (4, "a b c"),               # shorter than n
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           D.duplicate_ngram_coverage(df, n=4).collect()}
    assert len(out) == 4
    r1 = out[1]
    assert (r1["n_tok"], r1["dup_gram_starts"], r1["covered_tokens"]) == (9, 2, 8)
    assert abs(r1["dup_coverage"] - round(8 / 9, 6)) < 1e-12
    r2 = out[2]
    assert (r2["n_tok"], r2["dup_gram_starts"], r2["covered_tokens"]) == (6, 1, 4)
    assert out[3]["covered_tokens"] == 0 and out[3]["dup_coverage"] == 0.0
    assert out[4]["covered_tokens"] == 0 and out[4]["n_tok"] == 3


def test_duplicate_ngram_coverage_hash_and_partition_invariant(spark):
    """xxhash64 (production) and _md5_64 (oracle variant) group grams
    identically, and the result is partitioning-independent."""
    random.seed(7)
    vocab = [f"w{i}" for i in range(12)]
    rows = [(i, " ".join(random.choice(vocab) for _ in range(30)))
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = sorted(map(tuple, D.duplicate_ngram_coverage(df, n=5).collect()))
    md5v = sorted(map(tuple, D.duplicate_ngram_coverage(
        df, n=5, hash_fn=D._md5_64).collect()))
    repart = sorted(map(tuple, D.duplicate_ngram_coverage(
        df.repartition(13), n=5).collect()))
    assert base == md5v == repart
    assert any(t[3] > 0 for t in base)  # non-vacuous: some dup coverage


def test_duplicate_ngram_coverage_within_doc_repeat_not_cross_doc(spark):
    """min_docs counts DISTINCT docs: a gram repeated only inside one doc
    is not 'duplicated' at min_docs=2, but min_docs=1 flags every window."""
    df = spark.createDataFrame(
        [(1, "a b c d a b c d"), (2, "z z z y y y x x")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           D.duplicate_ngram_coverage(df, n=4, min_docs=2).collect()}
    assert out[1]["covered_tokens"] == 0 and out[2]["covered_tokens"] == 0
    all1 = {r["doc_id"]: r for r in
            D.duplicate_ngram_coverage(df, n=4, min_docs=1).collect()}
    assert all1[1]["covered_tokens"] == 8 and all1[1]["dup_gram_starts"] == 5


def test_remove_duplicate_ngrams_hand_computed(spark):
    """Owner (min doc_id) keeps its text — including its own within-doc
    repeat; the non-owner loses exactly the foreign window's positions."""
    rows = [
        (1, "a b c d e a b c d"),
        (2, "x a b c d y"),
        (3, "p q r s t u v w"),
        (4, "a b c"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.remove_duplicate_ngrams(df, n=4).collect()}
    assert out[1]["text"] == "a b c d e a b c d" and out[1]["kept_tokens"] == 9
    assert out[2]["text"] == "x y" and out[2]["kept_tokens"] == 2
    assert out[3]["text"] == "p q r s t u v w"
    assert out[4]["text"] == "a b c"  # shorter than n: untouched


def test_remove_duplicate_ngrams_overlapping_foreign_windows(spark):
    """Overlapping foreign windows from DIFFERENT owners drop the union
    of their positions; the two owners keep their own text."""
    rows = [
        (1, "a b c d zzz"),
        (2, "e f g h yyy"),
        (3, "a b c d e f g h"),  # [0,4) owned by 1, [4,8) owned by 2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in D.remove_duplicate_ngrams(df, n=4).collect()}
    assert out[3]["kept_tokens"] == 0 and out[3]["text"] == ""
    assert out[1]["text"] == "a b c d zzz"
    assert out[2]["text"] == "e f g h yyy"


def test_remove_duplicate_ngrams_invariance_and_conservation(spark):
    """Hash-variant and partitioning invariant; kept_tokens == n_tok -
    covered_tokens of the foreign-window coverage (conservation against
    an independently computed union)."""
    random.seed(11)
    vocab = [f"w{i}" for i in range(10)]
    rows = [(i, " ".join(random.choice(vocab) for _ in range(25)))
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, D.remove_duplicate_ngrams(df, n=5).collect()))
    b = sorted(map(tuple, D.remove_duplicate_ngrams(
        df.repartition(7), n=5, hash_fn=D._md5_64).collect()))
    assert a == b
    assert any(t[2] < t[1] for t in a)  # non-vacuous: something removed
    # every kept text is a subsequence of the original token stream
    orig = {i: t.split() for i, t in rows}
    for doc_id, n_tok, kept, text in a:
        toks = text.split() if text else []
        assert len(toks) == kept
        it = iter(orig[doc_id])
        assert all(any(t == o for o in it) for t in toks)
