"""Export round-trip, FASTA/XML readers, TF-IDF, imputation/PCA, lineage metrics."""

import json
import math

import numpy as np
from pyspark.sql import functions as F

from ckg_spark.operators import analytics as A
from ckg_spark.operators.tfidf import tfidf
from ckg_spark.sources import export as EX
from ckg_spark.sources.readers import read_fasta, read_xml_records


def test_tsv_export_roundtrip(spark, vocab_tables, tmp_path):
    from ckg_spark.operators.materialize import materialize_nodes
    from ckg_spark.operators.canonicalize import canonical_mapping

    canon = canonical_mapping(
        vocab_tables["identity_edges"],
        vocab_tables["aliases"].select("ident").distinct(),
    )
    nodes = materialize_nodes(vocab_tables["terms"], canon)
    p = str(tmp_path / "nodes_tsv")
    EX.nodes_to_tsv(nodes, p)
    back = EX.read_back_nodes(spark, p)
    orig = nodes.select("id", "label", "name", "synonyms").orderBy("id").toPandas()
    got = back.select("id", "label", "name", "synonyms").orderBy("id").toPandas()
    assert list(got["id"]) == list(orig["id"])
    assert list(got["label"]) == list(orig["label"])
    for a, b in zip(got["synonyms"], orig["synonyms"]):
        assert list(a) == list(b)


def test_read_fasta(spark, tmp_path):
    p = tmp_path / "seqs.fasta"
    p.write_text(
        ">P1 first protein\nMKT\nLLV\n>P2 second one\nAAAA\n>P3\nGG\n"
    )
    got = {r["seq_id"]: (r["sequence"], r["description"])
           for r in read_fasta(spark, str(p)).collect()}
    assert got == {
        "P1": ("MKTLLV", "first protein"),
        "P2": ("AAAA", "second one"),
        "P3": ("GG", ""),
    }


def test_read_xml_records(spark, tmp_path):
    p = tmp_path / "drugs.xml"
    p.write_text(
        "<drugbank><drug><name>Aspirin</name><id>D1</id></drug>"
        "<drug><name>Ibuprofen</name><id>D2</id></drug></drugbank>"
    )
    got = read_xml_records(spark, str(p), "drug").collect()
    names = sorted(r["fields"]["name"] for r in got)
    assert names == ["Aspirin", "Ibuprofen"]


def test_tfidf_matches_numpy(spark):
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "b b b d")], "doc_id long, text string"
    )
    got = tfidf(docs).toPandas().set_index(["doc_id", "term"])
    n = 3
    assert got.loc[(1, "a"), "tf"] == 2
    assert got.loc[(1, "a"), "df"] == 2
    exp = 2 * (math.log((n + 1) / (2 + 1)) + 1)
    assert abs(got.loc[(1, "a"), "tfidf"] - exp) < 1e-9
    exp_d = 1 * (math.log((n + 1) / (1 + 1)) + 1)
    assert abs(got.loc[(3, "d"), "tfidf"] - exp_d) < 1e-9


def test_impute_median_and_normal(spark):
    rows = [("g", f"s{i}", "f1", float(i)) for i in range(10)]
    rows += [("g", "s10", "f1", None), ("g", "s11", "f1", None)]
    df = spark.createDataFrame(rows, "group string, subject string, feature string, value double")
    med = A.impute_group_median(df).toPandas().set_index("subject")["value"]
    assert med["s10"] == 4.5 and med["s11"] == 4.5

    nd1 = A.impute_normal_distribution(df).toPandas().set_index("subject")["value"]
    nd2 = A.impute_normal_distribution(df).toPandas().set_index("subject")["value"]
    # deterministic across runs, below the observed mean (MNAR shift)
    assert nd1["s10"] == nd2["s10"] and nd1["s11"] == nd2["s11"]
    assert nd1["s10"] < 4.5 and nd1["s11"] < 4.5
    assert nd1["s10"] != nd1["s11"]


def test_impute_knn(spark):
    # two clusters of subjects; missing value should be filled from same cluster
    rows = []
    for s in range(3):
        rows += [("g", f"lo{s}", "f1", 1.0 + s * 0.01), ("g", f"lo{s}", "f2", 1.0)]
    for s in range(3):
        rows += [("g", f"hi{s}", "f1", 100.0 + s * 0.01), ("g", f"hi{s}", "f2", 100.0)]
    rows += [("g", "lo_miss", "f1", 1.005), ("g", "lo_miss", "f2", None)]
    df = spark.createDataFrame(rows, "group string, subject string, feature string, value double")
    got = A.impute_knn(df, k=3).toPandas()
    v = got[(got.subject == "lo_miss") & (got.feature == "f2")]["value"].iloc[0]
    assert abs(v - 1.0) < 0.1


def test_pca_separates_clusters(spark):
    rows = []
    for s in range(6):
        for f in range(4):
            base = 10.0 if s < 3 else -10.0
            rows.append(("g", f"s{s}", f"f{f}", base + 0.1 * s + 0.01 * f))
    df = spark.createDataFrame(rows, "group string, subject string, feature string, value double")
    pcs = A.run_pca(df, n_components=2).toPandas()
    pc1 = {r["subject"]: r["pc"][0] for _, r in pcs.iterrows()}
    lo = [pc1[f"s{i}"] for i in range(3)]
    hi = [pc1[f"s{i}"] for i in range(3, 6)]
    assert (max(lo) < min(hi)) or (min(lo) > max(hi))


def test_lineage_partition_metrics(spark, tmp_path):
    from ckg_spark.plans import lineage as LIN

    df = spark.range(0, 1000).repartition(4)
    LIN.write_stage(df, str(tmp_path), "s1", "runx")
    rows = LIN.read_lineage(str(tmp_path))
    assert len(rows) == 1
    r = rows[0]
    assert r["rows"] == 1000
    assert sum(r["partition_rows"].values()) == 1000
    assert r["max_partition_rows"] >= 1000 // (r["partitions"] or 1)
