"""spark-submit entry point for the KG-construction pipeline.

Deployment form per the north rule:

    zip -r ckg_spark.zip ckg_spark/
    spark-submit --py-files ckg_spark.zip tools/submit_pipeline.py \
        --transcripts s3://bucket/transcripts \
        --vocab-obo   s3://bucket/ontology.obo \
        --out         s3://bucket/graph \
        --conv-partitions 4096 --longest-match

On the sandbox it runs the same code on local parquet:

    python tools/submit_pipeline.py --transcripts /root/repo/data/transcripts_smoke.parquet \
        --synthetic-vocab 200 --out /tmp/kg_out

Resume: rerunning with the same --out skips every stage whose snapshot
table has a commit (plans/lineage.py).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--transcripts", required=True, help="transcripts parquet/Iceberg path")
    ap.add_argument("--out", required=True,
                    help="output dir: one snapshot table per stage, its "
                         "lineage row in the snapshot properties")
    ap.add_argument("--vocab-obo", help="OBO ontology file for the vocabulary")
    ap.add_argument("--synthetic-vocab", type=int, default=0,
                    help="generate a deterministic synthetic vocabulary of N entities")
    ap.add_argument("--conv-partitions", type=int, default=None,
                    help="explicit hash(conv_id) repartition width")
    ap.add_argument("--longest-match", action="store_true")
    ap.add_argument("--cpus", type=int, default=None, help="local mode cores")
    args = ap.parse_args()

    from ckg_spark.plans.pipeline import run_pipeline
    from ckg_spark.session import get_spark
    from ckg_spark.sources.transcripts import read_transcripts
    from ckg_spark.vocab import build_vocab, vocab_to_spark

    spark = get_spark("kg_pipeline", cpus=args.cpus)

    if args.vocab_obo:
        import pandas as pd

        from ckg_spark.sources.readers import parse_obo
        from ckg_spark.vocab import Vocab, _union_find_canonical

        parsed = parse_obo(args.vocab_obo)
        vocab = Vocab(parsed["terms"], parsed["aliases"],
                      pd.DataFrame(columns=["entity_type", "ident"]),
                      parsed["parent_rels"], {},
                      pd.DataFrame(columns=["ident_a", "ident_b"]))
    elif args.synthetic_vocab:
        vocab = build_vocab(n_entities=args.synthetic_vocab)
    else:
        ap.error("one of --vocab-obo / --synthetic-vocab is required")

    tables = vocab_to_spark(spark, vocab)
    transcripts = read_transcripts(spark, args.transcripts)

    t0 = time.time()
    res = run_pipeline(
        spark, transcripts, tables, args.out,
        longest_match=args.longest_match,
        conv_partitions=args.conv_partitions,
    )
    n_edges = res.edges.count()
    n_nodes = res.nodes.count()
    print(json.dumps({
        "run_id": res.run_id,
        "resumed_stages": res.resumed_stages,
        "nodes": n_nodes,
        "edges": n_edges,
        "wall_s": round(time.time() - t0, 2),
        "out": args.out,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
