"""spark-submit entry point for INCREMENTAL KG sync over snapshot tables.

The release-cadence companion to submit_pipeline.py: where the pipeline
rebuilds the graph from the full corpus (the reference's per-release
rebuild), this brings the edge snapshot table up to date with the
APPEND DELTA of a transcript snapshot table — work proportional to new
data, not corpus size (plans/incremental.py).

Deployment form:

    spark-submit --py-files ckg_spark.zip tools/submit_sync.py \
        --transcripts-table s3://bucket/transcripts_tbl \
        --edges-table       s3://bucket/edges_tbl \
        --vocab-obo         s3://bucket/ontology.obo \
        --compact-every 10

Sandbox form (same code, local paths):

    python tools/submit_sync.py --transcripts-table /tmp/ttbl \
        --edges-table /tmp/etbl --synthetic-vocab 200

Safe to run on a schedule: a sync with no new source snapshots is a
no-op, a crashed sync is replay-safe (the high-water mark lives in
committed snapshot properties), and re-running after a crash never
double-appends.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--transcripts-table", required=True,
                    help="source snapshot table dir (plans.table layout)")
    ap.add_argument("--edges-table", required=True,
                    help="edge snapshot table dir (created on first sync)")
    ap.add_argument("--vocab-obo", help="OBO ontology file for the vocabulary")
    ap.add_argument("--synthetic-vocab", type=int, default=0,
                    help="deterministic synthetic vocabulary of N entities")
    ap.add_argument("--to-version", type=int, default=None,
                    help="sync up to this source version (default: latest)")
    ap.add_argument("--mapping-table", default=None,
                    help="canonical-mapping snapshot table dir: route the "
                         "sync through plans.canon.sync_graph so entity "
                         "canonicalization EVOLVES per delta (vocab "
                         "identity edges fold in incrementally; merges are "
                         "logged for remap-on-read)")
    ap.add_argument("--identity-edges", default=None,
                    help="parquet of NEW (ident_a, ident_b) identity edges "
                         "for this sync (default: the vocabulary's own "
                         "identity edges — idempotent to refold)")
    ap.add_argument("--compact-every", type=int, default=0,
                    help="fold the edge table (and, with --mapping-table, "
                         "the remap log) when it has accumulated this many "
                         "snapshots since its last fold (0 = never)")
    ap.add_argument("--cpus", type=int, default=None, help="local mode cores")
    args = ap.parse_args()

    from ckg_spark.plans import canon as C
    from ckg_spark.plans import incremental as I
    from ckg_spark.plans import table as T
    from ckg_spark.session import get_spark
    from ckg_spark.vocab import build_vocab, vocab_to_spark

    spark = get_spark("kg_sync", cpus=args.cpus)

    if args.vocab_obo:
        import pandas as pd

        from ckg_spark.sources.readers import parse_obo
        from ckg_spark.vocab import Vocab

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
    n_remaps = None
    if args.mapping_table:
        ident_delta = (spark.read.parquet(args.identity_edges)
                       .select("ident_a", "ident_b")
                       if args.identity_edges
                       else tables["identity_edges"])
        rep = C.sync_graph(spark, args.transcripts_table, tables,
                           args.edges_table, args.mapping_table,
                           identity_edges=ident_delta,
                           to_version=args.to_version)
        n_remaps = C.read_remap_log(spark, args.mapping_table).count()
    else:
        rep = I.sync_mention_edges(
            spark, args.transcripts_table, tables, args.edges_table,
            to_version=args.to_version)

    # snapshots since the last fold: compaction commits an overwrite
    since_fold = 0
    for s in T.snapshots(args.edges_table):
        since_fold = 0 if s["operation"] == "overwrite" else since_fold + 1
    compacted = False
    if (args.compact_every and rep.edge_table_version is not None
            and since_fold >= args.compact_every):
        C.compact_graph_edges(spark, args.edges_table, args.mapping_table)
        compacted = True

    print(json.dumps({
        "from_version": rep.from_version,
        "to_version": rep.to_version,
        "n_files": rep.n_files,
        "n_edges": rep.n_edges,
        "edge_table_version": rep.edge_table_version,
        "up_to_date": rep.edge_table_version is None,
        "compacted": compacted,
        "remap_log_size": n_remaps,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
