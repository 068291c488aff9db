"""ckg_spark — a from-scratch PySpark-native knowledge-graph construction engine.

Reproduces the construction semantics of MannLabs/CKG (reference at
/root/reference): dictionary/alias-based mention detection, alias->canonical
entity linking, cross-source canonicalization (connected components), and
(subj, pred, obj) node/edge materialization — re-expressed as Spark DataFrame
stages over transcript tables ``(conv_id, turn_idx, role, text, tool, ts)``.

Design rules (see SURVEY.md):
- DataFrame/SQL everywhere; no RDDs; no per-row Python UDFs on the hot path.
- Mention detection is pure-JVM: tokenize -> n-gram -> one broadcast join
  against the alias table (``operators/extract.py``, one matcher with a
  batch and a streaming form).
- Canonicalization is an iterative hash-join label propagation with pointer
  jumping (O(log d) rounds); min() aggregation is algebraic so map-side
  combine absorbs degree skew.
- Every stage is checkpointable: a snapshot table whose one commit carries
  its lineage row (run_id, stage, rows, wall) enables mid-run resume.
"""

__version__ = "0.1.0"
