"""Iteration-safe checkpointing for the iterative graph/dedup operators.

``Dataset.localCheckpoint`` truncates LINEAGE but PRESERVES the plan's size
statistics on the checkpointed relation, and Catalyst's
``SizeInBytesOnlyStatsPlanVisitor`` estimates a join's sizeInBytes as the
PRODUCT of its children's estimates. An iterative algorithm that joins its
own previous (checkpointed) output k times per round therefore compounds the
estimate super-exponentially — digits(r+1) ≈ k * digits(r) — and after a
dozen rounds the driver spends MINUTES per plan inside
``canBroadcastBySize`` multiplying million-digit BigIntegers
(observed on the louvain fallback level loop; jstack pinned the planner
thread in ``BigInteger.multiplyToomCook3`` with all executors idle).

``checkpoint_reset_stats`` eagerly localCheckpoints and then rebuilds the
DataFrame as a FRESH LogicalRDD scan over the already-materialized internal
row RDD, so the leaf estimate resets to ``spark.sql.defaultSizeInBytes``
instead of inheriting the product. Zero extra jobs, zero Python round-trip —
the rebuilt plan scans the same executor-local checkpoint blocks.

``collect_if_small`` is the other way to pin a frame down: its one truncated
fetch is both the size probe and the collect of a two-tier operator's
driver path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def checkpoint_reset_stats(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint whose result does NOT inherit the (possibly
    astronomically overestimated) pre-checkpoint sizeInBytes statistics.

    Falls back to the plain eager localCheckpoint on session types without
    JVM plan access (Spark Connect), where the private rebuild is
    unavailable — correctness is identical either way; only planning-time
    growth differs.
    """
    ck = df.localCheckpoint(eager=True)
    try:
        spark = ck.sparkSession
        jdf = ck._jdf
        jrdd = jdf.queryExecution().toRdd()
        jnew = spark._jsparkSession.internalCreateDataFrame(
            jrdd, jdf.schema(), False)
        return DataFrame(jnew, spark)
    except Exception:
        return ck


def collect_if_small(df: DataFrame, cap: int):
    """``df`` as a pandas frame when it has at most ``cap`` rows, else None.

    One truncated ``limit(cap + 1)`` fetch is both the size probe and the
    collect: a big input can never flood the driver, and a small one costs
    one Spark job instead of a count followed by a collect. The fetch goes
    through Arrow (``toPandas``), ~5x cheaper than Row objects at 500k rows,
    which is also the price an input just over a cap pays for the probe.
    A cap of 0 fetches nothing: it turns the driver tier off."""
    if not cap:
        return None
    rows = df.limit(cap + 1).toPandas()
    return rows if len(rows) <= cap else None
