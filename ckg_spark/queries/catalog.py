"""YAML-style catalog of named graph queries (SURVEY.md §3.2 analog).

The reference catalogs Cypher templates in YAML with involved_nodes /
involved_rels metadata (ckg/graphdb_connector/query_utils.py:16-50,
report_manager/queries/datasets_cypher.yml). Here each entry is a Spark SQL
template over the ``{nodes}`` / ``{edges}`` DataFrames, with the same
metadata so queries stay discoverable. Parameters are Spark's named
parameter markers (``:entity``), bound by ``run_query`` as values: an id
with a quote is matched as itself, never spliced into the SQL (the
reference string-splices its "post"-query IN-lists, dataset.py:206-220).
"""

from __future__ import annotations

import os

import yaml
from pyspark.sql import DataFrame, SparkSession

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "catalog.yml")) as _f:
    CATALOG: dict[str, dict] = yaml.safe_load(_f)


def list_queries() -> list[str]:
    return sorted(CATALOG)


def queries_involving(rel: str) -> list[str]:
    """Searchable the same way the reference's query_utils finds queries."""
    return sorted(
        n for n, q in CATALOG.items()
        if rel in q["involved_rels"] or "*" in q["involved_rels"]
    )


def run_query(spark: SparkSession, name: str, nodes: DataFrame, edges: DataFrame,
              **params) -> DataFrame:
    """Run template ``name`` over ``nodes`` / ``edges``. ``params`` (over
    the template's ``defaults``) bind its ``:param`` markers as values,
    never as SQL text."""
    spec = CATALOG[name]
    args = {**spec.get("defaults", {}), **params}
    return spark.sql(spec["sql"], args=args, nodes=nodes, edges=edges)
