"""Query registry — the single source of truth behind ``__spark_entry__``.

Every implemented operator from SURVEY.md §2 / §7.3 registers here as a
named query: a Spark callable ``(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) a DuckDB oracle SQL string over the same fixture views.

Cross-engine determinism rules (every query follows these):

* Alias every computed column identically in Spark and SQL.
* Money/measure sums go through ``DECIMAL(18,2)`` so both engines do exact
  arithmetic and agree to the bit after the final cast to double — float
  summation order can never flip a value.
* Cross-engine stable hash = first 15 hex chars of md5 parsed as a bigint
  (Spark ``conv(substr(md5(x),1,15),16,10)``, DuckDB
  ``('0x' || substr(md5(x),1,15))::BIGINT``) — see functions/hashing.py.
* DuckDB ``sum(BIGINT)`` returns HUGEINT — oracles cast back to BIGINT.

Eager-build contract: a query callable builds a lazy DataFrame, except where
it must collect a small model to the driver first. ``ann_lsh_topk`` collects
its NBITS hyperplane rows, and ``ann_ivf_kmeans_topk`` and
``kmeans_centroids_flat`` collect their trained Lloyd centroids. Calling one
of these runs Spark jobs, so plan-only consumers (``explain``, plan dumps)
pay a real scan, and bad input (e.g. missing hyperplane rows) raises when
the DataFrame is built, not when it executes.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → driver does rows-only check


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn):
        REGISTRY[name] = Query(name, fn, oracle)
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import every operator module so registrations run."""
    from .operators import (  # noqa: F401
        analytics,
        asof,
        ch_aggregates,
        ch_stats2,
        chsql_queries,
        clusters,
        curation,
        dedup,
        embeddings_ops,
        event_analytics,
        events,
        geo,
        grouped_pandas,
        mergetree,
        migrate_queries,
        mleval,
        mltrain,
        multimodal,
        pipeline,
        pq,
        relational,
        similarity,
        textops,
        tpch_more,
        tpch_rest,
        traindata,
        validate_queries,
    )
    from .streaming import stream_queries  # noqa: F401

    return REGISTRY
