"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship smoke query at sf0.001 (PageRank over the
part co-occurrence import graph).
``queries()`` / ``oracle_sql()`` — the operator registry lives in
``igpm_pem_spark/queries/`` (graph kernels, training-data pipeline ops,
relational operator coverage), one callable + DuckDB oracle per operator
from SURVEY.md §2.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F

from igpm_pem_spark.queries import all_queries
from igpm_pem_spark.queries._common import G_PARTS_SQL, G_SPARSE_SQL, TABLES, edges as _edges  # noqa: F401 (re-exported for drivers)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: import-centrality ranking — part co-occurrence graph at
    sf0.001, PageRank to convergence, top 100."""
    from igpm_pem_spark.operators.pagerank import pagerank

    e = _edges(spark, "/root/testdata/sf0.001")
    res = pagerank(spark, e, tol=1e-6, max_iter=100, steps_per_commit=10)
    return res.ranks.orderBy(F.desc("rank"), F.asc("id")).limit(100)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: sql for name, (_fn, sql) in all_queries().items() if sql is not None
    }
