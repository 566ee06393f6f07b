"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  - flagship: MinHash/LSH near-duplicate detection over the
                documents table at sf0.001 (the engine's core pipeline).
queries()     - one entry per implemented operator family (SURVEY.md §2);
                each callable takes (spark, sf_dir) -> DataFrame.
oracle_sql()  - the matching DuckDB SQL oracle for every query.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from functools import partial

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sparkdedup.session import _ship_package  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    neardup_clusters_docs = the engine's full core shape in one query:
    MinHash signatures -> LSH banding -> exact-Jaccard verification ->
    iterative connected components -> a cluster id per document."""
    _ship_package(spark)
    from sparkdedup.queries import QUERIES

    return QUERIES["neardup_clusters_docs"](spark, "/root/testdata/sf0.001")


def _wrapped(name: str, spark: SparkSession, sf_dir: str) -> DataFrame:
    _ship_package(spark)
    from sparkdedup.queries import QUERIES

    return QUERIES[name](spark, sf_dir)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from sparkdedup.queries import QUERIES

    return {name: partial(_wrapped, name) for name in QUERIES}


def oracle_sql() -> dict[str, str]:
    from sparkdedup.queries import ORACLES

    return dict(ORACLES)
