"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` exposes
every implemented operator from SURVEY.md §2 as (spark, sf_dir) -> DataFrame;
``oracle_sql()`` gives the DuckDB-equivalent SQL per query for the t2
correctness gate. Implementations live in
``crossbar_data_process_spark/plans/queries.py``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from crossbar_data_process_spark.plans.queries import ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.
    q17 is ``outer_merge``, CROssBAR's multi-source merge."""
    return QUERIES["q17_multi_source_merge"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
