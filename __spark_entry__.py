"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-
insensitive value-hash → CORRECTNESS_r{N}.json).

The real registry lives in ``pdf_parser_spark.queries``; this module is
the thin stable surface the driver imports.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Robust regardless of the driver's CWD: the package lives next to
# this file.
_HERE = os.path.dirname(os.path.abspath(__file__))
if _HERE not in sys.path:
    sys.path.insert(0, _HERE)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline (synthesize Common-Crawl-style
    webdocs from sf0.001 documents → salted mapInArrow parse → (url,
    extracted text))."""
    from pdf_parser_spark.queries import QUERIES

    return QUERIES["flagship_extract"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from pdf_parser_spark.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from pdf_parser_spark.queries import ORACLES

    return dict(ORACLES)
