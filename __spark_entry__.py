"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Implementation lives in the :mod:`big_data_validator_spark.queries`
package: its ``__init__`` holds the registry, and one module per operator
family (``queries/rules.py``, ``queries/relational.py``, …) holds one
entry per operator from SURVEY.md §2 / §7 (P0-P4).  Queries whose
semantics are hash-dependent (MinHash/SimHash/LSH) deliberately omit the
oracle — the driver records the weaker rows-only check and pytest pins
their behavior against exact algorithms.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Make the package importable no matter where the driver launches from —
# both on the driver (sys.path) and in Python workers: local-mode workers
# are forked by the JVM with the JVM's PYTHONPATH, so exporting it before
# the SparkSession is built covers Arrow UDF deserialization too.  For a
# session created elsewhere/earlier, ``queries/loader.py`` additionally
# ships the package via ``addPyFile`` on first use.
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)
_pp = os.environ.get("PYTHONPATH", "")
if _REPO_ROOT not in _pp.split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        f"{_REPO_ROOT}{os.pathsep}{_pp}" if _pp else _REPO_ROOT
    )

from big_data_validator_spark.queries import all_oracles, all_queries  # noqa: E402
from big_data_validator_spark.queries.rules import (  # noqa: E402
    validation_summary_lineitem,
)

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: single-pass multi-rule validation metrics over lineitem —
    every rule counter computed in ONE aggregation over ONE scan (the
    reference ran one Spark job per rule).  Returns (rule_name,
    violation_count) rows; always ≥1 row by construction."""
    return validation_summary_lineitem(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 / §7."""
    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per hash-checkable query."""
    return all_oracles()
