"""Driver-facing query registry: every operator from SURVEY.md §2 (and the
north-star additions) as a ``(spark, sf_dir) -> DataFrame`` callable, with a
DuckDB-ANSI-SQL oracle where the semantics are SQL-expressible.

This module holds the registry plumbing only.  The entries live in one
module per operator family (``scan``, ``rules``, ``relational``, …,
mirroring ``operators/``), each entry next to its oracle; ``loader``
holds the table readers and ``drain`` the bounded streaming harness.
``REGISTRY`` order is the order the family modules are imported at the
end of this file.

Conventions (hash-match discipline):

- every computed column is aliased identically in the Spark plan and the
  oracle SQL;
- float aggregates are rounded (2-6 digits) on BOTH sides; cross-engine
  float noise is ~1e-12 relative, far inside the rounding;
- timestamps never leave as raw timestamps — always formatted strings or
  dates, with the Spark session pinned to UTC;
- integer sums are cast to bigint in the oracle (DuckDB sums to int128);
- top-k queries carry deterministic tie-breaks;
- float vectors are cast to double before arithmetic on both sides.

Queries whose semantics are hash-dependent (MinHash/SimHash/LSH) have no
oracle — the driver records the weaker rows-only check; their correctness
is pinned by pytest against exact algorithms instead.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import subprocess
from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

from big_data_validator_spark.operators import materialize, resource_scope


@dataclass
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str] = None


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, oracle: Optional[str] = None):
    """Register the decorated ``(spark, sf_dir)`` callable as entry
    ``name``; a name registered twice raises instead of replacing.

    The registered callable, which the decorator also returns, runs the
    entry in one :func:`~big_data_validator_spark.operators.resource_scope`:
    every cache and scratch directory the call makes is released when
    it returns or raises.  A result whose call held any of them is
    collected first (:func:`~big_data_validator_spark.operators
    .materialize`), so it never reads what the scope releases."""

    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"registry entry {name!r} is defined twice")

        @functools.wraps(fn)
        def scoped(spark: SparkSession, sf_dir: str) -> DataFrame:
            with resource_scope() as held:
                out = fn(spark, sf_dir)
                return materialize(out) if held else out

        REGISTRY[name] = QuerySpec(fn=scoped, oracle=oracle)
        return scoped

    return deco


#: The correctness driver records rows for the first 50 entries of
#: ``all_queries()`` only; ``driver_order`` decides which 50.
_DRIVER_WINDOW_SIZE = 50
#: The repository root, three levels above this file.
_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _correctness_paths() -> list[str]:
    """The git-tracked ``CORRECTNESS_r*.json`` files at the repo root.

    A new round's file can land in the worktree untracked; reading only
    tracked files keeps the order (and COVERAGE.md) a function of the
    committed tree.  Falls back to a glob where git is unavailable (e.g. an
    exported tarball).
    """
    try:
        out = subprocess.run(
            ["git", "ls-files", "CORRECTNESS_r*.json"],
            cwd=_REPO_ROOT,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.split()
        if out:
            return sorted(os.path.join(_REPO_ROOT, p) for p in out)
    except (OSError, subprocess.CalledProcessError):
        pass
    return sorted(glob.glob(os.path.join(_REPO_ROOT, "CORRECTNESS_r*.json")))


def correctness_history() -> dict[str, list[tuple[int, dict]]]:
    """Entry name -> ``[(round, driver row), ...]`` over the tracked files."""
    history: dict[str, list[tuple[int, dict]]] = {}
    for path in _correctness_paths():
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            for name, row in json.load(fh).items():
                if isinstance(row, dict):
                    history.setdefault(name, []).append((rnd, row))
    return history


def is_green(row: dict) -> bool:
    """The driver's full gate: row count, schema and value hash all match."""
    return bool(
        row.get("rows_match") and row.get("schema_match") and row.get("hash_match")
    )


def driver_order(history: dict[str, list[tuple[int, dict]]]) -> list[str]:
    """Registry names in the order the driver should check them.

    A counting record is a green row for an oracled entry and any row with
    ``spark_rows >= 0`` for a rows-only one.  Entries without one come
    first, then oracled entries least recently green first, then rows-only
    entries; ties keep definition order (``sorted`` is stable).
    """

    def counts(row: dict, rows_only: bool) -> bool:
        if rows_only:
            return row.get("spark_rows") is not None and row["spark_rows"] >= 0
        return is_green(row)

    def key(name: str) -> tuple[bool, bool, int]:
        rows_only = REGISTRY[name].oracle is None
        rounds = [r for r, row in history.get(name, []) if counts(row, rows_only)]
        return (bool(rounds), rows_only, max(rounds, default=0))

    return sorted(REGISTRY, key=key)


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The driver's ``queries()`` in ``driver_order``; its first
    ``_DRIVER_WINDOW_SIZE`` names are the correctness window."""
    order = driver_order(correctness_history())
    return {name: REGISTRY[name].fn for name in order}


def all_oracles() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in REGISTRY.items() if spec.oracle
    }


# The family modules register their entries on import; this order is
# ``REGISTRY`` order, the tie-break of ``driver_order``.  A family that
# borrows another's helpers comes after it.
from big_data_validator_spark.queries import (  # noqa: E402,F401
    scan,
    rules,
    relational,
    profile,
    timeseries,
    events,
    text,
    similarity,
    dedup,
    multimodal,
    sampling,
    curation,
    linkage,
    cdc,
    graph,
    layout,
    streaming,
)
