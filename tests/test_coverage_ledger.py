"""COVERAGE.md freshness (VERDICT r7 item 8): the committed ledger must
equal what scripts/gen_coverage.py generates from the CURRENT registry
and the committed CORRECTNESS files — a stale ledger misreports
rotation debt, which is the one thing it exists to make visible."""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_coverage_md_is_fresh():
    spec = importlib.util.spec_from_file_location(
        "gen_coverage", os.path.join(REPO, "scripts", "gen_coverage.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    with open(os.path.join(REPO, "COVERAGE.md")) as fh:
        committed = fh.read()
    assert committed == mod.build_ledger(), (
        "COVERAGE.md is stale — regenerate with "
        "`python scripts/gen_coverage.py`"
    )


def test_ledger_ignores_untracked_correctness_drops():
    """VERDICT r9 item 1: the driver drops CORRECTNESS_r{N}.json into the
    worktree UNTRACKED after its snapshot; the ledger and the driver order
    must be pure functions of the git-tracked tree so that drop can never
    change them.  The drop is a fresh green row for the first seated
    entry, which would move it to the back of the order if it were read."""
    from big_data_validator_spark.queries import all_queries

    spec = importlib.util.spec_from_file_location(
        "gen_coverage", os.path.join(REPO, "scripts", "gen_coverage.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    before = mod.build_ledger()
    order = list(all_queries())
    drop = os.path.join(REPO, "CORRECTNESS_r98.json")
    assert not os.path.exists(drop)
    try:
        with open(drop, "w") as fh:
            fh.write(f'{{"{order[0]}": {{"rows_match": true, '
                     '"schema_match": true, "hash_match": true, '
                     '"spark_rows": 1, "oracle_rows": 1, "err": null}}')
        assert mod.build_ledger() == before
        assert list(all_queries()) == order
    finally:
        os.remove(drop)


def test_ledger_accounts_for_every_registry_entry():
    from big_data_validator_spark.queries import REGISTRY

    with open(os.path.join(REPO, "COVERAGE.md")) as fh:
        committed = fh.read()
    missing = [n for n in REGISTRY if f"`{n}`" not in committed]
    assert not missing, missing
