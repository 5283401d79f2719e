#!/usr/bin/env python
"""Generate COVERAGE.md — the queries()-wide driver-window coverage
ledger (VERDICT r7 item 8): one row per registry entry with the round
of its most recent driver-GREEN CORRECTNESS record, so rotation debt is
visible without replaying every CORRECTNESS_r*.json by hand.

Definitions:

- **green**  — rows_match AND schema_match AND hash_match in some
  CORRECTNESS_r{N}.json (the driver's full value-hash gate);
- **weak**   — rows+schema matched but the value hash did not (listed
  with the round so regressions are visible);
- **rows-only** — the entry carries no oracle; a driver record (any
  row with spark_rows ≥ 0) is the strongest check it can receive;
- **never**  — no driver record in any committed round
  (``queries.driver_order`` seats these first).

Run from the repo root: ``python scripts/gen_coverage.py`` rewrites
COVERAGE.md; ``tests/test_coverage_ledger.py`` regenerates the text and
asserts the committed file is fresh.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def build_ledger() -> str:
    from big_data_validator_spark.queries import (
        REGISTRY,
        _DRIVER_WINDOW_SIZE,
        correctness_history,
        driver_order,
        is_green,
    )

    recorded = correctness_history()

    def status(name: str, oracled: bool) -> tuple[str, str]:
        recs = recorded.get(name, [])
        greens = [r for r, row in recs if is_green(row)]
        weaks = [
            r
            for r, row in recs
            if row.get("rows_match") and row.get("schema_match")
        ]
        if not oracled:
            if recs:
                return ("rows-only", f"recorded r{max(r for r, _ in recs)}")
            return ("rows-only", "never recorded")
        if greens:
            return ("green", f"r{max(greens)}")
        if weaks:
            return ("weak", f"r{max(weaks)} (hash red)")
        if recs:
            return ("red", f"r{max(r for r, _ in recs)}")
        return ("never", "—")

    names = driver_order(recorded)
    window = set(names[:_DRIVER_WINDOW_SIZE])
    lines = [
        "# COVERAGE — driver-window correctness ledger",
        "",
        "Generated by `scripts/gen_coverage.py` from the *git-tracked*",
        "`CORRECTNESS_r*.json` files — do not edit by hand",
        "(`tests/test_coverage_ledger.py` asserts freshness).  Rows follow",
        "`queries.driver_order`; `seat` marks the entries the driver will",
        f"record this round (the first {_DRIVER_WINDOW_SIZE} in that order).",
        "",
        "| # | entry | oracle | status | last driver record | seat |",
        "|---:|---|---|---|---|---|",
    ]
    counts: dict[str, int] = {}
    for i, name in enumerate(names):
        oracled = REGISTRY[name].oracle is not None
        st, detail = status(name, oracled)
        counts[st] = counts.get(st, 0) + 1
        lines.append(
            f"| {i} | `{name}` | {'yes' if oracled else 'no'} "
            f"| {st} | {detail} | {'yes' if name in window else ''} |"
        )
    summary = ", ".join(f"{v} {k}" for k, v in sorted(counts.items()))
    lines += [
        "",
        f"**{len(names)} entries: {summary}.**",
        "",
    ]
    return "\n".join(lines)


if __name__ == "__main__":
    out = os.path.join(REPO, "COVERAGE.md")
    with open(out, "w") as fh:
        fh.write(build_ledger())
    print(f"wrote {out}")
