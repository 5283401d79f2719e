"""Validation run results.

The reference folds rule booleans with ``all(...)`` and raises
``ValidationErr`` (imported, oddly, from ``xml.dom`` —
``big_data_validator.py:4,293-297``).  We keep the same observable contract
(conjunction of rule outcomes, raise on any failure) behind a structured,
serializable report.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field
from typing import Optional


class ValidationError(Exception):
    """Raised when at least one validation rule failed."""


@dataclass
class RuleResult:
    """Outcome of one rule evaluation."""

    rule: str
    passed: bool
    violation_count: int = 0
    details: dict = field(default_factory=dict)

    def __bool__(self) -> bool:  # lets reports fold with all(...)
        return self.passed


@dataclass
class RunStats:
    """What one validation run scanned, and the Spark jobs that produced it.

    ``lines`` and ``rows`` come from the run's aggregation (``None`` when it
    did not scan lines, or did not parse rows); ``input_bytes`` from the
    driver's file listing (``None`` when the input is not local files);
    ``job_group`` is the caller's ``spark.jobGroup.id``, under which Spark's
    event log and status tracker file the run's jobs.
    """

    lines: Optional[int] = None
    rows: Optional[int] = None
    input_bytes: Optional[int] = None
    wall_s: Optional[float] = None
    job_group: Optional[str] = None


@dataclass
class ValidationReport:
    """Outcome of a full validation run for one table."""

    table: str
    results: list[RuleResult] = field(default_factory=list)
    failure_sink_path: Optional[str] = None
    run: RunStats = field(default_factory=RunStats)

    def add(self, result: RuleResult) -> "ValidationReport":
        self.results.append(result)
        return self

    @property
    def ok(self) -> bool:
        """Conjunction of rule outcomes (``big_data_validator.py:293``)."""
        return all(r.passed for r in self.results)

    def raise_on_failure(self) -> None:
        if not self.ok:
            failed = [r.rule for r in self.results if not r.passed]
            raise ValidationError(
                f"validation failed for table {self.table!r}: "
                + ", ".join(failed)
            )

    def to_dict(self) -> dict:
        return {
            "table": self.table,
            "ok": self.ok,
            "failure_sink_path": self.failure_sink_path,
            "run": asdict(self.run),
            "results": [
                {
                    "rule": r.rule,
                    "passed": r.passed,
                    "violation_count": r.violation_count,
                    "details": r.details,
                }
                for r in self.results
            ],
        }

    def to_json(self) -> str:
        return json.dumps(self.to_dict(), indent=2, default=str)
