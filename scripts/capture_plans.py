"""Capture ``explain('formatted')`` for every registry entry.

    python scripts/capture_plans.py <tag> [names...]

Writes ``<query>_<tag>.txt`` for each entry (default: the whole
registry) into a fresh ``tempfile.mkdtemp(prefix="bdv_plans_")``
directory, or into the directory ``SPARK_GRAFT_PLAN_DIR`` names, and
prints that directory's path first.  An entry whose call pinned a cache
or made a scratch directory returns a LocalRelation (the collected rows,
see ``queries.query``), so the real distributed plan is captured by
intercepting the registry wrapper's ``materialize`` call and dumping the
pre-collect plan(s) alongside the returned frame's plan.
Each returned-frame section opens with ``plan_report``'s facts (pushed
filters, read schema, broadcast/take-ordered flags, shuffle and codegen
span counts — the ones ``tests/test_plans.py`` pins).
Additionally (VERDICT r13 item 9), EVERY eager DataFrame action fired
while an entry builds — collect / count / first / take inside an
operator body (Theil-Sen's selection passes, the linkage pattern-count
collect, union-find probes) — has its plan captured, so eager entries
no longer dump as a bare ``Scan ExistingRDD`` stub.

Plan capture only — no timing; run the bench for numbers.
"""

from __future__ import annotations

import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import SF_DIR, session, warm_up
import big_data_validator_spark.queries as Q
from big_data_validator_spark.plans.inspect import formatted_explain, plan_report
from big_data_validator_spark.queries import REGISTRY


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    only = set(sys.argv[2:])
    out_dir = os.environ.get("SPARK_GRAFT_PLAN_DIR") or tempfile.mkdtemp(prefix="bdv_plans_")
    os.makedirs(out_dir, exist_ok=True)
    print(out_dir, flush=True)
    spark = session("bdv-plan-capture")
    warm_up(spark)

    # Intercept the registry wrapper's materialize: the distributed plan
    # is the frame passed IN, not the LocalRelation handed back.
    captured: list[tuple[str, str]] = []
    real_materialize = Q.materialize

    def spying_materialize(df):
        captured.append(("materialized (pre-collect)", formatted_explain(df)))
        return real_materialize(df)

    Q.materialize = spying_materialize

    # Intercept every eager action an operator body fires while the
    # entry builds (VERDICT r13 item 9): a local-result entry's real
    # distributed plans are the ones its collect/count/first/take
    # calls execute, not the LocalRelation it returns.  A LocalRelation
    # source itself is skipped (noise).  materialize's own
    # collect is already captured above with a better label.
    # Spark 4: pyspark.sql.DataFrame is the abstract base; sessions
    # hand out pyspark.sql.classic.dataframe.DataFrame, whose own
    # method overrides must be the patch target.
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _DF
    except ImportError:  # pre-4.0 layout
        from pyspark.sql import DataFrame as _DF

    _real_actions = {n: getattr(_DF, n) for n in ("collect", "count", "take")}

    def _spy(action_name):
        real = _real_actions[action_name]

        def wrapper(self, *a, **kw):
            try:
                plan = formatted_explain(self)
                # skip pure driver-local frames (LocalTableScan /
                # ExistingRDD with no distributed work) — noise
                if any(
                    marker in plan
                    for marker in (
                        "Exchange",
                        "HashAggregate",
                        "Join",
                        "Scan parquet",
                        "InMemory",
                        "Window",
                    )
                ):
                    captured.append((f"eager {action_name}()", plan))
            except Exception:
                pass
            return real(self, *a, **kw)

        return wrapper

    for n in _real_actions:
        setattr(_DF, n, _spy(n))

    try:
        for name in [n for n in REGISTRY if not only or n in only]:
            captured.clear()
            spark.sparkContext.setJobDescription(f"plan-capture: {name}")
            try:
                df = REGISTRY[name].fn(spark, SF_DIR)
                parts = []
                for i, (label, inner) in enumerate(captured):
                    parts.append(f"== {label} plan #{i + 1} ==\n{inner}")
                facts = "\n".join(f"- {k}: {v}" for k, v in plan_report(df).items())
                parts.append(
                    f"== returned frame plan ==\n{facts}\n\n{formatted_explain(df)}"
                )
                body = "\n\n".join(parts)
            except Exception as exc:  # record, keep going
                body = f"ERROR capturing plan: {exc!r}"
            with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
                fh.write(f"query: {name}\nsf_dir: {SF_DIR}\ntag: {tag}\n\n{body}\n")
            print(name, flush=True)
    finally:
        for n, real in _real_actions.items():
            setattr(_DF, n, real)
        Q.materialize = real_materialize
        spark.stop()


if __name__ == "__main__":
    main()
