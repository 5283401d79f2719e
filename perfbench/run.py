"""End-to-end and per-layer benchmark of the validation runner and the
query registry.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout.  One Python process drives one local
Spark session on every core of the host; items (a table, or a registry
entry) run one after another.  A run sets up the session three times and
reports the median as ``setup_s``, warms up on inputs the timed pass never
sees, then times one pass of cold items: Spark's cache is cleared and the
temp root emptied between items, and every table gets its own sink.  Each
item's output is checked against ground truth after its timed interval.

With ``--trace 1`` the run times the pass three times, each in a fresh
session: untraced to warm the JVM, then with Spark's event log on and spans
around the package functions the runner calls, then untraced again.  It
prints the per-layer metrics, with the traced wall against the last
untraced wall as the tracing overhead, and writes spans and folded metrics to
``.perfbench_out/trace_<workload>_<seed>.json``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from typing import Callable

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402

CORES = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "3g"
SETUP_SAMPLES = 3
REGISTRY_DATA = os.path.join(HERE, "testdata", "sf0.01")
PINS = os.path.join(HERE, "pins.json")


# ------------------------------------------------------------------ workloads


@dataclass
class Item:
    """One timed unit of work.  ``run`` returns an output that ``check``
    verifies outside the timed interval; ``check`` returns an error string
    or None."""

    id: str
    run: Callable[[], object]
    check: Callable[[object], str | None]
    input_bytes: int
    family: str = ""
    streaming: bool = False


@dataclass
class Workload:
    name: str
    warmup: Callable[["Bench"], list[Item]]
    items: Callable[["Bench"], list[Item]]


def csv_items(bench: "Bench", specs: list[gen.TableSpec], index0: int) -> list[Item]:
    """Write each table (untimed) and return one validation item per table."""
    items = []
    for i, spec in enumerate(specs):
        truth = gen.write_table(bench.inputs, spec, bench.seed, index0 + i)
        items.append(Item(
            id=spec.name,
            run=lambda t=truth: bench.validate(t),
            check=lambda report, t=truth: bench.check_table(report, t),
            input_bytes=truth["bytes"],
        ))
    return items


def csv_specs(prefix: str, large_rows: int, dirty_grid) -> list[gen.TableSpec]:
    """Two large quoted clean tables, each followed by half of the small
    naive dirty ones.  Sizes and order are fixed and the seed changes only
    the contents: the first items of a pass run slower than the rest, so a
    seeded order would move the median item."""
    large = [gen.TableSpec(f"{prefix}L{i}", large_rows, 10, quoted=True, dirty=False) for i in range(2)]
    dirty = [gen.TableSpec(f"{prefix}D{i:02d}", r, c, quoted=False, dirty=True)
             for i, (r, c) in enumerate(dirty_grid)]
    half = len(dirty) // 2
    return [large[0], *dirty[:half], large[1], *dirty[half:]]


#: (rows, columns) of the small dirty tables of a pass.  Five share a row
#: count so that the median item of the pass falls among like tables.
DIRTY_GRID = [(5_000, 9), (5_000, 19), *((10_000, c) for c in (4, 9, 14, 19, 24)), (20_000, 9), (20_000, 19)]


def registry_items(bench: "Bench", names: list[str]) -> list[Item]:
    pins = bench.pins["rows"]
    return [
        Item(
            id=name,
            run=lambda n=name: bench.run_entry(n),
            check=lambda rows, n=name: (
                None if n not in pins or rows == pins[n]
                else f"{n}: {rows} rows, pinned {pins[n]}"
            ),
            input_bytes=bench.registry_bytes,
            family=name.split("_")[0],
            streaming=name.startswith("streaming_"),
        )
        for name in names
    ]


WORKLOADS = {
    w.name: w
    for w in [
        # The validation runner end to end: quoted clean tables exercise the
        # regex line scan and the multiLine CSV parse, naive dirty ones the
        # escalation, the parser verdict and the sink.
        Workload(
            "csv_tables",
            warmup=lambda b: csv_items(b, csv_specs("W", 160_000, DIRTY_GRID), 10_000),
            items=lambda b: csv_items(b, csv_specs("", 160_000, DIRTY_GRID), 0),
        ),
        # The operator library: batch entries and bounded streaming drains,
        # bound by fixed cost per query; the runner is never called.
        Workload(
            "registry",
            warmup=lambda b: registry_items(b, b.pins["warmup"]),
            items=lambda b: registry_items(b, b.pins["registry"]),
        ),
    ]
}


def check_report(report, sink_rows: int, truth: dict) -> str | None:
    """Compare a ValidationReport and its sink with the generator's truth."""
    got = {r.rule: r for r in report.results}
    for want in truth["results"]:
        r = got.get(want["rule"])
        if r is None:
            return f"{truth['table']}: no {want['rule']} result"
        if (r.passed, r.violation_count) != (want["passed"], want["violation_count"]):
            return (f"{truth['table']}: {want['rule']} gave {r.passed}/{r.violation_count}, "
                    f"expected {want['passed']}/{want['violation_count']}")
        if "per_column" in want and r.details.get("per_column") != want["per_column"]:
            return f"{truth['table']}: per-column type violations differ"
    line_rule = truth["results"][1]["rule"]
    details = got[line_rule].details
    if details.get("lines") != truth["rows"] + 1:
        return f"{truth['table']}: scanned {details.get('lines')} lines"
    if bool(details.get("escalated")) != truth["escalated"]:
        return f"{truth['table']}: escalation differs"
    if sink_rows != truth["sink_rows"]:
        return f"{truth['table']}: sink holds {sink_rows} rows, expected {truth['sink_rows']}"
    return None


def sink_stats(path: str | None) -> tuple[int, int, int]:
    """(rows, files, bytes) of a Parquet sink, read from file footers."""
    if not path or not os.path.isdir(path):
        return 0, 0, 0
    import pyarrow.parquet as pq

    rows = files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                rows += pq.ParquetFile(p).metadata.num_rows
                files += 1
                size += os.path.getsize(p)
    return rows, files, size


# -------------------------------------------------------------------- tracing


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    item: str
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """In-memory spans; one root span per item, children nest by call."""

    spans: list[Span] = field(default_factory=list)
    stack: list[Span] = field(default_factory=list)
    item: str = ""

    @contextmanager
    def span(self, name: str):
        parent = self.stack[-1].id if self.stack else None
        s = Span(len(self.spans), parent, name, self.item, time.perf_counter())
        self.spans.append(s)
        self.stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()

    def wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def self_time(self, name: str) -> float:
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        return sum(s.end - s.start - child.get(s.id, 0.0) for s in self.spans if s.name == name)

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)


@contextmanager
def patched(tracer: Tracer):
    """Wrap the package functions the runner calls in spans, by the names
    the runner looks them up under."""
    from big_data_validator_spark import runner
    from big_data_validator_spark.operators import rules

    targets = [
        (runner, "probe_header", "sources.probe_header"),
        (rules, "rule_csv_parser_verdict", "rules.parser_verdict"),
        (runner, "write_failures_parquet", "sinks.write"),
        (runner.ValidationRunner, "_type_enforcement_result", "runner.type_enforcement"),
        (runner.ValidationRunner, "validate_csv", "runner.validate_csv"),
    ]
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
    try:
        for (obj, attr, name), (_, _, fn) in zip(targets, saved):
            setattr(obj, attr, tracer.wrap(fn, name))
        yield
    finally:
        for obj, attr, fn in saved:
            setattr(obj, attr, fn)


# ---------------------------------------------------------------------- bench


class Bench:
    def __init__(self, workload: Workload, seed: int, work: str):
        self.workload = workload
        self.seed = seed
        self.work = work
        self.inputs = os.path.join(work, "tables")
        self.tmp = os.path.join(work, "tmp")
        self.sinks = os.path.join(work, "sinks")
        for d in (self.inputs, self.tmp, self.sinks):
            os.makedirs(d, exist_ok=True)
        with open(PINS) as fh:
            self.pins = json.load(fh)
        self.registry_bytes = sum(
            os.path.getsize(os.path.join(REGISTRY_DATA, n)) for n in os.listdir(REGISTRY_DATA)
        )
        self.spark = None
        self.tracer: Tracer | None = None
        self.sink_totals = [0, 0, 0]
        self.leaked = 0
        self.passes = 0
        self.t0 = time.perf_counter()

    def phase(self, name: str) -> None:
        print(f"[perfbench] {time.perf_counter() - self.t0:7.2f}s {name}", file=sys.stderr, flush=True)

    # -- session

    def start(self, event_log: str | None = None) -> float:
        """Start a session and pay its first job and first Python worker;
        return the seconds that took."""
        from pyspark.sql import SparkSession
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        builder = (
            SparkSession.builder.master(f"local[{CORES}]")
            .appName(f"perfbench-{self.workload.name}")
            .config("spark.driver.memory", DRIVER_MEMORY)
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={self.tmp}")
            .config("spark.local.dir", os.path.join(self.work, "local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config("spark.sql.shuffle.partitions", str(CORES))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.eventLog.enabled", str(event_log is not None).lower())
        )
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            builder = (
                builder.config("spark.eventLog.dir", "file://" + event_log)
                .config("spark.eventLog.compress", "false")
            )
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1000).select(F.sum("id")).collect()
        self.spark.range(100).select(F.udf(lambda v: v, "long")("id")).collect()
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then end the JVM and wait for it: PySpark
        keeps it alive until the interpreter exits."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None

    def peak_rss_mb(self) -> float:
        """Peak resident memory so far of the driver JVM plus this Python
        process.  It varies by a fifth from run to run with the JVM's heap
        growth, too much for an end-to-end bound."""
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{jvm_pid}/status") as fh:
            jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0

    # -- items

    def validate(self, truth: dict):
        from big_data_validator_spark import TableContract
        from big_data_validator_spark.runner import RunnerConfig, ValidationRunner

        sink_base = os.path.join(self.sinks, str(self.passes), truth["table"])
        with self.span("contract.parse"):
            contract = TableContract.from_metadata_csv(truth["metadata"])
        runner = ValidationRunner(self.spark, RunnerConfig(failure_base_dir=sink_base))
        return runner.validate_csv(truth["table"], truth["csv"], contract)

    def check_table(self, report, truth: dict) -> str | None:
        rows, files, size = sink_stats(report.failure_sink_path)
        for i, v in enumerate((rows, files, size)):
            self.sink_totals[i] += v
        return check_report(report, rows, truth)

    def run_entry(self, name: str) -> int:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from big_data_validator_spark.queries import REGISTRY

        obs = Observation()
        df = REGISTRY[name].fn(self.spark, REGISTRY_DATA)
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite").format("noop").save()
        return obs.get["rows"]

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    def run_items(self, items: list[Item]) -> list[dict]:
        """Run items one after another; return one record per item."""
        records = []
        self.passes += 1
        sc = self.spark.sparkContext
        for item in items:
            self.spark.catalog.clearCache()
            sc.setJobGroup(item.id, item.id)
            if self.tracer:
                self.tracer.item = item.id
            wall0 = time.time()
            t0 = time.perf_counter()
            error = None
            try:
                with self.span("item"):
                    out = item.run()
            except Exception:  # an item that raises is a failed item; the run goes on
                error = traceback.format_exc(limit=3)
            t1 = time.perf_counter()
            wall1 = time.time()
            for q in self.spark.streams.active:  # drains must end before the next item
                q.stop()
            if error is None:
                error = item.check(out)
            leaked = os.listdir(self.tmp)
            self.leaked += len(leaked)
            for n in leaked:
                p = os.path.join(self.tmp, n)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
            records.append({
                "id": item.id, "s": t1 - t0, "window_ms": (wall0 * 1000, wall1 * 1000),
                "error": error, "family": item.family, "streaming": item.streaming,
                "bytes": item.input_bytes,
            })
            print(f"[perfbench] item {item.id} {t1 - t0:.3f}s" + (f" FAILED {error}" if error else ""),
                  file=sys.stderr, flush=True)
        sc.setJobGroup("perfbench", "perfbench")
        return records


# -------------------------------------------------------------------- metrics


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile, interpolated inside the sample's range."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def end_to_end(records: list[dict], setup: list[float]) -> dict:
    wall = sum(r["s"] for r in records)
    return {
        "setup_s": (statistics.median(setup), "s"),
        "wall_s": (wall, "s"),
        "input_mb_per_s": (sum(r["bytes"] for r in records) / 1e6 / wall, "MB/s"),
    }


def per_layer(bench: Bench, records: list[dict], log_dir: str) -> tuple[dict, dict]:
    tracer = bench.tracer
    windows = {r["id"]: r["window_ms"] for r in records}
    logs = [os.path.join(log_dir, n) for n in os.listdir(log_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(logs)}")
    stats = eventlog.fold(eventlog.read_events(logs[0]), windows)
    tot = {k: sum(s.totals()[k] for s in stats.values()) for k in eventlog.ItemStats().totals()}
    wall_ms = sum(r["s"] for r in records) * 1000
    stream_ms = sum(r["s"] for r in records if r["streaming"]) * 1000
    failed = sum(1 for r in records if r["error"])
    m = {
        "spark.jobs": (tot["jobs"], "count"),
        "spark.tasks": (tot["tasks"], "count"),
        "spark.job_busy_s": (tot["busy_ms"] / 1000, "s"),
        "spark.driver_gap_s": ((wall_ms - tot["busy_ms"]) / 1000, "s"),
        "spark.core_util": (tot["task_run_ms"] / (tot["busy_ms"] * CORES) if tot["busy_ms"] else 0.0, "ratio"),
        "spark.task_cpu_s": (tot["task_cpu_ms"] / 1000, "s"),
        "spark.gc_s": (tot["gc_ms"] / 1000, "s"),
        "spark.input_bytes": (tot["input_bytes"], "bytes"),
        "spark.shuffle_bytes": (tot["shuffle_bytes"], "bytes"),
        "spark.spill_bytes": (tot["spill_bytes"], "bytes"),
        "spark.python_worker_s": (tot["python_worker_ms"] / 1000, "s"),
        "contract.parse_s": (tracer.total("contract.parse"), "s"),
        "sources.probe_header_s": (tracer.total("sources.probe_header"), "s"),
        "runner.line_scan_s": (tracer.self_time("runner.validate_csv"), "s"),
        "runner.type_enforcement_s": (tracer.total("runner.type_enforcement"), "s"),
        "rules.parser_verdict_s": (tracer.total("rules.parser_verdict"), "s"),
        "rules.escalations": (tracer.count("rules.parser_verdict"), "count"),
        "sinks.write_s": (tracer.total("sinks.write"), "s"),
        "sinks.rows": (bench.sink_totals[0], "count"),
        "sinks.files": (bench.sink_totals[1], "count"),
        "sinks.bytes": (bench.sink_totals[2], "bytes"),
        "queries.tmp_entries_leaked": (bench.leaked, "count"),
        "streaming.batches": (tot["batches"], "count"),
        "streaming.trigger_s": (tot["trigger_ms"] / 1000, "s"),
        "streaming.add_batch_s": (tot["add_batch_ms"] / 1000, "s"),
        "streaming.wal_commit_s": (tot["wal_commit_ms"] / 1000, "s"),
        "streaming.commit_offsets_s": (tot["commit_offsets_ms"] / 1000, "s"),
        "streaming.query_planning_s": (tot["query_planning_ms"] / 1000, "s"),
        "streaming.outside_trigger_s": ((stream_ms - tot["trigger_ms"]) / 1000 if stream_ms else 0.0, "s"),
        "error_rate": (failed / len(records), "ratio"),
        "item_p50_s": (statistics.median(r["s"] for r in records), "s"),
        "item_p90_s": (quantile([r["s"] for r in records], 90), "s"),
        "trace.wall_s": (wall_ms / 1000, "s"),
    }
    for family in query_families(bench.pins):
        m[f"queries.{family}_s"] = (sum(r["s"] for r in records if r["family"] == family), "s")
    return m, {item: s.totals() for item, s in stats.items()}


def query_families(pins: dict) -> list[str]:
    """Name prefixes of the timed registry entries, one ``queries.*_s``
    metric each."""
    return sorted({n.split("_")[0] for n in pins["registry"]})


# ----------------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="nominal length of the timed pass; the pass is fixed per workload")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import big_data_validator_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.isdir(REGISTRY_DATA):
        print(f"missing registry testdata {REGISTRY_DATA}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    bench = Bench(WORKLOADS[args.workload], args.seed, work)
    # Python workers import the package, and every temp file of this
    # process, the JVM and the workers lands in the run's own temp root.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = bench.tmp
    tempfile.tempdir = bench.tmp
    try:
        return run(bench, args)
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)


def run(bench: Bench, args) -> int:
    wl = bench.workload
    done: list[dict] = []

    def one_pass(tracer: Tracer | None = None) -> list[dict]:
        bench.run_items(wl.warmup(bench))
        bench.phase("warm-up")
        bench.leaked, bench.sink_totals, bench.tracer = 0, [0, 0, 0], tracer
        items = wl.items(bench)
        bench.phase("inputs")
        if tracer:
            with patched(tracer):
                records = bench.run_items(items)
        else:
            records = bench.run_items(items)
        bench.phase("pass")
        done.extend(records)
        return records

    if not args.trace:
        setup = []
        for i in range(SETUP_SAMPLES):
            bench.stop()
            setup.append(bench.start())
            bench.phase(f"session {i}")
        metrics = end_to_end(one_pass(), setup)
    else:
        # Three passes, each in a fresh session on the same JVM.  The JVM
        # keeps getting faster over its first pass even after warm-up, so
        # that pass only warms it; the traced pass is compared with the
        # untraced one after it.
        bench.start()
        one_pass()
        rss_mb = bench.peak_rss_mb()
        bench.stop()
        log_dir = os.path.join(bench.work, "eventlog")
        bench.start(event_log=log_dir)
        records = one_pass(Tracer())
        bench.stop()  # closes the event log
        metrics, per_item = per_layer(bench, records, log_dir)
        spans = [vars(s) for s in bench.tracer.spans]
        bench.start()
        untraced = sum(r["s"] for r in one_pass())
        traced = metrics["trace.wall_s"][0]
        metrics["peak_rss_mb"] = (rss_mb, "MB")
        metrics["trace.untraced_wall_s"] = (untraced, "s")
        metrics["trace.overhead"] = (traced / untraced - 1.0, "ratio")
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"trace_{wl.name}_{args.seed}.json"), "w") as fh:
            json.dump({
                "workload": wl.name, "seed": args.seed,
                "metrics": {k: v for k, (v, _) in metrics.items()},
                "items": per_item,
                "spans": spans,
            }, fh, indent=1)

    for name, (value, _) in metrics.items():
        if isinstance(value, float) and not math.isfinite(value):
            raise ValueError(f"metric {name} is {value}")
    failed = sum(1 for r in done if r["error"])
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(done),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
