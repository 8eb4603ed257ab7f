"""The repo benchmark: CDC sweep ticks, and vector serving with
freshness beside the relational headline queries.

Usage, from the repository root::

    python3 perfbench/run.py --workload cdc_sweep --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 20

One run is one workload in one fresh process: a SparkSession from the
package's ``get_spark`` at half of ``nproc`` cores (no other settings), inputs
generated from ``--seed`` under ``.perfbench_work/`` (removed at exit), a
set-up, then a closed loop with one client for ``--seconds`` seconds.
Every operation's output is checked.

Above the last line, a table prints every named end-to-end metric with
its unit (``n/a`` where the workload does not measure it), and with
``--trace 1`` every per-layer metric. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}`` holding
BENCHMARK.json's ``end_to_end`` metrics, or with ``--trace 1`` its
``per_layer`` ones. ``--workload all`` runs each workload in its own
process and prints their tables. NOTES.md explains the workloads.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cdc_change_data_capture_pipeline_from_mysql_to_pinecone_spark"
WORKLOADS = ("cdc_sweep", "serve")

#: Spark task threads: half the CPUs, so that the JVM's compiler and GC
#: threads and the Python workers have CPUs of their own; with one task
#: thread per CPU a run oversubscribes the CPUs and its timings follow
#: the scheduler more than the program
SPARK_CORES = max(1, len(os.sched_getaffinity(0)) // 2)

#: a traced run alternates traced and untraced rounds, starting traced;
#: its per-layer figures are medians over the first TRACED_ROUNDS
#: traced rounds, which are the same rounds for the same seed
TRACED_ROUNDS = 2

#: every end-to-end metric the table prints, with its unit
END_TO_END = [
    ("setup_s", "s"), ("load_rows_per_s", "rows/s"), ("tick_p50_s", "s"),
    ("tick_tail_s", "s"), ("freshness_p50_s", "s"), ("freshness_tail_s", "s"),
    ("query_p50_s", "s"), ("query_tail_s", "s"), ("recall_at_10", "ratio"),
    ("headline_total_s", "s"), ("peak_rss_mb", "MB"), ("store_bytes_per_row", "B"),
    ("error_rate", "ratio"),
]


# -- processes -------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, resident bytes) for every visible process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        out[int(entry)] = (int(fields[1]), int(fields[21]) * page)
    return out


def descendants(root: int, table=None) -> list[int]:
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _rss) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    """RSS of ``root`` and its descendants (the JVM, Python workers)."""
    table = _proc_table()
    return sum(table[p][1] for p in [root, *descendants(root, table)] if p in table)


class PeakRss:
    """Samples this process tree's RSS every ``period`` seconds."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM
    and its Python workers have exited."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.time() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)


# -- one run ---------------------------------------------------------------------


class Operation:
    """One attempted operation; it fails if it raises or a check fails."""

    def __init__(self, run: "Run", what: str):
        self.run = run
        self.what = what
        self.ok = True

    def check(self, ok: bool, why: str) -> bool:
        if not ok and self.ok:
            self.ok = False
            self.run.note_error(f"{self.what}: {why}")
        return ok


class Run:
    """State of one workload run: session, tracer, timings and checks."""

    def __init__(self, args, work: str):
        from workloads import FULL, TINY

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.sizes = TINY if args.tiny else FULL
        self.root = ROOT
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.report: dict[str, tuple] = {}  # name -> (value, unit, note)
        self.layers: dict[str, float] = {}  # per-layer metrics (traced run)
        self.kinds: dict[str, list[float]] = {}  # untraced latencies per kind
        self.rounds: list[float] = []  # untraced round latencies
        self.traced_rounds: list = []  # root span of each traced round
        self.traced_lat: list[float] = []
        self.setup_parts: dict[str, float] = {}
        self.warmup = (0, 0.0)  # (untimed rounds before the window, seconds)

    def note_error(self, what: str) -> None:
        if len(self.errors) < 20:
            self.errors.append(what)

    @contextmanager
    def operation(self, what: str):
        """Count one attempted operation. An exception inside is
        recorded as its failure and swallowed, so the loop goes on."""
        op = Operation(self, what)
        self.attempted += 1
        try:
            yield op
        except Exception as exc:
            op.check(False, f"{type(exc).__name__}: {str(exc)[:300]}")
        if not op.ok:
            self.failed += 1

    def record(self, kind: str, seconds: float) -> None:
        """One untraced operation latency of ``kind``."""
        self.kinds.setdefault(kind, []).append(seconds)

    def round_s(self) -> float | None:
        """One round, as the sum over operation kinds of each kind's
        median latency in the measured window: steadier than the median
        of whole rounds when a run holds only a few of them."""
        from stats import median

        return sum(median(v) for v in self.kinds.values()) if self.kinds else None

    def start_session(self) -> None:
        from importlib import import_module

        from spans import NullTracer, Tracer

        t0 = time.perf_counter()
        get_spark = import_module(PACKAGE).get_spark
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", cores=SPARK_CORES)
        self.setup_parts["session_start_s"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = Tracer(self.spark) if self.trace else None
        self.null = NullTracer()

    def gc_seconds(self) -> float:
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3

    @contextmanager
    def traced(self, name: str):
        """A root span with the package entry points instrumented; a
        no-op (yielding None) in an untraced run."""
        if not self.trace:
            yield None
            return
        from spans import instrument

        undo = instrument(self.tracer)
        try:
            with self.tracer.span(name) as span:
                yield span
        finally:
            undo()

    def loop(self, one_round, min_rounds: int, warmup: int = 0) -> None:
        """The closed loop: ``one_round(tracer, timed)`` back to back for
        the measured window, and at least ``min_rounds`` times. A round
        returns the seconds the program spent in it (None if it failed).
        ``warmup`` untimed, untraced rounds run first, so the window
        starts after the JVM has compiled the round's hot paths. A
        traced run alternates traced and untraced rounds."""
        t0 = time.perf_counter()
        for _ in range(warmup):
            one_round(self.null, timed=False)
        self.warmup = (warmup, time.perf_counter() - t0)
        need = max(min_rounds, 2 * TRACED_ROUNDS - 1 if self.trace else 0)
        t_end = time.perf_counter() + self.seconds
        i = 0
        while time.perf_counter() < t_end or i < need:
            if self.trace and i % 2 == 0:
                with self.traced("round") as span:
                    lat = one_round(self.tracer, timed=False)
                if lat is not None:
                    self.traced_rounds.append(span)
                    self.traced_lat.append(lat)
            else:
                lat = one_round(self.null, timed=True)
                if lat is not None:
                    self.rounds.append(lat)
            i += 1

    def first_traced_rounds(self) -> list:
        return self.traced_rounds[:TRACED_ROUNDS]

    def first_traced(self, fn) -> float | None:
        """Median of ``fn(round span)`` over the first traced rounds."""
        from stats import median

        return median([fn(op) for op in self.first_traced_rounds()])

    def generic_layers(self) -> None:
        """The per-layer metrics of BENCHMARK.json, which every workload
        reports: Spark's work per round, time inside Spark jobs and the
        driver's time outside them, session start and JVM GC."""
        from stats import median

        per_round = {
            "spark.jobs_per_round": ("jobs", 1),
            "spark.stages_per_round": ("stages", 1),
            "spark.tasks_per_round": ("tasks", 1),
            "spark.input_records_per_round": ("input_records", 1),
            "spark.shuffle_bytes_per_round": ("shuffle_write_bytes", 1),
            "spark.executor_cpu_s_per_round": ("executor_cpu_ns", 1e-9),
            "spark.task_gc_s_per_round": ("task_gc_ms", 1e-3),
            "spark.job_wall_s_per_round": ("job_ms", 1e-3),
        }
        for name, (counter, scale) in per_round.items():
            self.layers[name] = self.first_traced(lambda op, c=counter, k=scale: op.total(c) * k)
        pairs = list(zip(self.traced_rounds, self.traced_lat))[:TRACED_ROUNDS]
        self.layers["driver.outside_jobs_s_per_round"] = median(
            [lat - op.total("job_ms") / 1e3 for op, lat in pairs]
        )
        # each layer's self time: every span name's duration minus its
        # children's, summed per round
        names = {s.name for op in self.first_traced_rounds() for s in op.walk()}
        for n in sorted(names - {"round"}):
            self.layers[f"self.{n}_s"] = self.first_traced(
                lambda op, n=n: sum(s.self_time for s in op.walk() if s.name == n)
            )
        if self.traced_lat and self.rounds:
            self.layers["trace.overhead_s"] = median(self.traced_lat) - median(self.rounds)
        self.layers["session.start_s"] = self.setup_parts["session_start_s"]
        self.layers["jvm.gc_s"] = self.gc_seconds()


# -- entry point -----------------------------------------------------------------


def load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_workload(args) -> int:
    import workloads

    contract = load_contract()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers import the package from the checkout; Spark's and
    # Python's scratch files stay inside the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    run = Run(args, work)
    try:
        with PeakRss() as rss:
            run.start_session()
            try:
                getattr(workloads, args.workload)(run)
                if run.trace:
                    run.generic_layers()
            finally:
                stop_spark(run.spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # setup_s: what a fresh process pays before its first measured round
    setup_s = sum(run.setup_parts.values())
    run.report["setup_s"] = (
        setup_s, "s", ", ".join(f"{k}={v:.2f}" for k, v in run.setup_parts.items())
    )
    run.report["peak_rss_mb"] = (rss.peak / 2**20, "MB", "driver + JVM + Python workers")
    generic = {"setup_s": setup_s, "round_s": run.round_s(), "peak_rss_mb": rss.peak / 2**20}
    section = "per_layer" if run.trace else "end_to_end"
    source = run.layers if run.trace else generic
    metrics = {}
    for m in contract[section]:
        value = source.get(m["name"])
        if value is None:
            run.attempted += 1
            run.failed += 1
            run.note_error(f"metric {m['name']} was not measured")
            continue
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    run.report["error_rate"] = (
        run.failed / max(1, run.attempted), "ratio", f"{run.failed}/{run.attempted} operations"
    )
    print_table(run, generic)
    for err in run.errors:
        print(f"error: {err}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def _fmt(value) -> str:
    return "n/a" if value is None else f"{value:.6g}"


def print_table(run: Run, generic: dict) -> None:
    print(f"== {run.workload} seed={run.seed} seconds={run.seconds:g} trace={int(run.trace)}")
    for name, unit in END_TO_END:
        value, _unit, note = run.report.get(name, (None, unit, "not measured by this workload"))
        print(f"  {name:<22} {_fmt(value):>14} {unit:<7} {note}")
    print(f"  {'round_s':<22} {_fmt(generic['round_s']):>14} {'s':<7} "
          f"sum of per-kind median latencies over {len(run.rounds)} untraced rounds, "
          f"after {run.warmup[0]} warm-up rounds ({run.warmup[1]:.2f} s)")
    for name, value in sorted(run.layers.items()):
        print(f"  layer {name:<48} {_fmt(value)}")


def run_all(args) -> int:
    """Each workload in its own process, tables printed in turn."""
    status = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--tiny"] if args.tiny else [])
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.splitlines()
        print("\n".join(lines[:-1]))
        status = status or proc.returncode or (0 if lines else 1)
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="the self-test's sizes (about sf0.001)")
    args = ap.parse_args(argv)
    needed = (PACKAGE, "__spark_entry__.py", os.path.join("tests", "oracle_harness.py"))
    missing = [p for p in needed if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not run from a checkout of the program, missing {missing}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
