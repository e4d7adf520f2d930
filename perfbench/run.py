"""Benchmark of the sleep-analytics and training-data engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload edf_ingest --seed 1 --seconds 12 --trace 0

Workloads (see ``workloads.py``): ``edf_ingest`` ingests a batch of EDF
nights end to end, ``mart_queries`` runs dashboard and analyst queries
at sf0.1, ``corpus_build`` builds the training corpus at sf0.1.  Each is
closed loop with one client on ``local[nproc]``.

A run sets up (JVM, seeded inputs, one output check against a reference,
a fixed warm-up at full size), then runs as many whole rounds of ops as
fit in ``--seconds``, and at least one.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` switches on Spark's event log and
reports per-layer span metrics per round instead.  The last stdout line
is the result JSON; the line before it records the run's settings, host
load and per-op detail.  ``--tiny`` shrinks every input for the smoke
test.  All state lives in a private directory under ``.perfbench/`` in
the repository, removed when the run ends.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: JVM heap: fits a 15 GB host next to the Python workers.
HEAP = "3g"
#: Full-size warm-up rounds before timing; the first is also the output
#: check of ``edf_ingest`` and ``corpus_build``, and the mart queries
#: have already run once each in their oracle check.  Measured on 4
#: cores, the EDF op takes 9-14 s, 2.9-4.5 s, then 2-3 s; the corpus
#: build 13-24 s, then 7-12 s; a query round after the oracle check
#: 1.2x its next one.  Without its warm-up round, the mart runs' medians
#: spread by 20%.  A fixed count, not a settle test, keeps every run at
#: the same point of that curve: a test that stopped after three or four
#: EDF rounds spread the medians of five runs by 15%.  The counts keep a
#: run near 40 s, so that the tens of runs a comparison of two commits
#: needs fit in an hour.
WARMUP_ROUNDS = {"edf_ingest": 2, "mart_queries": 1, "corpus_build": 1}

END_TO_END = {"setup_s": "s", "items_per_s": "1/s", "op_p50_s": "s", "peak_rss_mb": "MB"}

_WALL = ("wall_s",)
_JOB = ("wall_s", "jobs", "tasks", "task_s", "sched_wait_s", "shuffle_mb", "rows")
_NEST = _JOB + ("gc_s", "self_s")
#: Span → measures reported for it.  Set-up spans are per run; the rest
#: are totals per round of ops.  A measure that was zero on every
#: workload (GC inside the short write and check jobs, shuffle in the
#: epoch write) is left out.
SPANS = {
    "session.get_spark": _WALL,
    "bench.inputs": _WALL,
    "bench.oracle_check": ("wall_s", "jobs"),
    "session.warmup": ("wall_s", "jobs", "tasks", "task_s"),
    "sources.write_edf": _WALL,
    "sources.edf_read": _WALL,
    "sources.edf_scan": ("wall_s", "tasks", "task_s", "rows"),
    "quality.validate_split": _WALL,
    "quality.observed_checks": _WALL,
    "quality.assert_observed": _WALL,
    "quality.assert_checks": _JOB,
    "plans.runner.run": _NEST,
    "plans.runner.build": ("wall_s", "jobs", "tasks", "task_s", "shuffle_mb", "rows"),
    "plans.sleep_pipeline.staging": _WALL,
    "plans.sleep_pipeline.metrics": _WALL,
    "plans.sleep_pipeline.summary": _WALL,
    "plans.sleep_pipeline.features": _WALL,
    "plans.corpus_pipeline.build_corpus": _NEST,
    "queries.construct": ("wall_s", "jobs", "tasks", "task_s"),
    "queries.exec": _JOB + ("gc_s",),
    "marts.serve": ("wall_s", "jobs"),
    "writers.write_epochs": ("wall_s", "jobs", "tasks", "task_s", "sched_wait_s", "rows"),
    "writers.table_write": _JOB,
    "writers.export_jsonl_shards": _JOB,
    "bench.op": _NEST,
}
_UNITS = {"wall_s": "s", "self_s": "s", "task_s": "s", "gc_s": "s", "sched_wait_s": "s",
          "jobs": "count", "tasks": "count", "rows": "count", "shuffle_mb": "MB"}
PER_LAYER = {f"{span}.{m}": _UNITS[m] for span, ms in SPANS.items() for m in ms}


def _preflight() -> str | None:
    """Why the engine cannot be benchmarked from here, if it cannot."""
    for rel in ("sleep_edf_data_pipeline_spark/__init__.py", "scripts/driver_sim.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"missing {rel} under {ROOT}: run from a checkout of the engine"
    return None


def _private_env(run_dir: str) -> None:
    """Point every directory the engine or Spark writes at ``run_dir``.

    Must run before pyspark or the engine is imported: the mart root and
    the JVM heap size are read at import, the local dirs at JVM launch.
    """
    for sub in ("marts", "local", "tmp", "warehouse", "events"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_MART_DIR=os.path.join(run_dir, "marts"),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        # The JVM's temp files and its perf-data file (under /tmp by
        # default) stay in the run directory too.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        PYTHONPATH=os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
    )
    sys.path[:0] = [ROOT, HERE]


def _start_spark(run_dir: str, cpus: int, trace: bool):
    from sleep_edf_data_pipeline_spark import session

    extra = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": os.path.join(run_dir, "tmp"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = session.get_spark(
        app_name="perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra=extra
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every child to exit."""
    from pyspark import SparkContext

    from spans import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    jvm_tree = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while any(os.path.exists(f"/proc/{pid}") for pid in jvm_tree) and time.time() < deadline:
        time.sleep(0.1)


class Runner:
    """Runs a workload's rounds and records per-op latency and failures.

    A failed op counts against ``fail_ratio``; one whose output check
    failed also makes the run incorrect.
    """

    def __init__(self, workload, tracer, check_errors: tuple[type[Exception], ...]):
        self.workload, self.tracer, self.check_errors = workload, tracer, check_errors
        self.latencies: list[float] = []
        self.items = 0
        self.attempted = self.failed = self.wrong = 0

    def run_round(self, k: int, timed: bool) -> float:
        """Run round ``k``; return the summed latency of its ops.

        Outside the timed phase an op failure ends the run's set-up.
        """
        total = 0.0
        for op in self.workload.round(k):
            self.attempted += timed
            try:
                with self.tracer.span("bench.op"):
                    s = time.perf_counter()
                    items, verify = op()
                    latency = time.perf_counter() - s
                verify()
            except Exception as e:  # noqa: BLE001 — an op failure is a measurement
                if not timed:
                    raise
                self.failed += 1
                self.wrong += isinstance(e, self.check_errors)
                traceback.print_exc(limit=3)
                continue
            total += latency
            if timed:
                self.latencies.append(latency)
                self.items += items
        return total


def _warm_up(runner: Runner, workload: str) -> list[float]:
    return [runner.run_round(-1 - k, timed=False) for k in range(WARMUP_ROUNDS[workload])]


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("edf_ingest", "mart_queries", "corpus_build"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs, for the smoke test")
    args = p.parse_args(argv)

    problem = _preflight()
    if problem:
        print(f"perfbench: {problem}", file=sys.stderr)
        return 2

    # A terminated run still removes its directory (the finally below).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _private_env(run_dir)
    load_start = os.getloadavg()
    try:
        record, result = _run(args, run_dir, cpus)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    record["host"] = {"load_start": load_start, "load_end": os.getloadavg(), "cpus": cpus}
    print(json.dumps(record, sort_keys=True))
    print(json.dumps(result))
    return 0


def _run(args, run_dir: str, cpus: int) -> tuple[dict, dict]:
    from spans import MemorySampler, Tracer, fold_event_log, span_metrics

    from workloads import WORKLOADS, check_errors, instrument

    tracer = Tracer(enabled=bool(args.trace))
    with MemorySampler() as memory:
        with tracer.span("session.get_spark"):
            spark = _start_spark(run_dir, cpus, bool(args.trace))
        tracer.bind(spark.sparkContext)
        if args.trace:
            instrument(tracer)
        workload = WORKLOADS[args.workload](spark, tracer, run_dir, args.seed, args.tiny)
        runner = Runner(workload, tracer, check_errors())
        correct, setup_error = True, None
        phases = {"session": time.time() - PROCESS_START}
        try:
            workload.setup()
            phases["inputs_and_check"] = time.time() - PROCESS_START - phases["session"]
            with tracer.span("session.warmup"), tracer.pause():
                warmup = _warm_up(runner, args.workload)
        except Exception as e:  # noqa: BLE001 — reported as an incorrect run
            correct, setup_error, warmup = False, f"{type(e).__name__}: {e}", []
            traceback.print_exc()
        setup_s = time.time() - PROCESS_START

        memory.reset()
        # Whole rounds, as many as fit in --seconds and at least one: a
        # round is not started when the last one would not fit again.
        rounds, last, t0 = 0, 0.0, time.perf_counter()
        while correct and (rounds == 0 or time.perf_counter() - t0 + last <= args.seconds):
            tracer.round = rounds
            r0 = time.perf_counter()
            runner.run_round(rounds, timed=True)
            last = time.perf_counter() - r0
            rounds += 1
        tracer.round = None
        elapsed = time.perf_counter() - t0
        _stop_spark(spark)
    correct = correct and runner.wrong == 0

    e2e = {
        "setup_s": setup_s,
        "items_per_s": runner.items / elapsed if elapsed > 0 else 0.0,
        "op_p50_s": statistics.median(runner.latencies) if runner.latencies else 0.0,
        "peak_rss_mb": memory.peak_bytes / 1e6,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "settings": {"master": f"local[{cpus}]", "shuffle_partitions": cpus,
                     "heap": HEAP, "seconds": args.seconds, "tiny": args.tiny},
        "inputs": workload.sizes,
        "item": workload.item,
        "setup_phases_s": phases,
        "warmup_round_s": warmup,
        "rounds": rounds,
        "ops": len(runner.latencies),
        "op_latencies_s": runner.latencies,
        "fail_ratio": runner.failed / max(1, runner.attempted),
        "end_to_end": e2e,
        "setup_error": setup_error,
    }
    if args.trace:
        logs = glob.glob(os.path.join(run_dir, "events", "*"))
        record["jobs"] = fold_event_log(logs[0], tracer) if logs else {}
        values = span_metrics(tracer, max(1, rounds), list(PER_LAYER))
        metrics = {n: {"value": values[n], "unit": u} for n, u in PER_LAYER.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items()}
    result = {
        "correct": correct,
        "attempted": max(1, runner.attempted),
        "failed": runner.failed if runner.attempted else 1,
        "metrics": metrics,
    }
    return record, result


if __name__ == "__main__":
    sys.exit(main())
