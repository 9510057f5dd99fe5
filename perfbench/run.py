"""End-to-end benchmark of bunsen_spark: one workload, one seed per call.

    python3 perfbench/run.py --workload fhir_etl_terminology --seed 1 --seconds 5 --trace 0

Run from the repository root. The run starts one Spark session through
``bunsen_spark.session.get_spark`` on ``local[<cores>]``, builds the
workload's inputs from the seed, runs one untimed warm-up round, then
whole rounds of the workload's fixed mix of public calls until
``--seconds`` have passed, checks every round's outputs against
independent references, and prints one JSON line as the last line of
standard output. ``--trace 1`` adds Spark's event log, sets a job group
per public call, and prints the per-layer metrics instead; the full
per-span record goes to ``.perfbench/trace-<workload>-<seed>.json``.
Everything it writes stays under ``.perfbench/`` in the repository.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

import harness

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".perfbench"

def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Runner:
    """Calls public functions under spans and records each operation."""

    def __init__(self, tracer: harness.Tracer, traced: bool, event_dir: Path | None):
        self.tracer = tracer
        self.traced = traced
        self.event_dir = event_dir
        self.phase = "setup"
        self.rounds = 0
        self.attempted = 0
        self.failed = 0
        #: op kind → successful latencies (s) in the timed part
        self.latency: dict[str, list[float]] = {}
        self.items = 0
        self._replayed: dict | None = None

    def call(self, name, build, action=lambda df: df, items=0, keep=None, out=None, lazy=False):
        """Run ``build()`` (the public call) and then, unless ``action`` is
        None, collect the DataFrame ``action`` picks from its result.
        Returns the built object, or None when the call raised; the
        collected rows go to ``out[keep]``. A ``lazy`` call only builds
        a plan that a later call executes: it counts as attempted, and
        its time counts toward the round, but it has no latency kind of
        its own."""
        span = self.tracer.open(name, phase=self.phase)
        built, ok = None, True
        try:
            built = build()
            self.tracer.mark_collect(span)
            if action is not None:
                df = action(built)
                rows = df.collect()
                if self.traced:
                    span.attrs["plan_ms"] = _plan_ms(df)
                if keep is not None:
                    out[keep] = rows
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            ok = False
            built = None
            first = (str(e).strip().splitlines() or [""])[0]
            span.attrs["error"] = f"{type(e).__name__}: {first[:200]}"
        finally:
            self.tracer.close(span)
        span.attrs["ok"] = ok
        if not ok:
            log(f"{name} failed after {span.duration:.2f}s: {span.attrs['error']}")
        if self.phase == "timed":
            self.attempted += 1
            if not ok:
                self.failed += 1
            elif not lazy:
                self.latency.setdefault(name, []).append(span.duration)
            if ok:
                self.items += items
        return built

    # -- traced-run views ----------------------------------------------------

    def replay(self) -> dict[str, dict]:
        """Event-log rows per job group (parsed once, on first use)."""
        if self._replayed is None:
            events = []
            for p in harness.event_log_files(self.event_dir):
                events += harness.read_event_log(p)
            self._replayed = harness.aggregate_by_group(events)
        return self._replayed

    def timed_spans(self, name: str | None = None):
        return [
            s
            for s in self.tracer.spans
            if s.attrs.get("phase") == "timed" and (name is None or s.name == name)
        ]

    def layer_rows(self, name: str) -> dict:
        rows = self.replay()
        return harness.sum_rows(rows.get(self.tracer.group_id(s), {}) for s in self.timed_spans(name))

    def plan_ms(self, name: str) -> float:
        return sum(s.attrs.get("plan_ms", 0.0) for s in self.timed_spans(name))

    def per_round(self, x: float) -> float:
        return x / max(self.rounds, 1)


def _plan_ms(df) -> float:
    """Catalyst phase time (parsing, analysis, optimization, planning)
    from the query's ``QueryPlanningTracker``."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    total = 0
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


def _set_env(work: Path) -> None:
    """Everything the session and its workers need, fixed before the JVM
    starts: the package importable by Python workers, one core per task
    slot, a small heap, and scratch space inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _jvm_gc(spark) -> None:
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)


def run(args) -> int:
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS

    work = OUT / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _set_env(work)
    os.chdir(work)  # spark-warehouse/ and any relative path land in here
    event_dir = None
    extra = {"spark.ui.showConsoleProgress": "false"}  # keep stderr readable
    if args.trace:
        event_dir = work / "eventlog"
        event_dir.mkdir()
        extra |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir.as_uri(),
            "spark.eventLog.compress": "false",
        }
    spark = None
    try:
        tracer = harness.Tracer()
        span = tracer.open("session.get_spark", phase="setup")
        from bunsen_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}", shuffle_partitions=4, extra_conf=extra)
        spark.range(1).count()  # the session is usable
        tracer.close(span)
        session_s = span.duration
        if args.trace:
            sc = spark.sparkContext

            def group(g):
                if g is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    sc.setJobGroup(g, g)

            tracer.group = group
        runner = Runner(tracer, bool(args.trace), event_dir)

        wl = WORKLOADS[args.workload]()
        t = time.perf_counter()
        wl.setup(spark, work / "inputs", args.seed)
        setup_s = session_s + time.perf_counter() - t
        _jvm_gc(spark)
        log(f"session {session_s:.2f}s, set-up {setup_s - session_s:.2f}s")

        errors: list[str] = []
        runner.phase = "warmup"
        errors += wl.check(wl.round(runner))
        _jvm_gc(spark)

        runner.phase = "timed"
        round_s: list[float] = []
        t_start = time.perf_counter()
        while not round_s or time.perf_counter() - t_start < args.seconds:
            span = tracer.open("round", phase="timed")
            out = wl.round(runner)
            tracer.close(span)
            round_s.append(span.duration)
            runner.rounds += 1
            errors += wl.check(out)
            _jvm_gc(spark)
        for e in errors[:20]:
            log(f"CHECK FAILED: {e}")
        log(f"{runner.rounds} rounds, {[round(r, 2) for r in round_s]}")
        if getattr(wl, "recall", None):
            log(f"recall@k {wl.recall}")
        log("medians: " + ", ".join(f"{k} {1000 * v:.0f}ms" for k, v in harness.kind_medians(runner.latency).items()))

        items_per_s = harness.rate(runner.items, sum(round_s))
        op_gmean_ms = 1000 * harness.geomean(harness.kind_medians(runner.latency).values())
        if not args.trace:
            metrics = {"setup_s": (setup_s, "s"), "op_gmean_ms": (op_gmean_ms, "ms")}
        else:
            ratios = wl.trace_ratios(runner)
            metrics = _per_layer(runner, session_s, items_per_s, op_gmean_ms)
            _write_trace(args, runner, metrics, ratios, setup_s)
        result = harness.result_line(not errors, runner.attempted, runner.failed, metrics)
    finally:
        if spark is not None:
            _stop(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(result, flush=True)
    return 0


def _per_layer(runner: Runner, session_s: float, items_per_s: float, op_gmean_ms: float) -> dict:
    """The per-layer metrics, per timed round: driver time inside public
    calls (build, action), the benchmark's own time between them,
    Catalyst planning, and what Spark's executors did."""
    spans = runner.timed_spans()
    calls = [s for s in spans if s.name != "round"]
    rounds = [s for s in spans if s.name == "round"]
    pr = runner.per_round
    rows = runner.replay()
    totals = harness.sum_rows(rows.get(runner.tracer.group_id(s), {}) for s in spans)
    return {
        "session.get_spark_ms": (1000 * session_s, "ms"),
        "calls.build_ms": (pr(1000 * sum(s.build_s for s in calls)), "ms"),
        "calls.collect_ms": (pr(1000 * sum(s.collect_s for s in calls)), "ms"),
        "calls.between_ms": (pr(1000 * sum(harness.self_time(r, spans) for r in rounds)), "ms"),
        "catalyst.plan_ms": (pr(sum(s.attrs.get("plan_ms", 0.0) for s in calls)), "ms"),
        "spark.jobs": (pr(totals["jobs"]), "count"),
        "spark.tasks": (pr(totals["tasks"]), "count"),
        "executor.run_ms": (pr(totals["exec_run_ms"]), "ms"),
        "executor.cpu_ms": (pr(totals["exec_cpu_ms"]), "ms"),
        "executor.gc_ms": (pr(totals["gc_ms"]), "ms"),
        "shuffle.write_bytes": (pr(totals["shuffle_write_bytes"]), "B"),
        "scan.input_bytes": (pr(totals["input_bytes"]), "B"),
        "traced.items_per_s": (items_per_s, "1/s"),
        "traced.op_gmean_ms": (op_gmean_ms, "ms"),
    }


def _write_trace(args, runner: Runner, metrics: dict, ratios: dict, setup_s: float) -> None:
    rows = runner.replay()
    by_name: dict[str, dict] = {}
    for s in runner.tracer.spans:
        ph = s.attrs.get("phase")
        zero = {"calls": 0, "failed": 0, "build_ms": 0.0, "collect_ms": 0.0, "self_ms": 0.0, "plan_ms": 0.0}
        rec = by_name.setdefault(f"{ph}:{s.name}", zero | harness.sum_rows([]))
        rec["calls"] += 1
        rec["failed"] += 0 if s.attrs.get("ok", True) else 1
        rec["build_ms"] += 1000 * s.build_s
        rec["collect_ms"] += 1000 * s.collect_s
        rec["self_ms"] += 1000 * harness.self_time(s, runner.tracer.spans)
        rec["plan_ms"] += s.attrs.get("plan_ms", 0.0)
        for k, v in rows.get(runner.tracer.group_id(s), {}).items():
            rec[k] += v
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "rounds": runner.rounds,
        "setup_s": setup_s,
        "metrics": {k: v for k, (v, _) in metrics.items()},
        "ratios": ratios,
        "spans": by_name,
        "unattributed": rows.get("", {}),
        "errors": [
            {"span": s.name, "phase": s.attrs.get("phase"), "error": s.attrs["error"]}
            for s in runner.tracer.spans
            if "error" in s.attrs
        ],
    }
    path = OUT / f"trace-{args.workload}-{args.seed}.json"
    path.write_text(json.dumps(doc, indent=1, sort_keys=True))
    log(f"per-layer record written to {path.relative_to(ROOT)}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "bunsen_spark" / "__init__.py").is_file():
        log(f"no bunsen_spark package under {ROOT}: run from a checkout of the repository")
        return 2
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    try:
        return run(args)
    except Exception:  # noqa: BLE001 - report and exit non-zero without a result line
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
