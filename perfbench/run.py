"""Benchmark of the dataquality_ml_spark engine on generated inputs.

Usage (from the repository root)::

    python3 perfbench/run.py --workload telemetry_batch --seed 1 --seconds 1 --trace 0

One process, one client, a closed loop on ``local[<cores>]``: each pass
starts after the previous one ended, and passes start while fewer than
``--seconds`` have elapsed (the first always runs). Inputs are generated
from ``--seed`` into ``.bench_work/`` before any timing. The last line of
standard output is one JSON object: with ``--trace 0`` the end-to-end
metrics, with ``--trace 1`` the per-layer metrics of a traced pass.

End-to-end (``--trace 0``):

- ``setup_s``: session start plus reading the inputs, repeated
  ``SETUPS`` times in the run (the first start also launches the JVM);
  the median.
- ``run_s``: median wall time of a pass. Every pass runs in the session the
  set-up left, so the first pass pays the JVM's warm-up, as the daily job
  does in a fresh session.
- ``rows_per_s``: input rows over ``run_s``.
- ``peak_rss_mb``: peak of the summed resident memory of this process and
  every process under it (the JVM and its Python workers), sampled from
  ``/proc`` as proportional set size so shared pages count once.

``--trace 1`` runs an untraced warm-up pass, then a traced pass and an
untraced pass, and reports each span's self time, jobs and tasks.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
TMP = os.path.join(WORK, "tmp")
SETUPS = 3


def _descendants(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def tree_rss_mb(root_pid: int) -> dict[int, float]:
    """Resident memory in MB of ``root_pid`` and each process under it, as
    proportional set size: a page shared by n processes counts 1/n in each,
    so forked Python workers, and a JVM caught mid-fork, are not counted
    twice."""
    out = {}
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out[pid] = int(line.split()[1]) / 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return out


class RssSampler(threading.Thread):
    """Samples the process tree's summed RSS every ``interval`` seconds."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0.0
        self.peak_parts: dict[int, float] = {}
        self._stop_event = threading.Event()

    def run(self) -> None:
        pid = os.getpid()
        while not self._stop_event.is_set():
            parts = tree_rss_mb(pid)
            if sum(parts.values()) > self.peak:
                self.peak, self.peak_parts = sum(parts.values()), parts
            self._stop_event.wait(self.interval)

    def stop(self) -> float:
        self._stop_event.set()
        self.join()
        return self.peak


def start_session(cores: int):
    from dataquality_ml_spark import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # the broadcast detector unpickles in the Python workers
            "spark.executorEnv.PYTHONPATH": ROOT,
            "spark.ui.showConsoleProgress": "false",
            # serial GC grows the heap from allocation alone, not from
            # pause-time goals, so peak RSS repeats run to run (G1's
            # adaptive sizing spread it by ~15% across runs here)
            "spark.driver.extraJavaOptions": "-XX:+UseSerialGC",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while len(_descendants(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def median(values):
    return statistics.median(values) if values else 0.0


def layer_metrics(tracer, traced_unit, traced_wall, untraced_wall):
    """Per-layer metrics of one traced pass; every span name is reported,
    0 where the workload never entered it."""
    import spans

    in_pass = [s for s in tracer.spans if s.unit == traced_unit]
    out: dict[str, tuple[float, str]] = {}
    for name in spans.span_names():
        mine = [s for s in in_pass if s.name == name]
        self_s = sum(s.self_s for s in mine)
        out[f"{name}.s"] = (self_s, "s")
        out[f"{name}.jobs"] = (sum(s.jobs for s in mine), "count")
        out[f"{name}.tasks"] = (sum(s.tasks for s in mine), "count")
        if name in spans.PAIR_SPANS:
            out[f"{name}.pairs"] = (sum(s.rows or 0 for s in mine), "count")
        if name == "detectors.score_distributed":
            scored = sum(s.rows or 0 for s in mine)
            out[f"{name}.rows_per_s"] = (scored / self_s if self_s else 0.0, "1/s")
    cand = out["dedup.minhash_candidates.pairs"][0]
    out["dedup.pair_yield"] = (out["dedup.jaccard_verify.pairs"][0] / cand if cand else 0.0, "ratio")
    out["trace.unattributed_s"] = (traced_wall - tracer.top_level_s(traced_unit), "s")
    out["trace.overhead_s"] = (traced_wall - untraced_wall, "s")
    return out


def run_passes(args, workload, spark, tracer) -> dict:
    """The closed loop: passes start while fewer than ``--seconds`` have
    elapsed; the first always runs. With tracing, pass 0 warms up and
    traced (odd) and untraced (even) passes alternate."""
    sc = spark.sparkContext
    res = {"attempted": 0, "failures": [], "walls": {}, "traced": [], "out": None}

    def record(checks: dict[str, bool]) -> None:
        res["attempted"] += len(checks)
        res["failures"] += [name for name, ok in checks.items() if not ok]

    t_start = time.perf_counter()
    unit = 0
    while True:
        enough = unit >= 3 and unit % 2 == 1 if args.trace else unit >= 1
        if enough and time.perf_counter() - t_start >= args.seconds:
            break
        traced = bool(args.trace) and unit % 2 == 1
        tracer.enabled, tracer.unit = traced, unit
        sc.setLocalProperty("spark.jobGroup.id", f"pass-{unit}")
        t0 = time.perf_counter()
        try:
            out = workload.run_pass()
        except Exception:  # a failed pass is counted; the loop goes on
            traceback.print_exc(file=sys.stderr)
            out = None
        wall = time.perf_counter() - t0
        tracer.enabled = False
        tracer.release()
        log(f"pass {unit} took {wall:.2f}s")
        record({f"pass-{unit}": out is not None})
        if out is not None:
            res["out"] = out
            res["walls"][unit] = wall
            if traced:
                res["traced"].append(unit)
            record(workload.check(out))
        unit += 1
    sc.setLocalProperty("spark.jobGroup.id", None)
    res["passes"] = unit
    if res["out"] is not None:
        record(workload.final_check(res["out"]))
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="default", help="input size preset (gen.SIZES)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "dataquality_ml_spark", "__init__.py")):
        print("perfbench: no dataquality_ml_spark package in this checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # keep every scratch file inside the checkout
    os.makedirs(TMP, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={TMP}"
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    workload = workloads.WORKLOADS[args.workload](WORK, args.seed, args.size)
    log(f"inputs ready: {workload.rows} rows")

    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        setup_s = []
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session(os.cpu_count() or 1)
            workload.setup(spark)
            setup_s.append(time.perf_counter() - t0)
            log(f"setup {i} took {setup_s[-1]:.2f}s")
        tracer = spans.Tracer(spark, args.workload)
        if args.trace:
            tracer.install()
        res = run_passes(args, workload, spark, tracer)
        spans.settle(spark)
        st = spark.sparkContext.statusTracker()
        failed_tasks = sum(
            spans.group_counts(st, f"pass-{u}")[2] for u in range(res["passes"])
        )
        if args.trace:
            tracer.resolve_counts()
            tracer.uninstall()
            failed_tasks += sum(s.failed_tasks for s in tracer.spans)
            tracer.dump(os.path.join(WORK, f"spans-{args.workload}-s{args.seed}.jsonl"))
    finally:
        if spark is not None:
            shutdown(spark)
        peak = sampler.stop()
    log("peak RSS by process (MB): " + ", ".join(
        f"{p}:{mb:.0f}" for p, mb in sorted(sampler.peak_parts.items())))

    walls = res["walls"]
    if not walls or (args.trace and not res["traced"]):
        print("perfbench: no pass completed", file=sys.stderr)
        return 1
    if args.trace:
        unit = res["traced"][0]
        untraced = [w for u, w in walls.items() if u > 0 and u not in res["traced"]]
        metrics = layer_metrics(tracer, unit, walls[unit], median(untraced))
        metrics["spark.failed_tasks"] = (failed_tasks, "count")
    else:
        run_s = median(list(walls.values()))
        metrics = {
            "setup_s": (median(setup_s), "s"),
            "run_s": (run_s, "s"),
            "rows_per_s": (workload.rows / run_s, "1/s"),
            "peak_rss_mb": (peak, "MB"),
        }
    attempted, failed = res["attempted"], len(res["failures"])
    print(f"# {args.workload} seed={args.seed} passes={len(walls)} rows={workload.rows}")
    for name, (value, unit_name) in metrics.items():
        print(f"{name:48s} {value:14.4f} {unit_name}")
    print(f"{'error_rate':48s} {failed / attempted:14.4f} ratio ({failed}/{attempted})")
    if res["failures"]:
        print("failed: " + ", ".join(res["failures"]))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
