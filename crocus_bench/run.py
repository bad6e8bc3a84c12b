"""crocus_spark benchmark: one seeded, closed-loop run of one workload.

    python3 crocus_bench/run.py --workload {headline,crocus_daily}
        --seed N --seconds S --trace {0,1}

Run it from the root of a checkout. A run is one process and one client
on ``local[<cores>]``:

1. set-up: ``get_spark`` plus a join of its ``crocus-spark-prewarm``
   thread (``setup_s`` ends when that thread has ended);
2. inputs generated from ``--seed`` (untimed);
3. the cold cycle (``cold_s``), then a fixed count of untimed warm-up
   cycles, the same on every commit;
4. timed cycles, closed loop, for ``--seconds`` (at least the workload's
   ``min_timed``);
5. output checks (untimed); a failed check is a failed operation.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the timed window alternates untraced and traced
cycles, starting and ending untraced, and the line carries the
per-layer metrics instead. Every timed cycle's
wall is printed by position on the line before it. Everything the run
writes stays under ``.crocus_bench_work/`` (removed at exit) and
``.crocus_bench_out/`` (span dumps of traced runs) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
if __package__ in (None, ""):  # run as a script: make the package importable
    sys.path.insert(0, ROOT)

from crocus_bench import base  # noqa: E402
WORKLOADS = ("headline", "crocus_daily")
PREWARM_THREAD = "crocus-spark-prewarm"
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

END_TO_END = {"setup_s": "s", "cold_s": "s", "cycle_s": "s", "read_s": "s"}

PER_LAYER = {
    "session.get_spark_s": "s", "session.prewarm_s": "s",
    "queries.build_s": "s", "queries.exec_s": "s",
    "queries.build_jobs": "count",
    **{f"queries.{q}.{k}_s": "s" for q in base.QUERY_NAMES
       for k in ("build", "exec")},
    "io.load_s": "s", "io.spread_s": "s", "io.write_snapshot_s": "s",
    "io.read_holdings_csv_s": "s", "io.files_written": "count",
    "io.bytes_written": "B", "io.stored_bytes_per_input_byte": "ratio",
    "io.files_scanned_per_day_file": "ratio",
    "normalize.normalize_products_s": "s", "metrics.observe_ingest_s": "s",
    "ingest.ingest_catalog_s": "s", "ingest.ingest_holdings_s": "s",
    "ingest.read_s": "s", "ingest.day_slope": "s/day",
    "maintenance.commit_s": "s",
    "maintenance.stored_bytes_per_live_byte": "ratio",
    "tail_sync.drain_s": "s", "tail_sync.net_effects_s": "s",
    "similarity.sync_s": "s", "similarity.sync_jobs": "count",
    "similarity.upsert_s": "s", "similarity.cells_rewritten_frac": "ratio",
    "similarity.probe_s": "s", "similarity.probe_jobs": "count",
    "similarity.cells_read_frac": "ratio", "similarity.recall_at_k": "ratio",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.cpu_busy_frac": "ratio", "spark.input_bytes": "B",
    "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B", "spark.failed_tasks": "count",
    "spark.python_worker_run_s": "s", "spark.bytes_to_python": "B",
    "spark.bytes_from_python": "B", "spark.storage_bytes": "B",
    "spark.storage_bytes_growth": "B",
    "trace.overhead_frac": "ratio", "trace.spans": "count",
}


def process_age() -> float:
    """Seconds since this process started, from /proc (0 if unavailable)."""
    try:
        with open("/proc/self/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        with open("/proc/uptime") as f:
            up = float(f.read().split()[0])
        return max(0.0, up - int(fields[19]) / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = p.parse_args(argv)
    if args.seed < 0:
        p.error("--seed must be >= 0")
    if not 1 <= args.seconds <= 600:
        p.error("--seconds must be in 1..600")
    return args


def check_metric_names(metrics: dict) -> None:
    for name, unit in metrics.items():
        if not NAME_RE.match(name) or not UNIT_RE.match(unit):
            raise ValueError(f"bad metric name or unit: {name!r} {unit!r}")


class Context:
    """What a workload sees: the session, its seed, scratch space and the
    tracer (inert unless the run is traced)."""

    def __init__(self, spark, seed: int, work: str, tracer):
        self.spark, self.seed, self.work, self.tracer = (
            spark, seed, work, tracer)


def log(msg: str) -> None:
    print(f"[bench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr,
          flush=True)


def descendants(pid: int) -> set[int]:
    """Every live process below ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def shutdown(spark) -> None:
    """Stop Spark, its JVM and every process they started, and wait for
    each to end (stragglers get SIGKILL after 30 s)."""
    import signal

    from pyspark import SparkContext

    procs = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while procs and time.time() < deadline:
        procs = {p for p in procs if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def prewarm_alive() -> bool:
    return any(t.name == PREWARM_THREAD and t.is_alive()
               for t in threading.enumerate())


def make_workload(name: str, ctx):
    if name == "headline":
        from crocus_bench.headline import Headline
        return Headline(ctx)
    from crocus_bench.daily import CrocusDaily
    return CrocusDaily(ctx)


def main(argv=None) -> int:
    t0, age0 = time.perf_counter(), process_age()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "crocus_spark")):
        print(f"no crocus_spark package beside {BENCH_DIR}", file=sys.stderr)
        return 3
    check_metric_names(END_TO_END)
    check_metric_names(PER_LAYER)
    work = os.path.join(ROOT, ".crocus_bench_work", str(os.getpid()))
    out_dir = os.path.join(ROOT, ".crocus_bench_out")
    for sub in ("tmp", "jtmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    try:
        return run(args, work, out_dir, t0, age0)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def run(args, work: str, out_dir: str, t0: float, age0: float) -> int:
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)  # the package's heap
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    from crocus_bench.stats import median, paired_overhead
    from crocus_bench.trace import SparkCounters, Tracer
    from crocus_spark.session import get_spark

    t_get = time.perf_counter()
    spark = get_spark(app_name=f"crocus-bench-{args.workload}", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'jtmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    })
    t_ready = time.perf_counter()
    for th in threading.enumerate():
        if th.name == PREWARM_THREAD:
            th.join()
    t_set = time.perf_counter()
    setup_s = age0 + (t_set - t0)

    tracer = Tracer()
    ctx = Context(spark, args.seed, work, tracer)
    wl = make_workload(args.workload, ctx)
    attempted = 0
    problems: list[str] = []  # one per failed operation or check
    try:
        log(f"set up in {setup_s:.2f}s")
        wl.prepare()
        log("inputs ready")
        counters = SparkCounters(spark) if args.trace else None
        if args.trace:
            wl.install_trace(tracer)

        def guard() -> None:
            if prewarm_alive():
                problems.append("timed operation overlapped the prewarm")

        guard()
        attempted += 1
        cold_s = wl.cold()
        log(f"cold {cold_s:.3f}s")
        for _ in range(wl.warmup):
            attempted += 1
            wl.cycle(timed=False)

        log(f"{wl.warmup} warm-up cycles done")
        walls, reads, traced_walls, seq = [], [], [], []
        layer_acc: dict[str, float] = {}
        storage: list[float] = []
        t_start = time.perf_counter()
        k = 0
        while (time.perf_counter() - t_start < args.seconds
               or len(walls) < wl.min_timed
               or (args.trace and (len(traced_walls) < wl.min_timed
                                   or k % 2 == 0))):
            guard()
            traced = bool(args.trace) and k % 2 == 1
            k += 1
            tracer.enabled = traced
            if traced:
                counters.mark()
                tracer.op = f"cycle-{k}"
                spark.sparkContext.setJobGroup(tracer.op, args.workload)
            attempted += 1
            r = wl.cycle(timed=True)
            tracer.enabled = False
            seq.append((traced, r["wall"]))
            if traced:
                c = counters.collect()
                spark.sparkContext.setJobGroup("bench", args.workload)
                traced_walls.append(r["wall"])
                for key, val in wl.cycle_layers(c).items():
                    layer_acc[key] = layer_acc.get(key, 0.0) + val
                for key in SparkCounters.STAGE_FIELDS + tuple(
                        SparkCounters.SQL_METRICS.values()):
                    if f"spark.{key}" in PER_LAYER:
                        layer_acc[f"spark.{key}"] = (
                            layer_acc.get(f"spark.{key}", 0.0) + c[key])
                layer_acc["spark.cpu_busy_frac"] = layer_acc.get(
                    "spark.cpu_busy_frac", 0.0) + c["executor_cpu_s"] / (
                    r["wall"] * cores)
            else:
                walls.append(r["wall"])
                if "read" in r:
                    reads.append(r["read"])
            if args.trace:
                storage.append(counters.storage_bytes())

        log(f"{len(walls) + len(traced_walls)} timed cycles done")
        problems.extend(wl.check())
        log("checks done")
        attempted += wl.n_checks
    except Exception:  # a failed operation ends the run, with no result
        import traceback

        traceback.print_exc()
        shutdown(spark)
        return 1

    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    print("cycles " + json.dumps({
        "workload": args.workload, "seed": args.seed,
        "cold_s": round(cold_s, 6),
        "timed": [round(w, 6) for w in walls],
        "traced": [round(w, 6) for w in traced_walls]}))

    if not args.trace:
        e2e = {"setup_s": setup_s, "cold_s": cold_s,
               "cycle_s": median(walls)}
        e2e.update(wl.end_to_end(walls, reads))
        metrics = {n: {"value": e2e[n], "unit": u}
                   for n, u in END_TO_END.items()}
    else:
        n = len(traced_walls)
        layers = {name: 0.0 for name in PER_LAYER}
        layers.update({key: val / n for key, val in layer_acc.items()})
        layers.update(wl.run_layers(walls))
        layers["session.get_spark_s"] = t_ready - t_get
        layers["session.prewarm_s"] = t_set - t_ready
        layers["spark.storage_bytes"] = storage[-1]
        layers["spark.storage_bytes_growth"] = storage[-1] - storage[0]
        layers["trace.overhead_frac"] = paired_overhead(seq)
        layers["trace.spans"] = len(tracer.spans) / n
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(
            out_dir, f"trace-{args.workload}-s{args.seed}.json"))
        tracer.unwrap_all()
        metrics = {name: {"value": layers[name], "unit": u}
                   for name, u in PER_LAYER.items()}
    shutdown(spark)
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": len(problems), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
