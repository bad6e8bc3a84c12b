"""Steadiness tool: how much the benchmark's end-to-end metrics move
between runs of the same code.

    python3 crocus_bench/steady.py --runs 10 [--first-seed N]

Runs every workload of ``BENCHMARK.json`` ``--runs`` times, alternating
workloads, each run a fresh untraced ``run.py`` process of the file's
``run_seconds`` with its own seed. Beside each run it prints the
1-minute load average at its start and the involuntary context switches
of its process tree (every descendant the run reaped). Those two are
reported only; no run is ever dropped because of them. Then, per
workload and metric: median, quartiles (``statistics.quantiles(n=4)``),
IQR/median, and the gap between the medians of the first and second
halves of the runs, as a share of the first; and the pooled timed cycle
walls' median and highest percentile with ten samples beyond it.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from crocus_bench.stats import (  # noqa: E402
    iqr_frac,
    median,
    quartiles,
    tail_percentile,
)


def run_once(workload: str, seed: int, seconds: int) -> dict:
    load1 = os.getloadavg()[0]
    t0 = time.perf_counter()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True)
    out = proc.stdout.read()
    _, status, usage = os.wait4(proc.pid, 0)
    proc.returncode = os.waitstatus_to_exitcode(status)
    lines = out.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    cycles = next((ln for ln in lines if ln.startswith("cycles ")), "")
    return {
        "workload": workload, "seed": seed, "exit": proc.returncode,
        "wall_s": time.perf_counter() - t0, "load1": load1,
        "nivcsw": usage.ru_nivcsw, "result": result,
        "cycles": json.loads(cycles[7:]) if cycles else None,
    }


def summarize(values: list[float]) -> dict:
    if len(values) < 2:
        v = values[0]
        return {"median": v, "q1": v, "q3": v, "iqr_frac": 0.0,
                "half_gap": 0.0}
    q1, q2, q3 = quartiles(values)
    half = len(values) // 2
    return {"median": q2, "q1": q1, "q3": q3, "iqr_frac": iqr_frac(values),
            "half_gap": median(values[half:]) / median(values[:half]) - 1.0}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args(argv)
    workloads = [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    runs = []
    for i in range(args.runs):
        for w in workloads:
            r = run_once(w, args.first_seed + i, spec["run_seconds"])
            runs.append(r)
            vals = {k: round(v["value"], 4) for k, v in
                    r["result"].get("metrics", {}).items()}
            print(f"run {i:2d} {w:13s} seed={r['seed']:<4d} "
                  f"exit={r['exit']} wall={r['wall_s']:6.1f}s "
                  f"load1={r['load1']:5.2f} nivcsw={r['nivcsw']:<8d} "
                  f"correct={r['result'].get('correct')} {vals}",
                  flush=True)
            if r["cycles"]:
                print(f"       timed walls by position: "
                      f"{r['cycles']['timed']}", flush=True)
    worst = 0.0
    for w in workloads:
        mine = [r for r in runs if r["workload"] == w and r["result"]]
        names = sorted({k for r in mine for k in r["result"]["metrics"]})
        for name in names:
            vals = [r["result"]["metrics"][name]["value"] for r in mine
                    if name in r["result"]["metrics"]]
            s = summarize(vals)
            b = bounds.get(name)
            flag = ""
            if b and name != "setup_s":
                worst = max(worst, s["iqr_frac"] / b)
                flag = f" bound={b} spread/bound={s['iqr_frac'] / b:.2f}"
            print(f"{w:13s} {name:10s} median={s['median']:.4f} "
                  f"q1={s['q1']:.4f} q3={s['q3']:.4f} "
                  f"iqr/median={s['iqr_frac']:.4f} "
                  f"half_gap={s['half_gap']:+.4f}{flag}")
        walls = [x for r in mine if r["cycles"] for x in r["cycles"]["timed"]]
        if walls:
            tail = tail_percentile(walls)
            tail_txt = (f"p{tail[0]:g}={tail[1]:.4f}" if tail else
                        "no percentile has 10 samples beyond it")
            print(f"{w:13s} pooled timed cycle walls: n={len(walls)} "
                  f"median={median(walls):.4f} {tail_txt}")
    print(f"worst spread/bound (setup_s excluded): {worst:.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
