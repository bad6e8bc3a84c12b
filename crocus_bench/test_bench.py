"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest crocus_bench/test_bench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
import types

import pytest

from crocus_bench import gen, run, stats
from crocus_bench.trace import (
    Tracer,
    merged_length,
    parse_sql_metric,
    self_times,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def test_same_seed_same_inputs():
    assert gen.star_digest(7, 2000, 200, 100) == gen.star_digest(
        7, 2000, 200, 100)
    assert gen.star_digest(7, 2000, 200, 100) != gen.star_digest(
        8, 2000, 200, 100)
    feeds = [gen.ProviderFeeds(s, 30, 5, 60, 2) for s in (3, 3, 4)]
    assert feeds[0].digest(3) == feeds[1].digest(3) != feeds[2].digest(3)
    churn = [gen.VectorChurn(s, 100, 8, 5, 3, 4) for s in (5, 5, 6)]
    assert churn[0].digest(3) == churn[1].digest(3) != churn[2].digest(3)


def test_landed_files_are_byte_identical(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    for d in (a, b):
        gen.ProviderFeeds(11, 30, 5, 60, 2).land(1, str(d))
    for name in ("ishares.jsonl", "vanguard.jsonl", "holdings.csv"):
        assert (a / name).read_bytes() == (b / name).read_bytes()


def test_feeds_shape():
    f = gen.ProviderFeeds(2, 30, 5, 60, 3)
    assert len(f.shared) == 10
    assert len(set(f.ishares) | set(f.vanguard)) == 50
    rows, bad = f.holdings(0)
    assert len(bad) == 3 and all(",n/a," in line for line in bad)
    assert len(rows) == 5 * (len(f.ishares) + len(f.vanguard))


def test_percentile_nearest_rank():
    vals = [5, 1, 9, 3, 7, 2, 10, 4, 8, 6]
    assert stats.percentile(vals, 50) == 5
    assert stats.percentile(vals, 90) == 9
    assert stats.percentile(vals, 91) == 10
    assert stats.percentile(vals, 100) == 10
    assert stats.percentile(vals, 0.1) == 1
    assert stats.percentile([4.5], 99) == 4.5
    for q in (0, -1, 100.5):
        with pytest.raises(ValueError):
            stats.percentile(vals, q)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert stats.tail_percentile(list(range(19))) is None
    assert stats.tail_percentile(list(range(20))) == (50.0, 9)
    assert stats.tail_percentile(list(range(100))) == (90.0, 89)
    assert stats.tail_percentile(list(range(199))) == (90.0, 179)
    assert stats.tail_percentile(list(range(200))) == (95.0, 189)
    assert stats.tail_percentile(list(range(1000)))[0] == 99.0
    assert stats.tail_percentile(list(range(10000)))[0] == 99.9


def test_quartiles_match_statistics_module():
    import statistics

    vals = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
    assert stats.quartiles(vals) == tuple(statistics.quantiles(vals, n=4))
    q1, q2, q3 = stats.quartiles(vals)
    assert stats.iqr_frac(vals) == pytest.approx((q3 - q1) / q2)
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.slope([1.0, 2.0, 3.0]) == pytest.approx(1.0)


def test_paired_overhead_cancels_linear_drift():
    # untraced walls grow 1 s a cycle; traced ones cost 10% more
    seq = [(i % 2 == 1, (10.0 + i) * (1.1 if i % 2 else 1.0))
           for i in range(5)]
    assert stats.paired_overhead(seq) == pytest.approx(0.1)


def _span(name, start, end, parent=None):
    return {"name": name, "layer": "t", "start": start, "end": end,
            "parent": parent, "op": "x"}


def test_self_time_merges_overlapping_children():
    spans = [
        _span("parent", 0.0, 10.0),
        _span("a", 1.0, 4.0, 0),
        _span("b", 3.0, 6.0, 0),    # overlaps a: [1, 6] covered once
        _span("c", 8.0, 12.0, 0),   # clipped to the parent's end
        _span("grand", 1.5, 3.5, 1),  # a grandchild: not the parent's
    ]
    t = self_times(spans)
    assert t[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert t[1] == pytest.approx(3.0 - 2.0)
    assert t[2] == pytest.approx(3.0)
    assert t[3] == pytest.approx(4.0)
    assert t[4] == pytest.approx(2.0)
    open_span = _span("open", 0.0, None)
    assert self_times(spans + [open_span])[-1] == 0.0


def test_merged_length():
    assert merged_length([]) == 0.0
    assert merged_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert merged_length([(0, 5), (1, 2)]) == pytest.approx(5.0)


def test_tracer_wraps_every_holder_and_restores():
    def f(x):
        return x + 1

    a = types.ModuleType("crocus_spark_benchtest_a")
    b = types.ModuleType("crocus_spark_benchtest_b")
    a.f = f
    b.g = f  # the package holds the same function under another name
    sys.modules[a.__name__], sys.modules[b.__name__] = a, b
    try:
        tr = Tracer()
        tr.wrap(a, "f", "t.f", "t")
        assert a.f is not f and b.g is not f
        assert a.f(1) == 2 and tr.spans == []  # disabled: no span
        tr.enabled = True
        with tr.span("outer", "t"):
            b.g(1)
        assert [s["name"] for s in tr.spans] == ["outer", "t.f"]
        assert tr.spans[1]["parent"] == 0
        tr.unwrap_all()
        assert a.f is f and b.g is f
    finally:
        del sys.modules[a.__name__], sys.modules[b.__name__]


def test_parse_sql_metric():
    agg = "total (min, med, max (stageId: taskId))\n81.3 KiB (20.3 KiB, ...)"
    assert parse_sql_metric(agg) == pytest.approx(81.3 * 1024)
    assert parse_sql_metric("1,234") == 1234
    assert parse_sql_metric("total (...)\n8.5 s (2.0 s)") == 8.5
    assert parse_sql_metric("250 ms") == pytest.approx(0.25)
    assert parse_sql_metric(None) == 0.0


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_valid_and_match_the_runner():
    spec = _spec()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.PER_LAYER
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    run.check_metric_names({**e2e, **layer})
    for bad in ({"_x": "s"}, {"a b": "s"}, {"x" * 65: "s"},
                {"ok": "bad unit"}, {"ok": ""}):
        with pytest.raises(ValueError):
            run.check_metric_names(bad)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


@pytest.mark.parametrize("args", [
    [],
    ["--workload", "nope", "--seed", "1", "--seconds", "5", "--trace", "0"],
    ["--workload", "headline", "--seed", "-1", "--seconds", "5",
     "--trace", "0"],
    ["--workload", "headline", "--seed", "x", "--seconds", "5",
     "--trace", "0"],
    ["--workload", "headline", "--seed", "1", "--seconds", "0",
     "--trace", "0"],
    ["--workload", "headline", "--seed", "1", "--seconds", "5",
     "--trace", "2"],
])
def test_bad_arguments_rejected_before_any_work(args):
    t0 = time.perf_counter()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args],
                       capture_output=True, text=True, cwd=ROOT, timeout=60)
    assert p.returncode == 2
    assert p.stdout == ""
    assert time.perf_counter() - t0 < 10  # no Spark was started


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "crocus_bench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    spec = _spec()
    p = subprocess.run(
        [*spec["command"], "--workload", "headline", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        capture_output=True, text=True, cwd=tmp_path, timeout=120)
    assert p.returncode != 0
    assert p.stdout == ""
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "crocus_bench"]
