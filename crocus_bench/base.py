"""What every workload shares: the traced functions and how their spans
become per-layer metrics.

A traced run wraps the same public functions on every workload, so a
layer a workload does not use reports 0 there.
"""

from __future__ import annotations

import importlib
import os

from crocus_bench.trace import intervals_of, self_times, within

QUERY_NAMES = ("holdings_overlap_confront", "dedup_ngram_jaccard",
               "search_bm25_topk", "ann_bruteforce_topk")

# (module, function, span name, layer)
WRAP = (
    ("crocus_spark.io", "load", "io.load", "io"),
    ("crocus_spark.io", "spread", "io.spread", "io"),
    ("crocus_spark.io", "write_snapshot", "io.write_snapshot", "io"),
    ("crocus_spark.io", "read_holdings_csv", "io.read_holdings_csv", "io"),
    ("crocus_spark.normalize", "normalize_products",
     "normalize.normalize_products", "normalize"),
    ("crocus_spark.metrics", "observe_ingest", "metrics.observe_ingest",
     "metrics"),
    ("crocus_spark.ingest", "ingest_catalog", "ingest.ingest_catalog",
     "ingest"),
    ("crocus_spark.ingest", "ingest_holdings", "ingest.ingest_holdings",
     "ingest"),
    ("crocus_spark.ingest", "read_catalog", "ingest.read_catalog", "ingest"),
    ("crocus_spark.ingest", "read_holdings", "ingest.read_holdings",
     "ingest"),
    ("crocus_spark.operators.maintenance", "commit_snapshot",
     "maintenance.commit_snapshot", "maintenance"),
    ("crocus_spark.operators.maintenance", "commit_append",
     "maintenance.commit_append", "maintenance"),
    ("crocus_spark.operators.maintenance", "commit_equality_deletes",
     "maintenance.commit_equality_deletes", "maintenance"),
    ("crocus_spark.operators._tail_sync", "run_tail_sync",
     "tail_sync.run_tail_sync", "tail_sync"),
    ("crocus_spark.operators._tail_sync", "net_effects",
     "tail_sync.net_effects", "tail_sync"),
    ("crocus_spark.operators.similarity", "ivf_sync_from_tail",
     "similarity.ivf_sync_from_tail", "similarity"),
    ("crocus_spark.operators.similarity", "ivf_upsert_store",
     "similarity.ivf_upsert_store", "similarity"),
    ("crocus_spark.operators.similarity", "ivf_build_store",
     "similarity.ivf_build_store", "similarity"),
    ("crocus_spark.operators.similarity", "ivf_topk_at_rest",
     "similarity.ivf_topk_at_rest", "similarity"),
)

BUILD = {f"queries.{q}.build" for q in QUERY_NAMES}
PROBE = {"similarity.ivf_topk_at_rest", "similarity.probe_exec"}
SYNC = {"similarity.ivf_sync_from_tail"}

# per-layer metric -> span names whose self time it sums, per cycle
SELF = {
    "queries.build_s": BUILD,
    "queries.exec_s": {f"queries.{q}.exec" for q in QUERY_NAMES},
    **{f"queries.{q}.{k}_s": {f"queries.{q}.{k}"} for q in QUERY_NAMES
       for k in ("build", "exec")},
    "io.load_s": {"io.load"},
    "io.spread_s": {"io.spread"},
    "io.write_snapshot_s": {"io.write_snapshot"},
    "io.read_holdings_csv_s": {"io.read_holdings_csv"},
    "normalize.normalize_products_s": {"normalize.normalize_products"},
    "metrics.observe_ingest_s": {"metrics.observe_ingest"},
    "ingest.ingest_catalog_s": {"ingest.ingest_catalog"},
    "ingest.ingest_holdings_s": {"ingest.ingest_holdings"},
    "ingest.read_s": {"ingest.read_catalog", "ingest.read_holdings"},
    "maintenance.commit_s": {"maintenance.commit_snapshot",
                             "maintenance.commit_append",
                             "maintenance.commit_equality_deletes"},
    "tail_sync.drain_s": {"tail_sync.run_tail_sync"},
    "tail_sync.net_effects_s": {"tail_sync.net_effects"},
    "similarity.sync_s": SYNC,
    "similarity.upsert_s": {"similarity.ivf_upsert_store"},
    "similarity.probe_s": PROBE,
}
# per-layer metric -> spans whose wall interval the counted jobs fall in
JOBS = {
    "queries.build_jobs": BUILD,
    "similarity.sync_jobs": SYNC,
    "similarity.probe_jobs": PROBE,
}


class Workload:
    """Defaults; a workload overrides ``prepare``, ``cold``, ``cycle``,
    ``end_to_end`` and ``check``, and may add ``cycle_extra`` and
    ``run_layers`` for layer metrics its spans cannot give."""

    name = ""
    warmup = 0
    min_timed = 3
    n_checks = 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def install_trace(self, tracer) -> None:
        for mod, attr, name, layer in WRAP:
            tracer.wrap(importlib.import_module(mod), attr, name, layer)

    def cycle_layers(self, counters: dict) -> dict:
        """Layer metrics of the traced cycle that just ended."""
        tr = self.ctx.tracer
        times = self_times(tr.spans)
        mine = [(s, t) for s, t in zip(tr.spans, times) if s["op"] == tr.op]
        out = {}
        for metric, names in SELF.items():
            out[metric] = sum(t for s, t in mine if s["name"] in names)
        spans = [s for s, _ in mine]
        for metric, names in JOBS.items():
            iv = intervals_of(spans, names)
            out[metric] = float(sum(within(t, iv)
                                    for t in counters["job_times"]))
        out.update(self.cycle_extra(spans, counters))
        return out

    def cycle_extra(self, spans: list[dict], counters: dict) -> dict:
        return {}

    def run_layers(self, walls: list[float]) -> dict:
        return {}


def tree_stats(path: str) -> tuple[int, int]:
    """(parquet files, their bytes) anywhere under ``path``."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


class Collected:
    """Rows already collected, shaped like the DataFrame they came from
    (``columns`` + ``collect()``) so ``crocus_spark.testing.compare_frames``
    can check them without executing the plan again."""

    def __init__(self, columns: list[str], rows: list):
        self.columns, self.rows = list(columns), rows

    def collect(self) -> list:
        return self.rows
