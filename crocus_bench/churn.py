"""Index churn: snapshot-store commits beside a maintained IVF index.

The cold part is ``commit_snapshot`` of a v0 corpus, the bootstrap
``ivf_sync_from_tail`` (centroid fit + cell-store build) and a first
probe. Each round then commits generated churn (``commit_append`` of new
vectors + ``commit_equality_deletes`` of live ids), drains the CDC tail
into the cell store under the frozen model (``ivf_sync_from_tail``) and
probes it with ``ivf_topk_at_rest``. ``crocus_daily`` runs one round per
day.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

from crocus_bench import gen
from crocus_bench.base import tree_stats

N_VECS = 2_000
DIM = 32
N_ADD = 40
N_DEL = 20
N_QUERIES = 16
K = 10
N_CELLS = 8
N_PROBE = 4
RECALL_FLOOR = 0.7


def cell_files(index: str) -> dict[str, tuple[str, ...]]:
    return {d: tuple(sorted(os.listdir(os.path.join(index, d))))
            for d in os.listdir(index) if d.startswith("cell=")}


class IndexChurn:
    n_checks = 3

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.churn = gen.VectorChurn(ctx.seed, N_VECS, DIM, N_ADD, N_DEL,
                                     N_QUERIES)
        self.base = os.path.join(ctx.work, "churn")
        self.table = os.path.join(self.base, "table")
        self.index = os.path.join(self.base, "index")
        self.round = 0
        self.rewritten: list[float] = []

    def prepare(self) -> None:
        import crocus_spark.operators.similarity  # noqa: F401

        os.makedirs(self.base, exist_ok=True)
        self.v0_path = os.path.join(self.base, "v0.parquet")
        pq.write_table(self.churn.v0, self.v0_path)
        q_path = os.path.join(self.base, "queries.parquet")
        pq.write_table(self.churn.queries, q_path)
        self.qdf = self.spark.read.parquet(q_path)
        self.qvecs = np.array(self.churn.queries["embedding"].to_pylist(),
                              dtype=np.float64)
        self.live = {int(i): np.asarray(v, dtype=np.float64) for i, v in zip(
            self.churn.v0["vec_id"].to_pylist(),
            self.churn.v0["embedding"].to_pylist())}

    def _sync(self) -> None:
        from crocus_spark.operators.similarity import ivf_sync_from_tail

        ivf_sync_from_tail(self.spark, self.table, self.index,
                           n_cells=N_CELLS)

    def _probe(self) -> list:
        from crocus_spark.operators.similarity import ivf_topk_at_rest

        df = ivf_topk_at_rest(self.spark, self.qdf, None, self.index, k=K,
                              n_cells=N_CELLS, nprobe=N_PROBE,
                              model=self.model, reuse_store=True)
        with self.ctx.tracer.span("similarity.probe_exec", "similarity"):
            return df.collect()

    def cold(self) -> float:
        from crocus_spark.operators.maintenance import commit_snapshot
        from crocus_spark.operators.similarity import ivf_model_load

        t0 = time.perf_counter()
        commit_snapshot(self.spark.read.parquet(self.v0_path), self.table)
        self._sync()
        self.model = ivf_model_load(self.index)
        self.rows = self._probe()
        wall = time.perf_counter() - t0
        self.v0_bytes = tree_stats(self.table)[1]
        return wall

    def cycle(self) -> dict:
        from crocus_spark.io import local_df
        from crocus_spark.operators.maintenance import (
            commit_append,
            commit_equality_deletes,
        )

        add, dels = self.churn.round(self.round, sorted(self.live))
        add_path = os.path.join(self.base, f"add{self.round:04d}.parquet")
        pq.write_table(add, add_path)
        before = cell_files(self.index)
        t0 = time.perf_counter()
        commit_append(self.spark.read.parquet(add_path), self.table)
        commit_equality_deletes(
            local_df(self.spark, [(i,) for i in dels], "vec_id long"),
            self.table, ["vec_id"])
        self._sync()
        t1 = time.perf_counter()
        self.rows = self._probe()
        t2 = time.perf_counter()
        after = cell_files(self.index)
        cells = set(before) | set(after)
        self.rewritten.append(
            sum(before.get(c) != after.get(c) for c in cells) / len(cells))
        for i in dels:
            del self.live[i]
        for i, v in zip(add["vec_id"].to_pylist(),
                        add["embedding"].to_pylist()):
            self.live[int(i)] = np.asarray(v, dtype=np.float64)
        self.round += 1
        return {"wall": t2 - t0, "read": t2 - t1}

    def recall(self) -> float:
        ids = np.array(sorted(self.live))
        m = np.stack([self.live[i] for i in ids])
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        q = self.qvecs / np.linalg.norm(self.qvecs, axis=1, keepdims=True)
        exact = np.argsort(-(q @ m.T), axis=1, kind="stable")[:, :K]
        got: dict[int, set] = {}
        for r in self.rows:
            got.setdefault(int(r["query_id"]), set()).add(int(r["neighbor_id"]))
        hits = sum(len(got.get(int(qid), set()) & set(ids[exact[j]].tolist()))
                   for j, qid in enumerate(
                       self.churn.queries["vec_id"].to_pylist()))
        return hits / (K * len(self.qvecs))

    def check(self) -> list[str]:
        from crocus_spark.operators.maintenance import read_snapshot
        from crocus_spark.operators.similarity import ivf_build_store

        bad = []
        snap = read_snapshot(self.spark, self.table)
        got = sorted(r[0] for r in snap.select("vec_id").collect())
        if got != sorted(self.live):
            bad.append(f"live ids: {len(got)} in the table, "
                       f"{len(self.live)} generated")
        rebuilt = os.path.join(self.base, "rebuilt")
        ivf_build_store(snap.select("vec_id", "embedding"), rebuilt,
                        self.model)

        def content(path):
            return sorted(
                (r["neighbor_id"], r["cell"], tuple(r["c_vec"]))
                for r in self.spark.read.parquet(path)
                .select("neighbor_id", "cell", "c_vec").collect())

        if content(self.index) != content(rebuilt):
            bad.append("maintained cell store differs from a same-model "
                       "rebuild")
        r = self.recall()
        if r < RECALL_FLOOR:
            bad.append(f"recall@{K} {r:.3f} below {RECALL_FLOOR}")
        return bad

    def cycle_extra(self, spans, counters) -> dict:
        from crocus_bench.base import PROBE
        from crocus_bench.trace import intervals_of, within

        iv = intervals_of(spans, PROBE)
        parts = sum(e["partitions_read"] for e in counters["exec_metrics"]
                    if within(e["start"], iv))
        return {"similarity.cells_rewritten_frac": self.rewritten[-1],
                "similarity.cells_read_frac":
                    parts / len(cell_files(self.index))}

    def run_layers(self) -> dict:
        live_bytes = len(self.live) * self.v0_bytes / N_VECS
        return {
            "maintenance.stored_bytes_per_live_byte":
                tree_stats(self.table)[1] / live_bytes,
            "similarity.recall_at_k": self.recall(),
        }
