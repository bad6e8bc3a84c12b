"""``headline``: four registry queries into the ``noop`` sink, read-only.

Each pass runs ``holdings_overlap_confront``, ``dedup_ngram_jaccard``,
``search_bm25_topk`` and ``ann_bruteforce_topk`` in a seed-shuffled
order over generated star-schema, ``documents`` and ``embeddings``
tables. A query's wall is plan build (the registry call, eager
checkpoints included) plus execution into ``noop``.
"""

from __future__ import annotations

import os
import random
import time

from crocus_bench import gen
from crocus_bench.base import QUERY_NAMES as QUERIES
from crocus_bench.base import Collected, Workload
from crocus_bench.stats import geomean, median

# Sizes fit the run budget, not real traffic. Passes are launch-bound:
# on a 4-core host 60,000 lineitem rows pass as fast as 20,000, while
# 4,000 documents and embeddings add ~3 s to the cold pass.
N_LINEITEM = 60_000
N_DOCS = 1_500
N_VECS = 1_500


class Headline(Workload):
    name = "headline"
    # Pass walls by position, measured on a 4-core host: cold 13-15 s,
    # then 4.5, 4.1, 3.9, 3.6, 3.6, 3.4, 3.3, 3.2, 3.0 s, still falling
    # slowly at pass 14. Two untimed passes skip the steepest steps (in
    # 10 runs with two, passes 3-4 of one run took 5.9 and 5.1 s, which
    # the median of three timed passes absorbs). A third warm-up pass
    # (~4.5 s) does not fit the run budget: with three, runs averaged
    # ~70 s in a slow period, ~3400 s for 48 runs of the 3420 s allowed.
    warmup = 2
    n_checks = len(QUERIES)

    def __init__(self, ctx):
        super().__init__(ctx)
        self.dir = os.path.join(ctx.work, "tables")
        self.rng = random.Random(ctx.seed)
        self.per_query: dict[str, list[float]] = {q: [] for q in QUERIES}
        self.first: dict[str, Collected] = {}

    def prepare(self) -> None:
        gen.write_tables(
            gen.star_tables(self.ctx.seed, N_LINEITEM, N_DOCS, N_VECS),
            self.dir)
        from crocus_spark.queries import REGISTRY, queries

        queries()
        self.registry = REGISTRY

    def _run(self, name: str, timed: bool) -> None:
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        with tr.span(f"queries.{name}.build", "queries"):
            df = self.registry[name].fn(self.spark, self.dir)
        with tr.span(f"queries.{name}.exec", "queries"):
            df.write.format("noop").mode("overwrite").save()
        if timed:
            self.per_query[name].append(time.perf_counter() - t0)

    def cold(self) -> float:
        """First pass in the fresh session: build + collect, so the
        untimed oracle checks can use its rows."""
        t0 = time.perf_counter()
        for q in QUERIES:
            df = self.registry[q].fn(self.spark, self.dir)
            self.first[q] = Collected(df.columns, df.collect())
        return time.perf_counter() - t0

    def cycle(self, timed: bool) -> dict:
        order = list(QUERIES)
        self.rng.shuffle(order)
        t0 = time.perf_counter()
        for q in order:
            self._run(q, timed)
        return {"wall": time.perf_counter() - t0}

    def end_to_end(self, walls: list[float], reads: list[float]) -> dict:
        return {"read_s": geomean(median(v) for v in self.per_query.values())}

    def check(self) -> list[str]:
        import duckdb

        from crocus_spark.testing import compare_frames

        con = duckdb.connect()
        for t in ("region", "nation", "supplier", "part", "lineitem",
                  "documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(self.dir, t + '.parquet')}'")
        bad = []
        for q in QUERIES:
            ok, rep = compare_frames(self.first[q], con,
                                     self.registry[q].oracle)
            if not ok:
                bad.append(f"{q}: {rep}")
        con.close()
        return bad
