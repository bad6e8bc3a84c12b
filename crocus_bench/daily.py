"""``crocus_daily``: the reference's pipeline, one day per cycle, with
the day's index upkeep.

Each day lands raw iShares and Vanguard catalogs as JSONL (Italian
decimals, both date dialects, a third of the ISINs listed by both) and
a holdings CSV with injected malformed lines (untimed). The timed day
then runs ``ingest_catalog`` -> ``ingest_holdings`` -> pruned
``read_catalog``/``read_holdings`` -> confront (the best cross-provider
holdings overlap per iShares fund, and a cost report per provider and
currency), then one index-churn round (``churn.py``): commits beside
reads on the snapshot store, the CDC tail sync and an IVF probe. The
store keeps every earlier day.
"""

from __future__ import annotations

import os
import time

from crocus_bench import gen
from crocus_bench.base import Collected, Workload, tree_stats
from crocus_bench.churn import IndexChurn
from crocus_bench.stats import median, slope

# Sizes fit the run budget, not real traffic (the reference records no
# catalog or holdings volumes). On a 4-core host, 300 funds x 50 holdings
# over 800 ISINs take a day from ~7.4 s to ~10.4 s, which the budget of
# 22 runs a workload does not hold.
N_FUNDS = 150
N_HOLDINGS = 25
UNIVERSE = 400
MALFORMED = 4

PROVIDERS = ("ishares", "vanguard")


def confront(spark, cat_base: str, hold_base: str, day: str):
    """(best-overlap rows, cost-report rows) for ``day``."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from crocus_spark.ingest import read_catalog, read_holdings

    def side(provider, tag):
        return read_holdings(spark, hold_base, day, provider).select(
            F.col("isin").alias(f"fund_{tag}"), "holding_isin",
            F.col("weight").cast("decimal(12,4)").alias(f"w{tag}"))

    pairs = (
        side("ishares", "a").join(side("vanguard", "b"), "holding_isin")
        .groupBy("fund_a", "fund_b")
        .agg(F.sum(F.least("wa", "wb")).alias("overlap"),
             F.count(F.lit(1)).alias("n_shared"))
    )
    w = Window.partitionBy("fund_a").orderBy(F.desc("overlap"), "fund_b")
    best = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1").drop("rn")
    )
    cost = (
        read_catalog(spark, cat_base, day)
        .groupBy("provider", "price_currency")
        .agg(F.count(F.lit(1)).alias("n_products"),
             F.sum("ter_pct").alias("sum_ter_pct"),
             F.min("price_amount").alias("min_price"),
             F.max("price_amount").alias("max_price"),
             F.date_format(F.max("nav_date"), "yyyy-MM-dd").alias("nav_date"))
    )
    return best, cost


# DuckDB twin of the day's normalize -> reconcile -> confront, run over
# the raw landed files.
_ORACLE_BASE = r"""
CREATE OR REPLACE VIEW raw_cat AS
  SELECT 0 AS prio, 'ishares' AS provider, * FROM read_json('{ishares}',
    format='newline_delimited', columns={{isin: 'VARCHAR', ter: 'VARCHAR',
    price: 'VARCHAR', date: 'VARCHAR'}})
  UNION ALL
  SELECT 1, 'vanguard', * FROM read_json('{vanguard}',
    format='newline_delimited', columns={{isin: 'VARCHAR', ter: 'VARCHAR',
    price: 'VARCHAR', date: 'VARCHAR'}});
CREATE OR REPLACE VIEW cat AS
  SELECT provider,
    CAST(replace(replace(trim(replace(ter, '%', '')), '.', ''), ',', '.')
         AS DECIMAL(12,4)) AS ter_pct,
    CAST(replace(replace(regexp_extract(price,
         '([0-9][0-9\.]*,[0-9]+|[0-9]+(?:\.[0-9]+)?)', 1), '.', ''), ',', '.')
         AS DECIMAL(18,4)) AS price_amount,
    regexp_extract(price, '([A-Z]{{3}})', 1) AS price_currency,
    CASE WHEN regexp_matches(date, '^\d{{1,2}}/\d{{1,2}}/\d{{2}}$')
         THEN CAST(strptime(date, '%d/%m/%y') AS DATE)
         ELSE make_date(CAST(regexp_extract(date, '(\d{{4}})$', 1) AS INT),
              list_position(['gen','feb','mar','apr','mag','giu','lug','ago',
                             'set','ott','nov','dic'],
                            lower(regexp_extract(date, '^\d+\s+(\w+)', 1))),
              CAST(regexp_extract(date, '^(\d+)', 1) AS INT)) END AS nav_date
  FROM (SELECT *, row_number() OVER (PARTITION BY isin ORDER BY prio DESC)
          AS rn FROM raw_cat) WHERE rn = 1;
CREATE OR REPLACE VIEW hold AS
  SELECT isin, provider, holding_isin,
         CAST(CAST(weight AS DOUBLE) AS DECIMAL(12,4)) AS w
  FROM read_csv('{holdings}', header=true, all_varchar=true)
  WHERE TRY_CAST(weight AS DOUBLE) IS NOT NULL
    AND TRY_CAST(market_value AS DOUBLE) IS NOT NULL
    AND TRY_CAST(shares AS DOUBLE) IS NOT NULL;
"""
ORACLE_BEST = """
SELECT fund_a, fund_b, overlap, n_shared FROM (
  SELECT *, row_number() OVER (PARTITION BY fund_a
                               ORDER BY overlap DESC, fund_b) AS rn
  FROM (SELECT a.isin AS fund_a, b.isin AS fund_b,
               SUM(CASE WHEN a.w < b.w THEN a.w ELSE b.w END) AS overlap,
               COUNT(*) AS n_shared
        FROM hold a JOIN hold b ON a.holding_isin = b.holding_isin
        WHERE a.provider = 'ishares' AND b.provider = 'vanguard'
        GROUP BY 1, 2)) WHERE rn = 1
"""
ORACLE_COST = """
SELECT provider, price_currency, COUNT(*) AS n_products,
       SUM(ter_pct) AS sum_ter_pct, MIN(price_amount) AS min_price,
       MAX(price_amount) AS max_price,
       strftime(MAX(nav_date), '%Y-%m-%d') AS nav_date
FROM cat GROUP BY 1, 2
"""


class CrocusDaily(Workload):
    name = "crocus_daily"
    # Day walls by position, measured on a 4-core host: cold ~20 s (day 0
    # plus the index bootstrap), then ~13.8, 11.7, 9.8 s. One untimed day
    # keeps the first warm index round untimed too; the run budget leaves
    # room for one timed day per run, so cycle_s is a median across runs.
    warmup = 1
    min_timed = 1

    def __init__(self, ctx):
        super().__init__(ctx)
        self.index = IndexChurn(ctx)
        self.n_checks = 5 + self.index.n_checks
        self.feeds = gen.ProviderFeeds(ctx.seed, N_FUNDS, N_HOLDINGS,
                                       UNIVERSE, MALFORMED)
        self.land_dir = os.path.join(ctx.work, "landing")
        self.cat_base = os.path.join(ctx.work, "store", "catalog")
        self.hold_base = os.path.join(ctx.work, "store", "holdings")
        self.day = 0
        self.day_walls: list[float] = []
        self.input_bytes = 0
        self.problems: list[str] = []
        self.last = None

    def prepare(self) -> None:
        import crocus_spark.ingest  # noqa: F401  (loaded before tracing)

        self.index.prepare()

    def _run_day(self) -> dict:
        from crocus_spark.ingest import ingest_catalog, ingest_holdings
        from crocus_spark.io import read_products_json

        d = self.day
        landed = self.feeds.land(d, os.path.join(self.land_dir, f"d{d:03d}"))
        self.input_bytes += landed["bytes"]
        date = self.feeds.date(d).isoformat()
        before = tree_stats(self.cat_base), tree_stats(self.hold_base)
        tr = self.ctx.tracer
        t0 = time.perf_counter()
        raw = {p: read_products_json(self.spark, landed["paths"][p])
               for p in PROVIDERS}
        _, cat_obs = ingest_catalog(self.spark, raw, self.cat_base, date)
        _, quarantine, hold_obs = ingest_holdings(
            self.spark, landed["paths"]["holdings"], self.hold_base)
        t1 = time.perf_counter()
        with tr.span("daily.confront", "bench"):
            best, cost = confront(self.spark, self.cat_base, self.hold_base,
                                  date)
            best_rows = Collected(best.columns, best.collect())
            cost_rows = Collected(cost.columns, cost.collect())
        t2 = time.perf_counter()
        after = tree_stats(self.cat_base), tree_stats(self.hold_base)
        self.written = (sum(a[0] - b[0] for a, b in zip(after, before)),
                        sum(a[1] - b[1] for a, b in zip(after, before)))
        n_isins = len(set(self.feeds.ishares) | set(self.feeds.vanguard))
        if cat_obs != {"n_rows": n_isins, "n_corrupt": 0, "n_null_key": 0}:
            self.problems.append(f"day {d}: catalog metrics {cat_obs}")
        want = {"n_rows": landed["n_holdings_rows"],
                "n_corrupt": len(landed["malformed"]), "n_null_key": 0}
        if hold_obs != want:
            self.problems.append(f"day {d}: holdings metrics {hold_obs}")
        self.last = (d, date, landed, quarantine, best_rows, cost_rows)
        if d:
            self.day_walls.append(t2 - t0)
        self.day += 1
        return {"wall": t2 - t0, "read": t2 - t1}

    def cold(self) -> float:
        return self._run_day()["wall"] + self.index.cold()

    def cycle(self, timed: bool) -> dict:
        day, churn = self._run_day(), self.index.cycle()
        return {k: day[k] + churn[k] for k in ("wall", "read")}

    def end_to_end(self, walls, reads) -> dict:
        """``read_s``: the day's reads, confront plus index probe."""
        return {"read_s": median(reads)}

    def check(self) -> list[str]:
        import duckdb

        from crocus_spark.ingest import read_catalog
        from crocus_spark.testing import compare_frames

        d, date, landed, quarantine, best, cost = self.last
        bad = list(self.problems)
        isins = sorted(set(self.feeds.ishares) | set(self.feeds.vanguard))
        got = sorted(r.isin for r in read_catalog(
            self.spark, self.cat_base, date).select("isin").collect())
        if got != isins:
            bad.append(f"day {d}: catalog holds {len(got)} rows for "
                       f"{len(isins)} generated ISINs")
        q = sorted(r[0] for r in quarantine.select("_corrupt_record")
                   .collect())
        if q != sorted(landed["malformed"]):
            bad.append(f"day {d}: quarantine {q} != injected")
        con = duckdb.connect()
        p = landed["paths"]
        con.execute(_ORACLE_BASE.format(ishares=p["ishares"],
                                        vanguard=p["vanguard"],
                                        holdings=p["holdings"]))
        for name, df, sql in (("best overlap", best, ORACLE_BEST),
                              ("cost report", cost, ORACLE_COST)):
            ok, rep = compare_frames(df, con, sql)
            if not ok:
                bad.append(f"day {d}: {name}: {rep}")
        con.close()
        return bad + self.index.check()

    def cycle_extra(self, spans, counters) -> dict:
        return {"io.files_written": float(self.written[0]),
                "io.bytes_written": float(self.written[1]),
                **self.index.cycle_extra(spans, counters)}

    def run_layers(self, walls) -> dict:
        from crocus_spark.ingest import read_catalog, read_holdings

        from crocus_bench.trace import SparkCounters

        _, date, *_ = self.last
        stored = sum(tree_stats(b)[1] for b in (self.cat_base,
                                                self.hold_base))
        day_files = sum(tree_stats(os.path.join(
            b, f"snapshot_date={date}"))[0]
            for b in (self.cat_base, self.hold_base))
        counters = SparkCounters(self.spark)
        read_catalog(self.spark, self.cat_base, date).count()
        read_holdings(self.spark, self.hold_base, date).count()
        files_read = counters.collect()["files_read"]
        return {
            "io.stored_bytes_per_input_byte": stored / self.input_bytes,
            "io.files_scanned_per_day_file": files_read / day_files,
            "ingest.day_slope": slope(self.day_walls),
            **self.index.run_layers(),
        }
