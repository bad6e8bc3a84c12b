"""Seeded input generators for the three workloads.

Every generator is a pure function of its ``seed`` (numpy ``default_rng``),
so the same seed always lands byte-identical inputs; ``digest`` hashes
what was generated so the tests can pin that. Nothing here touches Spark.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- headline: star schema, documents, embeddings ---------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
N_NATIONS = 25
N_BRANDS = 25
# A closed vocabulary well under the 126-token bound of the DuckDB
# token-bitmask oracles; "spark" and "merge" are the BM25 query terms.
VOCAB = [
    "spark", "merge", "join", "table", "stream", "index", "query", "fund",
    "price", "bond", "equity", "yield", "cost", "ratio", "daily", "store",
    "vector", "batch", "shuffle", "cache", "plan", "scan", "filter", "sort",
    "hash", "window", "range", "value", "market", "weight", "sector",
    "holding", "provider", "catalog", "report", "delta", "commit", "log",
    "schema", "column", "row", "page", "node", "graph", "edge", "model",
    "cell", "probe", "search", "rank", "score", "token", "term", "text",
    "lang", "source", "alpha", "beta", "gamma", "sigma", "omega", "north",
    "south", "east", "west", "river", "stone", "cloud", "light", "storm",
    "green", "amber", "cobalt", "silver", "copper", "iron", "maple", "cedar",
    "pine", "oak", "harbor", "bridge", "tower", "garden", "market2", "engine",
]
LANGS = ["en", "it", "de"]


def _digest_tables(tables: dict[str, pa.Table]) -> str:
    h = hashlib.sha256()
    for name in sorted(tables):
        h.update(name.encode())
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, tables[name].schema) as w:
            w.write_table(tables[name])
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def star_tables(seed: int, n_lineitem: int, n_docs: int, n_vecs: int,
                dim: int = 32) -> dict[str, pa.Table]:
    """The tables the four headline queries read, with the fixture
    schemas (int64 keys, double measures, array<float> embeddings)."""
    rng = np.random.default_rng(seed)
    n_supp = max(50, n_lineitem // 600)
    n_part = max(200, n_lineitem // 30)
    region = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(N_NATIONS), pa.int32()),
        "n_name": [f"NATION_{i:02d}" for i in range(N_NATIONS)],
        "n_regionkey": pa.array([i % len(REGIONS) for i in range(N_NATIONS)],
                                pa.int32()),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
        "s_name": [f"Supplier#{i:06d}" for i in range(1, n_supp + 1)],
        "s_nationkey": pa.array(rng.integers(0, N_NATIONS, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
        "p_name": [f"part {i}" for i in range(1, n_part + 1)],
        "p_brand": [f"Brand#{b}" for b in
                    rng.integers(0, N_BRANDS, n_part) + 11],
        "p_type": ["STANDARD"] * n_part,
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2),
    })
    qty = rng.integers(1, 51, n_lineitem)
    base = 694224000000  # 1992-01-01, ms
    lineitem = pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(1, n_lineitem // 4 + 2,
                                                    n_lineitem)), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_lineitem),
                              pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_lineitem),
                              pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lineitem), pa.int32()),
        "l_quantity": qty.astype(np.float64),
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_lineitem),
                                    2),
        "l_discount": rng.integers(0, 11, n_lineitem) / 100.0,
        "l_tax": rng.integers(0, 9, n_lineitem) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lineitem),
        "l_linestatus": rng.choice(["F", "O"], n_lineitem),
        "l_shipdate": pa.array(base + rng.integers(0, 2400, n_lineitem)
                               * 86400000, pa.timestamp("ms")),
    })
    return {
        "region": region, "nation": nation, "supplier": supplier,
        "part": part, "lineitem": lineitem,
        "documents": documents(rng, n_docs),
        "embeddings": embeddings(rng, n_vecs, cluster_centres(rng, dim)),
    }


def documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Zipf-weighted token sets over ``VOCAB``; one doc in ten is a
    near-copy of an earlier one (re-ordered, re-cased or re-spaced), so
    the 0.95-Jaccard dedup finds real pairs."""
    w = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.8
    w = w / w.sum()
    texts, langs = [], []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:
            j = int(rng.integers(0, i))
            toks = texts[j].split()
            rng.shuffle(toks)
            if rng.random() < 0.5:
                toks = [t.upper() if k == 0 else t for k, t in enumerate(toks)]
            texts.append("  ".join(toks) if rng.random() < 0.5
                         else " ".join(toks))
            langs.append(langs[j])
            continue
        n = int(rng.integers(12, 30))
        idx = rng.choice(len(VOCAB), size=n, replace=True, p=w)
        texts.append(" ".join(VOCAB[k] for k in idx))
        langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 7}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def cluster_centres(rng: np.random.Generator, dim: int) -> np.ndarray:
    return rng.normal(0, 1, (16, dim))


def embeddings(rng: np.random.Generator, n: int, centres: np.ndarray,
               start_id: int = 0) -> pa.Table:
    """Clustered float32 vectors (a seeded centre + noise each), so IVF
    cells are meaningful and nearest neighbours are not ties."""
    pick = rng.integers(0, len(centres), n)
    v = (centres[pick] + rng.normal(0, 0.35, (n, centres.shape[1]))).astype(
        np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(start_id, start_id + n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(np.arange(n) % 10, pa.int32()),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# -- crocus_daily: raw provider feeds ---------------------------------------

IT_MONTHS = ["gen", "feb", "mar", "apr", "mag", "giu",
             "lug", "ago", "set", "ott", "nov", "dic"]
CURRENCIES = ["USD", "EUR", "GBP"]
FUND_TYPES = ["equity", "bond", "multi_asset"]
SECTORS = ["tech", "energy", "health", "finance", "utilities", "materials"]
DAY0 = _dt.date(2025, 2, 3)


def distinct_ints(rng: np.random.Generator, high: int, n: int) -> list[int]:
    """``n`` distinct integers in [0, high), in draw order."""
    seen: dict[int, None] = {}
    while len(seen) < n:
        for x in rng.integers(0, high, n):
            seen.setdefault(int(x))
    return list(seen)[:n]


def _it_decimal(x: float, places: int) -> str:
    return f"{x:.{places}f}".replace(".", ",")


class ProviderFeeds:
    """A fixed fund universe per seed: ``n_funds`` iShares and as many
    Vanguard ISINs, a third of them listed by both providers. Each day
    re-prices every fund and re-draws its holdings; ``malformed`` CSV
    lines per day carry a non-numeric weight (the quarantine's input)."""

    def __init__(self, seed: int, n_funds: int, n_holdings: int,
                 universe: int, malformed: int):
        rng = np.random.default_rng(seed)
        self.seed = seed
        shared = n_funds // 3
        own = n_funds - shared
        isins = [f"IE00{x:08d}" for x in
                 distinct_ints(rng, 10**8, shared + 2 * own)]
        self.shared = isins[:shared]
        self.ishares = self.shared + isins[shared:shared + own]
        self.vanguard = self.shared + isins[shared + own:]
        self.fund_type = {i: FUND_TYPES[int(rng.integers(0, 3))]
                          for i in isins}
        self.currency = {i: CURRENCIES[int(rng.integers(0, 3))]
                         for i in isins}
        self.ter_bp = {(p, i): int(rng.integers(3, 60))
                       for p, lst in (("ishares", self.ishares),
                                      ("vanguard", self.vanguard))
                       for i in lst}
        self.universe = [f"US{x:010d}" for x in
                         distinct_ints(rng, 10**9, universe)]
        self.n_holdings = n_holdings
        self.malformed = malformed

    @staticmethod
    def date(day: int) -> _dt.date:
        return DAY0 + _dt.timedelta(days=day)

    def day_rng(self, day: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, day])

    def catalogs(self, day: int) -> dict[str, list[dict]]:
        rng = self.day_rng(day)
        d = self.date(day)
        out = {}
        for prov, lst in (("ishares", self.ishares),
                          ("vanguard", self.vanguard)):
            rows = []
            for isin in lst:
                ccy = self.currency[isin]
                px = round(float(rng.uniform(20, 900)), 2)
                ter = self.ter_bp[(prov, isin)] / 100.0
                if prov == "ishares":
                    rows.append({
                        "isin": isin,
                        "name": f"iShares {isin[-4:]} UCITS ETF\n{ccy} (Acc)",
                        "fund_type": None,
                        "currency": ccy,
                        "ter": _it_decimal(ter, 2),
                        "price": f"{ccy} {_it_decimal(px, 2)}",
                        "date": f"{d.day} {IT_MONTHS[d.month - 1]} {d.year}",
                        "holdings_file": f"https://x/ajax?fileType=csv&f={isin}",
                    })
                else:
                    rows.append({
                        "isin": isin,
                        "name": f"Vanguard {isin[-4:]} UCITS ETF",
                        "ticker": f"V{isin[-3:]} IM",
                        "fund_type": self.fund_type[isin],
                        "currency": ccy,
                        "ter": _it_decimal(ter, 2) + "%",
                        "price": f"{_it_decimal(px, 2)} {ccy}",
                        "date": d.strftime("%d/%m/%y"),
                    })
            out[prov] = rows
        return out

    def holdings(self, day: int) -> tuple[list[list], list[str]]:
        """(clean rows, malformed lines). A fund listed by both providers
        holds the same basket at both, so it is its own best match."""
        rng = self.day_rng(day)
        d = self.date(day).isoformat()
        rows, basket = [], {}
        for prov, lst in (("ishares", self.ishares),
                          ("vanguard", self.vanguard)):
            for isin in lst:
                if isin not in basket:
                    k = self.n_holdings
                    pick = rng.choice(len(self.universe), k, replace=False)
                    bp = rng.integers(1, 400, k)
                    basket[isin] = [(int(p), int(b)) for p, b in zip(pick, bp)]
                for p, b in basket[isin]:
                    h = self.universe[p]
                    rows.append([isin, d, prov, f"HOLDING {h[-5:]}", h,
                                 SECTORS[p % len(SECTORS)], f"{b / 10000:.4f}",
                                 f"{b * 137.5:.2f}", f"{b * 3}.0"])
        bad = []
        for k in range(self.malformed):
            isin = self.ishares[int(rng.integers(0, len(self.ishares)))]
            bad.append(f"{isin},{d},ishares,BROKEN ROW {k},US0,tech,n/a,"
                       f"n/a,n/a")
        return rows, bad

    def land(self, day: int, out_dir: str) -> dict:
        """Write day ``day``'s raw files; returns their paths, the raw
        byte count, and the malformed lines as written."""
        os.makedirs(out_dir, exist_ok=True)
        paths = {}
        for prov, rows in self.catalogs(day).items():
            p = os.path.join(out_dir, f"{prov}.jsonl")
            with open(p, "w") as f:
                for r in rows:
                    f.write(json.dumps(r) + "\n")
            paths[prov] = p
        rows, bad = self.holdings(day)
        hp = os.path.join(out_dir, "holdings.csv")
        with open(hp, "w") as f:
            f.write("isin,snapshot_date,provider,holding_name,holding_isin,"
                    "sector,weight,market_value,shares\n")
            lines = [",".join(r) for r in rows]
            # malformed lines sit at fixed seeded positions among the clean
            rng = self.day_rng(day + 10**6)
            for line in bad:
                lines.insert(int(rng.integers(0, len(lines) + 1)), line)
            f.write("\n".join(lines) + "\n")
        paths["holdings"] = hp
        nbytes = sum(os.path.getsize(p) for p in paths.values())
        return {"paths": paths, "bytes": nbytes, "malformed": bad,
                "n_holdings_rows": len(rows) + len(bad)}

    def digest(self, days: int) -> str:
        h = hashlib.sha256()
        for day in range(days):
            h.update(json.dumps(self.catalogs(day), sort_keys=True).encode())
            rows, bad = self.holdings(day)
            h.update(json.dumps([rows, bad]).encode())
        return h.hexdigest()


# -- index churn (a crocus_daily round): vectors plus per-round churn ------

class VectorChurn:
    """v0 corpus of ``n`` vectors, then per round ``n_add`` new vectors
    (ids continue upward) and ``n_del`` deletions of live ids. Corpus,
    additions and probe queries share one set of cluster centres."""

    def __init__(self, seed: int, n: int, dim: int, n_add: int, n_del: int,
                 n_queries: int):
        self.seed, self.n = seed, n
        self.n_add, self.n_del = n_add, n_del
        rng = np.random.default_rng(seed)
        self.centres = cluster_centres(rng, dim)
        self.v0 = embeddings(rng, n, self.centres).select(
            ["vec_id", "embedding"])
        self.queries = embeddings(rng, n_queries, self.centres).select(
            ["vec_id", "embedding"])

    def round(self, r: int, live: list[int]) -> tuple[pa.Table, list[int]]:
        rng = np.random.default_rng([self.seed, r])
        start = self.n + r * self.n_add
        add = embeddings(rng, self.n_add, self.centres,
                         start_id=start).select(["vec_id", "embedding"])
        dels = sorted(int(x) for x in rng.choice(live, self.n_del,
                                                 replace=False))
        return add, dels

    def digest(self, rounds: int) -> str:
        live = list(range(self.n))
        tables = {"v0": self.v0, "queries": self.queries}
        for r in range(rounds):
            add, dels = self.round(r, live)
            tables[f"add{r:03d}"] = add
            tables[f"del{r:03d}"] = pa.table({"vec_id": dels})
            gone = set(dels)
            live = [i for i in live if i not in gone] + add["vec_id"].to_pylist()
        return _digest_tables(tables)


def star_digest(seed: int, n_lineitem: int, n_docs: int, n_vecs: int) -> str:
    return _digest_tables(star_tables(seed, n_lineitem, n_docs, n_vecs))
