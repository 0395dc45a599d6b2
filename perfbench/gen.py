"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (numpy PCG64), so the same
seed yields byte-identical inputs and a different seed yields different
values with the same shape. Nothing here imports Spark: the engine only
ever receives the generated files, frames and fetcher payloads.

* ``lakehouse_tables`` — the ten registry tables (TPC-H subset, events,
  documents, embeddings) at the row counts and value domains of the sf0.1
  fixture the registry queries were written against.
* ``QuoteFeed`` — the Alpha-Vantage-shaped "compact" fetcher of the
  medallion DAG: a sliding 100-day window per symbol, one new day per tick,
  with planted ``open=0`` and ``volume=0`` rows.
* ``corpus_docs`` — an append-only-id document corpus with planted exact
  and near duplicates.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "de", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMB_DIM = 64
QUOTE_PLANT = 0.02  # share of days planted with open=0, and again with volume=0
QUOTE_MAX_TICKS = 4000
EXACT_DUP_RATE = 0.05
NEAR_DUP_RATE = 0.10
_US_PER_DAY = 86_400_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so adding a table never
    shifts another table's values."""
    return np.random.default_rng([seed, *stream.encode()])


def _epoch_us(day: dt.date) -> int:
    return (day - dt.date(1970, 1, 1)).days * _US_PER_DAY


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi, n)
    words = np.array(WORDS)
    return [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]


def _embeddings(rng: np.random.Generator, n: int, labels: int = 10):
    centers = rng.normal(size=(labels, EMB_DIM))
    label = rng.integers(0, labels, n)
    vecs = centers[label] + 1.5 * rng.normal(size=(n, EMB_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return vecs.astype("float32"), label.astype("int32")


def lakehouse_tables(seed: int) -> dict[str, pa.Table]:
    """The registry's ten tables at sf0.1 row counts."""
    n = SF01_ROWS
    out: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }

    r = _rng(seed, "customer")
    k = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(k, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(k)],
            "c_nationkey": r.integers(0, 25, k).astype("int32"),
            "c_acctbal": _money(r, -999.99, 9999.99, k),
            "c_mktsegment": np.array(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            )[r.integers(0, 5, k)],
        }
    )

    r = _rng(seed, "supplier")
    k = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(k, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(k)],
            "s_nationkey": r.integers(0, 25, k).astype("int32"),
            "s_acctbal": _money(r, -999.99, 9999.99, k),
        }
    )

    r = _rng(seed, "part")
    k = n["part"]
    adj = np.array(["red", "blue", "new", "hot", "old", "big", "tiny", "cold"])
    noun = np.array(["bolt", "anvil", "ring", "rod", "plate", "widget", "gear", "pin"])
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(k, dtype="int64"),
            "p_name": np.char.add(
                np.char.add(adj[r.integers(0, 8, k)], " "), noun[r.integers(0, 8, k)]
            ),
            "p_brand": np.char.add("Brand#", r.integers(1, 26, k).astype(str)),
            "p_type": np.array(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
            )[r.integers(0, 6, k)],
            "p_size": r.integers(1, 51, k).astype("int32"),
            "p_retailprice": 900.0 + r.integers(0, 1000, k) / 10.0,
        }
    )

    r = _rng(seed, "orders")
    k = n["orders"]
    d0 = _epoch_us(dt.date(1995, 1, 1))
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(k, dtype="int64"),
            "o_custkey": r.integers(0, n["customer"], k),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, k)],
            "o_totalprice": _money(r, 1000.0, 500000.0, k),
            "o_orderdate": _ts(d0 + r.integers(0, 2405, k) * _US_PER_DAY),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[r.integers(0, 5, k)],
        }
    )

    r = _rng(seed, "lineitem")
    k = n["lineitem"]
    qty = r.integers(1, 51, k).astype("float64")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": r.integers(0, n["orders"], k),
            "l_partkey": r.integers(0, n["part"], k),
            "l_suppkey": r.integers(0, n["supplier"], k),
            "l_linenumber": r.integers(1, 8, k).astype("int32"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(18.0, 2100.0, k), 2),
            "l_discount": np.round(r.uniform(0.0, 0.10, k), 2),
            "l_tax": np.round(r.uniform(0.0, 0.08, k), 2),
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, k)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, k)],
            "l_shipdate": _ts(
                _epoch_us(dt.date(1995, 1, 2)) + r.integers(0, 2499, k) * _US_PER_DAY
            ),
        }
    )

    r = _rng(seed, "events")
    k = n["events"]
    out["events"] = pa.table(
        {
            "event_id": np.arange(k, dtype="int64"),
            "ts": _ts(np.sort(_epoch_us(dt.date(2024, 1, 1)) + r.integers(0, 30 * _US_PER_DAY, k))),
            "user_id": r.integers(0, 1500, k),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, k)],
            "value": np.round(r.exponential(50.0, k), 2),
            "props": [f'{{"k": {i}}}' for i in r.integers(0, 100, k)],
        }
    )

    r = _rng(seed, "documents")
    k = n["documents"]
    text = _texts(r, k, 8, 96)
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(k, dtype="int64"),
            "text": text,
            "lang": np.array(LANGS)[r.choice(5, k, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(k)],
            "n_chars": np.array([len(s) for s in text], dtype="int64"),
        }
    )

    r = _rng(seed, "embeddings")
    k = n["embeddings"]
    vecs, label = _embeddings(r, k)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(k, dtype="int64"),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel(), pa.float32()), EMB_DIM
            ).cast(pa.list_(pa.float32())),
            "label": label,
        }
    )
    return out


class QuoteFeed:
    """Daily quotes for ``symbols`` symbols; ``fetch(symbol)`` returns the
    Alpha Vantage TIME_SERIES_DAILY "compact" payload (the last ``window``
    days up to the current tick). ``advance()`` moves one day forward, so
    each tick offers ``window`` rows per symbol of which one is new.

    Prices are a seeded random walk; ``QUOTE_PLANT`` of the days carry
    ``open=0`` and another ``QUOTE_PLANT`` carry ``volume=0`` (the rows the
    silver model's quality filter and SAFE_DIVIDE path exist for).
    """

    def __init__(self, seed: int, symbols: int = 3, window: int = 100):
        r = _rng(seed, "quotes")
        days = window + QUOTE_MAX_TICKS
        self.symbols = [f"SYM{i:03d}" for i in range(symbols)]
        self.window = window
        self.tick = 0
        close = 50.0 * np.exp(
            np.cumsum(r.normal(0.0, 0.02, (symbols, days)), axis=1)
        ) * r.uniform(0.5, 4.0, (symbols, 1))
        open_ = close * np.exp(r.normal(0.0, 0.01, (symbols, days)))
        high = np.maximum(open_, close) * (1 + r.uniform(0, 0.02, (symbols, days)))
        low = np.minimum(open_, close) * (1 - r.uniform(0, 0.02, (symbols, days)))
        volume = r.integers(10_000, 5_000_000, (symbols, days))
        open_[r.random((symbols, days)) < QUOTE_PLANT] = 0.0
        volume[r.random((symbols, days)) < QUOTE_PLANT] = 0
        self._cols = {
            "open": np.round(open_, 4),
            "high": np.round(high, 4),
            "low": np.round(low, 4),
            "close": np.round(close, 4),
            "volume": volume,
        }
        self._dates = [
            (dt.date(2020, 1, 1) + dt.timedelta(days=d)).isoformat() for d in range(days)
        ]
        self._index = {s: i for i, s in enumerate(self.symbols)}

    def advance(self) -> None:
        if self.tick + self.window >= len(self._dates):
            raise RuntimeError("quote feed exhausted; raise QUOTE_MAX_TICKS")
        self.tick += 1

    def day_range(self) -> range:
        return range(self.tick, self.tick + self.window)

    def fetch(self, symbol: str) -> dict[str, dict[str, str]]:
        i = self._index[symbol]
        c = self._cols
        return {
            self._dates[d]: {
                "1. open": f"{c['open'][i, d]:.4f}",
                "2. high": f"{c['high'][i, d]:.4f}",
                "3. low": f"{c['low'][i, d]:.4f}",
                "4. close": f"{c['close'][i, d]:.4f}",
                "5. volume": str(int(c["volume"][i, d])),
            }
            for d in self.day_range()
        }

    def rows_through(self, last_day: int) -> list[tuple]:
        """Every distinct (ticker, date, open, high, low, close, volume)
        offered for days ``0 .. last_day`` — the reference the bronze and
        gold checks recompute from."""
        c = self._cols
        return [
            (
                s,
                self._dates[d],
                float(f"{c['open'][i, d]:.4f}"),
                float(f"{c['high'][i, d]:.4f}"),
                float(f"{c['low'][i, d]:.4f}"),
                float(f"{c['close'][i, d]:.4f}"),
                int(c["volume"][i, d]),
            )
            for s, i in self._index.items()
            for d in range(last_day + 1)
        ]


def corpus_docs(
    seed: int, n: int, first_id: int = 0, pool: list[str] | None = None
) -> pa.Table:
    """``n`` documents with ids ``first_id ..`` (append-only).

    ``EXACT_DUP_RATE`` of them copy an earlier text verbatim and
    ``NEAR_DUP_RATE`` copy one with ~3 % of its words replaced — the copy source is drawn
    from ``pool`` (texts of earlier batches) plus the batch's own earlier
    docs, so duplicates also cross batch boundaries.
    """
    r = _rng(seed, f"corpus:{first_id}")
    texts = _texts(r, n, 12, 96)
    earlier = list(pool or [])
    words = np.array(WORDS)
    kind = r.random(n)
    for i in range(n):
        avail = len(earlier) + i
        if not avail or kind[i] >= EXACT_DUP_RATE + NEAR_DUP_RATE:
            continue
        j = int(r.integers(0, avail))
        base = earlier[j] if j < len(earlier) else texts[j - len(earlier)]
        if kind[i] < EXACT_DUP_RATE:
            texts[i] = base
            continue
        toks = base.split()
        for j in np.flatnonzero(r.random(len(toks)) < 0.03):
            toks[j] = words[r.integers(0, len(WORDS))]
        texts[i] = " ".join(toks)
    return pa.table(
        {
            "doc_id": np.arange(first_id, first_id + n, dtype="int64"),
            "text": texts,
            "lang": np.array(LANGS)[r.choice(5, n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(first_id, first_id + n)],
            "n_chars": np.array([len(s) for s in texts], dtype="int64"),
        }
    )

