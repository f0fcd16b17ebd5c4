"""Seeded input generator for the benchmark.

The program's own fixtures are the sf0.1 tables (TPC-H-ish star
schema plus ``events``, ``documents`` and ``embeddings``). The
benchmark cannot read them, so it rebuilds an sf0.1-shaped *universe*
from a fixed seed (same key spaces, value domains and row counts) and
then draws a workload's input from it with the run's ``--seed``:

- a seeded subset of the parent rows (customers, event users,
  documents, embedding vectors);
- child rows follow their sampled parents (orders of the sampled
  customers, lineitems of those orders, events of the sampled users);
- every table is written in a seeded row order.

Small dimensions (region, nation, supplier, part) are kept whole so
no child row loses its parent. ``mr_jobs`` also gets a line-text
corpus: the sampled documents, replicated, plus the tagged
customer/orders lines of the reduce-side join.

Usage: python3 perfbench/gen.py OUT_DIR --seed N [--workload NAME]
"""

from __future__ import annotations

import argparse
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

UNIVERSE_SEED = 20240101

# sf0.1 row counts of the program's fixtures
N_CUSTOMER = 15_000
N_ORDERS = 150_000
N_PART = 20_000
N_SUPPLIER = 1_000
N_USERS = 1_500
N_EVENTS = 100_000
N_DOCS = 5_000
N_VECS = 2_000
EMB_DIM = 64
N_LABELS = 10

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "green"]
P_NOUN = ["bolt", "gear", "plate", "ring", "nut", "pipe", "valve", "wheel"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

US_PER_DAY = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


@dataclass(frozen=True)
class Sizes:
    """Share of each parent table a workload samples, and how many
    times ``mr_jobs`` replicates the document corpus (0: no corpus)."""

    customers: float
    users: float
    documents: float
    vectors: float
    corpus_copies: int = 0


def _days(rng, n, lo_day, hi_day, epoch):
    return epoch + rng.integers(lo_day, hi_day + 1, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


class Universe:
    """The sf0.1-shaped tables, built from UNIVERSE_SEED only (never from
    the run's seed), so every run samples the same population."""

    def __init__(self) -> None:
        rng = np.random.default_rng(UNIVERSE_SEED)
        self.region = pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            }
        )
        self.nation = pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        )
        self.supplier = pa.table(
            {
                "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
                "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2),
            }
        )
        adj = rng.integers(0, len(P_ADJ), N_PART)
        noun = rng.integers(0, len(P_NOUN), N_PART)
        self.part = pa.table(
            {
                "p_partkey": np.arange(N_PART, dtype=np.int64),
                "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj, noun)],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
                "p_type": [P_TYPES[t] for t in rng.integers(0, len(P_TYPES), N_PART)],
                "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) / 10.0, 2),
            }
        )
        self.customer = {
            "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
            "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
            "c_mktsegment": rng.integers(0, len(SEGMENTS), N_CUSTOMER),
        }
        self.orders = {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
            "o_orderstatus": rng.integers(0, 3, N_ORDERS),
            "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
            "o_orderdate": _days(rng, N_ORDERS, 0, 2404, EPOCH_1995),
            "o_orderpriority": rng.integers(0, len(PRIORITIES), N_ORDERS),
        }
        per_order = rng.integers(1, 8, N_ORDERS)
        n_li = int(per_order.sum())
        starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
        self.lineitem = {
            "l_orderkey": np.repeat(self.orders["o_orderkey"], per_order),
            "l_partkey": rng.integers(0, N_PART, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, N_SUPPLIER, n_li).astype(np.int64),
            "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.integers(0, 3, n_li),
            "l_linestatus": rng.integers(0, 2, n_li),
            "l_shipdate": _days(rng, n_li, 1, 2499, EPOCH_1995),
        }
        self.events = {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": EPOCH_2024
            + np.sort(rng.integers(0, 30 * US_PER_DAY, N_EVENTS)).astype("timedelta64[us]"),
            "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
            "event_type": rng.integers(0, len(EVENT_TYPES), N_EVENTS),
            "value": np.round(rng.gamma(2.0, 50.0, N_EVENTS), 2),
            "props": rng.integers(0, 100, N_EVENTS),
        }
        self.documents = self._documents(rng)
        centers = rng.normal(0.0, 1.0, (N_LABELS, EMB_DIM))
        labels = rng.integers(0, N_LABELS, N_VECS)
        vecs = centers[labels] + rng.normal(0.0, 0.8, (N_VECS, EMB_DIM))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        self.embeddings = {
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": vecs.astype(np.float32),
            "label": labels.astype(np.int32),
        }

    @staticmethod
    def _documents(rng) -> dict:
        """Random-word documents over a 31-token vocabulary; one in
        twenty is a near-duplicate (an earlier text plus ``dup``)."""
        texts: list[str] = []
        for i in range(N_DOCS):
            if i >= 50 and rng.random() < 0.05:
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            else:
                words = rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))
                texts.append(" ".join(VOCAB[w] for w in words))
        return {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(len(LANGS), N_DOCS, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }


def _sample(rng, n: int, share: float) -> np.ndarray:
    """Seeded subset of range(n), in seeded order."""
    return rng.permutation(n)[: max(1, int(round(n * share)))]


def _take(cols: dict, idx: np.ndarray) -> dict:
    return {k: (v[idx] if isinstance(v, np.ndarray) else [v[i] for i in idx]) for k, v in cols.items()}


def _children(rng, cols: dict, key: str, parents: np.ndarray) -> dict:
    """Rows of ``cols`` whose ``key`` is a sampled parent, shuffled."""
    idx = np.flatnonzero(np.isin(cols[key], parents))
    return _take(cols, rng.permutation(idx))


def _lookup(values: list[str], codes: np.ndarray) -> list[str]:
    return [values[c] for c in codes]


def sample_tables(u: Universe, seed: int, sizes: Sizes) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    cust = _take(u.customer, _sample(rng, N_CUSTOMER, sizes.customers))
    orders = _children(rng, u.orders, "o_custkey", cust["c_custkey"])
    li = _children(rng, u.lineitem, "l_orderkey", orders["o_orderkey"])
    users = _sample(rng, N_USERS, sizes.users)
    ev = _children(rng, u.events, "user_id", users)
    docs = _take(u.documents, _sample(rng, N_DOCS, sizes.documents))
    emb = _take(u.embeddings, _sample(rng, N_VECS, sizes.vectors))
    return {
        "region": u.region.take(rng.permutation(u.region.num_rows)),
        "nation": u.nation.take(rng.permutation(u.nation.num_rows)),
        "supplier": u.supplier.take(rng.permutation(u.supplier.num_rows)),
        "part": u.part.take(rng.permutation(u.part.num_rows)),
        "customer": pa.table(
            {
                "c_custkey": cust["c_custkey"],
                "c_name": [f"Customer#{k:09d}" for k in cust["c_custkey"]],
                "c_nationkey": cust["c_nationkey"],
                "c_acctbal": cust["c_acctbal"],
                "c_mktsegment": _lookup(SEGMENTS, cust["c_mktsegment"]),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": orders["o_orderkey"],
                "o_custkey": orders["o_custkey"],
                "o_orderstatus": _lookup(["F", "O", "P"], orders["o_orderstatus"]),
                "o_totalprice": orders["o_totalprice"],
                "o_orderdate": orders["o_orderdate"],
                "o_orderpriority": _lookup(PRIORITIES, orders["o_orderpriority"]),
            }
        ),
        "lineitem": pa.table(
            {
                **{k: li[k] for k in ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")},
                **{k: li[k] for k in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")},
                "l_returnflag": _lookup(["A", "N", "R"], li["l_returnflag"]),
                "l_linestatus": _lookup(["F", "O"], li["l_linestatus"]),
                "l_shipdate": li["l_shipdate"],
            }
        ),
        "events": pa.table(
            {
                "event_id": ev["event_id"],
                "ts": ev["ts"],
                "user_id": ev["user_id"],
                "event_type": _lookup(EVENT_TYPES, ev["event_type"]),
                "value": ev["value"],
                "props": [f'{{"k": {p}}}' for p in ev["props"]],
            }
        ),
        "documents": pa.table(docs),
        "embeddings": pa.table(
            {
                "vec_id": emb["vec_id"],
                "embedding": pa.array(list(emb["embedding"]), pa.list_(pa.float32())),
                "label": emb["label"],
            }
        ),
    }


def _write_lines(dir_path: str, lines: list[str], files: int) -> None:
    os.makedirs(dir_path, exist_ok=True)
    for i in range(files):
        with open(os.path.join(dir_path, f"part-{i:05d}.txt"), "w") as f:
            f.writelines(line + "\n" for line in lines[i::files])


def write_corpus(out_dir: str, tables: dict[str, pa.Table], seed: int, copies: int) -> None:
    """Line-text inputs of ``mr_jobs`` under ``out_dir/corpus``:
    ``docs`` (document texts replicated ``copies`` times, seeded
    order), ``cust`` and ``ord`` (the join's tagged records)."""
    rng = np.random.default_rng(seed + 1)
    texts = tables["documents"].column("text").to_pylist() * copies
    texts = [texts[i] for i in rng.permutation(len(texts))]
    corpus = os.path.join(out_dir, "corpus")
    _write_lines(os.path.join(corpus, "docs"), texts, 4)
    cust = tables["customer"]
    _write_lines(
        os.path.join(corpus, "cust"),
        [
            f"C|{k}|{s}"
            for k, s in zip(cust.column("c_custkey").to_pylist(), cust.column("c_mktsegment").to_pylist())
        ],
        2,
    )
    orders = tables["orders"]
    _write_lines(
        os.path.join(corpus, "ord"),
        [
            f"O|{c}|{k}"
            for c, k in zip(orders.column("o_custkey").to_pylist(), orders.column("o_orderkey").to_pylist())
        ],
        2,
    )


def generate(out_dir: str, seed: int, sizes: Sizes) -> dict[str, int]:
    """Write the workload's tables (and corpus) into ``out_dir``;
    returns the row count of each table."""
    tables = sample_tables(Universe(), seed, sizes)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    if sizes.corpus_copies:
        write_corpus(out_dir, tables, seed, sizes.corpus_copies)
    return {name: t.num_rows for name, t in tables.items()}


def main() -> None:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workload", default="sql_analytics", choices=sorted(WORKLOADS))
    args = ap.parse_args()
    print(generate(args.out_dir, args.seed, WORKLOADS[args.workload].sizes))


if __name__ == "__main__":
    main()
