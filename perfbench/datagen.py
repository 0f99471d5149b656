"""Seeded input generation for the benchmark.

The engine's fixture tables are not part of the repository, so the
benchmark makes its own with the schemas and value domains FIXTURES.md
documents: a TPC-H-ish star schema (``supplier`` and ``part`` only as
key ranges), an ``events`` stream table over 30 days with 150 users,
``documents`` drawn the way the fixture's are, and 64-wide float32
``embeddings``.  One table departs from the fixtures:
``open_documents``, a corpus over a wider vocabulary with sparse planted
near-copies, which only the replicated-corpus dedup op reads (README.md,
"Documents").  Every table draws from a stream seeded by ``--seed``; the
engine receives only the written Parquet files, written with pyarrow so
that generating them is no engine work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "orders", "lineitem",
    "events", "documents", "embeddings", "open_documents",
)

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
EVENT_T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
EVENT_SPAN_US = 30 * 86_400 * 1_000_000
_ORDER_T0_MS = 788_918_400_000  # 1995-01-01
_ORDER_SPAN_MS = 2_404 * 86_400_000  # to 2001-08-01
_DAY_MS = 86_400_000

# The fixture's documents: 10-100 words drawn uniformly from 30
# database-themed words; 5% are another document with " dup" appended
# and a few are verbatim copies.  At 500 documents this generator gives
# about 29,700 pairs with Jaccard >= 0.8 and 445 distinct token sets;
# the fixture has 30,328 (FIXTURES.md) and 446.
FIXTURE_WORDS = np.array((
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split())
DUP_SHARE = 0.05
COPY_SHARE = 0.0016

# The open corpus: a fixed (seed-independent) 300-word vocabulary, so
# that chance near-duplicates are rare and the planted near-copies make
# the pairs; its 3x replica has enough distinct token sets to take the
# prefix-filter branch while its DuckDB oracle stays cheap.
_VOCAB_SIZE = 300
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = np.array([0.44, 0.14, 0.15, 0.13, 0.14])  # the fixture's shares


def _vocab() -> np.ndarray:
    rng = np.random.default_rng(20240101)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < _VOCAB_SIZE:
        n = int(rng.integers(3, 8))
        words.add("".join(rng.choice(letters, n)))
    return np.array(sorted(words))


def _money(rng, lo, hi, n) -> np.ndarray:
    """Two-decimal values, exact in cents, so DECIMAL(18,2) casts match
    on both engines."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts_us(values) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


def _ts_ms(values) -> pa.Array:
    return pa.array(values, type=pa.timestamp("ms"))


def region() -> pa.Table:
    names = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    return pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": names,
    })


def nation() -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def customer(rng, n: int) -> pa.Table:
    segs = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    )
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": segs[rng.integers(0, 5, n)],
    })


def orders(rng, n: int, n_cust: int) -> pa.Table:
    status = np.array(["F", "P", "O"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    days = rng.integers(0, _ORDER_SPAN_MS // _DAY_MS, n)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": status[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 900, 500_000, n),
        "o_orderdate": _ts_ms(_ORDER_T0_MS + days * _DAY_MS),
        "o_orderpriority": prio[rng.integers(0, 5, n)],
    })


def lineitem(rng, n: int, n_orders: int, n_part: int, n_supp: int) -> pa.Table:
    days = rng.integers(1, _ORDER_SPAN_MS // _DAY_MS + 95, n)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 100_000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts_ms(_ORDER_T0_MS + days * _DAY_MS),
    })


def events(rng, n: int, n_users: int) -> pa.Table:
    """``n`` events over 30 days, ``event_id`` in event-time order."""
    ts = np.sort(rng.integers(0, EVENT_SPAN_US, n)) + EVENT_T0_US
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts_us(ts),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": np.round(np.minimum(rng.exponential(50.0, n), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _doc_table(rng, texts: list[str]) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _LANGS[rng.choice(5, n, p=_LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def documents(rng, n: int) -> pa.Table:
    """``n`` documents the way the fixture draws them (FIXTURE_WORDS)."""
    base = [
        " ".join(FIXTURE_WORDS[rng.integers(0, len(FIXTURE_WORDS), int(k))])
        for k in rng.integers(10, 101, n)
    ]
    texts = list(base)
    kind = rng.random(n)
    src = rng.integers(0, n, n)
    for i in np.flatnonzero(kind < COPY_SHARE + DUP_SHARE):
        texts[i] = base[src[i]] + ("" if kind[i] < COPY_SHARE else " dup")
    return _doc_table(rng, texts)


NEAR_SHARE = 0.3
EXACT_SHARE = 0.01


def open_documents(rng, n: int) -> pa.Table:
    """``n`` documents of 10-20 words of a 300-word vocabulary.

    ``NEAR_SHARE`` of them are near-copies of an earlier one with one
    word replaced (token-set Jaccard >= 9/11 against their source) and
    ``EXACT_SHARE`` are verbatim copies, so every dedup operator has
    pairs to find and the batch-vs-corpus ops find exact and near
    verdicts."""
    vocab = _vocab()
    texts: list[str] = []
    kind = rng.random(n)
    for i in range(n):
        if i > 0 and kind[i] < EXACT_SHARE:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 0 and kind[i] < EXACT_SHARE + NEAR_SHARE:
            words = texts[int(rng.integers(0, i))].split(" ")
            if len(words) >= 10:
                words[int(rng.integers(0, len(words)))] = vocab[
                    int(rng.integers(0, _VOCAB_SIZE))
                ]
                texts.append(" ".join(words))
                continue
        length = int(rng.integers(10, 21))
        texts.append(" ".join(vocab[rng.integers(0, _VOCAB_SIZE, length)]))
    return _doc_table(rng, texts)


def embeddings(rng, n: int) -> pa.Table:
    flat = rng.uniform(-0.525, 0.458, n * 64).astype(np.float32)
    offsets = pa.array(np.arange(0, n * 64 + 1, 64, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(flat)),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def make_tables(seed: int, sizes: dict[str, int], names) -> dict[str, pa.Table]:
    """Generate ``names`` (a subset of TABLES) at ``sizes`` from ``seed``.

    Each table draws from its own child stream, so the tables a workload
    does not ask for never shift the ones it does."""
    streams = dict(zip(TABLES, np.random.SeedSequence(seed).spawn(len(TABLES))))

    def rng(t):
        return np.random.default_rng(streams[t])

    s = sizes
    build = {
        "region": lambda: region(),
        "nation": lambda: nation(),
        "customer": lambda: customer(rng("customer"), s["customer"]),
        "orders": lambda: orders(rng("orders"), s["orders"], s["customer"]),
        "lineitem": lambda: lineitem(
            rng("lineitem"), s["lineitem"], s["orders"], s["part"], s["supplier"]
        ),
        "events": lambda: events(rng("events"), s["events"], s["users"]),
        "documents": lambda: documents(rng("documents"), s["documents"]),
        "open_documents": lambda: open_documents(
            rng("open_documents"), s["open_documents"]
        ),
        "embeddings": lambda: embeddings(rng("embeddings"), s["embeddings"]),
    }
    return {t: build[t]() for t in names}


def write_table(tab: pa.Table, sf_dir: str, name: str, n_files: int = 1) -> None:
    """Write ``tab`` as ``<sf_dir>/<name>.parquet`` — one file, or a
    directory of ``n_files`` files (the multi-file layout a staged lake
    prefix has; Spark reads both forms through the same path)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if n_files <= 1:
        pq.write_table(tab, path)
        return
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, tab.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        pq.write_table(
            tab.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(path, f"part-{i}.parquet"),
        )


def permute(rng, tab: pa.Table) -> pa.Table:
    return tab.take(pa.array(rng.permutation(tab.num_rows)))
