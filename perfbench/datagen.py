"""Seeded generators for the tables the benchmark workloads read.

Each table has the schema and value shape of the package's own test
data (``catalog.TABLES``): ``events`` feeds the tick source,
``orders`` seeds the txlog base table, ``documents`` and
``embeddings`` feed the curation operators. Only numpy and pyarrow
are used, so staging costs milliseconds and the same seed writes the
same bytes.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
LANGS = ("en", "fr", "es", "zh", "de")
LANG_P = (0.42, 0.145, 0.145, 0.145, 0.145)
STATUSES = ("O", "F", "P")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EMB_DIM = 64
N_LABELS = 10

_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400 * 1_000_000


def events(rng: np.random.Generator, n: int) -> pa.Table:
    """Event rows in event-time order over 30 days; ``event_type``
    is the tick source's ticker, ``value`` its price and the JSON
    ``props.k`` its volume."""
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(_EPOCH_2024 + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(n // 66, 2), n)),
        "event_type": pa.array(np.array(EVENT_TYPES)[
            rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([json.dumps({"k": int(k)})
                           for k in rng.integers(0, 100, n)]),
    })


def orders(rng: np.random.Generator, n: int) -> pa.Table:
    start = np.datetime64("1995-01-01", "D")
    span = int((np.datetime64("2001-08-01", "D") - start).astype(np.int64))
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, max(n // 10, 2), n)),
        "o_orderstatus": pa.array(np.array(STATUSES)[
            rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": pa.array(
            (start + rng.integers(0, span + 1, n).astype("timedelta64[D]"))
            .astype("datetime64[us]")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            rng.integers(0, 5, n)]),
    })


def documents(rng: np.random.Generator, n: int,
              dup_share: float = 0.05) -> pa.Table:
    """Bag-of-words documents; ``dup_share`` of them are an earlier
    document plus one or two trailing ``dup`` tokens, the near
    duplicates the dedup operators look for."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(VOCAB[w] for w in words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[
            rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors scattered around ``N_LABELS`` weak centroids."""
    centers = rng.normal(0.0, 0.02, (N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    x = centers[labels] + rng.normal(0.0, 1.0 / np.sqrt(EMB_DIM),
                                     (n, EMB_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })


GENERATORS = {"events": events, "orders": orders,
              "documents": documents, "embeddings": embeddings}


def write_tables(sf_dir: str, seed: int, sizes: dict[str, int]) -> None:
    """Write each ``{table: rows}`` of ``sizes`` as
    ``<sf_dir>/<table>.parquet``, one generator stream per table."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, n in sizes.items():
        rng = np.random.default_rng([seed, list(GENERATORS).index(name)])
        pq.write_table(GENERATORS[name](rng, n),
                       os.path.join(sf_dir, f"{name}.parquet"))
