"""Seeded inputs: a TPC-H-like ``lineitem`` table and a ``documents`` corpus.

Everything here is a pure function of a ``numpy.random.Generator``, so one
seed always yields the same inputs. The engine only ever sees the tables
these functions return.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

#: Order keys are multiples of KEY_STRIDE; the keys in between never occur
#: in a generated table, so a workload can insert new keys inside any key
#: window without colliding with existing rows.
KEY_STRIDE = 4

# The corpus vocabulary and language mix follow the synthetic `documents`
# table the corpus queries are written for (35 words, five languages,
# 20 sources).
WORDS = np.array(
    "a the row key agg scan slow fast table value part hash merge batch spark "
    "window order data column join small line customer query big stream sort "
    "filter group vector".split()
)
LANGS = np.array(["en", "zh", "es", "de", "fr"])
LANG_P = np.array([0.44, 0.15, 0.14, 0.14, 0.13])
N_SOURCES = 20

_FLAGS = pa.array(["A", "N", "R"])
_STATUS = pa.array(["F", "O"])
_EPOCH_1992 = 8035  # 1992-01-01 as days since 1970-01-01


def _comments(rng: np.random.Generator, n: int) -> pa.Array:
    pool = pa.array(
        [" ".join(rng.choice(WORDS, int(k))) for k in rng.integers(2, 7, 512)]
    )
    return pool.take(pa.array(rng.integers(0, len(pool), n)))


def lineitem(rng: np.random.Generator, orderkeys: np.ndarray) -> pa.Table:
    """One to seven lines per order key, in key order.

    ``l_quantity`` holds whole numbers and ``l_discount`` whole cents, so
    sums computed here and by the engine agree up to float rounding of at
    most a few ulps per row."""
    lines = rng.integers(1, 8, len(orderkeys))
    ok = np.repeat(np.asarray(orderkeys, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    ln = (np.arange(len(ok)) - starts + 1).astype(np.int32)
    n = len(ok)
    return pa.table(
        {
            "l_orderkey": ok,
            "l_partkey": rng.integers(1, 20_000, n),
            "l_suppkey": rng.integers(1, 1_000, n),
            "l_linenumber": ln,
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 100_000.0, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _FLAGS.take(pa.array(rng.integers(0, 3, n))),
            "l_linestatus": _STATUS.take(pa.array(rng.integers(0, 2, n))),
            "l_shipdate": pa.array(
                (_EPOCH_1992 + rng.integers(0, 2_400, n)).astype(np.int32), pa.date32()
            ),
            "l_comment": _comments(rng, n),
        }
    )


def order_keys(n_orders: int, first: int = 1) -> np.ndarray:
    """``n_orders`` consecutive keys on the KEY_STRIDE grid."""
    return (np.arange(first, first + n_orders, dtype=np.int64)) * KEY_STRIDE


def row_keys(t: pa.Table) -> np.ndarray:
    """A unique int64 per (l_orderkey, l_linenumber)."""
    return t.column("l_orderkey").to_numpy() * 16 + t.column("l_linenumber").to_numpy()


def documents(rng: np.random.Generator, n_docs: int, dup_share: float = 0.1) -> pa.Table:
    """Bag-of-words documents; ``dup_share`` of them are near-duplicates
    (one word changed) of an earlier document, so the dedup queries have
    candidates to find."""
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < dup_share:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 90))))
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
            "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
