"""Seeded workload inputs. The same seed gives the same inputs; the
program sees only the generated tables.

Row selections (kNN queries and stops, planted near-duplicate
documents) use an integer hash of (id, seed) that Spark and Python
compute identically, never ``DataFrame.sample``, whose pick depends on
partitioning.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

#: Vocabulary of the synthetic documents (ASCII, so byte shingles equal
#: character shingles).
WORDS = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "join shuffle plan cache node way route stop tile cell map reduce task"
).split()

_MULT = 2654435761  # Knuth's multiplicative constant
_MASK = (1 << 32) - 1


def _salt(seed: int) -> int:
    # ids stay below 2^31 and the salt below 1.01e9, so (id + salt) * _MULT
    # fits in a signed 64-bit long: no wraparound in numpy, no ANSI
    # overflow error in Spark
    return (seed % 1009) * 1_000_003


def id_hash(ids, seed: int):
    """32-bit hash of (id, seed) as numpy int64, equal to
    :func:`id_hash_col` on the same ids."""
    ids = np.asarray(ids, dtype=np.int64)
    return ((ids + np.int64(_salt(seed))) * _MULT) & _MASK


def id_hash_col(col, seed: int):
    """Spark twin of :func:`id_hash`."""
    from pyspark.sql import functions as F

    return F.pmod((col + F.lit(_salt(seed))) * F.lit(_MULT), F.lit(1 << 32))


def documents(n_docs: int, seed: int) -> tuple[pd.DataFrame, dict[int, int]]:
    """``n_docs`` random-word documents plus planted near-duplicate
    chains: ``n_docs // 10`` originals each get two variants, the first
    with one appended word and the second with two, so the chain's
    pairwise 9-shingle Jaccard stays above 0.9. Returns (docs,
    variant -> original).

    Originals are the documents of 200+ characters with the smallest
    (id, seed) hash: a variant of those shares at least ~90% of its
    shingles, far above the 0.5 threshold, where a min-wise hash family
    with 16 bands of 4 misses a pair with odds below 1e-12.
    """
    rng = np.random.default_rng(seed)
    texts = []
    for _ in range(n_docs):
        target = int(rng.integers(44, 578))
        words: list[str] = []
        while sum(len(w) + 1 for w in words) < target:
            words.append(WORDS[int(rng.integers(len(WORDS)))])
        texts.append(" ".join(words))
    ids = np.arange(n_docs, dtype=np.int64)
    long_enough = [int(i) for i in ids if len(texts[i]) >= 200]
    order = np.argsort(id_hash(long_enough, seed), kind="stable")
    planted = sorted(long_enough[i] for i in order[: n_docs // 10])
    out_ids, out_texts = list(ids), list(texts)
    origin: dict[int, int] = {}
    for i in planted:
        text = texts[i]
        for step in (1, 2):
            text = text + " " + WORDS[int(rng.integers(len(WORDS)))]
            vid = step * 10_000_000 + i
            out_ids.append(vid)
            out_texts.append(text)
            origin[vid] = i
    return pd.DataFrame({"doc_id": out_ids, "text": out_texts}), origin
