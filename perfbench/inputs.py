"""Seeded inputs for the benchmark workloads.

Every input is a pure function of the workload seed, so two runs with
one seed see the same pages, zones and documents. The document shape
follows ``scripts/gen_sf_replica.py`` (uniform 10-100 words from a
30-word vocabulary, 5 % planted near-duplicates ending in " dup"); the
vocabulary is copied here so that the benchmark's inputs cannot drift
when that script changes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
DUP_FRAC = 0.05


class DfCapExceeded(RuntimeError):
    """A shingle is shared by more docs than the jaccard ``max_df`` cap:
    the capped operator would drop candidates, so the exact reference
    no longer describes what it must return."""


def _random_text(rng: np.random.Generator) -> str:
    k = int(rng.integers(10, 101))
    return " ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), size=k))


def gen_docs(n: int, seed: int) -> pd.DataFrame:
    """``n`` docs with ids 0..n-1; 5 % copy an earlier doc + " dup"."""
    rng = np.random.default_rng([seed, 0])
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < DUP_FRAC:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(_random_text(rng))
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})


def gen_batch(base: pd.DataFrame, k: int, n: int, seed: int) -> pd.DataFrame:
    """Batch ``k`` of ``n`` new docs for the incremental index.

    Ids continue after the base and after batches 0..k-1, so batches
    are disjoint from the index and from each other. 5 % of the docs
    are near-dups of a base doc and 5 % of an earlier doc of the same
    batch; the rest are fresh random texts.
    """
    rng = np.random.default_rng([seed, 1, k])
    first_id = len(base) + k * n
    base_texts = base["text"].to_numpy()
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if u < DUP_FRAC:
            texts.append(base_texts[rng.integers(0, len(base_texts))] + " dup")
        elif u < 2 * DUP_FRAC and i > 0:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(_random_text(rng))
    return pd.DataFrame(
        {"doc_id": np.arange(first_id, first_id + n, dtype=np.int64), "text": texts}
    )


def check_max_df(doc_freq: np.ndarray, max_df: int) -> int:
    """Raise :class:`DfCapExceeded` unless every shingle's document
    frequency is at most ``max_df``; return the largest one."""
    top = int(doc_freq.max()) if len(doc_freq) else 0
    if top > max_df:
        raise DfCapExceeded(
            f"a shingle occurs in {top} docs, above max_df={max_df}: "
            "shrink the corpus or raise the cap"
        )
    return top
