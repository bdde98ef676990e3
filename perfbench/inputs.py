"""Seeded input tables for the benchmark workloads.

Every table is a pure function of ``(seed, size constants)``: the same
seed writes byte-identical parquet, so two commits measured on one seed
see the same inputs. Sizes are fixed per workload (only the random
structure varies with the seed), so timings of different seeds are
comparable.

Sizes and shapes follow the TPC-H scale-factor-0.1 tables the library's
graph and dedup queries are specified on (figures measured on those
tables with DuckDB):

- ``lineitem``: 600,000 lines in 147,236 orders over 20,000 parts,
  order sizes 1..17 lines (histogram below), parts uniform. Its
  co-purchase graph has 20,000 vertices and 1,196,000 edges (mean
  degree 119.6).
- ``documents``: the scale-factor-0.1 table has 5,000 documents of
  10..99 tokens (uniform) over a 30-word vocabulary (uniform), 8 exact
  copies and 250 near copies (a base document plus one extra token),
  giving 256 pairs at n-gram Jaccard >= 0.5. The benchmark writes three
  fifths of it with the same shape: 3,000 documents, 5 exact and 150
  near copies. Two timed runs of the full table do not fit the
  regression gate's time (perfbench/README.md).

The program under test receives only the written parquet files, read
through its own ``(spark, directory)`` entry points.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd

COPURCHASE_PARTS = 20_000
COPURCHASE_ORDERS = 147_236
# orders per line count 1..17 in the scale-factor-0.1 lineitem table
ORDER_SIZE_COUNTS = (
    11016, 21814, 29500, 29097, 23631, 15625, 8941, 4407, 1959, 818, 292, 93, 29, 10, 1, 2, 1,
)

CORPUS_DOCS = 3000
CORPUS_VOCAB = 30
DOC_TOKENS = (10, 99)
EXACT_COPIES = 5
NEAR_COPIES = 150
NEAR_MARK = "dup"  # the token a near copy appends to its base document


def write_lineitem(seed: int, out_dir: Path) -> Path:
    """``lineitem.parquet`` with ``l_orderkey, l_partkey`` (the two
    columns the co-purchase graph reads)."""
    rng = np.random.default_rng([seed, 1])
    counts = np.array(ORDER_SIZE_COUNTS, dtype=float)
    sizes = rng.choice(np.arange(1, len(counts) + 1), size=COPURCHASE_ORDERS, p=counts / counts.sum())
    orders = np.repeat(np.arange(1, COPURCHASE_ORDERS + 1, dtype=np.int64), sizes)
    parts = rng.integers(1, COPURCHASE_PARTS + 1, size=len(orders), dtype=np.int64)
    path = out_dir / "lineitem.parquet"
    pd.DataFrame({"l_orderkey": orders, "l_partkey": parts}).to_parquet(path, index=False)
    return path


def _vocabulary(rng) -> list[str]:
    syllables = ["ka", "lo", "mi", "ne", "ru", "sa", "te", "vo", "zi", "pa", "do", "gu"]
    words: set[str] = set()
    while len(words) < CORPUS_VOCAB:
        words.add("".join(rng.choice(syllables, size=int(rng.integers(1, 4)))))
    words.discard(NEAR_MARK)
    return sorted(words)


def write_documents(seed: int, out_dir: Path) -> Path:
    """``documents.parquet`` with ``doc_id, text``."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(_vocabulary(rng))
    n_base = CORPUS_DOCS - EXACT_COPIES - NEAR_COPIES
    texts = [
        " ".join(rng.choice(vocab, size=int(rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1))))
        for _ in range(n_base)
    ]
    copied = rng.choice(n_base, size=EXACT_COPIES + NEAR_COPIES, replace=False)
    texts += [texts[i] for i in copied[:EXACT_COPIES]]
    texts += [f"{texts[i]} {NEAR_MARK}" for i in copied[EXACT_COPIES:]]
    order = rng.permutation(len(texts))
    path = out_dir / "documents.parquet"
    pd.DataFrame(
        {"doc_id": np.arange(len(texts), dtype=np.int64), "text": [texts[i] for i in order]}
    ).to_parquet(path, index=False)
    return path
