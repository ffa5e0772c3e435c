"""Seeded input generators. Same seed, same frames, byte for byte.

Shapes follow the repository's fixtures: the reference's t1/t2
unit-test frames (FIXTURES.md §1), and the ``documents`` table of the
repository's synthetic test data, word-salad texts with planted
near-copies.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

def fixture_frames(seed: int, n_t1: int, n_t2: int) -> dict[str, pd.DataFrame]:
    """The reference's unit-test frames, scaled: t1(a, b, c) and t2(a, b)."""
    rng = np.random.default_rng([seed, 2])
    t1 = pd.DataFrame(
        {
            "a": [f"t_{i}" for i in rng.integers(0, 1000, n_t1)],
            "b": rng.random(n_t1),
            "c": rng.integers(0, 100, n_t1),
        }
    )
    t2 = pd.DataFrame(
        {"a": [f"t_{i}" for i in rng.integers(0, 1000, n_t2)], "b": rng.random(n_t2)}
    )
    return {"t1": t1, "t2": t2}


def documents(seed: int, n: int, n_sources: int = 20, dup_share: float = 0.05,
              drop_share: float = 19 / 5000) -> pd.DataFrame:
    """Word-salad documents shaped like the test data's ``documents`` table.

    Texts are 10-100 words drawn uniformly from a 31-word vocabulary;
    ``source`` is ``src<doc_id mod n_sources>``. A ``dup_share`` of the
    documents are near-copies (`` dup`` appended) of distinct originals
    that are not copies themselves. The source-partitioned r63 pipeline
    pairs a copy only with an original in its own source, so the number
    of same-source copies sets how many documents it drops. On the sf0.1
    test data it drops 19 of 5,000 (``drop_share``); here that share of
    the ``n`` documents, rounded, are copies in their original's source
    and the other copies are placed in another source. Every seed
    therefore plants the same number of pairs; chance overlaps of short
    texts add a few.
    """
    rng = np.random.default_rng([seed, 3])
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(10, 101, n)]
    n_dups = round(dup_share * n)
    n_same = max(1, round(drop_share * n))
    order = rng.permutation(n)
    copies, pool = order[:n_dups], list(order[n_dups:])
    for k, i in enumerate(copies):
        same = k < n_same
        j = next(j for j in pool if (j % n_sources == i % n_sources) == same)
        pool.remove(j)
        texts[i] = texts[j] + " dup"
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % n_sources}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
