"""Seeded benchmark inputs.

The documents table reproduces the shape of the sf0.1 ``documents`` test
table (5,000 rows of word soup over a 30-word vocabulary,
10-100 words each, src0..src19 round-robin, 5% exact copies of an earlier
document with a trailing `` dup``).  It is generated here, from a fixed
table seed, because the benchmark reads nothing outside its checkout.  The
run's ``--seed`` only picks subsets and noise.
"""

from __future__ import annotations

import random

import pandas as pd

TABLE_SEED = 42
N_DOCS = 5000

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [0.41, 0.15, 0.15, 0.15, 0.14]


def documents_table(n_docs: int = N_DOCS, seed: int = TABLE_SEED) -> pd.DataFrame:
    """(doc_id, text, lang, source, n_chars) plus ``true_group``: the doc_id
    of the original a ``dup`` row copies (its own id otherwise)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            src = rows[rng.randrange(i)]
            text, group = src["text"] + " dup", src["true_group"]
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
            group = i
        rows.append(dict(
            doc_id=i, text=text,
            lang=rng.choices(LANGS, LANG_WEIGHTS)[0],
            source=f"src{i % 20}", n_chars=len(text), true_group=group,
        ))
    return pd.DataFrame(rows)


def noisy_copy(text: str, rng: random.Random) -> str:
    """Whitespace shift plus 0-3 letter typos, the noise model of
    ``corpus.py`` applied to prose."""
    out = text
    if rng.random() < 0.5:
        i = out.find(" ", rng.randrange(len(out)))
        if i >= 0:
            out = out[:i] + "  " + out[i + 1:]
    for _ in range(rng.randint(0, 3)):
        i = rng.randrange(len(out))
        if out[i].isalpha():
            out = out[:i] + chr((ord(out[i]) - 97 + 1) % 26 + 97) + out[i + 1:]
    return out


def curate_input(table: pd.DataFrame, seed: int, frac: float
                 ) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """A seeded ``frac`` subset of the table plus one noisy near-copy of
    each subset document (ids offset by the table size); the previous
    snapshot, an independent seeded subset of the same size that the
    dedup index holds; and the decontamination eval subset, drawn from the
    subset, whose documents the curated corpus must not keep."""
    rng = random.Random(seed)
    n = len(table)
    pick = sorted(rng.sample(range(n), int(n * frac)))
    base = table.iloc[pick]
    copies = base.assign(
        doc_id=base["doc_id"] + n,
        text=[noisy_copy(t, rng) for t in base["text"]],
    )
    docs = pd.concat([base, copies], ignore_index=True)
    docs["n_chars"] = docs["text"].str.len()
    snapshot = table.iloc[sorted(rng.sample(range(n), len(pick)))]
    evals = table.iloc[sorted(rng.sample(pick, max(1, len(pick) // 50)))]
    return docs, snapshot, evals

