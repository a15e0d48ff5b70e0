"""Seeded inputs for the benchmark workloads.

The pipeline workload uses the library's own synthetic corpus
(``go_dedupe_spark.synth.generate``). The ``doc_leaves`` workload needs
a ``documents`` table like the one the ER entry queries read (doc_id,
text, lang, source, n_chars). Its parameters are read off the sf0.1
``documents`` table (5,000 rows; ``corpus_stats.py`` measures both, and
erbench/README.md lists the figures):

- text: 10-100 words, uniform, drawn uniformly from the same 30-word
  vocabulary;
- lang: en/zh/es/fr/de weighted 41/15/15/15/14, drawn independently for
  every document, copies included;
- source: ``src<doc_id mod 20>``;
- 5% of the documents are overwritten, one after another, with the text
  of a uniformly drawn other document plus the token ``dup``. A source
  may itself be a copy (``dup dup`` chains) or be overwritten later.

The planted groups are the labels that ``pairwise_f1`` is scored
against: two documents are a positive pair when their texts descend
from the same generated text.
"""

from __future__ import annotations

import random

import pandas as pd

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [41, 15, 15, 15, 14]
WORDS = (10, 100)
N_SOURCES = 20
DUP_FRACTION = 0.05


def make_documents(n_docs: int, seed: int, langs=LANGS, weights=LANG_WEIGHTS,
                   words=WORDS) -> tuple[pd.DataFrame, list[list[int]]]:
    """-> (documents, groups). ``groups`` lists the doc_ids of each
    planted group of two or more documents with a common origin."""
    rng = random.Random(seed)
    texts: list[str] = []
    doc_langs: list[str] = []
    for _ in range(n_docs):
        n_words = rng.randint(*words)
        texts.append(" ".join(rng.choice(VOCAB) for _ in range(n_words)))
        doc_langs.append(rng.choices(langs, weights=weights, k=1)[0])
    origin = list(range(n_docs))
    for d in rng.sample(range(n_docs), k=int(n_docs * DUP_FRACTION)):
        src = rng.randrange(n_docs - 1)
        src += src >= d
        texts[d] = texts[src] + " dup"
        origin[d] = origin[src]
    docs = pd.DataFrame({
        "doc_id": pd.Series(range(n_docs), dtype="int64"),
        "text": texts,
        "lang": doc_langs,
        "source": [f"src{i % N_SOURCES}" for i in range(n_docs)],
    })
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    by_origin: dict[int, list[int]] = {}
    for d, o in enumerate(origin):
        by_origin.setdefault(o, []).append(d)
    return docs, [g for g in by_origin.values() if len(g) > 1]
