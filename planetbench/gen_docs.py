"""Seeded document corpus for the curate-docs workload.

Writes a ``documents.parquet`` with the schema of the repository's synthetic
documents table (doc_id, text, lang, source, n_chars).  The corpus carries
what every curation stage acts on: exact duplicates, near-duplicates (a few
words changed), short and stopword-heavy pages the quality gates drop,
and e-mail addresses / phone numbers for the PII scrub.  The same seed
gives the same rows.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer index page cache shuffle task stage plan read write "
    "block file node way relation tag changeset comment user history planet"
).split()
STOPWORDS = "the a of and to in is it that for on with as was".split()
LANGS = ["en", "en", "en", "de", "fr", "zh"]
SCHEMA_DDL = "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"


def _doc(r: random.Random) -> str:
    kind = r.random()
    if kind < 0.08:  # too short for the quality gate
        return " ".join(r.choice(VOCAB) for _ in range(r.randrange(3, 15)))
    if kind < 0.15:  # stopword-heavy
        return " ".join(r.choice(STOPWORDS) for _ in range(r.randrange(30, 80)))
    # about a third stopwords, as in prose: the learned quality gate keeps
    # most of these
    words = [r.choice(STOPWORDS if r.random() < 0.35 else VOCAB)
             for _ in range(r.randrange(30, 120))]
    if r.random() < 0.1:
        words.insert(r.randrange(len(words)), f"mail{r.randrange(999)}@example.org")
    if r.random() < 0.05:
        words.insert(r.randrange(len(words)), f"555-{r.randrange(1000, 9999)}")
    return " ".join(words)


def generate(path: str, seed: int, n_docs: int) -> None:
    r = random.Random(seed)
    texts: list[str] = []
    for _ in range(n_docs):
        roll = r.random()
        if texts and roll < 0.03:  # exact duplicate
            texts.append(r.choice(texts))
        elif texts and roll < 0.10:  # near-duplicate: a few words replaced
            words = r.choice(texts).split()
            for _ in range(max(1, len(words) // 40)):
                words[r.randrange(len(words))] = r.choice(VOCAB)
            texts.append(" ".join(words))
        else:
            texts.append(_doc(r))
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([r.choice(LANGS) for _ in texts], pa.string()),
        "source": pa.array([f"src{r.randrange(5)}" for _ in texts], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path)
