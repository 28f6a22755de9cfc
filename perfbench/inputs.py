"""Seeded inputs for the two workloads.

Everything here is NumPy/pandas on the driver and depends only on the
seed and the fixed sizes passed in, so the same seed gives byte-identical
tables on any machine. The engine only ever sees the parquet files these
frames are written to; the planted truth stays on the driver for scoring.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from triple_accel_spark.sources.transcripts import generate_transcripts

# word-salad vocabulary in the style of the documents fixture table: a
# few dozen short query-engine words, so unrelated documents still share
# many q-grams and MinHash blocking produces a dense candidate set
VOCAB = (
    "a the and of batch part spark line column order small sort fast value "
    "scan hash slow group agg filter query big key window row table stream "
    "merge data vector join customer plan node task stage shuffle cache "
    "index page"
).split()

RIGHT_ID_OFFSET = 1_000_000
COPY_ID_OFFSET = 1_000_000


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """``(doc_id, text)``: ``n_docs`` word-salad documents of 8-96 words
    (about 45-580 characters, mean near 300). The multiset of lengths is
    the same for every seed, so seeds differ in content, not in size."""
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(VOCAB)
    lens = rng.permutation(np.linspace(8, 96, n_docs).round().astype(int))
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - n:e]) for n, e in zip(lens, ends)]
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})


def link_right(seed: int, docs: pd.DataFrame) -> pd.DataFrame:
    """Right table for linkage: every even ``doc_id`` with one seeded
    character span deleted (1 to len/20 characters), id offset by
    ``RIGHT_ID_OFFSET``. Each right record's true partner is its source."""
    rng = np.random.default_rng([seed, 2])
    src = docs[docs["doc_id"] % 2 == 0]
    out = []
    for text in src["text"]:
        span = int(rng.integers(1, max(1, len(text) // 20) + 1))
        pos = int(rng.integers(0, len(text) - span + 1))
        out.append(text[:pos] + text[pos + span:])
    return pd.DataFrame(
        {"id": src["doc_id"].to_numpy() + RIGHT_ID_OFFSET, "text": out}
    )


def corpus_with_copies(
    seed: int, docs: pd.DataFrame, copy_frac: float = 0.1
) -> tuple[pd.DataFrame, set[int]]:
    """The documents plus seeded copies of a ``copy_frac`` sample: a
    third byte-identical (exact dedup), a third with one word replaced
    and a third with one word deleted (near dedup). Copies take ids above
    every original, so a min-id dedup keeps the original. Returns
    ``(table, planted_ids)``."""
    rng = np.random.default_rng([seed, 3])
    n_copies = int(len(docs) * copy_frac)
    picks = np.sort(rng.choice(len(docs), n_copies, replace=False))
    ids, texts = [], []
    for i, row in enumerate(picks):
        words = docs["text"].iat[row].split(" ")
        kind = i % 3
        if kind == 1:
            words[int(rng.integers(0, len(words)))] = VOCAB[
                int(rng.integers(0, len(VOCAB)))
            ]
        elif kind == 2:
            del words[int(rng.integers(0, len(words)))]
        ids.append(COPY_ID_OFFSET + i)
        texts.append(" ".join(words))
    copies = pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64), "text": texts})
    return pd.concat([docs, copies], ignore_index=True), set(ids)


def transcripts(seed: int, n_turns: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """The engine's own transcript generator, cut to whole conversations
    of at most ``n_turns`` turns in all (at most 8 fewer), so every seed
    gives the same amount of work: ``(turns, truth_pairs)``. The
    generator gives ~8.6 turns per entity and scatters a cluster's
    conversations over the id range, so the cut drops random members and
    the truth keeps the pairs of the conversations kept."""
    turns, truth = generate_transcripts(n_entities=n_turns // 6, seed=seed)
    per_conv = turns.groupby("conv_id", sort=True).size()
    kept = per_conv.index[per_conv.cumsum().to_numpy() <= n_turns]
    turns = turns[turns["conv_id"].isin(kept)].reset_index(drop=True)
    truth = truth[truth["id_a"].isin(kept) & truth["id_b"].isin(kept)]
    return turns, truth
