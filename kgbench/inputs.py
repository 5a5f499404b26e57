"""Seeded benchmark corpora and their goldens.

Every corpus is a list of output conversations, each a relabelled copy of a
source conversation built by ``synth.conversation_turns``.  The uniform and
model-cost corpora copy source i to output i; the Zipf corpus draws sources
with Zipf weights, so a few hot persons recur in thousands of conversations.
The program only ever sees the transcripts; goldens stay on the driver.
"""
from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd

from information_extraction_t5_spark.data import synth

SHARE_PERIOD = 7  # synth.golden_fields: conv idx%7==6 reuses idx-1's person


def conv_id(idx: int) -> str:
    return f"conv_{idx:06d}"


def zipf_sources(n_out: int, n_src: int, s: float, seed: int) -> np.ndarray:
    """Source index of each output conversation, Zipf(s) over source ranks.

    Ranks are assigned to sources by a seeded permutation, so which person
    is hot changes with the seed while the shape of the skew does not."""
    rng = np.random.default_rng(seed)
    rank_to_src = rng.permutation(n_src)
    weights = 1.0 / np.arange(1, n_src + 1, dtype=np.float64) ** s
    ranks = rng.choice(n_src, size=n_out, p=weights / weights.sum())
    return rank_to_src[ranks]


def person_of(src: int) -> int:
    """Index of the conversation whose person source ``src`` describes."""
    if src % SHARE_PERIOD == SHARE_PERIOD - 1 and src > 0:
        return src - 1
    return src


@dataclass
class Corpus:
    transcripts: object        # checkpointed Spark DataFrame
    golden: pd.DataFrame       # distinct (conv_id, pred, obj)
    persons: pd.DataFrame      # (conv_id, person): same person => same subj
    n_convs: int


def golden_frames(sources: np.ndarray, seed: int):
    """(golden triples, person of every output conversation) for a
    source mapping; a copy's goldens are its source's, relabelled."""
    per_src = {}
    for src in np.unique(sources):
        per_src[int(src)] = [
            (pred, obj) for _c, pred, obj in
            synth.golden_triples(conv_id(int(src)), seed)
        ]
    rows = [
        (conv_id(out), pred, obj)
        for out, src in enumerate(sources.tolist())
        for pred, obj in per_src[src]
    ]
    golden = pd.DataFrame(rows, columns=["conv_id", "pred", "obj"])
    persons = pd.DataFrame({
        "conv_id": [conv_id(i) for i in range(len(sources))],
        "person": [person_of(int(s)) for s in sources],
    })
    return golden, persons


def transcripts_df(spark, sources: np.ndarray, seed: int):
    """Distributed synthesis of the output conversations (lazy)."""
    mapping = sources.tolist()
    n = len(mapping)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for out in pdf["id"].tolist():
                for turn in synth.conversation_turns(conv_id(mapping[out]),
                                                     seed):
                    turn["conv_id"] = conv_id(out)
                    rows.append(turn)
            if rows:
                yield pd.DataFrame(rows)

    parts = max(spark.sparkContext.defaultParallelism, n // 2000)
    return (spark.range(0, n, 1, parts)
            .mapInPandas(gen, schema=synth.TRANSCRIPTS_SCHEMA))


def build(spark, sources: np.ndarray, seed: int) -> Corpus:
    """Materialize a corpus before any timing starts."""
    transcripts = transcripts_df(spark, sources, seed).localCheckpoint(
        eager=True
    )
    golden, persons = golden_frames(sources, seed)
    return Corpus(transcripts, golden, persons, len(sources))
