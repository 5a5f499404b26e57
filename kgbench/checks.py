"""Correctness checks on one pipeline result (pure pandas).

``result`` frames carry the columns (conv_id, pred, obj, subj) of the
pipeline's output rows.
"""
from __future__ import annotations

from typing import List, Tuple

import numpy as np
import pandas as pd

KEY = ["conv_id", "pred", "obj"]
ROW = ["conv_id", "pred", "obj", "subj"]
MIN_PR = 0.95


def triple_scores(result: pd.DataFrame,
                  golden: pd.DataFrame) -> Tuple[float, float]:
    """(precision, recall) of the distinct (conv_id, pred, obj) triples."""
    got = result[KEY].drop_duplicates()
    want = golden[KEY].drop_duplicates()
    hits = len(got.merge(want, on=KEY, how="inner"))
    precision = hits / len(got) if len(got) else 0.0
    recall = hits / len(want) if len(want) else 1.0
    return precision, recall


def subject_problems(result: pd.DataFrame,
                     persons: pd.DataFrame) -> List[str]:
    """Every conversation has one subj; conversations of one planted person
    (the idx%7==6 / idx-1 pairs, every Zipf copy of a source) share it."""
    subj = result[["conv_id", "subj"]].drop_duplicates()
    problems = []
    per_conv = subj.groupby("conv_id")["subj"].nunique()
    split = per_conv[per_conv > 1]
    if len(split):
        problems.append(
            f"{len(split)} conversations carry several subj, e.g. "
            f"{list(split.index[:3])}"
        )
    per_person = (subj.merge(persons, on="conv_id")
                  .groupby("person")["subj"].nunique())
    torn = per_person[per_person > 1]
    if len(torn):
        problems.append(
            f"{len(torn)} planted persons map to several subj, e.g. persons "
            f"{list(torn.index[:3])}"
        )
    return problems


def fingerprint(result: pd.DataFrame) -> str:
    """Order-independent fingerprint of the (conv_id, pred, obj, subj) rows."""
    hashes = pd.util.hash_pandas_object(result[ROW], index=False)
    total = hashes.to_numpy().sum(dtype=np.uint64)
    return f"{len(result)}:{int(total):016x}"


def same_rows(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Multiset equality of the (conv_id, pred, obj, subj) rows."""
    if len(a) != len(b):
        return False
    cols = ROW
    left = a[cols].sort_values(cols, na_position="first").reset_index(drop=True)
    right = b[cols].sort_values(cols, na_position="first").reset_index(
        drop=True
    )
    return left.equals(right)


def check_result(result: pd.DataFrame, golden: pd.DataFrame,
                 persons: pd.DataFrame, reference: str = None):
    """All per-run checks: (precision, recall, fingerprint, problems)."""
    precision, recall = triple_scores(result, golden)
    problems = []
    if precision < MIN_PR or recall < MIN_PR:
        problems.append(
            f"triple precision {precision:.4f} / recall {recall:.4f} "
            f"below {MIN_PR}"
        )
    problems += subject_problems(result, persons)
    fp = fingerprint(result)
    if reference is not None and fp != reference:
        problems.append(f"fingerprint {fp} differs from {reference}")
    return precision, recall, fp, problems
