"""Correctness checks, run outside the timed window.

Each check takes collected (pandas) outputs and returns a list of
problems; an empty list means the output is correct. They hold no Spark
code, so the benchmark's own tests can corrupt a row and call them
directly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

ROLLUP_KEYS = ["doc_id", "source", "tier", "bucket"]
ROLLUP_STATS = ["n_points", "v_sum", "v_min", "v_max"]
_MAX_REPORTED = 5


def check_sequences(expected: pd.DataFrame, decoded: pd.DataFrame) -> list[str]:
    """Every decoded sequence equals its input: same doc set, same
    source and the same token array, element for element."""
    problems = []
    want = expected.set_index("doc_id")
    got = decoded.set_index("doc_id")
    if got.index.has_duplicates:
        problems.append("decoded output repeats a doc_id")
        got = got[~got.index.duplicated()]
    missing = want.index.difference(got.index)
    extra = got.index.difference(want.index)
    if len(missing):
        problems.append(f"{len(missing)} input docs missing after decode, e.g. {list(missing[:3])}")
    if len(extra):
        problems.append(f"{len(extra)} decoded docs not in the input, e.g. {list(extra[:3])}")
    both = want.index.intersection(got.index)
    bad = [
        d
        for d in both
        if want.at[d, "source"] != got.at[d, "source"]
        or not np.array_equal(
            np.asarray(want.at[d, "tokens"], dtype=np.int64),
            np.asarray(got.at[d, "tokens"], dtype=np.int64),
        )
    ]
    if bad:
        problems.append(f"{len(bad)} docs decode to other tokens or source, e.g. {bad[:_MAX_REPORTED]}")
    return problems


def check_rollup(expected: pd.DataFrame, state: pd.DataFrame) -> list[str]:
    """The persisted rollup state equals the rollup recomputed from the
    live rows, exactly: token values are integers, so every sum is an
    integer held exactly in float64 and no tolerance is needed."""
    problems = []
    for name, df in (("expected", expected), ("state", state)):
        if df.duplicated(ROLLUP_KEYS).any():
            problems.append(f"{name} rollup repeats a (doc_id, source, tier, bucket) key")
    merged = expected[ROLLUP_KEYS + ROLLUP_STATS].merge(
        state[ROLLUP_KEYS + ROLLUP_STATS],
        on=ROLLUP_KEYS,
        how="outer",
        suffixes=("_want", "_got"),
        indicator=True,
    )
    only_want = merged[merged["_merge"] == "left_only"]
    only_got = merged[merged["_merge"] == "right_only"]
    if len(only_want):
        problems.append(f"{len(only_want)} expected buckets missing from the state")
    if len(only_got):
        problems.append(f"{len(only_got)} state buckets that the live rows do not produce")
    both = merged[merged["_merge"] == "both"]
    for stat in ROLLUP_STATS:
        diff = both[both[f"{stat}_want"].to_numpy() != both[f"{stat}_got"].to_numpy()]
        if len(diff):
            keys = diff[ROLLUP_KEYS].head(_MAX_REPORTED).to_dict("records")
            problems.append(f"{len(diff)} buckets differ in {stat}, e.g. {keys}")
    return problems
