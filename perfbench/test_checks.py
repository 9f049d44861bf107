"""The benchmark's own tests: each correctness check passes on a correct
output and catches one corrupted row. No Spark needed.

    python3 -m pytest perfbench -q
"""

import numpy as np
import pandas as pd

from checks import check_rollup, check_sequences
from spans import parse_time_metric_ms, union_ms


def _sequences():
    rng = np.random.default_rng(0)
    return pd.DataFrame(
        {
            "doc_id": [f"doc{i:08d}" for i in range(4)],
            "source": ["web", "code", "web", "wiki"],
            "tokens": [rng.integers(0, 50257, n).astype(np.int32) for n in (5, 130, 1, 4200)],
        }
    )


def _rollup():
    rows = []
    for doc in ("s005-doc00000000", "s006-doc00000003"):
        for tier, buckets in ((1, 3), (10, 1), (100, 1)):
            for b in range(buckets):
                rows.append((doc, "web", tier, b, 16, 400000.0, 12.0, 50000.0))
    cols = ["doc_id", "source", "tier", "bucket", "n_points", "v_sum", "v_min", "v_max"]
    return pd.DataFrame(rows, columns=cols)


def test_sequences_check_passes_on_identical_output():
    want = _sequences()
    got = want.iloc[::-1].copy()
    got["tokens"] = [t.copy() for t in got["tokens"]]
    assert check_sequences(want, got) == []


def test_sequences_check_catches_one_corrupted_token():
    want = _sequences()
    got = want.copy()
    got["tokens"] = [t.copy() for t in got["tokens"]]
    got.at[3, "tokens"][4000] += 1
    problems = check_sequences(want, got)
    assert len(problems) == 1 and "doc00000003" in problems[0]


def test_sequences_check_catches_lost_and_extra_rows():
    want = _sequences()
    assert any("missing" in p for p in check_sequences(want, want.iloc[1:]))
    extra = pd.concat([want, want.iloc[[0]].assign(doc_id="doc99999999")])
    assert any("not in the input" in p for p in check_sequences(want, extra))
    assert any("repeats" in p for p in check_sequences(want, pd.concat([want, want.iloc[[2]]])))


def test_sequences_check_catches_wrong_source():
    want = _sequences()
    got = want.copy()
    got.at[1, "source"] = "books"
    assert check_sequences(want, got) != []


def test_rollup_check_passes_on_identical_state():
    want = _rollup()
    assert check_rollup(want, want.sample(frac=1.0, random_state=1)) == []


def test_rollup_check_catches_one_corrupted_row():
    want = _rollup()
    for stat, delta in (("n_points", 1), ("v_sum", 1.0), ("v_min", -1.0), ("v_max", 1.0)):
        got = want.copy()
        got.loc[4, stat] += delta
        problems = check_rollup(want, got)
        assert len(problems) == 1 and stat in problems[0], (stat, problems)


def test_rollup_check_catches_missing_and_stale_buckets():
    want = _rollup()
    assert any("missing" in p for p in check_rollup(want, want.drop(index=2)))
    stale = pd.concat([want, want.iloc[[0]].assign(doc_id="s001-doc00000000")])
    assert any("do not produce" in p for p in check_rollup(want, stale))


def test_parse_time_metric():
    assert parse_time_metric_ms("16 ms") == 16.0
    assert parse_time_metric_ms(
        "total (min, med, max (stageId: taskId))\n6.0 s (213 ms, 1.8 s, 1.8 s (stage 0.0: task 1))"
    ) == 6000.0
    assert parse_time_metric_ms("total (min, med, max)\n1.5 m (1 ms, 2 ms, 3 ms)") == 90000.0


def test_union_ms_clips_and_merges():
    assert union_ms([(0, 10), (5, 20), (30, 40)], 2, 35) == 18 + 5
    assert union_ms([], 0, 100) == 0.0
