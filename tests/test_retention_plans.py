"""Plan shape of the continuous-aggregate fold and of the partial
redaction over a stored state: one aggregate per fold, one scan of the
stored state per redaction, and nothing planned twice."""

import numpy as np
from pyspark.sql import functions as F

from light_curve_spark.sources.catalog import ParquetSnapshotStorage


class _CapturingStorage:
    """Delegating storage that keeps every appended DataFrame."""

    def __init__(self, inner):
        self._inner = inner
        self.appended = []

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def append(self, df, table, *args, **kwargs):
        self.appended.append(df)
        return self._inner.append(df, table, *args, **kwargs)


def _optimized(df) -> list[str]:
    return df._jdf.queryExecution().optimizedPlan().toString().splitlines()


def _node(line: str) -> str:
    return line.lstrip(" :+-")


def _as_map(df, keys):
    return {
        (*(r[k] for k in keys), r.tier, r.bucket): (r.n_points, r.v_sum, r.v_min, r.v_max)
        for r in df.collect()
    }


def test_fold_plans_one_aggregate_and_first_fold_equals_rollup(spark, tmp_path):
    """A first fold into an empty store equals ``rollup_tiers`` with no
    duplicate (key, tier, bucket) row; a later fold merges the stored
    state and the new base partials in ONE aggregate above the union
    (the new rows' tiers are never merged on their own)."""
    from light_curve_spark.operators.rollup import rollup_tiers
    from light_curve_spark.operators.series import explode_series
    from light_curve_spark.sources.synthetic import synthetic_sequences
    from light_curve_spark.streaming.incremental import incremental_rollup

    keys = ["doc_id", "source"]
    st = _CapturingStorage(ParquetSnapshotStorage(spark, str(tmp_path / "inc")))
    seq = synthetic_sequences(spark, 30, seed=3).persist()
    a = seq.filter(F.col("doc_id") < "doc00000015")
    incremental_rollup(spark, st, a)

    first = st.read_snapshot("rollup_continuous").collect()
    ids = [(r.doc_id, r.source, r.tier, r.bucket) for r in first]
    assert len(ids) == len(set(ids)), "duplicate (key, tier, bucket) rows"
    assert _as_map(st.read_snapshot("rollup_continuous"), keys) == _as_map(
        rollup_tiers(explode_series(a)), keys
    )
    lines = _optimized(st.appended[0])
    assert sum(_node(ln).startswith("Aggregate ") for ln in lines) == 2, "\n".join(lines)

    incremental_rollup(spark, st, seq.filter(F.col("doc_id") >= "doc00000015"))
    lines = _optimized(st.appended[1])
    nodes = [_node(ln) for ln in lines]
    union = next(i for i, n in enumerate(nodes) if n.startswith("Union"))
    above = [n for n in nodes[:union] if n.startswith("Aggregate ")]
    below = [n for n in nodes[union:] if n.startswith("Aggregate ")]
    # the merge above the union; the new rows' base aggregate below it
    assert len(above) == 1 and len(below) == 1, "\n".join(lines)

    got = _as_map(st.read_snapshot("rollup_continuous"), keys)
    want = _as_map(rollup_tiers(explode_series(seq)), keys)
    assert set(got) == set(want)
    for k, (n, s, lo, hi) in want.items():
        assert got[k][0] == n and got[k][2] == lo and got[k][3] == hi, k
        assert got[k][1] == s, k  # integer tokens: sums are exact
    seq.unpersist()


def test_retract_over_stored_state_scans_it_once(spark, tmp_path):
    """A partial redaction over a stored snapshot scans the state once,
    expands tiers once, joins only by broadcast (no SortMergeJoin), and
    equals the re-roll of the retained rows."""
    from light_curve_spark.operators.rollup import retract_from_rollup, rollup_tiers
    from light_curve_spark.plans.caching import release_operator_caches

    rng = np.random.default_rng(4)
    rows = [(k, float(i), float(rng.normal())) for k in ("a", "b") for i in range(300)]
    series = spark.createDataFrame(rows, "k string, t double, v double")
    kw = dict(keys=["k"], base_width=16.0, tiers=(1, 10, 100))
    st = ParquetSnapshotStorage(spark, str(tmp_path / "st"))
    st.append(rollup_tiers(series, **kw), "state")
    stored = st.read_snapshot("state")
    cut = (F.col("k") == "a") & (F.col("t") >= 20) & (F.col("t") < 70)
    deleted, retained = series.filter(cut), series.filter(~cut)

    out = retract_from_rollup(stored, deleted, retained, **kw)
    lines = _optimized(out)
    scans = [ln for ln in lines if _node(ln).startswith("Relation ") and "parquet" in ln]
    assert len(scans) == 1, "\n".join(lines)
    assert sum(_node(ln).startswith("Generate ") for ln in lines) == 1, "\n".join(lines)
    physical = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in physical, physical
    assert "BroadcastHashJoin" in physical, physical

    got = _as_map(out, ["k"])
    want = _as_map(rollup_tiers(retained, **kw), ["k"])
    release_operator_caches()
    assert set(got) == set(want)
    for key, (n, s, lo, hi) in want.items():
        gn, gs, glo, ghi = got[key]
        assert gn == n and glo == lo and ghi == hi, key
        assert abs(gs - s) <= 1e-9, key


def _broadcast_subtrees(df) -> list[list[str]]:
    """The physical-plan lines under each ``BroadcastExchange``."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.split("== Initial Plan ==")[-1].splitlines()
    depth = [len(ln) - len(_node(ln)) for ln in lines]
    subtrees = []
    for i, ln in enumerate(lines):
        if _node(ln).startswith("BroadcastExchange"):
            end = next((j for j in range(i + 1, len(lines)) if depth[j] <= depth[i]), len(lines))
            subtrees.append(lines[i + 1 : end])
    return subtrees


def test_retraction_broadcasts_hold_no_aggregate_and_ignore_duplicates(spark, tmp_path):
    """Both ``retract_rollup_state`` shapes broadcast the deleted rows as
    given: no aggregate (a distinct's shuffle) under either broadcast,
    and duplicated deleted rows give the same state as unique ones."""
    from light_curve_spark.operators.rollup import rollup_tiers
    from light_curve_spark.plans.caching import release_operator_caches
    from light_curve_spark.streaming.incremental import retract_rollup_state

    rng = np.random.default_rng(6)
    rows = [(k, float(i), float(rng.normal())) for k in ("a", "b", "c") for i in range(200)]
    series = spark.createDataFrame(rows, "k string, t double, v double")
    kw = dict(keys=["k"], base_width=16.0, tiers=(1, 10, 100))
    cut = (F.col("k") == "b") & (F.col("t") >= 30) & (F.col("t") < 90)
    whole = spark.createDataFrame([("a",)], "k string")
    shapes = {
        "whole_key": (whole, whole.unionByName(whole), None),
        "partial": (series.filter(cut), series.filter(cut).unionByName(series.filter(cut)),
                    series.filter(~cut)),
    }
    for shape, (deleted, doubled, retained) in shapes.items():
        states = []
        for i, dels in enumerate((deleted, doubled)):
            st = _CapturingStorage(ParquetSnapshotStorage(spark, str(tmp_path / f"{shape}{i}")))
            st.append(rollup_tiers(series, **kw), "state")
            retract_rollup_state(st, dels, retained, table="state", **kw)
            subtrees = _broadcast_subtrees(st.appended[-1])
            assert subtrees, shape
            for sub in subtrees:
                assert not any("Aggregate" in ln for ln in sub), (shape, "\n".join(sub))
            states.append(_as_map(st.read_snapshot("state"), ["k"]))
        release_operator_caches()
        assert states[0] == states[1], shape
        if retained is not None:
            assert set(states[0]) == set(_as_map(rollup_tiers(retained, **kw), ["k"])), shape
        else:
            assert not any(key[0] == "a" for key in states[0]), shape
