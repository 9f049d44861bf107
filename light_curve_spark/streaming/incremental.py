"""Incremental continuous aggregates over append-only snapshots.

The rollup partials (n_points, v_sum, v_min, v_max) form a commutative
monoid, so folding a new snapshot into an existing rollup is a groupBy
over the union of partials — the tier aggregate's own partial monoid
(``operators/rollup._merge_partials``), applied across TIME instead of
across tiers.
Per new Iceberg snapshot the scheduler runs

    base = _base_partials(explode_series(new_rows))
    rollup_table = _merge_partials(rollup_table ∪ _expand_tiers(base))

and appends the result — no state store, no watermark, exactly-once by
snapshot id (the checkpoint records which input snapshots are folded).
The new rows' tiers are never merged on their own: the stored state and
the expanded base partials go through one aggregate.

This is the engine's one continuous-aggregate fold: the stream-fed
rollup (streaming/structured.py) runs the same read-merge-append per
micro-batch, so both write the same ``rollup_tiers`` state shape. Every
writer stamps its snapshot's manifest ``batch_ids``: the stream fold
with its input file paths, the snapshot-fed fold and the retraction
with an empty list. A partial retraction re-aggregates only the base
buckets the delete touched, from the retained rows, and rebuilds every
tier from that fixed base tier: one shuffle, the shape of one fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from light_curve_spark.operators.rollup import (
    ROLLUP_AGG_COLS,
    _base_partials,
    _check_tiers,
    _expand_tiers,
    _merge_partials,
    retract_from_rollup,
)


def merge_rollups(existing: DataFrame, new: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Fold two rollup partial tables (same schema as rollup_tiers
    output) into one: their union through the tier aggregate's partial
    monoid. Decomposable stats only; v_mean is re-derived."""
    keys = keys or ["doc_id", "source"]
    group_cols = [*keys, "tier", "bucket"]
    return _merge_partials(
        existing.select(*group_cols, *ROLLUP_AGG_COLS).unionByName(
            new.select(*group_cols, *ROLLUP_AGG_COLS)
        ),
        group_cols,
    )


def _fold_append(
    storage,
    table: str,
    base: DataFrame,
    keys: list[str],
    tiers: tuple[int, ...],
    batch_ids: list[str],
) -> str:
    """Fold the new rows' base-tier partials ``base`` (``_base_partials``
    rows) into the table's latest full-state snapshot and append the
    result as a new snapshot stamped with ``batch_ids``; returns the
    snapshot id. The new partials are expanded to every tier and folded
    with the stored state in ONE ``_merge_partials`` (into an empty
    store, the same merge over the expansion alone — exactly
    ``rollup_tiers``). The one read-merge-append of the
    continuous-aggregate state, shared by the snapshot-fed and the
    stream-fed fold."""
    expanded = _expand_tiers(base, [*keys, *ROLLUP_AGG_COLS], tiers[0], tiers)
    if storage.exists(table):
        # each snapshot holds the FULL merged state -> read latest only
        state = merge_rollups(storage.read_snapshot(table), expanded, keys=keys)
    else:
        state = _merge_partials(expanded, [*keys, "tier", "bucket"])
    return storage.append(state, table, meta={"batch_ids": batch_ids})


def incremental_rollup(
    spark,
    storage,
    new_rows: DataFrame,
    keys: list[str] | None = None,
    base_width: float = 16.0,
    tiers: tuple[int, ...] = (1, 10, 100),
) -> str:
    """Fold ``new_rows`` (sequences) into the stored rollup table and
    append the merged result as a new snapshot; returns the snapshot id.

    The merged table is written whole (rollup tables are ~10^6x smaller
    than raw at tier 100); at true 10^12 scale the write switches to a
    MERGE INTO on (key, tier, bucket), which Iceberg supports natively.
    The fold persists nothing.
    """
    from light_curve_spark.operators.series import explode_series

    _check_tiers(tiers)
    keys = keys or ["doc_id", "source"]
    base = _base_partials(explode_series(new_rows), keys, base_width * tiers[0])
    return _fold_append(storage, "rollup_continuous", base, keys, tiers, [])


def retract_rollup_state(
    storage,
    deleted,
    retained=None,
    keys: list[str] | None = None,
    base_width: float = 16.0,
    tiers: tuple[int, ...] = (1, 10, 100),
    table: str = "rollup_continuous",
) -> str:
    """Remove deleted data from the persisted continuous-aggregate state
    (the fold's right-to-be-forgotten twin, round 6) and append the
    reduced state as a new snapshot; returns the snapshot id. Earlier
    snapshots still hold the pre-delete state — a real deployment
    expires them (Iceberg ``expire_snapshots``; the parquet fallback's
    ``replace()`` via compaction), same posture as the tombstone tables.

    Two delete shapes, matching how continuous aggregates actually
    shrink:

    - ``retained is None``: ``deleted`` is a DataFrame of WHOLE key
      tuples (e.g. entire ``doc_id``/``user_id`` entities — the common
      GDPR case). Every bucket of a deleted key dies wholesale, so no
      extremum can survive partially and the retraction is ONE
      broadcast anti-join on the state table — no raw access at all.
      The key tuples are broadcast as given, duplicates included: an
      anti-join gives the same rows either way, and a distinct would
      plan its own aggregate and shuffle under the broadcast. The
      trade-off is a broadcast of every given row rather than one per
      distinct key.
    - ``retained`` given: both are LONG-FORM series (keys + t + v) and
      the partial-bucket math delegates to
      :func:`~light_curve_spark.operators.rollup.retract_from_rollup`:
      the stored BASE tier alone is fixed (the base buckets holding a
      deleted row are re-aggregated from ``retained``, raw rescan
      bounded by that footprint; every other base bucket stands) and
      every coarser tier is rebuilt from it — one shuffle of the base
      tier, as in one fold.

    The result equals ``rollup_tiers`` over the corpus without the
    deleted data (pytest-gated both shapes), for snapshot-fed and
    stream-fed state alike. The append is stamped with an empty batch
    list, so the stream fold's manifest probe still accepts the table.
    Neither shape persists an intermediate."""
    keys = keys or ["doc_id", "source"]
    existing = storage.read_snapshot(table)
    if retained is None:
        join_cols = [c for c in keys if c in deleted.columns]
        if not join_cols:
            raise ValueError(
                f"deleted carries none of the rollup keys {keys!r} — "
                "pass whole-key tuples, or long-form deleted+retained "
                "series for partial-bucket retraction"
            )
        reduced = existing.join(
            F.broadcast(deleted.select(*join_cols)), join_cols, "left_anti"
        )
    else:
        reduced = retract_from_rollup(
            existing,
            deleted,
            retained,
            keys=keys,
            base_width=base_width,
            tiers=tiers,
        )
    return storage.append(reduced, table, meta={"batch_ids": []})
