"""Stream-fed continuous aggregates: a ``readStream`` front end over the
snapshot rollup fold.

SURVEY.md §2.9 keeps Structured Streaming aggregation out of the engine:
sequences are immutable rows, so there is no late data and nothing for a
watermark or a state store to bound. What a landing-zone deployment needs
from streaming is the file source's bookkeeping (which files arrived
since the last run), so this module uses ``readStream`` for exactly that
and folds every micro-batch through the same base-partials fold as
:func:`~light_curve_spark.streaming.incremental.incremental_rollup`:

- each micro-batch row is tagged with ``input_file_name()``;
- rows from files already stamped in the table's snapshot manifest are
  dropped (``_manifest_batch_ids``, the library's one idempotency probe),
  so a lost checkpoint re-delivers files without double-folding them;
- the rest is aggregated into base-tier partials, expanded to every
  tier and merged with the latest snapshot in one aggregate, and the
  full state is appended as one snapshot stamped with the new file
  paths.

The table holds ``rollup_tiers`` rows (key..., tier, bucket, n_points,
v_sum, v_min, v_max, v_mean) for every tier, the same state shape as the
snapshot-fed fold, so ``storage.read_snapshot(table)`` holds every
tier and ``retract_rollup_state(..., table=table)`` applies to it. The
query checkpoint keeps only the file source's offsets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from light_curve_spark.functions import epoch_us


def run_stream_rollup(
    spark: SparkSession,
    input_dir: str,
    input_schema,
    storage,
    table: str,
    checkpoint_dir: str,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    v_col: str = "value",
    width_seconds: int = 86400,
    tiers: tuple[int, ...] = (1,),
) -> None:
    """One ``availableNow`` pass: fold every not-yet-seen file under
    ``input_dir`` into ``storage``/``table`` at every tier in ``tiers``
    (base bucket ``floor(epoch_us(ts) / (width_seconds * 1e6))``).
    Returns after the trigger drains — a scheduler (or a long-lived query
    with a processing-time trigger) calls this per arrival.

    Exactly-once per file: the checkpoint skips files earlier runs
    consumed, and the manifest stamps skip files a lost or reset
    checkpoint re-delivers. The state equals ``rollup_tiers`` over every
    delivered file."""
    from light_curve_spark.operators.dedup import _manifest_batch_ids
    from light_curve_spark.operators.rollup import _base_partials, _check_tiers
    from light_curve_spark.streaming.incremental import _fold_append

    keys = keys or ["user_id"]
    _check_tiers(tiers)
    if tiers[0] != 1:
        raise ValueError(f"tiers must start at 1: {tiers}")
    if not hasattr(storage, "read_snapshot"):
        # the fold writes replace-on-write FULL-state snapshots; IcebergStorage
        # appends rows (its streaming path would be an Iceberg MERGE) — fail
        # loudly instead of AttributeError inside the micro-batch
        raise TypeError(
            "run_stream_rollup needs a replace-on-write snapshot store "
            "(read_snapshot/append), e.g. ParquetSnapshotStorage; got "
            f"{type(storage).__name__}"
        )

    def fold(batch_df: DataFrame, _batch_id: int) -> None:
        # tag before anything persists the batch: on a persisted frame
        # input_file_name() reads ''
        tagged = batch_df.withColumn("_file", F.input_file_name())
        files = {r[0] for r in tagged.select("_file").distinct().collect()}
        new = sorted(files - _manifest_batch_ids(storage, table))
        if not new:
            return
        rows = tagged.filter(F.col("_file").isin(new)).select(
            *keys, epoch_us(ts_col).alias("t"), F.col(v_col).alias("v")
        )
        base = _base_partials(rows, keys, width_seconds * 1e6)
        _fold_append(storage, table, base, keys, tiers, new)

    (
        spark.readStream.schema(input_schema)
        .parquet(input_dir)
        .writeStream.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .foreachBatch(fold)
        .start()
        .awaitTermination()
    )
