"""The flagship end-to-end job (SURVEY.md §3 entry point 3):

    read input snapshot -> salted repartition -> per-sequence features
    -> tier rollups (1x/10x/100x cascade) -> chunk compression
    -> persist (features / rollup / chunks tables) + lineage metrics

with batch resume from a snapshot checkpoint (north_rule: "resumable from
checkpoint with per-partition lineage + metrics").

One Python crossing per group: a single ``mapInArrow`` over the salted
sequences calls the four per-batch functions behind the public operators
(``features_batch``, ``rollup_tiers_batch``, ``rollup_quantiles_batch``
and ``encode_chunks_batch`` after ``split_outliers_batch``) on each
Arrow batch, and emits one tagged union: an int ``_table`` column plus
the union of the four output schemas, all nullable. That frame is
persisted once; each table append is a JVM-only
``filter(_table == k).select(...)`` of it, so the tokens cross into
Python once and pay the per-task floor once. No shuffle beyond the
salted repartition.

Writes: the features append runs first and alone; it runs the Python
pass and fills the cache. The rollup, rollup_quantiles, chunks and
metrics tables then commit through one all-or-nothing
``storage.append_many``, written as concurrent Spark jobs. Each of those
writes is coalesced to ``k`` tasks, ``k`` = the cached frame's bytes over
Spark's AQE advisory partition size, clamped to ``[1, num_partitions]``
(:func:`_write_tasks`): a write task emits one file per partition value
it holds, so a small group writes each table from one task.

Resume model (SURVEY.md §2.9 — deliberately NOT Structured Streaming):
the input is split into ``n_groups`` doc-bucket groups; each group
appends one snapshot per output table, each stamped in its manifest
``meta`` with ``{input_snapshot, group}``, then the group id + input
snapshot are recorded in a JSON checkpoint. A restarted run skips
completed groups, and within a group every table that already holds the
group's stamp (a crash between the features commit and the batch
commit); a pipeline table with an unstamped snapshot raises.
Partition-level lineage rows (partition_id, input_snapshot, rows,
bytes, wall_ms) are emitted to the metrics table from inside the fused
pass via TaskContext — no extra pass over the data. ``wall_ms`` covers the whole fused per-batch pass
(features, both rollups, the outlier split and the encode); it rides on
each batch's first chunk row, so SUM per partition stays exact.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import IntegerType, StructField, StructType

from light_curve_spark.operators.compress import (
    LINEAGE_CHUNK_SCHEMA,
    encode_chunks_batch,
    split_outliers_batch,
)
from light_curve_spark.operators.features import features_batch, features_schema
from light_curve_spark.operators.rollup import (
    QUANTILES_ARRAYS_SCHEMA,
    ROLLUP_ARRAYS_SCHEMA,
    check_array_tiers,
    rollup_quantiles_batch,
    rollup_tiers_batch,
)
from light_curve_spark.plans.caching import release_operator_caches
from light_curve_spark.plans.salting import salted_repartition


@dataclass
class PipelineConfig:
    out_root: str
    n_groups: int = 4
    n_buckets: int = 1024
    num_partitions: int = 32
    base_width: float = 16.0
    tiers: tuple[int, ...] = (1, 10, 100)
    freqs: tuple[float, ...] = tuple(np.linspace(0.05, 0.45, 9))
    max_chunk_len: int = 4096
    input_snapshot: str = "unversioned"


def _checkpoint_path(cfg: PipelineConfig) -> str:
    return os.path.join(cfg.out_root, "_checkpoint.json")


def load_checkpoint(cfg: PipelineConfig) -> dict:
    path = _checkpoint_path(cfg)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return {"input_snapshot": cfg.input_snapshot, "done_groups": []}


def save_checkpoint(cfg: PipelineConfig, state: dict) -> None:
    os.makedirs(cfg.out_root, exist_ok=True)
    tmp = _checkpoint_path(cfg) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, _checkpoint_path(cfg))


def _sequence_tables(
    gseq: DataFrame, cfg: PipelineConfig
) -> tuple[DataFrame, list[DataFrame]]:
    """The fused group frame and, selected from it, the features,
    rollup, rollup_quantiles and lineage-chunk tables: one mapInArrow
    runs all four per-batch functions on each batch of ``gseq``, tagging
    each output batch with its table's index in ``_table``."""
    schemas = [
        features_schema(with_periodogram=True),
        ROLLUP_ARRAYS_SCHEMA,
        QUANTILES_ARRAYS_SCHEMA,
        LINEAGE_CHUNK_SCHEMA,
    ]
    # _table plus every output column once (shared columns, such as
    # doc_id or tier, have one type in every schema), all nullable
    types = {f.name: f.dataType for schema in schemas for f in schema.fields}
    union = StructType(
        [StructField("_table", IntegerType(), False)]
        + [StructField(n, t, True) for n, t in types.items()]
    )
    arrow_union = to_arrow_schema(union)
    data_fields = list(arrow_union)[1:]
    freqs = np.asarray(cfg.freqs, dtype=np.float64)
    width = check_array_tiers(cfg.base_width, cfg.tiers)
    tiers, max_len = cfg.tiers, cfg.max_chunk_len

    def fn(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            t_start = time.time()
            outs = [
                features_batch(b, freqs),
                rollup_tiers_batch(b, width, tiers),
                rollup_quantiles_batch(b, width, tiers),
                # last, so its lineage wall covers the whole fused pass
                encode_chunks_batch(
                    split_outliers_batch(b, max_len),
                    max_len,
                    with_lineage=True,
                    t_start=t_start,
                ),
            ]
            for k, out in enumerate(outs):
                if out is None:
                    continue
                n = out.num_rows
                cols = dict(zip(out.schema.names, out.columns))
                yield pa.RecordBatch.from_arrays(
                    [pa.array(np.full(n, k, dtype=np.int32))]
                    + [cols[f.name] if f.name in cols else pa.nulls(n, f.type) for f in data_fields],
                    schema=arrow_union,
                )

    fused = gseq.select("doc_id", "source", "tokens").mapInArrow(fn, schema=union)
    tables = [
        fused.filter(F.col("_table") == k).select(*schema.fieldNames())
        for k, schema in enumerate(schemas)
    ]
    return fused, tables


PIPELINE_TABLES = ("features", "rollup", "rollup_quantiles", "chunks", "metrics")


def _group_stamp(cfg: PipelineConfig, group: int) -> dict:
    """The manifest ``meta`` of every snapshot a group appends."""
    return {"batch_id": {"input_snapshot": cfg.input_snapshot, "group": group}}


def _stamped_tables(storage, stamp: dict) -> set[str]:
    """The pipeline tables whose manifest already holds ``stamp``. A
    table with an unstamped snapshot raises: its rows cannot be told
    apart from a group's, so a resume could duplicate them."""
    done = set()
    for table in PIPELINE_TABLES:
        if not storage.exists(table):
            continue
        metas = storage.snapshot_metas(table)
        if metas is None:
            raise ValueError(
                f"pipeline table {table} holds a snapshot without a group stamp"
            )
        if any(m.get("batch_id") == stamp["batch_id"] for m in metas):
            done.add(table)
    return done


def _write_tasks(spark: SparkSession, fused: DataFrame, num_partitions: int) -> int:
    """Write tasks per table append: the persisted group frame's cached
    bytes over Spark's AQE advisory partition size, clamped to
    ``[1, num_partitions]``. Each write task emits one file per partition
    value it holds, and a file costs far more than its rows, so a small
    group writes from one task. Read once the frame is materialized:
    before, the plan's statistics are an estimate, and they stay cached
    on that plan."""
    cached = int(str(fused._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    )
    return min(max(-(-cached // advisory), 1), num_partitions)


def run_pipeline(
    spark: SparkSession, seq: DataFrame, cfg: PipelineConfig, storage=None
) -> dict:
    """Run (or resume) the flagship job. Returns run stats."""
    from light_curve_spark.sources.catalog import AppendItem, get_storage

    storage = storage or get_storage(spark, cfg.out_root)
    state = load_checkpoint(cfg)
    if state.get("input_snapshot") != cfg.input_snapshot:
        # new input version: start over (snapshot-pinned resume contract)
        state = {"input_snapshot": cfg.input_snapshot, "done_groups": []}
    done = set(state["done_groups"])
    stats = {"groups_run": 0, "groups_skipped": len(done)}

    seq = seq.withColumn(
        "_group", F.pmod(F.hash("doc_id"), F.lit(cfg.n_groups))
    )

    for group in range(cfg.n_groups):
        if group in done:
            continue
        t_start = time.time()
        stamp = _group_stamp(cfg, group)
        committed = _stamped_tables(storage, stamp)
        gseq = seq.filter(F.col("_group") == group).drop("_group")
        gseq = salted_repartition(gseq, cfg.num_partitions, cfg.n_buckets)
        fused, (feats, rollup, quantiles, chunks) = _sequence_tables(gseq, cfg)
        fused.persist()
        try:
            # first and alone: it runs the Python pass and fills the cache
            if "features" not in committed:
                storage.append(feats, "features", partition_by=["source"], meta=stamp)
            lineage = (
                chunks.groupBy(F.col("_pid").alias("partition_id"))
                .agg(
                    F.count("*").alias("rows"),
                    (
                        F.sum(F.length("ts_dod")) + F.sum(F.length("vals_gorilla"))
                    ).alias("bytes"),
                    F.sum("_wall_ms").alias("wall_ms"),
                    F.approx_count_distinct("doc_id").alias("approx_docs"),
                )
                .withColumn("input_snapshot", F.lit(cfg.input_snapshot))
                .withColumn("group", F.lit(group))
            )
            # a resume that skipped features sizes from the plan's estimate
            k = _write_tasks(spark, fused, cfg.num_partitions)
            items = [
                AppendItem(rollup.coalesce(k), "rollup", ["tier", "source"], meta=stamp),
                AppendItem(quantiles.coalesce(k), "rollup_quantiles", ["tier"], meta=stamp),
                AppendItem(
                    chunks.drop("_pid", "_wall_ms").coalesce(k),
                    "chunks",
                    ["source"],
                    meta=stamp,
                ),
                AppendItem(lineage.coalesce(k), "metrics", meta=stamp),
            ]
            todo = [it for it in items if it.table not in committed]
            if todo:
                storage.append_many(todo)
        finally:
            fused.unpersist()
            # release any operator-level caches (dedup inverted
            # indexes) accumulated during this group
            release_operator_caches()

        state["done_groups"].append(group)
        save_checkpoint(cfg, state)
        stats["groups_run"] += 1
        stats[f"group_{group}_sec"] = time.time() - t_start
    return stats
