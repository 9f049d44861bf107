"""The flagship end-to-end job (SURVEY.md §3 entry point 3):

    read input snapshot -> salted repartition -> per-sequence features
    -> tier rollups (1x/10x/100x cascade) -> chunk compression
    -> persist (features / rollup / chunks tables) + lineage metrics

with batch resume from a snapshot checkpoint (north_rule: "resumable from
checkpoint with per-partition lineage + metrics").

Resume model (SURVEY.md §2.9 — deliberately NOT Structured Streaming):
the input is split into ``n_groups`` doc-bucket groups; each group runs
as one job appending one snapshot per output table, then the group id +
input snapshot are recorded in a JSON checkpoint. A restarted run skips
completed groups. Partition-level lineage rows
(partition_id, input_snapshot, rows, bytes, wall_ms) are emitted to the
metrics table from inside the encode kernel via TaskContext — no extra
pass over the data.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from light_curve_spark.operators.compress import encode_chunks
from light_curve_spark.operators.features import extract_features
from light_curve_spark.operators.rollup import (
    rollup_quantiles_arrays,
    rollup_tiers_arrays,
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


def run_pipeline(
    spark: SparkSession, seq: DataFrame, cfg: PipelineConfig, storage=None
) -> dict:
    """Run (or resume) the flagship job. Returns run stats."""
    from light_curve_spark.sources.catalog import get_storage

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
        gseq = seq.filter(F.col("_group") == group).drop("_group")
        gseq = salted_repartition(gseq, cfg.num_partitions, cfg.n_buckets)
        gseq.persist()
        try:
            feats = extract_features(gseq, freqs=np.asarray(cfg.freqs))
            storage.append(feats, "features", partition_by=["source"])

            # array-native cascade: zero-shuffle (see rollup_tiers_arrays)
            storage.append(
                rollup_tiers_arrays(
                    gseq, base_width=cfg.base_width, tiers=cfg.tiers
                ),
                "rollup",
                partition_by=["tier", "source"],
            )
            # array-native: exact median/MAD without exploding+shuffling
            # every point (was the pipeline's largest exchange)
            storage.append(
                rollup_quantiles_arrays(
                    gseq, base_width=cfg.base_width, tiers=cfg.tiers
                ),
                "rollup_quantiles",
                partition_by=["tier"],
            )

            chunks = encode_chunks(
                gseq, max_len=cfg.max_chunk_len, with_lineage=True
            )
            chunks.persist()
            storage.append(
                chunks.drop("_pid", "_wall_ms"), "chunks", partition_by=["source"]
            )
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
            storage.append(lineage, "metrics")
            chunks.unpersist()
        finally:
            gseq.unpersist()
            # release any operator-level caches (dedup inverted
            # indexes) accumulated during this group
            release_operator_caches()

        state["done_groups"].append(group)
        save_checkpoint(cfg, state)
        stats["groups_run"] += 1
        stats[f"group_{group}_sec"] = time.time() - t_start
    return stats
