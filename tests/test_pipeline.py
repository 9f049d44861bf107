"""End-to-end pipeline: outputs land in all tables, lineage rows exist,
resume skips completed groups, and the compression invariant holds on the
persisted chunk table."""

import numpy as np
from pyspark.sql import functions as F

from light_curve_spark.operators.compress import decode_chunks, reassemble
from light_curve_spark.plans.pipeline import PipelineConfig, load_checkpoint, run_pipeline
from light_curve_spark.sources.catalog import ParquetSnapshotStorage
from light_curve_spark.sources.synthetic import synthetic_sequences


def test_pipeline_end_to_end_and_resume(spark, tmp_path):
    out = str(tmp_path / "pipe")
    cfg = PipelineConfig(
        out_root=out, n_groups=3, num_partitions=4, input_snapshot="snap-A"
    )
    seq = synthetic_sequences(spark, 60, seed=42)
    storage = ParquetSnapshotStorage(spark, out)

    stats = run_pipeline(spark, seq, cfg, storage=storage)
    assert stats["groups_run"] == 3 and stats["groups_skipped"] == 0

    feats = storage.read("features")
    assert feats.count() == 60
    rollup = storage.read("rollup")
    assert rollup.filter(F.col("tier") == 100).count() > 0
    metrics = storage.read("metrics")
    assert metrics.count() > 0
    mrow = metrics.select(F.sum("rows").alias("r"), F.min("partition_id").alias("p")).head()
    assert mrow.r > 0 and mrow.p >= 0
    assert set(
        metrics.select("input_snapshot").distinct().toPandas()["input_snapshot"]
    ) == {"snap-A"}

    # per-row invariant on the persisted chunk table
    back = reassemble(decode_chunks(storage.read("chunks")))
    orig = {r.doc_id: r.tokens for r in seq.collect()}
    for r in back.collect():
        assert orig[r.doc_id] == r.tokens

    # resume: nothing left to do
    stats2 = run_pipeline(spark, seq, cfg, storage=storage)
    assert stats2["groups_run"] == 0 and stats2["groups_skipped"] == 3
    assert storage.read("features").count() == 60  # no duplicate appends

    # new input snapshot -> full rerun
    cfg2 = PipelineConfig(
        out_root=out, n_groups=3, num_partitions=4, input_snapshot="snap-B"
    )
    stats3 = run_pipeline(spark, seq, cfg2, storage=storage)
    assert stats3["groups_run"] == 3
    state = load_checkpoint(cfg2)
    assert state["input_snapshot"] == "snap-B"


def test_storage_snapshot_pinning(spark, tmp_path):
    storage = ParquetSnapshotStorage(spark, str(tmp_path / "store"))
    df1 = spark.range(5).withColumnRenamed("id", "x")
    df2 = spark.range(5, 8).withColumnRenamed("id", "x")
    s1 = storage.append(df1, "t")
    storage.append(df2, "t")
    assert storage.read("t").count() == 8
    assert storage.read("t", as_of=s1).count() == 5  # VERSION AS OF semantics


def test_iceberg_storage_contract_mocked():
    """The Iceberg backend can't execute in this sandbox (no runtime
    jar), so pin its append/read/snapshot contract against mocks: append
    must writeTo().append() then fetch the newest snapshot id; read must
    pin snapshot-id when as_of is given; current_snapshot of an empty
    table is None."""
    from unittest.mock import MagicMock

    from light_curve_spark.sources.catalog import IcebergStorage

    spark = MagicMock()
    st = IcebergStorage(spark)
    df = MagicMock()
    spark.sql.return_value.head.return_value = [12345]
    snap = st.append(df, "db.tbl", partition_by=["source"])
    df.writeTo.assert_called_once_with("db.tbl")
    df.writeTo.return_value.append.assert_called_once()
    assert snap == "12345"
    assert "db.tbl.snapshots" in spark.sql.call_args[0][0]

    st.read("db.tbl", as_of="12345")
    spark.read.format.assert_called_with("iceberg")
    spark.read.format.return_value.option.assert_called_with(
        "snapshot-id", "12345"
    )
    st.read("db.tbl")
    spark.read.format.return_value.load.assert_called_with("db.tbl")

    spark.sql.return_value.collect.return_value = []
    assert st.current_snapshot("db.tbl") is None


def _sorted_pandas(df, keys):
    return df.select(*sorted(df.columns)).toPandas().sort_values(keys).reset_index(drop=True)


def test_pipeline_tables_equal_public_operators(spark, tmp_path):
    """The fused single-crossing pass writes exactly what the four public
    operators produce on the same input — including an empty sequence,
    one of exactly two chunks' length and a split outlier — its lineage
    rows add up to the chunk table, and its group frame holds one
    MapInArrow."""
    import pandas as pd

    from light_curve_spark.operators.compress import encode_chunks
    from light_curve_spark.operators.features import extract_features
    from light_curve_spark.operators.rollup import (
        rollup_quantiles_arrays,
        rollup_tiers_arrays,
    )
    from light_curve_spark.plans.pipeline import _sequence_tables
    from light_curve_spark.plans.salting import salted_repartition
    from light_curve_spark.sources.synthetic import SEQUENCES_SCHEMA

    rng = np.random.default_rng(5)
    edge = spark.createDataFrame(
        [
            ("edge-empty", [], 0, "web"),
            ("edge-128", rng.integers(0, 5000, 128).tolist(), 128, "code"),
            ("edge-outlier", rng.integers(0, 5000, 1000).tolist(), 1000, "web"),
        ],
        SEQUENCES_SCHEMA,
    )
    seq = synthetic_sequences(spark, 40, seed=11).unionByName(edge)
    out = str(tmp_path / "pipe")
    cfg = PipelineConfig(out_root=out, n_groups=2, num_partitions=3, max_chunk_len=64)
    storage = ParquetSnapshotStorage(spark, out)
    assert run_pipeline(spark, seq, cfg, storage=storage)["groups_run"] == 2

    expected = {
        "features": (extract_features(seq, freqs=np.asarray(cfg.freqs)), ["doc_id"]),
        "rollup": (
            rollup_tiers_arrays(seq, base_width=cfg.base_width, tiers=cfg.tiers),
            ["doc_id", "tier", "bucket"],
        ),
        "rollup_quantiles": (
            rollup_quantiles_arrays(seq, base_width=cfg.base_width, tiers=cfg.tiers),
            ["doc_id", "tier", "bucket"],
        ),
        "chunks": (encode_chunks(seq, max_len=cfg.max_chunk_len), ["doc_id", "chunk_no"]),
    }
    for table, (want, keys) in expected.items():
        got = storage.read(table)
        assert sorted(got.columns) == sorted(want.columns), table
        pd.testing.assert_frame_equal(
            _sorted_pandas(got, keys),
            _sorted_pandas(want, keys),
            check_dtype=False,
            check_exact=True,
            obj=table,
        )
    empty = storage.read("features").filter(F.col("doc_id") == "edge-empty").head()
    assert empty["count"] == 0.0 and np.isnan(empty["mean"])
    chunks = storage.read("chunks")
    assert chunks.filter(F.col("doc_id") == "edge-128").count() == 2
    assert chunks.filter(F.col("doc_id") == "edge-outlier").count() == 16
    assert chunks.filter(F.col("doc_id") == "edge-empty").head().n == 0

    totals = chunks.select(
        F.count("*").alias("rows"),
        (F.sum(F.length("ts_dod")) + F.sum(F.length("vals_gorilla"))).alias("bytes"),
    ).head()
    lineage = storage.read("metrics").select(
        F.sum("rows").alias("rows"), F.sum("bytes").alias("bytes")
    ).head()
    assert (lineage.rows, lineage.bytes) == (totals.rows, totals.bytes)

    gseq = salted_repartition(seq, cfg.num_partitions, cfg.n_buckets)
    fused, _ = _sequence_tables(gseq, cfg)
    fused.collect()
    plan = fused._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("MapInArrow") == 1, plan
