"""End-to-end pipeline: outputs land in all tables, lineage rows exist,
resume skips completed groups, and the compression invariant holds on the
persisted chunk table."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from light_curve_spark.operators.compress import decode_chunks, reassemble
from light_curve_spark.plans.pipeline import PipelineConfig, load_checkpoint, run_pipeline
from light_curve_spark.sources.catalog import AppendItem, ParquetSnapshotStorage
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


def test_append_many_commits_nothing_when_one_write_fails(spark, tmp_path):
    """A failing write in ``append_many`` leaves every manifest as it was
    and no new snapshot directory behind, whichever item failed."""
    root = tmp_path / "store"
    storage = ParquetSnapshotStorage(spark, str(root))
    good = spark.range(5).select(F.col("id").alias("x"), (F.col("id") % 2).alias("p"))
    storage.append(good, "a")
    storage.append(good, "b", partition_by=["p"])

    def state():
        return {t: (storage.snapshots(t), sorted(os.listdir(root / t))) for t in ("a", "b")}

    before = state()
    bad = good.withColumn(
        "x", F.when(F.col("x") < 3, F.col("x")).otherwise(F.raise_error(F.lit("boom")))
    )
    for items in (
        [AppendItem(good, "a"), AppendItem(bad, "b", ["p"])],
        [AppendItem(bad, "a"), AppendItem(good, "b", ["p"])],
    ):
        with pytest.raises(Exception, match="boom"):
            storage.append_many(items)
        assert state() == before
    with pytest.raises(ValueError, match="at most once"):
        storage.append_many([AppendItem(good, "a"), AppendItem(good, "a")])
    # more concurrent writes than cores: every table commits its own rows
    ids = storage.append_many(
        [AppendItem(good, "a")]
        + [AppendItem(good.withColumn("x", F.col("x") + 10 * i), f"c{i}") for i in range(1, 7)]
    )
    assert len(set(ids)) == 7 and storage.read("a").count() == 10
    for i in range(1, 7):
        assert sorted(r.x for r in storage.read(f"c{i}").collect()) == [10 * i + j for j in range(5)]


class _CrashAfterFirstFeatures:
    """Delegating storage that raises once, right after the first
    ``features`` append has committed."""

    def __init__(self, inner):
        self._inner = inner
        self.crashed = False

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def append(self, df, table, *args, **kwargs):
        snap = self._inner.append(df, table, *args, **kwargs)
        if table == "features" and not self.crashed:
            self.crashed = True
            raise RuntimeError("crash after the features commit")
        return snap


def test_pipeline_resume_after_mid_group_crash_appends_each_group_once(spark, tmp_path):
    """A crash between a group's features commit and its other tables'
    commit: the resume skips every table already stamped with the group,
    so each table holds each group exactly once. A pipeline table with
    an unstamped snapshot refuses a run."""
    from light_curve_spark.plans.pipeline import PIPELINE_TABLES

    out = str(tmp_path / "pipe")
    cfg = PipelineConfig(out_root=out, n_groups=2, num_partitions=3, input_snapshot="v1")
    seq = synthetic_sequences(spark, 40, seed=7)
    storage = _CrashAfterFirstFeatures(ParquetSnapshotStorage(spark, out))
    with pytest.raises(RuntimeError, match="crash after"):
        run_pipeline(spark, seq, cfg, storage=storage)
    assert run_pipeline(spark, seq, cfg, storage=storage)["groups_run"] == 2
    for table in PIPELINE_TABLES:
        groups = sorted(m["batch_id"]["group"] for m in storage.snapshot_metas(table))
        assert groups == [0, 1], table
    feats = storage.read("features")
    assert feats.count() == 40 and feats.select("doc_id").distinct().count() == 40
    n_chunks = storage.read("chunks").count()
    assert storage.read("metrics").agg(F.sum("rows")).head()[0] == n_chunks

    other = str(tmp_path / "unstamped")
    ParquetSnapshotStorage(spark, other).append(spark.range(1), "metrics")
    with pytest.raises(ValueError, match="without a group stamp"):
        run_pipeline(spark, seq, PipelineConfig(out_root=other, n_groups=2))


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


def _parquet_files_per_dir(storage, table) -> list[int]:
    return [
        n
        for snap in storage.snapshots(table)
        for _, _, files in os.walk(snap["path"])
        if (n := sum(f.endswith(".parquet") for f in files))
    ]


@pytest.mark.parametrize("advisory", [None, "1"], ids=["one_task", "num_partitions_tasks"])
def test_pipeline_tables_equal_public_operators(spark, tmp_path, advisory):
    """The fused single-crossing pass writes exactly what the four public
    operators produce on the same input — including an empty sequence,
    one of exactly two chunks' length and a split outlier — its lineage
    rows add up to the chunk table, and its group frame holds one
    MapInArrow. The table writes take their task count from the cached
    group frame against the AQE advisory partition size: a small group
    writes one file per partition directory, and a 1-byte advisory size
    gives ``num_partitions`` write tasks."""
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
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(key)
    if advisory is not None:
        spark.conf.set(key, advisory)
    try:
        assert run_pipeline(spark, seq, cfg, storage=storage)["groups_run"] == 2
    finally:
        spark.conf.set(key, before)
    files = {t: _parquet_files_per_dir(storage, t) for t in ("rollup", "rollup_quantiles", "chunks")}
    if advisory is None:
        assert all(n == 1 for counts in files.values() for n in counts), files
    else:
        assert max(n for counts in files.values() for n in counts) == cfg.num_partitions, files
        assert all(n <= cfg.num_partitions for counts in files.values() for n in counts), files

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
