"""Snapshot storage opens every snapshot with the read schema its writer
recorded in the manifest: no schema inference, so no Spark job on open
and no type drift of hive partition values."""

import json

import pytest
from pyspark.sql import functions as F

from light_curve_spark.sources.catalog import ParquetSnapshotStorage


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _assert_recorded_equals_inferred(spark, st, table):
    snaps = st.snapshots(table)
    assert snaps, table
    for s in snaps:
        inferred = spark.read.parquet(s["path"]).schema
        assert s["schema"] == json.loads(inferred.json()), (table, s["id"])


def test_string_partition_values_keep_their_type(spark, tmp_path):
    """Partition values that look like numbers stay strings (the leading
    zero of "007" survives), and a later non-numeric value leaves the
    table readable."""
    st = ParquetSnapshotStorage(spark, str(tmp_path / "s"))
    schema = "k string, x int, source string"
    st.append(
        spark.createDataFrame([("a", 1, "2024"), ("b", 2, "007")], schema),
        "t",
        partition_by=["source"],
    )
    got = st.read("t")
    assert dict(got.dtypes)["source"] == "string"
    assert sorted(r.source for r in got.collect()) == ["007", "2024"]
    st.append(
        spark.createDataFrame([("c", 3, "web")], schema), "t", partition_by=["source"]
    )
    assert sorted(r.source for r in st.read("t").collect()) == ["007", "2024", "web"]
    assert st.read_snapshot("t").filter(F.col("source") == "web").count() == 1


def test_opening_a_table_runs_no_spark_job(spark, tmp_path):
    st = ParquetSnapshotStorage(spark, str(tmp_path / "s"))
    df = spark.range(20).select(
        F.col("id").alias("doc_id"), F.pmod("id", F.lit(3)).cast("int").alias("tier")
    )
    first = st.append(df, "t", partition_by=["tier"])
    st.append(df, "t")
    assert _jobs_in_group(spark, "open-read", lambda: st.read("t")) == []
    assert _jobs_in_group(spark, "open-pinned", lambda: st.read("t", as_of=first)) == []
    assert _jobs_in_group(spark, "open-snapshot", lambda: st.read_snapshot("t")) == []
    assert st.read("t").count() == 40


def test_snapshot_without_recorded_schema_raises(spark, tmp_path):
    """One open path: a manifest entry that records no read schema is
    refused, naming the table and the snapshot, never inferred."""
    st = ParquetSnapshotStorage(spark, str(tmp_path / "s"))
    snap = st.append(spark.range(3), "t")
    manifest = st._manifest_path("t")
    with open(manifest) as f:
        entries = json.load(f)
    del entries[0]["schema"]
    with open(manifest, "w") as f:
        json.dump(entries, f)
    for open_table in (st.read, st.read_snapshot):
        with pytest.raises(ValueError, match=f"table t snapshot {snap}"):
            open_table("t")


def test_recorded_schema_equals_inferred_for_every_table_shape(spark, tmp_path):
    """For every table shape the library writes, the recorded schema is
    exactly what the parquet reader infers: run_pipeline's five tables,
    the continuous rollup, a _pb-partitioned index, and the
    empty-partitioned fallback of append and of replace."""
    from light_curve_spark.operators.dedup import incremental_minhash_pairs
    from light_curve_spark.plans.caching import release_operator_caches
    from light_curve_spark.plans.pipeline import PipelineConfig, run_pipeline
    from light_curve_spark.sources.synthetic import synthetic_sequences
    from light_curve_spark.streaming.incremental import incremental_rollup

    out = str(tmp_path / "pipe")
    st = ParquetSnapshotStorage(spark, out)
    seq = synthetic_sequences(spark, 20, seed=5)
    cfg = PipelineConfig(out_root=out, n_groups=1, num_partitions=2)
    run_pipeline(spark, seq, cfg, storage=st)
    incremental_rollup(spark, st, seq)
    docs = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 5} jumps") for i in range(12)],
        "doc_id long, text string",
    )
    incremental_minhash_pairs(st, docs, prefix="pp")
    release_operator_caches()
    tables = ["features", "rollup", "rollup_quantiles", "chunks", "metrics",
              "rollup_continuous", "pp_index"]
    for table in tables:
        _assert_recorded_equals_inferred(spark, st, table)

    # an empty partitioned write is rewritten unpartitioned: the
    # partition columns keep the df's own position
    empty = spark.createDataFrame([], "_pb int, doc_id long, score double")
    st.append(empty, "e_append", partition_by=["_pb"])
    st.replace(empty, "e_replace", partition_by=["_pb"])
    for table in ("e_append", "e_replace"):
        _assert_recorded_equals_inferred(spark, st, table)
        assert st.read(table).columns == ["_pb", "doc_id", "score"]
