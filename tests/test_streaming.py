"""Stream-fed continuous aggregates: each availableNow micro-batch folds
its not-yet-stamped files through the snapshot rollup fold, so the state
equals batch ``rollup_tiers`` over every delivered file, survives a lost
checkpoint, and accepts ``retract_rollup_state``."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

SCHEMA = StructType(
    [
        StructField("user_id", LongType(), True),
        StructField("ts", TimestampType(), True),
        StructField("value", DoubleType(), True),
    ]
)


def _write_file(spark, path: str, rows: list[tuple]) -> None:
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "value"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    spark.createDataFrame(pdf, schema=SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)


def _batch_rollup(spark, path):
    df = spark.read.schema(SCHEMA).parquet(path)
    return {
        (r.user_id, r.bucket): (r.n_points, r.v_sum, r.v_min, r.v_max)
        for r in df.groupBy(
            "user_id",
            F.floor(
                F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86400e6)
            ).alias("bucket"),
        )
        .agg(
            F.count("*").alias("n_points"),
            F.sum("value").alias("v_sum"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
        )
        .collect()
    }


def test_stream_rollup_upsert_and_resume(spark, tmp_path):
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.streaming.structured import run_stream_rollup

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    inp = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    store_root = str(tmp_path / "store")
    os.makedirs(inp, exist_ok=True)
    storage = ParquetSnapshotStorage(spark, store_root)

    _write_file(
        spark,
        inp,
        [
            (1, "2024-01-01 01:00:00", 10.0),
            (1, "2024-01-01 23:00:00", 30.0),
            (2, "2024-01-02 12:00:00", 5.0),
        ],
    )
    run_stream_rollup(
        spark, inp, SCHEMA, storage, "rollup_stream", ckpt, keys=["user_id"]
    )
    first = {
        (r.user_id, r.bucket): (r.n_points, r.v_sum, r.v_min, r.v_max)
        for r in storage.read_snapshot("rollup_stream").collect()
    }
    assert first[(1, 19723)] == (2, 40.0, 10.0, 30.0)
    assert first[(2, 19724)] == (1, 5.0, 5.0, 5.0)

    # second arrival: updates an existing bucket AND adds a new one;
    # the shared checkpoint means only this new file is processed
    _write_file(
        spark,
        inp,
        [
            (1, "2024-01-01 05:00:00", 2.0),
            (3, "2024-01-03 00:00:00", 7.0),
        ],
    )
    run_stream_rollup(
        spark, inp, SCHEMA, storage, "rollup_stream", ckpt, keys=["user_id"]
    )
    final = {
        (r.user_id, r.bucket): (r.n_points, r.v_sum, r.v_min, r.v_max)
        for r in storage.read_snapshot("rollup_stream").collect()
    }
    assert final == _batch_rollup(spark, inp)
    # the fold merged, not duplicated, the updated bucket
    assert final[(1, 19723)] == (3, 42.0, 2.0, 30.0)
    # untouched bucket carried forward
    assert final[(2, 19724)] == first[(2, 19724)]


def test_stream_lifetime_totals_resume(spark, tmp_path):
    """Per-key lifetime totals are a groupBy(keys) over the stream-fed
    state's coarsest tier: the state must carry across micro-batches AND
    across availableNow runs (checkpoint restore), and the totals must
    equal the batch aggregate."""
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.streaming.structured import run_stream_rollup

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    inp = str(tmp_path / "incoming2")
    ckpt = str(tmp_path / "ckpt2")
    os.makedirs(inp, exist_ok=True)
    storage = ParquetSnapshotStorage(spark, str(tmp_path / "store2"))

    def run_once():
        run_stream_rollup(
            spark, inp, SCHEMA, storage, "totals", ckpt,
            keys=["user_id"], tiers=(1, 10, 100),
        )

    _write_file(
        spark,
        inp,
        [
            (1, "2024-01-01 01:00:00", 10.0),
            (1, "2024-01-01 02:00:00", 30.0),
            (2, "2024-01-01 03:00:00", 5.0),
        ],
    )
    run_once()
    _write_file(spark, inp, [(1, "2024-02-01 00:00:00", 2.0)])
    run_once()

    coarsest = storage.read_snapshot("totals").filter(F.col("tier") == 100)
    latest = {
        r.user_id: (r.n, r.s, r.mn, r.mx)
        for r in coarsest.groupBy("user_id")
        .agg(
            F.sum("n_points").alias("n"),
            F.sum("v_sum").alias("s"),
            F.min("v_min").alias("mn"),
            F.max("v_max").alias("mx"),
        )
        .collect()
    }
    batch = {
        r.user_id: (r.n, r.s, r.mn, r.mx)
        for r in spark.read.schema(SCHEMA)
        .parquet(inp)
        .groupBy("user_id")
        .agg(
            F.count("value").alias("n"),
            F.sum("value").alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert latest == batch
    assert latest[1] == (3, 42.0, 2.0, 30.0)  # state crossed the restart


def _tier_rows(df):
    return {
        (r.user_id, r.tier, r.bucket): (r.n_points, r.v_sum, r.v_min, r.v_max,
                                        r.v_mean)
        for r in df.collect()
    }


def _batch_tiers(spark, path, where=None):
    """Batch ``rollup_tiers`` over the raw files under ``path`` (rows
    matching ``where`` only), in the stream fold's long form."""
    from light_curve_spark.operators.rollup import rollup_tiers
    from light_curve_spark.plans.caching import release_operator_caches

    raw = spark.read.schema(SCHEMA).parquet(path)
    if where is not None:
        raw = raw.filter(where)
    series = raw.select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).cast("double").alias("t"),
        F.col("value").alias("v"),
    )
    out = _tier_rows(rollup_tiers(series, keys=["user_id"], base_width=86400e6))
    release_operator_caches()
    return out


def test_stream_tier_cascade_matches_batch(spark, tmp_path):
    """The stream-fed 1x/10x/100x state must equal the batch rollup_tiers
    cascade on the same input across BOTH availableNow runs — including a
    second arrival that back-fills an already-rolled-up parent bucket —
    and a fresh checkpoint, which re-delivers every file, must fold
    nothing."""
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.streaming.structured import run_stream_rollup

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    inp = str(tmp_path / "incoming3")
    os.makedirs(inp, exist_ok=True)
    storage = ParquetSnapshotStorage(spark, str(tmp_path / "store3"))

    def run(ckpt="ckpt3"):
        run_stream_rollup(
            spark, inp, SCHEMA, storage, "casc", str(tmp_path / ckpt),
            keys=["user_id"], tiers=(1, 10, 100),
        )

    # wave 1: spans several base buckets under one tier-10 parent
    _write_file(
        spark,
        inp,
        [
            (1, "2024-01-01 01:00:00", 10.0),
            (1, "2024-01-04 23:00:00", 30.0),
            (2, "2024-01-02 12:00:00", 5.0),
        ],
    )
    run()
    assert _tier_rows(storage.read_snapshot("casc")) == _batch_tiers(spark, inp)

    # wave 2: back-fills a new base bucket under the ALREADY-ROLLED-UP
    # tier-10/100 parents, extends user 1 into a new tier-10 bucket, and
    # opens a new user entirely
    _write_file(
        spark,
        inp,
        [
            (1, "2024-01-03 05:00:00", 2.0),
            (1, "2024-02-10 12:00:00", -4.0),
            (3, "2024-03-03 00:00:00", 7.0),
        ],
    )
    run()
    got = _tier_rows(storage.read_snapshot("casc"))
    assert got == _batch_tiers(spark, inp)
    assert {t for (_, t, _b) in got} == {1, 10, 100}

    # checkpoint loss: every file is re-delivered, every file is already
    # stamped in the manifest -> no snapshot appended, state unchanged
    n_snaps = len(storage.snapshots("casc"))
    run(ckpt="ckpt3-fresh")
    assert len(storage.snapshots("casc")) == n_snaps
    assert _tier_rows(storage.read_snapshot("casc")) == got

    with pytest.raises(ValueError, match="tiers"):
        run_stream_rollup(
            spark, inp, SCHEMA, storage, "casc", str(tmp_path / "ckpt3"),
            tiers=(1, 10, 25),
        )


def test_stream_fed_state_retraction(spark, tmp_path):
    """retract_rollup_state works on stream-fed state: after a whole-user
    delete the state equals batch rollup_tiers over the files minus that
    user, and a further wave folds on top of the retracted state."""
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.streaming.incremental import retract_rollup_state
    from light_curve_spark.streaming.structured import run_stream_rollup

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    inp = str(tmp_path / "incoming4")
    os.makedirs(inp, exist_ok=True)
    storage = ParquetSnapshotStorage(spark, str(tmp_path / "store4"))

    def run():
        run_stream_rollup(
            spark, inp, SCHEMA, storage, "ret", str(tmp_path / "ckpt4"),
            keys=["user_id"], tiers=(1, 10, 100),
        )

    _write_file(
        spark,
        inp,
        [
            (1, "2024-01-01 01:00:00", 10.0),
            (2, "2024-01-01 05:00:00", 50.0),
            (2, "2024-01-12 05:00:00", -1.0),
            (3, "2024-01-02 12:00:00", 5.0),
        ],
    )
    run()
    retract_rollup_state(
        storage,
        spark.createDataFrame([(2,)], "user_id long"),
        keys=["user_id"],
        tiers=(1, 10, 100),
        table="ret",
    )
    others = F.col("user_id") != 2
    assert _tier_rows(storage.read_snapshot("ret")) == _batch_tiers(
        spark, inp, others
    )

    # wave 2 carries no user-2 rows, so "all files minus the user's
    # first-wave rows" is every non-user-2 row
    _write_file(
        spark,
        inp,
        [
            (1, "2024-01-03 05:00:00", 2.0),
            (3, "2024-02-10 12:00:00", 7.0),
        ],
    )
    run()
    assert _tier_rows(storage.read_snapshot("ret")) == _batch_tiers(
        spark, inp, others
    )


def test_state_maintenance_releases_its_caches(spark, tmp_path):
    """incremental_rollup and both retract_rollup_state shapes return a
    snapshot id, so the caches they register internally must not outlive
    the call."""
    from light_curve_spark.operators.series import explode_series
    from light_curve_spark.plans import caching
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.sources.synthetic import synthetic_sequences
    from light_curve_spark.streaming.incremental import (
        incremental_rollup,
        retract_rollup_state,
    )

    storage = ParquetSnapshotStorage(spark, str(tmp_path / "store5"))
    seq = synthetic_sequences(spark, 8, seed=3)
    series = explode_series(seq.filter(F.col("doc_id") != "doc00000002"))
    cut = F.col("t") % 7 == 1
    calls = [
        lambda: incremental_rollup(spark, storage, seq),
        lambda: retract_rollup_state(
            storage, spark.createDataFrame([("doc00000002",)], "doc_id string")
        ),
        lambda: retract_rollup_state(
            storage, series.filter(cut), retained=series.filter(~cut)
        ),
    ]
    for call in calls:
        before = len(caching._ACTIVE)
        call()
        assert len(caching._ACTIVE) == before
