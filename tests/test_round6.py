"""Round-6 coverage: stream-state compaction, manifest-meta probes,
partition-pruned incremental indexes, checkpoint attribution, IVF
relayout, and the embedding-LSH guards (round-5 VERDICT items 1-2 and
5-7 plus all four ADVICE findings)."""

import os
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from tests.test_round4 import _eval_corpus, _pipeline_corpus

DOC_SCHEMA = StructType(
    [StructField("doc_id", LongType(), True),
     StructField("text", StringType(), True)]
)


def _stream_deliver(spark, storage, in_dir, ckpt, ev, mfpt=None,
                    compact_every=None):
    from light_curve_spark.plans.caching import release_operator_caches
    from light_curve_spark.streaming.documents import run_stream_document_pipeline

    run_stream_document_pipeline(
        spark, in_dir + "/*", DOC_SCHEMA, storage, ckpt, eval_docs=ev,
        max_files_per_trigger=mfpt, compact_every=compact_every,
    )
    release_operator_caches()


def _status_map(storage, prefix="dpx"):
    from light_curve_spark.streaming.documents import read_document_status

    return {
        r.doc_id: r.drop_stage
        for r in read_document_status(storage, prefix=prefix, min_quality=0.05)
        .collect()
    }


def test_compact_stream_state_preserves_status_and_future_folds(
    spark, tmp_path
):
    """The compaction contract end-to-end: status equal before/after,
    every table folded to ONE snapshot, a post-compaction delivery
    still folds correctly (equal to an uncompacted twin), and a
    checkpoint-loss re-delivery after compaction is still a no-op."""
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.streaming.compact import compact_stream_state

    docs = spark.createDataFrame(_pipeline_corpus()).filter(
        F.col("text").isNotNull()
    )
    ev = spark.createDataFrame(_eval_corpus())
    in_a, in_b = str(tmp_path / "ina"), str(tmp_path / "inb")
    st_a = ParquetSnapshotStorage(spark, str(tmp_path / "sa"))  # compacted
    st_b = ParquetSnapshotStorage(spark, str(tmp_path / "sb"))  # twin

    parts = [
        docs.filter(F.col("doc_id") % 3 == k).coalesce(1) for k in range(3)
    ]
    for k in (0, 1):  # two deliveries, two drains
        parts[k].write.parquet(f"{in_a}/b{k}")
        parts[k].write.parquet(f"{in_b}/b{k}")
        _stream_deliver(spark, st_a, in_a, str(tmp_path / "cka"), ev)
        _stream_deliver(spark, st_b, in_b, str(tmp_path / "ckb"), ev)

    before = _status_map(st_a)
    stats = compact_stream_state(st_a, prefix="dpx")
    assert stats["dpx_attrs"]["snapshots_before"] == 2
    for t in stats:
        assert len(st_a.snapshots(t)) == 1, t
    assert _status_map(st_a) == before

    # a post-compaction delivery folds into the compacted tables
    parts[2].write.parquet(f"{in_a}/b2")
    parts[2].write.parquet(f"{in_b}/b2")
    _stream_deliver(spark, st_a, in_a, str(tmp_path / "cka"), ev)
    _stream_deliver(spark, st_b, in_b, str(tmp_path / "ckb"), ev)
    assert _status_map(st_a) == _status_map(st_b)

    # checkpoint loss after compaction: a full re-delivery with the
    # original per-file batch grouping must no-op (the content-derived
    # batch ids survived compaction via the manifest meta)
    counts = {
        t: st_a.read(t).count()
        for t in ("dpx_attrs", "dpx_index", "dpx_contam_matches")
    }
    _stream_deliver(spark, st_a, in_a, str(tmp_path / "cka2"), ev, mfpt=1)
    assert counts == {
        t: st_a.read(t).count()
        for t in ("dpx_attrs", "dpx_index", "dpx_contam_matches")
    }


def test_materialize_document_status_matches_live_view(spark, tmp_path):
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.streaming.compact import materialize_document_status
    from light_curve_spark.streaming.documents import read_document_status

    docs = spark.createDataFrame(_pipeline_corpus()).filter(
        F.col("text").isNotNull()
    )
    ev = spark.createDataFrame(_eval_corpus())
    in_dir = str(tmp_path / "in")
    st = ParquetSnapshotStorage(spark, str(tmp_path / "st"))
    docs.coalesce(2).write.parquet(f"{in_dir}/b0")
    _stream_deliver(spark, st, in_dir, str(tmp_path / "ck"), ev)

    out = materialize_document_status(st, prefix="dpx", min_quality=0.05)
    live = read_document_status(st, prefix="dpx", min_quality=0.05)
    got = {(r.doc_id, r.drop_stage) for r in out.collect()}
    want = {(r.doc_id, r.drop_stage) for r in live.collect()}
    assert got == want and got
    # the snapshot records the policy it was computed under
    meta = st.snapshot_metas("dpx_status")[0]
    assert meta["policy"]["min_quality"] == 0.05


def test_minhash_index_banded_layout_prunes_partitions(spark, tmp_path):
    """New indexes are hive-partitioned on the band/doc hash key, and a
    key-restricted read shows PartitionFilters (directory pruning) in
    the physical plan — the 100 TB posture: a delivery's join touches
    only the partitions its own band keys occupy."""
    from light_curve_spark.operators.dedup import incremental_minhash_pairs
    from light_curve_spark.plans.caching import release_operator_caches
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage

    rows = [
        (i, " ".join(f"t{i}_{j} mix{j % 3}" for j in range(15)))
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    st = ParquetSnapshotStorage(spark, str(tmp_path / "st"))
    incremental_minhash_pairs(st, docs, prefix="pp")
    release_operator_caches()

    snap = st.snapshots("pp_index")[0]["path"]
    dirs = [d for d in os.listdir(snap) if d.startswith("_pb=")]
    assert dirs, "index snapshot is not hive-partitioned on _pb"
    # band rows: 4 per doc in [0, 16); gram rows: 1 per doc in [16, 32)
    idx = st.read("pp_index")
    assert idx.filter(F.col("_pb") < 16).count() == 30 * 4
    assert idx.filter(F.col("_pb") >= 16).count() == 30
    assert idx.filter(
        (F.col("_pb") >= 16) & F.col("grams").isNull()
    ).count() == 0

    pruned = idx.filter(F.col("_pb").isin([0, 1, 2]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_pb" in plan


def test_minhash_index_config_guard(spark, tmp_path):
    from light_curve_spark.operators.dedup import incremental_minhash_pairs
    from light_curve_spark.plans.caching import release_operator_caches
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage

    docs = spark.createDataFrame(
        [(i, f"a{i} b{i} c{i} d{i} e{i}") for i in range(10)],
        "doc_id long, text string",
    )
    st = ParquetSnapshotStorage(spark, str(tmp_path / "st"))
    incremental_minhash_pairs(st, docs, prefix="cg", num_hashes=16, bands=4)
    release_operator_caches()
    with pytest.raises(ValueError, match="different config"):
        incremental_minhash_pairs(st, docs, prefix="cg", num_hashes=16, bands=8)
    with pytest.raises(ValueError, match="different config"):
        incremental_minhash_pairs(
            st, docs.withColumn("tokens", F.array(F.lit(1))), prefix="cg",
            tokens_col="tokens",
        )
    release_operator_caches()


def test_unstamped_snapshot_is_refused(spark, tmp_path):
    """The idempotency probe reads the snapshot manifest (no Spark job):
    every append the operator makes is stamped with its batch id, and a
    snapshot appended without a stamp makes the next fold and the next
    compaction raise."""
    from light_curve_spark.operators.dedup import (
        _manifest_batch_ids,
        incremental_minhash_pairs,
    )
    from light_curve_spark.plans.caching import release_operator_caches
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.streaming.compact import compact_stream_state

    docs = spark.createDataFrame(
        [(i, f"p{i} q{i} r{i} s{i} t{i}") for i in range(8)],
        "doc_id long, text string",
    )
    st = ParquetSnapshotStorage(spark, str(tmp_path / "st"))
    pairs = incremental_minhash_pairs(st, docs, prefix="mp")
    pairs.count()
    assert len(_manifest_batch_ids(st, "mp_index")) == 1

    # an unstamped append (written out of band) -> the probe refuses
    st.append(st.read("mp_index").limit(1), "mp_index")
    docs2 = docs.withColumn("doc_id", F.col("doc_id") + 100)
    with pytest.raises(ValueError, match="mp_index.*without a batch stamp"):
        incremental_minhash_pairs(st, docs2, prefix="mp")
    with pytest.raises(ValueError, match="mp_index.*without a batch stamp"):
        compact_stream_state(st, prefix="mp")
    release_operator_caches()


def test_embedding_pairs_null_vectors_and_id_schema(spark, tmp_path):
    """Round-5 ADVICE: a non-empty input whose head row has a NULL
    embedding must not TypeError, and the empty-result schema must carry
    the id column's ACTUAL type (string ids here)."""
    from light_curve_spark.operators.similarity import (
        embedding_cosine_pairs_lsh,
        incremental_embedding_pairs,
    )
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage

    mixed = spark.createDataFrame(
        [("a", None), ("b", [1.0, 0.0]), ("c", [1.0, 0.001])],
        "doc_id string, embedding array<double>",
    )
    out = embedding_cosine_pairs_lsh(mixed, threshold=0.9, id_col="doc_id")
    assert out.schema["id_a"].dataType.simpleString() == "string"
    assert {(r.id_a, r.id_b) for r in out.collect()} == {("b", "c")}

    all_null = spark.createDataFrame(
        [("x", None)], "doc_id string, embedding array<double>"
    )
    empty = embedding_cosine_pairs_lsh(all_null, id_col="doc_id")
    assert empty.count() == 0
    assert empty.schema["id_b"].dataType.simpleString() == "string"

    st = ParquetSnapshotStorage(spark, str(tmp_path / "st"))
    inc = incremental_embedding_pairs(st, all_null, prefix="nn", id_col="doc_id")
    assert inc.count() == 0
    assert inc.schema["id_a"].dataType.simpleString() == "string"
    assert not st.exists("nn_index")  # nothing to fold


def test_embedding_index_config_guard_and_pruning(spark, tmp_path):
    """Round-5 ADVICE: the persisted embedding index refuses a call
    whose plane config disagrees with what built it; and the round-6
    layout partitions rows on the bucket hash."""
    from light_curve_spark.operators.similarity import incremental_embedding_pairs
    from light_curve_spark.plans.caching import release_operator_caches
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    st = ParquetSnapshotStorage(spark, str(tmp_path / "st"))
    incremental_embedding_pairs(st, emb, prefix="eg", n_planes=8, seed=42)
    release_operator_caches()
    snap = st.snapshots("eg_index")[0]["path"]
    assert any(d.startswith("_pb=") for d in os.listdir(snap))
    for bad in (
        {"n_planes": 6},
        {"seed": 43},
        {"n_tables": 2},
    ):
        with pytest.raises(ValueError, match="different config"):
            incremental_embedding_pairs(st, emb, prefix="eg", **bad)
    release_operator_caches()


def test_gramdf_eval_corpus_mismatch_raises(spark, tmp_path):
    """Round-5 ADVICE: a stream run pointed at a DIFFERENT eval corpus
    must fail loudly instead of silently reusing the stored eval-side
    gram dfs."""
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage

    docs = spark.createDataFrame(_pipeline_corpus()).filter(
        F.col("text").isNotNull()
    )
    ev1 = spark.createDataFrame(_eval_corpus())
    ev2 = spark.createDataFrame(
        [(9100, "totally different eval text here")],
        "doc_id long, text string",
    )
    in_dir = str(tmp_path / "in")
    st = ParquetSnapshotStorage(spark, str(tmp_path / "st"))
    docs.coalesce(1).write.parquet(f"{in_dir}/b0")
    _stream_deliver(spark, st, in_dir, str(tmp_path / "ck1"), ev1)
    with pytest.raises(Exception, match="different[\\s\\S]*eval corpus"):
        _stream_deliver(spark, st, in_dir, str(tmp_path / "ck2"), ev2)


def test_star_checkpoint_deletion_attributed_by_rdd_handle(spark, tmp_path):
    """Round-5 residual: cleanup must delete exactly the rdd-N dirs this
    computation checkpointed — a concurrently-created foreign entry in
    the shared checkpoint dir (another application's commit) survives."""
    from light_curve_spark.operators import dedup as ddp

    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    deleted: list[str] = []
    orig = ddp._delete_ckpt_dirs

    def recording(sc_, paths):
        deleted.extend(paths)
        orig(sc_, paths)

    try:
        ddp._delete_ckpt_dirs = recording
        # a foreign subdir sitting in the session checkpoint dir the
        # whole time (simulates another app sharing the dir)
        foreign = os.path.join(sc.getCheckpointDir().replace("file:", ""), "foreign-app")
        os.makedirs(foreign, exist_ok=True)
        ids = list(range(300))
        pairs = spark.createDataFrame(
            pd.DataFrame({"doc_a": ids[:-1], "doc_b": ids[1:]})
        ).repartition(4)
        labels = ddp.dedup_clusters(pairs)
        out = {r.doc_id: r.keep_id for r in labels.collect()}
        assert set(out.values()) == {0}
        assert deleted, "no checkpoints were cleaned up"
        assert all(re.search(r"rdd-\d+$", p) for p in deleted), deleted
        assert os.path.isdir(foreign), "foreign checkpoint dir was deleted"
    finally:
        ddp._delete_ckpt_dirs = orig
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )


def test_relayout_ivf_after_drift(spark, tmp_path):
    """The drift loop closes: a layout whose frozen centroids predate a
    displaced batch is rewritten with freshly-sampled centroids; content
    is preserved row-for-row, probing the new layout reproduces exact
    search, and the new codebook quantizes the grown table better."""
    from light_curve_spark.operators.similarity import (
        append_ivf_partitioned,
        cosine_topk,
        ivf_quantization_stats,
        read_ivf_probe,
        relayout_ivf,
        train_ivf_centroids,
        write_ivf_partitioned,
    )

    rng = np.random.default_rng(5)
    base = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(400)
    ]
    shifted = [
        (1000 + i, [float(x + 6.0) for x in rng.normal(size=8)])
        for i in range(400)
    ]
    emb = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ivf")
    cents0 = train_ivf_centroids(emb, n_centroids=8, sample_size=256)
    write_ivf_partitioned(emb, cents0, path)
    drifted = spark.createDataFrame(
        shifted, "vec_id long, embedding array<double>"
    )
    append_ivf_partitioned(drifted, cents0, path)

    new_path = str(tmp_path / "ivf2")
    cents1 = relayout_ivf(
        spark, path, new_path, n_centroids=8, sample_size=256
    )
    old_tbl = spark.read.parquet(path)
    new_tbl = spark.read.parquet(new_path)
    assert new_tbl.count() == old_tbl.count() == 800

    q = [float(x + 6.0) for x in rng.normal(size=8)]
    exact = [
        r.vec_id
        for r in cosine_topk(old_tbl.drop("_bucket"), q, k=5).collect()
    ]
    probed = [
        r.vec_id
        for r in cosine_topk(
            read_ivf_probe(spark, new_path, cents1, q, nprobe=8).drop("_bucket"),
            q, k=5,
        ).collect()
    ]
    assert probed == exact

    grown = old_tbl.drop("_bucket")
    d_old = ivf_quantization_stats(grown, cents0)["mean_d2"]
    d_new = ivf_quantization_stats(grown, cents1)["mean_d2"]
    assert d_new < d_old, (d_new, d_old)


def test_embedding_lsh_bucket_cap(spark):
    """The skew guard: on unskewed buckets the pair set is IDENTICAL to
    the uncapped plan; with a tiny cap the output is a subset (salt
    groups can only drop candidates, and verification stays exact)."""
    from light_curve_spark.operators.similarity import embedding_cosine_pairs_lsh

    rng = np.random.default_rng(3)
    rows = []
    for i in range(60):
        v = rng.normal(size=8)
        rows.append((i, [float(x) for x in v]))
        if i % 6 == 0:
            rows.append(
                (600 + i, [float(x + rng.normal(scale=0.005)) for x in v])
            )
    emb = spark.createDataFrame(rows, "doc_id long, embedding array<double>")
    base = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs_lsh(
            emb, threshold=0.95, id_col="doc_id"
        ).collect()
    }
    uncapped_equal = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs_lsh(
            emb, threshold=0.95, id_col="doc_id", bucket_cap=100_000
        ).collect()
    }
    assert uncapped_equal == base and base

    # hub-bucket shape: 200 near-identical vectors land in one bucket
    hub = [
        (2000 + i, [float(x) for x in (np.ones(8) + rng.normal(scale=0.001, size=8))])
        for i in range(200)
    ]
    hemb = spark.createDataFrame(hub, "doc_id long, embedding array<double>")
    full = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs_lsh(
            hemb, threshold=0.99, id_col="doc_id"
        ).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs_lsh(
            hemb, threshold=0.99, id_col="doc_id", bucket_cap=50
        ).collect()
    }
    assert capped <= full and capped  # subset, still finds within-salt pairs


def test_stream_pipeline_compact_every(spark, tmp_path):
    """compact_every=1 keeps every append-only table at ONE snapshot
    through the run, and the final status equals an uncompacted twin's
    — in-band compaction is maintenance, never semantics."""
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage

    docs = spark.createDataFrame(_pipeline_corpus()).filter(
        F.col("text").isNotNull()
    )
    ev = spark.createDataFrame(_eval_corpus())
    in_a, in_b = str(tmp_path / "ina"), str(tmp_path / "inb")
    st_a = ParquetSnapshotStorage(spark, str(tmp_path / "sa"))  # compacting
    st_b = ParquetSnapshotStorage(spark, str(tmp_path / "sb"))  # twin

    for k in range(3):
        part = docs.filter(F.col("doc_id") % 3 == k).coalesce(1)
        part.write.parquet(f"{in_a}/b{k}")
        part.write.parquet(f"{in_b}/b{k}")
    # one run drains all three files as per-file micro-batches, so the
    # in-band cadence fires between deliveries WITHIN one stream run
    _stream_deliver(
        spark, st_a, in_a, str(tmp_path / "cka"), ev, mfpt=1,
        compact_every=1,
    )
    _stream_deliver(spark, st_b, in_b, str(tmp_path / "ckb"), ev, mfpt=1)

    for t in ("dpx_attrs", "dpx_index", "dpx_contam_matches"):
        assert len(st_a.snapshots(t)) == 1, t
        assert len(st_b.snapshots(t)) == 3, t
    assert _status_map(st_a) == _status_map(st_b)


def test_ivf_centroids_persist_with_layout(spark, tmp_path):
    """The codebook rides with the layout: probe with centroids=None
    reloads it bit-identically; appending with a different codebook
    raises (rows would strand in unprobed buckets); append with
    centroids=None uses the stored codebook; relayout persists the new
    codebook at the new path."""
    from light_curve_spark.operators.similarity import (
        append_ivf_partitioned,
        load_ivf_centroids,
        read_ivf_probe,
        relayout_ivf,
        train_ivf_centroids,
        write_ivf_partitioned,
    )

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(300)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    first = emb.filter(F.col("vec_id") < 200)
    cents = train_ivf_centroids(first, n_centroids=4)
    v1 = str(tmp_path / "v1")
    write_ivf_partitioned(first, cents, v1)
    assert np.array_equal(load_ivf_centroids(v1), cents)

    q = rows[0][1]
    with_mem = {r.vec_id for r in read_ivf_probe(spark, v1, cents, q, 2).collect()}
    with_disk = {r.vec_id for r in read_ivf_probe(spark, v1, None, q, 2).collect()}
    assert with_mem == with_disk and with_mem

    # mismatched codebook refused; stored codebook accepted
    tail = emb.filter(F.col("vec_id") >= 200)
    with pytest.raises(ValueError, match="codebook"):
        append_ivf_partitioned(tail, cents + 0.5, v1)
    append_ivf_partitioned(tail, None, v1)
    assert spark.read.parquet(v1).count() == 300

    v2 = str(tmp_path / "v2")
    new_cents = relayout_ivf(spark, v1, v2, n_centroids=4)
    assert np.array_equal(load_ivf_centroids(v2), new_cents)
    all_ids = {
        r.vec_id for r in read_ivf_probe(spark, v2, None, q, 4).collect()
    }
    assert len(all_ids) == 300


@pytest.mark.parametrize("case", ["append-missing", "probe-mismatch"])
def test_ivf_layout_requires_its_codebook(spark, tmp_path, case):
    """Append and probe share one codebook check: a layout without its
    _ivf_centroids.json refuses an append even with explicit centroids
    (nothing is written), and a probe with centroids other than the
    stored ones raises instead of reading the wrong buckets."""
    from light_curve_spark.operators.similarity import (
        append_ivf_partitioned,
        read_ivf_probe,
        train_ivf_centroids,
        write_ivf_partitioned,
    )

    rng = np.random.default_rng(13)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)]) for i in range(120)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    first = emb.filter(F.col("vec_id") < 100)
    cents = train_ivf_centroids(first, n_centroids=4, sample_size=100)
    path = str(tmp_path / "ivf")
    write_ivf_partitioned(first, cents, path)
    if case == "append-missing":
        os.remove(os.path.join(path, "_ivf_centroids.json"))
        with pytest.raises(ValueError, match="_ivf_centroids.json"):
            append_ivf_partitioned(emb.filter(F.col("vec_id") >= 100), cents, path)
        assert spark.read.parquet(path).count() == 100
    else:
        with pytest.raises(ValueError, match="codebook"):
            read_ivf_probe(spark, path, cents + 0.5, rows[0][1], nprobe=2)


def test_tombstone_documents_matches_batch_on_reduced_corpus(
    spark, tmp_path
):
    """Right-to-be-forgotten deletes: after tombstoning, status equals
    a BATCH pipeline run over the corpus without the deleted docs —
    dup losers of a deleted winner are restored, and deleting
    contamination carriers retroactively flips hot grams back under
    max_df. Compaction then physically erases the rows, status
    unchanged, and the read returns to the persisted-forest fast
    path."""
    from light_curve_spark.plans.caching import release_operator_caches
    from light_curve_spark.plans.doc_pipeline import (
        DocPipelineConfig,
        run_document_pipeline,
    )
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.streaming.compact import compact_stream_state
    from light_curve_spark.streaming.documents import (
        read_document_status,
        tombstone_documents,
    )

    shingle = "tsq0 tsq1 tsq2 tsq3 tsq4"
    rows = []
    # 25 unique shingle carriers: survivor df 25 > max_df=20 -> grams
    # hot -> NO contamination until 10 carriers are deleted (df 15)
    for i in range(25):
        rows.append((i, f"{shingle} uniq{i}_a uniq{i}_b uniq{i}_c"))
    # exact-dup cluster 100..104 (winner 100)
    for j in range(5):
        rows.append((100 + j, "five identical copies of this text body"))
    for k in range(40):
        rows.append((500 + k, f"tbg{k}_a tbg{k}_b tbg{k}_c tbg{k}_d"))
    docs = spark.createDataFrame(rows, DOC_SCHEMA)
    ev = spark.createDataFrame(
        [(9001, shingle + " tsq5 tsq6")], "doc_id long, text string"
    )
    dead = [100, 505] + list(range(15, 25))

    def _batch_status(sub, root):
        cfg = DocPipelineConfig(
            out_root=str(tmp_path / root), input_snapshot="v1",
            contamination_min_shared=2, contamination_max_df=20,
        )
        run_document_pipeline(spark, sub, cfg, eval_docs=ev)
        st = ParquetSnapshotStorage(spark, cfg.out_root)
        out = {
            r.doc_id: r.drop_stage
            for r in st.read("dp_doc_status").collect()
        }
        release_operator_caches()
        return out

    def _stream_status(st):
        return {
            r.doc_id: r.drop_stage
            for r in read_document_status(
                st, contamination_max_df=20, contamination_min_shared=2
            ).collect()
        }

    in_dir = str(tmp_path / "in")
    st = ParquetSnapshotStorage(spark, str(tmp_path / "s"))
    for part in (0, 1):
        docs.filter(F.col("doc_id") % 2 == part).coalesce(1).write.parquet(
            f"{in_dir}/b{part}"
        )
        _stream_deliver(spark, st, in_dir, str(tmp_path / "ck"), ev)

    full_batch = _batch_status(docs, "bfull")
    got = _stream_status(st)
    assert {d for d, s in got.items() if s is None} == {
        d for d, s in full_batch.items() if s is None
    }
    assert got[101] == "dup" and got[0] is None  # grams hot: no contam

    tombstone_documents(st, dead, prefix="dpx")
    reduced = docs.filter(~F.col("doc_id").isin(dead))
    red_batch = _batch_status(reduced, "bred")
    got2 = _stream_status(st)
    assert set(got2) == set(red_batch)  # deleted docs vanish entirely
    assert {d for d, s in got2.items() if s is None} == {
        d for d, s in red_batch.items() if s is None
    }
    assert got2[101] is None  # restored: new winner of the cluster
    assert got2[102] == "dup"  # still convicted by surviving edges
    assert got2[0] == "contamination"  # df 15 <= 20: grams now live

    # physical erasure at compaction; status unchanged; fast path back
    compact_stream_state(st, prefix="dpx")
    assert _stream_status(st) == got2
    for t in ("dpx_attrs", "dpx_index", "dpx_pairs", "dpx_contam_matches"):
        cols = st.read(t).columns
        for c in ("doc_id", "train_id", "doc_a", "doc_b"):
            if c in cols:
                assert (
                    st.read(t).filter(F.col(c).isin(dead)).count() == 0
                ), (t, c)
    forest = st.read_snapshot("dpx_labels")
    assert forest.filter(F.col("doc_id").isin(dead)).count() == 0
    assert forest.filter(F.col("keep_id").isin(dead)).count() == 0

    # post-erasure delivery: an exact copy of the restored winner's
    # text arrives and loses to it
    spark.createDataFrame(
        [(900, "five identical copies of this text body")], DOC_SCHEMA
    ).coalesce(1).write.parquet(f"{in_dir}/b2")
    _stream_deliver(spark, st, in_dir, str(tmp_path / "ck"), ev)
    got3 = _stream_status(st)
    assert got3[900] == "dup" and got3[101] is None


def test_tombstone_refuses_incomplete_edge_history(spark, tmp_path):
    """A state whose deliveries predate per-delivery edge persistence
    cannot answer deletes — refuse instead of silently re-deriving
    clusters from a partial edge set."""
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.streaming.documents import tombstone_documents

    st = ParquetSnapshotStorage(spark, str(tmp_path / "st"))
    st.append(
        spark.createDataFrame(
            [(1, "en", 0.5, 4, "b1")],
            "doc_id long, lang_pred string, quality double, "
            "ws_tokens long, batch_id string",
        ),
        "dpx_attrs",
        meta={"batch_id": "b1"},
    )
    with pytest.raises(ValueError, match="edge persistence"):
        tombstone_documents(st, [1], prefix="dpx")


def test_tombstone_semantic_winner_restores_partner(spark, tmp_path):
    """Tombstoning one side of a SEMANTIC dup pair restores the other
    (no surviving pair convicts it), equals the batch pipeline on the
    reduced corpus, and compaction erases the doc from the semantic
    index/pairs tables too."""
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from light_curve_spark.plans.caching import release_operator_caches
    from light_curve_spark.plans.doc_pipeline import (
        DocPipelineConfig,
        run_document_pipeline,
    )
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.streaming.compact import compact_stream_state
    from light_curve_spark.streaming.documents import (
        read_document_status,
        tombstone_documents,
    )

    docs_pd = _pipeline_corpus()
    docs_pd = docs_pd[docs_pd["text"].notna()]
    rng = np.random.RandomState(11)

    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        return (v / np.linalg.norm(v)).astype("float32").tolist()

    base = rng.randn(12)
    emb_map = {
        int(i): unit(base + 0.001 * rng.randn(12))
        if i in (5, 6)
        else unit(rng.randn(12))
        for i in docs_pd["doc_id"]
    }
    rows = [
        (int(i), t, emb_map[int(i)])
        for i, t in zip(docs_pd["doc_id"], docs_pd["text"])
    ]
    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("text", StringType(), True),
            StructField("embedding", ArrayType(FloatType(), True), True),
        ]
    )
    docs = spark.createDataFrame(rows, schema)
    ev = spark.createDataFrame(_eval_corpus())

    in_dir = str(tmp_path / "in")
    st = ParquetSnapshotStorage(spark, str(tmp_path / "stream"))
    from light_curve_spark.streaming.documents import (
        run_stream_document_pipeline,
    )

    for i in range(2):
        docs.filter(F.col("doc_id") % 2 == i).coalesce(1).write.parquet(
            f"{in_dir}/b{i}"
        )
        run_stream_document_pipeline(
            spark, in_dir + "/*", schema, st, str(tmp_path / "ck"),
            eval_docs=ev, embeddings_col="embedding",
            semantic_threshold=0.98, semantic_n_planes=6,
        )
        release_operator_caches()
    # every table the idempotency probe reads is batch-stamped by the
    # fold, so none can hit the probe's unstamped-table refusal
    probed = [
        f"dpx_{t}" for t in (
            "attrs", "index", "pairs", "sem_index", "sem_pairs",
            "contam_matches", "gramdf",
        )
    ]
    for t in probed:
        assert st.snapshot_metas(t) is not None, t
    pre = {
        r.doc_id: r.drop_stage
        for r in read_document_status(st, min_quality=0.05).collect()
    }
    assert pre[6] == "semantic" and pre[5] is None

    tombstone_documents(st, [5], prefix="dpx")
    cfg = DocPipelineConfig(
        out_root=str(tmp_path / "bred"), input_snapshot="v1",
        min_quality=0.05, contamination_min_shared=2,
        semantic_threshold=0.98, semantic_n_planes=6,
    )
    reduced = docs.filter(F.col("doc_id") != 5)
    run_document_pipeline(
        spark, reduced.select("doc_id", "text"), cfg, eval_docs=ev,
        doc_embeddings=reduced.select("doc_id", "embedding"),
    )
    st_b = ParquetSnapshotStorage(spark, cfg.out_root)
    red_status = {
        r.doc_id: r.drop_stage
        for r in st_b.read("dp_doc_status").collect()
    }
    release_operator_caches()
    got = {
        r.doc_id: r.drop_stage
        for r in read_document_status(st, min_quality=0.05).collect()
    }
    assert got[6] is None  # restored: its only semantic partner is gone
    assert {d for d, s in got.items() if s is None} == {
        d for d, s in red_status.items() if s is None
    }

    compact_stream_state(st, prefix="dpx")
    for t in probed:
        assert st.snapshot_metas(t) is not None, t
    assert {
        r.doc_id: r.drop_stage
        for r in read_document_status(st, min_quality=0.05).collect()
    } == got
    for t in ("dpx_sem_pairs",):
        assert (
            st.read(t)
            .filter((F.col("doc_a") == 5) | (F.col("doc_b") == 5))
            .count()
            == 0
        )
    assert st.read("dpx_sem_index").filter(F.col("_id") == 5).count() == 0


def _planted_embeddings(rng, ids, dups=()):
    """(id, vector) rows: unit-ish gaussians, plus planted near-dups
    ``(new_id, of_id)`` = of_id's vector + tiny noise (cosine > 0.99)."""
    base = {i: rng.normal(size=8) for i in ids}
    for new_id, of_id in dups:
        base[new_id] = base[of_id] + rng.normal(size=8) * 0.005
    return {i: [float(x) for x in v] for i, v in base.items()}


def _emb_df(spark, vecs, ids):
    return spark.createDataFrame(
        [(i, vecs[i]) for i in ids], "doc_id long, embedding array<double>"
    )


def test_tombstone_vectors_reduced_corpus_equivalence(spark, tmp_path):
    """Round 6: ids deleted via tombstone_vectors vanish from both join
    sides of incremental_embedding_pairs — post-delete deliveries equal
    the one-shot LSH run on the corpus WITHOUT the deleted vectors, a
    re-delivered batch folds without regrowing them, and deletes refuse
    a prefix with no index."""
    from light_curve_spark.operators.similarity import (
        embedding_cosine_pairs_lsh,
        incremental_embedding_pairs,
        tombstone_vectors,
    )
    from light_curve_spark.plans.caching import release_operator_caches
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage

    rng = np.random.default_rng(7)
    # batches: b1 = 0..19, b2 = 20..39, b3 = 40..49; planted near-dups
    # reach across the tombstone line: 25~3 (3 deleted -> must NOT
    # pair), 30~5 and 45~22 (survivors -> must pair), 33~31 (in-batch)
    vecs = _planted_embeddings(
        rng, range(50), dups=((25, 3), (30, 5), (45, 22), (33, 31))
    )
    st = ParquetSnapshotStorage(spark, str(tmp_path / "st"))

    with pytest.raises(ValueError, match="no embedding index"):
        tombstone_vectors(st, [3], prefix="tv")

    def feed(ids):
        out = incremental_embedding_pairs(
            st, _emb_df(spark, vecs, ids), prefix="tv",
            threshold=0.98, n_tables=2,
        )
        got = {(r.id_a, r.id_b) for r in out.collect()}
        release_operator_caches()
        return got

    p1 = feed(range(20))
    tombstone_vectors(st, [3, 11], prefix="tv")
    p2 = feed(range(20, 40))
    p3 = feed(range(40, 50))

    survivors = [i for i in range(50) if i not in (3, 11)]
    one_shot = embedding_cosine_pairs_lsh(
        _emb_df(spark, vecs, survivors), threshold=0.98,
        id_col="doc_id", n_tables=2,
    )
    late = {
        (r.id_a, r.id_b)
        for r in one_shot.collect()
        if r.id_a >= 20 or r.id_b >= 20
    }
    assert p2 | p3 == late
    assert (3, 25) not in p2 | p3 and (5, 30) in p2
    assert all(3 not in p and 11 not in p for p in p2 | p3)

    # re-delivery of b1 after the delete: index no-op (no new snapshot,
    # no regrown rows) and the recomputed pairs exclude deleted ids
    n_snaps = len(st.snapshots("tv_index"))
    p1_again = feed(range(20))
    assert len(st.snapshots("tv_index")) == n_snaps
    assert all(3 not in p and 11 not in p for p in p1_again)
    # recomputed against the NOW-larger index: b1's surviving pairs plus
    # any survivor pair reaching into later batches, never a deleted id
    assert p1_again >= {p for p in p1 if 3 not in p and 11 not in p}
    assert all(p[0] < 20 or p[1] < 20 for p in p1_again)
    assert st.read("tv_index").filter(F.col("_id").isin(3, 11)).count() > 0


def test_tombstone_vectors_compaction_erases(spark, tmp_path):
    """compact_stream_state over an embedding-index prefix physically
    drops tombstoned rows, keeps the config guard working, and later
    deliveries still answer from the reduced corpus."""
    from light_curve_spark.operators.similarity import (
        incremental_embedding_pairs,
        tombstone_vectors,
    )
    from light_curve_spark.plans.caching import release_operator_caches
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.streaming.compact import compact_stream_state

    rng = np.random.default_rng(9)
    vecs = _planted_embeddings(rng, range(30), dups=((21, 2), (24, 6)))
    st = ParquetSnapshotStorage(spark, str(tmp_path / "st"))
    incremental_embedding_pairs(
        st, _emb_df(spark, vecs, range(20)), prefix="tc", threshold=0.98
    ).collect()
    release_operator_caches()
    tombstone_vectors(st, [2], prefix="tc")

    stats = compact_stream_state(st, prefix="tc")
    assert stats["tc_index"]["snapshots_before"] == 1
    idx = st.read("tc_index")
    assert idx.filter(F.col("_id") == 2).count() == 0
    assert idx.filter(F.col("_id") == 6).count() > 0
    # idempotency probe survives compaction: re-delivery is a no-op
    n_snaps = len(st.snapshots("tc_index"))
    incremental_embedding_pairs(
        st, _emb_df(spark, vecs, range(20)), prefix="tc", threshold=0.98
    ).collect()
    release_operator_caches()
    assert len(st.snapshots("tc_index")) == n_snaps
    # config guard survives compaction
    with pytest.raises(ValueError, match="different config"):
        incremental_embedding_pairs(
            st, _emb_df(spark, vecs, range(20)), prefix="tc",
            threshold=0.98, n_planes=6,
        )
    release_operator_caches()
    # a post-compaction delivery pairs against survivors only: 21~2 is
    # gone with 2, 24~6 still resolves
    out = incremental_embedding_pairs(
        st, _emb_df(spark, vecs, range(20, 30)), prefix="tc", threshold=0.98
    )
    got = {(r.id_a, r.id_b) for r in out.collect()}
    release_operator_caches()
    assert (6, 24) in got and all(2 not in p for p in got)
    # the audit list persists
    assert st.read("tc_tombstones").count() == 1


def test_tombstone_ivf_probe_append_relayout(spark, tmp_path):
    """IVF layout deletes: probe answers equal the reduced corpus, an
    append cannot resurrect a deleted id, and relayout_ivf is the
    physical-erasure point (rows gone from the raw parquet, audit list
    carried to the new layout)."""
    from light_curve_spark.operators.similarity import (
        append_ivf_partitioned,
        cosine_topk,
        read_ivf_probe,
        relayout_ivf,
        tombstone_ivf,
        train_ivf_centroids,
        write_ivf_partitioned,
    )

    rng = np.random.default_rng(13)
    vecs = _planted_embeddings(rng, range(60), dups=((41, 7),))
    emb = spark.createDataFrame(
        [(i, vecs[i]) for i in range(60)], "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "ivf")
    cents = train_ivf_centroids(emb, n_centroids=4, id_col="vec_id")
    write_ivf_partitioned(emb, cents, path)

    query = vecs[7]
    tombstone_ivf(spark, path, [7, 12])

    probed = read_ivf_probe(spark, path, None, query, nprobe=4)
    got = [r.vec_id for r in cosine_topk(probed, query, k=5).collect()]
    reduced = emb.filter(~F.col("vec_id").isin(7, 12))
    want = [r.vec_id for r in cosine_topk(reduced, query, k=5).collect()]
    assert got == want and 7 not in got and got[0] == 41

    # appending a deleted id again must not resurface it
    again = spark.createDataFrame(
        [(7, vecs[7]), (100, vecs[22])], "vec_id long, embedding array<double>"
    )
    append_ivf_partitioned(again, None, path)
    after = read_ivf_probe(spark, path, None, query, nprobe=4)
    ids_after = {r.vec_id for r in after.collect()}
    assert 7 not in ids_after and 100 in ids_after

    # relayout erases physically and carries the audit list
    new_path = str(tmp_path / "ivf2")
    relayout_ivf(spark, path, new_path, n_centroids=4, id_col="vec_id")
    raw = spark.read.parquet(new_path)
    assert raw.filter(F.col("vec_id").isin(7, 12)).count() == 0
    assert raw.count() == 59  # 60 - 2 deleted + 1 appended (id 100)
    append_ivf_partitioned(
        spark.createDataFrame(
            [(12, vecs[12])], "vec_id long, embedding array<double>"
        ),
        None,
        new_path,
    )
    final = read_ivf_probe(spark, new_path, None, query, nprobe=4)
    assert 12 not in {r.vec_id for r in final.collect()}


def test_tombstone_minhash_standalone_reduced_corpus(spark, tmp_path):
    """tombstone_minhash on a standalone incremental MinHash index:
    post-delete deliveries equal the one-shot run on the corpus minus
    the deleted docs, pipeline prefixes are refused (tombstone_documents
    owns those), and compaction physically erases the index rows."""
    from light_curve_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_lsh_pairs,
        tombstone_minhash,
    )
    from light_curve_spark.plans.caching import release_operator_caches
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.streaming.compact import compact_stream_state

    base = [
        "the quick brown fox jumps over the lazy dog near the river bank",
        "a completely different sentence about spark physical planning",
        "tokenized corpora rarely rhyme with anything useful at all",
        "gradient descent walks downhill one careful step at a time",
        "seven red balloons drifted over the quiet harbor at dawn",
        "the cache hierarchy rewards sequential access patterns nicely",
    ]
    texts = {}
    for i in range(12):
        texts[i] = base[i % 6] + f" variant {i}"
    # near-dups crossing the delete line: 13~1 (1 deleted), 14~2 and
    # 15~13... use survivors: 14~2 (kept), 15~4 (kept)
    texts[13] = texts[1] + " tail"
    texts[14] = texts[2] + " tail"
    texts[15] = texts[4] + " tail"

    def docs(ids):
        return spark.createDataFrame(
            [(i, texts[i]) for i in ids], "doc_id long, text string"
        )

    st = ParquetSnapshotStorage(spark, str(tmp_path / "st"))
    with pytest.raises(ValueError, match="no MinHash index"):
        tombstone_minhash(st, [1], prefix="tm")

    def feed(ids):
        out = incremental_minhash_pairs(
            st, docs(ids), prefix="tm", threshold=0.5
        )
        got = {(r.doc_a, r.doc_b) for r in out.collect()}
        release_operator_caches()
        return got

    feed(range(12))
    tombstone_minhash(st, [1, 7], prefix="tm")
    late = feed([13, 14, 15])

    survivors = [i for i in list(range(12)) + [13, 14, 15] if i not in (1, 7)]
    one_shot = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs(survivors), threshold=0.5).collect()
        if r.doc_a >= 13 or r.doc_b >= 13
    }
    assert late == one_shot
    assert (1, 13) not in late and (2, 14) in late and (4, 15) in late
    assert all(1 not in p and 7 not in p for p in late)

    # physical erasure at compaction; audit list persists; config guard
    # and idempotency survive
    compact_stream_state(st, prefix="tm")
    idx = st.read("tm_index")
    assert idx.filter(F.col("doc_id").isin(1, 7)).count() == 0
    assert idx.filter(F.col("doc_id") == 2).count() > 0
    assert st.read("tm_tombstones").count() == 2
    n_snaps = len(st.snapshots("tm_index"))
    again = feed([13, 14, 15])  # re-delivery: index no-op, same pairs
    assert len(st.snapshots("tm_index")) == n_snaps
    assert again == late

    # a document-pipeline prefix is refused (attrs present)
    st.append(
        spark.createDataFrame([(1, "x")], "doc_id long, digest string"),
        "dp2_attrs",
    )
    st.append(idx.limit(1), "dp2_index")
    with pytest.raises(ValueError, match="tombstone_documents"):
        tombstone_minhash(st, [1], prefix="dp2")


def test_tombstone_vectors_refuses_pipeline_sem_prefix(spark, tmp_path):
    """Deleting a vector from a document pipeline's semantic index
    without deleting the document would desync status from the index —
    the writer refuses; tombstone_documents owns pipeline deletes."""
    from light_curve_spark.operators.similarity import (
        incremental_embedding_pairs,
        tombstone_vectors,
    )
    from light_curve_spark.plans.caching import release_operator_caches
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage

    st = ParquetSnapshotStorage(spark, str(tmp_path / "st"))
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "doc_id long, embedding array<double>",
    )
    incremental_embedding_pairs(st, emb, prefix="dp9_sem").collect()
    release_operator_caches()
    st.append(
        spark.createDataFrame([(1, "x")], "doc_id long, digest string"),
        "dp9_attrs",
    )
    with pytest.raises(ValueError, match="tombstone_documents"):
        tombstone_vectors(st, [1], prefix="dp9_sem")
    # the same prefix WITHOUT pipeline attrs is a plain standalone index
    incremental_embedding_pairs(st, emb, prefix="solo_sem").collect()
    release_operator_caches()
    tombstone_vectors(st, [1], prefix="solo_sem")
    assert st.read("solo_sem_tombstones").count() == 1


@pytest.mark.parametrize(
    "tiers", [(1,), (1, 10, 100), (2, 4, 8, 16)], ids=lambda t: "-".join(map(str, t))
)
def test_retract_from_rollup_equals_reduced_rollup(spark, tiers):
    """retract_from_rollup == rollup_tiers(retained) across every
    delete pattern that exercises a distinct code path: a bucket's min,
    a bucket's max, both extrema, non-extremum rows (no recompute), an
    entire bucket (row drops), an entire key, and rows whose removal
    must propagate a new extremum into the coarser tiers — at a single
    tier, at 1x/10x/100x, and at a base tier above 1 whose factors are
    not 10."""
    from light_curve_spark.operators.rollup import (
        retract_from_rollup,
        rollup_tiers,
    )
    from light_curve_spark.plans.caching import release_operator_caches

    rng = np.random.default_rng(21)
    rows = []
    for key in ("a", "b", "c"):
        for i in range(400):
            rows.append((key, float(i), float(rng.normal())))
    series = spark.createDataFrame(rows, "k string, t double, v double")
    # deletes: every bucket-extremum of key a's first base buckets, all
    # of key b (full-key), base bucket 1 of key c entirely, plus a spread
    # of non-extremum rows (t % 13 == 5)
    w1 = 16.0 * tiers[0]
    per_bucket_min = series.filter(F.col("k") == "a").groupBy(
        F.floor(F.col("t") / w1).alias("_b")
    ).agg(F.min("v").alias("v")).limit(10)
    cond = (
        (F.col("k") == "b")
        | ((F.col("k") == "c") & (F.col("t") >= w1) & (F.col("t") < 2 * w1))
        | (F.col("t") % 13 == 5)
    )
    deleted = series.filter(cond).unionByName(
        series.join(
            per_bucket_min.select(F.col("v").alias("_mv")),
            F.col("v") == F.col("_mv"),
        ).select("k", "t", "v")
    ).distinct()
    retained = series.join(deleted, ["k", "t", "v"], "left_anti")

    kw = dict(keys=["k"], base_width=16.0, tiers=tiers)
    full = rollup_tiers(series, **kw)

    def as_map(df):
        return {
            (r.k, r.tier, r.bucket): (r.n_points, r.v_sum, r.v_min, r.v_max, r.v_mean)
            for r in df.collect()
        }

    want = as_map(rollup_tiers(retained, **kw))
    # over the lazy rollup, and over a materialized one — the way
    # retract_rollup_state sees a stored snapshot
    stored = spark.createDataFrame(full.collect(), full.schema)
    for rollup in (full, stored):
        got = as_map(retract_from_rollup(rollup, deleted, retained, **kw))
        release_operator_caches()
        assert set(got) == set(want)
        assert all(k[0] != "b" for k in got)  # full-key delete vanished
        assert ("c", tiers[0], 1) not in got  # full-bucket delete vanished
        for k, (n, s, lo, hi, mean) in want.items():
            gn, gs, glo, ghi, gmean = got[k]
            assert gn == n and glo == lo and ghi == hi, k
            assert gs == pytest.approx(s, abs=1e-9) and gmean == pytest.approx(
                mean, abs=1e-9
            ), k

    # only the base tier is retracted: over a stored state the plan
    # expands tiers exactly once (the fixed base), never per tier or
    # per consumer of the deleted rows' partials
    plan = (
        retract_from_rollup(stored, deleted, retained, **kw)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    generates = [
        ln for ln in plan.splitlines() if ln.lstrip(" :+-").startswith("Generate ")
    ]
    assert len(generates) == 1, plan

    # empty delete: identity (modulo v_mean re-derivation)
    empty = series.limit(0)
    same = retract_from_rollup(full, empty, series, **kw)
    assert same.count() == full.count()
    release_operator_caches()


def test_retract_rollup_state_both_delete_shapes(spark, tmp_path):
    """retract_rollup_state on the persisted continuous aggregate:
    whole-key deletes are one anti-join (no raw access), partial
    deletes delegate to retract_from_rollup — both snapshots equal the
    rollup over the corpus without the deleted data."""
    from light_curve_spark.operators.rollup import rollup_tiers
    from light_curve_spark.operators.series import explode_series
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.sources.synthetic import synthetic_sequences
    from light_curve_spark.streaming.incremental import (
        incremental_rollup,
        retract_rollup_state,
    )
    from light_curve_spark.plans.caching import release_operator_caches

    st = ParquetSnapshotStorage(spark, str(tmp_path / "inc"))
    seq = synthetic_sequences(spark, 30, seed=42).persist()
    incremental_rollup(spark, st, seq.filter(F.col("doc_id") < "doc00000015"))
    incremental_rollup(spark, st, seq.filter(F.col("doc_id") >= "doc00000015"))

    def as_map(df):
        return {
            (r.doc_id, r.source, r.tier, r.bucket): (
                r.n_points, r.v_sum, r.v_min, r.v_max,
            )
            for r in df.collect()
        }

    # whole-entity delete: four doc_ids vanish via one anti-join
    gone = [f"doc{i:08d}" for i in (3, 7, 15, 22)]
    deleted_keys = spark.createDataFrame([(d,) for d in gone], "doc_id string")
    retract_rollup_state(st, deleted_keys)
    got = as_map(st.read_snapshot("rollup_continuous"))
    keep = seq.filter(~F.col("doc_id").isin(gone))
    want = as_map(rollup_tiers(explode_series(keep)))
    release_operator_caches()
    assert set(got) == set(want)
    for k, (n, s, lo, hi) in want.items():
        gn, gs, glo, ghi = got[k]
        assert gn == n and glo == lo and ghi == hi, k
        assert gs == pytest.approx(s, rel=1e-12), k

    # partial delete: strip each surviving doc's rows at t % 5 == 2
    series = explode_series(keep)
    cond = F.col("t") % 5 == 2
    retract_rollup_state(st, series.filter(cond), retained=series.filter(~cond))
    got2 = as_map(st.read_snapshot("rollup_continuous"))
    want2 = as_map(rollup_tiers(series.filter(~cond)))
    release_operator_caches()
    assert set(got2) == set(want2)
    for k, (n, s, lo, hi) in want2.items():
        gn, gs, glo, ghi = got2[k]
        assert gn == n and glo == lo and ghi == hi, k
        assert gs == pytest.approx(s, abs=1e-9), k

    # missing keys in the delete frame is an error, not a silent no-op
    with pytest.raises(ValueError, match="none of the rollup keys"):
        retract_rollup_state(
            st, spark.createDataFrame([(1,)], "other long")
        )
    seq.unpersist()
