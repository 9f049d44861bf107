"""Delete-path stress (round 6): tombstones on the IVF ANN layout at
750k vectors and on the incremental embedding-LSH index at ~252k
vectors — the scale evidence for the right-to-be-forgotten surface
(`tombstone_ivf` / `tombstone_vectors`; the document-pipeline twin is
stressed at 91k docs in scripts/stress_stream_doc_pipeline.py).

Protocol A (IVF, the serving-layout delete):
1. 500k-vector base (dim 64, stress-ANN corpus), 256 trained centroids,
   bucket-partitioned layout; frozen-centroid append of 250k more
   (the round-5 incremental protocol) -> 750k grown table;
2. tombstone every 97th vec_id (~7.7k ids); probe 20 queries before
   and after (the delete is a broadcast anti-join on the pruned scan —
   its read overhead is the number that matters for serving);
   assert no deleted id is ever returned;
3. `relayout_ivf` -> physical erasure + codebook retrain at 750k (the
   rewrite wall the drift loop pays when it fires); assert the raw
   parquet holds no deleted row and the audit list rode along.

Protocol B (embedding index, the dedup-state delete):
1. ~126k-row first delivery (planted near-threshold twins) folded into
   a fresh index (n_tables=4); tombstone the base ids whose twins
   arrive in delivery 2 (plus background ids; ~1.3k total);
2. second delivery (~126k rows): wall with the tombstone anti-joins in
   the plan; assert pairs NEVER touch a deleted id and stay a subset
   of the planted truth on the reduced corpus;
3. `compact_stream_state`: physical-erasure wall; assert zero index
   rows carry a deleted id afterwards.

Run: PYTHONPATH=.:scripts python scripts/stress_tombstones.py
Prints one JSON line; transcribed into BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from stress_ann import _queries, synth_embeddings  # noqa: E402
from stress_emb_lsh import THRESHOLD, planted_truth, synth_corpus  # noqa: E402


def _probe_pass(spark, layout, queries, k, nprobe):
    from light_curve_spark.operators.similarity import (
        cosine_topk,
        read_ivf_probe,
    )

    t0 = time.time()
    got: list[set[int]] = []
    for q in queries:
        ql = [float(x) for x in q]
        probed = read_ivf_probe(spark, layout, None, ql, nprobe=nprobe)
        got.append(
            {r.vec_id for r in cosine_topk(probed, ql, k=k).collect()}
        )
    return got, time.time() - t0


def main() -> None:
    from light_curve_spark.operators.similarity import (
        append_ivf_partitioned,
        incremental_embedding_pairs,
        relayout_ivf,
        tombstone_ivf,
        tombstone_vectors,
        train_ivf_centroids,
        write_ivf_partitioned,
    )
    from light_curve_spark.plans.caching import release_operator_caches
    from light_curve_spark.session import build_session
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.streaming.compact import compact_stream_state

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_base = int(os.environ.get("SPARK_GRAFT_IVF_N", "500000"))
    k, nprobe = 10, 8
    spark = build_session(
        app_name="stress-tombstones", master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    res: dict = {"cpus": cpus}

    # ---------- Protocol A: IVF layout ----------
    root = tempfile.mkdtemp(prefix="tombstress-")
    base = synth_embeddings(spark, n_base)
    base.write.parquet(root + "/base.parquet")
    base = spark.read.parquet(root + "/base.parquet")
    cents = train_ivf_centroids(base, n_centroids=256, sample_size=4096, iters=5)
    layout = root + "/layout"
    write_ivf_partitioned(base, cents, layout, shuffle_partitions=256)
    n_new = n_base // 2
    new = synth_embeddings(spark, n_base + n_new).filter(
        F.col("vec_id") >= n_base
    )
    append_ivf_partitioned(new, cents, layout)
    n_grown = spark.read.parquet(layout).count()
    res["ivf_n_grown"] = n_grown

    queries = _queries()
    before, wall_before = _probe_pass(spark, layout, queries, k, nprobe)

    deleted_cond = F.col("vec_id") % 97 == 0
    del_ids = spark.read.parquet(layout).filter(deleted_cond).select("vec_id")
    t0 = time.time()
    tombstone_ivf(spark, layout, del_ids)
    res["ivf_tombstone_write_s"] = round(time.time() - t0, 2)
    n_deleted = del_ids.distinct().count()
    res["ivf_n_deleted"] = n_deleted

    after, wall_after = _probe_pass(spark, layout, queries, k, nprobe)
    assert all(all(v % 97 != 0 for v in s) for s in after)
    res["ivf_probe_wall_before_s"] = round(wall_before, 2)
    res["ivf_probe_wall_after_s"] = round(wall_after, 2)
    res["ivf_probe_results_changed"] = sum(
        1 for b, a in zip(before, after) if b != a
    )

    v2 = root + "/layout2"
    t0 = time.time()
    relayout_ivf(
        spark, layout, v2, n_centroids=256, sample_size=4096,
        shuffle_partitions=256,
    )
    res["ivf_relayout_erase_s"] = round(time.time() - t0, 2)
    raw = spark.read.parquet(v2)
    n_after = raw.count()
    assert n_after == n_grown - n_deleted, (n_after, n_grown, n_deleted)
    assert raw.filter(deleted_cond).count() == 0
    res["ivf_rows_after_relayout"] = n_after
    _, wall_v2 = _probe_pass(spark, v2, queries, k, nprobe)
    res["ivf_probe_wall_relayouted_s"] = round(wall_v2, 2)

    # ---------- Protocol B: incremental embedding index ----------
    n_docs = int(os.environ.get("SPARK_GRAFT_EMB_N", "250000"))
    seed = 42
    corpus = synth_corpus(spark, n_docs, clustered=False, seed=seed)
    corpus.write.parquet(root + "/corpus.parquet")
    corpus = spark.read.parquet(root + "/corpus.parquet")
    # delivery 1 = the base rows; delivery 2 = the planted twins (id =
    # base + 1e9), so EVERY truth pair crosses the deliveries and the
    # second fold is a pure probe of the (tombstone-filtered) index
    b1 = corpus.filter(F.col("vec_id") < 1_000_000_000)
    b2 = corpus.filter(F.col("vec_id") >= 1_000_000_000)
    truth, _min_cos = planted_truth(n_docs, clustered=False, seed=seed)
    res["emb_n_rows"] = corpus.count()
    res["emb_truth_pairs"] = len(truth)

    st = ParquetSnapshotStorage(spark, root + "/st")
    t0 = time.time()
    incremental_embedding_pairs(
        st, b1, prefix="ts", threshold=THRESHOLD, n_tables=4,
        id_col="vec_id", vec_col="embedding",
    ).count()
    release_operator_caches()
    res["emb_delivery1_s"] = round(time.time() - t0, 2)

    # delete every 9th twin-base (multiples of 900 are TWIN_EVERY
    # multiples -> each removes a planted pair) plus background ids
    dels = sorted(
        {i for i in range(0, n_docs, 900)}
        | {i for i in range(1, n_docs, 977)}
    )
    t0 = time.time()
    tombstone_vectors(st, dels, prefix="ts")
    res["emb_tombstone_write_s"] = round(time.time() - t0, 2)
    res["emb_n_deleted"] = len(dels)

    t0 = time.time()
    p2 = incremental_embedding_pairs(
        st, b2, prefix="ts", threshold=THRESHOLD, n_tables=4,
        id_col="vec_id", vec_col="embedding",
    )
    got2 = {(r.id_a, r.id_b) for r in p2.collect()}
    release_operator_caches()
    res["emb_delivery2_s"] = round(time.time() - t0, 2)

    delset = set(dels)
    assert all(a not in delset and b not in delset for a, b in got2), (
        "pair touched a deleted id"
    )
    reduced_truth = {
        (a, b) for a, b in truth if a not in delset and b not in delset
    }
    assert got2 <= reduced_truth, "non-planted pair surfaced"
    removed = {(a, b) for a, b in truth if a in delset or b in delset}
    res["emb_truth_pairs_removed_by_delete"] = len(removed)
    res["emb_delivery2_pairs"] = len(got2)
    res["emb_delivery2_recall_vs_planted"] = round(
        len(got2) / max(1, len(reduced_truth)), 3
    )

    t0 = time.time()
    stats = compact_stream_state(st, prefix="ts")
    res["emb_compaction_s"] = round(time.time() - t0, 2)
    res["emb_index_rows_after_compaction"] = stats["ts_index"]["rows"]
    idx = st.read("ts_index")
    assert (
        idx.join(
            F.broadcast(
                spark.createDataFrame([(i,) for i in dels], "_id long")
            ),
            "_id",
            "left_semi",
        ).count()
        == 0
    )
    print(json.dumps(res))


if __name__ == "__main__":
    main()
