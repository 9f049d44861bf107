"""Incremental-IVF stress (round-4 verdict item 9): frozen-centroid
append at scale + the drift metric's measured sensitivity.

Protocol (same deterministic corpus generators as scripts/stress_ann.py:
80% clustered around 256 splitmix64 centers, 20% uniform background):
1. base table (SPARK_GRAFT_IVF_N, default 500k vectors, dim 64): train
   256 centroids on the pinned sample, write the bucket-partitioned
   layout, record baseline quantization stats;
2. append 50% more vectors from the SAME distribution with FROZEN
   centroids (`append_ivf_partitioned`); verify probe recall on the
   grown table vs exact brute force; drift ratio must stay ~1;
3. append a DRIFTED batch (vectors displaced off the center manifold);
   the drift ratio (batch mean_d2 / baseline mean_d2) must fire well
   above the ~1.5x retrain threshold documented in
   `append_ivf_partitioned`'s docstring.

Run: PYTHONPATH=.:scripts python scripts/stress_ivf_incremental.py
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

from stress_ann import DIM, _queries, synth_embeddings  # noqa: E402


def main() -> None:
    from light_curve_spark.operators.similarity import (
        append_ivf_partitioned,
        cosine_topk,
        ivf_quantization_stats,
        read_ivf_probe,
        train_ivf_centroids,
        write_ivf_partitioned,
    )
    from light_curve_spark.session import build_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_base = int(os.environ.get("SPARK_GRAFT_IVF_N", "500000"))
    k = 10
    nprobe = 8
    spark = build_session(
        app_name="stress-ivf-inc", master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")

    root = tempfile.mkdtemp(prefix="ivfinc-")
    base = synth_embeddings(spark, n_base)
    base.write.parquet(root + "/base.parquet")
    base = spark.read.parquet(root + "/base.parquet")

    t0 = time.time()
    cents = train_ivf_centroids(
        base, n_centroids=256, sample_size=4096, iters=5
    )
    train_s = time.time() - t0
    layout = root + "/layout"
    t0 = time.time()
    write_ivf_partitioned(base, cents, layout, shuffle_partitions=256)
    write_s = time.time() - t0
    baseline = ivf_quantization_stats(base, cents)

    # same-distribution arrivals: ids continue the generator sequence
    n_new = n_base // 2
    new = (
        synth_embeddings(spark, n_base + n_new)
        .filter(F.col("vec_id") >= n_base)
    )
    new.write.parquet(root + "/new.parquet")
    new = spark.read.parquet(root + "/new.parquet")
    t0 = time.time()
    append_ivf_partitioned(new, cents, layout)
    append_s = time.time() - t0
    same_stats = ivf_quantization_stats(new, cents)

    grown = spark.read.parquet(layout)
    n_grown = grown.count()

    # probe recall on the grown table vs exact brute force
    queries = _queries()
    hits, scanned_frac = 0, []
    for q in queries:
        ql = [float(x) for x in q]
        probed = read_ivf_probe(spark, layout, cents, ql, nprobe=nprobe)
        scanned_frac.append(probed.count() / n_grown)
        approx = {
            r.vec_id
            for r in cosine_topk(probed, ql, k=k).collect()
        }
        exact = {
            r.vec_id
            for r in cosine_topk(
                grown.select("vec_id", "embedding"), ql, k=k
            ).collect()
        }
        hits += len(approx & exact)
    recall = hits / (k * len(queries))

    # drifted arrivals: displace every vector off the center manifold
    def drift_vec(df):
        shift = F.array(*[F.lit(0.35)] * DIM)
        return df.select(
            (F.col("vec_id") + 10_000_000).alias("vec_id"),
            F.zip_with(
                "embedding", shift, lambda a, b: (a + b).cast("float")
            ).alias("embedding"),
        )

    drifted = drift_vec(new.limit(100_000))
    drift_stats = ivf_quantization_stats(drifted, cents)

    res = {
        "n_base": n_base,
        "n_appended": n_new,
        "n_grown": n_grown,
        "cpus": cpus,
        "train_s": round(train_s, 1),
        "write_layout_s": round(write_s, 1),
        "append_s": round(append_s, 1),
        "baseline_mean_d2": round(baseline["mean_d2"], 4),
        "same_dist_drift_ratio": round(
            same_stats["mean_d2"] / baseline["mean_d2"], 3
        ),
        "drifted_drift_ratio": round(
            drift_stats["mean_d2"] / baseline["mean_d2"], 3
        ),
        "probe_recall_at_10_grown": round(recall, 3),
        "mean_scan_fraction": round(float(np.mean(scanned_frac)), 4),
        "nprobe": nprobe,
    }
    print(json.dumps(res))
    assert res["same_dist_drift_ratio"] < 1.5
    assert res["drifted_drift_ratio"] > 1.5


if __name__ == "__main__":
    main()
