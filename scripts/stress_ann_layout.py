"""Measured walls for the PRODUCTION ANN posture (round 4): the
bucket-partitioned IVF layout (`write_ivf_partitioned` /
`read_ivf_probe`) at 1M vectors, where the probe filter prunes at the
parquet source instead of filtering a full scan — the posture whose
candidate fractions stress_ann.py measured.

Reported per nprobe: per-query wall over the partitioned layout (cold
source reads, no caching) vs the brute-force full-scan wall, the
fraction of rows the partition-pruned scan actually reads, and a plan
assertion that the probe filter lands in PartitionFilters. (NOTE:
DataFrame.inputFiles() ignores partition pruning — it lists the whole
table — so pruning is evidenced by the plan + rows-scanned, not file
counts.)

Run: PYTHONPATH=.:scripts python scripts/stress_ann_layout.py
Prints one JSON line; transcribed into BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stress_ann import _queries, synth_embeddings  # noqa: E402


def main() -> None:
    import tempfile

    from light_curve_spark.operators.similarity import (
        cosine_topk,
        read_ivf_probe,
        train_ivf_centroids,
        write_ivf_partitioned,
    )
    from light_curve_spark.session import build_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n = int(os.environ.get("SPARK_GRAFT_ANN_N", "1000000"))
    n_cents = int(os.environ.get("SPARK_GRAFT_ANN_CENTROIDS", "256"))
    spark = build_session(
        app_name="stress-ann-layout", master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")

    root = tempfile.mkdtemp(prefix="ann-layout-")
    flat = os.path.join(root, "flat.parquet")
    part = os.path.join(root, "ivf")
    queries = _queries()
    k = 10

    t0 = time.time()
    synth_embeddings(spark, n).write.parquet(flat)
    emb = spark.read.parquet(flat)
    gen_s = time.time() - t0

    t0 = time.time()
    cents = train_ivf_centroids(
        emb, n_centroids=n_cents, iters=5, sample_size=32 * n_cents
    )
    train_s = time.time() - t0
    t0 = time.time()
    write_ivf_partitioned(emb, cents, part, shuffle_partitions=2 * cpus)
    layout_s = time.time() - t0
    n_files = sum(
        1 for dp, _, fs in os.walk(part) for f in fs if f.endswith(".parquet")
    )

    res = {"n_vectors": n, "n_centroids": n_cents, "cpus": cpus,
           "gen_s": round(gen_s, 1), "train_s": round(train_s, 1),
           "layout_write_s": round(layout_s, 1), "n_files": n_files}
    tbl = spark.read.parquet(part)  # list/scan-plan the layout ONCE

    # brute-force full scan off disk (same cold-source discipline)
    t0 = time.time()
    truth = []
    for q in queries:
        truth.append(
            {r.vec_id for r in cosine_topk(emb, list(q), k=k).collect()}
        )
    res["brute_force_wall_per_query_s"] = round(
        (time.time() - t0) / len(queries), 2
    )

    from pyspark.sql import functions as F

    plan_checked = False
    for nprobe in (1, 4, 16):
        t0 = time.time()
        got, rows_frac = [], []
        for q in queries:
            C = np.asarray(cents, dtype=np.float64)
            d2 = ((C - np.asarray(q)[None, :]) ** 2).sum(axis=1)
            probe = [int(i) for i in np.argsort(d2, kind="stable")[:nprobe]]
            probe_df = tbl.filter(F.col("_bucket").isin(probe))
            if not plan_checked:
                plan = probe_df._jdf.queryExecution().executedPlan().toString()
                assert "PartitionFilters" in plan and "_bucket" in plan
                plan_checked = True
            got.append(
                {r.vec_id for r in cosine_topk(probe_df, list(q), k=k).collect()}
            )
            rows_frac.append(probe_df.count() / n)
        recall = float(
            np.mean([len(g & t) / k for g, t in zip(got, truth)])
        )
        res[f"nprobe_{nprobe}"] = {
            "recall_at_10": round(recall, 3),
            "wall_per_query_s": round((time.time() - t0) / len(queries), 3),
            "rows_scanned_frac": round(float(np.mean(rows_frac)), 4),
        }
    res["partition_filter_in_plan"] = plan_checked
    print(json.dumps(res))


if __name__ == "__main__":
    main()
