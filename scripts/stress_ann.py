"""ANN stress bench (round-3 verdict item 2): recall/wall curves for
the two approximate-nearest-neighbor paths (`lsh_ann_topk`,
`ivf_ann_topk`) at >=1M vectors, vs the exact brute-force truth
(`cosine_topk`), plus growth at 2x vectors.

Corpus: deterministic synthetic embeddings, dim 64, float32 —
- 80% clustered: 256 unit centers (splitmix64 directions), member =
  0.9*center + jitter — the structure IVF should exploit;
- 20% uniform background — the noise floor LSH must not drown in.
Queries: 16 near cluster centers + 4 background, NOT dataset members.

Two postures measured per method:
- "one-shot": the operator as shipped — every query pays the full
  bucket-computation scan (train+assign for IVF, bucket expr for LSH);
- "indexed": assignment computed ONCE and cached — the production
  posture (at 100 TB the bucket is the table's partition column and
  probes prune at the source; see ivf_assign docstring).

Run: PYTHONPATH=.:scripts python scripts/stress_ann.py
Env: SPARK_GRAFT_ANN_N (default 1_000_000), SPARK_GRAFT_CPUS.
Prints one JSON line per size; transcribed into BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StructField,
    StructType,
)

DIM = 64
N_CLUSTERS = 256
MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def _sm64(x: np.ndarray) -> np.ndarray:
    z = (x + np.uint64(0x9E3779B97F4A7C15)) & MASK
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & MASK
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & MASK
    return z ^ (z >> np.uint64(31))


def _u01(x: np.ndarray) -> np.ndarray:
    return _sm64(x).astype(np.float64) / 2.0**64


def _centers() -> np.ndarray:
    keys = np.arange(N_CLUSTERS * DIM, dtype=np.uint64) + np.uint64(0xC0FFEE)
    c = _u01(keys).reshape(N_CLUSTERS, DIM) - 0.5
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _vectors_for(ids: np.ndarray) -> np.ndarray:
    cents = _centers()
    n = ids.shape[0]
    keys = ids.astype(np.uint64)[:, None] * np.uint64(1_000_003) + np.arange(
        DIM, dtype=np.uint64
    )[None, :]
    noise = _u01(keys.reshape(-1)).reshape(n, DIM) - 0.5
    is_bg = (ids % 5) == 4  # 20% background
    cluster = (ids * 2654435761) % N_CLUSTERS
    out = np.where(
        is_bg[:, None], noise, 0.9 * cents[cluster] + 0.25 * noise
    )
    return out.astype(np.float32)


def synth_embeddings(spark, n: int):
    schema = StructType(
        [
            StructField("vec_id", LongType(), False),
            StructField("embedding", ArrayType(FloatType(), False), False),
        ]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            vecs = _vectors_for(ids)
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": list(vecs)}
            )

    return spark.range(n, numPartitions=64).mapInPandas(gen, schema=schema)


def _queries() -> list[np.ndarray]:
    cents = _centers()
    qs = []
    for i in range(16):  # near cluster centers, jittered
        keys = np.arange(DIM, dtype=np.uint64) + np.uint64(0xABCD + i * 977)
        jit = _u01(keys) - 0.5
        qs.append((0.92 * cents[i * 11 % N_CLUSTERS] + 0.2 * jit).astype(np.float64))
    for i in range(4):  # background
        keys = np.arange(DIM, dtype=np.uint64) + np.uint64(0xBEEF + i * 131)
        qs.append((_u01(keys) - 0.5).astype(np.float64))
    return qs


def main() -> None:
    from light_curve_spark.operators.similarity import (
        _hyperplanes,
        cosine_topk,
        ivf_ann_topk,
        ivf_assign,
        lsh_ann_topk,
        lsh_bucket_expr,
        train_ivf_centroids,
    )
    from light_curve_spark.session import build_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    base_n = int(os.environ.get("SPARK_GRAFT_ANN_N", "1000000"))
    n_cents = int(os.environ.get("SPARK_GRAFT_ANN_CENTROIDS", "64"))
    sizes = [base_n, 2 * base_n]
    if os.environ.get("SPARK_GRAFT_ANN_SINGLE"):
        sizes = [base_n]
    spark = build_session(
        app_name="stress-ann", master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    import tempfile

    root = tempfile.mkdtemp(prefix="ann-stress-")
    queries = _queries()
    k = 10

    for n in sizes:
        path = os.path.join(root, f"emb_{n}.parquet")
        t0 = time.time()
        synth_embeddings(spark, n).write.parquet(path)
        emb = spark.read.parquet(path).persist()
        emb.count()
        gen_s = time.time() - t0
        res = {"n_vectors": n, "dim": DIM, "cpus": cpus,
               "n_centroids": n_cents, "gen_s": round(gen_s, 1)}

        # exact truth + brute wall
        t0 = time.time()
        truth = []
        for q in queries:
            rows = cosine_topk(emb, list(q), k=k).collect()
            truth.append({r.vec_id for r in rows})
        res["brute_force"] = {
            "wall_per_query_s": round((time.time() - t0) / len(queries), 2)
        }

        def recall(got: list[set]) -> float:
            return round(
                float(np.mean([len(g & t) / k for g, t in zip(got, truth)])), 3
            )

        # one-shot operator walls (default knobs, first query only x3)
        t0 = time.time()
        for q in queries[:3]:
            lsh_ann_topk(emb, list(q), k=k, n_planes=12, probe_hamming=1).collect()
        one_shot_lsh = (time.time() - t0) / 3
        t0 = time.time()
        for q in queries[:3]:
            ivf_ann_topk(
                emb, list(q), k=k, n_centroids=n_cents, nprobe=8,
                sample_size=max(8192, 32 * n_cents),
            ).collect()
        one_shot_ivf = (time.time() - t0) / 3

        # indexed posture: LSH buckets precomputed once
        planes = _hyperplanes(DIM, 12, seed=42)
        bucketed = emb.withColumn(
            "_bucket", lsh_bucket_expr("embedding", planes)
        ).persist()
        bucketed.count()
        # bucket-size map -> candidate fraction per query WITHOUT extra
        # jobs; this is the fraction of the table a bucket-partitioned
        # layout would actually SCAN (at 100 TB the bucket is the
        # partition column, so probes prune at the source — local-mode
        # walls below still pay a full cached-table scan per query)
        lsh_sizes = {
            r._bucket: r["count"]
            for r in bucketed.groupBy("_bucket").count().collect()
        }
        lsh_curves = {}
        for ph in (0, 1, 2):
            t0 = time.time()
            got, fracs = [], []
            for q in queries:
                qb = 0
                for i, plane in enumerate(planes):
                    if plane @ q >= 0:
                        qb |= 1 << i
                probe = [qb]
                if ph >= 1:
                    probe += [qb ^ (1 << i) for i in range(12)]
                if ph >= 2:
                    probe += [
                        qb ^ (1 << i) ^ (1 << j)
                        for i in range(12)
                        for j in range(i + 1, 12)
                    ]
                fracs.append(sum(lsh_sizes.get(b, 0) for b in probe) / n)
                cand = bucketed.filter(F.col("_bucket").isin(probe))
                got.append({r.vec_id for r in cosine_topk(cand, list(q), k=k).collect()})
            lsh_curves[f"probe_hamming_{ph}"] = {
                "recall_at_10": recall(got),
                "wall_per_query_s": round((time.time() - t0) / len(queries), 2),
                "candidate_frac": round(float(np.mean(fracs)), 4),
            }

        # indexed posture: IVF centroids trained + assigned once
        t0 = time.time()
        cents = train_ivf_centroids(
            emb, n_centroids=n_cents, iters=5,
            sample_size=max(8192, 32 * n_cents),
        )
        train_s = time.time() - t0
        t0 = time.time()
        assigned = ivf_assign(emb, cents).persist()
        assigned.count()
        assign_s = time.time() - t0
        ivf_sizes = {
            r._bucket: r["count"]
            for r in assigned.groupBy("_bucket").count().collect()
        }
        ivf_curves = {}
        for nprobe in (1, 2, 4, 8, 16):
            t0 = time.time()
            got, fracs = [], []
            for q in queries:
                d2 = ((cents - q[None, :]) ** 2).sum(axis=1)
                probe = [int(i) for i in np.argsort(d2, kind="stable")[:nprobe]]
                fracs.append(sum(ivf_sizes.get(b, 0) for b in probe) / n)
                cand = assigned.filter(F.col("_bucket").isin(probe))
                got.append({r.vec_id for r in cosine_topk(cand, list(q), k=k).collect()})
            ivf_curves[f"nprobe_{nprobe}"] = {
                "recall_at_10": recall(got),
                "wall_per_query_s": round((time.time() - t0) / len(queries), 2),
                "candidate_frac": round(float(np.mean(fracs)), 4),
            }

        res["lsh"] = {"one_shot_wall_per_query_s": round(one_shot_lsh, 2),
                      "indexed": lsh_curves}
        res["ivf"] = {"one_shot_wall_per_query_s": round(one_shot_ivf, 2),
                      "train_s": round(train_s, 2),
                      "assign_s": round(assign_s, 2),
                      "indexed": ivf_curves}
        print(json.dumps(res), flush=True)
        bucketed.unpersist()
        assigned.unpersist()
        emb.unpersist()


if __name__ == "__main__":
    main()
