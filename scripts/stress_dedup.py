"""Scale-stress for the documents/dedup/text path (round-3 mandate):
the sequences path had its 10x stress run in round 2; this is the twin
for ngram/minhash/simhash/clusters/contamination.

Corpus: 91,000 synthetic documents (~18x the sf0.1 documents table by
count, ~35x by bytes), fully deterministic (splitmix64 formulas, no RNG,
partition-independent):

- 80,000 background docs, long-tail lengths (20..~2000 words, u^6 tail)
  over a 30k-word Zipf-ish vocabulary (u^4 skew -> top word ~7.6%,
  so hot-gram document-frequency pruning is actually exercised);
- 2,000 planted EXACT duplicate pairs (4,000 docs);
- 2,000 planted near-dup clusters of 3 (base + two ~8%-substituted
  variants; base-variant 3-gram Jaccard ~0.6) = 6,000 docs;
- one DEEP CHAIN of 1,000 docs over a sliding 200-word window with
  stride 10: adjacent docs Jaccard ~0.85, endpoints unrelated — a
  1000-diameter duplicate graph that label propagation cannot collapse
  in bounded rounds (the star-contraction stress).

Measured per operator (min of 2 timed runs after generation, operator
caches released between runs): wall seconds + corpus throughput.
Recall is measured against the EXACT inverted-index n-gram Jaccard
output at the same threshold (ngram_jaccard_pairs is exact, so
|minhash ∩ exact| / |exact| is a true recall at full scale, not a
sampled estimate).

Run: PYTHONPATH=. python scripts/stress_dedup.py
Appends nothing; prints a JSON line — results are transcribed into
BENCH.md's appendix.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

# SPARK_GRAFT_STRESS_SCALE multiplies the corpus (chain length fixed):
# scale=1 -> 91k docs / 140 MB; scale=2 -> 181k docs / ~280 MB — used to
# measure how the suite's wall grows with corpus size (BENCH.md)
_SCALE = int(os.environ.get("SPARK_GRAFT_STRESS_SCALE", "1"))
N_BG = 80_000 * _SCALE
N_EXACT_PAIRS = 2_000 * _SCALE
N_CLUSTERS = 2_000 * _SCALE
CHAIN_LEN = 1_000
VOCAB = 30_000

BG_END = N_BG
EX_END = BG_END + 2 * N_EXACT_PAIRS
CL_END = EX_END + 3 * N_CLUSTERS
N_DOCS = CL_END + CHAIN_LEN

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("text", StringType(), False),
    ]
)


def _sm64(x: np.ndarray) -> np.ndarray:
    """splitmix64 over uint64 numpy arrays."""
    z = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(
        0xFFFFFFFFFFFFFFFF
    )
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(
        0xFFFFFFFFFFFFFFFF
    )
    return z ^ (z >> np.uint64(31))


def _u01(x: np.ndarray) -> np.ndarray:
    return _sm64(x).astype(np.float64) / 2.0**64


def _word_idx(pos_keys: np.ndarray) -> np.ndarray:
    """Zipf-ish vocab index: P(idx < k) = (k/V)^(1/4)."""
    u = _u01(pos_keys)
    return np.minimum((VOCAB * u**4).astype(np.int64), VOCAB - 1)


def _words(key: int, n: int) -> np.ndarray:
    keys = np.uint64(key) * np.uint64(1_000_003) + np.arange(n, dtype=np.uint64)
    return _word_idx(keys)


def _doc_len(i: int) -> int:
    u = float(_u01(np.array([i ^ 0xABC], dtype=np.uint64))[0])
    return 20 + int(2000 * u**6)


def _doc_text(i: int) -> str:
    if i < BG_END:
        idx = _words(i, _doc_len(i))
    elif i < EX_END:
        base = (i - BG_END) // 2
        idx = _words(0x10_0000_0000 + base, 40 + _doc_len(base) % 200)
    elif i < CL_END:
        c, v = divmod(i - EX_END, 3)
        idx = _words(0x20_0000_0000 + c, 150).copy()
        if v:
            p = np.arange(150, dtype=np.uint64)
            sub = (
                _sm64(p + np.uint64(c * 7 + v) * np.uint64(0x51_0000))
                % np.uint64(18)
            ) == 0
            idx[sub] = _word_idx(
                p[sub] + np.uint64(0x30_0000_0000 + c * 3 + v) * np.uint64(131)
            )
    else:
        j = i - CL_END
        keys = np.uint64(0x7777777) + np.uint64(j * 10) + np.arange(
            200, dtype=np.uint64
        )
        idx = _word_idx(keys)
    return " ".join("w%d" % k for k in idx)


def synth_docs(spark):
    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            yield pd.DataFrame(
                {"doc_id": ids, "text": [_doc_text(int(i)) for i in ids]}
            )

    return (
        spark.range(N_DOCS, numPartitions=64)
        .mapInPandas(gen, schema=DOC_SCHEMA)
    )


def timed(fn, reps: int = 2):
    from light_curve_spark.plans.caching import release_operator_caches

    best, out = None, None
    for _ in range(reps):
        t0 = time.time()
        out = fn()
        dt = time.time() - t0
        release_operator_caches()
        best = dt if best is None else min(best, dt)
    return best, out


def main() -> None:
    from light_curve_spark.operators.dedup import (
        cross_ngram_contamination,
        dedup_clusters,
        exact_dedup,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        simhash_dedup,
    )
    from light_curve_spark.session import build_session

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = build_session(
        app_name="stress-dedup", master=f"local[{cpus}]",
        shuffle_partitions=4 * cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    docs = synth_docs(spark).persist()
    n_docs = docs.count()
    n_bytes = docs.agg(F.sum(F.length("text"))).head()[0]
    gen_s = time.time() - t0
    res = {
        "n_docs": n_docs,
        "corpus_mb": round(n_bytes / 1e6, 1),
        "gen_s": round(gen_s, 1),
        "cpus": cpus,
    }

    t, _ = timed(lambda: exact_dedup(docs).count())
    exact_groups = exact_dedup(docs).count()
    res["exact_dedup"] = {"wall_s": round(t, 2), "groups": exact_groups}

    t, _ = timed(lambda: ngram_jaccard_pairs(docs, threshold=0.5, max_df=1000).count())
    ngram_pairs = ngram_jaccard_pairs(docs, threshold=0.5, max_df=1000).persist()
    n_ngram = ngram_pairs.count()
    res["ngram_jaccard"] = {"wall_s": round(t, 2), "pairs": n_ngram}

    t, _ = timed(lambda: minhash_lsh_pairs(docs, threshold=0.5).count())
    mh_pairs = minhash_lsh_pairs(docs, threshold=0.5).persist()
    n_mh = mh_pairs.count()
    hit = mh_pairs.join(ngram_pairs, ["doc_a", "doc_b"], "left_semi").count()
    res["minhash_lsh"] = {
        "wall_s": round(t, 2),
        "pairs": n_mh,
        "recall_vs_exact": round(hit / n_ngram, 4) if n_ngram else None,
    }

    t, _ = timed(lambda: simhash_dedup(docs, max_hamming=8).count())
    n_sh = simhash_dedup(docs, max_hamming=8).count()
    res["simhash"] = {"wall_s": round(t, 2), "pairs": n_sh}

    # connected components over ALL discovered near-dup pairs (includes
    # the 1000-diameter chain): star contraction, O(log n) rounds
    all_pairs = ngram_pairs.select("doc_a", "doc_b").persist()
    all_pairs.count()
    t, _ = timed(lambda: dedup_clusters(all_pairs).count(), reps=1)
    labels = dedup_clusters(all_pairs).persist()
    biggest = (
        labels.groupBy("keep_id").count().orderBy(F.desc("count")).head()
    )
    chain_members = labels.filter(F.col("keep_id") == CL_END).count()
    res["dedup_clusters_star"] = {
        "wall_s": round(t, 2),
        "n_labeled": labels.count(),
        "n_clusters": labels.select("keep_id").distinct().count(),
        "biggest_cluster": biggest["count"],
        "chain_cluster_members": chain_members,
    }

    evens = docs.filter(F.col("doc_id") % 2 == 0)
    odds = docs.filter(F.col("doc_id") % 2 == 1)
    t, _ = timed(
        lambda: cross_ngram_contamination(evens, odds, min_shared=2).count()
    )
    n_cont = cross_ngram_contamination(evens, odds, min_shared=2).count()
    res["contamination"] = {"wall_s": round(t, 2), "pairs": n_cont}

    total = sum(v["wall_s"] for v in res.values() if isinstance(v, dict))
    res["total_op_wall_s"] = round(total, 2)
    res["docs_per_s_full_suite"] = int(n_docs / total)
    res["mb_per_s_full_suite"] = round(n_bytes / 1e6 / total, 1)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
