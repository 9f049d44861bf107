"""Round-4 hardening: sampled-df weighted SimHash (zero-shuffle fast
path), incremental index idempotency (see test_round3 additions), CC
auto-select, document-pipeline composition."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _zipf_corpus(n_docs: int = 120, seed: int = 3) -> pd.DataFrame:
    """Deterministic Zipf-ish corpus: hot shared words + per-doc rare
    words, with planted near-dup partners, a null doc and an empty doc."""
    rows = []
    hot = " ".join(f"the{j}" for j in range(12))
    for i in range(n_docs):
        u = ((i * 2654435761 + seed) % 97) / 97.0
        rare = " ".join(f"r{i}_{j}" for j in range(3 + int(u * 8)))
        rows.append((2 * i, f"{hot} {rare} {hot}"))
        if i % 4 == 0:  # near-dup partner differing by one rare word
            rows.append((2 * i + 1, f"{hot} {rare} xx {hot}"))
        else:
            rows.append((2 * i + 1, f"{hot} q{i}_a q{i}_b q{i}_c {hot}"))
    rows.append((10_000, None))
    rows.append((10_001, "   "))
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def test_approx_weighted_simhash_rate1_bitmatches_exact(spark):
    """sample_rate=1.0 makes df_est exact, so the sampled-df kernel must
    be BIT-IDENTICAL to the exact two-shuffle kernel — including repeated
    words (tf), null text, and whitespace-only docs."""
    from light_curve_spark.operators.dedup import (
        simhash_weighted_approx_kernel,
        simhash_weighted_kernel,
    )
    from light_curve_spark.plans.caching import release_operator_caches

    docs = spark.createDataFrame(_zipf_corpus()).repartition(5)
    exact = {r.doc_id: r.sh for r in simhash_weighted_kernel(docs).collect()}
    approx = {
        r.doc_id: r.sh
        for r in simhash_weighted_approx_kernel(docs, sample_rate=1.0).collect()
    }
    release_operator_caches()
    assert approx == exact
    # null text -> no words -> sh 0; whitespace-only text normalizes to
    # ONE empty-string word (split convention, same in both kernels)
    assert exact[10_000] == 0 and exact[10_001] != 0


def test_approx_weighted_simhash_sampled_close_to_exact(spark):
    """At sample_rate<1 the weight BUCKETS (integer log2) absorb the
    sampling noise: per-doc hamming between the exact and sampled-df
    hashes must be small, and hot-word saturation must stay fixed."""
    from collections import Counter

    from light_curve_spark.operators.dedup import (
        simhash_weighted_approx_kernel,
        simhash_weighted_kernel,
    )
    from light_curve_spark.plans.caching import release_operator_caches

    docs = spark.createDataFrame(_zipf_corpus(n_docs=200)).repartition(5)
    exact = {r.doc_id: r.sh for r in simhash_weighted_kernel(docs).collect()}
    sh = {
        r.doc_id: r.sh
        for r in simhash_weighted_approx_kernel(docs, sample_rate=0.25).collect()
    }
    release_operator_caches()
    dists = np.array(
        [bin((exact[k] ^ sh[k]) & (2**64 - 1)).count("1") for k in exact]
    )
    assert np.median(dists) <= 4, f"approx drifted from exact: median {np.median(dists)}"
    assert np.percentile(dists, 90) <= 16

    modal = Counter(v for k, v in sh.items() if k < 10_000).most_common(1)[0][1]
    assert modal < 40, f"modal hash shared by {modal} docs — saturation returned"


def test_approx_df_requires_weighted(spark):
    from light_curve_spark.operators.dedup import simhash_dedup

    docs = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["a b"]}))
    with pytest.raises(ValueError, match="weighted"):
        simhash_dedup(docs, approx_df=0.5)

    with pytest.raises(ValueError, match="sample_rate"):
        from light_curve_spark.operators.dedup import simhash_weighted_approx_kernel

        simhash_weighted_approx_kernel(docs, sample_rate=0.0)


def _pipeline_corpus() -> pd.DataFrame:
    """Small corpus with one planted failure mode per pipeline stage:
    exact dups, a near-dup cluster chain, eval contamination, and a
    garbage low-quality doc."""
    rows = []
    for i in range(30):
        rows.append((i, " ".join(f"bg{i}_{j} common{j % 5}" for j in range(25))))
    rows.append((100, rows[0][1]))            # exact dup of doc 0
    rows.append((101, rows[1][1].upper()))    # exact dup of doc 1 (normalized)
    base = " ".join(f"c_{j}" for j in range(30))
    rows.append((110, base))                  # near-dup cluster 110-111-112
    rows.append((111, base.replace("c_7 ", "x ")))
    rows.append((112, base.replace("c_9 ", "y ")))
    rows.append((120, " ".join(f"evalgram{j}" for j in range(30))))  # contaminated
    rows.append((130, "!!!! ???? ;;;; ::::"))  # low quality
    return pd.DataFrame(rows, columns=["doc_id", "text"])


def _eval_corpus() -> pd.DataFrame:
    return pd.DataFrame(
        [(9000, " ".join(f"evalgram{j}" for j in range(30)))],
        columns=["doc_id", "text"],
    )


def _run_doc_pipeline(spark, tmp_path, name):
    from light_curve_spark.plans.doc_pipeline import (
        DocPipelineConfig,
        run_document_pipeline,
    )

    docs = spark.createDataFrame(_pipeline_corpus()).repartition(4)
    ev = spark.createDataFrame(_eval_corpus())
    cfg = DocPipelineConfig(
        out_root=str(tmp_path / name),
        input_snapshot="v1",
        min_quality=0.05,
        contamination_min_shared=2,
    )
    return docs, ev, cfg


def test_document_pipeline_end_to_end(spark, tmp_path):
    from light_curve_spark.plans.doc_pipeline import run_document_pipeline
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage

    docs, ev, cfg = _run_doc_pipeline(spark, tmp_path, "dp1")
    stats = run_document_pipeline(spark, docs, cfg, eval_docs=ev)
    assert stats["stages_run"] == 6

    st = ParquetSnapshotStorage(spark, cfg.out_root)
    status = {r.doc_id: r.drop_stage for r in st.read("dp_doc_status").collect()}
    assert len(status) == 37
    assert status[100] == "exact" and status[101] == "exact"
    # near-dup cluster: min id 110 survives, 111/112 dropped
    assert status[110] is None and status[111] == "clusters"
    assert status[112] == "clusters"
    assert status[120] == "contamination"
    assert status[130] == "filters"
    assert all(status[i] is None for i in range(30))

    clean = st.read_snapshot("dp_clean")
    kept = {r.doc_id for r in clean.select("doc_id").collect()}
    assert kept == {i for i in range(30)} | {110}
    assert {"lang_pred", "quality", "ws_tokens", "text"} <= set(clean.columns)

    metrics = st.read("dp_metrics").collect()
    assert {m.stage for m in metrics} == {
        "exact", "pairs", "clusters", "contamination", "filters", "finalize"
    }
    stats_rows = st.read_snapshot("dp_stats").collect()
    assert sum(r.n_docs for r in stats_rows) == 31


def test_document_pipeline_resumes_mid_run(spark, tmp_path, monkeypatch):
    """Crash the job between the pairs and clusters stages; the re-run
    must skip completed stages and produce byte-identical final outputs
    to an uninterrupted run."""
    import light_curve_spark.plans.doc_pipeline as dp
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage

    docs, ev, cfg = _run_doc_pipeline(spark, tmp_path, "dp2")

    real_clusters = dp.dedup_clusters

    def boom(*a, **k):
        raise RuntimeError("simulated mid-pipeline crash")

    monkeypatch.setattr(dp, "dedup_clusters", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        dp.run_document_pipeline(spark, docs, cfg, eval_docs=ev)
    monkeypatch.setattr(dp, "dedup_clusters", real_clusters)

    stats = dp.run_document_pipeline(spark, docs, cfg, eval_docs=ev)
    assert stats["stages_skipped"] == 2  # exact + pairs survived the crash
    assert stats["stages_run"] == 4

    st = ParquetSnapshotStorage(spark, cfg.out_root)
    status = {r.doc_id: r.drop_stage for r in st.read("dp_doc_status").collect()}
    ref_docs, ref_ev, ref_cfg = _run_doc_pipeline(spark, tmp_path, "dp_ref")
    dp.run_document_pipeline(spark, ref_docs, ref_cfg, eval_docs=ref_ev)
    st_ref = ParquetSnapshotStorage(spark, ref_cfg.out_root)
    ref_status = {
        r.doc_id: r.drop_stage for r in st_ref.read("dp_doc_status").collect()
    }
    assert status == ref_status
    # a third run is a full no-op
    stats3 = dp.run_document_pipeline(spark, docs, cfg, eval_docs=ev)
    assert stats3["stages_run"] == 0 and stats3["stages_skipped"] == 7


def test_ivf_partitioned_layout_prunes_at_source(spark, tmp_path):
    """write_ivf_partitioned + read_ivf_probe: the probe filter must be
    a PARTITION filter (source-level pruning — the 100 TB posture the
    ANN stress bench's candidate_frac measures), and probe results must
    equal the post-scan filter on the unpartitioned table."""
    from light_curve_spark.operators.similarity import (
        cosine_topk,
        ivf_assign,
        read_ivf_probe,
        train_ivf_centroids,
        write_ivf_partitioned,
    )

    n, dim = 2000, 8
    ids = np.arange(n)
    vecs = ((ids[:, None] * 37 + np.arange(dim)[None, :] * 101) % 97) / 97.0 - 0.5
    emb = spark.createDataFrame(
        pd.DataFrame({"vec_id": ids, "embedding": [list(map(float, v)) for v in vecs]})
    )
    cents = train_ivf_centroids(emb, n_centroids=8, iters=3, sample_size=512)
    path = str(tmp_path / "ivf")
    write_ivf_partitioned(emb, cents, path)

    q = [0.1] * dim
    probe_df = read_ivf_probe(spark, path, cents, q, nprobe=2)
    plan = probe_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_bucket" in plan.split("PartitionFilters")[1][:200], (
        "probe filter did not reach the partition level"
    )

    # parity: probed partitions == bucket filter on the full assignment
    assigned = ivf_assign(emb, cents)
    import numpy as _np

    d2 = ((_np.asarray(cents) - _np.asarray(q)[None, :]) ** 2).sum(axis=1)
    probe = [int(i) for i in _np.argsort(d2, kind="stable")[:2]]
    expect = {
        r.vec_id for r in assigned.filter(F.col("_bucket").isin(probe)).collect()
    }
    got = {r.vec_id for r in probe_df.collect()}
    assert got == expect and got
    # and the ANN result over the pruned read matches the full-table one
    top_pruned = [r.vec_id for r in cosine_topk(probe_df, q, k=5).collect()]
    top_full = [
        r.vec_id
        for r in cosine_topk(
            assigned.filter(F.col("_bucket").isin(probe)), q, k=5
        ).collect()
    ]
    assert top_pruned == top_full


def test_approx_weighted_simhash_rate1_matches_scalar_reference(spark):
    """Close the triangle independently of the exact Spark kernel: the
    sampled-df kernel at rate 1.0 must equal the naive scalar reference
    (scripts/oracle_impl.simhash_weighted_ref) on adversarial corpora —
    unicode, heavy repetition, null text, empty/whitespace strings."""
    import os as _os
    import sys as _sys

    _sys.path.insert(0, _os.path.join(_os.path.dirname(__file__), "..", "scripts"))
    from oracle_impl import simhash_weighted_ref

    from light_curve_spark.operators.dedup import simhash_weighted_approx_kernel
    from light_curve_spark.plans.caching import release_operator_caches

    corpora = []
    for seed in range(3):
        rows = []
        for i in range(40):
            k = (i * 2654435761 + seed) % 7
            if k == 0:
                rows.append((i, None))
            elif k == 1:
                rows.append((i, ""))
            elif k == 2:
                rows.append((i, "  MiXeD   Case\tWS  "))
            elif k == 3:
                rows.append((i, ("héllo wörld ünïcode " * (i % 5 + 1)).strip()))
            elif k == 4:
                rows.append((i, " ".join(f"rep{seed}" for _ in range(i + 1))))
            else:
                rows.append(
                    (i, " ".join(f"w{seed}_{i}_{j}" for j in range(3 + i % 9)))
                )
        corpora.append(rows)

    for rows in corpora:
        expect = simhash_weighted_ref(rows)
        docs = spark.createDataFrame(rows, "doc_id long, text string").repartition(3)
        got = {
            r.doc_id: r.sh
            for r in simhash_weighted_approx_kernel(docs, sample_rate=1.0).collect()
        }
        release_operator_caches()
        assert got == expect


def test_document_attributes_matches_contract_ops(spark):
    """The one-pass attribute builder must equal the three oracle-gated
    operators joined on doc_id — same shared expression builders, so any
    drift is a bug."""
    from light_curve_spark.operators.text import (
        document_attributes,
        language_id,
        quality_score,
        token_count,
    )

    docs = spark.createDataFrame(_pipeline_corpus().dropna(), ["doc_id", "text"])
    joined = (
        language_id(docs)
        .join(quality_score(docs), "doc_id")
        .join(token_count(docs), "doc_id")
    )
    one_pass = document_attributes(docs)
    assert sorted(one_pass.columns) == sorted(joined.columns)
    a = {r.doc_id: tuple(r[c] for c in sorted(one_pass.columns)) for r in one_pass.collect()}
    b = {r.doc_id: tuple(r[c] for c in sorted(joined.columns)) for r in joined.collect()}
    assert a == b

    with_input = document_attributes(docs, include_input=True)
    assert with_input.columns[:2] == ["doc_id", "text"]
    assert set(with_input.columns) == set(joined.columns) | {"text"}


def test_incremental_dedup_clusters_matches_one_shot(spark, tmp_path):
    """Folding pair batches into persisted labels must equal one-shot CC
    over all pairs ever seen — including the hard case where a new pair
    MERGES two previously-separate clusters, and a chain built across
    batches."""
    from light_curve_spark.operators.dedup import (
        dedup_clusters,
        incremental_dedup_clusters,
    )
    from light_curve_spark.plans.caching import release_operator_caches
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage

    batches = [
        # batch 1: two separate clusters {1,2,3} and {10,11}, chain start 100-101
        [(1, 2), (2, 3), (10, 11), (100, 101)],
        # batch 2: extend chain 101-102; new cluster {20,21}
        [(101, 102), (20, 21)],
        # batch 3: MERGE {1,2,3} with {10,11}; extend chain 102-103
        [(3, 10), (102, 103)],
    ]
    storage = ParquetSnapshotStorage(spark, str(tmp_path / "cc"))
    seen = []
    for rows in batches:
        seen += rows
        pairs = spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_a", "doc_b"])
        )
        inc = {
            r.doc_id: r.keep_id
            for r in incremental_dedup_clusters(storage, pairs).collect()
        }
        all_pairs = spark.createDataFrame(
            pd.DataFrame(seen, columns=["doc_a", "doc_b"])
        )
        ref = {r.doc_id: r.keep_id for r in dedup_clusters(all_pairs).collect()}
        release_operator_caches()
        assert inc == ref
    # after batch 3: merged cluster rooted at 1, chain rooted at 100
    assert inc[11] == 1 and inc[10] == 1 and inc[3] == 1
    assert inc[103] == 100 and inc[20] == 20 and inc[21] == 20
    # read-back is the full current state
    st = {r.doc_id: r.keep_id
          for r in storage.read_snapshot("cc_labels").collect()}
    assert st == inc
    # idempotent re-fold of the SAME batch: pure function of state+batch
    pairs3 = spark.createDataFrame(
        pd.DataFrame(batches[2], columns=["doc_a", "doc_b"])
    )
    again = {
        r.doc_id: r.keep_id
        for r in incremental_dedup_clusters(storage, pairs3).collect()
    }
    release_operator_caches()
    assert again == inc


def test_stream_document_pipeline_matches_batch_kept_set(spark, tmp_path):
    """The stream-fed pipeline over 3 arrival batches must reproduce the
    batch pipeline's final KEPT set on the same corpus — including
    retroactive revocation (a doc's duplicate arriving in a LATER batch
    revokes it), with read-time filter policy."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from light_curve_spark.plans.doc_pipeline import (
        DocPipelineConfig,
        run_document_pipeline,
    )
    from light_curve_spark.plans.caching import release_operator_caches
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.streaming.documents import (
        read_document_status,
        run_stream_document_pipeline,
    )

    docs = spark.createDataFrame(_pipeline_corpus()).filter(
        F.col("text").isNotNull()  # stream schema parity; null text is
    )                              # covered by the kernel tests
    ev = spark.createDataFrame(_eval_corpus())

    # batch reference
    cfg = DocPipelineConfig(
        out_root=str(tmp_path / "batch"),
        input_snapshot="v1",
        min_quality=0.05,
        contamination_min_shared=2,
    )
    run_document_pipeline(spark, docs, cfg, eval_docs=ev)
    st_b = ParquetSnapshotStorage(spark, cfg.out_root)
    batch_kept = {
        r.doc_id
        for r in st_b.read("dp_doc_status").filter(
            F.col("drop_stage").isNull()
        ).collect()
    }
    release_operator_caches()

    # streamed arrival: 3 batches, duplicate partners split so later
    # arrivals revoke earlier keeps
    schema = StructType(
        [
            StructField("doc_id", LongType(), True),
            StructField("text", StringType(), True),
        ]
    )
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "sckpt")
    storage = ParquetSnapshotStorage(spark, str(tmp_path / "stream"))
    splits = [
        docs.filter(F.col("doc_id") % 3 == k).coalesce(1) for k in (0, 1, 2)
    ]
    for i, part in enumerate(splits):
        part.write.parquet(f"{in_dir}/b{i}")
        run_stream_document_pipeline(
            spark, in_dir + "/*", schema, storage, ckpt, eval_docs=ev
        )
        release_operator_caches()
        if i == 0:
            # doc 100 (exact dup of doc 0) arrives in a later batch than
            # doc 0? ids 0 and 100 land in different %3 classes (0 vs 1),
            # so after batch 0 doc 0 is still KEPT — revoked later only
            # if it loses; here 0 < 100 so 100 will drop on arrival.
            status0 = {
                r.doc_id: r.drop_stage
                for r in read_document_status(
                    storage, min_quality=0.05
                ).collect()
            }
            assert status0.get(0) is None

    status = {
        r.doc_id: r.drop_stage
        for r in read_document_status(storage, min_quality=0.05).collect()
    }
    release_operator_caches()
    stream_kept = {d for d, s in status.items() if s is None}
    assert stream_kept == batch_kept
    # attribution: dup collapses exact+clusters; others match by name
    assert status[100] == "dup" and status[111] == "dup"
    assert status[120] == "contamination" and status[130] == "filters"

    # the folded edge set == one-shot near-dup pairs + same-digest pairs
    from light_curve_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
    )

    got_edges = {
        (r.doc_a, r.doc_b)
        for r in storage.read("dpx_pairs")
        .select("doc_a", "doc_b").distinct().collect()
    }
    by_norm = {}
    for d, t in _pipeline_corpus().itertuples(index=False):
        by_norm.setdefault(" ".join(t.lower().split()), []).append(d)
    digest_edges = {
        (a, b) for ids in by_norm.values() for a in ids for b in ids if a < b
    }
    mh_edges = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            docs, n=3, num_hashes=16, bands=4, threshold=0.5
        ).collect()
    }
    release_operator_caches()
    assert digest_edges == {(0, 100), (1, 101)}
    assert got_edges == mh_edges | digest_edges

    # the stream-maintained label forest == one-shot CC over those edges
    ref_labels = {
        r.doc_id: r.keep_id
        for r in dedup_clusters(
            spark.createDataFrame(sorted(got_edges), ["doc_a", "doc_b"])
        ).collect()
    }
    got_labels = {
        r.doc_id: r.keep_id
        for r in storage.read_snapshot("dpx_labels").collect()
    }
    release_operator_caches()
    assert got_labels == ref_labels and got_labels

    # drained stream: a further run with no new files appends nothing
    n_snaps = {t: len(storage.snapshots(t)) for t in ("dpx_index", "dpx_pairs")}
    run_stream_document_pipeline(
        spark, in_dir + "/*", schema, storage, ckpt, eval_docs=ev
    )
    release_operator_caches()
    assert {
        t: len(storage.snapshots(t)) for t in ("dpx_index", "dpx_pairs")
    } == n_snaps
