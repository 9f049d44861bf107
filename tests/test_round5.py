"""Round-5 hardening: eval-footprint-bounded contamination, batch-id
cancellation fix, crash-rerun loser dedup in the doc-status lineage,
rate-1.0 vocabulary exactness for the sampled-df SimHash, and the
checkpoint-attribution lock."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _two_corpora(spark):
    """Train corpus with hot shared grams + planted eval overlap; a
    small eval set whose grams also ride the hot vocabulary (so max_df
    pruning has something to prune on both sides)."""
    rows = []
    hot = " ".join(f"the{j}" for j in range(8))
    for i in range(80):
        rows.append((i, f"{hot} tr{i}_a tr{i}_b tr{i}_c {hot}"))
    # contaminated: carries eval doc 9001's distinctive shingles
    rows.append((500, "evq0 evq1 evq2 evq3 evq4 evq5 " + hot))
    rows.append((501, "evq2 evq3 evq4 evq5 evq6 other words here"))
    train = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    ).repartition(4)
    ev = spark.createDataFrame(
        pd.DataFrame(
            [
                (9001, "evq0 evq1 evq2 evq3 evq4 evq5 evq6 evq7"),
                (9002, f"{hot} nothing shared beyond the hot words"),
            ],
            columns=["doc_id", "text"],
        )
    )
    return train, ev


def test_contamination_pruned_equals_unpruned(spark):
    """prune_to_eval must be a pure plan change: corpus grams absent
    from the eval set produce no join rows, and eval-present grams keep
    every corpus instance through the semi-join, so union df — and the
    max_df pruning fate — is unchanged.  Exercised with a max_df low
    enough that the hot vocabulary actually gets pruned."""
    from light_curve_spark.operators.dedup import cross_ngram_contamination

    train, ev = _two_corpora(spark)
    kw = dict(n=2, max_df=10, min_shared=2)
    pruned = {
        (r.eval_id, r.train_id, r.n_shared)
        for r in cross_ngram_contamination(
            train, ev, prune_to_eval=True, **kw
        ).collect()
    }
    full = {
        (r.eval_id, r.train_id, r.n_shared)
        for r in cross_ngram_contamination(
            train, ev, prune_to_eval=False, **kw
        ).collect()
    }
    assert pruned == full
    assert len(pruned) > 0  # the planted contamination was found
    hit_train_ids = {t for (_, t, _) in pruned}
    assert 500 in hit_train_ids


def test_contamination_pruned_plan_broadcasts_eval_grams(spark):
    """The semi-join against the eval gram set must be a BROADCAST join
    (map-side filter before any corpus-gram shuffle) — a shuffled
    semi-join would move every corpus gram, the exact cost the prune
    removes."""
    from light_curve_spark.operators.dedup import cross_ngram_contamination

    train, ev = _two_corpora(spark)
    plan = cross_ngram_contamination(
        train, ev, n=2, max_df=10, min_shared=2, prune_to_eval=True
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_content_batch_id_sum_does_not_cancel(spark):
    """xor cancelled even multiplicities: {A,A,B} and {B,C,C} collided
    (same count, same xor), silently skipping the second batch's index
    fold.  The sum-based id must tell them apart — and stay invariant
    under row order and partitioning."""
    from light_curve_spark.operators.dedup import _content_batch_id

    a, b, c = "alpha text", "beta text", "gamma text"
    batch1 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 1, 2], "text": [a, a, b]})
    )
    batch2 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [2, 3, 3], "text": [b, c, c]})
    )
    id1 = _content_batch_id(batch1, "text")
    id2 = _content_batch_id(batch2, "text")
    assert id1 != id2

    # partitioning/order-insensitive: same rows, any layout, same id
    assert _content_batch_id(batch1.repartition(7), "text") == id1
    assert (
        _content_batch_id(batch1.orderBy(F.desc("doc_id")), "text") == id1
    )
    # and a genuinely identical batch IS detected as identical
    assert (
        _content_batch_id(
            spark.createDataFrame(
                pd.DataFrame({"doc_id": [2, 1, 1], "text": [b, a, a]})
            ),
            "text",
        )
        == id1
    )


def test_incremental_index_refold_after_xor_collision_shape(spark, tmp_path):
    """End-to-end: fold {A,A,B} then {B,C,C} — under the xor id the
    second batch was classified already-folded and docs 3.. never
    entered the index.  Now both batches must land."""
    from light_curve_spark.operators.dedup import incremental_minhash_pairs
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage

    st = ParquetSnapshotStorage(spark, str(tmp_path / "xid"))
    a, b, c = "alpha text one", "beta text two", "gamma text three"
    batch1 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 11, 2], "text": [a, a, b]})
    )
    batch2 = spark.createDataFrame(
        pd.DataFrame({"doc_id": [2, 3, 33], "text": [b, c, c]})
    )
    incremental_minhash_pairs(st, batch1, prefix="x", n=2)
    incremental_minhash_pairs(st, batch2, prefix="x", n=2)
    indexed = {r.doc_id for r in st.read("x_index").select("doc_id").collect()}
    assert {3, 33} <= indexed, "second batch must not be misclassified as folded"


def test_doc_status_one_row_per_doc_after_crash_rerun(spark, tmp_path, monkeypatch):
    """Crash between a stage's loser append and its checkpoint record:
    the rerun re-appends identical loser rows.  dp_doc_status must still
    hold exactly one row per input document (round-4 ADVICE)."""
    import light_curve_spark.plans.doc_pipeline as dp
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from tests.test_round4 import _run_doc_pipeline

    docs, ev, cfg = _run_doc_pipeline(spark, tmp_path, "dp5")

    real_save = dp._save_ckpt
    state = {"fired": False}

    def crash_once(cfg_, st_):
        if not state["fired"]:
            state["fired"] = True
            raise RuntimeError("simulated crash after append, before ckpt")
        return real_save(cfg_, st_)

    monkeypatch.setattr(dp, "_save_ckpt", crash_once)
    with pytest.raises(RuntimeError, match="simulated"):
        dp.run_document_pipeline(spark, docs, cfg, eval_docs=ev)
    monkeypatch.setattr(dp, "_save_ckpt", real_save)
    dp.run_document_pipeline(spark, docs, cfg, eval_docs=ev)

    st = ParquetSnapshotStorage(spark, cfg.out_root)
    # the exact stage really did double-append its loser rows...
    losers = st.read("dp_losers").filter(F.col("stage") == "exact")
    assert losers.count() > losers.distinct().count()
    # ...and the lineage contract still holds
    status = st.read("dp_doc_status")
    n_docs = docs.count()
    assert status.count() == n_docs
    assert status.select("doc_id").distinct().count() == n_docs


def test_approx_simhash_rate1_exact_even_with_tiny_max_vocab(spark):
    """At sample_rate=1.0 the bit-parity claim must not depend on the
    vocabulary fitting max_vocab: the truncation is skipped, so even
    max_vocab=5 on a corpus with hundreds of words stays bit-identical
    to the exact kernel (round-4 ADVICE)."""
    from light_curve_spark.operators.dedup import (
        simhash_weighted_approx_kernel,
        simhash_weighted_kernel,
    )
    from tests.test_round4 import _zipf_corpus

    docs = spark.createDataFrame(_zipf_corpus(40)).repartition(4)
    exact = {r.doc_id: r.sh for r in simhash_weighted_kernel(docs).collect()}
    approx = {
        r.doc_id: r.sh
        for r in simhash_weighted_approx_kernel(
            docs, sample_rate=1.0, max_vocab=5
        ).collect()
    }
    assert approx == exact


# ---------------------------------------------------------------------------
# tokens-native dedup (round-4 verdict item 6)
# ---------------------------------------------------------------------------

def _token_corpus():
    """Deterministic pre-tokenized corpus with planted near-dup
    structure: shared hot prefix, per-doc rare tails, and exact
    one-token-substitution partners; plus short/empty edge docs."""
    rows = []
    hot = [7, 13, 42, 99, 7, 13]
    for i in range(40):
        tail = [1000 + 17 * i + j for j in range(8)]
        rows.append((2 * i, hot + tail + hot))
        if i % 3 == 0:  # near-dup partner: one substituted token
            near = list(hot + tail + hot)
            near[8] = 9999
            rows.append((2 * i + 1, near))
        else:
            rows.append((2 * i + 1, hot + [5000 + i, 6000 + i, 7000 + i] + hot))
    rows.append((900, [3, 5]))   # shorter than n: no grams
    rows.append((901, []))       # empty
    return rows


def test_minhash_lsh_tokens_matches_scalar_ref(spark):
    """minhash_lsh_pairs(tokens_col=...) vs the independent scalar
    reference (scripts/oracle_impl.minhash_lsh_tokens_ref): identical
    pair sets and jaccard values on a planted near-dup token corpus."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from oracle_impl import minhash_lsh_tokens_ref

    from light_curve_spark.operators.dedup import minhash_lsh_pairs

    rows = _token_corpus()
    docs = spark.createDataFrame(
        rows, "doc_id int, tokens array<int>"
    ).repartition(4)
    got = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in minhash_lsh_pairs(
            docs, n=3, num_hashes=16, bands=4, threshold=0.5,
            tokens_col="tokens",
        ).collect()
    }
    want = {
        (a, b): round(j, 9)
        for a, b, j in minhash_lsh_tokens_ref(
            rows, n=3, num_hashes=16, bands=4, threshold=0.5
        )
    }
    assert got == want
    assert len(got) > 0  # the planted near-dups were found


def test_token_and_text_grams_agree_when_tokenization_injective(spark):
    """With an injective token->word map, gram sets map 1:1, so the
    EXACT n-gram Jaccard pairs — and the jaccard values themselves —
    must be identical between the text path and the tokens path."""
    from light_curve_spark.operators.dedup import ngram_jaccard_pairs

    rows = _token_corpus()
    both = [
        (doc_id, toks, " ".join(f"w{t}" for t in toks)) for doc_id, toks in rows
    ]
    docs = spark.createDataFrame(
        both, "doc_id int, tokens array<int>, text string"
    ).repartition(4)
    kw = dict(n=3, threshold=0.5, max_df=1000)
    via_text = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in ngram_jaccard_pairs(docs, **kw).collect()
    }
    via_tokens = {
        (r.doc_a, r.doc_b): round(r.jaccard, 9)
        for r in ngram_jaccard_pairs(docs, tokens_col="tokens", **kw).collect()
    }
    assert via_text == via_tokens
    assert len(via_tokens) > 0


def test_token_ngrams_edge_cases(spark):
    """Short (< n) and empty token arrays yield empty gram arrays, and
    repeated windows dedup."""
    from light_curve_spark.operators.dedup import token_ngrams

    df = spark.createDataFrame(
        [(1, [5, 7, 9, 5, 7, 9]), (2, [3, 4]), (3, [])],
        "doc_id int, tokens array<int>",
    )
    out = {
        r.doc_id: list(r.g)
        for r in df.select(
            "doc_id", token_ngrams("tokens", 3).alias("g")
        ).collect()
    }
    assert out[2] == [] and out[3] == []
    # windows: (5,7,9) x2, (7,9,5), (9,5,7) -> 3 distinct hashes
    assert len(out[1]) == 3


# ---------------------------------------------------------------------------
# semantic (embedding-ANN) dedup stage in the composed pipeline
# ---------------------------------------------------------------------------

def test_doc_pipeline_semantic_stage(spark, tmp_path):
    """Planted semantic near-dups (nearly parallel embeddings, distinct
    text) must resolve into clusters with lineage stage tag 'semantic';
    text-identical behavior is untouched for docs without semantic
    partners, and the stage runs on the survivors of the text stages
    (an exact-dup loser's embedding must not chain drops)."""
    import numpy as np

    from light_curve_spark.plans.doc_pipeline import (
        DocPipelineConfig,
        run_document_pipeline,
    )
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from tests.test_round4 import _eval_corpus, _pipeline_corpus

    docs = spark.createDataFrame(_pipeline_corpus()).repartition(4)
    ev = spark.createDataFrame(_eval_corpus())

    rng = np.random.RandomState(7)
    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        return (v / np.linalg.norm(v)).tolist()

    base = rng.randn(16)
    emb_rows = []
    for r in docs.select("doc_id").collect():
        i = r.doc_id
        if i in (5, 6):          # planted semantic dup pair: cos ~ 1
            emb_rows.append((i, unit(base + 0.001 * rng.randn(16))))
        elif i == 100:           # exact-dup LOSER carrying doc 7's vector:
            emb_rows.append((i, unit(base * -1)))
        else:                    # well-separated random vectors
            emb_rows.append((i, unit(rng.randn(16))))
    emb = spark.createDataFrame(emb_rows, "doc_id long, embedding array<float>")

    cfg = DocPipelineConfig(
        out_root=str(tmp_path / "dpsem"),
        input_snapshot="v1",
        min_quality=0.05,
        contamination_min_shared=2,
        semantic_threshold=0.98,
    )
    stats = run_document_pipeline(
        spark, docs, cfg, eval_docs=ev, doc_embeddings=emb
    )
    assert stats["stages_run"] == 7

    st = ParquetSnapshotStorage(spark, cfg.out_root)
    status = {r.doc_id: r.drop_stage for r in st.read("dp_doc_status").collect()}
    lost_to = {r.doc_id: r.lost_to for r in st.read("dp_doc_status").collect()}
    # the planted semantic pair: min id 5 survives, 6 dropped w/ lineage
    assert status[5] is None
    assert status[6] == "semantic" and lost_to[6] == 5
    # text stages unchanged
    assert status[100] == "exact" and status[111] == "clusters"
    assert status[120] == "contamination" and status[130] == "filters"
    # persisted semantic pairs table exists and holds the pair
    sem = st.read_snapshot("dp_pairs_semantic").collect()
    assert {(r.doc_a, r.doc_b) for r in sem} == {(5, 6)}
    # resume: everything skips
    stats2 = run_document_pipeline(
        spark, docs, cfg, eval_docs=ev, doc_embeddings=emb
    )
    assert stats2["stages_run"] == 0 and stats2["stages_skipped"] == 7


def test_doc_pipeline_semantic_stage_disabled_is_noop(spark, tmp_path):
    """No embeddings -> the semantic stage marks itself done and the
    pipeline behaves exactly as before (6 stages run, no semantic
    losers, no dp_pairs_semantic table)."""
    from light_curve_spark.plans.doc_pipeline import run_document_pipeline
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from tests.test_round4 import _run_doc_pipeline

    docs, ev, cfg = _run_doc_pipeline(spark, tmp_path, "dpnosem")
    stats = run_document_pipeline(spark, docs, cfg, eval_docs=ev)
    assert stats["stages_run"] == 6
    st = ParquetSnapshotStorage(spark, cfg.out_root)
    stages = {r.stage for r in st.read("dp_losers").collect()}
    assert "semantic" not in stages
    assert not st.exists("dp_pairs_semantic")


# ---------------------------------------------------------------------------
# per-row media decode error surfacing (round-4 verdict item 7)
# ---------------------------------------------------------------------------

def test_media_decode_on_error_mark_quarantines_per_row(spark):
    """A corrupt payload among healthy ones: on_error='mark' completes
    the job, yields the error message on exactly that row (empty
    feature), and decodes every healthy row; the default ('raise')
    fails the task — corruption never zero-fills silently."""
    import os

    import pytest as _pytest

    from light_curve_spark.operators.multimodal import decode_and_featurize

    media_dir = os.path.join(os.path.dirname(__file__), "..", "fixtures", "media")
    rows = []
    for name in sorted(os.listdir(media_dir)):
        with open(os.path.join(media_dir, name), "rb") as f:
            buf = f.read()
        media_id = int(name.split("_")[0])
        kind = name.split("_")[1].split(".")[0]
        rows.append((media_id, kind, bytearray(buf)))
    rows.append((999, "image", bytearray(b"NOTABMP\x00\x00\x00")))
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary"
    ).repartition(3)

    out = decode_and_featurize(media, on_error="mark").collect()
    by_id = {r.media_id: r for r in out}
    assert len(by_id) == len(rows)
    assert by_id[999].error is not None and "payload" in by_id[999].error
    assert list(by_id[999].feature) == []
    for media_id, _, _ in rows[:-1]:
        assert by_id[media_id].error is None
        assert len(by_id[media_id].feature) > 0

    with _pytest.raises(Exception, match="payload"):
        decode_and_featurize(media, on_error="raise").collect()

    with _pytest.raises(ValueError, match="on_error"):
        decode_and_featurize(media, on_error="ignore")


# ---------------------------------------------------------------------------
# incremental IVF: frozen-centroid append + drift metric (verdict item 9)
# ---------------------------------------------------------------------------

def _blob_vectors(n, n_blobs, dim, seed, shift=0.0, centers_seed=1):
    """Blob CENTERS are pinned by centers_seed (the population); `seed`
    drives only the per-batch noise, so different batches sample the
    SAME distribution unless shift is set."""
    import numpy as np

    centers = np.random.RandomState(centers_seed).randn(n_blobs, dim) * 3.0
    rng = np.random.RandomState(seed)
    rows = []
    for i in range(n):
        c = centers[i % n_blobs] + shift
        rows.append((i, (c + 0.3 * rng.randn(dim)).astype("float32").tolist()))
    return rows


def test_ivf_append_holds_recall_and_drift_metric(spark, tmp_path):
    """Appending same-distribution vectors with frozen centroids must
    keep probe recall (probe result == post-scan filter on the grown
    table; brute-force top-k still found inside the probed buckets),
    and the drift metric must stay ~1 for in-distribution arrivals but
    fire (>1.5x) for a shifted batch."""
    import numpy as np

    from light_curve_spark.operators.similarity import (
        append_ivf_partitioned,
        ivf_assign,
        ivf_quantization_stats,
        read_ivf_probe,
        train_ivf_centroids,
        write_ivf_partitioned,
    )

    dim, blobs = 8, 6
    base_rows = _blob_vectors(600, blobs, dim, seed=1)
    base_ids = {r[0] for r in base_rows}
    base = spark.createDataFrame(
        [(i + 0, v) for i, v in base_rows], "vec_id long, embedding array<float>"
    )
    cents = train_ivf_centroids(base, n_centroids=blobs, sample_size=512)
    path = str(tmp_path / "ivf")
    write_ivf_partitioned(base, cents, path)
    baseline = ivf_quantization_stats(base, cents)

    # arriving batch, same distribution, new ids
    new_rows = [(10_000 + i, v) for i, v in _blob_vectors(300, blobs, dim, seed=2)]
    new = spark.createDataFrame(new_rows, "vec_id long, embedding array<float>")
    append_ivf_partitioned(new, cents, path)

    # layout invariant: on-disk assignment == recomputed assignment
    grown = spark.read.parquet(path)
    assert grown.count() == 900
    union = base.unionByName(new)
    recomputed = {
        (r.vec_id, r._bucket) for r in ivf_assign(union, cents).collect()
    }
    stored = {(r.vec_id, r._bucket) for r in grown.collect()}
    assert stored == recomputed

    # probe recall on the GROWN table: for queries at each blob center,
    # the true top-5 (brute force over the union) must be inside the
    # probed partitions' rows at nprobe=2
    from light_curve_spark.operators.similarity import cosine_topk

    rng = np.random.RandomState(1)
    centers = rng.randn(blobs, dim) * 3.0
    for b in range(blobs):
        q = [float(x) for x in centers[b]]
        probed = read_ivf_probe(spark, path, cents, q, nprobe=2)
        probed_ids = {r.vec_id for r in probed.select("vec_id").collect()}
        true_top = {
            r.vec_id for r in cosine_topk(union, q, k=5).collect()
        }
        assert true_top <= probed_ids, f"blob {b}: recall lost on append"

    # drift metric: in-distribution ~1, shifted fires
    same_stats = ivf_quantization_stats(new, cents)
    assert same_stats["mean_d2"] / baseline["mean_d2"] < 1.5
    shifted_rows = [
        (20_000 + i, v) for i, v in _blob_vectors(200, blobs, dim, seed=3, shift=6.0)
    ]
    shifted = spark.createDataFrame(
        shifted_rows, "vec_id long, embedding array<float>"
    )
    drift_stats = ivf_quantization_stats(shifted, cents)
    assert drift_stats["mean_d2"] / baseline["mean_d2"] > 1.5


def test_cross_ngram_evidence_reconstitutes_batch_decision(spark):
    """Read-time derivation from gram evidence (matches + df
    contributions) must equal cross_ngram_contamination's decisions for
    any (max_df, min_shared) — including a max_df low enough that hot
    grams are pruned, the case where per-batch fold-time decisions
    diverge."""
    from light_curve_spark.operators.dedup import (
        cross_ngram_contamination,
        cross_ngram_evidence,
    )

    train, ev = _two_corpora(spark)
    matches, tdf, edf = cross_ngram_evidence(train, ev, n=2)
    matches = matches.persist()
    total_df = (
        tdf.unionByName(edf).groupBy("gram").agg(F.sum("df").alias("df"))
    ).persist()
    for max_df, min_shared in [(10, 2), (1000, 2), (10, 1), (3, 3)]:
        hot = total_df.filter(F.col("df") > max_df).select("gram")
        derived = {
            (r.eval_id, r.train_id, r.n_shared)
            for r in matches.join(hot, "gram", "left_anti")
            .groupBy("train_id", "eval_id")
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
            .collect()
        }
        direct = {
            (r.eval_id, r.train_id, r.n_shared)
            for r in cross_ngram_contamination(
                train, ev, n=2, max_df=max_df, min_shared=min_shared
            ).collect()
        }
        assert derived == direct, (max_df, min_shared)
    matches.unpersist()
    total_df.unpersist()


def test_incremental_minhash_tokens_native(spark, tmp_path):
    """The incremental index works tokens-native: batches of a
    pre-tokenized corpus fold without any text column, content batch
    ids derive from the tokens array, and the union of pairs over
    batches equals the one-shot tokens-path output."""
    from light_curve_spark.operators.dedup import (
        incremental_minhash_pairs,
        minhash_lsh_pairs,
    )
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage

    rows = _token_corpus()
    docs = spark.createDataFrame(rows, "doc_id int, tokens array<int>")
    one_shot = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, n=3, tokens_col="tokens").collect()
    }
    assert one_shot  # planted dups found

    st = ParquetSnapshotStorage(spark, str(tmp_path / "tokinc"))
    got = set()
    for k in (0, 1, 2):
        batch = docs.filter(F.col("doc_id") % 3 == k)
        pairs = incremental_minhash_pairs(
            st, batch, prefix="tk", n=3, tokens_col="tokens"
        )
        got |= {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert got == one_shot
    # re-delivering a batch is an index no-op
    n_before = st.read("tk_index").count()
    incremental_minhash_pairs(
        st, docs.filter(F.col("doc_id") % 3 == 1), prefix="tk", n=3,
        tokens_col="tokens",
    )
    assert st.read("tk_index").count() == n_before


# ---------------------------------------------------------------------------
# incremental + streaming semantic dedup (embedding twin of the MinHash index)
# ---------------------------------------------------------------------------

def test_incremental_embedding_pairs_matches_one_shot(spark, tmp_path):
    """Union of incremental_embedding_pairs over arrival batches equals
    one-shot embedding_cosine_pairs_lsh on the full corpus (the bucket
    is a pure function of the vector, so arrival order is irrelevant);
    re-submitting a batch is an index no-op."""
    from light_curve_spark.operators.similarity import (
        embedding_cosine_pairs_lsh,
        incremental_embedding_pairs,
    )
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage

    rows = [
        (i, v) for i, v in _blob_vectors(120, 5, 8, seed=4)
    ]
    emb = spark.createDataFrame(rows, "doc_id long, embedding array<float>")
    one_shot = {
        (r.id_a, r.id_b): round(r.cosine, 9)
        for r in embedding_cosine_pairs_lsh(
            emb, threshold=0.98, n_planes=6, id_col="doc_id"
        ).collect()
    }
    assert one_shot  # blob structure plants near-parallel vectors

    st = ParquetSnapshotStorage(spark, str(tmp_path / "embinc"))
    got = {}
    for k in (0, 1, 2):
        batch = emb.filter(F.col("doc_id") % 3 == k)
        pairs = incremental_embedding_pairs(
            st, batch, prefix="e", threshold=0.98, n_planes=6,
            id_col="doc_id",
        )
        got.update(
            {(r.id_a, r.id_b): round(r.cosine, 9) for r in pairs.collect()}
        )
    assert got == one_shot
    n_before = st.read("e_index").count()
    incremental_embedding_pairs(
        st, emb.filter(F.col("doc_id") % 3 == 1), prefix="e",
        threshold=0.98, n_planes=6, id_col="doc_id",
    )
    assert st.read("e_index").count() == n_before


def test_stream_semantic_stage_matches_batch(spark, tmp_path):
    """Stream-fed pipeline WITH embeddings over 3 arrival batches must
    reproduce the batch pipeline's (semantic-stage-enabled) kept set —
    including the rule that a semantic pair through a text-dup loser
    does not chain — and tag semantic drops in read_document_status."""
    import numpy as np
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
    from light_curve_spark.streaming.documents import (
        read_document_status,
        run_stream_document_pipeline,
    )
    from tests.test_round4 import _eval_corpus, _pipeline_corpus

    docs_pd = _pipeline_corpus()
    docs_pd = docs_pd[docs_pd["text"].notna()]
    rng = np.random.RandomState(11)

    def unit(v):
        v = np.asarray(v, dtype=np.float64)
        return (v / np.linalg.norm(v)).astype("float32").tolist()

    base = rng.randn(12)
    emb_map = {}
    for i in docs_pd["doc_id"]:
        if i in (5, 6):  # planted semantic dup pair
            emb_map[i] = unit(base + 0.001 * rng.randn(12))
        else:
            emb_map[i] = unit(rng.randn(12))
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

    # batch reference with the semantic stage enabled
    cfg = DocPipelineConfig(
        out_root=str(tmp_path / "batch"),
        input_snapshot="v1",
        min_quality=0.05,
        contamination_min_shared=2,
        semantic_threshold=0.98,
        semantic_n_planes=6,
    )
    run_document_pipeline(
        spark,
        docs.select("doc_id", "text"),
        cfg,
        eval_docs=ev,
        doc_embeddings=docs.select("doc_id", "embedding"),
    )
    st_b = ParquetSnapshotStorage(spark, cfg.out_root)
    batch_status = {
        r.doc_id: r.drop_stage
        for r in st_b.read("dp_doc_status").collect()
    }
    batch_kept = {d for d, s in batch_status.items() if s is None}
    assert batch_status[6] == "semantic"
    release_operator_caches()

    # streamed arrival, 3 batches — the semantic pair 5/6 split across
    # batches (5 in b2, 6 in b0) so the cross-index join finds it
    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "sck")
    storage = ParquetSnapshotStorage(spark, str(tmp_path / "stream"))
    for i in range(3):
        docs.filter(F.col("doc_id") % 3 == i).coalesce(1).write.parquet(
            f"{in_dir}/b{i}"
        )
        run_stream_document_pipeline(
            spark, in_dir + "/*", schema, storage, ckpt,
            eval_docs=ev, embeddings_col="embedding",
            semantic_threshold=0.98, semantic_n_planes=6,
        )
        release_operator_caches()

    status = {
        r.doc_id: r.drop_stage
        for r in read_document_status(storage, min_quality=0.05).collect()
    }
    stream_kept = {d for d, s in status.items() if s is None}
    assert status[6] == "semantic"
    assert stream_kept == batch_kept


def test_storage_cluster_by_gives_disjoint_footers_within_partition(
    spark, tmp_path
):
    """append(cluster_by=...) must leave each partition directory's
    files with near-disjoint footer min/max ranges over the cluster
    column (the row-group-skipping precondition); an unclustered append
    leaves every file spanning the full domain."""
    import glob
    import os

    import numpy as np

    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.sources.layout import file_column_ranges

    n = 4000
    rng = np.random.RandomState(5)
    rows = [
        (int(i), ["en", "de"][i % 2], float(rng.rand()))
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, lang_pred string, quality double"
    ).repartition(8)

    def max_overlap(root_dir):
        worst = 0.0
        for lang_dir in glob.glob(os.path.join(root_dir, "lang_pred=*")):
            ranges = sorted(file_column_ranges(lang_dir, "quality"))
            for (alo, ahi), (blo, bhi) in zip(ranges, ranges[1:]):
                span = max(ahi, bhi) - min(alo, blo)
                overlap = max(0.0, min(ahi, bhi) - max(blo, alo))
                if span > 0:
                    worst = max(worst, overlap / span)
        return worst

    st = ParquetSnapshotStorage(spark, str(tmp_path / "clu"))
    st.append(df, "t", partition_by=["lang_pred"], cluster_by=["quality"])
    snap = st.snapshots("t")[-1]["path"]
    assert max_overlap(snap) < 0.05

    st2 = ParquetSnapshotStorage(spark, str(tmp_path / "unclu"))
    st2.append(df, "t", partition_by=["lang_pred"])
    snap2 = st2.snapshots("t")[-1]["path"]
    assert max_overlap(snap2) > 0.5  # every file spans ~the full domain

    # content identical either way
    a = {tuple(r) for r in st.read("t").collect()}
    b = {tuple(r) for r in st2.read("t").collect()}
    assert a == b


def test_simhash_tokens_native_matches_scalar_ref(spark):
    """simhash_kernel(tokens_col=...) vs the scalar tokens-native ref;
    simhash_dedup(tokens_col=...) finds the planted near-dups; weighted
    + tokens is rejected."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))
    from oracle_impl import simhash_tokens_ref

    from light_curve_spark.operators.dedup import simhash_dedup, simhash_kernel

    rows = _token_corpus()
    docs = spark.createDataFrame(
        rows, "doc_id int, tokens array<int>"
    ).repartition(4)
    got = {
        r.doc_id: r.sh
        for r in simhash_kernel(docs, tokens_col="tokens").collect()
    }
    want = {doc_id: simhash_tokens_ref(toks) for doc_id, toks in rows}
    assert got == want

    # short docs (~20 tokens) leave many near-tie bits, so one
    # substituted token can flip several — use a tolerant radius and
    # assert the planted partner collides in some band AND sits closer
    # than the median pair
    rows_ham = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_dedup(docs, tokens_col="tokens").collect()
    }
    assert (6, 7) in rows_ham  # planted one-token-substitution partner
    import statistics

    assert rows_ham[(6, 7)] <= statistics.median(rows_ham.values())

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unweighted"):
        simhash_dedup(docs, tokens_col="tokens", weighted=True)


def test_stream_pipeline_checkpoint_loss_redelivery_is_idempotent(
    spark, tmp_path
):
    """Worst-case at-least-once: the stream CHECKPOINT is lost after a
    full drain, so a restart re-delivers EVERY file. Every fold-side
    table must no-op (batch-id guards / idempotent folds), leaving the
    final status and the evidence tables' row counts identical."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from light_curve_spark.plans.caching import release_operator_caches
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.streaming.documents import (
        read_document_status,
        run_stream_document_pipeline,
    )
    from tests.test_round4 import _eval_corpus, _pipeline_corpus

    docs = spark.createDataFrame(_pipeline_corpus()).filter(
        F.col("text").isNotNull()
    )
    ev = spark.createDataFrame(_eval_corpus())
    schema = StructType(
        [StructField("doc_id", LongType(), True),
         StructField("text", StringType(), True)]
    )
    in_dir = str(tmp_path / "in")
    storage = ParquetSnapshotStorage(spark, str(tmp_path / "st"))
    docs.coalesce(2).write.parquet(f"{in_dir}/b0")
    run_stream_document_pipeline(
        spark, in_dir + "/*", schema, storage, str(tmp_path / "ck1"),
        eval_docs=ev,
    )
    release_operator_caches()
    status1 = {
        r.doc_id: r.drop_stage
        for r in read_document_status(storage, min_quality=0.05).collect()
    }
    counts1 = {
        t: storage.read(t).count()
        for t in ("dpx_attrs", "dpx_index", "dpx_contam_matches", "dpx_gramdf")
    }

    # checkpoint loss: a FRESH checkpoint dir re-delivers everything
    run_stream_document_pipeline(
        spark, in_dir + "/*", schema, storage, str(tmp_path / "ck2"),
        eval_docs=ev,
    )
    release_operator_caches()
    status2 = {
        r.doc_id: r.drop_stage
        for r in read_document_status(storage, min_quality=0.05).collect()
    }
    counts2 = {
        t: storage.read(t).count()
        for t in ("dpx_attrs", "dpx_index", "dpx_contam_matches", "dpx_gramdf")
    }
    assert status2 == status1
    assert counts2 == counts1, (counts1, counts2)


def test_stream_contamination_df_counts_survivors_like_batch(spark, tmp_path):
    """A gram carried by many DUP-LOSER docs must not be pruned by
    max_df when its SURVIVING carriers are few — the batch pipeline
    counts survivors, and the stream's read-time derivation must too
    (round-5 review finding: the stream's raw-corpus df accounting
    diverged exactly when df straddles max_df)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from light_curve_spark.plans.caching import release_operator_caches
    from light_curve_spark.plans.doc_pipeline import (
        DocPipelineConfig,
        run_document_pipeline,
    )
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from light_curve_spark.streaming.documents import (
        read_document_status,
        run_stream_document_pipeline,
    )

    # doc 0..9: unique docs all containing the eval shingle run
    # doc 100..129: 30 exact copies of one OTHER doc carrying the same
    # shingle run -> 29 of them are dup losers; raw-corpus df for the
    # shingle grams is ~41 (> max_df=20), survivor df is ~12 (<= 20)
    shingle = "evq0 evq1 evq2 evq3 evq4"
    rows = []
    for i in range(10):
        rows.append((i, f"{shingle} unique{i}_a unique{i}_b unique{i}_c"))
    for j in range(30):
        rows.append((100 + j, f"{shingle} copy_body same text here"))
    for k in range(40):  # clean background docs
        rows.append((500 + k, f"bg{k}_a bg{k}_b bg{k}_c bg{k}_d bg{k}_e"))
    ev = spark.createDataFrame(
        [(9001, shingle + " evq5 evq6")], "doc_id long, text string"
    )
    schema = StructType(
        [StructField("doc_id", LongType(), True),
         StructField("text", StringType(), True)]
    )
    docs = spark.createDataFrame(rows, schema)

    cfg = DocPipelineConfig(
        out_root=str(tmp_path / "b"),
        input_snapshot="v1",
        contamination_min_shared=2,
        contamination_max_df=20,
    )
    run_document_pipeline(spark, docs, cfg, eval_docs=ev)
    st_b = ParquetSnapshotStorage(spark, cfg.out_root)
    batch_status = {
        r.doc_id: r.drop_stage for r in st_b.read("dp_doc_status").collect()
    }
    # sanity: the batch run DID find contamination through the shingle
    assert "contamination" in set(batch_status.values())
    release_operator_caches()

    in_dir = str(tmp_path / "in")
    storage = ParquetSnapshotStorage(spark, str(tmp_path / "s"))
    for part in (0, 1):
        docs.filter(F.col("doc_id") % 2 == part).coalesce(1).write.parquet(
            f"{in_dir}/b{part}"
        )
        run_stream_document_pipeline(
            spark, in_dir + "/*", schema, storage, str(tmp_path / "ck"),
            eval_docs=ev,
        )
        release_operator_caches()
    stream_status = {
        r.doc_id: r.drop_stage
        for r in read_document_status(
            storage, contamination_max_df=20, contamination_min_shared=2
        ).collect()
    }
    batch_kept = {d for d, s in batch_status.items() if s is None}
    stream_kept = {d for d, s in stream_status.items() if s is None}
    assert stream_kept == batch_kept


def test_semantic_stage_survives_empty_embedding_overlap(spark, tmp_path):
    """Embeddings disjoint from the surviving corpus (or an empty batch)
    must yield an empty semantic stage, not a TypeError from head()."""
    from light_curve_spark.operators.similarity import (
        embedding_cosine_pairs_lsh,
        incremental_embedding_pairs,
    )
    from light_curve_spark.plans.doc_pipeline import (
        DocPipelineConfig,
        run_document_pipeline,
    )
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage
    from tests.test_round4 import _eval_corpus, _pipeline_corpus

    empty = spark.createDataFrame([], "doc_id long, embedding array<float>")
    assert embedding_cosine_pairs_lsh(empty, id_col="doc_id").count() == 0
    st = ParquetSnapshotStorage(spark, str(tmp_path / "e"))
    assert incremental_embedding_pairs(st, empty, id_col="doc_id").count() == 0

    docs = spark.createDataFrame(_pipeline_corpus()).repartition(4)
    ev = spark.createDataFrame(_eval_corpus())
    # embeddings reference doc ids that do not exist in the corpus
    emb = spark.createDataFrame(
        [(990001, [1.0] * 8), (990002, [0.5] * 8)],
        "doc_id long, embedding array<float>",
    )
    cfg = DocPipelineConfig(
        out_root=str(tmp_path / "dp"),
        input_snapshot="v1",
        min_quality=0.05,
        contamination_min_shared=2,
    )
    stats = run_document_pipeline(
        spark, docs, cfg, eval_docs=ev, doc_embeddings=emb
    )
    assert stats["stages_run"] == 7  # semantic ran (empty) without crashing
    status = ParquetSnapshotStorage(spark, cfg.out_root).read("dp_doc_status")
    assert status.filter(F.col("drop_stage") == "semantic").count() == 0


def test_embedding_lsh_or_amplification(spark, tmp_path):
    """n_tables=T OR-amplification: every single-table pair survives, T>1
    only ADDS true pairs (verification is exact, so all returned pairs
    are above threshold and a superset check against exact ground truth
    holds), recall is measurably higher, and the incremental index at
    T>1 still equals the one-shot operator over any batch split."""
    from light_curve_spark.operators.similarity import (
        embedding_cosine_pairs,
        embedding_cosine_pairs_lsh,
        incremental_embedding_pairs,
    )
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage

    rows = _blob_vectors(300, 12, 16, seed=9)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(emb, threshold=0.9).collect()
    }
    t1 = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs_lsh(
            emb, threshold=0.9, n_planes=10
        ).collect()
    }
    t4 = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs_lsh(
            emb, threshold=0.9, n_planes=10, n_tables=4
        ).collect()
    }
    assert t1 <= t4 <= exact
    assert len(t4) > len(t1)  # amplification recovered real pairs

    st = ParquetSnapshotStorage(spark, str(tmp_path / "amp"))
    got = set()
    for k in (0, 1, 2):
        pairs = incremental_embedding_pairs(
            st, emb.filter(F.col("vec_id") % 3 == k), prefix="amp",
            threshold=0.9, n_planes=10, n_tables=4, id_col="vec_id",
        )
        got |= {(r.id_a, r.id_b) for r in pairs.collect()}
    assert got == t4
