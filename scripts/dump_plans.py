"""Capture .explain("formatted") for the engine's key plans and audit
the physical properties that matter at 100 TB (SURVEY.md §4):
- parquet scans show PushedFilters + pruned ReadSchema (column pruning)
- aggregates are partial+final HashAggregate pairs
- the parity join is a BroadcastHashJoin
- per-sequence kernel stages contain NO Exchange (zero shuffle)

Writes PLANS.md.  PYTHONPATH=. python scripts/dump_plans.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.01"


def formatted(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from light_curve_spark.operators.parity import verify_parity
    from light_curve_spark.operators.rollup import rollup_tiers_arrays
    from light_curve_spark.session import build_session
    from light_curve_spark.sources.synthetic import synthetic_sequences

    spark = build_session(master="local[2]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    sections: list[tuple[str, str, list[str]]] = []

    # 1. pushdown/pruning: filtered projected scan
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_shipdate") > "1998-01-01").groupBy("l_returnflag").agg(
        F.sum("l_quantity").alias("sum_qty")
    )
    sections.append(
        (
            "Filtered aggregate over parquet (pushdown + pruning)",
            formatted(q),
            ["PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate",
             "ReadSchema: struct<l_quantity:double,l_returnflag:string,l_shipdate"],
        )
    )

    # 2. relational rollup: one base partial+final aggregate, its partials
    # expanded to every tier (Generate), one final aggregate — no cache
    plan2 = formatted(e.q_rollup_tiers_events(spark, SF))
    sections.append(
        (
            "Relational tier rollup on events (base aggregate, expand to "
            "every tier, one aggregate; AQE)",
            plan2,
            ["HashAggregate", "Exchange", "AdaptiveSparkPlan", "Generate"],
        )
    )
    assert "InMemoryTableScan" not in plan2, "tier rollup must not persist"

    # 2b. retraction over a stored state (a snapshot read back with its
    # recorded schema): only the base tier's footprint buckets are
    # re-aggregated, so the plan scans the state once, joins it only by
    # broadcast, expands tiers exactly once and caches nothing
    import tempfile

    from light_curve_spark.operators.rollup import retract_from_rollup, rollup_tiers
    from light_curve_spark.sources.catalog import ParquetSnapshotStorage

    ev = e._events_series(spark, SF)
    kw = dict(keys=["user_id"], base_width=e.DAY_US, tiers=(1, 10, 100))
    st2 = ParquetSnapshotStorage(spark, tempfile.mkdtemp(prefix="plans-rollup-"))
    st2.append(rollup_tiers(ev, **kw), "state")
    cond = F.pmod(F.floor(F.col("t") / F.lit(1e6)).cast("long"), F.lit(7)) == 3
    plan2b = formatted(
        retract_from_rollup(st2.read_snapshot("state"), ev.filter(cond), ev.filter(~cond), **kw)
    )
    sections.append(
        (
            "Rollup retraction over a stored state (base tier only: footprint "
            "anti-join + footprint re-aggregate, one expansion of the fixed "
            "base to every tier, one aggregate)",
            plan2b,
            [("Generate (", 1), ("InMemoryTableScan", 0), ("SortMergeJoin", 0),
             "BroadcastHashJoin", "LeftAnti", "LeftSemi"],
        )
    )

    # 2c. the continuous-aggregate fold: the stored state and the new
    # rows' expanded base partials go through ONE final aggregate above
    # the union (the new rows' tiers are not merged on their own first)
    from light_curve_spark.streaming.incremental import _fold_append
    from light_curve_spark.operators.rollup import _base_partials

    class CapturingStorage:
        def __init__(self, inner):
            self.inner, self.appended = inner, []

        def __getattr__(self, name):
            return getattr(self.inner, name)

        def append(self, df, table, **kwargs):
            self.appended.append(df)
            return self.inner.append(df, table, **kwargs)

    st2c = CapturingStorage(st2)
    half = F.col("user_id") % 2 == 0
    for part in (ev.filter(half), ev.filter(~half)):
        _fold_append(st2c, "fold", _base_partials(part, ["user_id"], e.DAY_US),
                     ["user_id"], (1, 10, 100), [])
    plan2c = formatted(st2c.appended[-1])
    sections.append(
        (
            "Continuous-aggregate fold into a stored state (the new rows' base "
            "aggregate, expanded; one final aggregate over the union with the "
            "stored state)",
            plan2c,
            [("Union (", 1), ("Generate (", 1), ("HashAggregate (", 4)],
        )
    )

    # 3. array-native rollup: NO exchange anywhere
    seq = synthetic_sequences(spark, 100, seed=42)
    plan3 = formatted(rollup_tiers_arrays(seq))
    sections.append(
        (
            "Array-native rollup cascade (zero shuffle: no Exchange operator)",
            plan3,
            [],
        )
    )
    assert "Exchange" not in plan3, "array rollup must not shuffle"

    # 3b. run_pipeline's fused group frame: ONE Python crossing for the
    # features, both array rollups and the chunk encode; the only
    # Exchange is the salted repartition. Each table append is a JVM
    # filter + select of the persisted frame
    from light_curve_spark.plans.pipeline import PipelineConfig, _sequence_tables
    from light_curve_spark.plans.salting import salted_repartition

    cfg = PipelineConfig(out_root="", num_partitions=4)
    fused, tables = _sequence_tables(salted_repartition(seq, cfg.num_partitions), cfg)
    plan3b = formatted(fused)
    sections.append(
        (
            "run_pipeline group frame (one MapInArrow for features, rollup, "
            "rollup_quantiles and chunks; the salted repartition is the "
            "only Exchange)",
            plan3b,
            [("MapInArrow (", 1), ("Exchange (", 1)],
        )
    )
    # a small group writes each table from one task: Coalesce straight
    # over the cached scan, and the only Exchange is the salted
    # repartition inside the cached relation
    fused.persist()
    plan3c = formatted(tables[1].coalesce(1))
    fused.unpersist()
    above_scan = plan3c.split("\n\n")[0].split("InMemoryTableScan")[0]
    assert "Coalesce" in above_scan and "Exchange" not in above_scan, plan3c
    sections.append(
        (
            "run_pipeline table append over the persisted group frame "
            "(JVM filter on _table + select, coalesced to one write task; "
            "no Python crossing, no Exchange above the cached scan)",
            plan3c,
            [("Coalesce (", 1), "InMemoryTableScan", "[(_table#", ("Exchange (", 1)],
        )
    )

    # 4. parity check: broadcast join
    r = rollup_tiers_arrays(seq)
    plan4 = formatted(
        verify_parity(r, r, ["doc_id", "tier", "bucket"], ["v_sum"])
    )
    sections.append(
        ("Golden-parity check (BroadcastHashJoin, produced side unshuffled)",
         plan4, ["BroadcastHashJoin"])
    )

    # 5. cosine top-k: TakeOrdered, no shuffle
    sections.append(
        (
            "Brute-force cosine top-k (TakeOrderedAndProject — per-partition "
            "top-k merged on the driver, no shuffle)",
            formatted(e.q_cosine_topk_embeddings(spark, SF)),
            ["TakeOrderedAndProject"],
        )
    )

    # 6. simhash kernel: adds ZERO shuffle of its own (docs scan -> JVM
    # hash transform -> one mapInArrow bit-vote pass). The input here is
    # pre-parallelized so ensure_min_splits' unsplittable-source rescue
    # (a round-robin Exchange when the source has 1 row group) is a no-op
    # — asserted by comparing Exchange counts against the bare input.
    from light_curve_spark.operators.dedup import simhash_kernel

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs_par = docs.repartition(2)
    base_ex = formatted(docs_par).count("Exchange")
    plan6 = formatted(simhash_kernel(docs_par))
    sections.append(
        ("SimHash kernel (single pass, no kernel-added Exchange)", plan6, [])
    )
    assert plan6.count("Exchange") == base_ex, "simhash kernel must not shuffle"

    # 7. fingerprint: same zero-added-shuffle property
    from light_curve_spark.operators.text import fingerprint

    plan7 = formatted(fingerprint(docs_par))
    sections.append(
        ("Winnowing fingerprint (segment-vectorized, no kernel-added Exchange)",
         plan7, [])
    )
    assert plan7.count("Exchange") == base_ex, "fingerprint must not shuffle"

    # 8. dmdt kernel: ONE key shuffle into collect_list, then mapInArrow
    plan8 = formatted(e.q_dmdt_events_kernel(spark, SF))
    sections.append(
        (
            "dm-dt kernel (collect_list + mapInArrow: one key exchange, "
            "no per-group Python dispatch)",
            plan8,
            ["ObjectHashAggregate", "Exchange"],
        )
    )

    # 9. ngram jaccard: pruned gram index persisted -> every consumer
    # reads InMemoryTableScan instead of recomputing the n-gram build
    plan9 = formatted(e.q_ngram_jaccard_documents(spark, SF))
    sections.append(
        (
            "n-gram Jaccard (persisted inverted index: consumers hit "
            "InMemoryTableScan, one gram construction total)",
            plan9,
            ["InMemoryTableScan", "BroadcastHashJoin LeftAnti"],
        )
    )
    # 10. interval (range) join: bucketized equi-join — the naive theta
    # join would plan a BroadcastNestedLoopJoin (quadratic)
    plan10 = formatted(e.q_events_in_signup_windows(spark, SF))
    sections.append(
        (
            "Interval join (bucketized EQUI-join — BroadcastHashJoin here "
            "because AQE broadcasts the tiny sf0.01 interval side; "
            "SortMergeJoin at scale; never a BroadcastNestedLoopJoin)",
            plan10,
            ["HashJoin"],
        )
    )
    assert "BroadcastNestedLoopJoin" not in plan10, "range join must bucketize"
    assert "CartesianProduct" not in plan10

    # 11. as-of join: union + ONE window pass — no join operator at all
    plan11 = formatted(e.q_asof_join_events(spark, SF))
    sections.append(
        (
            "As-of join (union + single key-partitioned window; no join "
            "operator, no nested loop)",
            plan11,
            ["Window", "Union"],
        )
    )
    assert "Join" not in plan11, "asof must not plan a join"

    # 12. weighted simhash: vocabulary-size df join (AQE decides
    # broadcast), persisted exploded subtree read via InMemoryTableScan,
    # never a cartesian
    from light_curve_spark.operators.dedup import simhash_weighted_kernel

    plan12 = formatted(simhash_weighted_kernel(docs_par))
    sections.append(
        (
            "IDF-weighted SimHash (df join + regroup; persisted word-hash "
            "subtree, no cartesian)",
            plan12,
            ["InMemoryTableScan"],
        )
    )
    assert "CartesianProduct" not in plan12
    assert "BroadcastNestedLoopJoin" not in plan12

    # 13. star-contraction connected components: one round is two
    # groupBy-min + equi-join steps — declarative, AQE-owned, no
    # cartesian anywhere
    import pandas as pd

    from light_curve_spark.operators.dedup import _star_labels

    chain = spark.createDataFrame(
        pd.DataFrame({"doc_a": list(range(30)), "doc_b": list(range(1, 31))})
    )
    labels, _rounds, _ckpts = _star_labels(chain, "doc_a", "doc_b", max_iter=50)
    plan13 = formatted(labels)
    sections.append(
        (
            "Star-contraction connected components (per-round groupBy-min + "
            "equi-join; lineage truncated each round so the final plan stays "
            "flat)",
            plan13,
            ["HashAggregate"],
        )
    )
    assert "CartesianProduct" not in plan13

    # 14. eval-footprint-bounded contamination (round 5): the corpus gram
    # explode is semi-joined MAP-SIDE against the broadcast eval gram set
    # before any shuffle — the whole stage scales with the eval set, not
    # the corpus
    from light_curve_spark.operators.dedup import cross_ngram_contamination

    ev_docs = docs_par.limit(20)
    plan14 = formatted(
        cross_ngram_contamination(docs_par, ev_docs, n=3, max_df=100)
    )
    sections.append(
        (
            "Train/eval decontamination, eval-footprint-bounded (broadcast "
            "LeftSemi on the corpus explode BEFORE the df/contamination "
            "shuffles)",
            plan14,
            ["BroadcastHashJoin", "LeftSemi"],
        )
    )

    # 15. incremental embedding pairs (round 5): bucket-keyed equi-joins
    # only — candidates never leave their hyperplane bucket, so there is
    # no cartesian/BNLJ anywhere even though the operator compares
    # vectors pairwise
    from light_curve_spark.operators.similarity import (
        incremental_embedding_pairs,
    )

    emb_rows = [
        (i, [float((i * 7 + j * 13) % 17) / 17.0 for j in range(8)])
        for i in range(60)
    ]
    emb = spark.createDataFrame(emb_rows, "doc_id long, embedding array<float>")
    st15 = ParquetSnapshotStorage(spark, tempfile.mkdtemp(prefix="plans-emb-"))
    # seed the index so the plan includes the stored-vs-new cross join
    incremental_embedding_pairs(st15, emb.filter(F.col("doc_id") < 30), prefix="pe")
    plan15_df = incremental_embedding_pairs(
        st15, emb.filter(F.col("doc_id") >= 30), prefix="pe"
    )
    plan15 = formatted(plan15_df)
    sections.append(
        (
            "Incremental embedding index fold (bucket equi-joins vs stored "
            "index + within batch; exact-cosine verify inside buckets only; "
            "HashJoin = AQE picks broadcast at this toy scale, sort-merge "
            "at corpus scale — either way an EQUI join on bucket keys)",
            plan15,
            ["HashJoin", "InMemoryTableScan"],
        )
    )
    assert "CartesianProduct" not in plan15
    assert "BroadcastNestedLoopJoin" not in plan15

    # 16. partition-pruned incremental MinHash fold (round 6): the
    # stored-index side of a delivery's band join reads ONLY the _pb
    # partitions the batch's own band keys occupy — PartitionFilters on
    # the index scan, so per-delivery cost follows the batch footprint,
    # not the index size
    from light_curve_spark.operators.dedup import incremental_minhash_pairs

    st16 = ParquetSnapshotStorage(spark, tempfile.mkdtemp(prefix="plans-mh-"))
    d16 = docs_par.select("doc_id", "text")
    incremental_minhash_pairs(st16, d16.filter(F.col("doc_id") % 2 == 0), prefix="pm")
    plan16 = formatted(
        incremental_minhash_pairs(
            st16, d16.filter(F.col("doc_id") % 2 == 1), prefix="pm"
        )
    )
    sections.append(
        (
            "Incremental MinHash fold vs banded-partitioned index "
            "(PartitionFilters prune the stored scan to the delivery's "
            "own band-key partitions; gram fetch prunes to matched docs)",
            plan16,
            ["PartitionFilters: [_pb"],
        )
    )
    assert "CartesianProduct" not in plan16

    # 17. tombstone-filtered fold (round 6): after tombstone_minhash the
    # delivery's plan carries broadcast anti-joins against the deleted-id
    # set on BOTH sides (arriving batch + stored index) while the
    # partition pruning above survives — a delete costs one tiny
    # broadcast per side, never a rescan or rewrite
    from light_curve_spark.operators.dedup import tombstone_minhash

    tombstone_minhash(st16, [1, 3], prefix="pm")
    plan17 = formatted(
        incremental_minhash_pairs(
            st16, d16.filter(F.col("doc_id") % 2 == 1), prefix="pm"
        )
    )
    sections.append(
        (
            "Tombstone-filtered MinHash fold (broadcast LeftAnti against "
            "the deleted-id set on batch and stored sides; "
            "PartitionFilters still prune the index scan)",
            plan17,
            ["LeftAnti", "PartitionFilters: [_pb"],
        )
    )
    assert "CartesianProduct" not in plan17

    from light_curve_spark.plans.caching import release_operator_caches

    release_operator_caches()

    lines = ["# PLANS — physical plan audit (generated by scripts/dump_plans.py)", ""]
    ok_all = True
    for title, plan, must in sections:
        lines += [f"## {title}", ""]
        for needle in must:
            # a (needle, n) pair asks for exactly n occurrences
            needle, want = needle if isinstance(needle, tuple) else (needle, None)
            n = plan.count(needle)
            hit = n > 0 if want is None else n == want
            ok_all &= hit
            count = "" if want is None else f" ×{want} (found {n})"
            lines.append(f"- {'OK' if hit else 'MISSING'}: `{needle}`{count}")
        lines += ["", "```", plan.strip()[:4000], "```", ""]
    lines.append(f"\nAll assertions passed: {ok_all}\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print("PLANS.md written; all assertions passed:", ok_all)
    spark.stop()


if __name__ == "__main__":
    main()
