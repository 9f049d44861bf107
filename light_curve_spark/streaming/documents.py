"""Structured Streaming ingest for the documents path: arriving doc
files fold into persisted corpus state, and keep/drop is derived from
that state at read time.

:func:`run_stream_document_pipeline` is a thin streaming harness —
``readStream`` over a document directory, ``foreachBatch`` folding each
micro-batch, ``availableNow`` draining everything not yet seen — around
the incremental operators: per-doc attributes and content digest,
the persisted MinHash index (:func:`~light_curve_spark.operators.dedup.
incremental_minhash_pairs`), one label forest over exact-digest and
near-dup edges, the semantic embedding index and contamination
evidence. :func:`read_document_status` turns the current state into the
batch pipeline's kept set; :func:`tombstone_documents` deletes docs.

Exactly-once composition (the round-4 idempotency work is what makes
this sound): Spark's stream checkpoint prevents re-processing in the
COMMON case, but ``foreachBatch`` re-delivers a batch whose side
effects completed when the driver dies before the checkpoint commit.
Here a re-delivered batch is harmless: every per-batch append is
stamped with the batch's content-derived ``batch_id`` and skipped when
the table's manifest already holds it, and the label fold re-reads the
same committed edge rows. No distributed transaction needed; idempotent
operators make at-least-once delivery exactly-once in effect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# cap on the dirty-subgraph edge collect in read_document_status's
# scoped re-derivation (round 7): below it, cluster re-derivation after
# a tombstone is a driver union-find over a few thousand edges; above
# it, the distributed star contraction runs. Bounds driver exposure to
# ~tens of MB in the worst allowed case.
_SCOPED_UNIONFIND_MAX = 200_000

# digest-hash partition modulus for {prefix}_attrs — a single pinned
# constant shared by the fold's write and its pruned read (compaction
# keeps the stored _pb): _pb is only prunable if every writer used the
# SAME modulus, so this is deliberately not a tunable
ATTRS_PARTITIONS = 16


def run_stream_document_pipeline(
    spark: SparkSession,
    input_dir: str,
    input_schema,
    storage,
    checkpoint_dir: str,
    eval_docs: DataFrame | None = None,
    prefix: str = "dpx",
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    text_col: str = "text",
    embeddings_col: str | None = None,
    semantic_threshold: float = 0.95,
    semantic_n_planes: int = 8,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
) -> None:
    """The STREAM-FED document pipeline: every arriving batch of
    documents folds into persistent corpus state —

    - ``{prefix}_attrs``  (append): per-doc text attributes + content
      digest, computed ONCE at arrival (one projection pass);
    - ``{prefix}_index`` / ``{prefix}_pairs``: incremental MinHash
      (signatures mined once, idempotent batch ids);
    - ``{prefix}_labels`` (replace-on-write): connected components over
      exact-digest pairs AND near-dup pairs, maintained incrementally —
      exact duplicates are just edges with Jaccard 1 semantics, so one
      label forest carries both dedup stages;
    - ``{prefix}_contam_matches`` / ``{prefix}_gramdf`` (append):
      gram-level contamination EVIDENCE — distinct (train_id, eval_id,
      gram) triples restricted to eval-present grams, plus the (fixed)
      eval-side gram document frequencies written once. Decisions
      (max_df prune + min_shared count) are NOT taken at fold time:
      per-batch df would misclassify corpus-hot grams and over-drop
      relative to the batch pipeline (found by the round-5 91k-doc
      stream stress — 1,843 spurious drops). The TRAIN-side df is not
      even persisted: the batch pipeline counts gram carriers among
      dedup SURVIVORS, a set that changes retroactively, so
      :func:`read_document_status` derives it from the live matches of
      the current survivors — reconstituting the batch semantics
      exactly, with both thresholds as read-time policy.
    - ``{prefix}_sem_index`` / ``{prefix}_sem_pairs`` (append, when
      ``embeddings_col`` names an embedding column in the arriving
      schema): the SEMANTIC twin — each batch folds into a persisted
      LSH-bucketed embedding index
      (:func:`~light_curve_spark.operators.similarity
      .incremental_embedding_pairs`) and its discovered cosine pairs
      persist SEPARATELY from the text label forest. They stay separate
      because the batch pipeline's semantic stage clusters pairs among
      TEXT-dedup SURVIVORS only — a doc whose semantic partner already
      lost as a text dup must not be chained through it — so
      :func:`read_document_status` re-derives the semantic clusters at
      read time over the pairs whose endpoints currently survive text
      dedup (the pair set is tiny relative to the corpus; star
      contraction over it is cheap).

    Retroactive revocation falls out of the design: keep/drop is NOT
    decided at arrival — :func:`read_document_status` derives it from
    the CURRENT label forest, so a doc kept for months becomes a loser
    the moment its lower-id duplicate arrives (or vice versa), exactly
    as a batch rerun over the full corpus would decide. The batch
    pipeline's final kept set is reproduced (tested); only the per-stage
    attribution differs (exact-vs-cluster drops merge into 'dup').

    ``max_files_per_trigger`` bounds how many arriving files form one
    micro-batch (``maxFilesPerTrigger``; ``availableNow`` splits its
    drain accordingly). Two reasons to set it: bounding a fold's memory
    footprint against a large backlog, and keeping batch GROUPING
    reproducible — the idempotency guard is content-derived per BATCH,
    so a re-delivery that regroups files (e.g. a lost checkpoint
    draining the whole directory as one batch) carries a new batch id
    and re-appends rows. Reads stay correct either way (``distinct``
    collapses the duplicates), but with per-file batches a full
    re-delivery is an exact no-op (tested).

    ``compact_every=N`` folds the append-only state to one snapshot per
    table (:func:`~light_curve_spark.streaming.compact
    .compact_stream_state`) after every Nth delivery of THIS run — the
    maintenance cadence a deployment would otherwise schedule manually
    between drains. It runs at the end of the Nth fold, after that
    batch's appends committed and before the next micro-batch starts,
    which is exactly the between-deliveries window compaction requires;
    a crash before the stream checkpoint re-delivers the batch, whose
    appends no-op via the batch ids the compacted manifests carry
    (pytest-gated). The counter is per-run (compaction is idempotent
    maintenance, not correctness state)."""
    from light_curve_spark.operators.dedup import (
        _content_batch_id,
        _manifest_batch_ids,
        _norm_text,
        cross_ngram_evidence,
        incremental_dedup_clusters,
        incremental_minhash_pairs,
    )
    from light_curve_spark.operators.text import document_attributes
    from light_curve_spark.plans.caching import cache_scope

    # the eval corpus is pinned for the run — derive its content id ONCE
    # and stamp/validate the persisted gram-df snapshot with it, so a
    # later run pointed at a DIFFERENT eval corpus fails loudly instead
    # of silently mixing old eval-side dfs with new-eval matches
    # (round-5 ADVICE)
    eval_cid = (
        _content_batch_id(eval_docs, text_col) if eval_docs is not None else None
    )
    delivered = {"n": 0}

    def fold(batch_df: DataFrame, _batch_no: int) -> None:
        if batch_df.isEmpty():
            return
        with cache_scope():
            cid = _content_batch_id(batch_df, text_col)
            batch_df = batch_df.persist()

            def _present(table: str) -> bool:
                # idempotency probe shared by every per-batch append: a
                # re-delivered batch (crash after append, before stream
                # checkpoint) must not double its rows. Manifest metas
                # answer it in O(#snapshots) without a Spark job.
                return storage.exists(table) and cid in _manifest_batch_ids(
                    storage, table
                )

            # 1. attributes + digest, one pass, once per doc ever. The
            # table is hive-partitioned on a digest-hash key so the
            # per-delivery exact-digest join (step 2) prunes the stored
            # scan to the partitions this batch's digests occupy.
            attrs = document_attributes(batch_df, text_col=text_col).join(
                batch_df.select(
                    "doc_id", F.md5(_norm_text(text_col)).alias("digest")
                ),
                "doc_id",
            ).withColumn("batch_id", F.lit(cid)).withColumn(
                "_pb",
                F.pmod(
                    F.xxhash64("digest"), F.lit(ATTRS_PARTITIONS).cast("long")
                ).cast("int"),
            )
            if not _present(f"{prefix}_attrs"):
                storage.append(
                    attrs, f"{prefix}_attrs", partition_by=["_pb"],
                    meta={"batch_id": cid},
                )

            # 2. exact-digest pairs: batch vs stored corpus + within batch
            dpbs = [
                r[0] for r in attrs.select(F.col("_pb")).distinct().collect()
            ]
            stored = (
                storage.read(f"{prefix}_attrs")
                .filter(F.col("batch_id") != cid)
                .filter(F.col("_pb").isin(dpbs))
                .select("doc_id", "digest")
            )
            bd = attrs.select("doc_id", "digest")
            cross = (
                stored.alias("o")
                .join(bd.alias("n"), "digest")
                .select(
                    F.least(F.col("o.doc_id"), F.col("n.doc_id")).alias("doc_a"),
                    F.greatest(F.col("o.doc_id"), F.col("n.doc_id")).alias("doc_b"),
                )
                .filter(F.col("doc_a") != F.col("doc_b"))
            )
            within = (
                bd.alias("a")
                .join(bd.alias("b"), "digest")
                .filter(F.col("a.doc_id") < F.col("b.doc_id"))
                .select(
                    F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                )
            )
            exact_pairs = cross.unionByName(within).distinct()

            # 3. near-dup pairs vs the persisted MinHash index
            mh_pairs = incremental_minhash_pairs(
                storage, batch_df, prefix=prefix, n=n,
                num_hashes=num_hashes, bands=bands, threshold=threshold,
                text_col=text_col, batch_id=cid,
            )

            # 4. one label forest for BOTH dedup kinds. The folded edge
            # set is persisted FIRST (round 6): the forest alone cannot
            # answer a tombstone delete — removing a doc may or may not
            # split its cluster depending on which EDGES ran through it
            # — so deletes re-derive clusters from edges-minus-deleted
            # (read_document_status / compaction). The fold then
            # consumes the committed rows, so forest and table cannot
            # drift; a crash between the two re-delivers the batch,
            # no-ops the append, and re-folds the same rows.
            new_edges = exact_pairs.unionByName(
                mh_pairs.select("doc_a", "doc_b")
            )
            if not _present(f"{prefix}_pairs"):
                storage.append(
                    new_edges.withColumn("batch_id", F.lit(cid)),
                    f"{prefix}_pairs",
                    meta={"batch_id": cid},
                )
            incremental_dedup_clusters(
                storage,
                storage.read(f"{prefix}_pairs")
                .filter(F.col("batch_id") == cid)
                .select("doc_a", "doc_b"),
                table=f"{prefix}_labels",
            )

            # 5. semantic pairs vs the persisted embedding index —
            # pairs persist separately; clustering happens at read time
            # over current text-dedup survivors (see docstring)
            if embeddings_col is not None:
                from light_curve_spark.operators.similarity import (
                    incremental_embedding_pairs,
                )

                sem = incremental_embedding_pairs(
                    storage,
                    batch_df.select("doc_id", embeddings_col),
                    prefix=f"{prefix}_sem",
                    threshold=semantic_threshold,
                    n_planes=semantic_n_planes,
                    id_col="doc_id",
                    vec_col=embeddings_col,
                )
                if not _present(f"{prefix}_sem_pairs"):
                    storage.append(
                        sem.select(
                            F.col("id_a").alias("doc_a"),
                            F.col("id_b").alias("doc_b"),
                            "cosine",
                        ).withColumn("batch_id", F.lit(cid)),
                        f"{prefix}_sem_pairs",
                        meta={"batch_id": cid},
                    )

            # 6. contamination EVIDENCE: batch x eval gram matches;
            # decisions are read-time policy (see read_document_status).
            # ONLY the matches and the (fixed) eval-side gram df are
            # persisted — the train-side document frequency is derived
            # at read time from the matches of the CURRENT dedup
            # SURVIVORS, because the batch pipeline computes its max_df
            # prune over survivors, not the raw corpus: a gram kept by
            # the batch run (601 surviving carriers) must not be pruned
            # because the stream also counted its 900 dup-loser carriers
            # (round-5 review finding). Matches carry every arriving
            # doc's incidence precisely SO the read side can re-filter
            # as the survivor set changes retroactively.
            if eval_docs is not None:
                matches, _train_dfc, eval_dfc = cross_ngram_evidence(
                    batch_df, eval_docs, n=n, text_col=text_col
                )
                if not _present(f"{prefix}_contam_matches"):
                    storage.append(
                        matches.withColumn("batch_id", F.lit(cid)),
                        f"{prefix}_contam_matches",
                        meta={"batch_id": cid},
                    )
                if storage.exists(f"{prefix}_gramdf"):
                    # the stored eval snapshot must BE this run's eval
                    # corpus: matches appended against a different eval
                    # set would combine with stale eval-side dfs into
                    # decisions matching neither corpus (round-5 ADVICE)
                    metas = storage.snapshot_metas(f"{prefix}_gramdf")
                    stored_eval = metas[0].get("eval_id") if metas else None
                    if stored_eval is not None and stored_eval != eval_cid:
                        raise ValueError(
                            f"{prefix}_gramdf was written for a different "
                            f"eval corpus (stored {stored_eval!r}, this run "
                            f"{eval_cid!r}); contamination evidence cannot "
                            "mix eval sets — use a fresh prefix or rebuild"
                        )
                else:
                    # once ever: the eval corpus is pinned for the run
                    storage.append(
                        eval_dfc.withColumn("batch_id", F.lit("__eval__")),
                        f"{prefix}_gramdf",
                        meta={"batch_id": "__eval__", "eval_id": eval_cid},
                    )
            batch_df.unpersist()
        # maintenance cadence: outside the cache scope (no live cached
        # plans referencing snapshot files replace() will expire), after
        # this delivery's appends committed — the between-deliveries
        # window compaction requires
        delivered["n"] += 1
        if compact_every and delivered["n"] % compact_every == 0:
            from light_curve_spark.streaming.compact import compact_stream_state

            compact_stream_state(storage, prefix=prefix)

    reader = spark.readStream.schema(input_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    q = (
        reader.parquet(input_dir)
        .writeStream.trigger(availableNow=True)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(fold)
        .start()
    )
    q.awaitTermination()


def tombstone_documents(storage, doc_ids, prefix: str = "dpx") -> None:
    """Delete documents from the stream pipeline's corpus state — the
    right-to-be-forgotten posture (round 6). Appends the ids to
    ``{prefix}_tombstones``; from that moment every
    :func:`read_document_status` answer equals a batch-pipeline run
    over the corpus WITHOUT those docs (tested): the deleted docs
    vanish from status, their dup losers are RESTORED when no
    surviving edge still convicts them, and their contamination
    carriers stop counting toward gram document frequencies. Physical
    erasure happens at the next :func:`~light_curve_spark.streaming
    .compact.compact_stream_state` — attrs/index/pairs/evidence rows
    carrying a tombstoned id are dropped and the label forest is
    rebuilt from the surviving edges, after which reads take the
    fast (persisted-forest) path again. Only the tombstone ids
    themselves persist (an audit artifact, not document content).

    Deletion correctness needs the FULL edge history (``{prefix}_pairs``
    — a cluster may or may not split when a member leaves, depending on
    which edges ran through it), so a state written before the
    edge-persisting fold refuses tombstones instead of silently
    answering from an incomplete edge set."""
    from light_curve_spark.operators.dedup import _manifest_batch_ids

    if not storage.exists(f"{prefix}_attrs"):
        raise ValueError(
            f"no document-pipeline state under prefix {prefix!r} "
            f"({prefix}_attrs missing) — tombstones apply to "
            "run_stream_document_pipeline state"
        )
    attrs_ids = _manifest_batch_ids(storage, f"{prefix}_attrs")
    pairs_ids = (
        _manifest_batch_ids(storage, f"{prefix}_pairs")
        if storage.exists(f"{prefix}_pairs")
        else set()
    )
    if attrs_ids - pairs_ids:
        raise ValueError(
            f"{prefix} state predates per-delivery edge persistence "
            f"({prefix}_pairs does not cover every delivery): cluster "
            "membership after a delete cannot be re-derived — rebuild "
            "the state (or compact a fresh run) before tombstoning"
        )
    from light_curve_spark.operators.dedup import _tombstone_id_df

    # _tombstone_id_df handles DataFrame / long / string ids uniformly
    # (round-6 ADVICE low: the ad-hoc int(i) coercion here raised on
    # string doc ids while tombstone_minhash/tombstone_vectors accepted
    # them)
    storage.append(_tombstone_id_df(storage.spark, doc_ids), f"{prefix}_tombstones")


def read_document_status(
    storage,
    prefix: str = "dpx",
    min_quality: float = 0.0,
    allowed_langs: tuple[str, ...] = (),
    contamination_max_df: int = 1000,
    contamination_min_shared: int = 2,
) -> DataFrame:
    """Current per-doc status derived from the live corpus state:
    (doc_id, lang_pred, quality, ws_tokens, drop_stage) with drop_stage
    in {'dup', 'semantic', 'contamination', 'filters', NULL=kept}. Quality/language
    AND contamination thresholds are READ-time policy — reruns with
    different thresholds need no recompute; retroactive dedup
    revocation is automatic (the label forest is always current); and
    contamination is derived from the persisted gram evidence with df
    summed over EVERY arrived batch, so it equals the batch pipeline's
    union-corpus semantics regardless of arrival split (a gram that
    crossed ``contamination_max_df`` in a later batch retroactively
    revokes earlier matches through it)."""
    attrs = (
        storage.read(f"{prefix}_attrs")
        .select("doc_id", "lang_pred", "quality", "ws_tokens")
        .distinct()
    )
    tombs = None
    if storage.exists(f"{prefix}_tombstones"):
        t = storage.read(f"{prefix}_tombstones").select("doc_id").distinct()
        if t.limit(1).count() > 0:
            tombs = t
    if tombs is not None:
        attrs = attrs.join(F.broadcast(tombs), "doc_id", "left_anti")
    losers = None
    if storage.exists(f"{prefix}_labels"):
        forest = storage.read_snapshot(f"{prefix}_labels")
        # a tombstoned doc INSIDE a cluster invalidates the forest: the
        # remaining members may split (edges ran through the deleted
        # doc) or stay merged (direct edges) — only the persisted edge
        # set can say, so re-derive clusters from edges-minus-deleted.
        # Untouched forests (deleted docs were never clustered, or
        # compaction already erased + rebuilt) keep the fast path.
        affected = tombs is not None and (
            forest.join(F.broadcast(tombs), "doc_id", "left_semi")
            .limit(1)
            .count()
            > 0
        )
        if affected:
            from light_curve_spark.operators.dedup import dedup_clusters
            from light_curve_spark.plans.caching import cached

            edges = (
                storage.read(f"{prefix}_pairs")
                .select("doc_a", "doc_b")
                .distinct()
                .join(
                    F.broadcast(tombs.withColumnRenamed("doc_id", "doc_a")),
                    "doc_a",
                    "left_anti",
                )
                .join(
                    F.broadcast(tombs.withColumnRenamed("doc_id", "doc_b")),
                    "doc_b",
                    "left_anti",
                )
            )
            # SCOPED re-derivation (round 7, round-6 verdict item 6):
            # between a delete and the next compaction, only the
            # components that LOST a member can change (edges through
            # the deleted doc may have held them together), so star
            # contraction runs on just those components' edges and the
            # untouched components splice in verbatim from the persisted
            # forest. A component is dirty when (a) it contains a
            # tombstoned doc, or (b) some surviving edge is not
            # reflected by the forest (an endpoint missing, or endpoints
            # under different roots — the pairs-append/labels-fold crash
            # window; the previous full re-derivation absorbed those
            # silently, so the scoped one must too). Clean components
            # keep their exact edge set and vertex set — no surviving
            # edge can cross from a clean to a dirty component (it would
            # be inconsistent, which makes both sides dirty) — so their
            # membership and cluster-min keep_id re-derive to themselves
            # and need no recompute.
            fa = forest.select(
                F.col("doc_id").alias("doc_a"), F.col("keep_id").alias("_ra")
            )
            fb = forest.select(
                F.col("doc_id").alias("doc_b"), F.col("keep_id").alias("_rb")
            )
            annotated = cached(edges.join(fa, "doc_a", "left").join(fb, "doc_b", "left"))
            incons = F.col("_ra").isNull() | F.col("_rb").isNull() | (
                F.col("_ra") != F.col("_rb")
            )
            dirty_roots = (
                forest.join(F.broadcast(tombs), "doc_id", "left_semi")
                .select(F.col("keep_id").alias("_root"))
                .unionByName(
                    annotated.filter(incons).select(F.col("_ra").alias("_root"))
                )
                .unionByName(
                    annotated.filter(incons).select(F.col("_rb").alias("_root"))
                )
                .filter(F.col("_root").isNotNull())
                .distinct()
            )
            flagged = dirty_roots.withColumn("_isdirty", F.lit(True))
            dirty_edges = (
                annotated.join(
                    F.broadcast(flagged),
                    annotated["_ra"] == flagged["_root"],
                    "left",
                )
                .filter(incons | F.col("_isdirty"))
                .select("doc_a", "doc_b")
            )
            clean_losers = (
                forest.join(
                    F.broadcast(dirty_roots),
                    forest["keep_id"] == dirty_roots["_root"],
                    "left_anti",
                )
                .filter(F.col("doc_id") != F.col("keep_id"))
                .select("doc_id", F.lit("dup").alias("_dup"))
            )
            # bounded driver union-find (round 7): distributed star
            # contraction pays several fixed-cost rounds (checkpointed
            # Spark jobs) no matter how small the graph — at the 91k
            # stress the scoped-but-distributed re-derivation still
            # cost 15 s vs the 2.1 s fast path. The dirty subgraph
            # after a typical delete is tiny, so collect it (capped —
            # the limit bounds the driver's exposure like the other
            # deliberate collects in this codebase) and run the same
            # cluster-min union-find the scalar oracle defines;
            # components above the cap fall back to the distributed
            # contraction. Identical keep-min semantics either way.
            collected = dirty_edges.limit(_SCOPED_UNIONFIND_MAX + 1).collect()
            if len(collected) <= _SCOPED_UNIONFIND_MAX:
                parent: dict = {}

                def _find(x):
                    while parent[x] != x:
                        parent[x] = parent[parent[x]]
                        x = parent[x]
                    return x

                for r in collected:
                    a, b = r[0], r[1]
                    if a not in parent:
                        parent[a] = a
                    if b not in parent:
                        parent[b] = b
                    ra, rb = _find(a), _find(b)
                    if ra != rb:
                        # union by MIN root: the root of every tree stays
                        # the minimum of its elements, so find(v) is the
                        # cluster-min keep_id (the dedup_clusters rule)
                        lo, hi = (ra, rb) if ra < rb else (rb, ra)
                        parent[hi] = lo
                dirty_losers = [v for v in parent if _find(v) != v]
                if dirty_losers:
                    spark = storage.spark
                    id_type = forest.schema["doc_id"].dataType
                    ldf = spark.createDataFrame(
                        [(v,) for v in dirty_losers],
                        StructType([StructField("doc_id", id_type, False)]),
                    ).withColumn("_dup", F.lit("dup"))
                    losers = clean_losers.unionByName(ldf)
                else:
                    losers = clean_losers
            else:
                losers = clean_losers.unionByName(
                    dedup_clusters(dirty_edges)
                    .filter(F.col("doc_id") != F.col("keep_id"))
                    .select("doc_id", F.lit("dup").alias("_dup"))
                )
        else:
            losers = forest.filter(
                F.col("doc_id") != F.col("keep_id")
            ).select("doc_id", F.lit("dup").alias("_dup"))
    sem_losers = None
    if storage.exists(f"{prefix}_sem_pairs"):
        # batch-pipeline semantics: cluster semantic pairs among CURRENT
        # text-dedup survivors only, then drop non-minimum members. A
        # later-arriving text duplicate retroactively changes which
        # semantic pairs are live — recomputing here is what keeps the
        # stream equal to a batch rerun.
        from light_curve_spark.operators.dedup import dedup_clusters

        sp = (
            storage.read(f"{prefix}_sem_pairs")
            .select("doc_a", "doc_b")
            .distinct()
        )
        if tombs is not None:
            sp = sp.join(
                F.broadcast(tombs.withColumnRenamed("doc_id", "doc_a")),
                "doc_a",
                "left_anti",
            ).join(
                F.broadcast(tombs.withColumnRenamed("doc_id", "doc_b")),
                "doc_b",
                "left_anti",
            )
        if losers is not None:
            txt = losers.select("doc_id")
            sp = sp.join(
                txt.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_anti"
            ).join(
                txt.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_anti"
            )
        if sp.limit(1).count() > 0:
            sem_losers = (
                dedup_clusters(sp)
                .filter(F.col("doc_id") != F.col("keep_id"))
                .select("doc_id", F.lit("semantic").alias("_sem"))
            )
    contam = None
    if storage.exists(f"{prefix}_contam_matches") and storage.exists(
        f"{prefix}_gramdf"
    ):
        # reconstitute the batch pipeline's decision from the evidence.
        # The batch run computes contamination over the SURVIVORS of the
        # dedup stages, so (a) matches through currently-dropped train
        # docs are excluded, and (b) the train-side document frequency
        # is the count of SURVIVING carriers — both derived here from
        # the live matches, so a retroactive dedup revocation reflows
        # the contamination decision exactly as a batch rerun would.
        # (The exists() pair also closes the crash window between the
        # matches append and the first-batch gramdf append: until both
        # are durable, contamination conservatively reports nothing.)
        matches = (
            storage.read(f"{prefix}_contam_matches")
            .select("train_id", "eval_id", "gram")
            .distinct()  # crash-window re-deliveries collapse here
        )
        if tombs is not None:
            # deleted docs neither count as contaminated nor as gram
            # carriers (their df contribution disappears, exactly as a
            # batch run on the reduced corpus would see it)
            matches = matches.join(
                F.broadcast(tombs.withColumnRenamed("doc_id", "train_id")),
                "train_id",
                "left_anti",
            )
        dropped = []
        if losers is not None:
            dropped.append(losers.select("doc_id"))
        if sem_losers is not None:
            dropped.append(sem_losers.select("doc_id"))
        if dropped:
            gone = dropped[0]
            for d in dropped[1:]:
                gone = gone.unionByName(d)
            matches = matches.join(
                gone.withColumnRenamed("doc_id", "train_id"),
                "train_id",
                "left_anti",
            )
        train_df = (
            matches.select("train_id", "gram")
            .distinct()
            .groupBy("gram")
            .agg(F.count("*").alias("df"))
        )
        eval_df_tbl = (
            storage.read(f"{prefix}_gramdf")
            .filter(F.col("batch_id") == "__eval__")
            .select("gram", "df")
        )
        hot = (
            train_df.unionByName(eval_df_tbl)
            .groupBy("gram")
            .agg(F.sum("df").alias("df"))
            .filter(F.col("df") > contamination_max_df)
            .select("gram")
        )
        contam = (
            matches.join(hot, "gram", "left_anti")
            .groupBy("train_id", "eval_id")
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= contamination_min_shared)
            .select(F.col("train_id").alias("doc_id"))
            .distinct()
            .withColumn("_contam", F.lit("contamination"))
        )
    out = attrs
    out = out.join(losers, "doc_id", "left") if losers is not None else \
        out.withColumn("_dup", F.lit(None).cast("string"))
    out = out.join(sem_losers, "doc_id", "left") if sem_losers is not None \
        else out.withColumn("_sem", F.lit(None).cast("string"))
    out = out.join(contam, "doc_id", "left") if contam is not None else \
        out.withColumn("_contam", F.lit(None).cast("string"))
    bad = F.col("quality") < F.lit(min_quality)
    if allowed_langs:
        bad = bad | ~F.col("lang_pred").isin(*allowed_langs)
    stage = F.coalesce(
        F.col("_dup"),
        F.col("_sem"),
        F.col("_contam"),
        F.when(bad, F.lit("filters")),
    )
    return out.select(
        "doc_id", "lang_pred", "quality", "ws_tokens",
        stage.alias("drop_stage"),
    )
