"""Fold-to-snapshot compaction for the append-only state of the stream
document pipeline and the incremental indexes (round-5 verdict item 1).

Every delivery of :func:`~light_curve_spark.streaming.documents.
run_stream_document_pipeline` appends one snapshot per touched table —
``_index`` / ``_labels`` / ``_pairs*`` / ``_attrs`` /
``_contam_matches`` / ``_gramdf`` — forever. Each table's
CONTENT is footprint-bounded (eval-bounded evidence, one row per doc),
but the READ cost grows with delivery count: ``read_document_status``
unions every snapshot directory and ``.distinct()``s the full history on
each call, and each delivery's fold joins an index spread over hundreds
of small files. After 10^4 deliveries the history tax dominates.

:func:`compact_stream_state` rewrites each table as ONE snapshot with
the read-side normalization (``distinct``) pre-applied — the Iceberg
``rewrite_data_files`` + ``expire_snapshots`` analogue. Correctness
invariants the compaction must (and does — pytest-gated) preserve:

- **Idempotency probes survive.** Re-delivered batches are detected via
  the batch ids recorded per snapshot; the compacted snapshot carries
  the UNION of all folded batch ids in its manifest meta
  (``batch_ids``), so a crash-window re-delivery after compaction is
  still a no-op. A table with an unstamped snapshot raises instead of
  being compacted.
- **Index layout and config survive.** Partitioned tables are rewritten
  with the same hive partition key (``_pb``), and the hash-family
  config stamped by the incremental operators is carried onto the
  compacted snapshot, so the post-compaction config guards keep
  working.
- **Replace-on-write tables truncate, not merge.** ``_labels`` history
  is superseded by its latest snapshot by construction; compaction
  keeps exactly that snapshot.

``read_document_status`` over compacted state equals the uncompacted
reading, including after FURTHER deliveries land on the compacted tables
(tested at stress scale; BENCH.md records the read-wall and storage
savings)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _carry_config(storage, table: str) -> dict:
    """Config keys (everything except the batch stamps) of the table's
    first snapshot meta — carried verbatim onto the compacted snapshot
    so the config guards keep validating after compaction."""
    return {
        k: v
        for k, v in storage.snapshot_metas(table)[0].items()
        if k not in ("batch_id", "batch_ids", "compacted")
    }


def compact_stream_state(storage, prefix: str = "dpx") -> dict:
    """Compact every persisted table of a stream document pipeline run
    (or of a standalone incremental MinHash/embedding index) under
    ``prefix`` into one snapshot each. Safe to run between deliveries at
    any time; returns ``{table: {"snapshots_before": n, "rows": m}}``
    for the tables that existed. NOT safe concurrently with an in-flight
    delivery writing the same prefix (the replace would race the
    append) — run it where a real deployment would: between
    ``availableNow`` drains.

    Tombstoned documents (:func:`~light_curve_spark.streaming.documents
    .tombstone_documents`) are PHYSICALLY ERASED here: every row of an
    append-only table carrying a tombstoned id (attrs/index rows by
    ``doc_id``/``_id``, pair tables by either endpoint, contamination
    matches by ``train_id``) is dropped from the compacted snapshot,
    and the label forest is rebuilt from the surviving edges — the
    GDPR-style completion of the read-time delete. Afterwards
    :func:`read_document_status` finds no tombstoned id in the forest
    and returns to the fast persisted-forest path; only the tombstone
    id list itself persists (audit metadata, not document content)."""
    from light_curve_spark.operators.dedup import _manifest_batch_ids

    stats: dict[str, dict] = {}

    tomb_table = f"{prefix}_tombstones"
    tombs = None
    if storage.exists(tomb_table):
        t = storage.read(tomb_table).select("doc_id").distinct()
        # pin the id set before any replace() below expires the
        # snapshot files a lazy plan would re-read
        t = t.localCheckpoint(eager=True)
        if t.limit(1).count() > 0:
            tombs = t

    def _erase(df: DataFrame) -> DataFrame:
        """Drop rows carrying a tombstoned id, matching on whichever id
        columns the table has."""
        if tombs is None:
            return df
        cols = [
            c
            for c in ("doc_id", "_id", "train_id", "doc_a", "doc_b")
            if c in df.columns
        ]
        for c in cols:
            df = df.join(
                F.broadcast(tombs.withColumnRenamed("doc_id", c)),
                c,
                "left_anti",
            )
        return df

    # append-only tables: distinct full rows, batch ids to meta
    for suffix in (
        "_attrs",
        "_index",
        "_sem_index",
        "_pairs",
        "_sem_pairs",
        "_contam_matches",
        "_gramdf",
    ):
        table = f"{prefix}{suffix}"
        if not storage.exists(table):
            continue
        n_snaps = len(storage.snapshots(table))
        batch_ids = sorted(_manifest_batch_ids(storage, table))
        config = _carry_config(storage, table)
        df = storage.read(table)
        # distinct pre-applies the read-side crash-window normalization
        # (identical re-delivered rows collapse once, here, instead of
        # on every read)
        df = _erase(df).distinct()
        part = ["_pb"] if "_pb" in df.columns else None
        n_rows = df.count()
        storage.replace(
            df,
            table,
            partition_by=part,
            meta={"batch_ids": batch_ids, "compacted": True, **config},
        )
        stats[table] = {"snapshots_before": n_snaps, "rows": n_rows}

    # replace-on-write tables: the latest snapshot IS the state
    for suffix in ("_labels",):
        table = f"{prefix}{suffix}"
        if not storage.exists(table):
            continue
        n_snaps = len(storage.snapshots(table))
        df = storage.read_snapshot(table)
        if (
            tombs is not None
            and df.join(F.broadcast(tombs), "doc_id", "left_semi")
            .limit(1)
            .count()
            > 0
        ):
            # a deleted doc sat inside a cluster: the forest cannot say
            # whether the survivors split, so rebuild it from the
            # (already erased) edge table — same derivation the
            # tombstone-aware read uses
            from light_curve_spark.operators.dedup import dedup_clusters

            pairs_table = f"{prefix}_pairs"
            if not storage.exists(pairs_table):
                raise ValueError(
                    f"{table} contains tombstoned docs but {pairs_table} "
                    "is missing: the post-delete forest cannot be "
                    "re-derived (tombstone_documents guards this at "
                    "write time — this state was mutated out of band)"
                )
            edges = (
                storage.read(pairs_table).select("doc_a", "doc_b").distinct()
            )
            if edges.limit(1).count() > 0:
                df = dedup_clusters(edges)
            else:
                df = storage.spark.createDataFrame(
                    [], "doc_id long, keep_id long"
                )
        n_rows = df.count()
        storage.replace(df, table, meta={"batch_ids": [], "compacted": True})
        stats[table] = {"snapshots_before": n_snaps, "rows": n_rows}

    # the tombstone ids themselves fold to one snapshot and PERSIST
    # (erasure audit trail; ids are metadata, not document content)
    if storage.exists(tomb_table):
        n_snaps = len(storage.snapshots(tomb_table))
        tdf = storage.read(tomb_table).select("doc_id").distinct()
        n_rows = tdf.count()
        storage.replace(
            tdf, tomb_table, meta={"batch_ids": [], "compacted": True}
        )
        stats[tomb_table] = {"snapshots_before": n_snaps, "rows": n_rows}
    return stats


def materialize_document_status(
    storage,
    prefix: str = "dpx",
    min_quality: float = 0.0,
    allowed_langs: tuple[str, ...] = (),
    contamination_max_df: int = 1000,
    contamination_min_shared: int = 2,
) -> DataFrame:
    """Materialize :func:`~light_curve_spark.streaming.documents.
    read_document_status` into a replace-on-write ``{prefix}_status``
    table — the serving view for consumers that read status far more
    often than deliveries land. The policy knobs are recorded in the
    snapshot meta, so a reader can tell which thresholds the snapshot
    was computed under (status stays a READ-time policy; re-materialize
    after new deliveries or policy changes). Returns the materialized
    snapshot's DataFrame."""
    from light_curve_spark.streaming.documents import read_document_status

    status = read_document_status(
        storage,
        prefix=prefix,
        min_quality=min_quality,
        allowed_langs=allowed_langs,
        contamination_max_df=contamination_max_df,
        contamination_min_shared=contamination_min_shared,
    )
    table = f"{prefix}_status"
    storage.replace(
        status,
        table,
        meta={
            "batch_ids": [],
            "compacted": True,
            "policy": {
                "min_quality": min_quality,
                "allowed_langs": list(allowed_langs),
                "contamination_max_df": contamination_max_df,
                "contamination_min_shared": contamination_min_shared,
            },
        },
    )
    return storage.read_snapshot(table)
