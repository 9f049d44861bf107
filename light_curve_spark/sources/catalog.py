"""Table access: testdata parquet loaders and the snapshot-capable
storage layer.

Production target is Iceberg (``spark.read.format("iceberg")`` /
``df.writeTo(...).append()`` with ``VERSION AS OF`` for resume —
SURVEY.md §2.2). The sandbox has no Iceberg runtime jar, so the layer is
an interface with two implementations resolved at session build:

- :class:`IcebergStorage` — used when the Iceberg Spark extension classes
  load; snapshot ids are Iceberg snapshot ids. A REAL end-to-end test
  (append -> VERSION AS OF -> resume, tests/test_iceberg_real.py) runs
  whenever ``SPARK_GRAFT_ICEBERG_JAR`` points at a runtime jar; this
  offline container has none, so it auto-skips and the mocked contract
  test plus the parquet twin carry coverage here.
- :class:`ParquetSnapshotStorage` — parquet directories plus a JSON
  manifest (``_snapshots.json``) recording one immutable directory per
  snapshot; gives the same append/read-version/resume contract so pytest
  never needs the jar (SURVEY.md §7 phase 6).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import NamedTuple

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One testdata table (TESTDATA.md). Plain parquet scan — Catalyst
    handles pushdown/pruning from here."""
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TESTDATA_TABLES}


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark._jvm  # noqa: SLF001 — capability probe only
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def _fix_empty_partitioned_snapshot(
    df: DataFrame, out: str, partition_by: list[str] | None
) -> bool:
    """An EMPTY hive-partitioned write emits only ``_SUCCESS`` — no
    parquet file, no schema — so a parquet reader that infers the
    directory's schema raises UNABLE_TO_INFER_SCHEMA (round-6 ADVICE
    highs: an all-tombstoned incremental batch, or a compaction that
    erases every row); the storage itself reads with the recorded
    schema, but the directory stays self-describing for any reader. Detect
    the poison AFTER the write (zero extra Spark jobs on the non-empty
    path) and rewrite the snapshot NON-partitioned: the empty parquet
    file then carries the full schema with the partition columns as
    regular (all-null-capable, zero-row) columns, which unionByName
    merges cleanly with hive-partitioned sibling snapshots. Returns
    True when it rewrote the snapshot."""
    if not partition_by:
        return False
    try:
        entries = os.listdir(out)
    except OSError:
        return False
    # data present iff the write produced hive partition dirs (col=value
    # — note the engine's partition columns start with '_', e.g. _pb=3,
    # so "starts with underscore" does NOT mean metadata) or part files
    if any(
        ("=" in e) or e.endswith(".parquet")
        for e in entries
        if not e.startswith(".")
    ):
        return False
    shutil.rmtree(out)
    df.write.mode("error").parquet(out)
    return True


def _read_schema(df: DataFrame, partition_by: list[str] | None) -> StructType:
    """The schema the parquet reader sees in a snapshot written from
    ``df``: every column nullable, and for a hive-partitioned write the
    data columns first, then the ``partition_by`` columns in that order
    (with the df's own types, so a string partition value such as
    "007" stays a string)."""
    fields = {f.name: f for f in df.schema.toNullable().fields}
    part = partition_by or []
    data = [f for name, f in fields.items() if name not in part]
    return StructType([*data, *(fields[c] for c in part)])


def _write_snapshot(
    df: DataFrame,
    out: str,
    partition_by: list[str] | None,
    cluster_by: list[str] | None,
) -> dict:
    """Write ``df`` as the snapshot directory ``out``; returns the
    ``schema`` field of its manifest entry (the read schema as
    ``StructType`` JSON)."""
    if cluster_by:
        keys = [*(partition_by or []), *cluster_by]
        df = df.repartitionByRange(*keys).sortWithinPartitions(*keys)
    writer = df.write.mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(out)
    if _fix_empty_partitioned_snapshot(df, out, partition_by):
        partition_by = None
    return json.loads(_read_schema(df, partition_by).json())


class AppendItem(NamedTuple):
    """One snapshot of an ``append_many`` call: the arguments of
    ``append``."""

    df: DataFrame
    table: str
    partition_by: list[str] | None = None
    cluster_by: list[str] | None = None
    meta: dict | None = None


def _check_distinct_tables(items: list[AppendItem]) -> None:
    tables = [it.table for it in items]
    if len(set(tables)) != len(tables):
        raise ValueError(f"append_many takes each table at most once, got {tables}")


def _entry(snap_id: str, out: str, schema: dict, meta: dict | None) -> dict:
    entry = {"id": snap_id, "committed_at": time.time(), "path": out, "schema": schema}
    if meta:
        entry["meta"] = meta
    return entry


class ParquetSnapshotStorage:
    """Append-only snapshot storage over plain parquet.

    Layout: ``<root>/<table>/snap-<id>/part-*.parquet`` plus
    ``<root>/<table>/_snapshots.json`` listing snapshot ids in commit
    order, each with the read schema its writer recorded. Reading a
    table unions all snapshot dirs up to the pinned id — the same
    semantics as Iceberg time travel, minus file-level deletes (the
    engine only appends). Readers never infer a schema: a snapshot is
    opened with the recorded one, so a string partition value keeps its
    type and opening a table runs no Spark job. Every append goes
    through :meth:`append_many`, which writes its snapshots as concurrent
    Spark jobs and commits their manifests only once every write has
    succeeded.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_snapshots.json")

    def snapshots(self, table: str) -> list[dict]:
        path = self._manifest_path(table)
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return json.load(f)

    def exists(self, table: str) -> bool:
        """True once the table has at least one committed snapshot."""
        return bool(self.snapshots(table))

    def current_snapshot(self, table: str) -> str | None:
        snaps = self.snapshots(table)
        return snaps[-1]["id"] if snaps else None

    def append(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        meta: dict | None = None,
    ) -> str:
        """Append df as a new snapshot; returns the snapshot id.

        ``partition_by`` mirrors Iceberg partition specs (SURVEY.md §4.3:
        rollup tables by (tier, source), chunk table by source) so reads
        get partition pruning and writes need no extra shuffle.

        ``cluster_by`` adds the second skipping axis WITHIN partitions
        (round 5): one range shuffle on (partition cols + cluster cols)
        plus a within-task sort, so each partition directory's files
        carry near-disjoint footer min/max ranges over the cluster
        columns — a reader filtering on them prunes row groups the
        partition filter alone cannot (same discipline as
        :func:`light_curve_spark.sources.layout.write_clustered`; feeds
        an Iceberg sort-order spec verbatim on a real warehouse).

        ``meta`` (round 6) attaches small JSON-able key/values to the
        snapshot manifest entry — the Iceberg snapshot-summary analogue.
        The incremental operators stamp each append with its content
        batch id (and the index hash-family config), so idempotency
        probes become an O(#snapshots) manifest read instead of a
        full-index Spark scan per delivery (round-5 ADVICE: the probe
        jobs grew with index size on every arriving batch)."""
        return self.append_many([AppendItem(df, table, partition_by, cluster_by, meta)])[0]

    def append_many(self, items: list[AppendItem]) -> list[str]:
        """Append each item as a new snapshot of its table, all or
        nothing; returns the snapshot ids in item order.

        The writes run as concurrent Spark jobs: the first in the calling
        thread, every other one in a ``pyspark.InheritableThread``, so
        the caller's job group and local properties reach each write.
        Their planning, small tasks and file commits overlap on the
        executor slots instead of running one after another. Once every
        write has finished, the manifests are committed in the calling
        thread, in item order. If any write raised, the directories of
        all the writes are removed (best effort), no manifest changes,
        and the first error in item order is re-raised. A table may
        appear at most once per call.

        A process that dies between two manifest commits leaves the
        earlier tables committed: callers that resume stamp each item's
        ``meta`` and skip what is already stamped."""
        _check_distinct_tables(items)
        ids = [uuid.uuid4().hex[:16] for _ in items]
        outs = [os.path.join(self.root, it.table, f"snap-{i}") for it, i in zip(items, ids)]
        schemas: list[dict | None] = [None] * len(items)
        errors: list[Exception | None] = [None] * len(items)

        def write(k: int) -> None:
            it = items[k]
            try:
                schemas[k] = _write_snapshot(it.df, outs[k], it.partition_by, it.cluster_by)
            except Exception as exc:  # noqa: BLE001 — re-raised below, after the join
                errors[k] = exc

        threads = [InheritableThread(target=write, args=(k,)) for k in range(1, len(items))]
        for t in threads:
            t.start()
        write(0)
        for t in threads:
            t.join()
        failed = next((e for e in errors if e is not None), None)
        if failed is not None:
            for out in outs:
                shutil.rmtree(out, ignore_errors=True)
            raise failed
        for it, snap_id, out, schema in zip(items, ids, outs, schemas):
            snaps = self.snapshots(it.table)
            snaps.append(_entry(snap_id, out, schema, it.meta))
            self._commit_manifest(it.table, snaps, snap_id)
        return ids

    def _commit_manifest(self, table: str, snaps: list[dict], snap_id: str) -> None:
        os.makedirs(os.path.join(self.root, table), exist_ok=True)
        # the manifest rewrite IS the commit point: write-temp + atomic
        # rename so a crash mid-commit leaves either the old manifest
        # (snapshot dir orphaned and invisible) or the new one — never a
        # truncated file
        manifest = self._manifest_path(table)
        tmp = f"{manifest}.tmp-{snap_id}"
        with open(tmp, "w") as f:
            json.dump(snaps, f)
        os.replace(tmp, manifest)

    def snapshot_metas(self, table: str) -> list[dict] | None:
        """The per-snapshot ``meta`` dicts in commit order, or ``None``
        if ANY committed snapshot lacks one (written out of band — the
        batch-id probe then refuses the table). All-or-nothing on
        purpose: a partial meta list would let an idempotency probe miss
        an unstamped batch and double-fold it."""
        snaps = self.snapshots(table)
        metas = [s.get("meta") for s in snaps]
        if any(m is None for m in metas):
            return None
        return metas

    def replace(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        meta: dict | None = None,
    ) -> str:
        """Rewrite the table as ONE snapshot holding ``df`` — the
        compaction commit (Iceberg ``rewrite_data_files`` analogue).
        The new snapshot is written first, then the manifest atomically
        becomes ``[new]``; superseded snapshot dirs are deleted after the
        commit (best-effort — a crash mid-delete orphans directories the
        manifest no longer references, never corrupts the table). Prior
        snapshot ids stop being readable, exactly like an expired
        Iceberg snapshot after ``expire_snapshots``; callers that need
        the folded history (e.g. the batch ids every compacted delivery
        carried) pass it forward in ``meta``."""
        snap_id = uuid.uuid4().hex[:16]
        out = os.path.join(self.root, table, f"snap-{snap_id}")
        schema = _write_snapshot(df, out, partition_by, cluster_by)
        old = self.snapshots(table)
        self._commit_manifest(table, [_entry(snap_id, out, schema, meta)], snap_id)
        for s in old:
            try:
                shutil.rmtree(s["path"])
            except OSError:
                pass  # orphaned dir, invisible to readers
        return snap_id

    def read(self, table: str, as_of: str | None = None) -> DataFrame:
        """Read the table, optionally pinned at a snapshot id
        (``VERSION AS OF`` equivalent)."""
        snaps = self.snapshots(table)
        if as_of is not None:
            upto = [s for i, s in enumerate(snaps) if i <= _index_of(snaps, as_of)]
        else:
            upto = snaps
        if not upto:
            raise ValueError(f"table {table} has no snapshots")
        # one read per snapshot root: each root may carry hive-style
        # partition dirs (tier=X/source=Y), and Spark's partition
        # discovery rejects multiple such roots in a single read
        dfs = [self._open(table, s) for s in upto]
        out = dfs[0]
        for df in dfs[1:]:
            out = out.unionByName(df)
        return out

    def read_snapshot(self, table: str, snap_id: str | None = None) -> DataFrame:
        """Read EXACTLY one snapshot (default: latest) — for tables with
        replace-on-write semantics (e.g. the continuous rollup, where
        each snapshot holds the full merged state)."""
        snaps = self.snapshots(table)
        if not snaps:
            raise ValueError(f"table {table} has no snapshots")
        snap = snaps[-1] if snap_id is None else snaps[_index_of(snaps, snap_id)]
        return self._open(table, snap)

    def _open(self, table: str, snap: dict) -> DataFrame:
        """One snapshot directory, read with the schema its manifest
        entry recorded: no schema inference, so opening a table runs no
        Spark job. An entry without a schema was not written by this
        layer and is refused."""
        if "schema" not in snap:
            raise ValueError(
                f"table {table} snapshot {snap['id']} records no read schema"
            )
        schema = StructType.fromJson(snap["schema"])
        return self.spark.read.schema(schema).parquet(snap["path"])


def _index_of(snaps: list[dict], snap_id: str) -> int:
    for i, s in enumerate(snaps):
        if s["id"] == snap_id:
            return i
    raise ValueError(f"unknown snapshot {snap_id}")


class IcebergStorage:
    """Iceberg-backed storage (used when the runtime jar is present)."""

    def __init__(self, spark: SparkSession, catalog: str = "spark_catalog"):
        self.spark = spark
        self.catalog = catalog

    def exists(self, table: str) -> bool:
        """Catalog probe — the backend-appropriate existence check
        (``read`` on a missing Iceberg table raises AnalysisException,
        not ValueError, so callers must never probe by catching)."""
        return self.spark.catalog.tableExists(table)

    def append(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        meta: dict | None = None,
    ) -> str:
        # Iceberg partitioning lives in the table spec (PARTITIONED BY at
        # CREATE TABLE) and clustering in its sort-order spec; the
        # arguments are accepted for interface parity, and cluster_by is
        # honored by pre-sorting the write (same file-level effect).
        # ``meta`` maps onto Iceberg snapshot-summary properties
        # (write option ``snapshot-property.<key>``) — the public API for
        # stamping a commit, readable back from ``{table}.snapshots``.
        if cluster_by:
            keys = [*(partition_by or []), *cluster_by]
            df = df.repartitionByRange(*keys).sortWithinPartitions(*keys)
        # First write auto-creates the table (writeTo().append() fails on
        # an uncreated table) — same append-from-nothing contract as the
        # parquet twin.
        writer = df.writeTo(table)
        for k, v in (meta or {}).items():
            writer = writer.option(f"snapshot-property.{k}", json.dumps(v))
        if not self.exists(table):
            writer.create()
        else:
            writer.append()
        row = self.spark.sql(
            f"SELECT snapshot_id FROM {table}.snapshots ORDER BY committed_at DESC LIMIT 1"
        ).head()
        return str(row[0])

    def append_many(self, items: list[AppendItem]) -> list[str]:
        """The items appended one after another, each its own Iceberg
        commit: unlike the parquet twin, neither concurrent nor all or
        nothing. Never run by the test suite, which has no Iceberg
        runtime jar."""
        _check_distinct_tables(items)
        return [self.append(*it) for it in items]

    def snapshot_metas(self, table: str) -> list[dict] | None:
        """Snapshot metas from the Iceberg snapshot summaries (keys this
        layer wrote as ``snapshot-property.*``); ``None`` when any
        snapshot carries no such keys (written outside this layer)."""
        rows = self.spark.sql(
            f"SELECT summary FROM {table}.snapshots ORDER BY committed_at"
        ).collect()
        metas: list[dict] = []
        ours = None
        for r in rows:
            summary = dict(r[0] or {})
            m = {}
            for k, v in summary.items():
                try:
                    m[k] = json.loads(v)
                except (TypeError, ValueError):
                    m[k] = v
            # Iceberg injects operational keys (added-files etc.) into
            # every summary; a snapshot is "ours" iff it carries the
            # batch stamp this layer writes
            ours = m if ("batch_id" in m or "batch_ids" in m or "eval_id" in m) else None
            if ours is None:
                return None
            metas.append(ours)
        return metas

    def replace(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        meta: dict | None = None,
    ) -> str:
        """Compaction commit: the table becomes exactly ``df`` in one
        atomic Iceberg replace."""
        if cluster_by:
            keys = [*(partition_by or []), *cluster_by]
            df = df.repartitionByRange(*keys).sortWithinPartitions(*keys)
        writer = df.writeTo(table)
        for k, v in (meta or {}).items():
            writer = writer.option(f"snapshot-property.{k}", json.dumps(v))
        writer.createOrReplace()
        row = self.spark.sql(
            f"SELECT snapshot_id FROM {table}.snapshots ORDER BY committed_at DESC LIMIT 1"
        ).head()
        return str(row[0])

    def current_snapshot(self, table: str) -> str | None:
        rows = self.spark.sql(
            f"SELECT snapshot_id FROM {table}.snapshots ORDER BY committed_at DESC LIMIT 1"
        ).collect()
        return str(rows[0][0]) if rows else None

    def read(self, table: str, as_of: str | None = None) -> DataFrame:
        if as_of is None:
            return self.spark.read.format("iceberg").load(table)
        return self.spark.read.format("iceberg").option("snapshot-id", as_of).load(table)


def get_storage(spark: SparkSession, root: str):
    """Resolve the storage backend for this session (Iceberg if loadable,
    else parquet+manifest)."""
    if iceberg_available(spark):
        return IcebergStorage(spark)
    return ParquetSnapshotStorage(spark, root)
